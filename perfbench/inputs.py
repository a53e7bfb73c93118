"""Seeded raw inputs for the benchmark workloads.

Each function writes its raw input under `data_dir` and returns the parquet
paths the engine loads, plus the canonical edge list the reference
answers are computed from. The engine only ever sees the parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def canonical_pairs(pairs: np.ndarray) -> np.ndarray:
    """Drop loops, orient src < dst, dedup: the numpy twin of
    `prep.canonicalize_edges`."""
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    lo = np.minimum(pairs[:, 0], pairs[:, 1])
    hi = np.maximum(pairs[:, 0], pairs[:, 1])
    return np.unique(np.stack([lo, hi], axis=1), axis=0)


def zipf_hub(spark, data_dir: str, seed: int, n_vertices: int, n_edges: int) -> dict:
    """`synthetic.zipf_edges_distributed(s=0.5)` edges seeded by `seed`,
    plus a planted mega-hub: vertex 0 adjacent to every 4th vertex."""
    from accelerating_tc_spark.sources import synthetic

    path = os.path.join(data_dir, "zipf")
    os.makedirs(path, exist_ok=True)
    zipf = synthetic.zipf_edges_distributed(spark, n_vertices, n_edges, seed=seed, s=0.5)
    zipf.write.mode("overwrite").parquet(os.path.join(path, "zipf.parquet"))
    spokes = np.arange(1, n_vertices, 4, dtype=np.int64)
    hub = pa.table({"src": np.zeros_like(spokes), "dst": spokes})
    pq.write_table(hub, os.path.join(path, "hub.parquet"))
    raw = pq.read_table(os.path.join(path, "zipf.parquet"), columns=["src", "dst"])
    pairs = np.concatenate(
        [
            np.stack([raw.column(0).to_numpy(), raw.column(1).to_numpy()], axis=1),
            np.stack([hub.column(0).to_numpy(), hub.column(1).to_numpy()], axis=1),
        ]
    )
    return {"paths": [os.path.join(path, f) for f in ("zipf.parquet", "hub.parquet")],
            "edges": canonical_pairs(pairs)}


def crawl(
    data_dir: str, seed: int, n_sites: int, pages_per_site: int = 10, n_portals: int = 5
) -> dict:
    """Seeded web corpus (url, warc_ts, html, text, lang).

    Page layout and link rules of `pages.generate_pages_distributed`: every
    page links to the next page of its site twice, to the site root, to
    one cross-site page, to a fragment and to itself; about 30% of pages
    carry a `../` link. Unlike there, the cross-site link goes to one of
    the first `n_portals` sites rather than to the next site, so every
    seed's graph has the same shallow depth and connected components
    takes the same number of rounds. The seed picks the `../` pages and
    targets and the cross-site target (portal and page). Returns the page
    table path and the canonical dense-id edge list the pipeline must
    produce (id = rank of the url)."""
    rng = np.random.default_rng(seed)
    n = n_sites * pages_per_site
    site = np.repeat(np.arange(n_sites), pages_per_site)
    page = np.tile(np.arange(pages_per_site), n_sites)
    nxt = (page + 1) % pages_per_site
    cross_site = rng.integers(0, n_portals, n)
    cross_page = rng.integers(0, pages_per_site, n)
    has_rel = rng.random(n) < 0.3
    rel_page = rng.integers(0, pages_per_site, n)

    urls = np.array([f"http://site{s}.example/p{p}" for s, p in zip(site, page)], dtype=object)
    html = [
        (
            f"<html><head><title>Site {s} page {p}</title>"
            f"<script>var x = {p};</script></head><body>"
            f"<h1>Page {p} of site {s}</h1>"
            f'<a href="/p{q}">next</a><a href="/p{q}">next again</a>'
            '<a href="/p0">root</a>'
            f'<a href="http://site{cs}.example/p{cp}">cross</a>'
            '<a href="#frag">frag</a>'
            f'<a href="p{p}">self</a>'
            + (f'<a href="../p{r}">rand</a>' if h else "")
            + f"<p>Lorem ipsum &amp; dolor {s}-{p}.</p></body></html>"
        ).encode()
        for s, p, q, cs, cp, h, r in zip(
            site, page, nxt, cross_site, cross_page, has_rel, rel_page
        )
    ]
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(np.full(n, np.datetime64("2026-01-01T00:00:00", "us"))),
            "html": pa.array(html, pa.binary()),
            "text": pa.nulls(n, pa.string()),
            "lang": pa.array(np.full(n, "en", dtype=object), pa.string()),
        }
    )
    path = os.path.join(data_dir, "pages.parquet")
    pq.write_table(table, path)

    # expected links between page indices (site * pages_per_site + page)
    me = np.arange(n)
    base = site * pages_per_site
    links = np.concatenate(
        [
            np.stack([me, base + nxt], axis=1),
            np.stack([me, base], axis=1),
            np.stack([me, cross_site * pages_per_site + cross_page], axis=1),
            np.stack([me[has_rel], (base + rel_page)[has_rel]], axis=1),
        ]
    )
    # the pipeline's vertex id is the rank of the url among all urls
    rank = np.empty(n, dtype=np.int64)
    rank[np.argsort(urls.astype(str), kind="stable")] = np.arange(n)
    return {"path": path, "n_pages": n, "edges": canonical_pairs(rank[links])}
