"""Reference answers, computed without Spark from the canonical edge list.

TC: DuckDB's id-oriented 3-way join. PageRank, connected components and
label propagation: numpy, with the engine's documented semantics (PageRank
on the symmetrized graph from 1/n; CC label = smallest vertex id in the
component; LP = synchronous rounds of argmax neighbour label by count
desc, label asc, from the identity labeling).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DAMPING = 0.85


def triangles(edges: np.ndarray, threads: int) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        e = pd.DataFrame({"src": edges[:, 0], "dst": edges[:, 1]})  # noqa: F841
        return int(
            con.execute(
                "SELECT count(*) FROM e e1 JOIN e e2 ON e1.dst = e2.src "
                "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"
            ).fetchone()[0]
        )
    finally:
        con.close()


class Graph:
    """Dense-index view of a canonical edge list."""

    def __init__(self, edges: np.ndarray):
        self.ids, inv = np.unique(edges, return_inverse=True)
        inv = inv.reshape(edges.shape)
        self.n = len(self.ids)
        self.src = np.concatenate([inv[:, 0], inv[:, 1]])
        self.dst = np.concatenate([inv[:, 1], inv[:, 0]])

    def frame(self, values: np.ndarray, name: str) -> pd.DataFrame:
        return pd.DataFrame({"vertex": self.ids, name: values})


def pagerank(g: Graph, n_iterations: int) -> pd.DataFrame:
    out_deg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    rank = np.full(g.n, 1.0 / g.n)
    for _ in range(n_iterations):
        contrib = rank[g.src] / out_deg[g.src]
        rank = (1.0 - DAMPING) / g.n + DAMPING * np.bincount(g.dst, contrib, minlength=g.n)
    return g.frame(rank, "rank")


def components(g: Graph) -> pd.DataFrame:
    label = np.arange(g.n)
    while True:
        new = label.copy()
        np.minimum.at(new, g.dst, label[g.src])
        while True:  # pointer jumping to the fixpoint
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            break
        label = new
    return g.frame(g.ids[label], "component")


def label_propagation(g: Graph, n_iterations: int) -> pd.DataFrame:
    label = np.arange(g.n)
    for _ in range(n_iterations):
        nbr = label[g.src]
        # count (vertex, label) pairs, then take per vertex the highest
        # count, ties to the smallest label
        key = g.dst.astype(np.int64) * g.n + nbr
        uniq, cnt = np.unique(key, return_counts=True)
        v, lab = uniq // g.n, uniq % g.n
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.r_[True, v[1:] != v[:-1]]
        label = np.empty(g.n, dtype=np.int64)
        label[v[first]] = lab[first]
    return g.frame(g.ids[label], "label")


def same_frame(got: pd.DataFrame, want: pd.DataFrame, col: str, atol: float | None = None) -> bool:
    """Vertex-keyed equality (exact, or allclose with rtol 1e-6 + atol)."""
    got = got.sort_values("vertex").reset_index(drop=True)
    if len(got) != len(want) or not np.array_equal(got["vertex"].to_numpy(), want["vertex"].to_numpy()):
        return False
    a, b = got[col].to_numpy(), want[col].to_numpy()
    if atol is None:
        return bool(np.array_equal(a, b))
    return bool(np.allclose(a, b, rtol=1e-6, atol=atol))
