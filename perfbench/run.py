"""Benchmark of the link-graph engine on seeded workloads.

    python3 perfbench/run.py --workload zipf-hub-200k --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

One run makes its inputs from the seed, computes the reference answers
outside every timed window, starts one Spark session, builds the input
several times (`setup_s` counts the median build), makes one cold pass,
then warm passes for `--seconds` and reports the CPU seconds of the cold
pass and the median of the warm ones, summed over the driver, the JVM
and the Python workers. Wall times go to stderr and to the traced run:
on a shared machine the hypervisor's steal moves a pass's wall time by
more than the bounds allow, its CPU time far less. Every engine
call is checked against the reference; a raise or a wrong answer counts
as a failed op. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics folded from Spark's event log (see layertrace.py).
The last line of stdout is one JSON object: correct, attempted, failed,
metrics.

`--workload all` runs every workload untraced and then traced, each in
its own process, and prints every metric as `<workload>.<metric>` plus the
tracing overhead per workload. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = os.cpu_count() or 4

# Broadcast-route gates (MiB), set for every workload through the engine's
# own knobs: its 64 MiB defaults scaled down with the graphs, so that
# webcrawl stays below both gates (broadcast-CSR TC, broadcast vertex
# state) and zipf-hub lies above both (cogroup TC, shuffled CC and LP).
# TC broadcasts while 16*|E| bytes fit, CC/LP state while 32*|E| fit.
GATE_MB = 2

WORKLOADS = {
    "webcrawl-2500": {"n_sites": 250},
    "zipf-hub-200k": {"n_vertices": 20_000, "n_edges": 200_000},
}
SETUPS = 3  # input builds per run; setup_s counts their median
PR_ITERATIONS, LP_ITERATIONS = 10, 5


def _unit(metric: str) -> str:
    name = metric.rsplit(".", 1)[-1]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name == "span_cover" else "count"


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, run_dir: str):
        from layertrace import Tracer

        self.spec = WORKLOADS[workload]
        self.crawl = workload.startswith("webcrawl")
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.log_dir = os.path.join(run_dir, "eventlog")
        for d in (self.data_dir, self.log_dir):
            os.makedirs(d, exist_ok=True)
        self.tracer = Tracer()
        self.spark = None
        self.app_ids: list[str] = []
        self.attempted = self.failed = 0
        self.pending: list[tuple[str, object, object]] = []
        self.passes: list[float] = []  # pass walls; the first is cold
        self.pass_cpu: list[float] = []  # CPU seconds of the process tree per pass
        self.covers: list[float] = []  # share of each pass inside spans

    # ------------------------------------------------------------ plumbing

    def op(self, name: str, layer: str, fn, check=None):
        """One engine call inside a layer span. Its check runs later, in
        `settle`, outside every timed window."""
        self.attempted += 1
        try:
            with self.tracer.span(layer, name) as span:
                out = fn(span)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            print(f"perfbench: op {name} raised", file=sys.stderr)
            return None
        if check is not None:
            self.pending.append((name, out, check))
        return out

    def settle(self) -> None:
        for name, out, check in self.pending:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.failed += 1
                print(f"perfbench: op {name} does not match the reference", file=sys.stderr)
        self.pending.clear()

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        from accelerating_tc_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.memory": "3g",
            # The engine's 45 s periodic full GC fires once per run, inside or
            # outside the warm pass depending on when the session came up,
            # and moves that pass's CPU time by about 3 s. A run lasts about
            # a minute, so with this interval it never fires.
            "spark.cleaner.periodicGC.interval": "1h",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
        }
        if self.traced:
            from workmetrics import event_log_conf

            conf.update(event_log_conf(self.log_dir)[1])
        with self.tracer.span("session", "session"):
            self.spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_ids.append(self.spark.sparkContext.applicationId)
        if self.traced:
            self.tracer.spark = self.spark

    def stop_session(self) -> None:
        """Stop Spark, end its JVM and wait for it to exit."""
        from pyspark import SparkContext

        self.tracer.spark = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # --------------------------------------------------------------- run

    def run(self) -> dict:
        import reference
        from procmem import PeakRss

        with PeakRss() as rss:
            self.start_session()
            session_s = time.time() - T_START
            # inputs and reference answers: made once, untimed
            self.inputs = self.make_inputs()
            self.ref = self.make_reference(reference)
            builds = []
            for k in range(SETUPS):
                self.tracer.phase = f"setup{k}"
                t0 = time.time()
                self.build()
                builds.append(time.time() - t0)
                self.settle()
            self.log(f"session {session_s:.2f}s builds " + " ".join(f"{b:.2f}" for b in builds))
            # one cold pass, then warm passes while --seconds last (one at
            # least). A later pass is warmer than the one before, so runs
            # compare only at the same --seconds.
            self.run_pass(0)
            self.settle()
            t_warm, k = time.time(), 1
            while k == 1 or time.time() - t_warm < self.seconds:
                self.run_pass(k)
                self.settle()
                k += 1
            self.stop_session()
        setup_s = session_s + statistics.median(builds)
        metrics = self.end_to_end(setup_s, rss.peak_mb) if not self.traced else self.per_layer()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {m: {"value": float(v), "unit": _unit(m)}
                        for m, v in metrics.items()},
        }

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "first_pass_cpu_s": self.pass_cpu[0],
            "suite_cpu_s": _median(self.pass_cpu[1:]),
            "peak_rss_mb": peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        import layertrace

        out = layertrace.fold(self.tracer.spans, self.log_dir, self.app_ids)
        out["trace.suite_s"] = _median(self.passes[1:])
        out["trace.suite_cpu_s"] = _median(self.pass_cpu[1:])
        out["trace.span_cover"] = min(self.covers[1:])
        return out

    def run_pass(self, k: int) -> None:
        from procmem import steal_s, tree_cpu_s

        phase = self.tracer.phase = f"pass{k}"
        steal0, cpu0, t0 = steal_s(), tree_cpu_s(), time.time()
        if self.crawl:
            self.crawl_pass(k)
        else:
            self.analytics(self.canonical)
        wall = time.time() - t0
        cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        spans = [s for s in self.tracer.spans if s.phase == phase]
        self.passes.append(wall)
        self.pass_cpu.append(cpu)
        self.covers.append(sum(s.end - s.start for s in spans) / wall)
        self.log(f"{phase} {wall:.2f}s cpu {cpu:.2f}s steal {steal:.2f}s "
                 + " ".join(f"{s.name}={s.end - s.start:.2f}" for s in spans))

    # ------------------------------------------------------------ inputs

    def make_inputs(self) -> dict:
        import inputs

        s = self.spec
        if self.crawl:
            return inputs.crawl(self.data_dir, self.seed, s["n_sites"])
        return inputs.zipf_hub(self.spark, self.data_dir, self.seed, s["n_vertices"], s["n_edges"])

    def make_reference(self, reference) -> dict:
        g = reference.Graph(self.inputs["edges"])
        return {
            "n_edges": len(self.inputs["edges"]),
            "tc": reference.triangles(self.inputs["edges"], threads=CORES),
            "pagerank": reference.pagerank(g, PR_ITERATIONS),
            "cc": reference.components(g),
            "lp": reference.label_propagation(g, LP_ITERATIONS),
        }

    def build(self) -> None:
        """The input build of a set-up: the crawl's page table, or the
        graph's canonical edge table; cached either way."""
        from accelerating_tc_spark.operators import prep
        from accelerating_tc_spark.sources import snapshots

        spark = self.spark
        for cached in (getattr(self, "corpus", None), getattr(self, "canonical", None)):
            if cached is not None:
                cached.unpersist()
        if self.crawl:
            def read_pages(span):
                corpus = snapshots.read_table(spark, self.inputs["path"]).cache()
                corpus.count()
                return corpus

            self.corpus = self.op(
                "read_pages", "snapshots", read_pages,
                lambda c: c.count() == self.inputs["n_pages"],
            )
            return

        def canonical(span):
            raw = spark.read.parquet(*self.inputs["paths"])
            c = prep.canonicalize_edges(raw).repartition(CORES, "src").cache()
            c.count()
            return c

        self.canonical = self.op(
            "canonicalize", "prep", canonical, lambda c: c.count() == self.ref["n_edges"]
        )

    # ------------------------------------------------------------ passes

    def analytics(self, canonical, pr_dir=None, cc_dir=None, lp=True) -> None:
        """TC, PageRank, CC and LP over `canonical`, each checked against
        the reference."""
        from accelerating_tc_spark.operators import components, labelprop, pagerank, prep, triangles
        from reference import same_frame

        spark, ref = self.spark, self.ref

        def orient(span):
            o = prep.orient_by_degree(canonical).cache()
            o.count()
            return o

        oriented = self.op("orient", "prep", orient)
        self.op(
            "tc", "triangles",
            lambda span: triangles.triangle_count_blocked(oriented).first()["triangles"],
            lambda t: t == ref["tc"],
        )
        self.op(
            "pagerank", "pagerank",
            lambda span: _collect_state(span, pagerank.pagerank_run(
                spark, canonical, n_iterations=PR_ITERATIONS, checkpoint_dir=pr_dir)),
            lambda df: same_frame(df, ref["pagerank"], "rank", atol=1e-12),
        )
        self.op(
            "cc", "components",
            lambda span: _collect_state(span, components.connected_components_run(
                spark, canonical, checkpoint_dir=cc_dir)),
            lambda df: same_frame(df, ref["cc"], "component"),
        )
        if lp:
            self.op(
                "lp", "labelprop",
                lambda span: _collect_state(span, labelprop.label_propagation_run(
                    spark, canonical, n_iterations=LP_ITERATIONS)),
                lambda df: same_frame(df, ref["lp"], "label"),
            )
        if oriented is not None:
            oriented.unpersist()

    def crawl_pass(self, k: int) -> None:
        """`web_graph_pipeline` on a fresh work dir, then again on the
        completed dir (a resume). The traced run replaces the first call by
        the pipeline's stage calls, one by one and in its order, so that
        each lands in its layer's span; every result is checked against
        the reference, so the two agree."""
        from accelerating_tc_spark.plans import pipeline

        work = os.path.join(self.run_dir, f"work{k}")
        run_pipeline = lambda span: pipeline.web_graph_pipeline(  # noqa: E731
            self.spark, lambda: self.corpus, work
        ).toPandas()
        if self.traced:
            self.pipeline_stages(work)
        else:
            self.op("pipeline", "pipeline", run_pipeline, lambda df: _same_summary(df, self.ref))
        self.op("resume", "pipeline", run_pipeline, lambda df: _same_summary(df, self.ref))

    def pipeline_stages(self, work: str) -> None:
        from accelerating_tc_spark.operators import prep
        from accelerating_tc_spark.sources import pages, snapshots

        spark, ref = self.spark, self.ref
        edges_path = os.path.join(work, "edges")
        edges, mapping = self.op(
            "pages_to_edges", "pages", lambda span: pages.pages_to_edges(self.corpus)
        ) or (None, None)
        self.op("write_mapping", "snapshots",
                lambda span: snapshots.write_table(mapping, os.path.join(work, "url_mapping")))
        self.op("write_edges", "snapshots", lambda span: snapshots.write_table(edges, edges_path))
        raw = self.op("read_edges", "snapshots", lambda span: snapshots.read_table(spark, edges_path))

        def canonicalize(span):
            c = prep.canonicalize_edges(raw)
            return c, c.count()

        canonical, _ = self.op(
            "canonicalize", "prep", canonicalize, lambda r: r[1] == ref["n_edges"]
        ) or (None, None)
        self.analytics(
            canonical, os.path.join(work, "pr_ckpt"), os.path.join(work, "cc_ckpt"), lp=False
        )


def _collect_state(span, run):
    """A vertex program's result: its rounds go on the span, its state
    is consumed (collected) inside the span."""
    span.rounds = run.iterations
    return run.state.toPandas()


def _same_summary(got, ref: dict) -> bool:
    """The pipeline's summary (vertex, rank rounded to 6 places, component,
    triangles, n_edges) against the reference."""
    import numpy as np

    want = ref["pagerank"].merge(ref["cc"], on="vertex")
    got = got.sort_values("vertex")
    return (
        len(got) == len(want)
        and np.array_equal(got["vertex"], want["vertex"])
        and np.array_equal(got["component"], want["component"])
        and np.allclose(got["rank"], want["rank"].round(6), rtol=0, atol=1.01e-6)
        and bool((got["triangles"] == ref["tc"]).all())
        and bool((got["n_edges"] == ref["n_edges"]).all())
    )


def _prepare_env(run_dir: str) -> None:
    """Point every temporary path at `run_dir` and make the engine importable
    here and in Spark's Python workers, before anything imports it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS, when set, over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_TC_BROADCAST_MAX_MB"] = str(GATE_MB)
    os.environ["SPARK_GRAFT_STATE_BROADCAST_MAX_MB"] = str(GATE_MB)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def run_one(args) -> int:
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir)
    try:
        _prepare_env(run_dir)
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        try:
            result = bench.run()
        finally:
            bench.stop_session()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process. A run
    that dies counts as one failed op; the other workloads still run."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOADS:
        suite = {}
        for traced in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(traced)],
                stdout=subprocess.PIPE, text=True, check=False,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"perfbench: {workload} --trace {traced} exited {proc.returncode}", file=sys.stderr)
                merged["correct"] = False
                merged["attempted"] += 1
                merged["failed"] += 1
                continue
            result = json.loads(lines[-1])
            merged["correct"] &= result["correct"]
            merged["attempted"] += result["attempted"]
            merged["failed"] += result["failed"]
            for name, m in result["metrics"].items():
                merged["metrics"][f"{workload}.{name}"] = m
                print(f"{workload:14s} {name:30s} {m['value']:14.4f} {m['unit']}")
            suite[traced] = result["metrics"]["trace.suite_cpu_s" if traced else "suite_cpu_s"]["value"]
        if len(suite) < 2:
            continue
        overhead = suite[1] / suite[0] - 1
        merged["metrics"][f"{workload}.trace_overhead"] = {"value": overhead, "unit": "ratio"}
        print(f"{workload:14s} {'trace_overhead':30s} {overhead:14.4f} ratio")
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "accelerating_tc_spark")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
