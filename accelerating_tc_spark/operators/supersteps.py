"""Checkpointed, resumable iterative supersteps — the engine's iteration spine.

Generalizes the reference's A-direction peeling loop (frontier rounds of
degree updates, edge_directing/A-direction.cpp:84-146; SURVEY.md G2) into a
reusable `iterate()` that PageRank / connected components / label
propagation / k-core / SCC / HITS all share. This module owns:
- the loop itself: checkpoints, lineage metrics, resume, bounded lineage
  cuts, and the release of the loop's cached helper relations when the
  loop ends (`iterate(helpers=...)`);
- the broadcast-state plan decision (`state_plan`): the gate, the
  partitioning key of the cached loop relation and the state broadcast;
- two shared loop bodies: `min_label_fixpoint` (CC and both SCC phases)
  and `monotone_sum_probe` (the convergence probe of CC, SCC and k-core).

Scale/correctness posture:
- under a `checkpoint_dir`, every `checkpoint_every`-th round and the last
  one are committed (parquet dir per committed round — the sandbox
  stand-in for an Iceberg snapshot; the write is atomic via Spark's
  _SUCCESS marker and a rename), so a run resumes from its newest commit.
  Rounds between commits follow the dir-less rule: lazy when unmetered,
  else cut in memory, since a crash resumes from the last commit anyway;
- a `lineage.jsonl` file records one line per round: wall time, the
  convergence delta and, for committed rounds only, the row count per
  write partition, read from the snapshot's parquet footers without a
  Spark job (uncommitted rounds record `rows: null`);
- a committed round costs its write alone: the read-back uses the known
  schema (no footer-inference job) and a `monotone_sum_probe` observes its
  sum on the write itself (`DataFrame.observe`) instead of running an
  aggregate;
- lineage is cut at every commit and at every metered round, and at least
  every `checkpoint_every` rounds otherwise, so Catalyst plans do not grow
  with the iteration count — the classic iterative-Spark failure mode.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import warnings
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources import snapshots

# Broadcast-state fast path cap for iterative vertex programs (every
# `state_plan` caller): when the graph is small enough that the per-round
# vertex state comfortably broadcasts (|V| <= 2|E|, ~16-24 B/row), the loop
# relation is partitioned by dst and the state shipped as an explicit
# broadcast — every per-round aggregate then runs exchange-free. Above the
# cap the classic plan (relation partitioned by src, state shuffled to the
# join) is used unchanged. The default 64 MiB mirrors the session's
# autoBroadcastJoinThreshold; override with
# SPARK_GRAFT_STATE_BROADCAST_MAX_MB (0 disables the fast path). Only safe
# for ORDER-INSENSITIVE (integer min/count) per-round aggregates — float
# sums would reassociate.
STATE_BROADCAST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_STATE_BROADCAST_MAX_MB", "64")
) << 20

# Consecutive localCheckpoint lineage cuts `iterate` and LineageCutter
# allow before a parquet round-trip hard cut (the chained-localCheckpoint
# cliff; measured on a 100k-edge k-core loop: 0.7 s rounds reach
# 80 s+ by round 22 without it, a parquet-cut chain is flat for 100+ rounds).
HARD_CUT_EVERY = 8


@dataclass(frozen=True)
class StatePlan:
    """A vertex program's side of the broadcast-state gate: the cached loop
    relation is partitioned by dst, the key every per-round aggregate groups
    on, and the state ships as an explicit broadcast; or, classic, the
    relation is partitioned by src, the join key, and the state shuffles."""

    broadcast: bool

    def relation(self, rel: DataFrame) -> DataFrame:
        """`rel` partitioned for the loop and cached: an `iterate` helper."""
        n_part = rel.sparkSession.sparkContext.defaultParallelism
        return rel.repartition(n_part, "dst" if self.broadcast else "src").cache()

    def state(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.broadcast else df

    def min_neighbor(self, rel: DataFrame, label: str) -> DataFrame:
        """Round 1 of a min-label program from the identity labeling over a
        SYMMETRIC relation, grouped on its partitioning key (exchange-free)."""
        key, nbr = ("dst", "src") if self.broadcast else ("src", "dst")
        return rel.groupBy(F.col(key).alias("vertex")).agg(F.min(nbr).alias(label))


def state_plan(state_bytes: int) -> StatePlan:
    """The plan for a state of at most `state_bytes`; a budget of 0
    disables the fast path even for an empty state."""
    return StatePlan(0 < STATE_BROADCAST_MAX_BYTES and state_bytes <= STATE_BROADCAST_MAX_BYTES)


@dataclass
class IterationMetrics:
    """One round's lineage record; the row counts are those of a committed
    round's snapshot and None for a round that was not committed."""

    iteration: int
    rows: int | None
    n_partitions: int | None
    partition_rows: dict[str, int] | None
    wall_s: float
    delta: float | None


@dataclass
class SuperstepRun:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[IterationMetrics] = field(default_factory=list)


def latest_checkpoint(checkpoint_dir: str) -> int | None:
    """Highest completed iteration in a checkpoint dir, or None.

    Thin wrapper over the table-format seam (sources/snapshots) kept for
    API stability — resuming drivers call this before building a session
    state."""
    if not checkpoint_dir:
        return None
    return snapshots.ParquetIterationLog(None, checkpoint_dir).latest()


class LineageCutter:
    """Bounded-chain lineage cuts for hand-rolled loops (the same cliff
    HARD_CUT_EVERY guards `iterate` against: chains of ~15+ consecutive
    localCheckpoints degrade geometrically on Spark 4.1).

    Up to `HARD_CUT_EVERY - 1` consecutive cuts use localCheckpoint; the
    next cut is a parquet round-trip through a scratch slot. Slots get
    UNIQUE names and live until `close()` — callers may hold lazy
    references to any cut state (e.g. the truss cascade's per-round dropped
    frames) without them being invalidated by slot reuse. `close(final_df)` re-anchors the final
    result in block storage before removing the scratch dir, so the
    returned DataFrame outlives the cleanup."""

    def __init__(self, spark: SparkSession, prefix: str = "lineage-cut-"):
        self.spark = spark
        self.prefix = prefix
        self.chain = 0
        self.n_cuts = 0
        self.scratch: str | None = None

    def cut(self, df: DataFrame) -> DataFrame:
        import tempfile

        self.n_cuts += 1
        if self.chain + 1 >= HARD_CUT_EVERY:
            if self.scratch is None:
                self.scratch = tempfile.mkdtemp(prefix=self.prefix)
            slot = os.path.join(self.scratch, f"slot{self.n_cuts:05d}")
            df.write.mode("overwrite").parquet(slot)
            self.chain = 0
            return self.spark.read.schema(df.schema).parquet(slot)
        self.chain += 1
        return df.localCheckpoint(eager=True)

    def close(self, final_df: DataFrame | None = None) -> DataFrame | None:
        out = final_df
        if self.scratch is not None:
            if final_df is not None:
                # the final result may read scratch slots: materialize it
                # into block storage (a fresh 1-link chain) before cleanup
                out = final_df.localCheckpoint(eager=True)
            shutil.rmtree(self.scratch, ignore_errors=True)
            self.scratch = None
        return out

    # context-manager form: `with LineageCutter(...) as cutter:` guarantees
    # the scratch dir is removed on exception paths (a failed deep cascade
    # must not leak parquet scratch on disk). Callers still call
    # close(final_df) on the success path — close() is idempotent, so the
    # __exit__ close() is then a no-op.
    def __enter__(self) -> "LineageCutter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()


def iterate(
    spark: SparkSession,
    initial: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    delta_fn: Callable[[DataFrame, DataFrame], float] | None = None,
    tolerance: float = 0.0,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    on_nonconverged: str = "warn",
    keep_checkpoints: int | None = None,
    helpers: Sequence[DataFrame] = (),
) -> SuperstepRun:
    """Run `state <- step(state, i)` with checkpointing, lineage metrics, resume.

    - `delta_fn(old, new) -> float`: convergence measure; iteration stops when
      it is <= tolerance. None -> always run max_iterations (deterministic
      fixed-round mode, used when an unrolled SQL oracle must match). A
      delta_fn with an `observe(df) -> df` method (monotone_sum_probe) has
      each committed round's write observe what it needs.
    - `checkpoint_dir`: parquet snapshot of every `checkpoint_every`-th
      round and of the last one, plus lineage.jsonl. A rerun continues from
      the newest committed round below max_iterations. The HARD_CUT_EVERY
      parquet hard cut writes under it too, else to a process-local scratch
      dir (tempfile) that is removed when the loop ends — on a multi-node
      cluster pass `checkpoint_dir` on shared storage for loops expected to
      exceed ~15 rounds so the hard cut lands somewhere all executors and
      any resuming driver can read.
    - `on_nonconverged`: what to do when max_iterations is hit with a delta_fn
      still above tolerance — "warn" (default), "raise" (exact-semantics
      operators: returning a non-fixpoint state would be silently wrong), or
      "ignore".
    - `keep_checkpoints`: retention bound for the checkpoint dir (>= 2) —
      after each committed round, iteration snapshots older than the newest
      `keep_checkpoints` are dropped (snapshots.ParquetIterationLog.prune;
      Iceberg's expire_snapshots in the swap). None keeps every round.
      Resume still works: it continues from the newest surviving snapshot.
    - `helpers`: the loop's cached relations (edge+degree tables etc.). They
      are unpersisted when the loop ends, normally or by an exception;
      without this every call would leak one cached helper set for the
      session's lifetime. The returned state is first pinned independent
      of them: it is already lineage-cut and materialized unless no round
      ran, and then one eager localCheckpoint materializes it so the
      unpersist cannot force a recompute from cold sources later."""
    import tempfile

    try:
        metrics: list[IterationMetrics] = []
        start_iter = 0
        state = initial
        scratch_dir: str | None = None
        chain_len = 0  # consecutive localCheckpoint cuts since the last hard cut

        ckpt_log = None
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            # checkpoint mechanics live in the table-format seam: swapping
            # parquet-iter-dirs for Iceberg snapshots replaces this log class
            ckpt_log = snapshots.ParquetIterationLog(spark, checkpoint_dir)
            # resume from the newest commit this run reaches: rounds at or
            # past max_iterations were left by a longer run
            done = [j for j in ckpt_log.completed() if j < max_iterations]
            if done:
                state = ckpt_log.read(done[-1])
                start_iter = done[-1] + 1

        converged = False
        lineage_path = os.path.join(checkpoint_dir, "lineage.jsonl") if checkpoint_dir else None

        for i in range(start_iter, max_iterations):
            t0 = time.time()
            new_state = step(state, i)

            hist = None
            if ckpt_log and (i % checkpoint_every == 0 or i == max_iterations - 1):
                # durable commit + lineage cut: read back the written
                # snapshot. A probe that can observe its sum on the write
                # (monotone_sum_probe) gets it from this same job.
                observe = getattr(delta_fn, "observe", None)
                persisted = ckpt_log.write(observe(new_state) if observe else new_state, i)
                hist = ckpt_log.partition_rows(i)
                chain_len = 0
            elif (
                delta_fn is None
                and i % checkpoint_every != checkpoint_every - 1
                and i != max_iterations - 1
            ):
                # unmetered fixed-round mode: rounds between lineage cuts stay
                # lazy-chained — skipping the eager materialization removes a
                # full job per skipped round (the dominant per-round constant
                # for small states); the plan depth is bounded by
                # checkpoint_every so Catalyst analysis stays O(1) per round.
                # Under a checkpoint_dir such a round buys no durability by
                # being cut: a crash resumes from the last commit either way.
                persisted = new_state
            elif chain_len + 1 >= HARD_CUT_EVERY:
                # parquet hard cut: bound the localCheckpoint chain (see
                # HARD_CUT_EVERY) — alternate two scratch slots so
                # the slot being overwritten is never the one being read.
                # With a checkpoint_dir the slots live under it (shared storage
                # on a cluster — executors must be able to read the cut back);
                # only dir-less in-memory loops fall back to a local tempdir.
                if scratch_dir is None:
                    if checkpoint_dir:
                        scratch_dir = os.path.join(checkpoint_dir, "_scratch")
                        os.makedirs(scratch_dir, exist_ok=True)
                    else:
                        scratch_dir = tempfile.mkdtemp(prefix="superstep-scratch-")
                slot = os.path.join(scratch_dir, f"slot{(i // HARD_CUT_EVERY) % 2}")
                new_state.write.mode("overwrite").parquet(slot)
                persisted = spark.read.schema(new_state.schema).parquet(slot)
                chain_len = 0
            else:
                # convergence mode: the delta probe below runs an action on
                # `persisted` right away, so a LAZY checkpoint lets that single
                # action materialize the blocks — one job per round instead of
                # an eager-materialize job plus the probe job (r7; measured on
                # the SCC inner loop, whose many short rounds are job-overhead
                # bound). Without a probe the eager cut keeps its job.
                persisted = new_state.localCheckpoint(eager=delta_fn is None)
                chain_len += 1

            delta = delta_fn(state, persisted) if delta_fn is not None else None
            m = IterationMetrics(
                iteration=i,
                rows=None if hist is None else sum(hist.values()),
                n_partitions=None if hist is None else len(hist),
                partition_rows=hist,
                wall_s=round(time.time() - t0, 3),
                delta=delta,
            )
            metrics.append(m)
            if lineage_path:
                with open(lineage_path, "a") as fh:
                    fh.write(json.dumps(m.__dict__) + "\n")

            state = persisted
            if ckpt_log and keep_checkpoints:
                # prune AFTER delta_fn ran and `state` was rebound: the old
                # state frame (previous round's snapshot) is no longer read
                ckpt_log.prune(keep_checkpoints)
            if delta is not None and delta <= tolerance:
                converged = True
                break

        if delta_fn is not None and not converged and metrics:
            msg = (
                f"superstep loop hit max_iterations={max_iterations} with "
                f"delta={metrics[-1].delta} > tolerance={tolerance}; state is NOT a fixpoint"
            )
            if on_nonconverged == "raise":
                raise RuntimeError(msg)
            if on_nonconverged == "warn":
                warnings.warn(msg, RuntimeWarning, stacklevel=2)

        if scratch_dir is not None or (helpers and state is initial):
            # the final state may be backed by a scratch slot, or be the
            # uncut initial state over a helper about to be released (every
            # round that ends a loop cuts): re-anchor it in block storage (a
            # 1-link localCheckpoint chain is safe)
            state = state.localCheckpoint(eager=True)
        if scratch_dir is not None:
            shutil.rmtree(scratch_dir, ignore_errors=True)

        return SuperstepRun(
            state=state,
            iterations=len(metrics) + start_iter,
            converged=converged,
            metrics=metrics,
        )
    finally:
        for h in helpers:
            h.unpersist()


class _SumProbe:
    """`monotone_sum_probe`'s delta_fn. `observe(df)` attaches the sum to
    the action that next runs over `df` (`iterate`'s commit write), and the
    next call takes it from there instead of running its own aggregate."""

    def __init__(self, col: str):
        self.col = col
        self.prev = None
        self.pending: Observation | None = None

    def _expr(self):
        return F.sum(F.col(self.col).cast("decimal(38,0)")).alias("s")

    def observe(self, df: DataFrame) -> DataFrame:
        self.pending = Observation()
        return df.observe(self.pending, self._expr())

    def _sum(self, df: DataFrame):
        return df.agg(self._expr()).first()["s"]

    def __call__(self, old: DataFrame, new: DataFrame) -> float:
        if self.prev is None:
            self.prev = self._sum(old) or 0
        if self.pending is not None:
            s, self.pending = self.pending.get["s"], None
        else:
            s = self._sum(new)
        s = s or 0  # an empty state sums to null
        d = float(self.prev - s)
        self.prev = s
        return d


def monotone_sum_probe(col: str) -> Callable[[DataFrame, DataFrame], float]:
    """Convergence `delta_fn` for a state column that only ever decreases
    (min labels, h-index core estimates): the state is a fixpoint iff
    sum(col) is unchanged, so one tiny aggregate per round over the
    just-materialized state replaces a two-sided join + changed-row count
    (r7); on a committed round the sum rides on the snapshot write instead.
    The previous round's sum is memoized; decimal(38) is exact for any long
    values."""
    return _SumProbe(col)


def min_label_fixpoint(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    init: Callable[[DataFrame], DataFrame],
    plan: StatePlan,
    max_iterations: int,
    label: str = "label",
    checkpoint_dir: str | None = None,
) -> SuperstepRun:
    """(vertex, label) at the fixpoint of label(v) <- min(label(v),
    min over edges u -> v of label(u)), accelerated by POINTER JUMPING
    (label <- label(label), the shortcutting of Kiveris et al., SoCC'14):
    labels chase their own chains, collapsing rounds to O(log n) on paths.
    Shared by connected components (symmetric edges) and both SCC phases
    (directed edges); the jump is valid for both because a label is always
    a vertex that reaches v and only decreases.

    Each caller keeps its own plan decision and initial state:
    - `plan`: integer min aggregates are order-insensitive, so either side
      of the broadcast-state gate gives the same fixpoint.
    - `init(rel)` builds round 0's state from the cached loop relation.
    Self-loops for every vertex are folded into the relation, so min(own,
    incoming-min) is a single aggregate and edge-less vertices stay in the
    state. Raises if max_iterations is hit before the fixpoint."""
    rel = plan.relation(
        edges.union(verts.select(F.col("vertex").alias("src"), F.col("vertex").alias("dst")))
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        cand = (
            rel.join(plan.state(state), rel["src"] == state["vertex"])
            .select(F.col("dst").alias("vertex"), F.col(label).alias("nbr_label"))
            .groupBy("vertex")
            .agg(F.min("nbr_label").alias(label))
        )
        jumped = state.select(F.col("vertex").alias(label), F.col(label).alias("jumped"))
        return cand.join(plan.state(jumped), label, "left").select(
            "vertex", F.least(label, F.coalesce("jumped", label)).alias(label)
        )

    return iterate(
        spark,
        init(rel),
        step,
        max_iterations=max_iterations,
        delta_fn=monotone_sum_probe(label),
        tolerance=0.0,
        checkpoint_dir=checkpoint_dir,
        on_nonconverged="raise",  # exact-semantics operator
        helpers=(rel,),
    )
