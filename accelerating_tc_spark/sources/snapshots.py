"""Table-format seam: every durable-state touch goes through this module.

The north star keeps superstep checkpoints and streaming state in Iceberg
tables; this sandbox has no Iceberg runtime (no package installed), so the
engine uses parquet directories with explicit commit markers instead — and
THIS module is the one place that knows it. Swapping in Iceberg is a second
implementation of the same three protocols, not a grep over the engine:

  versioned snapshots  write_version/commit/read_current
      parquet: `<prefix><N>` dirs + an atomically-replaced one-line pointer
      file (os.replace is the commit point).
      Iceberg: overwrite snapshot + catalog commit; read_current = current
      snapshot scan; gc_stale = expire_snapshots.

  marker-committed iteration log  write_iteration/latest_iteration
      parquet: `iter=NNNNN` dirs, completeness = Spark's _SUCCESS marker,
      write is tmp-dir + atomic rename; per-partition row counts come
      from the parquet footers.
      Iceberg: one snapshot per iteration, latest_iteration = max committed
      snapshot's iteration property; row counts = the manifests'
      record_count.

  staged append  stage_append/publish_append
      parquet: stage under `pending/<batch_id>`, publish = idempotent
      per-file os.replace into the store dir (batch-prefixed names).
      Iceberg: staged AppendFiles transaction; publish = transaction
      commit (and the caller's own commit record becomes an Iceberg
      snapshot property instead of a JSON sidecar).

Callers: operators/supersteps.py (iteration log), streaming/components.py
(versioned snapshots), streaming/edges.py (staged append), sources/io.py
(plain tables). Reference checkpointing analog: the reference engine
re-runs from its binary edge files (tc.cu load path); resumability here is
a north-star addition.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession


# ------------------------------------------------------------ plain tables

def write_table(df: DataFrame, path: str) -> None:
    """Overwrite-publish a table at `path` (Spark writes _SUCCESS last, so
    a reader checking completeness sees all-or-nothing)."""
    df.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


# ------------------------------------------------------- versioned snapshots

class ParquetSnapshotStore:
    """Pointer-committed versioned table: `<prefix><N>` parquet dirs plus a
    single pointer file whose atomic os.replace is the commit point. A
    crash at ANY instant leaves the pointer on a complete older version;
    `gc_stale()` (call on startup) drops unreferenced version dirs left by
    a crash between write and flip, or between flip and cleanup."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        prefix: str = "v",
        pointer_name: str = "CURRENT",
    ):
        self.spark = spark
        self.root = root
        self.prefix = prefix
        self.pointer_path = os.path.join(root, pointer_name)
        os.makedirs(root, exist_ok=True)

    def version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"{self.prefix}{v}")

    def current(self) -> int | None:
        """Committed version number, or None before the first commit."""
        if os.path.exists(self.pointer_path):
            with open(self.pointer_path) as fh:
                return int(fh.read().strip())
        return None

    def read_current(self) -> DataFrame | None:
        cur = self.current()
        if cur is None:
            return None
        return self.spark.read.parquet(self.version_dir(cur))

    def write_version(self, df: DataFrame, v: int) -> None:
        """Write version `v` durably; NOT visible until commit(v)."""
        df.write.mode("overwrite").parquet(self.version_dir(v))

    def commit(self, v: int, gc_previous: bool = True) -> None:
        """Atomically flip the pointer to `v` (the commit point), then GC
        the superseded version."""
        prev = self.current()
        tmp = self.pointer_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.pointer_path)
        if gc_previous and prev is not None and prev != v:
            shutil.rmtree(self.version_dir(prev), ignore_errors=True)

    def gc_stale(self) -> None:
        """Drop version dirs not referenced by the pointer."""
        cur = self.current()
        keep = os.path.basename(self.version_dir(cur)) if cur is not None else None
        for name in os.listdir(self.root):
            if name.startswith(self.prefix) and name != keep:
                full = os.path.join(self.root, name)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)


# ------------------------------------------------- marker-committed iterations

class ParquetIterationLog:
    """Iteration-keyed snapshot log for resumable superstep loops:
    `iter=NNNNN` dirs whose completeness marker is Spark's own _SUCCESS
    file; the tmp-dir + atomic-rename write means a crashed write is never
    mistaken for a committed iteration."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def iter_dir(self, i: int) -> str:
        return os.path.join(self.root, f"iter={i:05d}")

    def latest(self) -> int | None:
        """Highest completed iteration, or None."""
        done = self.completed()
        return done[-1] if done else None

    def read(self, i: int) -> DataFrame:
        return self.spark.read.parquet(self.iter_dir(i))

    def write(self, df: DataFrame, i: int) -> DataFrame:
        """Durably commit iteration `i`; returns the read-back frame (the
        caller's lineage cut), read with `df`'s schema so that no footer
        inference job runs."""
        out = self.iter_dir(i)
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
        return self.spark.read.schema(df.schema).parquet(out)

    def completed(self) -> list[int]:
        """All committed iterations, ascending. Only `iter=<digits>` names
        count: a crash between the write and the rename leaves an
        `iter=NNNNN.tmp` dir that carries its own _SUCCESS marker."""
        if not self.root or not os.path.isdir(self.root):
            return []
        return sorted(
            int(m.group(1))
            for m in (re.fullmatch(r"iter=(\d+)", n) for n in os.listdir(self.root))
            if m and is_complete(os.path.join(self.root, m.group(0)))
        )

    def partition_rows(self, i: int) -> dict[str, int]:
        """Row count per write partition of committed iteration `i`, read
        from its parquet footers on the driver: no Spark job (the Iceberg
        swap reads the manifests' record_count)."""
        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        root = self.iter_dir(i)
        for name in os.listdir(root):
            if name.startswith("part-") and name.endswith(".parquet"):
                pid = str(int(name.split("-")[1]))
                out[pid] = out.get(pid, 0) + pq.read_metadata(os.path.join(root, name)).num_rows
        return out

    def prune(self, keep_last: int) -> list[int]:
        """Retention policy: drop all but the newest `keep_last` committed
        iteration dirs (the Iceberg swap's expire_snapshots). Long superstep
        runs (k-core ran 81 rounds) would otherwise retain every round's
        snapshot forever. Returns the iterations dropped. keep_last must be
        >= 2 so the previous round's snapshot — which the caller's old-state
        frame and delta_fn may still read lazily — always survives the
        current round's prune."""
        if keep_last < 2:
            raise ValueError("keep_last must be >= 2 (previous round may still be read)")
        done = self.completed()
        drop = done[:-keep_last]
        for i in drop:
            shutil.rmtree(self.iter_dir(i), ignore_errors=True)
        return drop


# ------------------------------------------------------------- staged append

class ParquetAppendStore:
    """Append-only fact table with a stage/publish protocol. The COMMIT
    POINT lives with the caller (its own transaction record — state.json
    for the triangle maintainer; an Iceberg transaction commit in the
    swap); this class owns the file mechanics, which must be idempotent so
    the caller can re-publish after a crash between commit and publish."""

    def __init__(self, spark: SparkSession, store_dir: str, pending_dir: str):
        self.spark = spark
        self.store_dir = store_dir
        self.pending_dir = pending_dir

    def stage_dir(self, batch_id: int) -> str:
        return os.path.join(self.pending_dir, str(batch_id))

    def stage(self, df: DataFrame, batch_id: int) -> None:
        """Stage a delta for `batch_id`; NOT visible to read()."""
        df.write.mode("overwrite").parquet(self.stage_dir(batch_id))

    def publish(self, batch_id: int) -> None:
        """Move staged parquet parts into the store (idempotent: names are
        batch-prefixed; already-moved files are gone from the stage)."""
        src_dir = self.stage_dir(batch_id)
        if not os.path.isdir(src_dir):
            return
        os.makedirs(self.store_dir, exist_ok=True)
        for name in os.listdir(src_dir):
            if name.endswith(".parquet"):
                os.replace(
                    os.path.join(src_dir, name),
                    os.path.join(self.store_dir, f"batch{batch_id}-{name}"),
                )
        shutil.rmtree(src_dir)

    def drop_stage(self, batch_id: int) -> None:
        shutil.rmtree(self.stage_dir(batch_id), ignore_errors=True)

    def staged_ids(self) -> list[int]:
        if not os.path.isdir(self.pending_dir):
            return []
        return sorted(int(name) for name in os.listdir(self.pending_dir))

    def read(self) -> DataFrame | None:
        """The committed store, or None while empty."""
        if os.path.isdir(self.store_dir) and any(
            n.endswith(".parquet") for n in os.listdir(self.store_dir)
        ):
            return self.spark.read.parquet(self.store_dir)
        return None
