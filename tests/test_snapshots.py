"""Table-format seam: the parquet protocols behind supersteps/streaming."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from accelerating_tc_spark.sources import snapshots


def test_snapshot_store_commit_and_gc(spark, tmp_path):
    root = str(tmp_path / "store")
    st = snapshots.ParquetSnapshotStore(spark, root, prefix="labels.v")
    assert st.current() is None and st.read_current() is None

    df0 = spark.range(5).select(F.col("id").alias("v"))
    st.write_version(df0, 0)
    # written but uncommitted: invisible
    assert st.current() is None
    st.commit(0)
    assert st.current() == 0 and st.read_current().count() == 5

    df1 = spark.range(9).select(F.col("id").alias("v"))
    st.write_version(df1, 1)
    st.commit(1)
    assert st.read_current().count() == 9
    # superseded version GC'd on commit
    assert not os.path.isdir(st.version_dir(0))

    # crash-leftover version (written, never committed) dropped by gc_stale
    st.write_version(df0, 7)
    assert os.path.isdir(st.version_dir(7))
    st.gc_stale()
    assert not os.path.isdir(st.version_dir(7))
    assert st.read_current().count() == 9  # committed version untouched


def test_iteration_log_marker_semantics(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    os.makedirs(root)
    log = snapshots.ParquetIterationLog(spark, root)
    assert log.latest() is None
    for i in (0, 2, 5):
        back = log.write(spark.range(i + 1).select(F.col("id").alias("v")), i)
        assert back.count() == i + 1
    assert log.latest() == 5
    # an incomplete dir (no _SUCCESS) is never reported as committed
    fake = log.iter_dir(9)
    os.makedirs(fake)
    assert log.latest() == 5
    assert log.read(2).count() == 3


def test_iteration_log_skips_leftover_tmp_dir(spark, tmp_path):
    """A crash between the write of `iter=NNNNN.tmp` (which gets its own
    _SUCCESS) and the rename must not break the next resume."""
    from accelerating_tc_spark.operators import supersteps

    root = str(tmp_path / "ckpt")
    os.makedirs(root)
    log = snapshots.ParquetIterationLog(spark, root)
    for i in range(3):
        log.write(spark.range(10 * (i + 1)).select(F.col("id").alias("v")), i)
    spark.range(7).write.parquet(log.iter_dir(3) + ".tmp")
    assert snapshots.is_complete(log.iter_dir(3) + ".tmp")
    assert log.completed() == [0, 1, 2]
    assert log.latest() == 2 and supersteps.latest_checkpoint(root) == 2
    # the footer row counts of a committed iteration add up to its rows
    hist = log.partition_rows(2)
    assert sum(hist.values()) == log.read(2).count() == 30


def test_append_store_stage_publish_idempotent(spark, tmp_path):
    store = snapshots.ParquetAppendStore(
        spark, str(tmp_path / "edges"), str(tmp_path / "pending")
    )
    assert store.read() is None and store.staged_ids() == []
    df = spark.range(4).select(F.col("id").alias("v"))
    store.stage(df, 3)
    assert store.staged_ids() == [3]
    assert store.read() is None  # staged != visible
    store.publish(3)
    store.publish(3)  # idempotent re-publish (crash between commit+publish)
    assert store.read().count() == 4
    assert store.staged_ids() == []
    store.stage(df, 4)
    store.drop_stage(4)
    assert store.staged_ids() == []
