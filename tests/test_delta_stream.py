"""delta_tail streaming-source tests (streaming FROM the Delta log).

Covers the Delta streaming-source semantics the q437 cert drives,
plus the failure modes: change commits raise without
skip_change_commits, OPTIMIZE commits are invisible, and restart
replay re-emits identical micro-batches (offsets are log versions).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.delta_stream import (
    DeltaTailStreamReader,
    register_delta_tail,
)
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_dtail_wh"


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(spark, WH, retain_versions=10)
    shutil.rmtree(WH, ignore_errors=True)


def _drain(spark, tdir, sink, **opts):
    register_delta_tail(spark)
    reader = spark.readStream.format("delta_tail").option("path", tdir)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(30)
    return spark.table(sink)


def test_appends_stream_change_commits_skipped(spark, store):
    st = store
    st.overwrite("t", _mk(spark, 0, 40), partition_by=("p",))
    st.append("t", _mk(spark, 40, 60), partition_by=("p",))
    st.delete_where("t", "k < 5")                       # change commit
    st.append("t", _mk(spark, 60, 70), partition_by=("p",))
    out = _drain(spark, st.path("t"), "dtail_t1")
    assert out.count() == 70
    assert out.select("k").distinct().count() == 70
    assert out.agg(F.sum("v")).collect()[0][0] == sum(
        2 * i for i in range(70)
    )


def test_change_commit_raises_without_skip(spark, store):
    st = store
    st.overwrite("t", _mk(spark, 0, 10))
    st.delete_where("t", "k = 0")
    reader = DeltaTailStreamReader(
        {"path": st.path("t"), "skip_change_commits": "false"}
    )
    with pytest.raises(dl.DeltaProtocolError, match="not an append"):
        reader.partitions({"version": 0}, {"version": 2})


def test_optimize_commit_invisible(spark, store):
    st = store
    st.overwrite("t", _mk(spark, 0, 30), cluster_by=("k",), n_files=4)
    st.append("t", _mk(spark, 30, 40))
    st.optimize("t", target_bytes=1 << 30)  # dataChange=false both sides
    out = _drain(spark, st.path("t"), "dtail_t2")
    assert out.count() == 40


def test_starting_version_tail(spark, store):
    st = store
    st.overwrite("t", _mk(spark, 0, 20))
    st.append("t", _mk(spark, 20, 30))
    st.append("t", _mk(spark, 30, 35))
    out = _drain(
        spark, st.path("t"), "dtail_t3", starting_version="1"
    )
    assert sorted(r["k"] for r in out.collect()) == list(range(20, 35))


def test_replay_same_range_identical(spark, store):
    """Offsets are versions: re-planning [s, e) yields identical rows
    — the checkpoint-restart replay contract."""
    st = store
    st.overwrite("t", _mk(spark, 0, 25), partition_by=("p",))
    st.append("t", _mk(spark, 25, 30), partition_by=("p",))
    reader = DeltaTailStreamReader({"path": st.path("t")})
    parts1 = reader.partitions({"version": 0}, {"version": 2})
    parts2 = reader.partitions({"version": 0}, {"version": 2})
    rows1 = sorted(r for p in parts1 for r in reader.read(p))
    rows2 = sorted(r for p in parts2 for r in reader.read(p))
    assert rows1 == rows2
    assert len(rows1) == 30
    # latestOffset tracks the log
    assert reader.latestOffset() == {"version": 2}


# ---------------------------------------------------------------- CDF mode


def test_stream_change_feed_matches_table_changes(spark, store):
    """readChangeFeed mode: the streamed feed equals the batch
    table_changes feed — same cdc files, same derivation rules."""
    shutil.rmtree(WH + "_cdf", ignore_errors=True)
    st = SnapshotStore(
        spark, WH + "_cdf", retain_versions=10, cdf=True
    )
    try:
        st.overwrite("t", _mk(spark, 0, 30), partition_by=("p",))
        st.merge(
            "t",
            spark.createDataFrame(
                [(1, "1", 999), (100, "9", 5)], "k long, p string, v long"
            ),
            "k",
            partition_by=("p",),
        )
        st.delete_where("t", "k >= 25 and k < 30")
        st.append("t", _mk(spark, 200, 205), partition_by=("p",))

        out = _drain(
            spark, st.path("t"), "dtail_cdf1", read_change_feed="true"
        )
        batch = dl.table_changes(spark, st.path("t"), 0)

        def key(df):
            return sorted(
                (
                    r["_commit_version"],
                    r["_change_type"],
                    r["k"],
                    r["v"],
                )
                for r in df.collect()
            )

        assert key(out) == key(batch)
        # the change commits are SERVED (not skipped) in cdf mode
        types = {r["_change_type"] for r in out.collect()}
        assert {"insert", "delete", "update_preimage",
                "update_postimage"} <= types
    finally:
        shutil.rmtree(WH + "_cdf", ignore_errors=True)


def test_stream_cdf_dv_without_cdc_raises(spark, store):
    st = store  # cdf=False
    st.overwrite("t", _mk(spark, 0, 10))
    st.delete_where_mor("t", "k = 0")  # DV commit, no cdc files
    reader = DeltaTailStreamReader(
        {"path": st.path("t"), "read_change_feed": "true"}
    )
    with pytest.raises(dl.DeltaProtocolError, match="deletion vectors"):
        reader.partitions({"version": 0}, {"version": 2})


def test_checkpoint_restart_exactly_once(spark, store, tmp_path):
    """Kill the stream, append more commits, restart from the SAME
    checkpoint: the durable offsets resume at the next unread version
    — every row lands in the file sink exactly once across the two
    stream lifetimes (offsets-are-versions + replay-identical
    planning is what makes this hold)."""
    st = store
    st.overwrite("t", _mk(spark, 0, 20), partition_by=("p",))
    st.append("t", _mk(spark, 20, 30), partition_by=("p",))

    register_delta_tail(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("delta_tail")
            .option("path", st.path("t"))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(30)

    run_once()                       # lifetime 1: v0+v1
    st.append("t", _mk(spark, 30, 45), partition_by=("p",))
    st.append("t", _mk(spark, 45, 50), partition_by=("p",))
    run_once()                       # lifetime 2: v2+v3 only

    got = spark.read.parquet(out)
    assert got.count() == 50, "no duplicates, no losses across restart"
    assert got.select("k").distinct().count() == 50
