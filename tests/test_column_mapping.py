"""Column mapping (rename without rewrite), DESCRIBE HISTORY, and
timestamp-based time travel over the pure-Python Delta log.

Contract (delta.io PROTOCOL.md "Column Mapping"): data files carry
PHYSICAL names; metaData's schemaString carries logical names plus
``delta.columnMapping.{id,physicalName}`` field metadata; a rename
flips only the logical name in a metaData-only commit — zero data
files rewritten — and readers/planners translate."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_cmap_wh"


def _base(spark, n=60):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(spark, WH, retain_versions=5)
    shutil.rmtree(WH, ignore_errors=True)


def _data_files(tdir):
    snap = dl.DeltaLog(tdir).snapshot()
    return {
        p: os.stat(dl.resolve_path(tdir, p)).st_ino for p in snap.files
    }


def test_rename_without_rewrite(spark, store):
    st = store
    st.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
    tdir = st.path("t")
    before = _data_files(tdir)

    dl.enable_column_mapping(tdir)
    dl.rename_column(tdir, "v", "value_doubled")

    after = _data_files(tdir)
    assert before == after, "rename must rewrite ZERO data files"
    df = dl.read_delta(spark, tdir)
    assert set(df.columns) == {"k", "p", "value_doubled"}
    assert df.agg(F.sum("value_doubled")).collect()[0][0] == sum(
        2 * i for i in range(60)
    )
    # protocol upgraded for column mapping
    proto = dl.DeltaLog(tdir).snapshot().protocol
    assert proto.get("minReaderVersion", 1) >= 2
    assert proto.get("minWriterVersion", 2) >= 5


def test_skipping_survives_rename(spark, store):
    st = store
    st.overwrite("t", _base(spark, 100), cluster_by=("v",), n_files=5)
    tdir = st.path("t")
    dl.enable_column_mapping(tdir)
    dl.rename_column(tdir, "v", "metric")
    snap = dl.DeltaLog(tdir).snapshot()
    kept = snap.plan_files([("metric", "<=", 0)])
    assert 0 < len(kept) < 5


def test_rename_guards(spark, store):
    st = store
    st.overwrite("t", _base(spark, 10), partition_by=("p",))
    tdir = st.path("t")
    with pytest.raises(dl.DeltaProtocolError, match="column mapping"):
        dl.rename_column(tdir, "v", "x")
    dl.enable_column_mapping(tdir)
    with pytest.raises(dl.DeltaProtocolError, match="partition"):
        dl.rename_column(tdir, "p", "bucket")
    with pytest.raises(dl.DeltaProtocolError, match="no column"):
        dl.rename_column(tdir, "nope", "x")
    with pytest.raises(dl.DeltaProtocolError, match="already exists"):
        dl.rename_column(tdir, "v", "k")
    # idempotent enable
    v = dl.enable_column_mapping(tdir)
    assert v == dl.DeltaLog(tdir).snapshot().version


def test_history_and_timestamp_travel(spark, store):
    st = store
    st.overwrite("t", _base(spark, 20))                     # v0
    st.append("t", _base(spark, 20).withColumn("k", F.col("k") + 100))  # v1
    st.delete_where("t", "k >= 110")                        # v2
    tdir = st.path("t")
    hist = dl.DeltaLog(tdir).history()
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert [h["operation"] for h in hist] == ["DML", "WRITE", "WRITE"]
    ts = [h["inCommitTimestamp"] for h in hist]
    assert ts == [2000, 1000, 0], "in-commit timestamps are monotonic"
    # TIMESTAMP AS OF: latest version with ts <= given
    log = dl.DeltaLog(tdir)
    assert log.version_at_timestamp(0) == 0
    assert log.version_at_timestamp(1500) == 1
    assert log.version_at_timestamp(99999) == 2
    assert dl.read_delta(
        spark, tdir, version=log.version_at_timestamp(1000)
    ).count() == 40
    with pytest.raises(dl.DeltaProtocolError, match="no commit"):
        log.version_at_timestamp(-1)
