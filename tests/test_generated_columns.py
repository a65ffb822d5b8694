"""Generated columns (Delta ``delta.generationExpression``, the
writer-version-4 generatedColumns feature).

Contract: a write that OMITS the column gets it computed and
materialized; a write that SUPPLIES it is validated null-safely
against the expression (mismatch = nothing committed); the log
carries the expression in the field metadata and the protocol floor
moves to writer ≥ 4."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    ConstraintViolationError,
    SnapshotStore,
)

WH = "/tmp/pa_test_gen_wh"


def _base(spark, n=30):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(spark, WH, retain_versions=5)
    shutil.rmtree(WH, ignore_errors=True)


def test_omitted_column_is_computed(spark, store):
    st = store
    st.set_generated("t", "bucket", "concat('b', CAST(k % 4 AS STRING))")
    st.overwrite("t", _base(spark), partition_by=("bucket",))
    df = st.read("t")
    assert "bucket" in df.columns
    assert df.where("bucket = concat('b', CAST(k % 4 AS STRING))").count() == 30
    # merge with a batch omitting the column: computed for new rows
    st.merge(
        "t",
        spark.createDataFrame([(100, 7)], "k long, v long"),
        "k",
        partition_by=("bucket",),
    )
    row = st.read("t").where("k = 100").collect()[0]
    assert row["bucket"] == "b0"
    # append omitting the column
    st.append(
        "t",
        spark.createDataFrame([(101, 8)], "k long, v long"),
        partition_by=("bucket",),
    )
    assert st.read("t").where("k = 101").collect()[0]["bucket"] == "b1"


def test_supplied_value_validated(spark, store):
    st = store
    st.set_generated("t", "bucket", "concat('b', CAST(k % 4 AS STRING))")
    st.overwrite("t", _base(spark), partition_by=("bucket",))
    ver = st.current_version("t")
    bad = spark.createDataFrame(
        [(200, 1, "b9")], "k long, v long, bucket string"
    )
    with pytest.raises(ConstraintViolationError, match="generated"):
        st.merge("t", bad, "k", partition_by=("bucket",))
    with pytest.raises(ConstraintViolationError, match="generated"):
        st.append("t", bad)
    assert st.current_version("t") == ver
    # a CORRECT supplied value passes
    ok = spark.createDataFrame(
        [(200, 1, "b0")], "k long, v long, bucket string"
    )
    st.merge("t", ok, "k", partition_by=("bucket",))
    assert st.read("t").where("k = 200").count() == 1


def test_mor_merge_computes_generated(spark, store):
    st = store
    st.set_generated("t", "bucket", "concat('b', CAST(k % 4 AS STRING))")
    st.overwrite("t", _base(spark))
    st.merge_mor(
        "t", spark.createDataFrame([(300, 5)], "k long, v long"), "k"
    )
    assert st.read("t").where("k = 300").collect()[0]["bucket"] == "b0"


def test_log_field_metadata_and_protocol(spark, store):
    st = store
    st.set_generated("t", "bucket", "concat('b', CAST(k % 4 AS STRING))")
    st.overwrite("t", _base(spark))
    snap = dl.DeltaLog(st.path("t")).snapshot()
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    md = {f["name"]: f.get("metadata") or {} for f in fields}
    assert (
        md["bucket"].get("delta.generationExpression")
        == "concat('b', CAST(k % 4 AS STRING))"
    )
    assert (snap.protocol or {}).get("minWriterVersion", 2) >= 4
