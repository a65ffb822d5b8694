"""CHECK-constraint tests (Delta ``delta.constraints.<name>`` +
ALTER TABLE ADD CONSTRAINT semantics).

Contract: adding a constraint validates existing data; every write
path (overwrite / append / COW merge / COW update / MoR update /
MoR merge) validates its rows BEFORE anything lands and raises
ConstraintViolationError with nothing committed; NULL satisfies
(SQL CHECK); the log carries the property and a writer-version-3
protocol."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    ConstraintViolationError,
    SnapshotStore,
)

WH = "/tmp/pa_test_cons_wh"


def _base(spark, n=30):
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


def test_add_constraint_validates_existing(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    assert st.constraints("t") == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError, match="v_small"):
        st.add_constraint("t", "v_small", "v < 10")
    assert "v_small" not in st.constraints("t")


def test_writes_enforce_nothing_commits(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    ver = st.current_version("t")

    bad = spark.createDataFrame([(100, "0", -5)], "k long, p string, v long")
    with pytest.raises(ConstraintViolationError):
        st.merge("t", bad, "k")                  # COW merge (overwrite)
    with pytest.raises(ConstraintViolationError):
        st.append("t", bad)
    with pytest.raises(ConstraintViolationError):
        st.merge_mor("t", bad, "k")
    with pytest.raises(ConstraintViolationError):
        st.update_where("t", "k = 1", {"v": "-1"})   # COW update
    with pytest.raises(ConstraintViolationError):
        st.update_where_mor("t", "k = 1", {"v": "-1"})
    assert st.current_version("t") == ver
    assert st.read("t").count() == 30
    assert st.read("t").where("v < 0").count() == 0

    # good writes still flow
    ok = spark.createDataFrame([(100, "0", 5)], "k long, p string, v long")
    st.merge("t", ok, "k")
    assert st.read("t").count() == 31


def test_null_satisfies_check(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    nullrow = spark.createDataFrame(
        [(200, "0", None)], "k long, p string, v long"
    )
    st.merge("t", nullrow, "k")  # NULL passes CHECK (SQL semantics)
    assert st.read("t").where("k = 200").count() == 1


def test_log_carries_property_and_protocol(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    snap = dl.DeltaLog(st.path("t")).snapshot()
    conf = snap.metadata.get("configuration") or {}
    assert conf.get("delta.constraints.v_nonneg") == "v >= 0"
    assert (snap.protocol or {}).get("minWriterVersion", 2) >= 3
    # drop removes the property in a new metaData commit
    st.drop_constraint("t", "v_nonneg")
    snap2 = dl.DeltaLog(st.path("t")).snapshot()
    conf2 = snap2.metadata.get("configuration") or {}
    assert "delta.constraints.v_nonneg" not in conf2
    # and writes flow again
    st.append(
        "t",
        spark.createDataFrame([(300, "0", -9)], "k long, p string, v long"),
    )
