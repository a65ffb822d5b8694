"""Identity columns (Delta ``delta.identity.*``, the
writer-version-6 identityColumns feature).

Contract: writes omitting the column get fresh monotonic values above
the persisted high-water mark; supplying the column on the insert
paths is refused (GENERATED ALWAYS); MERGE inherits matched rows'
existing ids and allocates only for inserts; uniqueness survives
restarts (the high-water mark is durable); the log carries the spec
in field metadata with a writer-6 protocol floor. Gap-freedom is NOT
promised (failed transactions may burn ranges) — same as every
database sequence and Delta itself."""

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

WH = "/tmp/pa_test_ident_wh"


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("nk"),
        (F.col("id") * 5).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(spark, WH, retain_versions=5)
    shutil.rmtree(WH, ignore_errors=True)


def test_allocation_monotonic_unique(spark, store):
    st = store
    st.set_identity("t", "sk", start=100, step=10)
    st.overwrite("t", _rows(spark, 0, 20))
    ids1 = sorted(r["sk"] for r in st.read("t").collect())
    assert len(ids1) == len(set(ids1)) == 20
    assert min(ids1) >= 100
    # step alignment (gaps allowed — Delta's allocator burns ranges)
    assert all((i - 100) % 10 == 0 for i in ids1)
    st.append("t", _rows(spark, 20, 25))
    ids2 = sorted(r["sk"] for r in st.read("t").collect())
    assert len(ids2) == 25
    assert len(set(ids2)) == 25, "ids unique across writes"
    fresh = sorted(set(ids2) - set(ids1))
    assert min(fresh) > max(ids1), "monotonic above the HWM"


def test_supplied_refused_on_insert_paths(spark, store):
    st = store
    st.set_identity("t", "sk")
    st.overwrite("t", _rows(spark, 0, 5))
    withid = st.read("t").limit(1)
    with pytest.raises(ConstraintViolationError, match="IDENTITY"):
        st.append("t", withid)
    with pytest.raises(ConstraintViolationError, match="IDENTITY"):
        st.merge("t", withid, "nk")


def test_merge_inherits_matched_allocates_new(spark, store):
    st = store
    st.set_identity("t", "sk")
    st.overwrite("t", _rows(spark, 0, 10))
    before = {r["nk"]: r["sk"] for r in st.read("t").collect()}
    batch = spark.createDataFrame(
        [(3, 999), (100, 1)], "nk long, v long"
    )
    st.merge("t", batch, "nk")
    after = {r["nk"]: r["sk"] for r in st.read("t").collect()}
    assert after[3] == before[3], "matched row keeps its identity"
    assert after[100] > max(before.values()), "insert gets a fresh id"
    assert st.read("t").where("nk = 3").collect()[0]["v"] == 999
    # MoR merge: same inherit/allocate semantics
    st.merge_mor(
        "t", spark.createDataFrame([(5, 777), (200, 2)], "nk long, v long"),
        "nk",
    )
    after2 = {r["nk"]: r["sk"] for r in st.read("t").collect()}
    assert after2[5] == before[5]
    assert after2[200] > after[100]
    assert len(set(after2.values())) == len(after2), "all ids unique"


def test_hwm_survives_store_restart(spark, store):
    st = store
    st.set_identity("t", "sk")
    st.overwrite("t", _rows(spark, 0, 10))
    hwm = st.identity_columns("t")["sk"]["high_water_mark"]
    assert hwm is not None and hwm >= 10
    st2 = SnapshotStore(spark, WH, retain_versions=5)
    st2.append("t", _rows(spark, 10, 15))
    ids = [r["sk"] for r in st2.read("t").collect()]
    assert len(set(ids)) == 15, "no id reuse after restart"


def test_log_field_metadata_and_protocol(spark, store):
    st = store
    st.set_identity("t", "sk", start=7, step=3)
    st.overwrite("t", _rows(spark, 0, 4))
    snap = dl.DeltaLog(st.path("t")).snapshot()
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    md = {f["name"]: f.get("metadata") or {} for f in fields}
    assert md["sk"]["delta.identity.start"] == 7
    assert md["sk"]["delta.identity.step"] == 3
    hwm = md["sk"]["delta.identity.highWaterMark"]
    assert hwm >= 7 + 3 * 3 and (hwm - 7) % 3 == 0
    assert md["sk"]["delta.identity.allowExplicitInsert"] is False
    assert (snap.protocol or {}).get("minWriterVersion", 2) >= 6
