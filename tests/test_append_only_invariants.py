"""Append-only tables + column invariants (Delta PROTOCOL.md
"Append-only Tables" / "Column Invariants") — the round-11 verdict's
#1 protocol-conformance hole: the engine DECLARES both writer
features (delta_log.ENGINE_WRITER_FEATURES) so it must ENFORCE them.

Contract:

* ``delta.appendOnly = true`` ⇒ every mutating path (DELETE/UPDATE/
  MERGE, COW and MoR alike, overwrite of an existing table, RESTORE)
  raises with the version unchanged; appends and rearrange-only
  OPTIMIZE still land.
* a FOREIGN table declaring the property refuses any log commit
  carrying a ``remove`` with ``dataChange = true`` — the
  DeltaLog.commit chokepoint, no engine write path can bypass it.
* column invariants validate every written row at write time —
  null-or-false violates (delta-spark CheckDeltaInvariant), stricter
  than CHECK constraints where NULL satisfies.

Reference: the reference's bronze CDC tables (bronze.yml:8-71) are
exactly the append-only shape — immutable change streams a compliant
writer must never rewrite.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    ConstraintViolationError,
    SnapshotStore,
)

WH = "/tmp/pa_test_ao_wh"


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


# ------------------------------------------------------- append-only


def test_append_only_blocks_every_dml(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.set_append_only("t")
    assert st.append_only("t")
    ver = st.current_version("t")
    log_ver = dl.DeltaLog(st.path("t")).latest_version()

    batch = spark.createDataFrame([(1, "0", 999)], "k long, p string, v long")
    for op in (
        lambda: st.delete_where("t", "k = 1"),
        lambda: st.update_where("t", "k = 1", {"v": "v + 1"}),
        lambda: st.merge("t", batch, "k"),
        lambda: st.delete_where_mor("t", "k = 1"),
        lambda: st.update_where_mor("t", "k = 1", {"v": "v + 1"}),
        lambda: st.merge_mor("t", batch, "k"),
        lambda: st.overwrite("t", _base(spark, 5)),
        lambda: st.restore("t", 0),
    ):
        with pytest.raises(dl.DeltaProtocolError, match="append-only"):
            op()
        assert st.current_version("t") == ver
        assert dl.DeltaLog(st.path("t")).latest_version() == log_ver

    assert st.read("t").count() == 30  # nothing changed


def test_append_only_appends_and_optimize_still_land(spark, store):
    st = store
    st.overwrite("t", _base(spark), n_files=4)
    st.set_append_only("t")
    st.append("t", spark.createDataFrame(
        [(100, "x", 7)], "k long, p string, v long"))
    assert st.read("t").count() == 31
    # OPTIMIZE is rearrange-only (dataChange: false) — allowed
    st.compact("t")
    assert st.read("t").count() == 31
    # the property survives in the log's metaData configuration
    snap = dl.DeltaLog(st.path("t")).snapshot()
    assert snap.append_only()
    assert (snap.metadata["configuration"] or {})[
        dl.APPEND_ONLY_PROP
    ] == "true"


def test_append_only_disable_reopens_dml(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.set_append_only("t")
    with pytest.raises(dl.DeltaProtocolError):
        st.delete_where("t", "k = 1")
    st.set_append_only("t", enabled=False)
    st.delete_where("t", "k = 1")
    assert st.read("t").where("k = 1").count() == 0


def test_foreign_append_only_table_refuses_remove_commit(tmp_path):
    """A table created by ANOTHER writer declaring delta.appendOnly:
    this engine's log layer must refuse remove-with-dataChange
    commits — the DeltaLog.commit chokepoint."""
    tdir = str(tmp_path / "foreign")
    os.makedirs(os.path.join(tdir, dl.LOG_DIR))
    meta = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    }))
    meta["configuration"] = {dl.APPEND_ONLY_PROP: "true"}
    log = dl.DeltaLog(tdir)
    log.commit(
        [{"protocol": dl.PROTOCOL_ACTION}, {"metaData": meta}],
        version=0,
    )
    add = {"path": "part-0.parquet", "partitionValues": {}, "size": 1,
           "modificationTime": 0, "dataChange": True}
    log.commit([{"add": add}], version=1)

    with pytest.raises(dl.DeltaProtocolError, match="append-only"):
        log.commit([{"remove": dl.make_remove("part-0.parquet")}])
    assert log.latest_version() == 1

    # rearrange-only removes (OPTIMIZE) pass per the protocol
    rm = dl.make_remove("part-0.parquet")
    rm["dataChange"] = False
    add2 = dict(add, path="part-1.parquet", dataChange=False)
    log.commit([{"remove": rm}, {"add": add2}], version=2)
    assert log.latest_version() == 2


def test_set_append_only_module_fn_and_feature_declaration(tmp_path):
    tdir = str(tmp_path / "t")
    os.makedirs(os.path.join(tdir, dl.LOG_DIR))
    meta = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    }))
    log = dl.DeltaLog(tdir)
    # table-features protocol: enabling must DECLARE the feature
    log.commit([
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["domainMetadata"]}},
        {"metaData": meta},
    ], version=0)
    dl.set_append_only(tdir)
    snap = dl.DeltaLog(tdir).snapshot()
    assert snap.append_only()
    assert "appendOnly" in (snap.protocol or {}).get("writerFeatures", [])
    with pytest.raises(dl.DeltaProtocolError, match="append-only"):
        log.commit([{"remove": dl.make_remove("x.parquet")}])


# ---------------------------------------------------- invariants


def test_invariant_validates_existing_data(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.set_invariant("t", "v", "v >= 0")
    assert st.invariants("t") == {"v": "v >= 0"}
    with pytest.raises(ConstraintViolationError, match="invariant"):
        st.set_invariant("t", "v", "v < 10")
    assert st.invariants("t") == {"v": "v >= 0"}


def test_invariant_refuses_violating_writes_nothing_commits(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.set_invariant("t", "v", "v >= 0")
    ver = st.current_version("t")
    bad = spark.createDataFrame([(100, "0", -5)], "k long, p string, v long")
    for op in (
        lambda: st.append("t", bad),
        lambda: st.merge("t", bad, "k"),
        lambda: st.merge_mor("t", bad, "k"),
        lambda: st.overwrite("t", bad),
    ):
        with pytest.raises(ConstraintViolationError, match="invariant"):
            op()
        assert st.current_version("t") == ver
    assert st.read("t").where("v < 0").count() == 0


def test_invariant_null_violates_unlike_check(spark, store):
    """Delta invariants: NULL violates (CheckDeltaInvariant throws on
    null or false); CHECK constraints: NULL satisfies."""
    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_pos", "v >= 0")
    st.set_invariant("t", "k", "k >= 0")
    null_k = spark.createDataFrame(
        [(None, "0", 5)], "k long, p string, v long"
    )
    with pytest.raises(ConstraintViolationError, match="invariant"):
        st.append("t", null_k)  # null k violates the INVARIANT
    null_v = spark.createDataFrame(
        [(200, "0", None)], "k long, p string, v long"
    )
    st.append("t", null_v)  # null v SATISFIES the CHECK constraint
    assert st.read("t").where("k = 200").count() == 1


def test_invariant_mirrored_into_log_field_metadata(spark, store):
    st = store
    st.overwrite("t", _base(spark))
    st.set_invariant("t", "v", "v >= 0")
    snap = dl.DeltaLog(st.path("t")).snapshot()
    assert snap.invariants() == {"v": "v >= 0"}
    # raw form is the spec's persisted-rule JSON
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    raw = next(f for f in fields if f["name"] == "v")["metadata"][
        dl.INVARIANTS_META_KEY
    ]
    assert json.loads(raw) == {"expression": {"expression": "v >= 0"}}
    # survives later data commits
    st.append("t", spark.createDataFrame(
        [(300, "0", 1)], "k long, p string, v long"))
    snap2 = dl.DeltaLog(st.path("t")).snapshot()
    assert snap2.invariants() == {"v": "v >= 0"}


def test_foreign_invariants_parsed_and_validated(spark, tmp_path):
    """A foreign table's delta.invariants field metadata: the
    snapshot accessor decodes both the JSON rule form and a plain
    string; validate_invariants enforces the null-violates rule."""
    tdir = str(tmp_path / "t")
    os.makedirs(os.path.join(tdir, dl.LOG_DIR))
    meta = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {dl.INVARIANTS_META_KEY: json.dumps(
                 {"expression": {"expression": "a > 0"}})}},
            {"name": "b", "type": "long", "nullable": True,
             "metadata": {dl.INVARIANTS_META_KEY: "b < 100"}},
        ],
    }))
    dl.DeltaLog(tdir).commit(
        [{"protocol": dl.PROTOCOL_ACTION}, {"metaData": meta}], version=0
    )
    snap = dl.DeltaLog(tdir).snapshot()
    assert snap.invariants() == {"a": "a > 0", "b": "b < 100"}
    ok = spark.createDataFrame([(1, 5)], "a long, b long")
    dl.validate_invariants(ok, snap.invariants())
    bad = spark.createDataFrame([(None, 5)], "a long, b long")
    with pytest.raises(dl.DeltaProtocolError, match="invariant"):
        dl.validate_invariants(bad, snap.invariants())
    missing = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(dl.DeltaProtocolError, match="missing"):
        dl.validate_invariants(missing, snap.invariants())


def test_set_column_invariant_module_fn(tmp_path):
    tdir = str(tmp_path / "t")
    os.makedirs(os.path.join(tdir, dl.LOG_DIR))
    meta = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    }))
    dl.DeltaLog(tdir).commit(
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                       "writerFeatures": []}},
         {"metaData": meta}],
        version=0,
    )
    dl.set_column_invariant(tdir, "k", "k >= 0")
    snap = dl.DeltaLog(tdir).snapshot()
    assert snap.invariants() == {"k": "k >= 0"}
    assert "invariants" in (snap.protocol or {}).get("writerFeatures", [])
    with pytest.raises(dl.DeltaProtocolError, match="no column"):
        dl.set_column_invariant(tdir, "zzz", "zzz > 0")
