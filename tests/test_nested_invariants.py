"""Column invariants on NESTED struct fields (Delta PROTOCOL.md
"Column Invariants"): the rule persists in the INNER field's
metadata, keys are dotted paths, and validation resolves the nested
reference — a missing nested field is all-null and violates.
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

WH = "/tmp/pa_test_nestedinv_wh"


def _base(spark, n=20):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        F.struct(
            (F.col("id") + 10_000).alias("zip"),
            F.lit("x").alias("city"),
        ).alias("addr"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    s = SnapshotStore(spark, WH, retain_versions=5)
    yield s
    shutil.rmtree(WH, ignore_errors=True)


def test_nested_invariant_lifecycle(spark, store):
    store.overwrite("t", _base(spark))
    store.set_invariant("t", "addr.zip", "addr.zip > 0")
    # good append lands
    store.append("t", _base(spark).withColumn(
        "k", F.col("k") + 100))
    # violating nested value refused, nothing committed
    n_before = store.read("t").count()
    bad = _base(spark, 3).withColumn(
        "addr", F.struct(F.lit(-1).cast("long").alias("zip"),
                         F.lit("y").alias("city")))
    with pytest.raises(ConstraintViolationError, match="addr.zip"):
        store.append("t", bad)
    # NULL nested value violates too (stricter than CHECK)
    nul = _base(spark, 3).withColumn(
        "addr", F.struct(F.lit(None).cast("long").alias("zip"),
                         F.lit("y").alias("city")))
    with pytest.raises(ConstraintViolationError, match="addr.zip"):
        store.append("t", nul)
    # a write whose struct LACKS the nested field is all-null
    missing = spark.range(0, 3).select(
        F.col("id").alias("k"),
        F.struct(F.lit("z").alias("city")).alias("addr"),
    )
    with pytest.raises(ConstraintViolationError, match="addr.zip"):
        store.append("t", missing)
    assert store.read("t").count() == n_before


def test_rule_persists_in_nested_field_metadata(spark, store):
    store.overwrite("t", _base(spark))
    store.set_invariant("t", "addr.zip", "addr.zip > 0")
    snap = store.delta_snapshot("t")
    # discovery returns the dotted path
    assert snap.invariants() == {"addr.zip": "addr.zip > 0"}
    # and the raw rule lives in the INNER field's metadata
    sch = json.loads(snap.metadata["schemaString"])
    addr = next(f for f in sch["fields"] if f["name"] == "addr")
    zipf = next(f for f in addr["type"]["fields"]
                if f["name"] == "zip")
    rule = json.loads(zipf["metadata"][dl.INVARIANTS_META_KEY])
    assert rule == {"expression": {"expression": "addr.zip > 0"}}
    # top-level fields carry no invariant metadata
    assert dl.INVARIANTS_META_KEY not in (addr.get("metadata") or {})


def test_declaring_on_missing_nested_field_refused(spark, store):
    store.overwrite("t", _base(spark))
    with pytest.raises(ValueError, match="addr.nope"):
        store.set_invariant("t", "addr.nope", "addr.nope > 0")


def test_log_level_nested_declaration(tmp_path):
    """set_column_invariant walks dotted paths on a raw log table."""
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, dl.LOG_DIR))
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "addr", "nullable": True, "metadata": {},
             "type": {"type": "struct", "fields": [
                 {"name": "zip", "type": "long", "nullable": True,
                  "metadata": {}}]}},
        ],
    })
    log = dl.DeltaLog(table)
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": dl.make_metadata(schema)}], version=0)
    dl.set_column_invariant(table, "addr.zip", "addr.zip > 0")
    assert dl.DeltaLog(table).snapshot().invariants() == {
        "addr.zip": "addr.zip > 0"
    }
    with pytest.raises(dl.DeltaProtocolError, match="no column"):
        dl.set_column_invariant(table, "addr.nope", "1 = 1")
