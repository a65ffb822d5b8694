"""Regression tests for the round-9 ADVICE findings.

1. Identity allocation is transactional: the read-HWM / allocate /
   persist cycle runs under a per-table lock and the nondeterministic
   id column is pinned (localCheckpoint) before the HWM is computed —
   concurrent writers mint DISJOINT ranges and the written ids equal
   the ones the HWM covered.
2. ``overwrite`` with a caller-supplied identity column advances the
   persisted high-water mark past the supplied values (from parquet
   footers — no Spark job), so later appends never duplicate keys.
3. ``table_changes`` refuses to DERIVE changes from a commit whose
   adds carry deletion vectors (MoR DML without cdf=True) — deriving
   would resurrect tombstoned rows as inserts.
4. ``_delta_commit`` raises loudly when a staged change file vanished
   before commit instead of silently dropping feed rows; ``vacuum``
   grows a ``cdc_grace_s`` window that spares in-flight staged files.
5. ``shallow_clone`` builds percent-encoded absolute URIs so paths
   containing ``%``/``#`` round-trip through ``resolve_path``.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    SnapshotStore,
)

WH = "/tmp/pa_test_advice_r10_wh"


@pytest.fixture()
def wh():
    shutil.rmtree(WH, ignore_errors=True)
    yield WH
    shutil.rmtree(WH, ignore_errors=True)


def test_concurrent_identity_allocation_disjoint(spark, wh):
    store = SnapshotStore(spark, wh)
    store.set_identity("t", "sk", start=1, step=1)
    store.overwrite("t", spark.range(0, 5).select(F.col("id").alias("k")))

    errs: list[Exception] = []

    def _append(lo: int):
        try:
            s2 = SnapshotStore(spark, wh)
            s2.append(
                "t", spark.range(lo, lo + 40).select(F.col("id").alias("k"))
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=_append, args=(100 * i,)) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    rows = store.read("t").select("sk").collect()
    ids = [r.sk for r in rows]
    assert len(ids) == 5 + 4 * 40
    assert len(set(ids)) == len(ids), "duplicate surrogate keys minted"


def test_identity_values_match_persisted_hwm(spark, wh):
    """The written ids never exceed the persisted HWM (the pin makes
    the HWM job and the write see the same materialized values)."""
    store = SnapshotStore(spark, wh)
    store.set_identity("t", "sk", start=10, step=3)
    store.overwrite("t", spark.range(0, 57).select(F.col("id").alias("k")))
    hwm = store.identity_columns("t")["sk"]["high_water_mark"]
    top = store.read("t").agg(F.max("sk")).collect()[0][0]
    assert top == hwm
    # merge batch path: matched rows keep ids, fresh rows above HWM
    batch = spark.range(40, 80).select(F.col("id").alias("k"))
    store.merge("t", batch, "k")
    hwm2 = store.identity_columns("t")["sk"]["high_water_mark"]
    top2 = store.read("t").agg(F.max("sk")).collect()[0][0]
    assert top2 == hwm2 and hwm2 >= hwm
    n = store.read("t").count()
    nd = store.read("t").select("sk").distinct().count()
    assert n == nd == 80


def test_overwrite_with_supplied_ids_advances_hwm(spark, wh):
    store = SnapshotStore(spark, wh)
    store.set_identity("t", "sk", start=1, step=1)
    store.overwrite("t", spark.range(0, 10).select(F.col("id").alias("k")))
    # user full-refresh carrying ids far above the HWM
    refresh = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") + 5000).alias("sk")
    )
    store.overwrite("t", refresh)
    hwm = store.identity_columns("t")["sk"]["high_water_mark"]
    assert hwm >= 5009
    store.append("t", spark.range(100, 110).select(F.col("id").alias("k")))
    ids = [r.sk for r in store.read("t").select("sk").collect()]
    assert len(set(ids)) == len(ids) == 20, "append duplicated supplied keys"


def test_overwrite_negative_step_advances_hwm(spark, wh):
    store = SnapshotStore(spark, wh)
    store.set_identity("t", "sk", start=-1, step=-1)
    store.overwrite(
        "t",
        spark.range(0, 5).select(
            F.col("id").alias("k"), (-F.col("id") - 900).alias("sk")
        ),
    )
    assert store.identity_columns("t")["sk"]["high_water_mark"] <= -900
    store.append("t", spark.range(10, 15).select(F.col("id").alias("k")))
    ids = [r.sk for r in store.read("t").select("sk").collect()]
    assert len(set(ids)) == len(ids) == 10


def test_table_changes_refuses_underived_dv_commit(spark, wh):
    store = SnapshotStore(
        spark, wh, retain_versions=3
    )  # cdf=False
    store.overwrite("t", spark.range(0, 30).select(F.col("id").alias("k")))
    store.delete_where_mor("t", "k % 3 = 0")  # DV commit, no cdc actions
    tdir = store.path("t")
    latest = dl.DeltaLog(tdir).latest_version()
    with pytest.raises(dl.DeltaProtocolError, match="deletion vectors"):
        dl.table_changes(spark, tdir, 0, latest).count()
    # the append-only prefix remains derivable
    assert dl.table_changes(spark, tdir, 0, 0).count() == 30


def test_vanished_staged_cdc_fails_commit_loudly(spark, wh):
    store = SnapshotStore(spark, wh, cdf=True)
    store.overwrite("t", spark.range(0, 10).select(F.col("id").alias("k")))
    staged = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("delete").alias("_change_type")
    )
    store._stage_cdc("t", staged)
    pending = store._cdc_pending("t")
    assert pending
    os.unlink(os.path.join(store.path("t"), pending[0]))
    with pytest.raises(dl.DeltaProtocolError, match="vanished"):
        store.append(
            "t", spark.range(50, 55).select(F.col("id").alias("k"))
        )


def test_vacuum_cdc_grace_spares_fresh_staged_files(spark, wh):
    store = SnapshotStore(spark, wh, cdf=True)
    store.overwrite("t", spark.range(0, 20).select(F.col("id").alias("k")))
    store.delete_where("t", "k < 5")
    tdir = store.path("t")
    # a freshly-staged (unreferenced) change file, as an in-flight DML
    # would leave mid-transaction
    orphan = os.path.join(tdir, dl.CDC_DIR, "cdc-inflight-00000.parquet")
    ref = sorted(dl.DeltaLog(tdir).referenced_cdc_paths())[0]
    shutil.copy(os.path.join(tdir, ref), orphan)
    log = dl.DeltaLog(tdir)
    spared = log.vacuum(dry_run=True, cdc_grace_s=3600.0)
    assert not any("cdc-inflight" in v for v in spared)
    swept = log.vacuum(dry_run=True)  # default: no grace
    assert any("cdc-inflight" in v for v in swept)


def test_shallow_clone_percent_path_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src %table#1")
    dst = str(tmp_path / "dst")
    os.makedirs(src)
    spark.range(0, 25).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    dl.convert_to_delta(spark, src)
    n = dl.shallow_clone(src, dst)
    assert n >= 1
    snap = dl.DeltaLog(dst).snapshot()
    for rel in snap.files:
        assert os.path.isfile(dl.resolve_path(dst, rel)), rel
    assert dl.read_delta(spark, dst).count() == 25
