"""Regression tests for the round-10 ADVICE findings.

1. ``merge_mor`` on a row-tracked table stays semantically identical
   to ``merge_upsert`` even when the LIVE side holds duplicate keys:
   the per-row matched-id map is aggregated to one id per key before
   joining onto the batch, so a 1-row batch against 2 duplicate live
   keys yields 1 output row (previously 2).
2. ``read_delta`` on a column-mapped + type-widened table builds the
   forced read schema with PHYSICAL field names — enable mapping,
   rename, widen, and the table stays readable with correct logical
   names and widened types (previously AnalysisException).
3. ``read_delta`` on a row-tracked table merges mixed file schemas
   and HIDES the materialized ``_pa_row_id_m``/``_pa_row_commit_m``
   columns, deterministically (previously schema depended on which
   file Spark inferred from).
4. ``cleanup_log`` deletes EVERY checkpoint form below the newest
   checkpoint version (a version carrying v1 + multipart + v2 files
   previously leaked the non-preferred forms forever).
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_advice_r11_wh"


@pytest.fixture()
def wh():
    shutil.rmtree(WH, ignore_errors=True)
    yield WH
    shutil.rmtree(WH, ignore_errors=True)


# ---------------------------------------------------------------- 1
class TestMergeMorDuplicateLiveKeys:
    def _dup_store(self, spark, wh, row_tracking: bool):
        store = SnapshotStore(spark, wh, retain_versions=10)
        store.overwrite(
            "t",
            spark.createDataFrame(
                [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, v string"
            ),
        )
        if row_tracking:
            store.enable_row_tracking("t")
        return store

    @pytest.mark.parametrize("rt", [True, False])
    def test_one_output_row_per_batch_key(self, spark, wh, rt):
        store = self._dup_store(spark, wh, row_tracking=rt)
        batch = spark.createDataFrame([(1, "NEW")], "k int, v string")
        store.merge_mor("t", batch, key="k")
        rows = sorted(
            (r.k, r.v) for r in store.read("t").collect()
        )
        # merge_upsert contract: prev ANTI batch-keys UNION batch —
        # BOTH duplicate k=1 live rows are replaced by ONE batch row.
        assert rows == [(1, "NEW"), (2, "c"), (3, "d")]

    def test_inherited_id_is_min_of_matched(self, spark, wh):
        store = self._dup_store(spark, wh, row_tracking=True)
        tdir = store.path("t")
        before = {
            (r.k, r.v): r._row_id
            for r in dl.read_row_ids(spark, tdir).collect()
        }
        matched = [rid for (k, _v), rid in before.items() if k == 1]
        store.merge_mor(
            "t",
            spark.createDataFrame([(1, "NEW")], "k int, v string"),
            key="k",
        )
        after = {
            r.k: r._row_id for r in dl.read_row_ids(spark, tdir).collect()
        }
        assert after[1] == min(matched)
        assert len(after) == 3


# ---------------------------------------------------------------- 2
class TestWideningUnderColumnMapping:
    def test_rename_then_widen_stays_readable(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=10)
        store.overwrite(
            "t",
            spark.range(0, 40).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("cnt"),
            ),
            n_files=2,
        )
        tdir = store.path("t")
        dl.enable_column_mapping(tdir)
        dl.rename_column(tdir, "cnt", "amount")
        dl.widen_column_type(tdir, "amount", "long")
        df = dl.read_delta(spark, tdir)
        assert set(df.columns) == {"k", "amount"}
        assert dict(df.dtypes)["amount"] == "bigint"
        assert df.agg(F.sum("amount")).collect()[0][0] == sum(range(40))

    def test_widen_then_rename_other_column(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=10)
        store.overwrite(
            "t",
            spark.range(0, 30).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("cnt"),
            ),
        )
        tdir = store.path("t")
        dl.enable_column_mapping(tdir)
        dl.widen_column_type(tdir, "cnt", "long")
        dl.rename_column(tdir, "k", "pk")
        df = dl.read_delta(spark, tdir)
        assert set(df.columns) == {"pk", "cnt"}
        assert dict(df.dtypes)["cnt"] == "bigint"
        assert df.count() == 30


# ---------------------------------------------------------------- 3
class TestRowTrackedReadDelta:
    def test_physical_id_columns_hidden_and_deterministic(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=10)
        store.overwrite(
            "t",
            spark.range(0, 50).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            n_files=3,
        )
        store.enable_row_tracking("t")
        # MoR update rewrites SOME files with materialized id columns
        # — the table now mixes file schemas.
        store.update_where_mor("t", "k < 10", {"v": "v + 1000"})
        tdir = store.path("t")
        df = dl.read_delta(spark, tdir)
        assert dl.MATERIALIZED_ROW_ID_COL not in df.columns
        assert dl.MATERIALIZED_ROW_COMMIT_COL not in df.columns
        assert set(df.columns) == {"k", "v"}
        assert df.count() == 50
        got = {r.k: r.v for r in df.collect()}
        assert got[3] == 1006 and got[20] == 40


# ---------------------------------------------------------------- 4
class TestCleanupLogAllForms:
    def test_superseded_versions_lose_every_form(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=10)
        store.overwrite("t", spark.range(0, 20).select(
            F.col("id").alias("k")))
        store.append("t", spark.range(20, 30).select(
            F.col("id").alias("k")))
        tdir = store.path("t")
        log = dl.DeltaLog(tdir)
        v = log.latest_version()
        # three forms at the SAME version
        log.write_checkpoint(v)
        log.write_checkpoint_multipart(v, n_parts=2)
        log.write_checkpoint_v2(v)
        store.append("t", spark.range(30, 40).select(
            F.col("id").alias("k")))
        v2 = dl.DeltaLog(tdir).latest_version()
        dl.DeltaLog(tdir).write_checkpoint(v2)
        dl.DeltaLog(tdir).cleanup_log()
        leftover = [
            f for f in os.listdir(os.path.join(tdir, "_delta_log"))
            if ".checkpoint" in f
            and re.match(r"^0*(\d+)\.", f)
            and int(re.match(r"^0*(\d+)\.", f).group(1)) < v2
        ]
        assert leftover == [], f"stale checkpoint forms: {leftover}"
        # the table still reads fine from the surviving checkpoint
        assert dl.read_delta(spark, tdir).count() == 40
