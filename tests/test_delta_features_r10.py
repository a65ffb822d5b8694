"""Round-10 Delta feature tests: CDF × column mapping, in-commit
timestamps as a declared feature, type widening, liquid clustering.

Contracts under test (delta.io PROTOCOL.md):

* ``table_changes`` serves every batch — pre- and post-rename —
  under the END version's LOGICAL names; metadata-only commits
  contribute no rows;
* in-commit timestamps: explicit ``timestamp_ms`` is stored, a
  past-dated proposal is clamped to ``prev + 1`` (monotonicity),
  ``version_at_timestamp`` resolves against the stored values, and
  the feature + enablement properties are declared;
* type widening: int→long in one metadata commit, old narrow files
  read through the widened schema, narrowings refused,
  ``delta.typeChanges`` recorded;
* liquid clustering: ``set_clustering`` round-trips through the
  domainMetadata action AND through a checkpoint, and ``optimize``
  reads its keys from the log when no engine-local layout exists.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_r10feat_wh"


@pytest.fixture()
def wh():
    shutil.rmtree(WH, ignore_errors=True)
    yield WH
    shutil.rmtree(WH, ignore_errors=True)


def _base(spark, n=80):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("amount")
    )


class TestCdfColumnMapping:
    def test_rename_mid_feed_served_logically(self, spark, wh):
        store = SnapshotStore(
            spark, wh, retain_versions=8, cdf=True
        )
        store.overwrite("t", _base(spark))                      # v0
        store.delete_where("t", "k % 4 = 0")                    # v1
        tdir = store.path("t")
        dl.enable_column_mapping(tdir)                          # v2
        dl.rename_column(tdir, "amount", "value")               # v3
        store.delete_where("t", "k % 9 = 1")                    # v4
        tc = dl.table_changes(spark, tdir, 0, 4)
        assert "value" in tc.columns and "amount" not in tc.columns
        # metadata-only commits contribute nothing
        assert tc.where(F.col("_commit_version").isin(2, 3)).count() == 0
        # pre-rename batches still carry their values, under the new name
        v0 = tc.where("_commit_version = 0")
        assert v0.count() == 80
        assert (
            v0.agg(F.sum("value")).collect()[0][0]
            == sum(i * 10 for i in range(80))
        )
        # post-rename delete rows present
        assert tc.where(
            "_commit_version = 4 AND _change_type = 'delete'"
        ).count() > 0

    def test_range_before_rename_uses_old_logical_names(self, spark, wh):
        store = SnapshotStore(
            spark, wh, retain_versions=8, cdf=True
        )
        store.overwrite("t", _base(spark))
        tdir = store.path("t")
        dl.enable_column_mapping(tdir)
        dl.rename_column(tdir, "amount", "value")
        # end_version BEFORE the rename resolves the old schema
        tc = dl.table_changes(spark, tdir, 0, 0)
        assert "amount" in tc.columns and "value" not in tc.columns


class TestStreamColumnMapping:
    def test_delta_tail_serves_logical_names(self, spark, wh):
        from product_analytics_spark.sources.delta_stream import (
            register_delta_tail,
        )

        store = SnapshotStore(spark, wh, retain_versions=8)
        store.overwrite("t", _base(spark, 40))
        tdir = store.path("t")
        dl.enable_column_mapping(tdir)
        dl.rename_column(tdir, "amount", "value")
        store.append(
            "t",
            spark.range(500, 520)
            .select(F.col("id").alias("k"),
                    (F.col("id") * 10).alias("amount"))
            .repartition(1),
        )
        register_delta_tail(spark)
        sdf = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .load()
        )
        assert "value" in sdf.columns and "amount" not in sdf.columns
        ck = os.path.join(wh, "_ck")
        q = (
            sdf.writeStream.format("memory")
            .queryName("t_map_stream")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT count(*) AS n, sum(value) AS s FROM t_map_stream"
        ).collect()[0]
        assert got.n == 60
        assert got.s == sum(i * 10 for i in range(40)) + sum(
            i * 10 for i in range(500, 520)
        )


class TestInCommitTimestamps:
    def test_enable_clamp_and_resolve(self, spark, wh):
        store = SnapshotStore(spark, wh)
        store.overwrite("t", _base(spark))                      # v0
        tdir = store.path("t")
        v = dl.enable_in_commit_timestamps(tdir)                # v1
        assert v == 1
        log = dl.DeltaLog(tdir)
        snap = log.snapshot()
        conf = snap.metadata["configuration"]
        assert conf["delta.enableInCommitTimestamps"] == "true"
        assert conf["delta.inCommitTimestamps.enablementVersion"] == "1"
        assert "inCommitTimestamp" in snap.protocol["writerFeatures"]
        log.commit([], operation="M", timestamp_ms=99_000)      # v2
        log.commit([], operation="M", timestamp_ms=5)           # v3 clamped
        hist = {h["version"]: h["inCommitTimestamp"] for h in log.history()}
        assert hist[2] == 99_000
        assert hist[3] == 99_001  # monotonic clamp
        assert log.version_at_timestamp(99_000) == 2
        assert log.version_at_timestamp(99_001) == 3
        assert log.version_at_timestamp(500) == 0

    def test_idempotent(self, spark, wh):
        store = SnapshotStore(spark, wh)
        store.overwrite("t", _base(spark))
        tdir = store.path("t")
        dl.enable_in_commit_timestamps(tdir)
        v = dl.DeltaLog(tdir).latest_version()
        dl.enable_in_commit_timestamps(tdir)
        assert dl.DeltaLog(tdir).latest_version() == v


class TestTypeWidening:
    def _build(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=8)
        store.overwrite(
            "t",
            spark.range(0, 60).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("cnt"),
            ),
            n_files=2,
        )
        return store

    def test_widen_read_through(self, spark, wh):
        store = self._build(spark, wh)
        tdir = store.path("t")
        v0_files = set(dl.DeltaLog(tdir).snapshot().files)
        dl.widen_column_type(tdir, "cnt", "long")
        store.append(
            "t",
            spark.range(1000, 1010).select(
                F.col("id").alias("k"),
                (F.lit(3_000_000_000) + F.col("id")).alias("cnt"),
            ).repartition(1),
        )
        snap = dl.DeltaLog(tdir).snapshot()
        assert v0_files <= set(snap.files)  # zero rewrites
        sch = json.loads(snap.metadata["schemaString"])
        fld = next(f for f in sch["fields"] if f["name"] == "cnt")
        assert fld["type"] == "long"
        tc = fld["metadata"]["delta.typeChanges"]
        assert tc[0]["fromType"] == "integer" and tc[0]["toType"] == "long"
        assert "typeWidening" in snap.protocol["readerFeatures"]
        df = dl.read_delta(spark, tdir)
        assert dict(df.dtypes)["cnt"] == "bigint"
        assert df.count() == 70
        assert (
            df.agg(F.sum("cnt")).collect()[0][0]
            == sum(range(60)) + sum(3_000_000_000 + i for i in range(1000, 1010))
        )

    def test_narrowing_refused(self, spark, wh):
        store = self._build(spark, wh)
        tdir = store.path("t")
        dl.widen_column_type(tdir, "cnt", "long")
        with pytest.raises(dl.DeltaProtocolError, match="cannot widen"):
            dl.widen_column_type(tdir, "cnt", "integer")
        with pytest.raises(dl.DeltaProtocolError, match="cannot widen"):
            dl.widen_column_type(tdir, "k", "float")

    def test_idempotent_same_type(self, spark, wh):
        store = self._build(spark, wh)
        tdir = store.path("t")
        dl.widen_column_type(tdir, "cnt", "long")
        v = dl.DeltaLog(tdir).latest_version()
        dl.widen_column_type(tdir, "cnt", "long")
        assert dl.DeltaLog(tdir).latest_version() == v


class TestLiquidClustering:
    def test_set_optimize_and_checkpoint_roundtrip(self, spark, wh):
        store = SnapshotStore(spark, wh, retain_versions=8)
        store.overwrite(
            "t",
            spark.range(0, 4000).select(
                F.col("id").alias("k"),
                ((F.col("id") * 2654435761) % 100_000).alias("v"),
            ),
            n_files=5,
        )
        tdir = store.path("t")
        dl.set_clustering(tdir, ["v"])
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.clustering_columns() == ["v"]
        assert "clustering" in snap.protocol["writerFeatures"]
        res = store.optimize("t", target_bytes=16_000)
        assert res["reclustered"] is True
        snap2 = dl.DeltaLog(tdir).snapshot()
        spans = sorted(
            (
                json.loads(a["stats"])["minValues"]["v"],
                json.loads(a["stats"])["maxValues"]["v"],
            )
            for a in snap2.files.values()
        )
        assert len(spans) > 1
        for (_l1, h1), (l2, _h2) in zip(spans, spans[1:]):
            assert l2 >= h1, "zone maps overlap after recluster"
        # the domain survives a checkpoint + cleanup
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=3)
        log.cleanup_log()
        snap3 = dl.DeltaLog(tdir).snapshot()
        assert snap3.clustering_columns() == ["v"]

    def test_unknown_column_refused(self, spark, wh):
        store = SnapshotStore(spark, wh)
        store.overwrite("t", _base(spark))
        with pytest.raises(dl.DeltaProtocolError, match="not in schema"):
            dl.set_clustering(store.path("t"), ["nope"])
