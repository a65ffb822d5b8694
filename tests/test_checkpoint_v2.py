"""Multi-part and V2 (sidecar) checkpoint tests — Delta PROTOCOL.md
"V2 Checkpoint Table Feature" and the classic
``<v>.checkpoint.<part>.<of>.parquet`` form.

Contract under test:

* a v2 checkpoint = uuid-named manifest (protocol, metaData,
  checkpointMetadata, ``sidecar`` actions) + ``_sidecars/*.parquet``
  shards carrying the add actions; replay = manifest + shards + tail;
* a classic multi-part checkpoint is usable only when ALL parts are
  present — a torn write is ignored, never half-read;
* discovery prefers v2 > multi-part > single-file at one version;
* ``cleanup_log`` drops superseded checkpoints and GC's sidecar
  shards no surviving manifest references;
* ``read_delta`` and ``SnapshotStore.read_pruned`` work unchanged
  over sharded-checkpoint tables (the reader plans from the
  reconstructed snapshot, whatever checkpoint form fed it).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_cp_v2_wh"


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    s = SnapshotStore(spark, WH, retain_versions=10)
    yield s
    shutil.rmtree(WH, ignore_errors=True)


def _build(spark, store, n_appends=3):
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    store.overwrite("t", base, n_files=4)
    for i in range(1, n_appends + 1):
        store.append(
            "t",
            spark.range(1000 * i, 1000 * i + 50)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(2),
        )
    return store.path("t")


class TestV2Checkpoint:
    def test_round_trip_and_tail(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        before = log.snapshot()
        manifest = log.write_checkpoint_v2(max_actions_per_sidecar=3)
        assert dl._CHECKPOINT_V2_RE.match(os.path.basename(manifest))
        side = os.path.join(log.log_dir, dl.SIDECAR_DIR)
        n_shards = len(os.listdir(side))
        # hash-bucket sharding over uuid-named files: bucket count is
        # the next power of two covering ceil(n/cap) (= 4 here), but
        # a bucket can legitimately come up empty (no shard written)
        # — pin the bounds, not a lucky distribution
        assert 1 < n_shards <= 4, n_shards
        # _last_checkpoint carries the v2 pointer
        lc = json.load(
            open(os.path.join(log.log_dir, "_last_checkpoint"))
        )
        assert lc["v2Checkpoint"]["path"] == os.path.basename(manifest)
        # tail commit after the checkpoint
        store.append(
            "t",
            spark.range(9000, 9025)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(1),
        )
        snap = dl.DeltaLog(tdir).snapshot()
        assert len(snap.files) == len(before.files) + 1
        assert snap.metadata and snap.protocol
        assert snap.num_records() == 200 + 3 * 50 + 25
        assert dl.read_delta(spark, tdir).count() == snap.num_records()

    def test_replay_after_cleanup(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        store.append(
            "t",
            spark.range(5000, 5010)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(1),
        )
        removed = log.cleanup_log()
        assert removed == 3  # v0..v2 below the v3 checkpoint
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50 + 10
        # time travel to the checkpoint version still works
        cp_snap = dl.DeltaLog(tdir).snapshot(3)
        assert cp_snap.num_records() == 200 + 3 * 50

    def test_missing_sidecar_raises(self, spark, store):
        tdir = _build(spark, store, n_appends=1)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=1)
        side = os.path.join(log.log_dir, dl.SIDECAR_DIR)
        victim = sorted(os.listdir(side))[0]
        os.unlink(os.path.join(side, victim))
        log.cleanup_log()  # commits below the checkpoint are gone
        # a FRESH reader (no memoized snapshot) must hit the torn
        # checkpoint loudly; the in-process cache legitimately still
        # serves the snapshot it built before the corruption
        dl.clear_snapshot_cache()
        with pytest.raises(dl.DeltaProtocolError, match="sidecar"):
            dl.DeltaLog(tdir).snapshot()

    def test_sidecar_gc_keeps_live_shards(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        side = os.path.join(log.log_dir, dl.SIDECAR_DIR)
        # an orphan shard (crashed checkpoint writer)
        orphan = os.path.join(side, "deadbeef" * 4 + ".parquet")
        shutil.copy(
            os.path.join(side, sorted(os.listdir(side))[0]), orphan
        )
        log.cleanup_log()
        assert not os.path.exists(orphan)
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50

    def test_pruned_read_over_sharded_checkpoint(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        log.cleanup_log()
        kept, total = store.scan_files("t", [("k", ">=", 3000)])
        assert 0 < len(kept) < total
        got = store.read_pruned("t", [("k", ">=", 3000)]).where(
            "k >= 3000"
        )
        assert got.count() == 50  # the 3000-range append only


class TestIncrementalV2:
    def test_append_rewrites_only_touched_buckets(self, spark, store):
        tdir = _build(spark, store, n_appends=3)  # 10 files
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        side = os.path.join(log.log_dir, dl.SIDECAR_DIR)
        before = set(os.listdir(side))
        store.append(
            "t",
            spark.range(7000, 7005)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(1),
        )
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        new = set(os.listdir(side)) - before
        # one appended file lands in exactly one hash bucket
        assert len(new) == 1, f"expected 1 new shard, wrote {len(new)}"
        # replay from the incremental checkpoint alone
        log.cleanup_log()
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50 + 5
        assert dl.read_delta(spark, tdir).count() == snap.num_records()

    def test_same_version_recheckpoint_reuses_all(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        side = os.path.join(log.log_dir, dl.SIDECAR_DIR)
        before = set(os.listdir(side))
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        assert set(os.listdir(side)) == before


class TestMultipartCheckpoint:
    def test_round_trip(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        paths = log.write_checkpoint_multipart(n_parts=3)
        assert len(paths) == 3
        lc = json.load(
            open(os.path.join(log.log_dir, "_last_checkpoint"))
        )
        assert lc["parts"] == 3
        log.cleanup_log()
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50
        assert snap.metadata and snap.protocol

    def test_torn_multipart_is_ignored(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        paths = log.write_checkpoint_multipart(n_parts=3)
        os.unlink(paths[1])
        # discovery must not see the torn group; JSON replay still OK
        assert dl.DeltaLog(tdir)._checkpoint_groups() == []
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50

    def test_v2_preferred_over_v1_at_same_version(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint()  # v1 single-file
        log.write_checkpoint_v2(max_actions_per_sidecar=5)
        groups = dl.DeltaLog(tdir)._checkpoint_groups()
        assert len(groups) == 1 and groups[0][1] == "v2"
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.num_records() == 200 + 3 * 50


class TestV2JsonManifest:
    """Round 11: the protocol's OTHER manifest form — a JSON-lines
    ``<v>.checkpoint.<uuid>.json`` manifest over the same parquet
    sidecar shards. Reconstruction, tail replay, shard reuse across
    formats, and cleanup GC must all be format-agnostic."""

    def test_round_trip_and_tail(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        v = log.latest_version()
        manifest = log.write_checkpoint_v2(v, manifest_format="json")
        assert manifest.endswith(".json")
        assert os.path.basename(manifest).startswith(f"{v:020d}.checkpoint.")
        # raw manifest is commit-shaped JSON lines
        with open(manifest, encoding="utf-8") as fh:
            rows = [json.loads(ln) for ln in fh if ln.strip()]
        assert any("checkpointMetadata" in r for r in rows)
        assert any(
            r.get("sidecar", {}).get("path") for r in rows if "sidecar" in r
        )
        store.append(
            "t",
            spark.range(9000, 9025).select(
                F.col("k") if False else F.col("id").alias("k"),
                (F.col("id") % 7).alias("g"),
            ),
        )
        snap = dl.DeltaLog(tdir).snapshot()
        df = dl.read_delta(spark, tdir)
        assert df.count() == 200 + 3 * 50 + 25
        assert len(snap.files) == len(set(snap.files))

    def test_discovery_and_replay_after_cleanup(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        v = log.latest_version()
        log.write_checkpoint_v2(v, manifest_format="json")
        removed = dl.DeltaLog(tdir).cleanup_log()
        assert removed > 0
        assert dl.read_delta(spark, tdir).count() == 200 + 3 * 50

    def test_shard_reuse_across_formats(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        v = log.latest_version()
        m1 = log.write_checkpoint_v2(v, max_actions_per_sidecar=2)  # parquet
        shards1 = {
            r["sidecar"]["path"]
            for r in dl.DeltaLog._v2_manifest_rows(m1)
            if r.get("sidecar") and r["sidecar"].get("path")
        }
        store.append(
            "t",
            spark.range(5000, 5010)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(1),
        )
        v2 = dl.DeltaLog(tdir).latest_version()
        m2 = dl.DeltaLog(tdir).write_checkpoint_v2(
            v2, max_actions_per_sidecar=2, manifest_format="json"
        )
        shards2 = {
            r["sidecar"]["path"]
            for r in dl.DeltaLog._v2_manifest_rows(m2)
            if r.get("sidecar") and r["sidecar"].get("path")
        }
        # the JSON manifest REUSED the parquet checkpoint's unchanged
        # shards: one small append rewrites at most a few buckets
        assert shards1 & shards2, "no shard reuse across formats"
        assert dl.read_delta(spark, tdir).count() == 200 + 3 * 50 + 10

    def test_sidecar_gc_format_agnostic(self, spark, store):
        tdir = _build(spark, store)
        log = dl.DeltaLog(tdir)
        v = log.latest_version()
        log.write_checkpoint_v2(v, manifest_format="json")
        side_dir = os.path.join(tdir, "_delta_log", dl.SIDECAR_DIR)
        # orphan shard: must be GC'd; live shards must survive
        orphan = os.path.join(side_dir, "deadbeef" * 4 + ".parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"PAR1junkPAR1")
        dl.DeltaLog(tdir).cleanup_log()
        assert not os.path.isfile(orphan)
        assert dl.read_delta(spark, tdir).count() == 200 + 3 * 50
