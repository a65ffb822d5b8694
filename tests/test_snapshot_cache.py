"""Snapshot memoization (round-11 perf fix, VERDICT r10 item 1).

Contract: commit files are immutable once hardlinked, so a snapshot
at a version is fully determined by its head commit file's identity —
repeated ``snapshot()`` / ``read_delta`` / ``history`` calls replay
the checkpoint + JSON tail from disk ONCE per version, not per call.
A new commit is a new cache key (no stale reads); a recreated table
at the same path is a new inode (no aliasing); callers mutating the
returned object never poison the cache.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_snapcache_wh"


@pytest.fixture()
def wh():
    shutil.rmtree(WH, ignore_errors=True)
    yield WH
    shutil.rmtree(WH, ignore_errors=True)


def _mk(spark, wh, n=40):
    store = SnapshotStore(spark, wh, retain_versions=10)
    store.overwrite(
        "t", spark.range(0, n).select(F.col("id").alias("k"))
    )
    return store


def test_one_reconstruction_per_version(spark, wh):
    store = _mk(spark, wh)
    tdir = store.path("t")
    dl.read_delta(spark, tdir).count()  # warm: first replay
    dl.snapshot_cache_stats(reset=True)
    for _ in range(5):
        assert dl.read_delta(spark, tdir).count() == 40
    st = dl.snapshot_cache_stats()
    assert st["misses"] == 0, f"re-reconstructed a cached version: {st}"
    assert st["hits"] >= 5


def test_new_commit_is_a_new_key(spark, wh):
    store = _mk(spark, wh)
    tdir = store.path("t")
    assert dl.read_delta(spark, tdir).count() == 40
    store.append("t", spark.range(40, 50).select(F.col("id").alias("k")))
    # must NOT be stale — the commit is a new head file, new key.
    # (The commit path itself may have warmed the cache via its
    # post-commit checksum snapshot; hit vs miss is not the contract,
    # freshness is.)
    assert dl.read_delta(spark, tdir).count() == 50
    assert (
        dl.DeltaLog(tdir).snapshot().version
        == dl.DeltaLog(tdir).latest_version()
    )


def test_time_travel_versions_cached_independently(spark, wh):
    store = _mk(spark, wh)
    tdir = store.path("t")
    store.append("t", spark.range(40, 50).select(F.col("id").alias("k")))
    log = dl.DeltaLog(tdir)
    v = log.latest_version()
    assert dl.read_delta(spark, tdir, version=v - 1).count() == 40
    assert dl.read_delta(spark, tdir, version=v).count() == 50
    dl.snapshot_cache_stats(reset=True)
    assert dl.read_delta(spark, tdir, version=v - 1).count() == 40
    assert dl.read_delta(spark, tdir, version=v).count() == 50
    assert dl.snapshot_cache_stats()["misses"] == 0


def test_recreated_table_never_aliases(spark, wh):
    store = _mk(spark, wh, n=40)
    tdir = store.path("t")
    assert dl.read_delta(spark, tdir).count() == 40
    # destroy and rebuild the SAME path with different content
    shutil.rmtree(wh, ignore_errors=True)
    store2 = SnapshotStore(spark, wh, retain_versions=10)
    store2.overwrite(
        "t", spark.range(0, 7).select(F.col("id").alias("k"))
    )
    assert dl.read_delta(spark, store2.path("t")).count() == 7


def test_caller_mutation_does_not_poison(spark, wh):
    store = _mk(spark, wh)
    tdir = store.path("t")
    log = dl.DeltaLog(tdir)
    s1 = log.snapshot()
    n = len(s1.files)
    s1.files.clear()
    s1.metadata["configuration"] = {"hacked": "true"}
    s2 = dl.DeltaLog(tdir).snapshot()
    assert len(s2.files) == n
    assert (s2.metadata.get("configuration") or {}).get("hacked") is None


def test_inner_add_mutation_does_not_poison(spark, wh):
    """Round-11 verdict hardening: copy discipline for the INNER add
    dicts is no longer convention-only — a caller assigning into a
    returned add (``add["stats"] = ...``) must not corrupt the
    module-wide cache."""
    store = _mk(spark, wh)
    tdir = store.path("t")
    s1 = dl.DeltaLog(tdir).snapshot()
    rel = next(iter(s1.files))
    orig_stats = s1.files[rel].get("stats")
    s1.files[rel]["stats"] = '{"numRecords":0}'   # in-place poison try
    s1.files[rel]["deletionVector"] = {"fake": True}
    s2 = dl.DeltaLog(tdir).snapshot()
    assert s2.files[rel].get("stats") == orig_stats
    assert s2.files[rel].get("deletionVector") is None
    # domains too
    if s2.domains:
        d = next(iter(s2.domains))
        s2.domains[d]["configuration"] = "poisoned"
        s3 = dl.DeltaLog(tdir).snapshot()
        assert s3.domains[d]["configuration"] != "poisoned"


def test_mutation_canary_across_dml_lifecycle(spark, wh):
    """Canary for NESTED sharing (partitionValues/deletionVector stay
    shared between cache and returned copies for cost): drive every
    DML family and verify the cached entries' deep fingerprints never
    change between store-time and a later hit — i.e. no engine code
    path mutates a cached add in place."""
    import json as _json

    store = SnapshotStore(spark, WH, retain_versions=10)
    store.overwrite("t", spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
    ), partition_by=("p",))
    tdir = store.path("t")

    def _fp_all() -> dict:
        """version -> deep fingerprint of the CACHED snapshot."""
        out = {}
        log = dl.DeltaLog(tdir)
        for v in range(log.latest_version() + 1):
            s = log.snapshot(v)
            out[v] = _json.dumps(
                {"f": s.files, "m": s.metadata, "d": s.domains},
                sort_keys=True, default=str,
            )
        return out

    before = _fp_all()
    # every DML family, each of which reads cached snapshots
    store.append("t", spark.range(100, 110).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p")))
    store.delete_where("t", "k % 7 = 1")
    store.update_where("t", "k % 7 = 2", {"k": "k + 1000"})
    store.delete_where_mor("t", "k % 7 = 3")
    store.compact("t")
    store.restore("t", 0)
    after = _fp_all()
    for v, fp in before.items():
        assert after[v] == fp, f"cached snapshot v{v} mutated in place"
