"""delta_tail admission control (round 11): ``max_files_per_trigger``
caps the data files one micro-batch plans — Delta's maxFilesPerTrigger.
Driven at the reader-object level over a handcrafted log (offset
admission reads only the JSON tail, no Spark needed).
"""

from __future__ import annotations

import os
import shutil

import pytest

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.delta_stream import (
    DeltaTailStreamReader,
)

TDIR = "/tmp/pa_test_ratelimit/t"

SCHEMA = (
    '{"type":"struct","fields":[{"name":"k","type":"long",'
    '"nullable":true,"metadata":{}}]}'
)


@pytest.fixture()
def tdir():
    shutil.rmtree("/tmp/pa_test_ratelimit", ignore_errors=True)
    os.makedirs(TDIR, exist_ok=True)
    log = dl.DeltaLog(TDIR)
    log.commit(
        [
            {"protocol": dict(dl.PROTOCOL_ACTION)},
            {"metaData": dl.make_metadata(SCHEMA, [])},
            _add("f0a"), _add("f0b"),
        ],
        version=0,
    )
    for v in range(1, 5):  # v1..v4: 2 files each
        log.commit([_add(f"f{v}a"), _add(f"f{v}b")], version=v)
    yield TDIR
    shutil.rmtree("/tmp/pa_test_ratelimit", ignore_errors=True)


def _add(name: str) -> dict:
    return {
        "add": {
            "path": name + ".parquet",
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
            "stats": '{"numRecords":1,"minValues":{"k":1},'
            '"maxValues":{"k":1},"nullCount":{"k":0}}',
        }
    }


def _drain_offsets(reader) -> list[tuple[int, int]]:
    """Simulate the engine's trigger loop: latestOffset → batch
    [pos, end) → commit, until no progress. Returns batch ranges."""
    batches = []
    start = reader.initialOffset()["version"]
    for _ in range(50):
        end = reader.latestOffset()["version"]
        if end <= start:
            break
        reader.partitions({"version": start}, {"version": end})
        reader.commit({"version": end})
        batches.append((start, end))
        start = end
    return batches


def test_unlimited_is_one_batch(tdir):
    r = DeltaTailStreamReader({"path": tdir})
    assert _drain_offsets(r) == [(0, 5)]


def test_cap_pages_through_the_tail(tdir):
    # 2 files per commit, cap 2 -> one commit per trigger
    r = DeltaTailStreamReader(
        {"path": tdir, "max_files_per_trigger": "2"}
    )
    assert _drain_offsets(r) == [(v, v + 1) for v in range(5)]


def test_cap_spanning_commits(tdir):
    # cap 4 admits two 2-file commits per trigger
    r = DeltaTailStreamReader(
        {"path": tdir, "max_files_per_trigger": "4"}
    )
    assert _drain_offsets(r) == [(0, 2), (2, 4), (4, 5)]


def test_oversized_commit_admitted_alone(tdir):
    log = dl.DeltaLog(tdir)
    log.commit([_add(f"big{i}") for i in range(6)], version=5)
    r = DeltaTailStreamReader(
        {"path": tdir, "max_files_per_trigger": "3"}
    )
    batches = _drain_offsets(r)
    # v0+v1 (4 files > 3? no: v0=2 <=3 budget 1, v1 cost 2 > 1 -> stop)
    assert batches[0] == (0, 1)
    assert (5, 6) in batches  # the 6-file commit still flows, alone
    assert batches[-1][1] == 6


def test_restart_with_checkpoint_then_capped(tdir):
    """A restarted reader (no initialOffset) learns its position from
    the engine's first partitions() call; admission is capped from
    the NEXT trigger on — and never regresses below the checkpoint."""
    r = DeltaTailStreamReader(
        {"path": tdir, "max_files_per_trigger": "2"}
    )
    # engine replays the checkpointed batch [2, 3) directly
    r.partitions({"version": 2}, {"version": 3})
    r.commit({"version": 3})
    end = r.latestOffset()["version"]
    assert end == 4  # capped: one 2-file commit past position 3
    r.partitions({"version": 3}, {"version": 4})
    r.commit({"version": 4})
    assert r.latestOffset()["version"] == 5


def test_cdf_stream_respects_cap(spark):
    """Composition: read_change_feed × max_files_per_trigger — the
    CDF stream pages through pending DML commits in bounded batches
    and the concatenated feed equals the unlimited one."""
    from product_analytics_spark.sources.sinks import SnapshotStore
    from pyspark.sql import functions as F

    wh = "/tmp/pa_test_ratelimit_cdf"
    shutil.rmtree(wh, ignore_errors=True)
    store = SnapshotStore(spark, wh, retain_versions=10,
                          cdf=True)
    store.overwrite(
        "t", spark.range(0, 20).select(F.col("id").alias("k"))
    )
    for lo in (20, 30, 40):
        store.append(
            "t",
            spark.range(lo, lo + 10).select(F.col("id").alias("k"))
            .repartition(1),
        )
    tdir = store.path("t")
    capped = DeltaTailStreamReader(
        {"path": tdir, "read_change_feed": "true",
         "max_files_per_trigger": "1"}
    )
    batches = _drain_offsets(capped)
    assert len(batches) >= 3, batches  # paged, not one giant batch
    free = DeltaTailStreamReader(
        {"path": tdir, "read_change_feed": "true"}
    )
    assert _drain_offsets(free)[-1][1] == batches[-1][1]
    shutil.rmtree(wh, ignore_errors=True)


# ------------------------------------------------- maxBytesPerTrigger


def _add_sized(name: str, size: int) -> dict:
    a = _add(name)
    a["add"]["size"] = size
    return a


@pytest.fixture()
def tdir_sized():
    """v0: 2×10 B, v1: 1×100 B, v2: 4×5 B, v3: 1×1000 B (oversized),
    v4: 2×10 B — a mixed small/large-file tail, the case a file-count
    cap mis-admits both ways."""
    shutil.rmtree("/tmp/pa_test_ratelimit", ignore_errors=True)
    os.makedirs(TDIR, exist_ok=True)
    log = dl.DeltaLog(TDIR)
    log.commit(
        [
            {"protocol": dict(dl.PROTOCOL_ACTION)},
            {"metaData": dl.make_metadata(SCHEMA, [])},
            _add_sized("f0a", 10), _add_sized("f0b", 10),
        ],
        version=0,
    )
    log.commit([_add_sized("f1a", 100)], version=1)
    log.commit([_add_sized(f"f2{c}", 5) for c in "abcd"], version=2)
    log.commit([_add_sized("f3a", 1000)], version=3)
    log.commit([_add_sized("f4a", 10), _add_sized("f4b", 10)], version=4)
    yield TDIR
    shutil.rmtree("/tmp/pa_test_ratelimit", ignore_errors=True)


def test_byte_cap_pages_by_bytes_not_count(tdir_sized):
    # 120 B budget: v0 (20) + v1 (100) fill it exactly; v2's 4 small
    # files (20 B) ride the next trigger — a 4-file commit a
    # file-count cap of 2 would have stalled on
    r = DeltaTailStreamReader(
        {"path": tdir_sized, "max_bytes_per_trigger": "120"}
    )
    batches = _drain_offsets(r)
    assert batches[0] == (0, 2)
    assert (3, 4) in batches  # the 1000 B commit flows ALONE
    assert batches[-1][1] == 5  # position reaches the head, never regresses
    assert all(b[1] > b[0] for b in batches)


def test_byte_cap_oversized_commit_admitted_alone(tdir_sized):
    r = DeltaTailStreamReader(
        {"path": tdir_sized, "max_bytes_per_trigger": "50"}
    )
    batches = _drain_offsets(r)
    # v0 (20B) admitted, v1 (100B) > remaining -> stop; v1 alone next
    assert batches[0] == (0, 1)
    assert (1, 2) in batches
    assert (3, 4) in batches
    assert batches[-1][1] == 5


def test_files_and_bytes_caps_compose(tdir_sized):
    # whichever budget trips first binds: byte cap would admit v0+v1
    # (120 B) but the 2-file cap stops after v0's two files
    r = DeltaTailStreamReader(
        {"path": tdir_sized, "max_bytes_per_trigger": "120",
         "max_files_per_trigger": "2"}
    )
    batches = _drain_offsets(r)
    assert batches[0] == (0, 1)
    # and the file cap alone would admit v1+v2 (5 files? no: v1 is 1
    # file, v2 is 4 files > remaining 1) — bytes bind there instead
    assert batches[-1][1] == 5
