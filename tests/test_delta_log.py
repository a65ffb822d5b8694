"""Delta transaction-log protocol tests (sources/delta_log.py + the
SnapshotStore log-commit integration).

The reference materializes with ``file_format: delta``
(dbt_project.yml:39); this suite certifies the pure-Python log:

* lifecycle round-trip — overwrite / merge / COW delete / OPTIMIZE all
  produce protocol-conformant commits whose reconstructed snapshot
  matches the table exactly (rows AND per-file stats totals);
* crash consistency — a partial commit is never visible (putIfAbsent
  via hardlink), version conflicts raise, reconstruction rejects gaps;
* ZERO-footer-open planning — scan plans come from log stats alone
  (pyarrow footer reads are monkeypatched to explode during planning);
* checkpoint round-trip — snapshot from parquet checkpoint + JSON tail
  equals snapshot from full JSON replay;
* stats soundness — pruning never drops a file that holds matching
  rows (superset guarantee), verified against brute-force reads.
"""

from __future__ import annotations

import json
import os

import pytest

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.delta_log import (
    DeltaConflictError,
    DeltaLog,
    DeltaProtocolError,
    read_delta,
)
from product_analytics_spark.sources.sinks import SnapshotStore


def _store(spark, tmp_path, **kw):
    kw.setdefault("retain_versions", 5)
    kw.setdefault("delta_log", True)
    return SnapshotStore(spark, str(tmp_path / "wh"), **kw)


def _commits(table_dir):
    log_dir = os.path.join(table_dir, "_delta_log")
    out = {}
    for f in sorted(os.listdir(log_dir)):
        if f.endswith(".json") and not f.startswith("_"):
            acts = [
                json.loads(ln)
                for ln in open(os.path.join(log_dir, f), encoding="utf-8")
            ]
            out[int(f[:20])] = acts
    return out


class TestLifecycle:
    def test_full_lifecycle_round_trip(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        df = spark.range(400).selectExpr(
            "id AS k", "id % 5 AS seg", "CAST(id * 2.0 AS DOUBLE) AS val"
        )
        store.overwrite("t", df, cluster_by=("k",), n_files=4)
        store.merge(
            "t",
            spark.range(40).selectExpr(
                "id + 380 AS k", "id % 5 AS seg", "CAST(0.0 AS DOUBLE) AS val"
            ),
            "k",
        )
        store.delete_where("t", "k % 7 = 0")
        store.optimize("t")

        log = DeltaLog(store.path("t"))
        assert log.latest_version() == 3
        snap = log.snapshot()
        # metadata-only count == actual count (Delta's fast count path)
        assert snap.num_records() == store.read("t").count()
        # live set is exactly the current data dir
        data = store.current_data_dir("t")
        on_disk = {
            os.path.relpath(os.path.join(r, f), store.path("t"))
            for r, _d, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        }
        assert set(snap.files) == on_disk
        # protocol + metaData present in commit 0
        c0 = _commits(store.path("t"))[0]
        kinds = [list(a)[0] for a in c0]
        assert "protocol" in kinds and "metaData" in kinds
        meta = next(a["metaData"] for a in c0 if "metaData" in a)
        assert json.loads(meta["schemaString"])["type"] == "struct"

    def test_read_delta_consumes_log_only(self, spark, tmp_path):
        """read_delta loads from the log's live set — rows identical
        to the pointer read, proving an independent consumer works."""
        store = _store(spark, tmp_path)
        df = spark.range(300).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS b", "id * 10 AS v"
        )
        store.overwrite("t", df, partition_by=("b",))
        store.delete_where("t", "b = '1'")
        got = read_delta(spark, store.path("t"))
        exp = store.read("t")
        assert sorted(
            (r.k, str(r.b), r.v) for r in got.collect()
        ) == sorted((r.k, str(r.b), r.v) for r in exp.collect())

    def test_time_travel_via_log(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(100).selectExpr("id AS k"))
        store.delete_where("t", "k >= 50")
        log = DeltaLog(store.path("t"))
        assert log.snapshot(0).num_records() == 100
        assert log.snapshot(1).num_records() == 50
        # data files of v0 are retained (retain_versions=5), readable
        v0_files = [
            os.path.join(store.path("t"), p)
            for p in log.snapshot(0).plan_files()
        ]
        assert spark.read.parquet(*v0_files).count() == 100

    def test_append_commits_adds_only(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(10).selectExpr("id AS k"))
        store.append("t", spark.range(5).selectExpr("id + 100 AS k"))
        commits = _commits(store.path("t"))
        kinds1 = [list(a)[0] for a in commits[1]]
        assert "remove" not in kinds1 and kinds1.count("add") >= 1
        assert DeltaLog(store.path("t")).snapshot().num_records() == 15

    def test_schema_evolution_reemits_metadata(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(10).selectExpr("id AS k"))
        store.overwrite(
            "t", spark.range(10).selectExpr("id AS k", "id * 2 AS extra")
        )
        commits = _commits(store.path("t"))
        metas = [
            a["metaData"] for acts in commits.values() for a in acts
            if "metaData" in a
        ]
        assert len(metas) == 2
        # same table id across schema changes, new schemaString
        assert metas[0]["id"] == metas[1]["id"]
        fields1 = [
            f["name"] for f in json.loads(metas[1]["schemaString"])["fields"]
        ]
        assert "extra" in fields1


class TestCrashAndConflict:
    def test_putifabsent_conflict_raises(self, tmp_path):
        log = DeltaLog(str(tmp_path))
        log.commit([{"add": {"path": "a.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 0,
                             "dataChange": True}}])
        with pytest.raises(DeltaConflictError):
            log.commit([{"remove": dl.make_remove("a.parquet")}], version=0)
        # retry at the next version succeeds
        log.commit([{"remove": dl.make_remove("a.parquet")}])
        assert log.latest_version() == 1

    def test_partial_commit_never_visible(self, tmp_path, monkeypatch):
        """Crash between temp write and link: no commit file appears,
        and the next writer takes the same version untroubled."""
        log = DeltaLog(str(tmp_path))

        real_link = os.link

        def boom(src, dst, **kw):
            raise RuntimeError("crash before link")

        monkeypatch.setattr(os, "link", boom)
        with pytest.raises(RuntimeError, match="crash"):
            log.commit([{"add": {"path": "x", "partitionValues": {},
                                 "size": 1, "modificationTime": 0,
                                 "dataChange": True}}])
        monkeypatch.setattr(os, "link", real_link)
        assert log.latest_version() is None  # nothing visible
        v = log.commit([{"add": {"path": "x", "partitionValues": {},
                                 "size": 1, "modificationTime": 0,
                                 "dataChange": True}}])
        assert v == 0

    def test_version_gap_rejected(self, tmp_path):
        log = DeltaLog(str(tmp_path))
        log.commit([{"protocol": dict(dl.PROTOCOL_ACTION)}])
        # fabricate a gap: version 2 without version 1
        log.commit([{"remove": dl.make_remove("nope")}], version=2)
        with pytest.raises(DeltaProtocolError, match="gap"):
            log.snapshot()

    def test_occ_loser_leaves_no_delta_commit(self, spark, tmp_path):
        """An overwrite that loses the pointer OCC race must not have
        emitted a delta commit either (the delta commit happens after
        the conflict check, inside the same locked section)."""
        from product_analytics_spark.sources.sinks import (
            ConcurrentWriteError,
        )

        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(10).selectExpr("id AS k"))
        v0 = store.current_version("t")
        store.overwrite("t", spark.range(20).selectExpr("id AS k"))
        with pytest.raises(ConcurrentWriteError):
            store.overwrite(
                "t",
                spark.range(5).selectExpr("id AS k"),
                expected_version=v0,
            )
        log = DeltaLog(store.path("t"))
        assert log.latest_version() == 1  # only the two winners
        assert log.snapshot().num_records() == 20


class TestZeroFooterPlanning:
    def test_plan_files_opens_no_footers(self, spark, tmp_path, monkeypatch):
        """The whole point of log stats: planning decisions come from
        the log, not from parquet footers. Footer reads explode here."""
        store = _store(spark, tmp_path)
        df = spark.range(10_000).selectExpr("id AS k", "id % 13 AS m")
        store.overwrite("t", df, cluster_by=("k",), n_files=8)

        import pyarrow.parquet as pq

        def boom(*a, **kw):
            raise AssertionError("parquet footer opened during planning")

        monkeypatch.setattr(pq, "ParquetFile", boom)
        monkeypatch.setattr(pq, "read_schema", boom)
        monkeypatch.setattr(pq, "read_table", boom)
        monkeypatch.setattr(pq, "read_metadata", boom)

        kept, total = store.scan_files("t", [("k", "<", 1250)])
        assert total == 8
        assert 1 <= len(kept) <= 2  # clustered: bottom eighth + boundary

    def test_pruned_read_is_superset_and_filter_exact(
        self, spark, tmp_path
    ):
        store = _store(spark, tmp_path)
        df = spark.range(5_000).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) / 100.0 AS price"
        )
        store.overwrite("t", df, cluster_by=("k",), n_files=10)
        for lo, hi in [(0, 499), (2000, 2200), (4900, 4999)]:
            kept, total = store.scan_files("t", [("k", "between", (lo, hi))])
            assert total == 10
            assert len(kept) <= 3  # clustered: the range spans ≤2 files
            pruned = store.read_pruned(
                "t", [("k", "between", (lo, hi))]
            ).where(f"k BETWEEN {lo} AND {hi}")
            exp = store.read("t").where(f"k BETWEEN {lo} AND {hi}")
            assert pruned.count() == exp.count() == hi - lo + 1

    def test_all_null_column_prunes(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        df = spark.sql(
            "SELECT id AS k, CAST(NULL AS INT) AS dead "
            "FROM range(100)"
        )
        store.overwrite("t", df, n_files=1)
        kept, total = store.scan_files("t", [("dead", "=", 5)])
        assert total == 1 and kept == []  # nullCount == numRecords

    def test_missing_stats_keeps_file(self, spark, tmp_path):
        """Conservative fallback: a file without stats is never pruned."""
        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(10).selectExpr("id AS k"))
        log = DeltaLog(store.path("t"))
        snap = log.snapshot()
        for add in snap.files.values():
            add.pop("stats", None)
        assert snap.plan_files([("k", "=", 99999)]) == sorted(snap.files)


class TestCheckpoint:
    def test_checkpoint_round_trip(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        store.overwrite(
            "t",
            spark.range(50).selectExpr(
                "id AS k", "CAST(id % 2 AS STRING) AS p"
            ),
            partition_by=("p",),
        )
        for i in range(3):
            store.delete_where("t", f"k % 17 = {i}")
        log = DeltaLog(store.path("t"))
        full = log.snapshot()
        cp = log.write_checkpoint()
        assert os.path.isfile(cp)
        lc = json.load(
            open(os.path.join(log.log_dir, "_last_checkpoint"))
        )
        assert lc["version"] == full.version
        # one more commit after the checkpoint, then reconstruct
        store.delete_where("t", "k % 17 = 3")
        snap2 = log.snapshot()
        # rebuild ignoring the checkpoint: replay all JSON
        import shutil as _sh

        scratch = tmp_path / "nocp"
        _sh.copytree(store.path("t"), scratch)
        for f in os.listdir(scratch / "_delta_log"):
            if "checkpoint" in f or f == "_last_checkpoint":
                os.unlink(scratch / "_delta_log" / f)
        snap_nocp = DeltaLog(str(scratch)).snapshot()
        assert snap2.version == snap_nocp.version
        assert set(snap2.files) == set(snap_nocp.files)
        assert snap2.num_records() == snap_nocp.num_records()
        assert snap2.metadata.get("partitionColumns") == ["p"]

    def test_auto_checkpoint_every_interval(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        store.overwrite("t", spark.range(30).selectExpr("id AS k"))
        for i in range(9):
            store.delete_where("t", f"k = {i}")
        log = DeltaLog(store.path("t"))
        assert log.latest_version() == 9
        cps = [
            f for f in os.listdir(log.log_dir) if "checkpoint" in f
        ]
        assert any(f.startswith("0" * 11) for f in cps)  # v9 checkpoint
        assert log.snapshot().num_records() == 21


class TestStatsContent:
    def test_file_stats_match_actual_minmax(self, spark, tmp_path):
        store = _store(spark, tmp_path)
        df = spark.range(1000).selectExpr(
            "id AS k",
            "CAST(id AS DOUBLE) * 0.5 AS d",
            "concat('s', lpad(CAST(id AS STRING), 4, '0')) AS s",
            "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS nullable_k",
        )
        store.overwrite("t", df, cluster_by=("k",), n_files=4)
        snap = DeltaLog(store.path("t")).snapshot()
        total_nulls = 0
        for rel, add in snap.files.items():
            st = json.loads(add["stats"])
            actual = spark.read.parquet(
                os.path.join(store.path("t"), rel)
            ).selectExpr(
                "min(k)", "max(k)", "min(d)", "max(d)",
                "min(s)", "max(s)", "count(*)",
                "sum(CASE WHEN nullable_k IS NULL THEN 1 ELSE 0 END)",
            ).collect()[0]
            assert st["minValues"]["k"] == actual[0]
            assert st["maxValues"]["k"] == actual[1]
            assert st["minValues"]["d"] == actual[2]
            assert st["maxValues"]["d"] == actual[3]
            assert st["minValues"]["s"] == actual[4]
            assert st["maxValues"]["s"] == actual[5]
            assert st["numRecords"] == actual[6]
            assert st["nullCount"]["nullable_k"] == actual[7]
            total_nulls += st["nullCount"]["nullable_k"]
        assert total_nulls == 100

    def test_cow_hardlinks_reuse_stats(self, spark, tmp_path):
        """Untouched COW files keep their prior add's stats verbatim
        (same inode ⇒ no footer re-read) under the NEW path."""
        store = _store(spark, tmp_path)
        df = spark.range(1000).selectExpr("id AS k", "id % 10 AS m")
        store.overwrite("t", df, cluster_by=("k",), n_files=4)
        log = DeltaLog(store.path("t"))
        before = {
            json.loads(a["stats"])["minValues"]["k"]: a["stats"]
            for a in log.snapshot().files.values()
        }
        res = store.delete_where("t", "k >= 900")  # touches last file(s)
        assert res["files_linked"] >= 2
        after = log.snapshot()
        reused = 0
        for a in after.files.values():
            st = json.loads(a["stats"])
            if st["minValues"]["k"] in before and a["stats"] == before[
                st["minValues"]["k"]
            ]:
                reused += 1
        assert reused >= res["files_linked"]


class TestConvertAndRetention:
    def test_convert_to_delta_then_consume(self, spark, tmp_path):
        from product_analytics_spark.sources.delta_log import (
            convert_to_delta,
        )

        table = str(tmp_path / "plain")
        df = spark.range(200).selectExpr(
            "id AS k", "CAST(id % 4 AS STRING) AS p", "id * 3 AS v"
        )
        df.repartition("p").write.partitionBy("p").parquet(table)
        v = convert_to_delta(spark, table)
        assert v == 0
        log = DeltaLog(table)
        snap = log.snapshot()
        assert snap.num_records() == 200
        assert snap.metadata["partitionColumns"] == ["p"]
        back = read_delta(spark, table)
        assert back.count() == 200
        assert sorted(r.k for r in back.collect()) == list(range(200))
        # partition pruning from the converted log's partitionValues
        kept = snap.plan_files([("p", "=", "2")])
        assert 0 < len(kept) < len(snap.files)
        # double conversion refused
        with pytest.raises(DeltaProtocolError, match="already"):
            convert_to_delta(spark, table)

    def test_cleanup_log_and_vacuum_preserve_head(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh"), retain_versions=2
        )
        store.overwrite("t", spark.range(120).selectExpr("id AS k"))
        for i in range(1, 11):  # v1..v10, checkpoint at v9
            store.delete_where("t", f"k = {i}")
        log = DeltaLog(store.path("t"))
        before = log.snapshot()
        removed = log.cleanup_log()
        assert removed == 9  # v0..v8 dropped, checkpoint+tail remain
        vacuumed = log.vacuum()
        assert vacuumed  # the superseded version dir's files
        after = log.snapshot()
        assert after.version == before.version == 10
        assert set(after.files) == set(before.files)
        assert after.num_records() == before.num_records() == 110
        # head read still works after vacuum (hardlinked content kept)
        assert store.read("t").count() == 110
        # vacuumed files are gone from disk
        for rel in vacuumed:
            assert not os.path.exists(os.path.join(store.path("t"), rel))

    def test_cleanup_log_noop_without_checkpoint(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh2")
        )
        store.overwrite("t", spark.range(5).selectExpr("id AS k"))
        log = DeltaLog(store.path("t"))
        assert log.cleanup_log() == 0
        assert log.latest_version() == 0


# ------------------------------------------------------- checksum (.crc)


def test_checksum_written_and_validates(spark, tmp_path):
    from product_analytics_spark.sources.sinks import SnapshotStore

    wh = str(tmp_path / "wh")
    st = SnapshotStore(spark, wh, retain_versions=5)
    df = spark.range(0, 30).selectExpr("id AS k", "id * 2 AS v")
    st.overwrite("t", df)
    st.append("t", spark.range(30, 40).selectExpr("id AS k", "id * 2 AS v"))
    log = dl.DeltaLog(st.path("t"))
    for v in range(log.latest_version() + 1):
        assert os.path.isfile(log._crc_path(v))
        assert log.validate_checksum(v) is True
    import json as _json

    crc = _json.loads(open(log._crc_path(1), encoding="utf-8").read())
    assert crc["numRecords"] == 40
    assert crc["numFiles"] == len(log.snapshot().files)
    assert crc["tableSizeBytes"] > 0


def test_checksum_tamper_raises(spark, tmp_path):
    from product_analytics_spark.sources.sinks import SnapshotStore

    wh = str(tmp_path / "wh")
    st = SnapshotStore(spark, wh, retain_versions=5)
    st.overwrite("t", spark.range(0, 10).selectExpr("id AS k"))
    log = dl.DeltaLog(st.path("t"))
    import json as _json

    p = log._crc_path(0)
    body = _json.loads(open(p, encoding="utf-8").read())
    body["tableSizeBytes"] += 1
    open(p, "w", encoding="utf-8").write(_json.dumps(body))
    with pytest.raises(dl.DeltaProtocolError, match="checksum mismatch"):
        log.validate_checksum(0)


def test_cleanup_log_removes_crc_sidecars(spark, tmp_path):
    from product_analytics_spark.sources.sinks import SnapshotStore

    wh = str(tmp_path / "wh")
    st = SnapshotStore(spark, wh, retain_versions=15)
    st.overwrite("t", spark.range(0, 5).selectExpr("id AS k"))
    for i in range(11):  # cross the checkpoint interval
        st.append(
            "t", spark.range(10 * (i + 1), 10 * (i + 1) + 2).selectExpr("id AS k")
        )
    log = dl.DeltaLog(st.path("t"))
    removed = log.cleanup_log()
    assert removed > 0
    cps = log._checkpoints()
    cutoff = cps[-1][0]
    for v in range(cutoff):
        assert not os.path.isfile(log._crc_path(v)), v
    # surviving versions keep theirs and still validate
    assert log.validate_checksum(log.latest_version()) is True
