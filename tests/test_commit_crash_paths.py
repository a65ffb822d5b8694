"""Crash-path property tests for the two commit protocols.

The docstrings of ``SnapshotStore._commit`` (sources/sinks.py) and
``JsonlWriter.commit`` (sources/pyds.py) claim atomicity: a failure at
ANY point before the commit's single atomic step (the ``_delta_log``
putIfAbsent for the store, a rename for the writer) must leave readers
on the prior version with no partial output visible. These tests
inject the failure instead of assuming it.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.pyds import JsonlWriter
from product_analytics_spark.sources.sinks import (
    ConcurrentWriteError,
    SnapshotStore,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _Boom(RuntimeError):
    pass


class TestSnapshotStoreCrashPaths:
    def test_crash_after_staging_before_commit(self, spark, tmp_path):
        """A fully-written but uncommitted version dir is invisible."""
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        store.overwrite("t", v1)
        before = _rows(store.read("t"))

        v2 = spark.createDataFrame([(9, "z")], "k int, v string")
        staged = store._write_version("t", v2)  # crash here: no _commit
        assert os.path.isdir(os.path.join(store.path("t"), staged))
        assert _rows(store.read("t")) == before
        assert staged not in store.versions("t")  # never logged = never committed

    def test_crash_inside_commit_before_pointer_swap(
        self, spark, tmp_path, monkeypatch
    ):
        """The log's putIfAbsent is the commit point — dying on it
        (version dir written, log entry not linked) must leave the
        prior version readable and the store retryable."""
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        v1 = spark.createDataFrame([(1, "a")], "k int, v string")
        store.overwrite("t", v1)
        before = _rows(store.read("t"))

        def exploding_put(self, log_dir, version, payload):
            raise _Boom("crash at the commit point")

        v2 = spark.createDataFrame([(2, "b")], "k int, v string")
        monkeypatch.setattr(
            dl.FileSystemCommitOwner, "put_if_absent", exploding_put
        )
        with pytest.raises(_Boom):
            store.overwrite("t", v2)
        monkeypatch.undo()

        # Reader still on v1; the staged dir is gone, not state.
        assert _rows(store.read("t")) == before
        assert [
            e for e in os.listdir(store.path("t")) if e.startswith("v_")
        ] == [store.current_version("t")]
        # And the store recovers: a clean retry commits v2.
        store.overwrite("t", v2)
        assert _rows(store.read("t")) == [(2, "b")]

    def test_merge_crash_preserves_prior_snapshot(
        self, spark, tmp_path, monkeypatch
    ):
        """merge() = read prev + overwrite; a crash during its commit
        leaves the pre-merge snapshot intact (no torn merge)."""
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        store.overwrite("t", base)

        def exploding_put(self, log_dir, version, payload):
            raise _Boom()

        batch = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
        monkeypatch.setattr(
            dl.FileSystemCommitOwner, "put_if_absent", exploding_put
        )
        with pytest.raises(_Boom):
            store.merge("t", batch, key="k")
        monkeypatch.undo()
        assert _rows(store.read("t")) == [(1, "a"), (2, "b")]


class TestLogIsTheOnlyCommitPoint:
    """A refused or lost ``_delta_log`` commit must leave the table
    exactly as it was for EVERY reader: ``store.read`` and an
    independent log reader (``read_delta``) agree on the pre-write
    rows, and the refused write leaves no uncommitted version dir."""

    @staticmethod
    def _table(spark, tmp_path, cdf=False):
        store = SnapshotStore(spark, str(tmp_path / "wh"), cdf=cdf)
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"
        )
        store.overwrite("t", base)
        return store, _rows(base)

    @staticmethod
    def _assert_unchanged(spark, store, before):
        assert _rows(store.read("t")) == before
        assert _rows(dl.read_delta(spark, store.path("t"))) == before
        on_disk = [e for e in os.listdir(store.path("t")) if e.startswith("v_")]
        assert on_disk == [store.current_version("t")]

    @pytest.mark.parametrize(
        "op", ["merge", "delete_where", "overwrite", "append"]
    )
    def test_coordinator_refusal_leaves_table_unchanged(
        self, spark, tmp_path, op
    ):
        store, before = self._table(spark, tmp_path)
        dl.enable_coordinated_commits(store.path("t"), "catalog-x")
        batch = spark.createDataFrame(
            [(5, "new")] + [(i, f"n{i}") for i in range(10, 15)],
            "k int, v string",
        )
        with pytest.raises(dl.DeltaProtocolError, match="coordinator"):
            if op == "merge":
                store.merge("t", batch, key="k")
            elif op == "delete_where":
                store.delete_where("t", "k < 3")
            elif op == "append":
                store.append("t", batch)
            else:
                store.overwrite("t", batch)
        self._assert_unchanged(spark, store, before)

    def test_vanished_change_file_leaves_table_unchanged(
        self, spark, tmp_path, monkeypatch
    ):
        store, before = self._table(spark, tmp_path, cdf=True)
        real_adopt = store._adopt_cdc

        def adopt_then_vanish(name, fut):
            # a VACUUM sweeps the staged, not-yet-referenced files
            real_adopt(name, fut)
            for rel in store._cdc_pending(name):
                os.unlink(os.path.join(store.path(name), rel))

        monkeypatch.setattr(store, "_adopt_cdc", adopt_then_vanish)
        with pytest.raises(dl.DeltaProtocolError, match="vanished"):
            store.delete_where("t", "k < 3")
        monkeypatch.undo()
        self._assert_unchanged(spark, store, before)
        assert store._cdc_pending("t") == []

    def test_lost_log_race_is_a_retryable_conflict(
        self, spark, tmp_path, monkeypatch
    ):
        """Another writer taking the next log version first is the
        OCC conflict: ConcurrentWriteError, so the isolated merge's
        retry loop re-reads and lands on the following version."""
        store, before = self._table(spark, tmp_path)
        real_put = dl.FileSystemCommitOwner.put_if_absent
        lost = []

        def lose_once(self, log_dir, version, payload):
            if not lost:
                lost.append(version)
                raise dl.DeltaConflictError(f"version {version} taken")
            return real_put(self, log_dir, version, payload)

        monkeypatch.setattr(
            dl.FileSystemCommitOwner, "put_if_absent", lose_once
        )
        batch = spark.createDataFrame([(3, "B")], "k int, v string")
        with pytest.raises(ConcurrentWriteError):
            store.merge("t", batch, key="k")
        self._assert_unchanged(spark, store, before)
        lost.clear()
        store.merge("t", batch, key="k", isolated=True)
        monkeypatch.undo()
        after = sorted([r for r in before if r[0] != 3] + [(3, "B")])
        assert _rows(store.read("t")) == after
        assert _rows(dl.read_delta(spark, store.path("t"))) == after


class TestJsonlWriterCrashPaths:
    """Driver-side protocol tests on the writer class itself (the Spark
    plumbing around it is covered by test_pyds_writer.py)."""

    @staticmethod
    def _write_job(path, rows):
        w = JsonlWriter({"path": path})
        msgs = [w.write(iter(batch)) for batch in rows]
        return w, msgs

    def test_crash_before_manifest_rename_keeps_prior_manifest(
        self, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "sink")
        # Job 1 commits cleanly.
        w1, m1 = self._write_job(path, [[Row(a=1)], [Row(a=2)]])
        w1.commit(m1)
        manifest_v1 = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert manifest_v1["total_rows"] == 2

        # Job 2 dies on the manifest's atomic rename (after its part
        # renames) — readers must still see job 1's manifest, and the
        # torn tmp manifest must not be readable state.
        real_rename = os.rename

        def exploding_rename(src, dst):
            if os.path.basename(dst) == "_MANIFEST.json":
                raise _Boom()
            return real_rename(src, dst)

        w2, m2 = self._write_job(path, [[Row(a=10), Row(a=11)]])
        monkeypatch.setattr(os, "rename", exploding_rename)
        with pytest.raises(_Boom):
            w2.commit(m2)
        monkeypatch.undo()

        after = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert after == manifest_v1
        # No staged files of job 2 linger as readable .jsonl parts the
        # manifest doesn't cover... staged files are dot-prefixed and
        # manifest-driven readers never list them.
        for f in os.listdir(path):
            assert not f.startswith(".staging-") or w2.job_id in f

    def test_abort_removes_all_staged_files(self, tmp_path):
        path = str(tmp_path / "sink")
        w, msgs = self._write_job(path, [[Row(a=1)], [Row(a=2), Row(a=3)]])
        w.abort(msgs)
        assert not [f for f in os.listdir(path) if f.startswith(".staging-")]

    def test_concurrent_jobs_do_not_sweep_each_other(self, tmp_path):
        """Two interleaved jobs on one path: job A's commit must not
        delete job B's still-staged files (the round-4 advice bug)."""
        path = str(tmp_path / "sink")
        wa, ma = self._write_job(path, [[Row(a=1)]])
        wb, mb = self._write_job(path, [[Row(a=100)]])
        wa.commit(ma)  # B's staged file must survive A's orphan sweep
        staged_b = [
            f for f in os.listdir(path) if f.startswith(f".staging-{wb.job_id}-")
        ]
        assert staged_b, "job B's staged file was swept by job A's commit"
        wb.commit(mb)
        manifest = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert manifest["total_rows"] == 1  # B's own manifest, B's rows
