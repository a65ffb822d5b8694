"""Protocol-v3 deletion vectors: the roaring-bitmap codec
(sources/deletion_vectors.py — Z85, portable RoaringBitmapArray, DV
sidecar file format) and its integration into the pure-Python Delta
log (descriptors on adds, protocol upgrade to 3/7, stats tightBounds,
checkpoint survival, DV-aware readers and VACUUM)."""

from __future__ import annotations

import json
import os
import struct
import uuid
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from product_analytics_spark.sources import deletion_vectors as dvs
from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore


class TestCodec:
    def test_z85_known_vector(self):
        # ZeroMQ spec 32's published test vector
        data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
        assert dvs.z85_encode(data) == "HelloWorld"
        assert dvs.z85_decode("HelloWorld") == data

    def test_z85_rejects_bad_length(self):
        with pytest.raises(ValueError):
            dvs.z85_encode(b"abc")
        with pytest.raises(ValueError):
            dvs.z85_decode("abcd")

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**40), max_size=2000
        )
    )
    def test_roaring64_roundtrip(self, values):
        blob = dvs.serialize_roaring64(values)
        assert dvs.deserialize_roaring64(blob) == sorted(set(values))

    def test_roaring_container_boundaries(self):
        # exactly at / over the array->bitset threshold, multiple
        # 16-bit keys, multiple 32-bit buckets
        cases = [
            list(range(4096)),            # max array container
            list(range(4097)),            # first bitset container
            [0, 65535, 65536, 131071],    # adjacent 16-bit keys
            [5, 2**32 - 1, 2**32, 2**33 + 7],  # two high buckets
        ]
        for c in cases:
            assert dvs.deserialize_roaring64(
                dvs.serialize_roaring64(c)
            ) == sorted(set(c))

    def test_decoder_accepts_run_containers(self):
        # hand-build a run-container bitmap: cookie 12347, 1 container
        # (runFlag set), key 0, cardinality 11, one run [5..15]
        head = struct.pack("<I", 12347 | (0 << 16))  # n-1=0 in upper 16
        flags = bytes([1])
        desc = struct.pack("<HH", 0, 10)
        runs = struct.pack("<HHH", 1, 5, 10)  # n_runs, start, len
        rb32 = head + flags + desc + runs
        blob = struct.pack("<q", 1) + struct.pack("<I", 0) + rb32
        assert dvs.deserialize_roaring64(blob) == list(range(5, 16))

    def test_dv_file_format_fields(self, tmp_path):
        td = str(tmp_path)
        desc = dvs.write_dv_file(td, {"f1.parquet": [1, 2, 3]})["f1.parquet"]
        assert desc["storageType"] == "u"
        assert desc["cardinality"] == 3
        assert len(desc["pathOrInlineDv"]) == 20  # z85 of 16-byte uuid
        path = dvs.dv_file_path(td, desc)
        assert os.path.basename(path).startswith("deletion_vector_")
        with open(path, "rb") as fh:
            raw = fh.read()
        assert raw[0] == dvs.DV_FORMAT_VERSION
        (size,) = struct.unpack_from(">i", raw, desc["offset"])
        assert size == desc["sizeInBytes"]
        data = raw[desc["offset"] + 4 : desc["offset"] + 4 + size]
        (magic,) = struct.unpack_from("<i", data, 0)
        assert magic == dvs.DV_MAGIC
        (crc,) = struct.unpack_from(">I", raw, desc["offset"] + 4 + size)
        assert crc == (zlib.crc32(data) & 0xFFFFFFFF)
        # the uuid in the name round-trips through z85
        u = uuid.UUID(bytes=dvs.z85_decode(desc["pathOrInlineDv"]))
        assert f"deletion_vector_{u}.bin" == os.path.basename(path)

    def test_multiple_dvs_share_one_file(self, tmp_path):
        td = str(tmp_path)
        keys = {f"f{i}.parquet": list(range(i * 10, i * 10 + 5)) for i in range(4)}
        descs = dvs.write_dv_file(td, keys)
        bins = [f for f in os.listdir(td) if f.endswith(".bin")]
        assert len(bins) == 1
        for k, d in descs.items():
            assert dvs.read_dv(td, d) == keys[k]

    def test_corruption_detected(self, tmp_path):
        td = str(tmp_path)
        desc = dvs.write_dv_file(td, {"f.parquet": [7, 8]})["f.parquet"]
        path = dvs.dv_file_path(td, desc)
        raw = bytearray(open(path, "rb").read())
        raw[desc["offset"] + 6] ^= 0xFF  # flip a data byte
        open(path, "wb").write(raw)
        with pytest.raises(ValueError, match="checksum|magic"):
            dvs.read_dv(td, desc)


class TestDeltaLogDV:
    def _store(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh"), retain_versions=4
        )
        df = spark.range(400).selectExpr(
            "id AS k", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v"
        )
        store.overwrite("t", df, partition_by=("p",))
        return store

    def test_mor_commit_emits_descriptors_and_upgrade(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k % 5 = 0")
        snap = dl.DeltaLog(store.path("t")).snapshot()
        assert snap.protocol["minReaderVersion"] == 3
        assert "deletionVectors" in snap.protocol["readerFeatures"]
        assert (
            snap.metadata["configuration"]["delta.enableDeletionVectors"]
            == "true"
        )
        dv_adds = [a for a in snap.files.values() if a.get("deletionVector")]
        assert dv_adds
        assert sum(a["deletionVector"]["cardinality"] for a in dv_adds) == 80
        for a in dv_adds:
            assert json.loads(a["stats"])["tightBounds"] is False
        # physical minus cardinality = live
        assert snap.num_records() == 320

    def test_read_delta_matches_store_read(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k % 5 = 0")
        store.update_where_mor("t", "k % 7 = 1", {"v": "v + 1000"})
        batch = spark.range(6).selectExpr(
            "id + 200 AS k", "CAST(9 AS STRING) AS p", "id AS v"
        )
        store.merge_mor("t", batch, "k")
        got = sorted(
            tuple(r)
            for r in dl.read_delta(spark, store.path("t"))
            .select("k", "v", "p")
            .collect()
        )
        exp = sorted(
            tuple(r)
            for r in store.read("t").select("k", "v", "p").collect()
        )
        assert got == exp

    def test_log_time_travel_sees_dv_states(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k < 40")
        store.delete_where_mor("t", "k >= 360")
        table = store.path("t")
        assert dl.read_delta(spark, table, version=0).count() == 400
        assert dl.read_delta(spark, table, version=1).count() == 360
        assert dl.read_delta(spark, table, version=2).count() == 320

    def test_purge_clears_descriptors(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k % 2 = 0")
        store.optimize("t", target_bytes=1 << 30)  # materializes the DV
        snap = dl.DeltaLog(store.path("t")).snapshot()
        assert not any(a.get("deletionVector") for a in snap.files.values())
        assert snap.num_records() == 200
        for a in snap.files.values():
            st_ = json.loads(a["stats"])
            assert "tightBounds" not in st_ or st_["tightBounds"] is True

    def test_checkpoint_preserves_descriptors(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k % 3 = 0")
        log = dl.DeltaLog(store.path("t"))
        log.write_checkpoint()
        # force reconstruction from the checkpoint: drop the tail
        removed = log.cleanup_log()
        assert removed >= 0
        snap = log.snapshot()
        dv_adds = [a for a in snap.files.values() if a.get("deletionVector")]
        assert dv_adds
        got = dl.read_delta(spark, store.path("t")).count()
        assert got == 400 - len(range(0, 400, 3))

    def test_vacuum_removes_stale_dv_bins(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.delete_where_mor("t", "k % 5 = 0")
        store.delete_where_mor("t", "k % 7 = 0")  # supersedes bin 1
        table = store.path("t")
        log = dl.DeltaLog(table)
        bins = [f for f in os.listdir(table) if f.endswith(".bin")]
        assert len(bins) == 2
        victims = log.vacuum()
        assert sum(1 for v in victims if v.endswith(".bin")) == 1
        live = dl.read_delta(spark, table)
        n_expect = sum(
            1 for k in range(400) if k % 5 != 0 and k % 7 != 0
        )
        assert live.count() == n_expect

    def test_pruned_read_applies_dv(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh2")
        )
        df = spark.range(1000).selectExpr("id AS k", "id % 10 AS v")
        store.overwrite("t", df, cluster_by=("k",), n_files=8)
        store.delete_where_mor("t", "k % 2 = 0")
        pruned = store.read_pruned("t", [("k", ">=", 500)]).where("k >= 500")
        ks = {r.k for r in pruned.collect()}
        assert ks == {k for k in range(500, 1000) if k % 2 == 1}
