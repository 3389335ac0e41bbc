"""Read-side Store seam (round-10 verdict item 2).

The CommitHandler (r9) covers every control-plane WRITE; the Store pairs
it with the READS (manifest loads, version/stage listings, refs/branches,
refresh claims) — reference StoreFactory + io (store_factory.go:42-129,
io.go:11, io_ext.go:35-55). The proof here is the ``mem`` backend: its
control plane lives ONLY in an in-process object dict, so a dataset
lifecycle that runs green on it cannot contain a single control-plane
read or write that bypasses the seam to POSIX — a bypassing site would
look for a file that was never written.

Parquet artifacts (fragments, deletion sidecars, index runs/fences) stay
on Spark/Arrow's own filesystem layer by design: that layer is already
store-agnostic (an s3a:// warehouse path swaps it), and the objects are
immutable uniquely-named blobs whose reads need no protocol.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import plan_spark.dataset.dataset as dataset_mod
from plan_spark.dataset.commit import (
    CasCommitHandler,
    LocalCommitHandler,
    LocalStore,
    MemCommitHandler,
    MemStore,
)
from plan_spark.dataset.dataset import Dataset


class TestStorePairing:
    def test_local_handler_reads_posix(self):
        assert isinstance(LocalCommitHandler().store(), LocalStore)

    def test_cas_mock_reads_posix(self):
        # the cas mock keeps objects as verbatim files: GETs are plain
        # reads on any store, so its read side is the POSIX store
        assert isinstance(CasCommitHandler().store(), LocalStore)

    def test_mem_handler_reads_dict(self):
        assert isinstance(MemCommitHandler().store(), MemStore)


class TestLocalStore:
    def test_get_list_exists_mtime(self, tmp_path):
        s = LocalStore()
        p = tmp_path / "obj.json"
        p.write_bytes(b'{"a": 1}')
        assert s.get(str(p)) == b'{"a": 1}'
        assert s.get_json(str(p)) == {"a": 1}
        assert s.exists(str(p)) and not s.exists(str(tmp_path / "nope"))
        assert "obj.json" in s.list(str(tmp_path))
        assert s.list(str(tmp_path / "absent")) == []
        assert s.mtime(str(p)) > 0
        with pytest.raises(FileNotFoundError):
            s.get(str(tmp_path / "nope"))


class TestMemStore:
    def test_roundtrip_through_handler(self, tmp_path):
        h = MemCommitHandler()
        s = h.store()
        p = str(tmp_path / "ctrl" / "obj.json")
        h.put(p, '{"a": 1}')
        assert s.get_json(p) == {"a": 1}
        assert s.exists(p)
        assert s.mtime(p) > 0
        assert "obj.json" in s.list(str(tmp_path / "ctrl"))
        # nothing on disk: the control plane lives in the dict
        assert not os.path.exists(p)
        h.delete(p)
        assert not s.exists(p)
        with pytest.raises(FileNotFoundError):
            s.get(p)

    def test_list_is_one_level(self, tmp_path):
        h = MemCommitHandler()
        s = h.store()
        h.put(str(tmp_path / "d" / "a.json"), "1")
        h.put(str(tmp_path / "d" / "sub" / "b.json"), "2")
        assert sorted(s.list(str(tmp_path / "d"))) == ["a.json"]

    def test_update_json_rmw(self, tmp_path):
        h = MemCommitHandler()
        p = str(tmp_path / "refs.json")
        h.update_json(p, lambda cur: {**(cur or {}), "main": 1})
        h.update_json(p, lambda cur: {**(cur or {}), "dev": 2})
        assert h.store().get_json(p) == {"main": 1, "dev": 2}

    def test_commit_exclusive(self, tmp_path):
        h = MemCommitHandler()
        p = str(tmp_path / "v1.json")
        h.commit(p, "{}")
        with pytest.raises(FileExistsError):
            h.commit(p, "{}")


class TestMemLifecycle:
    """Full dataset lifecycle with the control plane ONLY in the object
    dict — the executable proof that no control read/write escapes the
    seam."""

    def test_end_to_end(self, spark, tmp_path):
        path = str(tmp_path / "ds")
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        )
        ds = Dataset.create(spark, path, df.coalesce(2), row_ids=True,
                            commit_handler="mem")
        # no control JSON ever lands on disk
        assert glob.glob(os.path.join(path, "_versions", "*.json")) == []
        assert not os.path.exists(os.path.join(path, "_refs.json"))
        assert not os.path.exists(os.path.join(path, "_branches.json"))
        # ...but data files do (data plane stays on the filesystem layer)
        assert glob.glob(os.path.join(path, "data", "*.parquet"))

        ds.append(spark.range(100, 120).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        ).coalesce(1))
        assert ds.version == 2
        ds.tag("v2")
        ds.delete("k < 10")
        assert Dataset.open(spark, path).to_df().count() == 110
        # time travel through dict-held manifests
        old = Dataset.open(spark, path).checkout("v2")
        assert old.to_df().count() == 120
        # staged txn protocol entirely in the dict
        cur = Dataset.open(spark, path)
        sid = cur.stage_append(spark.range(200, 210).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        ).coalesce(1), ttl_seconds=3600)
        assert glob.glob(os.path.join(path, "_staged", "*.json")) == []
        cur.commit_staged(sid)
        assert Dataset.open(spark, path).to_df().count() == 120
        # branch + write-through + kind guard
        b = Dataset.open(spark, path).branch("dev")
        b.append(spark.range(300, 310).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        ).coalesce(1))
        assert Dataset.open(spark, path).list_tags()["dev"] == b.version
        with pytest.raises(ValueError):
            Dataset.open(spark, path).on_branch("v2")
        # vacuum: manifests reclaimed from the dict, data files from disk
        latest = Dataset.open(spark, path)
        removed = latest.vacuum(keep_versions=1, grace_seconds=0.0)
        assert any(r.startswith("_versions/") for r in removed)
        assert Dataset.open(spark, path).to_df().count() == 130

    def test_mem_marker_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "ds")
        Dataset.create(spark, path, spark.range(3).toDF("id"),
                       commit_handler="mem")
        # a fresh handle detects the protocol from the marker and keeps
        # speaking to the dict
        ds = Dataset.open(spark, path)
        assert ds._handler.name == "mem"
        assert isinstance(ds._store, MemStore)


class _SpyStore(LocalStore):
    """LocalStore that records every data-plane mutation — the r11 proof
    that the dataset's file choreography (fragment landing, vacuum
    removals, staging/index sweeps, _INFLIGHT sentinels) goes through the
    Store seam rather than raw POSIX, so an object-store Store swaps the
    whole plane (reference StoreFactory, store_factory.go:42-129)."""

    def __init__(self):
        self.moves: list[tuple[str, str]] = []
        self.deletes: list[str] = []
        self.prefix_sweeps: list[str] = []
        self.puts: list[str] = []

    def move(self, src, dst):
        self.moves.append((src, dst))
        super().move(src, dst)

    def delete(self, path):
        self.deletes.append(path)
        super().delete(path)

    def delete_prefix(self, dir_path):
        self.prefix_sweeps.append(dir_path)
        super().delete_prefix(dir_path)

    def put_bytes(self, path, data):
        self.puts.append(path)
        super().put_bytes(path, data)


class TestDataPlaneThroughSeam:
    def test_lifecycle_routes_every_data_op_through_store(
        self, spark, tmp_path, monkeypatch
    ):
        """append / delete / compact / index build / vacuum: every
        fragment landing is a Store.move, every vacuum removal a
        Store.delete, every staging sweep a Store.delete_prefix, every
        _INFLIGHT sentinel and driver-written deletion sidecar a
        Store.put_bytes — verified by spying the data-plane store for the
        dataset's whole lifecycle."""
        spy = _SpyStore()
        monkeypatch.setattr(Dataset, "_data_store", property(lambda self: spy))
        p = str(tmp_path / "ds")
        ds = Dataset.create(
            spark,
            p,
            spark.range(200).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
            ),
        )
        n_create_moves = len(spy.moves)
        assert n_create_moves >= 1  # initial fragments landed via the seam
        assert spy.prefix_sweeps, "staging dir swept via the seam"
        ds.append(
            spark.range(200, 300).select(
                F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
            )
        )
        assert len(spy.moves) > n_create_moves
        assert all(d.startswith(p) for _, d in spy.moves)
        # partial WITHIN fragments (range() fragments are contiguous, so a
        # suffix delete would kill whole files and skip the sidecar path);
        # a statement-sized sidecar is written by the driver in one put
        ds.delete("k % 10 = 3")
        assert any(x.startswith(p) and "/deletes/" in x for x in spy.puts)
        # above the driver gate, Spark writes the sidecar and it lands
        # through Store.move
        monkeypatch.setattr(dataset_mod, "_IN_LIST_MAX", 5)
        ds.delete("k % 10 = 7")
        assert any("/deletes/" in d for _, d in spy.moves)
        monkeypatch.setattr(dataset_mod, "_IN_LIST_MAX", 10_000)
        ds.create_index("bt", kind="btree", column="k", n_runs=2)
        assert any(x.endswith("_INFLIGHT") for x in spy.puts)
        ds.compact()
        n_before = len(spy.deletes)
        ds.vacuum(grace_seconds=0.0)
        assert len(spy.deletes) > n_before, "vacuum removals via the seam"
        assert ds.to_df().count() == 240
