"""Round-4 lifecycle hardening: detached-transaction TTL/status/cleanup
(reference sdk/dataset.go:1214-1243 GetDetachedStatus/ListDetached/
CleanupExpiredDetached), index-build staging paths + vacuum sweep, index
declaration-list rebase symmetry, and projected point lookups
(sdk/dataset.go:1156 TakeProjected)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile

import pytest
from pyspark.sql import functions as F

from plan_spark.dataset import ConflictError, Dataset
from plan_spark.dataset.dataset import StageExpiredError


@pytest.fixture()
def tmp_path_ds():
    d = tempfile.mkdtemp(prefix="plan_spark_ds_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def base_df(spark):
    return spark.range(0, 200).select(
        F.col("id"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 2.5).alias("val"),
    )


def _more(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), (F.col("id") * 2.5).alias("val")
    )


# ----------------------------------------------------- detached-txn lifecycle
def test_staged_info_reports_status(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid_live = ds.stage_append(_more(spark, 200, 250), ttl_seconds=3600)
    sid_forever = ds.stage_append(_more(spark, 250, 300))
    sid_dead = ds.stage_append(_more(spark, 300, 350), ttl_seconds=-3600)
    info = {i["stage_id"]: i for i in ds.staged_info()}
    assert set(info) == {sid_live, sid_forever, sid_dead}
    assert info[sid_live]["expired"] is False
    assert info[sid_forever]["expired"] is False
    assert info[sid_forever]["expires_at"] is None
    assert info[sid_dead]["expired"] is True
    assert info[sid_live]["op"] == "append"
    assert info[sid_live]["added_rows"] == 50


def test_expired_stage_refuses_commit_and_is_reclaimed(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_append(_more(spark, 200, 260), ttl_seconds=-3600)
    staged_files = [
        a["path"]
        for a in __import__("json").load(
            open(os.path.join(tmp_path_ds, "_staged", f"{sid}.json"))
        )["added"]
    ]
    assert staged_files and all(
        os.path.exists(os.path.join(tmp_path_ds, p)) for p in staged_files
    )
    with pytest.raises(StageExpiredError):
        ds.commit_staged(sid)
    removed = ds.cleanup_expired()
    assert f"_staged/{sid}.json" in removed
    assert all(not os.path.exists(os.path.join(tmp_path_ds, p)) for p in staged_files)
    assert ds.staged() == []
    assert ds.to_df().count() == 200  # nothing leaked into the table


def test_unexpired_stage_survives_vacuum_expired_does_not(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid_live = ds.stage_append(_more(spark, 200, 240), ttl_seconds=3600)
    sid_dead = ds.stage_append(_more(spark, 240, 280), ttl_seconds=-3600)
    import json as _json

    def files_of(sid):
        with open(os.path.join(tmp_path_ds, "_staged", f"{sid}.json")) as fh:
            return [a["path"] for a in _json.load(fh)["added"]]

    live_files, dead_files = files_of(sid_live), files_of(sid_dead)
    ds.append(_more(spark, 280, 290))  # extra version so vacuum has work
    ds.vacuum(keep_versions=1, grace_seconds=0.0)
    # unexpired staged data is pinned; expired staged data is reclaimable
    assert all(os.path.exists(os.path.join(tmp_path_ds, p)) for p in live_files)
    assert all(not os.path.exists(os.path.join(tmp_path_ds, p)) for p in dead_files)
    # and the pinned stage still commits cleanly after the vacuum
    ds.commit_staged(sid_live)
    assert ds.to_df().count() == 250


def test_stage_delete_ttl(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(2))
    sid = ds.stage_delete("grp = 3", ttl_seconds=-3600)
    with pytest.raises(StageExpiredError):
        ds.commit_staged(sid)
    ds.cleanup_expired()
    assert ds.staged() == []
    assert ds.to_df().filter("grp = 3").count() == 40  # delete never applied


# --------------------------------------------- index staging path + vacuum
def test_create_index_unique_path_and_race_isolation(spark, tmp_path_ds, base_df):
    docs = spark.range(0, 50).select(
        F.col("id"), F.concat(F.lit("spark table doc "), F.col("id")).alias("text")
    )
    ds = Dataset.create(spark, tmp_path_ds, docs)
    stale = Dataset.open(spark, tmp_path_ds)  # same-version second handle
    ds.create_index("ft", "fts", "text", id_col="id")
    desc = ds.manifest.indexes["ft"]
    assert desc["path"].startswith(os.path.join("_indexes", "ft_"))
    # the losing racer must conflict AND must not clobber the winner's files
    with pytest.raises(ConflictError):
        stale.create_index("ft", "fts", "text", id_col="id")
    idx = ds.open_index("ft")
    assert idx.search(["spark"], top_k=3).count() > 0
    # vacuum reclaims the loser's orphaned build dir, keeps the winner's
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    orphans = [r for r in removed if r.startswith("_indexes/")]
    assert len(orphans) == 1 and not orphans[0].endswith(os.path.basename(desc["path"]))
    assert os.path.isdir(os.path.join(tmp_path_ds, desc["path"]))
    assert ds.open_index("ft").search(["spark"], top_k=3).count() > 0


def test_vacuum_reclaims_dropped_index_dir(spark, tmp_path_ds, base_df):
    docs = spark.range(0, 30).select(
        F.col("id"), F.concat(F.lit("alpha beta "), F.col("id")).alias("text")
    )
    ds = Dataset.create(spark, tmp_path_ds, docs)
    ds.create_index("ft", "fts", "text", id_col="id")
    rel = ds.manifest.indexes["ft"]["path"]
    ds.drop_index("ft")
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert f"_indexes/{os.path.basename(rel)}" in removed
    assert not os.path.isdir(os.path.join(tmp_path_ds, rel))


# ------------------------------------- declaration-list rebase + drop symmetry
def test_concurrent_bitmap_creates_union_declarations(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    stale = Dataset.open(spark, tmp_path_ds)
    ds.create_index("ia", "bitmap", "grp")
    # different name, different column, staler read version: rebases cleanly
    stale.create_index("ib", "bloom", "id")
    m = Dataset.open(spark, tmp_path_ds).manifest
    assert "grp" in m.bitmap_columns, "concurrent create lost the first declaration"
    assert "id" in m.bloom_columns
    assert set(m.indexes) == {"ia", "ib"}


def test_drop_index_retracts_declaration(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.create_index("ia", "bitmap", "grp")
    assert "grp" in ds.manifest.bitmap_columns
    ds.drop_index("ia")
    assert "grp" not in ds.manifest.bitmap_columns
    # two indexes covering one column: dropping one keeps the declaration
    ds.create_index("i1", "bloom", "id")
    ds.create_index("i2", "bloom", "id")
    ds.drop_index("i1")
    assert "id" in ds.manifest.bloom_columns
    ds.drop_index("i2")
    assert "id" not in ds.manifest.bloom_columns


# ------------------------------------------------------- projected take_rows
def test_take_rows_projected(spark, tmp_path_ds, base_df, monkeypatch):
    import pyarrow.parquet as pq

    import plan_spark.dataset.dataset as dsmod

    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    read_columns = []
    read_row_group = pq.ParquetFile.read_row_group

    def recorded(self, i, columns=None, **kw):
        read_columns.append(columns)
        return read_row_group(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", recorded)
    out = ds.take_rows([3, 7], columns=["val"])
    assert sorted(out.columns) == ["_rowid", "val"]
    rows = {r._rowid: r.val for r in out.collect()}
    assert rows == {3: 7.5, 7: 17.5}
    # a statement-sized take reads on the driver: the projection reaches
    # the pyarrow read, and Spark plans no scan
    assert read_columns and all("grp" not in c for c in read_columns)
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    # past the gate, the projection reaches the parquet ReadSchema:
    # untouched wide columns (grp) are absent from the scan schema
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", 1)
    out = ds.take_rows([3, 7], columns=["val"])
    assert {r._rowid: r.val for r in out.collect()} == {3: 7.5, 7: 17.5}
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("grp" not in s for s in schemas), plan[:2000]
    assert any("val" in s for s in schemas)
    with pytest.raises(ValueError):
        ds.take_rows([3], columns=["nope"])
    # empty-prune path honors the projection too
    empty = ds.take_rows([10_000_000], columns=["val"])
    assert sorted(empty.columns) == ["_rowid", "val"] and empty.count() == 0


# --------------------------------------------- nested schema evolution
def test_nested_add_drop_path_roundtrip(spark, tmp_path_ds):
    """DropPath/AddPath (reference sdk/dataset.go:816): struct-field-level
    evolution as metadata-only commits — old files null-fill added fields,
    dropped fields vanish from scans but survive in time travel, and the
    evolved schema survives compaction (which rewrites under it)."""
    df = spark.range(0, 40).select(
        F.col("id"),
        F.struct(
            F.concat(F.lit("h"), F.col("id")).alias("host"),
            (F.col("id") % 3).alias("kind"),
        ).alias("meta"),
    )
    ds = Dataset.create(spark, tmp_path_ds, df.repartition(2))
    v1 = ds.version

    # add a nested field: old fragments scan it as NULL
    ds.add_path("meta.score", "double")
    row = ds.to_df().filter("id = 1").select("meta.score").first()
    assert row[0] is None
    # new appends carry the field
    ds.append(
        spark.range(40, 50).select(
            F.col("id"),
            F.struct(
                F.concat(F.lit("h"), F.col("id")).alias("host"),
                (F.col("id") % 3).alias("kind"),
                (F.col("id") * 1.5).alias("score"),
            ).alias("meta"),
        )
    )
    got = {r.id: r.s for r in ds.to_df().select("id", F.col("meta.score").alias("s")).collect()}
    assert got[45] == 67.5 and got[1] is None and len(got) == 50

    # drop a nested field: gone from scans, present in time travel
    ds.drop_path("meta.kind")
    assert "kind" not in ds.to_df().select("meta.*").columns
    assert "kind" in ds.checkout(v1).to_df().select("meta.*").columns

    # compaction rewrites under the evolved schema and keeps values
    ds.compact(target_files=1)
    out = ds.to_df()
    assert "kind" not in out.select("meta.*").columns
    got = {r.id: r.s for r in out.select("id", F.col("meta.score").alias("s")).collect()}
    assert got[45] == 67.5 and got[1] is None and len(got) == 50

    # guardrails
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ds.drop_path("meta.nope")
    with _pytest.raises(ValueError):
        ds.drop_path("id.sub")
    with _pytest.raises(ValueError):
        ds.add_path("meta.score", "double")  # already exists (post-compact schema)


def test_create_index_vector_kinds(spark, tmp_path_ds):
    """Transactional index creation for the full vector-index family
    (reference index_transaction.go covers every index kind): hnsw/pq/sq
    build into staged paths, register through the optimistic commit,
    reopen via open_index, and search."""
    vecs = spark.range(0, 80).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.hash(F.col("id") * (j + 1)) % 1000 / 500.0 - 1.0)
                for j in range(8)
            ]
        ).alias("embedding"),
    )
    ds = Dataset.create(spark, tmp_path_ds, vecs)
    qdf = ds.to_df().filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    qd = {int(r.q_id): [float(x) for x in r.qv] for r in qdf.collect()}

    ds.create_index("ih", "hnsw", "embedding", id_col="vec_id", n_shards=2, m=4)
    ds.create_index("ip", "pq", "embedding", id_col="vec_id", m=4, k=8)
    ds.create_index("is", "sq", "embedding", id_col="vec_id")
    for n in ("ih", "ip", "is"):
        assert ds.index_fresh(n)
        assert ds.manifest.indexes[n]["path"].startswith(
            os.path.join("_indexes", f"{n}_")
        )
    hits_h = ds.open_index("ih").search(qd, top_k=3).collect()
    hits_p = ds.open_index("ip").search(qd, top_k=3).collect()
    hits_s = ds.open_index("is").search(qdf, top_k=3).collect()
    assert len(hits_h) == 9 and len(hits_p) == 9 and len(hits_s) == 9
    ds.drop_index("ip")
    assert "ip" not in ds.manifest.indexes


def test_vacuum_skips_inflight_index_builds(spark, tmp_path_ds, base_df):
    """A build in progress (fresh _INFLIGHT sentinel) is referenced by no
    manifest yet — vacuum must not sweep it; a stale sentinel (crashed
    build, past TTL) sweeps normally."""
    import time

    ds = Dataset.create(spark, tmp_path_ds, base_df)
    idx_root = os.path.join(tmp_path_ds, "_indexes")
    live = os.path.join(idx_root, "building_now")
    dead = os.path.join(idx_root, "crashed_long_ago")
    os.makedirs(live)
    os.makedirs(dead)
    for d in (live, dead):
        with open(os.path.join(d, "_INFLIGHT"), "w") as fh:
            fh.write("x")
    old = time.time() - 2 * 24 * 3600
    os.utime(os.path.join(dead, "_INFLIGHT"), (old, old))
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert "_indexes/crashed_long_ago" in removed
    assert "_indexes/building_now" not in removed and os.path.isdir(live)


# --------------------------------------------- commit_staged claim protocol
def test_commit_staged_failure_restores_stage_visibility(
    spark, tmp_path_ds, base_df
):
    """commit_staged claims the payload (atomic rename) before committing,
    so a concurrent cleanup can never reclaim its files mid-commit; on a
    failed commit the claim is renamed back and the stage stays usable."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_overwrite(_more(spark, 0, 10))
    # a commit that lands after the stage makes the strict overwrite conflict
    Dataset.open(spark, tmp_path_ds).append(_more(spark, 200, 210))
    with pytest.raises(ConflictError):
        Dataset.open(spark, tmp_path_ds).commit_staged(sid)
    # the stage is visible again (un-claimed), its files intact
    assert sid in Dataset.open(spark, tmp_path_ds).staged()
    info = [s for s in ds.staged_info() if s["stage_id"] == sid]
    assert info and info[0]["op"] == "overwrite"


def test_commit_staged_consumes_stage_once(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_append(_more(spark, 200, 220))
    ds2 = Dataset.open(spark, tmp_path_ds).commit_staged(sid)
    assert ds2.count_rows() == 220
    assert sid not in Dataset.open(spark, tmp_path_ds).staged()
    # a second commit of the same stage loses the claim rename and fails loudly
    with pytest.raises(FileNotFoundError):
        Dataset.open(spark, tmp_path_ds).commit_staged(sid)


def test_commit_staged_idempotent_after_claim_crash(spark, tmp_path_ds, base_df):
    """Crash recovery: if a commit_staged dies AFTER its manifest landed but
    BEFORE the claim cleanup, cleanup_expired reopens the stale committing
    claim and a retry consumes the stage WITHOUT double-applying (the
    __stage__ dedup key raises DuplicateBatchError internally; the retry
    reports success)."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_append(_more(spark, 200, 230))
    staged_dir = os.path.join(tmp_path_ds, "_staged")
    p = os.path.join(staged_dir, f"{sid}.json")
    with open(p) as fh:
        payload = json.load(fh)
    ds2 = Dataset.open(spark, tmp_path_ds).commit_staged(sid)
    assert ds2.count_rows() == 230
    # simulate the crash leftover: the payload resurfaces as a STALE
    # committing claim (state field, claim_ts long past _CLAIM_TTL)
    payload["state"] = "committing"
    payload["claim_ts"] = __import__("time").time() - 3600
    with open(p, "w") as fh:
        json.dump(payload, fh)
    # recovery: cleanup_expired un-claims it...
    Dataset.open(spark, tmp_path_ds).cleanup_expired()
    assert sid in Dataset.open(spark, tmp_path_ds).staged()
    # ...and the retry consumes the stage idempotently — count unchanged
    ds3 = Dataset.open(spark, tmp_path_ds).commit_staged(sid)
    assert ds3.count_rows() == 230
    assert sid not in Dataset.open(spark, tmp_path_ds).staged()


def test_vacuum_pins_claimed_stage_files(spark, tmp_path_ds, base_df):
    """A claimed stage (state=committing) pins its data files through
    vacuum — the mid-commit reclaim race the claim protocol closes."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_append(_more(spark, 200, 240), ttl_seconds=0.001)
    import time as _t

    _t.sleep(0.1)  # expired + past grace? grace is 30s, so expiry alone
    p = os.path.join(tmp_path_ds, "_staged", f"{sid}.json")
    with open(p) as fh:
        payload = json.load(fh)
    payload["state"] = "committing"  # simulate an in-flight claim
    with open(p, "w") as fh:
        json.dump(payload, fh)
    staged_files = [a["path"] for a in payload["added"]]
    assert staged_files
    removed = Dataset.open(spark, tmp_path_ds).vacuum(keep_versions=1, grace_seconds=0.0)
    for rel in staged_files:  # pinned despite being expired
        assert rel not in removed
        assert os.path.exists(os.path.join(tmp_path_ds, rel))


def test_delete_staged_reclaims_immediately(spark, tmp_path_ds, base_df):
    """DeleteDetached (sdk/dataset.go:1243): drop a specific unexpired
    stage now — payload + staged files reclaimed, other stages untouched."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid1 = ds.stage_append(_more(spark, 200, 220), ttl_seconds=3600)
    sid2 = ds.stage_append(_more(spark, 220, 240), ttl_seconds=3600)
    removed = ds.delete_staged(sid1)
    assert any(r.startswith("data/") for r in removed)
    assert sid1 not in ds.staged() and sid2 in ds.staged()
    with pytest.raises(ValueError, match="no staged transaction"):
        ds.delete_staged(sid1)
    with pytest.raises(ValueError, match="no staged transaction"):
        ds.delete_staged("nonexistent")
    # a deleted stage can never commit
    with pytest.raises(FileNotFoundError):
        ds.commit_staged(sid1)
    # the surviving stage still commits fine
    assert Dataset.open(spark, tmp_path_ds).commit_staged(sid2).count_rows() == 220


def test_vacuum_age_grace_protects_young_files(spark, tmp_path_ds, base_df):
    """vacuum's age horizon (grace_seconds): files younger than the grace
    are never reclaimed even when no kept manifest references them — the
    guard that makes retention safe against in-flight writers, whose data
    files exist BEFORE their commit (the storm test's data-loss race)."""
    ds = Dataset.create(spark, tmp_path_ds, base_df.coalesce(1))
    ds.append(base_df.limit(2).coalesce(1))
    ds.delete("id = 1")
    ds.compact(strategy="count", target_files=1)
    # default grace: every data/deletion file here is seconds old ->
    # none reclaimed (manifest JSONs beyond retention still go; they are
    # never read mid-write, only data files are)
    removed = ds.vacuum(keep_versions=1)
    assert not any(r.startswith(("data/", "deletes/")) for r in removed), removed
    # explicit zero-grace maintenance window reclaims as before
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert any(r.startswith(("data/", "deletes/")) for r in removed), removed
    # the surviving snapshot is intact
    assert ds.to_df().count() == ds.count_rows()


# Crashed-writer ``*.cas.<pid>.<tid>`` / ``*.tmp.<pid>.<tid>`` residue in
# the control dirs (root, _versions, _staged) is reclaimed by vacuum and
# cleanup_expired through the shared dead-pid-gated sweep.
def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


class TestControlTmpSweep:
    @pytest.mark.parametrize("handler", ["local", "cas"])
    def test_vacuum_reclaims_dead_control_tmps(self, spark, tmp_path, handler):
        ds = Dataset.create(
            spark,
            str(tmp_path / "ds"),
            spark.range(4).toDF("id"),
            commit_handler=handler,
        )
        dead = _dead_pid()
        suffix = "cas" if handler == "cas" else "tmp"
        strands = [
            os.path.join(ds.path, f"_refs.json.{suffix}.{dead}.7"),
            os.path.join(ds._versions_dir, f"00000009.manifest.json.{suffix}.{dead}.7"),
        ]
        os.makedirs(os.path.join(ds.path, "_staged"), exist_ok=True)
        strands.append(os.path.join(ds.path, "_staged", f"s1.json.{suffix}.{dead}.7"))
        for p in strands:
            with open(p, "w") as fh:
                fh.write("{}")
        live = os.path.join(ds.path, f"_refs.json.{suffix}.{os.getpid()}.7")
        with open(live, "w") as fh:
            fh.write("{}")
        ds.vacuum(keep_versions=10, grace_seconds=0.0)
        for p in strands:
            assert not os.path.exists(p), f"dead residue survived: {p}"
        assert os.path.exists(live), "live writer's in-flight temp was yanked"
        os.remove(live)

    def test_cleanup_expired_also_sweeps(self, spark, tmp_path):
        ds = Dataset.create(spark, str(tmp_path / "ds"), spark.range(2).toDF("id"))
        dead = _dead_pid()
        stranded = os.path.join(ds._versions_dir, f"x.json.tmp.{dead}.1")
        with open(stranded, "w") as fh:
            fh.write("{}")
        ds.cleanup_expired()
        assert not os.path.exists(stranded)
