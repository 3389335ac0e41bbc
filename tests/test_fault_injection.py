"""Crash-point fault injection (reference pkg/util/fault_inject.go
class of testing): arm a named fault site inside a dangerous protocol
window, crash there, REOPEN from disk, and assert the recovery contract —
the dataset/index either recovers (self-heal or documented recovery step)
or refuses loudly. NEVER a silent wrong answer.

Two crash mechanisms, per plan_spark/faults.py:
- InjectedCrash (BaseException) raised in-process at handler-free sites —
  the on-disk state at the raise is the crash image;
- PLAN_SPARK_FAULT + PLAN_SPARK_FAULT_MODE=exit in a Spark-free child
  process that dies with os._exit(77) — the literal crash image, proving
  no finally/except cleanup is load-bearing (the staged-commit metadata
  path runs without a SparkSession at all).

The seeded crash-recovery storm at the bottom sweeps every site ×6 with
random preceding histories (the r7 soak cadence that caught the torn
_set_ref race)."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from plan_spark.dataset.dataset import (
    _CLAIM_TTL,
    _STAGE_GRACE,
    ConflictError,
    Dataset,
    StageExpiredError,
)
from plan_spark.faults import InjectedCrash, arm_fault, clear_faults, fault_point


@pytest.fixture(autouse=True)
def _disarm():
    clear_faults()
    yield
    clear_faults()


def _scratch(name: str) -> str:
    d = os.path.join(tempfile.gettempdir(), "plan_spark_faults", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _mk(spark, path, n=200, commit_handler="local") -> Dataset:
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    return Dataset.create(
        spark, path, df.coalesce(2), row_ids=True,
        commit_handler=commit_handler,
    )


def _chain_consistent(ds: Dataset) -> None:
    """The storm's invariant 1: every kept manifest loads and every file it
    references exists — must hold after ANY crash."""
    for v in ds.versions():
        m = ds._load(v)
        for f in m.fragments:
            assert os.path.exists(os.path.join(ds.path, f.path)), (
                f"v{v} references missing {f.path}"
            )
            for d in f.deletion_files:
                assert os.path.exists(os.path.join(ds.path, d)), (
                    f"v{v} references missing deletion file {d}"
                )


def _backdate(path: str, by: float) -> None:
    t = time.time() - by
    os.utime(path, (t, t))


def _claim_state(sdir: str, sid: str) -> str | None:
    """The stage's claim state ("open"/"committing"/"reclaiming"), or None
    if the payload was consumed."""
    try:
        with open(os.path.join(sdir, f"{sid}.json")) as fh:
            return json.load(fh).get("state", "open")
    except FileNotFoundError:
        return None


def _backdate_claims(sdir: str, by: float) -> None:
    """Age every committing claim's claim_ts so cleanup_expired's stale-
    claim recovery fires (the state-field analog of utime on the old
    .json.committing files)."""
    for fn in os.listdir(sdir):
        if not fn.endswith(".json"):
            continue
        full = os.path.join(sdir, fn)
        with open(full) as fh:
            payload = json.load(fh)
        if payload.get("state") == "committing":
            payload["claim_ts"] = time.time() - by
            with open(full, "w") as fh:
                json.dump(payload, fh)


# --------------------------------------------------------------- indexes


def _btree_probe_ids(idx, lo, hi):
    return sorted(r.id for r in idx.range_query(lo, hi).collect())


def test_btree_swap_mid_recovers(spark):
    from plan_spark.indexes.btree import BtreeIndex

    path = _scratch("bt_swap")
    pairs = spark.range(0, 500).select(F.col("id").alias("k"), F.col("id").alias("i"))
    idx = BtreeIndex.build(spark, pairs, "k", "i", path=path, n_runs=4)
    idx.insert(
        spark.range(500, 520).select(F.col("id").alias("k"), F.col("id").alias("i")),
        "k", "i",
    )
    want = _btree_probe_ids(idx, 490, 510)
    arm_fault("btree.swap_mid")
    with pytest.raises(InjectedCrash):
        idx.compact()
    # crash image: runs/ is GONE; the next probe must self-heal losslessly
    fresh = BtreeIndex(spark, path)
    assert _btree_probe_ids(fresh, 490, 510) == want
    # and a retried compact completes from the recovered state
    fresh.compact()
    assert _btree_probe_ids(fresh, 490, 510) == want


def test_btree_before_fences_selfheals(spark):
    from plan_spark.indexes.btree import BtreeIndex, fences_stale, read_fences

    path = _scratch("bt_fences")
    pairs = spark.range(0, 500).select(F.col("id").alias("k"), F.col("id").alias("i"))
    idx = BtreeIndex.build(spark, pairs, "k", "i", path=path, n_runs=4)
    idx.insert(
        spark.range(500, 520).select(F.col("id").alias("k"), F.col("id").alias("i")),
        "k", "i",
    )
    want = _btree_probe_ids(idx, 490, 510)
    arm_fault("btree.before_fences")
    with pytest.raises(InjectedCrash):
        idx.compact()
    # crash image: new runs live, fences name the REPLACED files
    fp = os.path.join(path, "fences.parquet")
    assert fences_stale(fp)
    fresh = BtreeIndex(spark, path)
    assert _btree_probe_ids(fresh, 490, 510) == want
    # the probe rebuilt the fence table; it now names live files only
    assert not fences_stale(fp)
    assert all(os.path.exists(r.file) for r in read_fences(fp))


def test_bitmap_swap_and_meta_crashes(spark):
    from plan_spark.indexes.bitmap import BitmapIndex

    path = _scratch("bm")
    rows = spark.range(0, 400).select(
        (F.col("id") % 5).alias("v"), F.col("id").alias("i")
    )
    idx = BitmapIndex.build(spark, rows, "v", "i", path=path, n_runs=2)
    idx.insert(
        spark.range(400, 440).select((F.col("id") % 5).alias("v"), F.col("id").alias("i")),
        "v", "i",
    )
    want = idx.in_runs([2])
    for site in ("bitmap.swap_mid", "bitmap.before_meta"):
        arm_fault(site)
        with pytest.raises(InjectedCrash):
            idx.compact()
        fresh = BitmapIndex(spark, path)
        assert fresh.in_runs([2]) == want, f"probe wrong after {site}"
    # final retried compact converges
    idx.compact()
    assert BitmapIndex(spark, path).in_runs([2]) == want


def test_rtree_swap_and_fences_crashes(spark):
    from plan_spark.indexes.rtree import RtreeIndex

    path = _scratch("rt")
    pts = spark.range(0, 300).select(
        (F.col("id") % 20).cast("double").alias("x"),
        (F.col("id") % 15).cast("double").alias("y"),
        F.col("id").alias("i"),
    )
    idx = RtreeIndex.build(spark, pts, "x", "y", "i", path=path, n_runs=3)

    def probe(ix):
        return sorted(ix.range_ids(2.0, 2.0, 5.0, 5.0))

    want = probe(idx)
    for site in ("rtree.swap_mid", "rtree.before_fences"):
        arm_fault(site)
        with pytest.raises(InjectedCrash):
            idx.compact()
        assert probe(RtreeIndex(spark, path)) == want, f"probe wrong after {site}"
    idx.compact()
    assert probe(RtreeIndex(spark, path)) == want


# ----------------------------------------------------------- commit / refs


def test_branch_ref_crash_after_manifest(spark):
    """Crash in the r7 torn-ref window: the data manifest lands, the branch
    ref never advances. Contract: the chain is consistent, the branch reads
    its OLD snapshot (the write never reported success), and the next
    branch write advances normally."""
    path = _scratch("branch_ref")
    ds = _mk(spark, path)
    ds.branch("fix")
    h = Dataset.open(spark, path).on_branch("fix")
    v_before = h.version
    arm_fault("commit.manifest_landed")
    with pytest.raises(InjectedCrash):
        h.append(
            spark.range(10_000, 10_010).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
            )
        )
    ds = Dataset.open(spark, path)
    _chain_consistent(ds)
    # the orphan manifest exists (durable) but the ref still pins the old
    # version — the branch view must be the old CONSISTENT snapshot
    assert max(ds.versions()) > v_before
    assert ds.list_tags()["fix"] == v_before
    h2 = Dataset.open(spark, path).on_branch("fix")
    assert h2.to_df().filter(F.col("k") >= 10_000).count() == 0
    # recovery = just write again; the ref advances with the new commit
    h2.append(
        spark.range(10_100, 10_110).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
    )
    ds = Dataset.open(spark, path)
    assert ds.list_tags()["fix"] > v_before
    hv = Dataset.open(spark, path, version=ds.list_tags()["fix"])
    assert hv.to_df().filter(F.col("k") >= 10_100).count() == 10


def test_stage_claimed_crash_then_recovery(spark):
    """Crash while holding the .committing claim, before any commit: the
    stage is invisible and undeleteable (loud refusals), cleanup_expired
    un-claims it after _CLAIM_TTL, and the retry commits exactly once."""
    path = _scratch("stage_claim")
    ds = _mk(spark, path)
    sid = ds.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=3600,
    )
    v0 = Dataset.open(spark, path).version
    arm_fault("stage.claimed")
    with pytest.raises(InjectedCrash):
        ds.commit_staged(sid)
    assert _claim_state(ds._staged_dir(), sid) == "committing"
    ds = Dataset.open(spark, path)
    assert ds.version == v0, "nothing may have committed"
    assert sid not in ds.staged(), "claimed stage must be invisible"
    with pytest.raises(ConflictError, match="claimed"):
        ds.commit_staged(sid)  # claim held: loud, not silent
    with pytest.raises(ValueError, match="mid-commit"):
        ds.delete_staged(sid)
    # recovery: the claim goes stale after _CLAIM_TTL; cleanup reopens it
    _backdate_claims(ds._staged_dir(), _CLAIM_TTL + 1)
    ds.cleanup_expired()
    assert sid in Dataset.open(spark, path).staged()
    ds = Dataset.open(spark, path).commit_staged(sid)
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10
    _chain_consistent(ds)


def test_stage_committed_before_unclaim_is_idempotent(spark):
    """Crash AFTER the staged manifest landed but before the claim cleanup:
    the retry must consume the stage via the __stage__ dedup key — exactly
    once, never a double apply."""
    path = _scratch("stage_dup")
    ds = _mk(spark, path)
    sid = ds.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=3600,
    )
    arm_fault("stage.committed_before_unclaim")
    with pytest.raises(InjectedCrash):
        ds.commit_staged(sid)
    ds = Dataset.open(spark, path)
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10, "commit landed"
    assert _claim_state(ds._staged_dir(), sid) == "committing", (
        "claim survives the crash"
    )
    _backdate_claims(ds._staged_dir(), _CLAIM_TTL + 1)
    ds.cleanup_expired()  # reopens the stale committing claim
    ds = Dataset.open(spark, path).commit_staged(sid)  # retry: dedup, not re-apply
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10, "exactly once"
    assert sid not in ds.staged()
    _chain_consistent(ds)


def test_vacuum_crash_any_prefix_is_safe(spark):
    """Vacuum dies mid-removal: because only never-referenced files are
    touched, ANY prefix of the sweep must leave every kept version fully
    readable; the retried vacuum finishes the job."""
    path = _scratch("vac")
    ds = _mk(spark, path)
    for start in (10_000, 10_100, 10_200):
        ds.append(
            spark.range(start, start + 10).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
            )
        )
    ds.compact(strategy="count", target_files=2)
    n = ds.to_df().count()
    arm_fault("vacuum.mid_remove")
    with pytest.raises(InjectedCrash):
        ds.vacuum(keep_versions=1, grace_seconds=0.0)
    ds = Dataset.open(spark, path)
    _chain_consistent(ds)
    assert ds.to_df().count() == n
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert removed, "the retried vacuum finishes the interrupted sweep"
    _chain_consistent(Dataset.open(spark, path))
    assert Dataset.open(spark, path).to_df().count() == n


def test_reclaim_mid_crash_refuses_partial_commit(spark):
    """cleanup_expired dies after reclaiming SOME of a stage's files: the
    payload survives in the RECLAIMING claim state (cleanup claims before
    sweeping — the conditional put that closed the rename-era TOCTOU), so
    commit_staged must refuse loudly — a silent commit would land partial
    data — and the retried cleanup resumes the idempotent sweep."""
    path = _scratch("reclaim")
    ds = _mk(spark, path)
    sid = ds.stage_append(
        spark.range(10_000, 10_020).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ).repartition(2),
        ttl_seconds=0.0,  # expired immediately
    )
    p = os.path.join(ds._staged_dir(), f"{sid}.json")
    # age the stage past the reclaim grace
    payload = json.load(open(p))
    payload["expires_at"] = time.time() - _STAGE_GRACE - 1
    json.dump(payload, open(p, "w"))
    arm_fault("stage.reclaim_mid")
    with pytest.raises(InjectedCrash):
        ds.cleanup_expired()
    ds = Dataset.open(spark, path)
    assert _claim_state(ds._staged_dir(), sid) == "reclaiming", (
        "payload survives the crash, claimed for reclaim"
    )
    assert sid not in ds.staged(), "a reclaiming stage is invisible"
    with pytest.raises(ConflictError, match="reclaiming"):
        ds.commit_staged(sid)
    v = Dataset.open(spark, path)
    assert v.to_df().filter(F.col("k") >= 10_000).count() == 0
    ds = Dataset.open(spark, path)
    ds.cleanup_expired()  # idempotent second sweep finishes
    assert sid not in ds.staged()
    _chain_consistent(ds)


# ------------------------------------------------------- exit-mode child


@pytest.mark.parametrize("commit_handler", ["local", "cas"])
def test_exit_mode_crash_image_in_subprocess(spark, commit_handler):
    """The literal crash image: a Spark-free child process claims + commits
    a staged append and dies with os._exit(77) before the claim cleanup —
    no finally/except handler runs, unlike the in-process raise mode. This
    also proves the staged-commit metadata path needs no SparkSession, and
    (via the marker file) that a recovery process picks up the dataset's
    recorded commit protocol on both handlers."""
    path = _scratch(f"exit_mode_{commit_handler}")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    ds = Dataset.create(
        spark, path, df.coalesce(2), row_ids=True, commit_handler=commit_handler
    )
    sid = ds.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=3600,
    )
    v0 = ds.version
    child = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]);"
         "from plan_spark.dataset import Dataset;"
         "Dataset.open(None, sys.argv[2]).commit_staged(sys.argv[3])",
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         path, sid],
        env={**os.environ,
             "PLAN_SPARK_FAULT": "stage.committed_before_unclaim",
             "PLAN_SPARK_FAULT_MODE": "exit"},
        capture_output=True, text=True, timeout=120,
    )
    assert child.returncode == 77, f"child did not die at the site: {child.stderr}"
    ds = Dataset.open(spark, path)
    assert ds.version > v0 and ds.to_df().filter(F.col("k") >= 10_000).count() == 10
    assert _claim_state(ds._staged_dir(), sid) == "committing"
    _backdate_claims(ds._staged_dir(), _CLAIM_TTL + 1)
    ds.cleanup_expired()
    ds = Dataset.open(spark, path).commit_staged(sid)
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10, "exactly once"
    _chain_consistent(ds)


# ----------------------------------------------------- crash-recovery storm


@pytest.mark.parametrize("commit_handler", ["local", "cas"])
def test_crash_recovery_storm(spark, commit_handler):
    """Seeded sweep: every dataset-protocol site ×6 rounds with randomized
    preceding histories, once per COMMIT PROTOCOL (local O_EXCL/flock vs
    cas compare-and-set-only — the object-store protocol). After each
    crash: reopen, full chain invariant, key conservation (a crashed op
    either happened entirely or not at all — appended key blocks are
    complete or absent), then recover claims and keep going. Set
    PLAN_SPARK_FAULT_STORM_ROUNDS to widen."""
    rounds = int(os.environ.get("PLAN_SPARK_FAULT_STORM_ROUNDS", "6"))
    rng = random.Random(20260816)
    path = _scratch(f"storm_{commit_handler}")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    ds = Dataset.create(
        spark, path, df.coalesce(2), row_ids=True, commit_handler=commit_handler
    )
    next_key = [10_000]
    committed: set[int] = set()  # key-block starts whose op reported success

    def block():
        k = next_key[0]
        next_key[0] += 10
        return k

    def new_rows(k):
        return spark.range(k, k + 10).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )

    sites = [
        "commit.manifest_landed", "stage.claimed",
        "stage.committed_before_unclaim", "vacuum.before_remove",
        "vacuum.mid_remove", "stage.reclaim_mid",
    ]
    for r in range(rounds):
        for site in sites:
            ds = Dataset.open(spark, path)
            # random preceding history so each crash hits a different state
            for _ in range(rng.randrange(0, 3)):
                k = block()
                ds.append(new_rows(k))
                committed.add(k)
            k = block()
            try:
                arm_fault(site)
                if site.startswith("vacuum"):
                    ds.append(new_rows(k))
                    committed.add(k)
                    ds.vacuum(keep_versions=1, grace_seconds=0.0)
                elif site == "stage.reclaim_mid":
                    sid = ds.stage_append(new_rows(k), ttl_seconds=0.0)
                    p = os.path.join(ds._staged_dir(), f"{sid}.json")
                    payload = json.load(open(p))
                    payload["expires_at"] = time.time() - _STAGE_GRACE - 1
                    json.dump(payload, open(p, "w"))
                    ds.cleanup_expired()
                elif site.startswith("stage."):
                    sid = ds.stage_append(new_rows(k), ttl_seconds=3600)
                    ds.commit_staged(sid)
                    committed.add(k)  # unreachable: the fault fires first
                else:
                    ds.append(new_rows(k))
                    committed.add(k)  # unreachable: the fault fires first
            except InjectedCrash:
                pass
            finally:
                clear_faults()
            # ---- after every crash: reopen + invariants
            ds = Dataset.open(spark, path)
            _chain_consistent(ds)
            keys = [row.k for row in ds.to_df().filter(F.col("k") >= 10_000).collect()]
            blocks: dict[int, int] = {}
            for kk in keys:
                b = kk - (kk % 10)
                blocks[b] = blocks.get(b, 0) + 1
            for b, c in blocks.items():
                assert c == 10, f"torn block {b} after {site} (round {r})"
            missing = committed - set(blocks)
            assert not missing, f"acked blocks lost after {site}: {sorted(missing)}"
            # recover any stale claims so later rounds can proceed
            _backdate_claims(ds._staged_dir(), _CLAIM_TTL + 1)
            ds.cleanup_expired()
            # staged-but-uncommitted blocks may legally land later; fold in
            for sid in Dataset.open(spark, path).staged():
                try:
                    ds = Dataset.open(spark, path).commit_staged(sid)
                except (StageExpiredError, FileNotFoundError):
                    continue
            ds = Dataset.open(spark, path)
            for row in ds.to_df().filter(F.col("k") >= 10_000).select("k").distinct().collect():
                committed.add(row.k - (row.k % 10))
    # final: a full vacuum + reopen stays consistent
    Dataset.open(spark, path).vacuum(keep_versions=1, grace_seconds=0.0)
    ds = Dataset.open(spark, path)
    _chain_consistent(ds)


def test_bitmap_meta_mid_crash_keystats_consistent(spark):
    """Crash between the meta pair's two publishes (keystats new, fences
    old): fences are the commit point, so the next probe rebuilds BOTH and
    keystats can never stay stale behind fresh fences (the review's
    ordering finding)."""
    from plan_spark.indexes.bitmap import BitmapIndex

    path = _scratch("bm_meta")
    rows = spark.range(0, 300).select(
        (F.col("id") % 4).alias("v"), F.col("id").alias("i")
    )
    idx = BitmapIndex.build(spark, rows, "v", "i", path=path, n_runs=2)
    idx.insert(
        spark.range(300, 340).select((F.col("id") % 4).alias("v"), F.col("id").alias("i")),
        "v", "i",
    )
    want_runs = idx.in_runs([1])
    arm_fault("bitmap.meta_mid")
    with pytest.raises(InjectedCrash):
        idx.compact()
    fresh = BitmapIndex(spark, path)
    assert fresh.in_runs([1]) == want_runs
    # keystats must describe the CURRENT runs: per-value rows re-derived
    # from the run files equal the keystats table exactly
    ks = fresh.keystats()
    import pyarrow.parquet as pq

    runs_dir = os.path.join(path, "runs")
    derived = {}
    for fn in os.listdir(runs_dir):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(runs_dir, fn), columns=["key", "n"])
        for k, n in zip(t["key"].to_pylist(), t["n"].to_pylist()):
            r, c = derived.get(k, (0, 0))
            derived[k] = (r + n, c + 1)
    assert ks == derived


def test_index_build_crash_windows(spark):
    """create_index dies (a) mid-build or (b) after the build but before
    the descriptor commit: the dataset must be untouched (no descriptor,
    scans fine), vacuum must NOT sweep the dir while its in-flight
    sentinel is fresh, must sweep it once stale, and a retried
    create_index succeeds under a fresh unique dir."""
    from plan_spark.dataset.dataset import _INFLIGHT_TTL

    for site in ("index.build_mid", "index.built_before_commit"):
        path = _scratch(f"idx_{site.split('.')[1]}")
        ds = _mk(spark, path)
        v0 = ds.version
        arm_fault(site)
        with pytest.raises(InjectedCrash):
            ds.create_index("bt", kind="btree", column="k", n_runs=2)
        ds = Dataset.open(spark, path)
        assert ds.version == v0 and "bt" not in ds.manifest.indexes
        assert ds.to_df().count() == 200  # dataset unaffected
        idx_root = os.path.join(path, "_indexes")
        orphans = os.listdir(idx_root)
        assert len(orphans) == 1, f"exactly one orphan build dir: {orphans}"
        orphan = os.path.join(idx_root, orphans[0])
        assert os.path.exists(os.path.join(orphan, "_INFLIGHT")), site
        # fresh sentinel: vacuum must leave the (possibly running) build
        ds.vacuum(keep_versions=1, grace_seconds=0.0)
        assert os.path.isdir(orphan), f"vacuum swept a fresh build ({site})"
        # stale sentinel + aged dir: vacuum reclaims the orphan
        _backdate(os.path.join(orphan, "_INFLIGHT"), _INFLIGHT_TTL + 1)
        _backdate(orphan, _INFLIGHT_TTL + 1)
        ds.vacuum(keep_versions=1, grace_seconds=0.0)
        assert not os.path.isdir(orphan), f"stale orphan survived ({site})"
        # retry lands, probes work
        ds = Dataset.open(spark, path)
        ds.create_index("bt", kind="btree", column="k", n_runs=2)
        assert "bt" in ds.manifest.indexes
        ids = [r.id for r in ds.open_index("bt").equality_query(42).collect()]
        assert len(ids) == 1
        _chain_consistent(ds)


def test_refresh_claim_crash_image_refuses_loudly(spark):
    """The crash image of a refresher that died mid-refresh is its
    _REFRESHING claim file (its buffered insert may or may not have landed
    in the SHARED index files — indistinguishable). Contract: a fresh
    foreign claim reads as 'concurrent refresh', a stale one as 'rebuild
    required' — never a steal-and-reinsert (which would double the delta);
    the rebuild path restores correct probes."""
    from plan_spark.dataset.dataset import _INFLIGHT_TTL, ConflictError

    path = _scratch("refresh_claim")
    ds = _mk(spark, path)
    ds.create_index("bt", kind="btree", column="k", n_runs=2)
    ds.append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
    )
    claim = os.path.join(path, ds.manifest.indexes["bt"]["path"], "_REFRESHING")
    open(claim, "w").close()
    with pytest.raises(ConflictError, match="concurrently"):
        Dataset.open(spark, path).refresh_index("bt")
    _backdate(claim, _INFLIGHT_TTL + 1)
    with pytest.raises(ConflictError, match="rebuild"):
        Dataset.open(spark, path).refresh_index("bt")
    # the documented recovery: rebuild into a fresh staged dir
    ds = Dataset.open(spark, path)
    ds.drop_index("bt")
    ds.create_index("bt", kind="btree", column="k", n_runs=2)
    ids = [r.id for r in ds.open_index("bt").equality_query(10_005).collect()]
    assert len(ids) == 1
    _chain_consistent(ds)


def test_exit_mode_branch_ref_window_in_subprocess(spark):
    """Exit-mode crash image for the r7 torn-ref window, via a Spark-free
    child committing a STAGED append through a branch handle: the child
    dies the instant the manifest lands (os._exit — the RuntimeError
    wrapper and claim-restore handlers never run). Contract on reopen: the
    chain is consistent, the branch still pins its old version, and the
    claim-recovery + retry path lands the write exactly once WITH the ref
    advance."""
    path = _scratch("exit_branch")
    ds = _mk(spark, path)
    ds.branch("fix")
    h = Dataset.open(spark, path).on_branch("fix")
    v0 = h.version
    sid = h.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=3600,
    )
    child = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]);"
         "from plan_spark.dataset import Dataset;"
         "Dataset.open(None, sys.argv[2]).on_branch('fix').commit_staged(sys.argv[3])",
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         path, sid],
        env={**os.environ,
             "PLAN_SPARK_FAULT": "commit.manifest_landed",
             "PLAN_SPARK_FAULT_MODE": "exit"},
        capture_output=True, text=True, timeout=120,
    )
    assert child.returncode == 77, f"child did not die at the site: {child.stderr}"
    ds = Dataset.open(spark, path)
    _chain_consistent(ds)
    assert max(ds.versions()) > v0, "manifest is durable"
    assert ds.list_tags()["fix"] == v0, "ref never advanced (crash image)"
    # recovery: un-claim after TTL, retry — dedup key makes it exactly-once
    assert _claim_state(ds._staged_dir(), sid) == "committing"
    _backdate_claims(ds._staged_dir(), _CLAIM_TTL + 1)
    ds.cleanup_expired()
    h2 = Dataset.open(spark, path).on_branch("fix").commit_staged(sid)
    assert h2.to_df().filter(F.col("k") >= 10_000).count() == 10, "exactly once"
    assert Dataset.open(spark, path).list_tags()["fix"] > v0, "ref advanced on retry"


def test_retry_catchup_never_resurrects_deleted_branch(spark):
    """Between the crash and the retry, an operator deletes the branch:
    the retry's ref catch-up must consume the stage WITHOUT recreating the
    ref (resurrecting it would re-protect the version and bring back a
    kind-unmarked branch). The advance is also monotonic under the lock —
    a ref already ahead is left alone."""
    path = _scratch("no_resurrect")
    ds = _mk(spark, path)
    ds.branch("fix")
    h = Dataset.open(spark, path).on_branch("fix")
    sid = h.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=3600,
    )
    arm_fault("commit.manifest_landed")
    with pytest.raises(InjectedCrash):
        h.commit_staged(sid)
    # a long-lived branch handle obtained BEFORE the deletion (a fresh
    # on_branch correctly refuses an unknown ref — the hazard is a stale
    # handle retrying after an operator dropped the branch)
    h2 = Dataset.open(spark, path).on_branch("fix")
    ds = Dataset.open(spark, path)
    ds.delete_tag("fix")  # operator drops the branch before any retry
    # raise-mode propagated through the un-claim handler, so the stage is
    # already visible again as .json — retry straight away
    assert sid in ds.staged()
    h2.commit_staged(sid)  # dedup path; catch-up must skip the dead ref
    ds = Dataset.open(spark, path)
    assert "fix" not in ds.list_tags(), "deleted branch resurrected"
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10
    _chain_consistent(ds)


@pytest.mark.parametrize("commit_handler", ["local", "s3"])
def test_concurrent_fault_storm(spark, commit_handler):
    """Faults firing UNDER concurrency — the two storms composed: worker
    threads hammer one dataset (append / stage / commit_staged / vacuum /
    probe) while the seeded controller arms a random protocol site every
    few operations; whichever thread hits the site first dies there (its
    InjectedCrash is a legal outcome) and the OTHERS keep writing against
    the live crash image. Invariants at the end, after claim recovery:
    the chain is consistent, every PRESENT key block is complete (appends
    and staged commits are atomic — landed entirely or not at all), every
    ACKED block is present, and no staged transaction is left wedged.

    Runs on the local protocol AND the stubbed S3 backend (r11): the
    fault sites are in-process, so the conditional-put protocol takes
    the same crash images the POSIX one does — a thread dying between a
    bucket PUT and its claim cleanup must leave a recoverable image."""
    import threading

    from plan_spark.dataset.dataset import ConflictError

    if commit_handler == "s3":
        from plan_spark.dataset.s3 import set_s3_client_factory
        from tests.s3_stub import StubS3Client

        stub = StubS3Client()
        set_s3_client_factory(lambda: stub)

    rng = random.Random(20260817)
    path = _scratch(f"conc_fault_{commit_handler}")
    try:
        _mk(spark, path, commit_handler=commit_handler)
        _concurrent_fault_storm_body(spark, path, rng, ConflictError, threading)
    finally:
        if commit_handler == "s3":
            set_s3_client_factory(None)


def _concurrent_fault_storm_body(spark, path, rng, ConflictError, threading):
    lock = threading.Lock()
    next_key = [10_000]
    acked: set[int] = set()
    stages: list[str] = []
    crashes: list[str] = []
    errors: list[str] = []
    # vacuum.mid_remove is omitted: with the (mandatory) live-writer age
    # grace nothing is ever young enough to remove here, so it cannot
    # fire — the single-threaded crash_recovery_storm covers it instead
    sites = [
        "commit.manifest_landed", "stage.claimed",
        "stage.committed_before_unclaim", "vacuum.before_remove",
    ]

    def block():
        with lock:
            k = next_key[0]
            next_key[0] += 10
            return k

    def rows(k):
        return spark.range(k, k + 10).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )

    scripts = [
        [rng.choices(
            ["append", "stage", "commit_staged", "vacuum", "probe"],
            weights=[4, 3, 3, 1, 2],
        )[0] for _ in range(25)]
        for _ in range(4)
    ]

    def worker(tid):
        for i, op in enumerate(scripts[tid]):
            # the controller role is folded in: thread 0 re-arms a random
            # site every few ops (arming is idempotent and thread-safe)
            if tid == 0 and i % 4 == 1:
                arm_fault(rng.choice(sites))
            try:
                ds = Dataset.open(spark, path)
                if op == "append":
                    k = block()
                    ds.append(rows(k).coalesce(1))
                    with lock:
                        acked.add(k)
                elif op == "stage":
                    k = block()
                    sid = ds.stage_append(rows(k).coalesce(1), ttl_seconds=3600)
                    with lock:
                        stages.append(sid)
                elif op == "commit_staged":
                    with lock:
                        sid = stages.pop() if stages else None
                    if sid:
                        ds.commit_staged(sid)
                elif op == "vacuum":
                    # the age grace MUST outlive the storm: grace 0 is
                    # documented single-writer-only — with live concurrent
                    # writers it can sweep a mid-flight append's files
                    # BEFORE its manifest lands (the flake this fixed)
                    ds.vacuum(keep_versions=2, grace_seconds=600.0)
                elif op == "probe":
                    ds.to_df().filter(F.col("k") >= 10_000).count()
            except InjectedCrash as e:
                with lock:
                    crashes.append(f"{op}@{e}")
            except (ConflictError, ValueError, FileNotFoundError):
                pass  # legal race outcomes (incl. claim-held stage retries)
            except RuntimeError as e:
                # the ONLY legal RuntimeErrors here are the two documented
                # landed-but-ref-behind reports (both loud and, for the
                # staged face, claim-restoring) — anything else is a bug
                if "could not catch up" in str(e) or "could not advance" in str(e):
                    pass
                else:
                    with lock:
                        errors.append(f"{op}: RuntimeError: {e}")
            except Exception as e:
                with lock:
                    errors.append(f"{op}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    clear_faults()
    assert not errors, f"invariant-grade exceptions: {errors[:5]}"
    assert crashes, "the storm must actually fire faults"

    # recovery: free stale claims, reclaim/commit leftover stages
    ds = Dataset.open(spark, path)
    sdir = ds._staged_dir()
    _backdate_claims(sdir, _CLAIM_TTL + 1)
    ds.cleanup_expired()
    for sid in Dataset.open(spark, path).staged():
        try:
            Dataset.open(spark, path).commit_staged(sid)
        except (StageExpiredError, FileNotFoundError, ConflictError):
            continue
    ds = Dataset.open(spark, path)
    assert not any(
        _claim_state(sdir, fn[:-5]) == "committing"
        for fn in os.listdir(sdir) if fn.endswith(".json")
    ), "a stage stayed wedged after recovery"
    _chain_consistent(ds)
    keys = [r.k for r in ds.to_df().filter(F.col("k") >= 10_000).collect()]
    per_block: dict[int, int] = {}
    for k in keys:
        b = k - (k % 10)
        per_block[b] = per_block.get(b, 0) + 1
    torn = {b: c for b, c in per_block.items() if c != 10}
    assert not torn, f"torn blocks under concurrent faults: {torn}"
    missing = acked - set(per_block)
    assert not missing, f"acked appends lost: {sorted(missing)[:5]}"


def test_fts_corpus_swap_crash_recovers(spark):
    """FTS insert dies between the corpus-stats renames: the old
    rmtree-then-rename shape left corpus/ GONE forever (every BM25 query
    dead with no recovery); the rename-aside swap + reader-side restore
    must keep queries working and a retried insert must converge."""
    from plan_spark.indexes.fts import FtsIndex

    path = _scratch("fts_swap")
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(50)],
        "doc_id long, text string",
    )
    idx = FtsIndex.build(spark, docs, id_col="doc_id", text_col="text", path=path)
    base_hits = sorted(
        r.doc_id for r in idx.search(["alpha"], top_k=None).collect()
    )
    extra = spark.createDataFrame(
        [(100, "alpha delta epsilon")], "doc_id long, text string"
    )
    arm_fault("fts.corpus_swap_mid")
    with pytest.raises(InjectedCrash):
        idx.insert(extra)
    # crash image: corpus/ missing, corpus_old/ holds the stats — a query
    # must self-heal and still see the appended posting rows
    fresh = FtsIndex(spark, path)
    hits = sorted(r.doc_id for r in fresh.search(["alpha"], top_k=None).collect())
    assert hits == sorted(base_hits + [100])
    # the stats lag one insert (documented-sound); the retried rewrite
    # converges them — n_docs now counts the appended doc
    fresh.insert(
        spark.createDataFrame([(101, "alpha zeta")], "doc_id long, text string")
    )
    n_docs = FtsIndex(spark, path).corpus().collect()[0].n_docs
    assert n_docs == 52


def test_graph_index_swap_crashes(spark):
    """HNSW / IVF-HNSW compacts die mid-swap: the previous in-place nodes
    overwrite would have left a partial graph with silently missing
    vectors; the rename-aside + fold-marker recovery must keep search
    results identical and a retried compact must converge."""
    import numpy as np

    from plan_spark.indexes.hnsw import HnswIndex
    from plan_spark.indexes.ivf_hnsw import IvfHnswIndex

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)],
        "id long, v array<double>",
    )
    extra = spark.createDataFrame(
        [(300 + i, [float(x) for x in rng.normal(size=8)]) for i in range(10)],
        "id long, v array<double>",
    )
    q = {0: [float(x) for x in rng.normal(size=8)]}

    hn = HnswIndex.build(
        spark, vecs, id_col="id", vec_col="v",
        path=_scratch("hnsw_swap"), n_shards=2, seed=3,
    )
    hn.insert(extra, id_col="id", vec_col="v")
    want = [r.c_id for r in hn.search(q, top_k=5).collect()]
    arm_fault("hnsw.swap_mid")
    with pytest.raises(InjectedCrash):
        hn.compact()
    fresh = HnswIndex(spark, hn.path)
    assert [r.c_id for r in fresh.search(q, top_k=5).collect()] == want
    fresh.compact()
    assert [r.c_id for r in fresh.search(q, top_k=5).collect()] == want

    iv = IvfHnswIndex.build(
        spark, vecs, id_col="id", vec_col="v",
        path=_scratch("ivfh_swap"), k=4, seed=3,
    )
    iv.insert(extra, id_col="id", vec_col="v")
    want = [r.c_id for r in iv.search(q, top_k=5, nprobe=4).collect()]
    arm_fault("ivf_hnsw.swap_mid")
    with pytest.raises(InjectedCrash):
        iv.compact()
    fresh = IvfHnswIndex(spark, iv.path)
    assert [r.c_id for r in fresh.search(q, top_k=5, nprobe=4).collect()] == want
    fresh.compact()
    assert [r.c_id for r in fresh.search(q, top_k=5, nprobe=4).collect()] == want


def test_dml_files_written_crash_reads_as_before(spark):
    """UPDATE and MERGE die after their deletion sidecars and row images
    are written but before the one manifest commit: the reopened table
    reads exactly as before the statement, and vacuum reclaims the
    orphaned files."""
    path = _scratch("dml_files")
    ds = _mk(spark, path)
    before = sorted(map(tuple, ds.to_df(with_row_id=True).collect()))

    def files():
        return {
            f"{sub}/{fn}"
            for sub in ("data", "deletes")
            for fn in os.listdir(os.path.join(path, sub))
        }

    kept, v = files(), ds.version
    statements = [
        lambda d: d.update({"grp": "grp + 100"}, "k < 50"),
        lambda d: d.merge_insert(
            spark.createDataFrame([(3, 9), (5000, 1)], "k long, grp long"),
            keys=["k"],
        ),
    ]
    for stmt in statements:
        arm_fault("dml.files_written")
        with pytest.raises(InjectedCrash):
            stmt(Dataset.open(spark, path))
        ds = Dataset.open(spark, path)
        assert ds.version == v
        _chain_consistent(ds)
        assert sorted(map(tuple, ds.to_df(with_row_id=True).collect())) == before
    orphans = files() - kept
    assert any(o.startswith("data/") for o in orphans)
    assert any(o.startswith("deletes/") for o in orphans)
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert orphans <= set(removed)
    assert files() == kept
    assert sorted(map(tuple, Dataset.open(spark, path).to_df(with_row_id=True).collect())) == before


def test_values_insert_files_written_crash_reads_as_before(spark):
    """An INSERT ... VALUES, written by the driver, dies after its file
    lands in data/ but before the manifest commit: the reopened table reads
    as before the statement, and vacuum reclaims the orphaned file."""
    from plan_spark.engine import Engine

    d = _scratch("values_files")
    eng = Engine(spark, d)
    eng.sql("CREATE TABLE t (k BIGINT, v STRING)")
    eng.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    ds = eng.dataset("t")
    data = os.path.join(ds.path, "data")
    kept, v = set(os.listdir(data)), ds.version
    before = sorted(map(tuple, ds.to_df(with_row_id=True).collect()))
    arm_fault("append.files_written")
    with pytest.raises(InjectedCrash):
        eng.sql("INSERT INTO t VALUES (3, 'c')")
    ds = eng.dataset("t")
    assert ds.version == v
    _chain_consistent(ds)
    assert sorted(map(tuple, ds.to_df(with_row_id=True).collect())) == before
    orphans = set(os.listdir(data)) - kept
    assert len(orphans) == 1
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert {f"data/{o}" for o in orphans} <= set(removed)
    assert set(os.listdir(data)) == kept
    eng.sql("INSERT INTO t VALUES (3, 'c')")
    assert sorted(r.k for r in eng.dataset("t").to_df().collect()) == [1, 2, 3]


def test_vacuum_reclaims_stale_staging_dirs(spark):
    """A writer that died mid-_write_fragments leaves its _staging_<uuid>
    dir (never referenced by any manifest). vacuum reclaims it only past
    the in-flight horizon — a fresh dir (a live large write) survives."""
    from plan_spark.dataset.dataset import _INFLIGHT_TTL

    path = _scratch("staging_leak")
    ds = _mk(spark, path)
    dead = os.path.join(path, "_staging_deadbeef")
    os.makedirs(dead)
    open(os.path.join(dead, "part-0.parquet"), "wb").write(b"partial")
    ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert os.path.isdir(dead), "a fresh staging dir must survive vacuum"
    _backdate(dead, _INFLIGHT_TTL + 1)
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert not os.path.isdir(dead) and "_staging_deadbeef" in removed
    _chain_consistent(Dataset.open(spark, path))


def test_torn_catalog_write_impossible(spark):
    """Engine catalog writes are temp+rename: arming no fault, just prove
    the invariant directly — after any number of catalog mutations there
    is never a moment when catalog.json is absent or torn (the old plain
    overwrite could tear mid-write, bricking every later Engine open)."""
    import json as _json

    from plan_spark.engine import Engine

    d = _scratch("catalog_atomic")
    os.makedirs(d, exist_ok=True)
    eng = Engine(spark, d)
    for i in range(5):
        eng.sql(f"CREATE TABLE t{i} (k BIGINT, v STRING)")
        # the catalog file parses at every step and no temp residue stays
        with open(os.path.join(d, "_catalog.json")) as fh:
            cat = _json.load(fh)
        assert f"t{i}" in cat["schemas"]["main"]["tables"]
    assert not [f for f in os.listdir(d) if ".tmp." in f], "temp residue"


def test_landed_stage_never_reclaimed_after_expiry(spark):
    """The review-caught committed-data-loss window: a stage with a TTL
    commits, the process dies before the claim cleanup, and the claim goes
    stale PAST the stage's own expiry. The reclaim faces must consume the
    payload WITHOUT touching the files (they are manifest-referenced now),
    and a commit_staged retry must consume via the dedup path instead of
    refusing with StageExpiredError forever."""
    path = _scratch("landed_expiry")
    ds = _mk(spark, path)
    sid = ds.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=60,
    )
    arm_fault("stage.committed_before_unclaim")
    with pytest.raises(InjectedCrash):
        ds.commit_staged(sid)
    ds = Dataset.open(spark, path)
    assert ds.to_df().filter(F.col("k") >= 10_000).count() == 10, "landed"
    sdir = ds._staged_dir()
    # simulate: claim stale AND stage expired (the wedge state)
    with open(os.path.join(sdir, f"{sid}.json")) as fh:
        payload = json.load(fh)
    payload["claim_ts"] = time.time() - _CLAIM_TTL - 1
    payload["expires_at"] = time.time() - _STAGE_GRACE - 1
    with open(os.path.join(sdir, f"{sid}.json"), "w") as fh:
        json.dump(payload, fh)
    staged_files = [a["path"] for a in payload["added"]]
    # recovery: cleanup reopens the stale claim...
    Dataset.open(spark, path).cleanup_expired()
    # ...and the retry consumes via dedup despite the elapsed TTL
    ds2 = Dataset.open(spark, path).commit_staged(sid)
    assert ds2.to_df().filter(F.col("k") >= 10_000).count() == 10, "exactly once"
    for rel in staged_files:
        assert os.path.exists(os.path.join(path, rel)), "files survive"
    _chain_consistent(Dataset.open(spark, path))


def test_landed_expired_stage_cleanup_consumes_payload_only(spark):
    """Same wedge state, recovered through cleanup_expired instead of a
    retry: the sweep must consume the payload but NEVER delete the
    manifest-referenced files."""
    path = _scratch("landed_cleanup")
    ds = _mk(spark, path)
    sid = ds.stage_append(
        spark.range(10_000, 10_010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        ttl_seconds=60,
    )
    arm_fault("stage.committed_before_unclaim")
    with pytest.raises(InjectedCrash):
        ds.commit_staged(sid)
    ds = Dataset.open(spark, path)
    sdir = ds._staged_dir()
    with open(os.path.join(sdir, f"{sid}.json")) as fh:
        payload = json.load(fh)
    payload["claim_ts"] = time.time() - _CLAIM_TTL - 1
    payload["expires_at"] = time.time() - _STAGE_GRACE - 1
    with open(os.path.join(sdir, f"{sid}.json"), "w") as fh:
        json.dump(payload, fh)
    staged_files = [a["path"] for a in payload["added"]]
    # two sweeps: the first reopens the stale claim, the second reclaims
    ds.cleanup_expired()
    removed = Dataset.open(spark, path).cleanup_expired()
    assert not any(r in staged_files for r in removed), removed
    assert sid not in Dataset.open(spark, path).staged()
    for rel in staged_files:
        assert os.path.exists(os.path.join(path, rel)), (
            "manifest-referenced files must survive the reclaim"
        )
    assert Dataset.open(spark, path).to_df().filter(
        F.col("k") >= 10_000
    ).count() == 10
    _chain_consistent(Dataset.open(spark, path))


# arm_fault keeps the firing MODE per site: arming 'b' in exit mode must
# not switch an already-armed 'a' to exit.
class TestPerSiteFaultMode:
    def test_mixed_modes_keep_their_mechanism(self):
        # Arming 'b' in exit mode after 'a' in raise mode must not flip
        # 'a' to os._exit — 'a' still raises InjectedCrash in-process.
        clear_faults()
        try:
            arm_fault("advice_a", mode="raise")
            arm_fault("advice_b", mode="exit")
            with pytest.raises(InjectedCrash):
                fault_point("advice_a")
        finally:
            clear_faults()

    def test_exit_mode_survives_in_child(self):
        # 'b' (exit mode) fires as a real crash image in a child process
        # even though a raise-mode site was armed after it.
        code = (
            "from plan_spark.faults import arm_fault, fault_point\n"
            "arm_fault('b', mode='exit')\n"
            "arm_fault('a', mode='raise')\n"
            "fault_point('b')\n"
            "print('unreachable')\n"
        )
        r = subprocess.run(
            ["python", "-c", code], cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), capture_output=True
        )
        assert r.returncode == 77 and b"unreachable" not in r.stdout
