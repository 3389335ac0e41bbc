"""Stable row ids (reference pkg/storage2/rowids.go:11-201): every row gets
a permanent id at ingest, stable across delete / update / compaction /
merge, never reused. Range segments are zero-storage manifest arithmetic;
rewrites produce Array segments (physical __rowid column)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from plan_spark.dataset import Dataset


@pytest.fixture()
def tmp_path_ds():
    d = tempfile.mkdtemp(prefix="plan_spark_rid_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def base_df(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("grp"),
        (F.col("id") * 2.5).alias("val"),
    )


def _rid_map(ds):
    """stable row id -> business key (id column)."""
    return {
        r["_rowid"]: r["id"]
        for r in ds.to_df(with_row_id=True).select("_rowid", "id").collect()
    }


def test_create_assigns_dense_ids(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4), row_ids=True)
    rids = sorted(_rid_map(ds))
    assert rids == list(range(1000))
    assert ds.manifest.next_row_id == 1000


def test_row_ids_stable_across_delete(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4), row_ids=True)
    before = _rid_map(ds)
    ds.delete("grp = 3")
    after = _rid_map(ds)
    assert len(after) == 900
    # every survivor keeps exactly the id it had
    for rid, key in after.items():
        assert before[rid] == key
    # deleted ids are gone, not remapped
    deleted = set(before) - set(after)
    assert all(before[r] % 10 == 3 for r in deleted)


def test_row_ids_stable_across_update(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4), row_ids=True)
    before = _rid_map(ds)
    ds.update({"val": "-1.0"}, "grp = 5")
    after = _rid_map(ds)
    assert after == before  # same ids, same keys — only val changed
    updated = ds.to_df(with_row_id=True).filter("val = -1.0")
    assert updated.count() == 100
    # rewritten fragments are Array segments carrying ids physically
    assert any(f.row_start is None for f in ds.manifest.fragments)


def test_row_ids_stable_across_compaction(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(8), row_ids=True)
    before = _rid_map(ds)
    ds.compact(target_bytes=1 << 30)
    assert len(ds.manifest.fragments) < 8
    assert _rid_map(ds) == before


def test_append_extends_range(spark, tmp_path_ds, base_df, spark_session=None):
    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    more = spark.range(1000, 1200).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), (F.col("id") * 2.5).alias("val")
    )
    ds.append(more)
    rids = sorted(_rid_map(ds))
    assert rids == list(range(1200))


def test_concurrent_appends_never_duplicate_ids(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    a = Dataset.open(spark, tmp_path_ds)
    b = Dataset.open(spark, tmp_path_ds)
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), (F.col("id") * 2.5).alias("val")
    )
    a.append(mk(1000, 1100))
    b.append(mk(1100, 1250))  # rebases over a's commit
    ds = Dataset.open(spark, tmp_path_ds)
    df = ds.to_df(with_row_id=True)
    assert df.count() == 1250
    assert df.select("_rowid").distinct().count() == 1250
    assert ds.manifest.next_row_id == 1250


def test_overwrite_never_reuses_ids(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    ds.overwrite(base_df.limit(10))
    rids = sorted(_rid_map(ds))
    assert len(rids) == 10
    assert min(rids) >= 1000  # pre-overwrite ids retired forever
    assert ds.manifest.next_row_id == 1010


def test_merge_keeps_matched_ids_and_mints_new(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4), row_ids=True)
    before = _rid_map(ds)
    src = spark.range(990, 1020).select(
        F.col("id"), F.lit(99).alias("grp"), F.lit(-1.0).alias("val")
    )
    ds.merge_insert(src, keys=["id"])
    after = _rid_map(ds)
    assert len(after) == 1020
    # matched rows (id 990..999) keep their original row ids
    for rid, key in before.items():
        assert after[rid] == key
    # inserted rows (id 1000..1019) get fresh ids above the old allocator
    new_rids = {r for r, k in after.items() if k >= 1000}
    assert len(new_rids) == 20
    assert min(new_rids) >= 1000


def test_take_rows_addresses_and_prunes(spark, tmp_path_ds, base_df):
    ds = Dataset.create(
        spark, tmp_path_ds, base_df.repartitionByRange(8, "id"), row_ids=True
    )
    want = [3, 500, 997]
    got = {r["_rowid"]: r["id"] for r in ds.take_rows(want).collect()}
    full = _rid_map(ds)
    assert got == {r: full[r] for r in want}
    # after deleting a row, its id addresses nothing (never reused)
    victim_key = full[500]
    ds.delete(f"id = {victim_key}")
    assert ds.take_rows([500]).count() == 0
    assert ds.take_rows([3]).count() == 1


def test_take_rows_prunes_fragments(spark, tmp_path_ds, base_df):
    ds = Dataset.create(
        spark, tmp_path_ds, base_df.repartitionByRange(8, "id"), row_ids=True
    )
    # a single id lives in exactly one Range fragment — verify the pruning
    # logic touches one file, not eight, by checking the manifest intervals
    hits = [
        f
        for f in ds.manifest.fragments
        if f.row_start is not None and f.row_start <= 42 < f.row_start + f.rows
    ]
    assert len(hits) == 1
    assert ds.take_rows([42]).count() == 1


def test_row_ids_survive_clone_and_time_travel(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    before = _rid_map(ds)
    ds.delete("grp = 0")
    old = ds.checkout(1)
    assert _rid_map(old) == before
    dest = tempfile.mkdtemp(prefix="plan_spark_rid_clone_")
    try:
        cl = ds.clone(dest)
        assert cl.manifest.row_ids
        assert _rid_map(cl) == _rid_map(ds)
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def test_to_df_without_flag_hides_rowid(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df, row_ids=True)
    ds.update({"val": "0.0"}, "grp = 1")  # forces an Array-segment rewrite
    cols = ds.to_df().columns
    assert "_rowid" not in cols and "__rowid" not in cols
    # and a non-row-id dataset rejects the flag
    d2 = tempfile.mkdtemp(prefix="plan_spark_rid_off_")
    try:
        plain = Dataset.create(spark, d2, base_df.limit(5))
        with pytest.raises(ValueError):
            plain.to_df(with_row_id=True)
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_take_rows_over_256_runs_plans_a_hash_join(spark, tmp_path_ds, monkeypatch):
    # over the driver gate, more than 256 runs ship as a broadcast table
    # joined on an id bucket: a hash join, not a nested loop over every run
    import plan_spark.dataset.dataset as dsmod

    df = spark.range(0, 3000).selectExpr("id AS k", "id % 7 AS g").repartition(3)
    ds = Dataset.create(spark, tmp_path_ds, df, row_ids=True)
    ds.delete("k % 11 = 0")
    runs = [(i * 9, i * 9 + (i % 4)) for i in range(300)] + [(2990, 2999), (5000, 5003)]
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", 100)
    got = ds.take_rows(runs=runs)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "BroadcastHashJoin" in plan
    halves = [ds.take_rows(runs=runs[:150]), ds.take_rows(runs=runs[150:])]
    for h in halves:
        assert "__run_lo" not in h._jdf.queryExecution().executedPlan().toString()
    want = sorted(tuple(r) for h in halves for r in h.collect())
    assert sorted(tuple(r) for r in got.collect()) == want
    covered = {i for lo, hi in runs for i in range(lo, hi + 1)}
    truth = [tuple(r) for r in ds.to_df(with_row_id=True).collect() if r["_rowid"] in covered]
    assert want == sorted(truth) and len(want) > 600
