"""Versioned dataset layer: lifecycle, mutations, time travel, conflicts,
compaction, vacuum, pruning — mirrors the reference's storage2/SDK test
surface (sdk/*_test.go, pkg/storage2 conflict/compaction/cleanup tests)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from plan_spark.dataset import ConflictError, Dataset


@pytest.fixture()
def tmp_path_ds():
    d = tempfile.mkdtemp(prefix="plan_spark_ds_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def base_df(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("grp"),
        (F.col("id") * 2.5).alias("val"),
    )


def test_create_scan_roundtrip(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    assert ds.version == 1
    assert ds.to_df().count() == 1000
    assert sorted(ds.to_df().columns) == ["grp", "id", "val"]


def test_append_and_time_travel(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.append(spark.range(1000, 1500).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), (F.col("id") * 2.5).alias("val")))
    assert ds.version == 2
    assert ds.to_df().count() == 1500
    old = ds.checkout(1)
    assert old.to_df().count() == 1000
    ds.tag("before-append", 1)
    assert ds.checkout("before-append").to_df().count() == 1000


def test_delete_with_deletion_vectors(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4))
    ds.delete("grp = 3")
    assert ds.to_df().count() == 900
    assert ds.to_df().filter("grp = 3").count() == 0
    # merge-on-read: physical rows unchanged, deletion files attached
    st = ds.statistics()
    assert st["rows_physical"] == 1000
    assert st["deletion_files"] >= 1
    # old version still sees everything
    assert ds.checkout(1).to_df().count() == 1000


def test_delete_drops_dead_fragments(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartitionByRange(4, "id"))
    before = len(ds.manifest.fragments)
    ds.delete("id < 250")  # kills whole range fragments
    assert ds.to_df().count() == 750
    assert len(ds.manifest.fragments) < before


def test_update(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.update({"val": "val + 1000.0"}, "grp = 1")
    out = ds.to_df()
    assert out.count() == 1000
    assert out.filter("grp = 1 AND val <> id * 2.5 + 1000.0").count() == 0
    assert out.filter("grp <> 1 AND val <> id * 2.5").count() == 0


def test_merge_upsert(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    src = spark.range(990, 1010).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(-1.0).alias("val")
    )
    ds.merge_insert(src, keys=["id"])
    out = ds.to_df()
    assert out.count() == 1010
    assert out.filter("val = -1.0").count() == 20
    assert out.filter("id = 995 AND val = -1.0").count() == 1


def test_merge_delete(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    src = spark.range(0, 100).select(F.col("id"))
    ds.merge_insert(src, keys=["id"], when_matched="delete", when_not_matched=None)
    assert ds.to_df().count() == 900


def test_conflict_append_append_rebases(spark, tmp_path_ds, base_df):
    ds1 = Dataset.create(spark, tmp_path_ds, base_df)
    ds2 = Dataset.open(spark, tmp_path_ds)
    extra = spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(0.0).alias("val"))
    ds1.append(extra)
    ds2.append(extra)  # stale read version -> rebases onto ds1's commit
    latest = Dataset.open(spark, tmp_path_ds)
    assert latest.version == 3
    assert latest.to_df().count() == 1200


def test_rebase_reassigns_fragment_ids(spark, tmp_path_ds, base_df):
    """Concurrent appends from the same read version must not produce
    duplicate fragment ids after rebase (reference conflict.go rebase
    reassigns ids) — a duplicated id makes a later delete() drop BOTH
    fragments."""
    ds1 = Dataset.create(spark, tmp_path_ds, base_df)
    ds2 = Dataset.open(spark, tmp_path_ds)
    a = spark.range(1000, 1100).select(
        F.col("id"), F.lit(77).alias("grp"), F.lit(0.0).alias("val"))
    b = spark.range(2000, 2100).select(
        F.col("id"), F.lit(88).alias("grp"), F.lit(0.0).alias("val"))
    ds1.append(a)
    ds2.append(b)  # stale read version -> rebased; ids must be reassigned
    latest = Dataset.open(spark, tmp_path_ds)
    ids = [f.id for f in latest.manifest.fragments]
    assert len(ids) == len(set(ids)), f"duplicate fragment ids: {ids}"
    # delete rows living only in ds1's fragment; ds2's rows must survive
    latest.delete("grp = 77")
    out = latest.to_df()
    assert out.filter("grp = 77").count() == 0
    assert out.filter("grp = 88").count() == 100
    assert out.count() == 1100


def test_vacuum_preserves_staged_files(spark, tmp_path_ds, base_df):
    """A vacuum between stage_append and commit_staged must not sweep the
    staged data files (they are referenced only by _staged/*.json)."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    extra = spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(0.0).alias("val"))
    sid = ds.stage_append(extra)
    ds.append(extra)  # make an extra version so vacuum has something to sweep
    ds.vacuum(keep_versions=1, grace_seconds=0.0)
    ds.commit_staged(sid)
    assert Dataset.open(spark, tmp_path_ds).to_df().count() == 1200


def test_delete_successive_overlapping(spark, tmp_path_ds, base_df):
    """Three successive overlapping predicate deletes stay exact with the
    single-job deletion accounting (no per-fragment count jobs)."""
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4))
    ds.delete("id < 400")
    ds.delete("id < 600")       # overlaps already-deleted rows
    ds.delete("grp = 7")        # cross-cuts every fragment
    out = ds.to_df()
    assert out.count() == 360  # 1000 - 600 (id<600) - 40 (grp=7 in id>=600)
    assert out.filter("id < 600").count() == 0
    assert out.filter("grp = 7").count() == 0
    # fully-dead fragments drop; survivors carry stacked deletion files
    assert ds.checkout(1).to_df().count() == 1000


def test_conflict_delete_delete_raises(spark, tmp_path_ds, base_df):
    ds1 = Dataset.create(spark, tmp_path_ds, base_df)
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds1.delete("grp = 3")
    with pytest.raises(ConflictError):
        ds2.delete("grp = 3")  # same fragments touched concurrently


def test_conflict_overwrite_raises(spark, tmp_path_ds, base_df):
    ds1 = Dataset.create(spark, tmp_path_ds, base_df)
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds1.append(spark.range(1000, 1001).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(0.0).alias("val")))
    with pytest.raises(ConflictError):
        ds2.overwrite(spark.range(5).select(
            F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(0.0).alias("val")))


def test_schema_evolution(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.add_column("flag", "string", default="'new'")
    out = ds.to_df()
    assert "flag" in out.columns
    assert out.filter("flag = 'new'").count() == 1000
    ds.drop_column("flag")
    assert "flag" not in ds.to_df().columns
    # old data still scannable after append with new schema
    ds.add_column("score", "double", default="0.0")
    ds.append(
        spark.range(1000, 1010).select(
            F.col("id"), (F.col("id") % 10).alias("grp"),
            F.lit(1.0).alias("val"), F.lit(9.9).alias("score"))
    )
    out = ds.to_df()
    assert out.filter("score = 9.9").count() == 10
    assert out.filter("score = 0.0").count() == 1000


def test_compaction_preserves_content(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(8))
    ds.delete("id % 7 = 0")
    before = ds.to_df().groupBy("grp").agg(F.sum("val").alias("s")).collect()
    nfrag_before = len(ds.manifest.fragments)
    ds.compact()
    assert len(ds.manifest.fragments) < nfrag_before
    after = ds.to_df().groupBy("grp").agg(F.sum("val").alias("s")).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # compaction materialized the deletion vectors
    assert ds.statistics()["deletion_files"] == 0


def test_vacuum(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4))
    ds.delete("grp = 0")
    ds.compact()
    removed = ds.vacuum(keep_versions=1, grace_seconds=0.0)
    assert removed  # old fragments + manifests swept
    assert ds.versions() == [ds.version]
    assert Dataset.open(spark, ds.path).to_df().count() == 900


def test_stats_pruning(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartitionByRange(5, "id"))
    sel, pruned = ds.plan_scan(filters=[("id", ">=", 900)])
    assert pruned, "range fragments below 900 must be pruned"
    assert ds.to_df(filters=[("id", ">=", 900)]).count() == 100
    sel2, pruned2 = ds.plan_scan(filters=[("id", "=", 42)])
    assert len(sel2) == 1


def test_delete_update_zonemap_preprune(spark, tmp_path_ds, base_df, monkeypatch):
    """The COW write paths' find-hits / find-affected scans ride the same
    driver-side zonemap pruning as filtered SELECT scans: fragments whose
    stats preclude a match are never read, and a fully-pruned predicate
    commits nothing. Results must match the unpruned semantics exactly."""
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartitionByRange(5, "id"))
    seen: list[int] = []
    orig = Dataset._scan_with_lineage

    def spy(self, frags, *a, **k):
        seen.append(len(frags))
        return orig(self, frags, *a, **k)

    monkeypatch.setattr(Dataset, "_scan_with_lineage", spy)

    # range delete touches only the one overlapping fragment
    ds.delete("id >= 950")
    assert seen and seen[0] == 1, f"find-hits scanned {seen} fragments"
    assert ds.to_df().count() == 950

    # range update: find-affected AND the rewrite scan see one fragment
    seen.clear()
    v0 = ds.version
    ds.update({"val": "val + 100000"}, "id < 100")
    assert seen and all(n == 1 for n in seen), f"update scanned {seen}"
    got = {r.id: r.val for r in ds.to_df().filter("id < 3 OR id = 500").collect()}
    assert got == {0: 100000.0, 1: 100002.5, 2: 100005.0, 500: 1250.0}

    # provably-no-match predicates commit nothing and scan nothing
    seen.clear()
    v1 = ds.version
    assert ds.delete("id >= 5000") is ds
    assert ds.update({"val": "0.0"}, "id < -1") is ds
    assert seen == [] and ds.version == v1 > v0

    # unparseable predicate falls back to the full fragment set (pruning
    # is best-effort metadata, never a correctness surface)
    seen.clear()
    nfrags = len(ds.manifest.fragments)
    ds.delete("id % 997 = 1")
    assert seen and seen[0] == nfrags
    assert ds.to_df().count() == 949


def test_restore(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.delete("grp = 3")
    assert ds.to_df().count() == 900
    ds.restore(1)
    assert ds.version == 3
    assert ds.to_df().count() == 1000
    # history preserved: the deleted state is still reachable
    assert ds.checkout(2).to_df().count() == 900


def test_shallow_clone(spark, tmp_path_ds, base_df):
    import tempfile

    ds = Dataset.create(spark, tmp_path_ds, base_df)
    dest = tempfile.mkdtemp(prefix="plan_spark_clone_")
    try:
        cl = ds.clone(dest)
        assert cl.to_df().count() == 1000
        # clone evolves independently of the source
        cl.delete("grp = 0")
        assert cl.to_df().count() == 900
        assert ds.to_df().count() == 1000
        # zero data copy: clone's own data dir is empty
        import os

        assert os.listdir(os.path.join(cl.path, "data")) == []
    finally:
        import shutil

        shutil.rmtree(dest, ignore_errors=True)


def test_branch_auto_advances(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    b = ds.branch("dev")
    b.append(base_df.limit(10))
    assert b.checkout("dev").version == b.version == 2
    b.delete("grp = 1")
    assert b.checkout("dev").version == 3
    # tags stay put
    ds.tag("v1", 1)
    assert ds.checkout("v1").version == 1


def test_detached_txn_commits_after_concurrent_append(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    sid = ds.stage_append(base_df.limit(5))
    assert sid in ds.staged()
    # a concurrent commit lands before the staged txn commits
    ds.append(base_df.limit(7))
    ds.commit_staged(sid)
    assert ds.to_df().count() == 1012
    assert ds.staged() == []


def test_conflict_schema_schema_raises(spark, tmp_path_ds, base_df):
    """Two concurrent schema edits must not silently drop one (reference
    conflict matrix: schema vs schema conflicts, conflict.go:81)."""
    ds1 = Dataset.create(spark, tmp_path_ds, base_df)
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds1.add_column("x", "int", default="0")
    with pytest.raises(ConflictError):
        ds2.add_column("y", "int", default="1")
    # non-schema commits against the stale handle still rebase fine
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds2.add_column("y", "int", default="1")
    assert sorted(ds2.schema.fieldNames()) == ["grp", "id", "val", "x", "y"]


def test_compaction_count_strategy(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(12))
    assert len(ds.manifest.fragments) == 12
    before = sorted(r.id for r in ds.to_df().collect())
    ds.compact(strategy="count", target_files=3)
    assert len(ds.manifest.fragments) == 3
    assert sorted(r.id for r in ds.to_df().collect()) == before


def test_string_predicate_scan_and_pruning(spark, tmp_path_ds, base_df):
    """Predicate strings prune via extracted conjuncts and filter exactly
    (reference filter_parser.go: the same comparison subset drives its
    index selection)."""
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartitionByRange(8, "id"))
    sel, pruned = ds.plan_scan("id >= 990 AND grp = 9")
    assert pruned, "stats pruning should drop fragments for id >= 990"
    got = sorted(r.id for r in ds.to_df("id >= 990 AND grp = 9").collect())
    want = sorted(
        r.id for r in base_df.filter("id >= 990 AND grp = 9").collect()
    )
    assert got == want
    # unparsable conjuncts still filter correctly (no pruning claimed)
    got2 = ds.to_df("grp IN (1, 2) AND id < 50").count()
    assert got2 == base_df.filter("grp IN (1, 2) AND id < 50").count()


def _scan_rows_materialized(df) -> int:
    """Rows the parquet scan actually materialized (post row-group/page
    skipping), from the executed plan's leaf scan metrics."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                total += kv._2().value()
    return total


def test_bloom_filter_skips_row_groups_on_miss(spark, tmp_path_ds):
    """bloom_columns (the BloomFilter scalar index) must let a point-lookup
    MISS skip every row group — where min/max zonemaps cannot, because the
    high-NDV key's range spans all row groups. The same data written without
    bloom filters materializes rows."""
    # even keys only, shuffled order so every row group spans ~full range;
    # small parquet block size => several row groups per fragment
    df = (
        spark.range(0, 200000, 1, 1)
        .select((F.col("id") * 2).alias("k"), F.rand(7).alias("v"))
        .orderBy(F.rand(11))
    )
    spark.conf.set("spark.hadoop.parquet.block.size", 256 * 1024)
    try:
        plain = Dataset.create(spark, tmp_path_ds + "_plain", df)
        bloomed = Dataset.create(spark, tmp_path_ds + "_bloom", df, bloom_columns=["k"])
    finally:
        spark.conf.unset("spark.hadoop.parquet.block.size")

    miss = 100001  # odd => absent, but inside [min, max] of every row group
    n_plain = _scan_rows_materialized(plain.to_df().filter(F.col("k") == miss))
    n_bloom = _scan_rows_materialized(bloomed.to_df().filter(F.col("k") == miss))
    assert n_plain > 0, "zonemap alone should NOT skip (range spans all groups)"
    assert n_bloom == 0, f"bloom filter should skip every row group, read {n_bloom}"

    # appends inherit the manifest's bloom columns
    bloomed.append(df.limit(50000))
    n_after = _scan_rows_materialized(bloomed.to_df().filter(F.col("k") == miss))
    assert n_after == 0
    # and a hit still returns its rows
    assert bloomed.to_df().filter(F.col("k") == 100000).count() > 0


def test_zorder_compaction_prunes_every_clustered_column(spark, tmp_path_ds):
    """Z-order rewrite gives zonemap pruning on BOTH clustered columns at
    once (a plain sort would only tighten the leading column's stats)."""
    from tests.conftest import SF_DIR
    from plan_spark.catalog import table

    ords = table(spark, SF_DIR, "orders").repartition(16)  # random layout
    ds = Dataset.create(spark, tmp_path_ds, ords)
    before = ds.to_df().count()

    # random layout: every file spans the full key ranges -> nothing prunes
    _, pr_cust0 = ds.plan_scan("o_custkey = 17")
    _, pr_date0 = ds.plan_scan("o_orderdate < '1996-01-01'")
    assert len(pr_cust0) == 0 and len(pr_date0) == 0

    ds.compact(strategy="zorder", zorder_by=["o_custkey", "o_orderdate"], target_files=16)
    assert len(ds.manifest.fragments) == 16

    sel_c, pr_cust = ds.plan_scan("o_custkey = 17")
    sel_d, pr_date = ds.plan_scan("o_orderdate < '1996-01-01'")
    # each column's equality/range predicate must prune at least half the files
    assert len(pr_cust) >= 8, f"custkey pruned only {len(pr_cust)}/16"
    assert len(pr_date) >= 4, f"orderdate pruned only {len(pr_date)}/16"

    # logical content unchanged, and the pruned scans still answer correctly
    assert ds.to_df().count() == before
    full = table(spark, SF_DIR, "orders")
    assert ds.to_df("o_custkey = 17").count() == full.filter("o_custkey = 17").count()
    assert (
        ds.to_df("o_orderdate < '1996-01-01'").count()
        == full.filter("o_orderdate < '1996-01-01'").count()
    )


def test_zorder_preserves_row_ids(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(8), row_ids=True)
    before = {r["id"]: r["_rowid"] for r in ds.to_df(with_row_id=True).collect()}
    ds.compact(strategy="zorder", zorder_by=["id", "val"], target_files=4)
    after = {r["id"]: r["_rowid"] for r in ds.to_df(with_row_id=True).collect()}
    assert before == after


# ------------------------------------------------------- AlterColumns


def test_alter_rename_roundtrip(spark, tmp_path_ds, base_df):
    """Rename is metadata-only: same values under the new name, zero data
    files rewritten, and a subsequent rewrite (update) keeps working."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    files_before = sorted(f.path for f in ds.manifest.fragments)
    ds.alter_columns({"path": "val", "rename": "amount"})
    assert sorted(ds.to_df().columns) == ["amount", "grp", "id"]
    assert sorted(f.path for f in ds.manifest.fragments) == files_before
    got = {r["id"]: r["amount"] for r in ds.to_df().collect()}
    assert got[4] == 10.0
    # predicate + rewrite under the new name
    ds.update({"amount": "amount + 1"}, "id = 4")
    assert ds.to_df().filter("id = 4").collect()[0]["amount"] == 11.0
    # time travel still reads the old name
    old = ds.checkout(1)
    assert "val" in old.to_df().columns and "amount" not in old.to_df().columns


def test_alter_rename_then_append_and_compact(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4))
    ds.alter_columns({"path": "val", "rename": "amount"})
    extra = spark.range(1000, 1200).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), (F.col("id") * 2.5).alias("amount")
    )
    ds.append(extra)
    assert ds.to_df().count() == 1200
    assert ds.to_df().filter("id = 1100").collect()[0]["amount"] == 2750.0
    # compaction mixes pre- and post-rename fragments; content must survive
    ds.compact(target_files=2)
    assert ds.to_df().count() == 1200
    assert ds.to_df().filter("id = 1100").collect()[0]["amount"] == 2750.0
    assert ds.to_df().filter("id = 4").collect()[0]["amount"] == 10.0


def test_alter_rename_prunes_and_blooms(spark, tmp_path_ds, base_df):
    """Zonemap pruning keys on the stored (physical) name; predicates on
    the logical name must still prune files."""
    ds = Dataset.create(
        spark, tmp_path_ds, base_df.orderBy("id").repartition(4, "grp"),
        bloom_columns=["id"],
    )
    ds.alter_columns({"path": "id", "rename": "row_key"})
    sel, pruned = ds.plan_scan("row_key = 1")
    assert len(pruned) >= 1, "rename broke zonemap pruning"
    assert ds.to_df("row_key = 1").count() == 1
    # appends after the rename still write bloom filters for the column
    ds.append(
        spark.range(5000, 6000).select(
            F.col("id").alias("row_key"),
            (F.col("id") % 10).alias("grp"),
            (F.col("id") * 2.5).alias("val"),
        )
    )
    assert ds.to_df().filter("row_key = 5017").count() == 1


def test_alter_widen_type(spark, tmp_path_ds):
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("a"),
        F.col("id").cast("float").alias("b"),
        F.col("id").cast("decimal(10,2)").alias("c"),
    )
    ds = Dataset.create(spark, tmp_path_ds, df)
    ds.alter_columns(
        {"path": "a", "data_type": "bigint"},
        {"path": "b", "data_type": "double"},
        {"path": "c", "data_type": "decimal(18,2)"},
    )
    out = ds.to_df()
    types = dict(out.dtypes)
    assert types == {"a": "bigint", "b": "double", "c": "decimal(18,2)"}
    assert out.count() == 100
    # values beyond int range append cleanly after the widen
    ds.append(
        spark.createDataFrame(
            [(2**40, 1.5, None)], "a bigint, b double, c decimal(18,2)"
        )
    )
    assert ds.to_df().filter(F.col("a") == 2**40).count() == 1
    assert ds.to_df().count() == 101


def test_alter_narrowing_rejected(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    with pytest.raises(ValueError, match="not a widening"):
        ds.alter_columns({"path": "id", "data_type": "int"})
    with pytest.raises(ValueError, match="not a widening"):
        ds.alter_columns({"path": "val", "data_type": "float"})
    with pytest.raises(ValueError, match="no such column"):
        ds.alter_columns({"path": "nope", "rename": "x"})
    with pytest.raises(ValueError, match="already exists"):
        ds.alter_columns({"path": "id", "rename": "grp"})


def test_alter_rename_and_widen_together(spark, tmp_path_ds):
    df = spark.range(0, 50).select(F.col("id").cast("int").alias("a"))
    ds = Dataset.create(spark, tmp_path_ds, df)
    ds.alter_columns({"path": "a", "rename": "a_big", "data_type": "bigint"})
    assert dict(ds.to_df().dtypes) == {"a_big": "bigint"}
    assert ds.to_df().agg(F.sum("a_big")).collect()[0][0] == sum(range(50))


def test_alter_survives_clone_and_restore(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.alter_columns({"path": "val", "rename": "amount"})
    dest = tmp_path_ds + "_clone"
    try:
        c = ds.clone(dest)
        assert "amount" in c.to_df().columns
        assert c.to_df().filter("id = 4").collect()[0]["amount"] == 10.0
    finally:
        shutil.rmtree(dest, ignore_errors=True)
    # restore to pre-rename content brings the old mapping/schema back
    ds.restore(1)
    assert "val" in ds.to_df().columns and "amount" not in ds.to_df().columns


def test_alter_rename_default_rekeyed(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.add_column("score", "double", default="0.5")
    ds.alter_columns({"path": "score", "rename": "rating"})
    rows = ds.to_df().select("rating").distinct().collect()
    assert [r["rating"] for r in rows] == [0.5]


def test_alter_rename_chain_back(spark, tmp_path_ds, base_df):
    """a -> b -> a round trip collapses to the identity mapping."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.alter_columns({"path": "val", "rename": "tmpname"})
    ds.alter_columns({"path": "tmpname", "rename": "val"})
    assert ds.manifest.column_mapping == {}
    assert ds.to_df().filter("id = 4").collect()[0]["val"] == 10.0


def test_alter_rename_with_row_ids_and_delete(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(4), row_ids=True)
    ds.alter_columns({"path": "grp", "rename": "bucket"})
    ds.delete("bucket = 3")
    assert ds.to_df().count() == 900
    got = ds.take_rows([5])
    assert got.columns == ["id", "bucket", "val", "_rowid"]
    want = ds.to_df(with_row_id=True).filter("_rowid = 5").collect()[0]
    assert got.collect()[0]["id"] == want["id"]


def _jobs_for(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_job_count_fragment_independent(spark, tmp_path_ds, base_df):
    """Delete's job budget must not scale with fragment count (the r1
    per-fragment-count-job regression), and the persisted hits keep the
    predicate evaluation to the fixed plan (count job + sidecar write job,
    plus AQE's per-stage jobs — identical for any fragment count)."""
    ds4 = Dataset.create(spark, tmp_path_ds + "_a", base_df.repartition(4))
    ds16 = Dataset.create(spark, tmp_path_ds + "_b", base_df.repartition(16))
    try:
        j4 = _jobs_for(spark, "del-4frag", lambda: ds4.delete("grp = 3"))
        j16 = _jobs_for(spark, "del-16frag", lambda: ds16.delete("grp = 3"))
        assert j4 == j16, f"delete jobs scale with fragments: {j4} vs {j16}"
        assert j4 <= 4, f"delete ran {j4} jobs"
        assert ds4.to_df().count() == 900
        assert ds16.to_df().count() == 900
    finally:
        shutil.rmtree(tmp_path_ds + "_a", ignore_errors=True)
        shutil.rmtree(tmp_path_ds + "_b", ignore_errors=True)


def test_bitmap_index_prunes_interleaved_fragments(spark, tmp_path_ds):
    """Bitmap scalar index (bitmap_index.go analogue at file granularity):
    equality on a low-NDV column prunes fragments whose distinct set lacks
    the value, even though every fragment's min/max RANGE covers it (the
    zonemap alone proves nothing here)."""
    # evens and odds interleave over the full id range: fragment grp ranges
    # overlap completely, distinct sets of grp are disjoint (one fragment
    # per write keeps the layout deterministic)
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 8).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    evens, odds = df.filter("grp % 2 = 0"), df.filter("grp % 2 = 1")
    ds = Dataset.create(
        spark, tmp_path_ds, evens.coalesce(1), bitmap_columns=["grp"]
    )
    ds.append(odds.coalesce(1))
    assert len(ds.manifest.fragments) == 2
    # every fragment carries a distinct set
    assert all("distinct" in f.stats.get("grp", {}) for f in ds.manifest.fragments)
    sel, pruned = ds.plan_scan("grp = 3")
    assert len(pruned) >= 1, "bitmap index failed to prune any fragment"
    # zonemap alone could NOT have pruned: min/max of grp overlaps 3 everywhere
    for f in pruned:
        st = f.stats["grp"]
        assert st["min"] <= 3 <= st["max"]
    assert ds.to_df("grp = 3").count() == 125
    # appends inherit the declaration; rename re-keys it
    ds.append(
        spark.range(1000, 1100)
        .select(F.col("id"), F.lit(99).alias("grp"), F.lit(0.0).alias("val"))
        .coalesce(1)
    )
    ds.alter_columns({"path": "grp", "rename": "bucket"})
    assert ds.manifest.bitmap_columns == ["bucket"]
    sel99, pruned99 = ds.plan_scan("bucket = 99")
    assert len(sel99) == 1 and len(pruned99) == 2
    assert ds.to_df("bucket = 99").count() == 100
    # high-NDV columns never record a set (bound keeps metadata tiny)
    ds2_dir = tmp_path_ds + "_hi"
    try:
        ds2 = Dataset.create(
            spark, ds2_dir,
            spark.range(0, 1000)
            .select(F.col("id"), (F.col("id") % 500).alias("k"))
            .coalesce(1),
            bitmap_columns=["k"],
        )
        assert all(
            "distinct" not in f.stats.get("k", {}) for f in ds2.manifest.fragments
        )
    finally:
        shutil.rmtree(ds2_dir, ignore_errors=True)


def test_merge_schema(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    # new columns merge in as nullable with defaults; existing widen
    ds.merge_schema("id bigint, tag string, score double",
                    defaults={"score": "1.0"})
    out = ds.to_df()
    assert sorted(out.columns) == ["grp", "id", "score", "tag", "val"]
    assert out.filter("score = 1.0").count() == 1000
    assert out.filter("tag IS NULL").count() == 1000
    # widening merge on an existing column
    ds2_dir = tmp_path_ds + "_w"
    try:
        df = spark.range(10).select(F.col("id").cast("int").alias("a"))
        ds2 = Dataset.create(spark, ds2_dir, df)
        ds2.merge_schema("a bigint, b string")
        assert dict(ds2.to_df().dtypes) == {"a": "bigint", "b": "string"}
    finally:
        shutil.rmtree(ds2_dir, ignore_errors=True)
    with pytest.raises(ValueError, match="not a widening"):
        ds.merge_schema("val float")


def test_in_list_pruning(spark, tmp_path_ds):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 8).alias("grp")
    )
    evens, odds = df.filter("grp % 2 = 0"), df.filter("grp % 2 = 1")
    ds = Dataset.create(spark, tmp_path_ds, evens.coalesce(1), bitmap_columns=["grp"])
    ds.append(odds.coalesce(1))
    # IN over values absent from the evens fragment prunes it (bitmap);
    # IN over values outside every range prunes everything (zonemap)
    sel, pruned = ds.plan_scan("grp IN (1, 3)")
    assert len(sel) == 1 and len(pruned) == 1
    assert ds.to_df("grp IN (1, 3)").count() == 250
    sel2, pruned2 = ds.plan_scan("id IN (5000, 6000)")
    assert len(sel2) == 0 and len(pruned2) == 2
    # tuple-style IN filter applies as a residual too
    assert ds.to_df([("grp", "in", [2, 4])]).count() == 250


def test_count_rows_and_data_size(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(3))
    n = base_df.count()
    assert ds.count_rows() == n
    assert ds.data_size() == sum(f.bytes for f in ds.manifest.fragments) > 0
    ds.delete("val > 50")
    expect = base_df.filter("NOT (val > 50)").count()
    assert ds.count_rows() == expect  # deletion-vector-aware metadata count
    assert ds.count_rows("grp = 1") == base_df.filter("NOT (val > 50) AND grp = 1").count()
    # re-deleting an overlapping predicate must not double-subtract
    ds.delete("val > 40")
    assert ds.count_rows() == base_df.filter("NOT (val > 40)").count()


def test_tag_lifecycle(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    ds.tag("a")
    ds.append(base_df.limit(5))
    ds.tag("b")
    assert ds.list_tags() == {"a": 1, "b": 2}
    ds.delete_tag("a")
    assert ds.list_tags() == {"b": 2}
    with pytest.raises(ValueError):
        ds.delete_tag("a")


def test_detached_delete_commits_later(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(2))
    sid = ds.stage_delete("val > 50")
    # nothing visible until commit
    assert ds.count_rows() == base_df.count()
    # an unrelated append lands in between and must rebase cleanly
    extra = base_df.limit(7).selectExpr("id", "grp", "val + 1000 AS val")
    ds.append(extra)
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds2.commit_staged(sid)
    # appended rows were NOT covered by the staged predicate evaluation
    # (it ran against the pre-append snapshot), so they all survive
    assert ds2.count_rows() == base_df.filter("NOT (val > 50)").count() + 7
    assert ds2.manifest.operation == "delete"


def test_detached_delete_survives_vacuum(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df.repartition(2))
    sid = ds.stage_delete("val > 50")
    ds.append(base_df.limit(3))
    # keep the staged txn's read version alive; the sweep must still PIN the
    # staged deletion sidecars (they are referenced by no manifest yet)
    ds.vacuum(keep_versions=2, grace_seconds=0.0)
    ds.commit_staged(sid)
    assert ds.count_rows() == base_df.filter("NOT (val > 50)").count() + 3
    # vacuuming AWAY the read version makes a later fragment-touching
    # staged commit conflict (cannot verify against vacuumed history)
    sid2 = ds.stage_delete("val > 40")
    ds.append(base_df.limit(2))
    ds.vacuum(keep_versions=1, grace_seconds=0.0)
    with pytest.raises(ConflictError):
        ds.commit_staged(sid2)


def test_detached_overwrite(spark, tmp_path_ds, base_df):
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    small = base_df.limit(4)
    sid = ds.stage_overwrite(small)
    ds2 = Dataset.open(spark, tmp_path_ds)
    ds2.commit_staged(sid)
    assert ds2.count_rows() == 4
    # strict conflict rule: a second staged overwrite from the OLD read
    # version must be rejected after the first lands
    ds3 = Dataset.open(spark, tmp_path_ds, version=1)
    sid2 = ds3.stage_overwrite(small)
    with pytest.raises(ConflictError):
        ds3.commit_staged(sid2)


def test_merge_update_columns_preserves_rest(spark, tmp_path_ds, base_df):
    """MatchedUpdateColumns (reference merge_insert.go:32,97): only the
    named non-key columns take source values; others keep target values."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    src = spark.range(990, 1010).select(
        F.col("id"), F.lit(777).alias("grp"), F.lit(-1.0).alias("val")
    )
    ds.merge_insert(src, keys=["id"], update_columns=["val"])
    out = ds.to_df()
    assert out.count() == 1010
    # matched rows: val updated, grp PRESERVED (source said 777)
    assert out.filter("id >= 990 AND id < 1000 AND val = -1.0").count() == 10
    assert out.filter("id >= 990 AND id < 1000 AND grp = id % 10").count() == 10
    # inserted rows take the full source row (grp = 777)
    assert out.filter("id >= 1000 AND grp = 777 AND val = -1.0").count() == 10
    import pytest as _pt

    with _pt.raises(ValueError, match="update_columns may not include keys"):
        ds.merge_insert(src, keys=["id"], update_columns=["id"])
    with _pt.raises(ValueError, match="unknown update_columns"):
        ds.merge_insert(src, keys=["id"], update_columns=["nope"])
    with _pt.raises(ValueError, match="requires when_matched"):
        ds.merge_insert(
            src, keys=["id"], when_matched="delete", update_columns=["val"]
        )


def test_merge_matched_null_source_value_overwrites(spark, tmp_path_ds, base_df):
    """A matched update takes the source's value even when it is NULL, as
    SQL MERGE ... UPDATE SET val = s.val does; an unmatched NULL inserts."""
    ds = Dataset.create(spark, tmp_path_ds, base_df)
    src = spark.createDataFrame(
        [(5, 5, None), (6, 6, 1.5), (2000, 0, None)], "id long, grp long, val double"
    )
    ds.merge_insert(src, keys=["id"])
    got = {r["id"]: r["val"] for r in ds.to_df().filter("id IN (5, 6, 7, 2000)").collect()}
    assert got == {5: None, 6: 1.5, 7: 17.5, 2000: None}
    assert ds.count_rows() == 1001


def _dml_story(spark, path, base_df):
    """DELETE, UPDATE, MERGE (update+insert, delete, insert-only), a staged
    delete, then every read: rows (without ids) after each step."""
    ds = Dataset.create(spark, path, base_df.repartition(4), row_ids=True)

    def rows(d):
        return sorted(map(tuple, d.to_df().collect()))

    def src(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).alias("grp"), (F.col("id") * -1.0).alias("val")
        )

    seen = []
    ds.delete("id % 7 = 0")
    seen.append(rows(ds))
    ds.update({"val": "val + 1", "grp": "grp + 100"}, "grp = 2")
    seen.append(rows(ds))
    ds.merge_insert(src(950, 1050), keys=["id"])
    seen.append(rows(ds))
    ds.merge_insert(src(100, 160), keys=["id"], when_matched="delete", when_not_matched=None)
    seen.append(rows(ds))
    ds.merge_insert(src(1040, 1080), keys=["id"], when_matched=None)
    seen.append(rows(ds))
    ds.commit_staged(ds.stage_delete("grp = 102"))
    seen.append(rows(ds))
    withids = ds.to_df(with_row_id=True).collect()
    assert len({r["_rowid"] for r in withids}) == len(withids)
    seen.append(sorted((r["id"], r["grp"], r["val"]) for r in withids))
    seen.append(sorted(map(tuple, ds.to_df(filters="id >= 900 AND grp <> 1").collect())))
    return seen


def _sql_story(spark, root):
    """SQL point reads after each statement of a DML story: each read's
    rows, and whether Spark scanned files for it."""
    from plan_spark.engine import Engine

    eng = Engine(spark, root)
    eng.sql("CREATE TABLE t (id BIGINT, grp BIGINT, val DOUBLE)")
    eng.dataset("t").append(
        spark.range(0, 1000).selectExpr("id", "id % 3 AS grp", "id * -1.0 AS val").coalesce(1)
    )
    reads = []
    for stmt in (
        "DELETE FROM t WHERE id % 7 = 0",
        "UPDATE t SET val = val + 1 WHERE grp = 2 AND id < 300",
        "MERGE INTO t USING (SELECT id, 9 AS grp, 0.5 AS val FROM range(990, 1010)) s "
        "ON id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "DELETE FROM t WHERE id BETWEEN 100 AND 110",
    ):
        eng.sql(stmt)
        for q in ("SELECT * FROM t WHERE id = 995", "SELECT id, val FROM t WHERE id >= 280 AND id < 320",
                  "SELECT * FROM t WHERE grp = 9 LIMIT 100"):
            df = eng.sql(q)
            scanned = "FileScan" in df._jdf.queryExecution().executedPlan().toString()
            reads.append((scanned, sorted(map(tuple, df.collect()))))
    return reads


def test_large_statement_path_matches_small(spark, tmp_path_ds, base_df, monkeypatch):
    """Statements above the driver gate (_IN_LIST_MAX matched rows or
    source rows, sidecars over it on read) take the distributed path:
    persisted hits, Spark-written sidecars, a non-broadcast MERGE join and
    the anti-join read. Shrinking the gate sends every step of the same
    story there; the answers must equal the driver path's. SQL point reads
    over the gate keep Spark's scan of the registered view."""
    import plan_spark.dataset.dataset as dsmod

    small = _dml_story(spark, tmp_path_ds + "/small", base_df)
    small_sql = _sql_story(spark, tmp_path_ds + "/small_sql")
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", 5)
    large = _dml_story(spark, tmp_path_ds + "/large", base_df)
    large_sql = _sql_story(spark, tmp_path_ds + "/large_sql")
    assert large == small
    assert len(small[-1]) > 0 and len(small[0]) == 1000 - 143
    assert [rows for _, rows in large_sql] == [rows for _, rows in small_sql]
    assert not any(scanned for scanned, _ in small_sql)
    assert all(scanned for scanned, rows in large_sql if rows)
    assert all(rows for i, (_, rows) in enumerate(small_sql) if i % 3 < 2)


def test_binpack_tiers_merge_files_of_distinct_sizes(spark, tmp_path_ds):
    """Size-tiered binpack over 1-10 MiB files of distinct sizes: each
    tier (files under twice its smallest) of two or more is rewritten, the
    fragment count stays about one per tier, and a new small file is
    binned with its own tier, not with the table."""
    import pytest as _pt

    def part(seed, n):
        return spark.range(n).select(F.rand(seed).alias("x")).coalesce(1)

    n_rows = [140_000, 200_000, 290_000, 420_000, 610_000, 880_000]
    ds = Dataset.create(spark, tmp_path_ds, part(0, n_rows[0]))
    for i, n in enumerate(n_rows[1:], 1):
        ds.append(part(i, n))
    sizes = sorted(f.bytes for f in ds.manifest.fragments)
    assert sizes[0] > 1 << 20 and sizes[-1] < 10 << 20
    assert len(set(sizes)) == len(sizes)
    want = ds.to_df().agg(F.count("*"), F.sum("x")).collect()[0]
    ds.compact()
    assert len(ds.manifest.fragments) < len(n_rows)
    for _ in range(3):
        ds.compact()
    sizes = sorted(f.bytes for f in ds.manifest.fragments)
    # settled: one file per 2x tier
    assert all(b >= 2 * a for a, b in zip(sizes, sizes[1:]))
    assert len(sizes) <= 3
    got = ds.to_df().agg(F.count("*"), F.sum("x")).collect()[0]
    assert got[0] == want[0] and got[1] == _pt.approx(want[1])
    ds.compact()
    assert ds.last_compaction_stats is None  # a settled table is left alone
    ds.append(part(10, 1000))
    ds.append(part(11, 1200))
    ds.compact()
    assert ds.last_compaction_stats["fragments_compacted"] == 2
    assert ds.last_compaction_stats["bytes_read"] < 1 << 20


def test_filter_parser_top_level_or_disables_pruning(spark, tmp_path_ds):
    """'a = 1 OR b = 2 AND c = 3' parses as a=1 OR (b=2 AND c=3): NO
    conjunct is individually required, so the parser must extract nothing
    (pruning on c=3 dropped a-branch rows before this fix). OR inside
    parentheses still allows the outer conjunct."""
    assert Dataset._parse_filter_string(spark, "a = 1 OR b = 2 AND c = 3") == []
    assert Dataset._parse_filter_string(spark, "a = 1 AND b = 2 OR c = 3") == []
    got = Dataset._parse_filter_string(spark, "(a = 1 OR b = 2) AND c = 3")
    assert ("c", "=", 3) in got
    # a column NAMED like the keyword must not split ('order_id', 'android')
    got = Dataset._parse_filter_string(spark, "order_id = 5 AND android = 3")
    assert ("order_id", "=", 5) in got and ("android", "=", 3) in got
    # quoted literals containing ' OR ' are opaque
    got = Dataset._parse_filter_string(spark, "a = 'x OR y' AND c = 3")
    assert ("c", "=", 3) in got

    # end-to-end: rows matching only the OR's left branch survive the scan
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    ds = Dataset.create(spark, tmp_path_ds, df.repartition(4))
    pred = "a = 3 OR b = 2 AND a = 4"
    got_ids = sorted(r.id for r in ds.to_df(filters=pred).collect())
    want_ids = sorted(r.id for r in ds.to_df().filter(pred).collect())
    assert got_ids == want_ids and len(got_ids) > 0


def test_filter_parser_keeps_only_exact_column_literal_conjuncts(spark):
    """Conjuncts are read off Spark's parse: a literal counts only when an
    int, float or str equals it exactly, only a single-part column on the
    left counts, and text Spark cannot parse raises its parse error."""
    from pyspark.errors import ParseException

    def p(pred):
        return Dataset._parse_filter_string(spark, pred)

    assert p("a = 1.0 AND b IN (2, 2.5) AND c = 'x'") == [
        ("a", "=", 1), ("b", "in", [2, 2.5]), ("c", "=", "x"),
    ]
    # no double equals the decimal; literal-first, qualified, NULL, boolean,
    # typed and negated forms contribute nothing
    assert p("b > 2.4999999999999999999") == []
    assert p("5 < a AND t.a = 1 AND a = NULL AND a = true") == []
    assert p("d = DATE '2020-01-01' AND NOT a = 1 AND a != 2") == []
    with pytest.raises(ParseException):
        p("a = = 1")


def test_to_df_unknown_columns_raise_on_empty_scan(spark, tmp_path):
    """The columns= validation contract (ValueError naming the typo) must
    not depend on whether pruning selected zero fragments."""
    from plan_spark.dataset import Dataset

    df = spark.createDataFrame([(1, 2.0)], "k long, v double").coalesce(1)
    ds = Dataset.create(spark, str(tmp_path / "empties"), df)
    with pytest.raises(ValueError, match="unknown columns"):
        ds.to_df(columns=["typo"])
    # fully-pruned scan (contradictory range): same exception type
    with pytest.raises(ValueError, match="unknown columns"):
        ds.to_df(filters="k >= 10 AND k <= 5", columns=["typo"])
    # and limit= applies on the empty path too
    assert ds.to_df(filters="k >= 10 AND k <= 5", limit=3).count() == 0


def test_compaction_stats_recorded(spark, tmp_path):
    """compact() surfaces per-run CompactionStats (reference
    compaction_coordinator.go:90-112): fragments in/out, bytes, rows —
    None when the pass was a no-op."""
    from plan_spark.dataset.dataset import Dataset

    df = spark.range(100).selectExpr("id AS a", "id * 2 AS b")
    ds = Dataset.create(spark, str(tmp_path / "cst"), df.repartition(4))
    n_before = len(ds.manifest.fragments)
    assert n_before >= 2
    ds.compact(strategy="count", target_files=1)
    st = ds.last_compaction_stats
    assert st["fragments_compacted"] == n_before
    assert st["new_fragments_created"] == 1
    assert st["rows"] == 100
    assert st["bytes_read"] > 0 and st["bytes_written"] > 0
    # a no-op pass records None
    ds.compact(strategy="count", target_files=8)
    assert ds.last_compaction_stats is None


# `col BETWEEN a AND b` yields both bound conjuncts for zonemap pruning;
# NOT BETWEEN and text inside literals yield nothing.
def test_between_extracts_bounds(spark):
    def p(pred):
        return Dataset._parse_filter_string(spark, pred)

    assert p("x BETWEEN 1 AND 5") == [("x", ">=", 1), ("x", "<=", 5)]
    assert p("ts BETWEEN '2020-01-01' AND '2020-06-30'") == [
        ("ts", ">=", "2020-01-01"),
        ("ts", "<=", "2020-06-30"),
    ]
    # composes with other conjuncts, case-insensitive
    got = p("a = 7 AND x between 1.5 AND 2.5")
    assert ("a", "=", 7) in got and ("x", ">=", 1.5) in got and ("x", "<=", 2.5) in got
    # NOT BETWEEN cannot prune on min/max: no conjunct, no corruption
    assert p("x NOT BETWEEN 1 AND 5") == []
    # BETWEEN inside a string literal is opaque
    got = p("name = 'a BETWEEN 1 AND 2' AND c = 3")
    assert got == [("name", "=", "a BETWEEN 1 AND 2"), ("c", "=", 3)]
    # a top-level OR still disables extraction entirely
    assert p("x BETWEEN 1 AND 5 OR y = 2") == []


def test_between_prunes_fragments_and_results_match(spark, tmp_path):
    """Range-partitioned table: a BETWEEN predicate prunes non-overlapping
    fragments (fragment-spy) and the scan result equals the residual
    filter applied to the full table."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(10, "id")
    ds = Dataset.create(spark, str(tmp_path / "btw"), df)
    sel, pruned = ds.plan_scan("id BETWEEN 100 AND 199")
    assert len(pruned) > 0  # non-overlapping fragments dropped
    assert len(sel) < len(ds.manifest.fragments)
    got = sorted(r.id for r in ds.to_df(filters="id BETWEEN 100 AND 199").collect())
    assert got == list(range(100, 200))


# count_rows(filter) is corpus-sized data-plane work: it plans with AQE on.
def test_filtered_count_rows_keeps_aqe(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 3).alias("g"))
    ds = Dataset.create(spark, str(tmp_path / "cnt"), df)
    # instrument: driver_sized would flip the session conf during planning
    flips: list[str] = []
    orig_set = spark.conf.set

    def spy_set(k, v):
        if k == "spark.sql.adaptive.enabled":
            flips.append(str(v))
        return orig_set(k, v)

    spark.conf.set = spy_set
    try:
        assert ds.count_rows("g = 1") == sum(1 for i in range(100) if i % 3 == 1)
    finally:
        spark.conf.set = orig_set
    assert flips == []  # the filtered count never toggled AQE
