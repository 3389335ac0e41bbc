"""Transactional index creation (reference index_transaction.go:19-246):
create/drop/open, bitmap backfill pruning, freshness tracking, and the
same-name create conflict."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from plan_spark.dataset import ConflictError, Dataset
from tests.conftest import to_format1


@pytest.fixture()
def tmp_ds():
    d = tempfile.mkdtemp(prefix="plan_spark_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _interleaved(spark):
    """Two fragments whose grp min/max ranges fully overlap but whose
    distinct sets are disjoint — the case zonemaps cannot prune."""
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 8).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    return df.filter("grp % 2 = 0"), df.filter("grp % 2 = 1")


def test_bitmap_create_index_backfills_and_prunes(spark, tmp_ds):
    evens, odds = _interleaved(spark)
    # dataset created WITHOUT any index declaration
    ds = Dataset.create(spark, tmp_ds, evens.coalesce(1))
    ds.append(odds.coalesce(1))
    assert not any("distinct" in f.stats.get("grp", {}) for f in ds.manifest.fragments)
    sel, pruned = ds.plan_scan("grp = 3")
    assert not pruned, "nothing should prune before the index exists"

    ds.create_index("grp_bitmap", kind="bitmap", column="grp")
    assert all("distinct" in f.stats.get("grp", {}) for f in ds.manifest.fragments)
    sel, pruned = ds.plan_scan("grp = 3")
    assert len(pruned) == 1  # the evens fragment proves absence of 3
    assert ds.to_df("grp = 3").count() == 125
    # declaration is forward-carried: future fragments collect their own set
    assert "grp" in ds.manifest.bitmap_columns
    ds.append(
        spark.range(1000, 1100)
        .select(F.col("id"), F.lit(99).alias("grp"), F.lit(0.0).alias("val"))
        .coalesce(1)
    )
    new_frag = max(ds.manifest.fragments, key=lambda f: f.id)
    assert new_frag.stats["grp"]["distinct"] == [99]


def test_index_freshness_and_drop(spark, tmp_ds):
    evens, odds = _interleaved(spark)
    ds = Dataset.create(spark, tmp_ds, evens.coalesce(1))
    ds.create_index("grp_bitmap", kind="bitmap", column="grp")
    assert ds.index_fresh("grp_bitmap")
    # a second index commit does not stale the first
    ds.create_index("val_bloom", kind="bloom", column="val")
    assert ds.index_fresh("grp_bitmap")
    assert "val" in ds.manifest.bloom_columns
    # a data operation does
    ds.append(odds.coalesce(1))
    assert not ds.index_fresh("grp_bitmap")
    ds.drop_index("grp_bitmap")
    assert "grp_bitmap" not in ds.manifest.indexes
    with pytest.raises(ValueError):
        ds.index_fresh("grp_bitmap")
    with pytest.raises(ValueError):
        ds.drop_index("grp_bitmap")


def test_same_name_create_conflicts(spark, tmp_ds):
    evens, odds = _interleaved(spark)
    Dataset.create(spark, tmp_ds, evens.coalesce(1))
    a = Dataset.open(spark, tmp_ds)
    b = Dataset.open(spark, tmp_ds)
    a.create_index("grp_bitmap", kind="bitmap", column="grp")
    with pytest.raises(ConflictError):
        b.create_index("grp_bitmap", kind="bitmap", column="grp")
    # a DIFFERENT name rebases cleanly over the concurrent index commit
    c = Dataset.open(spark, tmp_ds, version=1)
    c.create_index("grp_bitmap2", kind="bitmap", column="grp")
    assert set(Dataset.open(spark, tmp_ds).manifest.indexes) == {
        "grp_bitmap",
        "grp_bitmap2",
    }


def test_persisted_ivf_index_roundtrip(spark, tmp_ds):
    import os

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    ds = Dataset.create(spark, tmp_ds, emb.coalesce(2))
    ds.create_index("ann", kind="ivf", column="embedding", id_col="vec_id", k=4)
    desc = ds.manifest.indexes["ann"]
    assert desc["kind"] == "ivf" and desc["params"]["k"] == 4
    assert os.path.isdir(os.path.join(tmp_ds, desc["path"]))
    idx = ds.open_index("ann")
    qdf = emb.limit(2).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    hits = idx.search(qdf, top_k=3, nprobe=4)
    assert hits.count() > 0
    # reopening the dataset round-trips the descriptor through JSON
    ds2 = Dataset.open(spark, tmp_ds)
    assert ds2.index_fresh("ann")
    ds2.append(emb.limit(5).coalesce(1))
    assert not ds2.index_fresh("ann")


def test_persisted_fts_index_roundtrip(spark, tmp_ds):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    ds = Dataset.create(spark, tmp_ds, docs.coalesce(2))
    ds.create_index("fts", kind="fts", column="text", id_col="doc_id")
    idx = ds.open_index("fts")
    term = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"))
        .first()["t"]
    )
    assert idx.search([term], top_k=5).count() > 0


def test_create_index_bq_and_search(spark, tmp_ds):
    """create_index(kind='bq') builds the persisted sign-code index from the
    handle's snapshot; open_index reopens it; Hamming search works and the
    descriptor freshness-tracks like every other index kind."""
    from pyspark.sql import functions as F

    from plan_spark.catalog import table
    from tests.conftest import SF_DIR

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ds = Dataset.create(spark, tmp_ds, emb)
    ds.create_index("bqi", kind="bq", column="embedding", id_col="vec_id")
    assert ds.manifest.indexes["bqi"]["kind"] == "bq"
    assert ds.index_fresh("bqi")
    idx = ds.open_index("bqi")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    hits = idx.search(q, top_k=4).collect()
    assert len(hits) == 12 and all(r.hamming >= 0 for r in hits)
    ds.drop_index("bqi")
    assert "bqi" not in ds.manifest.indexes


def test_refresh_index_ivf_incremental(spark, tmp_ds):
    """refresh_index on a vector index: appended vectors insert into the
    persisted IVF (nearest-existing-centroid assignment) and the index is
    fresh + searchable for them."""
    from pyspark.sql import functions as F

    from plan_spark.catalog import table
    from tests.conftest import SF_DIR

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    ds = Dataset.create(spark, tmp_ds, old)
    ds.create_index("vi", kind="ivf", column="embedding", id_col="vec_id", k=8)
    ds.append(new)
    assert not ds.index_fresh("vi")
    ds.refresh_index("vi")
    assert ds.index_fresh("vi")
    idx = ds.open_index("vi")
    assert idx.vectors().count() == emb.count()
    q = new.limit(2).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    hits = idx.search(q, top_k=3, nprobe=8).collect()
    assert len(hits) == 6


def test_refresh_fts_on_rowids_table_keeps_id_namespace(spark, tmp_ds):
    """create_index persists its resolved id column so refresh_index inserts
    under the SAME id namespace the build used. On a row_ids table an fts
    index still keys by doc_id (create_index's fallback), and a refresh
    after append must too — a rowid-first re-derivation would silently mix
    two id namespaces in one index."""
    docs = spark.createDataFrame(
        [(9001, "alpha words here"), (9002, "beta words there")],
        "doc_id long, text string",
    ).coalesce(1)
    ds = Dataset.create(spark, tmp_ds, docs, row_ids=True)
    ds.create_index("fi", kind="fts", column="text")
    # the RESOLVED fallback is persisted in the descriptor
    assert ds.manifest.indexes["fi"]["params"]["id_col"] == "doc_id"
    ds.append(
        spark.createDataFrame(
            [(9003, "gamma zebraword unique")], "doc_id long, text string"
        ).coalesce(1)
    )
    ds.refresh_index("fi")
    hits = ds.open_index("fi").search(["zebraword"], top_k=5).collect()
    assert [r.doc_id for r in hits] == [9003]  # the doc id, NOT a row id


def test_refresh_legacy_descriptor_rederives_create_fallback(spark, tmp_ds):
    """Descriptors of a format-1 manifest may lack id_col: opening the table
    fills it with create_index's EXACT default (_ROWID only for scalar/
    spatial kinds on row_ids tables — never for fts/vector kinds), and
    refresh_index inserts under it."""
    docs = spark.createDataFrame(
        [(9001, "alpha words here"), (9002, "beta words there")],
        "doc_id long, text string",
    ).coalesce(1)
    ds = Dataset.create(spark, tmp_ds, docs, row_ids=True)
    ds.create_index("fi", kind="fts", column="text")
    to_format1(tmp_ds, drop_id_col=True)
    ds = Dataset.open(spark, tmp_ds)
    assert ds.manifest.indexes["fi"]["params"]["id_col"] == "doc_id"
    ds.append(
        spark.createDataFrame(
            [(9003, "gamma zebraword unique")], "doc_id long, text string"
        ).coalesce(1)
    )
    ds.refresh_index("fi")
    hits = ds.open_index("fi").search(["zebraword"], top_k=5).collect()
    assert [r.doc_id for r in hits] == [9003]


def test_concurrent_refresh_conflicts(spark, tmp_ds):
    """Two handles refreshing the same index over the same delta must not
    double-insert into the shared persisted files: the loser aborts BEFORE
    mutating (latest-manifest covers check under the claim file)."""
    import os

    docs = spark.createDataFrame(
        [(1, "alpha words"), (2, "beta words")], "doc_id long, text string"
    ).coalesce(1)
    ds = Dataset.create(spark, tmp_ds, docs, row_ids=True)
    ds.create_index("fi", kind="fts", column="text")
    ds.append(
        spark.createDataFrame([(3, "gamma fresh")], "doc_id long, text string")
        .coalesce(1)
    )
    a = Dataset.open(spark, tmp_ds)
    b = Dataset.open(spark, tmp_ds)
    a.refresh_index("fi")
    with pytest.raises(ConflictError):
        b.refresh_index("fi")
    # exactly one insert landed: the term postings are not doubled
    hits = a.open_index("fi").search(["gamma"], top_k=5).collect()
    assert [r.doc_id for r in hits] == [3]
    # a held claim blocks a refresher outright (in-progress refresh)
    b = Dataset.open(spark, tmp_ds)
    b.append(
        spark.createDataFrame([(4, "delta fresh")], "doc_id long, text string")
        .coalesce(1)
    )
    claim = os.path.join(tmp_ds, b.manifest.indexes["fi"]["path"], "_REFRESHING")
    with open(claim, "w") as fh:
        fh.write("other")
    with pytest.raises(ConflictError, match="concurrently"):
        b.refresh_index("fi")
    os.remove(claim)
    b.refresh_index("fi")
    assert b.index_fresh("fi")


def test_persisted_ivf_pq_index_roundtrip_and_sql_face(spark, tmp_ds):
    """IVF-PQ joins the transactional index lifecycle like its siblings
    (reference ivf_pq_index.go:31-60 built at CREATE INDEX time):
    create_index(kind='ivf_pq') persists coarse centroids + PQ codebooks +
    cluster-partitioned codes under the manifest commit path, open_index
    searches it, appends stale it, refresh refuses (codes have no sound
    buffered insert — rebuild), and the SQL face spells it
    CREATE INDEX ... USING ivf_pq (embedding)."""
    import os

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    ds = Dataset.create(spark, tmp_ds, emb.coalesce(2))
    ds.create_index(
        "cq", kind="ivf_pq", column="embedding", id_col="vec_id",
        k_coarse=4, m=8, k_pq=8,
    )
    desc = ds.manifest.indexes["cq"]
    assert desc["kind"] == "ivf_pq" and desc["params"]["k_coarse"] == 4
    assert os.path.isdir(os.path.join(tmp_ds, desc["path"], "coded"))
    idx = ds.open_index("cq")
    q = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.limit(2).collect()
    }
    hits = idx.search(q, top_k=3, nprobe=4)
    assert hits.count() == 6  # 2 queries x top-3, full probe
    # descriptor round-trips; appends stale it; refresh refuses (no
    # incremental insert for quantizer codes) and points at the rebuild
    ds2 = Dataset.open(spark, tmp_ds)
    assert ds2.index_fresh("cq")
    ds2.append(emb.limit(5).coalesce(1))
    assert not ds2.index_fresh("cq")
    with pytest.raises(ValueError, match="no incremental insert"):
        ds2.refresh_index("cq")
    ds2.drop_index("cq")
    assert "cq" not in ds2.manifest.indexes
    # SQL face (engine CREATE INDEX ... USING ivf_pq)
    from plan_spark.engine import Engine

    eng = Engine(spark, os.path.join(tmp_ds, "_sql_root"))
    eng.sql("CREATE TABLE vecs (vec_id BIGINT, embedding ARRAY<DOUBLE>)")
    eng.dataset("vecs").append(
        emb.select(
            F.col("vec_id").cast("bigint"),
            F.col("embedding").cast("array<double>"),
        ).limit(64).coalesce(1)
    )
    eng.sql("CREATE INDEX cq2 ON vecs USING ivf_pq (embedding)")
    d2 = eng.dataset("vecs").manifest.indexes["cq2"]
    assert d2["kind"] == "ivf_pq" and d2["params"]["id_col"] == "vec_id"
