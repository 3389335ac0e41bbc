"""BTree + RTree scalar/spatial index tests (reference
btree_index.go / rtree_index.go surfaces): probe parity vs plain filters,
fence pruning, buffered insert + compact invariance, the dataset
create_index/open_index lifecycle, and the SQL CREATE INDEX face."""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import tempfile

import pytest
from pyspark.sql import functions as F

from plan_spark.indexes.btree import BtreeIndex, recover_dir, sweep_dead_tmps
from plan_spark.indexes.rtree import RtreeIndex


def _tmp(name: str) -> str:
    d = os.path.join(tempfile.gettempdir(), "plan_spark_test_scalar", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


@pytest.fixture(scope="module")
def points(spark):
    return spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") * 37 % 500).cast("double").alias("key"),
        (F.rand(11) * 100).alias("x"),
        (F.rand(12) * 100).alias("y"),
    ).cache()


# ---------------------------------------------------------------- btree


def test_btree_probe_parity_and_pruning(spark, points):
    bt = BtreeIndex.build(
        spark, points, key_col="key", id_col="id", path=_tmp("bt1"), n_runs=6
    )
    exp_eq = sorted(r.id for r in points.filter(F.col("key") == 37.0).collect())
    assert sorted(r.id for r in bt.equality_query(37.0).collect()) == exp_eq
    exp_rng = sorted(
        r.id for r in points.filter(F.col("key").between(40.0, 60.0)).collect()
    )
    assert sorted(r.id for r in bt.range_query(40.0, 60.0).collect()) == exp_rng
    # fences route an equality probe to a strict subset of run files
    files = bt._probe_files(37.0, 37.0)
    assert files is not None and 0 < len(files) < 6
    # unbounded side
    exp_ge = sorted(r.id for r in points.filter(F.col("key") >= 490.0).collect())
    assert sorted(r.id for r in bt.range_query(lo=490.0).collect()) == exp_ge


def test_btree_empty_and_miss(spark, points):
    bt = BtreeIndex.build(
        spark, points, key_col="key", id_col="id", path=_tmp("bt2"), n_runs=4
    )
    assert bt.equality_query(123.456).count() == 0  # between fences, no key
    assert bt.range_query(10000.0, 20000.0).count() == 0  # past every fence
    assert bt._probe_files(10000.0, 20000.0) == []


def test_btree_insert_then_compact_invariant(spark, points):
    bt = BtreeIndex.build(
        spark, points, key_col="key", id_col="id", path=_tmp("bt3"), n_runs=4
    )
    extra = spark.range(90000, 90020).select(
        F.col("id"), F.lit(55.0).alias("key")
    )
    bt.insert(extra, key_col="key", id_col="id")
    before = sorted(r.id for r in bt.range_query(50.0, 60.0).collect())
    assert set(range(90000, 90020)).issubset(set(before))
    bt.compact(n_runs=4)
    assert sorted(r.id for r in bt.range_query(50.0, 60.0).collect()) == before
    # compact removes exactly the FOLDED pending parquet files (via the
    # fold marker, so recovery can finish after a crash); the dir may
    # survive with Spark artifacts only — probes treat that as empty
    pend = os.path.join(bt.path, "pending")
    assert not os.path.isdir(pend) or not any(
        f.endswith(".parquet") for f in os.listdir(pend)
    )


# ---------------------------------------------------------------- rtree


def test_rtree_box_parity_and_pruning(spark, points):
    rt = RtreeIndex.build(
        spark, points, x_col="x", y_col="y", id_col="id", path=_tmp("rt1"), n_runs=8
    )
    box = (20.0, 30.0, 45.0, 55.0)
    exp = sorted(
        r.id
        for r in points.filter(
            F.col("x").between(box[0], box[2]) & F.col("y").between(box[1], box[3])
        ).collect()
    )
    assert sorted(r.id for r in rt.range_search(*box).collect()) == exp
    # points are degenerate boxes: contains == intersects
    assert sorted(r.id for r in rt.contains_search(*box).collect()) == exp
    fences = rt._fences()
    hit = [
        r
        for r in fences
        if r.xhi >= box[0] and r.xlo <= box[2] and r.yhi >= box[1] and r.ylo <= box[3]
    ]
    assert 0 < len(hit) < len(fences)


def test_rtree_boxes_not_points(spark):
    rows = spark.createDataFrame(
        [(1, 0.0, 2.0, 0.0, 2.0), (2, 5.0, 9.0, 5.0, 9.0), (3, 1.0, 6.0, 1.0, 6.0)],
        "id long, ax double, bx double, ay double, by double",
    )
    rt = RtreeIndex.build(
        spark, rows, x_col="ax", y_col="ay", id_col="id",
        path=_tmp("rt2"), n_runs=2, x2_col="bx", y2_col="by",
    )
    inter = sorted(r.id for r in rt.range_search(1.5, 1.5, 5.5, 5.5).collect())
    assert inter == [1, 2, 3]  # all three boxes intersect the query
    cont = sorted(r.id for r in rt.contains_search(0.0, 0.0, 7.0, 7.0).collect())
    assert cont == [1, 3]  # box 2 sticks out past 7


def test_rtree_knn_parity(spark, points):
    rt = RtreeIndex.build(
        spark, points, x_col="x", y_col="y", id_col="id", path=_tmp("rt3"), n_runs=8
    )
    rows = points.select("id", "x", "y").collect()
    for qx, qy in [(50.0, 50.0), (0.0, 0.0), (99.0, 1.0)]:
        brute = sorted((math.hypot(r.x - qx, r.y - qy), r.id) for r in rows)[:7]
        got = rt.nearest_neighbors(qx, qy, 7)
        assert [i for _, i in brute] == [i for i, _ in got]
        for (bd, _), (_, gd) in zip(brute, got):
            assert abs(bd - gd) < 1e-9


def test_rtree_insert_then_compact(spark, points):
    rt = RtreeIndex.build(
        spark, points, x_col="x", y_col="y", id_col="id", path=_tmp("rt4"), n_runs=4
    )
    rt.insert(
        spark.createDataFrame(
            [(70001, 50.0001, 50.0001)], "id long, x double, y double"
        ),
        x_col="x", y_col="y", id_col="id",
    )
    assert rt.nearest_neighbors(50.0001, 50.0001, 1)[0][0] == 70001
    rt.compact(n_runs=4)
    assert rt.nearest_neighbors(50.0001, 50.0001, 1)[0][0] == 70001
    # compact removes exactly the FOLDED pending parquet files (via the
    # fold marker, so recovery can finish after a crash); the dir may
    # survive with Spark artifacts only — probes treat that as empty
    pend = os.path.join(rt.path, "pending")
    assert not os.path.isdir(pend) or not any(
        f.endswith(".parquet") for f in os.listdir(pend)
    )


# ------------------------------------------------- dataset + SQL lifecycle


def test_dataset_btree_lifecycle_rowids(spark):
    from plan_spark.dataset import Dataset

    path = _tmp("ds_bt")
    src = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    ds = Dataset.create(spark, path, src.repartition(3), row_ids=True)
    ds.create_index("bt", kind="btree", column="v", n_runs=4)
    assert "bt" in ds.manifest.indexes
    bt = ds.open_index("bt")
    ids = [r.id for r in bt.equality_query(13.0).collect()]
    hits = ds.take_rows(ids, columns=["k", "v"])
    assert sorted(r.k for r in hits.collect()) == sorted(
        r.k for r in src.filter(F.col("v") == 13.0).collect()
    )
    # deletion vectors compose: deleted ids address nothing via take_rows
    ds.delete("k % 2 = 0")
    hits2 = sorted(r.k for r in ds.take_rows(ids, columns=["k"]).collect())
    assert hits2 == sorted(
        r.k for r in src.filter((F.col("v") == 13.0) & (F.col("k") % 2 == 1)).collect()
    )
    ds.drop_index("bt")
    assert "bt" not in ds.manifest.indexes


def test_sql_create_index_rtree_two_columns(spark):
    from plan_spark.engine import Engine

    eng = Engine(spark, _tmp("eng_rt"))
    eng.sql("CREATE TABLE pts (pid BIGINT, px DOUBLE, py DOUBLE)")
    eng.sql(
        "INSERT INTO pts VALUES (1, 1.0, 1.0), (2, 2.0, 2.0), (3, 8.0, 8.0), (4, 9.0, 1.0)"
    )
    eng.sql("CREATE INDEX rt ON pts USING rtree (px, py)")
    ds = eng.dataset("pts")
    desc = ds.manifest.indexes["rt"]
    assert desc["kind"] == "rtree" and desc["column"] == "px,py"
    rt = ds.open_index("rt")
    got = sorted(r.id for r in rt.range_search(0.0, 0.0, 3.0, 3.0).collect())
    exp = sorted(
        r.pid for r in ds.to_df().filter(
            F.col("px").between(0.0, 3.0) & F.col("py").between(0.0, 3.0)
        ).collect()
    )
    # ids are stable row ids when the table has them, else the first column
    assert len(got) == len(exp) == 2
    eng.sql("DROP INDEX rt ON pts")
    assert "rt" not in eng.dataset("pts").manifest.indexes


def test_btree_string_and_timestamp_keys(spark):
    """Non-numeric keys: string fences exercise the exact-read fallback
    (BYTE_ARRAY footer stats may be writer-truncated), timestamps the
    logical-type conversion — probes must stay sound for both."""
    df = spark.range(0, 400).select(
        F.col("id"),
        F.concat(F.lit("user_"), F.lpad(F.col("id") % 50, 4, "0")).alias("name"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600).alias("ts"),
    )
    bts = BtreeIndex.build(
        spark, df, key_col="name", id_col="id", path=_tmp("bt_str"), n_runs=4
    )
    exp = sorted(r.id for r in df.filter(F.col("name") == "user_0007").collect())
    assert sorted(r.id for r in bts.equality_query("user_0007").collect()) == exp
    exp = sorted(
        r.id
        for r in df.filter(
            (F.col("name") >= "user_0010") & (F.col("name") <= "user_0019")
        ).collect()
    )
    assert (
        sorted(r.id for r in bts.range_query("user_0010", "user_0019").collect())
        == exp
    )
    assert 0 < len(bts._probe_files("user_0007", "user_0007")) < 4

    btt = BtreeIndex.build(
        spark, df, key_col="ts", id_col="id", path=_tmp("bt_ts"), n_runs=4
    )
    import datetime

    lo = datetime.datetime.utcfromtimestamp(1_600_000_000 + 100 * 3600)
    hi = datetime.datetime.utcfromtimestamp(1_600_000_000 + 150 * 3600)
    exp = sorted(
        r.id for r in df.filter(F.col("ts").between(lo, hi)).collect()
    )
    assert sorted(r.id for r in btt.range_query(lo, hi).collect()) == exp
    assert 0 < len(btt._probe_files(lo, lo)) < 4


def test_btree_null_keys_not_indexed(spark):
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, None).otherwise(
            (F.col("id") % 10).cast("double")
        ).alias("key"),
    )
    bt = BtreeIndex.build(
        spark, df, key_col="key", id_col="id", path=_tmp("bt_null"), n_runs=3
    )
    # probes neither crash on NULL-run fences nor return NULL-key rows
    exp = sorted(r.id for r in df.filter(F.col("key") == 4.0).collect())
    assert sorted(r.id for r in bt.equality_query(4.0).collect()) == exp
    assert bt.range_query(0.0, 9.0).count() == df.filter(F.col("key").isNotNull()).count()


def test_rtree_pending_only_knn(spark):
    """An index whose runs are empty still answers kNN from the buffered
    inserts (the pending buffer has no fences and is always scanned)."""
    empty = spark.createDataFrame([], "id long, x double, y double")
    rt = RtreeIndex.build(
        spark, empty, x_col="x", y_col="y", id_col="id", path=_tmp("rt_pend"), n_runs=2
    )
    rt.insert(
        spark.createDataFrame(
            [(1, 3.0, 4.0), (2, 30.0, 40.0)], "id long, x double, y double"
        ),
        x_col="x", y_col="y", id_col="id",
    )
    got = rt.nearest_neighbors(0.0, 0.0, 1)
    assert got[0][0] == 1 and abs(got[0][1] - 5.0) < 1e-12
    assert sorted(r.id for r in rt.range_search(0.0, 0.0, 50.0, 50.0).collect()) == [1, 2]


def test_sql_create_index_two_columns_rejected_for_btree(spark):
    from plan_spark.engine import Engine

    eng = Engine(spark, _tmp("eng_bt2"))
    eng.sql("CREATE TABLE t2 (pid BIGINT, a DOUBLE, b DOUBLE)")
    eng.sql("INSERT INTO t2 VALUES (1, 1.0, 2.0)")
    with pytest.raises(ValueError, match="only rtree"):
        eng.sql("CREATE INDEX bad ON t2 USING btree (a, b)")


def test_rtree_coordinate_never_becomes_id(spark):
    """The rtree id must never be an indexed coordinate column. SQL tables
    now carry stable row ids (rowids.go parity), so the SQL face resolves
    id_col = _rowid — the probe result addresses take_rows directly; a
    rowid-less Python-API dataset still falls back past BOTH coordinate
    columns to the first non-indexed column."""
    from plan_spark.dataset import Dataset
    from plan_spark.engine import Engine

    eng = Engine(spark, _tmp("eng_rt_id"))
    eng.sql("CREATE TABLE geo (px DOUBLE, py DOUBLE, name STRING)")
    eng.sql("INSERT INTO geo VALUES (1.0, 2.0, 'a'), (5.0, 6.0, 'b')")
    eng.sql("CREATE INDEX rt ON geo USING rtree (px, py)")
    ds = eng.dataset("geo")
    assert ds.manifest.indexes["rt"]["params"]["id_col"] == "_rowid"
    rt = ds.open_index("rt")
    ids = sorted(r.id for r in rt.range_search(0.0, 0.0, 10.0, 10.0).collect())
    got = sorted(r.name for r in ds.take_rows(ids, columns=["name"]).collect())
    assert got == ["a", "b"]
    # rowid-less dataset: fallback skips px AND py, picks `name`
    df = spark.createDataFrame([(1.0, 2.0, "a"), (5.0, 6.0, "b")], "px double, py double, name string")
    d2 = Dataset.create(spark, _tmp("rt_noid"), df.coalesce(1))
    d2.create_index("rt2", kind="rtree", column="px,py")
    assert d2.manifest.indexes["rt2"]["params"]["id_col"] == "name"
    rt2 = d2.open_index("rt2")
    got2 = sorted(r.id for r in rt2.range_search(0.0, 0.0, 10.0, 10.0).collect())
    assert got2 == ["a", "b"]


def test_btree_batch_probe_parity(spark, points):
    """range_query_df (queries-as-DataFrame, no driver round-trip) returns
    exactly the union of the per-probe online results."""
    bt = BtreeIndex.build(
        spark, points, key_col="key", id_col="id", path=_tmp("bt_batch"), n_runs=4
    )
    ranges = [(0, 10.0, 20.0), (1, 480.0, 500.0), (2, 55.0, 55.0)]
    rdf = spark.createDataFrame(ranges, "range_id int, lo double, hi double")
    got = {
        (r.range_id, r.id) for r in bt.range_query_df(rdf).collect()
    }
    exp = set()
    for rid, lo, hi in ranges:
        exp |= {(rid, r.id) for r in bt.range_query(lo, hi).collect()}
    assert got == exp and got


def test_rtree_batch_probe_parity(spark, points):
    rt = RtreeIndex.build(
        spark, points, x_col="x", y_col="y", id_col="id", path=_tmp("rt_batch"), n_runs=4
    )
    boxes = [(0, 10.0, 10.0, 30.0, 30.0), (1, 80.0, 0.0, 100.0, 20.0)]
    bdf = spark.createDataFrame(
        boxes, "box_id int, qxmin double, qymin double, qxmax double, qymax double"
    )
    got = {(r.box_id, r.id) for r in rt.range_search_df(bdf).collect()}
    exp = set()
    for bid, x0, y0, x1, y1 in boxes:
        exp |= {(bid, r.id) for r in rt.range_search(x0, y0, x1, y1).collect()}
    assert got == exp and got


def test_btree_rowid_index_survives_compaction(spark):
    """Stable row ids are compaction-invariant (rewrites preserve them via
    Array segments), so a btree index built BEFORE a compaction still
    addresses the right rows through take_rows afterwards — the index only
    goes stale on data changes, not layout changes."""
    from plan_spark.dataset import Dataset

    path = _tmp("ds_bt_compact")
    src = spark.range(0, 1200).select(
        F.col("id").alias("k"), (F.col("id") % 37).cast("double").alias("v")
    )
    ds = Dataset.create(spark, path, src.repartition(6), row_ids=True)
    ds.create_index("bt", kind="btree", column="v", n_runs=3)
    before = sorted(
        r.k for r in ds.take_rows(
            [x.id for x in ds.open_index("bt").equality_query(11.0).collect()],
            columns=["k"],
        ).collect()
    )
    ds.compact(target_files=2)
    ids = [x.id for x in ds.open_index("bt").equality_query(11.0).collect()]
    after = sorted(r.k for r in ds.take_rows(ids, columns=["k"]).collect())
    assert after == before == sorted(
        r.k for r in src.filter(F.col("v") == 11.0).collect()
    )


# ------------------------------------------- automatic index-aware scanning
def _interleaved_ds(spark, path):
    """4 fragments whose key ranges fully interleave (zonemaps prove
    nothing), each key value living in exactly one fragment."""
    from plan_spark.dataset import Dataset

    def frag(i):
        return spark.range(0, 250).select(
            (F.col("id") * 4 + i).alias("k"),
            (F.col("id") * 4 + i).cast("double").alias("payload"),
        ).coalesce(1)  # ONE file per append -> 4 interleaved fragments

    ds = Dataset.create(spark, path, frag(0), row_ids=True)
    for i in (1, 2, 3):
        ds.append(frag(i))
    return ds


def test_auto_index_scan_prunes_past_zonemaps(spark):
    """to_df(filters=...) consults a fresh btree index automatically
    (reference index_selector.go:36-78): an equality probe on interleaved
    fragments reads ONE fragment where zonemap pruning alone reads all 4 —
    and the rows still match a plain filtered scan."""
    path = _tmp("auto_idx")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    assert ds.index_fresh("ki")
    # k = 401 -> 401 % 4 == 1 -> lives only in fragment 1
    sel_zone, _ = ds.plan_scan("k = 401", use_indexes=False)
    sel_auto, _ = ds.plan_scan("k = 401", use_indexes=True)
    assert len(sel_zone) == 4, "zonemaps must NOT prune interleaved ranges"
    assert len(sel_auto) == 1, "the index must route to the owning fragment"
    got = ds.to_df(filters="k = 401").collect()
    want = ds.to_df(use_indexes=False).filter("k = 401").collect()
    assert [(r.k, r.payload) for r in got] == [(r.k, r.payload) for r in want]
    # range probe: k in [100, 119] spans all residues -> still correct
    got = sorted(r.k for r in ds.to_df(filters="k >= 100 AND k <= 119").collect())
    assert got == list(range(100, 120))


def test_auto_index_scan_ignores_stale_index(spark):
    """Rows appended after the index build must not vanish: a stale index
    (covers_version < current) is never consulted."""
    path = _tmp("auto_idx_stale")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    ds.append(
        spark.range(0, 5).select(
            (F.col("id") + 10000).alias("k"),
            (F.col("id") + 10000).cast("double").alias("payload"),
        )
    )
    assert not ds.index_fresh("ki")
    sel_auto, _ = ds.plan_scan("k = 10002", use_indexes=True)
    sel_zone, _ = ds.plan_scan("k = 10002", use_indexes=False)
    assert len(sel_auto) == len(sel_zone)  # no index routing happened
    assert [r.k for r in ds.to_df(filters="k = 10002").collect()] == [10002]


def test_auto_index_scan_cost_gate_skips_wide_probes(spark):
    """A conjunct matching most of the table (est > MaxIndexScanRatio
    analogue, index_selector.go:62) must NOT probe the index — the plan
    equals pure zonemap pruning."""
    path = _tmp("auto_idx_wide")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    sel_auto, _ = ds.plan_scan("k >= 0", use_indexes=True)
    sel_zone, _ = ds.plan_scan("k >= 0", use_indexes=False)
    assert len(sel_auto) == len(sel_zone) == 4
    assert ds.to_df(filters="k >= 0").count() == 1000


def test_auto_index_scan_routes_rtree_box(spark):
    """x/y range conjuncts compose into ONE rtree box probe: matching ids
    map to their owning fragments past zonemaps stretched by outliers."""
    from plan_spark.dataset import Dataset

    path = _tmp("auto_idx_rtree")

    def frag(i):
        # a tight spatial band per fragment + two outliers that stretch the
        # fragment's x/y min-max stats across everything (zonemaps useless)
        band = spark.range(0, 100).select(
            (F.col("id") + i * 1000).alias("pid"),
            (F.col("id") % 10 + i * 10.0).alias("x"),
            (F.col("id") % 7 + 1.0).alias("y"),
        )
        outliers = spark.createDataFrame(
            [(90000 + i, -500.0, -500.0), (91000 + i, 500.0, 500.0)],
            "pid long, x double, y double",
        )
        return band.unionByName(outliers).coalesce(1)

    ds = Dataset.create(spark, path, frag(0), row_ids=True)
    for i in (1, 2, 3):
        ds.append(frag(i))
    ds.create_index("rxy", kind="rtree", column="x,y")
    pred = "x >= 13.0 AND x <= 15.0 AND y >= 0.0 AND y <= 100.0"
    sel_zone, _ = ds.plan_scan(pred, use_indexes=False)
    sel_auto, _ = ds.plan_scan(pred, use_indexes=True)
    assert len(sel_zone) == 4
    assert len(sel_auto) < len(sel_zone)
    got = sorted(r.pid for r in ds.to_df(filters=pred).collect())
    want = sorted(
        r.pid for r in ds.to_df(use_indexes=False).filter(pred).collect()
    )
    assert got == want and len(got) > 0


def test_auto_index_composes_closed_ranges(spark):
    """'k >= a AND k <= b' must probe as ONE interval: two one-sided probes
    each estimate ~half the table and the cost gate would wrongly reject
    the exact selective ranges the feature exists for."""
    path = _tmp("auto_idx_range")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    # [100, 119] covers residues 0..3 -> all fragments have matches, but the
    # composed range is ~2% of rows -> the index must FIRE (both one-sided
    # halves alone would estimate ~50% and be cost-gated away); correctness
    # plus the firing itself is observable on a disjoint narrow range:
    sel_auto, _ = ds.plan_scan("k >= 400 AND k <= 403", use_indexes=True)
    sel_zone, _ = ds.plan_scan("k >= 400 AND k <= 403", use_indexes=False)
    # residues of 400..403 span all 4 fragments; the win is correctness +
    # that the probe ran at all — assert via a range owned by fewer frags
    sel_auto1, _ = ds.plan_scan("k >= 401 AND k <= 401", use_indexes=True)
    assert len(sel_auto1) == 1
    got = sorted(r.k for r in ds.to_df(filters="k >= 100 AND k <= 119").collect())
    assert got == list(range(100, 120))
    # contradictory range: matches nothing, scans nothing, returns empty
    assert ds.to_df(filters="k >= 10 AND k <= 5").count() == 0


def test_auto_index_rtree_requires_both_axes(spark):
    """A predicate bounding only ONE rtree axis must not route through the
    index: rows with a NULL coordinate on the unbounded axis are absent
    from the index yet can match the predicate."""
    from plan_spark.dataset import Dataset

    path = _tmp("auto_idx_rtree_null")
    pts = spark.createDataFrame(
        [(1, 10.0, 1.0), (2, 20.0, None), (3, 30.0, 2.0), (4, 40.0, None)],
        "pid long, x double, y double",
    ).coalesce(1)
    ds = Dataset.create(spark, path, pts, row_ids=True)
    ds.create_index("rxy", kind="rtree", column="x,y")
    # only x bounded: index may NOT route; the NULL-y row must survive
    got = sorted(r.pid for r in ds.to_df(filters="x >= 15.0").collect())
    assert got == [2, 3, 4]
    # both axes bounded: routing is sound (NULL-y rows fail the y conjunct)
    got = sorted(
        r.pid
        for r in ds.to_df(
            filters="x >= 15.0 AND x <= 35.0 AND y >= 0.0 AND y <= 5.0"
        ).collect()
    )
    assert got == [3]


# ------------------------------------------------------- refresh_index
def test_refresh_index_restores_freshness_and_routing(spark):
    """Appends stale an index; refresh_index inserts ONLY the new rows
    (buffered), advances covers_version, and auto scan routing fires
    again — including for the appended keys."""
    from plan_spark.dataset import Dataset

    path = _tmp("refresh_bt")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    ds.append(
        spark.range(0, 5).select(
            (F.col("id") * 4 + 20000).alias("k"),
            (F.col("id") * 4 + 20000).cast("double").alias("payload"),
        ).coalesce(1)
    )
    assert not ds.index_fresh("ki")
    ds.refresh_index("ki")
    assert ds.index_fresh("ki")
    # routing fires again on the interleaved OLD keys (zonemaps useless
    # there) — before refresh the stale index was skipped entirely
    sel_auto, _ = ds.plan_scan("k = 401", use_indexes=True)
    sel_zone, _ = ds.plan_scan("k = 401", use_indexes=False)
    assert len(sel_auto) == 1 < len(sel_zone)
    assert [r.k for r in ds.to_df(filters="k = 401").collect()] == [401]
    # appended keys are findable through the refreshed index's pending tail
    assert [r.k for r in ds.to_df(filters="k = 20008").collect()] == [20008]
    # no-op refresh short-circuits
    v = ds.version
    ds.refresh_index("ki")
    assert ds.version == v


def test_refresh_index_after_any_history(spark):
    """A row-id btree refreshes after DELETE, UPDATE, MERGE and compaction
    (index ⊇ live (key, row id) pairs; probes are rechecked), inserting
    only uncovered rows — and every index-routed point read equals an
    unrouted scan, including keys an UPDATE moved and rows a MERGE
    replaced or added."""
    from plan_spark.dataset import Dataset

    path = _tmp("refresh_any")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    probes = [0, 5, 6, 7, 401, 402, 403, 500, 777, 5401, 5402, 20000, 20001]

    def check(after):
        ds.refresh_index("ki")
        assert ds.index_fresh("ki"), after
        assert ds._routing_usable("ki"), after
        for k in probes:
            routed = sorted(map(tuple, ds.to_df(filters=f"k = {k}").collect()))
            plain = sorted(
                map(tuple, ds.to_df(filters=f"k = {k}", use_indexes=False).collect())
            )
            assert routed == plain, (after, k, routed, plain)

    ds.delete("k < 8")
    check("delete")
    ds.update({"k": "k + 5000", "payload": "-1.0"}, "k = 401 OR k = 402")
    check("update")
    src = spark.createDataFrame(
        [(403, 1.5), (500, 2.5), (20000, 3.5), (20001, 4.5)], "k long, payload double"
    )
    ds.merge_insert(src, keys=["k"])
    check("merge")
    ds.compact()
    check("compact")
    assert [r.k for r in ds.to_df(filters="k = 5401").collect()] == [5401]
    assert Dataset.open(spark, path).to_df().count() == 1000 - 8 + 2
    # FTS (like ANN) answers from its entries: it keeps the append-only rule
    docs = Dataset.create(
        spark, _tmp("refresh_any_fts"),
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
        ).coalesce(1),
        row_ids=True,
    )
    docs.create_index("fi", kind="fts", column="text")
    docs.delete("doc_id = 2")
    with pytest.raises(ValueError, match="rebuild"):
        docs.refresh_index("fi")


def test_refresh_index_sql_face(spark):
    from plan_spark.engine import Engine

    eng = Engine(spark, _tmp("eng_refresh"))
    eng.sql("CREATE TABLE rt_t (k BIGINT, v DOUBLE)")
    eng.sql("INSERT INTO rt_t VALUES (1, 1.0), (2, 2.0)")
    eng.sql("CREATE INDEX ki ON rt_t USING bitmap (k)")
    eng.sql("INSERT INTO rt_t VALUES (3, 3.0)")
    assert not eng.dataset("rt_t").index_fresh("ki")
    eng.sql("REFRESH INDEX ki ON rt_t")
    assert eng.dataset("rt_t").index_fresh("ki")
    with pytest.raises(ValueError, match="expected INDEX"):
        eng.sql("REFRESH TABLE rt_t")


def test_auto_index_routing_survives_deletes_and_compaction(spark):
    """Routing soundness is weaker than freshness: deletes and compaction
    can't invalidate a probe (superset ids; stable row ids through
    rewrite), so auto routing keeps firing — and results stay exact."""
    path = _tmp("auto_idx_del")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    ds.delete("k % 8 = 1")  # removes half of residue-1 keys
    assert not ds.index_fresh("ki")  # strictly stale...
    sel_auto, _ = ds.plan_scan("k = 401", use_indexes=True)
    assert len(sel_auto) == 1  # ...but routing still fires
    # k=401: 401 % 8 == 1 -> deleted; k=405: 405 % 8 == 5 -> kept
    assert ds.to_df(filters="k = 401").count() == 0
    assert [r.k for r in ds.to_df(filters="k = 405").collect()] == [405]
    # compaction repacks under stable row ids: routing still sound
    ds.compact()
    sel_auto2, _ = ds.plan_scan("k = 405", use_indexes=True)
    got = [r.k for r in ds.to_df(filters="k = 405").collect()]
    assert got == [405]
    # an APPEND disqualifies routing until refresh (missed keys otherwise)
    ds.append(
        spark.range(0, 3).select(
            (F.col("id") + 30000).alias("k"),
            (F.col("id") + 30000).cast("double").alias("payload"),
        ).coalesce(1)
    )
    sel_auto3, _ = ds.plan_scan("k = 30001", use_indexes=True)
    sel_zone3, _ = ds.plan_scan("k = 30001", use_indexes=False)
    assert len(sel_auto3) == len(sel_zone3)
    assert [r.k for r in ds.to_df(filters="k = 30001").collect()] == [30001]


def test_driver_probe_matches_distributed_probe(spark):
    """The pyarrow driver-side probe (small fence estimates; zero Spark
    jobs on the plan path) must select exactly the fragments the
    distributed probe selects, for ranges, INs, and point lookups —
    including ids sitting in the pending (buffered-insert) tail."""
    from plan_spark.dataset import Dataset

    path = _tmp("driver_probe_eq")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    # stale-then-refresh so the pending buffer carries rows too
    ds.append(
        spark.range(0, 4).select(
            (F.col("id") * 4 + 30000).alias("k"),
            (F.col("id")).cast("double").alias("payload"),
        ).coalesce(1)
    )
    ds.refresh_index("ki")
    preds = [
        "k = 401",
        "k IN (1, 401, 30004)",
        "k >= 30000 AND k <= 30008",
        "k >= 100 AND k <= 120",
    ]
    for pred in preds:
        fast, _ = ds.plan_scan(pred, use_indexes=True)
        orig = Dataset._DRIVER_PROBE_MAX_ROWS
        Dataset._DRIVER_PROBE_MAX_ROWS = -1  # force the distributed probe
        try:
            slow, _ = ds.plan_scan(pred, use_indexes=True)
        finally:
            Dataset._DRIVER_PROBE_MAX_ROWS = orig
        assert {f.id for f in fast} == {f.id for f in slow}, pred
        got = sorted(r.k for r in ds.to_df(filters=pred).collect())
        want = sorted(
            r.k for r in ds.to_df(filters=pred, use_indexes=False).collect()
        )
        assert got == want, pred


def test_driver_probe_matches_distributed_probe_rtree(spark):
    """Same equivalence for the rtree box probe: the pyarrow driver path
    and the distributed path select identical fragments and rows."""
    from plan_spark.dataset import Dataset

    path = _tmp("driver_probe_rt_eq")
    pts = spark.createDataFrame(
        [(i, float(i % 50), float((i * 7) % 40)) for i in range(1, 401)],
        "pid long, x double, y double",
    ).repartition(4)
    ds = Dataset.create(spark, path, pts, row_ids=True)
    ds.create_index("rxy", kind="rtree", column="x,y")
    pred = "x >= 10.0 AND x <= 12.0 AND y >= 5.0 AND y <= 20.0"
    fast, _ = ds.plan_scan(pred, use_indexes=True)
    orig = Dataset._DRIVER_PROBE_MAX_ROWS
    Dataset._DRIVER_PROBE_MAX_ROWS = -1
    try:
        slow, _ = ds.plan_scan(pred, use_indexes=True)
    finally:
        Dataset._DRIVER_PROBE_MAX_ROWS = orig
    assert {f.id for f in fast} == {f.id for f in slow}
    got = sorted(r.pid for r in ds.to_df(filters=pred).collect())
    want = sorted(r.pid for r in ds.to_df(filters=pred, use_indexes=False).collect())
    assert got == want and got


def test_driver_probe_overlapping_rowid_intervals(spark):
    """Rewrites (UPDATE/MERGE/compaction) produce fragments whose __rowid
    footer ranges OVERLAP older fragments; the driver-side id->fragment
    mapping must return EVERY containing fragment (interval stabbing) or
    matching rows silently vanish from filtered scans."""
    from plan_spark.dataset import Dataset

    path = _tmp("overlap_probe")
    mk = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").alias("k"),
        # payload deliberately NOT monotone in k so the z-order key mixes
        # rows from different rid ranges into each output file
        ((F.col("id") * 37) % 300).cast("double").alias("payload"),
    ).coalesce(1)
    ds = Dataset.create(spark, path, mk(0, 100), row_ids=True)
    ds.append(mk(100, 200))
    ds.append(mk(200, 300))
    # z-order compaction reshuffles rows across output files by the
    # interleaved (k, payload) key — the output files' __rowid footer
    # ranges interleave each other
    ds.compact(strategy="zorder", zorder_by=["payload", "k"], target_files=3)
    ivs = [ds._frag_rowid_interval(f) for f in ds.manifest.fragments]
    ivs = sorted(iv for iv in ivs if iv is not None)
    assert any(
        a[0] <= b[0] and b[1] <= a[1] for a in ivs for b in ivs if a != b
    ) or any(
        a[0] < b[0] <= a[1] for a in ivs for b in ivs if a != b
    ), f"fixture failed to produce overlapping intervals: {ivs}"
    ds.create_index("ki", kind="btree", column="k")
    # k=299 lives in the REWRITTEN fragment with rid 299 — a single-bisect
    # mapping lands on the middle fragment and drops it
    for pred in ("k = 299", "k IN (0, 150, 299)", "k >= 297 AND k <= 299"):
        got = sorted(r.k for r in ds.to_df(filters=pred).collect())
        want = sorted(
            r.k for r in ds.to_df(filters=pred, use_indexes=False).collect()
        )
        assert got == want and got, pred
        fast, _ = ds.plan_scan(pred, use_indexes=True)
        orig = Dataset._DRIVER_PROBE_MAX_ROWS
        Dataset._DRIVER_PROBE_MAX_ROWS = -1
        try:
            slow, _ = ds.plan_scan(pred, use_indexes=True)
        finally:
            Dataset._DRIVER_PROBE_MAX_ROWS = orig
        assert {f.id for f in fast} == {f.id for f in slow}, pred


def test_stale_refresh_claim_refuses_rebuild(spark):
    """A refresher that died mid-refresh may or may not have inserted its
    delta — stealing its claim and re-inserting would double the rows, so
    a stale claim must refuse with a rebuild instruction."""
    import os
    import time

    from plan_spark.dataset import ConflictError, Dataset

    path = _tmp("stale_claim")
    ds = _interleaved_ds(spark, path)
    ds.create_index("ki", kind="btree", column="k")
    ds.append(
        spark.range(0, 3).select(
            (F.col("id") + 50000).alias("k"),
            (F.col("id")).cast("double").alias("payload"),
        ).coalesce(1)
    )
    claim = os.path.join(path, ds.manifest.indexes["ki"]["path"], "_REFRESHING")
    with open(claim, "w") as fh:
        fh.write("dead")
    old = time.time() - 25 * 3600
    os.utime(claim, (old, old))
    with pytest.raises(ConflictError, match="rebuild"):
        ds.refresh_index("ki")
    # rebuild recovers (fresh staged dir, stale claim dir orphaned)
    ds.drop_index("ki")
    ds.create_index("ki", kind="btree", column="k")
    assert ds.index_fresh("ki")


def test_auto_index_composition_intersects_two_indexes(spark):
    """IndexPlannerV2 composition (index_planner.go:27-75): with TWO fresh
    btree indexes on different columns, a conjunctive filter intersects
    their fragment-hit sets — reading strictly fewer fragments than either
    index alone — and the rows still match a plain filtered scan.

    Fixture: 4 single-file fragments of 100 rows with FULLY interleaved
    value ranges on both columns (zonemaps prove nothing). Key a=42 lives
    in fragments {0, 2} (even-a fragments), key b=42 in fragments {0, 1}
    (even-b fragments): each index alone proves a 2-fragment superset, the
    intersection proves fragment 0 exactly."""
    from plan_spark.dataset import Dataset

    path = _tmp("auto_idx_compose")

    def frag(i):
        return spark.range(0, 100).select(
            (F.col("id") * 2 + (i % 2)).alias("a"),
            (F.col("id") * 2 + (i // 2)).alias("b"),
        ).coalesce(1)

    ds = Dataset.create(spark, path, frag(0), row_ids=True)
    for i in (1, 2, 3):
        ds.append(frag(i))
    ds.create_index("ia", kind="btree", column="a")
    ds.create_index("ib", kind="btree", column="b")
    assert ds.index_fresh("ia") and ds.index_fresh("ib")
    # zonemaps prove nothing on either column (all ranges interleave)
    assert len(ds.plan_scan("a = 42 AND b = 42", use_indexes=False)[0]) == 4
    # each index alone proves a 2-fragment superset...
    assert len(ds.plan_scan("a = 42", use_indexes=True)[0]) == 2
    assert len(ds.plan_scan("b = 42", use_indexes=True)[0]) == 2
    # ...their composition intersects to the single true fragment
    sel_both, _ = ds.plan_scan("a = 42 AND b = 42", use_indexes=True)
    assert len(sel_both) == 1, "composition must intersect to fragment 0"
    got = [(r.a, r.b) for r in ds.to_df(filters="a = 42 AND b = 42").collect()]
    want = [
        (r.a, r.b)
        for r in ds.to_df(use_indexes=False).filter("a = 42 AND b = 42").collect()
    ]
    assert got == want == [(42, 42)]


def test_plan_scan_explain_selection_trace(spark):
    """plan_scan(explain=True) reports the IndexSelector trace
    (index_selector.go:36-78 observability): one (index, est_fraction,
    chosen, reason) row per registered index — scalar indexes with their
    cost-gate outcome, ANN/FTS faces with freshness, and the stale
    fallback called out after an un-refreshed append."""
    from plan_spark.dataset import Dataset

    path = _tmp("trace_ds")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("grp"),
        F.transform(F.sequence(F.lit(1), F.lit(4)), lambda i: F.rand(7)).alias(
            "emb"
        ),
    )
    ds = Dataset.create(spark, path, df.repartition(2), row_ids=True)
    ds.create_index("bt_k", kind="btree", column="k", n_runs=8)
    ds.create_index("bm_grp", kind="bitmap", column="grp")
    ds.create_index("ann", kind="ivf", column="emb", id_col="k", k=2)
    sel, pruned, trace = ds.plan_scan([("k", "=", 7)], explain=True)
    by = {t["index"]: t for t in trace}
    assert set(by) == {"bt_k", "bm_grp", "ann"}
    # hit path: the btree point probe clears the gate and is chosen
    bt = by["bt_k"]
    assert bt["chosen"] and bt["est_fraction"] <= 0.3
    assert "probed" in bt["reason"]
    # the bitmap had no =/IN conjunct on grp
    assert not by["bm_grp"]["chosen"]
    assert "no =/IN conjunct" in by["bm_grp"]["reason"]
    # ANN face: fresh, never probed by filter routing
    ann = by["ann"]
    assert not ann["chosen"] and ann["est_fraction"] is None
    assert "ann-face" in ann["reason"] and "FRESH" in ann["reason"]
    # cost-gate path: a wide range is declined with the fraction recorded
    _, _, t2 = ds.plan_scan([("k", ">=", 0)], explain=True)
    bt2 = {t["index"]: t for t in t2}["bt_k"]
    assert not bt2["chosen"] and "cost gate" in bt2["reason"]
    assert bt2["est_fraction"] > 0.3
    # stale-fallback path: an append stales every index; the trace says so
    ds.append(
        spark.range(400, 420).select(
            F.col("id").alias("k"),
            F.lit("9").alias("grp"),
            F.transform(
                F.sequence(F.lit(1), F.lit(4)), lambda i: F.rand(8)
            ).alias("emb"),
        ).coalesce(1)
    )
    _, _, t3 = ds.plan_scan([("k", "=", 7)], explain=True)
    by3 = {t["index"]: t for t in t3}
    assert "stale" in by3["bt_k"]["reason"] and not by3["bt_k"]["chosen"]
    assert "STALE" in by3["ann"]["reason"]
    # refresh restores the routing trace
    ds.refresh_index("bt_k")
    _, _, t4 = ds.plan_scan([("k", "=", 7)], explain=True)
    assert {t["index"]: t for t in t4}["bt_k"]["chosen"]
    # no-filter explain still enumerates every index
    _, _, t5 = ds.plan_scan(explain=True)
    assert {t["index"] for t in t5} == {"bt_k", "bm_grp", "ann"}
    assert "no filters" in {t["index"]: t for t in t5}["bt_k"]["reason"]


# A crashed publish_fences strands ``fences.parquet.tmp.<pid>.<tid>``;
# recover_dir sweeps temps whose owning pid is dead, and never a live
# publisher's in-flight temp.
class TestFenceTempSweep:
    def test_dead_pid_temp_swept_live_kept(self, tmp_path):
        idx = tmp_path / "idx"
        (idx / "runs").mkdir(parents=True)
        # a genuinely dead pid: a child that has already exited and been
        # reaped (so ProcessLookupError, not a zombie)
        p = subprocess.Popen(["true"])
        p.wait()
        dead_pid = p.pid
        dead_tmp = idx / f"fences.parquet.tmp.{dead_pid}.123"
        live_tmp = idx / f"fences.parquet.tmp.{os.getpid()}.123"
        dead_tmp.write_bytes(b"x")
        live_tmp.write_bytes(b"x")
        sweep_dead_tmps(str(idx))
        assert not dead_tmp.exists(), "dead publisher's temp must be reclaimed"
        assert live_tmp.exists(), "live publisher's in-flight temp untouched"

    def test_recover_dir_invokes_sweep(self, tmp_path):
        idx = tmp_path / "idx"
        (idx / "runs").mkdir(parents=True)
        p = subprocess.Popen(["true"])
        p.wait()
        stranded = idx / f"fences.parquet.tmp.{p.pid}.9"
        stranded.write_bytes(b"x")
        recover_dir(str(idx), "runs")
        assert not stranded.exists()

    def test_non_temp_files_never_touched(self, tmp_path):
        idx = tmp_path / "idx"
        idx.mkdir()
        keep = idx / "fences.parquet"
        keep.write_bytes(b"x")
        sweep_dead_tmps(str(idx))
        assert keep.exists()
