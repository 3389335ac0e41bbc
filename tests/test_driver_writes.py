"""A statement-sized frame already on the driver (its optimized plan a
LocalRelation) is written by pyarrow, not by a Spark job. The fragment it
lands must be the fragment Spark's writer would land for the same rows:
the same Parquet types (decimals aside: pyarrow 16 writes every decimal as
FIXED_LEN_BYTE_ARRAY), the same manifest stats, the same rows read back
and the same pruning decisions. Footer stats come from top-level primitive
columns only, so a nested field never speaks for a top-level column of the
same name, and no decimal records a min/max the manifest cannot hold. A
frame holding a floating NaN keeps Spark's writer: pyarrow's min/max leave
NaN out, Spark's order it above every number."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import plan_spark.dataset.dataset as dsmod
from plan_spark.dataset import Dataset
from plan_spark.engine import Engine
from tests.conftest import to_format1


def _n_jobs(spark) -> int:
    # jobs the session has started: the newest job's id + 1. The status
    # store lists jobs newest first and drops old ones past
    # spark.ui.retainedJobs, so its size stops counting in a long session
    jobs = spark._jsc.sc().statusStore().jobsList(None)
    return 0 if jobs.isEmpty() else jobs.head().jobId() + 1


def _jobs_for(spark, fn) -> int:
    j0 = _n_jobs(spark)
    fn()
    return _n_jobs(spark) - j0


_COMMON = (
    "a TINYINT, b SMALLINT, c INT, d BIGINT, e DOUBLE, f STRING, g BINARY, h DATE, "
    "l DECIMAL(10,2), m DECIMAL(22,1), n ARRAY<INT>, o MAP<STRING,INT>, "
    "p STRUCT<k: BIGINT, s: STRING>"
)


def _rows(ts_ntz: bool):
    def ts(i):
        t = dt.datetime(2020, 1, 2, 3, 4, 5) + dt.timedelta(days=i, microseconds=7 * i)
        return t if ts_ntz else t.replace(tzinfo=dt.timezone.utc)

    rows = [
        (i, 100 * i, -i, 10 * i, i / 4, f"s{i}", bytes([i]), dt.date(2020, 1, 1 + i),
         Decimal(f"{i}.25"), Decimal(f"{i}12345678901234567.5"), [i, None], {f"k{i}": i},
         (i * 7, f"q{i}"), ts(i))
        for i in range(1, 5)
    ]
    return rows + [(None,) * 14]


def _physical(ds: Dataset, f) -> dict:
    md = pq.ParquetFile(os.path.join(ds.path, f.path)).metadata
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    return {
        c.path: (c.physical_type, str(c.logical_type))
        for c in cols
        if c.logical_type.type != "DECIMAL"
    }


def _readback(ds: Dataset) -> list[str]:
    return sorted(repr(r) for r in ds.to_df().collect())


def _probes(v):
    """Values on and either side of a stat bound."""
    if isinstance(v, bool):
        return [v]
    if isinstance(v, (int, float)):
        return [v - 1, v, v + 1]
    return ["", v, v + "~"]


@pytest.mark.parametrize(
    "ts_type, out_type",
    [("TIMESTAMP", "INT96"), ("TIMESTAMP", "TIMESTAMP_MICROS"), ("TIMESTAMP_NTZ", "INT96")],
)
@pytest.mark.parametrize("rename", [False, True])
def test_driver_fragment_equals_spark_fragment(spark, tmp_path, ts_type, out_type, rename):
    schema = StructType.fromDDL(f"{_COMMON}, t {ts_type}")
    rows = _rows(ts_type == "TIMESTAMP_NTZ")
    spark.conf.set("spark.sql.parquet.outputTimestampType", out_type)
    try:
        side = {}
        for how in ("driver", "spark"):
            ds = Dataset.create(
                spark, str(tmp_path / how), schema=schema, row_ids=True,
                bitmap_columns=["c", "f", "h"],
            )
            if rename:
                ds.alter_columns({"path": "d", "rename": "dd"}, {"path": "p", "rename": "pp"})
            remote = spark.createDataFrame(rows, ds.schema).coalesce(1)
            frame = remote
            if how == "driver":
                frame = spark.createDataFrame(remote.toArrow(), ds.schema)
            assert (dsmod._driver_rows(frame) is not None) == (how == "driver")
            n = _jobs_for(spark, lambda: ds.append(frame))
            assert (n == 0) == (how == "driver"), f"{how} append ran {n} jobs"
            (frag,) = ds.manifest.fragments
            side[how] = (ds, frag)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    (drv, fd), (spk, fs) = side["driver"], side["spark"]
    assert _physical(drv, fd) == _physical(spk, fs)
    assert fd.rows == fs.rows == len(rows)
    assert fd.stats == fs.stats
    assert "k" not in fs.stats and not {"l", "m"} & fs.stats.keys()
    assert _readback(drv) == _readback(spk)
    for field in drv.schema.fields:
        st = fs.stats.get(drv._phys(field.name))
        if not st or st.get("min") is None:
            continue
        for v in _probes(st["min"]) + _probes(st["max"]):
            for op, val in (("=", v), ("<", v), ("in", [v])):
                kept = [bool(ds.plan_scan([(field.name, op, val)], use_indexes=False)[0])
                        for ds in (drv, spk)]
                assert kept[0] == kept[1], (field.name, op, val)


def test_mixed_timestamps_under_int96_keep_spark_writer(spark, tmp_path):
    # pyarrow writes INT96 for every timestamp column or none, but Spark
    # writes TIMESTAMP_NTZ as INT64 under any setting
    schema = StructType.fromDDL("k BIGINT, t TIMESTAMP, u TIMESTAMP_NTZ")
    ds = Dataset.create(spark, str(tmp_path / "mixed"), schema=schema)
    t = dt.datetime(2021, 5, 6, 7, 8, 9)
    frame = spark.createDataFrame(
        spark.createDataFrame([(1, t.replace(tzinfo=dt.timezone.utc), t)], schema).toArrow(),
        schema,
    )
    assert dsmod._driver_rows(frame) is not None
    assert _jobs_for(spark, lambda: ds.append(frame)) > 0
    (f,) = ds.manifest.fragments
    types = {k: v[0] for k, v in _physical(ds, f).items()}
    assert types == {"k": "INT64", "t": "INT96", "u": "INT64"}
    assert [tuple(r) for r in ds.to_df().collect()] == [(1, t, t)]


def _bloom_columns(spark, path: str) -> set[str]:
    """Columns with a parquet bloom filter in the file's first row group,
    from parquet-mr's footer (pyarrow 16 does not expose the offset)."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
        )
    )
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        return {
            c.getPath().toDotString() for c in cols if c.getBloomFilterOffset() >= 0
        }
    finally:
        reader.close()


def test_local_append_to_bloom_table_keeps_spark_writer(spark, tmp_path):
    schema = StructType.fromDDL("k BIGINT, v STRING")
    rows = spark.createDataFrame([(2 * i, f"v{i}") for i in range(200)], schema).toArrow()
    for bloom in (["k"], []):
        ds = Dataset.create(spark, str(tmp_path / f"b{len(bloom)}"), schema=schema,
                            bloom_columns=bloom)
        frame = spark.createDataFrame(rows, schema)
        assert dsmod._driver_rows(frame) is not None
        n = _jobs_for(spark, lambda: ds.append(frame))
        assert (n > 0) == bool(bloom), f"bloom={bloom} append ran {n} jobs"
        (f,) = ds.manifest.fragments  # a local relation lands as one file
        assert _bloom_columns(spark, os.path.join(ds.path, f.path)) == set(bloom)
        assert ds.to_df().filter(F.col("k") == 100).count() == 1


@pytest.fixture()
def eng(spark, tmp_path):
    path = str(tmp_path / "db")
    shutil.rmtree(path, ignore_errors=True)
    return Engine(spark, path)


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_nested_field_stats_do_not_shadow_top_level_column(spark, eng, writer):
    eng.sql("CREATE TABLE t (k BIGINT, s STRUCT<k: BIGINT>)")
    insert = (
        "INSERT INTO t VALUES (1, named_struct('k', 100)), (2, named_struct('k', 200))"
        if writer == "driver"
        else "INSERT INTO t SELECT id + 1, named_struct('k', (id + 1) * 100) "
        "FROM range(0, 2, 1, 1)"
    )
    n = _jobs_for(spark, lambda: eng.sql(insert))
    assert (n == 0) == (writer == "driver"), f"{writer} INSERT ran {n} jobs"
    (f,) = eng.dataset("t").manifest.fragments
    assert f.stats["k"] == {"min": 1, "max": 2, "nulls": 0}
    assert "s.k" not in f.stats
    eng.sql("DELETE FROM t WHERE k = 1")
    eng.sql("UPDATE t SET k = 20 WHERE k = 2")
    got = [(r.k, r.s.k) for r in eng.dataset("t").to_df().collect()]
    assert got == [(20, 200)]


def test_legacy_nested_stats_do_not_prune_shadowed_column(spark, eng):
    # a format-1 fragment may hold s.k's range under "k"; opening the table
    # drops every stats entry named like a nested leaf, so k never prunes
    # by it, and the next commit stores the upgraded manifest
    eng.sql("CREATE TABLE t (k BIGINT, s STRUCT<k: BIGINT>, m MAP<STRING, BIGINT>)")
    eng.sql(
        "INSERT INTO t VALUES (1, named_struct('k', 100), map('a', 7)), "
        "(2, named_struct('k', 200), map('b', 8))"
    )
    path = eng.dataset("t").path
    v = to_format1(path, leaf_stats=True)
    with open(eng.dataset("t")._manifest_path(v)) as fh:
        (stored,) = json.load(fh)["fragments"]
    assert stored["stats"]["k"]["min"] == 100  # the shadowed stats of the old writer
    assert stored["stats"]["key"]["min"] == "a"
    ds = eng.dataset("t")
    assert dsmod._nested_leaf_names(ds.schema) == {"k", "key", "value"}
    (f,) = ds.manifest.fragments
    assert ds.manifest.format == 2 and not {"k", "key", "value"} & set(f.stats)
    eng.sql("DELETE FROM t WHERE k = 1")
    eng.sql("UPDATE t SET k = 20 WHERE k = 2")
    got = [(r.k, r.s.k) for r in eng.dataset("t").to_df().collect()]
    assert got == [(20, 200)]
    with open(eng.dataset("t")._manifest_path(v + 1)) as fh:
        assert json.load(fh)["format"] == 2


def test_top_level_columns_named_like_nested_leaves_prune(spark, eng):
    # key and value beside a MAP, k beside STRUCT<k>: fragments written
    # with path-keyed stats prune on them, so a point read over more rows
    # than the driver gate keeps one fragment and reads it on the driver
    eng.sql("CREATE TABLE t (key BIGINT, k BIGINT, m MAP<STRING, BIGINT>, s STRUCT<k: BIGINT>)")
    n = 4000
    for i in range(3):
        eng.sql(
            f"INSERT INTO t SELECT id, id + 100000, map('a', -id), named_struct('k', -id) "
            f"FROM range({i * n}, {(i + 1) * n}, 1, 1)"
        )
    assert 3 * n > dsmod._IN_LIST_MAX
    ds = eng.dataset("t")
    full = ds.to_df()
    for pred in ("key = 5000", "k = 109000"):
        sel, pruned = ds.plan_scan(pred, use_indexes=False)
        assert (len(sel), len(pruned)) == (1, 2), pred
        (scan,) = eng.sql(f"EXPLAIN SCAN SELECT * FROM t WHERE {pred}").collect()[:1]
        assert scan.reason.endswith("; driver scan"), scan.reason
        rows = []
        assert _jobs_for(spark, lambda: rows.extend(eng.sql(f"SELECT * FROM t WHERE {pred}").collect())) == 0
        assert rows == full.filter(pred).collect() and len(rows) == 1


_NAN = "CAST('NaN' AS DOUBLE)"
_NAN_CASES = {  # column, its value in the NaN row and in a 1.0 row, predicate
    "double": ("e DOUBLE", _NAN, "1.0", "e > 5"),
    "float": ("e FLOAT", "CAST('NaN' AS FLOAT)", "1.0", "e > 5"),
    "struct": ("e STRUCT<x: DOUBLE>", f"named_struct('x', {_NAN})", "named_struct('x', 1.0)",
               "e.x > 5"),
    "array": ("e ARRAY<DOUBLE>", f"array({_NAN})", "array(1.0)", "e[0] > 5"),
    "map": ("e MAP<STRING, DOUBLE>", f"map('a', {_NAN})", "map('a', 1.0)", "e['a'] > 5"),
}


@pytest.mark.parametrize("case", sorted(_NAN_CASES))
def test_nan_rows_keep_spark_writer_and_match_range_predicates(spark, eng, case):
    # pyarrow's footer min/max leave NaN out (a [NaN, 1.0] file says max
    # 1.0); Spark orders NaN above every number, so `e > 5` holds for it
    ddl, nan, one, pred = _NAN_CASES[case]
    eng.sql(f"CREATE TABLE t (k BIGINT, {ddl})")
    n = _jobs_for(spark, lambda: eng.sql(f"INSERT INTO t VALUES (1, {nan}), (2, {one})"))
    assert n > 0, "a NaN row was written by the driver"
    (f,) = eng.dataset("t").manifest.fragments
    created = pq.ParquetFile(os.path.join(eng.dataset("t").path, f.path)).metadata.created_by
    assert created.startswith("parquet-mr"), created
    assert [r.k for r in eng.sql(f"SELECT k FROM t WHERE {pred}").collect()] == [1]
    assert _jobs_for(spark, lambda: eng.sql(f"INSERT INTO t VALUES (3, {one})")) == 0
    eng.sql(f"DELETE FROM t WHERE {pred}")
    assert sorted(r.k for r in eng.sql("SELECT k FROM t").collect()) == [2, 3]


def test_nan_update_image_is_found_by_range_delete(spark, eng):
    eng.sql("CREATE TABLE u (k BIGINT, e DOUBLE)")
    eng.sql("INSERT INTO u VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    eng.sql(f"UPDATE u SET e = IF(k = 1, {_NAN}, 1.0) WHERE k <= 2")
    assert [r.k for r in eng.sql("SELECT k FROM u WHERE e > 5").collect()] == [1]
    eng.sql("DELETE FROM u WHERE e > 5")
    assert sorted(tuple(r) for r in eng.sql("SELECT * FROM u").collect()) == [
        (2, 1.0), (3, 3.0)
    ]


def test_decimal_tables_commit_with_spark_writer_stats(spark, eng):
    # DECIMAL(22,1) is FIXED_LEN_BYTE_ARRAY from both writers; its
    # Decimal footer min/max once broke the manifest's JSON
    eng.sql(
        "CREATE TABLE w AS SELECT CAST(id AS DECIMAL(22,1)) AS x, id AS k FROM range(0, 3, 1, 1)"
    )
    eng.sql("INSERT INTO w VALUES (0, 0), (1, 1), (2, 2)")
    eng.sql("CREATE TABLE n (k BIGINT, y DECIMAL(10,2))")
    eng.sql("INSERT INTO n VALUES (1, 1.25), (2, NULL)")
    eng.sql("INSERT INTO n SELECT id, IF(id = 1, 1.25BD, NULL) FROM range(1, 3, 1, 1)")
    for name, col in (("w", "x"), ("n", "y")):
        first, second = eng.dataset(name).manifest.fragments
        assert first.stats == second.stats and col not in first.stats, name
    assert sorted(map(tuple, eng.sql("SELECT * FROM n").collect())) == [
        (1, Decimal("1.25")), (1, Decimal("1.25")), (2, None), (2, None)
    ]
    assert sorted(r.x for r in eng.sql("SELECT x FROM w").collect()) == [
        Decimal(i) for i in (0, 0, 1, 1, 2, 2)
    ]


def test_values_insert_is_one_driver_written_fragment(spark, eng):
    eng.sql("CREATE TABLE v (k BIGINT, s STRING)")
    n = _jobs_for(spark, lambda: eng.sql(
        "INSERT INTO v VALUES " + ", ".join(f"({i}, 's{i}')" for i in range(100))
    ))
    assert n == 0, f"INSERT VALUES ran {n} jobs"
    (f,) = eng.dataset("v").manifest.fragments
    assert f.rows == 100 and f.stats["k"]["max"] == 99
    # an empty local relation writes no fragment
    empty = spark.createDataFrame(
        pa.table({"k": pa.array([], pa.int64()), "s": pa.array([], pa.string())}),
        "k long, s string",
    )
    assert dsmod._driver_rows(empty) == []
    eng.dataset("v").append(empty)
    assert len(eng.dataset("v").manifest.fragments) == 1
    assert [Row(k=5, s="s5")] == eng.sql("SELECT * FROM v WHERE k = 5").collect()
    # pyarrow's footer records no Spark metadata, so no rebase mode: an
    # ancient date and timestamp read back as written through the driver
    # scan and through Spark's scan (Spark 4 reads it CORRECTED)
    eng.sql("CREATE TABLE old (k BIGINT, d DATE, t TIMESTAMP)")
    lits = "DATE '1000-01-01', TIMESTAMP '1000-01-01 00:00:00'"
    assert _jobs_for(spark, lambda: eng.sql(f"INSERT INTO old VALUES (1, {lits})")) == 0
    (f,) = eng.dataset("old").manifest.fragments
    assert pq.ParquetFile(os.path.join(eng.dataset("old").path, f.path)).metadata.metadata is None
    want = [(1, *spark.sql(f"SELECT {lits}").first())]
    rows = []
    assert _jobs_for(spark, lambda: rows.extend(eng.sql("SELECT * FROM old WHERE k = 1").collect())) == 0
    assert [tuple(r) for r in rows] == want and want[0][1] == dt.date(1000, 1, 1)
    spark_read = eng.sql("SELECT * FROM old WHERE k = 1 ORDER BY k")
    assert "FileScan" in spark_read._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in spark_read.collect()] == want


def test_local_relation_over_statement_size_keeps_spark_writer(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", 4)
    schema = StructType.fromDDL("k BIGINT")
    ds = Dataset.create(spark, str(tmp_path / "big"), schema=schema)
    frame = spark.createDataFrame(pa.table({"k": pa.array(range(5), pa.int64())}), schema)
    assert dsmod._driver_rows(frame) is None
    assert _jobs_for(spark, lambda: ds.append(frame)) > 0
    assert sorted(r.k for r in ds.to_df().collect()) == list(range(5))


@pytest.mark.parametrize("in_list_max", [10_000, 1])
def test_merge_keeps_row_ids_and_inserts_null_keys_on_both_paths(
    spark, eng, monkeypatch, in_list_max
):
    # 10_000: the source and its matches come to the driver, and the
    # inserts are the source rows no match names; 1: the Spark path (row
    # ids by broadcast join, inserts by anti-join). A NULL key never
    # matches, so that source row is inserted either way
    eng.sql("CREATE TABLE m (k BIGINT, j STRING, v BIGINT)")
    eng.sql("INSERT INTO m VALUES (1, 'a', 1), (2, 'b', 2), (NULL, 'c', 3)")
    ids = {(r.k, r.j): r._rowid for r in eng.dataset("m").to_df(with_row_id=True).collect()}
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", in_list_max)
    eng.sql(
        "MERGE INTO m USING (SELECT 1 AS k, 'a' AS j, 10 AS v UNION ALL SELECT 1, 'z', 11 "
        "UNION ALL SELECT NULL, 'c', 12 UNION ALL SELECT 2, 'b', 13) s "
        "ON m.k = s.k AND m.j = s.j "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = eng.dataset("m").to_df(with_row_id=True).collect()
    assert sorted(((r.k, r.j, r.v) for r in got), key=repr) == sorted(
        [(1, "a", 10), (2, "b", 13), (None, "c", 3), (1, "z", 11), (None, "c", 12)], key=repr
    )
    kept = {(r.k, r.j): r._rowid for r in got if r.v in (10, 13, 3)}
    assert kept == ids
    fresh = [r._rowid for r in got if r.v in (11, 12)]
    assert len(set(fresh)) == 2 and not set(fresh) & set(ids.values())


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_append_conforms_frame_types_to_the_table(spark, eng, writer):
    # a DECIMAL(22,1) frame appended to a DOUBLE column is stored as the
    # table's DOUBLE, as SQL INSERT of the same rows stores it; before, the
    # commit landed and every later read raised a column type mismatch
    eng.sql("CREATE TABLE pc (id BIGINT, price DOUBLE)")
    eng.sql("CREATE TABLE pi (id BIGINT, price DOUBLE)")
    frame = spark.range(5).selectExpr("id", "id * 0.5 AS price").coalesce(1)
    if writer == "driver":
        frame = spark.createDataFrame(frame.toArrow(), frame.schema)
    assert (dsmod._driver_rows(frame) is not None) == (writer == "driver")
    eng.dataset("pc").append(frame)
    eng.sql("INSERT INTO pi SELECT id, id * 0.5 FROM range(5)")
    got = sorted(map(tuple, eng.dataset("pc").to_df().collect()))
    assert got == sorted(map(tuple, eng.dataset("pi").to_df().collect()))
    assert got == [(i, i * 0.5) for i in range(5)]
    (frag,) = eng.dataset("pc").manifest.fragments
    pf = pq.ParquetFile(os.path.join(eng.dataset("pc").path, frag.path))
    assert pf.schema_arrow.field("price").type == pa.float64()


def test_append_refuses_unassignable_types_and_bumps_no_version(spark, eng):
    eng.sql("CREATE TABLE pr (id BIGINT, price DOUBLE)")
    ds = eng.dataset("pr")
    v = ds.version
    with pytest.raises(ValueError, match=r"price string -> double"):
        ds.append(spark.range(3).selectExpr("id", "CAST(id AS STRING) AS price"))
    assert eng.dataset("pr").version == v
    # a struct reads by field name, so a reordered or partial struct needs no cast
    eng.sql("CREATE TABLE ps (id BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    eng.dataset("ps").append(spark.sql("SELECT 1L AS id, named_struct('b', 'x', 'a', 2L) AS s"))
    assert [tuple(r) for r in eng.sql("SELECT s.a, s.b FROM ps").collect()] == [(2, "x")]


def test_commit_refuses_a_file_the_table_cannot_read(spark, eng, monkeypatch):
    # the footer check backs the conform step: a file whose stored type the
    # reader refuses never reaches a manifest, through either commit path
    eng.sql("CREATE TABLE pf (id BIGINT, price DOUBLE)")
    eng.sql("INSERT INTO pf VALUES (1, 1.5)")
    ds = eng.dataset("pf")
    v = ds.version
    monkeypatch.setattr(Dataset, "_conformed", lambda self, df: df)
    bad = spark.range(3).selectExpr("id", "id * 0.5 AS price")
    with pytest.raises(ValueError, match=r"stores price as decimal\(22,1\).*double"):
        ds.append(bad)
    sid = ds.stage_append(bad)
    with pytest.raises(ValueError, match=r"stores price as decimal\(22,1\)"):
        ds.commit_staged(sid)
    assert eng.dataset("pf").version == v
    assert [tuple(r) for r in eng.sql("SELECT * FROM pf").collect()] == [(1, 1.5)]


def test_nan_in_a_later_row_group_is_found(spark, eng):
    # Spark's writer bounds each row group; a NaN in the last one must not
    # be lost when the fragment's bounds merge the groups'
    n = 2 * dsmod._ROW_GROUP_ROWS + 10
    eng.sql("CREATE TABLE nr (k BIGINT, e DOUBLE)")
    eng.dataset("nr").append(
        spark.range(n)
        .selectExpr("id AS k", f"IF(id = {n - 3}, double('NaN'), id % 5) AS e")
        .coalesce(1)
    )
    assert "e" not in eng.dataset("nr").manifest.fragments[0].stats
    assert [r.k for r in eng.sql("SELECT k FROM nr WHERE e > 5").collect()] == [n - 3]
    eng.sql("DELETE FROM nr WHERE e > 5")
    assert eng.sql("SELECT k FROM nr WHERE e > 5").collect() == []
    assert eng.dataset("nr").count_rows() == n - 1
