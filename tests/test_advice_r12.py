"""Regression tests for the round-11 ADVICE findings (fixed r12), plus the
r12 zonemap BETWEEN conjunct support:

1. (low) driver_sized no longer wraps count_rows' filtered corpus-sized
   count (AQE stays on for data-plane work); the thread-scope caveat is
   documented in session.py.
2. (low) COPY's driver-side footer pinning skips hidden ('.'/'_') files
   and bails to Spark inference on per-file schema drift.
3. (low) the components single-task gate requires integral same-type edge
   ids; string ids fall through to the distributed loop, and narrow int
   ids keep their dtype on either side of the gate.
4. (low) IntegrityError witness probes degrade to a witness-less message
   instead of IndexError (or a silently-passed violation) when the second
   probe job returns no row.
5. (r12) `col BETWEEN a AND b` extracts both bound conjuncts for zonemap
   pruning; NOT BETWEEN and quoted literals contribute nothing.
"""

from __future__ import annotations

import pytest

from plan_spark.dataset import Dataset


# ---------------------------------------------------------------------------
# 5. BETWEEN conjunct extraction + pruning
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# 1. count_rows(filter) plans with AQE on
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# 2. COPY footer pinning: hidden files skipped, drift bails to inference
# ---------------------------------------------------------------------------


def _copy_engine(spark, tmp_path, name):
    from plan_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "warehouse"))
    eng.sql(f"CREATE TABLE {name} (k BIGINT, v DOUBLE)")
    return eng


def test_copy_skips_hidden_parquet_entries(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "srcdir"
    os.makedirs(src)
    # hidden/temp entries sort FIRST lexicographically; they carry a
    # DIFFERENT schema — pinning one would null-fill or fail the real file
    pq.write_table(
        pa.table({"zzz": ["nope"]}), str(src / "_temporary.parquet")
    )
    pq.write_table(
        pa.table({"other": [1]}), str(src / ".hidden.parquet")
    )
    pq.write_table(
        pa.table({"k": pa.array([1, 2], "int64"), "v": pa.array([0.5, 1.5], "float64")}),
        str(src / "part-0.parquet"),
    )
    eng = _copy_engine(spark, tmp_path, "t_hidden")
    eng.sql(f"COPY t_hidden FROM '{src}' WITH (FORMAT 'parquet')")
    rows = sorted(tuple(r) for r in eng.sql("SELECT k, v FROM t_hidden").collect())
    assert rows == [(1, 0.5), (2, 1.5)]


def test_copy_schema_drift_fails_loudly_not_silently(spark, tmp_path):
    """Per-file type drift inside a COPY directory: the footer fast path
    detects the first-vs-last footer mismatch and bails to Spark's own
    inference, which errors LOUDLY on the conflicting file — the
    before-fix hazard was the fast path silently pinning one file's types
    for every file. Either a loud error or correct rows is acceptable;
    silently wrong/null-filled data is not."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "driftdir"
    os.makedirs(src)
    pq.write_table(
        pa.table({"k": pa.array([1], "int32"), "v": pa.array([0.5], "float64")}),
        str(src / "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([2], "int64"), "v": pa.array([1.5], "float64")}),
        str(src / "b.parquet"),
    )
    eng = _copy_engine(spark, tmp_path, "t_drift")
    try:
        eng.sql(f"COPY t_drift FROM '{src}' WITH (FORMAT 'parquet')")
    except Exception:
        return  # loud failure: correct (matches plain spark.read.parquet)
    rows = sorted(tuple(r) for r in eng.sql("SELECT k, v FROM t_drift").collect())
    assert rows == [(1, 0.5), (2, 1.5)]


# ---------------------------------------------------------------------------
# 3. components: id-type gate
# ---------------------------------------------------------------------------


def test_components_string_ids_fall_through_to_distributed(spark):
    from plan_spark.operators.components import min_label_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "da string, db string"
    )
    out = min_label_components(edges, single_threshold=1000)
    got = {(r.node, r.label) for r in out.collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }


def test_components_int32_ids_keep_dtype_on_both_gate_sides(spark):
    from plan_spark.operators.components import min_label_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "da int, db int"
    )
    small = min_label_components(edges, single_threshold=1000)
    large = min_label_components(edges, single_threshold=1)  # force distributed
    assert [f.dataType.simpleString() for f in small.schema.fields] == [
        f.dataType.simpleString() for f in large.schema.fields
    ]
    s = {(r.node, r.label) for r in small.collect()}
    l = {(r.node, r.label) for r in large.collect()}
    assert s == l == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


# ---------------------------------------------------------------------------
# 4. witness helper degrades instead of raising IndexError
# ---------------------------------------------------------------------------


def test_witness_empty_probe_degrades():
    from plan_spark.engine import _witness

    assert _witness([]) == "(witness row not reproducible)"
    assert _witness([(1, "x")]) == "(1, 'x')"


def test_integrity_messages_unchanged_with_witness(spark, tmp_path):
    """The witness-present path produces byte-identical messages."""
    from plan_spark.engine import Engine, IntegrityError

    eng = Engine(spark, str(tmp_path / "w2"))
    eng.sql(
        "CREATE TABLE t (k BIGINT PRIMARY KEY, v BIGINT, CHECK (v > 0))"
        " WITH (ENFORCE)"
    )
    eng.sql("INSERT INTO t VALUES (1, 5)")
    with pytest.raises(IntegrityError, match=r"CHECK \(v > 0\) violated on t: \(2, -1\)"):
        eng.sql("INSERT INTO t VALUES (2, -1)")
    with pytest.raises(IntegrityError, match=r"already contains PRIMARY KEY \('k',\) = \(1,\)"):
        eng.sql("INSERT INTO t VALUES (1, 7)")
