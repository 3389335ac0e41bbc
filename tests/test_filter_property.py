"""Property-based check: manifest file pruning is SOUND for arbitrary
conjunct predicates — a pruned scan returns exactly the rows of an
unpruned scan with the same residual filter.

The prunable conjuncts come from Spark's own parse of the predicate
(Dataset._parse_filter_string walks the Catalyst tree); what must NEVER
happen is a fragment pruned that held a matching row. Random predicates
over a multi-fragment dataset with interleaved / disjoint / boundary
values probe exactly that: comparisons either way round, IN, BETWEEN and
NOT BETWEEN, a top-level OR, and decimals no double equals."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from plan_spark.dataset import Dataset

_COLS = ("a", "b", "s")

# values of a near the fragment bounds of the layouts below (0-19, 15-39,
# 40-59) are drawn often: the edges are where an unsound prune shows
_num_lit = st.one_of(
    st.integers(min_value=-5, max_value=25),
    st.sampled_from([0, 15, 18, 19, 38, 39, 40, 58, 59]),
)
_str_lit = st.sampled_from(["x0", "x1", "x5", "zz", ""])
# over-precise decimals round to a whole double. Spark compares the int
# column a with them exactly, so a conjunct rounded to float would prune
# the fragment whose bound is the rounded value (a > 18.9999999999999999999
# drops the row a = 19); against the double column b Spark compares in
# double, where either reading is sound
_fraction = st.sampled_from(
    ["", "", "", ".5", ".9999999999999999999", ".0000000000000000001"]
)


@st.composite
def _literal(draw, col):
    if col == "s":
        return f"'{draw(_str_lit)}'"
    return f"{draw(_num_lit)}{draw(_fraction)}"


@st.composite
def _comparison(draw):
    col = draw(st.sampled_from(_COLS))
    kind = draw(st.sampled_from(["cmp", "cmp", "in", "between", "literal_first"]))
    if kind == "in":
        lits = draw(st.lists(_literal(col), min_size=1, max_size=3))
        return f"{col} IN ({', '.join(lits)})"
    if kind == "between":
        neg = draw(st.sampled_from(["", "NOT "]))
        return f"{col} {neg}BETWEEN {draw(_literal(col))} AND {draw(_literal(col))}"
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "!="]))
    if kind == "literal_first":
        return f"{draw(_literal(col))} {op} {col}"
    return f"{col} {op} {draw(_literal(col))}"


@st.composite
def _conjunct(draw):
    # one in five is an OR: at the top level of the predicate, no branch
    # of it is individually required
    if draw(st.integers(0, 4)) == 0:
        return f"{draw(_comparison())} OR {draw(_comparison())}"
    return draw(_comparison())


_pred = st.lists(_conjunct(), min_size=1, max_size=3).map(" AND ".join)


@pytest.fixture(scope="module")
def pruned_ds(spark):
    d = tempfile.mkdtemp(prefix="plan_spark_prop_")
    # three fragments with partly-overlapping ranges and disjoint string
    # sets, so different predicates prune different subsets
    base = spark.range(0, 60).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
        F.concat(F.lit("x"), (F.col("id") % 10).cast("string")).alias("s"),
    )
    ds = Dataset.create(spark, d, base.filter("a < 20").coalesce(1))
    ds.append(base.filter("a >= 15 AND a < 40").coalesce(1))
    ds.append(base.filter("a >= 40").coalesce(1))
    yield ds
    shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pred=_pred)
@example(pred="a > 18.9999999999999999999")
@example(pred="a < 0.0000000000000000001")
def test_pruned_scan_equals_unpruned_scan(pruned_ds, pred):
    got = sorted(
        tuple(r) for r in pruned_ds.to_df(pred).select("a", "b", "s").collect()
    )
    want = sorted(
        tuple(r)
        for r in pruned_ds.to_df().filter(F.expr(pred)).select("a", "b", "s").collect()
    )
    assert got == want, f"pruning changed results for predicate: {pred!r}"


@pytest.fixture(scope="module")
def zordered_ds(spark):
    d = tempfile.mkdtemp(prefix="plan_spark_prop_z_")
    base = spark.range(0, 60).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
        F.concat(F.lit("x"), (F.col("id") % 10).cast("string")).alias("s"),
    )
    ds = Dataset.create(spark, d, base.repartition(3))
    ds.compact(strategy="zorder", zorder_by=["a", "b"], target_files=4)
    yield ds
    shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pred=_pred)
def test_zordered_pruning_is_sound(zordered_ds, pred):
    """Same soundness property over a z-order-clustered layout — the
    bounding-box (rtree-class) pruning path must never drop a matching
    fragment either."""
    got = sorted(
        tuple(r) for r in zordered_ds.to_df(pred).select("a", "b", "s").collect()
    )
    want = sorted(
        tuple(r)
        for r in zordered_ds.to_df()
        .filter(F.expr(pred))
        .select("a", "b", "s")
        .collect()
    )
    assert got == want, f"z-order pruning changed results for: {pred!r}"


# predicates with OR / parens / mixed precedence — the shapes the OR-aware
# top-level splitter must never mis-prune, and (with a btree index present)
# the auto index routing must never mis-route
_bool_pred = st.lists(_conjunct(), min_size=2, max_size=4).flatmap(
    lambda cs: st.sampled_from(
        [
            " OR ".join(cs),
            f"{cs[0]} OR " + " AND ".join(cs[1:]),
            " AND ".join(cs[:-1]) + f" OR {cs[-1]}",
            "(" + " OR ".join(cs[:2]) + ")" + (
                " AND " + " AND ".join(cs[2:]) if cs[2:] else ""
            ),
        ]
    )
)


@pytest.fixture(scope="module")
def indexed_ds(spark):
    """Same layout as pruned_ds plus a fresh btree index on `a` and stable
    row ids, so the auto-routing path is live for every predicate."""
    d = tempfile.mkdtemp(prefix="plan_spark_prop_idx_")
    base = spark.range(0, 60).select(
        F.col("id").cast("int").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
        F.concat(F.lit("x"), (F.col("id") % 10).cast("string")).alias("s"),
    )
    ds = Dataset.create(spark, d, base.filter("a < 20").coalesce(1), row_ids=True)
    ds.append(base.filter("a >= 15 AND a < 40").coalesce(1))
    ds.append(base.filter("a >= 40").coalesce(1))
    ds.create_index("ia", kind="btree", column="a", n_runs=3)
    yield ds
    shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pred=_bool_pred)
def test_or_predicates_never_misprune(indexed_ds, pred):
    got = sorted(
        tuple(r) for r in indexed_ds.to_df(pred).select("a", "b", "s").collect()
    )
    want = sorted(
        tuple(r)
        for r in indexed_ds.to_df(use_indexes=False)
        .filter(F.expr(pred))
        .select("a", "b", "s")
        .collect()
    )
    assert got == want, f"pruning/routing changed results for: {pred!r}"
