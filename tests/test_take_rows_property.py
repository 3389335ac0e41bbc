"""Property: over any history of commits, ``take_rows`` returns exactly the
rows a full scan with row ids returns for the same ids — on both sides of
the statement-sized gate (``_IN_LIST_MAX``): the driver-side Arrow read
and the Spark scan. Likewise DELETE, UPDATE, MERGE and SQL point reads
give the same answers on both sides of the gate. Histories mix INSERT, DELETE, UPDATE, MERGE, OPTIMIZE,
ADD COLUMN with a default, RENAME COLUMN (column mapping) and a widening
retype, so ids move between Range fragments, stored ``__rowid`` files and
deletion sidecars; sampled ids are live, deleted, never assigned, and at
fragment boundaries."""

from __future__ import annotations

import shutil
import tempfile
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import plan_spark.dataset.dataset as dsmod
from plan_spark.dataset import Dataset

_OPS = ("insert", "delete", "update", "merge", "optimize", "add_column", "rename", "widen")


def _rows_like(ds, names, lo, hi):
    """Rows k = lo..hi-1 in the dataset's current schema; added columns are
    NULL on even k, so their defaults show."""
    exprs = []
    for f in ds.schema.fields:
        if f.name == names["k"]:
            e = "id"
        elif f.name == names["g"]:
            e = f"CAST(id % 4 AS {f.dataType.simpleString()})"
        elif f.name == names["s"]:
            e = "concat('s', id)"
        else:
            e = "IF(id % 2 = 0, NULL, id)"
        exprs.append(f"{e} AS `{f.name}`")
    return ds.spark.range(lo, hi).selectExpr(*exprs).coalesce(1)


def _apply(ds, names, op, step):
    k, g, s = names["k"], names["g"], names["s"]
    if op == "insert":
        ds.append(_rows_like(ds, names, 100 + 10 * step, 105 + 10 * step))
    elif op == "delete":
        ds.delete(f"`{k}` % 5 = {step % 5}")
    elif op == "update":
        ds.update({s: f"concat(`{s}`, 'u')"}, f"`{k}` % 3 = {step % 3}")
    elif op == "merge":
        src = _rows_like(ds, names, step, step + 2).union(
            _rows_like(ds, names, 500 + step, 501 + step)
        )
        ds.merge_insert(src, [k])
    elif op == "optimize":
        ds.compact(strategy="count", target_files=1)
    elif op == "add_column":
        ds.add_column(f"d{step}", "bigint", default=str(step + 7))
    elif op == "rename":
        ds.alter_columns({"path": s, "rename": f"{s}r"})
        names["s"] = f"{s}r"
    elif op == "widen" and ds.schema[g].dataType.simpleString() == "int":
        ds.alter_columns({"path": g, "data_type": "bigint"})


def _check(ds, want_rows, truth, got_fn, columns, intervals):
    """``got_fn()`` equals ``want_rows`` projected like ``columns``, at the
    gate (the Arrow read) and one past it (a Spark scan of the fragments
    the ``intervals`` stab, when there are any)."""
    want = truth.select(*columns, "_rowid") if columns else truth
    idx = [truth.columns.index(c) for c in want.columns]
    expect = sorted((tuple(r[i] for i in idx) for r in want_rows), key=repr)
    ivs, hits = ds._rowid_interval_table()
    ds._stab_interval_overlaps(ivs, intervals, hits)
    size = sum(hi - lo + 1 for lo, hi in intervals)
    for gate, spark_scan in ((size, False), (size - 1, bool(hits))):
        with mock.patch.object(dsmod, "_IN_LIST_MAX", gate):
            got = got_fn()
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert ("FileScan" in plan) == spark_scan, plan[:1000]
            assert got.schema == want.schema
            assert sorted((tuple(r) for r in got.collect()), key=repr) == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(st.sampled_from(_OPS), min_size=3, max_size=6), data=st.data())
def test_take_rows_equals_filtered_scan(spark, ops, data):
    path = tempfile.mkdtemp(prefix="plan_spark_take_prop_")
    try:
        ds = Dataset.create(
            spark,
            path,
            spark.range(0, 30)
            .selectExpr("id AS k", "CAST(id % 4 AS INT) AS g", "concat('s', id) AS s")
            .repartition(2),
            row_ids=True,
        )
        names = {"k": "k", "g": "g", "s": "s"}
        for step, op in enumerate(ops):
            _apply(ds, names, op, step)
        truth = ds.to_df(with_row_id=True)
        rows = truth.collect()
        live = sorted(r["_rowid"] for r in rows)
        nxt = ds.manifest.next_row_id
        deleted = sorted(set(range(nxt)) - set(live))
        ivs, _ = ds._rowid_interval_table()
        edges = sorted({e for lo, hi, _ in ivs for e in (lo - 1, lo, hi, hi + 1)})
        pools = [st.sampled_from(p) for p in (live, deleted, edges, [nxt, nxt + 3]) if p]
        columns = data.draw(
            st.none() | st.lists(st.sampled_from(ds.schema.fieldNames()), min_size=1, unique=True)
        )

        ids = data.draw(st.lists(st.one_of(*pools), min_size=1, max_size=8))
        want = [r for r in rows if r["_rowid"] in set(ids)]
        _check(
            ds, want, truth, lambda: ds.take_rows(ids=ids, columns=columns),
            columns, [(i, i) for i in set(ids)],
        )

        runs = data.draw(
            st.lists(
                st.tuples(st.one_of(*pools), st.integers(0, 6)).map(lambda t: (t[0], t[0] + t[1])),
                min_size=1,
                max_size=3,
            )
        )
        covered = set().union(*(range(lo, hi + 1) for lo, hi in runs))
        want = [r for r in rows if r["_rowid"] in covered]
        _check(
            ds, want, truth, lambda: ds.take_rows(runs=runs, columns=columns),
            columns, [(i, i) for i in covered],
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# SQL statements over a table whose namesake columns never prune by stats
# (``k`` beside STRUCT<k>, ``key`` beside a MAP) and whose DOUBLE holds NaN
# and NULL; ``j`` prunes fragments and row groups
_DDL = "k BIGINT, j BIGINT, e DOUBLE, key BIGINT, m MAP<STRING, BIGINT>, s STRUCT<k: BIGINT>"
_PREDS = (
    "e > 5", "e IS NULL", "e = double('NaN')", "key = 2", "key IN (1, 3)", "k = {a}",
    "j BETWEEN {a} AND {b}", "j < {a} AND e >= 1", "j = {a} OR key IS NULL",
)


def _values(lo: int, hi: int) -> str:
    def row(i):
        e = "double('NaN')" if i % 7 == 0 else "NULL" if i % 7 == 1 else f"{i / 2}"
        key = "NULL" if i % 6 == 0 else str(i % 5)
        return f"({i}, {i}, {e}, {key}, map('key', {i}), named_struct('k', {10 * i}))"

    return ", ".join(row(i) for i in range(lo, hi))


def _statement(op: str, step: int, pred: str) -> str:
    if op == "insert":
        return f"INSERT INTO t VALUES {_values(100 + 10 * step, 106 + 10 * step)}"
    if op == "delete":
        return f"DELETE FROM t WHERE {pred}"
    if op == "update":
        return f"UPDATE t SET e = e + 1, key = key * 2 WHERE {pred}"
    if op == "merge":
        src = _values(step, step + 2) + ", " + _values(500 + step, 501 + step)
        return (
            f"MERGE INTO t USING (SELECT * FROM VALUES {src} AS v(k, j, e, key, m, s)) src "
            "ON k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    return "OPTIMIZE t"


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    ops=st.lists(st.sampled_from(("insert", "delete", "update", "merge", "optimize")), min_size=2, max_size=4),
    data=st.data(),
)
def test_statements_equal_on_both_sides_of_the_gate(spark, ops, data):
    """The same history of SQL statements, run once with the driver scan
    (the default gate) and once over Spark's scans (a gate of 1 row), gives
    the same point-read answers after every statement and the same table."""
    from plan_spark.engine import Engine

    root = tempfile.mkdtemp(prefix="plan_spark_gate_prop_")
    try:
        side = {n: Engine(spark, f"{root}/{n}") for n in ("driver", "spark")}
        gate = {"driver": dsmod._IN_LIST_MAX, "spark": 1}

        def run(name, text):
            with mock.patch.object(dsmod, "_IN_LIST_MAX", gate[name]):
                df = side[name].sql(text)
                if df is None:
                    return None
                plan = df._jdf.queryExecution().executedPlan().toString()
                return "FileScan" in plan, sorted(repr(tuple(r)) for r in df.collect())

        for name in side:
            side[name].sql(f"CREATE TABLE t ({_DDL})")
            side[name].sql(f"INSERT INTO t VALUES {_values(0, 40)}")
        for step, op in enumerate(ops):
            a = data.draw(st.integers(0, 60))
            pred = data.draw(st.sampled_from(_PREDS)).format(a=a, b=a + data.draw(st.integers(0, 9)))
            text = _statement(op, step, pred)
            for name in side:
                run(name, text)
            read = f"SELECT * FROM t WHERE {data.draw(st.sampled_from(_PREDS))}".format(a=a, b=a + 4)
            (scanned, got), (_, want) = run("driver", read), run("spark", read)
            assert not scanned, read
            assert got == want, (text, read)
        assert run("driver", "SELECT * FROM t WHERE true")[1] == run("spark", "SELECT * FROM t")[1]
    finally:
        shutil.rmtree(root, ignore_errors=True)
