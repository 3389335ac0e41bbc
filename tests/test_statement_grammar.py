"""Statements read through Spark's parser keep the engine's meaning: name
lists of any length, the dialect's quoting in INSERT queries and CTAS,
and VALUES rows as written."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from plan_spark.engine import Engine

# wider than Spark's printed trees list (spark.sql.debug.maxToStringFields, 25)
_WIDE = [f"c{i}" for i in range(30)]


@pytest.fixture()
def engine(spark):
    d = tempfile.mkdtemp(prefix="plan_spark_wh_")
    yield Engine(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_insert_with_a_wide_column_list(engine):
    engine.sql(f"CREATE TABLE w (extra INT, {', '.join(c + ' INT' for c in _WIDE)})")
    cols = list(reversed(_WIDE))
    engine.sql(
        f"INSERT INTO w ({', '.join(cols)}) VALUES ({', '.join(c[1:] for c in cols)})"
    )
    row = engine.sql("SELECT * FROM w").collect()[0].asDict()
    assert row == {"extra": None, **{c: int(c[1:]) for c in _WIDE}}


def test_wide_constraint_column_lists_are_read_whole(engine):
    engine.sql(f"CREATE TABLE p ({', '.join(c + ' INT' for c in _WIDE)}, "
               f"PRIMARY KEY ({', '.join(_WIDE)}))")
    engine.sql(
        f"CREATE TABLE ch ({', '.join(c + ' INT' for c in _WIDE)}, "
        f"UNIQUE ({', '.join(_WIDE)}), "
        f"FOREIGN KEY ({', '.join(_WIDE)}) REFERENCES p ({', '.join(_WIDE)}))"
    )
    assert engine._entry("p", "main")["primary_key"] == _WIDE
    child = engine._entry("ch", "main")
    assert child["unique"] == [_WIDE]
    assert [(f["columns"], f["ref_table"], f["ref_columns"])
            for f in child["foreign_keys"]] == [(_WIDE, "p", _WIDE)]


def test_insert_values_reads_double_quotes_as_strings(engine):
    engine.sql("CREATE TABLE t (k INT, v STRING)")
    engine.sql('INSERT INTO t VALUES (1, "x"), (2, "y")')
    assert sorted(tuple(r) for r in engine.sql("SELECT k, v FROM t").collect()) == [
        (1, "x"), (2, "y"),
    ]


def test_insert_query_and_ctas_read_double_quotes_as_identifiers(engine):
    engine.sql("CREATE TABLE src (k INT, v STRING)")
    engine.sql("INSERT INTO src VALUES (1, 'a'), (2, 'b')")
    engine.sql("CREATE TABLE dst (k INT, v STRING)")
    # a doubled quote inside a quoted identifier is rewritten exactly once
    engine.sql(
        'INSERT INTO dst (v, k) SELECT "a""b" AS "v", k FROM '
        '(SELECT v AS "a""b", k FROM src)'
    )
    assert sorted(tuple(r) for r in engine.sql("SELECT k, v FROM dst").collect()) == [
        (1, "a"), (2, "b"),
    ]
    engine.sql('CREATE TABLE agg AS SELECT count(*) AS "n" FROM "src"')
    assert engine.sql("SELECT n FROM agg").collect()[0].n == 2


def test_ctas_that_spark_cannot_parse_raises_value_error(engine):
    with pytest.raises(ValueError, match="unsupported statement"):
        engine.sql("CREATE TABLE bad AS SELEC 1")
    assert "bad" not in engine.tables()


def test_char_and_varchar_columns_are_stored_as_string(engine):
    # DuckDB's reading: no padding, no length check
    engine.sql("CREATE TABLE t (k INT, v VARCHAR(5), c CHAR(3))")
    engine.sql("INSERT INTO t VALUES (1, 'ab', 'x'), (2, 'longer', 'wide')")
    engine.sql("ALTER TABLE t ADD COLUMN d VARCHAR(2) DEFAULT 'dd'")
    engine.sql("INSERT INTO t VALUES (3, 'v', 'c', 'dvalue')")
    engine.sql(
        "CREATE TABLE u AS SELECT k, CAST(v AS VARCHAR(3)) AS v, "
        "CAST(c AS CHAR(2)) AS c, ARRAY(CAST(d AS CHAR(1))) AS a FROM t"
    )
    for name in ("t", "u"):
        schema = engine.dataset(name).schema
        assert all(
            f.dataType.simpleString() in ("int", "string", "array<string>")
            for f in schema.fields
        ), schema
    assert sorted(tuple(r) for r in engine.sql("SELECT k, v, c, d FROM t").collect()) == [
        (1, "ab", "x", "dd"), (2, "longer", "wide", "dd"), (3, "v", "c", "dvalue"),
    ]
    assert sorted(tuple(r) for r in engine.sql("SELECT k, v, c, a FROM u").collect()) == [
        (1, "ab", "x", ["dd"]), (2, "longer", "wide", ["dd"]),
        (3, "v", "c", ["dvalue"]),
    ]
