"""Statements read through Spark's parser keep the engine's meaning: name
lists of any length, the dialect's quoting in INSERT queries and CTAS,
and VALUES rows as written."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from plan_spark.engine import Engine, IntegrityError

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


# ALTER TABLE ... ADD reads its constraint with CREATE TABLE's reader
def test_alter_add_reads_backquoted_names_and_constraint_names(engine):
    engine.sql("CREATE TABLE c (a BIGINT, b BIGINT, s STRING)")
    engine.sql("ALTER TABLE c ADD UNIQUE (`a`)")
    engine.sql("ALTER TABLE c ADD CONSTRAINT c_u UNIQUE (b)")
    engine.sql("ALTER TABLE c ADD CONSTRAINT c_pk PRIMARY KEY (`a`, b)")
    entry = engine._entry("c", "main")
    assert entry["unique"] == [["a"], ["b"]]
    assert entry["primary_key"] == ["a", "b"]


def test_alter_add_check_with_comma_and_paren_in_a_literal(engine):
    engine.sql("CREATE TABLE c (k BIGINT PRIMARY KEY, s STRING) WITH (ENFORCE)")
    engine.sql("ALTER TABLE c ADD CHECK (s <> 'a,b)')")
    assert engine._entry("c", "main")["checks"] == ["s <> 'a,b)'"]
    engine.sql("INSERT INTO c VALUES (1, 'a,b')")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("INSERT INTO c VALUES (2, 'a,b)')")


def test_alter_add_check_then_drop_check_round_trips(engine):
    engine.sql("CREATE TABLE c (v BIGINT, s STRING)")
    text = "  v>0 AND  s <> ')'  "
    engine.sql(f"ALTER TABLE c ADD CHECK ({text})")
    assert engine._entry("c", "main")["checks"] == [text.strip()]
    engine.sql(f"ALTER TABLE c DROP CHECK ({text})")
    assert engine._entry("c", "main")["checks"] == []


def test_alter_add_foreign_key_without_column_list(engine):
    engine.sql("CREATE TABLE p (k BIGINT PRIMARY KEY)")
    engine.sql("CREATE TABLE c (id BIGINT, pk BIGINT)")
    engine.sql("ALTER TABLE c ADD FOREIGN KEY (pk) REFERENCES p")
    assert engine._entry("c", "main")["foreign_keys"] == [
        {"columns": ["pk"], "ref_table": "p", "ref_columns": ["k"]}
    ]


def test_alter_add_reads_a_wide_unique_list_whole(engine):
    cols = [f"c{i}" for i in range(26)]
    engine.sql(f"CREATE TABLE w ({', '.join(c + ' INT' for c in cols)})")
    engine.sql(f"ALTER TABLE w ADD UNIQUE ({', '.join(cols)})")
    assert engine._entry("w", "main")["unique"] == [cols]


def test_create_refuses_a_constraint_characteristic(engine):
    # the engine enforces per table: a NOT ENFORCED UNIQUE of an enforced
    # table would be enforced all the same
    with pytest.raises(ValueError, match="constraint characteristic"):
        engine.sql(
            "CREATE TABLE t (k BIGINT, v BIGINT, UNIQUE (v) NOT ENFORCED, "
            "PRIMARY KEY (k)) WITH (ENFORCE)"
        )
    assert "t" not in engine.tables()


def test_alter_add_refuses_a_constraint_characteristic(engine):
    engine.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v BIGINT) WITH (ENFORCE)")
    for stmt in (
        "ALTER TABLE t ADD UNIQUE (v) NOT ENFORCED",
        "ALTER TABLE t ADD CHECK (v > 0) ENFORCED",
        "ALTER TABLE t ADD CONSTRAINT t_u UNIQUE (v) RELY",
    ):
        with pytest.raises(ValueError, match="constraint characteristic"):
            engine.sql(stmt)
    entry = engine._entry("t", "main")
    assert (entry["unique"], entry["checks"]) == ([], [])
