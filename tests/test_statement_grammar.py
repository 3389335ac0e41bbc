"""Statements read through Spark's parser keep the engine's meaning: name
lists of any length, the dialect's quoting in INSERT queries and CTAS,
VALUES rows as written, and MERGE's keys and actions."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.errors import AnalysisException

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


# names the statement cursor reads (DROP UNIQUE / FOREIGN KEY, ZORDER BY)
# may be backquoted, as the names Spark's parse reads may
def test_add_and_drop_unique_with_backquoted_names(engine):
    engine.sql("CREATE TABLE c (a BIGINT, b BIGINT, UNIQUE (`a`))")
    engine.sql("ALTER TABLE c ADD UNIQUE (`a`, `b`)")
    engine.sql("ALTER TABLE c DROP UNIQUE (`a`)")
    assert engine._entry("c", "main")["unique"] == [["a", "b"]]
    engine.sql("ALTER TABLE c DROP UNIQUE (`b`, a)")
    assert engine._entry("c", "main")["unique"] == []


def test_add_and_drop_foreign_key_with_backquoted_names(engine):
    engine.sql("CREATE TABLE p (k BIGINT PRIMARY KEY)")
    engine.sql("CREATE TABLE c (id BIGINT, pk BIGINT)")
    engine.sql("ALTER TABLE c ADD FOREIGN KEY (`pk`) REFERENCES p (`k`)")
    assert engine._entry("c", "main")["foreign_keys"] == [
        {"columns": ["pk"], "ref_table": "p", "ref_columns": ["k"]}
    ]
    engine.sql("ALTER TABLE c DROP FOREIGN KEY (`pk`)")
    assert engine._entry("c", "main")["foreign_keys"] == []


def test_optimize_zorder_by_backquoted_names(engine):
    engine.sql("CREATE TABLE c (a BIGINT, b BIGINT)")
    for i in range(3):
        engine.sql(f"INSERT INTO c VALUES ({i}, {10 - i})")
    engine.sql("OPTIMIZE c ZORDER BY (`a`, b)")
    assert engine.dataset("c").manifest.operation == "rewrite"
    assert sorted(tuple(r) for r in engine.sql("SELECT a, b FROM c").collect()) == [
        (0, 10), (1, 9), (2, 8),
    ]


# MERGE is read from Spark's parse; DO NOTHING clauses are cut out first
def _merge_tables(engine):
    engine.sql("CREATE TABLE m (k BIGINT, j BIGINT, v STRING, c STRING)")
    engine.sql("INSERT INTO m VALUES (1, 1, 'a', 'c1'), (1, 2, 'b', 'c2'), (2, 1, 'x', 'c3')")


def _rows(engine):
    return sorted(tuple(r) for r in engine.sql("SELECT k, j, v, c FROM m").collect())


def test_merge_reads_backquoted_names_in_on_and_set(engine):
    _merge_tables(engine)
    engine.sql(
        "MERGE INTO m USING (SELECT 2 AS `k`, 1 AS j, 'X' AS v, 'cX' AS c) s "
        "ON `m`.`k` = s.`k` WHEN MATCHED THEN UPDATE SET `v` = s.`v`"
    )
    assert _rows(engine) == [(1, 1, "a", "c1"), (1, 2, "b", "c2"), (2, 1, "X", "c3")]


def test_merge_with_a_target_alias(engine):
    _merge_tables(engine)
    engine.sql(
        "MERGE INTO m AS t USING (SELECT 2 AS k) s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE"
    )
    assert _rows(engine) == [(1, 1, "a", "c1"), (1, 2, "b", "c2")]


def test_merge_on_two_keys(engine):
    _merge_tables(engine)
    engine.sql(
        "MERGE INTO m t USING (SELECT 1 AS k, 2 AS j, 'B' AS v, 'cB' AS c "
        "UNION ALL SELECT 3, 1, 'n', 'cn') s ON t.k = s.k AND t.j = s.j "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(engine) == [
        (1, 1, "a", "c1"), (1, 2, "B", "cB"), (2, 1, "x", "c3"), (3, 1, "n", "cn"),
    ]


def test_merge_keeps_do_nothing_text_inside_a_source_literal(engine):
    _merge_tables(engine)
    text = "WHEN MATCHED THEN DO NOTHING"
    engine.sql(
        f"MERGE INTO m USING (SELECT 2 AS k, 1 AS j, '{text}' AS v, 'c' AS c) s "
        "ON k AND j WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN DO NOTHING"
    )
    assert _rows(engine)[-1] == (2, 1, text, "c")


def test_merge_that_does_nothing_still_reads_its_source(engine):
    _merge_tables(engine)
    with pytest.raises(AnalysisException, match="nosuch"):
        engine.sql(
            "MERGE INTO m USING nosuch ON k "
            "WHEN MATCHED THEN DO NOTHING WHEN NOT MATCHED THEN DO NOTHING"
        )


@pytest.mark.parametrize("stmt", [
    # an action condition
    "MERGE INTO m USING s ON k WHEN MATCHED AND s.v > 'a' THEN DELETE",
    "MERGE INTO m USING s ON k WHEN NOT MATCHED BY SOURCE THEN DELETE",
    "MERGE INTO m USING s ON k WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
    "MERGE INTO m USING s ON k WHEN MATCHED THEN DELETE "
    "WHEN MATCHED THEN DO NOTHING",
    "MERGE INTO m USING s ON k, j WHEN MATCHED THEN DELETE",
    "MERGE INTO m USING s ON k WHEN MATCHED THEN UPDATE SET v",
    "MERGE INTO m USING s ON k WHEN MATCHED THEN UPDATE SET v = s.c",
    "MERGE WITH SCHEMA EVOLUTION INTO m USING s ON k "
    "WHEN NOT MATCHED THEN INSERT *",
])
def test_merge_refuses_forms_outside_its_matrix(engine, stmt):
    _merge_tables(engine)
    engine.sql("CREATE TABLE s (k BIGINT, j BIGINT, v STRING, c STRING)")
    engine.sql("INSERT INTO s VALUES (1, 1, 'z', 'cz'), (5, 5, 'y', 'cy')")
    version = engine.dataset("m").version
    with pytest.raises(ValueError):
        engine.sql(stmt)
    assert engine.dataset("m").version == version


@pytest.mark.parametrize("stmt", [
    # refused by Spark's AST builder: PySpark logs these with their context
    "MERGE INTO m USING s ON k",
    "MERGE INTO m USING s ON k, j WHEN MATCHED THEN DELETE",
])
def test_refused_statement_logs_no_stack_trace(engine, capfd, stmt):
    # PySpark logs the ParseException behind a refusal as an ERROR record
    # carrying the JVM stack trace; the caller's ValueError is the answer
    _merge_tables(engine)
    engine.sql("CREATE TABLE s (k BIGINT, j BIGINT, v STRING, c STRING)")
    capfd.readouterr()
    with pytest.raises(ValueError):
        engine.sql(stmt)
    err = capfd.readouterr().err
    assert "SQLQueryContextLogger" not in err and "JVM stacktrace" not in err, err[:2000]
