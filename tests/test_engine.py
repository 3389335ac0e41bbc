"""Engine API: DDL, INSERT, COPY FROM, SQL entry, EXPLAIN."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from plan_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture()
def engine(spark):
    d = tempfile.mkdtemp(prefix="plan_spark_wh_")
    yield Engine(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_ddl_insert_sql(engine):
    engine.create_table("t", "a INT, b STRING, c DOUBLE", primary_key=["a"])
    engine.insert_values("t", [(1, "x", 1.5), (2, "y", 2.5), (3, "x", 3.5)])
    out = engine.sql("SELECT b, SUM(c) AS s FROM t GROUP BY b ORDER BY b").collect()
    assert [(r.b, r.s) for r in out] == [("x", 5.0), ("y", 2.5)]
    assert engine.tables() == ["t"]


def test_copy_from_parquet(engine):
    engine.create_table(
        "nat", "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    engine.copy_from("nat", f"{SF_DIR}/nation.parquet", fmt="parquet")
    assert engine.sql("SELECT COUNT(*) AS n FROM nat").collect()[0].n == 25


def test_copy_from_csv(engine, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\n1,foo\n2,bar\n")
    engine.create_table("c", "a INT, b STRING")
    engine.copy_from("c", str(csv), fmt="csv")
    rows = engine.sql("SELECT * FROM c ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows] == [(1, "foo"), (2, "bar")]


def test_insert_appends_versions(engine):
    engine.create_table("v", "a INT")
    engine.insert_values("v", [(1,)])
    engine.insert_values("v", [(2,)])
    ds = engine.dataset("v")
    assert ds.version == 3  # create + 2 appends
    assert engine.sql("SELECT COUNT(*) AS n FROM v").collect()[0].n == 2


def test_explain_shows_pushdown(engine):
    engine.create_table("e", "a INT, b DOUBLE")
    engine.insert_values("e", [(i, float(i)) for i in range(100)])
    plan = engine.explain("SELECT a FROM e WHERE a > 50")
    assert "PushedFilters" in plan and "GreaterThan(a,50)" in plan


def test_drop_table(engine):
    engine.create_table("d", "a INT")
    engine.drop_table("d")
    assert engine.tables() == []
    with pytest.raises(KeyError):
        engine.dataset("d")


def test_sql_statement_routing(engine):
    """The reference's full server-loop surface through one sql() door:
    DDL + INSERT VALUES + DELETE/UPDATE + query (cmd/main/main.go:73-98)."""
    engine.sql("CREATE SCHEMA analytics")
    assert "analytics" in engine.schemas()
    engine.sql("CREATE TABLE st (a INT PRIMARY KEY, b STRING, c DOUBLE)")
    assert "st" in engine.tables()
    engine.sql("INSERT INTO st VALUES (1, 'x', 1.5), (2, 'y', 2.5), (3, 'x', 99.0)")
    got = engine.sql("SELECT COUNT(*) AS n FROM st").collect()[0].n
    assert got == 3
    engine.sql("DELETE FROM st WHERE a = 3")
    engine.sql("UPDATE st SET c = c * 10 WHERE b = 'x'")
    rows = {r.a: r.c for r in engine.sql("SELECT a, c FROM st ORDER BY a").collect()}
    assert rows == {1: 15.0, 2: 2.5}
    engine.sql("DROP TABLE st")
    assert "st" not in engine.tables()


def test_sql_copy_from(engine, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("a;b\n1;foo\n2;bar\n")
    engine.sql("CREATE TABLE cp (a INT, b STRING)")
    engine.sql(f"COPY cp FROM '{csv}' WITH (FORMAT 'csv', DELIMITER ';')")
    assert engine.sql("SELECT COUNT(*) AS n FROM cp").collect()[0].n == 2


def test_sql_rejects_multi_statement(engine):
    engine.create_table("ms", "a INT")
    with pytest.raises(ValueError, match="multi-statement"):
        engine.sql("INSERT INTO ms VALUES (1); DROP TABLE ms")
    # semicolons inside string literals are NOT statement separators
    engine.create_table("msl", "a INT, b STRING")
    engine.sql("INSERT INTO msl VALUES (1, 'x;y')")
    assert engine.sql("SELECT b FROM msl").collect()[0].b == "x;y"


def test_sql_rejects_unknown_and_malformed_statements(engine):
    with pytest.raises(ValueError, match="unsupported statement"):
        engine.sql("GRANT ALL ON t TO alice")
    engine.create_table("mf", "a INT")
    # owned keyword, unsupported grammar -> hard error, never mis-routed
    # (WHERE-less DELETE is now the legal unconditional form, so the
    # malformed case is a DELETE missing its FROM)
    with pytest.raises(ValueError, match="expected FROM"):
        engine.sql("DELETE mf WHERE a = 1")
    # the statement cursor points at exactly what it couldn't parse
    with pytest.raises(ValueError, match="expected USING"):
        engine.sql("CREATE INDEX ix ON mf(a)")
    with pytest.raises(ValueError, match="empty"):
        engine.sql("  ;  ")


def test_sql_insert_select(engine):
    engine.create_table("src", "a INT, b DOUBLE")
    engine.insert_values("src", [(i, float(i)) for i in range(10)])
    engine.create_table("dst", "a INT, b DOUBLE")
    engine.sql("INSERT INTO dst SELECT a, b * 2 AS b FROM src WHERE a >= 5")
    rows = engine.sql("SELECT a, b FROM dst ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows] == [(i, float(i) * 2) for i in range(5, 10)]


def test_schema_qualified_views_do_not_clobber(engine):
    """Two same-named tables in different schemas: bare name = main's table,
    qualified names reach both (iteration order must not decide which
    table a query reads)."""
    engine.create_schema("other")
    engine.create_table("t2", "a INT")
    engine.insert_values("t2", [(1,)])
    engine.create_table("t2", "a INT", schema="other")
    eng_ds = engine.dataset("t2", schema="other")
    eng_ds.append(engine.spark.createDataFrame([(10,), (20,)], "a INT"))
    assert engine.sql("SELECT COUNT(*) AS n FROM t2").collect()[0].n == 1
    assert engine.sql("SELECT COUNT(*) AS n FROM main_t2").collect()[0].n == 1
    assert engine.sql("SELECT COUNT(*) AS n FROM other_t2").collect()[0].n == 2


def test_analyze_stats_in_catalog(engine):
    engine.create_table("an", "a INT, b STRING")
    engine.insert_values("an", [(i % 10, f"s{i % 3}") for i in range(100)])
    stats = engine.analyze("an")
    assert stats["row_count"] == 100
    assert stats["columns"]["a"]["ndv"] == 10
    assert stats["columns"]["b"]["ndv"] == 3
    assert stats["size_bytes"] > 0
    # persisted in the catalog json
    reloaded = Engine(engine.spark, engine.warehouse)
    assert reloaded._entry("an", "main")["stats"]["row_count"] == 100
    # SQL route
    engine.sql("ANALYZE TABLE an")


def test_analyze_cache_gives_catalyst_rowcount(engine):
    """cache=True runs Catalyst's own ANALYZE on the cached view: the
    optimized plan of a query over it reports a true rowCount — the stats
    CostBasedJoinReorder consumes."""
    engine.create_table("cb", "a INT, b DOUBLE")
    engine.insert_values("cb", [(i, float(i)) for i in range(77)])
    engine.analyze("cb", cache=True)
    df = engine.sql("SELECT a, b FROM cb")
    stats = df._jdf.queryExecution().optimizedPlan().stats().toString()
    assert "rowCount=77" in stats, stats
    engine.spark.catalog.uncacheTable("cb")


def test_stats_driven_join_planning(engine):
    """ANALYZE drives the join strategy for ad-hoc SQL with no per-query
    hints (reference optimizer_joinorder.go:30,469): dims above the blind
    autoBroadcastJoinThreshold plan as shuffle joins until stats prove them
    dim-sized, then both broadcast and the fact streams through two BHJs —
    the only sane order for a star join at any scale."""
    from pyspark.sql import functions as F

    spark = engine.spark
    pay = lambda: F.concat(  # noqa: E731 — incompressible payload, keeps
        F.sha2(F.col("id").cast("string"), 256),  # parquet > 1MB threshold
        F.sha2(F.concat(F.lit("x"), F.col("id").cast("string")), 256),
    )
    engine.create_table("fact_s", "k1 BIGINT, k2 BIGINT, pay STRING")
    engine.insert_df(
        "fact_s",
        spark.range(120_000).select(
            (F.col("id") % 30_000).alias("k1"),
            (F.col("id") % 20_000).alias("k2"),
            pay().alias("pay"),
        ),
    )
    engine.create_table("dim_a", "k1 BIGINT, attr1 STRING")
    engine.insert_df(
        "dim_a", spark.range(30_000).select(F.col("id").alias("k1"), pay().alias("attr1"))
    )
    engine.create_table("dim_b", "k2 BIGINT, attr2 STRING")
    engine.insert_df(
        "dim_b", spark.range(20_000).select(F.col("id").alias("k2"), pay().alias("attr2"))
    )
    q = (
        "SELECT dim_a.attr1, COUNT(*) AS n FROM fact_s "
        "JOIN dim_a ON fact_s.k1 = dim_a.k1 "
        "JOIN dim_b ON fact_s.k2 = dim_b.k2 GROUP BY dim_a.attr1"
    )
    before = engine.explain(q)
    assert "BroadcastHashJoin" not in before, before[:3000]
    engine.analyze("dim_a")
    engine.analyze("dim_b")
    after = engine.explain(q)
    # formatted explain repeats operators in the detail section; >= 2 plus
    # the no-shuffle-join assertion below pins the star shape exactly
    assert after.count("BroadcastHashJoin") >= 2, after[:3000]
    assert "SortMergeJoin" not in after and "ShuffledHashJoin" not in after


def test_sql_merge_upsert(engine):
    """MERGE INTO through the SQL front door -> Dataset.merge_insert."""
    engine.create_table("mt", "k INT, v STRING")
    engine.insert_values("mt", [(1, "a"), (2, "b")])
    engine.create_table("msrc", "k INT, v STRING")
    engine.insert_values("msrc", [(2, "B"), (3, "c")])
    engine.sql(
        "MERGE INTO mt USING msrc ON mt.k = msrc.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.k: r.v for r in engine.sql("SELECT k, v FROM mt").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}

    # subquery source + delete-on-match
    engine.sql(
        "MERGE INTO mt USING (SELECT 1 AS k, 'zz' AS v) ON k "
        "WHEN MATCHED THEN DELETE"
    )
    rows = {r.k: r.v for r in engine.sql("SELECT k, v FROM mt").collect()}
    assert rows == {2: "B", 3: "c"}

    with pytest.raises(ValueError, match="at least one WHEN"):
        engine.sql("MERGE INTO mt USING msrc ON mt.k = msrc.k")  # no WHEN
    with pytest.raises(ValueError, match="same-named equality"):
        engine.sql(
            "MERGE INTO mt USING msrc ON mt.k < msrc.k "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_ctas(engine):
    engine.create_table("src", "a INT, b STRING")
    engine.insert_values("src", [(1, "x"), (2, "y"), (3, "x")])
    engine.sql("CREATE TABLE agg AS SELECT b, COUNT(*) AS n FROM src GROUP BY b")
    rows = {r.b: r.n for r in engine.sql("SELECT b, n FROM agg").collect()}
    assert rows == {"x": 2, "y": 1}
    # derived schema round-trips through the catalog: further inserts work
    engine.insert_values("agg", [("z", 9)])
    assert engine.sql("SELECT COUNT(*) AS c FROM agg").collect()[0].c == 3
    # CTAS from a CTE and from another CTAS table
    engine.sql(
        "CREATE TABLE agg2 AS WITH t AS (SELECT n FROM agg) "
        "SELECT SUM(n) AS total FROM t"
    )
    assert engine.sql("SELECT total FROM agg2").collect()[0].total == 12
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE agg AS SELECT 1 AS one")


def test_alter_table_sql(engine):
    engine.create_table("t", "a INT, b STRING")
    engine.insert_values("t", [(1, "x"), (2, "y")])
    engine.sql("ALTER TABLE t RENAME COLUMN a TO id")
    assert {r.id for r in engine.sql("SELECT id FROM t").collect()} == {1, 2}
    engine.sql("ALTER TABLE t ALTER COLUMN id TYPE bigint")
    engine.insert_values("t", [(2**40, "big")])
    assert engine.sql("SELECT MAX(id) AS m FROM t").collect()[0].m == 2**40
    engine.sql("ALTER TABLE t ADD COLUMN score double DEFAULT 0.5")
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM t WHERE score = 0.5"
    ).collect()[0].n == 3
    engine.sql("ALTER TABLE t DROP COLUMN b")
    assert "b" not in engine.sql("SELECT * FROM t").columns
    with pytest.raises(ValueError, match="not a widening"):
        engine.sql("ALTER TABLE t ALTER COLUMN id TYPE int")
    with pytest.raises(ValueError, match="unsupported ALTER"):
        engine.sql("ALTER TABLE t RENAME TO t2")


def test_engine_confs_do_not_leak(spark, engine):
    """The Engine's CBO confs live on its own session, not the caller's."""
    assert engine.spark is not spark
    assert engine.spark.conf.get("spark.sql.cbo.enabled") == "true"
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"


def test_show_and_describe(engine):
    engine.create_table("t1", "a INT, b STRING")
    engine.create_schema("aux")
    rows = engine.sql("SHOW TABLES").collect()
    assert [(r.schema_name, r.table_name) for r in rows] == [("main", "t1")]
    assert "aux" in [r.schema_name for r in engine.sql("SHOW SCHEMAS").collect()]
    d = {r.col_name: r.data_type for r in engine.sql("DESCRIBE t1").collect()}
    assert d == {"a": "int", "b": "string"}
    engine.sql("ALTER TABLE t1 RENAME COLUMN a TO id")
    d = {r.col_name: r.data_type for r in engine.sql("DESC TABLE t1").collect()}
    assert d == {"id": "int", "b": "string"}
    with pytest.raises(ValueError, match="unsupported meta"):
        engine.sql("SHOW GRANTS")


def test_create_index_sql(engine):
    eng = engine
    eng.sql("CREATE TABLE idxt (a INT, b STRING)")
    eng.sql("INSERT INTO idxt VALUES (1, 'x'), (2, 'y'), (3, 'x')")
    eng.sql("CREATE INDEX b_bitmap ON idxt USING BITMAP (b)")
    ds = eng.dataset("idxt")
    assert "b_bitmap" in ds.manifest.indexes
    assert ds.manifest.indexes["b_bitmap"]["kind"] == "bitmap"
    assert "b" in ds.manifest.bitmap_columns
    eng.sql("DROP INDEX b_bitmap ON idxt")
    assert "b_bitmap" not in eng.dataset("idxt").manifest.indexes


def test_optimize_and_vacuum_sql(engine, spark):
    eng = engine
    eng.sql("CREATE TABLE maint (a INT, b DOUBLE)")
    for i in range(4):
        eng.sql(f"INSERT INTO maint VALUES ({i}, {i}.5), ({i+10}, {i}.25)")
    ds = eng.dataset("maint")
    n_before = len(ds.manifest.fragments)
    assert n_before >= 4
    eng.sql("OPTIMIZE maint ZORDER BY (a, b)")
    ds = eng.dataset("maint")
    assert ds.manifest.operation == "rewrite"
    assert eng.sql("SELECT COUNT(*) AS n FROM maint").first()["n"] == 8
    import os

    before_files = sum(len(fs) for _, _, fs in os.walk(ds.path))
    # GRACE 0: single-writer maintenance window — reclaim immediately
    # (default grace protects concurrent writers; see Dataset.vacuum)
    eng.sql("VACUUM maint RETAIN 1 VERSIONS GRACE 0 SECONDS")
    after_files = sum(len(fs) for _, _, fs in os.walk(ds.path))
    assert after_files < before_files  # pre-rewrite fragments reclaimed
    assert eng.sql("SELECT COUNT(*) AS n FROM maint").first()["n"] == 8


def test_time_travel_sql(engine):
    eng = engine
    eng.sql("CREATE TABLE tt (a INT, b STRING)")
    eng.sql("INSERT INTO tt VALUES (1, 'x'), (2, 'y')")   # v1
    v1 = eng.dataset("tt").version
    eng.sql("DELETE FROM tt WHERE a = 1")                 # v2
    assert eng.sql("SELECT COUNT(*) AS n FROM tt").first()["n"] == 1
    old = eng.sql(f"SELECT COUNT(*) AS n FROM tt VERSION AS OF {v1}").first()["n"]
    assert old == 2
    # joins across versions work too (current x historical)
    both = eng.sql(
        f"SELECT cur.a FROM tt cur JOIN tt VERSION AS OF {v1} old ON cur.a = old.a"
    ).collect()
    assert [r["a"] for r in both] == [2]
    # a VERSION AS OF inside a string literal is untouched
    lit = eng.sql("SELECT 'tt VERSION AS OF 1' AS s").first()["s"]
    assert lit == "tt VERSION AS OF 1"


def test_time_travel_alias_and_quoted_identifiers(engine):
    """The rewrite anchors on FROM/JOIN (an alias before VERSION AS OF must
    not be mistaken for the table) and leaves quoted strings/identifiers
    untouched."""
    eng = engine
    eng.sql("CREATE TABLE ta (a INT)")
    eng.sql("INSERT INTO ta VALUES (1), (2)")  # v1
    v1 = eng.dataset("ta").version
    eng.sql("DELETE FROM ta WHERE a = 1")      # v2
    # aliased historical relation: 'x' is an alias, 'ta' is the dataset
    got = eng.sql(
        f"SELECT x.a FROM ta AS x VERSION AS OF {v1} ORDER BY x.a"
    ).collect()
    assert [r.a for r in got] == [1, 2]
    # bare alias without AS
    got = eng.sql(
        f"SELECT x.a FROM ta x VERSION AS OF {v1} ORDER BY x.a"
    ).collect()
    assert [r.a for r in got] == [1, 2]
    # double-quoted segments are protected from the rewrite AND read as
    # IDENTIFIERS (the front door's pg dialect, r10: _rewrite_quoted_idents
    # turns them into backticks — the TPC-DS spec texts' `as "order count"`
    # form). The magic words inside must neither trigger time travel nor
    # be parsed as SQL:
    df = eng.sql('SELECT 1 AS "ta VERSION AS OF 1"')
    assert df.columns == ["ta VERSION AS OF 1"]
    assert df.first()[0] == 1
    # single-quoted STRING literals keep their content verbatim
    lit = eng.sql("SELECT 'ta VERSION AS OF 1' AS s").first()
    assert lit["s"] == "ta VERSION AS OF 1"


def test_merge_sql_nested_subquery_source(engine):
    """The USING source is extracted by a balanced-paren scan: nested
    subqueries and ')' inside string literals must survive intact."""
    eng = engine
    eng.sql("CREATE TABLE mt (k INT, v STRING)")
    eng.sql("INSERT INTO mt VALUES (1, 'a'), (2, 'b')")
    eng.sql(
        "MERGE INTO mt USING ("
        "SELECT k, v FROM (SELECT k + 1 AS k, concat(v, ')') AS v"
        "                  FROM (VALUES (1, 'x'), (2, 'y') AS t(k, v))) inner_q"
        ") src ON k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {(r.k, r.v) for r in eng.sql("SELECT k, v FROM mt").collect()}
    assert got == {(1, "a"), (2, "x)"), (3, "y)")}


def test_show_indexes_sql(engine):
    eng = engine
    eng.sql("CREATE TABLE si (a INT, b STRING)")
    eng.sql("INSERT INTO si VALUES (1, 'hello world'), (2, 'spark engine')")
    eng.sql("CREATE INDEX ib ON si USING bitmap (a)")
    eng.sql("CREATE INDEX ifx ON si USING fts (b)")
    rows = {r.index_name: r for r in eng.sql("SHOW INDEXES ON si").collect()}
    assert set(rows) == {"ib", "ifx"}
    assert rows["ib"].kind == "bitmap" and rows["ib"].column == "a"
    assert rows["ifx"].kind == "fts" and rows["ifx"].fresh is True
    eng.sql("INSERT INTO si VALUES (3, 'stale now')")  # data commit stales both
    rows = {r.index_name: r for r in eng.sql("SHOW INDEXES ON si").collect()}
    assert rows["ifx"].fresh is False
    eng.sql("DROP INDEX ib ON si")
    assert {r.index_name for r in eng.sql("SHOW INDEXES ON si").collect()} == {"ifx"}


def test_time_travel_by_tag_sql(engine):
    """``VERSION AS OF 'ref'`` resolves tags/branches through
    Dataset.checkout (reference refs.go) — the quoted ref straddles the
    literal-protecting split, so the rewrite joins the two parts."""
    eng = engine
    eng.sql("CREATE TABLE tg (a INT)")
    eng.sql("INSERT INTO tg VALUES (1), (2)")     # v1
    eng.dataset("tg").tag("launch")
    eng.sql("INSERT INTO tg VALUES (3)")          # v2
    assert eng.sql("SELECT COUNT(*) AS n FROM tg").first()["n"] == 3
    old = eng.sql("SELECT COUNT(*) AS n FROM tg VERSION AS OF 'launch'").first()["n"]
    assert old == 2
    # aliased + ORDER BY tail after the quoted ref
    got = eng.sql(
        "SELECT x.a FROM tg AS x VERSION AS OF 'launch' ORDER BY x.a"
    ).collect()
    assert [r.a for r in got] == [1, 2]
    # an ordinary string literal elsewhere is untouched
    lit = eng.sql("SELECT 'tg VERSION AS OF ''launch''' AS s").first()["s"]
    assert lit == "tg VERSION AS OF 'launch'"
    # no-alias form stays addressable by the ORIGINAL table name
    got = eng.sql(
        "SELECT tg.a FROM tg VERSION AS OF 'launch' ORDER BY tg.a"
    ).collect()
    assert [r.a for r in got] == [1, 2]
    # two sanitization-colliding tags at DIFFERENT versions must not share
    # a view: both refs in one query read their own snapshots
    eng.dataset("tg").tag("launch.2")   # v2 (3 rows)
    eng.sql("INSERT INTO tg VALUES (4)")
    eng.dataset("tg").tag("launch-2")   # v3 (4 rows)
    row = eng.sql(
        "SELECT (SELECT COUNT(*) FROM tg VERSION AS OF 'launch.2') AS a,"
        "       (SELECT COUNT(*) FROM tg VERSION AS OF 'launch-2') AS b"
    ).first()
    assert (row.a, row.b) == (3, 4)
    # unknown refs raise a meaningful error, not a KeyError
    with pytest.raises(ValueError, match="no tag or branch"):
        eng.sql("SELECT COUNT(*) FROM tg VERSION AS OF 'nope'")


def test_describe_history_and_show_tags(engine):
    """DESCRIBE HISTORY = the version log (one metadata-only manifest load
    per retained version) with tags resolved; SHOW TAGS lists refs."""
    eng = engine
    eng.sql("CREATE TABLE vh (a INT)")
    eng.sql("INSERT INTO vh VALUES (1), (2)")
    eng.dataset("vh").tag("first")
    eng.sql("DELETE FROM vh WHERE a = 1")
    hist = {r.version: r for r in eng.sql("DESCRIBE HISTORY vh").collect()}
    ops = [hist[v].operation for v in sorted(hist)]
    assert ops[0] == "create"
    assert "append" in ops and "delete" in ops
    tagged = [r for r in hist.values() if r.tags == "first"]
    assert len(tagged) == 1 and tagged[0].n_rows_physical == 2
    # the delete version either rewrote fragments (physical rows drop) or
    # carries deletion-vector sidecars (physical rows stay, sidecars > 0)
    del_rows = [r for r in hist.values() if r.operation == "delete"]
    assert del_rows and (
        del_rows[0].n_rows_physical == 1 or del_rows[0].n_deletion_files >= 1
    )
    tags = eng.sql("SHOW TAGS ON vh").collect()
    assert [(r.tag, r.version, r.kind) for r in tags] == [
        ("first", tagged[0].version, "tag")
    ]


def test_restore_and_tag_sql(engine):
    """RESTORE rolls the current state back to a version or tag as a NEW
    commit; CREATE/DROP TAG manage named refs through the SQL front door."""
    eng = engine
    eng.sql("CREATE TABLE rs (a INT)")
    eng.sql("INSERT INTO rs VALUES (1), (2)")
    eng.sql("CREATE TAG good ON rs")
    eng.sql("DELETE FROM rs WHERE a = 1")
    assert eng.sql("SELECT COUNT(*) AS n FROM rs").first()["n"] == 1
    eng.sql("RESTORE TABLE rs TO VERSION AS OF 'good'")
    assert eng.sql("SELECT COUNT(*) AS n FROM rs").first()["n"] == 2
    # restore is itself versioned: history grew, the delete is still there
    ops = [r.operation for r in eng.sql("DESCRIBE HISTORY rs").collect()]
    assert "delete" in ops and len(ops) >= 4
    # numeric form + tag management
    v_after_delete = [
        r.version for r in eng.sql("DESCRIBE HISTORY rs").collect()
        if r.operation == "delete"
    ][0]
    eng.sql(f"RESTORE rs VERSION AS OF {v_after_delete}")
    assert eng.sql("SELECT COUNT(*) AS n FROM rs").first()["n"] == 1
    eng.sql("DROP TAG good ON rs")
    assert eng.sql("SHOW TAGS ON rs").count() == 0


def test_create_tag_rejects_missing_version(engine):
    eng = engine
    eng.sql("CREATE TABLE tv (a INT)")
    eng.sql("INSERT INTO tv VALUES (1)")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("CREATE TAG bad ON tv AS OF VERSION 999")


def test_describe_detail(engine):
    """DESCRIBE DETAIL: one-row metadata-only summary (live row count
    subtracts deletion sidecars without a data scan)."""
    eng = engine
    eng.sql("CREATE TABLE dd (pid BIGINT, a INT)")
    eng.sql("INSERT INTO dd VALUES (10, 1), (20, 2), (30, 3)")
    eng.dataset("dd").tag("snap")
    eng.sql("DELETE FROM dd WHERE a = 1")
    eng.sql("CREATE INDEX bt ON dd USING btree (a)")
    row = eng.sql("DESCRIBE DETAIL dd").first()
    assert row.table_name == "dd" and row.n_rows == 2
    assert row.indexes == "bt" and row.tags == "snap"
    assert row.size_bytes > 0 and row.n_fragments >= 1


def test_snapshot_views_cannot_clobber_real_tables(engine):
    """Snapshot views live in the reserved __tt__ namespace: a catalog table
    legally named t__v1 keeps serving its own rows after a time-travel read
    of t version 1 (the old {tbl}__v{N} naming silently replaced the real
    table's view)."""
    engine.create_table("t", "a INT")
    engine.insert_values("t", [(1,)])
    v1 = engine.dataset("t").version
    engine.insert_values("t", [(2,)])
    engine.create_table("t__v" + str(v1), "a INT")
    engine.insert_values("t__v" + str(v1), [(99,)])
    # time-travel read materializes its snapshot view...
    assert engine.sql(f"SELECT COUNT(*) AS n FROM t VERSION AS OF {v1}").first().n == 1
    # ...and the real table still answers for its own name
    got = [r.a for r in engine.sql(f"SELECT a FROM t__v{v1}").collect()]
    assert got == [99]
    with pytest.raises(ValueError, match="reserved"):
        engine.create_table("__tt__x", "a INT")


def test_time_travel_in_embedded_queries(engine):
    """VERSION AS OF inside statement-embedded queries (CTAS, INSERT SELECT,
    MERGE USING subquery) takes the same rewrite as top-level queries."""
    engine.create_table("src", "k INT, v STRING")
    engine.insert_values("src", [(1, "a"), (2, "b")])
    v1 = engine.dataset("src").version
    engine.sql("UPDATE src SET v = 'z' WHERE k = 1")
    # CTAS over a snapshot
    engine.sql(f"CREATE TABLE snap AS SELECT k, v FROM src VERSION AS OF {v1}")
    assert sorted(
        (r.k, r.v) for r in engine.sql("SELECT * FROM snap").collect()
    ) == [(1, "a"), (2, "b")]
    # INSERT ... SELECT over a snapshot
    engine.create_table("sink", "k INT, v STRING")
    engine.sql(f"INSERT INTO sink SELECT k, v FROM src VERSION AS OF {v1} WHERE k = 1")
    assert [(r.k, r.v) for r in engine.sql("SELECT * FROM sink").collect()] == [(1, "a")]
    # MERGE USING (subquery over a snapshot): restores v1 values on match
    engine.sql(
        f"MERGE INTO src USING (SELECT k, v FROM src VERSION AS OF {v1}) ON k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert sorted(
        (r.k, r.v) for r in engine.sql("SELECT * FROM src").collect()
    ) == [(1, "a"), (2, "b")]


def test_sql_merge_update_columns(engine):
    """WHEN MATCHED THEN UPDATE SET c1 = s.c1[, ...] — the
    MatchedUpdateColumns SQL face (reference merge_insert.go:97): unnamed
    target columns survive."""
    engine.create_table("uc", "k INT, v STRING, created STRING")
    engine.insert_values("uc", [(1, "a", "t0"), (2, "b", "t0")])
    engine.create_table("ucs", "k INT, v STRING, created STRING")
    engine.insert_values("ucs", [(2, "B", "t9"), (3, "c", "t9")])
    engine.sql(
        "MERGE INTO uc USING ucs ON k "
        "WHEN MATCHED THEN UPDATE SET v = ucs.v WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.k: (r.v, r.created) for r in engine.sql("SELECT * FROM uc").collect()}
    # k=2: v updated, created PRESERVED; k=3 inserted whole
    assert rows == {1: ("a", "t0"), 2: ("B", "t0"), 3: ("c", "t9")}
    # the assignment form (same-named source column) is accepted too
    engine.sql(
        "MERGE INTO uc USING (SELECT 1 AS k, 'A' AS v, 'tX' AS created) ON k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    rows = {r.k: (r.v, r.created) for r in engine.sql("SELECT * FROM uc").collect()}
    assert rows[1] == ("A", "t0")
    with pytest.raises(ValueError, match="same-named src"):
        engine.sql(
            "MERGE INTO uc USING ucs ON k "
            "WHEN MATCHED THEN UPDATE SET v = s.created"
        )
    # a bare column list is not Spark grammar
    with pytest.raises(ValueError):
        engine.sql("MERGE INTO uc USING ucs ON k WHEN MATCHED THEN UPDATE SET v")


def test_create_drop_branch_sql(engine):
    """CREATE BRANCH / DROP BRANCH through the SQL front door; branch reads
    resolve via VERSION AS OF 'name' (refs.go:17-68 shared namespace)."""
    engine.create_table("bt", "a INT")
    engine.insert_values("bt", [(1,)])
    v1 = engine.dataset("bt").version
    engine.insert_values("bt", [(2,)])
    # branch pinned at an earlier version
    engine.sql(f"CREATE BRANCH hist ON bt AS OF VERSION {v1}")
    assert engine.sql("SELECT COUNT(*) AS n FROM bt VERSION AS OF 'hist'").first().n == 1
    # branch at the current version + auto-advance through the handle
    engine.sql("CREATE BRANCH dev ON bt")
    b = engine.dataset("bt").checkout("dev")
    assert b.to_df().count() == 2
    engine.sql("DROP BRANCH hist ON bt")
    with pytest.raises(ValueError, match="no tag or branch"):
        engine.dataset("bt").checkout("hist")
    assert "dev" in engine.dataset("bt").list_tags()


def test_sql_merge_do_nothing_faces(engine):
    """MatchedDoNothing / NotMatchedSkip (merge_insert.go:37,47): the
    explicit DO NOTHING forms parse and map to no-ops on their side."""
    engine.create_table("dn", "k INT, v STRING")
    engine.insert_values("dn", [(1, "a"), (2, "b")])
    engine.create_table("dns", "k INT, v STRING")
    engine.insert_values("dns", [(2, "B"), (3, "c")])
    # insert-only upsert: matched rows untouched
    engine.sql(
        "MERGE INTO dn USING dns ON k "
        "WHEN MATCHED THEN DO NOTHING WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.k: r.v for r in engine.sql("SELECT * FROM dn").collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}
    # update-only merge: unmatched source rows skipped
    engine.sql(
        "MERGE INTO dn USING (SELECT 1 AS k, 'A' AS v) ON k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN DO NOTHING"
    )
    rows = {r.k: r.v for r in engine.sql("SELECT * FROM dn").collect()}
    assert rows == {1: "A", 2: "b", 3: "c"}


def test_delete_update_without_where(engine):
    """WHERE-less DELETE/UPDATE operate on every row (unconditional DML)."""
    engine.create_table("nw", "a INT, b DOUBLE")
    engine.insert_values("nw", [(1, 1.0), (2, 2.0), (3, 3.0)])
    engine.sql("UPDATE nw SET b = b * 2")
    assert sorted(r.b for r in engine.sql("SELECT b FROM nw").collect()) == [
        2.0, 4.0, 6.0,
    ]
    engine.sql("DELETE FROM nw")
    assert engine.sql("SELECT COUNT(*) AS n FROM nw").first().n == 0
    # history preserved: the pre-delete version is still addressable
    versions = engine.dataset("nw").versions()
    assert len(versions) >= 3


def test_show_create_table(engine):
    engine.create_table("sct", "a INT, b STRING", primary_key=["a"])
    row = engine.sql("SHOW CREATE TABLE sct").first()
    assert row.table_name == "sct"
    assert "a INT" in row.create_stmt and "b STRING" in row.create_stmt
    assert "PRIMARY KEY (a)" in row.create_stmt


def test_to_df_columns_and_limit(engine, spark):
    """Scanner builder parity (sdk/scanner.go WithColumns/WithLimit): the
    projection reaches the parquet ReadSchema; limit caps rows."""
    engine.create_table("scan_t", "a INT, b STRING, c DOUBLE")
    engine.insert_values(
        "scan_t", [(i, f"s{i}", i * 1.5) for i in range(20)]
    )
    ds = engine.dataset("scan_t")
    out = ds.to_df(columns=["a", "c"], limit=5)
    assert out.columns == ["a", "c"] and out.count() == 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<a:int,c:double>" in plan
    with pytest.raises(ValueError, match="unknown columns"):
        ds.to_df(columns=["nope"])
    # composes with filters
    got = ds.to_df(filters="a >= 18", columns=["a"]).collect()
    assert sorted(r.a for r in got) == [18, 19]


def test_insert_with_column_list_and_defaults(engine):
    """INSERT INTO t (a, c): omitted columns take their declared DEFAULTs
    (the reference's defaults-resolution insert path, builder_dml.go:278)."""
    engine.create_table("dft", "a INT, b STRING, c DOUBLE")
    engine.dataset("dft").add_column("d", "string", default="'dd'")
    engine.sql("INSERT INTO dft (a, c) VALUES (1, 1.5), (2, 2.5)")
    rows = {
        r.a: (r.b, r.c, r.d)
        for r in engine.sql("SELECT * FROM dft ORDER BY a").collect()
    }
    assert rows == {1: (None, 1.5, "dd"), 2: (None, 2.5, "dd")}
    # column-listed INSERT ... SELECT
    engine.sql("INSERT INTO dft (c, a) SELECT 9.5 AS x, 9 AS y")
    got = engine.sql("SELECT a, b, c, d FROM dft WHERE a = 9").first()
    assert (got.a, got.b, got.c, got.d) == (9, None, 9.5, "dd")
    # name-matched SELECT without a list still binds by NAME, any order
    engine.sql("INSERT INTO dft SELECT 'bb' AS b, 3 AS a, 3.5 AS c, 'x' AS d")
    got = engine.sql("SELECT a, b, c, d FROM dft WHERE a = 3").first()
    assert (got.a, got.b, got.c, got.d) == (3, "bb", 3.5, "x")
    with pytest.raises(ValueError, match="not in table"):
        engine.sql("INSERT INTO dft (nope) VALUES (1)")
    with pytest.raises(ValueError, match="supplies 1 values"):
        engine.sql("INSERT INTO dft (a, c) VALUES (1)")


def test_show_create_table_roundtrips_defaults_and_schema(engine):
    """SHOW CREATE TABLE must emit DDL that reproduces the table: declared
    column DEFAULTs and the schema qualifier are part of that contract
    (the emitted create_stmt replays through engine.sql)."""
    engine.sql("CREATE TABLE rt (a INT PRIMARY KEY, d STRING DEFAULT 'dd')")
    stmt = engine.sql("SHOW CREATE TABLE rt").first().create_stmt
    assert "DEFAULT 'dd'" in stmt
    # replay the emitted DDL under a new name: defaults must carry over
    engine.sql(stmt.replace("CREATE TABLE rt", "CREATE TABLE rt2"))
    engine.sql("INSERT INTO rt2 (a) VALUES (1)")
    assert engine.sql("SELECT d FROM rt2").first().d == "dd"
    # non-main tables emit (and re-accept) the qualified name
    engine.sql("CREATE SCHEMA aux")
    engine.sql("CREATE TABLE aux.q (x INT)")
    stmt = engine.sql("SHOW CREATE TABLE aux.q").first().create_stmt
    assert "aux.q" in stmt


def test_insert_rejects_run_together_keywords(engine):
    """Owned keywords either match the supported grammar exactly or raise:
    a run-together INSERT must not silently parse via regex backtracking."""
    engine.create_table("rj", "a INT")
    with pytest.raises(ValueError, match="INSERT"):
        engine.sql("INSERT INTO rjVALUES (1)")
    with pytest.raises(ValueError, match="INSERT"):
        engine.sql("INSERT INTO rjSELECT 1")
    assert engine.sql("SELECT COUNT(*) AS c FROM rj").first().c == 0


def test_merge_both_do_nothing_is_free(engine):
    """MERGE with both clauses DO NOTHING: no version bump, no data scan."""
    engine.create_table("mn", "k INT, v STRING")
    engine.insert_values("mn", [(1, "a")])
    v = engine.dataset("mn").version
    engine.sql(
        "MERGE INTO mn USING (SELECT 1 AS k, 'Z' AS v) ON k "
        "WHEN MATCHED THEN DO NOTHING WHEN NOT MATCHED THEN DO NOTHING"
    )
    assert engine.dataset("mn").version == v
    assert engine.sql("SELECT v FROM mn").first().v == "a"


def test_create_table_defaults_with_quoted_literals(engine):
    """DEFAULT literals containing commas or the words NOT NULL must parse
    whole (quote-aware column split + quoted-branch-first DEFAULT regex)."""
    engine.sql(
        "CREATE TABLE qd (a INT, s STRING DEFAULT 'x,y', "
        "t STRING DEFAULT 'value not null here' NOT NULL, d DECIMAL(10,2))"
    )
    engine.sql("INSERT INTO qd (a, d) VALUES (1, 2.50)")
    row = engine.sql("SELECT s, t FROM qd").first()
    assert row.s == "x,y"
    assert row.t == "value not null here"
    stmt = engine.sql("SHOW CREATE TABLE qd").first().create_stmt
    assert "DEFAULT 'x,y'" in stmt and "DEFAULT 'value not null here'" in stmt
    assert "DECIMAL(10,2)" in stmt.upper().replace(" ", "")


def test_copy_jsonl_roundtrip(engine, tmp_path):
    """COPY FROM jsonl + COPY TO (json/csv/parquet) round-trips. COPY TO is
    strictly more surface than the reference (buildCopyTo is a stub,
    pkg/compute/builder_dml.go:470-476)."""
    jl = tmp_path / "in.jsonl"
    jl.write_text('{"a": 1, "b": "foo"}\n{"a": 2, "b": "bar"}\n')
    engine.sql("CREATE TABLE jt (a INT, b STRING)")
    engine.sql(f"COPY jt FROM '{jl}' WITH (FORMAT 'jsonl')")
    rows = engine.sql("SELECT * FROM jt ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows] == [(1, "foo"), (2, "bar")]

    # export via SQL, re-import into a second table: content survives
    out = tmp_path / "export_json"
    engine.sql(f"COPY jt TO '{out}' WITH (FORMAT 'jsonl')")
    engine.sql("CREATE TABLE jt2 (a INT, b STRING)")
    engine.sql(f"COPY jt2 FROM '{out}' WITH (FORMAT 'jsonl')")
    rows2 = engine.sql("SELECT * FROM jt2 ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows2] == [(1, "foo"), (2, "bar")]

    # parquet export round-trips types
    outp = tmp_path / "export_parquet"
    engine.copy_to("jt", str(outp), fmt="parquet")
    back = engine.spark.read.parquet(str(outp))
    assert sorted((r.a, r.b) for r in back.collect()) == [(1, "foo"), (2, "bar")]

    # unknown format is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported COPY format"):
        engine.copy_to("jt", str(tmp_path / "x"), fmt="orcish")


def test_copy_jsonl_malformed_fails_fast(engine, tmp_path):
    """A malformed JSONL line is a loud error, never a silent all-NULL row
    (Spark's PERMISSIVE default would insert one)."""
    jl = tmp_path / "bad.jsonl"
    jl.write_text('{"a": 1, "b": "foo"}\n{"a": 2, "b": "bar\n')
    engine.sql("CREATE TABLE jbad (a INT, b STRING)")
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as exc:
        engine.sql(f"COPY jbad FROM '{jl}' WITH (FORMAT 'jsonl')")
    assert isinstance(exc.value, Py4JJavaError) or "Malformed" in str(exc.value)
    assert engine.sql("SELECT COUNT(*) AS n FROM jbad").collect()[0].n == 0


def test_copy_to_refuses_existing_target_unless_overwrite(engine, tmp_path):
    """COPY TO must never silently delete an existing path: errorifexists by
    default, explicit OVERWRITE option opts in."""
    engine.sql("CREATE TABLE cte (a INT)")
    engine.sql("INSERT INTO cte VALUES (1)")
    out = tmp_path / "exp"
    engine.sql(f"COPY cte TO '{out}' WITH (FORMAT 'parquet')")
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)already exists"):
        engine.sql(f"COPY cte TO '{out}' WITH (FORMAT 'parquet')")
    engine.sql("INSERT INTO cte VALUES (2)")
    engine.sql(f"COPY cte TO '{out}' WITH (FORMAT 'parquet', OVERWRITE)")
    assert engine.spark.read.parquet(str(out)).count() == 2


def test_views_lifecycle(engine):
    """CREATE/DROP VIEW, SHOW VIEWS, SHOW CREATE VIEW: stored-text views that
    always read the CURRENT table version, re-analyzed at registration.
    Strictly more surface than the reference (no view statement in its
    builder_ddl.go)."""
    engine.sql("CREATE TABLE vt (a INT, b STRING)")
    engine.sql("INSERT INTO vt VALUES (1, 'x'), (2, 'y')")
    engine.sql("CREATE VIEW v_big AS SELECT a, b FROM vt WHERE a > 1")
    assert [r.a for r in engine.sql("SELECT * FROM v_big").collect()] == [2]
    # views track table mutations (no stale plan pinning)
    engine.sql("INSERT INTO vt VALUES (3, 'z')")
    assert sorted(r.a for r in engine.sql("SELECT * FROM v_big").collect()) == [2, 3]
    # view-over-view resolves via the fixpoint registration
    engine.sql("CREATE VIEW v_top AS SELECT COUNT(*) AS n FROM v_big")
    assert engine.sql("SELECT n FROM v_top").collect()[0].n == 2
    # meta faces
    assert [r.view_name for r in engine.sql("SHOW VIEWS").collect()] == [
        "v_big",
        "v_top",
    ]
    stmt = engine.sql("SHOW CREATE VIEW v_big").collect()[0].create_stmt
    assert stmt.startswith("CREATE VIEW v_big AS SELECT")
    # OR REPLACE swaps the definition; plain CREATE on an existing name errors
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE VIEW v_big AS SELECT 1 AS one")
    engine.sql("CREATE OR REPLACE VIEW v_big AS SELECT a FROM vt WHERE a >= 3")
    assert [r.a for r in engine.sql("SELECT * FROM v_big").collect()] == [3]
    # collisions are rejected both directions
    with _pytest.raises(ValueError, match="table named"):
        engine.sql("CREATE VIEW vt AS SELECT 1 AS one")
    with _pytest.raises(ValueError, match="view named"):
        engine.sql("CREATE TABLE v_top (a INT)")
    # drop removes catalog entry + registration
    engine.sql("DROP VIEW v_top")
    assert engine.views() == ["v_big"]
    with _pytest.raises(ValueError, match="no view named"):
        engine.sql("DROP VIEW v_top")


def test_view_survives_engine_reopen(engine, tmp_path):
    """Views are catalog-persisted: a fresh Engine over the same warehouse
    re-registers them from stored text."""
    from plan_spark.engine import Engine

    engine.sql("CREATE TABLE pv (a INT)")
    engine.sql("INSERT INTO pv VALUES (1), (2)")
    engine.sql("CREATE VIEW pv_sum AS SELECT SUM(a) AS s FROM pv")
    eng2 = Engine(engine.spark, warehouse=engine.warehouse)
    assert eng2.sql("SELECT s FROM pv_sum").collect()[0].s == 3


def test_view_machinery_hardening(engine):
    """Review-pass regressions: DROP TABLE RESTRICTs on dependent views;
    self-referential OR REPLACE is rejected (and the old definition keeps
    working); the qualified main_{name} alias dies with the view; missing
    schemas raise ValueError, not KeyError."""
    import pytest as _pytest

    engine.sql("CREATE TABLE hv (a INT)")
    engine.sql("INSERT INTO hv VALUES (1), (2)")
    engine.sql("CREATE VIEW hv_v AS SELECT a FROM hv WHERE a > 1")
    # RESTRICT: the base table cannot be dropped from under the view
    with _pytest.raises(ValueError, match="DROP VIEW first"):
        engine.sql("DROP TABLE hv")
    # self-reference via OR REPLACE must not resolve against the old temp
    with _pytest.raises(Exception):
        engine.sql("CREATE OR REPLACE VIEW hv_v AS SELECT a FROM hv_v")
    # ...and the previous definition still serves
    assert [r.a for r in engine.sql("SELECT * FROM hv_v").collect()] == [2]
    # the qualified alias exists while registered, dies on drop
    assert [r.a for r in engine.sql("SELECT * FROM main_hv_v").collect()] == [2]
    engine.sql("DROP VIEW hv_v")
    with _pytest.raises(Exception):
        engine.sql("SELECT * FROM main_hv_v").collect()
    # missing schema -> ValueError everywhere
    with _pytest.raises(ValueError, match="does not exist"):
        engine.sql("CREATE VIEW nosuch.v AS SELECT 1 AS one")
    with _pytest.raises(ValueError, match="does not exist"):
        engine.sql("SHOW VIEWS IN nosuch")
    engine.sql("DROP TABLE hv")  # no dependents left -> drops fine


def test_view_over_view_stays_fresh_whatever_the_order(engine):
    """The fixpoint drops ALL view temps before re-analyzing, so a dependent
    view can never bind last cycle's dependency plan: after a table
    mutation, a view named to iterate BEFORE its dependency still sees the
    new rows on the first post-mutation query."""
    engine.sql("CREATE TABLE ft (a INT)")
    engine.sql("INSERT INTO ft VALUES (1)")
    # alphabetical order: a_top < z_base — a_top would analyze first
    engine.sql("CREATE VIEW z_base AS SELECT a FROM ft")
    engine.sql("CREATE VIEW a_top AS SELECT a FROM z_base")
    assert [r.a for r in engine.sql("SELECT * FROM a_top").collect()] == [1]
    engine.sql("INSERT INTO ft VALUES (2)")
    assert sorted(r.a for r in engine.sql("SELECT * FROM a_top").collect()) == [1, 2]


def test_view_restrict_and_cycle_hardening(engine):
    """High-review regressions: RESTRICT matches qualified {schema}_{t}
    aliases; DROP VIEW RESTRICTs on dependent views; indirect cycles via
    OR REPLACE roll back; COPY FROM rejects OVERWRITE."""
    import pytest as _pytest

    # qualified-alias RESTRICT: a view over s_t blocks dropping s.t
    engine.sql("CREATE SCHEMA s")
    engine.create_table("t", "a INT", schema="s")
    engine.sql("CREATE VIEW qv AS SELECT a FROM s_t")
    with _pytest.raises(ValueError, match="DROP VIEW first"):
        engine.drop_table("t", schema="s")
    # view-on-view RESTRICT
    engine.sql("CREATE VIEW qv_top AS SELECT a FROM qv")
    with _pytest.raises(ValueError, match="DROP VIEW first"):
        engine.sql("DROP VIEW qv")
    engine.sql("DROP VIEW qv_top")
    # indirect cycle: a -> b, then OR REPLACE a to read b — rejected, old
    # definition still works afterward
    engine.sql("CREATE VIEW ca AS SELECT a FROM qv")
    engine.sql("CREATE VIEW cb AS SELECT a FROM ca")
    with _pytest.raises(ValueError, match="cyclic"):
        engine.sql("CREATE OR REPLACE VIEW ca AS SELECT a FROM cb")
    engine.sql("SELECT * FROM cb").collect()  # chain still healthy
    engine.sql("DROP VIEW cb")
    engine.sql("DROP VIEW ca")
    engine.sql("DROP VIEW qv")
    engine.drop_table("t", schema="s")  # no dependents left
    # COPY FROM must reject the TO-only OVERWRITE option loudly
    engine.sql("CREATE TABLE cfo (a INT)")
    with _pytest.raises(ValueError, match="COPY TO option"):
        engine.sql("COPY cfo FROM '/tmp/x.csv' WITH (FORMAT 'csv', OVERWRITE)")


def test_timestamp_as_of_time_travel(engine):
    """``FROM t TIMESTAMP AS OF '<iso>'`` resolves to the newest version
    committed at or before the UTC timestamp (Delta semantics) — same
    snapshot-view machinery as VERSION AS OF; a pre-creation timestamp is a
    loud error."""
    import time as _time
    from datetime import datetime, timezone

    import pytest as _pytest

    engine.sql("CREATE TABLE tt (a INT)")
    engine.sql("INSERT INTO tt VALUES (1)")
    mid = _time.time()
    engine.sql("INSERT INTO tt VALUES (2)")
    iso = datetime.fromtimestamp(mid, tz=timezone.utc).replace(tzinfo=None).isoformat()
    rows = engine.sql(f"SELECT a FROM tt TIMESTAMP AS OF '{iso}'").collect()
    assert sorted(r.a for r in rows) == [1]
    assert sorted(
        r.a for r in engine.sql("SELECT a FROM tt").collect()
    ) == [1, 2]
    with _pytest.raises(ValueError, match="no version"):
        engine.sql("SELECT a FROM tt TIMESTAMP AS OF '1990-01-01T00:00:00'")
    with _pytest.raises(ValueError, match="ISO timestamp"):
        engine.sql("SELECT a FROM tt TIMESTAMP AS OF 'not-a-time'")


def test_truncate_and_describe_view(engine):
    """TRUNCATE TABLE is a versioned delete-all (history survives for time
    travel); DESCRIBE works on views (current analyzed schema)."""
    engine.sql("CREATE TABLE trc (a INT, b STRING)")
    engine.sql("INSERT INTO trc VALUES (1, 'x'), (2, 'y')")
    engine.sql("CREATE TAG full ON trc")
    engine.sql("TRUNCATE TABLE trc")
    assert engine.sql("SELECT COUNT(*) AS n FROM trc").collect()[0].n == 0
    # the pre-truncate snapshot is still reachable
    rows = engine.sql("SELECT a FROM trc VERSION AS OF 'full'").collect()
    assert sorted(r.a for r in rows) == [1, 2]
    engine.sql("CREATE VIEW trc_v AS SELECT a, length(b) AS blen FROM trc")
    d = engine.sql("DESCRIBE trc_v").collect()
    assert [(r.col_name, r.data_type) for r in d] == [("a", "int"), ("blen", "int")]


def test_branch_targeted_dml_sql(engine):
    """Write ON A BRANCH from SQL (reference refs.go:17-68 — the SDK
    writes on a checked-out ref): INSERT/DELETE/UPDATE spell the table
    ``t@branch`` and the commit auto-advances the ref; unknown branch
    names refuse (a typo must not silently fork)."""
    engine.create_table("bw", "k INT, v STRING")
    engine.insert_values("bw", [(1, "a"), (2, "b")])
    engine.sql("CREATE BRANCH dev ON bw")
    engine.sql("INSERT INTO bw@dev (k, v) VALUES (3, 'c')")
    # the ref advanced with the write: branch read sees the new row
    assert (
        engine.sql("SELECT COUNT(*) AS n FROM bw VERSION AS OF 'dev'").first().n
        == 3
    )
    engine.sql("UPDATE bw@dev SET v = 'C' WHERE k = 3")
    engine.sql("DELETE FROM bw@dev WHERE k = 1")
    rows = {
        r.k: r.v
        for r in engine.sql("SELECT * FROM bw VERSION AS OF 'dev'").collect()
    }
    assert rows == {2: "b", 3: "C"}
    # INSERT ... SELECT form routes through the branch too
    engine.sql("INSERT INTO bw@dev SELECT k + 10 AS k, v FROM bw VERSION AS OF 'dev'")
    assert (
        engine.sql("SELECT COUNT(*) AS n FROM bw VERSION AS OF 'dev'").first().n
        == 4
    )
    with pytest.raises(ValueError, match="no tag or branch"):
        engine.sql("INSERT INTO bw@nope (k, v) VALUES (9, 'z')")
    # a tag created BEFORE the branch writes stays pinned
    engine.create_table("bw2", "k INT")
    engine.insert_values("bw2", [(1,)])
    engine.sql("CREATE TAG t0 ON bw2")
    engine.sql("CREATE BRANCH d2 ON bw2")
    engine.sql("INSERT INTO bw2@d2 VALUES (2)")
    assert engine.sql("SELECT COUNT(*) AS n FROM bw2 VERSION AS OF 't0'").first().n == 1
    assert engine.sql("SELECT COUNT(*) AS n FROM bw2 VERSION AS OF 'd2'").first().n == 2


def test_adversarial_quoting_every_statement_family(engine):
    """Literals containing keywords, commas, parens, and escaped quotes
    must never split or re-route any statement (the quoting bug class the
    r5 review passes kept finding — now tokenizer-guarded: the SET/WHERE
    boundary, assignment commas, and COPY paths are parsed with the
    quote+paren-aware scanner, never bare regex)."""
    eng = engine
    eng.create_table("aq", "k INT, v STRING, w DOUBLE")
    # INSERT VALUES: commas, keywords, escaped quotes inside literals
    eng.sql(
        "INSERT INTO aq VALUES (1, 'a,b WHERE c', 1.0), "
        "(2, 'it''s, WHEN MATCHED THEN', 2.0), (3, 'plain', 3.0)"
    )
    rows = {r.k: r.v for r in eng.sql("SELECT k, v FROM aq").collect()}
    assert rows[1] == "a,b WHERE c" and rows[2] == "it's, WHEN MATCHED THEN"
    # UPDATE: comma + WHERE + '=' inside a SET literal; literal in WHERE
    eng.sql("UPDATE aq SET v = 'x, WHERE y = 1', w = w * 2 WHERE k = 1")
    r1 = eng.sql("SELECT v, w FROM aq WHERE k = 1").first()
    assert r1.v == "x, WHERE y = 1" and r1.w == 2.0
    # nested function call commas still split correctly
    eng.sql("UPDATE aq SET v = concat(v, ',', 'WHERE'), w = 9.0 WHERE k = 3")
    r3 = eng.sql("SELECT v, w FROM aq WHERE k = 3").first()
    assert r3.v == "plain,WHERE" and r3.w == 9.0
    # WHERE-less UPDATE whose literal CONTAINS ' WHERE ' applies to all rows
    eng.sql("UPDATE aq SET v = 'all WHERE none'")
    assert {r.v for r in eng.sql("SELECT v FROM aq").collect()} == {"all WHERE none"}
    # DELETE with a keyword-bearing literal predicate
    eng.sql("DELETE FROM aq WHERE v <> 'all WHERE none' OR k = 2")
    assert eng.sql("SELECT COUNT(*) AS n FROM aq").first().n == 2
    # MERGE: USING subquery with keyword/comma literals inside
    eng.sql(
        "MERGE INTO aq USING (SELECT 1 AS k, 'm,erge WHEN MATCHED' AS v, 5.0 AS w) "
        "ON k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.sql("SELECT v FROM aq WHERE k = 1").first().v == "m,erge WHEN MATCHED"
    # CREATE TABLE: DEFAULT literal with comma + keywords + escaped quote
    eng.sql(
        "CREATE TABLE aq2 (a INT, b STRING DEFAULT 'x,y NOT NULL it''s', "
        "c DECIMAL(10,2) DEFAULT 1.5)"
    )
    eng.sql("INSERT INTO aq2 (a) VALUES (7)")
    r = eng.sql("SELECT * FROM aq2").first()
    assert r.b == "x,y NOT NULL it's" and float(r.c) == 1.5
    # CREATE VIEW whose body contains quoted keywords and semicolon-free text
    eng.sql("CREATE VIEW aqv AS SELECT k, 'VALUES, WHERE; sort of' AS tag FROM aq")
    assert eng.sql("SELECT tag FROM aqv LIMIT 1").first().tag == "VALUES, WHERE; sort of"
    # COPY path with an escaped quote
    import os, tempfile

    d = tempfile.mkdtemp(prefix="plan_spark_aq_")
    odd = os.path.join(d, "it's data")
    escaped = odd.replace("'", "''")
    eng.sql(f"COPY aq TO '{escaped}'")
    assert os.path.isdir(odd)
    # statement splitter: ';' inside a literal is not a statement boundary
    eng.sql("INSERT INTO aq VALUES (9, 'a;b', 0.0)")
    assert eng.sql("SELECT v FROM aq WHERE k = 9").first().v == "a;b"
    # backslash-escaped quote inside a SET literal (Spark default parser
    # semantics) must not close the quote early and split at the WHERE
    eng.sql("UPDATE aq SET v = 'don\\'t WHERE x' WHERE k = 9")
    assert eng.sql("SELECT v FROM aq WHERE k = 9").first().v == "don't WHERE x"
    # double-quoted string (a literal in Spark's default mode) with a comma
    eng.sql('UPDATE aq SET v = "x,y WHERE z", w = 4.0 WHERE k = 9')
    r9 = eng.sql("SELECT v, w FROM aq WHERE k = 9").first()
    assert r9.v == "x,y WHERE z" and r9.w == 4.0


def test_sql_tables_carry_row_ids_and_auto_route(engine):
    """Every SQL-created table carries stable row ids (reference rowids.go
    — core storage2), so CREATE INDEX ... USING btree/bitmap through the
    SQL face auto-routes filtered scans (id_col = _rowid) instead of being
    probe-only."""
    eng = engine
    eng.sql("CREATE TABLE rid (k BIGINT, grp STRING)")
    for i in range(4):
        eng.dataset("rid").append(
            eng.spark.range(i * 100, (i + 1) * 100).selectExpr(
                "id AS k", "CAST(id % 4 AS STRING) AS grp"
            ).coalesce(1)
        )
    ds = eng.dataset("rid")
    assert ds.manifest.row_ids
    eng.sql("CREATE INDEX rk ON rid USING btree (k)")
    ds = eng.dataset("rid")
    assert ds.manifest.indexes["rk"]["params"]["id_col"] == "_rowid"
    sel, pruned, trace = ds.plan_scan([("k", "=", 7)], explain=True)
    t = {x["index"]: x for x in trace}["rk"]
    assert t["chosen"], t
    assert len(sel) == 1  # the probe routed to the owning fragment
    # take_rows addressing works on SQL tables now
    ids = ds.open_index("rk").range_ids(7, 7)
    assert ds.take_rows(ids, columns=["grp"]).count() == 1


def test_explain_scan_sql_face(engine):
    """EXPLAIN SCAN t [WHERE pred] surfaces the index-selection trace as a
    result set (index_selector.go observability through the SQL door)."""
    eng = engine
    eng.sql("CREATE TABLE esc (k BIGINT, grp STRING)")
    for i in range(4):
        eng.dataset("esc").append(
            eng.spark.range(i * 50, (i + 1) * 50).selectExpr(
                "id AS k", "CAST(id % 4 AS STRING) AS grp"
            ).coalesce(1)
        )
    eng.sql("CREATE INDEX ek ON esc USING btree (k)")
    rows = {r.index_name: r for r in eng.sql("EXPLAIN SCAN esc WHERE k = 7").collect()}
    assert "selected 1 of 4 fragments" in rows["(scan)"].reason
    assert rows["ek"].chosen and rows["ek"].est_fraction <= 0.3
    # no predicate: index enumerated, not consulted
    rows = {r.index_name: r for r in eng.sql("EXPLAIN SCAN esc").collect()}
    assert not rows["ek"].chosen and "no filters" in rows["ek"].reason
    # plain EXPLAIN still returns Catalyst's plan path untouched
    assert eng.sql("EXPLAIN SELECT 1").collect()


def test_branch_write_refuses_tags(engine):
    """Tags are immutable pins — a t@tag write must refuse rather than
    silently convert the tag into a moving pointer (which would also
    un-pin its version from vacuum); and CREATE BRANCH refuses a name a
    tag already holds."""
    eng = engine
    eng.create_table("tg", "a INT")
    eng.insert_values("tg", [(1,)])
    eng.sql("CREATE TAG snap ON tg")
    with pytest.raises(ValueError, match="TAG, not a branch"):
        eng.sql("INSERT INTO tg@snap VALUES (2)")
    # the tag still pins the original version
    assert eng.sql("SELECT COUNT(*) AS n FROM tg VERSION AS OF 'snap'").first().n == 1
    with pytest.raises(ValueError, match="is a TAG"):
        eng.sql("CREATE BRANCH snap ON tg")


def test_ref_kind_guard_is_bidirectional(engine):
    """tag()/CREATE TAG must refuse BRANCH names just as on_branch refuses
    tag names — otherwise re-tagging a branch leaves a 'pinned' ref that
    branch writes keep moving (the other door of the same bug)."""
    eng = engine
    eng.create_table("bd", "a INT")
    eng.insert_values("bd", [(1,)])
    eng.sql("CREATE BRANCH work ON bd")
    with pytest.raises(ValueError, match="is a BRANCH"):
        eng.sql("CREATE TAG work ON bd AS OF VERSION 1")
    # the branch still advances with writes (auto-advance path unaffected)
    eng.sql("INSERT INTO bd@work VALUES (2)")
    assert eng.sql("SELECT COUNT(*) AS n FROM bd VERSION AS OF 'work'").first().n == 2
    # legacy dataset (pre-ref-kind): no _branches.json -> writes through
    # any ref keep working (old behavior preserved, no hard upgrade break)
    import os

    ds = eng.dataset("bd")
    os.remove(ds._branches_path)
    eng.sql("INSERT INTO bd@work VALUES (3)")
    assert eng.sql("SELECT COUNT(*) AS n FROM bd VERSION AS OF 'work'").first().n == 3


def test_copy_and_default_literals_honor_backslash_escapes(engine, tmp_path):
    """COPY paths and CREATE TABLE DEFAULT literals must read
    backslash-escaped quotes the way Spark's own parser would — the
    shared-scanner contract extends to every quoted operand."""
    import os

    eng = engine
    eng.create_table("bs", "k INT, v STRING")
    eng.insert_values("bs", [(1, "x")])
    odd = os.path.join(str(tmp_path), "don't dir")
    escaped = odd.replace("\\", "\\\\").replace("'", "\\'")
    eng.sql(f"COPY bs TO '{escaped}'")
    assert os.path.isdir(odd)
    # DEFAULT literal carrying an escaped quote + the NOT NULL keyword
    eng.sql(
        "CREATE TABLE bs2 (a INT, "
        "b STRING DEFAULT 'it\\'s NOT NULL here' NOT NULL)"
    )
    eng.sql("INSERT INTO bs2 (a) VALUES (5)")
    assert eng.sql("SELECT b FROM bs2").first().b == "it's NOT NULL here"


def test_bitmap_index_sql_face_routes_and_traces(engine):
    """CREATE INDEX ... USING bitmap on a SQL table (row ids are default
    now) builds the row-granular run table; EXPLAIN SCAN shows the exact
    keystats estimate and the equality probe routes through it."""
    eng = engine
    eng.sql("CREATE TABLE bmx (k BIGINT, grp STRING)")
    for i in range(4):
        eng.dataset("bmx").append(
            eng.spark.range(i * 100, (i + 1) * 100).selectExpr(
                "id AS k",
                "CASE WHEN id % 100 = 7 THEN 'rare' ELSE CAST(id % 3 AS STRING) END AS grp",
            ).coalesce(1)
        )
    eng.sql("CREATE INDEX bmg ON bmx USING bitmap (grp)")
    ds = eng.dataset("bmx")
    assert ds.manifest.indexes["bmg"]["path"], "row-granular table expected"
    rows = {
        r.index_name: r
        for r in eng.sql("EXPLAIN SCAN bmx WHERE grp = 'rare'").collect()
    }
    t = rows["bmg"]
    assert t.chosen and t.est_rows == 4  # exact keystats: 4 rare rows
    # the probe's runs address take_rows directly
    idx = ds.open_index("bmg")
    ids = [i for lo, hi in idx.equality_runs("rare") for i in range(lo, hi + 1)]
    got = sorted(r.k for r in ds.take_rows(ids, columns=["k"]).collect())
    assert got == [7, 107, 207, 307]


# _check_mentions reads a CHECK's identifiers through Spark's own parser,
# so a backslash-escaped quote inside a literal cannot hide a real
# identifier after it.
class TestCheckMentionsEscapes:
    def test_identifier_after_escaped_quote_literal_is_seen(self, spark):
        # repro: with a literal pattern blind to escapes the boundary shifted
        # and `mycol` was blanked, letting RENAME/DROP proceed while a
        # stored CHECK still referenced it.
        assert Engine._check_mentions(spark, "mycol", "c = 'a\\'' AND mycol = 'x'")

    def test_name_inside_escaped_literal_not_a_mention(self, spark):
        assert not Engine._check_mentions(spark, "k", "c = 'it\\'s k' AND d = 2")

    def test_plain_literal_still_blanked(self, spark):
        assert not Engine._check_mentions(spark, "k", "status IN ('k', 'v')")

    def test_doubled_quote_literal_still_blanked(self, spark):
        assert not Engine._check_mentions(spark, "k", "c = 'it''s k' AND d = 2")

    def test_plain_mention_still_detected(self, spark):
        assert Engine._check_mentions(spark, "k", "k > 0 AND j < 'z'")

    def test_mentions_resolve_like_spark(self, spark):
        # names compare case-insensitively, and identifiers in lambda
        # bodies and subqueries count
        assert Engine._check_mentions(spark, "K", "k > 0")
        assert Engine._check_mentions(spark, "k", "exists(arr, x -> x = k)")
        assert Engine._check_mentions(spark, "k", "(SELECT max(k) FROM t) > 0")
        assert not Engine._check_mentions(spark, "k", "upper(j) = 'K'")


# COPY's driver-side footer pinning skips hidden ('.'/'_') files and
# falls back to Spark's inference on per-file schema drift.
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


def test_explain_scan_reports_the_driver_scan(engine, monkeypatch):
    """EXPLAIN SCAN's (scan) row says which row groups a SELECT of the
    predicate reads, how many rows that is, and whether it is the driver
    scan or Spark's; EXPLAIN SCAN SELECT says why a query shape keeps
    Spark's scan."""
    import plan_spark.dataset.dataset as dsmod

    eng = engine
    eng.sql("CREATE TABLE rgx (k BIGINT, v STRING)")
    n = 3 * dsmod._ROW_GROUP_ROWS
    eng.dataset("rgx").append(
        eng.spark.range(n).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1)
    )
    eng.sql("INSERT INTO rgx VALUES (5, 'x')")

    def scan(q):
        return {r.index_name: r for r in eng.sql(q).collect()}["(scan)"].reason

    why = scan("EXPLAIN SCAN rgx WHERE k = 5")
    assert "selected 2 of 2 fragments" in why
    assert f"2 of 4 row groups admitted ({dsmod._ROW_GROUP_ROWS + 1} rows)" in why
    assert why.endswith("driver scan")
    assert scan("EXPLAIN SCAN SELECT v FROM rgx WHERE k = 5") == why
    assert f"4 of 4 row groups admitted ({n + 1} rows)" in scan("EXPLAIN SCAN rgx")
    assert scan("EXPLAIN SCAN rgx").endswith("Spark scan: over the 10000-row gate")
    assert "plan shape does not qualify (Aggregate" in scan(
        "EXPLAIN SCAN SELECT k, count(*) FROM rgx GROUP BY k"
    )
    assert "does not qualify (Join" in scan("EXPLAIN SCAN SELECT * FROM rgx a JOIN rgx b ON a.k = b.k")
    monkeypatch.setattr(dsmod, "_IN_LIST_MAX", 100)
    assert scan("EXPLAIN SCAN rgx WHERE k = 5").endswith("Spark scan: over the 100-row gate")
