"""Property tests for the statement grammar's shared quote scanner
(engine._scan_top_level and the operand splits built on it): for ANY
string literal content — commas, keywords, parens, single/double quotes,
backslashes — an UPDATE or a column DEFAULT carrying it must round-trip
the exact value, and the pure splitting helpers must agree with a
character-level reference implementation. This pins the bug class of
regex backtracking into literals shut permanently."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from plan_spark.engine import _split_top_level_commas

# content drawn from the adversarial alphabet: quote chars, escapes,
# separators, and the keywords the grammar splits on
_ADVERSARIAL = st.lists(
    st.sampled_from(
        list("ab,'\"\\()=; ") + ["WHERE", "SET", "VALUES", "AND", " WHERE "]
    ),
    min_size=0,
    max_size=12,
).map("".join)


def _sql_quote(value: str) -> str:
    """Escape a Python string into a Spark SQL single-quoted literal
    (Spark's default parser: backslash escapes are live, so both the
    backslash and the quote must be escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@given(_ADVERSARIAL)
@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_split_helpers_never_cut_inside_literals(content):
    """A comma list whose middle element is an arbitrary quoted literal
    (or backquoted identifier) must split into exactly three parts, with
    the literal intact."""
    lit = _sql_quote(content)
    parts = _split_top_level_commas(f"a = 1, b = {lit}, c = 2")
    assert len(parts) == 3, parts
    assert parts[1].strip() == f"b = {lit}"
    ident = "`" + content.replace("`", "``") + "`"
    parts = _split_top_level_commas(f"a = 1, b = {ident}, c = 2")
    assert [p.strip() for p in parts] == ["a = 1", f"b = {ident}", "c = 2"]


@given(st.lists(_ADVERSARIAL, min_size=1, max_size=3), _ADVERSARIAL)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_update_roundtrips_any_literal(spark, values, pred_lit):
    """End to end: UPDATE ... SET v = '<anything>' [WHERE with a literal]
    stores exactly that value (engine statement parsing + Spark literal
    semantics agree)."""
    import os
    import shutil
    import tempfile

    from plan_spark.engine import Engine

    d = tempfile.mkdtemp(prefix="plan_spark_qprop_")
    try:
        eng = Engine(spark, os.path.join(d, "wh"))
        eng.sql("CREATE TABLE qp (k INT, v STRING)")
        eng.sql("INSERT INTO qp VALUES " + ", ".join(
            f"({i}, 'seed')" for i in range(len(values))
        ))
        for i, val in enumerate(values):
            eng.sql(
                f"UPDATE qp SET v = {_sql_quote(val)} "
                f"WHERE k = {i} AND {_sql_quote(pred_lit)} = {_sql_quote(pred_lit)}"
            )
        got = {r.k: r.v for r in eng.sql("SELECT k, v FROM qp").collect()}
        assert got == {i: v for i, v in enumerate(values)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


# literal content that reads as column-definition text: every attribute
# and constraint keyword of CREATE TABLE, between quotes and escapes
_COLUMN_TEXT = st.lists(
    st.sampled_from(
        list("ab,'\"\\()` ")
        + [" NOT NULL", " PRIMARY KEY", " UNIQUE", " REFERENCES p(k)",
           " DEFAULT ", " CHECK (k > 0)", ") WITH (ENFORCE"]
    ),
    min_size=0,
    max_size=10,
).map("".join)


@given(_COLUMN_TEXT)
@example("x NOT NULL PRIMARY KEY")
@example("it\\'s UNIQUE REFERENCES p(k)")
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_column_default_literal_declares_nothing(spark, content):
    """A DEFAULT literal carrying any column-definition text is one value:
    INSERT without the column stores exactly the decoded literal, and the
    table declares no NOT NULL, key, CHECK or FOREIGN KEY from its text."""
    import os
    import shutil
    import tempfile

    from plan_spark.engine import Engine

    d = tempfile.mkdtemp(prefix="plan_spark_dflt_")
    try:
        eng = Engine(spark, os.path.join(d, "wh"))
        eng.sql(f"CREATE TABLE t (k INT, v STRING DEFAULT {_sql_quote(content)})")
        eng.sql("INSERT INTO t (k) VALUES (1)")
        assert [tuple(r) for r in eng.sql("SELECT k, v FROM t").collect()] == [
            (1, content)
        ]
        entry = eng._entry("t", "main")
        for key in ("primary_key", "unique", "not_null", "checks", "foreign_keys"):
            assert entry[key] == [], (key, entry[key])
        assert not entry["enforce_pk"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------- _Stmt cursor properties
@given(_ADVERSARIAL)
@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cursor_paren_body_and_string_lit_roundtrip(content):
    """The statement cursor's balanced-paren scan and string-literal
    decoder must round-trip ANY content: a paren body containing quoted
    parens/quotes comes back verbatim, and string_lit decodes exactly what
    _sql_quote encoded (same escape rules as Spark's parser)."""
    from plan_spark.engine import _Stmt

    lit = _sql_quote(content)
    # body contains a quoted literal with hostile chars + nested parens
    body = f"x = {lit}, y = (1 + (2))"
    p = _Stmt(f"({body}) TRAILER")
    assert p.paren_body() == body
    assert p.try_kw("TRAILER") and p.at_end()
    q = _Stmt(f"{lit} rest")
    assert q.string_lit() == content
    assert q.try_kw("rest") and q.at_end()


@given(_ADVERSARIAL)
@settings(
    max_examples=100,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cursor_kw_never_matches_inside_literals_or_words(content):
    """try_kw is word-bounded and literal-blind by construction: a keyword
    embedded in an identifier or inside a quoted literal never matches."""
    from plan_spark.engine import _Stmt

    p = _Stmt("SELECTx FROM t")
    assert not p.try_kw("SELECT")
    lit = _sql_quote(f"WHERE {content}")
    q = _Stmt(f"{lit} WHERE k")
    assert q.string_lit() == f"WHERE {content}"
    assert q.try_kw("WHERE")  # the real one, after the literal
    assert q.ident("col") == "k"


def test_cursor_statement_smoke(spark):
    """Adversarial end-to-end heads through sql(): quoted literals carrying
    keywords/parens in CREATE TABLE DEFAULTs, COPY paths, and MERGE
    subqueries parse to the right statement."""
    import os
    import shutil
    import tempfile

    from plan_spark.engine import Engine

    d = tempfile.mkdtemp(prefix="plan_spark_cursor_")
    try:
        eng = Engine(spark, os.path.join(d, "wh"))
        # DEFAULT literal containing ') WITH (ENFORCE' and commas/keywords
        eng.sql(
            "CREATE TABLE ct (a INT, b STRING DEFAULT "
            "'x, PRIMARY KEY (oops) WITH (ENFORCE) NOT NULL')"
        )
        eng.sql("INSERT INTO ct (a) VALUES (1)")
        v = eng.sql("SELECT b FROM ct").collect()[0].b
        assert v == "x, PRIMARY KEY (oops) WITH (ENFORCE) NOT NULL"
        # MERGE USING subquery with a literal containing ')' and WHEN
        eng.sql("CREATE TABLE mt (k INT, v STRING)")
        eng.sql("INSERT INTO mt VALUES (1, 'a')")
        eng.sql(
            "MERGE INTO mt USING (SELECT 2 AS k, ') WHEN MATCHED' AS v) "
            "ON k WHEN NOT MATCHED THEN INSERT *"
        )
        rows = {r.k: r.v for r in eng.sql("SELECT k, v FROM mt").collect()}
        assert rows == {1: "a", 2: ") WHEN MATCHED"}
        # COPY TO a path containing spaces, then back
        out = os.path.join(d, "od d")
        eng.sql(f"COPY mt TO '{out}' WITH (FORMAT parquet)")
        eng.sql("CREATE TABLE mt2 (k INT, v STRING)")
        eng.sql(f"COPY mt2 FROM '{out}'")
        assert eng.sql("SELECT COUNT(*) AS n FROM mt2").collect()[0].n == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


@given(
    st.lists(
        st.sampled_from(list("ab-`'\" ;\n") + ["--", "x`y"]),
        min_size=0,
        max_size=10,
    ).map("".join)
)
@settings(max_examples=200, deadline=None)
def test_split_statements_preserves_quoted_regions(content):
    """_split_statements strips -- comments and splits on ';' only OUTSIDE
    single-quoted, double-quoted, AND backquoted regions: any content
    packed into a literal or a backtick identifier survives verbatim
    (the r8 review found `a--b` identifiers being clipped)."""
    from plan_spark.engine import Engine

    # single-quoted literal: whatever the content, the statement is one
    # piece and the literal is intact
    lit = "'" + content.replace("\\", "\\\\").replace("'", "\\'") + "'"
    out = Engine._split_statements(f"SELECT {lit} AS s")
    assert len(out) == 1 and lit in out[0]
    # backquoted identifier: backticks guard -- and ; (`` doubling aside)
    if "`" not in content:
        ident = f"`{content or 'x'}`"
        out = Engine._split_statements(f"SELECT 1 AS {ident}")
        assert out == [f"SELECT 1 AS {ident}"]


def test_split_statements_comment_and_semicolon_edges():
    from plan_spark.engine import Engine

    f = Engine._split_statements
    assert f("SELECT `a--b` FROM t") == ["SELECT `a--b` FROM t"]
    assert f("SELECT 1 -- c\n;") == ["SELECT 1 \n"] or f(
        "SELECT 1 -- c\n;"
    ) == ["SELECT 1"]
    assert f("SELECT ';--' AS s") == ["SELECT ';--' AS s"]
    assert len(f("SELECT 1; SELECT 2")) == 2


class TestQuotedIdentRewrite:
    """Engine._rewrite_quoted_idents (r10): the pg-dialect rule — double
    quotes ALWAYS delimit identifiers — rewritten to Spark backticks,
    never inside single-quoted string literals."""

    def test_basic_alias(self):
        from plan_spark.engine import Engine

        assert (
            Engine._rewrite_quoted_idents('count(*) as "order count"')
            == "count(*) as `order count`"
        )

    def test_inside_string_literal_untouched(self):
        from plan_spark.engine import Engine

        s = "select 'he said \"hi\"' as s"
        assert Engine._rewrite_quoted_idents(s) == s

    def test_escaped_double_quote_in_identifier(self):
        from plan_spark.engine import Engine

        # "" inside a quoted identifier is the escaped-quote form
        assert (
            Engine._rewrite_quoted_idents('select 1 as "a""b"')
            == 'select 1 as `a"b`'
        )

    def test_backtick_in_identifier_escaped(self):
        from plan_spark.engine import Engine

        assert (
            Engine._rewrite_quoted_idents('select 1 as "a`b"')
            == "select 1 as `a``b`"
        )

    def test_literal_then_identifier(self):
        from plan_spark.engine import Engine

        s = "select 'x\"y' as a, \"col name\" from t"
        assert (
            Engine._rewrite_quoted_idents(s)
            == "select 'x\"y' as a, `col name` from t"
        )

    def test_doubled_single_quote_literal_boundary(self):
        from plan_spark.engine import Engine

        # '' inside a literal must not end it and expose the " to rewrite
        s = "select 'it''s \"quoted\"' as s"
        assert Engine._rewrite_quoted_idents(s) == s

    def test_no_quotes_no_change(self):
        from plan_spark.engine import Engine

        s = "select a, b from t where c = 1"
        assert Engine._rewrite_quoted_idents(s) == s

    def test_backslash_escaped_quote_keeps_literal_boundary(self):
        """The r10 advice bug: a Spark-default backslash-escaped quote
        ('don\\'t') must not desynchronize the literal scan — a double
        quote INSIDE a later string literal stays a string character,
        and a real quoted identifier after such a literal is still
        rewritten."""
        from plan_spark.engine import Engine

        s = "SELECT 'don\\'t' AS a, c FROM t WHERE c = 'say \"hi\" now'"
        assert Engine._rewrite_quoted_idents(s) == s
        s2 = "SELECT 'don\\'t' AS a, \"col name\" FROM t"
        assert (
            Engine._rewrite_quoted_idents(s2)
            == "SELECT 'don\\'t' AS a, `col name` FROM t"
        )
        # backslash-backslash then a REAL closing quote: literal ends,
        # the following quoted identifier is code and must rewrite
        s3 = "SELECT 'p\\\\' AS a, \"b c\" FROM t"
        assert (
            Engine._rewrite_quoted_idents(s3)
            == "SELECT 'p\\\\' AS a, `b c` FROM t"
        )

    def test_time_travel_scan_agrees_on_escapes(self):
        """_rewrite_time_travel's literal split uses the same escape-aware
        scan: a VERSION AS OF phrase INSIDE a backslash-escaped literal is
        never mistaken for a time-travel clause (no dataset open attempt,
        text unchanged)."""
        from plan_spark.engine import Engine

        eng = Engine.__new__(Engine)  # no spark needed: no real clause
        s = "SELECT 'don\\'t FROM t VERSION AS OF 3' AS a FROM u"
        assert eng._rewrite_time_travel(s) == s


# ------------------------------------------- predicate pruning vs literals
@given(_ADVERSARIAL, st.integers(0, 9))
@settings(max_examples=200, deadline=None)
def test_pruning_conjuncts_never_come_from_inside_literals(spark, content, k):
    """The dataset layer's prunable conjuncts (the zonemap/index pruning
    of DELETE, UPDATE and filtered scans) come from Spark's parse of the
    predicate, so SQL text inside a literal is never read as a conjunct:
    an escaped literal carrying anything yields exactly its own decoded
    value, and the real conjunct after it is found."""
    from plan_spark.dataset import Dataset

    lit = _sql_quote(content)
    got = Dataset._parse_filter_string(spark, f"note = {lit} AND k = {k}")
    assert got == [("note", "=", content), ("k", "=", k)], (lit, got)


def test_conjuncts_read_literals_under_the_sessions_own_confs(spark):
    """The parse runs under the given session's confs on any thread, as
    that session's ``F.expr`` does: with escapedStringLiterals on, a
    backslash stays literal text; the default session still unescapes."""
    import threading

    from plan_spark.dataset import Dataset

    raw = spark.newSession()
    raw.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    got = []
    t = threading.Thread(
        target=lambda: got.append(Dataset._parse_filter_string(raw, "n = 'a\\q'"))
    )
    t.start()
    t.join(timeout=60)
    assert got == [[("n", "=", "a\\q")]]
    assert Dataset._parse_filter_string(raw, "n = 'a\\q'") == [("n", "=", "a\\q")]
    assert Dataset._parse_filter_string(spark, "n = 'a\\q'") == [("n", "=", "aq")]


# literal content that reads as predicate text: conjuncts, OR, BETWEEN and
# comparisons on the table's own columns, between quotes and escapes
_PREDICATE_TEXT = st.lists(
    st.sampled_from(
        list("ab'\"\\()=; ")
        + [" AND ", " OR ", "k = 3", "k < 0", "note = ", " BETWEEN 1 AND 2"]
    ),
    min_size=0,
    max_size=10,
).map("".join)


@given(_PREDICATE_TEXT, st.integers(4, 9))
@example("a' AND k = 3 AND note = ", 5)  # the backslash-escape repro shape
@settings(max_examples=8, deadline=None)
def test_dml_with_adversarial_literal_affects_exactly_the_matching_rows(
    spark, content, k
):
    """On a table of several fragments, UPDATE and DELETE with ``note =
    <literal> AND k = K`` change exactly the rows an unpruned ``F.expr``
    filter selects, whatever SQL text the literal carries: pruning may
    skip a fragment only if it holds no matching row."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from plan_spark.dataset import Dataset

    pred = f"note = {_sql_quote(content)} AND k = {k}"
    schema = "i INT, k INT, note STRING, v INT"
    # the planted match sits in a fragment of its own k; the others hold
    # the same note under another k, and k = 3 / negative k rows that a
    # conjunct faked from the literal's text would select instead
    frags = [
        [(0, k, content, 0), (1, k, "other", 0)],
        [(2, k + 1, content, 0), (3, 3, content, 0)],
        [(4, 3, "a", 0), (5, -1, "note = ", 0)],
    ]
    d = tempfile.mkdtemp(prefix="plan_spark_dmllit_")
    try:
        ds = Dataset.create(spark, d, spark.createDataFrame(frags[0], schema))
        for rows in frags[1:]:
            ds.append(spark.createDataFrame(rows, schema))
        matched = {r.i for r in ds.to_df().filter(F.expr(pred)).collect()}
        assert 0 in matched, (pred, matched)
        ds.update({"v": "1"}, pred)
        assert {r.i for r in ds.to_df().collect() if r.v == 1} == matched, pred
        ds.delete(pred)
        assert {r.i for r in ds.to_df().collect()} == set(range(6)) - matched, pred
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_backslash_escaped_literal_deletes_and_updates_its_row(spark):
    """Regression: a literal whose escaped quote hides `AND k = 5 AND` used
    to yield a fake `k = 5` conjunct that pruned the row's fragment, so
    DELETE removed nothing and UPDATE changed nothing."""
    import os
    import shutil
    import tempfile

    from plan_spark.engine import Engine

    pred = "note = 'a\\' AND k = 5 AND note = '"
    d = tempfile.mkdtemp(prefix="plan_spark_escpred_")
    try:
        eng = Engine(spark, os.path.join(d, "wh"))
        eng.sql("CREATE TABLE esc (k INT, note STRING)")
        eng.sql("INSERT INTO esc VALUES (5, 'x'), (6, 'y')")
        eng.sql("INSERT INTO esc VALUES (9, 'a\\' AND k = 5 AND note = ')")
        assert eng.sql(f"SELECT k FROM esc WHERE {pred}").collect()[0].k == 9
        eng.sql(f"UPDATE esc SET k = 10 WHERE {pred}")
        assert sorted(r.k for r in eng.sql("SELECT k FROM esc").collect()) == [5, 6, 10]
        eng.sql(f"DELETE FROM esc WHERE {pred}")
        assert sorted(r.k for r in eng.sql("SELECT k FROM esc").collect()) == [5, 6]
    finally:
        shutil.rmtree(d, ignore_errors=True)
