"""Engine: the SQL/DataFrame entry point over a warehouse of versioned
datasets — the thin layer the reference implements as its server + catalog +
runner stack (cmd/main/main.go:63-98 plandb, pkg/storage/catalog.go:16,
pkg/compute InitRunner).

Everything heavy is delegated: parsing/binding/optimization/execution is
Catalyst (`spark.sql`), storage is the versioned dataset layer
(plan_spark.dataset). The engine owns only:

- the catalog: schema -> table -> Dataset root directory (JSON, like the
  reference's catalog entries but with Spark as the executor)
- DDL: create_schema / create_table (+ drop) — builder_ddl.go:30-92
- DML: insert values, COPY FROM parquet/csv — builder_dml.go:14-470
- query entry: sql() registers every table as a temp view and delegates
- EXPLAIN surface — explain.go:118,238
"""

from __future__ import annotations

import json
import os
import re
import threading

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from plan_spark.dataset import Dataset
from plan_spark.dataset.dataset import char_as_string
from plan_spark.session import driver_sized, parse_expression, parse_plan, plan_frame


def _witness(rows) -> str:
    """Offending-tuple text for an IntegrityError message. The witness row
    is fetched by a SECOND Spark job after the violation count: if the
    batch/source is non-deterministic between the two jobs the probe can
    come back empty — the violation verdict stands (the count proved it),
    only the message degrades instead of raising IndexError."""
    return str(tuple(rows[0])) if rows else "(witness row not reproducible)"


class IntegrityError(RuntimeError):
    """A declared constraint was violated by a write (reference: ART-index
    uniqueness enforcement rejects INSERTs with "duplicate key",
    pkg/storage/index.go:329; constraint plumbing table_constraint.go:12-51).

    Deliberately NOT a ValueError: the repo's concurrency convention treats
    ValueError from a racing write as a benign retry/ignore (see
    tests/test_concurrency_storm.py) — a constraint violation must never be
    absorbed by that handler class."""


# Column types Catalyst's ANALYZE ... FOR COLUMNS accepts (arrays/maps/structs
# are skipped — same restriction as Spark's own command).
_ANALYZABLE_TYPES = (
    "byte", "short", "int", "integer", "long", "bigint", "float", "double",
    "decimal", "string", "boolean", "date", "timestamp", "binary",
)


# a single-quoted string literal as Spark lexes it: a backslash escapes the
# next character and '' is an adjacent literal — the one literal rule of the
# statement-level regexes below, in step with _scan_top_level
_STR_LIT = r"'(?:[^'\\]|\\.|'')*'"

# a relation introduced by FROM/JOIN/, with an optional alias, preceding a
# VERSION AS OF clause — shared by the numeric and tag rewrite forms so a
# fix to one can never silently miss the other
_TT_RELATION = (
    r"(?is)(\bFROM\s+|\bJOIN\s+|,\s*)(\w+)"
    r"((?:\s+AS)?\s+(?!VERSION\b)\w+)?"
)

# an alias AFTER the version clause ("JOIN t VERSION AS OF 3 old ON ...") —
# a word that is not the SQL keyword that could legally follow a relation
_TT_KEYWORDS = (
    r"(?!ON\b|USING\b|WHERE\b|GROUP\b|ORDER\b|LIMIT\b|UNION\b|EXCEPT\b"
    r"|INTERSECT\b|JOIN\b|LEFT\b|RIGHT\b|FULL\b|INNER\b|CROSS\b|NATURAL\b"
    r"|SEMI\b|ANTI\b|HAVING\b|WINDOW\b|VERSION\b|SELECT\b|TABLESAMPLE\b"
    r"|PIVOT\b|UNPIVOT\b|LATERAL\b|MINUS\b|OFFSET\b|SORT\b|DISTRIBUTE\b"
    r"|CLUSTER\b)"
)
_TT_TRAILING_ALIAS = r"((?:\s+AS)?\s+" + _TT_KEYWORDS + r"\w+)?"


def _scan_top_level(s: str):
    """Yield (index, char, depth) for every character of ``s`` that sits at
    the TOP LEVEL of the statement: outside single- and double-quoted
    spans (both the SQL '' doubling escape and Spark's default
    backslash escapes are honored — the MERGE scanner set the precedent)
    and outside backquoted identifiers, with the running parenthesis
    depth attached. Every operand split in the statement grammar builds on
    this ONE scanner, so the quoting/escaping rules can never drift
    between statement families (a bug class that recurred while each
    family split its own way)."""
    n, i, depth = len(s), 0, 0
    quote: str | None = None
    esc = False
    while i < n:
        ch = s[i]
        if esc:
            esc = False
        elif quote:
            if ch == "\\" and quote != "`":
                esc = True
            elif ch == quote:
                if quote == "'" and i + 1 < n and s[i + 1] == "'":
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        else:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            yield i, ch, depth
        i += 1


def _unquote_sql(body: str) -> str:
    """Decode the INSIDE of a single-quoted SQL literal under Spark's
    default parser semantics: backslash escapes are live and '' doubles a
    quote. The capture regexes below must admit the same spans
    (regex class: not-quote-not-backslash | backslash-anything | '')
    itself would read."""
    out, i, n = [], 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "\\" and i + 1 < n:
            out.append(body[i + 1])
            i += 2
        elif ch == "'" and i + 1 < n and body[i + 1] == "'":
            out.append("'")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _iter_top_level_kw(s: str, kw: str):
    """Yield every index of a word-bounded, case-insensitive occurrence of
    ``kw`` outside quoted literals and parentheses. MERGE's WHEN clauses
    and CREATE TABLE's REFERENCES are found with this, never with a regex:
    a non-greedy ``(.*?)\\s+WHEN`` happily matches inside ``'a WHEN b'``."""
    kl = len(kw)
    ku = kw.upper()
    n = len(s)
    for i, ch, depth in _scan_top_level(s):
        if depth == 0 and s[i : i + kl].upper() == ku:
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
            j = i + kl
            after_ok = j >= n or not (s[j].isalnum() or s[j] == "_")
            if before_ok and after_ok:
                yield i


class _Stmt:
    """Cursor over a statement head, on the shared top-level scanner's
    quoting rules (_scan_top_level).

    Routing rule: a statement that is Spark grammar — CREATE TABLE (and
    CTAS), INSERT, UPDATE, DELETE, MERGE, CREATE INDEX, ALTER TABLE ...
    ADD COLUMN, ALTER TABLE ... ADD [CONSTRAINT name] PRIMARY KEY / UNIQUE
    / CHECK / FOREIGN KEY — is read from Spark's own parse
    (``Engine._parse``); the cursor only picks the statement family and
    reads the engine's dialect around it: a DML ``t@branch`` ref
    (``quoted_ref``), CREATE TABLE's trailing ``WITH (ENFORCE)``, and
    whether an INSERT source is VALUES (read as written) or a query (read
    in the dialect, as top-level queries are). MERGE's ``DO NOTHING``
    clauses are cut out by the top-level scanner (``_iter_top_level_kw``)
    before its parse. The cursor reads whole statements only where Spark
    cannot: the verbs it has no grammar for (COPY, OPTIMIZE, VACUUM,
    RESTORE, TAG, BRANCH, REFRESH INDEX, EXPLAIN SCAN, SHOW/DESCRIBE) and
    the forms it rejects or misreads (the other ALTER forms such as ADD
    NOT NULL, SET ENFORCE and the unnamed constraint DROPs, ``DESCRIBE
    HISTORY``).
    Keywords are word-bounded and literal-blind; expression text (SELECT
    bodies, predicates) is handed through raw via ``rest()`` /
    ``paren_body()``."""

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def error(self, what: str) -> ValueError:
        return ValueError(
            f"{what} at {self.s[self.i : self.i + 40]!r} in {self.s[:120]!r}"
        )

    def _ws(self) -> None:
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def try_kw(self, *words: str) -> bool:
        """Consume the keyword sequence (case-insensitive, word-bounded)
        if FULLY present; on a partial match nothing is consumed."""
        mark = self.i
        for w in words:
            self._ws()
            m = re.match(r"\w+", self.s[self.i :])
            if not m or m.group(0).upper() != w.upper():
                self.i = mark
                return False
            self.i += m.end()
        return True

    def kw(self, *words: str) -> None:
        if not self.try_kw(*words):
            raise self.error(f"expected {' '.join(words)}")

    def peek_word(self) -> str:
        self._ws()
        m = re.match(r"\w+", self.s[self.i :])
        return m.group(0).upper() if m else ""

    def ident(self, what: str = "identifier", pattern: str = r"\w+") -> str:
        self._ws()
        m = re.match(pattern, self.s[self.i :])
        if not m:
            raise self.error(f"expected {what}")
        self.i += m.end()
        return m.group(0)

    def number(self) -> int:
        return int(self.ident("number", r"\d+"))

    def try_punct(self, ch: str) -> bool:
        self._ws()
        if self.i < len(self.s) and self.s[self.i] == ch:
            self.i += 1
            return True
        return False

    def dotted(self) -> tuple[str | None, str]:
        """``name`` or ``schema.name`` -> (schema | None, name)."""
        a = self.ident("table/view name")
        if self.try_punct("."):
            return a, self.ident("name")
        return None, a

    def quoted_ref(self) -> tuple[str, str]:
        """Read the DML table token, ``t`` or ``t@branch`` (_dataset_ref);
        return it and the statement with it backquoted, the form in which
        Spark's grammar reads ``t@branch`` as a one-part name."""
        self._ws()
        start = self.i
        ref = self.ident("table name")
        if self.try_punct("@"):
            ref += "@" + self.ident("branch name")
        return ref, f"{self.s[:start]}`{ref}` {self.s[self.i:]}"

    def string_lit(self) -> str:
        """A single-quoted literal, decoded ('' doubling + backslashes)."""
        self._ws()
        m = re.match(_STR_LIT, self.s[self.i :])
        if not m:
            raise self.error("expected string literal")
        self.i += m.end()
        return _unquote_sql(m.group(0)[1:-1])

    def paren_body(self) -> str:
        """Raw text inside the next balanced-paren group (quote-aware)."""
        self._ws()
        if self.i >= len(self.s) or self.s[self.i] != "(":
            raise self.error("expected (")
        for j, ch, depth in _scan_top_level(self.s[self.i :]):
            if ch == ")" and depth == 0:
                body = self.s[self.i + 1 : self.i + j]
                self.i += j + 1
                return body
        raise self.error("unbalanced parentheses")

    def name_list(self, what: str) -> list[str]:
        """The next parenthesised list of plain or backquoted names."""
        names = []
        for part in _split_top_level_commas(self.paren_body()):
            part = part.strip()
            if len(part) > 1 and part[0] == part[-1] == "`":
                part = part[1:-1].replace("``", "`")
            names.append(_name(part, what))
        return names

    def has_paren(self) -> bool:
        self._ws()
        return self.i < len(self.s) and self.s[self.i] == "("

    def rest(self) -> str:
        out = self.s[self.i :].strip()
        self.i = len(self.s)
        return out

    def at_end(self) -> bool:
        self._ws()
        return self.i >= len(self.s)

    def end(self) -> None:
        if not self.at_end():
            raise self.error("unexpected trailing text")


def _split_top_level_commas(body: str) -> list[str]:
    """Split on commas outside parentheses and outside quoted literals —
    a comma inside a DELIMITER ',' literal, a "x,y" double-quoted string,
    or a parenthesised expression must not split."""
    cuts = [
        i for i, ch, depth in _scan_top_level(body) if ch == "," and depth == 0
    ]
    parts, prev = [], 0
    for c in cuts:
        parts.append(body[prev:c])
        prev = c + 1
    parts.append(body[prev:])
    return parts


def _name(name: str, what: str) -> str:
    """``name`` if it is a plain word, as engine names are; a quoted or
    nested name is refused. A multipart name passes as
    ``parts.mkString("\\n")``, so a qualified one is refused too."""
    if not re.fullmatch(r"\w+", name):
        raise ValueError(f"{what} must be a plain name, got {name!r}")
    return name


def _names(seq, what: str) -> list[str]:
    """The plain names of a JVM ``Seq[String]`` of Spark's plan, read from
    the plan itself: its printed trees elide long lists."""
    n = seq.size()
    names = seq.mkString("\n").split("\n") if n else []
    if len(names) != n:
        raise ValueError(f"{what} must be plain names, got {names}")
    return [_name(x, what) for x in names]


def _seq(seq) -> list:
    """The elements of a JVM ``Seq`` of Spark's plan."""
    return [seq.apply(i) for i in range(seq.size())]


def _attr_name(e) -> str | None:
    """The last name part of a parsed column reference (``k`` of ``s.k``),
    or None when the expression ``e`` is not one."""
    return e.nameParts().last() if e.nodeName() == "UnresolvedAttribute" else None


def _complete_references(body: str) -> str:
    """Spark 4.1's parser fails (a NullPointerException) on ``REFERENCES
    p`` without a column list, which the engine reads as the parent's
    key: the list is written as ``(`*`)`` first, which
    ``_constraint_args`` reads back as that."""
    for i in reversed(list(_iter_top_level_kw(body, "REFERENCES"))):
        q = _Stmt(body[i:])
        q.kw("REFERENCES")
        q.ident("parent table")
        if not q.has_paren():
            body = f"{body[: i + q.i]} (`*`){body[i + q.i :]}"
    return body


def _constraint_args(constraints) -> dict:
    """The PRIMARY KEY / UNIQUE / CHECK (as its source text) / FOREIGN KEY
    arguments of ``create_table`` from Spark's parsed constraints — CREATE
    TABLE's ``tableSpec().constraints()`` and ALTER TABLE ... ADD's one
    constraint alike. A constraint name is accepted and not kept; a
    characteristic ([NOT] ENFORCED, [NO]RELY) is refused, since the engine
    enforces per table (``WITH (ENFORCE)`` / ``SET ENFORCE``) and would
    otherwise ignore it."""
    out = {"primary_key": [], "unique": [], "checks": [], "foreign_keys": []}
    for c in constraints:
        ch = c.userProvidedCharacteristic()
        if ch.enforced().isDefined() or ch.rely().isDefined():
            raise ValueError(
                "unsupported constraint characteristic ([NOT] ENFORCED / [NO]RELY): "
                "constraints are enforced per table (WITH (ENFORCE) / SET ENFORCE)"
            )
        kind = c.getClass().getSimpleName()
        if kind == "PrimaryKeyConstraint":
            out["primary_key"] = _names(c.columns(), "PRIMARY KEY columns")
        elif kind == "UniqueConstraint":
            out["unique"].append(_names(c.columns(), "UNIQUE columns"))
        elif kind == "CheckConstraint":
            out["checks"].append(c.condition())
        elif kind == "ForeignKeyConstraint":
            parent = c.parentColumns()
            out["foreign_keys"].append({
                "columns": _names(c.childColumns(), "FOREIGN KEY columns"),
                "ref_table": _name(c.parentTableId().mkString("\n"), "REFERENCES table"),
                "ref_columns": None if parent.mkString("\n") == "*"
                else _names(parent, "REFERENCES columns"),
            })
    return out


def _table_args(plan) -> dict:
    """``create_table``'s arguments from Spark's CreateTable plan: the
    columns (type, COMMENT, DEFAULT as its source text, NOT NULL) and
    every column- and table-level constraint (``_constraint_args``). Spark
    marks key columns non-nullable, so a NOT NULL on a key column is the
    key's own, not a separate constraint."""
    fields, defaults, not_null = [], {}, []
    for col, *_ in json.loads(plan.toJSON())[0]["columns"]:
        name = _name(col["name"], "column name")
        if {"generationExpression", "identityColumnSpec"} & set(col):
            raise ValueError(f"unsupported generated column {name}")
        meta = dict(col["metadata"])
        if "comment" in col:
            meta["comment"] = col["comment"]
        fields.append(
            {"name": name, "type": col["dataType"], "nullable": True, "metadata": meta}
        )
        if "defaultValue" in col:
            defaults[name] = col["defaultValue"][0]["originalSQL"]
        if not col["nullable"]:
            not_null.append(name)
    args = _constraint_args(_seq(plan.tableSpec().constraints()))
    pk = args["primary_key"]
    return {
        "schema_ddl": StructType.fromJson({"fields": fields}),
        "column_defaults": defaults or None,
        "not_null": [c for c in not_null if c not in pk] or None,
        **{k: v or None for k, v in args.items()},
    }


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        broadcast_hint_bytes: int = 32 << 20,
    ):
        # Engine-scoped runtime confs (CBO below) must not leak into the
        # caller's session: SQLConf is per-SparkSession, so the Engine runs
        # on its own newSession() — same SparkContext, shared block-manager
        # cache, isolated confs and temp views. (r2 advice: conf.set on the
        # shared session silently re-enabled CBO session-wide.)
        self.spark = spark.newSession()
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)
        self._catalog_path = os.path.join(self.warehouse, "_catalog.json")
        self._catalog = self._load_catalog()
        # Stats-driven broadcast cutoff (the engine-level analogue of the
        # reference's cost-based build-side pick, optimizer_joinorder.go:30):
        # an ANALYZEd table at most this many physical bytes is registered
        # with a broadcast hint, so ad-hoc SQL joins pick the dim side
        # without per-query hints. Sized to fit executor memory at scale —
        # deliberately above autoBroadcastJoinThreshold (bytes-blind, must
        # stay conservative) because ANALYZE-backed sizes are trusted.
        self.broadcast_hint_bytes = broadcast_hint_bytes
        # (schema, table) -> dataset version whose view is registered; lets
        # sql() skip re-registering unchanged tables (and preserves cached
        # + Catalyst-ANALYZEd relations across calls).
        self._registered: dict[tuple[str, str], int] = {}
        # Cost-based optimization is scoped to the Engine (dynamic SQLConf),
        # not baked into the session (session.py): CBO's per-plan stats
        # propagation costs ~0.3 s of planning per query even without stats,
        # which the hand-shaped declared registry must not pay. Ad-hoc SQL
        # through this front door is exactly where ANALYZE-fed
        # CostBasedJoinReorder earns its keep (the reference's
        # optimizer_joinorder.go:30,469 role).
        self.spark.conf.set("spark.sql.cbo.enabled", "true")
        self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")

    # ------------------------------------------------------------- catalog
    def _load_catalog(self) -> dict:
        # sweep temp residue from writers that DIED between creating their
        # temp file and the replace — repeated crashes must not accumulate
        # junk beside the root metadata (live writers are unaffected: a
        # concurrent os.replace of a removed temp fails loudly as a race,
        # and the engine is single-process per warehouse by contract)
        base = os.path.basename(self._catalog_path)
        for fn in os.listdir(self.warehouse):
            if fn.startswith(f"{base}.tmp."):
                try:
                    os.remove(os.path.join(self.warehouse, fn))
                except OSError:
                    pass
        if os.path.exists(self._catalog_path):
            with open(self._catalog_path) as fh:
                return json.load(fh)
        return {"schemas": {"main": {"tables": {}}}}

    def _save_catalog(self) -> None:
        """Atomic catalog write (temp + rename): a crash mid-write must
        never leave torn JSON — the catalog is the engine's root metadata,
        and a torn file would brick EVERY later Engine open with a parse
        error and no recovery path. Readers see the old catalog or the
        new one."""
        import threading

        tmp = f"{self._catalog_path}.tmp.{os.getpid()}.{threading.get_ident()}"
        try:
            with open(tmp, "w") as fh:
                json.dump(self._catalog, fh, indent=1, sort_keys=True)
            os.replace(tmp, self._catalog_path)
        except BaseException:
            try:
                os.remove(tmp)  # no residue on a failed/interrupted write
            except OSError:
                pass
            raise

    def create_schema(self, name: str) -> None:
        """CREATE SCHEMA (reference builder_ddl.go:30)."""
        self._catalog["schemas"].setdefault(name, {"tables": {}})
        self._save_catalog()

    def schemas(self) -> list[str]:
        return sorted(self._catalog["schemas"])

    def tables(self, schema: str = "main") -> list[str]:
        return sorted(self._catalog["schemas"][schema]["tables"])

    def views(self, schema: str = "main") -> list[str]:
        if schema not in self._catalog["schemas"]:
            raise ValueError(f"schema {schema!r} does not exist")
        return sorted(self._catalog["schemas"][schema].get("views", {}))

    def _entry(self, table: str, schema: str) -> dict:
        try:
            return self._catalog["schemas"][schema]["tables"][table]
        except KeyError:
            raise KeyError(f"table {schema}.{table} not found") from None

    # ----------------------------------------------------------------- DDL
    def create_table(
        self,
        name: str,
        schema_ddl: str | StructType,
        schema: str = "main",
        primary_key: list[str] | None = None,
        column_defaults: dict[str, str] | None = None,
        enforce_constraints: bool = False,
        unique: list[list[str]] | None = None,
        not_null: list[str] | None = None,
        checks: list[str] | None = None,
        foreign_keys: list[dict] | None = None,
    ) -> Dataset:
        """CREATE TABLE (reference builder_ddl.go:92). ``schema_ddl`` is a
        DDL string ("a INT, b STRING") or StructType. Constraints — PRIMARY KEY,
        UNIQUE sets, NOT NULL columns, CHECK expressions (the reference's
        full constraint surface, table_constraint.go:10-16) — are recorded
        as metadata; by default they are UNENFORCED, same stance as Spark/
        the lakehouse model (at 100 TB enforced uniqueness costs a key
        join per insert). ``enforce_constraints=True`` (SQL: a trailing
        ``WITH (ENFORCE)``) opts into the reference's behavior — its ART
        index rejects duplicate-key INSERTs (pkg/storage/index.go:329):
        every INSERT/COPY/MERGE-insert then validates NULL-free PK,
        intra-batch + vs-existing uniqueness for the PK and every UNIQUE
        set (SQL semantics: rows with a NULL key component are exempt from
        UNIQUE, never from PK), NOT NULL columns, and CHECK expressions
        (violated only when the predicate is FALSE — UNKNOWN passes, per
        the standard), and FOREIGN KEYs; UPDATE and MERGE's matched UPDATE
        re-validate NOT NULL + CHECK on the post-assignment rows, and the
        FOREIGN KEYs when they assign an FK column (key columns cannot be
        reassigned). All raise IntegrityError (``_validate``). Validation is a
        distributed anti-join against the target's CURRENT snapshot (AQE
        broadcasts the small side), giving Delta-CHECK-class guarantees:
        sound under snapshot isolation for any single writer; two
        simultaneous enforced inserts of the same key are serialized only
        by the commit protocol's append ordering, not re-validated at
        commit."""
        if schema not in self._catalog["schemas"]:
            raise ValueError(f"schema {schema!r} does not exist (CREATE SCHEMA first)")
        if name in self._catalog["schemas"][schema]["tables"]:
            raise ValueError(f"table {schema}.{name} already exists")
        if name in self._catalog["schemas"][schema].get("views", {}):
            raise ValueError(f"a view named {name!r} already exists in {schema}")
        if name.startswith("__tt__"):
            raise ValueError(
                f"table name {name!r} uses the reserved __tt__ namespace "
                "(time-travel snapshot views)"
            )
        if enforce_constraints and not (
            primary_key or unique or not_null or checks or foreign_keys
        ):
            # validate BEFORE Dataset.create: raising after the directory
            # exists would brick the name (catalog never registered, but
            # create refuses the non-empty path) until manual deletion
            raise ValueError(
                "WITH (ENFORCE) requires at least one constraint "
                "(PRIMARY KEY / UNIQUE / NOT NULL / CHECK / FOREIGN KEY)"
            )
        root = os.path.join(self.warehouse, schema, name)
        struct = char_as_string(
            schema_ddl if isinstance(schema_ddl, StructType)
            else StructType.fromDDL(schema_ddl)
        )
        fks = self._check_declaration(
            name, schema, {f.name for f in struct.fields},
            {"primary_key": primary_key, "unique": unique, "not_null": not_null,
             "foreign_keys": foreign_keys},
        )
        # stable row ids on every SQL table (reference rowids.go — core
        # storage2, not an option there): Range segments cost zero storage
        # and they are what make SQL-created scalar indexes auto-routable
        # (id_col = _rowid), take_rows addressable, and the bitmap index
        # row-granular. schema= (not an empty DataFrame) so CREATE TABLE
        # is a pure metadata commit — zero Spark jobs.
        ds = Dataset.create(
            self.spark, root, schema=struct,
            column_defaults=column_defaults, row_ids=True,
        )
        self._catalog["schemas"][schema]["tables"][name] = {
            "root": root,
            "primary_key": primary_key or [],
            "enforce_pk": bool(enforce_constraints),
            "unique": [list(u) for u in (unique or [])],
            "not_null": list(not_null or []),
            "checks": list(checks or []),
            "foreign_keys": fks,
        }
        self._save_catalog()
        return ds

    def drop_table(self, name: str, schema: str = "main") -> None:
        import shutil

        entry = self._entry(name, schema)
        # RESTRICT semantics: refuse while a stored view references the
        # table under ANY of its aliases (bare name for main; the qualified
        # {schema}_{name} is the ONLY way to reference other schemas).
        # Conservative word match — a false positive is a loud, safe error;
        # a silently broken view on every later sql() call is neither.
        deps = self._view_dependents(name, schema)
        if deps:
            raise ValueError(
                f"cannot drop table {name!r}: view(s) {deps} reference it "
                "(DROP VIEW first)"
            )
        if schema == "main":
            fk_deps = [
                cname
                for cname, centry in self._catalog["schemas"]["main"]["tables"].items()
                if cname != name
                and centry.get("enforce_pk")
                and any(
                    fk["ref_table"] == name
                    for fk in centry.get("foreign_keys") or []
                )
            ]
            if fk_deps:
                raise ValueError(
                    f"cannot drop table {name!r}: enforced FOREIGN KEYs in "
                    f"{fk_deps} reference it (DROP those tables first)"
                )
        shutil.rmtree(entry["root"], ignore_errors=True)
        del self._catalog["schemas"][schema]["tables"][name]
        self._save_catalog()
        self._registered.pop((schema, name), None)
        # a dropped table's views must not keep serving the old data (the
        # bare name belongs to main only — dropping other.t must not unhook
        # main's t)
        if schema == "main":
            self.spark.catalog.dropTempView(name)
        self.spark.catalog.dropTempView(f"{schema}_{name}")

    def dataset(self, name: str, schema: str = "main") -> Dataset:
        return Dataset.open(self.spark, self._entry(name, schema)["root"])

    def _dataset_ref(self, token: str, schema: str = "main") -> Dataset:
        """Resolve a DML table token that may carry a branch suffix:
        plain ``t`` is the head handle; ``t@b`` opens EXISTING branch b for
        writing, so the commit auto-advances the ref (reference
        refs.go:17-68 — the SDK writes on a checked-out ref; branch READS
        are spelled ``VERSION AS OF 'b'``)."""
        name, _, br = token.partition("@")
        ds = self.dataset(name, schema)
        return ds.on_branch(br) if br else ds

    # ----------------------------------------------------------------- DML
    def insert_values(self, name: str, rows: list[tuple], schema: str = "main") -> None:
        """INSERT ... VALUES (reference builder_dml.go:14-208): rows are
        cast to the table schema exactly like the reference's
        CastLogicalOperatorToTypes (builder_dml.go:278)."""
        ds = self.dataset(name.partition("@")[0], schema)
        df = self.spark.createDataFrame(rows, ds.schema)
        self.insert_df(name, df, schema)

    def insert_df(self, name: str, df: DataFrame, schema: str = "main") -> None:
        ds = self._dataset_ref(name, schema)
        cast = df.select(
            *[df[f.name].cast(f.dataType) for f in ds.schema.fields]
        )
        entry = self._entry(name.partition("@")[0], schema)
        if entry.get("enforce_pk"):
            self._validate(name, entry, cast, existing=ds)
        ds.append(cast)

    def _check_declaration(
        self, name: str, schema: str, known: set[str], decl: dict,
        entry: dict | None = None,
    ) -> list[dict]:
        """The declaration check of new constraints ``decl`` (PRIMARY KEY,
        UNIQUE, NOT NULL and FOREIGN KEY lists, as catalog entries hold
        them) on table ``name`` with columns ``known``: one check for
        CREATE TABLE and ALTER TABLE ... ADD, where ``entry`` is the
        table's existing declaration. Returns ``decl``'s FOREIGN KEYs with
        their REFERENCES columns resolved (the parent's PRIMARY KEY when
        none are written). The parent must exist and its columns be real,
        or bogus metadata persists and explodes far from the statement (at
        SET ENFORCE or a later INSERT)."""
        entry = entry or {}
        pk = decl.get("primary_key") or []
        if pk and entry.get("primary_key"):
            raise ValueError(f"table {name} already has a PRIMARY KEY")
        for cols in [pk] + list(decl.get("unique") or []):
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"constraint references unknown columns {bad}")
        bad = [c for c in (decl.get("not_null") or []) if c not in known]
        if bad:
            raise ValueError(f"NOT NULL references unknown columns {bad}")
        foreign_keys = decl.get("foreign_keys") or []
        if foreign_keys and schema != "main":
            # the DML surface (and the RESTRICT scans guarding parents) is
            # main-scoped; a half-enforced FK in another schema would dodge
            # DELETE/DROP protection silently
            raise ValueError("FOREIGN KEY constraints are supported in schema main only")
        fks: list[dict] = []
        for fk in foreign_keys:
            cols = list(fk["columns"])
            ref_table = fk["ref_table"]
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"FOREIGN KEY references unknown columns {bad}")
            if ref_table == name:
                # self-referential FK (org charts etc.): the table's own
                # keys, declared before or in this statement
                ref_fields = known
                parent_pk = pk or entry.get("primary_key") or []
                parent_uniques = [
                    list(u) for u in (entry.get("unique") or []) + (decl.get("unique") or [])
                ]
            else:
                parent = self._entry(ref_table, "main")  # must exist, like any engine
                pschema = Dataset.open(self.spark, parent["root"]).schema
                ref_fields = {f.name for f in pschema.fields}
                parent_pk = parent.get("primary_key") or []
                parent_uniques = parent.get("unique") or []
            ref_cols = list(fk.get("ref_columns") or parent_pk)
            if not ref_cols:
                raise ValueError(
                    f"FOREIGN KEY REFERENCES {ref_table} needs explicit "
                    "columns (the parent declares no PRIMARY KEY)"
                )
            bad = [c for c in ref_cols if c not in ref_fields]
            if bad:
                raise ValueError(
                    f"FOREIGN KEY references unknown {ref_table} columns {bad}"
                )
            if len(cols) != len(ref_cols):
                raise ValueError(
                    f"FOREIGN KEY column count mismatch: {cols} vs {ref_cols}"
                )
            self._require_key_of_parent(ref_table, ref_cols, parent_pk, parent_uniques)
            fks.append(
                {"columns": cols, "ref_table": ref_table, "ref_columns": ref_cols}
            )
        return fks

    @staticmethod
    def _require_key_of_parent(
        ref_table: str, ref_cols: list[str], parent_pk: list[str],
        parent_uniques: list[list[str]],
    ) -> None:
        """The SQL standard's FK rule: REFERENCES columns must be the
        parent's PRIMARY KEY or a declared UNIQUE set — that is what makes
        key-VALUE matching in the RESTRICT and child-validation scans exact
        (a non-unique referenced set would make "does this key survive?"
        ambiguous across duplicate parent rows)."""
        if set(ref_cols) == set(parent_pk):
            return
        if any(set(ref_cols) == set(u) for u in parent_uniques):
            return
        raise ValueError(
            f"FOREIGN KEY must reference {ref_table}'s PRIMARY KEY or a "
            f"declared UNIQUE set; {sorted(ref_cols)} is neither"
        )

    @staticmethod
    def _any_null_pred(cols):
        """OR-of-isNull over key columns — THE null-component test every
        key/FK validation path shares (one implementation, so a future
        change to NULL-key semantics cannot diverge between them)."""
        pred = None
        for c in cols:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        return pred

    def _validate(
        self,
        name: str,
        entry: dict,
        batch: DataFrame,
        existing: Dataset | None = None,
        changed: set[str] | None = None,
    ) -> None:
        """Check that the rows of ``batch`` satisfy ``entry``'s constraints
        (reference: the ART index per unique constraint rejects violations
        with "duplicate key", pkg/storage/index.go:329; the declared
        surface is table_constraint.go:10-16), raising IntegrityError at
        the first violation in the order NOT NULL, CHECK, FOREIGN KEY,
        PRIMARY KEY, UNIQUE. Every enforced write, ADD constraint, SET
        ENFORCE and RESTORE checks its rows here.

        ONE aggregate job answers every batch-local question (each NOT
        NULL column, each CHECK, and each key set's null and distinct
        counts): a job per constraint would be a scheduler round-trip
        apiece. Witness rows, which exist only to put the offending row in
        the message, are fetched on the failure path. CHECK is violated
        only when the predicate is FALSE — NULL/UNKNOWN passes, per the SQL
        standard. Then the FK probe, then the key probe against
        ``existing``, the table the batch joins (None: the batch is all of
        the table's rows); an empty table holds no key to collide with and
        is not probed. The probe is a plain inner join so AQE broadcasts
        whichever side is small — a point INSERT never shuffles the table,
        a 1 TB COPY never tries to broadcast itself.

        ``changed`` names the columns an UPDATE or MERGE post-image
        assigns: its keys are not checked (key reassignment is refused
        before), and its FKs only when it assigns an FK column — untouched
        FK values were valid when written, and the child-vs-parent join is
        the expensive part."""
        not_null = entry.get("not_null") or []
        checks = entry.get("checks") or []
        pk = entry.get("primary_key") or []
        keysets = ([("PRIMARY KEY", list(pk))] if pk else []) + [
            ("UNIQUE", list(u)) for u in entry.get("unique") or []
        ]
        if changed is not None:
            keysets = []
        for c in not_null:
            if c not in batch.columns:
                # never skip silently: an absent constrained column means
                # the metadata and the live schema have diverged (or a
                # caller built a partial frame) — both are bugs to surface,
                # not enforcement to disable
                raise IntegrityError(
                    f"NOT NULL column {c!r} of {name} is absent from the "
                    "write batch (constraint metadata out of sync?)"
                )
        aggs = []
        for i, c in enumerate(not_null):
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn{i}"))
        for i, chk in enumerate(checks):
            aggs.append(
                F.sum(
                    (~F.coalesce(F.expr(chk), F.lit(True))).cast("long")
                ).alias(f"__ck{i}")
            )
        for i, (_, cols) in enumerate(keysets):
            np_ = self._any_null_pred(cols)
            aggs.append(F.sum(np_.cast("long")).alias(f"__kn{i}"))
            # count_distinct skips NULL inputs, and the when() maps every
            # any-NULL-component row to NULL — so this is the distinct
            # count over exactly the NULL-free rows (SQL UNIQUE's domain)
            aggs.append(
                F.count_distinct(F.when(~np_, F.struct(*cols))).alias(f"__kd{i}")
            )
        if aggs:
            # driver_sized: the count_distinct Expand costs 2 exchanges,
            # which AQE would run as 3 sequential jobs for a 1-row answer
            with driver_sized(self.spark):
                stats = batch.agg(F.count(F.lit(1)).alias("__n"), *aggs).collect()[0]
            for i, c in enumerate(not_null):
                if stats[f"__nn{i}"] or 0:
                    raise IntegrityError(f"NULL in NOT NULL column {c!r} of {name}")
            for i, chk in enumerate(checks):
                if stats[f"__ck{i}"] or 0:
                    bad = (
                        batch.filter(~F.coalesce(F.expr(chk), F.lit(True)))
                        .limit(1)
                        .collect()
                    )
                    raise IntegrityError(
                        f"CHECK ({chk}) violated on {name}: {_witness(bad)}"
                    )
            if not stats["__n"]:
                return  # an empty batch can violate no FK or key constraint
        fk_cols = {c for fk in entry.get("foreign_keys") or [] for c in fk["columns"]}
        if changed is None or fk_cols & changed:
            self._check_foreign_keys(name.partition("@")[0], entry, batch)
        if not keysets:
            return
        existing_df = (
            existing.to_df()
            if existing is not None and existing.manifest.fragments
            else None
        )
        for i, (kind, cols) in enumerate(keysets):
            self._check_key_stats(
                name, cols, kind, batch,
                stats["__n"], stats[f"__kn{i}"] or 0, stats[f"__kd{i}"], existing_df,
            )

    def _check_foreign_keys(self, base: str, entry: dict, batch: DataFrame) -> None:
        """Child-side FK validation (MATCH SIMPLE: rows with any NULL FK
        component are exempt): every complete FK tuple in the batch must
        exist in the parent's current snapshot — one anti-join witness
        probe per declared key (the parent key side is typically its PK,
        small relative to a fact batch; AQE broadcasts whichever side is
        small). Self-referential keys validate against parent UNION batch
        so a manager and their report may arrive in one INSERT."""
        for fk in entry.get("foreign_keys") or []:
            cols, ref_table = fk["columns"], fk["ref_table"]
            ref_cols = fk["ref_columns"]
            tuples = batch.select(
                *[F.col(c).alias(r) for c, r in zip(cols, ref_cols)]
            )
            pred = self._any_null_pred(ref_cols)
            tuples = tuples.filter(~pred).distinct()
            parent_df = self.dataset(ref_table).to_df().select(*ref_cols)
            if ref_table == base:
                # the batch's KEY values become parent rows on commit —
                # union them so a manager and their report can arrive in
                # one INSERT (the batch's key side, NOT its FK side)
                parent_df = parent_df.unionByName(batch.select(*ref_cols))
            # one parallel existence job on the success path (see
            # _check_key_stats: limit(1) escalates when there is no hit)
            orphans = tuples.join(parent_df, on=ref_cols, how="left_anti")
            with driver_sized(self.spark):
                n_orphan = orphans.agg(F.count(F.lit(1))).collect()[0][0]
            if n_orphan:
                # witness fetch is a SECOND job: if the source moved between
                # the two, the probe can come back empty — the violation
                # verdict stands (the count already proved it), only the
                # offending tuple in the message degrades
                with driver_sized(self.spark):
                    orphan = orphans.limit(1).collect()
                raise IntegrityError(
                    f"FOREIGN KEY violation on {base}: {tuple(cols)} = "
                    f"{_witness(orphan)} has no match in "
                    f"{ref_table}{tuple(ref_cols)}"
                )

    def _fk_children(self, parent: str) -> list[tuple[str, dict, dict]]:
        """Every ENFORCED foreign key (child table, entry, fk) that
        references ``parent`` — the set whose refs a parent-side write must
        not orphan."""
        return [
            (cname, centry, fk)
            for cname, centry in self._catalog["schemas"]["main"]["tables"].items()
            for fk in (centry.get("foreign_keys") or [])
            if centry.get("enforce_pk") and fk["ref_table"] == parent
        ]

    def _check_fk_restrict(
        self, parent: str, old_df: DataFrame, new_df: DataFrame
    ) -> None:
        """Parent-side ON DELETE RESTRICT (the only action supported, like
        most lakehouse engines), generalized to ANY statement that can
        remove key values from a referenced parent — DELETE, TRUNCATE,
        MERGE matched-DELETE, UPDATE of a referenced column, RESTORE.

        Given the parent's pre-image and post-image, a key VALUE "vanishes"
        when it is present (NULL-free) in the old image and absent from the
        new one; the statement is refused if any enforced child still
        references a vanished value. Matching by key VALUE (not row
        identity) is exactly the standard's semantics: with duplicate
        parent key rows, a key surviving in another row keeps child refs
        valid — a DELETE of one duplicate is never wrongly refused.
        Self-referential children check their POST-image refs, so rows
        removed by the same statement may reference each other freely.

        One bounded job pair per enforced child FK: the vanished-key frame
        is a distinct-project of the parent (key-sized), and the child probe
        is a limit-1 semi-join witness (AQE broadcasts the small side)."""
        for cname, centry, fk in self._fk_children(parent):
            ref_cols = fk["ref_columns"]
            pred = self._any_null_pred(ref_cols)
            vanished = (
                old_df.select(*ref_cols)
                .filter(~pred)
                .distinct()
                .join(new_df.select(*ref_cols), on=ref_cols, how="left_anti")
            )
            child_src = new_df if cname == parent else self.dataset(cname).to_df()
            refs = child_src.select(
                *[F.col(c).alias(r) for c, r in zip(fk["columns"], ref_cols)]
            ).filter(~pred)
            hits_df = refs.join(vanished, on=ref_cols, how="left_semi")
            with driver_sized(self.spark):
                n_hit = hits_df.agg(F.count(F.lit(1))).collect()[0][0]
            if n_hit:
                with driver_sized(self.spark):
                    hit = hits_df.limit(1).collect()
                raise IntegrityError(
                    f"FOREIGN KEY RESTRICT: {cname}{tuple(fk['columns'])} "
                    f"still references {parent}{tuple(ref_cols)} = "
                    f"{_witness(hit)}"
                )

    def _check_key_stats(
        self,
        name: str,
        cols: list[str],
        kind: str,
        batch: DataFrame,
        n_rows: int,
        n_null: int,
        n_dist: int,
        existing: DataFrame | None,
    ) -> None:
        """Key-constraint verdicts from precomputed batch stats: raise the
        witness-carrying IntegrityError on a violation, probe ``existing``
        (None: an empty table, or the batch is all its rows) for
        cross-batch dups."""
        keys = batch.select(*cols)
        null_pred = self._any_null_pred(cols)
        n_nonnull = n_rows - n_null
        if kind == "PRIMARY KEY" and n_null:
            bad = keys.filter(null_pred).limit(1).collect()
            raise IntegrityError(
                f"NULL in PRIMARY KEY {tuple(cols)} of {name}: {_witness(bad)}"
            )
        # SQL UNIQUE: rows with a NULL key component never collide (NULLs
        # are distinct) — they were excluded from __n_dist above and are
        # excluded from the witness probe here
        if kind != "PRIMARY KEY":
            keys = keys.filter(~null_pred)
        if n_dist < n_nonnull:
            with driver_sized(self.spark):
                dup = (
                    keys.groupBy(*cols)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") > 1)
                    .limit(1)
                    .collect()
                )
            raise IntegrityError(
                f"duplicate key in INSERT batch for {name} "
                f"{kind} {tuple(cols)}: "
                f"{tuple(dup[0])[:-1] if dup else _witness(dup)}"
            )
        if existing is None:
            return
        # success path is ONE parallel job: limit(1) under CollectLimit
        # escalates through partition batches SEQUENTIALLY (1, then 4x
        # more, ...) precisely when there is no hit — the legal-INSERT
        # case — so an existence count is strictly better there; the
        # witness row is fetched only on the rare failure path
        collided = existing.select(*cols).join(keys.distinct(), on=cols, how="inner")
        with driver_sized(self.spark):
            n_hit = collided.agg(F.count(F.lit(1))).collect()[0][0]
        if n_hit:
            with driver_sized(self.spark):
                hit = collided.limit(1).collect()
            raise IntegrityError(
                f"duplicate key: {name} already contains "
                f"{kind} {tuple(cols)} = {_witness(hit)}"
            )

    def create_view(
        self, name: str, query: str, schema: str = "main", replace: bool = False
    ) -> None:
        """CREATE [OR REPLACE] VIEW — a named stored query, persisted as SQL
        text in the catalog and re-analyzed against the CURRENT table
        versions on every registration (a view over t always reads t's
        latest data, like any SQL engine). Strictly MORE surface than the
        reference (no view statement exists in its builder_ddl.go).

        Views share the bare-name namespace with tables: collisions are
        rejected in both directions. The definition is validated (analyzed)
        at creation; storage is text-only — zero data is materialized."""
        if name.startswith("__tt__"):
            raise ValueError(
                f"view name {name!r} uses the reserved __tt__ namespace "
                "(time-travel snapshots)"
            )
        if schema not in self._catalog["schemas"]:
            raise ValueError(f"schema {schema!r} does not exist (CREATE SCHEMA first)")
        sch = self._catalog["schemas"][schema]
        if name in sch["tables"]:
            raise ValueError(f"a table named {name!r} already exists in {schema}")
        vs = sch.setdefault("views", {})
        if name in vs and not replace:
            raise ValueError(f"view {name!r} already exists (use OR REPLACE)")
        self._register_views()
        # validate with the view's OWN registrations dropped, so a
        # self-referential OR REPLACE cannot resolve against its previous
        # definition (standard engines reject self-referencing views)
        self._drop_view_temps(name, schema)
        try:
            self.spark.sql(self._prep_query(query))
        except Exception:
            # restore the previous definition's registration. The catalog is
            # unchanged, so the fixpoint's skip-when-unchanged check would
            # fire — invalidate the signature first (we just dropped this
            # view's temps outside the fixpoint).
            self._views_sig = None
            self._register_views()
            raise
        # the early check above still resolves OTHER views at their OLD
        # registrations, so an INDIRECT cycle (a -> b -> a) can pass it.
        # Commit tentatively, run the real fixpoint (which drops all view
        # temps first), and verify THIS view registered — roll back if not.
        prev = vs.get(name)
        vs[name] = {"sql": query}
        self._save_catalog()
        self._register_views()
        qual = name if schema == "main" else f"{schema}_{name}"
        try:
            self.spark.table(qual)
        except Exception:
            if prev is None:
                del vs[name]
            else:
                vs[name] = prev
            self._save_catalog()
            self._register_views()
            raise ValueError(
                f"view {name!r} definition does not resolve under the "
                "committed catalog (cyclic through another view?)"
            )

    def drop_view(self, name: str, schema: str = "main") -> None:
        if schema not in self._catalog["schemas"]:
            raise ValueError(f"schema {schema!r} does not exist")
        vs = self._catalog["schemas"][schema].get("views", {})
        if name not in vs:
            raise ValueError(f"no view named {name!r} in schema {schema}")
        deps = self._view_dependents(name, schema, skip=(schema, name))
        if deps:
            raise ValueError(
                f"cannot drop view {name!r}: view(s) {deps} reference it "
                "(DROP VIEW first)"
            )
        del vs[name]
        self._save_catalog()
        self._drop_view_temps(name, schema)

    @staticmethod
    def _check_mentions(spark: SparkSession, col: str, check_sql: str) -> bool:
        """Whether a CHECK expression references ``col``: some identifier
        in Spark's own parse of it names ``col``, compared
        case-insensitively as Spark resolves names. A name inside a literal
        is literal text, so ``status IN ('k', 'v')`` never blocks renaming
        a column k. Conservative: a qualified or nested name counts whole
        and part by part, subquery plans are searched too, and so are
        lambda variables (the parser makes every identifier in a lambda
        body one, outer columns included)."""
        want = col.lower()
        todo: list = [parse_expression(spark, check_sql)]
        while todo:
            x = todo.pop()
            if isinstance(x, list):
                todo += x
            elif isinstance(x, dict):
                if x.get("class", "").endswith(
                    (".UnresolvedAttribute", ".UnresolvedNamedLambdaVariable")
                ):
                    name = x["nameParts"][1:-1].lower()
                    if want == name or want in name.split(", "):
                        return True
                todo += x.values()
        return False

    def _view_dependents(self, name: str, schema: str, *, skip=None) -> list[str]:
        """Stored views whose SQL references the relation (table or view)
        {schema}.{name} under ANY of its referenceable aliases — the bare
        name (main only) or the qualified {schema}_{name}. Conservative
        word-match on the stored text; used for RESTRICT checks."""
        aliases = [f"{schema}_{name}"]
        if schema == "main":
            aliases.append(name)
        pat = "|".join(re.escape(a) for a in aliases)
        rx = re.compile(rf"\b(?:{pat})\b")
        return [
            f"{vs}.{vn}" if vs != "main" else vn
            for vs, sch in self._catalog["schemas"].items()
            for vn, v in sch.get("views", {}).items()
            if (vs, vn) != (skip or (None, None)) and rx.search(v["sql"])
        ]

    def _drop_view_temps(self, name: str, schema: str) -> None:
        """Unregister a view's temp views — the qualified {schema}_{name}
        alias always exists; main-schema views also own the bare name."""
        self.spark.catalog.dropTempView(f"{schema}_{name}")
        if schema == "main":
            self.spark.catalog.dropTempView(name)

    def _register_view_temps(self, df: DataFrame, name: str, schema: str) -> None:
        df.createOrReplaceTempView(f"{schema}_{name}")
        if schema == "main":
            df.createOrReplaceTempView(name)

    def copy_from(
        self,
        name: str,
        path: str,
        fmt: str = "parquet",
        schema: str = "main",
        **options,
    ) -> None:
        """COPY table FROM 'file' WITH (FORMAT ...) — reference
        builder_dml.go:325-470 / executor_scan.go:272-344. The load is a
        distributed read + append commit; CSV requires the table schema
        (no inference — reference reads typed fields, executor_scan.go:364)."""
        ds = self.dataset(name, schema)
        if fmt == "parquet":
            # spark.read.parquet runs a distributed footer-inference job
            # even for one file; the footer can be read driver-side
            # (pyarrow) instead. The pinned schema carries the FILE's own
            # types for the TABLE's columns — insert_df then casts to the
            # table types exactly as it does after inference, so semantics
            # are unchanged — and prunes extra file columns at the scan
            # (insert_df's projection drops them anyway; a wide-file ->
            # narrow-table COPY stops deserializing them at all). Bails to
            # inference when a table column is absent (must stay a loud
            # error, never all-NULL) or an arrow type is outside the
            # exactly-mapped whitelist (timestamps/nested stay on Spark's
            # own inference).
            df = None
            try:
                import pyarrow as _pa
                import pyarrow.parquet as _pq
                from pyspark.sql.pandas.types import from_arrow_schema

                cand = path
                check = None  # second footer to verify directory-wide drift
                if os.path.isdir(cand):
                    # skip '.'/'_'-prefixed entries (Spark ignores hidden/
                    # temp files — pinning one of those could pin types no
                    # visible file carries)
                    parts = sorted(
                        p
                        for p in os.listdir(cand)
                        if p.endswith(".parquet") and p[0] not in "._"
                    )
                    cand = os.path.join(cand, parts[0]) if parts else None
                    if cand is not None and len(parts) > 1:
                        check = os.path.join(cand.rsplit("/", 1)[0], parts[-1])
                if cand is not None and os.path.isfile(cand):
                    fsch = _pq.read_schema(cand)
                    if check is not None and _pq.read_schema(check) != fsch:
                        # per-file schema drift: one footer cannot speak for
                        # the directory — fall back to Spark's own inference
                        raise ValueError("parquet schema drift across files")
                    need = [f.name for f in ds.schema.fields]
                    if set(need) <= set(fsch.names):
                        sub = [fsch.field(n) for n in need]
                        ok = all(
                            _pa.types.is_integer(f.type)
                            or _pa.types.is_floating(f.type)
                            or _pa.types.is_decimal(f.type)
                            or _pa.types.is_boolean(f.type)
                            or _pa.types.is_string(f.type)
                            or _pa.types.is_large_string(f.type)
                            or _pa.types.is_binary(f.type)
                            or _pa.types.is_date32(f.type)
                            for f in sub
                        ) and not any(
                            _pa.types.is_unsigned_integer(f.type) for f in sub
                        )
                        if ok:
                            pinned = from_arrow_schema(_pa.schema(sub))
                            df = self.spark.read.schema(pinned).parquet(path)
            except Exception:
                df = None  # unreadable footer: let Spark report it
            if df is None:
                df = self.spark.read.parquet(path)
        elif fmt == "csv":
            df = self.spark.read.options(**({"header": "true"} | options)).schema(
                ds.schema
            ).csv(path)
        elif fmt in ("json", "jsonl"):
            # JSON Lines (one object per line) — the LLM-corpus interchange
            # staple. Schema-pinned like CSV: no inference pass, typed read.
            # FAILFAST: a malformed line is a loud error, never a silent
            # all-NULL row (Spark's PERMISSIVE default would insert one).
            df = (
                self.spark.read.options(**({"mode": "FAILFAST"} | options))
                .schema(ds.schema)
                .json(path)
            )
        else:
            raise ValueError(f"unsupported COPY format {fmt}")
        self.insert_df(name, df, schema)

    def copy_to(
        self,
        name: str,
        path: str,
        fmt: str = "parquet",
        schema: str = "main",
        overwrite: bool = False,
        **options,
    ) -> None:
        """COPY table TO 'dir' WITH (FORMAT parquet|csv|json [, OVERWRITE]) —
        a distributed export sink. Strictly MORE surface than the reference:
        its buildCopyTo is a stub ("usp copy to",
        pkg/compute/builder_dml.go:470-476). The write is a normal
        partitioned DataFrame write (one file per partition — at 100 TB the
        export parallelizes like any scan; no driver collect).

        An existing target path is a loud error unless ``overwrite=True``
        (SQL: the OVERWRITE option) — Spark's overwrite mode recursively
        deletes the target first, which must never be the silent default."""
        df = self.dataset(name, schema).to_df()
        mode = "overwrite" if overwrite else "errorifexists"
        if fmt == "parquet":
            df.write.mode(mode).options(**options).parquet(path)
        elif fmt == "csv":
            df.write.mode(mode).options(**({"header": "true"} | options)).csv(path)
        elif fmt in ("json", "jsonl"):
            df.write.mode(mode).options(**options).json(path)
        else:
            raise ValueError(f"unsupported COPY format {fmt}")

    # ------------------------------------------------------------- ANALYZE
    def analyze(self, name: str, schema: str = "main", cache: bool = False) -> dict:
        """ANALYZE TABLE — table/column statistics into the engine catalog
        (the reference's cardinality-estimation inputs,
        pkg/compute/optimizer_estimate.go:28; its join-order search,
        optimizer_joinorder.go:30,469, is Catalyst's CostBasedJoinReorder +
        the stats-driven broadcast hints below).

        Row count and physical bytes come from the manifest (metadata-only);
        per-column NDV/null counts are ONE distributed aggregation over the
        live rows. Stats persist in the catalog JSON keyed by the analyzed
        version, so stale stats are detectable and never applied.

        ``cache=True`` additionally caches the registered view and runs
        Catalyst's own ``ANALYZE TABLE ... FOR COLUMNS`` against it, giving
        CostBasedJoinReorder true rowCount/NDV stats (Spark only accepts
        ANALYZE on cached temp views). At 100 TB this is for dim tables
        only — never cache the fact side; the un-cached path is metadata +
        one agg and scales to any table."""
        entry = self._entry(name, schema)
        ds = self.dataset(name, schema)
        df = ds.to_df()
        m = ds.manifest
        atomic = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString().split("(")[0] in _ANALYZABLE_TYPES
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in atomic:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv__{c}"))
            aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"__nulls__{c}"))
        with driver_sized(self.spark):
            row = df.agg(*aggs).collect()[0]
        stats = {
            "analyzed_version": ds.version,
            "row_count": row["__rows"],
            "size_bytes": sum(f.bytes for f in m.fragments),
            "columns": {
                c: {"ndv": row[f"__ndv__{c}"], "nulls": row[f"__nulls__{c}"]}
                for c in atomic
            },
        }
        entry["stats"] = stats
        self._save_catalog()
        self._registered.pop((schema, name), None)  # re-register with fresh hints
        if cache:
            self._register_views()
            view = name if schema == "main" else f"{schema}_{name}"
            self.spark.catalog.cacheTable(view)
            if atomic:
                cols = ", ".join(atomic)
                self.spark.sql(f"ANALYZE TABLE {view} COMPUTE STATISTICS FOR COLUMNS {cols}")
            else:
                self.spark.sql(f"ANALYZE TABLE {view} COMPUTE STATISTICS")
        return stats

    # --------------------------------------------------------------- query
    def _prep_query(self, s: str) -> str:
        """Query-text preparation shared by every path that hands a query
        to Catalyst: time-travel clause rewrite + the reference dialect's
        double-quoted identifiers."""
        return self._rewrite_quoted_idents(self._rewrite_time_travel(s))

    @staticmethod
    def _rewrite_quoted_idents(s: str) -> str:
        """``"quoted identifier"`` → backticks. The reference's SQL dialect
        is postgres-flavored (pg parser via pg_query_go, pkg/plan/parser):
        double quotes ALWAYS delimit identifiers, never string literals —
        e.g. the TPC-DS spec texts' ``count(...) as "order count"``. Spark
        reserves double quotes for strings (unless global ANSI mode flips
        semantics for every query), so the front door rewrites them to
        Spark's backtick form. Runs only OUTSIDE single-quoted literals;
        ``""`` inside a quoted identifier is the escaped-quote form. The
        literal scan consumes backslash escapes exactly like
        _split_statements, so a ``'don\\'t'`` literal cannot desynchronize
        the boundary and let a double quote INSIDE a later string literal
        be rewritten to backticks."""
        parts = re.split(f"({_STR_LIT})", s)
        for i in range(0, len(parts), 2):
            parts[i] = re.sub(
                r'"((?:[^"]|"")*)"',
                lambda m: "`"
                + m.group(1).replace('""', '"').replace("`", "``")
                + "`",
                parts[i],
            )
        return "".join(parts)

    def _rewrite_time_travel(self, s: str) -> str:
        """``FROM t VERSION AS OF n`` (and ``VERSION AS OF 'ref'`` /
        ``TIMESTAMP AS OF 'iso-utc'``) → a registered snapshot view.

        Alias semantics (Delta-style): a relation with no alias stays
        addressable by its ORIGINAL table name — the snapshot view is
        aliased back to it — so a query that references BOTH the snapshot
        and the current table unaliased is ambiguous and must alias one
        side, exactly as standard SQL treats an unaliased self-join.

        Time travel through the SQL front door (the reference exposes it
        only via the SDK's checkout, version.go:20-42): each referenced
        (table, version) pair is materialized as a temp view named
        ``t__vN`` over ``Dataset.checkout(n).to_df()`` — a metadata-only
        manifest load; the scan itself stays lazy — and the query text is
        rewritten to use it. The rewrite runs only OUTSIDE quoted string
        literals / quoted identifiers, and only on relations introduced by
        FROM/JOIN (an unanchored ``\\w+ VERSION AS OF`` would capture a
        trailing table ALIAS and try to open the alias as a dataset)."""

        def materialize(kw: str, tbl: str, alias: str, ref) -> str:
            snap = self.dataset(tbl).checkout(ref)
            # view keyed by the RESOLVED version, not the ref text: two
            # distinct tags must never collide onto one view (sanitized
            # names like 'a.b'/'a-b' would), and two refs of the same
            # version can safely share it. The __tt__ prefix is a reserved
            # namespace: a real catalog table legally named e.g. "t__v3"
            # must never be clobbered by (or read as) the snapshot view of
            # "t" version 3 — create_table rejects the prefix, so no \w+
            # table name can collide with a snapshot view
            view = f"__tt__{tbl}__v{snap.version}"
            snap.to_df().createOrReplaceTempView(view)
            # keep the relation addressable by its original name when the
            # query gave no alias at all (SELECT t.a FROM t VERSION AS OF …)
            return f"{kw}{view}{alias or f' AS {tbl}'}"

        def repl(m: re.Match) -> str:
            # the alias may sit before OR after the version clause; emit
            # BOTH captures — if a query supplies two, Spark errors loudly
            # instead of one silently vanishing from the rewrite
            alias = (m.group(3) or "") + (m.group(5) or "")
            return materialize(m.group(1), m.group(2), alias, int(m.group(4)))

        # split on single-quoted literals ('' AND backslash escapes, same
        # scan as _split_statements) plus double-quoted identifiers,
        # rewriting only the code between them
        parts = re.split(f"({_STR_LIT}|" + r'"(?:[^"]|"")*")', s)
        for i in range(0, len(parts), 2):
            parts[i] = re.sub(
                _TT_RELATION
                + r"\s+VERSION\s+AS\s+OF\s+(\d+)\b"
                + _TT_TRAILING_ALIAS,
                repl,
                parts[i],
            )
            # tag/branch form ``VERSION AS OF 'ref'`` and the timestamp
            # form ``TIMESTAMP AS OF 'iso-ts'`` — the quoted operand is the
            # NEXT part, so the match straddles the split: the code part
            # must END with the clause for this to be a time-travel ref and
            # not a literal inside an expression
            if i + 1 >= len(parts) or not parts[i + 1].startswith("'"):
                continue
            m = re.search(
                _TT_RELATION + r"\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s*$",
                parts[i],
            )
            if not m:
                continue
            ref = parts[i + 1][1:-1].replace("''", "'")
            if m.group(4).upper() == "TIMESTAMP":
                # 'the table as of this moment' (Delta semantics): resolve
                # to the newest version committed at or before the ISO
                # timestamp, interpreted as UTC (the session timezone)
                from datetime import datetime, timezone

                try:
                    ts = (
                        datetime.fromisoformat(ref)
                        .replace(tzinfo=timezone.utc)
                        .timestamp()
                    )
                except ValueError as e:
                    raise ValueError(
                        f"TIMESTAMP AS OF needs an ISO timestamp, got {ref!r}"
                    ) from e
                ref = self.dataset(m.group(2)).version_at(ts)
            alias = m.group(3) or ""
            if not alias and i + 2 < len(parts):
                # a trailing alias at the start of the NEXT code part stays
                # in place; pass a space so materialize adds no `AS tbl`
                ta = re.match(_TT_TRAILING_ALIAS, parts[i + 2], re.I | re.S)
                if ta and ta.group(1):
                    alias = " "
            parts[i] = parts[i][: m.start()] + materialize(
                m.group(1), m.group(2), alias, ref
            )
            parts[i + 1] = ""
        return "".join(parts)

    def _register_views(self) -> None:
        """Register catalog tables as Spark temp views.

        - Bare names are reserved for the ``main`` schema; every table is
          also reachable as ``{schema}_{table}`` (two same-named tables in
          different schemas must not clobber each other).
        - Registration is skipped when the dataset version is unchanged, so
          cached/ANALYZEd relations survive across sql() calls.
        - ANALYZEd tables whose current-version stats fit under
          ``broadcast_hint_bytes`` are registered with a broadcast hint —
          stats-driven build-side selection for ad-hoc joins."""
        tables_changed = False
        for sname, s in self._catalog["schemas"].items():
            for tname, entry in s["tables"].items():
                key = (sname, tname)
                # freshness probe WITHOUT a full open: one listdir instead
                # of a manifest load + handler detect per table per
                # statement (the r8 verdict's O(tables) driver-work nit)
                probe = Dataset(self.spark, entry["root"])
                v = probe._latest_version()
                if self._registered.get(key) == v:
                    continue
                ds = Dataset.open(self.spark, entry["root"], version=v)
                tables_changed = True
                df = ds.to_df()
                st = entry.get("stats")
                if (
                    st
                    and st.get("analyzed_version") == ds.version
                    and st.get("size_bytes", 1 << 62) <= self.broadcast_hint_bytes
                ):
                    df = df.hint("broadcast")
                if sname == "main":
                    df.createOrReplaceTempView(tname)
                df.createOrReplaceTempView(f"{sname}_{tname}")
                self._registered[key] = ds.version
        # catalog views re-analyze when anything they could see changed: a
        # temp view captures its plan at creation, so a stale registration
        # would pin old table versions. The fixpoint is skipped when no
        # table re-registered this call AND the stored view set is
        # byte-identical to the last registered one — per-query cost is
        # then zero instead of O(views) Catalyst analyses.
        # All view temps are dropped BEFORE the fixpoint so a view-over-view
        # can only analyze against a dependency re-registered THIS cycle —
        # never against last cycle's (stale) plan, whatever the iteration
        # order; cycles therefore never resolve and stay unregistered.
        # A view whose definition no longer analyzes (dropped column, ...)
        # is skipped, not raised: it alone fails at query time
        # (TABLE_OR_VIEW_NOT_FOUND) while the rest of the engine keeps
        # working. drop_table/drop_view additionally RESTRICT on dependents.
        pending = [
            (sname, vname, v["sql"])
            for sname, sch in self._catalog["schemas"].items()
            for vname, v in sch.get("views", {}).items()
        ]
        views_sig = tuple(pending)
        if not tables_changed and views_sig == getattr(self, "_views_sig", None):
            return
        self._views_sig = views_sig
        for sname, vname, _ in pending:
            self._drop_view_temps(vname, sname)
        for _pass in range(max(1, len(pending))):
            if not pending:
                break
            still = []
            for sname, vname, text in pending:
                try:
                    df = self.spark.sql(self._prep_query(text))
                except Exception:
                    still.append((sname, vname, text))
                    continue
                self._register_view_temps(df, vname, sname)
            if len(still) == len(pending):
                break  # no progress: remaining views are broken/cyclic
            pending = still

    # Leading keywords that Catalyst handles directly (queries + EXPLAIN).
    _QUERY_TOKENS = frozenset({"select", "with", "values", "table", "explain"})
    # Leading keywords the engine routes to its own catalog/dataset layer.
    _STMT_TOKENS = frozenset(
        {"create", "drop", "insert", "copy", "delete", "update", "merge",
         "analyze", "alter", "optimize", "vacuum", "restore", "refresh",
         "truncate"}
    )
    # meta statements that RETURN a DataFrame (the psql \d/\dt analogues the
    # reference serves from its catalog, cmd/main/main.go REPL loop)
    _META_TOKENS = frozenset({"show", "describe", "desc"})

    @staticmethod
    def _split_statements(text: str) -> list[str]:
        """Split on ';' outside single/double-quoted literals, stripping
        ``--``-to-end-of-line comments (outside literals) so verbatim .sql
        file contents — leading dialect markers, trailing semicolons — run
        through the front door unmodified. Multi-statement input is rejected
        by sql() — this exists to DETECT it reliably, not to execute batches
        (each statement may mutate catalog state the next one reads; callers
        should sequence them explicitly)."""
        parts, buf, quote, esc = [], [], None, False
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if esc:  # backslash escape inside a literal (Spark default)
                buf.append(ch)
                esc = False
            elif quote:
                buf.append(ch)
                if ch == "\\" and quote != "`":
                    esc = True  # backslash escapes in string literals only
                elif ch == quote:
                    quote = None
            elif ch == "-" and i + 1 < n and text[i + 1] == "-":
                # line comment: skip to (not past) the newline, so the
                # newline still separates the surrounding tokens
                j = text.find("\n", i)
                i = n if j < 0 else j
                continue
            elif ch in ("'", '"', "`"):
                # backticks too: a `col--umn` identifier must never be
                # clipped by the comment stripper (Spark quotes
                # identifiers with backticks; `` doubles inside)
                quote = ch
                buf.append(ch)
            elif ch == ";":
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
            i += 1
        parts.append("".join(buf))
        return [p.strip() for p in parts if p.strip()]

    def sql(self, text: str) -> DataFrame | None:
        """SQL entry point mirroring the reference's server loop
        (cmd/main/main.go:73-98): one front door for queries AND statements.

        Routing is first-token dispatch with HARD errors: a statement whose
        leading keyword the engine owns (CREATE/DROP/INSERT/COPY/DELETE/
        UPDATE/ANALYZE/...) either matches the supported grammar exactly or
        raises ValueError — it is never silently handed to Catalyst, where
        it would see temp views instead of the versioned tables and corrupt
        nothing but return wrong answers. Unrecognized leading keywords also
        raise. Multi-statement text raises (no implicit batching).

        One grammar, Spark's: a statement Spark's parser reads — CREATE
        TABLE (and CTAS), INSERT, UPDATE, DELETE, MERGE, CREATE INDEX,
        ALTER TABLE ... ADD COLUMN, ALTER TABLE ... ADD PRIMARY KEY /
        UNIQUE / CHECK / FOREIGN KEY — is read from its parse (``_parse``),
        and text that parse refuses raises ValueError with Spark's
        ParseException chained. The statement cursor (``_Stmt``) reads only
        the engine's own verbs and dialect forms (COPY, OPTIMIZE, VACUUM,
        RESTORE, TAG, BRANCH, REFRESH INDEX, EXPLAIN SCAN, SHOW/DESCRIBE,
        the other ALTER forms such as ADD NOT NULL, SET ENFORCE and the
        constraint DROPs, ``t@branch`` refs, ``WITH (ENFORCE)``); of MERGE,
        only its DO NOTHING clauses are cut out by the scanner before the
        parse.

        CHAR(n) and VARCHAR(n) columns — in CREATE TABLE, CTAS and ADD
        COLUMN — are stored as STRING, as DuckDB stores them: no padding,
        no length check.

        Queries (SELECT/WITH/VALUES/TABLE/EXPLAIN): every catalog table is
        registered as a view and the text is delegated to Catalyst (the
        reference's parse/bind/optimize/execute, SURVEY.md §3.1 steps 3-9,
        collapsed into one call). A SELECT whose parse is Project, Filter
        and Limit nodes over one main-schema table skips the views when its
        read is statement-sized (``_driver_select``): the table's rows the
        WHERE conjuncts' row groups admit are read here, on the driver, and
        Spark runs the parsed query over them as a local relation — no
        Spark job. That read moves into this call, which a lazy view scan
        defers to the first action. Expression and query text inside a
        statement reaches Catalyst as written — the engine never grows its
        own expression parser."""
        return self._sql(text)

    def _sql(self, text: str, driver_reads: bool = True) -> DataFrame | None:
        """sql(); ``driver_reads=False`` plans every query over the views."""
        stmts = self._split_statements(text)
        if not stmts:
            raise ValueError("empty SQL text")
        if len(stmts) > 1:
            raise ValueError(
                f"multi-statement text is not supported (got {len(stmts)} "
                "statements); run them one sql() call at a time"
            )
        s = stmts[0]
        ft = re.match(r"\w+", s)
        first = ft.group(0).lower() if ft else ""
        if first == "explain":
            # EXPLAIN SCAN t [WHERE pred] — the scan planner's index-
            # selection trace as a result set (reference IndexSelector
            # observability, index_selector.go:36-78); any other EXPLAIN
            # falls through to Catalyst's plan output below
            p = _Stmt(s)
            if p.try_kw("EXPLAIN", "SCAN"):
                if p.peek_word().upper() == "SELECT":
                    return self._explain_scan(query=p.rest())
                tbl = p.ident("table name")
                pred = p.rest() if p.try_kw("WHERE") else None
                p.end()
                return self._explain_scan(tbl, pred or None)
        if first in self._QUERY_TOKENS:
            df = self._driver_select(s) if driver_reads and first == "select" else None
            if df is not None:
                return df
            self._register_views()
            s = self._prep_query(s)
            return self.spark.sql(s)
        if first in self._META_TOKENS:
            return self._stmt_meta(s)
        if first not in self._STMT_TOKENS:
            raise ValueError(
                f"unsupported statement {first!r}: expected one of "
                f"{sorted(self._QUERY_TOKENS | self._STMT_TOKENS | self._META_TOKENS)}"
            )
        handler = getattr(self, f"_stmt_{first}")
        handler(s)
        return None

    # the plan nodes a SELECT may stack over its one table and still take
    # the driver scan; Catalyst runs each over a local relation on the driver
    _LOCAL_NODES = ("Project", "Filter", "GlobalLimit", "LocalLimit", "SubqueryAlias")

    def _select_shape(self, s: str):
        """(table, WHERE conjuncts, plan nodes over the table, top first)
        of a SELECT whose Spark parse is ``_LOCAL_NODES`` over one plain
        main-schema table with no subquery; else why not, as a string. The
        conjuncts (Dataset._conjuncts) are those of the Filters right over
        the table or its alias: a Filter over a Project or a Limit tests
        that node's output, not the table's rows."""
        try:
            plan = parse_plan(self.spark, self._rewrite_quoted_idents(s))
        except ParseException:
            return "Spark cannot parse it"
        chain, node = [], plan
        while node.nodeName() in self._LOCAL_NODES:
            chain.append(node)
            node = node.child()
        if node.nodeName() != "UnresolvedRelation":
            return f"{node.nodeName()} under {'/'.join(self._LOCAL_NODES)}"
        pattern = self.spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        if plan.containsPattern(pattern.PLAN_EXPRESSION()):
            return "a subquery reads another relation"
        parts = _seq(node.multipartIdentifier())
        if len(parts) != 1 or parts[0] not in self._catalog["schemas"]["main"]["tables"]:
            return f"{'.'.join(parts)} is not a main-schema table"
        filters = []
        for i, n in enumerate(reversed(chain)):
            if n.nodeName() == "Filter":
                filters += Dataset._conjuncts(json.loads(n.condition().toJSON()))
            elif i > 0 or n.nodeName() != "SubqueryAlias":
                break
        return parts[0], filters, chain

    def _driver_select(self, s: str) -> DataFrame | None:
        """The SELECT ``s`` run over a local relation of its table's
        statement-sized read (Dataset.statement_scan): that relation takes
        the place of the table in Spark's own parse, which then runs as
        parsed (``plan_frame``), so the text is never rewritten and Spark
        evaluates every clause. None, with no view registered, when the
        query's shape or the read's size does not qualify."""
        shape = self._select_shape(s)
        if isinstance(shape, str):
            return None
        name, filters, chain = shape
        local = self.dataset(name).statement_scan(filters)
        if local is None:
            return None
        plan = local.alias(name)._jdf.queryExecution().analyzed()
        to_seq = self.spark._jvm.org.apache.spark.api.python.PythonUtils.toSeq
        for node in reversed(chain):
            plan = node.withNewChildren(to_seq([plan]))
        return plan_frame(self.spark, plan)

    # ------------------------------------------------- statement handlers
    _QUERY_HEADS = ("SELECT", "WITH", "TABLE", "VALUES")

    def _parse(self, text: str, *kinds: str):
        """``parse_plan(text)``, the engine's one call of it: text Spark
        cannot parse, or reads as other than one of the plan nodes
        ``kinds``, raises ValueError (Spark's ParseException chained).
        PySpark logs a ParseException that carries a query context (a
        refusal by Spark's AST builder, such as a MERGE without WHEN) as
        an ERROR record with the JVM stack trace; the caller gets the
        ValueError instead, so that logger drops this thread's records for
        the parse."""
        log = PySparkLogger.getLogger("SQLQueryContextLogger")
        me = threading.get_ident()

        def others(record) -> bool:
            return record.thread != me

        log.addFilter(others)
        try:
            plan = parse_plan(self.spark, text)
        except ParseException as e:
            msg = str(e).strip().splitlines()[0]
            raise ValueError(f"unsupported statement {text[:120]!r}: {msg}") from e
        finally:
            log.removeFilter(others)
        if plan.nodeName() not in kinds:
            raise ValueError(f"unsupported statement {text[:120]!r}")
        return plan

    def _stmt_create(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("CREATE")
        if p.try_kw("SCHEMA"):
            name = p.ident("schema name")
            p.end()
            self.create_schema(name)
            return
        replace = p.try_kw("OR", "REPLACE")
        if p.try_kw("VIEW"):
            schema_name, name = p.dotted()
            p.kw("AS")
            if p.peek_word() not in self._QUERY_HEADS:
                raise p.error("expected a query after AS")
            self.create_view(
                name, p.rest(), schema=schema_name or "main", replace=replace
            )
            return
        if replace:
            raise p.error("OR REPLACE applies to CREATE VIEW only")
        if p.peek_word() == "TAG":
            self._stmt_tag(s)
            return
        if p.try_kw("BRANCH"):
            # CREATE BRANCH b ON t [AS OF VERSION n] — a mutable named ref
            # (reference refs.go:17-68; tags are immutable-by-convention, a
            # branch is a moving pointer that commits through its handle
            # auto-advance). Branch READS go through VERSION AS OF 'b';
            # branch-targeted WRITES spell the table as t@b in INSERT/
            # DELETE/UPDATE (routed through _dataset_ref).
            b = p.ident("branch name")
            p.kw("ON")
            ds = self.dataset(p.ident("table name"))
            if p.try_kw("AS", "OF", "VERSION"):
                ds = ds.checkout(p.number())
            p.end()
            ds.branch(b)
            return
        if p.try_kw("INDEX"):
            # CREATE INDEX idx ON t USING kind (col[, col2]) — transactional
            # index creation on the versioned table (reference
            # index_transaction.go; the SDK's CreateIndex surfaced through
            # the SQL front door). Two columns only for rtree (x, y).
            plan = self._parse(s, "CreateIndex")
            kind = plan.indexType().lower()
            if not kind:
                raise ValueError(f"CREATE INDEX expected USING <kind>: {s[:120]!r}")
            spec = _seq(plan.columns())
            if plan.ignoreIfExists() or any(
                not o.isEmpty() for o in [plan.properties()] + [c._2() for c in spec]
            ):
                raise ValueError(f"unsupported CREATE INDEX form: {s[:120]!r}")
            tbl = _name(plan.table().multipartIdentifier().mkString("\n"), "table name")
            cols = [_name(c._1().name().mkString("\n"), "index column") for c in spec]
            if len(cols) > 2:
                raise ValueError(
                    f"CREATE INDEX takes one column (two for rtree), "
                    f"got ({', '.join(cols)})"
                )
            if len(cols) == 2 and kind != "rtree":
                raise ValueError(
                    f"CREATE INDEX USING {kind}: only rtree takes two "
                    f"columns, got ({', '.join(cols)})"
                )
            self.dataset(tbl).create_index(
                _name(plan.indexName(), "index name"), kind=kind,
                column=",".join(cols),
            )
            self._registered.pop(("main", tbl), None)
            return
        if p.try_kw("TABLE"):
            schema_name, name = p.dotted()
            if p.try_kw("AS"):
                # CTAS (reference builder_ddl.go CTAS path): derive the
                # schema from the query result, create, insert — one
                # statement, two commits
                if schema_name is not None:
                    raise p.error("CTAS takes an unqualified table name")
                self._register_views()
                # statement-embedded queries take the same time-travel and
                # "ident" rewrite as top-level ones (VERSION AS OF inside a
                # CTAS); the query runs as parsed
                plan = self._parse(self._prep_query(s), "CreateTableAsSelect")
                df = plan_frame(self.spark, plan.query())
                ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields
                )
                self.create_table(name, ddl)
                self.insert_df(name, df)
                return
            head = s[: p.i]
            text = f"{head}({_complete_references(p.paren_body())})"
            # trailing WITH (ENFORCE) opts into PK validation (reference
            # pkg/storage/index.go:329 rejects duplicate keys; opt-in
            # because enforced uniqueness costs a key-join per insert) —
            # engine dialect, so the cursor reads it and Spark parses the
            # statement without it
            enforce = False
            if p.try_kw("WITH"):
                if p.paren_body().strip().upper() != "ENFORCE":
                    raise p.error("expected WITH (ENFORCE)")
                enforce = True
            p.end()
            plan = self._parse(text, "CreateTable")
            # DEFAULT expr (builder_ddl.go declared defaults): recorded in
            # the manifest, consumed by INSERT column-list resolution and
            # emitted back by SHOW CREATE TABLE (round-trip DDL)
            self.create_table(
                name,
                schema=schema_name or "main",
                enforce_constraints=enforce,
                **_table_args(plan),
            )
            return
        raise ValueError(f"unsupported CREATE statement: {s[:120]!r}")

    def _stmt_drop(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("DROP")
        if p.peek_word() == "TAG":
            self._stmt_tag(s)
            return
        if p.try_kw("BRANCH"):
            # branches and tags share the refs namespace (refs.go:17-68);
            # dropping un-pins the version for vacuum like any ref
            b = p.ident("branch name")
            p.kw("ON")
            tbl = p.ident("table name")
            p.end()
            self.dataset(tbl).delete_tag(b)
            return
        if p.try_kw("INDEX"):
            idx = p.ident("index name")
            p.kw("ON")
            tbl = p.ident("table name")
            p.end()
            self.dataset(tbl).drop_index(idx)
            return
        if p.try_kw("VIEW"):
            schema_name, name = p.dotted()
            p.end()
            self.drop_view(name, schema=schema_name or "main")
            return
        if p.try_kw("TABLE"):
            name = p.ident("table name")
            p.end()
            self.drop_table(name)
            return
        raise ValueError(f"unsupported DROP statement: {s[:120]!r}")

    def _reorder_for_insert(
        self, name: str, df: DataFrame, listed: list[str] | None
    ) -> DataFrame:
        """Bind an insert source to the table schema. With an explicit
        column list ``(a, c)`` the source binds positionally to THOSE
        columns and every omitted column takes the table's declared DEFAULT
        (manifest column_defaults; NULL when none) — the reference's
        defaults-resolution insert path (builder_dml.go:278, SURVEY §2.1
        'defaults resolution'). Without a list, positional bind to the full
        schema as before."""
        ds = self._dataset_ref(name)
        fields = ds.schema.fieldNames()
        if listed is None:
            if set(df.columns) == set(fields):
                return df  # named source (SELECT output): insert_df binds by name
            if len(df.columns) != len(fields):
                raise ValueError(
                    f"INSERT supplies {len(df.columns)} columns; table "
                    f"{name!r} has {len(fields)}"
                )
            return df.toDF(*fields)  # anonymous source (VALUES): positional
        unknown = [c for c in listed if c not in fields]
        if unknown:
            raise ValueError(f"INSERT column(s) {unknown} not in table {name!r}")
        if len(set(listed)) != len(listed):
            raise ValueError(f"INSERT column list repeats a column: {listed}")
        if len(df.columns) != len(listed):
            raise ValueError(
                f"INSERT supplies {len(df.columns)} values for "
                f"{len(listed)} listed columns"
            )
        df = df.toDF(*listed)
        defaults = ds.manifest.column_defaults
        by_name = {f.name: f for f in ds.schema.fields}
        exprs = []
        for fname in fields:
            if fname in listed:
                exprs.append(F.col(fname))
            else:
                dval = defaults.get(fname, "NULL")
                exprs.append(
                    F.expr(dval).cast(by_name[fname].dataType).alias(fname)
                )
        return df.select(*exprs)

    def _stmt_insert(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("INSERT")
        p.kw("INTO")
        name, text = p.quoted_ref()
        if p.has_paren():
            p.paren_body()
        values = p.peek_word() == "VALUES"
        # a query is read in the dialect (time travel, "x" names a column),
        # as a top-level query is; VALUES as written ("x" is a string)
        plan = self._parse(text if values else self._prep_query(text), "InsertIntoStatement")
        if plan.byName() or not plan.partitionSpec().isEmpty():
            raise ValueError(f"unsupported INSERT form: {s[:120]!r}")
        src = plan.query()
        if src.nodeName() not in ("LocalRelation", "UnresolvedInlineTable") or src.containsPattern(
            self.spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION()
        ):
            # a bare VALUES list reads no table view unless a subquery in it
            # does; a query, a VALUES-led set operation included, reads them
            self._register_views()
        cols = _names(plan.userSpecifiedCols(), "INSERT columns") or None
        # the source runs as parsed (VALUES text can be long); VALUES is a
        # local relation, which lands as one fragment written by the driver
        src = plan_frame(self.spark, src)
        self.insert_df(name, self._reorder_for_insert(name, src, cols))

    def _stmt_copy(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("COPY")
        name = p.ident("table name")
        if p.try_kw("FROM"):
            direction = "FROM"
        elif p.try_kw("TO"):
            direction = "TO"
        else:
            raise p.error("expected FROM or TO")
        path = p.string_lit()  # '' doubling + backslash escapes decoded
        opts = p.paren_body() if p.try_kw("WITH") else ""
        p.end()
        fmt = "parquet"
        options = {}
        overwrite = False
        # options parse per top-level comma part with the cursor, so a
        # DELIMITER ',' literal can never split or fake another option
        for part in _split_top_level_commas(opts):
            part = part.strip()
            if not part:
                continue
            q = _Stmt(part)
            if q.try_kw("FORMAT"):
                fmt = (
                    q.string_lit() if not q.peek_word() else q.ident("format")
                ).lower()
                q.end()
            elif q.try_kw("DELIMITER"):
                options["sep"] = q.string_lit()
                q.end()
            elif q.try_kw("OVERWRITE"):
                q.end()
                overwrite = True
            else:
                raise q.error("unsupported COPY option")
        if direction == "FROM":
            if overwrite:
                raise ValueError(
                    "OVERWRITE is a COPY TO option; COPY FROM always appends"
                )
            self.copy_from(name, path, fmt=fmt, **options)
        else:
            self.copy_to(name, path, fmt=fmt, overwrite=overwrite, **options)

    def _stmt_merge(self, s: str) -> None:
        """MERGE INTO t [[AS] a] USING (query) | src [[AS] b] ON k | a.k =
        b.k [AND ...] WHEN MATCHED THEN (UPDATE SET * | UPDATE SET c = b.c
        [, ...] | DELETE | DO NOTHING) WHEN NOT MATCHED THEN (INSERT * | DO
        NOTHING) — the SQL face of Dataset.merge_insert covering the
        reference's full WhenMatched x WhenNotMatched matrix (reference
        merge_insert.go:19-134; the assignment SET form is
        MatchedUpdateColumns, merge_insert.go:97). ON takes bare key
        columns or equality conjuncts on same-named columns.

        The statement is read from Spark's parse, its source run as
        parsed. DO NOTHING (MatchedDoNothing / NotMatchedSkip,
        merge_insert.go:37,47) is the reference dialect's spelling, which
        Spark has no grammar for: those clauses are cut out at the
        top-level WHEN boundaries first (a WHEN inside parentheses or a
        quoted literal is not one)."""
        cut = list(_iter_top_level_kw(s, "WHEN"))
        text, nothing = s, {"MATCHED": 0, "NOT MATCHED": 0}
        for a, b in reversed(list(zip(cut, cut[1:] + [len(s)]))):
            m = re.fullmatch(r"(?is)WHEN\s+(NOT\s+)?MATCHED\s+THEN\s+DO\s+NOTHING\s*", s[a:b])
            if m:
                nothing["NOT MATCHED" if m.group(1) else "MATCHED"] += 1
                text = text[:a] + text[b:]
        # Spark refuses a MERGE without a WHEN clause: one that does
        # nothing on both sides is read with a stand-in action, dropped
        # below, so its target, source and ON are checked all the same
        stand_in = bool(cut) and len(cut) == sum(nothing.values())
        if stand_in:
            text += " WHEN MATCHED THEN DELETE"
        self._register_views()
        # the statement is read in the dialect (time travel, "x" names a
        # column), as a top-level query is
        plan = self._parse(self._prep_query(text), "MergeIntoTable")
        matched = [] if stand_in else _seq(plan.matchedActions())
        not_matched = _seq(plan.notMatchedActions())
        for side, acts in (("MATCHED", matched), ("NOT MATCHED", not_matched)):
            if len(acts) + nothing[side] > 1:
                raise ValueError(f"duplicate WHEN {side} clause")
        if (
            plan.withSchemaEvolution()
            or plan.notMatchedBySourceActions().nonEmpty()
            or any(a.condition().isDefined() for a in matched + not_matched)
        ):
            raise ValueError(
                "unsupported MERGE form (WITH SCHEMA EVOLUTION, WHEN NOT "
                f"MATCHED BY SOURCE or a WHEN ... AND condition): {s[:120]!r}"
            )
        target = plan.targetTable()
        if target.nodeName() == "SubqueryAlias":
            target = target.child()
        if target.nodeName() != "UnresolvedRelation":
            raise ValueError(f"unsupported MERGE target: {s[:120]!r}")
        tgt = _name(target.multipartIdentifier().mkString("\n"), "MERGE target table")
        source = plan_frame(self.spark, plan.sourceTable())

        def conjuncts(e) -> list:
            if e.nodeName() == "And":
                return conjuncts(e.left()) + conjuncts(e.right())
            return [e]

        keys = []
        for e in conjuncts(plan.mergeCondition()):
            # ON k is the key shorthand; a.k = b.k joins same-named columns
            key = None
            if e.nodeName() == "UnresolvedAttribute" and e.nameParts().size() == 1:
                key = _attr_name(e)
            elif e.nodeName() == "EqualTo" and _attr_name(e.left()) == _attr_name(e.right()):
                key = _attr_name(e.left())
            if key is None:
                raise ValueError(
                    f"MERGE ON must be same-named equality conjuncts: {e.toString()}"
                )
            keys.append(_name(key, "MERGE ON key"))
        when_matched = update_columns = when_not_matched = None
        for a in matched:
            kind = a.nodeName()
            when_matched = "delete" if kind == "DeleteAction" else "update"
            if kind == "UpdateAction":
                # UpdateColumns subset (reference merge_insert.go:97): each
                # assignment takes the same-named source column (arbitrary
                # expressions are the UPDATE statement's job)
                update_columns = []
                for x in _seq(a.assignments()):
                    col = _attr_name(x.key())
                    if col is None or _attr_name(x.value()) != col:
                        raise ValueError(
                            "MERGE UPDATE SET takes * or same-named src "
                            f"assignments (c = s.c); got {x.toString()}"
                        )
                    update_columns.append(_name(col, "MERGE UPDATE SET column"))
        for a in not_matched:
            if a.nodeName() != "InsertStarAction":
                raise ValueError(
                    f"MERGE WHEN NOT MATCHED takes INSERT * or DO NOTHING: {s[:120]!r}"
                )
            when_not_matched = "insert"
        upd_cols = (
            update_columns
            if update_columns is not None
            else [c for c in source.columns if c not in keys]
        )

        def matched_post_image(old: DataFrame) -> DataFrame:
            """The target rows a matched UPDATE rewrites, with the updated
            columns replaced by the source's values — merge_insert's
            post-image of the matched rows. Shared by the NOT NULL/CHECK/FK
            and the RESTRICT checks."""
            cols = [c for c in upd_cols if c in old.columns]
            src_r = source.select(
                *keys, *[F.col(c).alias(f"__src_{c}") for c in cols]
            )
            out = old.join(src_r, on=keys, how="inner")
            for c in cols:
                out = out.withColumn(c, F.col(f"__src_{c}")).drop(f"__src_{c}")
            return out

        entry = self._entry(tgt, "main")
        pk = entry.get("primary_key") or []
        if entry.get("enforce_pk"):
            # matched-UPDATE can only move a PK column when ON doesn't pin
            # it (ON k = k makes SET pk = s.pk a no-op); refuse the case
            # that could silently mint duplicates
            # ... and the same for every UNIQUE set: a matched-update that
            # rewrites a unique column to a source value can mint a
            # duplicate against OTHER rows — no bounded probe can clear it
            # without a post-update full-table recheck, so refuse unless
            # ON pins the set (making the assignment a no-op)
            for key_set, kname in [(pk, "PRIMARY KEY")] + [
                (u, "UNIQUE") for u in entry.get("unique") or []
            ]:
                touches = key_set and when_matched == "update" and (
                    update_columns is None
                    or any(c in update_columns for c in key_set)
                )
                if touches and not set(key_set) <= set(keys):
                    raise IntegrityError(
                        f"MERGE into enforced table {tgt} may reassign "
                        f"{kname} {tuple(key_set)} columns only when ON "
                        "covers the key"
                    )
            if (pk or entry.get("unique")) and when_matched == "update":
                # matched-UPDATE is a left join on the ON keys: duplicate
                # source keys FAN OUT the matched target row (dataset.py
                # merge_insert), minting duplicate PK rows — refuse before
                # the write, same duplicate-key stance as INSERT
                # existence first (one parallel job): total vs distinct key
                # count; the witness groupBy runs on the failure path only
                with driver_sized(self.spark):
                    tot, dist = source.agg(
                        F.count(F.lit(1)),
                        F.count_distinct(F.struct(*keys)),
                    ).collect()[0]
                if tot > dist:
                    with driver_sized(self.spark):
                        dup = (
                            source.groupBy(*keys)
                            .agg(F.count(F.lit(1)).alias("__n"))
                            .filter(F.col("__n") > 1)
                            .limit(1)
                            .collect()
                        )
                    raise IntegrityError(
                        f"duplicate key in MERGE source for enforced table "
                        f"{tgt} ON {tuple(keys)}: "
                        f"{tuple(dup[0])[:-1] if dup else _witness(dup)} "
                        "(matched-UPDATE would fan out the target row)"
                    )
            if when_matched == "update":
                # validate the POST-update matched rows (key reassignment
                # was refused above)
                self._validate(
                    tgt, entry, matched_post_image(self.dataset(tgt).to_df()),
                    changed=set(upd_cols),
                )
            if when_not_matched == "insert":
                ds = self.dataset(tgt)
                inserts = source.join(
                    ds.to_df().select(*keys).distinct(), on=keys, how="left_anti"
                )
                # ON == PK already guarantees no collision with existing
                # rows (inserts are the anti-join) — but NULL-free and
                # intra-source uniqueness still need the checks; for
                # ON != PK the full three-way validation applies
                self._validate(tgt, entry, inserts, existing=ds)
        if when_matched == "update" and self._fk_children(tgt):
            ref_touched = any(
                c in upd_cols
                for _, _, fk in self._fk_children(tgt)
                for c in fk["ref_columns"]
            )
            if ref_touched:
                # matched-UPDATE reassigning a column an enforced child's
                # FK references can remove key VALUES from the parent — a
                # RESTRICT event. Child-driven: runs whether or not the
                # parent itself is enforced (the enforced-parent guards
                # above don't cover an unenforced parent with enforced
                # children — the same gap _stmt_update closes). Post-image
                # = untouched rows ∪ matched rows with the source's values
                # substituted, merge_insert's exact semantics.
                old = self.dataset(tgt).to_df()
                untouched_m = old.join(
                    source.select(*keys).distinct(), on=keys, how="left_anti"
                )
                self._check_fk_restrict(
                    tgt, old, untouched_m.unionByName(matched_post_image(old))
                )
        if when_matched == "delete" and self._fk_children(tgt):
            # matched-DELETE on a referenced parent takes the same RESTRICT
            # scan as DELETE: the post-image drops the rows whose ON keys
            # match the source. Rows added by a WHEN NOT MATCHED INSERT in
            # the same statement are conservatively NOT counted as
            # survivors — a refusal here is loud and safe, never silent.
            old = self.dataset(tgt).to_df()
            new = old.join(source.select(*keys).distinct(), on=keys, how="left_anti")
            self._check_fk_restrict(tgt, old, new)
        self.dataset(tgt).merge_insert(
            source, keys, when_matched=when_matched,
            when_not_matched=when_not_matched, update_columns=update_columns,
        )

    def _stmt_delete(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("DELETE")
        p.kw("FROM")
        name, text = p.quoted_ref()
        plan = self._parse(text, "DeleteFromTable")
        if plan.table().nodeName() != "UnresolvedRelation":
            raise ValueError(f"unsupported DELETE form (table alias?): {s[:120]!r}")
        # nothing but the WHERE clause follows the table; without one the
        # condition is a made-up TRUE with no source text
        pred = None
        if plan.condition().origin().startIndex().isDefined():
            p.kw("WHERE")
            pred = p.rest()
        ds = self._dataset_ref(name)
        base = name.partition("@")[0]
        # branch-targeted deletes (t@b) validate like head deletes: this
        # engine's branches are refs into ONE shared version log (a branch
        # commit advances head), so the doomed rows leave the head view too
        if self._fk_children(base):
            old = ds.to_df()
            # survivors keep rows where the predicate is FALSE or UNKNOWN
            # (SQL DELETE removes only rows where WHERE is TRUE)
            new = old.filter(~F.coalesce(F.expr(pred or "true"), F.lit(False)))
            self._check_fk_restrict(base, old, new)
        # WHERE-less form deletes every row (builder_dml.go's unconditional
        # delete path) — the table and its history stay
        ds.delete(pred or "true")

    def _stmt_truncate(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("TRUNCATE")
        p.try_kw("TABLE")
        name = p.ident("table name")
        p.end()
        if self._fk_children(name):
            old = self.dataset(name).to_df()
            self._check_fk_restrict(name, old, old.limit(0))
        # delete-all as a normal versioned commit: the history (and any
        # tagged snapshots) survive — time travel still reaches old rows
        self.dataset(name).delete("true")

    def _stmt_update(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("UPDATE")
        name, text = p.quoted_ref()
        plan = self._parse(text, "UpdateTable")
        sets = _seq(plan.assignments())
        keys = [
            _name(a.key().nameParts().mkString("\n"), "UPDATE SET column")
            for a in sets
        ]
        # every Assignment's origin is the whole SET list (an expression
        # node's may cover only its operator part, so values are not cut
        # by theirs): it splits into exactly one `key = value` per
        # assignment, and a WHERE clause is all that can follow it
        origin = sets[0].origin()
        start, end = origin.startIndex().get(), origin.stopIndex().get() + 1
        parts = _split_top_level_commas(text[start:end])
        if len(parts) != len(keys):
            raise ValueError(f"unsupported UPDATE SET list: {s[:120]!r}")
        assignments = {k: a.split("=", 1)[1].strip() for k, a in zip(keys, parts)}
        pred = "true"
        if plan.condition().isDefined():
            q = _Stmt(text[end:])
            q.kw("WHERE")
            pred = q.rest()

        def post_image(full: DataFrame) -> DataFrame:
            """The rows of ``full`` the UPDATE matches, with every
            assignment evaluated against the OLD row — one select, exactly
            Dataset.update's post-image (a chained withColumn would check
            a different post-image than the one that commits). Shared by
            the NOT NULL/CHECK/FK and the RESTRICT checks."""
            assigned = {c: F.expr(e) for c, e in assignments.items()}
            return full.filter(F.expr(pred)).select(
                *[assigned.get(c, F.col(c)).alias(c) for c in full.columns]
            )

        entry = self._entry(name.partition("@")[0], "main")
        if entry.get("enforce_pk"):
            keyed = (entry.get("primary_key") or []) + [
                c for u in (entry.get("unique") or []) for c in u
            ]
            hit = [c for c in keyed if c in assignments]
            if hit:
                # conservative: reassigning a key column could mint
                # duplicates mid-rewrite; the reference re-indexes under
                # its MVCC lock — here the supported path is
                # DELETE + INSERT (each validated)
                raise IntegrityError(
                    f"UPDATE on enforced table {name} may not reassign "
                    f"key columns {hit} (DELETE + INSERT instead)"
                )
            # validate the POST-assignment rows before the commit
            self._validate(
                name, entry, post_image(self._dataset_ref(name).to_df()),
                changed=set(assignments),
            )
        base = name.partition("@")[0]
        children = self._fk_children(base)
        ref_touched = any(
            c in assignments for _, _, fk in children for c in fk["ref_columns"]
        )
        if ref_touched:
            # an UPDATE that reassigns a column referenced by an enforced
            # child's FK can remove key VALUES from the parent — exactly a
            # RESTRICT event. Run the vanished-key scan over the post-image
            # unioned with the untouched rows. Child-driven: runs whether
            # or not the parent itself is enforced.
            full = self._dataset_ref(name).to_df()
            untouched = full.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            self._check_fk_restrict(
                base, full, untouched.unionByName(post_image(full))
            )
        self._dataset_ref(name).update(assignments, pred)

    def _stmt_meta(self, s: str) -> DataFrame:
        """SHOW SCHEMAS | SHOW TABLES [IN schema] | SHOW CREATE TABLE
        [schema.]t | SHOW INDEXES ON t | SHOW TAGS ON t | DESCRIBE t |
        DESCRIBE HISTORY t | DESCRIBE DETAIL t — catalog introspection served from the engine's own
        catalog (the reference's psql meta commands); DESC is accepted
        everywhere DESCRIBE is."""
        p = _Stmt(s)
        if p.try_kw("SHOW", "VIEWS"):
            schema_name = p.ident("schema name") if p.try_kw("IN") else "main"
            p.end()
            if schema_name not in self._catalog["schemas"]:
                raise ValueError(f"schema {schema_name!r} does not exist")
            rows = [(v,) for v in self.views(schema_name)]
            return self.spark.createDataFrame(rows, "view_name string")
        if p.try_kw("SHOW", "CREATE", "VIEW"):
            schema_name, vname = p.dotted()
            p.end()
            schema_name = schema_name or "main"
            if schema_name not in self._catalog["schemas"]:
                raise ValueError(f"schema {schema_name!r} does not exist")
            vs = self._catalog["schemas"][schema_name].get("views", {})
            if vname not in vs:
                raise ValueError(f"no view named {vname!r} in schema {schema_name}")
            qual = vname if schema_name == "main" else f"{schema_name}.{vname}"
            return self.spark.createDataFrame(
                [(vname, f"CREATE VIEW {qual} AS {vs[vname]['sql']}")],
                "view_name string, create_stmt string",
            )
        if p.try_kw("SHOW", "CREATE", "TABLE"):
            # reconstruct the DDL from the live schema + catalog metadata
            # (psql \d analogue; PK enforcement state round-trips too)
            schema_name, tbl = p.dotted()
            p.end()
            schema_name = schema_name or "main"
            entry = self._entry(tbl, schema_name)
            ds = Dataset.open(self.spark, entry["root"])
            defaults = ds.manifest.column_defaults
            nn = set(entry.get("not_null") or [])
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                + ("" if f.nullable and f.name not in nn else " NOT NULL")
                + (f" DEFAULT {defaults[f.name]}" if f.name in defaults else "")
                for f in ds.schema.fields
            )
            pk = entry.get("primary_key") or []
            extras = ""
            if pk:
                extras += f",\n  PRIMARY KEY ({', '.join(pk)})"
            for u in entry.get("unique") or []:
                extras += f",\n  UNIQUE ({', '.join(u)})"
            for chk in entry.get("checks") or []:
                extras += f",\n  CHECK ({chk})"
            for fk in entry.get("foreign_keys") or []:
                extras += (
                    f",\n  FOREIGN KEY ({', '.join(fk['columns'])}) "
                    f"REFERENCES {fk['ref_table']} "
                    f"({', '.join(fk['ref_columns'])})"
                )
            qual = tbl if schema_name == "main" else f"{schema_name}.{tbl}"
            enf = " WITH (ENFORCE)" if entry.get("enforce_pk") else ""
            ddl = f"CREATE TABLE {qual} (\n  {cols}{extras}\n){enf}"
            return self.spark.createDataFrame(
                [(tbl, ddl)], "table_name string, create_stmt string"
            )
        if p.try_kw("SHOW", "INDEXES") or p.try_kw("SHOW", "INDEX"):
            p.kw("ON")
            ds = self.dataset(p.ident("table name"))
            p.end()
            rows = [
                (
                    n,
                    d["kind"],
                    d.get("column"),
                    d["covers_version"],
                    ds.index_fresh(n),
                )
                for n, d in sorted(ds.manifest.indexes.items())
            ]
            return self.spark.createDataFrame(
                rows,
                "index_name string, kind string, column string, "
                "covers_version int, fresh boolean",
            )
        if p.try_kw("DESCRIBE", "HISTORY") or p.try_kw("DESC", "HISTORY"):
            # the version log (reference version.go / sdk ListVersions):
            # one manifest load per retained version — metadata-only
            ds = self.dataset(p.ident("table name"))
            p.end()
            refs = ds.list_tags()
            by_ver: dict[int, list[str]] = {}
            for name, ver in refs.items():
                by_ver.setdefault(ver, []).append(name)
            rows = []
            for v in ds.versions():
                mv = ds._load(v)
                rows.append(
                    (
                        v,
                        mv.parent,
                        mv.operation,
                        len(mv.fragments),
                        # physical rows from the footers; deletion vectors
                        # are merge-on-read sidecars, so live rows can be
                        # lower — the sidecar count flags which versions
                        # carry deletes without reading any sidecar here
                        sum(f.rows for f in mv.fragments),
                        sum(len(f.deletion_files) for f in mv.fragments),
                        ",".join(sorted(by_ver.get(v, []))) or None,
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "version int, parent int, operation string, "
                "n_fragments int, n_rows_physical long, "
                "n_deletion_files int, tags string",
            )
        if p.try_kw("SHOW", "TAGS"):
            p.kw("ON")
            ds = self.dataset(p.ident("table name"))
            p.end()
            branches = ds._branch_names()
            return self.spark.createDataFrame(
                [
                    (n, v, "branch" if n in branches else "tag")
                    for n, v in sorted(ds.list_tags().items())
                ],
                "tag string, version int, kind string",
            )
        if p.try_kw("SHOW", "SCHEMAS"):
            p.end()
            return self.spark.createDataFrame(
                [(x,) for x in self.schemas()], "schema_name string"
            )
        if p.try_kw("SHOW", "TABLES"):
            schema = p.ident("schema name") if p.try_kw("IN") else "main"
            p.end()
            return self.spark.createDataFrame(
                [(schema, t) for t in self.tables(schema)],
                "schema_name string, table_name string",
            )
        if p.try_kw("DESCRIBE", "DETAIL") or p.try_kw("DESC", "DETAIL"):
            # one-row table summary, METADATA-ONLY: manifest + ref file +
            # footer-collected stats — no data scan (count_rows subtracts
            # deletion sidecars without touching fragments)
            tbl = p.ident("table name")
            p.end()
            ds = self.dataset(tbl)
            mf = ds.manifest
            return self.spark.createDataFrame(
                [
                    (
                        tbl,
                        ds.version,
                        mf.operation,
                        len(mf.fragments),
                        ds.count_rows(),
                        ds.data_size(),
                        int(mf.row_ids),
                        ",".join(sorted(mf.indexes)) or None,
                        ",".join(sorted(ds.list_tags())) or None,
                    )
                ],
                "table_name string, version int, last_operation string, "
                "n_fragments int, n_rows long, size_bytes long, "
                "row_ids int, indexes string, tags string",
            )
        if p.try_kw("DESCRIBE") or p.try_kw("DESC"):
            p.try_kw("TABLE")
            name = p.ident("table name")
            p.end()
            if name in self._catalog["schemas"]["main"].get("views", {}):
                # views describe their CURRENT analyzed schema
                self._register_views()
                fields = self.spark.table(name).schema.fields
            else:
                fields = self.dataset(name).schema.fields
            return self.spark.createDataFrame(
                [(f.name, f.dataType.simpleString(), f.nullable) for f in fields],
                "col_name string, data_type string, nullable boolean",
            )
        raise ValueError(f"unsupported meta statement: {s[:120]!r}")

    def _stmt_alter(self, s: str) -> None:
        """ALTER TABLE t RENAME COLUMN a TO b | ALTER COLUMN a TYPE type |
        ADD COLUMN a type [DEFAULT expr] | DROP COLUMN a — the SQL face of
        the Dataset schema-evolution surface (reference sdk/dataset.go:623
        AddColumns/AlterColumns/DropColumns) — plus the deferred-constraint
        surface: ADD [CONSTRAINT name] PRIMARY KEY/UNIQUE/CHECK/FOREIGN KEY,
        read from Spark's parse with CREATE TABLE's constraint reader and
        declaration check, and ADD NOT NULL c (validated against the
        CURRENT rows when the table is enforced — the Postgres ADD
        CONSTRAINT contract); SET ENFORCE/NOENFORCE (ENFORCE validates
        every declared constraint first, so a table can never be 'enforced'
        while already violating its own declarations); and DROP PRIMARY
        KEY/UNIQUE (cols)/CHECK (expr)/NOT NULL c/FOREIGN KEY (cols). ADD
        COLUMN is Spark grammar too; the other forms, which Spark has no
        grammar for or reads otherwise, are read by the cursor."""
        p = _Stmt(s)
        p.kw("ALTER")
        p.kw("TABLE")
        tbl = p.ident("table name")
        enforce = None
        if p.try_kw("SET", "ENFORCE"):
            enforce = True
        elif p.try_kw("SET", "NOENFORCE"):
            enforce = False
        if enforce is not None:
            p.end()
            entry = self._entry(tbl, "main")
            if enforce:
                if not (
                    entry.get("primary_key")
                    or entry.get("unique")
                    or entry.get("not_null")
                    or entry.get("checks")
                    or entry.get("foreign_keys")
                ):
                    raise ValueError("SET ENFORCE requires at least one constraint")
                self._validate(tbl, entry, self.dataset(tbl).to_df())
            entry["enforce_pk"] = enforce
            self._save_catalog()
            return
        if p.try_kw("ADD", "COLUMN"):
            plan = self._parse(s, "AddColumns")
            (col, *_), *more = json.loads(plan.toJSON())[0]["columnsToAdd"]
            if more or not col["nullable"] or set(col) - {
                "class", "num-children", "colName", "dataType", "nullable", "default",
            }:
                raise ValueError(f"unsupported ADD COLUMN form: {s[:120]!r}")
            dtype = StructField.fromJson(
                {"name": "_", "type": col["dataType"], "nullable": True, "metadata": {}}
            ).dataType
            self.dataset(tbl).add_column(
                _name(col["colName"], "column name"),
                dtype.simpleString(),
                default=col["default"][0]["originalSQL"] if "default" in col else "NULL",
            )
            return
        if p.try_kw("ADD"):
            entry = self._entry(tbl, "main")
            if p.try_kw("NOT", "NULL") or p.try_kw("CONSTRAINT", "NOT", "NULL"):
                # no Spark grammar for a deferred NOT NULL
                decl = {"not_null": [p.ident("column name")]}
                p.end()
            else:
                plan = self._parse(
                    s[: p.i] + _complete_references(s[p.i :]),
                    "AddConstraint", "AddCheckConstraint",
                )
                decl = _constraint_args([
                    plan.checkConstraint() if plan.nodeName() == "AddCheckConstraint"
                    else plan.tableConstraint()
                ])
            ds = self.dataset(tbl)
            decl["foreign_keys"] = self._check_declaration(
                tbl, "main", {f.name for f in ds.schema.fields}, decl, entry
            )
            if entry.get("enforce_pk"):
                # existing rows must already satisfy the new constraint
                self._validate(tbl, decl, ds.to_df())
            for k, v in decl.items():
                entry[k] = (entry.get(k) or []) + v
            self._save_catalog()
            return
        if p.try_kw("RENAME", "COLUMN"):
            col = p.ident("column name")
            p.kw("TO")
            new = p.ident("new name")
            p.end()
            entry = self._entry(tbl, "main")
            if any(
                self._check_mentions(self.spark, col, chk)
                for chk in entry.get("checks") or []
            ):
                # CHECKs are stored as SQL text — rewriting an expression is
                # not mechanical (quoted literals, qualified names), so the
                # safe contract is DROP CHECK / rename / re-ADD
                raise ValueError(
                    f"cannot rename column {col!r} of {tbl}: a CHECK "
                    "expression references it (DROP CHECK first)"
                )
            self.dataset(tbl).alter_columns({"path": col, "rename": new})
            # constraint metadata must track the live schema: a stale name
            # in primary_key/unique/not_null/foreign_keys would silently
            # disable enforcement (or fail every later write with a raw
            # AnalysisException). Child FKs referencing THIS table rename
            # their ref_columns too (tbl's own row in the tables dict covers
            # the self-referential case).
            ren = lambda c: new if c == col else c  # noqa: E731
            entry["primary_key"] = [ren(c) for c in entry.get("primary_key") or []]
            entry["unique"] = [[ren(c) for c in u] for u in entry.get("unique") or []]
            entry["not_null"] = [ren(c) for c in entry.get("not_null") or []]
            for fk in entry.get("foreign_keys") or []:
                fk["columns"] = [ren(c) for c in fk["columns"]]
            for centry in self._catalog["schemas"]["main"]["tables"].values():
                for fk in centry.get("foreign_keys") or []:
                    if fk["ref_table"] == tbl:
                        fk["ref_columns"] = [ren(c) for c in fk["ref_columns"]]
            self._save_catalog()
            return
        if p.try_kw("ALTER", "COLUMN"):
            col = p.ident("column name")
            p.try_kw("SET", "DATA")
            p.kw("TYPE")
            ty = p.rest()
            if not ty:
                raise ValueError(f"ALTER COLUMN missing type: {s[:120]!r}")
            self.dataset(tbl).alter_columns({"path": col, "data_type": ty})
            return
        if p.try_kw("DROP", "COLUMN"):
            col = p.ident("column name")
            p.end()
            entry = self._entry(tbl, "main")
            holders = []
            if col in (entry.get("primary_key") or []):
                holders.append("PRIMARY KEY")
            if any(col in u for u in entry.get("unique") or []):
                holders.append("UNIQUE")
            if any(
                self._check_mentions(self.spark, col, chk)
                for chk in entry.get("checks") or []
            ):
                holders.append("CHECK")
            if any(col in fk["columns"] for fk in entry.get("foreign_keys") or []):
                holders.append("FOREIGN KEY")
            ref_by = sorted(
                cname
                for cname, centry in self._catalog["schemas"]["main"]["tables"].items()
                for fk in centry.get("foreign_keys") or []
                if fk["ref_table"] == tbl and col in fk["ref_columns"]
            )
            if holders or ref_by:
                used = " / ".join(holders)
                if ref_by:
                    used = (used + " and " if used else "") + (
                        f"FOREIGN KEYs in {ref_by}"
                    )
                raise ValueError(
                    f"cannot drop column {col!r} of {tbl}: used by {used} "
                    "(DROP the constraint first)"
                )
            self.dataset(tbl).drop_column(col)
            if col in (entry.get("not_null") or []):
                # a column-level NOT NULL drops with its column (Postgres
                # semantics) — never leave a stale name in the metadata
                entry["not_null"] = [c for c in entry["not_null"] if c != col]
                self._save_catalog()
            return
        if p.try_kw("DROP"):
            # constraint removal — the escape hatch the RENAME/DROP COLUMN
            # refusals point at. ALTER TABLE t DROP PRIMARY KEY |
            # UNIQUE (cols) | CHECK (expr) | NOT NULL col | FOREIGN KEY (cols)
            p.try_kw("CONSTRAINT")  # noise word, accepted
            entry = self._entry(tbl, "main")
            if p.try_kw("PRIMARY", "KEY"):
                pk = entry.get("primary_key") or []
                if not pk:
                    raise ValueError(f"table {tbl} has no PRIMARY KEY")
                self._refuse_referenced_key(tbl, entry, pk, drop_pk=True)
                entry["primary_key"] = []
            elif p.try_kw("UNIQUE"):
                cols = p.name_list("UNIQUE columns")
                uniques = entry.get("unique") or []
                if not any(set(u) == set(cols) for u in uniques):
                    raise ValueError(f"table {tbl} has no UNIQUE {tuple(cols)}")
                self._refuse_referenced_key(tbl, entry, cols, drop_unique=cols)
                entry["unique"] = [u for u in uniques if set(u) != set(cols)]
            elif p.try_kw("CHECK"):
                chk = p.paren_body().strip()
                if chk not in (entry.get("checks") or []):
                    raise ValueError(f"table {tbl} has no CHECK ({chk})")
                entry["checks"] = [c for c in entry["checks"] if c != chk]
            elif p.try_kw("NOT", "NULL"):
                col = p.ident("column name")
                if col not in (entry.get("not_null") or []):
                    raise ValueError(f"table {tbl} has no NOT NULL on {col!r}")
                entry["not_null"] = [c for c in entry["not_null"] if c != col]
            elif p.try_kw("FOREIGN", "KEY"):
                cols = p.name_list("FOREIGN KEY columns")
                fks = entry.get("foreign_keys") or []
                # set comparison, like DROP UNIQUE and every other key
                # face: the column LIST order is presentation, not identity
                if not any(set(fk["columns"]) == set(cols) for fk in fks):
                    raise ValueError(f"table {tbl} has no FOREIGN KEY {tuple(cols)}")
                entry["foreign_keys"] = [
                    fk for fk in fks if set(fk["columns"]) != set(cols)
                ]
            else:
                raise p.error(
                    "expected COLUMN / PRIMARY KEY / UNIQUE / CHECK / "
                    "NOT NULL / FOREIGN KEY"
                )
            p.end()
            self._save_catalog()
            return
        raise ValueError(f"unsupported ALTER statement: {s[:120]!r}")

    def _refuse_referenced_key(
        self,
        tbl: str,
        entry: dict,
        cols: list[str],
        drop_pk: bool = False,
        drop_unique: list[str] | None = None,
    ) -> None:
        """Dropping a PK/UNIQUE set must not orphan a declared FOREIGN KEY:
        every FK's ref_columns were validated to be a parent key at
        declaration (``_require_key_of_parent``), and that invariant is what
        keeps the RESTRICT value-matching exact. Refuse unless another
        declared key with the same column set remains after the drop."""
        remaining = []
        pk = entry.get("primary_key") or []
        if pk and not drop_pk:
            remaining.append(set(pk))
        for u in entry.get("unique") or []:
            if drop_unique is not None and set(u) == set(drop_unique):
                continue
            remaining.append(set(u))
        if set(cols) in remaining:
            return
        ref_by = sorted(
            cname
            for cname, centry in self._catalog["schemas"]["main"]["tables"].items()
            for fk in centry.get("foreign_keys") or []
            if fk["ref_table"] == tbl and set(fk["ref_columns"]) == set(cols)
        )
        if ref_by:
            raise ValueError(
                f"cannot drop key {tuple(cols)} of {tbl}: FOREIGN KEYs in "
                f"{ref_by} reference it (DROP those FOREIGN KEYs first)"
            )

    def _stmt_refresh(self, s: str) -> None:
        """REFRESH INDEX i ON t — incremental catch-up of a stale index to
        the table head (Dataset.refresh_index): only the rows the index
        does not cover are inserted. Row-id scalar indexes catch up after
        any history; ANN/FTS indexes only over appends, else it raises and
        the index must be rebuilt."""
        p = _Stmt(s)
        p.kw("REFRESH")
        p.kw("INDEX")
        idx = p.ident("index name")
        p.kw("ON")
        tbl = p.ident("table name")
        p.end()
        self.dataset(tbl).refresh_index(idx)
        self._registered.pop(("main", tbl), None)

    def _stmt_optimize(self, s: str) -> None:
        """OPTIMIZE t [ZORDER BY (a, b)] — table maintenance through the SQL
        front door (the lakehouse-standard spelling of
        Dataset.compact(binpack | zorder), reference
        compaction_planner.go:34-254)."""
        p = _Stmt(s)
        p.kw("OPTIMIZE")
        tbl = p.ident("table name")
        zcols = None
        if p.try_kw("ZORDER", "BY"):
            zcols = p.name_list("ZORDER BY columns")
        p.end()
        ds = self.dataset(tbl)
        if zcols:
            ds.compact(strategy="zorder", zorder_by=zcols)
        else:
            ds.compact(strategy="binpack")
        self._registered.pop(("main", tbl), None)

    def _stmt_vacuum(self, s: str) -> None:
        """VACUUM t [RETAIN n VERSIONS] [GRACE n SECONDS] — reclaim
        unreferenced files (reference cleanup.go). GRACE is the age
        horizon below which files are never reclaimed (concurrent-writer
        safety; default 300 — see Dataset.vacuum). GRACE 0 SECONDS is the
        single-writer maintenance-window form that reclaims immediately."""
        p = _Stmt(s)
        p.kw("VACUUM")
        tbl = p.ident("table name")
        keep, grace = 1, 300.0
        if p.try_kw("RETAIN"):
            keep = p.number()
            p.kw("VERSIONS")
        if p.try_kw("GRACE"):
            grace = float(p.number())
            p.kw("SECONDS")
        p.end()
        self.dataset(tbl).vacuum(keep_versions=keep, grace_seconds=grace)

    def _stmt_restore(self, s: str) -> None:
        """RESTORE [TABLE] t [TO] VERSION AS OF (n | 'tag') — roll the
        table's CURRENT state back to a historical snapshot as a NEW
        commit (reference sdk restore; Delta's RESTORE spelling). History
        is preserved — the restore itself is a versioned operation."""
        p = _Stmt(s)
        p.kw("RESTORE")
        p.try_kw("TABLE")
        tbl = p.ident("table name")
        p.try_kw("TO")
        p.kw("VERSION")
        p.kw("AS")
        p.kw("OF")
        ds = self.dataset(tbl)
        if p.peek_word().isdigit():
            ver = p.number()
        else:
            ref = p.string_lit()
            refs = ds.list_tags()
            if ref not in refs:
                raise ValueError(f"no tag or branch named {ref!r}")
            ver = refs[ref]  # ref file lookup — no manifest load needed
        p.end()
        entry = self._entry(tbl, "main")
        restored = None  # one checkout serves both validation blocks
        if self._fk_children(tbl):
            # restoring a referenced parent to a snapshot that lacks key
            # values still referenced by an enforced child is a RESTRICT
            # event too (the restored state orphans those refs) — validate
            # BEFORE the restore commit lands
            restored = ds.checkout(ver).to_df()
            self._check_fk_restrict(tbl, ds.to_df(), restored)
        if entry.get("enforce_pk"):
            # the mirror hazard: restoring an ENFORCED table can resurrect
            # rows written before a constraint was ADDed (old snapshots were
            # never validated against it) or rows whose FK parents have
            # since been deleted — validate the restored frame like SET
            # ENFORCE validates current rows
            if restored is None:
                restored = ds.checkout(ver).to_df()
            self._validate(tbl, entry, restored)
        ds.restore(ver)
        self._registered.pop(("main", tbl), None)

    def _stmt_tag(self, s: str) -> None:
        """CREATE TAG name ON t [AS OF VERSION n] | DROP TAG name ON t —
        named refs through the SQL front door (reference tags.go)."""
        p = _Stmt(s)
        if p.try_kw("CREATE"):
            p.kw("TAG")
            tag = p.ident("tag name", pattern=r"\w[\w.-]*")
            p.kw("ON")
            ds = self.dataset(p.ident("table name"))
            ver = None
            if p.try_kw("AS", "OF", "VERSION"):
                ver = p.number()
            p.end()
            if ver is not None and ver not in ds.versions():
                raise ValueError(
                    f"CREATE TAG: version {ver} does not exist "
                    f"(retained: {ds.versions()})"
                )
            ds.tag(tag, version=ver)
            return
        if p.try_kw("DROP"):
            p.kw("TAG")
            tag = p.ident("tag name", pattern=r"\w[\w.-]*")
            p.kw("ON")
            tbl = p.ident("table name")
            p.end()
            self.dataset(tbl).delete_tag(tag)
            return
        raise ValueError(f"unsupported TAG statement: {s[:120]!r}")

    def _stmt_analyze(self, s: str) -> None:
        p = _Stmt(s)
        p.kw("ANALYZE")
        p.try_kw("TABLE")
        tbl = p.ident("table name")
        cache = p.try_kw("WITH", "CACHE")
        p.end()
        self.analyze(tbl, cache=cache)

    def _explain_scan(
        self, name: str | None = None, pred: str | None = None, query: str | None = None
    ) -> DataFrame:
        """EXPLAIN SCAN result set: one row per registered index with the
        planner's (est_fraction, chosen, reason) triple, plus a leading
        '(scan)' summary row: the fragment selection outcome, and the read
        a SELECT of those rows takes — the row groups whose footer stats
        admit the conjuncts, of all the zonemap-kept fragments hold, their
        rows, and whether that is the driver scan or, over the gate, a
        Spark scan. ``query`` (EXPLAIN SCAN SELECT ...) explains that
        SELECT's read instead, or why its shape keeps Spark's scan."""
        filters = pred
        if query is not None:
            shape = self._select_shape(query)
            if isinstance(shape, str):
                return self._scan_rows([], f"Spark scan: plan shape does not qualify ({shape})")
            name, filters, _ = shape
        ds = self.dataset(name)
        sel, pruned, trace = ds.plan_scan(filters, explain=True)
        d = ds.driver_scan_plan(filters)
        how = (
            "driver scan"
            if d["driver"]
            else f"Spark scan: over the {d['gate']}-row gate"
        )
        return self._scan_rows(
            trace,
            f"selected {len(sel)} of {len(sel) + len(pruned)} fragments; "
            f"{d['row_groups']} of {d['total_row_groups']} row groups admitted "
            f"({d['rows']} rows) over {d['fragments']} zonemap-kept fragments; {how}",
        )

    def _scan_rows(self, trace: list[dict], summary: str) -> DataFrame:
        rows = [("(scan)", "", "", None, None, None, None, summary)] + [
            (
                t["index"],
                t["kind"] or "",
                str(t["column"] or ""),
                t["est_rows"],
                t["total_rows"],
                t["est_fraction"],
                bool(t["chosen"]),
                t["reason"],
            )
            for t in trace
        ]
        return self.spark.createDataFrame(
            rows,
            "index_name string, kind string, column string, est_rows long, "
            "total_rows long, est_fraction double, chosen boolean, "
            "reason string",
        )

    def explain(self, text: str, mode: str = "formatted") -> str:
        """EXPLAIN surface (reference explain.go:118): returns the formatted
        plan — scans show PushedFilters/ReadSchema so pushdown is auditable.
        A query is planned over the registered views, as Spark would scan
        it; whether ``sql`` reads a SELECT on the driver instead is EXPLAIN
        SCAN SELECT's answer."""
        df = self._sql(text, driver_reads=False)
        if df is None:
            raise ValueError("EXPLAIN applies to queries, not DDL/DML statements")
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )
