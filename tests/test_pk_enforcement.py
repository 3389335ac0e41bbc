"""Opt-in constraint enforcement — the reference's full declared surface
(NOT NULL / CHECK / UNIQUE / PRIMARY KEY, table_constraint.go:10-16; its
ART index rejects violating INSERTs with "duplicate key",
pkg/storage/index.go:329). Default stays metadata-only (lakehouse stance);
a table created WITH (ENFORCE) / enforce_constraints=True validates
NULL-free PK, intra-batch + vs-existing uniqueness for PK and UNIQUE sets
(NULL components exempt from UNIQUE per SQL), NOT NULL columns, and CHECK
expressions (FALSE violates, UNKNOWN passes) on every INSERT / COPY /
MERGE path, with UPDATE re-validating post-assignment rows — all raising
IntegrityError."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from plan_spark.engine import Engine, IntegrityError


@pytest.fixture()
def engine(spark):
    d = tempfile.mkdtemp(prefix="plan_spark_pk_")
    yield Engine(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _mk(engine, ddl_suffix=" WITH (ENFORCE)"):
    engine.sql(f"CREATE TABLE t (k INT PRIMARY KEY, v STRING){ddl_suffix}")
    engine.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")


def test_duplicate_insert_rejected(engine):
    _mk(engine)
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO t VALUES (2, 'dup')")
    # the failed insert must not have committed anything
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 2


def test_intra_batch_duplicate_rejected(engine):
    _mk(engine)
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO t VALUES (7, 'x'), (7, 'y')")
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 2


def test_null_key_rejected(engine):
    _mk(engine)
    with pytest.raises(IntegrityError, match="NULL in PRIMARY KEY"):
        engine.sql("INSERT INTO t VALUES (NULL, 'z')")


def test_valid_insert_accepted(engine):
    _mk(engine)
    engine.sql("INSERT INTO t VALUES (3, 'c'), (4, 'd')")
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 4


def test_unenforced_pk_still_permissive(engine):
    """Without ENFORCE, PK stays metadata — duplicate inserts succeed
    (Spark/lakehouse default, SURVEY §2.9)."""
    _mk(engine, ddl_suffix="")
    engine.sql("INSERT INTO t VALUES (2, 'dup')")
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 3


def test_enforce_requires_pk(engine):
    with pytest.raises(ValueError, match="requires at least one constraint"):
        engine.sql("CREATE TABLE nopk (a INT) WITH (ENFORCE)")
    # the failed create must not brick the name (validation runs BEFORE
    # the dataset directory is written — r7 review finding)
    engine.sql("CREATE TABLE nopk (a INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("INSERT INTO nopk VALUES (1)")
    assert engine.sql("SELECT COUNT(*) AS n FROM nopk").collect()[0].n == 1


def test_merge_duplicate_source_keys_matched_update_rejected(engine):
    """Duplicate ON keys in the source fan out the matched target row on
    the UPDATE path (left join) — enforced tables must refuse (r7 review
    finding: the insert-side check alone missed this)."""
    _mk(engine)
    engine.sql("CREATE TABLE usrc (k INT, v STRING)")
    engine.sql("INSERT INTO usrc VALUES (1, 'x'), (1, 'y')")
    with pytest.raises(IntegrityError, match="fan out"):
        engine.sql(
            "MERGE INTO t USING usrc ON k WHEN MATCHED THEN UPDATE SET *"
        )
    assert engine.sql("SELECT COUNT(*) AS n FROM t WHERE k = 1").collect()[0].n == 1


def test_composite_key(engine):
    engine.sql(
        "CREATE TABLE ck (a INT, b INT, v STRING, PRIMARY KEY (a, b))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO ck VALUES (1, 1, 'x'), (1, 2, 'y')")
    engine.sql("INSERT INTO ck VALUES (2, 1, 'z')")  # same a, new (a,b): fine
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO ck VALUES (1, 2, 'dup')")


def test_copy_from_validates(engine, tmp_path):
    _mk(engine)
    csv = tmp_path / "in.csv"
    csv.write_text("k,v\n2,dup\n9,ok\n")
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.copy_from("t", str(csv), fmt="csv")
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 2


def test_delete_then_reinsert_is_legal(engine):
    _mk(engine)
    engine.sql("DELETE FROM t WHERE k = 2")
    engine.sql("INSERT INTO t VALUES (2, 'back')")
    rows = engine.sql("SELECT v FROM t WHERE k = 2").collect()
    assert [r.v for r in rows] == ["back"]


def test_merge_upsert_on_pk_allowed(engine):
    _mk(engine)
    engine.sql("CREATE TABLE src (k INT, v STRING)")
    engine.sql("INSERT INTO src VALUES (2, 'upd'), (5, 'new')")
    engine.sql(
        "MERGE INTO t USING src ON k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.k: r.v for r in engine.sql("SELECT k, v FROM t").collect()}
    assert rows == {1: "a", 2: "upd", 5: "new"}


def test_merge_duplicate_source_keys_rejected(engine):
    _mk(engine)
    engine.sql("CREATE TABLE src2 (k INT, v STRING)")
    engine.sql("INSERT INTO src2 VALUES (8, 'x'), (8, 'y')")
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql(
            "MERGE INTO t USING src2 ON k "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_merge_on_non_pk_collision_rejected(engine):
    """ON v (not the key): an unmatched source row carrying an EXISTING k
    must be caught by the insert-vs-existing probe."""
    _mk(engine)
    engine.sql("CREATE TABLE src3 (k INT, v STRING)")
    engine.sql("INSERT INTO src3 VALUES (1, 'zz')")  # v 'zz' unmatched, k=1 exists
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("MERGE INTO t USING src3 ON v WHEN NOT MATCHED THEN INSERT *")


def test_update_cannot_reassign_key(engine):
    _mk(engine)
    with pytest.raises(IntegrityError, match="may not reassign"):
        engine.sql("UPDATE t SET k = 9 WHERE k = 1")
    engine.sql("UPDATE t SET v = 'moved' WHERE k = 1")  # non-key SET is fine
    assert engine.sql("SELECT v FROM t WHERE k = 1").collect()[0].v == "moved"


def test_show_create_table_round_trips_enforce(engine):
    _mk(engine)
    ddl = engine.sql("SHOW CREATE TABLE t").collect()[0].create_stmt
    assert "WITH (ENFORCE)" in ddl and "PRIMARY KEY (k)" in ddl
    # the emitted DDL re-creates an enforced table
    engine.sql("DROP TABLE t")
    engine.sql(ddl)
    engine.sql("INSERT INTO t VALUES (1, 'a')")
    with pytest.raises(IntegrityError):
        engine.sql("INSERT INTO t VALUES (1, 'dup')")


def test_unique_constraint(engine):
    """UNIQUE enforces like PK but with SQL NULL semantics: rows carrying a
    NULL key component never collide (NULLs are distinct)."""
    engine.sql(
        "CREATE TABLE uq (k INT PRIMARY KEY, email STRING UNIQUE) WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO uq VALUES (1, 'a@x'), (2, NULL), (3, NULL)")
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("INSERT INTO uq VALUES (4, 'a@x')")
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("INSERT INTO uq VALUES (5, 'b@x'), (6, 'b@x')")
    engine.sql("INSERT INTO uq VALUES (7, NULL)")  # more NULLs: legal
    assert engine.sql("SELECT COUNT(*) AS n FROM uq").collect()[0].n == 4


def test_table_level_unique_composite(engine):
    engine.sql(
        "CREATE TABLE uq2 (k INT PRIMARY KEY, a INT, b INT, UNIQUE (a, b))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO uq2 VALUES (1, 1, 1), (2, 1, 2)")
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("INSERT INTO uq2 VALUES (3, 1, 2)")
    engine.sql("INSERT INTO uq2 VALUES (4, 2, 2), (5, 1, NULL), (6, 1, NULL)")
    assert engine.sql("SELECT COUNT(*) AS n FROM uq2").collect()[0].n == 5


def test_not_null_constraint(engine):
    engine.sql(
        "CREATE TABLE nn (k INT PRIMARY KEY, v STRING NOT NULL) WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO nn VALUES (1, 'a')")
    with pytest.raises(IntegrityError, match="NOT NULL column 'v'"):
        engine.sql("INSERT INTO nn VALUES (2, NULL)")
    assert engine.sql("SELECT COUNT(*) AS n FROM nn").collect()[0].n == 1


def test_check_constraint(engine):
    """CHECK violated only when FALSE — NULL operands pass (SQL standard)."""
    engine.sql(
        "CREATE TABLE ck2 (k INT PRIMARY KEY, qty INT, CHECK (qty > 0))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO ck2 VALUES (1, 5), (2, NULL)")  # NULL: UNKNOWN passes
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("INSERT INTO ck2 VALUES (3, 0)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ck2").collect()[0].n == 2


def test_update_revalidates_row_constraints(engine):
    engine.sql(
        "CREATE TABLE up (k INT PRIMARY KEY, qty INT NOT NULL, CHECK (qty < 100))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO up VALUES (1, 10), (2, 50)")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("UPDATE up SET qty = qty * 3 WHERE k = 2")  # 150 > 100
    with pytest.raises(IntegrityError, match="NOT NULL"):
        engine.sql("UPDATE up SET qty = NULL WHERE k = 1")
    engine.sql("UPDATE up SET qty = qty + 1 WHERE k = 1")  # legal
    assert engine.sql("SELECT qty FROM up WHERE k = 1").collect()[0].qty == 11
    # unique-set columns may not be reassigned either
    engine.sql(
        "CREATE TABLE up2 (k INT PRIMARY KEY, e STRING UNIQUE) WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO up2 VALUES (1, 'a')")
    with pytest.raises(IntegrityError, match="may not reassign"):
        engine.sql("UPDATE up2 SET e = 'b' WHERE k = 1")


def test_merge_insert_validates_unique_and_checks(engine):
    engine.sql(
        "CREATE TABLE mg (k INT PRIMARY KEY, e STRING UNIQUE, CHECK (k < 1000))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO mg VALUES (1, 'a')")
    engine.sql("CREATE TABLE mgsrc (k INT, e STRING)")
    engine.sql("INSERT INTO mgsrc VALUES (2, 'a')")  # new k, duplicate e
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("MERGE INTO mg USING mgsrc ON k WHEN NOT MATCHED THEN INSERT *")
    engine.sql("CREATE TABLE mgsrc2 (k INT, e STRING)")
    engine.sql("INSERT INTO mgsrc2 VALUES (2000, 'z')")  # violates CHECK
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("MERGE INTO mg USING mgsrc2 ON k WHEN NOT MATCHED THEN INSERT *")
    assert engine.sql("SELECT COUNT(*) AS n FROM mg").collect()[0].n == 1


def test_show_create_round_trips_all_constraints(engine):
    engine.sql(
        "CREATE TABLE rt (k INT PRIMARY KEY, e STRING UNIQUE, "
        "q INT NOT NULL, CHECK (q >= 0)) WITH (ENFORCE)"
    )
    ddl = engine.sql("SHOW CREATE TABLE rt").collect()[0].create_stmt
    assert "UNIQUE (e)" in ddl and "CHECK (q >= 0)" in ddl
    assert "q INT NOT NULL" in ddl and "WITH (ENFORCE)" in ddl
    engine.sql("DROP TABLE rt")
    engine.sql(ddl)  # the emitted DDL parses and re-creates equivalently
    engine.sql("INSERT INTO rt VALUES (1, 'a', 5)")
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("INSERT INTO rt VALUES (2, 'a', 5)")
    with pytest.raises(IntegrityError, match="NOT NULL"):
        engine.sql("INSERT INTO rt VALUES (3, 'c', NULL)")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("INSERT INTO rt VALUES (4, 'd', -1)")


def test_unenforced_constraints_stay_metadata(engine):
    """Without ENFORCE, UNIQUE/NOT NULL/CHECK record but never reject."""
    engine.sql("CREATE TABLE meta1 (k INT PRIMARY KEY, e STRING UNIQUE, CHECK (k > 0))")
    engine.sql("INSERT INTO meta1 VALUES (-1, 'a'), (-1, 'a')")
    assert engine.sql("SELECT COUNT(*) AS n FROM meta1").collect()[0].n == 2


def test_branch_targeted_insert_validates(engine):
    """t@b writes validate against the branch handle's snapshot (branches
    here are refs into one shared version log — a branch commit advances
    head, so the branch view and head agree after the write)."""
    _mk(engine)
    engine.sql("CREATE BRANCH dev ON t")
    engine.sql("INSERT INTO t@dev VALUES (5, 'branch-only')")
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO t@dev VALUES (5, 'dup-on-branch')")
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO t VALUES (5, 'dup-at-head')")
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 3


# ------------------------------------------------------------- foreign keys
def _mk_fk(engine):
    engine.sql("CREATE TABLE parent (k INT PRIMARY KEY, v STRING) WITH (ENFORCE)")
    engine.sql("INSERT INTO parent VALUES (1, 'a'), (2, 'b')")
    engine.sql(
        "CREATE TABLE child (c INT PRIMARY KEY, pk INT, "
        "FOREIGN KEY (pk) REFERENCES parent (k)) WITH (ENFORCE)"
    )


def test_fk_orphan_insert_rejected(engine):
    _mk_fk(engine)
    engine.sql("INSERT INTO child VALUES (10, 1), (11, 2)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO child VALUES (12, 99)")
    engine.sql("INSERT INTO child VALUES (13, NULL)")  # MATCH SIMPLE: NULL exempt
    assert engine.sql("SELECT COUNT(*) AS n FROM child").collect()[0].n == 3


def test_fk_references_defaults_to_parent_pk(engine):
    engine.sql("CREATE TABLE p2 (k INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("INSERT INTO p2 VALUES (7)")
    engine.sql(
        "CREATE TABLE c2 (c INT PRIMARY KEY, pk INT, "
        "FOREIGN KEY (pk) REFERENCES p2) WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO c2 VALUES (1, 7)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO c2 VALUES (2, 8)")


def test_fk_column_level_references(engine):
    engine.sql("CREATE TABLE p3 (k INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("INSERT INTO p3 VALUES (5)")
    engine.sql(
        "CREATE TABLE c3 (c INT PRIMARY KEY, pk INT REFERENCES p3(k))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO c3 VALUES (1, 5)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO c3 VALUES (2, 6)")


def test_fk_delete_restrict(engine):
    _mk_fk(engine)
    engine.sql("INSERT INTO child VALUES (10, 1)")
    with pytest.raises(IntegrityError, match="RESTRICT"):
        engine.sql("DELETE FROM parent WHERE k = 1")
    engine.sql("DELETE FROM parent WHERE k = 2")  # unreferenced: fine
    engine.sql("DELETE FROM child WHERE c = 10")
    engine.sql("DELETE FROM parent WHERE k = 1")  # now legal
    assert engine.sql("SELECT COUNT(*) AS n FROM parent").collect()[0].n == 0


def test_fk_truncate_and_drop_restrict(engine):
    _mk_fk(engine)
    engine.sql("INSERT INTO child VALUES (10, 1)")
    with pytest.raises(IntegrityError, match="RESTRICT"):
        engine.sql("TRUNCATE parent")
    with pytest.raises(ValueError, match="FOREIGN KEY"):
        engine.sql("DROP TABLE parent")
    engine.sql("TRUNCATE child")
    engine.sql("TRUNCATE parent")  # child empty: fine


def test_fk_update_revalidates(engine):
    _mk_fk(engine)
    engine.sql("INSERT INTO child VALUES (10, 1)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("UPDATE child SET pk = 42 WHERE c = 10")
    engine.sql("UPDATE child SET pk = 2 WHERE c = 10")  # valid retarget
    assert engine.sql("SELECT pk FROM child").collect()[0].pk == 2


def test_fk_self_referential(engine):
    engine.sql(
        "CREATE TABLE emp (id INT PRIMARY KEY, mgr INT, "
        "FOREIGN KEY (mgr) REFERENCES emp (id)) WITH (ENFORCE)"
    )
    # manager + report in ONE batch: batch union makes it legal
    engine.sql("INSERT INTO emp VALUES (1, NULL), (2, 1)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO emp VALUES (3, 99)")
    # deleting mgr 1 while 2 references it: RESTRICT
    with pytest.raises(IntegrityError, match="RESTRICT"):
        engine.sql("DELETE FROM emp WHERE id = 1")
    # deleting BOTH in one statement: rows deleted together may reference
    # each other freely
    engine.sql("DELETE FROM emp WHERE id IN (1, 2)")
    assert engine.sql("SELECT COUNT(*) AS n FROM emp").collect()[0].n == 0


def test_fk_merge_insert_validates(engine):
    _mk_fk(engine)
    engine.sql("CREATE TABLE fsrc (c INT, pk INT)")
    engine.sql("INSERT INTO fsrc VALUES (20, 77)")
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("MERGE INTO child USING fsrc ON c WHEN NOT MATCHED THEN INSERT *")


def test_fk_requires_existing_parent_and_columns(engine):
    with pytest.raises(KeyError, match="not found"):
        engine.sql(
            "CREATE TABLE cbad (c INT PRIMARY KEY, "
            "FOREIGN KEY (c) REFERENCES ghost (k)) WITH (ENFORCE)"
        )
    engine.sql("CREATE TABLE pr (k INT PRIMARY KEY) WITH (ENFORCE)")
    with pytest.raises(ValueError, match="unknown pr columns"):
        engine.sql(
            "CREATE TABLE cbad2 (c INT PRIMARY KEY, "
            "FOREIGN KEY (c) REFERENCES pr (nope)) WITH (ENFORCE)"
        )
    # the failed creates never brick the names
    engine.sql("CREATE TABLE cbad (c INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("CREATE TABLE cbad2 (c INT PRIMARY KEY) WITH (ENFORCE)")


def test_fk_show_create_round_trips(engine):
    _mk_fk(engine)
    ddl = engine.sql("SHOW CREATE TABLE child").collect()[0].create_stmt
    assert "FOREIGN KEY (pk) REFERENCES parent (k)" in ddl
    engine.sql("DROP TABLE child")
    engine.sql(ddl)
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO child VALUES (1, 99)")


def test_fk_unenforced_stays_metadata(engine):
    engine.sql("CREATE TABLE pm (k INT PRIMARY KEY)")
    engine.sql(
        "CREATE TABLE cm (c INT, pk INT, FOREIGN KEY (pk) REFERENCES pm (k))"
    )
    engine.sql("INSERT INTO cm VALUES (1, 999)")  # no enforcement
    assert engine.sql("SELECT COUNT(*) AS n FROM cm").collect()[0].n == 1


# ------------------------------------------- r7 review-pass regression tests
def test_merge_matched_update_validates_row_constraints(engine):
    """Matched-UPDATE rows are validated too (review finding: the insert
    frame alone was checked, letting SET * write CHECK/NOT NULL/FK
    violations through the update path)."""
    engine.sql(
        "CREATE TABLE mu (k INT PRIMARY KEY, q INT NOT NULL, CHECK (q < 100))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO mu VALUES (1, 10)")
    engine.sql("CREATE TABLE musrc (k INT, q INT)")
    engine.sql("INSERT INTO musrc VALUES (1, 500)")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("MERGE INTO mu USING musrc ON k WHEN MATCHED THEN UPDATE SET *")
    engine.sql("CREATE TABLE musrc2 (k INT, q INT)")
    engine.sql("INSERT INTO musrc2 VALUES (1, NULL)")
    with pytest.raises(IntegrityError, match="NOT NULL"):
        engine.sql("MERGE INTO mu USING musrc2 ON k WHEN MATCHED THEN UPDATE SET *")
    assert engine.sql("SELECT q FROM mu").collect()[0].q == 10


def test_merge_matched_update_cannot_reassign_unique(engine):
    engine.sql(
        "CREATE TABLE muq (k INT PRIMARY KEY, e STRING UNIQUE) WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO muq VALUES (1, 'a'), (2, 'b')")
    engine.sql("CREATE TABLE muqsrc (k INT, e STRING)")
    engine.sql("INSERT INTO muqsrc VALUES (2, 'a')")  # would duplicate e='a'
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("MERGE INTO muq USING muqsrc ON k WHEN MATCHED THEN UPDATE SET *")


def test_merge_matched_update_validates_fk(engine):
    _mk_fk(engine)
    engine.sql("INSERT INTO child VALUES (10, 1)")
    engine.sql("CREATE TABLE fkm (c INT, pk INT)")
    engine.sql("INSERT INTO fkm VALUES (10, 77)")  # orphan retarget via update
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("MERGE INTO child USING fkm ON c WHEN MATCHED THEN UPDATE SET *")


def test_update_assignments_see_old_values(engine):
    """SQL UPDATE semantics: predicate AND assignment expressions evaluate
    against the OLD row (review finding: chained withColumn re-evaluated
    both against already-mutated columns)."""
    engine.sql("CREATE TABLE sw (k INT PRIMARY KEY, a INT, b INT) WITH (ENFORCE)")
    engine.sql("INSERT INTO sw VALUES (1, 10, 20)")
    engine.sql("UPDATE sw SET a = b, b = a WHERE k = 1")  # the classic swap
    r = engine.sql("SELECT a, b FROM sw").collect()[0]
    assert (r.a, r.b) == (20, 10), "assignments must read pre-update values"
    # predicate references a column the statement also assigns
    engine.sql("CREATE TABLE sp (k INT PRIMARY KEY, a INT, b INT) WITH (ENFORCE)")
    engine.sql("INSERT INTO sp VALUES (1, 1, 5)")
    engine.sql("UPDATE sp SET a = 2, b = -1 WHERE a = 1")
    r = engine.sql("SELECT a, b FROM sp").collect()[0]
    assert (r.a, r.b) == (2, -1), "every assignment applies to OLD-matching rows"


def test_fk_rejected_outside_main_schema(engine):
    engine.sql("CREATE TABLE fp (k INT PRIMARY KEY) WITH (ENFORCE)")
    engine.create_schema("side")
    with pytest.raises(ValueError, match="schema main only"):
        engine.create_table(
            "fc",
            "c INT, pk INT",
            schema="side",
            foreign_keys=[{"columns": ["pk"], "ref_table": "fp"}],
            enforce_constraints=True,
        )


# --------------------------------------------- deferred constraints (ALTER)
def test_alter_add_constraint_validates_existing_rows(engine):
    engine.sql("CREATE TABLE ac (k INT PRIMARY KEY, e STRING, q INT) WITH (ENFORCE)")
    engine.sql("INSERT INTO ac VALUES (1, 'a', 5), (2, 'a', -1)")
    # existing duplicate 'a' blocks the UNIQUE add
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("ALTER TABLE ac ADD UNIQUE (e)")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("ALTER TABLE ac ADD CHECK (q > 0)")
    engine.sql("DELETE FROM ac WHERE k = 2")
    engine.sql("ALTER TABLE ac ADD UNIQUE (e)")  # now clean
    engine.sql("ALTER TABLE ac ADD CHECK (q > 0)")
    with pytest.raises(IntegrityError, match="UNIQUE"):
        engine.sql("INSERT INTO ac VALUES (3, 'a', 9)")
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("INSERT INTO ac VALUES (4, 'd', 0)")
    ddl = engine.sql("SHOW CREATE TABLE ac").collect()[0].create_stmt
    assert "UNIQUE (e)" in ddl and "CHECK (q > 0)" in ddl


def test_alter_set_enforce_validates_everything(engine):
    """A permissive table accumulates violations; SET ENFORCE must refuse
    until the data is repaired, then enforcement switches on."""
    engine.sql("CREATE TABLE se (k INT PRIMARY KEY, v STRING)")
    engine.sql("INSERT INTO se VALUES (1, 'a'), (1, 'b')")  # metadata-only PK
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("ALTER TABLE se SET ENFORCE")
    engine.sql("DELETE FROM se WHERE v = 'b'")
    engine.sql("ALTER TABLE se SET ENFORCE")
    with pytest.raises(IntegrityError, match="duplicate key"):
        engine.sql("INSERT INTO se VALUES (1, 'dup')")
    engine.sql("ALTER TABLE se SET NOENFORCE")
    engine.sql("INSERT INTO se VALUES (1, 'dup')")  # permissive again
    assert engine.sql("SELECT COUNT(*) AS n FROM se").collect()[0].n == 2


def test_alter_add_fk_and_not_null(engine):
    engine.sql("CREATE TABLE afp (k INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("INSERT INTO afp VALUES (1)")
    engine.sql("CREATE TABLE afc (c INT PRIMARY KEY, pk INT) WITH (ENFORCE)")
    engine.sql("INSERT INTO afc VALUES (10, 99)")  # orphan, pre-constraint
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("ALTER TABLE afc ADD FOREIGN KEY (pk) REFERENCES afp (k)")
    engine.sql("UPDATE afc SET pk = 1 WHERE c = 10")
    engine.sql("ALTER TABLE afc ADD FOREIGN KEY (pk) REFERENCES afp")  # default PK
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        engine.sql("INSERT INTO afc VALUES (11, 42)")
    with pytest.raises(IntegrityError, match="RESTRICT"):
        engine.sql("DELETE FROM afp WHERE k = 1")
    engine.sql("ALTER TABLE afc ADD NOT NULL pk")
    with pytest.raises(IntegrityError, match="NOT NULL"):
        engine.sql("INSERT INTO afc VALUES (12, NULL)")


def test_alter_add_column_still_works(engine):
    """The ADD COLUMN path must not be shadowed by ADD <constraint>."""
    engine.sql("CREATE TABLE acx (k INT PRIMARY KEY) WITH (ENFORCE)")
    engine.sql("INSERT INTO acx VALUES (1)")
    engine.sql("ALTER TABLE acx ADD COLUMN note STRING DEFAULT 'n/a'")
    assert engine.sql("SELECT note FROM acx").collect()[0].note == "n/a"
    with pytest.raises(ValueError, match="unknown columns"):
        engine.sql("ALTER TABLE acx ADD UNIQUE (ghost)")
    with pytest.raises(ValueError, match="already has a PRIMARY KEY"):
        engine.sql("ALTER TABLE acx ADD PRIMARY KEY (note)")


# ----------------------------------------------- r7 second-review regressions
def test_update_validator_matches_written_image(engine):
    """The pre-write validator must compute the SAME post-image the update
    kernel writes (old-value semantics), in both directions."""
    engine.sql(
        "CREATE TABLE vv (k INT PRIMARY KEY, a INT, b INT, CHECK (b > 0))"
        " WITH (ENFORCE)"
    )
    engine.sql("INSERT INTO vv VALUES (1, -5, 1)")
    # written image: b = OLD a = -5 -> violates CHECK -> must refuse
    with pytest.raises(IntegrityError, match="CHECK"):
        engine.sql("UPDATE vv SET a = 1, b = a WHERE k = 1")
    assert engine.sql("SELECT a, b FROM vv").collect()[0][:] == (-5, 1)
    engine.sql("UPDATE vv SET a = 5 WHERE k = 1")
    # written image: b = OLD a = 5 -> valid; a new-value validator would
    # spuriously refuse (it would see b = NEW a = -1)
    engine.sql("UPDATE vv SET a = -1, b = a WHERE k = 1")
    r = engine.sql("SELECT a, b FROM vv").collect()[0]
    assert (r.a, r.b) == (-1, 5)


def test_update_unknown_column_is_loud(engine):
    engine.sql("CREATE TABLE uc (k INT PRIMARY KEY, price INT) WITH (ENFORCE)")
    engine.sql("INSERT INTO uc VALUES (1, 10)")
    with pytest.raises(ValueError, match="unknown column"):
        engine.sql("UPDATE uc SET prcie = 0 WHERE k = 1")  # typo must not no-op
    assert engine.sql("SELECT price FROM uc").collect()[0].price == 10


def test_alter_add_fk_validates_parent_even_unenforced(engine):
    engine.sql("CREATE TABLE np (k INT PRIMARY KEY)")  # NOT enforced
    engine.sql("CREATE TABLE nc (c INT PRIMARY KEY, pk INT)")
    with pytest.raises(KeyError, match="not found"):
        engine.sql("ALTER TABLE nc ADD FOREIGN KEY (pk) REFERENCES ghost (k)")
    with pytest.raises(ValueError, match="unknown np columns"):
        engine.sql("ALTER TABLE nc ADD FOREIGN KEY (pk) REFERENCES np (nope)")
    engine.sql("ALTER TABLE nc ADD FOREIGN KEY (pk) REFERENCES np (k)")  # valid
    ddl = engine.sql("SHOW CREATE TABLE nc").collect()[0].create_stmt
    assert "REFERENCES np (k)" in ddl


# An IntegrityError whose witness probe returns no row degrades to a
# witness-less message instead of IndexError (or a silently passed
# violation).
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
