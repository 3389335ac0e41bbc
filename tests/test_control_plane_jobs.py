"""Job-count discipline of the control plane (r11 optimization).

A Spark job is a driver->cluster round-trip; sequential metadata-sized jobs
are pure scheduler latency at any scale. Two r11 findings pinned here:

1. AQE turns each exchange of an internal metadata collect into its own
   sequential job (a count_distinct stats aggregate = 3 jobs instead of 1).
   ``driver_sized`` plans those collects without AQE.
2. ``limit(1).collect()`` existence probes escalate through partition
   batches SEQUENTIALLY precisely when there is no hit — the success path
   of every constraint check. The probes now run one parallel existence
   aggregate and fetch the witness row only on the failure path.

The budgets below are exact-shape regression fences: if a refactor
reintroduces per-constraint probes or AQE-staged internal collects, the
counts jump well past them.
"""

import shutil

import pytest

from plan_spark.engine import Engine, IntegrityError


def _n_jobs(spark) -> int:
    # jobs the session has started: the newest job's id + 1. The status
    # store lists jobs newest first and drops old ones past
    # spark.ui.retainedJobs, so its size stops counting in a long session
    jobs = spark._jsc.sc().statusStore().jobsList(None)
    return 0 if jobs.isEmpty() else jobs.head().jobId() + 1


@pytest.fixture()
def eng(spark, tmp_path):
    path = str(tmp_path / "jobs_db")
    shutil.rmtree(path, ignore_errors=True)
    return Engine(spark, path)


def _jobs_for(spark, fn) -> int:
    j0 = _n_jobs(spark)
    fn()
    return _n_jobs(spark) - j0


def test_enforced_insert_job_budget(spark, eng):
    eng.sql("CREATE TABLE g (k BIGINT PRIMARY KEY, v STRING) WITH (ENFORCE)")
    # first INSERT: fused batch-stats aggregate (1 job, no AQE staging,
    # no existing-key probe on an empty table) + the fragment write
    n = _jobs_for(spark, lambda: eng.sql("INSERT INTO g VALUES (1, 'a'), (2, 'b')"))
    assert n <= 2, f"first enforced INSERT ran {n} jobs (budget 2)"
    # non-empty table: + existence aggregate and its broadcast build —
    # but never the sequential limit(1) escalation (3+ jobs alone)
    n = _jobs_for(spark, lambda: eng.sql("INSERT INTO g VALUES (3, 'c')"))
    assert n <= 4, f"legal INSERT on non-empty table ran {n} jobs (budget 4)"


def test_failing_insert_still_raises_with_witness(spark, eng):
    eng.sql("CREATE TABLE g (k BIGINT PRIMARY KEY, v STRING) WITH (ENFORCE)")
    eng.sql("INSERT INTO g VALUES (1, 'a')")
    with pytest.raises(IntegrityError, match=r"already contains.*1"):
        eng.sql("INSERT INTO g VALUES (1, 'dup')")
    with pytest.raises(IntegrityError, match="duplicate key in INSERT batch"):
        eng.sql("INSERT INTO g VALUES (7, 'x'), (7, 'y')")
    with pytest.raises(IntegrityError, match="NULL in PRIMARY KEY"):
        eng.sql("INSERT INTO g VALUES (NULL, 'n')")


def test_delete_job_budget(spark, eng):
    eng.sql("CREATE TABLE t (k BIGINT, v STRING)")
    eng.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    # partial delete: one per-file hit-count job (collect over the
    # persisted hits — not 3 AQE stage jobs) + the sidecar write
    n = _jobs_for(spark, lambda: eng.sql("DELETE FROM t WHERE k % 2 = 0"))
    assert n <= 3, f"partial DELETE ran {n} jobs (budget 3)"


def test_fk_insert_success_path_budget(spark, eng):
    eng.sql("CREATE TABLE p (id BIGINT PRIMARY KEY) WITH (ENFORCE)")
    eng.sql("INSERT INTO p VALUES (1), (2)")
    eng.sql(
        "CREATE TABLE c (id BIGINT PRIMARY KEY, pid BIGINT, "
        "FOREIGN KEY (pid) REFERENCES p(id)) WITH (ENFORCE)"
    )
    # stats agg (1) + FK existence agg (1 + broadcast) + write; the old
    # shape paid an extra escalating anti-join take on the success path
    n = _jobs_for(spark, lambda: eng.sql("INSERT INTO c VALUES (10, 1)"))
    assert n <= 6, f"legal FK INSERT ran {n} jobs (budget 6)"
    with pytest.raises(IntegrityError, match="FOREIGN KEY violation"):
        eng.sql("INSERT INTO c VALUES (11, 99)")


def test_merge_duplicate_source_check(spark, eng):
    eng.sql("CREATE TABLE m (k BIGINT PRIMARY KEY, v STRING) WITH (ENFORCE)")
    eng.sql("INSERT INTO m VALUES (1, 'a')")
    # clean source passes through the single existence aggregate
    eng.sql(
        "MERGE INTO m USING (SELECT 1 AS k, 'up' AS v UNION ALL "
        "SELECT 2, 'new') s ON m.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {(r.k, r.v) for r in eng.sql("SELECT k, v FROM m").collect()}
    assert rows == {(1, "up"), (2, "new")}
    # duplicate source keys still refused, witness included
    with pytest.raises(IntegrityError, match="duplicate key in MERGE source"):
        eng.sql(
            "MERGE INTO m USING (SELECT 3 AS k, 'x' AS v UNION ALL "
            "SELECT 3, 'y') s ON m.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_driver_sized_restores_aqe(spark):
    from plan_spark.session import driver_sized

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with driver_sized(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with driver_sized(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_driver_sized_overlapping_threads_restore_aqe(spark):
    """Overlapping blocks from concurrent statements must not capture each
    other's "false" as the restore value (the race left AQE permanently
    off for the whole session after any concurrent Engine workload)."""
    import threading

    from plan_spark.session import driver_sized

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    enter = threading.Barrier(4, timeout=30)
    inside = threading.Barrier(4, timeout=30)

    def worker():
        enter.wait()
        with driver_sized(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            inside.wait()  # every thread is inside before any exits

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # plain nesting on one thread also restores
    with driver_sized(spark):
        with driver_sized(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


# Job counts of these statements before the constraint checks were fused
# into one validator (status tracker, local[4]): SET ENFORCE 5, RESTORE 5,
# the 1-row MERGE insert 17, the 1-row INSERT 6, the non-key UPDATE 4; on
# the unconstrained table INSERT 1, UPDATE 3, MERGE 7. SET ENFORCE ran a
# row aggregate, an aggregate per key set and a probe per key set against
# an empty frame.
def _constrained(eng):
    """50 rows under PRIMARY KEY k, UNIQUE u, CHECK (v > 0), NOT NULL w."""
    eng.sql(
        "CREATE TABLE t (k BIGINT, u BIGINT, v BIGINT, w STRING, "
        "PRIMARY KEY (k), UNIQUE (u), CHECK (v > 0))"
    )
    eng.sql("ALTER TABLE t ADD NOT NULL w")
    eng.sql(
        "INSERT INTO t VALUES "
        + ", ".join(f"({i}, {i}, {i + 1}, 'w{i}')" for i in range(50))
    )


def test_set_enforce_is_one_aggregate(spark, eng):
    _constrained(eng)
    # one fused aggregate answers NOT NULL, CHECK and both key sets over
    # the whole table, and nothing is probed against an empty frame
    n = _jobs_for(spark, lambda: eng.sql("ALTER TABLE t SET ENFORCE"))
    assert n == 1, f"SET ENFORCE ran {n} jobs (budget 1)"


def test_restore_and_merge_insert_validate_in_fewer_jobs(spark, eng):
    _constrained(eng)
    eng.sql("ALTER TABLE t SET ENFORCE")
    head = max(eng.dataset("t").versions())
    n = _jobs_for(spark, lambda: eng.sql(f"RESTORE TABLE t TO VERSION AS OF {head}"))
    assert n < 5, f"RESTORE ran {n} jobs (5 before the fused validator)"
    n = _jobs_for(spark, lambda: eng.sql(
        "MERGE INTO t USING (SELECT 100 AS k, 100 AS u, 5 AS v, 'w' AS w) s "
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"
    ))
    assert n < 17, f"1-row MERGE insert ran {n} jobs (17 before)"
    n = _jobs_for(spark, lambda: eng.sql("INSERT INTO t VALUES (200, 200, 3, 'w')"))
    assert n <= 6, f"1-row INSERT ran {n} jobs (6 before)"
    n = _jobs_for(spark, lambda: eng.sql("UPDATE t SET v = v + 1 WHERE k = 3"))
    assert n <= 4, f"non-key UPDATE ran {n} jobs (4 before)"


def test_unconstrained_writes_run_no_validation_jobs(spark, eng):
    eng.sql("CREATE TABLE lk (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO lk VALUES (1, 1), (2, 2)")
    # statement-sized rows are written by the driver, and the matched rows
    # are read there (Dataset._driver_scan): UPDATE runs no job, MERGE only
    # the one that evaluates its UNION ALL source
    n = _jobs_for(spark, lambda: eng.sql("INSERT INTO lk VALUES (3, 3)"))
    assert n == 0, f"unconstrained INSERT ran {n} jobs (1 before)"
    n = _jobs_for(spark, lambda: eng.sql("UPDATE lk SET v = v + 1 WHERE k = 1"))
    assert n == 0, f"unconstrained UPDATE ran {n} jobs (1 before)"
    n = _jobs_for(spark, lambda: eng.sql(
        "MERGE INTO lk USING (SELECT 4 AS k, 4 AS v UNION ALL SELECT 1, 9) s "
        "ON k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ))
    assert n <= 2, f"unconstrained MERGE ran {n} jobs (3 before)"
    n = _jobs_for(spark, lambda: eng.sql("DELETE FROM lk WHERE k = 2"))
    assert n == 0, f"unconstrained DELETE ran {n} jobs (1 before)"
    assert sorted(map(tuple, eng.sql("SELECT * FROM lk").collect())) == [
        (1, 9), (3, 3), (4, 4)
    ]


def test_statement_sized_sql_read_runs_no_job(spark, eng):
    # a point read right after a commit reads the admitted row groups on
    # the driver and Spark filters the local relation; an aggregate, a
    # sort or a second table keeps the registered view
    eng.sql("CREATE TABLE pr (k BIGINT, v STRING)")
    eng.sql("INSERT INTO pr VALUES " + ", ".join(f"({i}, 'v{i}')" for i in range(100)))
    eng.sql("INSERT INTO pr VALUES (100, 'x')")
    rows = []
    n = _jobs_for(spark, lambda: rows.extend(eng.sql("SELECT k, v FROM pr WHERE k = 42").collect()))
    assert n == 0, f"SQL point read ran {n} jobs (1 before)"
    assert [tuple(r) for r in rows] == [(42, "v42")]
    eng.sql("DELETE FROM pr WHERE k = 42")
    n = _jobs_for(spark, lambda: rows.extend(
        eng.sql("SELECT p.v FROM pr p WHERE p.k >= 41 AND k <= 43 LIMIT 5").collect()
    ))
    assert n == 0, f"aliased range read ran {n} jobs"
    assert sorted(r[0] for r in rows[1:]) == ["v41", "v43"]
    plan = eng.sql("SELECT k FROM pr WHERE k = 7")._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "LocalTableScan" in plan
    plan = eng.sql("SELECT k FROM pr WHERE k = 7 ORDER BY k")._jdf.queryExecution()
    assert "FileScan" in plan.executedPlan().toString()


def test_insert_values_registers_no_views(spark, eng, monkeypatch):
    # a VALUES list reads no table (Spark refuses a subquery over one
    # there); a query source, such as a scalar subquery, reads the views
    eng.sql("CREATE TABLE iv (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO iv VALUES (1, 10)")
    calls = []
    real = eng._register_views
    monkeypatch.setattr(eng, "_register_views", lambda: calls.append(1) or real())
    eng.sql("INSERT INTO iv VALUES (2, 20)")
    assert calls == []
    eng.sql("INSERT INTO iv SELECT 3, (SELECT MAX(v) FROM iv) + 1")
    assert calls == [1]
    assert sorted(map(tuple, eng.sql("SELECT * FROM iv").collect())) == [
        (1, 10), (2, 20), (3, 21)
    ]
    # a VALUES-led set operation is a query: it reads src's current
    # version, though src's last commit registered no view
    eng.sql("CREATE TABLE src (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO src VALUES (4, 40)")
    eng._register_views()
    eng.sql("INSERT INTO src VALUES (5, 50)")
    eng.sql("INSERT INTO iv VALUES (0, 0) UNION ALL SELECT k, v FROM src")
    assert sorted(map(tuple, eng.sql("SELECT * FROM iv WHERE k = 0 OR k > 3").collect())) == [
        (0, 0), (4, 40), (5, 50)
    ]


def test_optimize_output_has_bounded_row_groups(spark, eng):
    import pyarrow.parquet as pq

    import plan_spark.dataset.dataset as dsmod

    n = 2 * dsmod._ROW_GROUP_ROWS + 7
    eng.sql("CREATE TABLE rg (k BIGINT, v DOUBLE)")
    for part in range(2):
        eng.dataset("rg").append(
            spark.range(part * n, (part + 1) * n).selectExpr("id AS k", "id * 0.5 AS v")
        )
    eng.sql("OPTIMIZE rg")
    ds = eng.dataset("rg")
    (frag,) = ds.manifest.fragments
    md = pq.ParquetFile(f"{ds.path}/{frag.path}").metadata
    assert frag.rows == 2 * n
    assert md.num_row_groups == -(-2 * n // dsmod._ROW_GROUP_ROWS)
    assert max(md.row_group(g).num_rows for g in range(md.num_row_groups)) == dsmod._ROW_GROUP_ROWS


def test_merge_that_does_nothing_runs_no_job(spark, eng):
    eng.sql("CREATE TABLE lk (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO lk VALUES (1, 1), (2, 2)")
    n = _jobs_for(spark, lambda: eng.sql(
        "MERGE INTO lk USING (SELECT 1 AS k, 9 AS v) s ON k "
        "WHEN MATCHED THEN DO NOTHING WHEN NOT MATCHED THEN DO NOTHING"
    ))
    assert n == 0, f"MERGE that does nothing ran {n} jobs (0 before)"


def test_statement_sized_take_rows_runs_no_job(spark, eng):
    # after UPDATE and MERGE a row id lives in two files (the deleted old
    # image and the new one), and OPTIMIZE moves ids into a stored __rowid
    eng.sql("CREATE TABLE tk (k BIGINT, v STRING)")
    eng.sql("INSERT INTO tk VALUES " + ", ".join(f"({i}, 'v{i}')" for i in range(40)))
    eng.sql("INSERT INTO tk VALUES " + ", ".join(f"({i}, 'v{i}')" for i in range(40, 60)))
    eng.sql("UPDATE tk SET v = 'u' WHERE k = 5")
    eng.sql(
        "MERGE INTO tk USING (SELECT 6 AS k, 'm' AS v UNION ALL SELECT 99, 'n') s "
        "ON k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    eng.sql("OPTIMIZE tk")
    ds = eng.dataset("tk")
    rid = ds.to_df(with_row_id=True).filter("k = 6").collect()[0]["_rowid"]
    rows = []
    n = _jobs_for(spark, lambda: rows.extend(ds.take_rows(ids=[rid]).collect()))
    assert n == 0, f"one-id take_rows ran {n} jobs (2 before)"
    assert [(r.k, r.v, r._rowid) for r in rows] == [(6, "m", rid)]
    lo = min(rid, 50)
    rows = []
    n = _jobs_for(spark, lambda: rows.extend(ds.take_rows(runs=[(lo, lo + 9)]).collect()))
    assert n == 0, f"10-id runs take_rows ran {n} jobs (2 before)"
    want = ds.to_df(with_row_id=True).filter(f"_rowid BETWEEN {lo} AND {lo + 9}")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))
