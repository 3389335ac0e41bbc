"""Every registered query with an oracle must match DuckDB on the same
parquet tables — the engine-side replica of the driver's correctness gate."""

from __future__ import annotations

import duckdb
import pytest

from plan_spark.queries import vector_ops
from plan_spark.queries.common import verbatim_text
from plan_spark.registry import load_all
from tests.conftest import SF_DIR, compare
from tests.test_tpcds_verbatim import QUERY_DIR as TPCDS_QUERY_DIR
from tests.test_tpch_verbatim import QUERY_DIR as TPCH_QUERY_DIR

SPECS = sorted(load_all().values(), key=lambda s: s.name)

# The embedding near-dup faces band their sign-LSH signature 4x6 — exactly
# the oracle SQL's banding — only up to vector_ops._LSH_SMALL_N vectors;
# past it they regroup 2x12 and return a subset of the oracle's pairs.
_LSH_FACES = ("dedup_embed", "dedup_embed_clusters")


def _check_oracle_scale(spark, name: str, sf_dir: str) -> None:
    """Refuse an oracle comparison the query's plan cannot match: an LSH
    face on more vectors than its oracle-identical arm covers."""
    if name in _LSH_FACES:
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert n <= vector_ops._LSH_SMALL_N, (
            f"{name}: {n} embeddings exceed _LSH_SMALL_N "
            f"({vector_ops._LSH_SMALL_N}); the 2x12 banding does not match "
            "the 4x6-banded oracle SQL"
        )


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle(spark, ddb, spec):
    _check_oracle_scale(spark, spec.name, SF_DIR)
    df = spec.fn(spark, SF_DIR)
    if spec.oracle is None:
        # rows-only check for non-SQL-expressible operators
        n = df.count()
        assert n >= 0
        return
    want = ddb.execute(spec.oracle).df()
    compare(df, want, name=spec.name)


def test_lsh_oracle_scale_guard_fails_loudly(spark, monkeypatch):
    monkeypatch.setattr(vector_ops, "_LSH_SMALL_N", 1)
    with pytest.raises(AssertionError, match="_LSH_SMALL_N"):
        _check_oracle_scale(spark, "dedup_embed", SF_DIR)
    _check_oracle_scale(spark, "knn_brute", SF_DIR)  # other rows: no guard


def test_q92_ignores_null_partkey_rows(spark, tmp_path):
    """q92's per-part window must drop NULL-l_partkey rows as the oracle's
    join does: two NULL-key rows would otherwise form a group of their own
    and add their excess (1.0) to the answer."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    day = dt.datetime(1997, 3, 1)
    pq.write_table(
        pa.table({
            "l_partkey": pa.array([1, 1, None, None], pa.int64()),
            "l_extendedprice": [100.0, 10.0, 10.0, 1.0],
            "l_discount": [0.1, 0.1, 0.1, 0.1],
            "l_shipdate": pa.array([day] * 4, pa.timestamp("us")),
        }),
        str(tmp_path / "lineitem.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
    )
    spec = load_all()["tpcds_q92"]
    want = con.execute(spec.oracle).df()
    assert want["excess_discount"].tolist() == [10.0]
    compare(spec.fn(spark, str(tmp_path)), want, name="tpcds_q92")


def _rdd_leaves(df) -> list:
    """The distinct RDDs behind the LogicalRDD leaves of ``df``'s plan."""
    rdds, it = {}, df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            rdds[leaf.rdd().id()] = leaf.rdd()
    return list(rdds.values())


def test_q23_checkpoints_wait_for_the_consumer(spark, ddb):
    """q23's localCheckpoints are lazy: the frame it returns holds the
    frequent-item and best-customer sets unmaterialized (an eager
    checkpoint runs a job of its own per set while the frame is built),
    the consumer's job materializes them, and the answer still matches
    the oracle."""
    spec = load_all()["tpcds_q23"]
    df = spec.fn(spark, SF_DIR)
    sets = _rdd_leaves(df)
    assert len(sets) == 2
    assert not any(r.isCheckpointed() for r in sets)
    compare(df, ddb.execute(spec.oracle).df(), name="tpcds_q23")
    assert all(r.isCheckpointed() for r in sets)


# Verbatim rows always run their EMBEDDED spec text: a diverged reference
# .sql file raises instead of feeding unpinned SQL through the front door
# while the oracle answers the pinned copy.
class TestVerbatimPinning:
    def test_absent_file_returns_embedded(self, tmp_path):
        emb = "select 1 as a"
        assert verbatim_text(str(tmp_path / "nope.sql"), emb) == emb

    def test_matching_file_returns_embedded(self, tmp_path):
        emb = "select  1\nas a"
        f = tmp_path / "q.sql"
        f.write_text("select 1 as a\n")
        assert verbatim_text(str(f), emb) == emb

    def test_diverged_file_raises(self, tmp_path):
        f = tmp_path / "q.sql"
        f.write_text("select 2 as a")
        with pytest.raises(ValueError, match="diverged"):
            verbatim_text(str(f), "select 1 as a")

    def test_live_rows_are_pinned(self):
        """The three verbatim driver rows' embedded copies still match the
        reference's shipped files (normalized), so the pinning guard is
        non-vacuous AND currently green."""
        from plan_spark.queries.dataset_q import (
            _TPCH_Q1_VERBATIM,
            _TPCH_Q21_VERBATIM,
        )
        from plan_spark.queries.tpcds_probe import _TPCDS_Q51_VERBATIM

        for qfile, emb in (
            (f"{TPCH_QUERY_DIR}/q1.sql", _TPCH_Q1_VERBATIM),
            (f"{TPCH_QUERY_DIR}/q21.sql", _TPCH_Q21_VERBATIM),
            (
                f"{TPCDS_QUERY_DIR}/query51.sql",
                _TPCDS_Q51_VERBATIM,
            ),
        ):
            assert verbatim_text(qfile, emb) == emb
