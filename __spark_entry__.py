"""Driver contract for the spark-graft harness (PySpark target).

The harness runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count, schema and an
order-insensitive value hash).

The engine lives in ``plan_spark/``; this module only adapts its
registry (plan_spark/registry.py) to the driver's calling convention.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the harness may import this file from any cwd; the package lives beside it
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from plan_spark.registry import load_all  # noqa: E402


def _on_workers(spark: SparkSession) -> SparkSession:
    """Put the package's directory on the ``PYTHONPATH`` of ``spark``'s
    Python workers too: they unpickle plan_spark functions by module path.
    ``sparkContext.environment`` travels with every Python function built
    after this, and workers with a new environment are started apart, so
    this holds for a session that is already running."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _HERE not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_HERE, *paths])
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary
    (scan -> pushed filter -> grouped aggregate -> sort)."""
    from plan_spark.queries.tpch import q1

    _on_workers(spark)
    return q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (184 queries,
    ALL with oracles: 20 TPC-H + three verbatim spec texts through the SQL
    front door (TPC-H q1 aggregation, q21 double-correlated EXISTS/NOT
    EXISTS, TPC-DS q51 full-outer running sums), 53 TPC-DS probes, windows/set-ops/rollups,
    as-of/range joins, sessionization/retention, text analysis + TF-IDF
    keywords + 10 dedup families (incl. directional containment and
    cluster-canonical removal applied back to the corpus) + curation
    pipeline with domain capping, KNN under cosine/l2/dot/Hamming metrics,
    k-means, FTS incl. boolean queries, multimodal decode/frames/audio/
    resize, streaming bounded runs incl. the full outer/semi interval-join
    family, dataset lifecycle incl. transactional, auto-selected, and
    incrementally-refreshed indexes).
    See SURVEY.md §8 for the inventory-to-query matrix."""
    def on_workers(fn):
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_on_workers(spark), sf_dir)

        return run

    return {name: on_workers(spec.fn) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted for non-SQL-expressible ops
    (driver records a rows-only check for those)."""
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }
