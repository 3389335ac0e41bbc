"""Query/operator registry — the engine's declared capability surface.

Every operator implemented from SURVEY.md §2 registers itself here with
(a) a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` and
(b) where SQL-expressible, an equivalent ANSI-SQL oracle string that DuckDB
runs over the same Parquet tables. This mirrors the reference's
duckdb-vs-plan golden layout (/root/reference/cases/tpch/1g/{duckdb,plan}/).

Determinism discipline (so order-insensitive value hashes match the oracle):
- Money aggregations go through exact DECIMAL casts before SUM — decimal sums
  are associative/commutative, so shuffle order can never change a result.
- Ratios/averages are computed as DOUBLE from exact decimal sums with
  identical expression shape on both sides (IEEE ops on identical inputs are
  deterministic).
- Every computed column is aliased identically in the Spark plan and oracle.
- Every LIMIT query carries a total ordering (unique tiebreak column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query/operator to the engine's declared surface."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


_loaded = False


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (triggering registration) and return the
    full registry."""
    global _loaded
    if not _loaded:
        # imports populate REGISTRY via the @register decorator
        import plan_spark.queries.dataset_q  # noqa: F401
        import plan_spark.queries.pipeline_ops  # noqa: F401
        import plan_spark.queries.fts  # noqa: F401
        import plan_spark.queries.multimodal_q  # noqa: F401
        import plan_spark.queries.streaming_q  # noqa: F401
        import plan_spark.queries.vector_ops  # noqa: F401
        import plan_spark.queries.tpcds_probe  # noqa: F401
        import plan_spark.queries.text_ops  # noqa: F401
        import plan_spark.queries.analytics  # noqa: F401
        import plan_spark.queries.tpch  # noqa: F401
        _loaded = True
    return REGISTRY
