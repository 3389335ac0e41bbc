"""Catalog: name -> storage mapping for the synthetic star schema.

Mirrors the reference's catalog role (schema->table->column entries,
/root/reference/pkg/storage/catalog.go:16,441) in the thinnest possible
Spark-native form: temp views over Parquet. Catalyst then owns predicate
pushdown / column pruning / partition pruning against the scans — the
reference implements those by hand (builder_plan.go:827, executor_scan.go:225);
here they are free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# small dimension tables we always want broadcast at real scale
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view over its Parquet file.

    Reading is lazy — this only touches footers for the schema. Idempotent;
    re-registering after a scale-factor switch just repoints the views.
    """
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# resolved base relations, keyed by (application, session, sf_dir, table).
# A real catalog resolves a table name to its schema + file layout once, not
# per query: spark.read.parquet re-lists the path and re-reads footers on
# every call (~100 ms here), which a 6-table join pays 6 times over.
# DataFrames are immutable plans, so handing out the same object is safe —
# to the session that built it: a plan from one session must not be joined
# into another's (newSession() shares the application id). A cached frame
# holds its session, so that session's id() is never reused while cached.
_RESOLVED: dict[tuple[str, int, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single fixture table as a DataFrame (lazy parquet scan).

    ``events.ts`` fixture encoding has varied across driver rounds:
    TIMESTAMP(NANOS) (scan as long under nanosAsLong, divide to micros) or
    plain timestamp[us] (scans as TIMESTAMP_NTZ). Either way we normalize to
    a session-UTC TIMESTAMP so event-time ops (watermarks require LTZ) and
    the DuckDB oracle (naive micros) see identical instants.
    """
    key = (spark.sparkContext.applicationId, id(spark), sf_dir, name)
    cached = _RESOLVED.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # runtime-settable SQL conf: required on ANY session (the driver's
        # harness builds its own vanilla SparkSession, not get_spark()).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _RESOLVED[key] = df
    return df
