"""SparkSession factory with scale-minded defaults.

The reference engine executes single-node with 2048-row vector chunks
(/root/reference/pkg/util/util.go:124); our execution substrate is Spark's
distributed DAG, so the session is where the scale knobs live:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — replaces the reference's static greedy
  join-order cost model (/root/reference/pkg/compute/optimizer_joinorder.go:30).
- shuffle.partitions sized for the test box; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- Arrow enabled: every pandas_udf / toPandas crossing is Arrow-batched,
  never row-at-a-time pickling.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# driver_sized nesting state per session: id(spark) -> (depth, saved AQE flag).
_DS_LOCK = threading.Lock()
_DS_STATE: dict[int, tuple[int, str | None]] = {}


@contextmanager
def driver_sized(spark: SparkSession):
    """Plan a control-plane query without AQE.

    Scope: internal collects whose RESULT is driver-metadata-sized (one
    stats row, a per-file count map, a limit(1) witness). AQE's runtime
    re-planning exists to right-size exchanges that feed further
    distributed stages; these queries terminate at the driver with a
    KB-sized answer, so re-planning buys nothing — but it costs one
    scheduler round-trip PER QUERY STAGE (a 2-exchange count_distinct
    aggregate becomes 3 sequential jobs instead of 1 multi-stage job).
    Measured r11: a 2-row INSERT on an enforced table paid 3 jobs for its
    fused constraint aggregate and 3 for the existing-key probe; DELETE
    paid 3 for its per-file hit counts. On a cluster the round-trip is a
    full driver->executor cycle, so the latency argument gets stronger
    with scale, and partial aggregation still bounds the shuffled bytes.

    Only queries PLANNED inside the block are affected (Spark reads the
    conf at physical-planning time, i.e. at the action); the data-plane
    writes and every declared query keep AQE on.

    Thread-scope caveat: the toggle is session-global, so an UNRELATED
    data-plane query planned concurrently on another thread of the same
    session is planned without AQE for the block's duration. Overlapping
    driver_sized blocks are safe (the depth counter below); the residual
    exposure is metadata-collect-sized (the blocks last milliseconds and
    wrap KB-result collects only — count_rows' corpus-sized filtered count
    was moved OUT of the block for exactly this reason). A deployment that
    plans large queries concurrently with DDL/DML should give the engine
    its own newSession().
    """
    conf = spark.conf
    key = id(spark)
    with _DS_LOCK:
        depth, old = _DS_STATE.get(key, (0, None))
        if depth == 0:
            # Overlapping blocks from concurrent statements must not read
            # each other's "false" as the value to restore (that race left
            # AQE permanently off for the whole session): only the OUTERMOST
            # block snapshots and restores; inner blocks just ride along.
            old = conf.get("spark.sql.adaptive.enabled", "true")
            conf.set("spark.sql.adaptive.enabled", "false")
        _DS_STATE[key] = (depth + 1, old)
    try:
        yield
    finally:
        with _DS_LOCK:
            depth, old = _DS_STATE[key]
            if depth == 1:
                del _DS_STATE[key]
                conf.set("spark.sql.adaptive.enabled", old)
            else:
                _DS_STATE[key] = (depth - 1, old)


def _parser(spark: SparkSession):
    """The session's own Catalyst parser, with ``spark`` made the thread's
    active session first: the parser reads its confs
    (``spark.sql.parser.escapedStringLiterals`` and the like) from the
    active session, as DataFrame calls do for their own session, so a
    parse decodes literals exactly as ``F.expr``/``spark.sql`` on
    ``spark`` does."""
    jss = spark._jsparkSession
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(jss)
    return jss.sessionState().sqlParser()


def parse_expression(spark: SparkSession, text: str) -> list[dict]:
    """Spark's own parse of the SQL expression ``text``: the unresolved
    Catalyst tree as ``TreeNode.toJSON`` gives it, a pre-order list of
    nodes in which each node's ``num-children`` subtrees follow it. No
    analysis and no Spark job; text Spark cannot parse raises its
    ``ParseException``."""
    return json.loads(_parser(spark).parseExpression(text).toJSON())


def parse_plan(spark: SparkSession, text: str):
    """Spark's own parse of the SQL statement ``text`` under ``spark``'s
    parser confs: the unresolved JVM plan. Its ``toJSON()`` is the tree as
    ``parse_expression`` gives it (string lists past
    ``spark.sql.debug.maxToStringFields`` elided, so read those from the
    plan), and its statement and clause nodes' ``origin()`` locate their
    source text in ``text`` (an expression node's may cover only its
    operator part). No analysis and no Spark job; text Spark cannot parse
    raises its ``ParseException``."""
    return _parser(spark).parsePlan(text)


def plan_frame(spark: SparkSession, plan) -> DataFrame:
    """The DataFrame of a JVM plan from ``parse_plan``, analysed on
    ``spark`` exactly as ``spark.sql`` analyses its own parse: parsed text
    runs without being parsed a second time."""
    jss = spark._jsparkSession
    return DataFrame(spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, plan), spark)


def get_spark(
    app_name: str = "plan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (driver runs local[32]) and keeps every
    config a plain Spark conf so the same code runs unchanged under
    spark-submit on a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE on CBO: spark.sql.cbo.* is deliberately NOT enabled here.
        # Stats-propagation through every optimized plan costs ~0.3-0.4 s of
        # planning per query even when no table has stats (measured at sf0.1:
        # rollup_agg 0.73 s -> 1.17 s with cbo.enabled). The declared query
        # registry hand-shapes its joins, so CBO buys it nothing. The Engine
        # — the ad-hoc SQL front door where join reorder actually helps —
        # flips these confs on dynamically (engine.py), scoped to its own
        # session use.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # Auto-broadcast only dim-sized inputs. At bench SFs the fact tables
        # (lineitem 10 MB, orders 2.6 MB at sf0.1) fit under Spark's default
        # 10 MB cutoff, which would make Catalyst broadcast a fact side of a
        # fact-fact join — a plan that cannot exist on a 100 TB cluster and
        # that measures 30% slower here (driver-side hashed-relation builds
        # dominate). 1 MB keeps every true dim (region/nation/customer/
        # supplier/part, all <= 0.3 MB at sf0.1) on the broadcast path while
        # facts shuffle on their join keys, so test plans have the same
        # shape the cluster plans would. Larger dims broadcast via the
        # explicit F.broadcast() hints in the operators.
        .config("spark.sql.autoBroadcastJoinThreshold", "1MB")
        # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in the catalog (exact — the
        # fixture values are whole microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
