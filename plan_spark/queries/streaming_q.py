"""Driver-checkable Structured Streaming queries over the events fixture.

The streaming slice (plan_spark/streaming/) is net-new surface — the
reference engine is batch-only (SURVEY.md §2.11) — and until now it was
pytest-gated only. These two queries put it under the driver's DuckDB
oracle gate: each runs a genuine Structured Streaming plan (readStream →
watermark → window/session aggregate → memory sink) bounded with
``trigger(availableNow=True)``, then returns the sink table. One bounded
run processes every available file in a single micro-batch, so the
watermark drops nothing and the result equals the batch aggregate —
which IS SQL-expressible, giving streaming a hash-checked oracle row
instead of a rows-only check.

Scale: identical shuffle shape to the batch aggregates — state is
partitioned by the grouping key in the executor state store (RocksDB on a
real cluster) and watermarks bound its size on unbounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plan_spark.catalog import table
from plan_spark.registry import register
from plan_spark.streaming.windows import (
    _events_stream,
    run_available_now,
)


# one gated session per base session, reused across calls: memory-sink
# name-based dedup (run_available_now) keeps working, and a session per
# invocation would leak one dead sink table per bench pass. Weak keys so a
# replaced base session evicts its entry (an id()-keyed dict could collide
# with a recycled object address and resurrect a stopped-context session).
import weakref

_GATED_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def _gated_available_now(
    spark: SparkSession,
    sf_dir: str,
    build,
    name: str,
    output_mode: str = "complete",
    partitions: int = 2,
    no_data_batch: bool = True,
) -> DataFrame:
    """Bounded streaming run with layout-gated state parallelism.

    Every stateful streaming operator pays a per-partition state-store
    commit per micro-batch regardless of volume (a stream-stream join
    carries four stores: measured 6.6 s at 32 partitions vs 2.7 s at 8 on
    the single-file fixture). Exactly like the batch-side
    _spread_small_scan gate: a single-file fixture stream runs with 8
    state partitions; a real many-file stream keeps the session setting —
    at scale MORE state partitions is what you want.

    The gated setting lives in a DEDICATED newSession() (shared
    SparkContext, isolated SQL conf): mutating the caller's session-global
    shuffle.partitions around plan construction would silently re-plan any
    batch query built concurrently on the shared session with 8 partitions.
    ``build(session)`` constructs the streaming plan on whichever session
    carries the right conf (shuffle.partitions is captured at plan time)."""
    from plan_spark.queries.text_ops import _small_layout

    if _small_layout(spark, f"{sf_dir}/events.parquet"):
        s = _GATED_SESSIONS.get(spark)
        if s is not None:
            try:  # a stopped SparkContext makes the cached session unusable
                s.conf.get("spark.sql.shuffle.partitions")
            except Exception:
                s = None
        if s is None:
            s = spark.newSession()
            s.conf.set("spark.sql.shuffle.partitions", "8")
            _GATED_SESSIONS[spark] = s
    else:
        s = spark
    return run_available_now(
        build(s),
        name,
        output_mode=output_mode,
        partitions=partitions,
        no_data_batch=no_data_batch,
    )


_STREAM_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""


@register("stream_tumbling_agg", oracle=_STREAM_TUMBLING_SQL, tags=("streaming", "eventtime"))
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling 6h × event_type aggregate, bounded run.

    readStream(parquet) → withWatermark(1h) → window(6h) groupBy →
    memory sink, trigger(availableNow). The plan is the streaming
    StateStore aggregate (StateStoreSave in explain), not a batch rewrite;
    bounding it with availableNow makes the result deterministic and equal
    to the batch tumbling aggregate the oracle computes."""
    def build(s):
        ev = _events_stream(s, sf_dir)
        return (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
            )
            .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "total_value")
        )

    out = _gated_available_now(spark, sf_dir, build, "stream_tumbling_sink")
    return out.orderBy("bucket_start", "event_type")


_STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("stream_sessionize", oracle=_STREAM_SESSION_SQL, tags=("streaming", "session"))
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user, bounded run.

    Native session_window merge-on-shuffle under a watermark — the
    streaming counterpart of the batch `sessionize` query, and the shape
    the reference engine has no construct for. Oracle derives identical
    sessions with lag+cumsum SQL."""
    def build(s):
        ev = _events_stream(s, sf_dir)
        return (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "session_start", "n_events")
        )

    out = _gated_available_now(spark, sf_dir, build, "stream_session_sink")
    return out.orderBy("user_id", "session_start")


_STREAM_DEDUP_SQL = """
WITH dd AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
  FROM events)
SELECT event_type, COUNT(*) AS n_unique
FROM dd GROUP BY event_type ORDER BY event_type
"""


@register("stream_dedup", oracle=_STREAM_DEDUP_SQL, tags=("streaming", "dedup"))
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication on (user_id, event_type, minute) under a
    watermark, bounded run — the ingest-time exactly-once-per-key guard a
    training-data feed needs (dropDuplicates state keyed by the tuple,
    watermark bounds state size on unbounded input).

    The streaming plan emits one survivor per key (StreamingDeduplicate in
    explain); which physical row survives is racy, so the query returns
    only key-derived counts — deterministic, and equal to the batch
    DISTINCT the oracle computes."""
    def build(s):
        ev = _events_stream(s, sf_dir)
        keyed = ev.withWatermark("ts", "1 hour").select(
            "user_id",
            "event_type",
            F.date_trunc("minute", "ts").alias("minute"),
            "ts",
        )
        return keyed.dropDuplicates(["user_id", "event_type", "minute"]).select(
            "user_id", "event_type", "minute"
        )

    out = _gated_available_now(
        spark,
        sf_dir,
        build,
        "stream_dedup_sink",
        output_mode="append",
        # dedup emits the survivor on ARRIVAL (append-mode dropDuplicates);
        # the no-data batch only evicts expired keys
        no_data_batch=False,
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


_JOIN_USER_MOD = 4  # deterministic slice: state machinery identical, volume bounded

_STREAM_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
  FROM events WHERE event_type = 'click' AND user_id % {_JOIN_USER_MOD} = 0),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase' AND user_id % {_JOIN_USER_MOD} = 0),
j AS (
  SELECT c.click_id, p.purchase_id, c.c_user AS user_id, p.p_value
  FROM c JOIN p ON c.c_user = p.p_user
              AND p.p_ts > c.c_ts
              AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR)
SELECT user_id, COUNT(*) AS n_pairs,
       CAST(SUM(CAST(p_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM j GROUP BY user_id ORDER BY user_id
"""


@register("stream_join", oracle=_STREAM_JOIN_SQL, tags=("streaming", "join"))
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks x same-user purchases within 2h),
    bounded run: both sides watermarked, the join condition time-bounds both
    event times so state expires — the only join shape that scales on
    unbounded streams. One availableNow micro-batch sees both sides in
    full, so the emitted pairs equal the batch interval join the oracle
    computes (aggregated per user through exact decimal sums)."""
    from plan_spark.streaming.windows import click_purchase_join_stream

    out = _gated_available_now(
        spark,
        sf_dir,
        lambda s: click_purchase_join_stream(s, sf_dir, user_mod=_JOIN_USER_MOD),
        "stream_join_sink",
        output_mode="append",
        # inner join emits on match, within the data batch — the trailing
        # no-data flush batch can emit nothing (state just expires)
        no_data_batch=False,
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("p_value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


_STREAM_ENRICH_SQL = """
WITH dim AS (
  SELECT user_id, MIN(ts) AS first_seen, COUNT(*) AS lifetime_events
  FROM events GROUP BY user_id),
j AS (
  SELECT e.event_type, d.lifetime_events
  FROM events e JOIN dim d ON d.user_id = e.user_id)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(lifetime_events) AS BIGINT) AS sum_lifetime
FROM j GROUP BY event_type ORDER BY event_type
"""


@register("stream_enrich", oracle=_STREAM_ENRICH_SQL, tags=("streaming", "enrich"))
def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined per micro-batch to
    a broadcast batch-computed user dimension (first_seen + lifetime count)
    — the canonical slowly-changing-dimension lookup, stateless on the
    stream side. Bounded availableNow run; the enriched rows aggregate to
    per-event-type counts + exact dimension sums, equal to the batch join
    the oracle computes."""
    from plan_spark.streaming.windows import enriched_stream

    out = _gated_available_now(
        spark,
        sf_dir,
        lambda s: enriched_stream(s, sf_dir).select("event_type", "lifetime_events"),
        "stream_enrich_sink",
        output_mode="append",
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("lifetime_events").cast("bigint").alias("sum_lifetime"),
        )
        .orderBy("event_type")
    )


_STREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000 AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stateful", oracle=_STREAM_STATEFUL_SQL, tags=("streaming", "stateful"))
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState — the
    UDF-backed arbitrary-state surface the reference engine has no
    counterpart for): per-user running totals, bounded availableNow run,
    final states hash-checked against the batch aggregate.

    Determinism: the state accumulates EXACT integer micro-units
    (floor(v*1e6 + 0.5) per row — identical IEEE ops in the oracle), so
    arrival order inside a micro-batch cannot move a bit; the final
    per-user state is selected with a struct-max over the update stream
    (n_events is monotone), robust to multi-batch availableNow splits.

    Scale shape: state lives in the executor state store partitioned by
    user_id — the same keyed-state layout as the built-in aggregates, with
    arbitrary Python state inside Arrow batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_micros", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("micros", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            micros += int(
                np.floor(pdf["value"].to_numpy() * 1e6 + 0.5).astype("int64").sum()
            )
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [micros]}
        )

    def build(s):
        ev = _events_stream(s, sf_dir).select("user_id", "value", "ts")
        return (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    # partitions=8, not the JVM-state default 2: this operator's per-key
    # work runs in PYTHON workers, so the pin bounds Python parallelism
    # (r6 regression: 1.7 s -> 3.5 s when the shared helper pinned it to 2)
    out = _gated_available_now(
        spark, sf_dir, build, "stream_stateful_sink", output_mode="update", partitions=8
    )
    final = (
        out.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_events").alias("n_events"),
                    F.col("total_micros").alias("total_micros"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            (F.col("m.total_micros").cast("double") / F.lit(1000000.0)).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )
    return final


def _flush_bound(out: DataFrame, sf_dir: str) -> DataFrame:
    """One-row ``flush_bound``: the final watermark (min over sides of max
    event time, minus the 1h delay) less a 1-minute safety margin, for the
    outer joins' tail filter.

    The bound rides the output plan as a broadcast scalar instead of a
    blocking driver collect before the streaming run (one sequential batch
    job and driver round-trip removed), so the bounds scan executes
    alongside the final aggregate. It is built on the session that owns
    ``out``'s memory sink, so the join never mixes two sessions' plans."""
    ev = table(out.sparkSession, sf_dir, "events").filter(
        F.col("user_id") % _JOIN_USER_MOD == 0
    )
    return ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("interval 1 hour")
            - F.expr("interval 1 minute")
        ).alias("flush_bound")
    )


_STREAM_OUTER_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
  FROM events WHERE event_type = 'click' AND user_id % {_JOIN_USER_MOD} = 0),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase' AND user_id % {_JOIN_USER_MOD} = 0),
wm AS (
  SELECT LEAST((SELECT MAX(c_ts) FROM c), (SELECT MAX(p_ts) FROM p))
         - INTERVAL 1 HOUR AS w),
j AS (
  SELECT c.click_id, p.purchase_id, c.c_user AS user_id, c.c_ts, p.p_value
  FROM c LEFT JOIN p ON c.c_user = p.p_user
                    AND p.p_ts > c.c_ts
                    AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR),
flushed AS (
  SELECT j.* FROM j, wm
  WHERE j.purchase_id IS NOT NULL
     OR j.c_ts + INTERVAL 2 HOUR < wm.w - INTERVAL 1 MINUTE)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(purchase_id) AS BIGINT) AS n_matched,
       CAST(SUM(CAST(p_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM flushed GROUP BY user_id ORDER BY user_id
"""


@register(
    "stream_outer_join", oracle=_STREAM_OUTER_JOIN_SQL, tags=("streaming", "join", "outer")
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, bounded run: matched clicks
    emit their interval purchases; unmatched clicks emit NULL purchase
    columns once the global watermark (min over sides of max-event-time
    minus the 1h delay) passes their 2h join window — the distinct
    capability vs stream_join is exactly this outer state flush.

    Tail semantics made oracle-exact: clicks whose window had NOT provably
    closed at end-of-stream are still held in state (a real streaming run
    would flush them later), so BOTH the streamed output and the batch
    LEFT-JOIN oracle keep unmatched rows only when the window closed a
    safety margin before the final watermark — the engine's exact
    flush boundary (>= vs >) disappears inside the margin, and matched
    rows are unaffected (the inner part of an outer join never waits)."""
    from plan_spark.streaming.windows import click_purchase_left_join_stream

    out = _gated_available_now(
        spark,
        sf_dir,
        lambda s: click_purchase_left_join_stream(s, sf_dir, user_mod=_JOIN_USER_MOD),
        "stream_outer_join_sink",
        output_mode="append",
    )
    closed = out.crossJoin(F.broadcast(_flush_bound(out, sf_dir))).filter(
        F.col("purchase_id").isNotNull()
        | (F.col("c_ts") + F.expr("interval 2 hours") < F.col("flush_bound"))
    )
    return (
        closed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("purchase_id").cast("bigint").alias("n_matched"),
            F.sum(F.col("p_value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


_STREAM_FULL_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
  FROM events WHERE event_type = 'click' AND user_id % {_JOIN_USER_MOD} = 0),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase' AND user_id % {_JOIN_USER_MOD} = 0),
wm AS (
  SELECT LEAST((SELECT MAX(c_ts) FROM c), (SELECT MAX(p_ts) FROM p))
         - INTERVAL 1 HOUR AS w),
j AS (
  SELECT c.click_id, p.purchase_id,
         COALESCE(c.c_user, p.p_user) AS user_id, c.c_ts, p.p_ts, p.p_value
  FROM c FULL JOIN p ON c.c_user = p.p_user
                    AND p.p_ts > c.c_ts
                    AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR),
flushed AS (
  SELECT j.* FROM j, wm
  WHERE (j.click_id IS NOT NULL AND j.purchase_id IS NOT NULL)
     OR (j.purchase_id IS NULL AND j.c_ts + INTERVAL 2 HOUR < wm.w - INTERVAL 1 MINUTE)
     OR (j.click_id IS NULL AND j.p_ts < wm.w - INTERVAL 1 MINUTE))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN click_id IS NOT NULL AND purchase_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click_only,
       CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchase_only,
       CAST(SUM(CAST(p_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM flushed GROUP BY user_id ORDER BY user_id
"""


@register(
    "stream_full_outer_join",
    oracle=_STREAM_FULL_JOIN_SQL,
    tags=("streaming", "join", "full-outer"),
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, bounded run — completes the
    streaming join family (inner r3, left-outer + left-semi r4): matched
    pairs emit on match; unmatched clicks flush with NULL purchase columns
    when the watermark passes their 2h window; unmatched purchases flush
    with NULL click columns when the watermark passes their event time.

    Tail semantics made oracle-exact on BOTH sides (the left-outer
    discipline applied symmetrically): rows whose flush depends on the
    final watermark are kept only when their window provably closed a
    safety margin before min(max event time per side) - delay — matched
    rows never wait, and the margin swallows the engine's exact >=/>
    boundary."""
    from plan_spark.streaming.windows import click_purchase_full_join_stream

    out = _gated_available_now(
        spark,
        sf_dir,
        lambda s: click_purchase_full_join_stream(s, sf_dir, user_mod=_JOIN_USER_MOD),
        "stream_full_outer_join_sink",
        output_mode="append",
    )
    delay_margin = F.col("flush_bound")
    closed = out.crossJoin(F.broadcast(_flush_bound(out, sf_dir))).filter(
        (F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull())
        | (
            F.col("purchase_id").isNull()
            & (F.col("c_ts") + F.expr("interval 2 hours") < delay_margin)
        )
        | (F.col("click_id").isNull() & (F.col("p_ts") < delay_margin))
    )
    matched = F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    return (
        closed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(matched, 1).otherwise(0)).cast("bigint").alias("n_matched"),
            F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_click_only"),
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchase_only"),
            F.sum(F.col("p_value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


_STREAM_SEMI_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
  FROM events WHERE event_type = 'click' AND user_id % {_JOIN_USER_MOD} = 0),
p AS (
  SELECT user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase' AND user_id % {_JOIN_USER_MOD} = 0),
converted AS (
  SELECT c.click_id, c.c_user AS user_id
  FROM c WHERE EXISTS (
    SELECT 1 FROM p
    WHERE p.p_user = c.c_user
      AND p.p_ts > c.c_ts
      AND p.p_ts <= c.c_ts + INTERVAL 2 HOUR))
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_converted_clicks
FROM converted GROUP BY user_id ORDER BY user_id
"""


@register(
    "stream_semi_join", oracle=_STREAM_SEMI_JOIN_SQL, tags=("streaming", "join", "semi")
)
def stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join: each click emits AT MOST ONCE
    — when its first same-user purchase lands inside (c_ts, c_ts + 2h] —
    the streaming EXISTS. Distinct state machine vs inner/outer: match
    multiplicity never multiplies output (the engine retracts the click
    from state on first match), and unmatched clicks simply expire, so
    there is NO tail-flush dependence — the bounded run equals the batch
    EXISTS exactly, no closed-window filtering required.

    Scale shape: same watermarked, time-bounded state as the inner join
    (O(events in window), not O(stream)); output is click-cardinality
    bounded."""
    from plan_spark.streaming.windows import click_purchase_semi_join_stream

    out = _gated_available_now(
        spark,
        sf_dir,
        lambda s: click_purchase_semi_join_stream(s, sf_dir, user_mod=_JOIN_USER_MOD),
        "stream_semi_join_sink",
        output_mode="append",
        # semi join emits each click at most once, on first match — the
        # no-data flush batch only expires state, never emits
        no_data_batch=False,
    )
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_converted_clicks"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming CURATION pipeline: quality gate -> keyed dedup -> windowed
# accounting, composed in ONE streaming plan — the ingest shape a
# training-data feed runs continuously.
# ---------------------------------------------------------------------------

_STREAM_CURATION_SQL = """
WITH clean AS (
  SELECT user_id, event_type, date_trunc('minute', ts) AS minute
  FROM events
  WHERE value IS NOT NULL AND value >= 0
    AND event_type IN ('click', 'view', 'purchase')),
dd AS (SELECT DISTINCT user_id, event_type, minute FROM clean)
SELECT time_bucket(INTERVAL '6 hours', minute) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_unique
FROM dd GROUP BY 1, 2 ORDER BY bucket_start, event_type
"""


@register(
    "stream_curation", oracle=_STREAM_CURATION_SQL, tags=("streaming", "pipeline")
)
def stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest-curation composition in ONE plan: a map-side
    quality gate (non-null, non-negative value; allowed event types), then
    watermarked dropDuplicates on (user, type, minute), then a tumbling
    6-hour windowed count of surviving keys — filter -> dedup -> aggregate
    chained through a single state pipeline, exactly the continuous feed
    shape batch curation (quality_filter -> dedup_exact -> accounting)
    runs offline.

    Determinism under raciness: which physical row survives dedup is racy,
    so everything downstream derives from the KEY only — the window column
    is the key's own minute (never the survivor's raw ts, which would flip
    6-hour buckets between runs) and the aggregate is a count of keys. A
    key survives the gate iff ANY of its rows passes — a deterministic
    set. Bounded availableNow run == the batch DISTINCT the oracle
    computes; on unbounded input the watermark bounds both state stores.

    Scale shape: the gate is map-side; dedup state and the windowed agg
    partition on the dedup key / window — the same two shuffles the batch
    equivalent pays, with state bounded by the watermark horizon."""
    def build(s):
        ev = _events_stream(s, sf_dir)
        clean = ev.filter(
            F.col("value").isNotNull()
            & (F.col("value") >= 0)
            & F.col("event_type").isin("click", "view", "purchase")
        ).select(
            "user_id",
            "event_type",
            F.date_trunc("minute", "ts").alias("minute"),
        )
        dd = clean.withWatermark("minute", "1 hour").dropDuplicates(
            ["user_id", "event_type", "minute"]
        )
        return (
            dd.groupBy(F.window("minute", "6 hours").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
            .select(
                F.col("w.start").alias("bucket_start"), "event_type", "n_unique"
            )
        )

    out = _gated_available_now(
        spark, sf_dir, build, "stream_curation_sink", output_mode="complete"
    )
    return out.orderBy("bucket_start", "event_type")
