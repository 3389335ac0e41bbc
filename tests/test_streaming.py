"""Streaming slice: bounded (availableNow) runs must agree with the batch
equivalents — the engine's check that event-time semantics are identical
across the batch/streaming boundary."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from plan_spark.catalog import table
from plan_spark.queries.analytics import sessionize, time_bucket_agg
from plan_spark.streaming.windows import (
    run_available_now,
    session_counts_stream,
    tumbling_counts_stream,
    user_totals_stateful,
)
from tests.conftest import SF_DIR, canon


def test_tumbling_stream_matches_batch(spark):
    got = canon(
        run_available_now(
            tumbling_counts_stream(spark, SF_DIR), "t_tumbling"
        ).toPandas()
    )
    want = canon(
        time_bucket_agg(spark, SF_DIR)
        .select("bucket_start", "event_type", "n")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_session_stream_matches_batch(spark):
    got = canon(
        run_available_now(
            session_counts_stream(spark, SF_DIR), "t_sessions"
        ).toPandas()
    )
    want = canon(
        sessionize(spark, SF_DIR)
        .select("user_id", "session_start", "n_events")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_stateful_user_totals(spark):
    got = user_totals_stateful(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    import pyspark.sql.functions as F

    want = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got2 = got[["user_id", "n_events"]].sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got2.astype({"user_id": "int64", "n_events": "int64"}),
        want.astype({"user_id": "int64", "n_events": "int64"}),
    )


def test_sliding_stream_double_counts(spark):
    """Every event falls in exactly two overlapping 6h/3h windows, so the
    sliding total is 2x the tumbling/batch event count."""
    from plan_spark.streaming.windows import sliding_counts_stream

    out = run_available_now(
        sliding_counts_stream(spark, SF_DIR), "sliding_t"
    ).toPandas()
    n_events = table(spark, SF_DIR, "events").count()
    assert int(out["n"].sum()) == 2 * n_events


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: with a 1h watermark and update mode, a row arriving
    a day behind the watermark is dropped from its (already finalized)
    window. Two availableNow runs share a checkpoint, so the watermark from
    run 1 (12:00) is recovered before run 2 sees the late row — this also
    exercises state-store/watermark recovery."""
    import os

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    batches: list[pd.DataFrame] = []

    def run_once():
        sdf = (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, _id: batches.append(df.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    b1 = spark.createDataFrame(
        [(i, f"2024-01-02 {h:02d}:00:00") for i, h in enumerate([10, 11, 12, 13])],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    b1.coalesce(1).write.mode("append").parquet(src)
    run_once()  # watermark advances to 13:00 - 1h = 12:00

    b2 = spark.createDataFrame(
        [(100, "2024-01-01 05:00:00"), (101, "2024-01-02 13:30:00")],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    b2.coalesce(1).write.mode("append").parquet(src)
    run_once()  # late Jan-1 row is behind the recovered watermark -> dropped

    allb = pd.concat(batches, ignore_index=True)
    got = set(allb["ws"].astype(str))
    assert not any(k.startswith("2024-01-01") for k in got), got
    # the on-time row of run 2 WAS aggregated
    assert "2024-01-02 13:00:00" in got, got


def test_stream_append_into_versioned_dataset(spark, tmp_path):
    """Streaming ingest commits manifest versions through the dataset's
    optimistic protocol; a second identical run (fresh checkpoint, same
    batch ids) is deduped -> exactly-once over replays."""
    from plan_spark.dataset import Dataset
    from plan_spark.streaming.sink import append_stream
    from plan_spark.streaming.windows import _events_stream

    ds_path = str(tmp_path / "events_ds")
    ev_schema_df = table(spark, SF_DIR, "events").limit(0)
    Dataset.create(spark, ds_path, ev_schema_df)

    sdf = _events_stream(spark, SF_DIR)
    q = append_stream(sdf, ds_path, checkpoint=str(tmp_path / "ck1"))
    q.awaitTermination()
    ds = Dataset.open(spark, ds_path)
    n_events = table(spark, SF_DIR, "events").count()
    assert ds.to_df().count() == n_events
    v_after_first = ds.version

    # replay with a fresh checkpoint => same batch ids => deduped
    q2 = append_stream(sdf, ds_path, checkpoint=str(tmp_path / "ck2"))
    q2.awaitTermination()
    ds = Dataset.open(spark, ds_path)
    assert ds.to_df().count() == n_events
    assert ds.version == v_after_first

    # the dedupe watermark rides the manifest itself, not a side file
    assert ds.manifest.stream_state.get("default", -1) >= 0


def test_stream_dedupe_survives_concurrent_batch_writer(spark, tmp_path):
    """The batch-id watermark lives in the manifest commit, so a concurrent
    batch append between stream batches (a) rebases cleanly and (b) does not
    disturb replay dedupe — and a racing replay of an already-committed
    batch loses atomically via DuplicateBatchError."""
    import pytest

    from plan_spark.dataset import Dataset, DuplicateBatchError

    ds_path = str(tmp_path / "mixed_ds")
    ev = table(spark, SF_DIR, "events")
    Dataset.create(spark, ds_path, ev.limit(0))

    writer = Dataset.open(spark, ds_path)  # concurrent batch-writer handle
    streamer = Dataset.open(spark, ds_path)  # "stream" handle (stale reads)

    streamer.append(ev.limit(10), stream_commit=("s1", 0))
    # batch writer lands between micro-batches, from a stale read version
    writer.append(ev.limit(5))
    # next micro-batch rebases over the batch commit, watermark advances
    streamer = Dataset.open(spark, ds_path, version=1)  # stale open
    streamer.append(ev.limit(10), stream_commit=("s1", 1))

    ds = Dataset.open(spark, ds_path)
    assert ds.to_df().count() == 25
    assert ds.manifest.stream_state == {"s1": 1}

    # replay of batch 1 (e.g. restart from an old checkpoint) is refused
    # atomically inside the commit protocol — no partial state
    v_before = ds.version
    replayer = Dataset.open(spark, ds_path)
    with pytest.raises(DuplicateBatchError):
        replayer.append(ev.limit(10), stream_commit=("s1", 1))
    ds = Dataset.open(spark, ds_path)
    assert ds.version == v_before
    assert ds.to_df().count() == 25

    # a DIFFERENT stream's batch 0 is not confused with s1's
    Dataset.open(spark, ds_path).append(ev.limit(3), stream_commit=("s2", 0))
    ds = Dataset.open(spark, ds_path)
    assert ds.manifest.stream_state == {"s1": 1, "s2": 0}
    assert ds.to_df().count() == 28


def test_stream_stream_interval_join_matches_batch(spark):
    from plan_spark.streaming.windows import (
        click_purchase_join_batch,
        click_purchase_join_stream,
    )

    got = canon(
        run_available_now(
            click_purchase_join_stream(spark, SF_DIR), "t_ssjoin", output_mode="append"
        ).toPandas()
    )
    want = canon(click_purchase_join_batch(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark collapses a doubled input back to the
    batch-distinct row set (duplicates land inside the watermark delay)."""
    import shutil

    from plan_spark.streaming.windows import dedup_events_stream

    src = str(tmp_path / "dup_src")
    shutil.os.makedirs(src)
    shutil.copy(f"{SF_DIR}/events.parquet", f"{src}/events.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", f"{src}/events_copy2.parquet")

    got = run_available_now(
        dedup_events_stream(spark, src), "t_dedup", output_mode="append"
    )
    n_batch = table(spark, SF_DIR, "events").count()
    assert got.count() == n_batch
    assert got.select("event_id").distinct().count() == n_batch


def test_stream_static_enrichment_matches_batch(spark):
    from plan_spark.streaming.windows import enriched_stream

    got = canon(
        run_available_now(
            enriched_stream(spark, SF_DIR), "t_enrich", output_mode="append"
        ).toPandas()
    )
    ev = table(spark, SF_DIR, "events")
    dim = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.count(F.lit(1)).alias("lifetime_events"),
    )
    want = canon(
        ev.join(dim, "user_id")
        .select("event_id", "user_id", "ts", "event_type", "first_seen", "lifetime_events")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_outer_join_flush_bound_reads_on_the_sink_session(spark):
    """The outer joins' flush bound is built on the session that owns the
    memory sink (the gated newSession() at fixture scale), never joined in
    from another session's plan — even after the base session has read
    the same table (the resolved-relation cache is per session)."""
    from plan_spark.queries.streaming_q import _flush_bound

    assert table(spark, SF_DIR, "events").sparkSession is spark
    gated = spark.newSession()
    bound = _flush_bound(gated.range(1), SF_DIR)
    assert bound.sparkSession is gated
    assert table(gated, SF_DIR, "events").sparkSession is gated
    assert bound.collect()[0].flush_bound is not None
