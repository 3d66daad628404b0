"""Event-time windowed aggregations over the ``events`` stream.

The reference is stateless per file (SURVEY.md §2.9); these are the
event-time operators a fraud/analytics stream actually needs: tumbling
windows + watermarks. Every function here builds a streaming frame and
hands it to ``streaming.drain``, the one path that runs a bounded stream
to completion and returns its result as a batch frame (deterministic, so
tests and the batch-equivalence oracle can check it). Each function
chooses only the output mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.schemas import EVENTS_SCHEMA
from fraud_detection_etl_project_spark.sources.local import local_frame
from fraud_detection_etl_project_spark.sources.parquet import pin_session_confs
from fraud_detection_etl_project_spark.streaming import drain


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet (ns ``ts`` -> µs timestamp).

    ``readStream`` needs an explicit schema, and Spark's file stream source
    wants a *directory* (one micro-batch per discovered file — the S3
    landing-bucket model). The fixture is a bare file, so it is exposed
    through a staged directory holding a symlink to it; a real deployment
    points this at the landing directory itself. ``ts`` arrives as
    session-TZ TimestampType directly (µs parquet under the pinned reader
    confs, like the batch source).
    """
    pin_session_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(src):
        # imported here: the plans package imports this module
        from fraud_detection_etl_project_spark.plans.staging import staged

        target = os.path.abspath(src)
        src = staged(
            sf_dir,
            "events_stream",
            ("events",),
            lambda d: os.symlink(target, os.path.join(d, "events.parquet")),
        )
    return spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)


def hourly_event_rollup(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + value total.

    *Complete* mode: with append mode the windows newer than the final
    watermark would never flush on a drained stream.

    Scale: streaming state is one row per (window × type); the watermark
    bounds state growth for unbounded sources.
    """
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fxr(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain(agg, "complete")


def sliding_event_rollup(
    spark: SparkSession, sf_dir: str, size: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding event-time windows × event_type counts (each event belongs
    to size/slide windows). Complete mode."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", size, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return drain(agg, "complete")


def streamed_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side exact dedup on the natural key (event_id): stateful
    ``dropDuplicates`` in append mode. On an unbounded source use
    ``dropDuplicatesWithinWatermark`` so dedup state is GC'd with the
    watermark instead of growing forever."""
    dedup = events_stream(spark, sf_dir).dropDuplicates(["event_id"])
    return drain(dedup, "append")


def clicks_purchase_attribution(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream join with event-time range condition: attribute
    each purchase to every click by the same user in the preceding hour.

    Both sides carry watermarks and the join condition bounds the
    event-time skew (`purchase_ts` within [click_ts, click_ts + horizon]),
    which is what lets Spark GC join state: a buffered click can be
    dropped once the purchase-side watermark passes click_ts + horizon.
    An unbounded (condition-free) stream-stream join would accumulate
    state forever — the range condition IS the scale design. Append mode.

    ``join_type="left_outer"`` adds the unconverted-click rows: matched
    pairs still emit as they join; an unmatched click emits a
    NULL-extended row only when the GLOBAL watermark (min of both sides'
    watermarks) passes click_ts + horizon — i.e. when its state is
    evicted and Spark has proof no future purchase can match. Clicks
    inside the final watermark window stay buffered and never emit on a
    bounded drain; the oracle mirrors that emission boundary exactly
    (`stream_click_attribution_outer`).
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        join_type,
    )
    if join_type == "left_semi":
        # semi output carries LEFT columns only (existence, not pairing)
        joined = joined.select(F.col("click_id"), F.col("c_user").alias("user_id"))
    else:
        joined = joined.select(
            F.col("click_id"),
            F.col("purchase_id"),
            # full_outer emits purchase-only rows whose click side is NULL —
            # the user key must then come from the purchase side
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            F.col("purchase_value"),
        )
    return drain(joined, "append")


def attribution_hourly_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query (Spark 3.5+/4
    capability, historically rejected as "multiple stateful operations"):
    a watermarked stream-stream range join (purchases attributed to
    same-user clicks within the preceding hour) feeding a tumbling
    event-time window aggregation, both stateful, in a single append-mode
    pipeline.

    Correct chaining requires operator-level watermark propagation: the
    join's OUTPUT carries the purchase-side event-time column, and the
    downstream window closes only when the GLOBAL watermark — min of the
    click-side and purchase-side input watermarks — passes its end. On a
    bounded availableNow drain the final flush batch emits every window
    whose end ≤ min(max click_ts, max purchase_ts) − delay; later windows
    stay open (their join state could still match), which the batch-SQL
    oracle mirrors exactly (`stream_attribution_hourly_chain`).

    Scale: join state is GC'd by the range condition (a click is held at
    most horizon + delay), window state by the watermark — both bounded,
    so the chain runs indefinitely on an unbounded stream; one shuffle
    per stateful operator, same as running them as two queries, minus an
    intermediate sink and its replay cost.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    agg = (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.floor(F.sum("purchase_value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("attributed_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "n_pairs", "attributed_cents")
    )
    return drain(agg, "append")


def stream_static_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    in-memory dimension (event-type weights), then rolled up.

    The static side needs no watermark and is re-read per micro-batch;
    Catalyst broadcasts it (dims stay small by definition), so the join
    adds zero shuffle to the stream — the standard way to attach
    reference data to a 100 TB/day stream. Complete mode.
    """
    weights = local_frame(
        spark,
        [("view", 1.0), ("click", 2.0), ("signup", 5.0), ("purchase", 10.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    agg = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(weights), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fxr(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
        )
    )
    return drain(agg, "complete")


def deduped_within_watermark(spark: SparkSession, sf_dir: str, watermark: str = "2 hours") -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on the natural key: unlike plain
    streaming ``dropDuplicates`` (whose key-set state grows forever on an
    unbounded source), dedup state here is GC'd once the watermark passes
    a key's last-seen event time — bounded state at any stream length, at
    the cost of only deduplicating re-deliveries that arrive within the
    watermark horizon (exactly the S3 duplicate-event profile). Append
    mode."""
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return drain(dedup, "append")


def sessionized_user_activity(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-based) per user: event count + value per
    session — the stateful-streaming surface (§2.9). Complete mode."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), fxr(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
    return drain(agg, "complete")


def user_velocity_alerts(
    spark: SparkSession,
    sf_dir: str,
    size: str = "24 hours",
    slide: str = "12 hours",
    min_events: int = 8,
) -> DataFrame:
    """Streaming velocity rule: per-user event count + exact cent amount
    over sliding event-time windows, emitting only window-user cells that
    cross the burst threshold — the continuous version of the batch
    txn_velocity_flags rule (plans/risk_queries.py). Sliding windows
    (each event in size/slide cells) bound the trailing-window semantics
    where a true per-event trailing frame would need unbounded buffering.

    COMPLETE mode, so the bounded replay is deterministic and the
    threshold filter applies to final window totals; note the watermark
    is inert under complete mode (all windows are retained and
    re-emitted). A continuous 24/7 deployment
    uses update/append mode instead, where the same 1-hour watermark
    actually GC's (window, user) state — the aggregation plan is
    identical, only the sink mode changes."""
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", size, slide).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(cents).alias("amt_c"),
        )
        .filter(F.col("n_events") >= min_events)
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            (F.col("amt_c").cast("double") / F.lit(100.0)).alias("window_amount"),
        )
    )
    return drain(agg, "complete")
