"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference is stateless per file (SURVEY.md §2.9); this is the escape
hatch for operators Spark's built-in stateful surface (windowed aggs,
``dropDuplicates``) can't express: arbitrary per-key state evolved batch by
batch in Arrow-batched pandas — here a per-user running profile
(count / max / total of ``value``), the accumulating account-behavior
state a fraud scorer keeps.

Scale notes: state lives in the state store partitioned by the grouping
key (one shuffle per micro-batch on ``user_id``); each group's rows arrive
as pandas chunks, so per-key state is O(aggregate), not O(rows). On an
unbounded stream add a ``GroupStateTimeout`` policy so idle keys expire
instead of accreting forever.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fraud_detection_etl_project_spark.streaming import drain
from fraud_detection_etl_project_spark.streaming.windows import events_stream

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, max_value double, total_value double"
STATE_SCHEMA = "n bigint, mx double, tot double"


def _update_user_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, mx, tot = state.get if state.exists else (0, float("-inf"), 0.0)
    for pdf in pdfs:
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
        tot += float(pdf["value"].sum())
    state.update((n, mx, tot))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "max_value": [mx], "total_value": [tot]}
    )


def user_running_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through the stateful profile operator and
    return the final per-user state as a batch frame.

    Update-mode memory sink keeps every per-batch emission; ``n_events``
    strictly increases per key across emissions, so the final profile is
    the max-``n_events`` row per user (deterministic regardless of how the
    source splits into micro-batches).
    """
    profiles = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drain(profiles, "update")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM vs a fixed target (order-exact sequential state)
# ---------------------------------------------------------------------------

CUSUM_TARGET_C = 5_000  # reference level, integer cents
CUSUM_H = 10_000  # alert threshold, integer cents
CUSUM_OUT = (
    "user_id bigint, n_events bigint, max_cusum bigint, n_alerts bigint, "
    "first_alert_step bigint"
)
CUSUM_STATE = "r bigint, minr bigint, smax bigint, nal bigint, first bigint, n bigint"


def _update_user_cusum(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user CUSUM state transition over one micro-batch: rows are
    sorted by (ts, event_id) inside the batch, and the drawdown identity
    S_i = R_i - min(0, min_prefix(R)) turns the sequential recurrence
    into two vectorized scans (cumsum + cummin) with O(1) carried state:
    (last R, running min R incl. the 0 clamp, max S, alert count, first
    alert step, row count). All int64 — bit-exact vs the batch oracle."""
    import numpy as np

    r0, minr0, smax, nal, first, n = (
        state.get if state.exists else (0, 0, 0, 0, -1, 0)
    )
    chunks = [pdf for pdf in pdfs]
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    d = pdf["cents"].to_numpy(dtype="int64") - CUSUM_TARGET_C
    r = r0 + np.cumsum(d)
    minr = np.minimum.accumulate(np.minimum(r, minr0))
    s = r - minr
    hits = np.flatnonzero(s > CUSUM_H)
    if first < 0 and len(hits):
        first = n + int(hits[0]) + 1
    nal += int(len(hits))
    smax = max(int(smax), int(s.max()))
    n += len(pdf)
    state.update((int(r[-1]), int(minr[-1]), int(smax), int(nal), int(first), int(n)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_cusum": [smax],
            "n_alerts": [nal],
            "first_alert_step": [first],
        }
    )


def user_cusum_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    """Drain an event-time-ordered staged parquet stream through the
    stateful CUSUM operator (one file per micro-batch) and return each
    user's final state. Sequential state is only meaningful if batches
    replay in event-time order — the staging contract (files are time
    octiles with ascending mtimes) plus the in-batch sort supply exactly
    that; the value oracle would catch any ordering violation."""
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )
    walked = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_cusum,
        outputStructType=CUSUM_OUT,
        stateStructType=CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drain(walked, "update")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(
            "user_id",
            "n_events",
            "max_cusum",
            "n_alerts",
            F.when(F.col("first_alert_step") < 0, F.lit(None))
            .otherwise(F.col("first_alert_step"))
            .cast("bigint")
            .alias("first_alert_step"),
        )
    )


# ---------------------------------------------------------------------------
# Gap sessionizer with EVENT-TIME STATE TIMEOUT (state-hygiene surface)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30
SESSION_OUT = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, value_cents bigint"
)
SESSION_STATE = "start_us bigint, end_us bigint, n bigint, cents bigint"
_US = 1_000_000


def _update_user_sessions(key, pdfs, state: GroupState):
    """Close a session when a new event arrives more than the gap after
    its last event (in-band closure — deterministic regardless of how
    the source splits into micro-batches, because event time decides,
    not batch boundaries). The open tail session stays in state with an
    EVENT-TIME TIMEOUT registered at end+gap: when the watermark passes
    it, the state is dropped (no emission — the tail session's emission
    would depend on the final watermark position, i.e. on batch split,
    so a value-checked pipeline suppresses it; a production pipeline
    would emit it here instead)."""
    import pandas as pd  # noqa: F811

    gap_us = SESSION_GAP_MIN * 60 * _US
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(
            columns=["user_id", "session_start", "session_end", "n_events", "value_cents"]
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    if state.exists:
        start_us, end_us, n, cents = state.get
    else:
        start_us = end_us = n = cents = None
    out = []
    for r in rows.itertuples():
        t_us = int(r.ts.value // 1000)  # ns -> us
        c = int(r.cents)
        if n is None:
            start_us, end_us, n, cents = t_us, t_us, 1, c
        elif t_us - end_us >= gap_us:
            out.append((key[0], start_us, end_us, n, cents))
            start_us, end_us, n, cents = t_us, t_us, 1, c
        else:
            end_us, n, cents = t_us, n + 1, cents + c
    state.update((start_us, end_us, n, cents))
    state.setTimeoutTimestamp((end_us + gap_us) // 1000)  # ms epoch
    yield pd.DataFrame(
        {
            "user_id": [u for u, *_ in out],
            "session_start": [pd.Timestamp(s, unit="us") for _, s, *_ in out],
            "session_end": [pd.Timestamp(e, unit="us") for _, _, e, *_ in out],
            "n_events": [n_ for *_, n_, _c in out],
            "value_cents": [c_ for *_, c_ in out],
        }
    )


def user_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through the timeout sessionizer; returns
    the in-band-closed sessions as a batch frame."""
    from pyspark.sql import functions as F

    src = events_stream(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")
    ).withWatermark("ts", "1 minute")
    sessions = src.groupBy("user_id").applyInPandasWithState(
        _update_user_sessions,
        outputStructType=SESSION_OUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain(sessions, "append")
