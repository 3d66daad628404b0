"""Decision-analytics shapes widening the round-3 surface: forensic
digit auditing (Benford), customer scoring (RFM), experiment readouts
(Welch's t), sequential change detection (CUSUM over per-key ordered
state), gap-and-island activity runs, Pareto-frontier (skyline) extraction,
collocation mining (bigram lift), and iterative k-core graph peeling.

Every query keeps the repo's contract: a Spark plan built from JVM-side
operators wherever the semantics allow (the one pandas hop, CUSUM, is the
textbook per-key-sequential case), and a DuckDB value oracle that computes
the same integers/quantized doubles bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.functions.text import tokens
from fraud_detection_etl_project_spark.plans.llm_queries import TOKS_SQL
from fraud_detection_etl_project_spark.plans.advanced_queries import (
    _EDGES_SQL,
    _copurchase_edges,
)
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.sources.local import local_frame
from fraud_detection_etl_project_spark.sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud forensics)
# ---------------------------------------------------------------------------

@query(
    "benford_digit_audit",
    oracle="""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders
),
d AS (
  SELECT CAST(floor(cents / pow(10, length(CAST(cents AS VARCHAR)) - 1)) AS INT) AS digit
  FROM c
),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT g.digit, g.n,
       floor(g.n * 1000000.0 / t.total + 0.5) / 1000000.0 AS obs_share
FROM g, t
""",
    bench=False,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    forensic-accounting screen the reference's fraud domain implies:
    tally leading digits of every amount and report each digit's observed
    share (an auditor compares the shares against log10(1+1/d); amounts
    invented by humans over-represent mid digits).

    The leading digit is derived in exact integer space (cents -> digit
    via the decimal string length), never via ``log10`` — libm log at
    exact powers of ten is the one place two engines can disagree by an
    ulp and flip ``floor``.

    Scale: one narrow projection plus a 9-group count — fully map-side
    combined, the shuffle carries nine rows per partition. The share
    division joins a broadcast 1-row total."""
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents")
    )
    d = o.select(
        F.floor(
            F.col("cents") / F.pow(F.lit(10.0), F.length(F.col("cents").cast("string")) - 1)
        )
        .cast("int")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = g.agg(F.sum("n").cast("bigint").alias("total"))
    return g.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        (F.floor(F.col("n") * 1_000_000.0 / F.col("total") + 0.5) / 1_000_000.0).alias(
            "obs_share"
        ),
    )


# ---------------------------------------------------------------------------
# RFM customer scoring
# ---------------------------------------------------------------------------

@query(
    "rfm_customer_scores",
    oracle="""
WITH per AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1
),
anchored AS (
  SELECT p.*, CAST(datediff('day', p.last_day, t.anchor) AS BIGINT) AS recency_days
  FROM per p, (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders) t
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
  FROM anchored
)
SELECT o_custkey, recency_days, frequency, monetary_cents / 100.0 AS monetary,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code
FROM scored
""",
    bench=False,
)
def rfm_customer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile scoring — the
    workhorse customer-segmentation readout of a commerce/fraud stack:
    per customer, days since last order (vs the corpus max date),
    order count, lifetime spend, and an ``r*100+f*10+m`` segment code
    from per-metric ``ntile(5)`` quintiles (deterministic via the
    custkey tiebreak; both engines fill early buckets first).

    Scale: the per-customer aggregate is one map-side-combined shuffle on
    ``o_custkey`` over the fact; the quintile windows then run over the
    customer-cardinality frame, three orders of magnitude smaller. The
    unpartitioned ``ntile`` is a single-partition sort of that reduced
    frame — the documented 100-TB swap is broadcast quantile cutpoints
    (``percentile_approx`` of each metric -> ``width_bucket``), which
    this layout makes a drop-in replacement since the scores are already
    computed after the reduction."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    per = o.groupBy("o_custkey").agg(
        F.max("d").alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum("cents").cast("bigint").alias("monetary_cents"),
    )
    anchor = o.agg(F.max("d").alias("anchor"))
    a = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff(F.col("anchor"), F.col("last_day")).cast("bigint")
    )
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    m_w = Window.orderBy(F.col("monetary_cents").desc(), F.col("o_custkey").asc())
    scored = a.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(r_w).cast("int").alias("r_score"),
        F.ntile(5).over(f_w).cast("int").alias("f_score"),
        F.ntile(5).over(m_w).cast("int").alias("m_score"),
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.col("monetary_cents") / 100.0).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_code"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test A/B readout
# ---------------------------------------------------------------------------

@query(
    "welch_ab_value_test",
    oracle="""
WITH raw AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n_b,
         floor(avg(value) FILTER (WHERE user_id % 2 = 0) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_a,
         floor(avg(value) FILTER (WHERE user_id % 2 = 1) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_b,
         floor(var_samp(value) FILTER (WHERE user_id % 2 = 0) * 1000000.0 + 0.5)
           / 1000000.0 AS var_a,
         floor(var_samp(value) FILTER (WHERE user_id % 2 = 1) * 1000000.0 + 0.5)
           / 1000000.0 AS var_b
  FROM events GROUP BY 1
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       floor((mean_a - mean_b)
             / sqrt(var_a / n_a + var_b / n_b) * 1000000.0 + 0.5) / 1000000.0
         AS t_stat,
       floor((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1))
             * 1000000.0 + 0.5) / 1000000.0 AS welch_df
FROM raw
""",
    bench=False,
)
def welch_ab_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type — the A/B experiment
    readout (cohorts by user-id parity, the deterministic stand-in for an
    assignment column): t statistic and Welch–Satterthwaite degrees of
    freedom from one conditional-aggregation pass.

    Parity: means and sample variances are quantized at 1e-6 FIRST, then
    both engines compute t and df from those identical doubles with the
    same expression — so the final quantization never sits on a
    different input.

    Scale: a single scan with FILTER-style conditional aggregates — both
    cohorts come out of one map-side-combined shuffle on the 5-value
    event-type key; no self-join of cohort A against cohort B (the naive
    two-scan formulation doubles the read and shuffles twice)."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id", "value")
    a_side = F.col("user_id") % 2 == 0
    raw = e.groupBy("event_type").agg(
        F.count(F.when(a_side, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~a_side, 1)).cast("bigint").alias("n_b"),
        fxr(F.avg(F.when(a_side, F.col("value"))), 6).alias("mean_a"),
        fxr(F.avg(F.when(~a_side, F.col("value"))), 6).alias("mean_b"),
        fxr(F.var_samp(F.when(a_side, F.col("value"))), 6).alias("var_a"),
        fxr(F.var_samp(F.when(~a_side, F.col("value"))), 6).alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    df_num = se2 * se2
    df_den = (F.col("var_a") / F.col("n_a")) * (F.col("var_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    ) + (F.col("var_b") / F.col("n_b")) * (F.col("var_b") / F.col("n_b")) / (F.col("n_b") - 1)
    return raw.select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        fxr((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2), 6).alias("t_stat"),
        fxr(df_num / df_den, 6).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# CUSUM sequential change detection (per-key ordered state)
# ---------------------------------------------------------------------------

_CUSUM_H = 10_000  # alert threshold, integer cents


@query(
    "user_cusum_alerts",
    oracle=f"""
WITH RECURSIVE seq AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
mu AS (SELECT user_id, sum(cents) // count(*) AS mean_c FROM seq GROUP BY 1),
walk AS (
  SELECT s.user_id, s.i, GREATEST(CAST(0 AS BIGINT), s.cents - m.mean_c) AS s_val
  FROM seq s JOIN mu m ON s.user_id = m.user_id WHERE s.i = 1
  UNION ALL
  SELECT s.user_id, s.i, GREATEST(CAST(0 AS BIGINT), w.s_val + s.cents - m.mean_c)
  FROM walk w
  JOIN seq s ON s.user_id = w.user_id AND s.i = w.i + 1
  JOIN mu m ON s.user_id = m.user_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(s_val) AS BIGINT) AS max_cusum,
       CAST(count(*) FILTER (WHERE s_val > {_CUSUM_H}) AS BIGINT) AS n_alerts,
       CAST(min(i) FILTER (WHERE s_val > {_CUSUM_H}) AS BIGINT) AS first_alert_step
FROM walk GROUP BY 1
""",
    bench=True,
)
def user_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection over each user's purchase stream:
    ``S_i = max(0, S_(i-1) + x_i - mean)`` in exact integer cents, alert
    when S crosses a fixed threshold — the sequential spend-shift monitor
    a fraud stack runs beside the per-row rule filters. Reports per user
    the peak CUSUM, alert count, and first alert step.

    The recurrence LOOKS inherently sequential, but it has a closed
    prefix-scan form — the drawdown identity
    ``S_i = R_i - min(0, min_(j<=i) R_j)`` with ``R`` the running sum of
    ``x - mean`` — so the whole walk is expressible as window functions:
    a running sum, a running min, and per-key totals over ONE
    partitioning. That keeps CUSUM entirely JVM-side (whole-stage
    codegen, zero Python), replacing the earlier grouped-map
    implementation that paid a per-group Arrow/pandas round trip
    (~4x faster at sf0.1 and no Python memory bound at 100 TB; the
    grouped-map escape hatch remains represented by
    holt_daily_value_forecast, where the state truly has no scan form).

    Scale: one shuffle on user_id; both window passes and the final
    group-by reuse that partitioning (Exchange appears once). All
    arithmetic is int64 — bit-identical to the oracle's recursive CTE;
    the per-user mean is floor(sum/count), exact in double for any
    realistic per-user cents total (< 2^53)."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
    )
    h = _CUSUM_H
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("user_id")
    mean_c = F.floor(
        F.sum("cents").over(wall).cast("double") / F.count(F.lit(1)).over(wall)
    ).cast("bigint")
    stepped = e.select(
        "user_id",
        "ts",
        "event_id",
        "cents",
        F.row_number().over(wseq).alias("i"),
        (F.col("cents") - mean_c).alias("d"),
    )
    # running sum first, then running min OF the running sum (two chained
    # window passes over the same partitioning — no extra Exchange)
    with_r = stepped.withColumn("rsum", F.sum("d").over(wcum))
    with_s = with_r.withColumn(
        "s_val",
        F.col("rsum") - F.least(F.lit(0).cast("bigint"), F.min("rsum").over(wcum)),
    )
    return with_s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("s_val").cast("bigint").alias("max_cusum"),
        F.sum(F.when(F.col("s_val") > h, 1).otherwise(0)).cast("bigint").alias("n_alerts"),
        F.min(F.when(F.col("s_val") > h, F.col("i"))).cast("bigint").alias("first_alert_step"),
    )


# ---------------------------------------------------------------------------
# Gap-and-island activity runs
# ---------------------------------------------------------------------------

@query(
    "user_activity_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
tagged AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
)
SELECT user_id, min(day) AS island_start, max(day) AS island_end,
       CAST(count(*) AS BIGINT) AS n_days
FROM tagged GROUP BY user_id, grp
""",
    bench=False,
)
def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-island detection: collapse each user's active days into
    maximal runs of consecutive dates (start, end, length) — the streak /
    churn-gap primitive behind retention features, computed with the
    classic ``day - row_number()`` constant-per-island key (no
    self-join, no recursion).

    Scale: one distinct on (user, day) — map-side combined, output is
    bounded by users x days not raw events — then a per-user window sort
    and a re-aggregation on the derived island key. Both shuffles hash
    on ``user_id`` so AQE coalesces them into the same exchange
    partitioning; nothing touches the raw event payload after the first
    projection."""
    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    tagged = days.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return tagged.groupBy("user_id", "grp").agg(
        F.min("day").alias("island_start"),
        F.max("day").alias("island_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    ).select("user_id", "island_start", "island_end", "n_days")


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------

@query(
    "urgent_price_skyline",
    oracle="""
WITH u AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT p.o_orderkey, p.day AS order_day, p.cents / 100.0 AS o_totalprice
FROM u p
WHERE NOT EXISTS (
  SELECT 1 FROM u q
  WHERE q.day <= p.day AND q.cents >= p.cents
    AND (q.day < p.day OR q.cents > p.cents)
)
""",
    bench=True,
)
def urgent_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of urgent orders: minimize order date,
    maximize price — every order not dominated by an earlier-or-same-day
    order of greater-or-equal price (strict in at least one dimension).
    The multi-objective "best tradeoffs" operator of decision analytics.

    Scale: dominance is decomposable, so the plan never self-joins the
    fact (the oracle's NOT EXISTS is O(n^2); this plan is O(n log n)):
    (1) per-day max price — a map-side-combined aggregate, since only a
    day's max can survive same-day dominance; (2) a running strict-max
    filter over the *distinct-day* frame, date-cardinality not
    order-cardinality, so the unpartitioned window sorts thousands of
    rows regardless of fact size (at 100 TB: local per-range skylines
    then merge survivors — skyline-merge is associative); (3) a semi
    join back on (day, cents) to recover ties that share the frontier
    point. Spark's range frame needs a numeric key, hence the epoch-day
    column."""
    u = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
    )
    per_day = u.groupBy("day").agg(F.max("cents").alias("cents"))
    # strict running max over earlier days: numeric range frame on epoch day
    per_day = per_day.withColumn("dnum", F.datediff(F.col("day"), F.lit("1970-01-01")))
    w_prev = (
        Window.orderBy("dnum").rangeBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_day.withColumn("prev_max", F.max("cents").over(w_prev))
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") < F.col("cents")))
        .select("day", "cents")
    )
    return (
        u.join(frontier, ["day", "cents"], "leftsemi")
        .select(
            "o_orderkey",
            F.col("day").alias("order_day"),
            (F.col("cents") / 100.0).alias("o_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram collocation lift (PMI without the log)
# ---------------------------------------------------------------------------

@query(
    "bigram_collocation_lift",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
big AS (
  SELECT t.toks[u.i] AS w1, t.toks[u.i + 1] AS w2
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks) - 1)) AS i) u
),
uni AS (
  SELECT u.tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM t) u GROUP BY 1
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_big FROM big GROUP BY 1, 2),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS n_big,
         (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni
)
SELECT b.w1, b.w2, b.c_big,
       floor(CAST(b.c_big AS DOUBLE) * t.n_uni * t.n_uni
             / (CAST(t.n_big AS DOUBLE) * u1.c * u2.c) * 10000.0 + 0.5) / 10000.0
         AS lift
FROM bc b
JOIN uni u1 ON b.w1 = u1.tok
JOIN uni u2 ON b.w2 = u2.tok
CROSS JOIN tot t
WHERE b.c_big >= 3
""",
    bench=False,
)
def bigram_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-token bigrams scored by lift —
    p(w1,w2) / (p(w1)p(w2)), the exponential of PMI — keeping pairs seen
    at least 3 times. Lift is computed as a single ratio of exact int64
    counts (products stay far below 2^63) then quantized, so no libm
    ``log`` enters the comparison: PMI's monotone transform adds only a
    cross-engine ulp risk, not information.

    Scale: bigrams come from ``zip_with`` over two ``slice``s of the
    token array — a JVM-side Generate, no Python, no positional
    self-join of the exploded tokens (the naive pos/pos+1 join shuffles
    the entire exploded corpus; the zip never leaves the row). Unigram
    and bigram counts are map-side-combined aggregates; the scoring
    joins hash on single token keys, and the two grand totals ride in as
    a broadcast 1-row frame."""
    t = _t(spark, sf_dir, "documents").select("doc_id", tokens(F.col("text")).alias("toks"))
    big = t.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c_big"))
    tot = big.agg(F.count(F.lit(1)).cast("bigint").alias("n_big")).crossJoin(
        uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    )
    scored = (
        bc.filter(F.col("c_big") >= 3)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    return scored.select(
        "w1",
        "w2",
        "c_big",
        (
            F.floor(
                F.col("c_big").cast("double")
                * F.col("n_uni")
                * F.col("n_uni")
                / (F.col("n_big").cast("double") * F.col("c1") * F.col("c2"))
                * 10_000.0
                + 0.5
            )
            / 10_000.0
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (iterative graph decomposition)
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled peeling rounds as a chain of CTEs (degree -> filter ->
    induced subgraph), mirroring the Spark loop exactly."""
    parts = [f"WITH e0 AS ({_EDGES_SQL})"]
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
d{r} AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT src AS v FROM {prev} UNION ALL SELECT dst FROM {prev}
  ) GROUP BY 1
),
k{r} AS (SELECT v FROM d{r} WHERE deg >= {_KCORE_K}),
e{r} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{r} a ON e.src = a.v JOIN k{r} b ON e.dst = b.v
)"""
        )
        prev = f"e{r}"
    parts.append(
        f"""
SELECT v AS part, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT src AS v FROM {prev} UNION ALL SELECT dst FROM {prev}
) GROUP BY 1"""
    )
    return "".join(parts)


@query("part_kcore_3round", oracle=_kcore_oracle(), bench=False)
def part_kcore_3round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k=2, three rounds) on
    the co-purchase graph: repeatedly drop vertices of degree < k and
    the edges they carry, reporting each survivor's degree in the
    remaining subgraph — the standard dense-substructure filter run
    before community detection or fraud-ring mining (peripheral
    one-off pairs peel away; rings survive).

    Scale: each round is one map-side-combined degree aggregate plus two
    left-semi joins (edge list against the surviving-vertex set) — all
    hash-partitioned on vertex ids, shuffling only (src, dst) pairs.
    The edge frame is persisted per round and the previous round
    unpersisted, so lineage stays O(1) per round exactly like the
    connected-components loop (``operators/graph.py``); a fixpoint run
    replaces the fixed range with a convergence check on the dropped
    count, same plan per iteration."""
    edges = _copurchase_edges(spark, sf_dir)
    prev = None
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("src").alias("v"))
            .unionAll(edges.select(F.col("dst").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("v")
        nxt = (
            edges.join(keep.withColumnRenamed("v", "src"), "src", "leftsemi")
            .join(keep.withColumnRenamed("v", "dst"), "dst", "leftsemi")
            .select("src", "dst")
            .persist()
        )
        nxt.count()  # materialize before unpersisting the parent
        if prev is not None:
            prev.unpersist()
        prev = nxt
        edges = nxt
    return (
        edges.select(F.col("src").alias("part"))
        .unionAll(edges.select(F.col("dst").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


# ---------------------------------------------------------------------------
# Time-series seasonal decomposition
# ---------------------------------------------------------------------------

@query(
    "daily_value_seasonal_decomp",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
tr AS (
  SELECT day, cents,
         floor(avg(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000.0 + 0.5)
           / 1000000.0 AS trend
  FROM daily
),
se AS (
  SELECT tr.*, dayofweek(day) AS dow,
         floor(avg(cents - trend) OVER (PARTITION BY dayofweek(day))
               * 1000000.0 + 0.5) / 1000000.0 AS seasonal
  FROM tr
)
SELECT day, CAST(dow AS INT) AS dow, cents, trend, seasonal,
       floor((cents - trend - seasonal) * 1000000.0 + 0.5) / 1000000.0 AS residual
FROM se
""",
    bench=False,
)
def daily_value_seasonal_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily value series:
    trend = centered 7-day moving average, seasonal = day-of-week mean
    of the detrended series, residual = the rest — the classical
    decomposition an anomaly monitor subtracts before thresholding
    (a Monday spike is seasonality, not fraud).

    Parity: daily totals are exact int64 cents; the 7-row window mean
    divides an exact integer sum; trend and seasonal are quantized at
    1e-6 before the residual subtraction, so both engines subtract
    identical doubles. Day-of-week is aligned to DuckDB's 0=Sunday
    convention (Spark's dayofweek is 1-based).

    Scale: the fact collapses to one row per day FIRST (map-side
    combined), so every window below runs on the calendar-cardinality
    frame — the unpartitioned moving-average sort touches thousands of
    rows at any fact size; the seasonal window hashes on the 7-value
    dow key. (At 100 TB the daily rollup is the stored artifact —
    multires_event_rollup — and this decomposition is its consumer.)"""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w_tr = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.withColumn("trend", fxr(F.avg("cents").over(w_tr), 6))
    se = tr.withColumn("dow", (F.dayofweek("day") - 1).cast("int"))
    w_dow = Window.partitionBy("dow")
    se = se.withColumn("seasonal", fxr(F.avg(F.col("cents") - F.col("trend")).over(w_dow), 6))
    return se.select(
        "day",
        "dow",
        "cents",
        "trend",
        "seasonal",
        fxr(F.col("cents") - F.col("trend") - F.col("seasonal"), 6).alias("residual"),
    )


@query(
    "daily_value_holt_forecast",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
idx AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS i FROM daily),
holt AS (
  SELECT i, day, cents, CAST(cents AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.i, x.day, x.cents,
         floor((0.5 * CAST(x.cents AS DOUBLE) + 0.5 * (h.level + h.trend))
               * 1000000.0 + 0.5) / 1000000.0,
         floor((0.5 * (floor((0.5 * CAST(x.cents AS DOUBLE)
                              + 0.5 * (h.level + h.trend)) * 1000000.0 + 0.5)
                       / 1000000.0 - h.level)
                + 0.5 * h.trend) * 1000000.0 + 0.5) / 1000000.0
  FROM holt h JOIN idx x ON x.i = h.i + 1
)
SELECT day, cents, level, trend,
       floor((level + trend) * 1000000.0 + 0.5) / 1000000.0 AS forecast
FROM holt
""",
    bench=False,
)
def daily_value_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over the daily value
    series (the state-space companion to the classical decomposition
    above): level_t = a*x_t + (1-a)*(level + trend), trend_t =
    g*(level_t - level) + (1-g)*trend with a = g = 1/2, plus the
    one-step-ahead forecast level + trend — the standard online
    baseline an alerting pipeline compares tomorrow's total against.

    Parity: a recursive filter cannot be made order-free the way a sum
    can, so BOTH engines quantize the state to 1e-6 AFTER EVERY STEP
    (the fxr formula inline): each step starts from bit-identical
    doubles, the per-step expression is the same parse tree, and a
    double rounding divergence would need to exceed the quantum in one
    step to survive — the oracle is a DuckDB recursive CTE running the
    identical quantized recurrence.

    Scale: the fact collapses to one row per day first (map-side
    combined); the recurrence then runs over ONE calendar-sized array
    inside a single JVM `aggregate` lambda — sequential by nature,
    parameter-sized by construction (the same class as the PCA power
    iteration's d x d Gram). At 100 TB the daily rollup is the stored
    artifact; this filter is its consumer."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("s")
    )
    q = "floor(({v}) * 1000000.0 + 0.5) / 1000000.0"
    nl = q.format(v="0.5 * CAST(x.cents AS DOUBLE) + 0.5 * (acc.l + acc.b)")
    nb = q.format(v=f"0.5 * (({nl}) - acc.l) + 0.5 * acc.b")
    holt = F.expr(
        f"""
aggregate(
  slice(s, 2, size(s) - 1),
  struct(
    CAST(s[0].cents AS DOUBLE) AS l,
    CAST(0 AS DOUBLE) AS b,
    array(struct(s[0].day AS day, s[0].cents AS cents,
                 CAST(s[0].cents AS DOUBLE) AS level,
                 CAST(0 AS DOUBLE) AS trend)) AS out
  ),
  (acc, x) -> struct(
    CAST({nl} AS DOUBLE) AS l,
    CAST({nb} AS DOUBLE) AS b,
    acc.out || array(struct(x.day AS day, x.cents AS cents,
                            CAST({nl} AS DOUBLE) AS level,
                            CAST({nb} AS DOUBLE) AS trend)) AS out
  ),
  acc -> acc.out
)"""
    ).alias("h")
    # empty-series guard (ADVICE r8): size(s)=0 would hand slice() a
    # negative length (runtime error) — an empty events fixture should
    # degrade to zero rows instead. size(s)=1 is fine (slice len 0).
    return (
        series.filter(F.size("s") >= 1)
        .select(F.explode(holt).alias("r"))
        .select(
            F.col("r.day").alias("day"),
            F.col("r.cents").alias("cents"),
            F.col("r.level").alias("level"),
            F.col("r.trend").alias("trend"),
            fxr(F.col("r.level") + F.col("r.trend"), 6).alias("forecast"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

@query(
    "segment_target_encoding",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
  FROM customer
),
g AS (
  SELECT c_mktsegment, CAST(sum(cents) AS BIGINT) AS seg_sum,
         CAST(count(*) AS BIGINT) AS seg_n
  FROM c GROUP BY 1
)
SELECT c.c_custkey, c.c_mktsegment,
       floor((g.seg_sum - c.cents) * 1000000.0 / (100.0 * (g.seg_n - 1)) + 0.5)
         / 1000000.0 AS loo_mean_acctbal
FROM c JOIN g USING (c_mktsegment)
""",
    bench=False,
)
def segment_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the market segment against account
    balance: each row's category feature is the mean target of its
    category EXCLUDING the row itself, (sum - x)/(n-1) — the standard
    high-cardinality categorical encoder that avoids self-leakage in
    training pipelines.

    Scale: the naive formulation is a window over the category partition
    — a 5-key partitioning whose hot categories serialize on single
    reducers. Here category totals come from a map-side-combined
    aggregate (category-cardinality rows) broadcast back onto the scan,
    so the per-row encode is embarrassingly parallel whatever the
    category skew. Arithmetic is exact int64 sums; one quantized
    division at the end."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    g = c.groupBy("c_mktsegment").agg(
        F.sum("cents").cast("bigint").alias("seg_sum"),
        F.count(F.lit(1)).cast("bigint").alias("seg_n"),
    )
    return c.join(F.broadcast(g), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        (
            F.floor(
                (F.col("seg_sum") - F.col("cents"))
                * 1_000_000.0
                / (100.0 * (F.col("seg_n") - 1))
                + 0.5
            )
            / 1_000_000.0
        ).alias("loo_mean_acctbal"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (feature-store) join against the SCD2 dimension
# ---------------------------------------------------------------------------

@query(
    "events_pit_customer_version",
    oracle="""
WITH v AS (
  SELECT o_custkey, o_orderkey AS version_key,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders
)
SELECT e.event_id, e.user_id, e.ts, v.version_key, v.valid_from
FROM events e
JOIN v ON e.user_id = v.o_custkey
      AND v.valid_from <= e.ts
      AND (v.valid_to IS NULL OR e.ts < v.valid_to)
""",
    bench=False,
)
def events_pit_customer_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each event picks up the customer dimension
    version (SCD2 ranges built by customer_order_scd2) that was valid AT
    the event's timestamp — the feature-store lookup that prevents
    training-serving skew (a feature computed today must not leak into
    yesterday's training row). Half-open [valid_from, valid_to)
    intervals make the match unique per event by construction.

    Scale: this is an EQUI hash join on the entity key — the interval
    predicates ride along as join filters, so no nested-loop plan and no
    interval explosion; each entity's version chain co-locates with its
    events in one shuffle. Version chains are bounded per key (the
    as-of join, operators/relational.py, is the alternative when they
    are not)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("version_key"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    cond = (
        (e["user_id"] == v["o_custkey"])
        & (v["valid_from"] <= e["ts"])
        & (v["valid_to"].isNull() | (e["ts"] < v["valid_to"]))
    )
    return e.join(v, cond).select("event_id", "user_id", "ts", "version_key", "valid_from")


# ---------------------------------------------------------------------------
# Distribution-position windows (percent_rank / cume_dist)
# ---------------------------------------------------------------------------

@query(
    "order_percentile_positions",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_orderpriority, cents / 100.0 AS o_totalprice,
       floor(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY cents)
             * 1000000.0 + 0.5) / 1000000.0 AS price_pct_rank,
       floor(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY cents)
             * 1000000.0 + 0.5) / 1000000.0 AS price_cume_dist
FROM o
""",
    bench=False,
)
def order_percentile_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist — the §2.5 ranking family's relative-
    position members: where each order's price sits within its priority
    class as a [0,1] fraction (percentile position and inclusive
    cumulative share). Ordering on exact integer cents makes tie groups
    identical in both engines; both functions are exact integer ratios
    ((rank-1)/(n-1), peers/n) on those tie groups, quantized at 1e-6
    only to absorb the division.

    Scale: one shuffle on the priority key; both functions share the
    same window sort. Like every ranking query here, the full-partition
    sort is the point (relative position needs the whole class) — the
    5-way key is explicitly acceptable because each class still fans
    out over the cents sort; for unbounded-cardinality keys this shape
    degrades gracefully (more, smaller partitions)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("cents") / 100.0).alias("o_totalprice"),
        fxr(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        fxr(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and vector search
# ---------------------------------------------------------------------------

_RRF_K = 60


def _rrf_oracle() -> str:
    from fraud_detection_etl_project_spark.plans.llm_queries import (
        _BM25_ORACLE,
        _KNN_ORACLE,
    )

    return f"""
WITH lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS lex_rank
  FROM ({_BM25_ORACLE})
),
sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS sem_rank
  FROM ({_KNN_ORACLE})
),
f AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + l.lex_rank)) AS BIGINT), 0)
         + COALESCE(CAST(floor(1000000.0 / ({_RRF_K} + s.sem_rank)) AS BIGINT), 0)
           AS rrf_micro
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_micro / 1000000.0 AS rrf_score
FROM f ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10
"""


@query("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 top-20
    (lexical) and the cosine-kNN top-10 (semantic, vec_id 0's embedding
    — fixture embeddings are doc-aligned) merge by
    sum(1/(60+rank)), the standard RAG two-tower fusion that needs no
    score calibration between incomparable scales. RRF contributions are
    floored to int64 micro-units so the fused ordering is engine-exact;
    a document missing from one list simply contributes nothing.

    Scale: each retriever is its own distributed pass ending in a
    TakeOrderedAndProject (see bm25_search_top20 / knn_cosine_top10);
    fusion then runs on two parameter-sized top-k frames — the ranks,
    the full-outer join, and the final top-10 all cost k rows no matter
    the corpus size. This is the composition argument for keeping every
    retriever's output a bounded top-k."""
    from fraud_detection_etl_project_spark.plans.llm_queries import (
        bm25_search_top20,
        knn_cosine_top10,
    )

    lex = bm25_search_top20(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .cast("bigint")
        .alias("lex_rank"),
    )
    sem = knn_cosine_top10(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()))
        .cast("bigint")
        .alias("sem_rank"),
    )
    f = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.floor(1_000_000.0 / (_RRF_K + F.col("lex_rank"))).cast("bigint"),
                F.lit(0).cast("bigint"),
            )
            + F.coalesce(
                F.floor(1_000_000.0 / (_RRF_K + F.col("sem_rank"))).cast("bigint"),
                F.lit(0).cast("bigint"),
            )
        ).alias("rrf_micro"),
    )
    return (
        f.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (F.col("rrf_micro") / 1_000_000.0).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# OLS trend fit (regr_* aggregate family)
# ---------------------------------------------------------------------------

@query(
    "priority_price_trend_ols",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       floor(regr_slope(o_totalprice, datediff('day', DATE '1970-01-01',
                                               CAST(o_orderdate AS DATE)))
             * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day,
       floor(regr_intercept(o_totalprice, datediff('day', DATE '1970-01-01',
                                                   CAST(o_orderdate AS DATE)))
             * 100.0 + 0.5) / 100.0 AS intercept,
       floor(regr_r2(o_totalprice, datediff('day', DATE '1970-01-01',
                                            CAST(o_orderdate AS DATE)))
             * 1000000.0 + 0.5) / 1000000.0 AS r2
FROM orders GROUP BY 1
""",
)
def priority_price_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend per priority class — the ``regr_*`` linear-
    regression aggregate family (§2.4's statistical members): slope of
    order price against epoch day, intercept, and R² in one grouped
    pass. The one-feature least-squares fit every metric dashboard runs
    ("is this segment's spend drifting?"), no iterative solver involved.

    Parity: both engines compute the same co-moment reductions on
    identical (double, int-day) pairs; slope/R² are quantized at 1e-6,
    the dollar intercept at cents (boundary distances dwarf the ~1e-12
    relative reduction noise).

    Scale: regr_slope/intercept/r2 are algebraic aggregates — partial
    co-moments combine associatively, so the plan is the same
    partial/final two-phase as any sum (map-side combined, 5-row
    output)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").alias("y"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("double")
        .alias("x"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fxr(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
        fxr(F.regr_intercept("y", "x"), 2).alias("intercept"),
        fxr(F.regr_r2("y", "x"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence audit
# ---------------------------------------------------------------------------

@query(
    "event_dow_chi2",
    oracle="""
WITH obs AS (
  SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT o.*,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS col_n,
         CAST(sum(n) OVER () AS BIGINT) AS total_n
  FROM obs o
)
SELECT event_type, dow, n,
       floor(CAST(row_n AS DOUBLE) * col_n / total_n * 1000000.0 + 0.5)
         / 1000000.0 AS expected,
       floor((n - CAST(row_n AS DOUBLE) * col_n / total_n)
             * (n - CAST(row_n AS DOUBLE) * col_n / total_n)
             / (CAST(row_n AS DOUBLE) * col_n / total_n) * 1000000.0 + 0.5)
         / 1000000.0 AS chi2_contrib
FROM m
""",
)
def event_dow_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of event type × day-of-week: each
    contingency cell's observed count, expected count under independence
    (row_total × col_total / N), and its χ² contribution — the
    behavioral-drift screen ("do errors cluster on Sundays?"); the
    summed contributions against a χ² table is the test.

    Every input to the arithmetic is an exact int64 count, so both
    engines derive expected/χ² from identical doubles (one quantized
    division each). Day-of-week uses DuckDB's 0=Sunday convention
    (Spark's is 1-based).

    Scale: one map-side-combined count to a 35-cell frame; the row/col/
    grand totals are windows OVER that parameter-sized frame, not extra
    passes over the fact (same single-scan discipline as
    markov_event_transitions, plan-tested there)."""
    obs = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.dayofweek(F.col("ts").cast("date")) - 1).cast("int").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = (
        obs.withColumn("row_n", F.sum("n").over(Window.partitionBy("event_type")).cast("bigint"))
        .withColumn("col_n", F.sum("n").over(Window.partitionBy("dow")).cast("bigint"))
        .withColumn("total_n", F.sum("n").over(Window.partitionBy()).cast("bigint"))
    )
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("total_n")
    return m.select(
        "event_type",
        "dow",
        "n",
        fxr(exp, 6).alias("expected"),
        fxr((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# Deterministic random walks (graph-embedding corpus generation)
# ---------------------------------------------------------------------------

_WALK_STEPS = 3


def _walk_u28_sql(start_expr: str, step: int) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substring(md5({start_expr} || ':{step}'), {k + 1}, 1)) - 1)"
        f" * {16 ** (6 - k)}"
        for k in range(7)
    )


def _walks_oracle() -> str:
    sql = f"""
WITH e0 AS ({_EDGES_SQL}),
und AS (SELECT src AS v, dst AS nbr FROM e0 UNION ALL SELECT dst, src FROM e0),
adj AS (SELECT v, list_sort(list(nbr)) AS nbrs FROM und GROUP BY v),
w0 AS (SELECT v AS start, v AS cur FROM adj)"""
    prev = "w0"
    for t in range(1, _WALK_STEPS + 1):
        u28 = _walk_u28_sql("CAST(w.start AS VARCHAR)", t)
        sql += f""",
w{t} AS (
  SELECT w.start, a.nbrs[1 + CAST(({u28}) % len(a.nbrs) AS INT)] AS cur
  FROM {prev} w JOIN adj a ON a.v = w.cur
)"""
        prev = f"w{t}"
    hops = ", ".join(f"w{t}.cur AS n{t}" for t in range(1, _WALK_STEPS + 1))
    joins = "".join(
        f" JOIN w{t} ON w{t}.start = w0.start" for t in range(1, _WALK_STEPS + 1)
    )
    sql += f"""
SELECT w0.start, {hops} FROM w0{joins}"""
    return sql


@query("part_random_walks", oracle=_walks_oracle(), bench=True)
def part_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic "random" walks on the co-purchase graph — the
    DeepWalk/node2vec corpus-generation step (uniform transition,
    p=q=1): one 3-step walk per start node, the next hop drawn from the
    sorted neighbor list by a replayable md5 coin on (start, step).
    Hash-coins instead of RNG state mean the walk corpus is reproducible
    shard-independently and value-checkable (same idiom as
    weighted_doc_sample).

    Scale: the adjacency list is built once (sorted neighbor arrays; at
    web scale a degree cap / neighbor sample bounds hub arrays, the
    standard node2vec mitigation) and each step is ONE equi join of the
    walk frontier against it, hash-partitioned on the current node —
    steps × one-shuffle, the same iteration shape as BFS
    (operators/graph.py). Walk state is (start, cur): 16 bytes/walk
    regardless of path length since hops project out as columns."""
    e0 = _copurchase_edges(spark, sf_dir)
    und = e0.select(F.col("src").alias("v"), F.col("dst").alias("nbr")).unionAll(
        e0.select(F.col("dst").alias("v"), F.col("src").alias("nbr"))
    )
    # persist kept: cold A/B, sf0.1, 4 cores, 5 pairs: 3.32 s with vs 4.41 s without (medians), won 5/5, parent IQR 0.17 s
    adj = und.groupBy("v").agg(F.sort_array(F.collect_list("nbr")).alias("nbrs")).persist()
    walks = adj.select(F.col("v").alias("start"), F.col("v").alias("cur"))
    hop_cols = []
    for t in range(1, _WALK_STEPS + 1):
        u28 = F.conv(
            F.substring(
                F.md5(F.concat(F.col("start").cast("string"), F.lit(f":{t}"))), 1, 7
            ),
            16,
            10,
        ).cast("long")
        walks = (
            walks.join(adj, walks["cur"] == adj["v"])
            .select(
                "start",
                *hop_cols,
                F.element_at(
                    F.col("nbrs"), (u28 % F.size("nbrs")).cast("int") + 1
                ).alias(f"n{t}"),
            )
        )
        hop_cols.append(f"n{t}")
        walks = walks.withColumn("cur", F.col(f"n{t}"))
    return walks.select("start", *hop_cols)


# ---------------------------------------------------------------------------
# PNG real decode (zlib inflate + filter reconstruction, value-oracle'd)
# ---------------------------------------------------------------------------

@query(
    "multimodal_png_stats",
    oracle="""
WITH t AS (SELECT doc_id, md5(text) || substring(md5(text || 'x'), 1, 16) AS hx
           FROM documents),
b AS (SELECT doc_id,
             list_transform(range(0, 24), i -> CAST(('0x' || substring(hx, 2*i + 1, 2)) AS INT)) AS bs
      FROM t)
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS width,
       CAST(2 AS BIGINT) AS height,
       CAST(8 AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range(0, 8), j -> bs[3*j + 1])) AS DOUBLE) / 8.0 AS mean_r,
       CAST(list_sum(list_transform(range(0, 8), j -> bs[3*j + 2])) AS DOUBLE) / 8.0 AS mean_g,
       CAST(list_sum(list_transform(range(0, 8), j -> bs[3*j + 3])) AS DOUBLE) / 8.0 AS mean_b,
       CAST(list_max(bs) AS BIGINT) AS max_byte,
       CAST(list_min(bs) AS BIGINT) AS min_byte
FROM b
""",
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL media decode (beside PPM/BMP/WAV): each document
    rendered as a 4×2 8-bit-RGB PNG — proper signature, CRC-checked
    chunks, zlib-DEFLATEd IDAT, and non-trivial scanline filters (Sub on
    row 0, Up on row 1) — then decoded by the pure-Python PNG parser
    (operators/multimodal.decode_png: chunk walk + CRC verify + inflate
    + full None/Sub/Up/Average/Paeth reconstruction). Pixels are the
    same md5-derived bytes as multimodal_features, so the oracle
    re-derives the stats from hex in SQL; any error in filter math,
    chunk framing, or the deflate round-trip is a value mismatch.

    Unlike the PPM/BMP fixtures (byte-packed JVM-side), the PNG payload
    is built in an Arrow-batched pandas stage: DEFLATE is not
    expressible as a SQL expression — which is exactly what makes PNG a
    real-decode test rather than byte shuffling. Decode itself stays in
    the standard mapInPandas extractor, identical batch shape to a
    PIL/ffmpeg deployment; at 100 TB both stages are narrow per-row
    transforms, no shuffle."""
    import hashlib

    from pyspark.sql.types import BinaryType

    from fraud_detection_etl_project_spark.operators import multimodal as M

    @F.pandas_udf(BinaryType())
    def make_png(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            hx = (
                hashlib.md5(txt.encode()).hexdigest()
                + hashlib.md5((txt + "x").encode()).hexdigest()[:16]
            )
            rgb = bytes.fromhex(hx)
            out.append(M.encode_png(4, 2, rgb, row_filters=[1, 2]))
        return pd.Series(out)

    d = M.codec_parallel(_t(spark, sf_dir, "documents")).withColumn("payload", make_png(F.col("text")))
    media = M.to_media_table(d, "doc_id", "payload", "image")
    return M.extract_png_features(media)


# ---------------------------------------------------------------------------
# MMR diversified reranking (greedy top-k over a bounded candidate set)
# ---------------------------------------------------------------------------

_MMR_K = 5
_MMR_CAND = 10


def _mmr_oracle() -> str:
    from fraud_detection_etl_project_spark.plans.llm_queries import (
        _DOT_Q_SQL,
        _SQNORM,
    )

    pair_dot = (
        "list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    sql = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id,
         CAST(floor(({_DOT_Q_SQL} / (sqrt({_SQNORM('e')}) * sqrt({_SQNORM('q')})))
                    * 10000.0 + 0.5) AS BIGINT) AS simq
  FROM embeddings e, q
  ORDER BY simq DESC, e.vec_id ASC LIMIT {_MMR_CAND}
),
ce AS (SELECT c.vec_id, c.simq, e.embedding
       FROM cand c JOIN embeddings e USING (vec_id)),
pair AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(floor(({pair_dot} / (sqrt({_SQNORM('a')}) * sqrt({_SQNORM('b')})))
                    * 10000.0 + 0.5) AS BIGINT) AS sim
  FROM ce a JOIN ce b ON a.vec_id != b.vec_id
),
s1 AS (SELECT vec_id, simq AS score FROM cand ORDER BY simq DESC, vec_id ASC LIMIT 1)"""
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, k))
        sql += f""",
s{k} AS (
  SELECT c.vec_id,
         c.simq - (SELECT max(p.sim) FROM pair p
                   WHERE p.va = c.vec_id AND p.vb IN ({sel})) AS score
  FROM cand c WHERE c.vec_id NOT IN ({sel})
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
)"""
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, vec_id, score / 10000.0 AS mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return sql + "\n" + unions


@query("mmr_diversified_top5", oracle=_mmr_oracle())
def mmr_diversified_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking: from the cosine top-10
    candidates for the query vector, greedily select 5 results maximizing
    ``relevance − max-similarity-to-already-selected`` (λ=1/2, scores in
    exact 1e-4-scaled int64 so the greedy argmax — ties broken on vec_id
    — is engine-deterministic). The diversified-retrieval step a RAG
    stack runs after ANN so the context window isn't five paraphrases of
    the same document.

    Scale: candidate generation is the distributed pass (brute/ANN top-k
    ending in TakeOrderedAndProject); the k×k candidate-pair cosine
    matrix (≤90 rows here) is computed in Spark then collected as a
    PARAMETER — the greedy loop is O(k²) driver arithmetic, the same
    in-memory rerank every production retrieval service does. Nothing
    about the corpus size reaches the loop; doubling k quadruples a
    100-row frame. The oracle unrolls the identical greedy selection as
    five chained argmax CTEs."""
    from fraud_detection_etl_project_spark.functions.vectors import cosine
    from fraud_detection_etl_project_spark.operators import similarity as S

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    cand = S.knn_brute(e.select("vec_id", "embedding"), qvec, k=_MMR_CAND).select(
        "vec_id", F.floor(F.col("cos_sim") * 10_000.0 + 0.5).cast("bigint").alias("simq")
    )
    ce = cand.join(e.select("vec_id", "embedding"), "vec_id")
    a = ce.select(
        F.col("vec_id").alias("va"), F.col("simq"), F.col("embedding").alias("ea")
    )
    b = ce.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.floor(cosine(F.col("ea"), F.col("eb")) * 10_000.0 + 0.5)
            .cast("bigint")
            .alias("sim"),
        )
    )
    simq = {r["vec_id"]: r["simq"] for r in cand.collect()}  # k candidates: parameters
    psim: dict[tuple[int, int], int] = {
        (r["va"], r["vb"]): r["sim"] for r in pairs.collect()
    }  # k*(k-1) pairs: parameters
    selected: list[tuple[int, int, int]] = []  # (rank, vec_id, score_int)
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for v, sq in simq.items():
            if v in chosen:
                continue
            score = sq if not chosen else sq - max(psim[(v, s)] for s in chosen)
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        chosen.append(best[1])
        selected.append((rank, best[1], best[2]))
    return local_frame(
        spark,
        [(r, v, s / 10_000.0) for r, v, s in selected],
        schema="rank int, vec_id bigint, mmr_score double",
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood entity resolution
# ---------------------------------------------------------------------------

_SN_WINDOW = 2          # neighbors compared per record (lead 1..w)
_SN_MAX_DIFF = 100      # candidate threshold: |acctbal diff| <= 100 cents


@query(
    "er_sorted_neighborhood",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
  FROM customer
),
s AS (
  SELECT c_custkey, c_nationkey, cents,
         lead(c_custkey, 1) OVER w AS nk1, lead(cents, 1) OVER w AS nc1,
         lead(c_custkey, 2) OVER w AS nk2, lead(cents, 2) OVER w AS nc2
  FROM c
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY cents, c_custkey)
)
SELECT c_custkey AS a_key, nk1 AS b_key, CAST(c_nationkey AS INT) AS nation,
       CAST(abs(nc1 - cents) AS BIGINT) AS diff_cents
FROM s WHERE nk1 IS NOT NULL AND abs(nc1 - cents) <= {_SN_MAX_DIFF}
UNION ALL
SELECT c_custkey, nk2, CAST(c_nationkey AS INT), CAST(abs(nc2 - cents) AS BIGINT)
FROM s WHERE nk2 IS NOT NULL AND abs(nc2 - cents) <= {_SN_MAX_DIFF}
""",
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution — the OTHER classic blocking
    strategy beside hash blocking (customer_er_matches) and LSH banding:
    sort records on a fuzzy key (account balance in cents), slide a
    window of size w, and emit candidate pairs only among neighbors
    (here per nation — the standard multi-pass SN that composes a cheap
    hash block with the sort). Near-duplicate records land adjacent
    after sorting even when they hash apart, which is why real MDM
    stacks run both passes and union the candidates.

    Scale: candidates come from ``lead()`` over the partitioned sort —
    O(n·w) pairs instead of the blocked join's per-block quadratic; the
    sort is one shuffle on (nation, cents). On an unpartitioned key the
    cluster version is a range-partitioned sort with w-row boundary
    overlap between adjacent ranges — same results, no global sort
    bottleneck."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    s = c.select(
        "c_custkey",
        "c_nationkey",
        "cents",
        F.lead("c_custkey", 1).over(w).alias("nk1"),
        F.lead("cents", 1).over(w).alias("nc1"),
        F.lead("c_custkey", 2).over(w).alias("nk2"),
        F.lead("cents", 2).over(w).alias("nc2"),
    )
    out = []
    for i in (1, 2):
        out.append(
            s.filter(
                F.col(f"nk{i}").isNotNull()
                & (F.abs(F.col(f"nc{i}") - F.col("cents")) <= _SN_MAX_DIFF)
            ).select(
                F.col("c_custkey").alias("a_key"),
                F.col(f"nk{i}").alias("b_key"),
                F.col("c_nationkey").cast("int").alias("nation"),
                F.abs(F.col(f"nc{i}") - F.col("cents")).cast("bigint").alias("diff_cents"),
            )
        )
    return out[0].unionAll(out[1])


# ---------------------------------------------------------------------------
# Position-based multi-touch attribution
# ---------------------------------------------------------------------------

@query(
    "purchase_touch_attribution",
    oracle="""
WITH lastp AS (
  SELECT user_id, max(ts) AS purchase_ts
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
touches AS (
  SELECT e.user_id, e.event_id, e.event_type,
         row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS pos,
         count(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN lastp p
    ON e.user_id = p.user_id AND e.ts < p.purchase_ts
 WHERE e.event_type <> 'purchase'
)
SELECT user_id, event_id, event_type,
       CAST(CASE
         WHEN n = 1 THEN 1000000
         WHEN n = 2 THEN 500000
         WHEN pos = 1 OR pos = n THEN 400000
         ELSE 200000 // (n - 2)
       END AS BIGINT) AS credit_micro
FROM touches
""",
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: the
    non-purchase touches preceding each user's last purchase share the
    conversion credit — 40% to the first touch, 40% to the last, the
    middle 20% split evenly — the standard marketing/fraud pathway
    credit model. Credit is exact integer micro-units (floor division
    for the middle split), so shares are engine-identical; a consumer
    re-normalizes per user if the floor remainder matters.

    Scale: the last-purchase frame is a map-side-combined aggregate
    joined back on the user key (co-partitioned with the touch window's
    shuffle); position and count come from one window pass. Nothing
    exceeds per-user cardinality."""
    e = _t(spark, sf_dir, "events")
    lastp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("purchase_ts"))
    )
    touches = (
        e.join(lastp, "user_id")
        .filter((F.col("ts") < F.col("purchase_ts")) & (F.col("event_type") != "purchase"))
        .select("user_id", "event_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    t = touches.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(400_000))
        .otherwise(F.floor(F.lit(200_000) / (F.col("n") - 2)))
    )
    return t.select(
        "user_id", "event_id", "event_type", credit.cast("bigint").alias("credit_micro")
    )


# ---------------------------------------------------------------------------
# Exponential time-decay popularity (exact integer halving)
# ---------------------------------------------------------------------------

@query(
    "event_type_decayed_counts",
    oracle="""
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
aged AS (
  SELECT event_type,
         least(datediff('day', CAST(ts AS DATE), mx.anchor), 30) AS age
  FROM events, mx
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(1000000 // (CAST(1 AS BIGINT) << age)) AS BIGINT) AS decayed_micro,
       sum(1000000 // (CAST(1 AS BIGINT) << age)) / 1000000.0 AS decayed_count
FROM aged GROUP BY 1
""",
)
def event_type_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity per event type (half-life =
    1 day against the corpus max date) — the freshness-weighted count
    behind trending/decay rankers. The decay weight is EXACT integer
    arithmetic: floor(1e6 / 2^age) via a bit shift (age capped at 30;
    weights vanish past age 19 anyway), so no pow()/libm enters the
    cross-engine comparison and partial sums are order-free int64.

    Scale: one scan, map-side-combined grouped sum to an
    |event_types|-row output; the anchor date rides in as a broadcast
    scalar. Decay-by-snapshot like this recomputes from the stored daily
    rollup at 100 TB — or equivalently multiplies yesterday's decayed
    total by 1/2 and adds today's count (the mergeable-decay identity),
    which is the streaming-friendly form."""
    e = _t(spark, sf_dir, "events").select(F.col("event_type"), F.col("ts").cast("date").alias("day"))
    mx = e.agg(F.max("day").alias("anchor"))
    aged = e.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.least(F.datediff(F.col("anchor"), F.col("day")), F.lit(30)).alias("age"),
    )
    weight = F.floor(
        F.lit(1_000_000) / F.expr("shiftleft(cast(1 as bigint), cast(age as int))")
    ).cast("bigint")
    return aged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(weight).cast("bigint").alias("decayed_micro"),
        (F.sum(weight) / 1_000_000.0).alias("decayed_count"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust statistics
# ---------------------------------------------------------------------------

@query(
    "winsorized_value_stats",
    oracle="""
WITH cuts AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS p05,
         floor(quantile_cont(value, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS p95
  FROM events GROUP BY 1
),
w AS (
  SELECT e.event_type,
         CASE WHEN e.value < c.p05 THEN c.p05
              WHEN e.value > c.p95 THEN c.p95
              ELSE e.value END AS wv,
         CAST(e.value < c.p05 OR e.value > c.p95 AS INT) AS clamped
  FROM events e JOIN cuts c USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(clamped) AS BIGINT) AS n_clamped,
       floor(avg(wv) * 1000000.0 + 0.5) / 1000000.0 AS winsorized_mean
FROM w GROUP BY 1
""",
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values to the exact
    [P5, P95] band, then average — the robust-location estimator that,
    unlike trimming, keeps sample size (and unlike the raw mean, ignores
    tail spikes). Complements the MAD screen (order_price_outliers) and
    the trimmed mean (grouped_agg_trimmed_mean) to complete the
    robust-statistics family.

    Parity: cutpoints are exact interpolated percentiles quantized at
    1e-6 FIRST; clamping then compares identical doubles, so both
    engines clamp the identical row set (n_clamped is value-checked
    too); the final mean quantizes once more after division.

    Scale: two grouped passes (percentile, then clamped mean) on the
    |event_types| key, the second with the 5-row cutpoint frame
    broadcast onto the scan — percentile_approx swaps in when exact
    cutpoints stop mattering at 100 TB."""
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    cuts = e.groupBy("event_type").agg(
        fxr(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        fxr(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    w = e.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
        .alias("wv"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("int")
        .alias("clamped"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        fxr(F.avg("wv"), 6).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation (AR signal screen)
# ---------------------------------------------------------------------------

@query(
    "user_value_autocorr",
    oracle="""
WITH s AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(corr(value, prev) * 1000000.0 + 0.5) / 1000000.0 AS lag1_autocorr
FROM s WHERE prev IS NOT NULL
GROUP BY 1
HAVING count(*) >= 10
""",
)
def user_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's purchase amounts — the serial-
    dependence screen (near zero = independent spending; positive =
    momentum/installments; negative = alternation, a structuring tell in
    fraud contexts). Window ``lag`` pairs consecutive values, ``corr``
    reduces the pairs; users with <10 pairs are dropped as too short to
    score.

    Scale: one user-keyed window shuffle, then the corr aggregate reuses
    the same hash partitioning (no second exchange under AQE); corr is
    algebraic (co-moment partials), so the reduction is map-side
    combined. Per-user state never exceeds one (value, prev) row
    stream."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select("user_id", "value", F.lag("value").over(w).alias("prev")).filter(
        F.col("prev").isNotNull()
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            fxr(F.corr("value", "prev"), 6).alias("lag1_autocorr"),
        )
        .filter(F.col("n_pairs") >= 10)
    )


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly scores (decomposition consumer)
# ---------------------------------------------------------------------------

@query(
    "daily_anomaly_scores",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
tr AS (
  SELECT day, cents,
         floor(avg(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000.0 + 0.5)
           / 1000000.0 AS trend
  FROM daily
),
se AS (
  SELECT tr.*,
         floor(avg(cents - trend) OVER (PARTITION BY dayofweek(day))
               * 1000000.0 + 0.5) / 1000000.0 AS seasonal
  FROM tr
),
res AS (
  SELECT day, cents,
         floor((cents - trend - seasonal) * 1000000.0 + 0.5) / 1000000.0 AS residual
  FROM se
),
mad AS (
  SELECT floor(quantile_cont(abs(residual), 0.5) * 1000000.0 + 0.5) / 1000000.0
           AS mad_resid
  FROM res
)
SELECT r.day, r.cents, r.residual,
       floor(abs(r.residual) / m.mad_resid * 1000000.0 + 0.5) / 1000000.0
         AS mad_multiples
FROM res r, mad m
WHERE abs(r.residual) > 2.0 * m.mad_resid
""",
)
def daily_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the consumer of
    daily_value_seasonal_decomp: flag days whose decomposition residual
    exceeds 2× the median absolute residual (MAD, the robust scale that
    the anomalies themselves can't poison), reporting how many MADs out
    each flagged day sits. This is the screen that doesn't page you
    every Monday: the day-of-week component is already subtracted
    before thresholding.

    Parity: residuals are the decomposition's quantized doubles; the MAD
    is an exact interpolated median quantized at 1e-6; the 2×MAD
    threshold both engines compare against is therefore the identical
    double.

    Scale: identical to the decomposition (fact reduces to calendar
    cardinality first) plus one exact-median pass over the daily frame
    and a broadcast 1-row threshold join."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w_tr = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.withColumn("trend", fxr(F.avg("cents").over(w_tr), 6))
    se = tr.withColumn("dow", (F.dayofweek("day") - 1).cast("int")).withColumn(
        "seasonal", fxr(F.avg(F.col("cents") - F.col("trend")).over(Window.partitionBy("dow")), 6)
    )
    res = se.select(
        "day", "cents", fxr(F.col("cents") - F.col("trend") - F.col("seasonal"), 6).alias("residual")
    )
    mad = res.agg(fxr(F.expr("percentile(abs(residual), 0.5)"), 6).alias("mad_resid"))
    return (
        res.crossJoin(F.broadcast(mad))
        .filter(F.abs(F.col("residual")) > 2.0 * F.col("mad_resid"))
        .select(
            "day",
            "cents",
            "residual",
            fxr(F.abs(F.col("residual")) / F.col("mad_resid"), 6).alias("mad_multiples"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped-map Arrow surface (applyInArrow, §2.10)
# ---------------------------------------------------------------------------

@query(
    "arrow_grouped_price_spread",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            - min(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS spread_cents
FROM orders GROUP BY 1
""",
)
def arrow_grouped_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over raw Arrow tables (§2.10 ``applyInArrow`` — the
    Spark 4 grouped complement to ``mapInArrow``): per-priority price
    spread computed with pyarrow.compute kernels, no pandas
    materialization. This is the zero-copy escape hatch for grouped
    logic that wants columnar kernels (or a C++/Rust extension) rather
    than a pandas frame; the aggregation itself is SQL-expressible by
    design, giving the Arrow path a full value oracle like the pandas
    grouped-map (grouped_minmax_normalized).

    Scale: one shuffle on the grouping key; whole groups must fit in
    executor memory (grouped-map's standing constraint — use built-in
    aggregates when they can express the logic, as every other query
    here does). Arithmetic is exact int64 cents."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )

    def spread(t: pa.Table) -> pa.Table:
        cents = t["cents"]
        mn = pc.min(cents).as_py()
        mx = pc.max(cents).as_py()
        return pa.table(
            {
                "o_orderpriority": pa.array([t["o_orderpriority"][0].as_py()], pa.string()),
                "n": pa.array([t.num_rows], pa.int64()),
                "min_cents": pa.array([mn], pa.int64()),
                "max_cents": pa.array([mx], pa.int64()),
                "spread_cents": pa.array([mx - mn], pa.int64()),
            }
        )

    return o.groupBy("o_orderpriority").applyInArrow(
        spread,
        schema=(
            "o_orderpriority string, n long, min_cents long, max_cents long, "
            "spread_cents long"
        ),
    )


# ---------------------------------------------------------------------------
# End-to-end curated training corpus (composition of the curation DAG)
# ---------------------------------------------------------------------------

def _e2e_oracle() -> str:
    from fraud_detection_etl_project_spark.plans.curation_queries import (
        PACK_TOKENS,
        SPLIT_TRAIN_PCT,
        _PACK_SHARD_SQL,
    )
    from fraud_detection_etl_project_spark.plans.llm_queries import NORM_SQL, TOKS_SQL

    return f"""
WITH q AS (
  SELECT doc_id, md5({NORM_SQL}) AS fp, len({TOKS_SQL}) AS n_toks,
         CAST(len(list_distinct({TOKS_SQL})) AS DOUBLE) / len({TOKS_SQL}) AS uniq,
         {_PACK_SHARD_SQL} AS shard,
         CAST(('0x' || substring(md5('split1|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
           % 100 AS bucket
  FROM documents
  WHERE len({TOKS_SQL}) BETWEEN 20 AND 10000
),
cur AS (SELECT * FROM q WHERE uniq >= 0.3),
ded AS (
  SELECT * FROM (
    SELECT cur.*, min(doc_id) OVER (PARTITION BY fp) AS canon FROM cur
  ) WHERE doc_id = canon
),
train AS (SELECT * FROM ded WHERE bucket < {SPLIT_TRAIN_PCT})
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST((sum(n_toks) - 1) // {PACK_TOKENS} + 1 AS BIGINT) AS n_sequences
FROM train GROUP BY 1
"""


@query("e2e_training_corpus", oracle=_e2e_oracle())
def e2e_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG composed end-to-end, the way a user actually
    runs it: quality gate (length band + vocabulary diversity, as
    curated_documents) → exact dedup (md5 fingerprint, keep-min-id, as
    dedup_exact_groups) → deterministic 80/20 train split (hash-bucket,
    as doc_train_test_split) → per-shard packing summary (docs, tokens,
    and the ceil(tokens/{{PACK}}) sequence count the packer will emit).
    One registered query proving the stages COMPOSE — same hash salts,
    same thresholds, stage-for-stage — rather than only existing as
    isolated verified parts.

    Scale: the gates and hash assignments are row-local on one narrow
    scan; dedup is the only data shuffle (16-byte fingerprint key, never
    text); the final rollup is a map-side-combined 16-row aggregate.
    Swapping the summary for the full packing output (doc_sequence_
    packing's explode) changes nothing upstream — the composition is a
    narrow pipeline end to end."""
    from fraud_detection_etl_project_spark.functions import text as T
    from fraud_detection_etl_project_spark.plans.curation_queries import (
        PACK_SHARDS,
        PACK_TOKENS,
        SPLIT_TRAIN_PCT,
    )

    d = _t(spark, sf_dir, "documents")
    toks = F.split(T.normalized(F.col("text")), " ")
    q = d.select(
        "doc_id",
        F.md5(T.normalized(F.col("text")).cast("binary")).alias("fp"),
        F.size(toks).cast("long").alias("n_toks"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pack|"), F.col("doc_id").cast("string")).cast("binary")),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % PACK_SHARDS
        )
        .cast("int")
        .alias("shard"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("split1|"), F.col("doc_id").cast("string")).cast("binary")
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("bucket"),
    ).filter(F.col("n_toks").between(20, 10000))
    cur = q.filter(F.col("uniq") >= 0.3)
    ded = cur.withColumn("canon", F.min("doc_id").over(Window.partitionBy("fp"))).filter(
        F.col("doc_id") == F.col("canon")
    )
    train = ded.filter(F.col("bucket") < SPLIT_TRAIN_PCT)
    return train.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        (F.floor((F.sum("n_toks") - 1) / PACK_TOKENS) + 1).cast("bigint").alias("n_sequences"),
    )


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing, exact integer fixed-point
# ---------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS yc,
         row_number() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, rn, yc, yc AS l, CAST(0 AS BIGINT) AS b
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.day, d.rn, d.yc,
         CAST(floor((d.yc + r.l + r.b) / 2.0) AS BIGINT) AS l,
         CAST(floor((CAST(floor((d.yc + r.l + r.b) / 2.0) AS BIGINT) - r.l + r.b) / 2.0) AS BIGINT) AS b
  FROM r JOIN d ON d.event_type = r.event_type AND d.rn = r.rn + 1
)
SELECT event_type, day, yc / 100.0 AS actual,
       l / 100.0 AS level, b / 100.0 AS trend, (l + b) / 100.0 AS forecast_next
FROM r
"""


@query("holt_daily_value_forecast", oracle=_HOLT_ORACLE, bench=False)
def holt_daily_value_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing over each event
    type's daily value series, alpha = beta = 1/2 in EXACT integer-cents
    fixed point: l_t = floor((y_t + l + b)/2), b_t = floor((l_t - l + b)/2)
    — the classic short-horizon forecaster (level + trend), every state
    transition a floor of a sum of int64s, so the walk is bit-identical
    to the oracle's recursive CTE with no float drift anywhere.

    Like CUSUM, the recurrence is inherently sequential per series, so it
    takes the documented grouped-map hatch: the daily rollup happens
    JVM-side FIRST (partial-agg shuffle collapses events to one row per
    (type, day)), and only the tiny per-series day table crosses into
    applyInPandas. State is O(1) per key; the pandas hop touches
    series-length rows, never raw events.

    Scale: the heavy cardinality (events) is reduced before the Python
    boundary; series count is the bounded event-type domain. Forecast for
    day t+1 = l_t + b_t rides along per row."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("yc"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        yc = pdf["yc"].to_numpy()
        ls, bs = [], []
        l = int(yc[0])
        b = 0
        ls.append(l)
        bs.append(b)
        for t in range(1, len(yc)):
            prev_l, prev_b = l, b
            # Python // floors toward -inf, matching the oracle's floor(x/2.0)
            l = (int(yc[t]) + prev_l + prev_b) // 2
            b = (l - prev_l + prev_b) // 2
            ls.append(l)
            bs.append(b)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day": pdf["day"],
                "actual": yc / 100.0,
                "level": [x / 100.0 for x in ls],
                "trend": [x / 100.0 for x in bs],
                "forecast_next": [(x + y) / 100.0 for x, y in zip(ls, bs)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        schema=(
            "event_type string, day date, actual double, level double, "
            "trend double, forecast_next double"
        ),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (weekly season, exact fixed point)
# ---------------------------------------------------------------------------

_HW_M = 7  # weekly additive season


def _hw_oracle() -> str:
    sp = "CASE (d.rn - 1) % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
    nl = f"CAST(floor((d.yc - ({sp}) + r.l + r.b) / 2.0) AS BIGINT)"
    nb = f"CAST(floor(({nl} - r.l + r.b) / 2.0) AS BIGINT)"
    ns = f"CAST(floor((d.yc - {nl} + ({sp})) / 2.0) AS BIGINT)"
    s_updates = ",\n         ".join(
        f"CASE WHEN (d.rn - 1) % 7 = {k} THEN {ns} ELSE r.s{k} END AS s{k}" for k in range(7)
    )
    fc_season = "CASE rn % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END"
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(7))
    return f"""
WITH RECURSIVE d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS yc,
         row_number() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, rn, yc, yc AS l, CAST(0 AS BIGINT) AS b, {zeros}
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.day, d.rn, d.yc,
         {nl} AS l,
         {nb} AS b,
         {s_updates}
  FROM r JOIN d ON d.event_type = r.event_type AND d.rn = r.rn + 1
)
SELECT event_type, day, yc / 100.0 AS actual, l / 100.0 AS level, b / 100.0 AS trend,
       ({fc_season}) / 100.0 AS season,
       (l + b + ({fc_season})) / 100.0 AS forecast_next
FROM r
"""


@query("holt_winters_daily_forecast", oracle=_hw_oracle())
def holt_winters_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (weekly season, m=7) over
    each event type's daily value series, alpha = beta = gamma = 1/2 in
    exact integer-cents fixed point: l' = floor((y - s_prev + l + b)/2),
    b' = floor((l' - l + b)/2), s' = floor((y - l' + s_prev)/2) — the
    level+trend+season forecaster one rung above the repo's Holt linear
    model, with every state transition an integer floor so the whole walk
    is bit-identical to the oracle's recursive CTE (which carries the
    7-slot season vector as columns s0..s6).

    Like Holt/CUSUM, the recurrence is sequential per series: events
    collapse JVM-side to one row per (type, day) first (partial-agg
    shuffle), and only the bounded day table crosses into applyInPandas —
    O(series length) Python rows, O(m) state per key, never raw events.

    Forecast for day t+1 = l + b + s[(t) mod 7] (next season slot, post
    update) rides along per row."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("yc"))
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        yc = pdf["yc"].to_numpy()
        m = _HW_M
        l = int(yc[0])
        b = 0
        s = [0] * m
        ls, bs, seas, fc = [l], [b], [], []
        seas.append(s[1 % m])  # season slot for the NEXT day after t=1
        fc.append(l + b + s[1 % m])
        for t in range(1, len(yc)):
            j = t % m  # 0-based index of day t+1 is t; season slot (rn-1)%m with rn=t+1
            sp = s[j]
            prev_l, prev_b = l, b
            l = (int(yc[t]) - sp + prev_l + prev_b) // 2
            b = (l - prev_l + prev_b) // 2
            s[j] = (int(yc[t]) - l + sp) // 2
            nxt = (t + 1) % m
            ls.append(l)
            bs.append(b)
            seas.append(s[nxt])
            fc.append(l + b + s[nxt])
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day": pdf["day"],
                "actual": yc / 100.0,
                "level": [x / 100.0 for x in ls],
                "trend": [x / 100.0 for x in bs],
                "season": [x / 100.0 for x in seas],
                "forecast_next": [x / 100.0 for x in fc],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        hw,
        schema=(
            "event_type string, day date, actual double, level double, "
            "trend double, season double, forecast_next double"
        ),
    )


# ---------------------------------------------------------------------------
# Mergeable bottom-k hash-sample quantile sketch
# ---------------------------------------------------------------------------

_QS_K = 1024
_QS_HASH_MOD = 1_000_000_000


_QS_ORACLE = f"""
WITH h AS (
  SELECT event_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(('0x' || substring(md5('qs1|' || CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT) % {_QS_HASH_MOD} AS pri
  FROM events),
bk AS (SELECT cents FROM h ORDER BY pri ASC, event_id ASC LIMIT {_QS_K}),
rk AS (SELECT cents, row_number() OVER (ORDER BY cents ASC) AS rn FROM bk)
SELECT CAST({_QS_K} AS BIGINT) AS k,
       CAST(min(CASE WHEN rn = {_QS_K // 2} THEN cents END) AS BIGINT) AS q50_cents,
       CAST(min(CASE WHEN rn = {_QS_K * 9 // 10} THEN cents END) AS BIGINT) AS q90_cents,
       CAST(min(CASE WHEN rn = {_QS_K * 99 // 100} THEN cents END) AS BIGINT) AS q99_cents
FROM rk
"""


@query("value_bottomk_quantile_sketch", oracle=_QS_ORACLE)
def value_bottomk_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a bottom-k HASH sample: keep the {k} rows
    with the smallest md5 priorities (a deterministic uniform sample of
    the stream) and read p50/p90/p99 off the sorted sample — the
    KMV-style MERGEABLE alternative to a full sort: bottom-k sets union
    (take the bottom k of the union) exactly like HLL partials, so
    per-partition / per-day sketches combine without revisiting data,
    and the same fixed hash makes the sketch — and therefore this
    query's VALUES — reproducible across engines, runs, and
    partitionings (an approx_percentile call is not cross-engine
    checkable; this is).

    Scale: the bottom-k is TakeOrderedAndProject (per-partition top-k
    then a k-row merge on one reducer — no global sort); everything
    after runs on the {k}-row sample."""
    e = _t(spark, sf_dir, "events")
    from fraud_detection_etl_project_spark.plans.governance_queries import _md5_mod

    h = e.select(
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        _md5_mod("qs1|", F.col("event_id"), _QS_HASH_MOD).alias("pri"),
    )
    bk = h.orderBy(F.col("pri").asc(), F.col("event_id").asc()).limit(_QS_K).select("cents")
    rk = bk.withColumn("rn", F.row_number().over(Window.orderBy(F.col("cents").asc())))
    return rk.agg(
        F.lit(_QS_K).cast("bigint").alias("k"),
        F.min(F.when(F.col("rn") == _QS_K // 2, F.col("cents"))).cast("bigint").alias("q50_cents"),
        F.min(F.when(F.col("rn") == _QS_K * 9 // 10, F.col("cents"))).cast("bigint").alias("q90_cents"),
        F.min(F.when(F.col("rn") == _QS_K * 99 // 100, F.col("cents"))).cast("bigint").alias("q99_cents"),
    )


# ---------------------------------------------------------------------------
# UCB1 bandit replay over daily arms (policy evaluation on logged data)
# ---------------------------------------------------------------------------

_UCB_ARMS = ["click", "error", "purchase", "signup", "view"]  # alpha order
_UCB_CAP = 20_000  # reward = capped day-mean cents, normalized by this
_UCB_SCALE = 1_000_000


def _ucb_score_sql(s: str, n: str, t: str) -> str:
    return (
        f"CAST(floor({_UCB_SCALE}.0 * (CAST({s} AS DOUBLE) / ({_UCB_CAP}.0 * CAST({n} AS DOUBLE))"
        f" + sqrt(2.0 * ln(CAST({t} AS DOUBLE)) / CAST({n} AS DOUBLE))) + 0.5) AS BIGINT)"
    )


def _ucb_oracle() -> str:
    arms = _UCB_ARMS
    a0 = arms[0]
    zeros_n = ", ".join(
        f"CAST({1 if a == a0 else 0} AS BIGINT) AS n_{a}" for a in arms
    )
    zeros_s = ", ".join(
        f"CAST(CASE WHEN '{a}' = '{a0}' THEN COALESCE(r.r, 0) ELSE 0 END AS BIGINT) AS s_{a}"
        for a in arms
    )
    init_arm_case = " ".join(
        f"WHEN x.nt = {i + 1} THEN '{arms[i]}'" for i in range(len(arms))
    )
    scores = {a: _ucb_score_sql(f"x.s_{a}", f"x.n_{a}", "x.nt") for a in arms}
    qscores = {a: _ucb_score_sql(f"q.s_{a}", f"q.n_{a}", "q.nt") for a in arms}
    qmx = f"greatest({', '.join(qscores.values())})"
    q_argmax_case = " ".join(f"WHEN {qscores[a]} = {qmx} THEN '{a}'" for a in arms)
    init_arm_case_q = init_arm_case.replace("x.nt", "q.nt")
    chosen = f"CASE {init_arm_case_q} ELSE (CASE {q_argmax_case} END) END"
    qscore_out = (
        "CASE WHEN x.nt <= "
        + str(len(arms))
        + " THEN CAST(0 AS BIGINT) ELSE (CASE "
        + " ".join(f"WHEN x.ch = '{a}' THEN {scores[a]}" for a in arms)
        + " END) END"
    )
    n_updates = ", ".join(
        f"x.n_{a} + CASE WHEN x.ch = '{a}' THEN 1 ELSE 0 END AS n_{a}" for a in arms
    )
    s_updates = ", ".join(
        f"x.s_{a} + CASE WHEN x.ch = '{a}' THEN COALESCE(r.r, 0) ELSE 0 END AS s_{a}" for a in arms
    )
    return f"""
WITH RECURSIVE days AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)),
rw AS (
  SELECT d.t, e.event_type, CAST(least(e.sc // e.n, {_UCB_CAP}) AS BIGINT) AS r
  FROM (SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2) e
  JOIN days d ON d.day = e.day),
rec AS (
  SELECT d.t, d.day, '{a0}' AS chosen_arm, CAST(0 AS BIGINT) AS q_score,
         CAST(COALESCE(r.r, 0) AS BIGINT) AS reward,
         CAST(COALESCE(r.r, 0) AS BIGINT) AS cum_reward,
         {zeros_n}, {zeros_s}
  FROM days d LEFT JOIN rw r ON r.t = d.t AND r.event_type = '{a0}'
  WHERE d.t = 1
  UNION ALL
  SELECT x.nt AS t, x.day2 AS day, x.ch AS chosen_arm,
         {qscore_out} AS q_score,
         CAST(COALESCE(r.r, 0) AS BIGINT) AS reward,
         x.cum_reward + COALESCE(r.r, 0) AS cum_reward,
         {n_updates},
         {s_updates}
  FROM (
    SELECT q.*, ({chosen}) AS ch
    FROM (SELECT rec.*, rec.t + 1 AS nt, d2.day AS day2
          FROM rec JOIN days d2 ON d2.t = rec.t + 1) q
  ) x
  LEFT JOIN rw r ON r.t = x.nt AND r.event_type = x.ch
)
SELECT t, day, chosen_arm, q_score, reward, cum_reward FROM rec
"""


@query("ucb1_bandit_replay", oracle=_ucb_oracle())
def ucb1_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit policy replayed over logged daily rewards: arms are
    the event types, a day's reward for an arm is its capped mean value
    in cents, the first |arms| days initialize each arm once, and every
    later day plays argmax of mean/20000 + sqrt(2 ln t / n) — the
    offline policy-evaluation loop (Li et al.'s replay methodology) that
    tells you what a bandit WOULD have earned on your logs before you
    ship it. Scores quantize at 1e-6 with the repo's
    fixed-parenthesization idiom, so every pull matches the oracle's
    recursive CTE (which carries the per-arm (n, s) state as columns).

    Like CUSUM/Holt, the decision walk is inherently sequential, so it
    takes the grouped-map hatch AFTER the heavy reduction: events
    collapse JVM-side to the (day, arm) reward grid (combine-aggregated,
    calendar x |arms| rows), and only that parameter-sized frame crosses
    into the single-group pandas walk — O(days x arms) Python rows,
    never raw events.
    """
    import math

    ev = _t(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.col("event_type"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.least(
                F.expr("sum(cents) div count(*)"), F.lit(_UCB_CAP).cast("bigint")
            ).alias("r")
        )
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        days = sorted(pdf["day"].unique())
        rmap = {(row.day, row.event_type): int(row.r) for row in pdf.itertuples()}
        arms = _UCB_ARMS
        n = {a: 0 for a in arms}
        s = {a: 0 for a in arms}
        out = []
        cum = 0
        for t, day in enumerate(days, start=1):
            if t <= len(arms):
                ch, q = arms[t - 1], 0
            else:
                qs = {
                    a: math.floor(
                        _UCB_SCALE
                        * (s[a] / (float(_UCB_CAP) * n[a]) + math.sqrt(2.0 * math.log(t) / n[a]))
                        + 0.5
                    )
                    for a in arms
                }
                mx = max(qs.values())
                ch = next(a for a in arms if qs[a] == mx)
                q = qs[ch]
            r = rmap.get((day, ch), 0)
            n[ch] += 1
            s[ch] += r
            cum += r
            out.append((t, day, ch, q, r, cum))
        return pd.DataFrame(
            out, columns=["t", "day", "chosen_arm", "q_score", "reward", "cum_reward"]
        )

    return grid.groupBy().applyInPandas(
        replay,
        schema=(
            "t bigint, day date, chosen_arm string, q_score bigint, "
            "reward bigint, cum_reward bigint"
        ),
    )


# ---------------------------------------------------------------------------
# Diagonal-Mahalanobis multivariate outliers
# ---------------------------------------------------------------------------

_MAH_SCALE = 1_000_000
_MAH_TOP = 50


_MAH_ORACLE = f"""
WITH f AS (
  SELECT event_id, CAST(hour(ts) AS BIGINT) AS x1, CAST(day(ts) % 7 AS BIGINT) AS x2,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x3
  FROM events),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1 * x1) AS BIGINT) AS q1,
         CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(x2 * x2) AS BIGINT) AS q2,
         CAST(sum(x3) AS BIGINT) AS s3, CAST(sum(x3 * x3) AS BIGINT) AS q3
  FROM f),
sc AS (
  SELECT f.event_id,
         CAST(floor({_MAH_SCALE}.0 * (
             (((CAST(f.x1 AS DOUBLE) * n) - s1) * ((CAST(f.x1 AS DOUBLE) * n) - s1)) / ((CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) * n)
           + (((CAST(f.x2 AS DOUBLE) * n) - s2) * ((CAST(f.x2 AS DOUBLE) * n) - s2)) / ((CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) * n)
           + (((CAST(f.x3 AS DOUBLE) * n) - s3) * ((CAST(f.x3 AS DOUBLE) * n) - s3)) / ((CAST(n AS DOUBLE) * q3 - CAST(s3 AS DOUBLE) * s3) * n)
         ) + 0.5) AS BIGINT) AS q_m2
  FROM f, m)
SELECT event_id, q_m2 FROM sc ORDER BY q_m2 DESC, event_id ASC LIMIT {_MAH_TOP}
"""


@query("event_mahalanobis_outliers", oracle=_MAH_ORACLE)
def event_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen: top-50 events by diagonal
    Mahalanobis distance over (hour, day-of-month mod 7, value cents) —
    the standardization-aware generalization of per-column z-scores
    (each squared deviation is scaled by ITS feature's variance, so a
    weird-hour-cheap-purchase can outrank a merely-expensive one). The
    score is written as ((x·n - s)² / ((n·q - s²)·n)) so every input to
    the double arithmetic is an EXACT integer moment and the expression
    tree is shared verbatim with the oracle.

    Scale: one moment aggregation (map-side combined to 7 numbers), a
    1-row broadcast back onto the stream, row-local scoring, and a
    TakeOrderedAndProject top-50 — two scans, no sort.
    """
    e = _t(spark, sf_dir, "events")
    f = e.select(
        "event_id",
        F.hour("ts").cast("bigint").alias("x1"),
        (F.dayofmonth("ts") % 7).cast("bigint").alias("x2"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("x3"),
    )
    m = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("q1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("q2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(F.col("x3") * F.col("x3")).cast("bigint").alias("q3"),
    )

    def term(x, s, q):
        dev = F.col(x).cast("double") * F.col("n") - F.col(s)
        var = F.col("n").cast("double") * F.col(q) - F.col(s).cast("double") * F.col(s)
        return (dev * dev) / (var * F.col("n"))

    sc = f.crossJoin(F.broadcast(m)).select(
        "event_id",
        F.floor(
            F.lit(float(_MAH_SCALE)) * (term("x1", "s1", "q1") + term("x2", "s2", "q2") + term("x3", "s3", "q3"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_m2"),
    )
    return sc.orderBy(F.col("q_m2").desc(), F.col("event_id").asc()).limit(_MAH_TOP)


# ---------------------------------------------------------------------------
# HDR-style log-bucket histogram quantiles (mergeable, bounded error)
# ---------------------------------------------------------------------------

_HDR_SUB = 16  # sub-buckets per power-of-two -> <= 1/16 relative error
_HDR_MAX_K = 24


def _hdr_k_case(c: str) -> str:
    """floor(log2(c)) via an integer CASE chain — no transcendental, so
    no rounding ambiguity at exact powers of two."""
    whens = " ".join(
        f"WHEN {c} < {1 << (k + 1)} THEN {k}" for k in range(_HDR_MAX_K)
    )
    return f"CASE {whens} ELSE {_HDR_MAX_K} END"


def _hdr_exprs(c: str) -> tuple[str, str]:
    k = _hdr_k_case(c)
    sub = f"(({c} * {_HDR_SUB}) div (CAST(1 AS BIGINT) << ({k}))) - {_HDR_SUB}"
    bucket = f"({k}) * {_HDR_SUB} + ({sub})"
    return bucket, k


_HDR_BUCKET, _ = _hdr_exprs("cents")
# lower bound of bucket id b: ((SUB + sub) << k) / SUB with k = b div SUB
_HDR_LOWER = (
    f"(({_HDR_SUB} + (bucket % {_HDR_SUB})) * (CAST(1 AS BIGINT) << (bucket div {_HDR_SUB})))"
    f" div {_HDR_SUB}"
)


def _hdr_oracle() -> str:
    # DuckDB: div -> //, << works
    bucket = _HDR_BUCKET.replace(" div ", " // ")
    lower = _HDR_LOWER.replace(" div ", " // ")
    return f"""
WITH v AS (
  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' AND value >= 0.01),
b AS (SELECT CAST({bucket} AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1),
c AS (SELECT bucket, CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM b),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM b),
pick AS (
  SELECT t.nt,
         CAST(min(CASE WHEN c.cum * 100 >= t.nt * 50 THEN {lower} END) AS BIGINT) AS q50_lo,
         CAST(min(CASE WHEN c.cum * 100 >= t.nt * 90 THEN {lower} END) AS BIGINT) AS q90_lo,
         CAST(min(CASE WHEN c.cum * 100 >= t.nt * 99 THEN {lower} END) AS BIGINT) AS q99_lo
  FROM c, tot t GROUP BY t.nt)
SELECT nt AS n, q50_lo, q90_lo, q99_lo FROM pick
"""


@query("value_hdr_quantiles", oracle=_hdr_oracle())
def value_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style quantiles: bucket purchase values into
    power-of-two ranges split 16 ways (<= 1/16 relative error by
    construction), then read p50/p90/p99 off the cumulative bucket
    counts. The log-bucket histogram is the third quantile strategy in
    the repo — exact two-pass (exact_median_twopass) when you can afford
    two scans, bottom-k hash sample (value_bottomk_quantile_sketch) when
    you need a fixed-size mergeable sample, and THIS when you need
    mergeable + bounded relative error + O(1) update (the shape
    monitoring systems persist per minute and merge across hosts). The
    floor(log2) comes from an integer CASE chain, so no transcendental
    ever decides a bucket at a power-of-two boundary.

    Scale: one combine-aggregated bucket count (<= 24x16 buckets
    regardless of data size); the cumulative walk runs on that bounded
    frame. The quantile read uses cum*100 >= n*p — exact integer
    arithmetic, no percentile function semantics to disagree on.
    """
    e = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 0.01)
    )
    v = e.select(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"))
    b = v.selectExpr(f"CAST({_HDR_BUCKET} AS BIGINT) AS bucket").groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select("bucket", F.sum("n").over(w).cast("bigint").alias("cum"))
    tot = b.agg(F.sum("n").cast("bigint").alias("nt"))
    j = c.crossJoin(F.broadcast(tot)).selectExpr(
        "nt", "cum", f"CAST({_HDR_LOWER} AS BIGINT) AS lower"
    )
    return j.groupBy("nt").agg(
        F.min(F.when(F.col("cum") * 100 >= F.col("nt") * 50, F.col("lower"))).cast("bigint").alias("q50_lo"),
        F.min(F.when(F.col("cum") * 100 >= F.col("nt") * 90, F.col("lower"))).cast("bigint").alias("q90_lo"),
        F.min(F.when(F.col("cum") * 100 >= F.col("nt") * 99, F.col("lower"))).cast("bigint").alias("q99_lo"),
    ).withColumnRenamed("nt", "n")


# ---------------------------------------------------------------------------
# Change-point detection: binary segmentation over the daily value series
# ---------------------------------------------------------------------------

_CP_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS tot_c
  FROM events GROUP BY 1),
idx AS (SELECT day, tot_c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i FROM daily),
pre AS (
  SELECT i, day, tot_c,
         CAST(sum(tot_c) OVER (ORDER BY i) AS BIGINT) AS s1,
         CAST(sum(tot_c * tot_c) OVER (ORDER BY i) AS BIGINT) AS s2
  FROM idx),
tot AS (SELECT max(i) AS n, max_by(s1, i) AS s1n, max_by(s2, i) AS s2n FROM pre),
cand AS (
  SELECT p.i AS split_i, p.day AS split_day,
         (CAST(p.s2 AS DOUBLE) - CAST(p.s1 AS DOUBLE) * CAST(p.s1 AS DOUBLE) / CAST(p.i AS DOUBLE))
         + (CAST(t.s2n - p.s2 AS DOUBLE)
            - CAST(t.s1n - p.s1 AS DOUBLE) * CAST(t.s1n - p.s1 AS DOUBLE) / CAST(t.n - p.i AS DOUBLE))
           AS cost,
         CAST(p.s1 AS DOUBLE) / CAST(p.i AS DOUBLE) / 100.0 AS mean_left,
         CAST(t.s1n - p.s1 AS DOUBLE) / CAST(t.n - p.i AS DOUBLE) / 100.0 AS mean_right
  FROM pre p, tot t
  WHERE p.i < t.n)
SELECT CAST(split_i AS BIGINT) AS split_i, split_day,
       floor(cost + 0.5) AS cost_q,
       floor(mean_left * 1000000.0 + 0.5) / 1000000.0 AS mean_left_q,
       floor(mean_right * 1000000.0 + 0.5) / 1000000.0 AS mean_right_q
FROM cand
ORDER BY cost ASC, split_i ASC
LIMIT 1
"""


@query("daily_value_changepoint", oracle=_CP_SQL)
def daily_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection (one binary-segmentation step): the split day
    of the daily-revenue series that minimizes within-segment SSE on both
    sides — computed in closed form from exact int64 prefix sums
    (SSE = S2 - S1^2/n), so every candidate's cost is one O(1) expression
    and the whole search is a single window pass + argmin, not an O(n^2)
    re-aggregation. The standard first step of PELT/binseg monitoring for
    level shifts in a KPI.

    Scale shape: the heavy work is the per-day aggregation of the fact
    (partial-agg groupBy); the series itself is calendar-sized, so the
    unpartitioned prefix-sum window runs on a reduced frame (days, not
    events — WindowExec single-partition is safe by construction).
    Cent-integer sums make prefix sums exact; the cost doubles derive
    from identical int64 inputs, so argmin ties break identically."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(F.sum(cents).alias("tot_c"))
    w = Window.orderBy("day")
    wrun = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        "tot_c",
        F.row_number().over(w).cast("bigint").alias("i"),
    ).select(
        "i",
        "day",
        F.sum("tot_c").over(wrun).alias("s1"),
        F.sum(F.col("tot_c") * F.col("tot_c")).over(wrun).alias("s2"),
    )
    tot = pre.agg(
        F.max("i").alias("n"), F.max_by("s1", "i").alias("s1n"), F.max_by("s2", "i").alias("s2n")
    )
    p = pre.crossJoin(F.broadcast(tot)).filter(F.col("i") < F.col("n"))
    s1d, s2d, id_ = F.col("s1").cast("double"), F.col("s2").cast("double"), F.col("i").cast("double")
    r1d = (F.col("s1n") - F.col("s1")).cast("double")
    r2d = (F.col("s2n") - F.col("s2")).cast("double")
    rnd = (F.col("n") - F.col("i")).cast("double")
    cost = (s2d - s1d * s1d / id_) + (r2d - r1d * r1d / rnd)
    return (
        p.select(
            F.col("i").alias("split_i"),
            F.col("day").alias("split_day"),
            cost.alias("cost"),
            (s1d / id_ / F.lit(100.0)).alias("mean_left"),
            (r1d / rnd / F.lit(100.0)).alias("mean_right"),
        )
        .orderBy(F.col("cost").asc(), F.col("split_i").asc())
        .limit(1)
        .select(
            "split_i",
            "split_day",
            F.floor(F.col("cost") + F.lit(0.5)).cast("double").alias("cost_q"),
            (F.floor(F.col("mean_left") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("mean_left_q"),
            (F.floor(F.col("mean_right") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("mean_right_q"),
        )
    )


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift detection (daily mean series per event type)
# ---------------------------------------------------------------------------

_PH_LAMBDA_CENTS = 5_000  # alarm threshold: 50 dollars of accumulated drift


@query(
    "value_page_hinkley_drift",
    oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(floor(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS x_cents
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, x_cents,
         CAST(row_number() OVER w AS BIGINT) AS t,
         CAST(sum(x_cents) OVER w AS BIGINT) AS cum_x
  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT event_type, day, t, x_cents,
         CAST(sum(CAST(floor((x_cents - CAST(cum_x AS DOUBLE) / t) * 1000000.0 + 0.5) AS BIGINT))
              OVER w AS BIGINT) AS m_t
  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, t, x_cents,
       CAST(m_t - min(m_t) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ph_micro,
       m_t - min(m_t) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         > CAST({_PH_LAMBDA_CENTS} AS BIGINT) * 1000000 AS alarm
FROM m
""",
)
def value_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift test over each event type's daily
    mean-value series — the streaming-ML drift detector (Gama et al.)
    beside the repo's CUSUM: accumulate deviations of each observation
    from the RUNNING mean, m_T = sum_t (x_t - xbar_t - delta), and alarm
    when m_T rises lambda above its historical minimum (a level shift
    makes deviations systematically positive).

    Exactness: daily means land on the integer-cent lattice (exact int64
    cent sums divided once, floored); each deviation x_t - cum_x/t
    quantizes to int64 micro-cents BEFORE the cumulative sum, so m_T and
    its running minimum are exact integers in both engines — the same
    prefix-scan drawdown identity the CUSUM rewrite uses, with the
    reference mean running instead of fixed.

    Scale: the fact table reduces to (event_type, day) in one map-side-
    combinable pass; every window (row_number, two cumulative sums, one
    cumulative min) runs over that ~30-row-per-key reduced frame,
    partitioned by event_type — no fact-sized window, no pandas hop."""
    e = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).cast("double")
            / F.count(F.lit(1))
            + 0.5
        )
        .cast("long")
        .alias("x_cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "event_type",
        "day",
        "x_cents",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).cast("long").alias("t"),
        F.sum("x_cents").over(w).cast("long").alias("cum_x"),
    )
    m = r.select(
        "event_type",
        "day",
        "t",
        "x_cents",
        F.sum(
            F.floor(
                (F.col("x_cents") - F.col("cum_x").cast("double") / F.col("t")) * 1000000.0 + 0.5
            ).cast("long")
        )
        .over(w)
        .cast("long")
        .alias("m_t"),
    )
    ph = (F.col("m_t") - F.min("m_t").over(w)).cast("long")
    return m.select(
        "event_type",
        "day",
        "t",
        "x_cents",
        ph.alias("ph_micro"),
        (ph > _PH_LAMBDA_CENTS * 1000000).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# Subsequence motif counting (non-contiguous ordered patterns per user)
# ---------------------------------------------------------------------------


@query(
    "user_subsequence_motifs",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(count(*) FILTER (WHERE event_type = 'view')
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS v_before,
         CAST(count(*) FILTER (WHERE event_type = 'purchase')
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT) AS p_after
  FROM events
)
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_views,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
       CAST(coalesce(sum(CASE WHEN event_type = 'click'
                              THEN v_before * p_after END), 0) AS BIGINT) AS n_motifs
FROM e GROUP BY 1
""",
)
def user_subsequence_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-contiguous ordered-subsequence motif counting: per user, the
    number of (view, click, purchase) triples in strict time order with
    ANY events in between — the complex-event-processing / behavioral-
    motif primitive that adjacent-trigram mining
    (frequent_event_sequences) cannot see. The naive formulation is a
    triple self-join (O(n^3) pairs per user); the identity
    count = sum over clicks of (#views strictly before x #purchases
    strictly after) computes it with TWO window passes and zero joins —
    the standard prefix-count trick for subsequence counting.

    Exactness: everything is int64 counting; no floats anywhere.

    Scale: both windows are partitioned by user_id and ordered within the
    key (per-key frames, never a global sort); one shuffle on user_id
    serves the windows and the final grouped rollup. Motif counts are
    bounded by n_views * n_clicks * n_purchases per user — int64-safe to
    millions of events per key."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wa = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    x = e.select(
        "user_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "view", 1)).over(wb).cast("long").alias("v_before"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).over(wa).cast("long").alias("p_after"),
    )
    return x.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("n_views"),
        F.count(F.when(F.col("event_type") == "click", 1)).cast("long").alias("n_clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("n_purchases"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("v_before") * F.col("p_after"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_motifs"),
    )


# ---------------------------------------------------------------------------
# HBOS: histogram-based outlier scoring (density product over features)
# ---------------------------------------------------------------------------


@query(
    "event_hbos_outliers",
    oracle="""
WITH f AS (
  SELECT event_id,
         CAST(hour(ts) AS BIGINT) AS b_hour,
         least(CAST(floor(CAST(floor(value * 100.0 + 0.5) AS BIGINT) / 5000.0) AS BIGINT),
               CAST(19 AS BIGINT)) AS b_val,
         CAST(dayofweek(ts) AS BIGINT) AS b_dow
  FROM events
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM f),
h1 AS (SELECT b_hour, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1),
h2 AS (SELECT b_val, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1),
h3 AS (SELECT b_dow, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1)
SELECT event_id, b_hour, b_val, b_dow,
       floor((CAST(n.total AS DOUBLE) / h1.c)
             * (CAST(n.total AS DOUBLE) / h2.c)
             * (CAST(n.total AS DOUBLE) / h3.c) * 1000000.0 + 0.5) / 1000000.0 AS hbos_score
FROM f
JOIN h1 USING (b_hour) JOIN h2 USING (b_val) JOIN h3 USING (b_dow)
CROSS JOIN n
ORDER BY hbos_score DESC, event_id ASC
LIMIT 20
""",
)
def event_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012):
    per-feature histograms (hour of day, 20-band value, day of week),
    score = product over features of inverse bin density N/n(bin) —
    the linear-time unsupervised outlier detector that scales where
    isolation forests and kNN-based detectors need trees or joins.
    Reports the top-20 rarest events (deterministic tie-break on
    event_id).

    Exactness: bins are integer arithmetic on the cent lattice; bin
    counts are exact int64; the score is formed from those integers by
    one identical IEEE expression in both engines (no libm — plain
    multiply/divide), quantized 1e-6.

    Scale: three map-side-combinable histogram aggregations (24 + 20 + 7
    rows), broadcast back onto ONE fact scan — no fact-sized shuffle at
    all; the final top-20 is TakeOrderedAndProject (per-partition heads,
    never a global sort)."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    f = e.select(
        "event_id",
        F.hour("ts").cast("long").alias("b_hour"),
        F.least(
            F.floor(F.floor(F.col("value") * 100.0 + 0.5).cast("long") / 5000).cast("long"),
            F.lit(19).cast("long"),
        ).alias("b_val"),
        (F.dayofweek("ts") - F.lit(1)).cast("long").alias("b_dow"),
    )
    n = f.agg(F.count(F.lit(1)).cast("long").alias("total"))
    h1 = f.groupBy("b_hour").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    h2 = f.groupBy("b_val").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    h3 = f.groupBy("b_dow").agg(F.count(F.lit(1)).cast("long").alias("c3"))
    tot = F.col("total").cast("double")
    score = (tot / F.col("c1")) * (tot / F.col("c2")) * (tot / F.col("c3"))
    return (
        f.join(F.broadcast(h1), "b_hour")
        .join(F.broadcast(h2), "b_val")
        .join(F.broadcast(h3), "b_dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_id",
            "b_hour",
            "b_val",
            "b_dow",
            (F.floor(score * 1000000.0 + 0.5) / 1000000.0).alias("hbos_score"),
        )
        .orderBy(F.col("hbos_score").desc(), F.col("event_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Two-sample histogram drift (chi-square homogeneity between periods)
# ---------------------------------------------------------------------------

_DRIFT_BOUNDARY = "2024-01-16 00:00:00"
_DRIFT_CRIT_DF19 = 30.143527  # chi-square 95% critical value, df = 20 - 1


@query(
    "value_histogram_drift",
    oracle=f"""
WITH f AS (
  SELECT event_type,
         least(CAST(floor(CAST(floor(value * 100.0 + 0.5) AS BIGINT) / 5000.0) AS BIGINT),
               CAST(19 AS BIGINT)) AS b,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_BOUNDARY}' THEN 1 ELSE 2 END AS period
  FROM events
),
h AS (
  SELECT event_type, b,
         CAST(count(*) FILTER (WHERE period = 1) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE period = 2) AS BIGINT) AS n2
  FROM f GROUP BY 1, 2
),
t AS (
  SELECT event_type, CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM h GROUP BY 1
),
c AS (
  SELECT h.event_type, t.t1, t.t2, t.n_bins,
         sum(
           (h.n1 - CAST(t.t1 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
           * (h.n1 - CAST(t.t1 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
           / (CAST(t.t1 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
           + (h.n2 - CAST(t.t2 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
           * (h.n2 - CAST(t.t2 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
           / (CAST(t.t2 AS DOUBLE) * (h.n1 + h.n2) / (t.t1 + t.t2))
         ) AS chi
  FROM h JOIN t ON h.event_type = t.event_type
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, t1 AS n_first, t2 AS n_second, n_bins,
       floor(chi * 1000000.0 + 0.5) / 1000000.0 AS chi_sq,
       chi > {_DRIFT_CRIT_DF19} AS drift_flag
FROM c
""",
)
def value_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity test between the first and
    second half of the month, per event type, over the 20-band value
    histogram — the standard production DRIFT MONITOR for a model input
    (has the feature's distribution moved since training?), the
    frequentist sibling of PSI that needs no logarithm (libm-free, per
    the repo's cross-engine parity policy). Flags types whose chi-square
    exceeds the 95% critical value at df = 19.

    Exactness note: bin counts are exact int64 and each per-bin term is
    the same IEEE expression over them in both engines; the chi-square
    is a sum of <=20 such doubles, which is order-dependent in principle.
    All terms are positive and of similar magnitude, so the order
    variance is ~1e-13 relative — many orders below the 1e-6 comparison
    quantum. This is the repo's documented bounded exception to the
    exact-lattice rule (the same class as Welch's variance outputs),
    taken here because no integer reformulation of a sum of squared
    residual ratios exists.

    Scale: one scan -> (event_type, band, period) conditional counts
    (map-side combinable, <=200 rows total), then 5-row arithmetic. No
    windows, no joins beyond the tiny histogram-total broadcast."""
    e = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    boundary = F.lit(_DRIFT_BOUNDARY).cast("timestamp")
    f = e.select(
        "event_type",
        F.least(
            F.floor(F.floor(F.col("value") * 100.0 + 0.5).cast("long") / 5000).cast("long"),
            F.lit(19).cast("long"),
        ).alias("b"),
        F.when(F.col("ts") < boundary, 1).otherwise(2).alias("period"),
    )
    h = f.groupBy("event_type", "b").agg(
        F.count(F.when(F.col("period") == 1, 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("period") == 2, 1)).cast("long").alias("n2"),
    )
    t = h.groupBy("event_type").agg(
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    j = h.join(F.broadcast(t), "event_type")
    e1 = F.col("t1").cast("double") * (F.col("n1") + F.col("n2")) / (F.col("t1") + F.col("t2"))
    e2 = F.col("t2").cast("double") * (F.col("n1") + F.col("n2")) / (F.col("t1") + F.col("t2"))
    term = (F.col("n1") - e1) * (F.col("n1") - e1) / e1 + (F.col("n2") - e2) * (
        F.col("n2") - e2
    ) / e2
    c = j.groupBy("event_type", "t1", "t2", "n_bins").agg(F.sum(term).alias("chi"))
    return c.select(
        "event_type",
        F.col("t1").alias("n_first"),
        F.col("t2").alias("n_second"),
        "n_bins",
        (F.floor(F.col("chi") * 1000000.0 + 0.5) / 1000000.0).alias("chi_sq"),
        (F.col("chi") > _DRIFT_CRIT_DF19).alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (lags 1..7) of the daily value series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "daily_value_acf",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                    / 100.0) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn
  FROM d
),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
j AS (
  SELECT a.event_type, l.lag, a.x AS x, b.x AS y
  FROM r a JOIN lags l ON TRUE
  JOIN r b ON b.event_type = a.event_type AND b.rn = a.rn - l.lag
),
s AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM j GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000.0 + 0.5) / 1000000.0 AS acf
FROM s
""",
)
def daily_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of each event type's daily value
    series at lags 1..7 — the seasonality/persistence diagnostic read
    before fitting any forecaster (a weekly cycle shows as a lag-7
    peak), extending the per-user lag-1 screen (user_value_autocorr) to
    the full multi-lag ACF over the aggregated series.

    Exactness: daily totals land on an integer-DOLLAR lattice (cent sums
    floored once — dollars keep sum-of-products within int64 through
    sf100); every moment is an exact int64 sufficient statistic; the
    Pearson ratio is one identical IEEE expression (sqrt is correctly
    rounded by IEEE 754, hence engine-identical), quantized 1e-6.

    Scale: the fact reduces to (type, day) in one map-side-combinable
    pass; the lag join runs on that calendar-sized frame (30 rows/key)
    against a 7-row literal — never on facts."""
    e = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    d = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).cast("double") / 100.0
        )
        .cast("long")
        .alias("x")
    )
    r = d.select(
        "event_type",
        "x",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).cast("long").alias("rn"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("long").alias("lag"))
    a, b = r.alias("a"), r.alias("b")
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.rn") == F.col("a.rn") - F.col("lag")),
        )
        .select(F.col("a.event_type").alias("event_type"), "lag", F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    s = j.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "event_type",
        "lag",
        F.col("n").alias("n_pairs"),
        (F.floor(num / den * 1000000.0 + 0.5) / 1000000.0).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Log-rank test (time-to-first-purchase survival between assignment arms)
# ---------------------------------------------------------------------------


@query(
    "logrank_retention_test",
    oracle="""
WITH span AS (SELECT max(CAST(ts AS DATE)) AS horizon FROM events),
u AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         min(CAST(ts AS DATE)) AS d0,
         min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS dp
  FROM events GROUP BY user_id
),
uu AS (
  SELECT arm,
         CASE WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
              ELSE date_diff('day', d0, (SELECT horizon FROM span)) END AS dur,
         CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM u
),
t AS (
  SELECT dur,
         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS c2,
         CAST(count(*) FILTER (WHERE arm = 0 AND observed = 1) AS BIGINT) AS d1,
         CAST(count(*) FILTER (WHERE arm = 1 AND observed = 1) AS BIGINT) AS d2
  FROM uu GROUP BY 1
),
rk AS (
  SELECT dur, d1, d2,
         CAST(sum(c1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS n1,
         CAST(sum(c2) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS n2
  FROM t
),
q AS (
  SELECT dur, d1,
         CAST(floor(CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) * 1000000.0 + 0.5)
              AS BIGINT) AS e1_q,
         CASE WHEN n1 + n2 > 1 THEN
           CAST(floor(CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)
                      * n2 / (n1 + n2)
                      * (n1 + n2 - d1 - d2) / (n1 + n2 - 1) * 1000000.0 + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS v_q
  FROM rk WHERE d1 + d2 > 0
),
s AS (
  SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
         CAST(coalesce(sum(e1_q), 0) AS BIGINT) AS e1s_q,
         CAST(coalesce(sum(v_q), 0) AS BIGINT) AS vs_q
  FROM q
),
arms AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
         CAST(count(*) FILTER (WHERE observed = 1) AS BIGINT) AS n_events
  FROM uu
),
fin AS (
  SELECT arms.n_a, arms.n_b, arms.n_events, s.o1,
         s.e1s_q / 1000000.0 AS expected1,
         CASE WHEN s.vs_q > 0 THEN
           (s.o1 - s.e1s_q / 1000000.0) * (s.o1 - s.e1s_q / 1000000.0)
             / (s.vs_q / 1000000.0)
         ELSE 0.0 END AS chi
  FROM s, arms
)
SELECT n_a, n_b, n_events, o1, expected1,
       floor(chi * 1000000.0 + 0.5) / 1000000.0 AS chi_sq,
       chi > 3.841459 AS significant
FROM fin
""",
)
def logrank_retention_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test on TIME-TO-FIRST-PURCHASE between the
    two assignment arms — the survival-analysis companion to the
    Kaplan-Meier estimator (kaplan_meier_retention) and the right tool
    when the conversion metric is a censored duration (users who never
    purchase are censored at the horizon, informing risk sets without
    ever counting as events): at each distinct conversion day the
    observed arm-A conversions are compared with their hypergeometric
    expectation given the risk sets, chi^2 = (sum(O - E))^2 / sum(V).

    Exactness: risk sets are reverse-cumulative int64 counts over the
    duration-domain table (calendar-bounded, <=31 rows); each E and V
    term quantizes to int64 micro-units BEFORE summation, so the
    accumulated statistics are exact integers; the final ratio is one
    identical expression, quantized 1e-6, with the zero-variance
    degenerate case pinned to chi = 0 in both engines.

    Scale: one scan reduces users to (arm, duration, observed); every
    window runs on the duration-domain frame; the statistic is a 1-row
    fold. The single-partition window is over <=31 rows — a reduced
    frame, not a fact-sized sort."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("date").alias("day")
    )
    horizon = ev.agg(F.max("day").alias("horizon"))
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min("day").alias("d0"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("dp"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.when(F.col("dp").isNotNull(), F.datediff("dp", "d0"))
            .otherwise(F.datediff("horizon", "d0"))
            .cast("long")
            .alias("dur"),
            F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("observed"),
        )
    )
    t = u.groupBy("dur").agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("c1"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("c2"),
        F.count(F.when((F.col("arm") == 0) & (F.col("observed") == 1), 1)).cast("long").alias("d1"),
        F.count(F.when((F.col("arm") == 1) & (F.col("observed") == 1), 1)).cast("long").alias("d2"),
    )
    wdesc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = t.select(
        "dur",
        "d1",
        "d2",
        F.sum("c1").over(wdesc).cast("long").alias("n1"),
        F.sum("c2").over(wdesc).cast("long").alias("n2"),
    )
    d = F.col("d1") + F.col("d2")
    n = F.col("n1") + F.col("n2")
    e1 = d.cast("double") * F.col("n1") / n
    v = d.cast("double") * F.col("n1") / n * F.col("n2") / n * (n - d) / (n - 1)
    q = rk.filter(d > 0).select(
        "d1",
        F.floor(e1 * 1000000.0 + 0.5).cast("long").alias("e1_q"),
        F.when(n > 1, F.floor(v * 1000000.0 + 0.5).cast("long"))
        .otherwise(F.lit(0))
        .alias("v_q"),
    )
    s = q.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("long").alias("o1"),
        F.coalesce(F.sum("e1_q"), F.lit(0)).cast("long").alias("e1s_q"),
        F.coalesce(F.sum("v_q"), F.lit(0)).cast("long").alias("vs_q"),
    )
    arms = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n_b"),
        F.count(F.when(F.col("observed") == 1, 1)).cast("long").alias("n_events"),
    )
    diff = F.col("o1") - F.col("e1s_q") / 1000000.0
    chi = F.when(F.col("vs_q") > 0, diff * diff / (F.col("vs_q") / 1000000.0)).otherwise(
        F.lit(0.0)
    )
    return s.crossJoin(F.broadcast(arms)).select(
        "n_a",
        "n_b",
        "n_events",
        "o1",
        (F.col("e1s_q") / 1000000.0).alias("expected1"),
        (F.floor(chi * 1000000.0 + 0.5) / 1000000.0).alias("chi_sq"),
        (chi > 3.841459).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact over the 4-channel coalition set)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ["view", "click", "signup", "error"]  # bit i = channel i
# weight numerators |S|!(n-|S|-1)! for n=4: |S| in {0,1,2,3} -> {6,2,2,6};
# the common denominator 4! = 24 divides once at the end
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_pairs() -> list[tuple[int, int, int, int]]:
    """(channel_idx, mask_without, mask_with, weight) for every channel and
    every coalition S of the OTHER channels — 4 * 8 = 32 rows."""
    rows = []
    n = len(_SHAP_CHANNELS)
    for i in range(n):
        others = [j for j in range(n) if j != i]
        for bits in range(1 << (n - 1)):
            mask = sum(1 << others[k] for k in range(n - 1) if bits >> k & 1)
            size = bin(mask).count("1")
            rows.append((i, mask, mask | (1 << i), _SHAP_W[size]))
    return rows


def _shap_oracle() -> str:
    pairs = ", ".join(f"({i}, {m0}, {m1}, {w})" for i, m0, m1, w in _shap_pairs())
    names = ", ".join(f"('{c}', {i})" for i, c in enumerate(_SHAP_CHANNELS))
    bits = " + ".join(
        f"(CASE WHEN max(CASE WHEN event_type = '{c}' AND (fp IS NULL OR ts < fp)"
        f" THEN 1 ELSE 0 END) = 1 THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(_SHAP_CHANNELS)
    )
    return f"""
WITH fp AS (
  SELECT user_id, min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
  FROM events GROUP BY 1
),
u AS (
  SELECT e.user_id, {bits} AS mask,
         CAST(max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS converted
  FROM (SELECT ev.*, fp.fp FROM events ev JOIN fp ON ev.user_id = fp.user_id) e
  GROUP BY 1
),
g AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv,
         CAST(floor(CAST(sum(converted) AS DOUBLE) * 1000000000.0 / count(*) + 0.5)
              AS BIGINT) AS v_q
  FROM u GROUP BY 1
),
cp AS (SELECT * FROM (VALUES {pairs}) AS t(ch, m0, m1, w)),
terms AS (
  SELECT cp.ch,
         CAST(cp.w * (coalesce(g1.v_q, 0) - coalesce(g0.v_q, 0)) AS BIGINT) AS t_q
  FROM cp
  LEFT JOIN g g0 ON g0.mask = cp.m0
  LEFT JOIN g g1 ON g1.mask = cp.m1
),
nm AS (SELECT * FROM (VALUES {names}) AS t(channel, ch))
SELECT nm.channel, CAST(sum(t.t_q) AS BIGINT) AS shapley_q,
       sum(t.t_q) / 24.0 / 1000000000.0 AS shapley
FROM terms t JOIN nm ON nm.ch = t.ch
GROUP BY 1 ORDER BY 1
"""


@query("purchase_shapley_attribution", oracle=_shap_oracle())
def purchase_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value marketing attribution over the four
    non-purchase channels: each user's pre-conversion exposure set (event
    types seen strictly before the first purchase; all types for
    non-converters) defines a coalition; v(S) = observed conversion rate
    of users with exposure exactly S; each channel's Shapley value
    averages its marginal contribution v(S+i) - v(S) over all coalition
    orderings with the closed-form weights |S|!(n-|S|-1)!/n!. With 4
    channels the 2^4 coalition lattice is enumerable, so this is the
    game-theoretically fair attribution computed EXACTLY — no sampling —
    the upgrade from the heuristic position-based credit
    (purchase_touch_attribution). Unobserved coalitions contribute
    v = 0 (documented; at this fixture's density every mask is
    populated).

    Exactness: conversion rates quantize to int64 nano-units per
    coalition; marginal differences, weights (integers 6/2/2/6), and the
    32-term sums are pure int64; the single division by 24e9 happens
    once at the end — zero float accumulation anywhere.

    Scale: one fact scan -> per-user exposure bitmask + converted flag
    (map-side-combinable conditional max), one 16-row coalition rollup,
    then a 32-row broadcast lattice join. The 2^n lattice is the only
    exponential and n is the channel vocabulary, not data."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fp = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp")
    )
    j = ev.join(fp, "user_id")
    pre = F.col("fp").isNull() | (F.col("ts") < F.col("fp"))
    mask = None
    for i, c in enumerate(_SHAP_CHANNELS):
        bit = F.when(
            F.max(F.when((F.col("event_type") == c) & pre, 1).otherwise(0)) == 1,
            F.lit(1 << i),
        ).otherwise(0)
        mask = bit if mask is None else mask + bit
    u = j.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted"),
    )
    g = u.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
        F.floor(
            F.sum("converted").cast("double") * 1000000000.0 / F.count(F.lit(1)) + 0.5
        )
        .cast("long")
        .alias("v_q"),
    )
    cp = local_frame(spark, _shap_pairs(), "ch int, m0 int, m1 int, w int")
    nm = local_frame(
        spark,
        [(c, i) for i, c in enumerate(_SHAP_CHANNELS)], "channel string, ch int"
    )
    g0 = g.select(F.col("mask").alias("m0"), F.col("v_q").alias("v0"))
    g1 = g.select(F.col("mask").alias("m1"), F.col("v_q").alias("v1"))
    terms = (
        cp.join(F.broadcast(g0), "m0", "left")
        .join(F.broadcast(g1), "m1", "left")
        .select(
            "ch",
            (
                F.col("w").cast("long")
                * (F.coalesce(F.col("v1"), F.lit(0)) - F.coalesce(F.col("v0"), F.lit(0)))
            ).alias("t_q"),
        )
    )
    return (
        terms.groupBy("ch")
        .agg(F.sum("t_q").cast("long").alias("shapley_q"))
        .join(F.broadcast(nm), "ch")
        .select(
            "channel", "shapley_q", (F.col("shapley_q") / 24.0 / 1000000000.0).alias("shapley")
        )
        .orderBy("channel")
    )
