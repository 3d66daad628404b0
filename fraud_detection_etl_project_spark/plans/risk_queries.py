"""Fraud-risk analytics widening the round-5 surface: transaction-velocity
rules (trailing-window rate checks, the classic card-fraud signal),
structuring/smurfing detection (many just-below-threshold amounts), user
behavioral diversity (Simpson index over event-type mix), robust outlier
flagging (median/MAD modified z-scores, the Iglewicz–Hoaglin rule),
a trained logistic risk model (hard-sigmoid gradient descent, exactly
reproducible), and threshold-sweep precision/recall readouts.

Reference parity: savitaj-Fraud-detection-ETL flags fraud with two static
row filters (lambda_function_aws.py:41-45 — amount > 10000 OR country
mismatch); these queries are the windowed / aggregate / trained fraud
signals a production risk pipeline layers on top, each one a SURVEY.md §2
"beyond the reference" family. Contract as everywhere in plans/: JVM-side
DataFrame plans (zero Python in any hot path) and DuckDB oracles that
reproduce the same integers / quantized doubles bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.sources.local import local_frame
from fraud_detection_etl_project_spark.sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Velocity rule: trailing 24h count + amount per user, flag bursts
# ---------------------------------------------------------------------------

_VEL_WINDOW_S = 86_399  # trailing 24h, inclusive frame
_VEL_MIN_N = 6
_VEL_MIN_CENTS = 60_000  # $600 in 24h

_VELOCITY_SQL = f"""
SELECT event_id, user_id, n_24h, CAST(amt_c AS DOUBLE) / 100.0 AS amt_24h
FROM (
  SELECT event_id, user_id,
         CAST(count(*) OVER w AS BIGINT) AS n_24h,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER w AS amt_c
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN {_VEL_WINDOW_S} PRECEDING AND CURRENT ROW)
)
WHERE n_24h >= {_VEL_MIN_N} OR amt_c >= {_VEL_MIN_CENTS}
"""


@query("txn_velocity_flags", oracle=_VELOCITY_SQL, bench=True)
def txn_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-velocity rule: for every event, the trailing-24h event
    count and amount for its user (RANGE frame over epoch seconds), flagging
    rows that exceed either a rate or an amount threshold — the standard
    card-fraud burst signal the reference's static row filters
    (lambda_function_aws.py:41-45) cannot express.

    Scale shape: one hash shuffle on user_id, then a sorted range-frame
    scan per user — no self-join blowup (the naive formulation is an
    O(n·w) inequality self-join; the frame computes the same thing in one
    ordered pass). Amounts sum as exact int64 cents inside the frame, so
    the flag boundary is summation-order-free."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-_VEL_WINDOW_S, 0)
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_24h"),
            F.sum(cents).over(w).alias("amt_c"),
        )
        .filter((F.col("n_24h") >= _VEL_MIN_N) | (F.col("amt_c") >= _VEL_MIN_CENTS))
        .select(
            "event_id",
            "user_id",
            "n_24h",
            (F.col("amt_c").cast("double") / F.lit(100.0)).alias("amt_24h"),
        )
    )


# ---------------------------------------------------------------------------
# Structuring (smurfing): repeated just-below-threshold amounts per user-day
# ---------------------------------------------------------------------------

_STR_LO, _STR_HI = 40.0, 50.0  # "just below" the 50-unit reporting line
_STR_MIN_N = 2

_STRUCTURING_SQL = f"""
SELECT user_id, CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_near_threshold,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS near_total
FROM events
WHERE value >= {_STR_LO} AND value < {_STR_HI}
GROUP BY 1, 2
HAVING count(*) >= {_STR_MIN_N}
"""


@query("amount_structuring_daily", oracle=_STRUCTURING_SQL)
def amount_structuring_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structuring/smurfing detector: users who place >= {n} transactions in
    one day inside the band just below a reporting threshold — splitting one
    large transfer into several sub-threshold ones is the canonical AML
    pattern, and it is invisible to the reference's single-row amount rule
    (``amount > 10000``, lambda_function_aws.py:41).

    Scale shape: the band predicate pushes down to the parquet scan
    (PushedFilters on value), then one partial-aggregated groupBy on
    (user, day); output is bounded by flagged user-days, not events.
    Cent-exact integer sums keep the HAVING boundary deterministic."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        e.filter((F.col("value") >= _STR_LO) & (F.col("value") < _STR_HI))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_near_threshold"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("near_total"),
        )
        .filter(F.col("n_near_threshold") >= _STR_MIN_N)
    )


# ---------------------------------------------------------------------------
# Behavioral diversity: Simpson index of the per-user event-type mix
# ---------------------------------------------------------------------------

_SIMPSON_SQL = """
WITH per_type AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
per_user AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(sum(n * (n - 1)) AS BIGINT) AS same_pairs
  FROM per_type GROUP BY 1)
SELECT user_id, n_events,
       floor((1.0 - CAST(same_pairs AS DOUBLE) / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) - 1.0))) * 1000000000.0 + 0.5) / 1000000000.0
         AS simpson_diversity
FROM per_user
WHERE n_events > 1
"""


@query("user_type_simpson_diversity", oracle=_SIMPSON_SQL)
def user_type_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-fingerprint score: the Simpson diversity index
    1 - sum(n_i*(n_i-1)) / (N*(N-1)) of each user's event-type mix — the
    probability two of the user's events differ in type. Bot-like accounts
    (one repeated action) score near 0, organic ones near the type-count
    ceiling; unlike Shannon entropy this is a pure rational in the counts,
    so it is exactly reproducible with integer sums and one quantized
    division (no libm parity risk).

    Scale shape: two partial-aggregated groupBys (user×type, then user) —
    both map-side combinable; the type fan-in per user is the distinct
    type count, so the intermediate is bounded."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("same_pairs"),
    )
    nd = F.col("n_events").cast("double")
    div = F.lit(1.0) - F.col("same_pairs").cast("double") / (nd * (nd - F.lit(1.0)))
    return per_user.filter(F.col("n_events") > 1).select(
        "user_id",
        "n_events",
        (F.floor(div * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("simpson_diversity"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median/MAD modified z-score (Iglewicz–Hoaglin) per type
# ---------------------------------------------------------------------------

# Work on exact int64 cents; a median of ints interpolates to at worst a
# .5, which both engines represent and combine identically — this sidesteps
# any engine difference in continuous-quantile interpolation on raw doubles.
_MAD_Z = 3.5
_MAD_K = 0.6745

_MAD_SQL = f"""
WITH c AS (
  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events),
med AS (
  SELECT event_type, median(cents) AS med_c FROM c GROUP BY 1),
dev AS (
  SELECT c.event_type, c.cents, m.med_c, abs(2.0 * c.cents - 2.0 * m.med_c) AS dev2
  FROM c JOIN med m ON c.event_type = m.event_type),
mad AS (
  SELECT event_type, median(dev2) AS mad2 FROM dev GROUP BY 1)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor(any_value(d.med_c) / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS med_value,
       floor(any_value(a.mad2) / 200.0 * 1000000.0 + 0.5) / 1000000.0 AS mad_value,
       CAST(sum(CASE WHEN a.mad2 > 0
                      AND abs({_MAD_K} * (2.0 * d.cents - 2.0 * d.med_c) / a.mad2) > {_MAD_Z}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d
JOIN mad a ON d.event_type = a.event_type
GROUP BY 1
"""


@query("value_mad_outlier_flags", oracle=_MAD_SQL)
def value_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier audit: modified z-score
    0.6745*(x - median)/MAD with the Iglewicz–Hoaglin |z| > 3.5 rule —
    unlike mean/stddev z-scores this survives the very outliers it hunts
    (50% breakdown point). Values quantize to int64 cents first, so the
    two median passes interpolate between integers (worst case a .5) and
    every engine combines them bit-identically; deviations double to
    ``|2x - 2·med|`` to stay integral.

    Scale shape: two grouped exact medians over the type key (5 groups
    here; at 100 TB swap ``percentile`` for ``percentile_approx`` — same
    plan shape, bounded sketch memory) plus two broadcast joins of the
    tiny per-type stats back onto the facts."""
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type", F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents")
    )
    med = c.groupBy("event_type").agg(F.expr("percentile(cents, 0.5)").alias("med_c"))
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(F.lit(2.0) * F.col("cents") - F.lit(2.0) * F.col("med_c"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(dev2, 0.5)").alias("mad2"))
    z = F.lit(_MAD_K) * (F.lit(2.0) * F.col("cents") - F.lit(2.0) * F.col("med_c")) / F.col("mad2")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            fxr(F.first("med_c") / F.lit(100.0), 6).alias("med_value"),
            fxr(F.first("mad2") / F.lit(200.0), 6).alias("mad_value"),
            F.sum(
                F.when((F.col("mad2") > 0) & (F.abs(z) > _MAD_Z), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Trained logistic risk model: hard-sigmoid gradient descent, 2 exact steps
# ---------------------------------------------------------------------------

_LG_LR = 0.5
_LG_Q = 1e9
_LG_XSCALE = 100_000.0  # o_totalprice / 1e5 keeps z in the hard-sigmoid ramp


def _lg_step_sql(i: int) -> str:
    """One unrolled gradient step: residuals quantize row-wise to 1e-9
    before the integer sum, so the aggregate is summation-order-free."""
    return f"""
g{i} AS (
  SELECT sum(CAST(floor((y - s) * x1 * {_LG_Q!r} + 0.5) AS BIGINT)) AS g1_q,
         sum(CAST(floor((y - s) * {_LG_Q!r} + 0.5) AS BIGINT)) AS g0_q,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT x1, y,
               least(greatest(0.25 * (cw1 * x1 + cw0) + 0.5, 0.0), 1.0) AS s
        FROM feats, wt{i - 1})),
wt{i} AS (
  SELECT cw1 + {_LG_LR!r} * (CAST(g1_q AS DOUBLE) / {_LG_Q!r}) / CAST(n AS DOUBLE) AS cw1,
         cw0 + {_LG_LR!r} * (CAST(g0_q AS DOUBLE) / {_LG_Q!r}) / CAST(n AS DOUBLE) AS cw0
  FROM g{i}, wt{i - 1})"""


_LOGIT_SQL = f"""
WITH feats AS (
  SELECT o_totalprice / {_LG_XSCALE!r} AS x1,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1.0 ELSE 0.0 END AS y
  FROM orders),
wt0 AS (SELECT 0.0 AS cw1, 0.0 AS cw0),{_lg_step_sql(1)},{_lg_step_sql(2)}
SELECT floor(cw1 * {_LG_Q!r} + 0.5) / {_LG_Q!r} AS w1_fit,
       floor(cw0 * {_LG_Q!r} + 0.5) / {_LG_Q!r} AS w0_fit,
       (SELECT CAST(sum(CASE WHEN least(greatest(0.25 * (w.cw1 * f.x1 + w.cw0) + 0.5, 0.0), 1.0) >= 0.5
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM feats f, wt2 w) AS n_pred_pos,
       (SELECT CAST(count(*) AS BIGINT) FROM feats) AS n_rows
FROM wt2
"""


@query("logit_priority_hardsigmoid", oracle=_LOGIT_SQL)
def logit_priority_hardsigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained logistic risk model: two full-batch gradient-descent steps
    predicting high-priority orders from price, with the hard-sigmoid link
    clamp(0.25z + 0.5, 0, 1) — the piecewise-rational sigmoid used when
    exact reproducibility matters (no exp(), so zero libm parity risk).
    Per-row residuals quantize to 1e-9 and sum as int64 (order-free);
    weights are driver-side scalars between steps, exactly the k·d-floats-
    as-parameters discipline of embedding_kmeans_2iter.

    Scale shape: each step is ONE scan + partial aggregate over the fact
    (no shuffle wider than the 3-number gradient); a 1-row collect carries
    the weights — parameters, not data. More features widen the gradient
    tuple, not the plan."""
    o = _t(spark, sf_dir, "orders")
    feats = o.select(
        (F.col("o_totalprice") / F.lit(_LG_XSCALE)).alias("x1"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    w1, w0 = 0.0, 0.0
    for _ in range(2):
        s = F.least(
            F.greatest(F.lit(0.25) * (F.lit(w1) * F.col("x1") + F.lit(w0)) + F.lit(0.5), F.lit(0.0)),
            F.lit(1.0),
        )
        g = feats.select(
            F.floor((F.col("y") - s) * F.col("x1") * F.lit(_LG_Q) + F.lit(0.5))
            .cast("long")
            .alias("g1"),
            F.floor((F.col("y") - s) * F.lit(_LG_Q) + F.lit(0.5)).cast("long").alias("g0"),
        ).agg(F.sum("g1").alias("g1_q"), F.sum("g0").alias("g0_q"), F.count(F.lit(1)).alias("n"))
        row = g.collect()[0]
        w1 = w1 + _LG_LR * (row["g1_q"] / _LG_Q) / float(row["n"])
        w0 = w0 + _LG_LR * (row["g0_q"] / _LG_Q) / float(row["n"])
    s_final = F.least(
        F.greatest(F.lit(0.25) * (F.lit(w1) * F.col("x1") + F.lit(w0)) + F.lit(0.5), F.lit(0.0)),
        F.lit(1.0),
    )
    return feats.agg(
        F.lit(math_floor_q(w1, _LG_Q)).alias("w1_fit"),
        F.lit(math_floor_q(w0, _LG_Q)).alias("w0_fit"),
        F.sum(F.when(s_final >= 0.5, F.lit(1)).otherwise(F.lit(0))).cast("bigint").alias("n_pred_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


def math_floor_q(x: float, q: float) -> float:
    """floor(x*q + 0.5)/q on the driver — same formula as fxr/the oracles."""
    import math

    return math.floor(x * q + 0.5) / q


# ---------------------------------------------------------------------------
# Threshold-sweep PR metrics: precision/recall/F1 at fixed score cutoffs
# ---------------------------------------------------------------------------

_PR_THRESHOLDS = [2_000, 5_000, 10_000, 20_000, 30_000]  # score cutoffs, cents


def _pr_sweep_sql() -> str:
    vals = ", ".join(f"({t})" for t in _PR_THRESHOLDS)
    return f"""
WITH scored AS (
  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS score_c,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events),
thr(t) AS (VALUES {vals}),
agg AS (
  SELECT t,
         CAST(sum(CASE WHEN score_c >= t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN score_c >= t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN score_c <  t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM scored CROSS JOIN thr GROUP BY t)
SELECT t AS threshold_c, tp, fp, fn,
       floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000.0 + 0.5) / 1000000.0 AS precision_q,
       floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000.0 + 0.5) / 1000000.0 AS recall_q,
       floor(2.0 * CAST(tp AS DOUBLE) / (2.0 * tp + fp + fn) * 1000000.0 + 0.5) / 1000000.0 AS f1_q
FROM agg
WHERE tp + fp > 0 AND tp + fn > 0
"""


@query("threshold_sweep_pr_metrics", oracle=_pr_sweep_sql())
def threshold_sweep_pr_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for a risk rule: precision / recall / F1
    at a sweep of score thresholds (score = amount, label = error events) —
    the readout an analyst uses to pick the alert cutoff. Complements the
    rank-based ROC-AUC (nb_en_score_auc) with the threshold-explicit PR
    view that matters for imbalanced fraud classes.

    Scale shape: the threshold list is a literal inline table CROSS JOINed
    onto one scan (|thresholds| × partial-agg, map-side combined) — one
    pass over the facts regardless of sweep size; counts are exact int64
    so every ratio is reproducible."""
    e = _t(spark, sf_dir, "events")
    scored = e.select(
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("score_c"),
        F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    thr = local_frame(spark, [(t,) for t in _PR_THRESHOLDS], "t bigint")
    agg = (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("score_c") >= F.col("t")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("score_c") >= F.col("t")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when((F.col("score_c") < F.col("t")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp").cast("double"), F.col("fp").cast("double"), F.col("fn").cast("double")
    return (
        agg.filter((F.col("tp") + F.col("fp") > 0) & (F.col("tp") + F.col("fn") > 0))
        .select(
            F.col("t").alias("threshold_c"),
            "tp",
            "fp",
            "fn",
            fxr(tp / (tp + fp), 6).alias("precision_q"),
            fxr(tp / (tp + fn), 6).alias("recall_q"),
            fxr(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6).alias("f1_q"),
        )
    )


# ---------------------------------------------------------------------------
# Interarrival burstiness: the Goh–Barabási B = (σ−μ)/(σ+μ) per user
# ---------------------------------------------------------------------------

_BURST_SQL = """
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events),
stats AS (
  SELECT user_id,
         CAST(count(gap) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS s1,
         CAST(sum(gap * gap) AS BIGINT) AS s2
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1)
SELECT user_id, n_gaps,
       floor(CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_gap_q,
       floor(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS std_gap_q,
       floor((sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                            - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                              * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
              - CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
             / (sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                              - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                                * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
                + CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS burstiness_q
FROM stats
WHERE n_gaps >= 5
"""


@query("user_interarrival_burstiness", oracle=_BURST_SQL)
def user_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival burstiness (Goh & Barabási 2008): B = (σ−μ)/(σ+μ)
    over each user's event gaps — B→−1 for metronome-regular (scripted/
    bot) activity, B→+1 for extreme bursts, ~0 for Poisson-random human
    traffic. The temporal fingerprint beside the type-mix one
    (user_type_simpson_diversity).

    Determinism: gaps are exact integer epoch-second diffs from one
    per-user ordered window (ties broken by event_id); σ comes from the
    (n, Σx, Σx²) sufficient statistics as int64, and the only
    transcendental is sqrt — which IEEE 754 requires to be correctly
    rounded, so unlike ln/exp it is bit-identical across engines.

    Scale shape: one user-keyed sorted window for the lag, one
    map-side-combinable aggregate for three int64 cells per user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    gaps = e.select("user_id", (sec - F.lag(sec).over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps").cast("double")
    var = F.greatest(F.col("s2").cast("double") / F.col("n_gaps").cast("double") - mu * mu, F.lit(0.0))
    sd = F.sqrt(var)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return stats.filter(F.col("n_gaps") >= 5).select(
        "user_id",
        "n_gaps",
        q6(mu).alias("mean_gap_q"),
        q6(sd).alias("std_gap_q"),
        q6((sd - mu) / (sd + mu)).alias("burstiness_q"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day concentration: scripted accounts act on a clock
# ---------------------------------------------------------------------------

_HOUR_SQL = """
WITH h AS (
  SELECT user_id, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
u AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(max(n) AS BIGINT) AS peak_n,
         CAST(min(CASE WHEN n = peak THEN hr END) AS BIGINT) AS peak_hour,
         CAST(count(*) AS BIGINT) AS active_hours
  FROM (SELECT *, max(n) OVER (PARTITION BY user_id) AS peak FROM h)
  GROUP BY 1)
SELECT user_id, n_events, peak_hour, peak_n, active_hours,
       floor(CAST(peak_n AS DOUBLE) / CAST(n_events AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS peak_share_q
FROM u
WHERE n_events >= 10
"""


@query("user_hour_concentration", oracle=_HOUR_SQL)
def user_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day concentration profile: per user, the peak activity
    hour (UTC), how much of their traffic lands in it, and how many
    distinct hours they are active in — cron-driven accounts concentrate
    in one or two hours where organic users spread across a waking day.
    Completes the behavioral-fingerprint trio (type mix, temporal
    burstiness, clock profile).

    Determinism: pure integer counts and one quantized ratio; the peak
    hour ties break to the earliest hour in both engines. Scale shape:
    one (user × 24)-bounded groupBy with map-side combine, then a
    per-user fold over at most 24 rows."""
    e = _t(spark, sf_dir, "events")
    h = e.groupBy("user_id", F.hour("ts").cast("bigint").alias("hr")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wpk = Window.partitionBy("user_id")
    u = (
        h.withColumn("peak", F.max("n").over(wpk))
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("peak_n"),
            F.min(F.when(F.col("n") == F.col("peak"), F.col("hr"))).cast("bigint").alias("peak_hour"),
            F.count(F.lit(1)).cast("bigint").alias("active_hours"),
        )
    )
    share = F.col("peak_n").cast("double") / F.col("n_events").cast("double")
    return u.filter(F.col("n_events") >= 10).select(
        "user_id",
        "n_events",
        "peak_hour",
        "peak_n",
        "active_hours",
        (F.floor(share * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("peak_share_q"),
    )


# ---------------------------------------------------------------------------
# Scored + calibrated fraud readout: hard-sigmoid logit wrapped in
# split-conformal intervals (composition of the two round-5 model families)
# ---------------------------------------------------------------------------

_CFR_BUCKET_SQL = (
    "CAST(('0x' || substring(md5('cfr1|' || CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 10"
)

_CONFORMAL_RISK_SQL = f"""
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         o_totalprice / {_LG_XSCALE!r} AS x1,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1.0 ELSE 0.0 END AS y,
         {_CFR_BUCKET_SQL} AS bucket
  FROM orders),
feats AS (SELECT x1, y FROM b WHERE bucket <= 5),
wt0 AS (SELECT 0.0 AS cw1, 0.0 AS cw0),{_lg_step_sql(1)},{_lg_step_sql(2)},
resid AS (
  SELECT c.o_orderkey,
         CAST(floor(abs(c.y - least(greatest(0.25 * (w.cw1 * c.x1 + w.cw0) + 0.5, 0.0), 1.0))
                    * 1000000.0 + 0.5) AS BIGINT) AS r_q
  FROM (SELECT * FROM b WHERE bucket IN (6, 7)) c, wt2 w),
ranked AS (
  SELECT r_q, CAST(row_number() OVER (ORDER BY r_q ASC, o_orderkey ASC) AS BIGINT) AS rn
  FROM resid),
ncal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM resid),
qhat AS (SELECT r.r_q AS q FROM ranked r, ncal WHERE r.rn = ((ncal.n + 1) * 9 + 9) // 10)
SELECT t.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN CAST(floor(abs(t.y - least(greatest(0.25 * (w.cw1 * t.x1 + w.cw0) + 0.5, 0.0), 1.0))
                                    * 1000000.0 + 0.5) AS BIGINT) <= q.q
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       floor(CAST(sum(CASE WHEN CAST(floor(abs(t.y - least(greatest(0.25 * (w.cw1 * t.x1 + w.cw0) + 0.5, 0.0), 1.0))
                                          * 1000000.0 + 0.5) AS BIGINT) <= q.q
                           THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS coverage_q,
       CAST(any_value(q.q) AS BIGINT) AS qhat_units
FROM (SELECT * FROM b WHERE bucket >= 8) t, wt2 w
CROSS JOIN qhat q
GROUP BY 1
ORDER BY 1
"""


@query("conformal_risk_scores", oracle=_CONFORMAL_RISK_SQL)
def conformal_risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realistic 'scored + calibrated' fraud readout: the trained
    hard-sigmoid logit (logit_priority_hardsigmoid's exact two-step fit,
    trained on md5 buckets 0-5 of orders) wrapped in split-conformal
    intervals — the ceil((n+1)(1-alpha))-th smallest calibration residual
    (buckets 6-7) becomes the model's distribution-free error budget, and
    the held-out test split (buckets 8-9) reports per-priority coverage.
    alpha=0.1 targets 90% marginal coverage; per-band coverage shows where
    the single global interval under/over-covers (the standard conditional
    -coverage diagnostic).

    Composition: model family = risk_queries hard-sigmoid GD (exact int64
    gradients, weights as driver-side scalars); calibration = ml_queries
    split-conformal with the HISTOGRAM-RANK k-th order statistic
    (_kth_smallest_histogram): a parameter-sized bucket histogram locates
    rank k's bucket driver-side, then TakeOrderedAndProject inside that
    single bucket yields the element. No unpartitioned window, no
    fact-scaled single-partition sort.

    Scale shape: 2 gradient scans (3-number aggregates) + 1 histogram
    aggregate + 1 in-bucket top-k + 2 broadcast-scalar joins over the test
    scan. Everything fact-sized is map-side combined."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cfr1|"), F.col("o_orderkey").cast("string")).cast("binary")),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    b = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") / F.lit(_LG_XSCALE)).alias("x1"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        bucket.alias("bucket"),
    ).persist()
    train = b.filter(F.col("bucket") <= 5)
    w1, w0 = 0.0, 0.0
    for _ in range(2):
        s = F.least(
            F.greatest(F.lit(0.25) * (F.lit(w1) * F.col("x1") + F.lit(w0)) + F.lit(0.5), F.lit(0.0)),
            F.lit(1.0),
        )
        g = train.select(
            F.floor((F.col("y") - s) * F.col("x1") * F.lit(_LG_Q) + F.lit(0.5))
            .cast("long")
            .alias("g1"),
            F.floor((F.col("y") - s) * F.lit(_LG_Q) + F.lit(0.5)).cast("long").alias("g0"),
        ).agg(F.sum("g1").alias("g1_q"), F.sum("g0").alias("g0_q"), F.count(F.lit(1)).alias("n"))
        row = g.collect()[0]
        w1 = w1 + _LG_LR * (row["g1_q"] / _LG_Q) / float(row["n"])
        w0 = w0 + _LG_LR * (row["g0_q"] / _LG_Q) / float(row["n"])
    s_fit = F.least(
        F.greatest(F.lit(0.25) * (F.lit(w1) * F.col("x1") + F.lit(w0)) + F.lit(0.5), F.lit(0.0)),
        F.lit(1.0),
    )
    r_q = F.floor(F.abs(F.col("y") - s_fit) * F.lit(1e6) + F.lit(0.5)).cast("long")
    resid = b.filter(F.col("bucket").isin(6, 7)).select(
        "o_orderkey", r_q.alias("r_q")
    )
    # histogram-rank selection of the ceil((n+1)*0.9)-th smallest residual
    # (shared helper — see its docstring for the scale rationale)
    from fraud_detection_etl_project_spark.plans.ml_queries import (
        _kth_smallest_histogram,
    )

    # residuals here are |y - s| with y in {0,1} and s clamped to [0,1]:
    # a BOUNDED [0, 1e6] micro-unit lattice. The helper derives its cell
    # width from the observed min/max (round 7) — no per-caller width
    # knob to misconfigure.
    qhat = _kth_smallest_histogram(resid, "r_q", "o_orderkey")
    covered = F.when(r_q <= F.col("q"), 1).otherwise(0)
    return (
        b.filter(F.col("bucket") >= 8)
        .crossJoin(F.broadcast(qhat))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(covered).cast("bigint").alias("n_covered"),
            (
                F.floor(
                    F.sum(covered).cast("double") / F.count(F.lit(1)).cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("coverage_q"),
            F.first("q").cast("bigint").alias("qhat_units"),
        )
        .orderBy("o_orderpriority")
    )
