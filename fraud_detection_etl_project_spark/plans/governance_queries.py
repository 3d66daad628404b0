"""Data-governance and statistical-inference shapes, round 3 (cont.):
privacy auditing (k-anonymity / l-diversity over quasi-identifier
groups), differential-privacy preprocessing (per-user contribution
bounding + bounded additive noise with non-negativity post-processing),
survival analysis (Kaplan-Meier retention over censored user lifetimes),
and resampling inference (deterministic Poisson-bootstrap confidence
interval for a mean, computed in ONE scan with zero row expansion).

Reference parity: savitaj-Fraud-detection-ETL has no governance or
inference surface (lambda_function_aws.py:1-113 is a two-filter pandas
pipeline); these are north-star gap families from SURVEY.md §2 — the
privacy/bounding steps are what a large-scale training-data pipeline
runs before releasing aggregate statistics, and the survival/bootstrap
shapes are the standard readouts over user-event telemetry.

Every query keeps the repo contract: JVM-side plans (no Python anywhere),
portable md5-derived determinism for anything pseudo-random, and DuckDB
value oracles reproducing the same integers / quantized doubles
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _md5_mod(salt: str, key_col, mod: int):
    """Portable deterministic bucket: first 24 bits of md5(salt|key) mod
    ``mod``. Same idiom as the split/stratified-sampling queries
    (curation_queries.py) — reproducible across engines, runs, and
    partitionings because it depends only on row values."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key_col.cast("string")).cast("binary")), 1, 6),
            16,
            10,
        ).cast("bigint")
        % F.lit(mod)
    )


def _md5_mod_sql(salt: str, key_expr: str, mod: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('{salt}' || CAST({key_expr} AS VARCHAR)), 1, 6)) AS BIGINT) % {mod}"
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit over quasi-identifier groups
# ---------------------------------------------------------------------------

_KA_K = 5  # minimum group size for k-anonymity
_KA_L = 3  # minimum distinct sensitive values for l-diversity

_K_ANON_ORACLE = f"""
WITH qi AS (
  SELECT c_custkey, c_nationkey,
         c_mktsegment AS segment,
         CAST(CASE WHEN c_acctbal < -1000.0 THEN 0
                   WHEN c_acctbal >= 10000.0 THEN 12
                   ELSE CAST(floor((c_acctbal - (-1000.0)) / 1000.0) AS BIGINT) + 1
              END AS BIGINT) AS bal_band
  FROM customer),
grp AS (
  SELECT c_nationkey, segment, bal_band, CAST(count(*) AS BIGINT) AS k_size
  FROM qi GROUP BY 1, 2, 3),
sens AS (
  SELECT q.c_nationkey, q.segment, q.bal_band,
         CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
  FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey
  GROUP BY 1, 2, 3)
SELECT g.c_nationkey AS nationkey, g.segment, g.bal_band, g.k_size,
       COALESCE(s.l_distinct, CAST(0 AS BIGINT)) AS l_distinct,
       g.k_size >= {_KA_K} AS k_anonymous,
       COALESCE(s.l_distinct, CAST(0 AS BIGINT)) >= {_KA_L} AS l_diverse
FROM grp g LEFT JOIN sens s
  ON g.c_nationkey = s.c_nationkey AND g.segment = s.segment AND g.bal_band = s.bal_band
"""


@query("k_anonymity_audit", oracle=_K_ANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before releasing a quasi-identified extract: for each
    quasi-identifier group (nation, market segment, account-balance band)
    report its k-anonymity group size and the l-diversity (distinct
    sensitive values — the customer's order priorities) and flag groups
    below k=5/l=3. The release gate a training-data pipeline runs
    before shipping user-keyed aggregates.

    Scale: two grouped aggregations over narrow integer/dict-encoded
    keys (map-side partial combine on both), joined group-to-group — the
    joined frames are |QI-groups|-sized, thousands at most, never
    row-level. The orders join ships only (custkey, priority).
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    qi = c.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_mktsegment").alias("segment"),
        F.width_bucket(F.col("c_acctbal"), F.lit(-1000.0), F.lit(10000.0), F.lit(11))
        .cast("bigint")
        .alias("bal_band"),
    )
    grp = qi.groupBy("c_nationkey", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_size")
    )
    sens = (
        qi.join(o, qi.c_custkey == o.o_custkey)
        .groupBy("c_nationkey", "segment", "bal_band")
        .agg(F.count_distinct("o_orderpriority").cast("bigint").alias("l_distinct"))
    )
    return (
        grp.join(sens, ["c_nationkey", "segment", "bal_band"], "left")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "segment",
            "bal_band",
            "k_size",
            F.coalesce(F.col("l_distinct"), F.lit(0).cast("bigint")).alias("l_distinct"),
            (F.col("k_size") >= _KA_K).alias("k_anonymous"),
            (F.coalesce(F.col("l_distinct"), F.lit(0).cast("bigint")) >= _KA_L).alias("l_diverse"),
        )
    )


# ---------------------------------------------------------------------------
# Differential-privacy preprocessing: contribution bounding + noised counts
# ---------------------------------------------------------------------------

_DP_CAP = 10  # max events one user may contribute per event type
_DP_NOISE_MOD = 201  # noise uniform in [-100, 100]

_DP_ORACLE = f"""
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(least(count(*), {_DP_CAP}) AS BIGINT) AS capped
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, CAST(sum(capped) AS BIGINT) AS bounded_count
  FROM per_user GROUP BY 1)
SELECT event_type, bounded_count,
       {_md5_mod_sql("dp1|", "event_type", _DP_NOISE_MOD)} - 100 AS noise,
       greatest(CAST(0 AS BIGINT),
                bounded_count + {_md5_mod_sql("dp1|", "event_type", _DP_NOISE_MOD)} - 100) AS noised_count
FROM agg
"""


@query("dp_noised_type_counts", oracle=_DP_ORACLE)
def dp_noised_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-style count release: bound each user's
    contribution per event type at C=10 (the sensitivity clamp every
    user-level DP mechanism needs), add bounded additive noise, and
    post-process with a non-negativity clamp.

    The noise here is a DETERMINISTIC md5-derived stand-in (uniform in
    [-100, 100]) so the value oracle can check the full mechanism
    bit-for-bit; a production release would swap in a calibrated Laplace
    sampler at the one clearly-marked expression below — the
    contribution-bounding and post-processing stages, which are where the
    distributed work is, are the real mechanism.

    Scale: the (type, user) pre-aggregation is the whole cost — partial
    map-side combine, then a per-type rollup over an already-tiny frame.
    Nothing row-level crosses the second shuffle.
    """
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.least(F.count(F.lit(1)), F.lit(_DP_CAP)).cast("bigint").alias("capped")
    )
    agg = per_user.groupBy("event_type").agg(F.sum("capped").cast("bigint").alias("bounded_count"))
    # swap this expression for a Laplace(1/eps) sampler in production:
    noise = _md5_mod("dp1|", F.col("event_type"), _DP_NOISE_MOD) - F.lit(100)
    return agg.select(
        "event_type",
        "bounded_count",
        noise.alias("noise"),
        F.greatest(F.lit(0).cast("bigint"), F.col("bounded_count") + noise).alias("noised_count"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve over censored user lifetimes
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 7  # active within the last week of data => right-censored
_KM_SCALE = 1_000_000

_KM_ORACLE = f"""
WITH bounds AS (SELECT max(ts) AS max_ts FROM events),
lifetimes AS (
  SELECT user_id, date_diff('day', min(ts), max(ts)) AS dur,
         CASE WHEN max(ts) < (SELECT max_ts FROM bounds) - INTERVAL {_KM_CENSOR_DAYS} DAY
              THEN 1 ELSE 0 END AS churned
  FROM events GROUP BY user_id),
days AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS m, CAST(sum(churned) AS BIGINT) AS d
  FROM lifetimes GROUP BY dur),
risk AS (
  SELECT dur, m, d,
         CAST(sum(m) OVER (ORDER BY dur DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM days),
terms AS (
  SELECT dur, n_risk, d,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(floor({_KM_SCALE}.0 * ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) + 0.5) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS qterm
  FROM risk WHERE d < n_risk)
SELECT dur AS dur_days, n_risk, d AS n_churned,
       CAST(sum(qterm) OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS qlog_survival
FROM terms
"""


@query("kaplan_meier_retention", oracle=_KM_ORACLE)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user retention: lifetime = days
    between a user's first and last event; users still active within
    7 days of the dataset's end are right-censored (they contribute to
    risk sets but not to churn events). Emits, per distinct lifetime, the
    risk-set size, churn count, and the running log-survival
    sum(ln(1 - d_i/n_i)) quantized to 1e-6 ln-units — the log-domain form
    keeps the cumulative product as an EXACT integer sum (same ln-quant
    idiom as the LM-perplexity oracles). Rows stop at the last positive
    survival point, as KM plots conventionally do.

    Scale: one per-user aggregation over events (map-side combine on
    user_id), then everything downstream operates on the distinct-
    lifetime frame — bounded by the calendar span in days, a few hundred
    rows no matter how many users — so the unpartitioned windows are
    deliberate and safe. The dataset-max timestamp joins in as a 1-row
    broadcast, never a collect.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    bounds = e.agg(F.max("ts").alias("max_ts"))
    life = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .join(F.broadcast(bounds))
        .select(
            F.datediff(F.col("last_ts"), F.col("first_ts")).alias("dur"),
            F.when(
                F.col("last_ts") < F.col("max_ts") - F.expr(f"INTERVAL {_KM_CENSOR_DAYS} DAYS"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("churned"),
        )
    )
    days = life.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"), F.sum("churned").cast("bigint").alias("d")
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(Window.unboundedPreceding, 0)
    risk = days.withColumn("n_risk", F.sum("m").over(w_desc).cast("bigint")).filter(
        F.col("d") < F.col("n_risk")
    )
    qterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.lit(float(_KM_SCALE))
            * F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk").cast("double"))
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        F.col("dur").alias("dur_days"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.sum(qterm).over(w_asc).cast("bigint").alias("qlog_survival"),
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap CI for the mean purchase value
# ---------------------------------------------------------------------------

_BOOT_B = 32  # bootstrap replicates
_BOOT_MEAN_SCALE = 10_000


def _boot_w_sql(b: int) -> str:
    """Truncated-Poisson(1) multiplicity for replicate ``b`` from the
    portable md5 bucket: P(0)=.368, P(1)=.368, P(2)=.184, P(3)=.080."""
    h = _md5_mod_sql(f"boot1|{b}|", "event_id", 1000)
    return (
        f"CASE WHEN {h} < 368 THEN 0 WHEN {h} < 736 THEN 1 "
        f"WHEN {h} < 920 THEN 2 ELSE 3 END"
    )


def _bootstrap_oracle() -> str:
    reps = ",\n    ".join(
        f"CAST(sum({_boot_w_sql(b)} * qv) AS BIGINT) AS s{b}, "
        f"CAST(sum({_boot_w_sql(b)}) AS BIGINT) AS c{b}"
        for b in range(_BOOT_B)
    )
    rows = ",".join(f"(CAST({b} AS BIGINT), s{b}, c{b})" for b in range(_BOOT_B))
    return f"""
WITH src AS (
  SELECT event_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS qv
  FROM events WHERE event_type = 'purchase'),
onerow AS (SELECT
    {reps}
  FROM src),
reps AS (
  SELECT r.b, CAST(floor({_BOOT_MEAN_SCALE}.0 * (CAST(r.s AS DOUBLE) / CAST(r.c AS DOUBLE)) + 0.5) AS BIGINT) AS qmean
  FROM onerow, LATERAL (SELECT * FROM (VALUES {rows}) AS v(b, s, c)) r),
ranked AS (
  SELECT qmean, row_number() OVER (ORDER BY qmean) AS rn FROM reps)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
       CAST(min(CASE WHEN rn = 2 THEN qmean END) AS BIGINT) AS q_lo,
       CAST(min(CASE WHEN rn = {_BOOT_B - 1} THEN qmean END) AS BIGINT) AS q_hi,
       CAST(sum(qmean) AS BIGINT) AS q_mean_sum
FROM ranked
"""


@query("bootstrap_value_ci", oracle=_bootstrap_oracle())
def bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 93.75% CI for the mean purchase value: each of
    B=32 replicates resamples every row with an independent
    truncated-Poisson(1) multiplicity derived from md5(replicate|row) —
    the classic one-pass bootstrap for data too large to index-resample
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams").
    The CI endpoints are the 2nd / 31st order statistics of the
    replicate means, quantized to 1e-4.

    Scale: ZERO row expansion — all 32 replicates are computed as 2·B
    conditional-sum aggregates in ONE scan (a single partial-aggregated
    reduce of 64 numbers per partition), not an explode-by-B. The 1-row
    result is then unpivoted driver-side-free via stack() into the B-row
    frame the order statistics need.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    src = e.select(
        "event_id", F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("qv")
    )

    def w(b: int):
        h = _md5_mod(f"boot1|{b}|", F.col("event_id"), 1000)
        return (
            F.when(h < 368, F.lit(0))
            .when(h < 736, F.lit(1))
            .when(h < 920, F.lit(2))
            .otherwise(F.lit(3))
        )

    aggs = []
    for b in range(_BOOT_B):
        aggs.append(F.sum(w(b) * F.col("qv")).cast("bigint").alias(f"s{b}"))
        aggs.append(F.sum(w(b)).cast("bigint").alias(f"c{b}"))
    onerow = src.agg(*aggs)
    stack_args = ", ".join(f"CAST({b} AS BIGINT), s{b}, c{b}" for b in range(_BOOT_B))
    reps = onerow.select(
        F.expr(f"stack({_BOOT_B}, {stack_args}) AS (b, s, c)")
    ).select(
        "b",
        F.floor(
            F.lit(float(_BOOT_MEAN_SCALE)) * (F.col("s").cast("double") / F.col("c").cast("double"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("qmean"),
    )
    ranked = reps.withColumn("rn", F.row_number().over(Window.orderBy("qmean")))
    return ranked.agg(
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        F.min(F.when(F.col("rn") == 2, F.col("qmean"))).cast("bigint").alias("q_lo"),
        F.min(F.when(F.col("rn") == _BOOT_B - 1, F.col("qmean"))).cast("bigint").alias("q_hi"),
        F.sum("qmean").cast("bigint").alias("q_mean_sum"),
    )


# ---------------------------------------------------------------------------
# SPRT sequential A/B test over daily analysis points
# ---------------------------------------------------------------------------

# Wald SPRT for a conversion rate, H0: p=0.20 vs H1: p=0.25, error bounds
# alpha=beta=0.05 -> thresholds ln(19)/ln(1/19). The per-observation
# log-likelihood-ratio increments and the thresholds are quantized to 1e-6
# ln-units IN PYTHON and embedded as integer literals, so the running LLR is
# an exact integer sum on both engines (no transcendental evaluated in SQL).
_SPRT_QA = 223144  # floor(1e6*ln(0.25/0.20)+0.5), per success
_SPRT_QB = -64539  # floor(1e6*ln(0.75/0.80)+0.5), per failure
_SPRT_QU = 2944439  # floor(1e6*ln(19)+0.5), accept H1 at/above
_SPRT_QL = -2944439  # accept H0 at/below

_SPRT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS variant, CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS f
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT variant, day,
         CAST(sum(s * {_SPRT_QA} + f * {_SPRT_QB})
              OVER (PARTITION BY variant ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS qllr,
         row_number() OVER (PARTITION BY variant ORDER BY day) AS dn
  FROM daily),
crossing AS (
  SELECT variant, min(dn) AS dec_dn
  FROM cum WHERE qllr >= {_SPRT_QU} OR qllr <= {_SPRT_QL} GROUP BY 1),
finals AS (
  SELECT variant, max(dn) AS last_dn FROM cum GROUP BY 1)
SELECT f.variant,
       CASE WHEN c.dec_dn IS NULL THEN 'continue'
            WHEN d.qllr >= {_SPRT_QU} THEN 'accept_h1' ELSE 'accept_h0' END AS decision,
       CAST(COALESCE(c.dec_dn, f.last_dn) AS BIGINT) AS n_days_observed,
       CAST(COALESCE(d.qllr, e.qllr) AS BIGINT) AS q_llr
FROM finals f
LEFT JOIN crossing c ON c.variant = f.variant
LEFT JOIN cum d ON d.variant = f.variant AND d.dn = c.dec_dn
LEFT JOIN cum e ON e.variant = f.variant AND e.dn = f.last_dn
"""


@query("sprt_ab_daily", oracle=_SPRT_ORACLE)
def sprt_ab_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT sequential A/B readout at daily analysis points: per
    variant (user_id parity), accumulate the conversion-rate
    log-likelihood ratio (H0 p=0.20 vs H1 p=0.25) day by day and stop at
    the first ln(19) boundary crossing — the early-stopping discipline
    that replaces fixed-horizon peeking. Emits per variant the decision,
    the day count to decision, and the LLR at that point.

    Scale: the event stream collapses to per-(variant, day) success /
    failure counts in ONE map-side-combined aggregation — the sequential
    scan then runs over the tiny day-level frame (the partitioned window
    is calendar-bounded), never over raw events. Evaluating the test at
    day boundaries is what makes a sequential test distributable; the
    within-day ordering a per-event SPRT needs does not exist at 100 TB
    ingestion anyway.
    """
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("variant"),
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("bigint").alias("s"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1)).cast("bigint").alias("f"),
    )
    w = Window.partitionBy("variant").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("variant").orderBy("day")
    cum = daily.select(
        "variant",
        F.sum(F.col("s") * _SPRT_QA + F.col("f") * _SPRT_QB).over(w).cast("bigint").alias("qllr"),
        F.row_number().over(wn).alias("dn"),
    )
    # One grouped pass over the day-level frame replaces the oracle's
    # crossing/finals self-joins: min/max of (dn, qllr) structs carry the
    # LLR of the first crossing day and of the last day. A null variant
    # matches no row in the oracle's equi-joins, so it reads 'continue'
    # with a null LLR here too.
    crossed = (F.col("qllr") >= _SPRT_QU) | (F.col("qllr") <= _SPRT_QL)
    dn_q = F.struct("dn", "qllr")
    out = cum.groupBy("variant").agg(
        F.min(F.when(crossed & F.col("variant").isNotNull(), dn_q)).alias("dec"),
        F.max(dn_q).alias("last"),
    )
    return out.select(
        "variant",
        F.when(F.col("dec").isNull(), F.lit("continue"))
        .when(F.col("dec.qllr") >= _SPRT_QU, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.coalesce(F.col("dec.dn"), F.col("last.dn")).cast("bigint").alias("n_days_observed"),
        F.when(F.col("variant").isNotNull(), F.coalesce(F.col("dec.qllr"), F.col("last.qllr")))
        .cast("bigint")
        .alias("q_llr"),
    )


# ---------------------------------------------------------------------------
# Orderless dataset content fingerprints (data-versioning primitive)
# ---------------------------------------------------------------------------

_FP_HEX_LEN = 15  # 60-bit row hashes stay comfortably in int64


def _fp_row_sql(table: str, cols_sql: str) -> str:
    return f"""
SELECT '{table}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(CAST(('0x' || substring(md5({cols_sql}), 1, {_FP_HEX_LEN})) AS BIGINT)) AS BIGINT) AS xor_fp
FROM {table}"""


_FP_CUSTOMER_COLS = (
    "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || CAST(c_nationkey AS VARCHAR)"
    " || '|' || c_mktsegment || '|' || CAST(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS VARCHAR)"
)
_FP_ORDERS_COLS = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus"
    " || '|' || o_orderpriority || '|' || CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)"
    " || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"
)
_FP_NATION_COLS = "CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|' || CAST(n_regionkey AS VARCHAR)"

_FP_ORACLE = (
    _fp_row_sql("customer", _FP_CUSTOMER_COLS)
    + "\nUNION ALL"
    + _fp_row_sql("orders", _FP_ORDERS_COLS)
    + "\nUNION ALL"
    + _fp_row_sql("nation", _FP_NATION_COLS)
)


@query("table_content_fingerprints", oracle=_FP_ORACLE)
def table_content_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orderless content fingerprint per table: XOR of 60-bit md5 row
    hashes plus the row count — the dataset-versioning primitive that
    lets a pipeline prove two snapshots identical (or detect silent
    mutation) WITHOUT sorting or moving rows: XOR is commutative,
    associative, and self-inverse, so the fingerprint is independent of
    partitioning and row order, mergeable across shards, and
    incrementally maintainable (XOR the hashes of inserted and deleted
    rows onto the old fingerprint). Doubles enter the hash as exact
    cents and dates as ISO strings so both engines hash identical bytes.

    Scale: one combine-aggregated scan per table (bit_xor has a partial
    aggregate); no shuffle wider than one row per partition.
    """
    frames = []
    specs = {
        "customer": (
            "customer",
            "CAST(c_custkey AS STRING) || '|' || c_name || '|' || CAST(c_nationkey AS STRING)"
            " || '|' || c_mktsegment || '|' || CAST(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS STRING)",
        ),
        "orders": (
            "orders",
            "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING) || '|' || o_orderstatus"
            " || '|' || o_orderpriority || '|' || CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS STRING)"
            " || '|' || CAST(CAST(o_orderdate AS DATE) AS STRING)",
        ),
        "nation": (
            "nation",
            "CAST(n_nationkey AS STRING) || '|' || n_name || '|' || CAST(n_regionkey AS STRING)",
        ),
    }
    for name, (tbl, cols) in specs.items():
        t = _t(spark, sf_dir, tbl)
        row_fp = F.expr(
            f"CAST(conv(substring(md5(CAST({cols} AS BINARY)), 1, {_FP_HEX_LEN}), 16, 10) AS BIGINT)"
        )
        frames.append(
            t.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.bit_xor(row_fp).cast("bigint").alias("xor_fp"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Distribution-drift monitors: PSI and exact two-sample KS
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-16"  # window A = first half of the fixture month
_PSI_BINS = 10
_PSI_HI = 400.0  # fixture values sit in ~[0, 330]
_PSI_SCALE = 1_000_000_000

_PSI_BUCKET_SQL = (
    f"CAST(CASE WHEN value < 0.0 THEN 0 WHEN value >= {_PSI_HI} THEN {_PSI_BINS + 1} "
    f"ELSE CAST(floor(value / {_PSI_HI / _PSI_BINS}) AS BIGINT) + 1 END AS BIGINT)"
)

_PSI_ORACLE = f"""
WITH b AS (
  SELECT event_type, {_PSI_BUCKET_SQL} AS bucket,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT} 00:00:00' THEN 1 ELSE 0 END AS in_a
  FROM events),
g AS (
  SELECT event_type, bucket,
         CAST(sum(in_a) + 1 AS BIGINT) AS na, CAST(sum(1 - in_a) + 1 AS BIGINT) AS nb
  FROM b GROUP BY 1, 2),
t AS (SELECT event_type, CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
      FROM g GROUP BY 1)
SELECT g.event_type, g.bucket, g.na - 1 AS n_a, g.nb - 1 AS n_b,
       CAST(floor({_PSI_SCALE}.0 * (((CAST(g.na AS DOUBLE) / CAST(t.ta AS DOUBLE)) - (CAST(g.nb AS DOUBLE) / CAST(t.tb AS DOUBLE)))
                  * ln((CAST(g.na AS DOUBLE) / CAST(t.ta AS DOUBLE)) / (CAST(g.nb AS DOUBLE) / CAST(t.tb AS DOUBLE)))) + 0.5) AS BIGINT) AS q_psi_term
FROM g JOIN t ON t.event_type = g.event_type
"""


@query("value_drift_psi", oracle=_PSI_ORACLE)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: per event type, compare
    the value distribution of the first half of the stream against the
    second over fixed equal-width bins (fixed breakpoints — not
    percentile bins — so the monitor itself is deterministic and
    mergeable), with +1 Laplace smoothing so empty bins stay finite.
    Emits each bin's (p - q)·ln(p/q) contribution quantized at 1e-9; the
    per-type PSI is their sum, with the usual 0.1 / 0.25 watch/alarm
    thresholds downstream.

    Scale: one conditional-sum aggregation on (type, bucket) — map-side
    combined, parameter-sized output; totals join group-to-group."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr(_PSI_BUCKET_SQL).alias("bucket"),
        F.when(F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), 1).otherwise(0).alias("in_a"),
    )
    g = b.groupBy("event_type", "bucket").agg(
        (F.sum("in_a") + 1).cast("bigint").alias("na"),
        (F.sum(F.lit(1) - F.col("in_a")) + 1).cast("bigint").alias("nb"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("na").cast("bigint").alias("ta"), F.sum("nb").cast("bigint").alias("tb")
    )
    p = F.col("na").cast("double") / F.col("ta").cast("double")
    q = F.col("nb").cast("double") / F.col("tb").cast("double")
    return g.join(t, "event_type").select(
        "event_type",
        "bucket",
        (F.col("na") - 1).alias("n_a"),
        (F.col("nb") - 1).alias("n_b"),
        F.floor(F.lit(float(_PSI_SCALE)) * ((p - q) * F.log(p / q)) + F.lit(0.5))
        .cast("bigint")
        .alias("q_psi_term"),
    )


_KS_SCALE = 1_000_000_000

_KS_ORACLE = f"""
WITH v AS (
  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT} 00:00:00' THEN 1 ELSE 0 END AS in_a
  FROM events WHERE event_type = 'purchase'),
g AS (SELECT cents, CAST(sum(in_a) AS BIGINT) AS ca, CAST(sum(1 - in_a) AS BIGINT) AS cb
      FROM v GROUP BY 1),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cb) AS BIGINT) AS n2 FROM g),
c AS (SELECT cents,
             CAST(sum(ca) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
             CAST(sum(cb) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
      FROM g)
SELECT t.n1, t.n2,
       CAST(max(abs(t.n2 * c.f1 - t.n1 * c.f2)) AS BIGINT) AS d_num,
       CAST(floor({_KS_SCALE}.0 * (CAST(max(abs(t.n2 * c.f1 - t.n1 * c.f2)) AS DOUBLE)
                  / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))) + 0.5) AS BIGINT) AS q_ks
FROM c, tot t GROUP BY t.n1, t.n2
"""


@query("value_drift_ks", oracle=_KS_ORACLE)
def value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between first-half
    and second-half purchase values: sup |F1 - F2| computed as the exact
    integer max of |n2·cum1 - n1·cum2| over the merged support, divided
    once at the end — no sampling, no float ECDFs, so the statistic is an
    exact rational quantized at 1e-9. The distribution-free drift test to
    run beside PSI's binned heuristic.

    Scale: values collapse to per-cent counts first (combine-aggregated;
    support bounded by the value DOMAIN, not row count), so the one
    ordered cumulative window runs over the bounded support frame — the
    same domain-bounded-window argument as the KM/SPRT day frames."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = e.select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), 1).otherwise(0).alias("in_a"),
    )
    g = v.groupBy("cents").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = g.agg(F.sum("ca").cast("bigint").alias("n1"), F.sum("cb").cast("bigint").alias("n2"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("ca").over(w).cast("bigint").alias("f1"),
        F.sum("cb").over(w).cast("bigint").alias("f2"),
    )
    j = c.crossJoin(F.broadcast(tot))
    dn = F.max(F.abs(F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2"))).cast("bigint")
    return j.groupBy("n1", "n2").agg(
        dn.alias("d_num"),
        F.floor(
            F.lit(float(_KS_SCALE))
            * (
                F.max(F.abs(F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2"))).cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_ks"),
    )


# ---------------------------------------------------------------------------
# Snapshot row diff (added / removed / changed between two table versions)
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents, o_orderstatus AS st
  FROM orders WHERE o_orderkey % 97 <> 0),
v2 AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
           + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END AS price_cents,
         o_orderstatus AS st
  FROM orders WHERE o_orderkey % 101 <> 0)
SELECT CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            WHEN a.price_cents <> b.price_cents OR a.st <> b.st THEN 'changed'
            ELSE 'unchanged' END AS diff_kind,
       CAST(count(*) AS BIGINT) AS n_rows
FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
GROUP BY 1
"""


@query("snapshot_row_diff", oracle=_DIFF_ORACLE)
def snapshot_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two table snapshots (the audit behind
    every 'what changed since yesterday's load' question): a full outer
    join on the primary key classifies every row as added / removed /
    changed / unchanged. The two versions are synthesized deterministic
    views of the orders fixture (v1 drops keys % 97, v2 drops keys % 101
    and perturbs prices on keys % 89) so the diff itself is
    value-checkable; swap in real snapshot paths in production.

    Scale: ONE full-outer hash join on the key plus a 4-group count —
    no sort, no row reconstruction; for repeated diffs at 100 TB, the
    XOR fingerprint (table_content_fingerprints) answers 'identical?'
    in one scan and this query runs only when it says no."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint").alias("price_cents"),
        F.col("o_orderstatus").alias("st"),
    )
    v1 = o.filter(F.col("k") % 97 != 0)
    v2 = o.filter(F.col("k") % 101 != 0).select(
        "k",
        (
            F.col("price_cents")
            + F.when(F.col("k") % 89 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("price_cents"),
        "st",
    )
    a = v1.alias("a")
    b = v2.alias("b")
    j = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
    kind = (
        F.when(F.col("a.k").isNull(), F.lit("added"))
        .when(F.col("b.k").isNull(), F.lit("removed"))
        .when(
            (F.col("a.price_cents") != F.col("b.price_cents"))
            | (F.col("a.st") != F.col("b.st")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.groupBy(kind.alias("diff_kind")).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
