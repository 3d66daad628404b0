"""Relational query inventory (SURVEY.md §2.2-§2.8 coverage).

Every query here is declarative DataFrame API — Catalyst chooses the
physical plan (broadcast vs shuffle joins, partial aggregation, top-k via
TakeOrderedAndProject). Scale annotations are in the docstrings.

Oracle-parity discipline (applies to the whole file):
- every computed column is aliased identically on both sides;
- double aggregates are rounded (2-4 places) on both sides so ULP-level
  summation-order differences can't flip the driver's value hash;
- counts are BIGINT on both sides (DuckDB ``sum(int)`` is cast down);
- extracted date parts are cast to INT on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.operators.relational import (
    asof_join,
    range_join,
    topk_per_group,
)
from fraud_detection_etl_project_spark.pipeline import fraud_predicate, valid_predicate
from fraud_detection_etl_project_spark.functions.rounding import cents_sum, cents_sum_sql, fxr
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.sources.csv import read_transactions
from fraud_detection_etl_project_spark.sources.parquet import load_table

# A synthesized stand-in for the reference's 34-row sample upload, not the
# original file: PaySim-shaped rows built to the reference's golden trace
# (SURVEY.md §5.1). 34 rows -> 32 valid (the DEBIT 9644.94 at line 12 and the
# TRANSFER 311685.89 at line 26 fail both balance clauses) -> 2 fraud (the
# TRANSFER 181 and CASH_OUT 181 at lines 4-5, isFraud=1). Every reader of the
# sample (queries, oracles, tests) goes through this constant.
REFERENCE_SAMPLE_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "paysim_sample_synthesized.csv",
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship + fraud parity
# ---------------------------------------------------------------------------

# Money sums run in exact integer cents (functions/rounding.cents_sum):
# order-insensitive, so Spark's partial-agg order and DuckDB's agree on
# every group — fp sums flipped the last cent on ~0.5% of groups at sf0.1.
_L_REV_CENTS = "sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 100.0 + 0.5) AS BIGINT)) / 100.0"

FLAGSHIP_ORACLE = f"""
SELECT o.o_orderkey,
       floor((o.o_totalprice) * 100.0 + 0.5) / 100.0 AS o_totalprice,
       {_L_REV_CENTS} AS computed_price,
       floor((abs(o.o_totalprice - {_L_REV_CENTS})) * 100.0 + 0.5) / 100.0 AS price_gap
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_totalprice
HAVING floor((abs(o.o_totalprice - {_L_REV_CENTS})) * 100.0 + 0.5) / 100.0 > 1.0
"""


@query("flagship_inconsistent_orders", oracle=FLAGSHIP_ORACLE, bench=True)
def flagship_inconsistent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: orders whose lineitem-derived price disagrees with the
    order header — the reference's balance-consistency idea
    (``/root/reference/Lambda Function/lambda_function_aws.py:43-46``)
    lifted to the fixture star schema.

    Plan: partial-aggregated shuffle on ``l_orderkey`` (map-side combine
    halves the shuffle), then an equi-join on the same key — AQE can turn
    it into a shuffled-hash join; nothing broadcasts because both sides
    scale with the fact table.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    agg = li.groupBy("l_orderkey").agg(
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_sum")
    )
    return (
        o.join(agg, o.o_orderkey == agg.l_orderkey)
        .withColumn("price_gap", fxr(F.abs(F.col("o_totalprice") - F.col("_sum")), 2))
        .filter(F.col("price_gap") > 1.0)
        .select(
            "o_orderkey",
            fxr("o_totalprice", 2).alias("o_totalprice"),
            F.col("_sum").alias("computed_price"),
            "price_gap",
        )
    )


_FRAUD_CSV_ORACLE_SCAN = f"""
SELECT CAST(step AS INT) AS step, CAST(type AS VARCHAR) AS type,
       CAST(amount AS DOUBLE) AS amount, CAST(nameOrig AS VARCHAR) AS nameOrig,
       CAST(oldbalanceOrg AS DOUBLE) AS oldbalanceOrg,
       CAST(newbalanceOrig AS DOUBLE) AS newbalanceOrig,
       CAST(nameDest AS VARCHAR) AS nameDest,
       CAST(oldbalanceDest AS DOUBLE) AS oldbalanceDest,
       CAST(newbalanceDest AS DOUBLE) AS newbalanceDest,
       CAST(isFraud AS INT) AS isFraud, CAST(isFlaggedFraud AS INT) AS isFlaggedFraud
FROM read_csv('{REFERENCE_SAMPLE_CSV}', header=true)
"""

FRAUD_VALID_ORACLE = f"""
WITH txns AS ({_FRAUD_CSV_ORACLE_SCAN})
SELECT * FROM txns
WHERE floor((oldbalanceOrg - newbalanceOrig) * 100.0 + 0.5) / 100.0 >= amount
   OR floor((oldbalanceDest + amount) * 100.0 + 0.5) / 100.0 >= newbalanceDest
"""

FRAUD_FLAGGED_ORACLE = f"""
WITH txns AS ({_FRAUD_CSV_ORACLE_SCAN})
SELECT * FROM txns
WHERE (floor((oldbalanceOrg - newbalanceOrig) * 100.0 + 0.5) / 100.0 >= amount
       OR floor((oldbalanceDest + amount) * 100.0 + 0.5) / 100.0 >= newbalanceDest)
  AND (isFraud = 1 OR isFlaggedFraud = 1)
"""


@query("fraud_valid_txns", oracle=FRAUD_VALID_ORACLE)
def fraud_valid_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference filter №1 (balance validity) on the reference's own sample
    file — parity with ``lambda_function_aws.py:43-46`` (32 of 34 rows)."""
    return read_transactions(spark, REFERENCE_SAMPLE_CSV).filter(valid_predicate())


@query("fraud_flagged_txns", oracle=FRAUD_FLAGGED_ORACLE)
def fraud_flagged_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference filters №1+№2 cascaded (``lambda_function_aws.py:43-52``)
    — the full ETL query; 2 rows on the sample. Catalyst's CombineFilters
    merges the cascade into one codegen'd predicate."""
    return (
        read_transactions(spark, REFERENCE_SAMPLE_CSV)
        .filter(valid_predicate())
        .filter(fraud_predicate())
    )


# ---------------------------------------------------------------------------
# Filters / projections / scalar functions
# ---------------------------------------------------------------------------


@query(
    "filtered_revenue_rows",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem
WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
""",
)
def filtered_revenue_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level filter + arithmetic projection (P1/P3/P5 shape). Narrow,
    shuffle-free; both predicates push into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06) & (F.col("l_quantity") < 10)
    ).select(
        "l_orderkey",
        "l_linenumber",
        fxr(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
    )


@query(
    "orders_price_buckets",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total,
       floor((avg(o_totalprice)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price
FROM orders GROUP BY 1
""",
)
def orders_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bucketing (when/otherwise, §2.8) + grouped aggregates."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        fxr(F.sum("o_totalprice"), 2).alias("total"),
        fxr(F.avg("o_totalprice"), 6).alias("avg_price"),
    )


@query(
    "customer_string_funcs",
    oracle="""
SELECT c_custkey,
       upper(c_name) AS uname,
       CAST(length(c_name) AS INT) AS name_len,
       c_mktsegment || ':' || substring(c_name, 10, 9) AS seg_tag,
       CAST(regexp_extract(c_name, '([0-9]+)') AS BIGINT) AS name_num
FROM customer
""",
)
def customer_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (§2.8): upper/length/concat/substring/regexp."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("int").alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit(":"), F.substring("c_name", 10, 9)).alias("seg_tag"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("bigint").alias("name_num"),
    )


@query(
    "lineitem_scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor((sqrt(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS qty_sqrt,
       floor((ln(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS price_ln,
       floor((power(1 + l_tax, 2)) * 10000.0 + 0.5) / 10000.0 AS tax_sq,
       floor((greatest(l_tax, l_discount)) * 10000.0 + 0.5) / 10000.0 AS max_rate,
       CAST(abs(l_partkey - l_suppkey) AS BIGINT) AS key_gap
FROM lineitem WHERE l_linenumber <= 2
""",
)
def lineitem_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family (§2.8): sqrt/ln/power/greatest/abs."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fxr(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        fxr(F.log("l_extendedprice"), 4).alias("price_ln"),
        fxr(F.pow(F.col("l_tax") + 1, 2), 4).alias("tax_sq"),
        fxr(F.greatest("l_tax", "l_discount"), 4).alias("max_rate"),
        F.abs(F.col("l_partkey") - F.col("l_suppkey")).cast("bigint").alias("key_gap"),
    )


@query(
    "monthly_order_stats",
    oracle="""
SELECT date_trunc('month', o_orderdate) AS order_month,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0 AS monthly_total
FROM orders GROUP BY 1, 2
""",
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (§2.8): date_trunc + extract + time-grouped aggs."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        cents_sum("o_totalprice").alias("monthly_total"),
    )


@query(
    "events_json_extract",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       floor((avg(CAST(json_extract_string(props, '$.k') AS INT))) * 1000000.0 + 0.5) / 1000000.0 AS avg_k
FROM events GROUP BY event_type
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (§2.8): get_json_object over the ``props`` column — the
    engine-side equivalent of the reference's event-envelope parsing
    (``lambda_function_aws.py:29-30``)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("k").alias("max_k"),
        F.min("k").alias("min_k"),
        fxr(F.avg("k"), 6).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       {cents_sum_sql('l_extendedprice')} AS sum_base_price,
       {cents_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {cents_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       floor((avg(l_quantity)) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty,
       floor((({cents_sum_sql('l_extendedprice')}) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
       floor((({cents_sum_sql('l_discount', 6)}) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the canonical wide aggregation.

    Partial aggregation (map-side combine) reduces the shuffle to
    |groups|×|partitions| rows regardless of input size; the date filter
    pushes down to parquet row-group stats.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    # money sums in exact integer cents (order-insensitive; see
    # functions/rounding.cents_sum) — fp sums flip the last cent on a few
    # per mille of groups once group sizes reach sf0.1 scale
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fxr(F.sum("l_quantity"), 2).alias("sum_qty"),
        cents_sum("l_extendedprice").alias("sum_base_price"),
        cents_sum(disc).alias("sum_disc_price"),
        cents_sum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
        fxr(F.avg("l_quantity"), 6).alias("avg_qty"),
        fxr(cents_sum("l_extendedprice") / n, 6).alias("avg_price"),
        fxr(cents_sum("l_discount", 6) / n, 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "distinct_supplier_counts",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def distinct_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) — Catalyst expands to a two-stage aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "quantity_percentiles",
    oracle="""
SELECT l_returnflag,
       floor((quantile_cont(l_quantity, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS median_qty,
       floor((quantile_cont(l_quantity, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90_qty,
       floor((quantile_cont(l_extendedprice, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS median_price
FROM lineitem GROUP BY l_returnflag
""",
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). ``percentile_approx`` (t-digest) is the scale path —
    see ``approx_event_stats`` for the rows-only approximate variant."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fxr(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        fxr(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        fxr(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
    )


@query(
    "approx_event_stats",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS hll_within_5pct,
       TRUE AS pctl_within_range
FROM events GROUP BY event_type
""",
)
def approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HLL++ distinct count, approx percentile) — the
    100 TB path where exact distinct/percentile shuffles would dominate.

    The sketch VALUES are engine-specific, so the query emits exact
    companions plus error-bound booleans: HLL estimate (rsd=1%) within ±5%
    of the exact distinct count (a 5-sigma bound), and the
    approximate median inside the group's exact [p40, p60]. The oracle
    asserts the exact values and that both bounds hold (literal TRUE) —
    so the sketches themselves are under value-level test, without
    demanding bit-equality of sketch internals."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.expr("percentile(value, 0.4)").alias("p40"),
        F.expr("percentile(value, 0.6)").alias("p60"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        F.col("n_events").cast("bigint").alias("n_events"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("hll_within_5pct"),
        F.col("approx_median").between(F.col("p40"), F.col("p60")).alias("pctl_within_range"),
    )


@query(
    "rollup_flag_status",
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (§2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        fxr(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "cube_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (§2.4)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fxr(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "region_customer_rollup",
    oracle="""
SELECT r.r_name, n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       floor((sum(c.c_acctbal)) * 100.0 + 0.5) / 100.0 AS total_balance,
       floor((avg(c.c_acctbal)) * 1000000.0 + 0.5) / 1000000.0 AS avg_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    bench=True,
)
def region_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact × two dims. Both dims are explicitly broadcast —
    at 100 TB the fact side never shuffles for dimension joins."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fxr(F.sum("c_acctbal"), 2).alias("total_balance"),
            fxr(F.avg("c_acctbal"), 6).alias("avg_balance"),
        )
    )


@query(
    "orders_without_lineitems",
    oracle="""
SELECT o_orderkey, floor((o_totalprice) * 100.0 + 0.5) / 100.0 AS o_totalprice
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
""",
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (§2.3) — referential-integrity audit."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", fxr("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "customers_with_big_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (§2.3) — EXISTS without duplicating the left side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "order_fill_left_join",
    oracle="""
SELECT o.o_orderkey,
       CAST(coalesce(l.n_items, 0) AS BIGINT) AS n_items,
       floor((coalesce(l.items_total, 0)) * 100.0 + 0.5) / 100.0 AS items_total
FROM orders o
LEFT JOIN (SELECT l_orderkey, count(*) AS n_items,
                  sum(l_extendedprice) AS items_total
           FROM lineitem GROUP BY l_orderkey) l
  ON o.o_orderkey = l.l_orderkey
""",
)
def order_fill_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join against a pre-aggregated subquery, null-filled.

    Aggregating BEFORE the join keeps the join input at |orders| rows —
    at scale, join-then-aggregate would shuffle the whole lineitem table.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("l_extendedprice").alias("_total"))
    )
    return o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderkey",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_items"),
        fxr(F.coalesce(F.col("_total"), F.lit(0.0)), 2).alias("items_total"),
    )


@query(
    "lineitem_fill_right_join",
    oracle="""
SELECT o.o_orderkey,
       CAST(coalesce(l.n_items, 0) AS BIGINT) AS n_items,
       floor((coalesce(l.items_total, 0)) * 100.0 + 0.5) / 100.0 AS items_total
FROM (SELECT l_orderkey, count(*) AS n_items,
             sum(l_extendedprice) AS items_total
      FROM lineitem GROUP BY l_orderkey) l
RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
""",
)
def lineitem_fill_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (§2.3): the mirror of ``order_fill_left_join`` with
    the preserved side on the right — orders lacking lineitems survive with
    null-filled aggregates. Physically Spark plans right-outer as the
    mirrored left-outer, so the same pre-aggregate-then-join scale shape
    applies."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("l_extendedprice").alias("_total"))
    )
    return li.join(o, li.l_orderkey == o.o_orderkey, "right").select(
        "o_orderkey",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_items"),
        fxr(F.coalesce(F.col("_total"), F.lit(0.0)), 2).alias("items_total"),
    )


@query(
    "region_priority_grid",
    oracle="""
SELECT r.r_name, o.o_orderpriority
FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) o
""",
)
def region_priority_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (§2.3): cartesian grid of two tiny relations —
    the dimension-scaffold use (every region × every priority, e.g. to
    left-join sparse facts onto a dense reporting grid). Cartesian products
    are only sane when one side is broadcast-tiny; Spark plans this as a
    BroadcastNestedLoopJoin with no shuffle."""
    r = _t(spark, sf_dir, "region").select("r_name")
    p = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(p)


@query(
    "nation_party_full_join",
    oracle="""
SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
       CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
       CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp,
       floor((coalesce(c.cust_bal, 0) + coalesce(s.supp_bal, 0)) * 100.0 + 0.5) / 100.0 AS combined_bal
FROM (SELECT c_nationkey, count(*) AS n_cust, sum(c_acctbal) AS cust_bal
      FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp, sum(s_acctbal) AS supp_bal
                 FROM supplier GROUP BY s_nationkey) s
  ON c.c_nationkey = s.s_nationkey
""",
)
def nation_party_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (§2.3) with coalesced keys."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.sum("c_acctbal").alias("cust_bal"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"), F.sum("s_acctbal").alias("supp_bal"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
        fxr(F.coalesce("cust_bal", F.lit(0.0)) + F.coalesce("supp_bal", F.lit(0.0)), 2).alias(
            "combined_bal"
        ),
    )


@query(
    "event_value_bands",
    oracle="""
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
         ('high', 150.0, 300.0), ('extreme', 300.0, 1e9)
)
SELECT b.band, CAST(count(*) AS BIGINT) AS n_events,
       floor((avg(e.value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
""",
)
def event_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join (§2.3) against a broadcast interval dimension."""
    e = _t(spark, sf_dir, "events").select("value")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 300.0), ("extreme", 300.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        range_join(e, bands, "value")
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_events"), fxr(F.avg("value"), 6).alias("avg_value"))
    )


@query(
    "asof_purchase_signup",
    bench=True,
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
     j AS (SELECT p.event_id, p.user_id,
                  s.event_id AS signup_event_id,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY s.ts DESC NULLS LAST, s.event_id DESC NULLS LAST) AS rn
           FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts)
SELECT event_id, user_id, CAST(signup_event_id AS BIGINT) AS signup_event_id
FROM j WHERE rn = 1
""",
)
def asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (§2.3): each purchase matched to the user's most recent
    prior-or-simultaneous signup. Uses the union-tag single-shuffle
    formulation (operators/relational.asof_join) — no join blow-up."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    purchases = e.filter(F.col("event_type") == "purchase").drop("event_type")
    signups = e.filter(F.col("event_type") == "signup").drop("event_type")
    out = asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts", payload=["event_id"]
    )
    return out.select(
        "event_id", "user_id", F.col("asof_event_id").cast("bigint").alias("signup_event_id")
    )


@query(
    "asof_next_purchase",
    oracle="""
WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
     p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     j AS (SELECT s.event_id, s.user_id,
                  p.event_id AS next_purchase_id,
                  row_number() OVER (PARTITION BY s.event_id
                                     ORDER BY p.ts ASC NULLS LAST, p.event_id ASC NULLS LAST) AS rn
           FROM s LEFT JOIN p ON s.user_id = p.user_id AND p.ts >= s.ts)
SELECT event_id, user_id, CAST(next_purchase_id AS BIGINT) AS next_purchase_id
FROM j WHERE rn = 1
""",
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (§2.3): each signup matched to the user's next
    purchase at-or-after it — the conversion-lag primitive (mirror of the
    backward asof_purchase_signup). Same union-tag single-shuffle
    formulation, direction='forward' (first-following instead of
    last-preceding)."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    purchases = e.filter(F.col("event_type") == "purchase").drop("event_type")
    signups = e.filter(F.col("event_type") == "signup").drop("event_type")
    out = asof_join(
        signups, purchases, on="user_id", left_ts="ts", right_ts="ts",
        payload=["event_id"], direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("asof_event_id").cast("bigint").alias("next_purchase_id")
    )


# ---------------------------------------------------------------------------
# Windows, sorts, top-k
# ---------------------------------------------------------------------------


@query(
    "top_customers_per_nation",
    oracle="""
SELECT c_nationkey, c_custkey, floor((c_acctbal) * 100.0 + 0.5) / 100.0 AS c_acctbal, CAST(rk AS INT) AS rk
FROM (SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      FROM customer)
WHERE rk <= 3
""",
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (§2.5/§2.6). One shuffle on the
    partition key; the id tiebreaker makes the output deterministic."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_custkey", "c_acctbal")
    out = topk_per_group(
        c, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 3, "rk"
    )
    return out.select(
        "c_nationkey", "c_custkey", fxr("c_acctbal", 2).alias("c_acctbal"), F.col("rk").cast("int")
    )


@query(
    "event_value_deltas",
    oracle="""
SELECT event_id, user_id,
       floor((value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS delta,
       floor((lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - value) * 100.0 + 0.5) / 100.0 AS next_delta
FROM events
""",
)
def event_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions lag/lead (§2.5) — velocity-style features
    (the fraud-analytics shape: per-account deltas ordered by time)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        fxr(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
        fxr(F.lead("value").over(w) - F.col("value"), 2).alias("next_delta"),
    )


@query(
    "running_user_totals",
    bench=True,
    oracle="""
SELECT event_id, user_id,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0 AS running_total,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
FROM events
""",
)
def running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-frame window (§2.5): per-user running balance, the
    reference's account-balance idea as an explicit running computation."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        fxr(F.sum("value").over(frame), 2).alias("running_total"),
        F.row_number().over(w).cast("int").alias("seq"),
    )


@query(
    "top10_orders",
    oracle="""
SELECT o_orderkey, floor((o_totalprice) * 100.0 + 0.5) / 100.0 AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""",
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (§2.6) — Catalyst plans TakeOrderedAndProject: each
    partition keeps its local top 10, only k·partitions rows reach the
    driver regardless of table size."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", fxr("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@query(
    "all_parties_union",
    oracle="""
SELECT c_custkey AS party_key, c_name AS party_name,
       floor((c_acctbal) * 100.0 + 0.5) / 100.0 AS acctbal, 'customer' AS kind FROM customer
UNION ALL
SELECT s_suppkey, s_name, floor((s_acctbal) * 100.0 + 0.5) / 100.0, 'supplier' FROM supplier
""",
)
def all_parties_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName (§2.7) over schema-aligned projections."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("party_name"),
        fxr("c_acctbal", 2).alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"),
        F.col("s_name").alias("party_name"),
        fxr("s_acctbal", 2).alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s)


@query(
    "nations_with_both",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics, §2.7)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "nations_customers_only",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""",
)
def nations_customers_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics, §2.7) via ``subtract``."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "distinct_user_event_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def distinct_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT on a projected subset (§2.4) — deterministic, unlike
    dropDuplicates' keep-arbitrary-row (see dedup operators for the
    deterministic keep-first variant)."""
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@query(
    "sql_top_revenue_customers",
    oracle="""
SELECT c.c_custkey, c.c_name,
       floor((sum(o.o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
    bench=True,
)
def sql_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point: the same ANSI text runs on Spark SQL
    (registered temp views) and on the DuckDB oracle verbatim."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               floor((sum(o.o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """
    )


@query(
    "q5_local_supplier_revenue",
    oracle=f"""
SELECT n.n_name,
       {cents_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    bench=True,
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (customer-orders-lineitem-supplier-
    nation-region) with the local-supplier condition
    ``c_nationkey = s_nationkey`` and a region + date selection.

    Scale plan: region/nation/supplier are broadcast dims (the region
    filter prunes nation BEFORE it reaches the fact joins, so the
    broadcast side is already restricted); the only shuffles are the two
    fact-fact joins (orders⋈customer on custkey, lineitem⋈orders on
    orderkey), both on their natural keys. The date filter sits directly
    on the orders scan — parquet row-group pruning applies. Revenue is
    an exact integer-cent sum (summation-order-free)."""
    n_r = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n_r), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n_r.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@query(
    "q18_large_volume_orders",
    oracle="""
SELECT c.c_name, o.o_orderkey, o.o_totalprice,
       floor(sum(l.l_quantity) * 100.0 + 0.5) / 100.0 AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via an IN-subquery over a
    grouped HAVING, then customer join and global top-100.

    Scale plan: the HAVING aggregate reduces lineitem to qualifying
    orderkeys FIRST (semi-join pre-filter), and the per-order quantity
    sum happens BEFORE the customer join, so customer joins against the
    tiny qualifying-orders aggregate — never the other way around. No
    broadcast hints: customer scales with the fact data, and which side
    is broadcastable depends on runtime sizes, which is exactly what AQE
    decides better than a static hint. The final top-100 is a
    TakeOrderedAndProject (per-partition heap + single merge — never a
    full sort). l_quantity values are integral doubles, so the sum is
    exact and the 2-place quantization is parity-safe; ties on
    o_totalprice break on o_orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("_tq")).filter(F.col("_tq") > 150)
    o = _t(spark, sf_dir, "orders").join(
        big.select("l_orderkey"), F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    per_order = (
        li.join(o.select("o_orderkey", "o_custkey", "o_totalprice"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "o_orderkey", "o_totalprice")
        .agg(fxr(F.sum("l_quantity"), 2).alias("total_qty"))
    )
    c = _t(spark, sf_dir, "customer")
    return (
        per_order.join(c, per_order.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "segment_balance_dist_ranks",
    oracle="""
WITH c AS (SELECT c_custkey, c_mktsegment,
                  CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
           FROM customer)
SELECT c_custkey, c_mktsegment, cents,
       CAST(ntile(10) OVER w AS BIGINT) AS decile,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume_d
FROM c
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents, c_custkey)
""",
)
def segment_balance_dist_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-rank window trio — ntile / percent_rank /
    cume_dist — over account balance within each market segment: the
    decile bucketing, relative rank, and CDF position a risk or
    marketing model joins back as features. The window orders by
    (cents, c_custkey) — a TOTAL order — because ntile assigns ties by
    row POSITION: without the key tie-break two engines could split a
    tie across a bucket boundary differently and still both be
    "correct"; percent_rank and cume_dist are rank-based and quantize
    at 1e-6 before comparison.

    Scale: a per-segment full sort — the window partitions on the
    5-value segment key, so each partition is fact-scaled; at 100 TB
    this is the documented range-partition-then-rank shape (Spark sorts
    within hash partitions of the segment key; a 5-segment key wants a
    composite range partitioning or the two-phase histogram-rank path
    the equi-depth queries use). Correct here, and the trio's semantics
    are the point of the query."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "cents",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        fxr(F.percent_rank().over(w), 6).alias("pct_rank"),
        fxr(F.cume_dist().over(w), 6).alias("cume_d"),
    )
