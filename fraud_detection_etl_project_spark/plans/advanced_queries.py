"""Advanced analytics shapes: graph motifs (triangles, BFS), sweep-line
interval concurrency, positional TVFs, LATERAL subqueries, and frequent
itemset mining — the analytical patterns a complete engine runs beyond plain
relational queries (SURVEY.md §2.3-§2.5 gap categories, north-star scale ops).

All queries derive their graphs from the fixture star schema (co-purchase:
two parts are connected when they appear in the same order ≥2 times), so
every result is value-checkable against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.functions.rounding import fxr
from fraud_detection_etl_project_spark.functions.text import tokens
from fraud_detection_etl_project_spark.plans.llm_queries import TOKS_SQL
from fraud_detection_etl_project_spark.plans.registry import query
from fraud_detection_etl_project_spark.plans.staging import _fixture_tag, root
from fraud_detection_etl_project_spark.sources.local import local_frame
from fraud_detection_etl_project_spark.sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Canonical co-purchase edges: (src < dst) part pairs co-ordered in >= 2
# distinct orders. The support threshold is what keeps the graph sparse at
# scale — raw pair counts grow ~quadratically in lines-per-order, but
# support>=2 pairs grow near-linearly with orders (random pairs don't
# repeat). Mirrored verbatim in the oracles below.
_EDGE_SUPPORT = 2

_EDGES_SQL = f"""
SELECT a.l_partkey AS src, b.l_partkey AS dst
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {_EDGE_SUPPORT}
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges (support >= _EDGE_SUPPORT) from order baskets.

    r11: one order-keyed collect_set aggregation with row-local ordered-
    pair fan-out replaces the r10 distinct + order-keyed pair self-join —
    the same rewrite as basket_brand_rules (the distinct's (order, part)
    shuffle AND the self-join's re-shuffle of the membership table
    collapse into one aggregation; pair generation is basket-size^2
    bounded inside the row). Output identical: array_sort fixes src <
    dst, collect_set supplies the distinct.

    Basket-size bound (ADVICE r11): the row-local flatten materializes
    all s^2/2 ordered pairs of one basket inside one row, so a
    degenerate giant basket becomes a single-task memory hotspot where
    the old self-join streamed its pairs. Fine by construction on the
    order-basket schema (TPC-H orders hold <= 7 lines; the fixture
    max is 7) — a deployment over unbounded baskets should pre-filter
    or split baskets above a threshold (the salting posture used by
    salted_pair_self_join) BEFORE this aggregation; an in-query cap is
    deliberately not applied because it would change the declared
    result."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))"
            )
        ).alias("pr")
    ).select("pr.src", "pr.dst")
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _EDGE_SUPPORT)
        .select("src", "dst")
    )


def orient_by_degree(e: DataFrame) -> DataFrame:
    """Re-orient an undirected edge list so every edge points from its
    lower-(degree, id) endpoint to the higher one.

    Returns columns (lo, hi, deg_hi): lo -> hi with (deg_lo, lo) <
    (deg_hi, hi) lexicographically; deg_hi rides along so the wedge join
    can order a node's out-neighbours without re-joining degrees.

    This is the classic degree-orientation trick for triangle counting
    (Chiba-Nishizeki / "forward" algorithm): after orientation the
    out-degree of every node is at most O(sqrt(m)) — a degree-d hub keeps
    an out-edge only toward neighbours of degree >= d, and there can be at
    most 2m/d of those — so the wedge self-join's per-key fan-out is
    bounded even on power-law graphs, where id-orientation would leave a
    low-id hub with O(deg^2) wedges (VERDICT r02, What's wrong #1).

    Expects canonical (src < dst) input; one degree agg + two int-key
    joins, all JVM-side.
    """
    deg = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.withColumnsRenamed({"v": "src", "deg": "deg_src"}), "src")
        .join(deg.withColumnsRenamed({"v": "dst", "deg": "deg_dst"}), "dst")
    )
    # src < dst canonically, so on a degree tie the original orientation
    # already agrees with (deg, id) order; flip only when dst's degree is
    # strictly smaller.
    flip = F.col("deg_dst") < F.col("deg_src")
    return with_deg.select(
        F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("lo"),
        F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("hi"),
        F.when(flip, F.col("deg_src")).otherwise(F.col("deg_dst")).alias("deg_hi"),
    )


def count_triangles_oriented(oe: DataFrame) -> DataFrame:
    """1-row (n_triangles bigint) from a degree-oriented edge frame
    (orient_by_degree output). A wedge is an ordered out-neighbour pair
    (b, c) of an apex with (deg_b, b) < (deg_c, c); the triangle closes
    iff oriented edge b -> c exists — the orientation is a total order,
    so the closing edge can only be stored in that direction. Per-apex
    wedge fan-out is O(out-degree^2) = O(m) total by the orientation
    bound (see orient_by_degree)."""
    e1 = oe.select(F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("deg_hi").alias("deg_b"))
    e2 = oe.select(F.col("lo").alias("a2"), F.col("hi").alias("c"), F.col("deg_hi").alias("deg_c"))
    wedges = e1.join(
        e2,
        (F.col("a") == F.col("a2"))
        & (
            (F.col("deg_b") < F.col("deg_c"))
            | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
        ),
    ).select("b", "c")
    return wedges.join(
        oe.select(F.col("lo").alias("b"), F.col("hi").alias("c")), ["b", "c"], "inner"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


@query(
    "copurchase_triangle_count",
    bench=True,
    oracle=f"""
WITH e AS ({_EDGES_SQL}),
tri AS (SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
                  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
SELECT CAST((SELECT count(*) FROM (SELECT src AS v FROM e UNION SELECT dst FROM e)) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles
FROM tri
""",
)
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph — the standard graph
    motif/clustering primitive, as two distributed joins.

    Scale plan: edges are degree-oriented (orient_by_degree) — each edge
    points from its lower-(degree, id) endpoint to the higher — so each
    triangle is counted exactly once AND every node's out-degree is
    O(sqrt(m)), bounding the wedge self-join's per-key fan-out on
    power-law graphs (a hub's wedges would be O(deg^2) under plain id
    orientation). A wedge is an ordered pair of out-neighbours
    (b, c) of some apex a with (deg_b, b) < (deg_c, c); a triangle closes
    iff the oriented edge b -> c exists — orientation is a total order, so
    the closing edge can only be stored in that direction. Wedge build =
    oriented⋈oriented on the apex, close = one equi-join back against the
    oriented set; all shuffled hash joins on int keys, no driver-side
    adjacency. The support>=2 edge derivation keeps the graph near-linear
    in orders (see _EDGE_SUPPORT). The oracle counts triangles under id
    orientation — orientation-invariant, same total."""
    oe = orient_by_degree(_copurchase_edges(spark, sf_dir))
    tri = count_triangles_oriented(oe)
    nodes = oe.select(F.col("lo").alias("v")).union(oe.select("hi")).distinct()
    stats = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")).crossJoin(
        oe.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


@query(
    "part_bfs_2hop",
    oracle=f"""
WITH e AS ({_EDGES_SQL}),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
d0 AS (SELECT DISTINCT p_partkey AS node FROM part WHERE p_brand = 'Brand#1'),
d1 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN d0 ON s.src = d0.node
       WHERE s.dst NOT IN (SELECT node FROM d0)),
d2 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN d1 ON s.src = d1.node
       WHERE s.dst NOT IN (SELECT node FROM d0)
         AND s.dst NOT IN (SELECT node FROM d1))
SELECT node, CAST(0 AS INT) AS dist FROM d0
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
""",
)
def part_bfs_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop BFS reachability from one brand's parts across the
    co-purchase graph (operators/graph.bfs_khop): per-node minimum hop
    distance — the bounded-traversal shape of "related items" expansion.

    Scale: each hop joins only the NEW frontier against the edge list
    (left-anti against settled nodes), so work per hop is bounded by newly
    discovered adjacency, not graph size; min-distance falls out of
    first-discovery order with no per-node aggregation. Fixed k=2 keeps
    the plan shallow (no checkpoint needed; the unrolled-CTE oracle
    mirrors hop by hop)."""
    from fraud_detection_etl_project_spark.operators.graph import bfs_khop

    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_khop(seeds, _copurchase_edges(spark, sf_dir), k=2)


_SESSIONS_SQL = """
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end
FROM (SELECT user_id, ts, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP))
                                - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                                  (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events))
GROUP BY user_id, sid
"""


@query(
    "session_concurrency_hourly",
    oracle=f"""
WITH s AS ({_SESSIONS_SQL}),
deltas AS (
  SELECT date_trunc('hour', session_start) AS hour, 1 AS starts, 0 AS ends FROM s
  UNION ALL
  SELECT date_trunc('hour', session_end), 0, 1 FROM s
),
hourly AS (SELECT hour, CAST(sum(starts) AS BIGINT) AS n_starts,
                  CAST(sum(ends) AS BIGINT) AS n_ends
           FROM deltas GROUP BY 1)
SELECT hour, n_starts, n_ends,
       CAST(sum(n_starts - n_ends) OVER (ORDER BY hour
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active_at_hour_end
FROM hourly
""",
)
def session_concurrency_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency via the sweep-line trick: how many user
    sessions are live at each hour boundary. Sessions (gap-based, shared
    derivation with user_sessions_batch) become +1/-1 boundary deltas; the
    answer is a running sum — NO interval self-join anywhere.

    Scale: the naive formulation (sessions ⋈ sessions ON overlap) is
    O(n²) in concurrent intervals and unshippable at 100 TB; the
    sweep-line is two grouped aggregations plus a prefix sum. The prefix
    sum runs as an unpartitioned window — safe ONLY because it runs over
    hour-grain rows (one per hour, ~9k/year regardless of raw volume),
    i.e. the two-phase pattern: reduce raw data per bucket in parallel
    first, order only the tiny bucket frame."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    sessions = (
        e.withColumn("new_s", F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"))
    )
    deltas = sessions.select(
        F.date_trunc("hour", "session_start").alias("hour"),
        F.lit(1).alias("starts"),
        F.lit(0).alias("ends"),
    ).union(
        sessions.select(
            F.date_trunc("hour", "session_end").alias("hour"),
            F.lit(0).alias("starts"),
            F.lit(1).alias("ends"),
        )
    )
    hourly = deltas.groupBy("hour").agg(
        F.sum("starts").cast("bigint").alias("n_starts"),
        F.sum("ends").cast("bigint").alias("n_ends"),
    )
    run = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.withColumn(
        "active_at_hour_end",
        F.sum(F.col("n_starts") - F.col("n_ends")).over(run).cast("bigint"),
    )


@query(
    "doc_token_positions",
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
SELECT doc_id, CAST(0 AS INT) AS pos, toks[1] AS tok FROM t WHERE len(toks) >= 1
UNION ALL SELECT doc_id, 1, toks[2] FROM t WHERE len(toks) >= 2
UNION ALL SELECT doc_id, 2, toks[3] FROM t WHERE len(toks) >= 3
""",
)
def doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional table-valued generator (§2.8/§2.10 surface): posexplode
    the token array, keep the first three positions per document — the
    prefix-token shape used for title/lead extraction.

    Scale: posexplode is a JVM-side Generate operator (no Python);
    filtering pos < 3 immediately after keeps the exploded row count at
    3×docs regardless of document length. (With column pruning the
    generator only materializes the token column.)"""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    return d.filter(F.col("pos") < 3)


@query(
    "customer_order_stats_lateral",
    oracle="""
SELECT c.c_custkey, s.n_orders, s.max_price
FROM customer c, LATERAL (
  SELECT CAST(count(*) AS BIGINT) AS n_orders, max(o_totalprice) AS max_price
  FROM orders o WHERE o.o_custkey = c.c_custkey
) s
""",
)
def customer_order_stats_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL API surface): per-customer order
    stats via a lateral aggregate — the same ANSI LATERAL text DuckDB
    runs as the oracle.

    Scale: Catalyst decorrelates the lateral aggregate into a left outer
    aggregate join (one custkey shuffle) — per-row subquery execution
    never survives the optimizer, so LATERAL is declarative sugar, not a
    driver loop. count(*) over an empty correlated group correctly
    decorrelates to 0 (the classic COUNT-bug case the rewrite handles)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, s.n_orders, s.max_price
        FROM customer c, LATERAL (
          SELECT CAST(count(*) AS BIGINT) AS n_orders, max(o_totalprice) AS max_price
          FROM orders o WHERE o.o_custkey = c.c_custkey
        ) s
        """
    )


@query(
    "frequent_part_pairs",
    oracle="""
SELECT a.l_partkey AS src, b.l_partkey AS dst,
       CAST(count(*) AS BIGINT) AS support
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY support DESC, src, dst
""",
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pairs (market-basket mining, the A-Priori 2-pass):
    part pairs co-ordered in ≥3 distinct orders, ranked by support.

    Scale plan: the pair generation self-joins the DISTINCT (order, part)
    projection on orderkey — fan-out is lines-per-order choose 2, bounded
    by basket size, not catalog size. At scale the A-Priori prune applies:
    a pair can only reach support s if both parts individually do
    (monotonicity), so semi-joining items to support>=s singletons first
    cuts the self-join input with zero effect on results — at this
    fixture's uniform part distribution every part clears the bar, so the
    prune is left out of the plan rather than adding a no-op pass; the
    support>=3 HAVING runs map-side-combined either way. Total order
    (support desc, src, dst) keeps top ranking engine-stable."""
    items = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = items.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 3)
        .orderBy(F.col("support").desc(), "src", "dst")
    )


@query(
    "heavy_hitter_users",
    oracle="""
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, t.n_total
FROM events, t
GROUP BY user_id, t.n_total
HAVING count(*) * 1000 >= t.n_total * 8
""",
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (frequent-element detection) as the two-pass
    sketch-then-verify pattern: candidate generation with
    ``DataFrame.freqItems`` (the Karp/Misra-Gries streaming summary —
    single pass, bounded memory, NO false negatives above the support
    level), then one exact filtered count over the candidates. The final
    output is therefore EXACT (every user with ≥0.8% of all events),
    which is what makes a value-level oracle possible for an
    approximate-algorithm query.

    Scale: the sketch pass aggregates per-partition summaries of ≤1/s
    entries each — the collected candidate list is parameters-sized
    (≤200 items at support=0.005), like ivf_centroids. The verify pass is
    a broadcast-filtered groupBy on the candidate set only. The threshold
    comparison is exact integer cross-multiplication (n·1000 ≥ total·8) —
    no float shares. On this fixture's ~uniform 150 users the candidate
    set is all users (1/s exceeds the cardinality), so the prune is a
    no-op pass-through — the machinery still runs; on a skewed 100 TB
    keyspace it is what caps the verify join."""
    e = _t(spark, sf_dir, "events").select("user_id")
    total = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    cands = [r for r in e.freqItems(["user_id"], support=0.005).collect()[0][0]]
    return (
        e.filter(F.col("user_id").isin(cands))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * 1000 >= F.col("n_total") * 8)
    )


@query(
    "hll_partial_union_users",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS union_within_5pct
FROM events
GROUP BY event_type
""",
)
def hll_partial_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches (Datasketches HLL): build
    one HLL sketch per (event_type, day) partial, then MERGE the daily
    partials per event_type with hll_union_agg — the
    continuous-aggregate pattern where daily rollups are persisted and
    coarser distinct counts are derived by sketch union, never by
    re-scanning raw data (exact distincts are NOT re-aggregatable; HLL
    partials are).

    As with approx_event_stats, sketch bytes are engine-specific, so the
    query emits exact companions plus an error-bound boolean: the unioned
    estimate must land within ±5% of the exact distinct count
    (lgConfigK=14 gives ~0.8% rsd — 5% is a >5-sigma bound). The oracle
    asserts the exact values and that the bound holds.

    Scale: pass 1 shuffles raw events once to (type, day) partials; pass 2
    shuffles only sketch bytes (KB per partial, independent of row
    count). At 100 TB the partials would be a persisted table; the union
    step reads sketches, not events."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = e.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"),
    )
    unioned = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        unioned.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("union_within_5pct"),
        )
    )


@query(
    "monthly_stats_incremental",
    oracle="""
SELECT date_trunc('month', o_orderdate) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0 AS total_price
FROM orders
GROUP BY 1
""",
)
def monthly_stats_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a monthly orders aggregate kept
    up-to-date by merging a persisted BASE partial with a newly-arrived
    DELTA partial — sum-of-sums / sum-of-counts re-aggregation, never a
    full recompute. The base here is everything before 2000-01-01 and the
    delta everything after (standing in for the already-materialized
    aggregate and the new arrivals); the oracle is the full recompute,
    proving merge(base, delta) == recompute(all) — the algebraic property
    (commutative-monoid partials, exact integer cents) that makes
    incremental maintenance correct.

    Scale: at 100 TB the base partial is a stored table of one row per
    (month) — merging the day's delta touches delta-sized data plus the
    partial, so daily maintenance cost is O(delta), not O(history). Both
    partial aggregations here are map-side-combined single shuffles."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    cut = F.lit("2000-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    base = partial(o.filter(F.col("month") < cut))
    delta = partial(o.filter(F.col("month") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
    )
    return merged.select(
        "month", "n_orders", (F.col("sum_cents") / F.lit(100.0)).alias("total_price")
    )


@query(
    "user_time_weighted_value",
    oracle="""
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
w AS (SELECT user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts)) // 1000000 AS dur_s
      FROM e)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_holds,
       CAST(sum(cents * dur_s) AS BIGINT) AS weighted_sum_units,
       CAST(sum(dur_s) AS BIGINT) AS total_dur_s
FROM w WHERE dur_s IS NOT NULL
GROUP BY user_id
""",
)
def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted aggregation (the finance/IoT TWAP shape): each event's
    value is held until the user's next event; the per-user sum of
    value×holding-duration and the total held duration — the two exact
    integers a time-weighted average divides (kept un-divided so the
    oracle match is bit-exact). Units are sized for int64 headroom:
    integer cents × whole seconds (floor division of the microsecond
    gap — identical integer semantics in both engines); micro-units ×
    microseconds would overflow int64 on month-long gaps.

    Scale: one user_id shuffle serves both the lead() window and the final
    grouped sum (partitioning reuse); duration math is exact int64 epoch
    microseconds — no float time arithmetic anywhere."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    held = e.select(
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        ((F.lead(us).over(w) - us) / F.lit(1_000_000)).cast("bigint").alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holds"),
        F.sum(F.col("cents") * F.col("dur_s")).cast("bigint").alias("weighted_sum_units"),
        F.sum("dur_s").cast("bigint").alias("total_dur_s"),
    )


@query(
    "nation_revenue_share",
    oracle="""
WITH rev AS (
  SELECT n.n_name,
         sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
)
SELECT n_name, cents / 100.0 AS revenue,
       floor(cents * 1000000.0 / sum(cents) OVER () + 0.5) / 1000000.0 AS revenue_share
FROM rev
""",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of global
    order revenue via an unbounded whole-relation window over the grouped
    aggregate.

    Scale: the whole-relation window is safe for the same reason as the
    sweep-line prefix sum — it consumes the ALREADY-AGGREGATED 25-row
    nation frame, not raw orders (reduce first, window the reduced
    frame). Shares divide exact integer cent sums and quantize at 1e-6,
    so the ratio is engine-stable."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")).alias("cents"))
    )
    total = Window.partitionBy()
    return rev.select(
        "n_name",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        (
            F.floor(F.col("cents") * F.lit(1_000_000.0) / F.sum("cents").over(total) + F.lit(0.5))
            / F.lit(1_000_000.0)
        ).alias("revenue_share"),
    )


@query(
    "order_price_outliers",
    oracle="""
WITH med AS (
  SELECT o_orderpriority,
         floor(quantile_cont(o_totalprice, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS med_price
  FROM orders GROUP BY 1
),
dev AS (
  SELECT o.o_orderpriority,
         floor(quantile_cont(abs(o.o_totalprice - m.med_price), 0.5) * 1000000.0 + 0.5)
           / 1000000.0 AS mad
  FROM orders o JOIN med m USING (o_orderpriority)
  GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice
FROM orders o
JOIN med m USING (o_orderpriority)
JOIN dev d USING (o_orderpriority)
WHERE abs(o.o_totalprice - m.med_price) > 2.0 * d.mad
""",
)
def order_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection (median absolute deviation): orders whose
    price deviates from their priority-group median by more than 2×MAD —
    the data-quality screen that, unlike z-scores, isn't poisoned by the
    outliers it hunts.

    Scale: two grouped exact-percentile passes over the fact (each one
    shuffle on the 5-value priority key), then the flagging join
    broadcasts the 5-row (median, mad) parameter frame back onto the
    scan — the fact is never self-joined row-to-row. Medians are exact
    interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``, see quantity_percentiles), quantized at 1e-6 so
    the 3×MAD threshold both engines compare against is the identical
    double; ``percentile_approx`` is the documented scale path when an
    approximate screen suffices."""
    from fraud_detection_etl_project_spark.functions.rounding import fxr

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    med = o.groupBy("o_orderpriority").agg(
        fxr(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("med_price")
    )
    dev = (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(fxr(F.expr("percentile(abs(o_totalprice - med_price), 0.5)"), 6).alias("mad"))
    )
    flagged = (
        o.join(F.broadcast(med), "o_orderpriority")
        .join(F.broadcast(dev), "o_orderpriority")
        .filter(F.abs(F.col("o_totalprice") - F.col("med_price")) > 2.0 * F.col("mad"))
    )
    return flagged.select("o_orderkey", "o_orderpriority", "o_totalprice")


@query(
    "lang_mix_weights",
    oracle="""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, CAST(min(n_docs) AS BIGINT) AS min_n
      FROM counts)
SELECT c.lang, c.n_docs,
       floor(c.n_docs * 1000000.0 / t.total + 0.5) / 1000000.0 AS cur_share,
       floor(t.min_n * 1000000.0 / c.n_docs + 0.5) / 1000000.0 AS sample_rate
FROM counts c, t
""",
)
def lang_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix resampling weights (the domain/language-balancing step
    of a pretraining data pipeline): per-language corpus share and the
    downsampling rate that equalizes languages without upsampling —
    rate_l = n_min / n_l for a uniform target (rates normalized so the
    scarcest language keeps rate 1.0; a non-uniform target substitutes
    t_l/s_l before the same max-normalization). Rates are ratios of exact
    int64 counts, quantized at 1e-6 — engine-stable.

    Scale: one grouped count over the corpus (map-side combined), then a
    2-scalar parameter frame (total, min) broadcast back onto the
    language-count frame — the weights table is language-cardinality
    rows, a parameter output driving a later sampleBy pass (see
    stratified_event_sample for the deterministic-hash sampler these
    rates feed)."""
    counts = _t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    t = counts.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.min("n_docs").cast("bigint").alias("min_n"),
    )
    return counts.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        (F.floor(F.col("n_docs") * 1_000_000.0 / F.col("total") + 0.5) / 1_000_000.0).alias(
            "cur_share"
        ),
        (F.floor(F.col("min_n") * 1_000_000.0 / F.col("n_docs") + 0.5) / 1_000_000.0).alias(
            "sample_rate"
        ),
    )


@query(
    "xml_source_rollup",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0 AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
""",
)
def xml_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip (Spark 4 native XML, §2.1 format surface):
    one year of orders written as XML records, read back with an explicit
    schema, and aggregated — proving the full writer→parser path is
    lossless for the typed columns (long keys, string status, double
    price survive Java shortest-roundtrip rendering). The oracle computes
    the same rollup straight from parquet, so any XML parse drift is a
    value mismatch.

    Scale: XML is a row-expensive text format — the demo keeps it for
    interchange-sized slices (the date filter cuts the write to one
    year); at 100 TB XML appears at ingest boundaries only, converted to
    parquet/columnar on first touch (this query IS that conversion
    pattern, in miniature). The roundtrip path lives under the process's
    staging root and is rewritten per run."""
    import os

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = os.path.join(root(), f"xml_roundtrip_{_fixture_tag(sf_dir)}")
    o.write.format("xml").mode("overwrite").option("rootTag", "orders").option(
        "rowTag", "order"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .load(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")) / F.lit(100.0)
        ).alias("total_price"),
    )


@query(
    "nation_top_account_argmax",
    oracle="""
SELECT n.n_name,
       arg_max(c.c_name,
               CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) * 1000000000
                 + c.c_custkey) AS top_customer,
       max(c.c_acctbal) AS top_acctbal,
       arg_min(c.c_name,
               CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) * 1000000000
                 + c.c_custkey) AS bottom_customer
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1
""",
)
def nation_top_account_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (max_by/min_by): per-nation best- and
    worst-balance customer in ONE grouped pass — the aggregate-native
    alternative to the row_number()-window top-1 (top_customers_per_nation),
    with no sort and no second pass over the group.

    Determinism: bare max_by on a tied column is engine-arbitrary, so the
    comparator is a single int64 total order — integer cents × 1e9 +
    custkey (cents dominate; custkey breaks exact-balance ties the same
    way in both engines; DuckDB's arg_max takes scalar comparators only,
    so the struct-comparator form is off the table).

    Scale: single map-side-combined aggregation — the partial keeps one
    (value, arg) pair per group per partition; contrast with the window
    formulation, which shuffles and sorts every row of the group."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    key = (
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("bigint") * F.lit(1_000_000_000)
        + F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", key).alias("top_customer"),
            F.max("c_acctbal").alias("top_acctbal"),
            F.min_by("c_name", key).alias("bottom_customer"),
        )
    )


@query(
    "props_schema_inferred",
    oracle="""
SELECT 'STRUCT<k: BIGINT>' AS inferred_schema,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
""",
)
def props_schema_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema inference feeding typed parsing (§2.8's last JSON
    primitive: ``schema_of_json``): infer the DDL schema from one sample
    payload, parse the whole column with from_json AGAINST that inferred
    schema, and aggregate a typed field — proving inference and parsing
    compose. The oracle pins the inferred DDL text itself (a wrong
    inference changes the string AND breaks the typed sum).

    Scale: schema inference runs on ONE driver-side literal (parameters,
    not data — the same place a schema registry lookup would sit);
    from_json then parses distributed with zero per-row inference. At
    100 TB you infer once (or take the schema from a registry/contract),
    never per row — per-row schema_of_json would be a quadratic trap."""
    e = _t(spark, sf_dir, "events").select("props")
    sample = e.filter(F.col("props").isNotNull()).limit(1).collect()[0][0]
    ddl = spark.range(1).select(
        F.schema_of_json(F.lit(sample)).alias("s")
    ).collect()[0][0]
    parsed = e.select(F.from_json("props", ddl).alias("p"))
    return parsed.agg(
        F.lit(ddl).alias("inferred_schema"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("p.k")).cast("bigint").alias("sum_k"),
    )


@query(
    "order_price_dense_ranks",
    oracle="""
WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
                  CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM orders),
r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
             dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY cents DESC) AS price_dense_rank,
             nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
                 ORDER BY cents DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_highest_price
      FROM o)
SELECT o_orderkey, o_orderpriority, o_totalprice,
       CAST(price_dense_rank AS BIGINT) AS price_dense_rank,
       third_highest_price
FROM r WHERE price_dense_rank <= 5
""",
)
def order_price_dense_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank + nth_value window functions (the §2.5 ranking family's
    remaining members): top-5 price ranks per priority, each row carrying
    the third-highest price seen so far in its partition's running frame.

    Determinism: ranks order by integer cents (ties collapse to the same
    dense rank — safe); nth_value's frame order adds the orderkey
    tiebreak so "third row so far" is a total order in both engines.

    Scale: one priority-key shuffle, both window functions share the sort;
    the rank<=5 filter is applied post-window (ranking filters cannot
    push below the window, but the output is 5 ranks × ties per group,
    small by construction)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    rank_w = Window.partitionBy("o_orderpriority").orderBy(F.col("cents").desc())
    frame_w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("cents").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.withColumn("price_dense_rank", F.dense_rank().over(rank_w).cast("bigint"))
        .withColumn("third_highest_price", F.nth_value("o_totalprice", 3).over(frame_w))
        .filter(F.col("price_dense_rank") <= 5)
        .select(
            "o_orderkey", "o_orderpriority", "o_totalprice",
            "price_dense_rank", "third_highest_price",
        )
    )


@query(
    "lineitem_stats_aggregates",
    oracle="""
SELECT l_returnflag,
       floor(corr(l_quantity, l_extendedprice) * 1000000.0 + 0.5) / 1000000.0 AS qty_price_corr,
       floor(covar_samp(l_quantity, l_extendedprice) * 100.0 + 0.5) / 100.0 AS qty_price_covar,
       floor(stddev_samp(l_extendedprice) * 100.0 + 0.5) / 100.0 AS price_stddev,
       floor(regr_slope(l_extendedprice, l_quantity) * 1000000.0 + 0.5) / 1000000.0 AS price_per_qty_slope,
       floor(regr_intercept(l_extendedprice, l_quantity) * 100.0 + 0.5) / 100.0 AS price_intercept
FROM lineitem
GROUP BY 1
ORDER BY 1
""",
)
def lineitem_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (§2.4's remaining members): grouped
    Pearson correlation, sample covariance, sample stddev, and
    least-squares regression slope/intercept — the profile-and-model
    moments a feature pipeline computes per segment.

    Parity: both engines use one-pass co-moment accumulation whose float
    results differ only in summation order (measured ≤3e-10 absolute on
    this data); outputs are quantized well above that noise floor (1e-6
    for ratios, cents for magnitudes), the same discipline as fxr
    everywhere else. Scale: all five are single-pass partial-aggregable
    (sums of products) — one shuffle on the 3-value group key, map-side
    combined."""
    from fraud_detection_etl_project_spark.functions.rounding import fxr

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            fxr(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            fxr(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
            fxr(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            fxr(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias("price_per_qty_slope"),
            fxr(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 2).alias("price_intercept"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "user_rolling_median_value",
    oracle="""
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
SELECT user_id, event_id,
       floor(quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0
         AS rolling_median_10
FROM e
""",
)
def user_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over a bounded row frame (arbitrary aggregate
    as a window function — §2.5 beyond the built-in ranking/offset
    family): each event's median of the user's trailing 10 values.
    Spark ``percentile`` == DuckDB ``quantile_cont`` over the identical
    (ts, event_id)-ordered frame; quantized at 1e-6 like
    quantity_percentiles.

    Scale: the frame is ROWS-bounded (10), so per-row work and state are
    O(frame), not O(partition) — the shape that stays cheap on
    million-event users; one user_id shuffle drives the whole window."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    from fraud_detection_etl_project_spark.functions.rounding import fxr

    return e.select(
        "user_id",
        "event_id",
        fxr(F.expr("percentile(value, 0.5)").over(w), 6).alias("rolling_median_10"),
    )


# Portable Bloom filter: k=4 affine hashes over the 28-bit integer drawn
# from md5 of the normalized text (the exact idiom operators/dedup.py uses
# for MinHash), bit positions mod _BLOOM_M. Because both engines compute
# identical positions, the WHOLE result — including which non-members
# false-positive — is deterministic and value-checked, not just bounded.
_BLOOM_AB = [(37, 911), (101, 577), (193, 271), (419, 131)]
_BLOOM_P = 1_000_000_007
_BLOOM_M = 2048

_BLOOM_V_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(norm), {k + 1}, 1)) - 1) * {16 ** (6 - k)}"
    for k in range(7)
)
_BLOOM_POS_SQL = ", ".join(
    f"(({a} * v + {b}) % {_BLOOM_P}) % {_BLOOM_M}" for a, b in _BLOOM_AB
)


@query(
    "bloom_blocklist_filter",
    oracle=f"""
WITH d AS (SELECT doc_id, source,
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
           FROM documents),
v AS (SELECT doc_id, source, {_BLOOM_V_SQL} AS v FROM d),
pos AS (SELECT doc_id, source, UNNEST([{_BLOOM_POS_SQL}]) AS p FROM v),
bits AS (SELECT DISTINCT p FROM pos WHERE source = 'src0'),
flags AS (SELECT doc_id, bool_and(p IN (SELECT p FROM bits)) AS bloom_hit
          FROM pos GROUP BY doc_id),
members AS (SELECT DISTINCT v AS mv FROM v WHERE source = 'src0')
SELECT f.doc_id, v.v IN (SELECT mv FROM members) AS exact_member
FROM flags f JOIN v ON v.doc_id = f.doc_id
WHERE f.bloom_hit
""",
)
def bloom_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter blocklist membership — the scale pattern for screening
    a corpus against a huge deny-list WITHOUT shuffling the corpus: build
    a bit set from the blocklist's k hash positions (KB-sized at any
    blocklist cardinality), broadcast it, and probe row-locally; only
    flagged survivors (true members + the filter's false positives) need
    exact verification. Output = flagged docs with their exact-membership
    verdict, so the false-positive set itself is under value test.

    The filter is built from engine-portable arithmetic (md5 → 28-bit v →
    4 affine hashes mod 2048 — operators/dedup.py's MinHash idiom), which
    is what makes a value-level oracle possible where the JVM-internal
    bloom_filter_agg bit layout would not be. No false negatives by
    construction: a member's positions are all in the set it defined.

    Scale: the probe is a broadcast join on ≤2048 distinct positions
    (parameters, not data) + a 4-row-per-doc grouped bool_and; the
    corpus text never shuffles. At 100 TB, sizing m per expected
    blocklist cardinality keeps the false-positive rate chosen, and the
    exact-verify join runs only on the flagged fraction."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("norm"),
    )
    h = F.md5(F.col("norm"))
    v = None
    for k in range(7):
        term = (F.instr(F.lit("0123456789abcdef"), F.substring(h, k + 1, 1)) - 1).cast(
            "long"
        ) * F.lit(16 ** (6 - k))
        v = term if v is None else v + term
    dv = d.select("doc_id", "source", v.alias("v"))
    pos_cols = [
        ((F.lit(a) * F.col("v") + F.lit(b)) % F.lit(_BLOOM_P)) % F.lit(_BLOOM_M)
        for a, b in _BLOOM_AB
    ]
    posed = dv.select("doc_id", "source", F.explode(F.array(*pos_cols)).alias("p"))
    bits = (
        posed.filter(F.col("source") == "src0")
        .select("p")
        .distinct()
        .withColumn("in_bits", F.lit(True))
    )
    flags = (
        posed.join(F.broadcast(bits), "p", "left")
        .groupBy("doc_id")
        .agg(F.min(F.coalesce("in_bits", F.lit(False))).alias("bloom_hit"))
    )
    members = dv.filter(F.col("source") == "src0").select(F.col("v").alias("mv")).distinct()
    verdict = dv.join(F.broadcast(members), dv["v"] == F.col("mv"), "left").select(
        "doc_id", F.col("mv").isNotNull().alias("exact_member")
    )
    return (
        flags.filter(F.col("bloom_hit"))
        .join(verdict, "doc_id")
        .select("doc_id", "exact_member")
    )


@query(
    "user_event_type_maps",
    oracle="""
WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
SELECT user_id, event_type, n
FROM c WHERE n >= 10
""",
)
def user_event_type_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + higher-order map functions (§2.8): per-user
    event-type histograms built as real map columns
    (map_from_entries ∘ collect_list), thresholded with map_filter, and
    exploded back to rows. The map layer is exercised end-to-end but the
    OUTPUT is rows, not maps — map key order is engine- and
    partition-order-dependent, so maps themselves can never be in a
    value-hash; re-exploding restores a total row order the oracle (a
    plain grouped HAVING, semantically identical) can match.

    Scale: one user_id shuffle for the grouped collect; map_filter and
    explode are row-local. The collected map is event-type-cardinality
    sized (5 entries), not event-count sized."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("counts")
    )
    hot = mapped.select(
        "user_id", F.map_filter("counts", lambda k, v: v >= F.lit(10)).alias("hot")
    )
    return hot.select("user_id", F.explode("hot").alias("event_type", "n"))


@query(
    "doc_number_extraction",
    oracle="""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z]{6,}') AS hits FROM documents)
SELECT doc_id,
       CAST(len(hits) AS BIGINT) AS n_hits,
       CAST(len(list_distinct(hits)) AS BIGINT) AS n_distinct_hits,
       CAST(list_max(list_transform(hits, x -> len(x))) AS INT) AS longest_hit
FROM t WHERE len(hits) > 0
""",
)
def doc_number_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all + array reductions (§2.8's remaining regex
    member): pull every 6+-letter word out of each document and summarize
    (count, distinct count, longest match) — the typed-entity-extraction
    shape (IDs, quantities, dates) a curation pass runs before masking
    or feature-building; the pattern targets long words because the
    synthetic fixture text contains no digits.

    Scale: entirely row-local (no shuffle) — regex and the array
    reductions run inside whole-stage codegen; only the 3-int summary
    leaves the row."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_extract_all("text", F.lit("[a-z]{6,}"), 0).alias("hits")
    )
    return d.filter(F.size("hits") > 0).select(
        "doc_id",
        F.size("hits").cast("bigint").alias("n_hits"),
        F.size(F.array_distinct("hits")).cast("bigint").alias("n_distinct_hits"),
        F.array_max(F.transform("hits", lambda x: F.length(x))).cast("int").alias("longest_hit"),
    )


# ---------------------------------------------------------------------------
# Behavioral sequence analytics: Markov transitions over per-user streams
# ---------------------------------------------------------------------------


@query(
    "markov_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (SELECT prev_type, event_type AS next_type, count(*) AS n
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, sum(n) AS total FROM pairs GROUP BY 1)
SELECT p.prev_type, p.next_type,
       CAST(p.n AS BIGINT) AS n,
       floor(CAST(p.n AS DOUBLE) * 1000000.0 / t.total + 0.5) / 1000000.0 AS p_next
FROM pairs p JOIN tot t USING (prev_type)
""",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    — the standard behavioral model behind next-action prediction and
    anomaly scoring (improbable transitions). lag() over (user, time)
    forms adjacent pairs; one grouped count + a per-source total gives
    the row-stochastic matrix. Probabilities are quantized to 1e-6 with
    the fxr formula so the whole matrix is value-checked cross-engine.

    Scale: the lag window shuffles once on user_id (each user's events
    sort locally — no global sort); the matrix itself is
    |event_types|² rows, a parameter-sized result regardless of stream
    length, and the pair count is map-side combinable. The per-source
    total is a WINDOW over the already-tiny pair frame, not a second
    aggregation branch — a grouped-total join would make Catalyst
    re-derive the whole scan+lag pipeline for the totals leg (no
    cross-branch reuse), doubling the stream scan at 100 TB. Tie-break
    on event_id makes same-timestamp ordering deterministic, so the
    oracle matches row-for-row."""
    from fraud_detection_etl_project_spark.functions.rounding import fxr

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("prev_type"))
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        fxr(F.col("n").cast("double") / total, 6).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient (reuses the degree-oriented
# triangle machinery)
# ---------------------------------------------------------------------------


@query(
    "part_clustering_coefficients",
    bench=True,
    oracle=f"""
WITH e AS ({_EDGES_SQL}),
deg AS (SELECT v, count(*) AS d FROM
          (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)
        GROUP BY v),
tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
                  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tn AS (SELECT v, count(*) AS t FROM
         (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
       GROUP BY v)
SELECT d.v AS part, CAST(d.d AS BIGINT) AS degree,
       CAST(coalesce(tn.t, 0) AS BIGINT) AS n_triangles,
       floor(CAST(2 * coalesce(tn.t, 0) AS DOUBLE) * 1000000.0 / (d.d * (d.d - 1)) + 0.5) / 1000000.0 AS lcc
FROM deg d LEFT JOIN tn ON tn.v = d.v
WHERE d.d >= 2
""",
)
def part_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part: 2·triangles(v) / (d(v)·(d(v)-1))
    — how tightly each node's neighborhood closes, the per-node refinement
    of the global triangle count (community cores vs bridge hubs).

    Reuses orient_by_degree + the wedge-close join: each closed triangle
    is attributed to its THREE corners with one posexplode-free array
    explode, then a grouped count per node — same O(sqrt m) fan-out bound
    as the global count, one extra narrow shuffle for the attribution.
    The id-oriented oracle enumerates the same triangles (orientation-
    invariant set), and the lcc ratio is fxr-quantized for cross-engine
    value equality. Nodes with degree < 2 (undefined lcc) are excluded."""
    from fraud_detection_etl_project_spark.functions.rounding import fxr

    oe = orient_by_degree(_copurchase_edges(spark, sf_dir))
    e1 = oe.select(F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("deg_hi").alias("deg_b"))
    e2 = oe.select(F.col("lo").alias("a2"), F.col("hi").alias("c"), F.col("deg_hi").alias("deg_c"))
    wedges = e1.join(
        e2,
        (F.col("a") == F.col("a2"))
        & (
            (F.col("deg_b") < F.col("deg_c"))
            | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
        ),
    ).select("a", "b", "c")
    closed = wedges.join(
        oe.select(F.col("lo").alias("b"), F.col("hi").alias("c")), ["b", "c"], "inner"
    )
    tri_n = (
        closed.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    deg = (
        oe.select(F.col("lo").alias("part"))
        .unionAll(oe.select(F.col("hi").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_n, "part", "left")
        .select(
            "part",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
            fxr(
                (F.lit(2) * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("lcc"),
        )
    )


@query(
    "concurrent_session_pairs",
    oracle=f"""
WITH s AS ({_SESSIONS_SQL})
SELECT a.user_id AS user_a, b.user_id AS user_b,
       greatest(a.session_start, b.session_start) AS overlap_start,
       least(a.session_end, b.session_end) AS overlap_end,
       CAST((epoch_us(least(a.session_end, b.session_end))
             - epoch_us(greatest(a.session_start, b.session_start))) // 1000000 AS BIGINT)
         AS overlap_seconds
FROM s a JOIN s b
  ON a.user_id < b.user_id
 AND a.session_start <= b.session_end
 AND b.session_start <= a.session_end
""",
)
def concurrent_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP JOIN, scalably: every cross-user pair of
    concurrent sessions with its exact overlap window — the generic
    range-join shape behind co-presence, ad-attribution windows, and
    conflict detection (sweep-line session_concurrency gives per-hour
    COUNTS; this gives the PAIRS).

    Scale plan: the naive formulation is an inequality-only self-join —
    O(n²) comparisons and, in Spark, a nested-loop join. Instead each
    session explodes into the hour buckets it spans (bounded fan-out:
    gap-based sessions are short relative to buckets) and the self-join
    runs as an EQUI-join on the bucket, with the true overlap predicate
    re-checked and multi-bucket duplicates removed by a row-local filter
    (r12): a pair is emitted only from the hour bucket containing its
    overlap_start, which both sessions span — exactly one copy per
    session pair, no output-sized distinct shuffle. The DuckDB
    oracle runs the naive inequality join (its IEJoin handles fixture
    scale), so the bucketed rewrite is value-checked pair-for-pair.
    Overlap seconds are integer epoch arithmetic — exact cross-engine.

    Scaling-factor note: the OUTPUT is inherently quadratic in per-hour
    concurrency — N× more users in the same time window means ~N²× more
    overlapping pairs (measured: 10× shard-scaled input → 128× pairs,
    17× wall — sublinear per pair emitted). Reading the bench scaling
    factor as if the operator were output-linear would misdiagnose
    this; per-pair throughput is the honest metric, and at 100 TB the
    consumer caps it with a concurrency threshold or per-bucket top-k
    before materializing pairs."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    sessions = (
        e.withColumn("new_s", F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    bucketed = sessions.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("interval 1 hour"),
            )
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    # r12: multi-bucket duplicate removal is a row-local FILTER, not a
    # DISTINCT — an overlapping pair meets in every hour bucket its
    # overlap window spans, so emitting it only from the bucket holding
    # overlap_start (both sessions span that hour by construction) keeps
    # exactly one copy per session pair. This deletes the output-sized
    # distinct exchange — the only shuffle proportional to the (output-
    # quadratic) pair volume. The capped variant below CANNOT use this:
    # its per-bucket top-32 cap may keep a pair in a later shared bucket
    # but not in the overlap-start one, so its dedup stays a distinct.
    # The filter assumes an hour-aligned session timezone, in which the
    # date_trunc("hour") below lands on one of the 1-hour buckets above.
    # The session is pinned to UTC by session.ENGINE_CONFS and re-pinned at
    # read time by sources.parquet._REQUIRED_CONFS;
    # tests/test_entry_contract.py::test_queries_survive_bare_session
    # asserts the re-pin.
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s_start") <= F.col("b.s_end"))
        & (F.col("b.s_start") <= F.col("a.s_end"))
        & (
            F.date_trunc("hour", F.greatest("a.s_start", "b.s_start"))
            == F.col("a.bucket")
        ),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        F.greatest("a.s_start", "b.s_start").alias("overlap_start"),
        F.least("a.s_end", "b.s_end").alias("overlap_end"),
    )
    return pairs.select(
        "user_a",
        "user_b",
        "overlap_start",
        "overlap_end",
        F.expr("(unix_micros(overlap_end) - unix_micros(overlap_start)) div 1000000")
        .cast("bigint")
        .alias("overlap_seconds"),
    )


_CSP_CAP = 32  # sessions kept per hour bucket before pair materialization


@query(
    "concurrent_session_pairs_capped",
    bench=True,
    oracle=f"""
WITH s AS ({_SESSIONS_SQL}),
b AS (SELECT user_id, session_start, session_end,
             UNNEST(generate_series(date_trunc('hour', session_start),
                                    date_trunc('hour', session_end),
                                    INTERVAL 1 HOUR)) AS bucket
      FROM s),
kept AS (SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY bucket
                                        ORDER BY session_start, user_id) AS rnk
           FROM b)
         WHERE rnk <= {_CSP_CAP}),
pairs AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b,
         greatest(a.session_start, b.session_start) AS overlap_start,
         least(a.session_end, b.session_end) AS overlap_end
  FROM kept a JOIN kept b
    ON a.bucket = b.bucket
   AND a.user_id < b.user_id
   AND a.session_start <= b.session_end
   AND b.session_start <= a.session_end)
SELECT user_a, user_b, overlap_start, overlap_end,
       CAST((epoch_us(overlap_end) - epoch_us(overlap_start)) // 1000000 AS BIGINT)
         AS overlap_seconds
FROM pairs
""",
)
def concurrent_session_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap pairs with a PER-BUCKET CONCURRENCY CAP — the
    production form of concurrent_session_pairs. The uncapped query's
    output is inherently quadratic in per-hour concurrency (10× users →
    ~128× pairs in the r3 scaling bench), so materializing it unbounded
    is a scale bug in the CONSUMER's plan even when the join itself is
    bucketed. Here each hour bucket deterministically keeps its first
    32 sessions (earliest session_start, user_id tiebreak — a total
    order: a user's sessions are disjoint, so no two kept rows tie) and
    only those enter pair generation; per-bucket work and output are
    both bounded by 32², making the whole query linear in the number
    of hour buckets — the factor the scaling bench can hold to ~data×.

    The cap is a top-k window (WindowGroupLimit pushes the rank filter
    into the shuffle read at scale), and the DuckDB oracle replays the
    identical deterministic cap, so the capped pair set is value-checked
    pair-for-pair; overlap arithmetic is integer epoch math, exact
    cross-engine."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    sessions = (
        e.withColumn("new_s", F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    bucketed = sessions.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("interval 1 hour"),
            )
        ).alias("bucket"),
    )
    kept = (
        bucketed.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("bucket").orderBy("s_start", "user_id")),
        )
        .filter(F.col("rnk") <= _CSP_CAP)
        .drop("rnk")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s_start") <= F.col("b.s_end"))
        & (F.col("b.s_start") <= F.col("a.s_end")),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        F.greatest("a.s_start", "b.s_start").alias("overlap_start"),
        F.least("a.s_end", "b.s_end").alias("overlap_end"),
    ).distinct()
    return pairs.select(
        "user_a",
        "user_b",
        "overlap_start",
        "overlap_end",
        F.expr("(unix_micros(overlap_end) - unix_micros(overlap_start)) div 1000000")
        .cast("bigint")
        .alias("overlap_seconds"),
    )


_RCTE_SQL = f"""
WITH RECURSIVE
e AS ({_EDGES_SQL}),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
seeds AS (SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#1'),
reach(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT s.dst, r.dist + 1
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.dist < 3
)
SELECT node, CAST(min(dist) AS INT) AS dist
FROM reach GROUP BY node
"""


@query("sql_recursive_reachability", oracle=_RCTE_SQL)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 `WITH RECURSIVE`) on the SQL surface:
    3-hop reachability with min hop distance over the co-purchase graph —
    the SAME ANSI text runs on Spark SQL and on the DuckDB oracle
    verbatim, proving the declarative recursive surface beside the
    DataFrame-loop equivalent (operators/graph.bfs_khop, part_bfs_2hop).

    Scale notes: the UNION ALL recursion enumerates bounded-depth PATHS
    (the dist < 3 guard terminates cycles), then reduces to min-dist per
    node — path-explosion-prone on dense graphs, which is exactly why
    the operator library's frontier BFS (left-anti against settled
    nodes, work bounded by NEW adjacency per hop) is the 100 TB path;
    keeping both surfaces value-locked to each other is the point of
    this query. The support>=2 edge derivation keeps the fixture graph
    sparse enough for the declarative form."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RCTE_SQL)


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (temporal hold-out eval)
# ---------------------------------------------------------------------------

_MK_SPLIT = "2024-01-22"
_MK_SCALE = 1_000_000


_MK_EVAL_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type, ts,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_ts
  FROM events),
pairs AS (SELECT event_type AS prev, nxt, nxt_ts FROM seq WHERE nxt IS NOT NULL),
train AS (
  SELECT prev, nxt, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs WHERE nxt_ts < TIMESTAMP '{_MK_SPLIT} 00:00:00' GROUP BY 1, 2),
pred AS (
  SELECT prev, nxt AS predicted FROM (
    SELECT prev, nxt, row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, nxt ASC) AS rn
    FROM train) WHERE rn = 1),
test AS (SELECT prev, nxt FROM pairs WHERE nxt_ts >= TIMESTAMP '{_MK_SPLIT} 00:00:00'),
ev AS (SELECT t.prev, t.nxt, p.predicted FROM test t JOIN pred p ON p.prev = t.prev)
SELECT CAST(count(*) AS BIGINT) AS n_test_transitions,
       CAST(sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(floor({_MK_SCALE}.0 * (CAST(sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) + 0.5) AS BIGINT) AS q_accuracy
FROM ev
"""


@query("markov_prediction_accuracy", oracle=_MK_EVAL_ORACLE)
def markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal hold-out evaluation of the first-order Markov model
    (``markov_event_transitions``): train per-state argmax next-event
    predictions on transitions completing before 2024-01-22, then measure top-1
    accuracy on transitions completing after — the eval loop that turns
    the transition matrix from a descriptive artifact into a validated
    predictor, with the same leakage-safe time split as the recommender
    eval.

    Scale: one lag window per user (single shuffle on user_id — the same
    pass the transition matrix already needs) feeds BOTH splits; the
    trained argmax table is |event_types| rows and broadcasts onto the
    test transitions. Accuracy is a two-counter final aggregate.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
        F.lead("ts").over(w).alias("nxt_ts"),
    ).filter(F.col("nxt").isNotNull())
    split = F.lit(_MK_SPLIT).cast("timestamp")
    train = (
        seq.filter(F.col("nxt_ts") < split)
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wr = Window.partitionBy("prev").orderBy(F.col("cnt").desc(), F.col("nxt").asc())
    pred = (
        train.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    test = seq.filter(F.col("nxt_ts") >= split).select("prev", "nxt")
    ev = test.join(F.broadcast(pred), "prev")
    correct = F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)).cast("bigint")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_transitions"),
        correct.alias("n_correct"),
        F.floor(
            F.lit(float(_MK_SCALE))
            * (
                F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_accuracy"),
    )


# ---------------------------------------------------------------------------
# k-truss edge peeling over the co-purchase graph
# ---------------------------------------------------------------------------

_KT_K = 3  # 3-truss: every surviving edge sits in >= 1 triangle (the sf-fixture
# co-purchase graph tops out at support 2, so higher trusses are empty there;
# raise K on denser production graphs — the peel loop is K-agnostic)
_KT_ROUNDS = 2


def _kt_support_sql(e: str) -> str:
    """Per-edge triangle support over canonical (src < dst) edges: every
    triangle a<b<c contributes to its three edges."""
    return f"""(
  SELECT src, dst, CAST(count(*) AS BIGINT) AS support FROM (
    SELECT t.a AS src, t.b AS dst FROM (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {e} e1 JOIN {e} e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN {e} e3 ON e3.src = e1.dst AND e3.dst = e2.dst) t
    UNION ALL
    SELECT t.a, t.c FROM (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {e} e1 JOIN {e} e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN {e} e3 ON e3.src = e1.dst AND e3.dst = e2.dst) t
    UNION ALL
    SELECT t.b, t.c FROM (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {e} e1 JOIN {e} e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN {e} e3 ON e3.src = e1.dst AND e3.dst = e2.dst) t)
  GROUP BY 1, 2)"""


def _ktruss_oracle() -> str:
    parts = [f"e0 AS ({_EDGES_SQL})"]
    for r in range(1, _KT_ROUNDS + 1):
        parts.append(
            f"s{r} AS (SELECT * FROM {_kt_support_sql(f'e{r - 1}')} WHERE support >= {_KT_K - 2})"
        )
        parts.append(f"e{r} AS (SELECT src, dst FROM s{r})")
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT src, dst, support FROM s{_KT_ROUNDS}"
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Triangle support per canonical edge: enumerate a<b<c triangles
    with the wedge-close join, then count each triangle into its three
    edges. ``e`` is referenced three times in the join chain."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")))
        .join(e3, (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")))
        .select(F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c"))
    )
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
    )
    return sides.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("support"))


@query("copurchase_ktruss_edges", oracle=_ktruss_oracle(), bench=True)
def copurchase_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-truss cohesive-subgraph extraction: iteratively peel
    co-purchase edges supported by fewer than {k}-2 triangles ({r}
    rounds) — the standard community-core refinement one level stronger
    than k-core (a k-core bounds degrees; a k-truss bounds TRIANGLE
    support, so bridges and hub spokes peel away while genuinely
    clustered product groups survive). Emits the surviving edges with
    their final-round support.

    Scale: each round is one wedge-close triangle enumeration over the
    CURRENT (already-peeled) edge frame — monotonically
    shrinking work — followed by a 3-way unionAll projection and one
    combine-aggregated count; everything joins on 2-int edge keys. The
    wedge fan-out takes the same degree-orientation bound as the
    triangle counter when graphs are power-law (orient_by_degree)."""
    e = _copurchase_edges(spark, sf_dir)
    sup = None
    for _ in range(_KT_ROUNDS):
        sup = _edge_support(e).filter(F.col("support") >= _KT_K - 2)
        e = sup.select("src", "dst")
    return sup


copurchase_ktruss_edges.__doc__ = copurchase_ktruss_edges.__doc__.format(k=_KT_K, r=_KT_ROUNDS)


# ---------------------------------------------------------------------------
# Luby maximal-independent-set rounds over the co-purchase graph
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 2
_MIS_PRI_MOD = 1_000_000_000
_MIS_PRI_SQL = (
    f"CAST(('0x' || substring(md5('mis1|' || CAST({{v}} AS VARCHAR)), 1, 6)) AS BIGINT) % {_MIS_PRI_MOD}"
)


def _mis_oracle() -> str:
    parts = [
        f"e1 AS ({_EDGES_SQL})",
        """n1 AS (SELECT src AS v FROM e1 UNION SELECT dst FROM e1)""",
    ]
    sel = []
    for r in range(1, _MIS_ROUNDS + 1):
        pri_v = _MIS_PRI_SQL.format(v="n.v")
        pri_u = _MIS_PRI_SQL.format(v="x.u")
        parts.append(f"""
adj{r} AS (SELECT src AS v, dst AS u FROM e{r} UNION ALL SELECT dst, src FROM e{r}),
mn{r} AS (SELECT x.v, min(({pri_u}) * {_MIS_PRI_MOD} + x.u) AS mnp
         FROM adj{r} x GROUP BY 1),
sel{r} AS (SELECT n.v FROM n{r} n LEFT JOIN mn{r} m ON m.v = n.v
          WHERE m.v IS NULL OR ({pri_v}) * {_MIS_PRI_MOD} + n.v < m.mnp),
rem{r} AS (SELECT v FROM sel{r} UNION SELECT x.u FROM adj{r} x JOIN sel{r} s ON s.v = x.v),
e{r + 1} AS (SELECT e.src, e.dst FROM e{r} e
            WHERE NOT EXISTS (SELECT 1 FROM rem{r} d WHERE d.v = e.src)
              AND NOT EXISTS (SELECT 1 FROM rem{r} d WHERE d.v = e.dst)),
n{r + 1} AS (SELECT n.v FROM n{r} n WHERE NOT EXISTS (SELECT 1 FROM rem{r} d WHERE d.v = n.v))""")
        sel.append(f"SELECT v AS part, CAST({r} AS BIGINT) AS round_selected FROM sel{r}")
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL ".join(sel)


@query("copurchase_luby_mis", oracle=_mis_oracle())
def copurchase_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby's parallel maximal-independent-set algorithm (2 rounds) over
    the co-purchase graph: give every node a deterministic md5 priority;
    select every node whose (priority, id) beats ALL of its neighbors
    (isolated nodes select vacuously), remove winners plus their
    neighborhoods, repeat — the foundational symmetry-breaking primitive
    behind parallel graph coloring / scheduling, converging in O(log n)
    rounds w.h.p.; each round's selection here is value-oracle-checked.

    Scale: each round is one adjacency expansion (unionAll of both edge
    directions), one min-aggregation on the node key (map-side combined),
    a node-vs-min comparison, and two anti-joins to shrink the graph —
    all hash-partitioned on int node keys, with the frame monotonically
    shrinking per round (each round removes winners AND their entire
    neighborhoods). The md5 priorities make every round reproducible
    across engines and partitionings.
    """
    # persist kept: cold A/B, sf0.1, 4 cores, one query per process, 5 pairs: 11.69 s with vs 13.83 s without this site (medians), won 5/5, parent IQR 1.12 s
    e = _copurchase_edges(spark, sf_dir).persist()
    nodes = e.select(F.col("src").alias("v")).union(e.select(F.col("dst").alias("v"))).distinct()

    def pri(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("mis1|"), col.cast("string")).cast("binary")), 1, 6
                ),
                16,
                10,
            ).cast("bigint")
            % _MIS_PRI_MOD
        )

    out = None
    for r in range(1, _MIS_ROUNDS + 1):
        adj = e.select(F.col("src").alias("v"), F.col("dst").alias("u")).unionAll(
            e.select(F.col("dst").alias("v"), F.col("src").alias("u"))
        )
        mn = adj.groupBy("v").agg(
            F.min(pri(F.col("u")) * _MIS_PRI_MOD + F.col("u")).alias("mnp")
        )
        sel = (
            nodes.join(mn, "v", "left")
            .filter(
                F.col("mnp").isNull()
                | ((pri(F.col("v")) * _MIS_PRI_MOD + F.col("v")) < F.col("mnp"))
            )
            .select("v")
            # persist kept: cold A/B as above: 11.69 s with vs 22.97 s without this site, won 5/5
            .persist()
        )
        rnd = sel.select(
            F.col("v").alias("part"), F.lit(r).cast("bigint").alias("round_selected")
        )
        out = rnd if out is None else out.unionByName(rnd)
        removed = sel.union(
            adj.join(sel, adj.v == sel.v, "left_semi").select(F.col("u").alias("v"))
        ).distinct()
        e = (
            e.join(removed.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(removed.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        nodes = nodes.join(removed, "v", "left_anti")
    return out


# ---------------------------------------------------------------------------
# HyperBall: HLL-register neighbourhood function (2-hop reach estimate)
# ---------------------------------------------------------------------------

# 16 HLL buckets (b=4); node hash = first 15 hex digits of md5(str(node)) as
# a 60-bit int: low 4 bits pick the bucket, the remaining 56 bits feed the
# rho (lowest-set-bit position) register. alpha_16 * m^2 with the 2^40
# fixed-point scaling folded into one Python literal so Spark and DuckDB
# evaluate the identical single division.
_HB_ALPHA16_NUM = repr(0.673 * 256 * float(2**40))
_HB_H60_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(CAST(node AS VARCHAR)), {k + 1}, 1)) - 1) * {16 ** (14 - k)}"
    for k in range(15)
)

_HYPERBALL_ORACLE = f"""
WITH e AS ({_EDGES_SQL}),
d AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst AS u, src AS v FROM e),
n AS (SELECT DISTINCT u AS node FROM d),
h AS (SELECT node, {_HB_H60_SQL} AS h60 FROM n),
r0 AS (
  SELECT node, h60 % 16 AS bucket,
         CASE WHEN h60 // 16 = 0 THEN 57
              ELSE CAST(log2((h60 // 16) & -(h60 // 16)) AS INT) + 1 END AS rho
  FROM h
),
s1 AS (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM r0
    UNION ALL
    SELECT d.v AS node, r0.bucket, r0.rho FROM d JOIN r0 ON r0.node = d.u
  ) GROUP BY 1, 2
),
s2 AS (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM s1
    UNION ALL
    SELECT d.v AS node, s1.bucket, s1.rho FROM d JOIN s1 ON s1.node = d.u
  ) GROUP BY 1, 2
),
z AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(rho) AS BIGINT) AS register_sum,
         CAST(sum(CAST(1 AS BIGINT) << (40 - least(rho, 40))) AS BIGINT) AS zpart
  FROM s2 GROUP BY 1
)
SELECT node, n_buckets, register_sum,
       floor({_HB_ALPHA16_NUM} / CAST(zpart + (16 - n_buckets) * {2 ** 40} AS DOUBLE) * 1000.0 + 0.5) / 1000.0
         AS ball2_est
FROM z
"""


@query("copurchase_hyperball_reach", oracle=_HYPERBALL_ORACLE)
def copurchase_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi-Vigna) over the co-purchase graph: per-node HLL
    registers for the radius-2 ball, i.e. an O(m)-per-round estimate of
    the neighbourhood function |B(v, 2)| — the primitive behind
    distributed effective-diameter and centrality computations that exact
    BFS cannot do at scale (it would need a frontier SET per node;
    HyperBall needs 16 registers per node, mergeable by elementwise max).

    Register state is kept sparse — rows (node, bucket, max_rho), at most
    16 per node — and each round is one edges-to-state hash join plus a
    grouped max with map-side partial aggregation. The HLL estimate is
    fixed-point: Z = sum of 2^(40-rho) in exact int64, one IEEE division
    by the alpha*m^2 literal, so DuckDB reproduces every estimate
    bit-for-bit (raw HLL estimator; the linear-counting small-range
    correction needs ln() whose libm rounding is not portable, so
    n_buckets rides along for clients to apply it).

    Scale: state is 16 rows/node max vs O(ball) for exact BFS; each
    iteration shuffles (node, bucket, rho) ints only. Registers are
    idempotent under max, so stragglers/retries are safe, and the
    iteration count is the graph's effective diameter (~log n), not n.
    Cites reference Fraud_Detection_ETL_project semantics: none — this is
    an engine-side graph-analytics addition (SURVEY §2 graph family).
    """
    e = _copurchase_edges(spark, sf_dir)
    d = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    )
    nodes = d.select(F.col("u").alias("node")).distinct()
    hexd = F.md5(F.col("node").cast("string").cast("binary"))
    h60 = None
    for k in range(15):
        term = (F.instr(F.lit("0123456789abcdef"), F.substring(hexd, k + 1, 1)) - 1).cast("long") * F.lit(
            16 ** (14 - k)
        )
        h60 = term if h60 is None else h60 + term
    rest = (F.col("h60") / F.lit(16)).cast("long")  # floor division: h60 >= 0
    state = (
        nodes.withColumn("h60", h60)
        .withColumn("bucket", F.col("h60") % 16)
        .withColumn(
            "rho",
            F.when(rest == 0, F.lit(57)).otherwise(
                (F.log2(F.expr("(h60 div 16) & -(h60 div 16)")).cast("int") + F.lit(1))
            ),
        )
        .select("node", "bucket", "rho")
    )
    for _ in range(2):
        flowed = d.join(state, d["u"] == state["node"]).select(
            d["v"].alias("node"), state["bucket"], state["rho"]
        )
        state = state.unionAll(flowed).groupBy("node", "bucket").agg(F.max("rho").alias("rho"))
    zpart = F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - least(rho, 40) AS INT))")).cast("long")
    agg = state.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("rho").cast("bigint").alias("register_sum"),
        zpart.alias("zpart"),
    )
    denom = (F.col("zpart") + (F.lit(16) - F.col("n_buckets")) * F.lit(2 ** 40)).cast("double")
    return agg.select(
        "node",
        "n_buckets",
        "register_sum",
        fxr(F.lit(float(_HB_ALPHA16_NUM)) / denom, 3).alias("ball2_est"),
    )


# ---------------------------------------------------------------------------
# Partition modularity over the co-purchase graph (community quality)
# ---------------------------------------------------------------------------

_MOD_SCALE = 1_000_000


@query(
    "copurchase_brand_modularity",
    oracle=f"""
WITH e AS ({_EDGES_SQL}),
b AS (SELECT p_partkey, p_brand FROM part),
eb AS (SELECT ba.p_brand AS brand_src, bb.p_brand AS brand_dst
       FROM e JOIN b ba ON ba.p_partkey = e.src
              JOIN b bb ON bb.p_partkey = e.dst),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eb),
intra AS (SELECT brand_src AS brand, CAST(count(*) AS BIGINT) AS intra_edges
          FROM eb WHERE brand_src = brand_dst GROUP BY 1),
deg AS (SELECT brand, CAST(count(*) AS BIGINT) AS degree_sum FROM (
          SELECT brand_src AS brand FROM eb
          UNION ALL SELECT brand_dst AS brand FROM eb) GROUP BY 1)
SELECT deg.brand,
       COALESCE(intra.intra_edges, 0) AS intra_edges,
       deg.degree_sum,
       CAST(floor({_MOD_SCALE}.0 * (CAST(COALESCE(intra.intra_edges, 0) AS DOUBLE) / m.m
              - (CAST(deg.degree_sum AS DOUBLE) / (2.0 * m.m))
                * (CAST(deg.degree_sum AS DOUBLE) / (2.0 * m.m))) + 0.5) AS BIGINT)
         AS q_contrib
FROM deg LEFT JOIN intra ON intra.brand = deg.brand, m
""",
)
def copurchase_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of a node partition over the co-purchase graph —
    here the brand partition, answering "are co-purchases
    brand-assortative?": per community c the contribution m_c/m -
    (d_c/2m)^2 (intra-edge share minus the share a degree-preserving
    random graph would give), summing to the partition's modularity Q.
    This is the community-QUALITY metric the graph stack was missing
    next to its community FINDERS (label propagation, CC, k-core) — the
    score Louvain-style methods greedily optimize, usable to compare any
    two partitions of the same graph.

    Scale: one edge-list scan joined twice against the broadcast-sized
    part dimension, then two community-keyed aggregations (map-side
    combined) over brand keys — community-count-sized frames everywhere
    after the scan; m is a 1-row broadcast. Per-brand integers
    (intra_edges, degree_sum) are exact; only the final contribution is
    a quantized double (floor at 1e6, the repo-wide parity idiom)."""
    e = _copurchase_edges(spark, sf_dir)
    brand = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    eb = (
        e.join(F.broadcast(brand.withColumnRenamed("p_brand", "brand_src")),
               F.col("p_partkey") == F.col("src"))
        .drop("p_partkey")
        .join(F.broadcast(brand.withColumnRenamed("p_brand", "brand_dst")),
              F.col("p_partkey") == F.col("dst"))
        .select("brand_src", "brand_dst")
        # persist kept: cold A/B, sf0.1, 4 cores, 5 pairs: 3.37 s with vs 4.21 s without (medians), won 5/5, parent IQR 0.05 s
        .persist()
    )
    m = eb.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        eb.filter(F.col("brand_src") == F.col("brand_dst"))
        .groupBy(F.col("brand_src").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    deg = (
        eb.select(F.col("brand_src").alias("brand"))
        .unionAll(eb.select(F.col("brand_dst").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree_sum"))
    )
    frac = F.col("degree_sum").cast("double") / (F.lit(2.0) * F.col("m"))
    contrib = F.col("intra_edges").cast("double") / F.col("m") - frac * frac
    return (
        deg.join(intra, "brand", "left")
        .withColumn("intra_edges", F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "intra_edges",
            "degree_sum",
            F.floor(F.lit(float(_MOD_SCALE)) * contrib + F.lit(0.5)).cast("bigint").alias("q_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Personalized PageRank: proximity to a seed set on the copurchase graph
# ---------------------------------------------------------------------------

_PPR_D = 0.85
_PPR_BASE = 1.0 - _PPR_D
_PPR_SEEDS = 5
_PPR_EW = 1.0 / _PPR_SEEDS
_PPR_ITERS = 3
_PPR_SCALE = float(10**12)

_PPR_EW_SQL = f"""
SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {_EDGE_SUPPORT}
"""


def _ppr_oracle() -> str:
    head = f"""
WITH ew AS ({_PPR_EW_SQL}),
sym AS (SELECT src, dst, w FROM ew UNION ALL SELECT dst AS src, src AS dst, w FROM ew),
nodes AS (SELECT DISTINCT src AS node FROM sym),
deg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS deg FROM sym GROUP BY 1),
seeds AS (SELECT node FROM deg ORDER BY deg DESC, node ASC LIMIT {_PPR_SEEDS}),
outsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM sym GROUP BY src),
p AS (SELECT s.src, s.dst, CAST(s.w AS DOUBLE) / CAST(o.out_w AS DOUBLE) AS p
      FROM sym s JOIN outsum o ON s.src = o.src),
r0 AS (SELECT n.node, CASE WHEN sd.node IS NOT NULL THEN {_PPR_EW!r} ELSE 0.0 END AS r
       FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node)"""
    steps = []
    for i in range(1, _PPR_ITERS + 1):
        steps.append(f"""
r{i} AS (SELECT n.node,
               floor(({_PPR_BASE!r} * (CASE WHEN sd.node IS NOT NULL THEN {_PPR_EW!r} ELSE 0.0 END)
                      + {_PPR_D!r} * coalesce(s.in_r, 0.0)) * {_PPR_SCALE!r} + 0.5) / {_PPR_SCALE!r} AS r
        FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node
        LEFT JOIN (
            SELECT p.dst AS node,
                   sum(CAST(floor(r.r * p.p * {_PPR_SCALE!r} + 0.5) AS BIGINT)) / {_PPR_SCALE!r} AS in_r
            FROM p JOIN r{i - 1} r ON p.src = r.node GROUP BY p.dst) s
          ON n.node = s.node)"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
SELECT node AS part, r AS ppr FROM r{_PPR_ITERS} WHERE r > 0
"""
    )


@query("copurchase_personalized_ppr", oracle=_ppr_oracle())
def copurchase_personalized_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the copurchase graph: teleport mass
    concentrates on the 5 highest-weighted-degree parts (tie-break lowest
    id), so ranks measure random-walk proximity to those seeds — the
    "customers who bought these also orbit..." / fraud-ring-expansion
    primitive, complementing global pagerank's popularity score.

    Scale shape: the seed set is 5 scalars (parameters, not data); the
    recurrence is pagerank's edge-shuffle shape — one src-keyed join + one
    dst-keyed grouped sum per iteration over the AGGREGATED edge list,
    with the operator's adaptive local path for graphs (like this 3.5k-
    edge one) far below the distributed threshold. Quantized 1e-12
    iterations make the 3-step recurrence bit-identical to the oracle's
    unrolled CTE chain (operators/graph.personalized_pagerank)."""
    from fraud_detection_etl_project_spark.operators.graph import personalized_pagerank

    ew = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .alias("a")
        .join(
            _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_SUPPORT)
    )
    sym = ew.unionAll(ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")).persist()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("deg"))
    seeds = [
        r["node"]
        for r in deg.orderBy(F.col("deg").desc(), F.col("node").asc()).limit(_PPR_SEEDS).collect()
    ]
    ranks = personalized_pagerank(
        nodes,
        sym.withColumnRenamed("w", "weight"),
        seeds,
        iterations=_PPR_ITERS,
        damping=_PPR_D,
        quant=12,
    )
    # The operator's local path returns driver-built rows, a plan with no
    # children that never reads sym: release it. The distributed path's
    # lazy result reads sym in every iteration, so its blocks stay.
    if ranks._jdf.queryExecution().logical().children().isEmpty():
        sym.unpersist()
    return ranks.filter(F.col("r") > 0).select(F.col("node").alias("part"), F.col("r").alias("ppr"))


# ---------------------------------------------------------------------------
# Neighborhood Jaccard node similarity (structural equivalence)
# ---------------------------------------------------------------------------

_NJ_MIN_COMMON = 2
_NJ_MIN_J = 0.2

_NJ_SQL = f"""
WITH ew AS ({_PPR_EW_SQL}),
nbrs AS (SELECT src AS node, dst AS nbr FROM ew UNION ALL SELECT dst AS node, src AS nbr FROM ew),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1),
common AS (
  SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS common
  FROM nbrs a JOIN nbrs b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY 1, 2
  HAVING count(*) >= {_NJ_MIN_COMMON})
SELECT c.u, c.v, c.common,
       floor(CAST(c.common AS DOUBLE) / CAST(du.deg + dv.deg - c.common AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard_q
FROM common c
JOIN deg du ON c.u = du.node
JOIN deg dv ON c.v = dv.node
WHERE CAST(c.common AS DOUBLE) / CAST(du.deg + dv.deg - c.common AS DOUBLE) >= {_NJ_MIN_J!r}
"""


@query("part_neighborhood_jaccard", oracle=_NJ_SQL)
def part_neighborhood_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-equivalence mining: part pairs whose copurchase
    NEIGHBORHOODS overlap (Jaccard of neighbor sets >= 0.2 with >= 2 shared
    neighbors) — pairs that are interchangeable in baskets even if never
    bought together, the link-prediction / substitute-product signal that
    direct co-occurrence (basket_brand_rules) cannot see.

    Scale shape: the wedge self-join fans out as sum(deg(w)^2) over
    middle nodes — bounded here by the support-threshold graph, and at
    web scale by the same degree-cap/orientation remedy as
    copurchase_triangle_count (orient_by_degree caps wedge fan-out at
    O(sqrt(m)) per edge). The HAVING on shared-neighbor count prunes
    before the degree joins; output is pair-sparse, never all-pairs."""
    ew = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .alias("a")
        .join(
            _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_SUPPORT)
        .select("src", "dst")
    )
    nbrs = ew.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        ew.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    a, b = nbrs.alias("a"), nbrs.alias("b")
    common = (
        a.join(b, (F.col("a.nbr") == F.col("b.nbr")) & (F.col("a.node") < F.col("b.node")))
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= _NJ_MIN_COMMON)
    )
    j = F.col("common").cast("double") / (F.col("du") + F.col("dv") - F.col("common")).cast("double")
    return (
        common.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .filter(j >= F.lit(_NJ_MIN_J))
        .select("u", "v", "common", (F.floor(j * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("jaccard_q"))
    )


# ---------------------------------------------------------------------------
# Harmonic centrality (3-hop horizon) for a deterministic seed panel
# ---------------------------------------------------------------------------

_HC_SEEDS = 10
_HC_THIRD = 1.0 / 3.0

_HC_SQL = f"""
WITH ew AS ({_PPR_EW_SQL}),
nbrs AS (SELECT src AS node, dst AS nbr FROM ew UNION ALL SELECT dst AS node, src AS nbr FROM ew),
seeds AS (SELECT DISTINCT node FROM nbrs ORDER BY node ASC LIMIT {_HC_SEEDS}),
r1 AS (
  SELECT s.node AS seed, n.nbr AS node
  FROM seeds s JOIN nbrs n ON n.node = s.node
  GROUP BY 1, 2),
r2 AS (
  SELECT r.seed, n.nbr AS node
  FROM r1 r JOIN nbrs n ON n.node = r.node
  GROUP BY 1, 2),
r2x AS (
  SELECT r2.seed, r2.node FROM r2
  LEFT JOIN r1 ON r1.seed = r2.seed AND r1.node = r2.node
  WHERE r1.node IS NULL AND r2.node <> r2.seed),
r3 AS (
  SELECT r.seed, n.nbr AS node
  FROM r2x r JOIN nbrs n ON n.node = r.node
  GROUP BY 1, 2),
r3x AS (
  SELECT r3.seed, r3.node FROM r3
  LEFT JOIN r1 ON r1.seed = r3.seed AND r1.node = r3.node
  LEFT JOIN r2x ON r2x.seed = r3.seed AND r2x.node = r3.node
  WHERE r1.node IS NULL AND r2x.node IS NULL AND r3.node <> r3.seed),
cnt AS (
  SELECT s.node AS seed,
         (SELECT CAST(count(*) AS BIGINT) FROM r1 WHERE r1.seed = s.node) AS n1,
         (SELECT CAST(count(*) AS BIGINT) FROM r2x WHERE r2x.seed = s.node) AS n2,
         (SELECT CAST(count(*) AS BIGINT) FROM r3x WHERE r3x.seed = s.node) AS n3
  FROM seeds s)
SELECT seed, n1, n2, n3,
       floor((CAST(n1 AS DOUBLE) * 1.0 + CAST(n2 AS DOUBLE) * 0.5 + CAST(n3 AS DOUBLE) * {_HC_THIRD!r})
             * 1000000000.0 + 0.5) / 1000000000.0 AS harmonic_q
FROM cnt
"""


@query("part_harmonic_centrality_3hop", oracle=_HC_SQL)
def part_harmonic_centrality_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality with a 3-hop horizon for a 10-seed panel (the
    bounded-radius variant production graph systems actually compute —
    full closeness needs all-pairs distances): sum of 1/d over nodes
    within distance 3, computed per seed by three frontier-join BFS
    rounds. Distances bucket into integer counts (n1, n2, n3) FIRST, so
    the harmonic sum is one closed-form expression — never an
    order-dependent float accumulation.

    Scale shape: each BFS round is one frontier⋈edges join with a
    (seed, node) left-anti against settled nodes — frontier-sized
    shuffles, the textbook distributed-BFS bound; the seed panel
    multiplies the frontier, not the graph. At web scale the same plan
    runs with the seed panel sharded."""
    ew = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .alias("a")
        .join(
            _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_SUPPORT)
        .select("src", "dst")
    )
    nbrs = ew.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        ew.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    seeds = nbrs.select("node").distinct().orderBy("node").limit(_HC_SEEDS)
    r1 = (
        seeds.withColumnRenamed("node", "seed")
        .join(nbrs, F.col("seed") == F.col("node"))
        .select("seed", F.col("nbr").alias("node"))
        .distinct()
    )
    r2 = (
        r1.join(nbrs.withColumnRenamed("node", "hop"), F.col("node") == F.col("hop"))
        .select("seed", F.col("nbr").alias("node"))
        .distinct()
        .join(r1, ["seed", "node"], "left_anti")
        .filter(F.col("node") != F.col("seed"))
    )
    r3 = (
        r2.join(nbrs.withColumnRenamed("node", "hop"), F.col("node") == F.col("hop"))
        .select("seed", F.col("nbr").alias("node"))
        .distinct()
        .join(r1, ["seed", "node"], "left_anti")
        .join(r2, ["seed", "node"], "left_anti")
        .filter(F.col("node") != F.col("seed"))
    )
    counts = (
        r1.withColumn("dist", F.lit(1))
        .unionAll(r2.withColumn("dist", F.lit(2)))
        .unionAll(r3.withColumn("dist", F.lit(3)))
        .groupBy("seed")
        .agg(
            F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(F.col("dist") == 2, 1).otherwise(0)).cast("bigint").alias("n2"),
            F.sum(F.when(F.col("dist") == 3, 1).otherwise(0)).cast("bigint").alias("n3"),
        )
    )
    harmonic = (
        F.col("n1").cast("double") * F.lit(1.0)
        + F.col("n2").cast("double") * F.lit(0.5)
        + F.col("n3").cast("double") * F.lit(_HC_THIRD)
    )
    return counts.select(
        "seed",
        "n1",
        "n2",
        "n3",
        (F.floor(harmonic * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("harmonic_q"),
    )


# ---------------------------------------------------------------------------
# Link-prediction evaluation: common-neighbor scores vs held-out edges
# ---------------------------------------------------------------------------

_LP_TEST_MOD = 5  # md5 bucket == 0 -> test edge (20% holdout)
_LP_MIN_COMMON = 2

_LP_SQL = f"""
WITH ew AS ({_PPR_EW_SQL}),
split AS (
  SELECT src, dst,
         CAST(('0x' || substring(md5('lp1|' || CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)), 1, 6)) AS BIGINT)
           % {_LP_TEST_MOD} = 0 AS is_test
  FROM ew),
train AS (SELECT src, dst FROM split WHERE NOT is_test),
test AS (SELECT src, dst FROM split WHERE is_test),
nbrs AS (SELECT src AS node, dst AS nbr FROM train UNION ALL SELECT dst AS node, src AS nbr FROM train),
cand AS (
  SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS common
  FROM nbrs a JOIN nbrs b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY 1, 2
  HAVING count(*) >= {_LP_MIN_COMMON}),
pred AS (  -- predictions = scored non-train pairs
  SELECT c.u, c.v, c.common FROM cand c
  LEFT JOIN train t ON t.src = c.u AND t.dst = c.v
  WHERE t.src IS NULL),
hit AS (
  SELECT count(*) AS n_hits FROM pred p JOIN test e ON e.src = p.u AND e.dst = p.v)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
       (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
       (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_predictions,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       floor(CAST(h.n_hits AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM test) * 1000000.0 + 0.5) / 1000000.0 AS recall_q,
       floor(CAST(h.n_hits AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM pred) * 1000000.0 + 0.5) / 1000000.0 AS precision_q
FROM hit h
"""


@query("copurchase_linkpred_eval", oracle=_LP_SQL)
def copurchase_linkpred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction evaluation, the standard graph-ML benchmark loop:
    hold out 20% of copurchase edges (portable md5 split on the edge
    key), score NON-edges of the training graph by common-neighbor count
    (the classic baseline predictor — the same wedge machinery as
    part_neighborhood_jaccard), and report recall (held-out edges the
    predictor recovers) and precision (predictions that were real
    held-out edges) as one summary row. This is the evaluation harness a
    recommender's candidate generator is judged by before anything
    fancier than common-neighbors is attempted.

    Scale shape: the wedge self-join is bounded by the support-threshold
    train graph (degree-cap/orientation remedies documented on the
    triangle path apply unchanged); the train-edge anti-join and
    test-edge join are key-sparse; the output is a single row of exact
    counts plus two quantized ratios."""
    ew = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .alias("a")
        .join(
            _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_SUPPORT)
        .select("src", "dst")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("lp1|"),
                        F.col("src").cast("string"),
                        F.lit("|"),
                        F.col("dst").cast("string"),
                    ).cast("binary")
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % _LP_TEST_MOD
    )
    split = ew.withColumn("is_test", bucket == 0).persist()
    train = split.filter(~F.col("is_test")).select("src", "dst")
    test = split.filter(F.col("is_test")).select("src", "dst")
    nbrs = train.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        train.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    a, b = nbrs.alias("a"), nbrs.alias("b")
    cand = (
        a.join(b, (F.col("a.nbr") == F.col("b.nbr")) & (F.col("a.node") < F.col("b.node")))
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    pred = cand.join(
        train.select(F.col("src").alias("u"), F.col("dst").alias("v")), ["u", "v"], "left_anti"
    ).persist()
    n_train = train.count()
    n_test = test.count()
    n_pred = pred.count()
    n_hits = pred.join(
        test.select(F.col("src").alias("u"), F.col("dst").alias("v")), ["u", "v"], "left_semi"
    ).count()
    split.unpersist()
    pred.unpersist()
    import math

    recall_q = math.floor(n_hits / n_test * 1e6 + 0.5) / 1e6 if n_test else 0.0
    precision_q = math.floor(n_hits / n_pred * 1e6 + 0.5) / 1e6 if n_pred else 0.0
    return local_frame(
        spark,
        [(n_train, n_test, n_pred, n_hits, recall_q, precision_q)],
        "n_train bigint, n_test bigint, n_predictions bigint, n_hits bigint, "
        "recall_q double, precision_q double",
    )


# ---------------------------------------------------------------------------
# Katz centrality: walk-counting prestige on the copurchase graph
# ---------------------------------------------------------------------------

_KATZ_ALPHA = 0.05
_KATZ_ITERS = 3
_KATZ_SCALE = 1000000000.0


def _katz_oracle() -> str:
    head = f"""
WITH e AS ({_EDGES_SQL}),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
nodes AS (SELECT DISTINCT src AS node FROM sym),
x0 AS (SELECT node, 1.0 AS katz FROM nodes)"""
    steps = []
    for i in range(1, _KATZ_ITERS + 1):
        steps.append(f"""
x{i} AS (SELECT n.node,
               floor((1.0 + {_KATZ_ALPHA!r} * coalesce(s.in_x, 0.0)) * {_KATZ_SCALE!r} + 0.5)
                 / {_KATZ_SCALE!r} AS katz
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node,
                   sum(CAST(floor(x.katz * {_KATZ_SCALE!r} + 0.5) AS BIGINT)) / {_KATZ_SCALE!r} AS in_x
            FROM sym e JOIN x{i - 1} x ON e.src = x.node GROUP BY e.dst) s
          ON n.node = s.node)"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
SELECT node AS part, katz FROM x{_KATZ_ITERS}
"""
    )


@query("copurchase_katz_centrality", oracle=_katz_oracle())
def copurchase_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the (symmetrized, support-thresholded) copurchase
    graph: x <- 1 + alpha * A^T x for 3 iterations from x = 1 — the
    walk-counting prestige score that, unlike PageRank, lets high-degree
    hubs transmit undivided influence (no out-degree normalization), the
    complement the repo's centrality family (pagerank / PPR / HITS /
    harmonic) was missing.

    Deterministic by the quantized-iteration contract (1e-9 lattice, int64
    neighbor sums, one unrolled CTE per iteration in the oracle); the
    operator's adaptive local path folds this ~3.5k-edge aggregated graph
    on the driver with the identical recurrence. Scale: the distributed
    path is one src-keyed join + one dst-keyed grouped sum per iteration
    over the aggregated edge list — pagerank's exact shuffle shape
    (operators/graph.katz_centrality)."""
    from fraud_detection_etl_project_spark.operators.graph import katz_centrality

    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    return (
        katz_centrality(nodes, sym, iterations=_KATZ_ITERS, alpha=_KATZ_ALPHA, quant=9)
        .select(F.col("node").alias("part"), "katz")
    )


# ---------------------------------------------------------------------------
# Betweenness centrality (Brandes dependency accumulation, 3-hop horizon)
# ---------------------------------------------------------------------------

_BC_SEEDS = 4
_BC_SCALE = 1000000000.0

_BC_SQL = f"""
WITH ew AS ({_PPR_EW_SQL}),
nbrs AS (SELECT src AS node, dst AS nbr FROM ew UNION ALL SELECT dst AS node, src AS nbr FROM ew),
seeds AS (SELECT DISTINCT node FROM nbrs ORDER BY node ASC LIMIT {_BC_SEEDS}),
l0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma FROM seeds),
l1 AS (
  SELECT l0.seed, n.nbr AS node, CAST(sum(l0.sigma) AS BIGINT) AS sigma
  FROM l0 JOIN nbrs n ON n.node = l0.node
  WHERE n.nbr <> l0.seed
  GROUP BY 1, 2),
l2 AS (
  SELECT x.seed, x.node, CAST(sum(x.sigma) AS BIGINT) AS sigma FROM (
    SELECT l1.seed, n.nbr AS node, l1.sigma
    FROM l1 JOIN nbrs n ON n.node = l1.node) x
  LEFT JOIN l1 p ON p.seed = x.seed AND p.node = x.node
  WHERE p.node IS NULL AND x.node <> x.seed
  GROUP BY 1, 2),
l3 AS (
  SELECT x.seed, x.node, CAST(sum(x.sigma) AS BIGINT) AS sigma FROM (
    SELECT l2.seed, n.nbr AS node, l2.sigma
    FROM l2 JOIN nbrs n ON n.node = l2.node) x
  LEFT JOIN l1 p1 ON p1.seed = x.seed AND p1.node = x.node
  LEFT JOIN l2 p2 ON p2.seed = x.seed AND p2.node = x.node
  WHERE p1.node IS NULL AND p2.node IS NULL AND x.node <> x.seed
  GROUP BY 1, 2),
d2 AS (
  SELECT v.seed, v.node,
         CAST(coalesce(sum(CAST(floor(CAST(v.sigma AS DOUBLE) * {_BC_SCALE!r} / w.sigma + 0.5)
                                 AS BIGINT)), 0) AS BIGINT) AS dq
  FROM l2 v
  LEFT JOIN nbrs n ON n.node = v.node
  LEFT JOIN l3 w ON w.seed = v.seed AND w.node = n.nbr
  GROUP BY 1, 2),
d1 AS (
  SELECT v.seed, v.node,
         CAST(coalesce(sum(CAST(floor(CAST(v.sigma AS DOUBLE)
                                      * ({_BC_SCALE!r} + coalesce(w.dq, 0)) / w2.sigma + 0.5)
                                 AS BIGINT)), 0) AS BIGINT) AS dq
  FROM l1 v
  LEFT JOIN nbrs n ON n.node = v.node
  LEFT JOIN l2 w2 ON w2.seed = v.seed AND w2.node = n.nbr
  LEFT JOIN d2 w ON w.seed = v.seed AND w.node = n.nbr
  GROUP BY 1, 2),
allq AS (SELECT node, dq FROM d1 UNION ALL SELECT node, dq FROM d2)
SELECT node AS part, CAST(sum(dq) AS BIGINT) AS bc_q,
       sum(dq) / {_BC_SCALE!r} AS betweenness
FROM allq GROUP BY 1 HAVING sum(dq) > 0
"""


@query("part_betweenness_3hop", oracle=_BC_SQL)
def part_betweenness_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality by Brandes dependency accumulation from a
    deterministic seed panel with a 3-hop horizon — the sampled/bounded
    variant production systems run (exact betweenness is all-pairs): the
    forward sweep is per-seed BFS carrying shortest-path COUNTS sigma
    (exact int64 sums over predecessor frontiers); the backward sweep
    accumulates delta(v) = sum over successors w of sigma_v/sigma_w *
    (1 + delta(w)), truncated at the horizon. Nodes that broker many
    shortest paths score high — the bridge/chokepoint detector beside
    degree (pagerank) and proximity (harmonic) measures.

    Exactness: sigma is exact int64 throughout; each per-successor
    dependency term quantizes to int64 nano-units BEFORE summation
    (floor(sigma_v * (1e9 + delta_q(w)) / sigma_w + 0.5) — identical
    IEEE expression over identical integers in both engines), so the
    accumulated delta and the final cross-seed sum are exact integer
    arithmetic with one division at the end.

    Scale: per level one frontier⋈edges join + grouped sigma sum with a
    (seed, node) anti-join against settled levels — frontier-sized
    shuffles; the backward sweep is one join per level over the level
    frames. The seed panel multiplies frontiers, not the graph; at web
    scale the panel shards and bc sums associatively across panels
    (Riondato-Kornaropoulos sampling gives the error bound)."""
    ew = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .alias("a")
        .join(
            _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _EDGE_SUPPORT)
        .select("src", "dst")
    )
    # persist kept: cold A/B, sf0.1, 4 cores, one query per process, 5 pairs: 8.21 s with vs 15.33 s without this site (medians), won 5/5, parent IQR 1.48 s
    nbrs = ew.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        ew.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    ).persist()
    seeds = nbrs.select("node").distinct().orderBy("node").limit(_BC_SEEDS)
    l0 = seeds.select(F.col("node").alias("seed"), "node", F.lit(1).cast("long").alias("sigma"))

    def expand(frontier: DataFrame, *settled: DataFrame) -> DataFrame:
        x = (
            frontier.join(nbrs, "node")
            .select("seed", F.col("nbr").alias("node"), "sigma")
            .filter(F.col("node") != F.col("seed"))
        )
        for s in settled:
            x = x.join(s.select("seed", "node"), ["seed", "node"], "left_anti")
        return x.groupBy("seed", "node").agg(F.sum("sigma").cast("long").alias("sigma"))

    # persist kept: cold A/B as above: 8.21 s with vs 10.94 s without this site, won 5/5
    l1 = expand(l0).persist()
    # l2, l3 and d2 persists kept together: singly none met the keep rule,
    # but removing all three ran 9.70 vs 8.43 s (1.15x, persist won 5/5)
    l2 = expand(l1, l1).persist()
    l3 = expand(l2, l1, l2).persist()

    def backward(level: DataFrame, nxt: DataFrame, nxt_delta: DataFrame | None) -> DataFrame:
        succ = nxt.select(
            "seed", F.col("node").alias("nbr"), F.col("sigma").alias("w_sigma")
        )
        if nxt_delta is not None:
            succ = succ.join(
                nxt_delta.select("seed", F.col("node").alias("nbr"), "dq"),
                ["seed", "nbr"],
                "left",
            ).select("seed", "nbr", "w_sigma", F.coalesce("dq", F.lit(0)).alias("wdq"))
        else:
            succ = succ.withColumn("wdq", F.lit(0).cast("long"))
        term = F.floor(
            F.col("sigma").cast("double")
            * (F.lit(_BC_SCALE) + F.col("wdq"))
            / F.col("w_sigma")
            + 0.5
        ).cast("long")
        return (
            level.join(nbrs, "node", "left")
            .join(succ, ["seed", "nbr"], "left")
            .groupBy("seed", "node")
            .agg(
                F.coalesce(F.sum(F.when(F.col("w_sigma").isNotNull(), term)), F.lit(0))
                .cast("long")
                .alias("dq")
            )
        )

    d2 = backward(l2, l3, None).persist()
    d1 = backward(l1, l2, d2)
    allq = d1.select("node", "dq").unionAll(d2.select("node", "dq"))
    return (
        allq.groupBy(F.col("node").alias("part"))
        .agg(F.sum("dq").cast("long").alias("bc_q"))
        .filter(F.col("bc_q") > 0)
        .select("part", "bc_q", (F.col("bc_q") / F.lit(_BC_SCALE)).alias("betweenness"))
    )


# ---------------------------------------------------------------------------
# SimRank (brand graph, 2 quantized iterations)
# ---------------------------------------------------------------------------

_SR_C = 0.8
_SR_SCALE = 1000000000.0
_SR_SUPPORT = 10  # min co-purchase orders for a brand-brand edge
_SR_TOP = 15

_SR_EDGES = f"""
SELECT a.brand AS src, b.brand AS dst
FROM (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey) a
JOIN (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey) b
  ON a.ok = b.ok AND a.brand < b.brand
GROUP BY 1, 2 HAVING count(*) >= {_SR_SUPPORT}
"""


def _simrank_oracle() -> str:
    scale = int(_SR_SCALE)
    def step(out: str, prev: str) -> str:
        return f"""
{out} AS (
  SELECT ea.node AS a, eb.node AS b,
         CAST(floor({_SR_C} * CAST(sum(s.q) AS DOUBLE) / (da.deg * CAST(db.deg AS DOUBLE))
                    + 0.5) AS BIGINT) AS q
  FROM sym ea
  JOIN {prev} s ON s.a = ea.nbr
  JOIN sym eb ON eb.nbr = s.b
  JOIN deg da ON da.node = ea.node
  JOIN deg db ON db.node = eb.node
  WHERE ea.node <> eb.node
  GROUP BY ea.node, eb.node, da.deg, db.deg)"""
    return f"""
WITH e AS ({_SR_EDGES}),
sym AS (SELECT src AS node, dst AS nbr FROM e UNION ALL SELECT dst AS node, src AS nbr FROM e),
nodes AS (SELECT DISTINCT node FROM sym),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
s0 AS (SELECT node AS a, node AS b, CAST({scale} AS BIGINT) AS q FROM nodes),
{step('s1', 's0').lstrip()},
f1 AS (SELECT a, b, q FROM s1 UNION ALL SELECT node, node, CAST({scale} AS BIGINT) FROM nodes),
{step('s2', 'f1').lstrip()}
SELECT s2.a AS brand_a, s2.b AS brand_b,
       s2.q / {_SR_SCALE!r} AS simrank,
       coalesce(s1.q, 0) / {_SR_SCALE!r} AS simrank_iter1
FROM s2 LEFT JOIN s1 ON s1.a = s2.a AND s1.b = s2.b
WHERE s2.a < s2.b
ORDER BY s2.q DESC, s2.a ASC, s2.b ASC
LIMIT {_SR_TOP}
"""


@query("brand_simrank_pairs", oracle=_simrank_oracle())
def brand_simrank_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank (Jeh & Widom 2002) on the brand co-purchase graph, two
    iterations: "two brands are similar if their neighbors are similar"
    — s(a,b) = C/(|N(a)||N(b)|) * sum over neighbor pairs of s(i,j),
    from s0 = identity. Iteration 1 reduces to scaled common-neighbor
    counting; iteration 2 is where SimRank starts seeing 2-hop
    structural equivalence that Jaccard (part_neighborhood_jaccard)
    cannot. Top-15 pairs with both iterations' scores.

    Exactness: scores live on the 1e-9 int64 lattice; each iteration
    sums neighbor-pair lattice units exactly in int64 and applies the
    C/(deg*deg) scaling as one IEEE expression, re-quantizing — the
    oracle unrolls both iterations as identical CTEs.

    Scale: the similarity matrix is quadratic in NODES, so this runs on
    the AGGREGATED brand graph (vocabulary-bounded, here 25 nodes ->
    <=625 pair rows; the fact table only builds edges). For large node
    sets the same recurrence restricts to a candidate pair set (e.g.
    LSH-blocked), which this join shape accepts unchanged — the pair
    frame is the driver of cost, and it is explicit, never implicit
    all-pairs."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    e = (
        ob.alias("a")
        .join(ob.alias("b"), (F.col("a.ok") == F.col("b.ok")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("src"), F.col("b.brand").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _SR_SUPPORT)
        .select("src", "dst")
    )
    sym = e.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    nodes = sym.select("node").distinct()
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    scale_l = F.lit(int(_SR_SCALE)).cast("long")
    diag = nodes.select(F.col("node").alias("a"), F.col("node").alias("b"), scale_l.alias("q"))

    def step(s_prev: DataFrame) -> DataFrame:
        ea = sym.select(F.col("node").alias("na"), F.col("nbr").alias("a"))
        eb = sym.select(F.col("node").alias("nb"), F.col("nbr").alias("b"))
        da = deg.select(F.col("node").alias("na"), F.col("deg").alias("dega"))
        db = deg.select(F.col("node").alias("nb"), F.col("deg").alias("degb"))
        return (
            ea.join(s_prev, "a")
            .join(eb, "b")
            .filter(F.col("na") != F.col("nb"))
            .groupBy("na", "nb")
            .agg(F.sum("q").cast("long").alias("sq"))
            .join(da, "na")
            .join(db, "nb")
            .select(
                F.col("na").alias("a"),
                F.col("nb").alias("b"),
                F.floor(
                    F.lit(_SR_C) * F.col("sq").cast("double")
                    / (F.col("dega") * F.col("degb").cast("double"))
                    + 0.5
                )
                .cast("long")
                .alias("q"),
            )
        )

    s1 = step(diag)
    s2 = step(s1.unionAll(diag))
    out = (
        s2.filter(F.col("a") < F.col("b"))
        .alias("s2")
        .join(
            s1.select(F.col("a"), F.col("b"), F.col("q").alias("q1")),
            ["a", "b"],
            "left",
        )
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            (F.col("q") / F.lit(_SR_SCALE)).alias("simrank"),
            (F.coalesce(F.col("q1"), F.lit(0)) / F.lit(_SR_SCALE)).alias("simrank_iter1"),
            F.col("q").alias("_qsort"),
        )
        .orderBy(F.col("_qsort").desc(), F.col("brand_a").asc(), F.col("brand_b").asc())
        .limit(_SR_TOP)
        .drop("_qsort")
    )
    return out
