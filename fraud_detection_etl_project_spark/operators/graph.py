"""Iterative graph operators: connected components for near-dup clustering.

The reference has no graph surface (single-table pipeline — SURVEY.md §2.3);
this supplies the standard LLM-corpus dedup step the north star requires:
LSH banding proposes candidate pairs (operators/dedup.py), connected
components groups the pairs into duplicate clusters, and one canonical
document per cluster survives.

Scale design (the part that matters at 100 TB):

- **Min-label propagation with path compression.** Each iteration does
  (a) a neighbor-min step — join labels to the symmetrized edge list and
  take the min component id seen across neighbors — and (b) a pointer-jump
  step — re-join labels to themselves so every node adopts its component
  representative's *current* label (``comp := comp[comp]``). The jump is
  what turns O(diameter) convergence into O(log diameter), the same
  mechanism as the large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14).
- **Everything shuffled is (id, id) pairs** — never document payloads.
  Join keys are the node ids; with AQE on, the per-iteration joins get
  runtime-sized partitions.
- **``localCheckpoint`` per iteration** truncates the lineage chain —
  without it the plan doubles every iteration and the driver OOMs on plan
  serialization long before data is the problem.
- **Convergence detection is free**: label movement is tracked as an
  inline flag summed through ``observe()`` on the plan the eager
  checkpoint already materializes — no separate changed-set action per
  iteration.

Determinism: min-label is order-free (min is commutative/associative), so
results are bit-stable across partitionings and engines — the DuckDB
oracle (plans/llm_queries.py) reproduces the exact component assignment
with a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from fraud_detection_etl_project_spark.sources.local import local_frame

_LOCAL_NODE_CAP = 2_000_000  # driver-path NODE ceiling: the edge probe
# alone does not bound the node frame (a near-empty interaction graph over
# a corpus-scale mostly-isolated node set has few edges but 10^8+ nodes).
# The functions that COLLECT the node frame — pagerank,
# personalized_pagerank, katz_centrality — take their local path through
# _local_graph, which caps both probes. connected_components' local path
# deliberately gates on edges only: _local_components never collects the
# node side (isolated nodes stay distributed and union in as singletons),
# so adding a node collect there would need this cap wired in first.


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    local_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """(node, component) for every node; component = min node id reachable
    over the undirected edge set. Singletons keep their own id.

    ``nodes`` must contain every vertex (edge endpoints may be a subset).

    **Adaptive execution.** After LSH pruning, the non-singleton subgraph
    of a near-dup corpus is typically orders of magnitude smaller than the
    corpus (tens of candidate pairs per million docs). When the distinct
    edge count is below ``local_edge_threshold``, the edges are collected
    and resolved with a driver-side union-find (O(E α(E)), sub-second),
    skipping the per-iteration join/checkpoint/action overhead entirely —
    the result is identical (min-reachable-id labels). Above the
    threshold, the distributed min-label/pointer-jump loop below runs;
    at 100 TB with billions of candidate edges that is the only option.
    The default threshold (2M edges ≈ 32 MB of (int64, int64) pairs,
    raised from 200k in r8 after the 30x scale probe spent 20 s of
    iterative-loop overhead on a 714k-edge graph the driver resolves in
    well under a second) keeps driver memory bounded while covering the
    whole band where per-iteration fixed costs dominate the actual work.
    Property tests assert both paths agree on random graphs.

    ``checkpoint_dir`` selects the lineage-truncation mode. Default
    (``None``) uses ``localCheckpoint``: blocks live in executor memory —
    fastest, but a lost executor kills the whole iterative job, so it fits
    single-node and small-cluster runs. Passing a directory (HDFS/S3 on a
    real cluster) switches to reliable ``checkpoint``: each iteration's
    labels are persisted to fault-tolerant storage and survive executor
    loss — the right trade for a 100 TB corpus where an hours-long CC job
    must not restart because one of 1000 executors was preempted.

    Two structural optimizations beyond plain label propagation:

    - **The loop runs only over edge-touched nodes.** In a near-dup graph
      almost every document is a singleton; their labels can never change,
      so they are excluded up front and stitched back with one left join
      at the end. Iteration cost scales with |edge endpoints|, not |corpus|.
    - **Neighbor-min via left join + ``least``, not union.** Only the
      neighbor messages go through the grouped min; the node's own label
      merges with one co-keyed join. (Also load-bearing: the
      union-of-checkpointed-labels formulation trips a Catalyst
      Union-constraint rewrite bug in Spark 4.1.2 — ``key not found`` in
      ``UnionBase.rewriteConstraints`` — on complex edge lineages.)
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = _ckpt(sym)  # edge list reused every iteration

    n_edges = sym.count()  # free: checkpoint already materialized
    if n_edges <= local_edge_threshold:
        return _local_components(nodes, sym, node_col)

    # Size iteration parallelism to the SUBGRAPH, not the corpus: after LSH
    # pruning, the non-singleton subgraph is usually orders of magnitude
    # smaller than the corpus, and per-iteration scheduler/shuffle overhead
    # at corpus parallelism dominates the actual work. ~50k edges per
    # partition keeps tasks meaty; huge graphs keep full parallelism.
    default_parts = int(sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(default_parts, n_edges // 50_000))
    if parts < default_parts:
        sym = _ckpt(sym.repartition(parts, "b"))

    labels = sym.select(F.col("a").alias("node")).distinct().select(
        F.col("node"), F.col("node").alias("comp")
    )
    labels = _ckpt(labels.repartition(parts, "node"))

    for i in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("ncomp"))
        )
        # track label movement inline so convergence needs no extra action:
        # ch1 = neighbor-min lowered the label, ch2 = pointer jump did.
        merged = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least("comp", "ncomp").alias("comp"),  # least skips nulls
            (F.col("ncomp") < F.col("comp")).cast("int").alias("ch1"),
        )
        # pointer jump: adopt the representative's current label
        obs = Observation(f"cc_iter_{i}")
        jumped = _ckpt(
            merged.alias("x")
            .join(
                merged.select(F.col("node").alias("comp"), F.col("comp").alias("cc")).alias("y"),
                "comp",
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("cc"), F.col("x.comp")).alias("comp"),
                F.greatest(
                    F.coalesce(F.col("x.ch1"), F.lit(0)),
                    (F.col("cc") < F.col("x.comp")).cast("int"),
                ).alias("ch"),
            )
            # the eager checkpoint materializes this plan, which also fills
            # the observation — convergence costs zero additional jobs
            # (vs. a separate isEmpty anti-join scan per iteration)
            .observe(obs, F.sum("ch").alias("n_changed"))
        ).drop("ch")
        labels = jumped
        if not obs.get["n_changed"]:
            break

    # stitch singletons (and any node absent from the edge set) back in
    return nodes.select(F.col(node_col).alias("node")).join(labels, "node", "left").select(
        F.col("node"), F.coalesce(F.col("comp"), F.col("node")).alias("comp")
    )


def _local_graph(nodes: DataFrame, edges: DataFrame, local_edge_threshold: int):
    """``(edge_rows, node_ids)`` collected to the driver when the graph is
    small enough to iterate there, else ``None``.

    One bounded probe per side: up to ``local_edge_threshold + 1`` edges,
    then, only when the edges fit, up to ``_LOCAL_NODE_CAP + 1`` nodes. A
    small graph pays for its edge build and its node scan exactly once;
    the node count N of the local recurrences is the node probe's length.
    """
    edge_rows = edges.limit(local_edge_threshold + 1).collect()
    if len(edge_rows) > local_edge_threshold:
        return None
    node_rows = nodes.limit(_LOCAL_NODE_CAP + 1).collect()
    if len(node_rows) > _LOCAL_NODE_CAP:
        return None
    return edge_rows, [r["node"] for r in node_rows]


def _score_frame(nodes: DataFrame, scores: dict, col: str) -> DataFrame:
    """(node, ``col``) from a driver-side score dict, node ids typed as
    ``nodes.node``."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [StructField("node", nodes.schema["node"].dataType), StructField(col, DoubleType())]
    )
    return local_frame(nodes.sparkSession, sorted(scores.items()), schema)


def _local_components(nodes: DataFrame, sym: DataFrame, node_col: str) -> DataFrame:
    """Driver-side union-find over a collected (small) edge list, labels
    re-joined distributed. Produces the same min-reachable-id component
    labels as the iterative path. The collect is bounded by the caller's
    ``local_edge_threshold`` (pairs of int64 ids — tens of MB at most).

    Driver-path costs are kept proportional to that bound (r8, measured
    on a 714k-edge graph): only the a < b half of the symmetrized edge
    list ships (union(a,b) == union(b,a); a == b self-loops are no-ops),
    it ships as ONE Arrow batch set instead of 1.4M py4j Row objects
    (5 s -> sub-second), and the label frame returns as Arrow columns
    through ``local_frame``."""
    parent: dict = {}

    def find(x):
        chain = []
        while parent.get(x, x) != x:
            chain.append(x)
            x = parent[x]
        for c in chain:  # path compression
            parent[c] = x
        return x

    # bounded: caller's local_edge_threshold probe caps this at the
    # threshold's half-edge volume (Arrow batches, tens of MB max)
    pdf = sym.filter(F.col("a") < F.col("b")).toPandas()
    a_col, b_col = pdf["a"].tolist(), pdf["b"].tolist()
    seen = set(a_col)
    seen.update(b_col)
    for a, b in zip(a_col, b_col):
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id stays root => min-label semantics
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    from pyspark.sql.types import StructField, StructType

    id_type = sym.schema["a"].dataType
    schema = StructType([StructField("node", id_type), StructField("comp", id_type)])
    label_df = local_frame(sym.sparkSession, sorted((x, find(x)) for x in seen), schema)
    return nodes.select(F.col(node_col).alias("node")).join(label_df, "node", "left").select(
        F.col("node"), F.coalesce(F.col("comp"), F.col("node")).alias("comp")
    )


def canonical_per_component(components: DataFrame) -> DataFrame:
    """Deduplicated node set: one row per component (the min-id node, which
    under min-label propagation IS the component id), with cluster size."""
    sizes = components.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.select(F.col("comp").alias("node"), "cluster_size")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    quant: int = 12,
    local_edge_threshold: int = 100_000,
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges: (node, r) after a
    fixed number of power iterations.

    Cross-engine-deterministic by construction (the same discipline as the
    rest of the repo): per-target contribution sums are quantized to
    integer 1e-``quant`` units and summed exactly in int64 (order-free),
    and each iteration's rank is re-quantized before it feeds the next
    multiply — so two engines running this recurrence on the same graph
    produce bit-identical ranks, which is what makes a fixed-iteration
    oracle possible (see nation_trade_pagerank).

    Scale: transition probabilities are computed once (one out-weight
    aggregation + join); each iteration is one (src-keyed) join + one
    (dst-keyed) grouped sum over the EDGE list — the standard
    rank-shuffles-edges, never-materializes-the-matrix formulation. For
    many iterations on huge graphs, wrap ranks in the same checkpoint
    cadence as connected_components; at a handful of iterations plan
    growth is harmless. Dangling-node mass (nodes with no out-edges) is
    dropped rather than redistributed — documented deviation, fine for
    relative ranking. The N of the teleport term is a parameter, not
    data: the node probe's length on the local path, one scalar
    ``nodes.count()`` on the distributed path."""
    import math
    from collections import defaultdict

    scale = float(10**quant)

    # Adaptive execution, same rationale as connected_components: ranks
    # and transitions are graph-sized, not corpus-sized. When the
    # AGGREGATED edge list is small (the nation graph is 625 rows no
    # matter how many fact rows built it), driver-side power iteration
    # with the identical quantized arithmetic (IEEE doubles + exact int
    # sums — Python and the JVM agree bit-for-bit) skips all
    # per-iteration job scheduling. Above the threshold the distributed
    # loop runs — the only option for web-scale graphs.
    local = _local_graph(nodes, edges, local_edge_threshold)
    if local is not None:
        rows, node_list = local
        edge_rows = [(r["src"], r["dst"], r["weight"]) for r in rows]
        n = len(node_list)
        base = (1.0 - damping) / n
        out_w: dict = defaultdict(int)
        for s, _, w in edge_rows:
            out_w[s] += w
        p = [(s, d, w / out_w[s]) for s, d, w in edge_rows]
        r = {x: 1.0 / n for x in node_list}
        for _ in range(iterations):
            contrib: dict = defaultdict(int)
            for s, d, pv in p:
                if s in r:
                    contrib[d] += int(math.floor(r[s] * pv * scale + 0.5))
            r = {
                x: math.floor((base + damping * (contrib[x] / scale)) * scale + 0.5) / scale
                if x in contrib
                else math.floor((base + damping * 0.0) * scale + 0.5) / scale
                for x in node_list
            }
        return _score_frame(nodes, r, "r")

    n = nodes.count()
    base = (1.0 - damping) / n
    # persist the transition matrix: every iteration references it, and
    # without the persist the (possibly expensive) edge-build lineage is
    # embedded — and recomputed — once per iteration in the final plan
    outsum = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    p = edges.join(outsum, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    ).persist()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        contribs = (
            p.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.sum(F.floor(F.col("r") * F.col("p") * F.lit(scale) + F.lit(0.5)).cast("long"))
                    / F.lit(scale)
                ).alias("in_r")
            )
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.floor(
                    (F.lit(base) + F.lit(damping) * F.coalesce("in_r", F.lit(0.0)))
                    * F.lit(scale)
                    + F.lit(0.5)
                )
                / F.lit(scale)
            ).alias("r"),
        )
    return ranks


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: list,
    iterations: int = 3,
    damping: float = 0.85,
    quant: int = 12,
    local_edge_threshold: int = 100_000,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution concentrates on a
    SEED set (1/|S| each) instead of spreading uniformly, so ranks measure
    proximity to the seeds — the standard "related items" / fraud-ring
    expansion primitive (seed known-bad accounts, rank the graph by
    closeness to them). ``seeds`` is a small Python list: parameters, not
    data, same discipline as k-means centroids.

    Deterministic by the repo's quantized-iteration contract (see
    pagerank): per-target contributions quantize to 1e-quant units and sum
    exactly in int64; each iteration's rank re-quantizes before the next
    multiply, so a fixed-iteration unrolled-CTE oracle matches
    bit-for-bit. Dangling mass is dropped (documented deviation, as in
    pagerank — fine for relative proximity ranking).

    Scale: identical shuffle shape to pagerank — transition matrix built
    once, each iteration one src-keyed join + one dst-keyed grouped sum
    over the EDGE list; the adaptive local path handles aggregated graphs
    that fit on the driver with the same bit-exact recurrence."""
    import math
    from collections import defaultdict

    scale = float(10**quant)
    sset = set(seeds)
    e_w = 1.0 / len(sset)
    local = _local_graph(nodes, edges, local_edge_threshold)
    if local is not None:
        rows, node_list = local
        edge_rows = [(r["src"], r["dst"], r["weight"]) for r in rows]
        out_w: dict = defaultdict(int)
        for s, _, w in edge_rows:
            out_w[s] += w
        p = [(s, d, w / out_w[s]) for s, d, w in edge_rows]
        r = {x: (e_w if x in sset else 0.0) for x in node_list}
        for _ in range(iterations):
            contrib: dict = defaultdict(int)
            for s, d, pv in p:
                if s in r:
                    contrib[d] += int(math.floor(r[s] * pv * scale + 0.5))
            r = {
                x: math.floor(
                    (
                        (1.0 - damping) * (e_w if x in sset else 0.0)
                        + damping * (contrib.get(x, 0) / scale)
                    )
                    * scale
                    + 0.5
                )
                / scale
                for x in node_list
            }
        return _score_frame(nodes, r, "r")

    outsum = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    p_df = (
        edges.join(outsum, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .persist()
    )
    seed_col = F.when(F.col("node").isin(list(sset)), F.lit(e_w)).otherwise(F.lit(0.0))
    ranks = nodes.select("node", seed_col.alias("r"))
    for _ in range(iterations):
        contribs = (
            p_df.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.sum(F.floor(F.col("r") * F.col("p") * F.lit(scale) + F.lit(0.5)).cast("long"))
                    / F.lit(scale)
                ).alias("in_r")
            )
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.floor(
                    (
                        F.lit(1.0 - damping) * seed_col
                        + F.lit(damping) * F.coalesce("in_r", F.lit(0.0))
                    )
                    * F.lit(scale)
                    + F.lit(0.5)
                )
                / F.lit(scale)
            ).alias("r"),
        )
    return ranks


def bfs_khop(seeds: DataFrame, edges: DataFrame, k: int) -> DataFrame:
    """Breadth-first k-hop reachability: (node, dist) for every node within
    ``k`` undirected hops of a seed set, dist = minimum hop count.

    ``seeds`` is (node,), ``edges`` is (src, dst) in any orientation —
    symmetrized here. Each hop is one frontier⋈edges join (frontier-sized,
    not graph-sized: the left-anti against already-settled nodes keeps the
    frontier to NEWLY discovered nodes only, so a hop's shuffle moves at
    most the new-node adjacency, the textbook distributed-BFS bound). The
    first discovery IS the min distance — no per-node min aggregation
    needed. For small fixed k the loop is left unchained (no checkpoint);
    for deep traversals wrap in the same checkpoint cadence as
    connected_components (plan depth grows linearly with k).
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    settled = seeds.select("node").distinct().withColumn("dist", F.lit(0))
    frontier = settled
    for i in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(i))
        )
        settled = settled.union(nxt)
        frontier = nxt
    return settled.withColumn("dist", F.col("dist").cast("int"))


def hits(nodes: DataFrame, edges: DataFrame, iterations: int = 2, quant: int = 12) -> DataFrame:
    """HITS hubs-and-authorities over (src, dst, weight) edges: (node,
    hub, auth) after a fixed number of mutual-reinforcement iterations —
    the classic bipartite-flavored ranking (a good hub points at good
    authorities; a good authority is pointed at by good hubs), the
    complement of PageRank's single-score random walk.

    Cross-engine-deterministic by the repo's quantized-iteration
    discipline (see pagerank): edge weights are globally normalized to
    sum 1 up front (HITS ranking is scale-invariant, and it bounds every
    product at 1 so int64 sums cannot overflow for ANY weight magnitude);
    each half-step's contributions are quantized to 1e-quant units and
    summed exactly in int64; each score vector is L1-normalized (sum
    normalization preserves the ranking that L2 gives while avoiding
    sqrt, which has no cross-engine bit guarantee) and re-quantized
    before feeding the next half-step. A fixed-iteration unrolled-CTE
    oracle therefore matches bit-for-bit (nation_trade_hits).

    Scale: the normalized edge frame persists once; each half-step is
    one edge-keyed join + one grouped sum over the EDGE list (never a
    matrix), exactly pagerank's shuffle shape. At the default 2
    iterations the job count is constant, so no adaptive local path is
    needed (pagerank's exists because its caller iterates more)."""
    from pyspark.sql import Window

    scale = float(10**quant)
    n = nodes.count()
    wall = Window.partitionBy()  # edges frame is aggregated graph-sized
    p = edges.select(
        "src", "dst", (F.col("weight").cast("double") / F.sum("weight").over(wall)).alias("w")
    ).persist()

    def _quantsum(score_col, out_key, in_key):
        # raw contributions stay in INTEGER 1e-quant units end-to-end:
        # the L1 total is then an exact int64 sum (order-free), where
        # totalling the /scale doubles would round differently under
        # different summation orders.
        joined = p.join(
            F.broadcast(scores.select(F.col("node").alias(in_key), F.col(score_col).alias("s"))),
            in_key,
        )
        return (
            joined.groupBy(F.col(out_key).alias("node"))
            .agg(
                F.sum(
                    F.floor(F.col("s") * F.col("w") * F.lit(scale) + F.lit(0.5)).cast("long")
                ).alias("raw_units")
            )
        )

    def _l1norm(raw_df):
        total = F.sum("raw_units").over(Window.partitionBy())
        return nodes.join(raw_df, "node", "left").select(
            "node",
            F.coalesce(F.col("raw_units"), F.lit(0)).cast("long").alias("raw_units"),
        ).select(
            "node",
            F.when(total == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    F.col("raw_units").cast("double") / total.cast("double") * F.lit(scale)
                    + F.lit(0.5)
                )
                / F.lit(scale)
            )
            .alias("score"),
        )

    scores = nodes.select("node", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth"))
    for _ in range(iterations):
        auth = _l1norm(_quantsum("hub", "dst", "src"))  # auth <- hubs pointing in
        scores = scores.drop("auth").join(
            auth.withColumnRenamed("score", "auth"), "node"
        )
        hub = _l1norm(_quantsum("auth", "src", "dst"))  # hub <- auths pointed at
        scores = scores.drop("hub").join(hub.withColumnRenamed("score", "hub"), "node")
    return scores.select("node", "hub", "auth")


def katz_centrality(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    alpha: float = 0.05,
    quant: int = 9,
    local_edge_threshold: int = 100_000,
) -> DataFrame:
    """Katz centrality: x <- 1 + alpha * A^T x, iterated from x = 1 — the
    walk-counting prestige score (node v accrues alpha^k mass for every
    length-k walk ending at v). Unlike PageRank it does not normalize by
    out-degree, so high-fanout hubs transmit full influence; alpha must sit
    below 1/lambda_max for convergence (0.05 is safely inside for the
    aggregated product graphs this repo feeds it).

    Deterministic by the repo's quantized-iteration contract: scores live
    on the 1e-quant int64 lattice; each iteration sums neighbor lattice
    units exactly in int64 (associative, order-free), applies the alpha
    multiply as one IEEE double op, and re-quantizes — so a fixed-iteration
    unrolled-CTE oracle reproduces every bit. Int64 headroom: with
    alpha=0.05, scores stay O(1 + alpha*deg)^iters; lattice units ~1e9 *
    score, and per-node neighbor sums stay far under 2^63 for any graph
    whose max degree fits memory anyway.

    Scale: same shuffle shape as pagerank — one src-keyed join + one
    dst-keyed grouped sum per iteration over the (aggregated) edge list,
    with the probe-bounded local path for graphs small enough to fold on
    the driver (identical recurrence, bit-identical result).
    """
    import math
    from collections import defaultdict

    scale = float(10**quant)
    local = _local_graph(nodes, edges, local_edge_threshold)
    if local is not None:
        rows, node_list = local
        edge_rows = [(r["src"], r["dst"]) for r in rows]
        x = {v: 1.0 for v in node_list}
        for _ in range(iterations):
            acc: dict = defaultdict(int)
            for s, d in edge_rows:
                if s in x:
                    acc[d] += int(math.floor(x[s] * scale + 0.5))
            x = {
                v: math.floor((1.0 + alpha * (acc.get(v, 0) / scale)) * scale + 0.5) / scale
                for v in node_list
            }
        return _score_frame(nodes, x, "katz")

    e = edges.select("src", "dst").persist()
    x_df = nodes.select("node", F.lit(1.0).alias("katz"))
    for _ in range(iterations):
        acc = (
            e.join(x_df.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.sum(F.floor(F.col("katz") * F.lit(scale) + F.lit(0.5)).cast("long"))
                    / F.lit(scale)
                ).alias("in_x")
            )
        )
        x_df = nodes.join(acc, "node", "left").select(
            "node",
            (
                F.floor(
                    (F.lit(1.0) + F.lit(alpha) * F.coalesce("in_x", F.lit(0.0))) * F.lit(scale)
                    + F.lit(0.5)
                )
                / F.lit(scale)
            ).alias("katz"),
        )
    return x_df
