"""Persisted blocks: where the package may persist, and that a consumed
query leaves none behind.

A persist costs a materialization and leaves blocks in the session after
the query. It stays only where an eager action inside the builder or
operator reads the frame, or where a cold interleaved A/B showed the
builder faster with it than without. The allowlist below names every
function that still persists, with its number of call sites; a new site
fails here until it is added with its reason."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import fraud_detection_etl_project_spark
from fraud_detection_etl_project_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

# (module, top-level function) -> number of .persist(/.cache( calls in it.
PERSIST_ALLOWLIST = {
    # operator-internal: each persisted frame is read by an eager action or
    # by every round of a loop inside the operator
    ("operators/dedup.py", "skewfree_bucket_split"): 2,
    ("operators/dedup.py", "foreach_batch_dedup_ingester"): 3,
    ("operators/graph.py", "pagerank"): 1,
    ("operators/graph.py", "personalized_pagerank"): 1,
    ("operators/graph.py", "hits"): 1,
    ("operators/graph.py", "katz_centrality"): 1,
    ("snapshot.py", "merge"): 1,
    # plan builders whose persisted frame an eager builder action also reads
    ("plans/advanced_queries.py", "copurchase_personalized_ppr"): 1,
    ("plans/advanced_queries.py", "copurchase_linkpred_eval"): 2,
    ("plans/analytics_queries.py", "part_kcore_3round"): 1,
    ("plans/mining_queries.py", "er_golden_records"): 1,
    ("plans/ml_queries.py", "perceptron_score_deciles"): 1,
    ("plans/ml_queries.py", "_kc_select"): 1,
    ("plans/ml_queries.py", "kmeans_coreset_sample"): 1,
    ("plans/ml_queries.py", "conformal_value_intervals"): 1,
    ("plans/ml_queries.py", "pq_adc_ann_top10"): 1,
    ("plans/ml_queries.py", "event_isolation_forest_top20"): 2,
    ("plans/risk_queries.py", "conformal_risk_scores"): 1,
    # the lineage is not reproducible: two evaluations could differ
    ("plans/extended_queries.py", "surrogate_key_assignment"): 1,
    # plan builders whose persists won a cold interleaved A/B against the
    # same builder without them; the numbers are in a comment at the site
    ("plans/advanced_queries.py", "copurchase_luby_mis"): 2,
    ("plans/advanced_queries.py", "copurchase_brand_modularity"): 1,
    ("plans/advanced_queries.py", "part_betweenness_3hop"): 5,
    ("plans/analytics_queries.py", "part_random_walks"): 1,
    ("plans/curation_queries.py", "dsir_importance_weights"): 1,
    ("plans/llm_queries.py", "duplicate_span_extraction"): 1,
    ("plans/mining_queries.py", "semdedup_cluster_stats"): 1,
    ("plans/mining_queries.py", "part_shortest_path_3hop"): 1,
    ("plans/ml_queries.py", "part_label_propagation"): 1,
    ("plans/ml_queries.py", "frequent_part_triples"): 2,
    ("plans/ml_queries.py", "ridge_cv_mae"): 1,
}


def persist_sites(src: str) -> dict[str, int]:
    """``.persist(`` / ``.cache(`` calls per top-level function of one
    module's source (``<module>`` for calls outside any function)."""
    counts: dict[str, int] = {}

    def visit(node: ast.AST, owner: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = owner
            if owner == "<module>" and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("persist", "cache")
            ):
                counts[inner] = counts.get(inner, 0) + 1
            visit(child, inner)

    visit(ast.parse(src), "<module>")
    return counts


def test_persist_sites_match_allowlist():
    pkg = Path(fraud_detection_etl_project_spark.__file__).parent
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        for fn, n in persist_sites(path.read_text()).items():
            found[(path.relative_to(pkg).as_posix(), fn)] = n
    assert found == PERSIST_ALLOWLIST


def test_site_scan_sees_nested_and_chained_calls():
    src = (
        "def builder(df):\n"
        "    def leg(x):\n"
        "        return x.distinct().persist()\n"
        "    y = df.cache()\n"
        "    return leg(y).unpersist()\n"
        "z = frame.persist(level)\n"
    )
    assert persist_sites(src) == {"builder": 2, "<module>": 1}


# The two builders that unpersist after their last eager action, plus one
# builder per plan module that lost its persist.
RELEASE_QUERIES = [
    "copurchase_personalized_ppr",
    "copurchase_linkpred_eval",
    "part_clustering_coefficients",  # advanced_queries
    "multires_event_rollup",  # extended_queries
    "value_drift_ks",  # governance_queries
    "tfidf_cosine_pairs",  # llm_queries
    "doc_containment_pairs",  # mining_queries
    "recommender_hit_rate",  # ml_queries
]


@pytest.mark.parametrize("name", RELEASE_QUERIES)
def test_consumed_query_leaves_no_persisted_rdds(spark, name):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    REGISTRY[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
    assert jsc.getPersistentRDDs().size() == before


def test_ppr_releases_sym_only_when_the_result_is_driver_built(spark):
    """copurchase_personalized_ppr unpersists its edge frame only when the
    operator's result is a childless plan. The local path returns one;
    the distributed path's lazy result, which still reads the edges,
    does not."""
    from fraud_detection_etl_project_spark.operators.graph import personalized_pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame([(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)], "src long, dst long, weight long")

    def childless(df):
        return df._jdf.queryExecution().logical().children().isEmpty()

    kw = dict(iterations=2, damping=0.85, quant=12)
    assert childless(personalized_pagerank(nodes, edges, [1], **kw))
    assert not childless(personalized_pagerank(nodes, edges, [1], local_edge_threshold=0, **kw))
    spark.catalog.clearCache()
