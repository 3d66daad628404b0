"""The engine session compiles each query's generated classes once.

Spark keeps generated classes (whole-stage and projection code) in one
JVM-wide cache sized by the static conf
``spark.sql.codegen.cache.maxEntries``; at Spark's default of 100 a set of
queries that generates more classes than that evicts its own classes and
recompiles them on every run. ``session.ENGINE_CONFS`` sizes the cache to
the engine's working set. This test runs a set of registered queries that
generates more than 100 classes twice and counts Janino compiles.

The set is the six perfbench ``query_mix`` queries (105 classes a pass)
and four relational bench queries, so that it still outgrows 100 when
earlier tests in the session have cached the classes it shares with them.
Left out: queries whose class source, and so the cache key, differs from
run to run whatever the cache size, because AQE numbers their codegen
stages in completion order. Seen recompiling on warm runs at sf0.1:
``nb_lang_confusion``, ``copurchase_triangle_count``,
``copurchase_ktruss_edges``, ``part_clustering_coefficients``,
``part_random_walks``, ``simhash128_hamming_pairs``,
``tfidf_cosine_pairs`` and ``conformal_value_intervals``.
"""

from __future__ import annotations

from conftest import SF_SMALL as SF

from fraud_detection_etl_project_spark.observability import codegen_compiles
from fraud_detection_etl_project_spark.plans import REGISTRY

QUERIES = [
    "flagship_inconsistent_orders",
    "pricing_summary",
    "q3_urgent_revenue",
    "q10_returned_revenue",
    "q5_local_supplier_revenue",
    "bpe_merge_training",
    "minhash_signatures",
    "stream_velocity_alerts",
    "q21_sole_return_supplier",
    "nation_trade_pagerank",
]


def _run_all(spark) -> int:
    before = codegen_compiles(spark)
    for name in QUERIES:
        REGISTRY[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    return codegen_compiles(spark) - before


def test_second_run_reuses_generated_classes(spark):
    first = _run_all(spark)
    second = _run_all(spark)
    # the set must outgrow Spark's default cache, or the test proves nothing
    assert first > 100, f"query set compiled only {first} classes"
    assert second < 0.1 * first, (
        f"second run recompiled {second} of {first} classes: the generated-class "
        "cache is smaller than the working set"
    )
