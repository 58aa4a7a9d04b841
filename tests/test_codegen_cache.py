"""The generated-code cache holds the engine's working set.

Spark compiles each generated class (whole-stage code, projections,
orderings) once and keeps it in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries. One pass over the six
benchmark catalog queries needs more classes than Spark's default of
100, so with the default every repeat pass compiled them all again.
``get_spark`` sizes the cache so a repeat pass reuses every class.
"""

from dbm_nca_ph_etl_spark.plans.queries import QUERIES

#: The query set of the benchmark's ``catalog_queries`` workload.
CATALOG_QUERIES = (
    "ann_ivfpq_topk",
    "minhash_lsh_pairs",
    "fuzzy_name_pairs",
    "revenue_by_nation",
    "market_basket_brand_pairs",
    "purchase_window_click_join",
)


def compiled_classes(spark) -> int:
    """Classes the JVM's code generator has compiled so far: one
    sample of the compile-time histogram per cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_pass_compiles_nothing(spark, sf_dir):
    # With AQE on, a join's build side follows whichever shuffle stage
    # finishes first, so a pass can plan a variant no earlier pass saw:
    # new code, not evicted code. Static plans make every pass equal.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        compiles = []
        for _ in range(3):
            before = compiled_classes(spark)
            for name in CATALOG_QUERIES:
                QUERIES[name].fn(spark, sf_dir).collect()
            compiles.append(compiled_classes(spark) - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # The first pass needs more classes than Spark's default cache
    # holds, so this runs where a default-sized cache thrashes.
    assert compiles[0] > 100, compiles
    # A session-memo hit can change a plan on the second pass; the
    # third pass repeats the second's plans.
    assert compiles[2] == 0, compiles
