"""Generated code is compiled once per session, not on every call.

Spark caches compiled codegen classes per JVM, 100 of them by default.
A rerun of the engine's programs needs far more than that, so at the
default the cache evicts in LRU order and every rerun recompiles most
of its classes with Janino. ``get_spark`` sizes the cache for the
engine's working set; these tests pin that.
"""

from __future__ import annotations

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

#: registry entries without index builds that together compile about
#: 300 classes in a fresh session: profiles and wide aggregations, shuffle
#: joins, an as-of join and PageRank supersteps
ENTRIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "j2_revenue_by_region", "o2_top8_other_brands",
    "a2_numeric_stats_lineitem", "a4_date_stats_orders",
    "a5_categorical_freq_events", "qa_missingness_final", "qa_values_full",
    "asof_attribute_clicks_salted", "graph_pagerank_directed_sinks",
)


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far (one per cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sets_codegen_cache_size(spark):
    assert spark.sparkContext.getConf().get(CACHE_KEY) == "8192"


def test_second_pass_reuses_compiled_code(spark, sf_dir):
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def run_pass() -> int:
        before = _compiles(spark)
        for name in ENTRIES:
            queries[name](spark, sf_dir).collect()
        return _compiles(spark) - before

    first = run_pass()
    second = run_pass()
    # a first pass under 100 compiles could not show thrash at the
    # default cache size, so the test would prove nothing
    assert first > 100, f"first pass compiled only {first} classes"
    # AQE may pick a different stage order on a rerun and so generate a
    # few new classes; everything else must come from the cache
    assert second <= 0.1 * first, (
        f"second pass recompiled {second} of {first} classes")
