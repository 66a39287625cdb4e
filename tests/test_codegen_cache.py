"""A warm re-execution compiles nothing: the codegen cache ``get_spark``
sizes holds the generated classes of every ``query_mix`` query, where
Spark's default of 100 entries made each pass evict and recompile its
own classes."""

from __future__ import annotations

from perfbench.query_mix import QUERIES
from spark_streaming_dis_plugin_spark.plans.registry import all_queries


def test_warm_reexecution_compiles_nothing(spark, sf_dir):
    specs = all_queries()
    compile_time = (spark._jvm.org.apache.spark.metrics.source
                    .CodegenMetrics.METRIC_COMPILATION_TIME())

    def compiles_in_one_pass() -> int:
        before = compile_time.getCount()
        for q in QUERIES:
            # as query_mix does; the builders leave relations persisted
            spark.catalog.clearCache()
            specs[q].fn(spark, sf_dir).collect()
        return compile_time.getCount() - before

    try:
        compiles = [compiles_in_one_pass() for _ in range(3)]
    finally:
        spark.catalog.clearCache()
    assert compiles[2] <= 0.05 * compiles[0], compiles
