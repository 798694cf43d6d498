"""Session configuration that every entry point inherits from
``core.session.get_spark``: the generated-code cache must hold a
repeating working set of plan shapes, so a second pass over the same
plans compiles nothing."""

from __future__ import annotations

N_PLANS = 120  # > the 100-entry default of spark.sql.codegen.cache.maxEntries


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_plans(spark) -> list:
    # the multiplier is a literal inlined into each plan's Java source,
    # so every i is a distinct generated class
    return [
        spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + 1 AS v").collect()
        for i in range(N_PLANS)
    ]


def test_get_spark_sets_codegen_and_debugging_confs(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_repeated_plans_hit_the_codegen_cache(spark):
    first = _run_plans(spark)
    before = _compilations(spark)
    second = _run_plans(spark)
    assert _compilations(spark) - before == 0
    assert second == first
    assert first[3] == [(i * 3 + 1,) for i in range(8)]
