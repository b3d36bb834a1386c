"""Spark's generated-class cache holds the engine's working set
(``cachereg``'s "Generated classes"): a plan run again in the same JVM
is not compiled again."""

from __future__ import annotations

from pyspark.sql import functions as F

#: Distinct plans per pass: more than Spark's default cache size (100).
N_PLANS = 130


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_over_distinct_plans_compiles_nothing(spark):
    """Each plan inlines its own long literal, so each generates a class
    of its own; a second pass over all of them finds every class cached."""

    def one_pass() -> int:
        before = _compiles(spark)
        for i in range(N_PLANS):
            rows = spark.range(4).select((F.col("id") * 7 + i).alias("x")).collect()
            assert [r.x for r in rows] == [k * 7 + i for k in range(4)]
        return _compiles(spark) - before

    first = one_pass()
    assert first >= N_PLANS
    assert one_pass() == 0
