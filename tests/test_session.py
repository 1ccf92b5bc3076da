"""The session factory's generated-class cache holds a repeated
workload's classes, so repeat passes compile nothing."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    metric = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    return metric.getCount()


def test_repeat_plans_hit_the_codegen_cache(spark):
    # 150 distinct plans compile ~300 classes per round: more than
    # Spark's default 100-entry LRU holds, so at the default every class
    # was evicted before the second round reached it again
    def one_round():
        for i in range(150):
            (
                spark.range(100)
                .filter(F.col("id") > i)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0
