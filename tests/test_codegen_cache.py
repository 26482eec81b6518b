"""The session's generated-class cache holds the engine's working set.

Spark's default cache keeps 100 classes, fewer than one crawl cycle or
one registry pass compiles, so a repeated query used to recompile every
class it needed. ``session.get_spark`` sizes the cache; this pins that a
working set above the default is compiled once and then reused.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far (Spark's CodegenMetrics)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_generated_classes(spark):
    # 32 queries of 4 union branches; each branch has literals of its
    # own and compiles its own classes: together several times more
    # than Spark's default 100-entry cache holds
    def query(i: int):
        branches = [
            spark.range(0, 4, 1, 1)
            .selectExpr(f"id * {i + 7} + {i + j} AS x")
            .where(f"x % {i + j + 2} = 0")
            for j in range(4)
        ]
        return reduce(DataFrame.union, branches)

    shapes = [query(i) for i in range(32)]

    def one_pass() -> int:
        before = _compiles(spark)
        for df in shapes:
            df.collect()
        return _compiles(spark) - before

    first = one_pass()
    assert first > 200, f"the probe compiled only {first} classes"
    second = one_pass()
    assert second <= 0.05 * first, f"recompiled {second} of {first} classes"
