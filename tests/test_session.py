"""The engine session keeps generated code compiled across passes."""

from __future__ import annotations


def _compiled(spark) -> int:
    """Whole-stage-codegen classes Janino has compiled in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_cycle_of_more_than_100_classes(spark):
    """Spark's default codegen cache keeps 100 classes, so a cycle of
    more than 100 distinct classes recompiles most of them on every
    pass. One class per literal: the second pass must compile none."""
    cycle = [spark.range(0, 4, 1, 1).selectExpr(f"id * {i} + 977 AS x") for i in range(120)]
    passes = []
    for _ in range(2):
        before = _compiled(spark)
        for df in cycle:
            df.collect()
        passes.append(_compiled(spark) - before)
    assert passes[0] > 100, passes
    assert passes[1] == 0, passes


def test_driver_memory_is_half_the_host_capped_at_24g(monkeypatch):
    from dataframeutils_spark import session

    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    pages["SC_PHYS_PAGES"] = 16 * 2**30 // 4096
    assert session.driver_memory() == "8192m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.driver_memory() == "24576m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
