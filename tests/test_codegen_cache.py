"""The generated-code cache holds the engine's working set: a query run
again in the same session reuses its compiled classes instead of compiling
them anew (see ``session.py``)."""

from __future__ import annotations

from conftest import EVENTS_OLAP_QUERIES

from fireball_data_processing_spark import queries as catalog
from fireball_data_processing_spark.session import CODEGEN_CACHE_ENTRIES


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, sf_dir) -> None:
    for name in EVENTS_OLAP_QUERIES:
        catalog.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_queries_compile_nothing(spark, sf_dir):
    # These nine queries generate ~170 distinct classes at sf0.01, more
    # than Spark's default 100-entry cache holds: under that default the
    # second round recompiles ~160 of them.
    before = _compilations(spark)
    _run_all(spark, sf_dir)
    assert _compilations(spark) > before  # the counter is live

    warm = _compilations(spark)
    _run_all(spark, sf_dir)
    assert _compilations(spark) - warm == 0
