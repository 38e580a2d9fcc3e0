"""The session keeps a warm query pass's compiled classes.

Spark compiles every whole-stage-codegen class with Janino and keeps it
in one LRU cache per JVM. ``build_session`` sizes that cache
(``session.CODEGEN_CACHE_ENTRIES``) above the engine's query working
set, so building and collecting the same queries again reuses the
compiled classes. The test counts compilations rather than reading the conf
back: Spark reads the size once per JVM, so a value set too late reads
back correctly and has no effect.
"""

from __future__ import annotations

import sys
from pathlib import Path

from __spark_entry__ import SF0001
from data_curator_spark.queries import QUERIES
from data_curator_spark.session import CODEGEN_CACHE_ENTRIES, cluster_conf

ROOT = Path(__file__).resolve().parents[1]


def _operators_queries() -> tuple[str, ...]:
    """The perfbench ``operators`` query set."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        from operators_workload import QUERY_SET
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    return QUERY_SET


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _collect_all(spark, names) -> None:
    for name in names:
        spark.catalog.clearCache()
        QUERIES[name](spark, SF0001).collect()
    spark.catalog.clearCache()


# A second pass may still compile the few classes of a stage that AQE
# planned differently from the first pass (0-4 seen on these six
# queries); at Spark's default cache size of 100 it recompiled 62-78.
MAX_SECOND_PASS_COMPILES = 10


def test_second_query_pass_reuses_compiled_classes(spark):
    names = _operators_queries()
    _collect_all(spark, names)
    before = _compilations(spark)
    assert before > 0  # the counter is live: this JVM has compiled classes
    _collect_all(spark, names)
    assert _compilations(spark) - before <= MAX_SECOND_PASS_COMPILES


def test_cluster_conf_carries_the_cache_size():
    assert cluster_conf()["spark.sql.codegen.cache.maxEntries"] == str(CODEGEN_CACHE_ENTRIES)
