"""Session defaults: the codegen class cache holds a retrieval round's
working set, so repeating the same work compiles (almost) nothing."""

from __future__ import annotations

import os

from github_data_pipeline_spark.pipeline import process_repo
from github_data_pipeline_spark.plans.github_plans import DOMAIN_DIR
from github_data_pipeline_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from github_data_pipeline_spark.sources.fixtures import REPO
from github_data_pipeline_spark.sources.sinks import write_json_artifact


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _retrieve(spark, out: str) -> None:
    """One repo's retrieval over the ``testdata_domain`` fixture, with
    every DataFrame built afresh: raw reads -> process_repo -> one JSON
    artifact per table."""
    raw = {
        name: spark.read.parquet(os.path.join(DOMAIN_DIR, name))
        for name in sorted(os.listdir(DOMAIN_DIR))
    }
    tables = process_repo(raw, REPO)
    for name in sorted(tables):
        write_json_artifact(tables[name], os.path.join(out, name))


def test_get_spark_sets_codegen_and_debugging_defaults(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == (
        CODEGEN_CACHE_MAX_ENTRIES
    )
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == (
        "false"
    )


def test_second_retrieval_pass_reuses_compiled_classes(spark, tmp_path):
    """The second pass rebuilds every DataFrame, but the plans generate
    the same code, so its classes come from the cache. At Spark's
    100-entry default the ~130 classes of one pass evict each other and
    the second pass recompiles all of them.

    AQE is off for the two passes: its re-planning depends on which
    stage finishes first, and now and then picks another valid plan for
    ``prs_with_linked_issues`` or ``repo_blame`` (up to ~20 new classes
    in a pass). Those are new code, not cache misses; fixed plans make
    the count measure the cache alone."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _retrieve(spark, str(tmp_path / "first"))
        before = _compiles(spark)
        _retrieve(spark, str(tmp_path / "second"))
        compiled = _compiles(spark) - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert os.path.exists(str(tmp_path / "second" / "issues" / "_SUCCESS"))
    assert compiled <= 5, f"second pass compiled {compiled} classes"
