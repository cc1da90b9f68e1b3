"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for correctness-at-scale, not just local runs:

* UTC session timezone — the reference's timestamps are second-granularity
  UTC strings (reference ``src/retrieval/collectors.py:455-465``); every
  timestamp comparison must be timezone-stable.
* AQE on (+ coalescePartitions + skewJoin) — runtime re-planning replaces
  the reference's hand-tuned batch sizes and protects the big shuffling
  joins/aggs from skew at 100 TB.
* Arrow on — every Pandas-UDF boundary is Arrow-batched.
* shuffle.partitions sized from the local core count; on a real cluster
  AQE coalescing makes the initial number non-critical.
* codegen class cache sized to the working set
  (``CODEGEN_CACHE_MAX_ENTRIES``). Spark's default LRU holds 100
  compiled classes; one round of eight registry entries generates
  ~330-340 distinct classes and one round of retrieval -> indexing ->
  scenarios over two repos ~400 (~125 per repo's ``process_repo`` +
  JSON writes). At 100 entries the cache thrashes and never hits, so
  every query, even a second write of the same DataFrame, recompiles
  all of its generated code (~0.7-0.85 s per repo). At 2000 entries
  those rounds compile 0-12 classes, and driver Metaspace stays at
  ~165-180 MB, as with the default. The conf is static: it only takes
  effect when this factory builds the session, and ``tune_session``
  cannot raise it on a session supplied by the driver.
* DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``, a documented
  speed trade-off). With it on, every Column/DataFrame call walks the
  Python stack and makes ~4 extra py4j round trips (one repo's
  ``process_repo``: 6.4k round trips on, 3.25k off). Error messages
  keep the JVM query context and lose only the Python file:line of the
  failing call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
#: compiled-class LRU size; well above the ~400 classes one workload
#: round generates (see the module docstring)
CODEGEN_CACHE_MAX_ENTRIES = "2000"


def get_spark(
    app_name: str = "github-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        # InferFiltersFromGenerate clones the generator's child into an
        # inferred size()>0 filter and pushes it below exchanges — for
        # expensive array builders (ngram shingles) that evaluates the
        # whole expression a second time on the narrow pre-shuffle scan
        # (observed 8x slowdown, single-core). Exclude the rule: our
        # generators never feed empty-heavy arrays where it would help.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # testdata parquet timestamps are written without isAdjustedToUTC;
        # read them as session-tz (UTC) instants, not TIMESTAMP_NTZ, so
        # numeric casts / interval arithmetic work and values match the
        # DuckDB oracle's naive-timestamp reading of the same files.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_MAX_ENTRIES)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally provided session.

    The driver hands ``entry``/``queries`` a session we didn't build;
    only session-scoped (non-static) confs can be set here, so such a
    session keeps its own codegen cache size. Idempotent
    (marker conf) so per-builder calls cost nothing.
    """
    if spark.conf.get("spark.graft.tuned", None) == "1":
        return spark
    spark.conf.set("spark.graft.tuned", "1")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # see get_spark: avoid duplicated generator-child evaluation
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    except Exception:  # pragma: no cover - static conf on some builds
        pass
    return spark
