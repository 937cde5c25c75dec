"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster; all knobs
are chosen so the same plan shape survives a 1000-executor / 100 TB
deployment: AQE on (runtime coalesce + skew-join splitting), Arrow
enabled for the vectorized UDF path, shuffle partitions sized to cores
locally (cluster: 2-3× total cores).

Generated code is kept across a crawl's rounds and across crawls in
one session.  ``spark.sql.codegen.cache.maxEntries`` (static: it
applies to the JVM the first session starts) holds
``CODEGEN_CACHE_ENTRIES`` classes instead of Spark's 100, which one
crawl outgrows, and ``spark.sql.codegen.useIdInClassName=false``
leaves the whole-stage stage id out of the generated source, so the
same pipeline planned under another stage id (adaptive execution
can number a query's stages differently from run to run) is a cache
hit rather than a new class.  Measured on the two-round ``crawl-deep`` benchmark crawl (4
cores): Spark's defaults compiled 447 classes on a cold crawl and 435
more on an identical repeat crawl in the same session; with both
settings the cold crawl compiles 231 and the repeat crawl 0.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1024


def get_spark(app_name: str = "hepcrawl-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — e.g.
    ``local-cluster[4,8,8192]`` for multi-executor-JVM benchmarking
    (separate heaps: the honest sandbox analog of N vs 4N executors).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder
        .master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # broadcast small dims (robots/politeness tables) aggressively
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # metastore-backed (bucketed) tables live under /tmp, never in
        # the repo working dir
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/hepcrawl-spark-warehouse"))
        .config("spark.driver.extraJavaOptions",
                "-Dderby.system.home=/tmp/hepcrawl-spark-derby")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # ship the package to executor python workers (the pip-less
        # local analog of `spark-submit --py-files hepcrawl_spark.zip`)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    return builder.getOrCreate()
