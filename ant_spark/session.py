"""SparkSession factory with the engine's recommended configuration.

The confs below are the scale-relevant knobs (AQE, runtime bloom filters for
the dedupe anti-join, Arrow batching for the parse UDF). On a real cluster the
same module is shipped via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[N], 128 GiB). On a 1000-executor
# cluster the same settings apply except shuffle partitions, which should be
# ~2-3x total cores; AQE coalesces the excess at runtime either way.
ENGINE_CONF: dict[str, str] = {
    # AQE: runtime re-planning, skew-join splitting, partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Default 64MB advisory lets AQE coalesce html-heavy stages down to a
    # handful of tasks, capping the parse UDF's CPU parallelism. 16MB keeps
    # CPU-bound Arrow-UDF stages wide while still bounding tiny-task count.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16MB",
    # Let AQE coalesce the partitions of persisted plans too (off by
    # default): otherwise every read of a cached crawl frame runs one task
    # per shuffle partition however few rows it holds.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Runtime bloom filter on the probe side of large joins — directly
    # benefits the seen-set anti-join (reference dedupe.go:70-89 analogue).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Storage-partitioned joins over url_hash-bucketed state tables: the
    # engine's exact anti-join keys (url_hash, url) are a SUPERSET of the
    # bucket column, so allow subset co-partitioning — this is what lets the
    # bucketed seen table join with zero seen-side Exchange.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Arrow for pandas UDFs (the parse stage) and sane batch sizes: html
    # payloads are ~KBs, so 2048 rows/batch keeps Arrow buffers ~10s of MB.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Parquet: zstd (reference used snappy for its disk cache,
    # antcache/disk.go:402-404; zstd is the better default at scale).
    "spark.sql.parquet.compression.codec": "zstd",
    # v2 committer: task outputs move straight to the destination on task
    # commit instead of a second driver-side rename pass per write — the
    # engine commits 3 small parquet writes per round, so the rename pass is
    # pure fixed cost (atomicity is provided by the engine's own MANIFEST
    # commit, not by the _SUCCESS protocol).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Python workers fork from a daemon that re-reads an import archive
    # only when it changed (worker_daemon.py): the stock daemon re-reads
    # every archive on the worker path at the start of each Python task.
    "spark.python.daemon.module": "ant_spark.worker_daemon",
    # PySpark's DataFrame call-site capture wraps every Column function
    # call with a session lookup, a conf read, a stack walk and two JVM
    # calls — about half the py4j round trips of building a crawl round's
    # plans. Errors then carry no DataFrame call-site context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Keep scheduling deterministic-ish and cheap in local mode.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "ant_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the crawl engine."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # make the package importable in executor Python workers regardless of
    # cwd (the local-mode analogue of `spark-submit --py-files ant_spark.zip`)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pypath}" if pypath else repo_root
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
