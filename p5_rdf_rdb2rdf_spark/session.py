"""SparkSession construction tuned for this engine.

Local-mode sandbox settings; on a real cluster the same builder is used with
``master`` / memory supplied by ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "p5_rdf_rdb2rdf_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[*]``. Shuffle partitions default to the core
    count (local mode: more would only add scheduling overhead; on a cluster
    AQE coalesces anyway).
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    # SPARK_GRAFT_MASTER overrides the master URL entirely — used by the
    # scaling bench to run under local-cluster[N,C,M] (separate executor
    # JVMs: the sandbox topology that actually matches 'N vs 4N executors')
    master = os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{cores}]" if cores else "local[*]"
    )
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on AQE coalescing: `parallelismFirst=false` (size-targeted
        # coalescing) was tried as a default and REVERTED — it equalizes
        # output-file layout across cluster sizes, but at small data volumes
        # it coalesces a shuffle below the core count and strands cores
        # (measured on the local[32] bench). Spark's parallelism-first
        # default is kept; what actually mattered for cross-topology
        # comparability was pinning the INITIAL shuffle-partition width to a
        # data-appropriate constant (see bench_headline_scaling.py).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # task-direct output commit (v2): job commit is O(1) renames instead
        # of O(files) — the final serial section of every large write
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache sized to the engine's plans (Spark's default
        # holds 100). One whole-schema map (DM of the 8-table star schema
        # unioned with an R2RML join, written to a GraphTable) generates
        # ~120 distinct classes, so at 100 entries every repeat evicted and
        # recompiled ~115 of them with Janino; with room for them a repeat
        # compiles 0. The KG pipeline's classes fit either way.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
