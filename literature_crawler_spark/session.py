"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per-executor;
the shuffle-partition count and AQE settings are the knobs that must scale
with data volume (at 100 TB: shuffle.partitions sized so each task reads
100-500 MB post-shuffle, AQE coalescing/skew-join on, broadcast threshold
raised for dimension tables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """48g, capped at half the host's physical memory. A local-mode heap
    allowed to outgrow the host keeps expanding instead of collecting:
    with 48g on a 15 GB, 4-core host the test suite's JVM grew to 14 GB
    RSS and was OOM-killed; over the first five test modules a 7g heap
    peaked at 4.4 GB RSS against 11-13 GB, in the same wall time."""
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, host_gb // 2))}g"


def get_spark(
    app_name: str = "literature_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n = os.cpu_count() or 8
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(min(2 * n, 64)))
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches amortize the per-batch Python round-trip of
        # the canonicalizer kernel (measured: 64k batches cut frontier
        # memory traffic stalls vs the 10k default)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        # Cap GC parallelism: in local mode G1 defaults to ~5/8 of the
        # machine's cores for GC threads ON TOP of the worker threads,
        # oversubscribing the box under allocation-heavy string workloads —
        # measured 24% faster frontier kernel at local[32] with the cap.
        # (On a real cluster each executor JVM sizes GC to its own cores.)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Executor python workers must import this package. local[N] inherits
        # the driver's sys.path, but separate executor JVMs (local-cluster in
        # the sandbox, spark-submit --py-files on a real cluster) do not —
        # without this, every pandas/Arrow UDF dies with ModuleNotFoundError.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p for p in [
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                ] if p
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
