"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nebula-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession with AQE + Arrow enabled.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster these configs are supplied by spark-submit; the
    settings below are the ones the engine depends on (AQE for skew/plan
    re-optimization, Arrow for the pandas-UDF stages).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    resolved_master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Reference CSV parity: Go encoding/csv validates the FULL row —
        # a wrong-field-count record errors (and is skipped) no matter
        # which fields a spec reads. Spark's CSV column pruning evaluates
        # malformedness only on the referenced columns, so a pruned scan
        # would silently keep rows the reference drops; it also breaks the
        # importer's single-scan failed-row accounting (the corrupt-record
        # marker goes un-populated under pruning). CSV-only knob; parquet
        # column pruning is unaffected.
        .config("spark.sql.csv.parser.columnPruning.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "nis-warehouse"),
            ),
        )
    )
    # local[N] benchmarking fairness: the JVM sizes GC threads from the
    # HOST's core count, so a local[2] run would silently use 32-way GC —
    # inflating small-N throughput and understating scaling efficiency.
    # Pin GC parallelism to the requested core count (what a real N-core
    # executor would have). No effect when master is local[*] or a cluster.
    m = re.fullmatch(r"local\[(\d+)\]", resolved_master)
    if m:
        n = int(m.group(1))
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(2, n)} -XX:ConcGCThreads={max(1, n // 4)}",
        )
    # local-cluster[n,c,m] (real executor JVMs): same fairness pinning for
    # each c-core executor, and executor heap from the env the scaling
    # harness sets (the worker-memory field in the master string is the
    # worker's budget, not the executor's request)
    mc = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", resolved_master)
    if mc:
        c = int(mc.group(2))
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(2, c)} -XX:ConcGCThreads={max(1, c // 4)}",
        )
        # Multi-executor scheduling fairness: with k executors each holding
        # ~1/k of the map output, shuffle-reduce locality preferences
        # (spark.shuffle.reduceLocality.enabled, 0.2 fraction threshold)
        # make the scheduler stall up to spark.locality.wait (3s) per wave
        # waiting for a slot on the "preferred" executor. Across an
        # iterative pipeline's dozens of short stages that adds minutes of
        # pure scheduler idle — none of which exists in single-executor
        # mode, so it reads as (false) negative scaling. Locality is a
        # disk-read optimization; local-cluster executors share one disk,
        # and on a disaggregated-storage cluster (S3/remote shuffle) the
        # standard setting is the same: don't wait.
        builder = builder.config("spark.locality.wait", "0s")
        if os.environ.get("SPARK_EXECUTOR_MEMORY"):
            builder = builder.config(
                "spark.executor.memory", os.environ["SPARK_EXECUTOR_MEMORY"]
            )
    # event logging works for ANY master (thread-mode legs profile too)
    if os.environ.get("SPARK_GRAFT_EVENTLOG"):
        os.makedirs(os.environ["SPARK_GRAFT_EVENTLOG"], exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", os.environ["SPARK_GRAFT_EVENTLOG"]
        )
    return builder.getOrCreate()


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop filesystem.

    Ask before reading a path that may be missing: a failed read makes the
    query-execution listeners log its exception as a stack trace.
    """
    hadoop_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return hadoop_path.getFileSystem(hadoop_conf).exists(hadoop_path)
