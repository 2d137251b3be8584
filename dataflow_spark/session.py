"""SparkSession factory tuned for the dedup+filter pipeline.

Defaults are chosen for one box (local[N], N = the CPUs this process may
use) but every knob is the one you would set on a 1000-executor cluster too:
AQE on (runtime re-plan + skew-join splitting), Arrow for every pandas UDF
boundary, UTC so results compare bit-for-bit against the DuckDB oracle, and
one shuffle partition per core.  Batch shuffles are AQE-coalesced whatever the
count; a stream's state partition count is fixed at its first start (Spark
records it in the offset log) and every state partition pays a fixed commit
per micro-batch, so more partitions than cores only adds task waves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataflow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # SPARK_GRAFT_MASTER overrides the master verbatim — a tools/ab.py leg
    # such as `.:SPARK_GRAFT_MASTER=local-cluster[2,4,6144]` runs the engine
    # on local-cluster[N,c,mem] (real separate executor JVMs, each with its
    # own shuffle/state/Python workers): the honest single-box stand-in for
    # the north rule's "N and 4N executors" criterion.  Executors are separate processes, so
    # they need the repo on their workers' PYTHONPATH (on a real cluster:
    # spark-submit --py-files dist/dataflow_spark.zip, see tests/test_submit).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting —
        # at 100 TB this is what absorbs the 70%-hot `cc` source key.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere a pandas UDF runs; big batches amortize transfer.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet scan sizing: 128 MiB splits keep 100 TB ~ 800k tasks, fine.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # File-stream triggers list their files on the driver: above this
        # many paths (default 32) FileStreamSource's InMemoryFileIndex runs
        # a parallel-listing Spark job in every getBatch.  On a 4-core box
        # at 96 files per trigger, getBatch p50 was 0.73-0.92 s with that
        # job and 40-50 ms listed serially (NOTES.md, "Stream micro-batch
        # floor").  The value sits above any sane maxFilesPerTrigger.  The
        # production Iceberg source reads its file list from table metadata
        # and lists no files.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.ui.enabled", "false")
        # Local mode: driver.memory IS the whole JVM, and per-task working
        # memory (shuffle/Arrow/agg buffers) scales with CONCURRENT tasks —
        # a fixed 8g that survives 8 threads heap-OOMs at 32 threads on a
        # 4x corpus (measured: minhash r3200 died in the bucket shuffle).
        # 1 GiB/core mirrors a typical executor sizing (4-8 cores, 4-8 GiB).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cpus)}g"),
        )
        # Broadcast joins up to 64 MiB — dimension tables / blocklists.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local-cluster"):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config(
                "spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEM", "5g")
            )
            # driver no longer hosts the tasks — shrink it back down
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
            .config("spark.executorEnv.PYTHONPATH", repo_root)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
