"""SparkSession factory with the pinned runtime configuration
(SURVEY.md §4): AQE on, Arrow on with bounded batches, UTC, and
shuffle partitions sized for the sandbox (overridable for the
local[8]-vs-local[32] scaling protocol)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    master: str | None = None,
    app_name: str = "miekki",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("MIEKKI_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    shuffle = shuffle_partitions or int(os.environ.get("MIEKKI_SHUFFLE_PARTITIONS", "64"))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE's byte-based partition coalescing SERIALIZES the
        # CPU-heavy post-shuffle bucket-pairing stages (salted window
        # star-edges, simhash/substr buckets): band rows are ~30 B but
        # cost ~µs each, so "one 128 MB partition" = one multi-minute
        # task. Measured on the star stage at 16 cores: 43.1 s with
        # coalescing (18 partitions) vs 13.6 s without (128) — the r2
        # scaling-efficiency killer. Skew-join handling stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html rows are ~KBs; default 10k-record Arrow batches would be
        # ~GB buffers in the extract/minhash pUDFs (SURVEY.md §4.3)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("MIEKKI_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # progress bars would interleave with the scripts' stdout lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # shuffle/spill to tmpfs: the sandbox disk is shared with
        # other tenants; real clusters set local dirs on fast media
        .config("spark.local.dir",
                os.environ.get("MIEKKI_LOCAL_DIR", "/dev/shm/miekki_spark"))
        # Arrow-kernel tasks occupy ~2 CPUs each (JVM task thread +
        # python worker); MIEKKI_TASK_CPUS=2 reserves that honestly so
        # the scheduler stops oversubscribing cores — measured on this
        # box: local[32] e2e 125 s at task.cpus=1 vs 42 s at 2 (the
        # standard sizing for pUDF-heavy PySpark jobs). Default stays 1
        # so generic relational queries keep full slot counts.
        .config("spark.task.cpus", os.environ.get("MIEKKI_TASK_CPUS", "1"))
        # compile each generated class once per JVM: the default cache
        # of 100 classes is smaller than the pipeline's working set (the
        # first perfbench dense_pairs op compiles 156 classes, the first
        # pages_long op 246), so eviction recompiled ~185 and ~300
        # classes per warm op. AQE renumbers codegen stages between
        # runs, so with the stage id in the class name identical code
        # misses the cache; three dedup_labels runs on the sf0.001
        # fixtures (local[8]) compiled 263/256/265 classes by default,
        # 257/50/24 with the larger cache alone and 207/0/0 with both.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # local-cluster[N,cores,memMB] = N SEPARATE executor JVMs on one
    # host — the multi-JVM scaling protocol (BASELINE.md): executors
    # need their own memory cap and the repo on the python-worker path
    # (their workers don't inherit the driver's sys.path entries).
    if master.startswith("local-cluster"):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = (b.config("spark.executor.memory",
                      os.environ.get("MIEKKI_EXECUTOR_MEM", "6g"))
              .config("spark.executorEnv.PYTHONPATH", repo_root))
        # standalone workers IGNORE spark.local.dir (the cluster
        # manager overrides it via SPARK_LOCAL_DIRS) — without this
        # the executors shuffle to /tmp on the shared tenant disk
        # while local[N] mode uses tmpfs, corrupting any scaling
        # comparison between the two
        os.environ.setdefault(
            "SPARK_LOCAL_DIRS",
            os.environ.get("MIEKKI_LOCAL_DIR", "/dev/shm/miekki_spark"))
    # MIEKKI_EVENTLOG=<dir> turns on Spark event logging for offline
    # task-skew analysis (scripts/task_skew.py)
    evlog = os.environ.get("MIEKKI_EVENTLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
              .config("spark.eventLog.dir", evlog))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in the driver JVM so far (the count
    of ``CodegenMetrics``' compile-time histogram); the difference
    across an action is that action's codegen cache misses. In local
    mode tasks run in the driver JVM, so their compiles count too; on a
    cluster each executor compiles, and counts, its own."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
