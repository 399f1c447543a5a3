"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's process-level knobs (async semaphore,
``max_concurrent_requests`` — reference ``src/processor.py:82-84``,
``config/default_config.yaml:17-21``) with Spark task parallelism + AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 16 * 1024


def host_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """SPARK_DRIVER_MEM, else half the machine's memory capped at 16g. In
    local mode the driver JVM shares the host with one Python worker per
    core, so a heap sized past the machine (16g on a 15 GiB box) can only
    end in the kernel's OOM killer."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(total_mb // 2, _DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "xdan_dqa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_metastore: bool = False,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Defaults target local[N] testing but every setting is the one you'd
    ship to a 1000-executor cluster: AQE on (runtime coalesce + skew-join
    splitting), Arrow on (the two pandas UDFs are Arrow-batched), bounded
    Arrow batch size so large ``html`` blobs don't blow executor memory
    (SURVEY.md §7 risk list).
    """
    # glibc malloc tuning for the Arrow/pandas workers: without these, each
    # worker mmap/munmaps its multi-MB batch buffers on every batch, and the
    # resulting page-zeroing + cross-core TLB shootdowns show up as 80%
    # kernel time at 32 workers (measured: full pipeline 27.7s → 16.3s at
    # local[32] with these set). Python workers inherit the driver env in
    # local mode; spark.executorEnv.* below covers real clusters.
    # Single-thread BLAS in every Python worker: task parallelism comes
    # from Spark (one worker per core); an unpinned OpenBLAS/OMP pool
    # spawns ncpu threads PER WORKER, and N workers × N threads
    # oversubscribe the box quadratically — which also corrupts N-vs-4N
    # scaling measurements (the N-core level borrows idle cores).
    _MALLOC_ENV = {
        "MALLOC_MMAP_THRESHOLD_": "134217728",
        "MALLOC_TRIM_THRESHOLD_": "134217728",
        "MALLOC_ARENA_MAX": "4",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)

    cpus = host_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N]: one JVM — match cores. On a real cluster this is set to
        # ~2-3x total executor cores via spark-submit conf instead.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: measured on this box, 2048-row batches make
        # the UDF stages round-trip-bound (ppl UDF 2.1s → 0.8s for 120k
        # docs at 32 cores when raised to 8192). 8192 rows × ~5 KB html
        # ≈ 40 MB/batch/worker — still memory-safe for 4 GB executors.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # Post-mortem tracebacks when a heavily-loaded host kills an Arrow
        # worker mid-batch ("Python worker exited unexpectedly") — free in
        # normal operation, decisive when triaging a crashed task.
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's UTF8_BINARY case mapping defaults to ICU, whose
        # CollationAwareUTF8String static initializer builds the full ICU
        # case-map tables the first time any task evaluates lower()/upper()
        # — measured 40-130 s once per JVM on this sandboxed kernel (every
        # task thread blocks on the <clinit> lock; thread-dump-verified).
        # JVM case mapping is semantically identical for the marker/langid
        # lexicons this engine lowercases (ASCII + common Unicode; the
        # frozen goldens and DuckDB oracles stay bit-identical — verified)
        # and costs nothing at class-load. On a 1000-executor cluster this
        # also removes a per-executor first-task warmup stall.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if hive_metastore:
        # Managed/bucketed tables must survive the session for
        # cross-process resume (committed_ids_table): the default
        # in-memory catalog forgets them, so jobs that publish tables
        # opt into the Hive catalog (embedded Derby locally; on a real
        # cluster this is the shared metastore and costs nothing).
        #
        # The embedded Derby metastore and the warehouse otherwise
        # resolve against the CURRENT WORKING DIRECTORY, so a --resume
        # rerun launched from a different cwd would find an empty catalog
        # and silently re-score + re-append everything. Pin both to one
        # absolute location (overridable for real deployments, where the
        # shared metastore URI comes from hive-site.xml instead).
        #
        # Trade-off, explicit: embedded Derby is single-process. Two
        # CONCURRENT hive_metastore=True processes on one machine now
        # collide on the pinned path (Derby XSDB6 "another instance
        # booted") where cwd-relative paths let them coexist by accident.
        # Resume correctness wins — a second concurrent local job should
        # set XDAN_DQA_WAREHOUSE to its own path; on a cluster the shared
        # Hive metastore handles concurrency and none of this applies.
        base = os.path.abspath(os.path.expanduser(
            os.environ.get("XDAN_DQA_WAREHOUSE", "~/.xdan_dqa_spark")))
        os.makedirs(base, exist_ok=True)
        builder = (
            builder.enableHiveSupport()
            .config("spark.sql.warehouse.dir", os.path.join(base, "warehouse"))
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={os.path.join(base, 'metastore_db')};create=true",
            )
        )
    spark = builder.getOrCreate()
    if hive_metastore and spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "hive":
        # getOrCreate() silently IGNORES enableHiveSupport when a session
        # already exists — a resume anti-join against the in-memory catalog
        # would then see no committed table and duplicate every row. Fail
        # loudly instead.
        raise RuntimeError(
            "hive_metastore=True requested but the already-active SparkSession "
            "was built without Hive support (catalogImplementation="
            f"{spark.conf.get('spark.sql.catalogImplementation', 'in-memory')!r}). "
            "Stop the existing session first, or create the first session in "
            "this process with hive_metastore=True."
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
