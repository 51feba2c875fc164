"""SparkSession factory with scale-aware defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
builder options apply unchanged (AQE, skew-join handling, Arrow).  The
shuffle-partition default tracks core count locally; at cluster scale
AQE coalescing makes the static number far less sensitive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """A quarter of host RAM, clamped to 2-8 GB: local mode runs the
    whole engine in the driver JVM, and a heap sized past physical
    memory gets the JVM killed by the kernel mid-run."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(2048, min(8192, mem_mb // 4))}m"


def get_spark(
    app_name: str = "pymongo_change_stream_reader_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Settings chosen for 100 TB readiness, all of which are equally
    correct on ``local[N]``:

    - AQE on (runtime coalescing, skew-join splitting) so static
      partition counts need not be perfect at any scale.
    - Arrow on for the few Pandas-UDF operators.
    - UTC session timezone so results compare bit-for-bit against the
      DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local mode = driver-only JVM: persisted sketch/signature
        # tables + broadcast + task threads all live in this heap
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # The ContextCleaner reaps checkpoint/broadcast/shuffle state
        # through WEAK references, so nothing is freed until the JVM
        # happens to GC — and a large mostly-idle heap may not GC for
        # a long time.  A micro-batch relay churns ~10 checkpointed
        # frames per trigger, so dead blocks pile up and every store
        # apply gets progressively slower (measured: eight-store
        # composed batches aged 14 -> 16 s across three bench runs,
        # while forced GC between runs made them FASTER than fresh,
        # 10.1 s — the aging is uncollected garbage, not code).  The
        # stock default for this knob (30 min) is tuned for hour-scale
        # batch jobs; pin it to 1 min for a streaming engine.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        # Shuffle writer selection (r15): with numPartitions at or
        # below this threshold (stock 200) and no map-side combine,
        # Spark picks the BypassMergeSortShuffleWriter, which OPENS ONE
        # FILE PER REDUCE PARTITION per map task up front, then merges
        # and deletes them.  A micro-batch relay runs dozens of tiny
        # join/repartition exchanges per trigger, so the bypass path
        # turns each into thousands of file create/delete syscalls —
        # jstack sampling during the composed bench put ~49% of all
        # runnable task samples inside FileOutputStream.open0 via
        # DiskBlockObjectWriter.initialize.  Pinning the threshold to 1
        # routes every multi-partition shuffle through the sort-based
        # writer (ONE data file + one index per map task; the default
        # path for >200 partitions at cluster scale anyway): composed
        # eight-store A/B over 7 alternating 12-batch runs: every
        # sort-writer run (60-72 s) beat every bypass run (76-158 s),
        # ~+40-60% events/s.  Headline queries are unaffected (paired
        # A/B at sf0.1: parity — their shuffles are few and large, the
        # per-file overhead is noise there).  This is not a local[32]
        # constant: any node pays the same per-file metadata cost, and
        # production shuffle-partition counts (>200) already take the
        # sort path — the threshold only matters for the micro-batch
        # regime, where numPartitions is small BY DESIGN.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_THRESHOLD", "1"),
        )
    )
    # connector jars for the env-gated integration paths (RUNBOOK §1/
    # §2): integration/run_integration.sh exports the Kafka + Mongo
    # connector coordinates here so the gated tests' session can reach
    # a real broker/replica set without code changes
    packages = os.environ.get("IT_SPARK_PACKAGES")
    if packages:
        builder = builder.config("spark.jars.packages", packages)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
