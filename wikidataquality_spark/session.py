"""SparkSession factory tuned for the quality-filter workload.

Local-mode testing on local[N]; the same configs are what we'd pass to
spark-submit on a real multi-executor cluster (AQE, Arrow, skew-join) —
see SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs every session gets, whatever the host. The host-dependent sizing
# lives in get_spark: local[cpus] threads, shuffle partitions from the core
# count, and the JVM heap from the host's memory (_default_driver_mem).
# On a real cluster the same spark.* settings apply; memory knobs move to
# executor-level flags in spark-submit.
_DEFAULTS = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    # BASELINE.json:6 demands explicit skew handling; AQE splits skewed
    # joins on top of the manual hot-host salting
    # (operators/dedup.repartition_by_host_salted). It does not split the
    # dedup windows (ROADMAP item 6).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / toPandas boundary (BASELINE.json:15:
    # vectorized pandas/Arrow UDFs only, no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Quiet + headless (progress bar would interleave with bench.py's JSON line).
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # zstd (level 1, Spark's default level) for every shuffle block, shuffle
    # spill and broadcast; Spark's default codec is lz4. Parquet output has
    # its own codec, so output bytes do not change. Shuffle write per
    # exchange, lz4 versus zstd, as measured when zstd was adopted (the
    # dedup exchanges of that time), steady-state call 2 of one perfbench
    # session (seed 7, 4 vCPU, local[4]), from the status store. Later
    # changes to what the exchanges carry moved the crawl-warc zstd
    # figures; ROADMAP.md "Recent" has the current ones:
    #
    #   exchange                              rows      lz4          zstd
    #   crawl-warc recrawl rank() window      4,620   193,834 B   158,473 B
    #   crawl-warc exact window (_h, _h2)     4,200   139,424 B   109,582 B
    #   crawl-warc band window (16 rows/doc) 67,200 1,364,489 B   938,585 B
    #   crawl-warc flag groupBy(id)           5,727    85,792 B    42,260 B
    #   crawl-warc metrics tail                 337    25,420 B    17,515 B
    #   crawl-warc total                              391.5 B/doc 274.1 B/doc
    #   curate-funnel band window           128,000 1,810,218 B 1,245,722 B
    #   curate-funnel total                           288.3 B/doc 197.9 B/doc
    #
    # docs/s stays within the run-to-run spread. zstd's native stream state
    # does not show in peak RSS: the JVM's RSS beyond its committed
    # heap is the same under both codecs. This is a SparkContext-level conf:
    # like the master and the heap size, get_spark cannot apply it to a
    # session that is already running.
    "spark.io.compression.codec": "zstd",
    # saveAsTable target for bucketed tables (io/bucketed.py) — keep the
    # metastore/warehouse out of the repo tree, per-uid so two local users'
    # warehouses (and derby metastores) never collide on one shared path.
    "spark.sql.warehouse.dir": f"/tmp/wdq_warehouse_{os.getuid()}",
}


def _default_driver_mem() -> str:
    """min(24g, half the host's memory): local mode runs every executor
    thread inside the driver JVM, and a heap sized past the host gets the
    JVM OOM-killed mid-job instead of spilling."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except OSError:  # no procfs: not Linux
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "wikidataquality_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus: thread count for local[N]; defaults to $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: defaults to max(cpus, 32) — sized so sf0.1 partitions
    fit comfortably in memory while still exercising multi-partition plans.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    explicit_shuffle = shuffle_partitions is not None
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    # An active session means some caller already owns the tuning. Plain
    # builder.getOrCreate() would silently overwrite its RUNTIME SQL confs
    # (shuffle partitions, broadcast threshold, ...) with our defaults — an
    # in-process library call retuning an unrelated session mid-job (found
    # the hard way: a pipeline CLI invoked in-process bumped the test
    # session's shuffle.partitions 8→32, changing every later plan). Only
    # confs the caller EXPLICITLY requested are applied to an existing
    # session; masters, memory and the compression codec are immutable
    # post-start anyway.
    existing = SparkSession.getActiveSession()
    if existing is not None:
        if explicit_shuffle:
            existing.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            existing.conf.set(k, v)
        return existing

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
