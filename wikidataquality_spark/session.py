"""SparkSession factory tuned for the quality-filter workload.

Local-mode testing on local[N]; the same configs are what we'd pass to
spark-submit on a real multi-executor cluster (AQE, Arrow, skew-join) —
see SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (single JVM, 32 threads, 128 GiB).
# On a real cluster the same spark.sql.* settings apply; memory knobs
# move to executor-level flags in spark-submit.
_DEFAULTS = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    # BASELINE.json:6 demands explicit skew handling; AQE is the safety net
    # on top of our manual hot-host salting (operators/dedup.py).
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
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus: thread count for local[N]; defaults to $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: defaults to max(cpus, 32) — sized so sf0.1 partitions
    fit comfortably in memory while still exercising multi-partition plans.
    master: overrides the local[cpus] master — e.g. "local-cluster[4,8,16384]"
    for the multi-executor-JVM scaling experiment (tools/cluster_bench.py),
    or a real cluster URL under spark-submit; cpus then only sizes the
    shuffle-partition default.
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
    # session; masters/memory are immutable post-start anyway.
    existing = SparkSession.getActiveSession()
    if existing is not None:
        if explicit_shuffle:
            existing.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            existing.conf.set(k, v)
        return existing

    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
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
