"""Rule-level metrics + lineage (SURVEY.md §2B "Lineage/metrics").

Parity: the reference's violation statistics — counts per constraint type and
status over the wbq_violations store, surfaced by Special:ConstraintReport
(ref≈specials/SpecialConstraintReport.php:~40-200) and written by the
background evaluation job (ref≈includes/EvaluateConstraintReportJob.php:~15-80).

Here: one groupBy over the exploded violations array per partition column —
partial aggregation makes this a single cheap shuffle regardless of corpus
size. Output shape (FIXTURES.md):
  metrics(partition, rule_id, status, n) and the wide per-rule
  pass/fail table metrics_wide(partition, rule_id, pass_count, fail_count,
  exception_count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikidataquality_spark.operators.dedup import host_of
from wikidataquality_spark.rules.model import COMPLIANCE, EXCEPTION, VIOLATION


def partition_column(df: DataFrame, by: str = "date") -> DataFrame:
    """Attach the lineage partition key: days(warc_ts) (the Iceberg partition
    spec of BASELINE/SURVEY §4) or url-host."""
    if by == "date":
        return df.withColumn("partition", F.date_format("warc_ts", "yyyy-MM-dd"))
    if by == "host":
        return df.withColumn("partition", host_of("url"))
    raise ValueError(f"unknown partition scheme {by!r}")


def _exploded_checks(validated: DataFrame, by: str) -> DataFrame:
    """(partition, rule_id, status) — one row per check result; the shared
    projection both metrics shapes aggregate from (kept single-sourced so
    the two FIXTURES.md tables cannot drift — r04 review)."""
    df = partition_column(validated, by)
    return df.select("partition", F.explode("violations").alias("v")).select(
        "partition", F.col("v.rule").alias("rule_id"), F.col("v.status").alias("status")
    )


def rule_metrics_long(validated: DataFrame, by: str = "date") -> DataFrame:
    """Long-format metrics(partition, rule_id, status, n) — the FIXTURES.md
    shape: one row per (partition, rule, status), append-friendly for a
    metrics table whose status vocabulary may grow."""
    return (
        _exploded_checks(validated, by)
        .groupBy("partition", "rule_id", "status")
        .agg(F.count("*").alias("n"))
    )


def rule_metrics(validated: DataFrame, by: str = "date") -> DataFrame:
    """Wide per-rule pass/fail/exception table (metrics_wide in FIXTURES.md).
    Aggregated from the shared exploded projection directly (NOT from the
    long table: conditional counts in one pass beat a second aggregation
    over pre-grouped rows)."""
    v = _exploded_checks(validated, by)
    return v.groupBy("partition", "rule_id").agg(
        F.count(F.when(F.col("status") == COMPLIANCE, 1)).alias("pass_count"),
        F.count(F.when(F.col("status") == VIOLATION, 1)).alias("fail_count"),
        F.count(F.when(F.col("status") == EXCEPTION, 1)).alias("exception_count"),
    )


def distinct_url_sketches(validated: DataFrame, by: str = "date") -> DataFrame:
    """Per-partition mergeable distinct-url sketches (~4 KB binary each,
    operators/distinct_sketch): the metrics-table artifact that answers
    "distinct urls so far, across every run" by UNIONING stored sketches
    instead of re-scanning any corpus — the violation-statistics recast
    that still works at 100 crawls (union_estimate folds them per
    partition or globally)."""
    from wikidataquality_spark.operators.distinct_sketch import distinct_sketches

    return distinct_sketches(
        partition_column(validated, by), "url", ["partition"]
    )
