"""Hot-host salting (BASELINE.json:6: explicit skew handling)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.operators.dedup import host_of, repartition_by_host_salted


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows on one hot host, the rest spread over 50 cold hosts."""
    hot = [(i, f"https://hot.example.com/p{i}") for i in range(900)]
    cold = [(1000 + i, f"https://cold{i % 50}.example.com/p{i}") for i in range(100)]
    return spark.createDataFrame(hot + cold, "row_id long, url string").cache()


def test_hot_host_spreads_across_partitions(spark, skewed):
    """The Misra-Gries hot-host detection (shuffle bounded by P*(k+1) rows
    at ANY host cardinality) finds the hot host and salts it."""
    out = repartition_by_host_salted(skewed, n_partitions=8, hot_fraction=0.5)
    per_part = (
        out.filter(host_of("url") == "hot.example.com")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
    )
    rows = per_part.collect()
    # without salting every hot row lands in ONE partition; with 16 salts over
    # 8 partitions the hot host must occupy several
    assert len(rows) >= 4
    assert max(r["count"] for r in rows) < 900


def test_cold_hosts_stay_unsalted_and_colocated(spark, skewed):
    out = repartition_by_host_salted(skewed, n_partitions=8, hot_fraction=0.5)
    parts = (
        out.filter(host_of("url") != "hot.example.com")
        .withColumn("pid", F.spark_partition_id())
        .groupBy(host_of("url").alias("host"))
        .agg(F.countDistinct("pid").alias("n_parts"))
    )
    # every cold host keeps all its rows in exactly one partition (salt=0)
    assert all(r["n_parts"] == 1 for r in parts.collect())


def test_salting_preserves_rows(spark, skewed):
    out = repartition_by_host_salted(skewed, n_partitions=8, hot_fraction=0.5)
    assert sorted(r["row_id"] for r in out.collect()) == sorted(
        r["row_id"] for r in skewed.collect()
    )
