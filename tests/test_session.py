"""Session defaults that change what the production DAGs move: the codec of
every shuffle block, shuffle spill and broadcast (session._DEFAULTS)."""

from __future__ import annotations

from pyspark.sql import functions as F
from shuffle_audit import group_stages

from wikidataquality_spark.datagen import generate_pages
from wikidataquality_spark.operators.dedup import MINHASH_BANDS, dup_marks, minhash_udf

# Shuffle write bytes per record of dup_marks on generate_pages(2000,
# seed=7) in the 8-partition test session: 17.5 with lz4 (Spark's default
# codec), 11.6 with zstd level 1. The bound sits between them.
MAX_BYTES_PER_RECORD = 14.5


def test_session_uses_zstd_codec(spark):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"


def test_dup_marks_shuffle_records_and_bytes(spark):
    pages = spark.createDataFrame(generate_pages(2000, seed=7)[["url", "text"]])
    exact_rows = pages.where("text IS NOT NULL").count()
    signed = pages.where(minhash_udf(F.col("text")).isNotNull()).count()

    sc = spark.sparkContext
    group = "test_session.dup_marks"
    sc.setJobGroup(group, group)
    try:
        dup_marks(pages).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    writes = sorted(
        (int(s.shuffleWriteRecords()), int(s.shuffleWriteBytes()))
        for s in group_stages(spark, group)
        if s.shuffleWriteRecords()
    )

    # three exchanges: the exact window (one row per doc with text), the
    # band window (MINHASH_BANDS rows per signed doc) and the flag
    # groupBy(id), whose map side writes partial aggregates: at least one
    # row per id, at most one per exact or band-candidate row
    band_rows = MINHASH_BANDS * signed
    records = [r for r, _ in writes]
    assert len(records) == 3, writes
    assert exact_rows in records and band_rows in records, (writes, exact_rows, signed)
    records.remove(exact_rows)
    records.remove(band_rows)
    (flag_rows,) = records
    assert exact_rows <= flag_rows <= exact_rows + band_rows

    total_records = exact_rows + band_rows + flag_rows
    per_record = sum(b for _, b in writes) / total_records
    assert per_record < MAX_BYTES_PER_RECORD, (per_record, writes)
