"""Generate + freeze the golden fixtures (run once per intentional semantic change).

Golden provenance (documented openly, SURVEY.md §7 "What's hard" #2): the
reference labels ARE the output of this pipeline version at the frozen corpus
(seed=42, n=800). The F1≥0.99 gate (BASELINE.json:2) therefore checks
*stability* — that refactors, partitioning changes, and Spark upgrades never
change a single keep/drop decision or scrubbed byte. Planted-defect spot
checks in tests/test_pipeline.py independently verify the labels are *right*,
not merely reproducible.

Usage: python tools/make_goldens.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikidataquality_spark.datagen import fixture_pages_path  # noqa: E402
from wikidataquality_spark.operators.barrier import owned_caches  # noqa: E402
from wikidataquality_spark.pipeline import results, validate  # noqa: E402
from wikidataquality_spark.session import get_spark  # noqa: E402

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures")
GOLDEN_N = 800
GOLDEN_SEED = 42


def pages_path(tmp: str | None = None) -> str:
    # None → datagen's per-uid default root, so goldens and every gate read
    # the SAME cache file (a divergent hardcoded base here would regenerate
    # a second corpus and let the two silently drift)
    return fixture_pages_path(GOLDEN_N, GOLDEN_SEED, base=tmp)


SF001_DIR = "/root/testdata/sf0.01"


def _freeze(df, name: str) -> None:
    out = os.path.join(FIXTURE_DIR, name)
    pdf = df.toPandas()
    pdf.to_parquet(out, index=False)
    print(f"frozen: {out} ({len(pdf)} rows)")


def freeze_signature_fixtures(spark) -> None:
    """Freeze the pandas-UDF signature stages at sf0.01 so the driver's
    DuckDB oracle can recompute the DISTRIBUTED dedup algebra (banding +
    min-id survivorship + hamming verify) in pure SQL over committed keys
    (r01 VERDICT #4)."""
    from pyspark.sql import functions as F

    from wikidataquality_spark.operators.dedup import (
        SIMHASH_BANDS,
        band_keys_sql,
        hamming_band_keys,
        minhash_udf,
        simhash_udf,
    )
    from wikidataquality_spark.operators.langid_ngram import ngram_langid

    docs = spark.read.parquet(os.path.join(SF001_DIR, "documents.parquet"))
    sigs = docs.select("doc_id", minhash_udf(F.col("text")).alias("_sig"))
    _freeze(
        sigs.selectExpr("doc_id", f"explode({band_keys_sql('_sig')}) AS band_key"),
        "minhash_bands_sf001.parquet",
    )
    # full signatures for the verify stage's oracle (component agreement —
    # r04 VERDICT #2): DuckDB recomputes matches >= MINHASH_VERIFY_MIN_EQ
    # over these frozen lists
    _freeze(
        sigs.filter(F.col("_sig").isNotNull()).select(
            "doc_id", F.col("_sig").alias("sig")
        ),
        "minhash_sigs_sf001.parquet",
    )
    sh = docs.select("doc_id", simhash_udf(F.col("text")).alias("simhash"))
    _freeze(
        sh.select(
            "doc_id",
            "simhash",
            F.explode(hamming_band_keys("simhash", SIMHASH_BANDS)).alias("band_key"),
        ),
        "simhash_bands_sf001.parquet",
    )
    res = ngram_langid("text")
    _freeze(
        docs.select(
            "doc_id",
            res["lang_pred"].alias("lang_pred"),
            F.round(res["lang_conf"], 4).alias("lang_conf"),
        ),
        "langid_sf001.parquet",
    )


def freeze_query_fixtures(spark) -> None:
    """Freeze expected outputs for queries whose computation has no SQL
    recomputation (real multimodal decode). The ref_* parts are EXCLUDED:
    their expected values are hand-derived literals in the oracle SQL, the
    truth anchor the frozen bulk is checked against.
    (stream_incremental_validate no longer freezes anything — its oracle is
    the live streamed-vs-batch integer diagonal.)"""
    from wikidataquality_spark.plans.driver_queries import QUERIES

    mm = QUERIES["multimodal_features"](spark, SF001_DIR)
    # every anchor row (ref_* goods, planted corruption, rescued frames,
    # robust audio layouts) has NEGATIVE media_id and lives as hand-derived
    # literals in the oracle SQL — only the synthetic bulk is frozen
    _freeze(
        mm.filter(mm["media_id"] >= 0),
        "multimodal_expected.parquet",
    )


def freeze_langid_truth() -> None:
    """Planted-truth corpus for the langid accuracy gate: defect-free pages
    with labels recorded AT GENERATION (datagen meta) — independent of the
    classifier, so the oracle's per-language group counts + acc_ok=TRUE pin
    model CORRECTNESS, not self-consistency."""
    from wikidataquality_spark.datagen import generate_pages_with_meta

    pdf = generate_pages_with_meta(400, seed=7)
    clean = pdf[pdf.defect == "none"][["url", "text", "true_lang"]].reset_index(
        drop=True
    )
    out = os.path.join(FIXTURE_DIR, "langid_truth.parquet")
    clean.to_parquet(out, index=False)
    print(f"frozen: {out} ({len(clean)} rows)")


def main() -> None:
    spark = get_spark(cpus=8)
    pages = spark.read.parquet(pages_path())
    with owned_caches() as owner:
        r = results(validate(pages, persist_registry=owner)).select(
            "url", "keep", "violated_rules", "scrubbed_text", "lang_pred"
        )
        pdf = r.toPandas()  # one action; count/kept come from the collected frame
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    out = os.path.join(FIXTURE_DIR, "golden_labels.parquet")
    pdf.to_parquet(out, index=False)
    print(f"golden frozen: {out} ({len(pdf)} rows, {int(pdf['keep'].sum())} kept)")
    freeze_signature_fixtures(spark)
    freeze_query_fixtures(spark)
    freeze_langid_truth()


if __name__ == "__main__":
    main()
