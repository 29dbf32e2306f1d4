"""Pipeline end-to-end: golden F1 + byte-identical scrub + planted-defect
spot checks (the BASELINE.json:2/15 gates)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.datagen import fixture_pages_path, generate_pages
from wikidataquality_spark.operators.barrier import owned_caches
from wikidataquality_spark.pipeline import results, validate

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "golden_labels.parquet")
GOLDEN_N, GOLDEN_SEED = 800, 42


@pytest.fixture(scope="module")
def validated(spark):
    path = fixture_pages_path(
        GOLDEN_N, GOLDEN_SEED
    )
    with owned_caches() as owner:
        v = validate(spark.read.parquet(path), persist_registry=owner)
        owner.append(v.cache())
        yield v


@pytest.fixture(scope="module")
def result_pdf(validated) -> pd.DataFrame:
    return (
        results(validated)
        .select("url", "keep", "violated_rules", "scrubbed_text", "lang_pred")
        .toPandas()
        .set_index("url")
        .sort_index()
    )


@pytest.fixture(scope="module")
def golden_pdf() -> pd.DataFrame:
    return pd.read_parquet(FIXTURE).set_index("url").sort_index()


def test_keep_f1_vs_golden(result_pdf, golden_pdf):
    """BASELINE.json:2 — keep/drop F1 ≥ 0.99 vs the frozen reference labels."""
    merged = result_pdf[["keep"]].join(golden_pdf[["keep"]], rsuffix="_gold", how="inner")
    assert len(merged) == len(golden_pdf)
    tp = int(((merged.keep) & (merged.keep_gold)).sum())
    fp = int(((merged.keep) & (~merged.keep_gold)).sum())
    fn = int(((~merged.keep) & (merged.keep_gold)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn})"


def test_scrubbed_text_byte_identical(result_pdf, golden_pdf):
    """BASELINE.json:15 — scrubbed text byte-identical per url."""
    joined = result_pdf[["scrubbed_text"]].join(
        golden_pdf[["scrubbed_text"]], rsuffix="_gold", how="inner"
    )
    mismatch = joined[joined.scrubbed_text != joined.scrubbed_text_gold]
    assert mismatch.empty, f"{len(mismatch)} urls differ, first: {mismatch.index[:3].tolist()}"


def test_violated_rules_stable(result_pdf, golden_pdf):
    a = result_pdf["violated_rules"].map(lambda v: tuple(sorted(v)))
    b = golden_pdf["violated_rules"].map(lambda v: tuple(sorted(v)))
    assert (a == b).all()


def test_every_enrich_field_is_read_and_reaches_the_output(validated):
    """Each fused enrich output has a production reader — a PIPELINE_RULES
    column, a results() column, or a dedup/scrub input — so the UDF computes
    nothing the DAG drops; and validate() carries every one of them."""
    from wikidataquality_spark.operators.enrich import ENRICH_TYPE
    from wikidataquality_spark.pipeline import PIPELINE_RULES

    fields = set(ENRICH_TYPE.fieldNames())
    read = {r.param("column") for r in PIPELINE_RULES}
    read |= set(results(validated).columns) | {"text_extracted", "minhash_sig"}
    assert not fields - read, sorted(fields - read)
    assert not fields - set(validated.columns), sorted(fields - set(validated.columns))


def test_extract_is_byte_identical_inverse(validated):
    """extract(html) must reproduce `text` exactly (datagen renders html from
    text; the extractor must invert it byte-for-byte)."""
    bad = validated.filter(F.col("text_extracted") != F.col("text")).count()
    assert bad == 0


# --- planted-defect spot checks: the golden labels are RIGHT, not just stable ---


def _pdf(validated):
    return validated.select(
        "url", "text", "lang", "keep", "violated_rules", "scrubbed_text",
        "is_exact_dup", "is_near_dup", "lang_pred", "perplexity",
    ).toPandas()


@pytest.fixture(scope="module")
def vpdf(validated):
    return _pdf(validated)


def test_exact_duplicates_dropped(vpdf):
    dup_texts = vpdf[vpdf.duplicated(subset="text", keep=False)]
    # guard against vacuity: if datagen stops planting exact dups (or a
    # column rename empties the selection) the loop below never runs and a
    # broken dedup stage would stay green
    assert not dup_texts.empty, "corpus should contain planted exact dups"
    for _, grp in dup_texts.groupby("text"):
        survivors = grp.sort_values("url").iloc[:1]
        rest = grp.sort_values("url").iloc[1:]
        assert not survivors.iloc[0]["is_exact_dup"]
        assert rest["is_exact_dup"].all()
        assert (~rest["keep"]).all(), "exact dups must be dropped"


def test_gibberish_dropped_for_perplexity(vpdf):
    gib = vpdf[vpdf.perplexity > 10000]
    assert len(gib) > 10, "corpus should contain gibberish docs"
    assert (~gib.keep).all()
    assert gib.violated_rules.map(lambda v: "range.perplexity" in v).all()


def test_blockwords_dropped_and_scrubbed(vpdf):
    bad = vpdf[vpdf.text.str.contains(r"\b(?:badword|toxicword|slurword)\b")]
    assert len(bad) > 10
    assert (~bad.keep).all()
    assert bad.scrubbed_text.str.contains("<REDACTED>").all()
    assert not bad.scrubbed_text.str.contains(r"\b(?:badword|toxicword|slurword)\b").any()


def test_pii_scrubbed_but_not_dropped(vpdf):
    emails = vpdf[vpdf.text.str.contains(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")]
    assert len(emails) > 5
    assert emails.scrubbed_text.str.contains("<EMAIL>").all()
    # PII alone is a soft violation — check at least one PII doc was kept
    # (.all() on an empty selection is vacuously True, so require non-empty)
    clean_pii = emails[emails.violated_rules.map(lambda v: set(v) <= {"format.pii_email"})]
    assert len(clean_pii) > 0, "corpus should contain otherwise-clean PII docs"
    assert clean_pii.keep.all()


def test_langid_mostly_agrees_with_true_lang(vpdf):
    # ~7% of claimed langs are wrong by construction; prediction should match
    # the *claimed* lang for the clean (non-defect) majority far more often
    # than chance, and zh must be near-perfect (CJK channel).
    zh = vpdf[(vpdf.lang == "zh") & (vpdf.perplexity < 10000)]
    agree = (zh.lang_pred == "zh").mean()
    assert agree > 0.85, f"zh agreement {agree}"


def test_repeated_line_pages_flagged(vpdf):
    rep = vpdf[vpdf.text.map(lambda t: len(set(t.split("\n"))) / max(len(t.split("\n")), 1) < 0.5)]
    assert len(rep) > 10
    assert rep.violated_rules.map(lambda v: "range.line_dup" in v).all()


def test_validate_empty_input(spark):
    """Zero-row input: the full DAG must produce a zero-row, full-schema
    result (a resumed run whose partitions are all complete hits this)."""
    from wikidataquality_spark.pipeline import results, validate

    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    with owned_caches() as owner:
        out = results(validate(empty, persist_registry=owner))
        assert out.count() == 0
    assert "keep" in out.columns and "scrubbed_text" in out.columns


def test_pipeline_plan_shape(spark):
    """Architectural regression gate: the whole validation DAG runs exactly
    ONE Python (Arrow) stage — the fused enrich pass; dedup signatures come
    from it, so no second Arrow round-trip of document bodies — and the dup
    flags rejoin via broadcast (document bodies never shuffle)."""
    from wikidataquality_spark.datagen import generate_pages
    from wikidataquality_spark.pipeline import results, validate

    pages = spark.createDataFrame(generate_pages(50, seed=3))
    with owned_caches() as owner:
        out = results(validate(pages, persist_registry=owner))  # enrich sealed
        plan = out._jdf.queryExecution().executedPlan().toString()
    # every consumer branch (exact window, near-dup bands, final result)
    # must read the sealed cache: the only ArrowEvalPython occurrences
    # allowed are INSIDE InMemoryRelation definitions (the cached plan's
    # stored child), never as a live node a consumer re-executes
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "ArrowEvalPython" in line:
            context = "\n".join(lines[max(0, i - 4) : i])
            assert "InMemoryRelation" in context, plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def _plan_nodes(plan) -> list[str]:
    """Node names of a JVM logical plan, not descending into an
    InMemoryRelation's stored plan (children() excludes inner children)."""
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


@pytest.mark.parametrize("with_state", [False, True])
def test_emptiness_and_partition_listing_read_only_the_enrich_seal(spark, with_state):
    """run_pipeline's emptiness check and write_partitioned's partition
    listing are evaluated over validate()'s output without a cache of
    their own: both must prune to the sealed enrich frame. dup_marks' flag
    left join is eliminated (the flags are unique per url and none of
    their columns is read) — if it ever stops being eliminable, the listing
    silently re-runs dedup before the write runs it again."""
    from wikidataquality_spark.datagen import generate_pages
    from wikidataquality_spark.metrics import partition_column
    from wikidataquality_spark.operators.dedup import dup_fingerprints
    from wikidataquality_spark.operators.extract import extracted_text

    pages = partition_column(spark.createDataFrame(generate_pages(60, seed=5)))
    state = None
    if with_state:
        prior = spark.createDataFrame(generate_pages(30, seed=6))
        state = dup_fingerprints(
            prior.withColumn("text_extracted", extracted_text("html")),
            text_col="text_extracted",
        )
    with owned_caches() as owner:
        validated = validate(pages, dedup_state=state, persist_registry=owner)
        for probe in (
            validated.select().limit(1),
            validated.select("partition").groupBy("partition").count(),
        ):
            nodes = _plan_nodes(probe._jdf.queryExecution().optimizedPlan())
            assert nodes[-1] == "InMemoryRelation", nodes
            assert nodes.count("InMemoryRelation") == 1, nodes
            assert not [n for n in nodes if "Join" in n or "Window" in n], nodes
