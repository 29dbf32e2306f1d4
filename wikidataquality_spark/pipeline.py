"""The document validation DAG — the engine's flagship pipeline.

Parity: DelegatingConstraintChecker driving all checkers over an entity
(ref≈includes/ConstraintCheck/DelegatingConstraintChecker.php:~40-200) +
EvaluateConstraintReportJob writing violations/statistics
(ref≈includes/EvaluateConstraintReportJob.php:~15-80), recast per
BASELINE.json:6/14/15 as:

  read pages → extract(html) → langid → perplexity → heuristics →
  dup marks (exact + MinHash) → rule checks → violations array →
  keep/drop + scrubbed text → metrics per partition

Plan shape: extract, langid, perplexity, the per-doc stats PIPELINE_RULES
reads, the regex flags and the MinHash signatures all run in ONE fused Arrow
stage (operators/enrich.py), sealed (cached) right after it. Dedup reads
only the seal (operators/dedup.dup_marks): the exact window over the two
text hashes (_h, _h2), the MinHash band window over _band_key, and one
groupBy(id) that builds both flags — three exchanges, none carrying a
document body — whose sparse flag rows rejoin the input through a
broadcast. Rules and scrub are codegen'd projections over that.

Output schema (FIXTURES.md "expected outputs"):
  result(url, warc_ts, lang, lang_pred, lang_conf, perplexity, keep,
         scrubbed_text, violations, violated_rules)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wikidataquality_spark.operators.barrier import seal
from wikidataquality_spark.operators.dedup import dup_marks
from wikidataquality_spark.operators.enrich import ENRICH_TYPE, enriched
from wikidataquality_spark.operators.scrub import scrub_column
from wikidataquality_spark.rules.builder import apply_rules
from wikidataquality_spark.rules.model import Rule

ALLOWED_LANGS = ("en", "fr", "es", "de", "zh")

# The frozen production rule set (changing any threshold is a golden-fixture
# breaking change — see tests/test_pipeline.py).
PIPELINE_RULES: tuple[Rule, ...] = (
    Rule("mandatory.url", "mandatory", {"column": "url"}),
    Rule("mandatory.warc_ts", "mandatory", {"column": "warc_ts"}),
    Rule("format.url_scheme", "format", {"column": "url", "pattern": "^https?://", "mode": "must_match"}),
    Rule("one_of.lang_pred", "one_of", {"column": "lang_pred", "allowed": ",".join(ALLOWED_LANGS)}),
    Rule("range.lang_conf", "range", {"column": "lang_conf", "min": "0.2", "max": "1.0"}),
    Rule("range.perplexity", "range", {"column": "perplexity", "min": "0", "max": "10000"}),
    Rule("range.mean_word_len", "range", {"column": "mean_word_len_stat", "min": "1", "max": "12"}),
    Rule("range.doc_len", "range", {"column": "n_chars_stat", "min": "50", "max": "20000"}),
    Rule("range.symbol_ratio", "range", {"column": "symbol_ratio_stat", "min": "0", "max": "0.1"}),
    Rule("range.line_dup", "range", {"column": "distinct_line_ratio_stat", "min": "0.5", "max": "1.0"}),
    # Regex conditions are precomputed once into boolean columns before the
    # persist barrier (see validate()); referencing them as flags keeps the
    # collapsed rules projection free of repeated regex evaluation.
    Rule("conflicts_with.blockwords", "flag", {"column": "has_blockword"}),
    Rule("unique_value.exact_dup", "flag", {"column": "is_exact_dup"}),
    Rule("unique_value.near_dup", "flag", {"column": "is_near_dup"}),
    # PII presence is recorded but scrubbed rather than dropped → soft.
    Rule("format.pii_email", "flag", {"column": "has_pii_email"}, severity="soft"),
)


def validate(
    pages: DataFrame,
    *,
    normalize: bool = False,
    dedup_state: DataFrame | None = None,
    persist_registry: list,
) -> DataFrame:
    """Full validation DAG over a pages DataFrame
    (url, warc_ts, html, text, lang). Returns every input row, minus html,
    annotated with every ENRICH_TYPE field (text_extracted; the model scores
    lang_pred, lang_conf, perplexity; the stats n_chars_stat,
    mean_word_len_stat, symbol_ratio_stat, distinct_line_ratio_stat; the
    regex flags has_blockword, has_pii_email; minhash_sig), the dup flags,
    violations, keep and scrubbed_text.

    `normalize`: OPT-IN ftfy-class pre-clean (mojibake repair → NFC →
    control strip) fused into the enrich pass, BEFORE any stat/model/
    fingerprint. Default off: the golden fixtures pin byte-identical
    extracted/scrubbed text, and normalization is a corpus-semantics
    decision, not a bug fix.

    `dedup_state`: optional fingerprint table of previously-validated
    documents (operators.dedup.dup_fingerprints schema) — makes the dedup
    stage incremental: this batch is deduplicated against every document the
    state has seen, without re-reading any body (the EvaluateConstraintReport
    incremental re-check recast; used by streaming.incremental_validate).

    `persist_registry`: the owner list of an `operators.barrier.owned_caches`
    block. validate() seals exactly one frame into it, the enrich output,
    appended last; the caller's block releases it once the caller's actions
    are done, so repeated calls in one session (one foreachBatch epoch per
    call) never accumulate cached intermediates."""
    # Stages 1+2 — fused: extract + langid + perplexity + the heuristic
    # stats the rules read + the regex conditions + MinHash, all in ONE
    # pandas-UDF pass (one ArrowEvalPython node; operators/enrich.py
    # documents why fusing beats chained UDFs and interpreted HOF stats by
    # ~5-10× at batch scale).
    # Everything expensive lands BEFORE the persist barrier: downstream rule
    # projections (violations array / keep / violated_rules) reference these
    # as plain cached attributes, so Catalyst's projection collapse can
    # inline them repeatedly at zero cost.
    # The fat html column goes once text is extracted (column pruning by
    # construction — html must never travel through the dedup shuffles).
    df = pages.withColumn(
        "_enriched", enriched("html", normalize=normalize)
    ).selectExpr(
        "*", *[f"_enriched.{c} AS {c}" for c in ENRICH_TYPE.fieldNames()]
    ).drop("_enriched", "html")
    # Sealed (operators/barrier.py): the dedup stage fans out into several
    # consumers (flag branch, broadcast build, rejoin) that would otherwise
    # each race to compute the whole UDF+stats plan.
    df = seal(df, persist_registry)

    # Stage 3 — cross-row dedup marks (the shuffle stages). Signatures come
    # from the fused enrich pass (sig_col), so this stage is pure JVM: no
    # second python pass over document bodies, no concurrent UDF stages.
    df = dup_marks(
        df,
        text_col="text_extracted",
        id_col="url",
        sig_col="minhash_sig",
        state=dedup_state,
    )

    # Stage 4 — rule checks → violations array → keep decision (codegen).
    df = apply_rules(df, list(PIPELINE_RULES))

    # Stage 5 — scrub (codegen regex chain; byte-deterministic).
    df = df.withColumn("scrubbed_text", scrub_column("text_extracted"))
    return df


def results(validated: DataFrame) -> DataFrame:
    """The stable result projection (FIXTURES.md expected-output shape)."""
    return validated.select(
        "url",
        "warc_ts",
        "lang",
        "lang_pred",
        "lang_conf",
        "perplexity",
        "keep",
        "scrubbed_text",
        "violations",
        "violated_rules",
    )
