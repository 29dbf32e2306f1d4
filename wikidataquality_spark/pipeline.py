"""The document validation DAG — the engine's flagship pipeline.

Parity: DelegatingConstraintChecker driving all checkers over an entity
(ref≈includes/ConstraintCheck/DelegatingConstraintChecker.php:~40-200) +
EvaluateConstraintReportJob writing violations/statistics
(ref≈includes/EvaluateConstraintReportJob.php:~15-80), recast per
BASELINE.json:6/14/15 as:

  read pages → extract(html) → langid → perplexity → heuristics →
  dup marks (exact + MinHash) → rule checks → violations array →
  keep/drop + scrubbed text → metrics per partition

Stage order is cost-ordered: pure-SQL heuristics run in the same codegen'd
projection as the scan; the two pandas-UDF stages (langid, perplexity) share
one Python-worker pass; the only shuffles are the two dedup aggregations.

Output schema (FIXTURES.md "expected outputs"):
  result(url, warc_ts, lang, lang_pred, lang_conf, perplexity, keep,
         scrubbed_text, violations, violated_rules)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from wikidataquality_spark.operators.dedup import dup_marks
from wikidataquality_spark.operators.enrich import enriched
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

@dataclass
class PipelineConfig:
    rules: tuple[Rule, ...] = PIPELINE_RULES
    allowed_langs: tuple[str, ...] = ALLOWED_LANGS
    id_col: str = "url"
    # Persist the narrow post-UDF projection: the dedup stage consumes the
    # pipeline twice (flag computation + rejoin), and without a persist the
    # whole extract/langid/perplexity chain re-executes per consumer. At
    # cluster scale the equivalent is materializing the stage boundary to
    # Iceberg (which the resume story wants anyway).
    persist_intermediate: bool = True
    # Drop the fat html column once text is extracted (column pruning by
    # construction — html must never travel through the dedup shuffles).
    drop_html: bool = True
    # OPT-IN ftfy-class pre-clean (mojibake repair → NFC → control strip)
    # fused into the enrich pass, BEFORE any stat/model/fingerprint. Default
    # False: the golden fixtures pin byte-identical extracted/scrubbed text,
    # and normalization is a corpus-semantics decision, not a bug fix.
    normalize_text: bool = False
    extra: dict = field(default_factory=dict)


def validate(
    pages: DataFrame,
    config: PipelineConfig | None = None,
    dedup_state: DataFrame | None = None,
    persist_registry: list | None = None,
) -> DataFrame:
    """Full validation DAG over a pages DataFrame
    (url, warc_ts, html, text, lang). Returns every input row annotated with
    stats, model scores, dup flags, violations, keep, scrubbed_text.

    `dedup_state`: optional fingerprint table of previously-validated
    documents (operators.dedup.dup_fingerprints schema) — makes the dedup
    stage incremental: this batch is deduplicated against every document the
    state has seen, without re-reading any body (the EvaluateConstraintReport
    incremental re-check recast; used by streaming.incremental_validate).

    `persist_registry`: optional list the internally persisted intermediate
    is appended to, so a caller that invokes validate() repeatedly in one
    session (a foreachBatch micro-batch loop — one epoch per call) can
    unpersist it when its actions are done instead of leaking one cached
    dataset per epoch. One-shot callers may ignore it: the cache dies with
    the session."""
    cfg = config or PipelineConfig()

    # Stages 1+2 — fused: extract + langid + perplexity + every heuristic
    # stat + the regex conditions, all in ONE pandas-UDF pass (one
    # ArrowEvalPython node; operators/enrich.py documents why fusing beats
    # chained UDFs and interpreted HOF stats by ~5-10× at batch scale).
    # Everything expensive lands BEFORE the persist barrier: downstream rule
    # projections (violations array / keep / violated_rules) reference these
    # as plain cached attributes, so Catalyst's projection collapse can
    # inline them repeatedly at zero cost.
    enrich_cols = [
        "text_extracted", "lang_pred", "lang_conf", "perplexity",
        "n_chars_stat", "n_words_stat", "mean_word_len_stat",
        "stopword_ratio_stat", "symbol_ratio_stat", "distinct_word_ratio_stat",
        "distinct_line_ratio_stat", "dup_line_char_ratio_stat",
        "alpha_ratio_stat", "has_blockword", "has_pii_email", "minhash_sig",
    ]
    df = pages.withColumn(
        "_enriched", enriched("html", normalize=cfg.normalize_text)
    ).selectExpr(
        "*", *[f"_enriched.{c} AS {c}" for c in enrich_cols]
    ).drop("_enriched")
    if cfg.drop_html:
        df = df.drop("html")
    if cfg.persist_intermediate:
        # Eager materialization: the dedup stage fans out into several
        # consumers (flag branch, broadcast build, rejoin) that Spark launches
        # CONCURRENTLY (broadcast exchanges run on separate scheduler
        # threads). Against a cold cache each consumer races to compute the
        # whole UDF+stats plan — event logs showed 4 identical 12s stages
        # running side by side. The cache is sealed with a NOOP-format write:
        # it computes every partition (populating the cache) without the
        # count()'s extra aggregation stage or its driver-side result collect
        # — nothing flows back to the driver but task-completion events
        # (r03 VERDICT #6).
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        if persist_registry is not None:
            persist_registry.append(df)

    # Stage 3 — cross-row dedup marks (the shuffle stages). Signatures come
    # from the fused enrich pass (sig_col), so this stage is pure JVM: no
    # second python pass over document bodies, no concurrent UDF stages.
    df = dup_marks(
        df,
        text_col="text_extracted",
        id_col=cfg.id_col,
        sig_col="minhash_sig",
        state=dedup_state,
    )

    # Stage 4 — rule checks → violations array → keep decision (codegen).
    df = apply_rules(df, list(cfg.rules))

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
