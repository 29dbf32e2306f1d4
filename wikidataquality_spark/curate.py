"""End-to-end training-corpus curation: one auditable funnel composing the
engine's LLM-pipeline families.

The composition a training-data team actually runs, as ONE DAG:

  eligibility → (opt-in) normalize → (opt-in) domain blocklist →
  quality score + CCNet bucket → dedup (exact + MinHash) →
  (opt-in) frozen-corpus Bloom dedup → benchmark decontamination → selection (stratified rates OR DSIR top-k) →
  trained-BPE tokenize + pack

Scale shape — flags first, count once, filter once:
  every stage emits a FLAG column over the same frame (scrub-not-drop, the
  house convention); the funnel is then ONE aggregation over a first-failing-
  stage attribution expression, and the curated output is ONE filter. No
  per-stage count() actions, no per-stage materialization — at 10¹² docs the
  whole funnel costs a single pass over the corpus plus the operators' own
  bounded shuffles (dedup's narrow key aggs, decontamination's broadcast
  gram join, selection's literal CASE or top-k).

Attribution is CASCADE-ordered (eligibility ≺ urlfilter ≺ quality ≺
dedup ≺ frozen ≺ decontaminate ≺ select): a doc that is both tail-quality and contaminated
counts against quality — each dropped doc appears in EXACTLY one funnel row,
so the rows sum to docs_in (conservation is gated in tests/test_curate.py).

Unverifiable rows fail CLOSED: contamination_marks yields NULL for NULL-id
docs ("cannot be re-attached through the NULL join key"); curate() drops
them at the decontaminate stage rather than letting a possibly-contaminated
doc into training data.

Reference analogue: the full DelegatingConstraintChecker job surface
(ref≈includes/ConstraintCheck/DelegatingConstraintChecker.php:~40-200)
driving every checker and summarizing violations — here the checkers are
corpus-curation stages and the summary is the attrition funnel.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wikidataquality_spark.operators.barrier import seal

# The cascade in attribution order: (stage, the flag column that drops a doc
# there). A doc counts against its FIRST true flag; a doc with none is
# 'kept'. The funnel's reason, DSIR's survivor filter and the curated
# projection are all built from this one tuple.
CASCADE = (
    ("eligibility", "_ineligible"),
    ("urlfilter", "_url_drop"),
    ("quality", "_quality_drop"),
    ("dedup", "_dup_drop"),
    ("frozen", "_frozen_drop"),
    ("decontaminate", "_contam_drop"),
    ("select", "_select_drop"),
)


@dataclass
class CurateConfig:
    normalize: bool = False  # ftfy-class pre-clean before any scoring/hash
    # UT1-style domain blocklist (DataFrame with a `domain` column). Runs
    # FIRST after eligibility — metadata-only, so blocked docs never pay
    # for scoring/hashing attribution-wise. Requires a url column on docs.
    blocklist: DataFrame | None = None
    # robots.txt-style (host, path_prefix) Disallow rules — the path-level
    # granularity the domain list can't express; runs in the SAME urlfilter
    # stage (one funnel attribution), fail-closed on unverifiable rows
    path_rules: DataFrame | None = None
    drop_buckets: tuple[str, ...] = ("tail",)  # CCNet buckets to drop
    dedup: bool = True
    # frozen-corpus cross-batch dedup (r04 VERDICT #3 — bloom.py existed but
    # the funnel never called it): docs whose exact text PROBABLY appears in
    # this already-trained corpus (text col) drop at the `frozen` stage.
    # Bloom semantics: zero false negatives (every true re-crawl of frozen
    # text drops), ~frozen_fp_rate of clean docs drop as false positives —
    # the deliberate trade that lets a 10¹²-doc frozen corpus participate as
    # a few-GB bit table instead of a second corpus scan per batch.
    frozen_corpus: DataFrame | None = None
    frozen_fp_rate: float = 0.01
    benchmark: DataFrame | None = None  # eval-set docs (text col) to decontaminate against
    # selection: at most one of —
    rates: dict[str, float] | None = None  # stratified per-source keep rates
    # rate for sources NOT listed in `rates`. Curation default is 1.0 (keep
    # unlisted sources): the operator-level default of 0.0 silently dropped
    # every source a `--rates '{"cc": 0.5}'` invocation forgot to mention
    # (r04 review). Pass 0.0 explicitly for allowlist semantics.
    default_rate: float = 1.0
    dsir_k: int | None = None  # DSIR importance top-k
    sample_seed: int = 0
    # packing
    pack: bool = True  # trained-BPE token counts + pack assignment
    seq_len: int = 2048
    id_col: str = "doc_id"
    text_col: str = "text"
    lang_col: str = "lang"
    source_col: str = "source"
    # a lineage dimension for the funnel (per-source/per-lang attrition —
    # the rule-metrics-per-partition ethos applied to curation); None keeps
    # the compact (stage, n) shape
    funnel_by: str | None = None


def results_to_documents(results: DataFrame) -> DataFrame:
    """Bridge the two DAGs: validated pipeline output (pipeline.results
    shape) → the curation funnel's documents contract. Kept docs only;
    text = the scrubbed bytes (what training should ever see), lang = the
    DETECTED language (the claimed one failed validation often enough to
    be a rule), source = url host (the natural mixture stratum for web
    text), url kept for the blocklist stage.

    doc_id = xxhash64(url) — deterministic under retry/repartition, which
    the funnel's sampling/dedup ids require. Collision note: ~n²/2⁶⁴
    birthday conflations (≈0.03 expected at 10⁹ docs — fine; at 10¹²,
    ~27k pairs would conflate funnel attribution rows, so a deployment at
    that scale passes a true unique id instead: the WARC (segment, offset)
    lineage pair io/warc.py records is the natural one). Text-level dedup
    is unaffected either way — it keys on double text hashes, never on
    doc_id."""
    from wikidataquality_spark.operators.dedup import host_of

    return results.filter(F.col("keep")).select(
        F.xxhash64("url").alias("doc_id"),
        F.col("scrubbed_text").alias("text"),
        F.col("lang_pred").alias("lang"),
        host_of("url").alias("source"),
        "url",
        "warc_ts",
    )


def frozen_fp_budget(bloom: dict, funnel: dict[str, int]) -> dict:
    """The frozen stage's false-positive budget for one call, from the
    filter's sizing (`report["frozen_bloom"]` of curate) and the funnel's
    stage counts: the expected false-positive rate (1 − e^(−k·n/m))^k and
    that rate times the docs that reach the stage (those no earlier stage
    dropped). n_keys counts the corpus's rows, so a corpus that repeats
    texts gets a budget above its true rate; so does the doc count, which
    includes the true members, none of which can be a false positive."""
    from wikidataquality_spark.operators.bloom import bloom_fp_rate

    stages = [stage for stage, _ in CASCADE]
    earlier = stages[: stages.index("frozen")]
    reaching = sum(funnel.values()) - sum(funnel.get(s, 0) for s in earlier)
    rate = bloom_fp_rate(bloom["m_bits"], bloom["k"], bloom["n_keys"])
    return {
        **bloom,
        "expected_fp_rate": rate,
        "docs_reaching": reaching,
        "expected_fp_docs": rate * reaching,
    }


def _verdict_join(
    frame: DataFrame, marks: DataFrame, id_col: str, verdict: str
) -> tuple[DataFrame, Column]:
    """Attach one stage's id-keyed verdict column to `frame` (left join) and
    return it with the stage's FAIL-CLOSED drop flag: a NULL verdict (a row
    the stage could not judge or re-attach) drops. dropDuplicates on the
    marks: ids sharing a value share one verdict (the marks operators'
    id-keyed contract), and duplicate ids would otherwise MULTIPLY rows
    through the join and break the funnel's conservation invariant."""
    marks = marks.select(id_col, verdict).dropDuplicates([id_col])
    return frame.join(marks, id_col, "left"), F.coalesce(F.col(verdict), F.lit(True))


def curate(
    docs: DataFrame,
    cfg: CurateConfig | None = None,
    *,
    persist_registry: list,
    report: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (curated, funnel).

    curated: surviving docs with quality columns (+ BPE token counts and
    pack assignment when cfg.pack). funnel: (stage, n) — docs dropped at
    each stage under first-failing-stage attribution, plus the final
    'kept' row; rows sum to the input count.

    The flagged frame is sealed (operators/barrier.py): the funnel
    aggregation, the curated filter, and the DSIR top-k are separate
    consumers that would otherwise each recompute the enrich/normalize/
    dedup work. At 10¹²-doc scale the equivalent is writing the flagged
    frame to a stage table. The seal holds every stage flag up to
    decontamination plus the quality logit, but no CCNet bucket: the
    bucket and `_quality_drop` are applied after it, from per-language
    cutoffs aggregated over the cached logit and collected ONCE per call
    (one row per language), as a projection the consumers share — so the
    nine-feature logit is evaluated once per document. With cfg.pack the
    BPE-encoded curated frame is sealed too. `persist_registry` is the
    owner list of an `operators.barrier.owned_caches` block; both seals go
    into it, and the caller's block releases them once its own actions on
    `curated` and `funnel` are done.

    `report`, when given, receives what building the DAG learned without
    an extra action: with cfg.frozen_corpus, `report["frozen_bloom"]`
    holds the filter's m_bits, k and n_keys (see frozen_fp_budget)."""
    cfg = cfg or CurateConfig()
    if cfg.rates is not None and cfg.dsir_k is not None:
        raise ValueError("rates and dsir_k are mutually exclusive selection modes")

    from wikidataquality_spark.operators.pplbucket import (
        ppl_cutoffs,
        with_ppl_bucket_collected,
    )
    from wikidataquality_spark.operators.quality_model import (
        load_quality_model,
        with_quality_score,
    )

    id_c, text_c = cfg.id_col, cfg.text_col

    if cfg.normalize:
        from wikidataquality_spark.operators.normalize import normalize_text

        docs = docs.withColumn(text_c, normalize_text(text_c))

    # --- stage flags (no actions yet) ----------------------------------
    flagged = docs.withColumn(
        "_ineligible",
        F.col(id_c).isNull() | F.col(text_c).isNull() | (F.length(text_c) == 0),
    )

    if cfg.blocklist is not None or cfg.path_rules is not None:
        url_drop = F.lit(False)
        # both marks read only (id, url) from the PRE-join frame: deriving
        # the second arm from the first arm's joined lineage would drag the
        # domain explode+join into the path marks' DAG and pay that pass
        # twice before the persist seal (r04 session review)
        url_base = flagged
        if cfg.blocklist is not None:
            from wikidataquality_spark.operators.urlfilter import (
                domain_blocklist_marks,
            )

            # NULL blocked = unparseable host → fail closed
            flagged, blocked = _verdict_join(
                flagged,
                domain_blocklist_marks(flagged, cfg.blocklist, id_col=id_c),
                id_c,
                "blocked",
            )
            url_drop = url_drop | blocked
        if cfg.path_rules is not None:
            from wikidataquality_spark.operators.urlfilter import (
                path_blocklist_marks,
            )

            # NULL path verdict (unparseable/NULL url or id) → fail closed
            flagged, path_blocked = _verdict_join(
                flagged,
                path_blocklist_marks(url_base, cfg.path_rules, id_col=id_c),
                id_c,
                "path_blocked",
            )
            url_drop = url_drop | path_blocked
        flagged = flagged.withColumn("_url_drop", url_drop)
    else:
        flagged = flagged.withColumn("_url_drop", F.lit(False))

    scored = with_quality_score(flagged, text_col=text_c, art=load_quality_model())
    # the quality bucket and its flag are placed right after these columns
    # once the seal below has filled quality_logit
    scored_cols = scored.columns

    if cfg.dedup:
        from wikidataquality_spark.operators.dedup import dup_marks

        # dup_marks' flags are never NULL (a row outside the flag set is
        # filled FALSE)
        scored = dup_marks(scored, text_col=text_c, id_col=id_c).withColumn(
            "_dup_drop", F.col("is_exact_dup") | F.col("is_near_dup")
        )
    else:
        scored = scored.withColumn("_dup_drop", F.lit(False))

    if cfg.frozen_corpus is not None:
        from wikidataquality_spark.operators.bloom import cross_corpus_dedup_marks

        fmarks, _bloom = cross_corpus_dedup_marks(
            scored,
            cfg.frozen_corpus,
            text_col=text_c,
            id_col=id_c,
            fp_rate=cfg.frozen_fp_rate,
            sizing=None if report is None else report.setdefault("frozen_bloom", {}),
        )
        # NULL verdict (NULL text/id — membership undefined or hits can't
        # re-attach) → fail closed; in the cascade those rows are owned by
        # eligibility anyway
        scored, frozen = _verdict_join(scored, fmarks, id_c, "in_corpus_maybe")
        scored = scored.withColumn("_frozen_drop", frozen)
    else:
        scored = scored.withColumn("_frozen_drop", F.lit(False))

    if cfg.benchmark is not None:
        from wikidataquality_spark.operators.decontaminate import contamination_marks

        # NULL contaminated = unverifiable → fail closed (drop here)
        scored, contaminated = _verdict_join(
            scored,
            contamination_marks(scored, cfg.benchmark, id_col=id_c, text_col=text_c),
            id_c,
            "contaminated",
        )
        scored = scored.withColumn("_contam_drop", contaminated)
    else:
        scored = scored.withColumn("_contam_drop", F.lit(False))

    # Seal the heavy flags (UDF enrich + dedup shuffles + gram join) and the
    # quality logit before the multi-consumer tail: the cutoffs, selection,
    # funnel agg and curated filter all read the cache instead of racing to
    # recompute the DAG. The seal holds no bucket: its cutoff aggregation
    # would evaluate the logit again beside the document side.
    scored = seal(scored, persist_registry)

    # CCNet bucket from ONE collect of the per-language cutoffs over the
    # cached logit, applied as a projection (no join, nothing to recompute
    # per consumer).
    cutoffs = ppl_cutoffs(
        scored, lang_col=cfg.lang_col, value_col="quality_logit", round_to=6
    )
    bucketed = with_ppl_bucket_collected(
        scored, cutoffs, lang_col=cfg.lang_col, value_col="quality_logit",
        round_to=6, out_col="quality_bucket",
    )
    # NULL bucket (NULL lang/score) is NOT a quality drop — eligibility and
    # decontamination own the NULL cases; quality drops only what it scored.
    bucketed = bucketed.withColumn(
        "_quality_drop", F.coalesce(F.col("quality_bucket").isin(*cfg.drop_buckets), F.lit(False))
    )
    # back into the stage order, so the curated schema does not depend on
    # where the bucket is computed
    scored = bucketed.select(
        *scored_cols,
        "quality_bucket",
        "_quality_drop",
        *[c for c in scored.columns if c not in scored_cols],
    )

    if cfg.rates is not None:
        from wikidataquality_spark.operators.sampling import stratified_sample_marks

        scored = stratified_sample_marks(
            scored,
            cfg.rates,
            default_rate=cfg.default_rate,
            stratum_col=cfg.source_col,
            id_col=id_c,
            seed=cfg.sample_seed,
        )
        scored = scored.withColumn("_select_drop", ~F.col("sampled"))
    elif cfg.dsir_k is not None:
        from wikidataquality_spark.operators.dsir import dsir_gumbel_topk

        # top-k over docs that SURVIVE the earlier stages — selecting from
        # already-dropped docs would waste the budget on rows the filter
        # removes. The k-row result broadcasts back as a flag.
        survivors = scored.filter(
            reduce(and_, [~F.col(flag) for stage, flag in CASCADE if stage != "select"])
        )
        picked = dsir_gumbel_topk(
            survivors, cfg.dsir_k, id_col=id_c, text_col=text_c
        ).select(F.col(id_c), F.lit(True).alias("_picked"))
        scored = scored.join(F.broadcast(picked), id_c, "left")
        scored = scored.withColumn(
            "_select_drop", ~F.coalesce(F.col("_picked"), F.lit(False))
        ).drop("_picked")
    else:
        scored = scored.withColumn("_select_drop", F.lit(False))

    # --- funnel: ONE aggregation, first-failing-stage attribution -------
    (stage0, flag0), *rest = CASCADE
    reason = F.when(F.col(flag0), F.lit(stage0))
    for stage, flag in rest:
        reason = reason.when(F.col(flag), F.lit(stage))
    scored = scored.withColumn("_stage", reason.otherwise(F.lit("kept")))
    group_cols = ([F.col(cfg.funnel_by)] if cfg.funnel_by else []) + [
        F.col("_stage").alias("stage")
    ]
    funnel = scored.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))

    # --- curated output: ONE filter (+ optional tokenize/pack) ----------
    curated = scored.filter(F.col("_stage") == "kept").drop(
        *[flag for _, flag in CASCADE], "_stage"
    )
    if cfg.pack:
        from wikidataquality_spark.operators.bpe import load_bpe, with_bpe_tokens
        from wikidataquality_spark.operators.packing import pack_sequences

        curated = with_bpe_tokens(curated, art=load_bpe(), text_col=text_c)
        # both consumers below (the pack window's narrow projection and the
        # re-attach join's wide side) would re-run the encode UDF — seal it
        curated = seal(curated, persist_registry)
        packed = pack_sequences(
            curated,
            seq_len=cfg.seq_len,
            id_col=id_c,
            source_col=cfg.source_col,
            text_col=text_c,
            n_tokens_col=F.coalesce(
                F.col("bpe_token_count"), F.lit(0).cast("long")
            ),
        ).select(id_c, "n_tokens", "pack_id", "pack_offset")
        curated = curated.join(packed, id_c)
    return curated, funnel
