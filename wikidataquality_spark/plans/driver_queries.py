"""Named query plans + DuckDB oracle SQL — the driver-facing operator surface.

Each entry pairs an idiomatic-Spark DataFrame plan with an ANSI-SQL oracle
(DuckDB) over the same parquet tables (SURVEY.md §2C). Conventions that make
the order-insensitive value-hash comparison exact:
  - every computed column is aliased identically on both sides;
  - doubles that aggregate across rows are ROUND()ed identically on both
    sides (both engines round half-away-from-zero for doubles);
  - float math is forced to double *before* arithmetic on both sides, and
    both sides sum sequentially in the same element order, so results are
    bit-identical pre-rounding;
  - counts use COUNT(*) FILTER / F.count(F.when(...)) so both sides emit
    BIGINT (DuckDB's SUM(int) would emit HUGEINT);
  - timestamps leave the result as unix micros (exact integers) or
    formatted strings, never raw engine-native timestamps.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from wikidataquality_spark.operators.heuristics import STOPWORDS, with_doc_stats
from wikidataquality_spark.operators.textstats import BPE_PIECES_RE_SQL
from wikidataquality_spark.rules.builder import apply_rules
from wikidataquality_spark.rules.model import COMPLIANCE, VIOLATION, Rule

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _unix_us(col: str):
    """Unix micros from a parquet TIMESTAMP_NTZ column. The session TZ is
    pinned to UTC (session.py), so NTZ→TZ cast is identity and the integer
    matches DuckDB's epoch_us() on the same naive value."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# ---------------------------------------------------------------------------
# Quality-filter rule set over `documents` (the flagship family).
# Thresholds are frozen; they define the keep/drop semantics the golden
# fixtures are built from (BASELINE.md F1 target).
# ---------------------------------------------------------------------------

# shared with the pipeline's one_of.lang_pred rule — one edit point keeps
# FLAGSHIP_RULES and PIPELINE_RULES judging the same language set
from wikidataquality_spark.pipeline import ALLOWED_LANGS  # noqa: E402

FLAGSHIP_RULES = [
    Rule("range.mean_word_len", "range", {"column": "mean_word_len_stat", "min": "3", "max": "10"}),
    Rule("range.stopword_ratio", "range", {"column": "stopword_ratio_stat", "min": "0.02", "max": "1.0"}),
    Rule("range.doc_len", "range", {"column": "n_chars_stat", "min": "60", "max": "100000"}),
    Rule("one_of.lang", "one_of", {"column": "lang", "allowed": ",".join(ALLOWED_LANGS)}),
    Rule("single_value.distinct_words", "single_value", {"column": "distinct_word_ratio_stat", "min": "0.30"}),
    Rule("multi_value.min_words", "multi_value", {"column": "n_words_stat", "min": "15"}),
]

# Shared DuckDB CTE computing the same stats as operators/heuristics.py.
# Both engines: BIGINT token-length sum / DOUBLE count → identical IEEE result.
_STOPWORD_SQL = ",".join(f"'{w}'" for w in STOPWORDS)
_DOC_STATS_CTE = rf"""
WITH s AS (
  SELECT doc_id, lang, source,
    length(text) AS nc,
    len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) AS nw,
    list_aggregate(list_transform(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+'), w -> length(w)), 'sum')
      / CAST(len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) AS DOUBLE) AS mwl,
    len(list_filter(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+'), w -> w IN ({_STOPWORD_SQL})))
      / CAST(len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) AS DOUBLE) AS swr,
    len(list_distinct(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')))
      / CAST(len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) AS DOUBLE) AS dwr,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      / CAST(length(text) AS DOUBLE) AS alpha,
    length(regexp_replace(text, '[\p{{L}}\p{{N}}\s]', '', 'g'))
      / CAST(length(text) AS DOUBLE) AS symr
  FROM documents)
"""

_LANG_SQL = ",".join(f"'{x}'" for x in ALLOWED_LANGS)
_RULE_PASS_SQL = {
    "range.mean_word_len": "(mwl BETWEEN 3 AND 10)",
    "range.stopword_ratio": "(swr BETWEEN 0.02 AND 1.0)",
    "range.doc_len": "(nc BETWEEN 60 AND 100000)",
    "one_of.lang": f"(lang IN ({_LANG_SQL}))",
    "single_value.distinct_words": "(dwr >= 0.30)",
    "multi_value.min_words": "(nw >= 15)",
}


@_register(
    "qf_doc_stats",
    _DOC_STATS_CTE
    + """
SELECT doc_id, nc AS n_chars_stat, nw AS n_words_stat,
       ROUND(mwl, 6) AS mean_word_len, ROUND(swr, 6) AS stopword_ratio,
       ROUND(dwr, 6) AS distinct_word_ratio, ROUND(alpha, 6) AS alpha_ratio,
       ROUND(symr, 6) AS symbol_ratio
FROM s
""",
)
def qf_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 heuristic statistics, pure Column expressions (SURVEY §2B)."""
    df = with_doc_stats(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars_stat"),
        F.col("n_words_stat"),
        F.round("mean_word_len_stat", 6).alias("mean_word_len"),
        F.round("stopword_ratio_stat", 6).alias("stopword_ratio"),
        F.round("distinct_word_ratio_stat", 6).alias("distinct_word_ratio"),
        F.round("alpha_ratio_stat", 6).alias("alpha_ratio"),
        F.round("symbol_ratio_stat", 6).alias("symbol_ratio"),
    )


def _quality_oracle() -> str:
    from wikidataquality_spark.operators.quality_model import (
        load_quality_model,
        quality_class_sql,
        quality_logit_sql,
    )

    from wikidataquality_spark.operators.pplbucket import ppl_bucket_ctes

    art = load_quality_model()
    logit = quality_logit_sql("text", _STOPWORD_SQL, art)
    # ROUND(·, 6) like every double-valued oracle here: the nine feature
    # values are bit-identical cross-engine (verified), but DuckDB fuses
    # the fold's multiply-adds (FMA), shifting the final sum's last ulp.
    # The CCNet bucket cuts on the ROUNDED logit for the same reason — a
    # tercile boundary landing on an FMA-shifted ulp would flip a bucket.
    ctes, case = ppl_bucket_ctes("scored", lang_expr="lang", value_expr="ql6")
    return f"""
WITH scored AS (
  SELECT doc_id, lang, ROUND({logit}, 6) AS ql6,
         {quality_class_sql(logit, art)} AS quality_class
  FROM documents
), {ctes}
SELECT t.doc_id, t.ql6 AS quality_logit, t.quality_class,
       {case.replace("ql6", "t.ql6")} AS quality_bucket
FROM scored t LEFT JOIN cuts ON t.lang = cuts.lang
"""


@_register("quality_score_docs", None)  # oracle attached below (built SQL)
def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/quality_model.py): the trained
    linear classifier distilled from the rule DAG, evaluated as ONE
    codegen'd projection with artifact literals — the FineWeb-style learned
    score next to the hard heuristic thresholds — then CCNet-style
    head/middle/tail bucketing of that score PER LANGUAGE
    (operators/pplbucket.py: distinct-value cumulative-count cutoffs, never
    a window over the document table; broadcast two-comparison assign).
    The gated columns are the LINEAR logit (pure +,-,*,/: features
    bit-identical cross-engine, the fold itself ±1 ulp from DuckDB's FMA —
    gated at the house ROUND 6), the class label cut on the unrounded
    logit, and the bucket cut on the ROUNDED logit (an FMA-shifted ulp at a
    tercile boundary would otherwise flip a bucket); the sigmoid
    convenience column is tolerance-tested in tests/test_quality_model.py
    instead (libm exp is not cross-engine bit-stable).

    Cost shape: TWO corpus passes (the cutoff agg and the assign branch
    each evaluate the logit projection — Catalyst shares no common subtree
    across a join's sides). Deliberate: the alternative, a checkpoint/
    persist barrier on the scored projection, would trade the second
    streaming scan for materializing ~30 bytes × N rows AND make the query
    builder eagerly execute (breaking the explain-before-run plan audit);
    a production deployment would instead write scores to a table once and
    bucket from there — which is exactly what the two branches become when
    `scored` is a materialized table."""
    from wikidataquality_spark.operators.pplbucket import with_ppl_bucket
    from wikidataquality_spark.operators.quality_model import (
        load_quality_model,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(docs, art=load_quality_model()).select(
        "doc_id",
        "lang",
        F.round("quality_logit", 6).alias("ql6"),
        "quality_class",
    )
    return with_ppl_bucket(
        scored, lang_col="lang", value_col="ql6", out_col="quality_bucket"
    ).select(
        "doc_id",
        F.col("ql6").alias("quality_logit"),
        "quality_class",
        "quality_bucket",
    )


ORACLE["quality_score_docs"] = _quality_oracle()


@_register(
    "qf_keep_decision",
    # exception semantics parity: a NULL rule input gives status 'exception'
    # Spark-side (keep unaffected, absent from violated_rules), and each pass
    # condition here is NULL exactly when its input is NULL — so violated is
    # `cond IS FALSE` (NULL → not violated), never `NOT cond` (NULL → NULL,
    # which would flip keep to NULL and count a violation for exception rows)
    _DOC_STATS_CTE
    + f"""
SELECT doc_id, lang,
       ({" AND ".join(f"({c} IS NOT FALSE)" for c in _RULE_PASS_SQL.values())}) AS keep,
       ({" + ".join(f"CASE WHEN {c} IS FALSE THEN 1 ELSE 0 END" for c in _RULE_PASS_SQL.values())}) AS n_violations
FROM s
""",
)
def qf_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship validation DAG: rules → violations array → keep/drop
    (DelegatingConstraintChecker recast, SURVEY §2A#19)."""
    df = apply_rules(with_doc_stats(_t(spark, sf_dir, "documents")), FLAGSHIP_RULES)
    return df.select(
        "doc_id",
        "lang",
        "keep",
        F.size("violated_rules").cast("int").alias("n_violations"),
    )


@_register(
    "qf_rule_metrics",
    _DOC_STATS_CTE
    + "\nUNION ALL\n".join(
        f"""SELECT '{rid}' AS rule_id,
           COUNT(*) FILTER (WHERE {cond}) AS pass_count,
           COUNT(*) FILTER (WHERE NOT {cond}) AS fail_count FROM s"""
        for rid, cond in _RULE_PASS_SQL.items()
    ),
)
def qf_rule_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation statistics: per-rule pass/fail counts
    (≈ SpecialConstraintReport summaries, SURVEY §2A″)."""
    df = apply_rules(with_doc_stats(_t(spark, sf_dir, "documents")), FLAGSHIP_RULES)
    v = df.select(F.explode("violations").alias("v")).select("v.rule", "v.status")
    return v.groupBy(F.col("rule").alias("rule_id")).agg(
        F.count(F.when(F.col("status") == COMPLIANCE, 1)).alias("pass_count"),
        F.count(F.when(F.col("status") == VIOLATION, 1)).alias("fail_count"),
    )


@_register(
    "qf_golden_confusion",
    """
SELECT keep AS golden_keep, keep AS pred_keep, COUNT(*) AS n, COUNT(*) AS n_scrub_exact
FROM read_parquet('/root/repo/tests/fixtures/golden_labels.parquet')
GROUP BY 1, 2
""",
)
def qf_golden_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F1 contract as a driver-visible query (r01 VERDICT #9): run the
    FULL pipeline (extract → langid → perplexity → heuristics → dedup →
    scrub → decide) on the frozen golden corpus and confusion-join against
    the committed golden labels. The oracle asserts the diagonal — every
    live keep/drop equals its golden label AND every scrubbed text is
    byte-identical (n_scrub_exact = n per cell) — i.e. F1 = 1.0 exactly,
    which is the BASELINE.md stability contract (goldens ARE this pipeline's
    frozen output; planted-defect tests verify they are right, not merely
    reproducible)."""
    from wikidataquality_spark.operators.barrier import owned_caches

    # the confusion cells are checkpointed before the pipeline cache is
    # released: the driver evaluates each query several times (rows, values,
    # hash), and every evaluation would otherwise pin one enriched cache for
    # the rest of the session
    with owned_caches() as owner:
        return golden_confusion_plan(spark, owner).localCheckpoint(eager=True)


def golden_confusion_plan(spark: SparkSession, owner: list) -> DataFrame:
    """The lazy confusion aggregate behind ``qf_golden_confusion``; the
    pipeline's enrich cache is sealed into ``owner``, which the caller
    releases. ``tools/plan_audit.py`` grades this frame's plan, since the
    query itself returns checkpointed rows."""
    from wikidataquality_spark.datagen import fixture_pages_path
    from wikidataquality_spark.pipeline import results, validate

    pages = spark.read.parquet(fixture_pages_path(800, 42))
    golden = spark.read.parquet("/root/repo/tests/fixtures/golden_labels.parquet").select(
        "url", F.col("keep").alias("golden_keep"), "scrubbed_text"
    )
    live = results(validate(pages, persist_registry=owner)).select(
        "url", F.col("keep").alias("pred_keep"), F.col("scrubbed_text").alias("pred_scrub")
    )
    j = live.join(golden, "url")
    return j.groupBy("golden_keep", "pred_keep").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("pred_scrub") == F.col("scrubbed_text"), 1)).alias("n_scrub_exact"),
    )


_CROSSCHECK_META = [
    ("cc-mirror-2026", "mirror-2026", "en", "CC0", "2026-01-01"),
    ("cc-mirror-2025", "mirror-2025", "en", "CC0", "2025-01-01"),
]


@_register(
    "crosscheck_docs_vs_golden",
    f"""
WITH ext AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN source || '-mirror'
              WHEN doc_id % 7 = 0 THEN 'external-feed'
              ELSE source END AS ext_source,
         n_chars + CASE WHEN doc_id % 13 = 0 THEN 7
                        WHEN doc_id % 17 = 0 THEN 1
                        ELSE 0 END AS ext_n_chars
  FROM documents WHERE doc_id % 3 = 0),
cmp AS (
  -- NULL parity with crosscheck._null_totalize: both NULL → match, one
  -- NULL → mismatch. A bare `a = b` CASE would evaluate NULL on any NULL
  -- input and fall through to 'mismatch' where Spark says 'match'.
  SELECT d.doc_id,
         CASE WHEN d.source IS NULL AND e.ext_source IS NULL THEN 'match'
              WHEN d.source IS NULL OR e.ext_source IS NULL THEN 'mismatch'
              WHEN d.source = e.ext_source THEN 'match'
              WHEN levenshtein(d.source, e.ext_source) <= 2
                   OR (contains(d.source, e.ext_source) AND length(e.ext_source) > 0)
                   OR (contains(e.ext_source, d.source) AND length(d.source) > 0) THEN 'partial'
              ELSE 'mismatch' END AS source_status,
         CASE WHEN d.n_chars IS NULL AND e.ext_n_chars IS NULL THEN 'match'
              WHEN d.n_chars IS NULL OR e.ext_n_chars IS NULL THEN 'mismatch'
              WHEN CAST(d.n_chars AS DOUBLE) = CAST(e.ext_n_chars AS DOUBLE) THEN 'match'
              WHEN ABS(CAST(d.n_chars AS DOUBLE) - CAST(e.ext_n_chars AS DOUBLE)) <= 2.0 THEN 'partial'
              ELSE 'mismatch' END AS n_chars_status
  FROM documents d JOIN ext e USING (doc_id))
SELECT CASE WHEN doc_id % 2 = 0 THEN '{_CROSSCHECK_META[0][1]}'
            ELSE '{_CROSSCHECK_META[1][1]}' END AS source_name,
       field, status, COUNT(*) AS n
FROM (
  SELECT doc_id, 'source' AS field, source_status AS status FROM cmp
  UNION ALL
  SELECT doc_id, 'n_chars' AS field, n_chars_status AS status FROM cmp)
GROUP BY 1, 2, 3
""",
)
def crosscheck_docs_vs_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrossCheck end-to-end (SURVEY §2A′, ref≈includes/CrossCheck/
    CrossChecker.php + Comparer/*.php): documents are cross-checked against
    a deterministically-perturbed external dump twin (every doc_id % 3 —
    perturbations hit each comparer branch: exact match, containment/
    edit-distance partial, full mismatch, ±tolerance quantities), via the
    operators/crosscheck.py comparer family — pure codegen expressions over
    ONE broadcast equi-join. The dump's DumpMetaInformation dim is attached
    by broadcast join and carried into the per-(field, status) violation
    counts. Integer-exact oracle recomputes every comparer in SQL."""
    from wikidataquality_spark.operators.crosscheck import (
        crosscheck,
        dump_meta_table,
        with_dump_meta,
    )

    d = _t(spark, sf_dir, "documents")
    ext = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("source"), F.lit("-mirror")))
        .when(F.col("doc_id") % 7 == 0, F.lit("external-feed"))
        .otherwise(F.col("source"))
        .alias("ext_source"),
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 13 == 0, 7)
            .when(F.col("doc_id") % 17 == 0, 1)
            .otherwise(0)
        ).alias("ext_n_chars"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_CROSSCHECK_META[0][0]))
        .otherwise(F.lit(_CROSSCHECK_META[1][0]))
        .alias("dump_id"),
    )
    checked = d.select("doc_id", "source", "n_chars")
    out = crosscheck(
        checked,
        ext,
        on="doc_id",
        fields=[
            ("source", "ext_source", "string", {"partial_distance": 2}),
            ("n_chars", "ext_n_chars", "quantity", {"abs_tol": 2.0}),
        ],
    )
    meta = dump_meta_table(spark, _CROSSCHECK_META)
    tagged = with_dump_meta(out, meta)
    return (
        tagged.select("source_name", F.explode("comparisons").alias("c"))
        .groupBy("source_name", F.col("c.field").alias("field"), F.col("c.status").alias("status"))
        .agg(F.count("*").alias("n"))
    )


# (dump_meta_enrich retired in r04 to stay under the driver's 50-query cap:
# DumpMetaInformation's broadcast-dim surface is driver-visible inside
# crosscheck_docs_vs_golden, which attaches dump_meta_table via
# with_dump_meta and rolls violations up per source_name.)


@_register(
    "dedup_exact",
    """
SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level dedup: survivor = min doc_id per identical text
    (UniqueValueChecker recast, SURVEY §2A#7). At scale the window key is
    two independently-seeded 64-bit hashes (xxhash64(text), xxhash64(1,
    text)) — the same compound key as operators/dedup.exact_dedup — so the
    shuffle moves 16-byte keys, not documents, and the false-drop
    probability per pair is ~2⁻¹²⁸ (a strict-exact variant would carry the
    text through the shuffle)."""
    df = _t(spark, sf_dir, "documents")
    w = W.partitionBy(
        F.xxhash64("text"), F.xxhash64(F.lit(1), F.col("text"))
    ).orderBy("doc_id")
    return (
        df.select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


# (scrub_blocklist merged into scrub_pii_all — one query covers both the
# single-pattern blocklist path and the ordered PII chain.)


@_register(
    "token_count_by_source",
    rf"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+'))), 4) AS avg_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{BPE_PIECES_RE_SQL}'))) AS BIGINT) AS total_pieces
FROM documents GROUP BY source
""",
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rollup per source (training-data pipeline op): both the
    whitespace tokenizer and the BPE-ish pre-tokenizer piece count (formerly
    its own query `bpe_token_counts`) in one partial+final agg pass."""
    from wikidataquality_spark.operators.textstats import bpe_ish_token_count

    df = _t(spark, sf_dir, "documents")
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(nw.cast("long")).alias("total_tokens"),
        F.round(F.avg(nw), 4).alias("avg_tokens"),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias("total_pieces"),
    )


# ---------------------------------------------------------------------------
# Relational surface — TPC-H-ish (SURVEY §2C: joins, aggs, windows, set ops).
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-01-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → partial+final hash agg (map-side combine
    is automatic); the shipdate filter pushes into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-01-01")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "q3_top_revenue_orders",
    """
SELECT o.o_orderkey, o.o_orderdate,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim broadcast → fact join → agg → top-k.
    Customer is tiny → explicit broadcast; ties broken by o_orderkey so the
    LIMIT is a deterministic total order."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
    )


ORACLE["q3_top_revenue_orders"] = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, revenue FROM (
  SELECT o.o_orderkey, o.o_orderdate,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY o.o_orderkey, o.o_orderdate
  ORDER BY revenue DESC, o.o_orderkey
  LIMIT 10)
"""


@_register(
    "q5_nation_revenue",
    """
SELECT n.n_name, r.r_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact × three broadcast dims → single shuffle for the agg."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "semi_anti_join_customers",
    """
SELECT 'active' AS part, c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
UNION ALL
SELECT 'idle' AS part, c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
""",
)
def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) in one tagged union
    (formerly `semi_join_active_customers` + `anti_join_idle_customers` —
    merged to free a driver slot for `symmetric_inverse_checks`)."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    huge = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    active = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("active").alias("part"), "c_custkey", "c_name"
    )
    idle = c.join(huge, c.c_custkey == huge.o_custkey, "left_anti").select(
        F.lit("idle").alias("part"), "c_custkey", "c_name"
    )
    return active.unionByName(idle)


@_register(
    "symmetric_inverse_checks",
    """
WITH l AS (SELECT DISTINCT o_custkey AS src, o_orderkey % 150 AS dst FROM orders),
inv AS (SELECT DISTINCT o_orderkey % 150 AS src, o_custkey AS dst
        FROM orders WHERE o_orderkey % 3 = 0)
SELECT 'symmetric' AS part, l.src, l.dst,
       CASE WHEN EXISTS (SELECT 1 FROM l l2 WHERE l2.src = l.dst AND l2.dst = l.src)
            THEN 'compliance' ELSE 'violation' END AS status
FROM l
UNION ALL
SELECT 'inverse' AS part, l.src, l.dst,
       CASE WHEN EXISTS (SELECT 1 FROM inv i WHERE i.src = l.dst AND i.dst = l.src)
            THEN 'compliance' ELSE 'violation' END AS status
FROM l
""",
)
def symmetric_inverse_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymmetricChecker + InverseChecker as first-class link-table operators
    (SURVEY §2A #10-11, formerly covered only by the anti-join idiom — r02
    VERDICT "what's missing" #2): every link (a→b) of a derived order-graph
    is annotated with a CheckResult struct; 'symmetric' demands the
    reciprocal (b→a) in the SAME relation, 'inverse' demands it in the
    configured inverse relation. operators/graphcheck.py turns the
    reference's per-statement EntityLookup point reads into ONE swapped-key
    equi-join per rule."""
    from wikidataquality_spark.operators.graphcheck import (
        inverse_check,
        symmetric_check,
    )

    o = _t(spark, sf_dir, "orders")
    # the operators annotate EVERY input row; the oracle's link tables are
    # DISTINCT pairs, so distinct here (not inside the operator)
    links = o.select(
        F.col("o_custkey").alias("src"), (F.col("o_orderkey") % 150).alias("dst")
    ).distinct()
    inv_links = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            (F.col("o_orderkey") % 150).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    sym = symmetric_check(links).select(
        F.lit("symmetric").alias("part"),
        "src",
        "dst",
        F.col("check.status").alias("status"),
    )
    inv = inverse_check(links, inv_links).select(
        F.lit("inverse").alias("part"),
        "src",
        "dst",
        F.col("check.status").alias("status"),
    )
    return sym.unionByName(inv)


@_register(
    "window_topk_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
""",
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k idiom (no global sort)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


# (window_running_customer_spend retired in r04 to stay under the driver's
# 50-query cap: its running-sum / lag / RANGE-frame surface moved into
# window_rank_functions, which now carries every window family over ONE
# o_custkey exchange.)


@_register(
    "grouping_sets_summary",
    """
SELECT 'rollup_orders' AS part, o_orderstatus AS k1, o_orderpriority AS k2,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS metric, CAST(NULL AS DOUBLE) AS metric2
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'cube_lineitem' AS part, l_returnflag AS k1, l_linestatus AS k2,
       COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS metric, CAST(NULL AS DOUBLE) AS metric2
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'median_orders' AS part, o_orderstatus AS k1, CAST(NULL AS VARCHAR) AS k2,
       COUNT(*) AS n,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS metric,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS metric2
FROM orders GROUP BY o_orderstatus
""",
)
def grouping_sets_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set surface in one tagged unionByName: ROLLUP over orders
    (subtotals + grand total), CUBE over lineitem (all subtotal combos), and
    exact continuous percentiles (median/p90) per order status — formerly
    three queries (`rollup_order_status`, `cube_lineitem_status`,
    `median_price_by_status`). The union also exercises position-safe
    unionByName across differently-built projections."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    null_d = F.lit(None).cast("double")
    rollup = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("metric"))
        .select(
            F.lit("rollup_orders").alias("part"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "n",
            "metric",
            null_d.alias("metric2"),
        )
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("metric"))
        .select(
            F.lit("cube_lineitem").alias("part"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "n",
            "metric",
            null_d.alias("metric2"),
        )
    )
    med = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("metric"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("metric2"),
    ).select(
        F.lit("median_orders").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        "n",
        "metric",
        "metric2",
    )
    return rollup.unionByName(cube).unionByName(med)


# (distinct_parts_per_flag merged into stats_by_returnflag.)


@_register(
    "setop_segments",
    """
SELECT 'both' AS part, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000)
UNION ALL
SELECT 'only_building' AS part, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000)
""",
)
def setop_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface in one query: INTERSECT and EXCEPT of the same
    two key sets, tagged and recombined with unionByName (formerly
    `setop_segment_overlap` + `setop_segment_except` +
    `union_by_name_sources`)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    both = c.intersect(o).select(F.lit("both").alias("part"), "c_custkey")
    only = (
        c.exceptAll(o)
        .distinct()
        .select(F.col("c_custkey"), F.lit("only_building").alias("part"))
    )
    return both.unionByName(only)


# (string_funcs_part retired in r04 to free a driver slot for
# normalize_docs, which carries the same string-function surface —
# upper/substring/concat_ws/length/levenshtein — over the documents table.)


def _normalize_oracle() -> str:
    from wikidataquality_spark.operators.normalize import (
        nfc_normalize_sql,
        strip_control_chars_sql,
    )

    # DuckDB twin of normalize_text MINUS the mojibake repair stage (repair
    # is strict-round-trip Python, inexpressible in SQL): on datagen's clean
    # corpus repair is the identity BY CONSTRUCTION of its acceptance rule
    # (only a strictly-shrinking cp1252→utf8 round-trip is accepted), so the
    # full Spark pipeline and the repair-less twin must hash-match — a
    # repair misfiring on clean text would show up HERE as a loud mismatch,
    # which is exactly the false-repair guarantee worth gating at corpus
    # scale (the positive repair fixtures live in tests/test_normalize.py).
    twin = strip_control_chars_sql(nfc_normalize_sql("text"))
    return f"""
WITH n AS (
  SELECT doc_id, lang, source, text, {twin} AS text_norm FROM documents
)
SELECT doc_id,
       text_norm,
       (text_norm <> text) AS changed,
       length(text_norm) AS n_chars_norm,
       substring(text_norm, 1, 12) AS prefix12,
       upper(concat_ws(':', lang, source)) AS lang_source,
       levenshtein(coalesce(lang, ''), 'en') AS lev_en
FROM n
"""


@_register("normalize_docs", _normalize_oracle())
def normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (operators/normalize.py): mojibake repair →
    NFC → control/format strip over every document, ONE Arrow stage plus
    codegen — the ftfy-class pre-clean that runs before any fingerprint or
    dedup stage. Also carries the string-function surface absorbed from the
    retired string_funcs_part (upper/substring/concat_ws/length/
    levenshtein), computed over the normalized text / doc metadata (metadata
    only for upper — JVM simple-case vs utf8proc full-case mapping disagree
    on e.g. ß, so upper is gated on the ASCII metadata columns)."""
    from wikidataquality_spark.operators.normalize import with_normalized_text

    docs = _t(spark, sf_dir, "documents")
    n = with_normalized_text(docs.select("doc_id", "lang", "source", "text"))
    return n.select(
        "doc_id",
        "text_norm",
        (F.col("text_norm") != F.col("text")).alias("changed"),
        F.length("text_norm").cast("long").alias("n_chars_norm"),
        F.substring("text_norm", 1, 12).alias("prefix12"),
        F.upper(F.concat_ws(":", "lang", "source")).alias("lang_source"),
        F.levenshtein(F.coalesce(F.col("lang"), F.lit("")), F.lit("en"))
        .cast("long")
        .alias("lev_en"),
    )


@_register(
    "orders_by_month",
    """
SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS month_total,
       CAST(date_diff('day', DATE '1995-01-01', MIN(o_orderdate)::DATE) AS BIGINT) AS days_since_95,
       strftime(MIN(o_orderdate)::DATE + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
       strftime(last_day(MIN(o_orderdate)::DATE), '%Y-%m-%d') AS month_end,
       CAST(EXTRACT(quarter FROM MIN(o_orderdate)) AS BIGINT) AS q,
       ROUND(stddev_samp(o_totalprice), 4) AS sd_price,
       ROUND(var_samp(o_totalprice), 2) AS var_price,
       ROUND(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) AS corr_price_cust,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
""",
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing (truncate-to-month as a formatted string, TZ-safe vs
    oracle) plus the date-arithmetic surface — datediff / date_add /
    last_day / quarter over each month's first order date (formerly its own
    query `orders_date_arithmetic`) — plus the statistical-aggregate surface
    (stddev / variance / correlation / exact count-distinct, absorbed from
    the retired stats_by_returnflag in r04), all in one grouping pass."""
    o = _t(spark, sf_dir, "orders")
    mn = F.min(F.col("o_orderdate").cast("date"))
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("month_total"),
        F.datediff(mn, F.lit("1995-01-01")).cast("long").alias("days_since_95"),
        F.date_format(F.date_add(mn, 90), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.last_day(mn), "yyyy-MM-dd").alias("month_end"),
        F.quarter(mn).cast("long").alias("q"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
        F.round(F.corr("o_totalprice", F.col("o_custkey").cast("double")), 4).alias("corr_price_cust"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@_register(
    "range_join_price_bands",
    """
SELECT b.band_id, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS band_total
FROM orders o
JOIN (VALUES (0, 0.0, 100000.0), (1, 100000.0, 300000.0), (2, 300000.0, 10000000.0))
     AS b(band_id, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band_id
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join against a tiny literal dim — Spark executes
    it as a BroadcastNestedLoopJoin, which is the right plan for a 3-row dim."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [(0, 0.0, 100000.0), (1, 100000.0, 300000.0), (2, 300000.0, 10000000.0)],
        "band_id int, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("band_total"))
    )


# ---------------------------------------------------------------------------
# Events: JSON, time windows, sessionization, as-of join (SURVEY §2C).
# ---------------------------------------------------------------------------


@_register(
    "json_map_events",
    """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(AVG(value), 4) AS avg_value,
       CAST(SUM(len(json_keys(props))) AS BIGINT) AS total_keys
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
  AND CAST(json_extract(props, '$.k') AS INTEGER) % 7 = 0
GROUP BY event_type
""",
)
def json_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface, both access paths in one query (formerly
    `json_events_filter` + `events_props_map`): the light get_json_object
    string extractor filters, the full from_json→MapType path
    (element_at / map_keys) filters and aggregates key counts."""
    from pyspark.sql.types import IntegerType, MapType, StringType

    e = _t(spark, sf_dir, "events")
    k_light = F.get_json_object("props", "$.k").cast("int")
    m = F.from_json("props", MapType(StringType(), IntegerType()))
    return (
        e.withColumn("_m", m)
        .withColumn("_k", F.element_at("_m", "k"))
        .filter((k_light > 50) & (F.col("_k") % 7 == 0))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.sum(F.size(F.map_keys("_m")).cast("long")).alias("total_keys"),
        )
    )


# (events_windows retired in r04 to stay under the driver's 50-query cap:
# the batch F.window tumbling/sliding surface is driver-visible through
# stream_window_aggs, whose oracle recomputes the identical epoch-aligned
# bucket math; the gap-based grain is stream_session_windows.)


# (sessionize_users retired in r04 to stay under the driver's 50-query cap,
# making room for quality_score_docs: its lag-gap window surface stays
# driver-gated through window_rank_functions (lag + frames over the same
# exchange) and the session-window SEMANTICS through stream_session_windows,
# whose oracle recomputes gap-based sessions in SQL; the lag-gap/island SQL
# itself lives on as the stateful_user_stats oracle shape.)


@_register(
    "asof_purchase_last_click",
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, last_click_us
FROM (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
  FROM events)
WHERE event_type = 'purchase'
""",
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join expressed as a single-pass window — each purchase
    gets the user's most recent strictly-prior click. One shuffle on user_id,
    no self-join blowup (SURVEY §2C 'as-of join')."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", _unix_us("ts"))
    ).over(w)
    return (
        e.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", _unix_us("ts").alias("ts_us"), "last_click_us")
    )


# ---------------------------------------------------------------------------
# Embeddings: vector math + similarity search (training-data pipeline ops).
# ---------------------------------------------------------------------------

# Both sides: cast each float to double BEFORE multiply, sum sequentially in
# element order → bit-identical doubles pre-ROUND. dot_sql is the single
# NULL/ragged-guarded SQL fold (simsearch) — see its docstring for why the
# guard is required for DuckDB parity.


# single source of the bit-determinism-critical fold: a second copy here
# could drift from the one the operators use and silently break the
# documented bit-identical oracle parity
from wikidataquality_spark.operators.simsearch import dot as _dot  # noqa: E402
from wikidataquality_spark.operators.simsearch import dot_sql  # noqa: E402


# (embedding_norms merged into array_ops_embedding.)


# (ann_cosine_threshold retired in r04 to stay under the driver's 50-query
# cap, making room for dup_span_stats_docs: its brute-force cosine math is
# driver-gated through semdedup_marks / embedding_neardup_pairs (the same
# guarded dot/norm folds) and its tiny-broadcast-side BroadcastNestedLoopJoin
# physical shape through range_join_price_bands; the exact-kNN SQL remains
# the ivf_ann_topk oracle and tests/test_simsearch.py keeps the threshold
# form unit-gated.)


def _semdedup_oracle() -> str:
    from wikidataquality_spark.operators.semdedup import (
        load_semdedup_centroids,
        load_semdedup_pq,
        semdedup_marks_sql,
    )

    return semdedup_marks_sql(
        load_semdedup_centroids(), threshold=0.4, dim=64, pq_art=load_semdedup_pq()
    )


@_register("semdedup_marks", None)  # oracle attached below (built SQL)
def semdedup_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup corpus pruning (Abbas et al. 2023): k-means cluster
    assignment (zero-shuffle literal-centroid argmax) + within-cluster
    cosine near-dup marks, keeping the lowest-centroid-sim representative
    per neighborhood. Centroids are the train-once v1 artifact
    (tools/train_semdedup.py), so the oracle replays the identical
    assignment + survivor algebra with inlined constants — the driver
    hash-compares the real cluster geometry, not a sample. The retired
    brute-force queries (`knn_cosine_topk`, later `ann_cosine_threshold`)
    stay covered by this query's guarded dot/norm folds and
    tests/test_simsearch.py; the exact-kNN SQL lives on as the
    `ivf_ann_topk` oracle."""
    from wikidataquality_spark.operators.semdedup import (
        load_semdedup_centroids,
        load_semdedup_pq,
        semdedup_marks as _marks,
    )

    e = _t(spark, sf_dir, "embeddings")
    return _marks(
        e, load_semdedup_centroids(), threshold=0.4, dim=64, pq_art=load_semdedup_pq()
    )


ORACLE["semdedup_marks"] = _semdedup_oracle()


def _neardup_pairs_oracle() -> str:
    from wikidataquality_spark.operators.simsearch import lsh_neardup_pairs_sql

    return lsh_neardup_pairs_sql(threshold=0.5, dim=64)


@_register("embedding_neardup_pairs", None)  # oracle attached below (built SQL)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the LSH-bucketed scale path
    (r01 VERDICT #5: the former all-pairs `id_a < id_b` theta join was a
    100 TB scale-killer). Candidates share a random-hyperplane bucket in ≥1
    of 8 tables — an EQUI self-join on (table, bucket) — then exact cosine
    verifies ≥ 0.5. Precision is exact; recall is the LSH collision
    probability (measured: 1/1 pairs at sf0.01, 12/14 at sf0.1 vs brute
    force). The bucketing is fully deterministic, and the oracle replicates
    the identical hyperplane constants in SQL, so the driver hash-compares
    the real candidate algebra, not a lucky sample."""
    from wikidataquality_spark.operators.simsearch import lsh_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    out = lsh_neardup_pairs(e, threshold=0.5, dim=64)
    return out.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


ORACLE["embedding_neardup_pairs"] = _neardup_pairs_oracle()


# ---------------------------------------------------------------------------
# Text analysis: fingerprints, n-gram similarity, quality scores, tokenization.
# ---------------------------------------------------------------------------


@_register(
    "doc_fingerprints",
    _DOC_STATS_CTE
    + rf""",
w AS (SELECT doc_id, string_split_regex(trim(text), '[\t\n\x0B\f\r ]+') AS words FROM documents)
SELECT w.doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [list_reduce(list_prepend(CAST(0 AS BIGINT),
        [CAST(ascii(c) AS BIGINT) for c in string_split(word, '')]),
      (acc, x) -> (acc * 131 + x) % {1_099_511_627_689})
     for word in words]),
    (acc, x) -> (acc * 31 + x) % {1_099_511_627_689}) AS fingerprint,
  ROUND((CASE WHEN s.mwl BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END) * 0.2
        + LEAST(s.swr * 5, 1.0) * 0.2
        + GREATEST(1.0 - s.symr * 5, 0.0) * 0.2
        + s.dwr * 0.2
        + s.alpha * 0.2, 6) AS quality_score
FROM w JOIN s ON w.doc_id = s.doc_id
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (whitespace-invariant content id)
    plus the composite heuristic quality score (curriculum-sampling signal,
    formerly its own query `quality_scores`) — one projection pass."""
    from wikidataquality_spark.operators.textstats import (
        quality_score,
        rolling_fingerprint,
    )

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("fingerprint"),
        F.round(quality_score(F.col("text")), 6).alias("quality_score"),
    )


def _dup_span_oracle() -> str:
    from wikidataquality_spark.operators.dupspans import dup_span_stats_sql

    return dup_span_stats_sql(k=8, min_occurrences=2)


@_register("dup_span_stats_docs", None)  # oracle attached below (built SQL)
def dup_span_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators/dupspans.py — the
    ExactSubstr recipe of Lee et al. 2022 without the suffix array): per-doc
    maximal ≥8-token repeated-region stats from one double-hashed gram count
    + a semi-join + a gaps-and-islands merge over narrow (doc, pos) rows.
    The oracle replays the span algebra with STRING grams (equality ≡
    double-hash equality absent ~2⁻¹²⁸ collisions)."""
    from wikidataquality_spark.operators.dupspans import dup_span_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, k=8, min_occurrences=2).select(
        "doc_id", "n_tokens", "n_dup_spans", "dup_token_count",
        "dup_token_fraction",
    )


ORACLE["dup_span_stats_docs"] = _dup_span_oracle()


NGRAM_JACCARD_T = 0.6


@_register(
    "ngram_jaccard_pairs",
    rf"""
WITH g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, len(words)-2)]) AS grams
  FROM (SELECT doc_id, string_split_regex(trim(text), '[\t\n\x0B\f\r ]+') AS words
        FROM documents)
  WHERE len(words) >= 3)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.grams, b.grams)) /
             CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) /
      CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE) >= {NGRAM_JACCARD_T}
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs (J ≥ 0.6), via LOSSLESS prefix
    filtering (textstats.jaccard_pairs_prefix_filtered — the PPJoin shape:
    rarest-first prefix equi-join + size filter + exact verify). Exactly
    equals the all-pairs oracle at any SF with no probabilistic recall —
    and no block-quadratic self-join (r01 VERDICT #6: the former version
    was O(n²) within each `source` block). The oracle deliberately stays
    brute-force: DuckDB verifies the algebra, Spark carries the scale."""
    from wikidataquality_spark.operators.textstats import jaccard_pairs_prefix_filtered

    df = _t(spark, sf_dir, "documents")
    out = jaccard_pairs_prefix_filtered(df, NGRAM_JACCARD_T, id_col="doc_id", text_col="text")
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# (quality_scores merged into doc_fingerprints.)


# (bpe_token_counts merged into token_count_by_source.)


@_register(
    "minhash_neardup_docs",
    """
WITH bands AS (SELECT * FROM read_parquet('/root/repo/tests/fixtures/minhash_bands_sf001.parquet')),
sigs AS (SELECT * FROM read_parquet('/root/repo/tests/fixtures/minhash_sigs_sf001.parquet')),
k AS (SELECT band_key, MIN(doc_id) AS keep_id FROM bands GROUP BY 1),
cand AS (SELECT DISTINCT b.doc_id, k.keep_id FROM bands b JOIN k USING (band_key)
         WHERE b.doc_id <> k.keep_id),
dropped AS (SELECT DISTINCT c.doc_id FROM cand c
            JOIN sigs sa ON sa.doc_id = c.doc_id
            JOIN sigs sb ON sb.doc_id = c.keep_id
            WHERE list_sum(list_transform(range(1, 129),
                  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 80)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def minhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup survivors over documents (the corpus-scale dedup
    operator), WITH the component-agreement verify stage (r04
    VERDICT #2: bucket collision alone admitted J 0.3–0.5 pairs). Oracle
    (r01 VERDICT #4 pattern): the pandas-UDF signature stage is frozen as
    committed band-key + full-signature fixtures at sf0.01
    (tools/make_goldens.py); the SQL recomputes the DISTRIBUTED algebra —
    band bucketing, bucket-minimum survivorship, candidate pairing, the
    matches ≥ MINHASH_VERIFY_MIN_EQ verify filter, anti-join — from those
    keys. A change to the UDF hashing, the shuffle logic, or the verify
    threshold flips the hash gate. The final SELECT runs against the live
    `documents` view, so running at any other SF fails loudly instead of
    silently passing."""
    from wikidataquality_spark.operators.dedup import minhash_dedup

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_dedup(df, text_col="text", id_col="doc_id").select("doc_id")


@_register(
    "simhash_neardup_docs",
    """
WITH sigs AS (SELECT * FROM read_parquet('/root/repo/tests/fixtures/simhash_bands_sf001.parquet')),
k AS (SELECT band_key, MIN(doc_id) AS keep_id FROM sigs GROUP BY 1),
cand AS (SELECT DISTINCT s.doc_id, s.simhash, k.keep_id
         FROM sigs s JOIN k USING (band_key) WHERE s.doc_id <> k.keep_id),
ks AS (SELECT DISTINCT doc_id AS keep_id, simhash AS keep_sh FROM sigs),
dropped AS (SELECT DISTINCT c.doc_id FROM cand c JOIN ks USING (keep_id)
            WHERE bit_count(xor(c.simhash, ks.keep_sh)) <= 3)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def simhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup survivors (hamming ≤ 3 on 64-bit signatures). Same
    frozen-signature oracle discipline as minhash_neardup_docs: the UDF's
    signatures + band keys are a committed sf0.01 fixture; the SQL
    recomputes banding, min-id anchoring, AND the exact Hamming verify
    (bit_count(xor)) — the full candidate/verify algebra."""
    from wikidataquality_spark.operators.dedup import simhash_dedup

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_dedup(df, text_col="text", id_col="doc_id").select("doc_id")


@_register(
    "scrub_pii_all",
    r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '(?:\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
    '\b(?:badword|toxicword|slurword)\b', '<REDACTED>', 'g') AS scrubbed_text,
  regexp_replace(text, '\b(slow|big)\b', '[REDACTED]', 'g') AS blocklist_text
FROM documents
""",
)
def scrub_pii_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PII+toxicity scrub chain (operators/scrub.py pattern
    order is frozen; both engines apply the same ordered sequence), plus the
    single-pattern blocklist scrub variant (FormatChecker-as-scrub, SURVEY
    §2A#1 — formerly its own query `scrub_blocklist`). Spark regexp_replace
    is global by default; DuckDB needs the 'g' flag."""
    from wikidataquality_spark.operators.scrub import scrub_column

    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        scrub_column("text").alias("scrubbed_text"),
        F.regexp_replace("text", r"\b(slow|big)\b", "[REDACTED]").alias("blocklist_text"),
    )


# ---------------------------------------------------------------------------
# More relational/statistical surface.
# ---------------------------------------------------------------------------


# (cube_lineitem_status merged into grouping_sets_summary.)


@_register(
    "pivot_orders_status",
    """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
FROM orders GROUP BY o_orderpriority
""",
)
def pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order-status columns per priority (explicit value list so the
    plan is a single agg, no extra distinct pass)."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("status_F"),
        F.coalesce("O", F.lit(0)).alias("status_O"),
        F.coalesce("P", F.lit(0)).alias("status_P"),
    )


# (median_price_by_status merged into grouping_sets_summary.)


# (stats_by_returnflag retired in r04 to stay under the driver's 50-query
# cap: its stddev / variance / correlation / exact-multi-count-distinct
# surface moved into orders_by_month, which exercises the same aggregate
# family in the same single grouping pass.)


@_register(
    "window_rank_functions",
    """
SELECT o_custkey, o_orderkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       NTILE(4) OVER w AS quartile,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS n_near_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window-function surface in one query (absorbed
    window_running_customer_spend in r04): rank / dense_rank / percent_rank /
    ntile, a running SUM + lag over a ROWS frame, and a value-based RANGE
    frame (±10000 around each order's price). Every spec partitions on
    o_custkey, so the plan carries ONE exchange and three sorts — the shape
    a 100-TB window pass wants (re-sorting within a partition is cheap;
    re-shuffling is not)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wd = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, 10000)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(
            F.sum("o_totalprice").over(wd.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.lag("o_orderkey").over(wd).alias("prev_orderkey"),
        F.count("*").over(wr).alias("n_near_price"),
    )


@_register(
    "array_ops_embedding",
    f"""
WITH px AS (
  SELECT vec_id,
         CAST(SUM((i - 1) * CAST(SIGN(embedding[i]) AS BIGINT)) AS BIGINT) AS pos_sign_sum
  FROM embeddings, generate_series(1, 4096) AS t(i)
  WHERE vec_id < 10 AND i <= len(embedding)
  GROUP BY vec_id)
SELECT e.vec_id,
       len(embedding) AS dim,
       array_to_string(list_transform(embedding[1:5], x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,4))), ',') AS head5,
       array_to_string(list_transform(list_reverse_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[1:3],
                      x -> CAST(x AS DECIMAL(18,4))), ',') AS top3,
       ROUND(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max') AS DOUBLE), 4) AS vmax,
       ROUND(sqrt({dot_sql(a="embedding", b="embedding")}), 4) AS l2_norm,
       px.pos_sign_sum
FROM embeddings e JOIN px ON e.vec_id = px.vec_id
WHERE e.vec_id < 10
""",
)
def array_ops_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface in one query: size / slice / sort_array desc /
    transform / array_max, the zip_with+aggregate L2 norm (formerly
    `embedding_norms`), and a posexplode→re-aggregate column (formerly
    `posexplode_embedding` — the plan carries a real Generate node). Array
    outputs are joined to scalar strings (concat_ws) so the driver's pandas
    canonicalizer can hash them."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    px = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.col("pos").cast("long")
                * F.signum(F.col("v").cast("double")).cast("long")
            ).alias("pos_sign_sum")
        )
    )
    base = e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.concat_ws(
            ",",
            F.transform(F.slice("embedding", 1, 5), lambda x: x.cast("double").cast("decimal(18,4)")),
        ).alias("head5"),
        F.concat_ws(
            ",",
            F.transform(F.slice(F.sort_array(dbl, asc=False), 1, 3), lambda x: x.cast("decimal(18,4)")),
        ).alias("top3"),
        F.round(F.array_max(dbl), 4).alias("vmax"),
        F.round(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), 4).alias("l2_norm"),
    )
    return base.join(px, "vec_id")


# (orders_date_arithmetic merged into orders_by_month.)


# ---------------------------------------------------------------------------
# Streaming twins (run the real Structured Streaming path on the bounded
# events table; memory sink driven to completion inside the query fn).
# ---------------------------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from wikidataquality_spark.io.locking import user_cache_root

    src_file = os.path.join(sf_dir, "events.parquet")
    # streaming file sources want a directory: shim via a symlink dir —
    # under the per-uid 0o700 cache root (a shared-/tmp path is squattable
    # and the bare exists→symlink pair races EEXIST between two drivers)
    key = hashlib.md5(src_file.encode()).hexdigest()[:10]
    d = os.path.join(user_cache_root("wdq_stream_shim"), f"events_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    try:
        os.symlink(src_file, link)
    except FileExistsError:
        pass  # concurrent creator won the race; the target is identical

    schema = _t(spark, sf_dir, "events").schema
    src = spark.readStream.schema(schema).parquet(d)
    # parquet gives TIMESTAMP_NTZ; watermarks/windows need TIMESTAMP (UTC session)
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


@_register(
    "stream_window_aggs",
    """
SELECT 'hourly' AS grain, epoch_us(date_trunc('hour', ts)) AS bucket_us,
       event_type, COUNT(*) AS n
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'sliding_30m_10m' AS grain,
       (epoch_us(ts) // 600000000 - i) * 600000000 AS bucket_us,
       event_type, COUNT(*) AS n
FROM events, generate_series(0, 2) AS t(i)
GROUP BY 2, 3
""",
)
def stream_window_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming window aggregation, tumbling AND sliding grains
    in one tagged union (formerly `stream_hourly_counts` +
    `stream_sliding_avg`). Complete mode over the bounded source → equals
    the batch group-by / integer-bucket oracle. Counts are compared
    (integer-exact); the avg the sliding operator also computes accumulates
    in streaming-state order, which differs from the oracle's scan order in
    the last ulp at larger SFs."""
    from wikidataquality_spark.streaming.windows import (
        run_stream_to_memory,
        sliding_value_avg,
    )

    src = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    hourly_agg = src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count("*").alias("n")
    )
    hourly = run_stream_to_memory(spark, hourly_agg, output_mode="complete").select(
        F.lit("hourly").alias("grain"),
        F.unix_micros("win.start").alias("bucket_us"),
        "event_type",
        "n",
    )
    src2 = _events_stream(spark, sf_dir)
    sliding = run_stream_to_memory(
        spark, sliding_value_avg(src2), output_mode="complete"
    ).select(
        F.lit("sliding_30m_10m").alias("grain"),
        F.unix_micros("win.start").alias("bucket_us"),
        "event_type",
        "n",
    )
    return hourly.unionByName(sliding)


@_register(
    "stream_dedup_event_ids",
    "SELECT COUNT(DISTINCT event_id) AS n_unique FROM events",
)
def stream_dedup_event_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the stream; count survivors."""
    from wikidataquality_spark.streaming.windows import (
        dedup_within_watermark,
        run_stream_to_memory,
    )

    src = _events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(src)
    out = run_stream_to_memory(spark, deduped, output_mode="append")
    return out.agg(F.count_distinct("event_id").alias("n_unique"))


# (stream_sliding_avg merged into stream_window_aggs.)


@_register(
    "stream_session_windows",
    """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, ts,
             -- event_id tiebreak mirrors CTE g's window: without it, a
             -- same-ts pair where the earlier-by-id event opens a session
             -- could be enumerated in either order, splitting same-ts events
             -- across two sessions where Spark's session_window never does
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g)
SELECT user_id, epoch_us(MIN(ts)) AS sess_start_us, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows per user over the stream (30-min gap). The
    oracle is the lag-gap/island SQL (the retired sessionize_users shape):
    a session starts when the previous event is ≥ gap away — Spark session
    windows are [start, start+gap), so an event exactly at the boundary
    opens a new session; session start = first event's timestamp, emitted
    as exact unix micros."""
    from wikidataquality_spark.streaming.windows import (
        run_stream_to_memory,
        session_windows,
    )

    src = _events_stream(spark, sf_dir)
    out = run_stream_to_memory(spark, session_windows(src), output_mode="complete")
    return out.select(
        "user_id", F.unix_micros(F.col("sess.start")).alias("sess_start_us"), "n_events"
    )


@_register(
    "stream_incremental_validate",
    """
SELECT part, CAST(n AS BIGINT) AS n FROM (VALUES
  ('urls_streamed', 300), ('epochs', 3), ('joined', 300),
  ('keep_match', 300), ('viol_match', 300), ('scrub_match', 300),
  ('pred_match', 300)) AS t(part, n)
""",
)
def stream_incremental_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental validation (EvaluateConstraintReportJob recast,
    SURVEY §2A″): a 300-page corpus streams in as 3 url-range micro-batches
    (maxFilesPerTrigger=1, mtimes staggered so ranges arrive in survivor
    order); foreachBatch runs the full pipeline per micro-batch, deduping
    each batch against the accumulated FINGERPRINT STATE of prior batches
    (dup_marks state= — the cross-batch incremental dedup a crawl-snapshot
    ingest needs), writing both sinks exactly-once via dynamic partition
    overwrite.

    Oracle (r02 VERDICT #4 — formerly a frozen parquet of this code's own
    output): the query recomputes the BATCH pipeline on the same corpus
    live, full-joins streamed vs batch per url, and emits the integer
    diagonal — every keep flag, violated-rules array, scrubbed byte, and
    model score of the incremental path must equal the batch path on all
    300 urls across 3 epochs. The oracle asserts those literal integers;
    any stream/batch divergence (state loss, double-processing, dedup drift)
    breaks a count."""
    import glob
    import shutil

    from wikidataquality_spark.datagen import DATAGEN_VERSION, write_pages_parquet
    from wikidataquality_spark.io.locking import publish_dir, user_cache_root
    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.pipeline import results, validate
    from wikidataquality_spark.streaming.windows import incremental_validate

    # version-keyed like fixture_pages_path: the split dir derives from the
    # corpus, so both caches must miss together when datagen changes. Per-uid
    # root + lock-published split (the bare check-then-overwrite let two
    # concurrent drivers write the SAME final dir — r04 review, same class
    # as export_once).
    base = os.path.join(user_cache_root("wdq_incr"), f"v{DATAGEN_VERSION}")
    corpus = write_pages_parquet(f"{base}/pages_300.parquet", 300, seed=99)
    split_dir = publish_dir(
        f"{base}/split_byrange",
        # 3 contiguous url ranges ascending: part-00000 holds the smallest
        # urls — the survivor-order precondition for incremental == batch
        lambda staging: spark.read.parquet(corpus)
        .repartitionByRange(3, "url")
        .write.parquet(staging),
    )
    # FileStreamSource picks files oldest-first: stagger mtimes so range k
    # streams as micro-batch k
    for i, p in enumerate(sorted(glob.glob(os.path.join(split_dir, "part-*")))):
        os.utime(p, (1_700_000_000 + 600 * i,) * 2)

    # stream workdirs are PER-PROCESS (pid-scoped): a second driver running
    # this query concurrently must not rmtree a live stream's checkpoint.
    # Reap orphans first — run_<pid> dirs whose owning process is gone —
    # or every driver invocation would permanently leak a checkpoint tree
    # into the shared per-uid root (r04 review)
    for stale in glob.glob(f"{base}/run_*"):
        try:
            pid = int(stale.rsplit("_", 1)[1])
            os.kill(pid, 0)  # raises if the owner is dead
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # live process owned by someone else (not under this uid root, but be safe)
    run_base = f"{base}/run_{os.getpid()}"
    sink = f"{run_base}/sink"
    ckpt = f"{run_base}/ckpt"
    state = f"{run_base}/state"
    for d in (sink, ckpt, state):
        shutil.rmtree(d, ignore_errors=True)

    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    q = incremental_validate(spark, stream, sink, ckpt, state_dir=state)
    q.awaitTermination()

    s = spark.read.parquet(sink)
    # the batch recompute's cache is released before returning (the
    # driver/bench evaluates each query several times — rows, values, hash —
    # and would otherwise pin one cached 300-row enriched frame per
    # evaluation for the session's lifetime); the 7-row diagonal is
    # materialized once and its lineage cut first, so re-evaluations read
    # the tiny checkpointed blocks
    with owned_caches() as owner:
        b = results(validate(spark.read.parquet(corpus), persist_registry=owner))
        j = s.alias("s").join(b.alias("b"), "url", "full")
        eq = lambda c: F.count(  # noqa: E731
            F.when(F.col(f"s.{c}").eqNullSafe(F.col(f"b.{c}")), True)
        )
        diag = j.agg(
            F.count("*").alias("joined"),
            eq("keep").alias("keep_match"),
            eq("violated_rules").alias("viol_match"),
            eq("scrubbed_text").alias("scrub_match"),
            F.count(
                F.when(
                    F.col("s.lang_pred").eqNullSafe(F.col("b.lang_pred"))
                    & F.col("s.perplexity").eqNullSafe(F.col("b.perplexity")),
                    True,
                )
            ).alias("pred_match"),
        )
        sizes = s.agg(
            F.countDistinct("url").alias("urls_streamed"),
            F.countDistinct("_epoch").alias("epochs"),
        )
        explode_kv = lambda df, keys: df.select(  # noqa: E731
            F.explode(
                F.create_map(*[x for k in keys for x in (F.lit(k), F.col(k))])
            ).alias("part", "n")
        )
        out = explode_kv(
            sizes, ["urls_streamed", "epochs"]
        ).unionByName(
            explode_kv(
                diag, ["joined", "keep_match", "viol_match", "scrub_match", "pred_match"]
            )
        )
        return out.localCheckpoint(eager=True)


@_register(
    "stateful_user_stats",
    """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value,
       MAX(epoch_us(ts)) AS last_seen_us
FROM events GROUP BY user_id
""",
)
def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running count/sum/last-seen kept in the state store across micro-batches.
    The bounded source is driven to completion; the final update per user
    (max n_events — counts are monotone) equals the batch aggregate, which is
    what the oracle checks."""
    from pyspark.sql import Window as WW

    from wikidataquality_spark.streaming.stateful import running_user_stats
    from wikidataquality_spark.streaming.windows import run_stream_to_memory

    src = _events_stream(spark, sf_dir)
    out = run_stream_to_memory(spark, running_user_stats(src), output_mode="update")
    w = WW.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            "last_seen_us",
        )
    )


# ---------------------------------------------------------------------------
# UDF surface (SURVEY §2C last row): grouped-map applyInPandas, grouped-agg
# pandas UDAF, mapInArrow — each against a plain-SQL oracle.
# ---------------------------------------------------------------------------


@_register(
    "grouped_map_source_zscore",
    """
SELECT doc_id,
       ROUND((length(text) - AVG(length(text)) OVER (PARTITION BY source))
             / stddev_samp(length(text)) OVER (PARTITION BY source), 4) AS len_z
FROM documents
""",
)
def grouped_map_source_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-source z-score of document length.
    One shuffle on the group key; each group arrives as one pandas frame
    (the per-host normalization idiom for quality-score calibration)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n")
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n"].mean()
        sd = pdf["n"].std(ddof=1)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "len_z": ((pdf["n"] - mu) / sd).round(4)}
        )

    return docs.groupBy("source").applyInPandas(zscore, "doc_id long, len_z double")


@_register(
    "grouped_agg_geomean",
    """
SELECT o_orderstatus,
       ROUND(exp(AVG(ln(o_totalprice))), 4) AS geo_mean_price
FROM orders GROUP BY o_orderstatus
""",
)
def grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF: geometric mean (no Spark built-in).
    Arrow-batched per group; log-space for numeric stability. The UDAF lives
    in operators.udafs (a no-postponed-annotations module) so the GROUPED_AGG
    type is hint-inferred — no deprecated PandasUDFType enum."""
    from wikidataquality_spark.operators.udafs import geomean

    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(geomean("o_totalprice"), 4).alias("geo_mean_price")
    )


def _pack_oracle() -> str:
    from wikidataquality_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql(seq_len=2048, shard_docs=200)


@_register("pack_sequences", None)  # oracle attached below (built SQL)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pretraining data prep): deterministic doc → fixed
    2048-token training-block assignment via a bounded per-(source, shard)
    prefix-sum — never a global-ORDER-BY window, which would serialize the
    corpus through one reducer (operators/packing.py). All-integer output,
    exact-hash oracle. shard_docs=200 keeps multiple shards live at sf0.01
    so the gate exercises the shard boundary, not just one stream. The
    retired `mapinarrow_char_count` demo's mapInArrow surface stays covered
    by tests/test_textstats.py::test_mapinarrow_matches_codegen."""
    from wikidataquality_spark.operators.packing import pack_sequences as _pack

    return _pack(_t(spark, sf_dir, "documents"), seq_len=2048, shard_docs=200)


ORACLE["pack_sequences"] = _pack_oracle()


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary media columns; deterministic fake decode).
# ---------------------------------------------------------------------------


_FIXTURES = "/root/repo/tests/fixtures"


@_register(
    "multimodal_features",
    f"""
SELECT part, media_id, frame_index, n_bytes, content_hash,
       mean_luma, rms, clip_ratio, duration_ms, '' AS err
FROM read_parquet('{_FIXTURES}/multimodal_expected.parquet')
UNION ALL
SELECT * FROM (VALUES
  ('ref_image', CAST(-100 AS BIGINT), CAST(-1 AS BIGINT), CAST(781 AS BIGINT),
   '4d4144487053447b1605399fdc64f9c3d23353ef520e012770d3be55f50d4547',
   127.5, -1.0, -1.0, CAST(-1 AS BIGINT), ''),
  ('ref_audio', CAST(-101 AS BIGINT), CAST(-1 AS BIGINT), CAST(2044 AS BIGINT),
   'e2194a6bd40ad614f32a1e1a149c90a10a36a96600ff960cded387ad091eeb15',
   -1.0, 16384.0, 0.0, CAST(125 AS BIGINT), ''),
  ('ref_audio', CAST(-102 AS BIGINT), CAST(-1 AS BIGINT), CAST(1644 AS BIGINT),
   '47ff62cbbc53057691d93867c00182433e1be40c9ace1013a6a3df7973afa4e7',
   -1.0, 32767.0, 1.0, CAST(50 AS BIGINT), ''),
  -- planted corruption: decode is TOTAL — one structured error row per bad
  -- blob, never a task-killing raise (multimodal.corrupt_media docstring
  -- derives every literal)
  ('error', CAST(-200 AS BIGINT), CAST(-1 AS BIGINT), CAST(45 AS BIGINT),
   'dba8288aaab936843c932f18f54692a833641fc8effeae66fb460748c8d28c3b',
   -1.0, -1.0, -1.0, CAST(-1 AS BIGINT), 'ValueError: truncated PPM pixel data'),
  ('error', CAST(-201 AS BIGINT), CAST(-1 AS BIGINT), CAST(70 AS BIGINT),
   '85c6722be51489cb79f9e29bd240407858a3313872ffa830fe734a864abd5565',
   -1.0, -1.0, -1.0, CAST(-1 AS BIGINT), 'ValueError: not a P6 PPM blob'),
  ('error', CAST(-202 AS BIGINT), CAST(-1 AS BIGINT), CAST(16 AS BIGINT),
   'b3c509d5c6e9acbc0b3441501ad7db8ec62eff4c8b5c2a7b01875217dd8b8446',
   -1.0, -1.0, -1.0, CAST(-1 AS BIGINT), 'ValueError: not a RIFF/WAV blob'),
  ('error', CAST(-203 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
   '', -1.0, -1.0, -1.0, CAST(-1 AS BIGINT),
   'ValueError: truncated PPMV frame header at frame 1'),
  -- the frame BEFORE the truncation point demuxes fine and is rescued
  -- (bytes pinned by sha256 — computed JVM-side, no decode)
  ('frame_rescued', CAST(-203 AS BIGINT), CAST(0 AS BIGINT), CAST(59 AS BIGINT),
   'cbbd1395012fad276af0c69ad5f440419a1b00fd30a8d25aada2cd86c2702a8b',
   -1.0, -1.0, -1.0, CAST(-1 AS BIGINT), ''),
  -- robust layouts: stereo downmix (1000+3000)//2 = 2000; 8-bit rescale
  -- (192-128)*256 = 16384
  ('ref_audio', CAST(-210 AS BIGINT), CAST(-1 AS BIGINT), CAST(1644 AS BIGINT),
   '64c9d87860cb1351af79e3e3834aeaa637053f25fc0d699469be16f691403ac7',
   -1.0, 2000.0, 0.0, CAST(50 AS BIGINT), ''),
  ('ref_audio', CAST(-211 AS BIGINT), CAST(-1 AS BIGINT), CAST(364 AS BIGINT),
   '138b140349c68032660c0e6557ca3fd289678a030f255c7df0e1a7c076be514b',
   -1.0, 16384.0, 0.0, CAST(20 AS BIGINT), '')
) AS t(part, media_id, frame_index, n_bytes, content_hash,
       mean_luma, rms, clip_ratio, duration_ms, err)
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end with REAL codecs across all three
    modalities: PPM images decoded pixel-for-pixel (decode → stride resize →
    luma stats), PPMV videos demuxed frame-by-frame (1:N mapInPandas
    expansion; each sampled frame is itself a valid P6 and runs through the
    SAME image operator), and WAV audio decoded via stdlib `wave` (duration /
    RMS loudness / clipping ratio — r02 VERDICT "what's missing" #1).

    Oracle, two layers (r02 VERDICT #4): the bulk is a frozen expected-output
    fixture regenerated only deliberately by tools/make_goldens.py; the truth
    anchor is ref_media — three first-principles blobs (16×16 gradient PPM,
    ±16384 square wave, full-scale clipped tone) whose n_bytes / mean_luma /
    rms / clip_ratio / duration are HAND-DERIVED literals in the oracle SQL
    (781 B & 127.5; 2044 B & 16384.0 & 125 ms; 1644 B & 32767.0 & 50 ms), so
    a green no longer only means 'matches my own frozen output'. The anchor
    set also plants four CORRUPT blobs and two edge audio layouts
    (corrupt_media): their error rows / downmixed features are further
    hand-derived oracle literals — totality of the decoders is driver-gated,
    not just unit-tested."""
    from wikidataquality_spark.operators.multimodal import (
        audio_features,
        corrupt_media,
        image_features,
        ref_media,
        sample_frames,
        synthetic_media,
    )

    # ONE image-decode pass and ONE audio-decode pass over everything
    # (synthetic ∪ ref ∪ corrupt ∪ sampled frames), instead of a mapInPandas
    # stage per union branch: the Arrow python stages stay at three
    # (sample_frames → image_features → audio_features), each stage's fixed
    # cost (task launch, worker pickup, Arrow init) paid once. Provenance is
    # encoded in media_id — anchor blobs are negative, synthetic ids < 1000,
    # frames are id·1000+frame_index (≥ 3000, video ids start at 3) — and
    # decoded back to (part, media_id, frame_index) in plain SQL afterwards.
    # Decode is TOTAL: corrupt blobs become part='error' rows (err carries
    # the decoder's own ValueError text), and a truncated video container
    # still yields its parseable frame prefix (part='frame_rescued').
    media = synthetic_media(spark, n=64)
    ref = ref_media(spark)
    bad = corrupt_media(spark)

    # barrier(): three downstream selections (good frames → image decode,
    # error rows, rescued frames) would otherwise each re-run the demux
    # mapInPandas — union branches share no subplan in Spark, so without a
    # materialization the python demux stage executes 3×
    from wikidataquality_spark.operators.barrier import barrier

    frames_all = barrier(
        sample_frames(
            media.filter(F.col("meta.kind") == "video").unionByName(
                bad.filter(F.col("meta.kind") == "video")
            ),
            every_nth=10,
        )
    )
    frames_in = frames_all.filter(
        F.col("err").isNull() & (F.col("media_id") >= 0)
    ).selectExpr("media_id * 1000 + frame_index AS media_id", "frame_blob AS blob")
    video_err = frames_all.filter(F.col("err").isNotNull()).selectExpr(
        "'error' AS part",
        "media_id",
        "CAST(-1 AS LONG) AS frame_index",
        "CAST(-1 AS LONG) AS n_bytes",
        "'' AS content_hash",
        "CAST(-1.0 AS DOUBLE) AS mean_luma",
        "CAST(-1.0 AS DOUBLE) AS rms",
        "CAST(-1.0 AS DOUBLE) AS clip_ratio",
        "CAST(-1 AS LONG) AS duration_ms",
        "err",
    )
    # frames demuxed from a corrupt container before its truncation point:
    # bytes pinned JVM-side (length + sha2), no python decode stage needed
    rescued = frames_all.filter(
        F.col("err").isNull() & (F.col("media_id") < 0)
    ).selectExpr(
        "'frame_rescued' AS part",
        "media_id",
        "CAST(frame_index AS LONG) AS frame_index",
        "CAST(length(frame_blob) AS LONG) AS n_bytes",
        "sha2(frame_blob, 256) AS content_hash",
        "CAST(-1.0 AS DOUBLE) AS mean_luma",
        "CAST(-1.0 AS DOUBLE) AS rms",
        "CAST(-1.0 AS DOUBLE) AS clip_ratio",
        "CAST(-1 AS LONG) AS duration_ms",
        "'' AS err",
    )

    imgs_in = (
        media.filter(F.col("meta.kind") == "image")
        .select("media_id", "blob")
        .unionByName(
            ref.filter(F.col("meta.kind") == "image").select("media_id", "blob")
        )
        .unionByName(bad.filter(F.col("meta.kind") == "image").select("media_id", "blob"))
        .unionByName(frames_in)
    )
    img_rows = image_features(imgs_in).selectExpr(
        "CASE WHEN err IS NOT NULL THEN 'error'"
        " WHEN media_id < 0 THEN 'ref_image' WHEN media_id < 1000 THEN 'image'"
        " ELSE 'frame' END AS part",
        "CASE WHEN media_id >= 1000 THEN media_id DIV 1000 ELSE media_id END"
        " AS media_id",
        "CASE WHEN media_id >= 1000 THEN media_id % 1000 ELSE CAST(-1 AS LONG) END"
        " AS frame_index",
        "n_bytes",
        "content_hash",
        "coalesce(round(mean_luma, 4), CAST(-1.0 AS DOUBLE)) AS mean_luma",
        "CAST(-1.0 AS DOUBLE) AS rms",
        "CAST(-1.0 AS DOUBLE) AS clip_ratio",
        "CAST(-1 AS LONG) AS duration_ms",
        "coalesce(err, '') AS err",
    )

    auds_in = (
        media.filter(F.col("meta.kind") == "audio")
        .unionByName(ref.filter(F.col("meta.kind") == "audio"))
        .unionByName(bad.filter(F.col("meta.kind") == "audio"))
    )
    aud_rows = audio_features(auds_in).selectExpr(
        "CASE WHEN err IS NOT NULL THEN 'error'"
        " WHEN media_id < 0 THEN 'ref_audio' ELSE 'audio' END AS part",
        "media_id",
        "CAST(-1 AS LONG) AS frame_index",
        "n_bytes",
        "content_hash",
        "CAST(-1.0 AS DOUBLE) AS mean_luma",
        "coalesce(round(rms, 4), CAST(-1.0 AS DOUBLE)) AS rms",
        "coalesce(round(clip_ratio, 4), CAST(-1.0 AS DOUBLE)) AS clip_ratio",
        "coalesce(duration_ms, CAST(-1 AS LONG)) AS duration_ms",
        "coalesce(err, '') AS err",
    )
    return img_rows.unionByName(aud_rows).unionByName(video_err).unionByName(rescued)


# ---------------------------------------------------------------------------
# IVF ANN + approx aggregates.
# ---------------------------------------------------------------------------


@_register(
    "ivf_ann_topk",
    f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, e.vec_id,
         {dot_sql(a="e.embedding", b="q.q_vec")} /
         (sqrt({dot_sql(a="e.embedding", b="e.embedding")}) *
          sqrt({dot_sql(a="q.q_vec", b="q.q_vec")})) AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
SELECT q_id, vec_id, ROUND(cs, 4) AS cos_sim, rank FROM (
  SELECT q_id, vec_id, cs,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
""",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with n_probe = n_lists (exhaustive probing) — exercises the
    full cell-assign → probe → re-rank machinery while staying exactly equal
    to brute force, so the oracle is the exact k-NN SQL. Production recall
    mode (n_probe < n_lists) is covered by tests/test_simsearch.py.

    Centroids come from the train-once cache (train_centroids_cached): the
    index is built on first touch of a data version and reused by every
    later probe — retraining per query would re-scan the corpus sample each
    call. Result-invariant here (exhaustive probing equals brute force for
    ANY centroid bank), so the oracle pins correctness regardless of cache
    state."""
    from wikidataquality_spark.operators.simsearch import (
        ivf_topk,
        train_centroids_cached,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = train_centroids_cached(
        e, os.path.join(sf_dir, "embeddings.parquet"), n_lists=4
    )
    out = ivf_topk(e, q, k=5, n_lists=4, n_probe=4, centroids=cents)
    return out.select(
        "q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"), F.col("rank").cast("long").alias("rank")
    )


@_register(
    "approx_sketches",
    """
SELECT 'hll_users' AS part, event_type AS k, COUNT(*) AS n,
       CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS exact_v,
       TRUE AS within_tol
FROM events GROUP BY event_type
UNION ALL
SELECT 'p90_price' AS part, o_orderstatus AS k, COUNT(*) AS n,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS exact_v,
       TRUE AS within_tol
FROM orders GROUP BY o_orderstatus
""",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-aggregate surface (formerly `approx_distinct_users` +
    `approx_percentile_price`): HyperLogLog++ count-distinct per event_type
    and approx_percentile over order prices — the 10^12-row cardinality/
    quantile primitives (exact variants shuffle every key / sort per group).

    Oracle design (r02 VERDICT #5 — formerly the one `no_oracle` row): the
    sketch ESTIMATE bits are engine-specific, so they never leave the query.
    Instead each group emits its exact value plus `within_tol` =
    |approx − exact| / exact ≤ 5% computed Spark-side; the oracle recomputes
    the exact columns (COUNT DISTINCT / quantile_cont) and pins within_tol
    to TRUE — a drifting sketch flips the boolean and fails the value hash.
    5% tolerance = 5σ for HLL++ at rsd 0.01 and slack for approx_percentile
    at accuracy 10000 (exact at this group size)."""
    tol = 0.05
    within = lambda approx, exact: (  # noqa: E731
        (F.abs(approx - exact) / exact) <= tol
    ).alias("within_tol")

    e = _t(spark, sf_dir, "events")
    hll = F.approx_count_distinct("user_id", 0.01).cast("double")
    exact_u = F.count_distinct("user_id").cast("double")
    approx_users = e.groupBy("event_type").agg(
        F.count("*").alias("n"), exact_u.alias("exact_v"), within(hll, exact_u)
    ).select(F.lit("hll_users").alias("part"), F.col("event_type").alias("k"), "n", "exact_v", "within_tol")

    o = _t(spark, sf_dir, "orders")
    apx_p = F.approx_percentile("o_totalprice", F.lit(0.9), 10000)
    exact_p = F.percentile("o_totalprice", F.lit(0.9))
    approx_p = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(exact_p, 2).alias("exact_v"),
        within(apx_p, exact_p),
    ).select(F.lit("p90_price").alias("part"), F.col("o_orderstatus").alias("k"), "n", "exact_v", "within_tol")
    return approx_users.unionByName(approx_p)


# ---------------------------------------------------------------------------
# CSV / JSON source round-trips (maintenance-import parity, SURVEY §2A″).
# ---------------------------------------------------------------------------


@_register(
    "fileformat_roundtrip_agg",
    """
SELECT 'csv_orders' AS fmt, o_orderstatus AS k, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 2
UNION ALL
SELECT 'json_events' AS fmt, event_type AS k, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events GROUP BY 2
""",
)
def fileformat_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines scan paths in one query (formerly
    `csv_source_orders_agg` + `json_source_events_agg`): each table is
    exported once (idempotent), read back with an EXPLICIT schema (no
    inference pass — an extra full scan at 100 TB), aggregated, and tagged.
    The oracle runs on the canonical parquet — equality proves a lossless
    round-trip through both text formats."""
    import hashlib

    from pyspark.sql.types import StructType

    from wikidataquality_spark.io.formats import export_once, read_csv, read_json
    from wikidataquality_spark.io.locking import user_cache_root

    # per-uid 0o700 root (not bare /tmp): the export dirs feed the driver's
    # correctness gate, so they get the same anti-squat discipline as the
    # media/centroid caches (r04 review)
    root = user_cache_root("wdq_fixture_exports")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    csv_path = export_once(o, os.path.join(root, f"csv_orders_{key}"), "csv")
    o_back = read_csv(
        spark,
        csv_path,
        StructType.fromDDL(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"
        ),
    )
    csv_agg = o_back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    ).select(
        F.lit("csv_orders").alias("fmt"),
        F.col("o_orderstatus").alias("k"),
        "n",
        "total",
    )

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    json_path = export_once(e, os.path.join(root, f"json_events_{key}"), "json")
    e_back = read_json(
        spark, json_path, StructType.fromDDL("event_id bigint, event_type string, value double")
    )
    json_agg = e_back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    ).select(
        F.lit("json_events").alias("fmt"), F.col("event_type").alias("k"), "n", "total"
    )
    return csv_agg.unionByName(json_agg)


# ---------------------------------------------------------------------------
# Additional relational surface: full join, range frames, sliding windows,
# unionByName.
# ---------------------------------------------------------------------------


@_register(
    "full_join_customer_orders",
    """
WITH c AS (SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS ck,
                  c_custkey, c_mktsegment FROM customer),
     o AS (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL ELSE o_custkey END AS ok,
                  o_orderkey FROM orders)
SELECT COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE c.c_custkey IS NOT NULL AND o.o_orderkey IS NOT NULL) AS n_both,
       COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_left_only,
       COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS n_right_only,
       COUNT(*) FILTER (WHERE c.ck IS NULL AND o.ok IS NULL
                        AND c.c_custkey IS NOT NULL AND o.o_orderkey IS NOT NULL) AS n_null_matched
FROM c FULL JOIN o ON c.ck IS NOT DISTINCT FROM o.ok
""",
)
def full_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join under NULL-SAFE equality (<=>): customers with no
    orders AND orphan orders survive, and NULL keys match each other
    (formerly two queries: `full_join_customer_orders` +
    `null_safe_user_join`). Keys are deterministically nulled (custkey %
    50 = 0) so every branch of the join semantics carries rows."""
    c = _t(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 50 == 0, F.lit(None))
        .otherwise(F.col("c_custkey"))
        .alias("ck"),
        "c_custkey",
        "c_mktsegment",
    )
    o = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 50 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("ok"),
        "o_orderkey",
    )
    j = c.join(o, c.ck.eqNullSafe(o.ok), "full")
    both = F.col("c_custkey").isNotNull() & F.col("o_orderkey").isNotNull()
    return j.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(both, 1)).alias("n_both"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_left_only"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_right_only"),
        F.count(
            F.when(F.col("ck").isNull() & F.col("ok").isNull() & both, 1)
        ).alias("n_null_matched"),
    )


# (window_range_frame merged into window_running_customer_spend.)


# (events_sliding_windows merged into events_windows.)


# (events_props_map merged into json_map_events.)


# (null_safe_user_join merged into full_join_customer_orders.)


# (posexplode_embedding merged into array_ops_embedding.)


@_register(
    "langid_ngram_docs",
    """
SELECT 'pred' AS part, CAST(d.doc_id AS VARCHAR) AS k, f.lang_pred AS v, f.lang_conf AS x
FROM documents d
JOIN read_parquet('/root/repo/tests/fixtures/langid_sf001.parquet') f
  ON d.doc_id = f.doc_id
UNION ALL
SELECT 'acc' AS part, true_lang AS k, 'ok' AS v, CAST(COUNT(*) AS DOUBLE) AS x
FROM read_parquet('/root/repo/tests/fixtures/langid_truth.parquet')
GROUP BY true_lang
""",
)
def langid_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style char-trigram language ID over documents (frozen
    supervised model, operators/langid_ngram.py; 'und' = junk class).

    Two oracle-checked parts (r02 VERDICT #4 — green used to mean only
    'matches my own frozen output'):
      - 'pred': per-doc predictions over the live `documents` view vs the
        committed expected-prediction fixture (stability — any model or
        featurization drift flips the gate; a wrong SF fails loudly);
      - 'acc': the classifier runs LIVE on a committed planted-truth corpus
        (datagen pages, defect-free rows, labels recorded at generation —
        independent of the model) and emits per-language accuracy ≥ 0.95 as
        'ok'/'fail'; the oracle recomputes the group sizes from the truth
        fixture and pins v='ok' — so the green now asserts the classifier is
        RIGHT (measured 1.00/lang), not merely stable."""
    from wikidataquality_spark.operators.langid_ngram import ngram_langid

    df = _t(spark, sf_dir, "documents")
    res = ngram_langid("text")
    pred = df.select(
        F.lit("pred").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        res["lang_pred"].alias("v"),
        F.round(res["lang_conf"], 4).alias("x"),
    )
    truth = spark.read.parquet("/root/repo/tests/fixtures/langid_truth.parquet")
    tres = ngram_langid("text")
    acc = (
        truth.select("true_lang", tres["lang_pred"].alias("lang_pred"))
        .groupBy("true_lang")
        .agg(
            F.count("*").alias("n"),
            (
                F.count(F.when(F.col("lang_pred") == F.col("true_lang"), True))
                / F.count("*")
                >= 0.95
            ).alias("acc_ok"),
        )
        .select(
            F.lit("acc").alias("part"),
            F.col("true_lang").alias("k"),
            F.when(F.col("acc_ok"), "ok").otherwise("fail").alias("v"),
            F.col("n").cast("double").alias("x"),
        )
    )
    return pred.unionByName(acc)


# (approx_percentile_price merged into approx_sketches.)


# (union_by_name_sources merged into setop_segments / grouping_sets_summary —
# unionByName across differently-ordered projections is exercised there.)


# ---------------------------------------------------------------------------
# r04: corpus-cleaning operator family (boilerplate removal, benchmark
# decontamination, URL recrawl dedup, stratified mixture sampling) — the
# four training-data-pipeline operators landed this round, driver-visible.
# The documents table is single-line word-soup, so the boilerplate query
# synthesizes a deterministic multi-line corpus IN the query, identically on
# both engines (injected cookie-banner + per-(id%5) footer lines) — the
# operator then has real template boilerplate to find.
# ---------------------------------------------------------------------------

from wikidataquality_spark.operators.boilerplate import (  # noqa: E402
    remove_boilerplate_lines,
    remove_boilerplate_lines_sql,
)
from wikidataquality_spark.operators.decontaminate import (  # noqa: E402
    contamination_marks,
    contamination_marks_sql,
)
from wikidataquality_spark.operators.dedup import (  # noqa: E402
    canonical_url_sql,
    url_dup_marks,
)
from wikidataquality_spark.operators.heuristics import dup_line_char_ratio  # noqa: E402
from wikidataquality_spark.operators.sampling import (  # noqa: E402
    sample_unit_md5_sql,
    stratified_sample_marks,
)
from wikidataquality_spark.operators.textstats import (  # noqa: E402
    top_ngram_char_fraction,
    top_ngram_char_fraction_sql,
)

_BP_COOKIE = "Accept all cookies to continue browsing"


def _bp_synth_col() -> F.Column:
    """Deterministic multi-line web-page twin of each document: a cookie
    banner on even ids (250 docs → corpus-frequent), a unique intro line on
    odd ids (kept), the original text (all distinct at sf0.01 → kept), a
    footer shared by every id%5 class (~100 docs each → corpus-frequent),
    and a SECOND copy of that footer on id%7 docs so the within-doc
    duplicate-line ratio has real signal too."""
    did = F.col("doc_id")
    footer = F.concat(F.lit("footer: site section "), (did % 5).cast("string"))
    return F.concat_ws(
        "\n",
        F.when(did % 2 == 0, F.lit(_BP_COOKIE)).otherwise(
            F.concat(F.lit("unique intro line "), did.cast("string"))
        ),
        F.col("text"),
        footer,
        F.when(did % 7 == 0, footer),
    )


_BP_SYNTH_SQL = (
    "SELECT doc_id, concat_ws(chr(10),\n"
    "  CASE WHEN doc_id % 2 = 0 THEN '" + _BP_COOKIE + "'\n"
    "       ELSE 'unique intro line ' || CAST(doc_id AS VARCHAR) END,\n"
    "  text,\n"
    "  'footer: site section ' || CAST(doc_id % 5 AS VARCHAR),\n"
    "  CASE WHEN doc_id % 7 = 0\n"
    "       THEN 'footer: site section ' || CAST(doc_id % 5 AS VARCHAR) END\n"
    ") AS text FROM documents"
)

# the operator twins run over a `documents(doc_id, text)` view; point them at
# the synthesized corpus instead (the identifier appears nowhere else in
# either twin, so a plain substitution is exact)
_BP_ORACLE = (
    "WITH d2 AS (" + _BP_SYNTH_SQL + "),\n"
    "bp AS (" + remove_boilerplate_lines_sql().replace("documents", "d2") + "),\n"
    "dl AS (SELECT doc_id,\n"
    "              (total - dist) / nullif(CAST(total AS DOUBLE), 0) AS dup_line_char_ratio\n"
    "       FROM (SELECT doc_id,\n"
    "               list_aggregate(list_transform(string_split(text, chr(10)), x -> length(x)), 'sum') AS total,\n"
    "               list_aggregate(list_transform(list_distinct(string_split(text, chr(10))), x -> length(x)), 'sum') AS dist\n"
    "             FROM d2)),\n"
    "tg AS (" + top_ngram_char_fraction_sql(2).replace("documents", "d2") + ")\n"
    "SELECT b.doc_id, b.text_cleaned, b.n_lines_removed, b.n_lines_total,\n"
    "       ROUND(dl.dup_line_char_ratio, 6) AS dup_line_char_ratio,\n"
    "       ROUND(tg.top_ngram_char_fraction, 6) AS top_ngram_char_fraction\n"
    "FROM bp b JOIN dl USING (doc_id) JOIN tg ON tg.doc_id = b.doc_id"
)


@_register("boilerplate_repetition_docs", _BP_ORACLE)
def boilerplate_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate line removal (operators/boilerplate.py —
    C4/RefinedWeb line dedup, ref≈UniqueValueChecker one level below the
    document) plus the two Gopher repetition statistics (dup_line_char_ratio,
    top_ngram_char_fraction — Rae et al. 2021 table A1) over the same
    synthesized multi-line corpus. Text reassembly is byte-exact for every
    non-boilerplate line; every aggregation is hash-keyed (no line string is
    shuffled for counting) and map-side combined."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", _bp_synth_col().alias("text"))
    bp = remove_boilerplate_lines(docs)
    dl = docs.select(
        "doc_id",
        F.round(dup_line_char_ratio(F.col("text")), 6).alias("dup_line_char_ratio"),
    )
    tg = top_ngram_char_fraction(docs, n=2).select(
        "doc_id", F.round("top_ngram_char_fraction", 6).alias("top_ngram_char_fraction")
    )
    return bp.join(dl, "doc_id").join(tg, "doc_id")


@_register(
    "decontaminate_benchmark_overlap",
    contamination_marks_sql(13).replace(
        "FROM benchmark", "FROM (SELECT text FROM documents WHERE doc_id < 8)"
    ),
)
def decontaminate_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination (operators/decontaminate.py):
    normalized word-13-gram overlap against a benchmark corpus — here a
    deterministic slice of the documents table itself (doc_id < 8), so both
    engines build the identical benchmark. Benchmark grams broadcast; only
    HITS survive into the per-doc count; docs shorter than 13 words are
    clean by definition (exercised — 14 such docs at sf0.01)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 8).select("text")
    return contamination_marks(docs, bench, n=13)


_URL_SYNTH_SQL = (
    "SELECT doc_id,\n"
    "  CASE WHEN doc_id = 499 THEN NULL\n"
    "       WHEN doc_id % 4 = 0 THEN 'https://WWW.Ex' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.com/path/' || CAST(doc_id % 25 AS VARCHAR) || '/?b=2&a=1#frag'\n"
    "       WHEN doc_id % 4 = 1 THEN 'https://ex' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.com:443/path/' || CAST(doc_id % 25 AS VARCHAR) || '?a=1&b=2&utm_source=feed'\n"
    "       WHEN doc_id % 4 = 2 THEN 'https://www.www.EX' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.COM/path/' || CAST(doc_id % 25 AS VARCHAR) || '//?utm_campaign=x&b=2&a=1'\n"
    "       ELSE 'https://ex' || CAST(doc_id % 3 AS VARCHAR)"
    " || '.com/path/' || CAST(doc_id % 25 AS VARCHAR) || '?a=1&b=2' END AS url,\n"
    "  1735689600 + doc_id * 60 AS ts_i\n"
    "FROM documents"
)

_URL_ORACLE = (
    "WITH d AS (" + _URL_SYNTH_SQL + "),\n"
    "c AS (SELECT doc_id, url, ts_i, " + canonical_url_sql("url") + " AS url_canonical\n"
    "      FROM d WHERE url IS NOT NULL)\n"
    "SELECT doc_id, url_canonical,\n"
    "       row_number() OVER (PARTITION BY url_canonical ORDER BY ts_i, url) > 1 AS url_dup\n"
    "FROM c\n"
    "UNION ALL\n"
    "SELECT doc_id, CAST(NULL AS VARCHAR) AS url_canonical, FALSE AS url_dup\n"
    "FROM d WHERE url IS NULL"
)


@_register("url_recrawl_dedup", _URL_ORACLE)
def url_recrawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + recrawl dedup (operators/dedup.py canonical_url
    / url_dup_marks — the CCNet/RefinedWeb pre-dedup step). URLs are
    synthesized deterministically on both engines as four variants per
    (id%3 host, id%25 path) group — WWW-case + fragment, :443 default port +
    tracking param, doubled www + trailing slashes, and the already-canonical
    form — so every canonicalization rule is load-bearing: the four variants
    must collapse to ONE canonical string or the group structure (and the
    earliest-crawl survivor) diverges from the oracle. doc_id 499 carries a
    NULL url to pin the exempt path."""
    did = F.col("doc_id")
    g = (did % 3).cast("string")
    p = (did % 25).cast("string")
    v = did % 4
    url = (
        F.when(did == 499, F.lit(None).cast("string"))
        .when(v == 0, F.concat(F.lit("https://WWW.Ex"), g, F.lit(".com/path/"), p, F.lit("/?b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("https://ex"), g, F.lit(".com:443/path/"), p, F.lit("?a=1&b=2&utm_source=feed")))
        .when(v == 2, F.concat(F.lit("https://www.www.EX"), g, F.lit(".COM/path/"), p, F.lit("//?utm_campaign=x&b=2&a=1")))
        .otherwise(F.concat(F.lit("https://ex"), g, F.lit(".com/path/"), p, F.lit("?a=1&b=2")))
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        url.alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + did * 60).alias("warc_ts"),
    )
    return url_dup_marks(d).select("doc_id", "url_canonical", "url_dup")


_MIX_RATES_HI = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
_MIX_DEFAULT_HI = 0.1
_MIX_RATES_LO = {k: v / 2 for k, v in _MIX_RATES_HI.items()}
_MIX_DEFAULT_LO = _MIX_DEFAULT_HI / 2
_MIX_SEED = 7

_MIX_RATE_HI_SQL = (
    "CASE source WHEN 'src0' THEN 1.0::DOUBLE WHEN 'src1' THEN 0.5::DOUBLE "
    "WHEN 'src2' THEN 0.25::DOUBLE WHEN 'src3' THEN 0.0::DOUBLE "
    "ELSE 0.1::DOUBLE END"
)
_MIX_RATE_LO_SQL = "(" + _MIX_RATE_HI_SQL + ") / 2"

_MIX_ORACLE = (
    "WITH u AS (SELECT doc_id, source, "
    + sample_unit_md5_sql("doc_id", seed=_MIX_SEED)
    + " AS u FROM documents)\n"
    "SELECT source, COUNT(*) AS n_docs,\n"
    "       COUNT(*) FILTER (WHERE u < " + _MIX_RATE_HI_SQL + ") AS n_hi,\n"
    "       COUNT(*) FILTER (WHERE u < " + _MIX_RATE_LO_SQL + ") AS n_lo,\n"
    "       COUNT(*) FILTER (WHERE u < " + _MIX_RATE_LO_SQL
    + " AND NOT (u < " + _MIX_RATE_HI_SQL + ")) AS nested_violations\n"
    "FROM u GROUP BY source"
)


@_register("stratified_sample_mix", _MIX_ORACLE)
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixture sampling (operators/sampling.py) with
    the md5 draw, so the oracle REPLAYS the exact per-document decision
    off-cluster (('0x'||substr(md5(seed:id),1,8))::UBIGINT / 2³² — bit-equal
    doubles on both engines). Two mixtures at the same seed, the low one at
    half the high one's rates: per-source sampled counts match exactly, and
    the nested-sample property (low ⊆ high — halving a double is an exact
    exponent shift, so r_lo ≤ r_hi per stratum) is counted, not assumed:
    nested_violations is computed independently by both engines and is 0."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # both mixtures in ONE scan-and-aggregate pass — the second marks() call
    # recomputes the identical u (same seed) and only the threshold differs,
    # so no self-join is needed; at corpus scale this is one narrow agg
    hi = stratified_sample_marks(
        docs, _MIX_RATES_HI, default_rate=_MIX_DEFAULT_HI, seed=_MIX_SEED, draw="md5"
    ).withColumnRenamed("sampled", "s_hi")
    both = stratified_sample_marks(
        hi, _MIX_RATES_LO, default_rate=_MIX_DEFAULT_LO, seed=_MIX_SEED, draw="md5"
    ).withColumnRenamed("sampled", "s_lo")
    return (
        both.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("s_hi"), 1)).alias("n_hi"),
            F.count(F.when(F.col("s_lo"), 1)).alias("n_lo"),
            F.count(F.when(F.col("s_lo") & ~F.col("s_hi"), 1)).alias("nested_violations"),
        )
    )
