"""Fused model+stats stage: extract, langid, perplexity, MinHash, and the
per-doc heuristic statistics validate()'s rules read, in ONE pandas UDF pass.

Why fused (measured on local[32], 100k docs):
  - each extra ArrowEvalPython node = its own Python-worker pool + a JVM↔Py
    Arrow round-trip of the text column (3 chained nodes: 19.7s vs ~2s fused);
  - Spark's higher-order array functions (aggregate/transform/filter) are
    CodegenFallback — interpreted, with split() re-evaluated per stat — so the
    'cheap SQL heuristics' cost more than the models at batch scale. Here the
    token frame is exploded once and every stat is a C-speed bincount/str op.

The standalone Column-expression operators (operators/heuristics.py) remain
the relational/query surface (they are what the DuckDB oracle checks, and the
right choice when stats feed further Catalyst logic); the pipeline hot path
uses this fused stage. The fused stage emits only the stats PIPELINE_RULES
reads (n_chars, mean_word_len, symbol_ratio, distinct_line_ratio, and the
blockword/email flags); the Column surface's other five (n_words,
stopword_ratio, distinct_word_ratio, dup_line_char_ratio, alpha_ratio) have
no fused twin. The two surfaces INTENTIONALLY tokenize differently and their
stats diverge on real text — each is internally consistent with its own
oracle (DuckDB resp. golden fixtures + planted-defect tests), and neither is
a drop-in replica of the other:
  - mean_word_len: fused runs over tokenize()'s NORMALIZED tokens — CJK
    split to char unigrams (a zh line gets mean_word_len≈1 instead of one
    giant 'word'), Python unicode whitespace (NBSP splits); the Column
    surface splits raw text on Java ASCII \\s+ — the shape a SQL user
    writes and DuckDB can mirror exactly;
  - symbol_ratio: fused strips Python [^\\w\\s] (underscore is a word char),
    Column strips Java [\\p{L}\\p{N}\\s] (underscore counts as a symbol);
  - empty/whitespace-only text: Column split(trim(''), '\\s+') yields ['']
    (mean_word_len 0.0) while tokenize() yields zero tokens (NULL
    mean_word_len); both surfaces drop such docs via doc-length.

Parity: this one operator implements SURVEY §2B stages Extract/LangID/
Perplexity/Heuristics with the once-per-worker model lifecycle of
ref≈TypeChecker's classifier recast (SURVEY §2A#8).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wikidataquality_spark.operators.extract import extract_text_series
from wikidataquality_spark.operators.langid import _CJK_RE, _load_model
from wikidataquality_spark.operators.perplexity import _load_models
from wikidataquality_spark.operators.scrub import PII_PATTERNS, TOXICITY_PATTERNS
from wikidataquality_spark.operators.tokenize import tokenize

ENRICH_TYPE = T.StructType(
    [
        T.StructField("text_extracted", T.StringType(), True),
        T.StructField("lang_pred", T.StringType(), True),
        T.StructField("lang_conf", T.DoubleType(), True),
        T.StructField("perplexity", T.DoubleType(), True),
        T.StructField("n_chars_stat", T.LongType(), True),
        T.StructField("mean_word_len_stat", T.DoubleType(), True),
        T.StructField("symbol_ratio_stat", T.DoubleType(), True),
        T.StructField("distinct_line_ratio_stat", T.DoubleType(), True),
        T.StructField("has_blockword", T.BooleanType(), True),
        T.StructField("has_pii_email", T.BooleanType(), True),
        # MinHash signature computed in the SAME python pass: the dedup stage
        # then projects it straight out of the cached frame instead of paying
        # a second Arrow round-trip of every document body (measured: the
        # standalone minhash stage was the worst-scaling stage of the whole
        # DAG — concurrent with the enrich stage it oversubscribed the python
        # workers 2×, and its per-task python time inflated up to 8× at
        # local[32]).
        T.StructField("minhash_sig", T.ArrayType(T.LongType()), True),
    ]
)

_SYMBOL_RE = re.compile(r"[^\w\s]", re.UNICODE)  # non-letter/digit/underscore/ws
# non-capturing group: identical matches, and pandas str.contains stays quiet
# compiled from the ONE frozen pattern source (operators/scrub.py) so the
# has_blockword/has_pii_email rule flags can never drift from what
# scrub_column actually redacts (r04 review: three unsynchronized copies).
# These specific patterns are valid in both Java (regexp_replace) and
# Python (re) dialects — keep them that way when editing scrub.py.
# name-keyed, not positional: pattern ORDER in scrub.py is frozen only for
# replacement sequencing — an inserted/reordered entry would silently rebind
# a positional [0] to the wrong regex (r04 review)
_BLOCKWORD_RE = re.compile(dict((n, p) for n, p, _ in TOXICITY_PATTERNS)["blockwords"])
_PII_EMAIL_RE = re.compile(dict((n, p) for n, p, _ in PII_PATTERNS)["email"])


class _FusedScorer:
    """One vocab index + lookup tables = langid and perplexity from a single
    get_indexer pass over the exploded token frame, plus the per-doc stats
    PIPELINE_RULES reads."""

    def __init__(self) -> None:
        self.lid = _load_model()
        self.lm = _load_models()
        vocab = sorted(set(self.lid.vocab_ix) | set(self.lm.vocab_ix))
        self.ix = pd.Index(vocab)
        n = len(vocab)
        self.langs = self.lid.langs
        self.membership = np.zeros((n + 1, len(self.langs)))
        # joint row -> LM token id (LM's V = <unk>, also the OOV sentinel row)
        self.lm_id = np.full(n + 1, self.lm.V, dtype=np.int64)
        lid_pos = self.lid.vocab_ix.get_indexer(vocab)
        lm_pos = self.lm.vocab_ix.get_indexer(vocab)
        for i in range(n):
            if lid_pos[i] >= 0:
                self.membership[i] = self.lid.membership[lid_pos[i]]
            if lm_pos[i] >= 0:
                self.lm_id[i] = lm_pos[i]

    def score(self, texts: pd.Series) -> pd.DataFrame:
        n_rows = len(texts)
        filled = texts.fillna("")
        isna = texts.isna().to_numpy()
        notna = ~isna  # one precomputed mask for every NULL gather

        tok = tokenize(texts)
        codes = tok.codes
        # one factorize over the exploded frame; every per-token lookup
        # (vocab index, word length) then runs over the DISTINCT tokens only
        # and gathers back — Zipf'd text makes the distinct set 5-20×
        # smaller than the token stream
        tcodes, uniques = pd.factorize(tok.exploded, sort=False)
        idx_u = self.ix.get_indexer(uniques)
        idx_u[idx_u < 0] = len(self.ix)  # OOV sentinel row
        idx = idx_u[tcodes] if len(tcodes) else np.empty(0, dtype=np.int64)

        counts = np.bincount(codes, minlength=n_rows).astype(np.int64)
        safe_counts = np.maximum(counts, 1)
        empty = counts == 0

        # perplexity: sequence-aware interpolated-bigram log-probs (the SAME
        # _BigramLM.logprobs the standalone perplexity stage uses), mean per doc
        ids_lm = self.lm_id[idx]
        tok_lp = self.lm.logprobs(ids_lm, codes)
        lp_sum = np.bincount(codes, weights=tok_lp, minlength=n_rows)
        mean_lp = np.where(empty, self.lm.unk_logp, lp_sum / safe_counts)
        ppl = np.exp(-mean_lp)

        # language ID: marker-hit rate per lang; CJK ratio override
        scores = np.empty((n_rows, len(self.langs)))
        for j in range(len(self.langs)):
            hits = np.bincount(codes, weights=self.membership[idx, j], minlength=n_rows)
            scores[:, j] = hits / safe_counts
        best_j = scores.argmax(axis=1)
        total = scores.sum(axis=1)
        conf = np.where(total > 0, scores.max(axis=1) / np.where(total > 0, total, 1), 0.0)
        pred = pd.Series(np.array(self.langs, dtype=object)[best_j], index=texts.index)
        cjk_ratio = (filled.str.count(_CJK_RE) / filled.str.len().clip(lower=1)).to_numpy()
        pred = pred.where(cjk_ratio <= 0.3, "zh").where(notna, None)
        conf = np.where(cjk_ratio > 0.3, 0.99, conf)

        # heuristics — all bincounts / vectorized str ops over the same frame
        uniq_lens = np.fromiter((len(w) for w in uniques), dtype=np.int64, count=len(uniques))
        word_lens = uniq_lens[tcodes] if len(tcodes) else np.empty(0, dtype=np.int64)
        mwl = np.where(empty, np.nan, np.bincount(codes, weights=word_lens, minlength=n_rows) / safe_counts)

        n_chars = filled.str.len().to_numpy().astype(np.int64)
        sym = filled.str.count(_SYMBOL_RE).to_numpy()
        symbol_ratio = np.where(n_chars == 0, np.nan, sym / np.maximum(n_chars, 1))

        # distinct-line ratio: explode lines once
        lines = filled.str.split("\n")
        line_lens = lines.str.len().to_numpy()
        line_codes = np.repeat(np.arange(n_rows), line_lens)
        line_vals = lines.explode()
        line_vals = line_vals[line_vals.notna()]
        lcodes_tok, _ = pd.factorize(line_vals, sort=False)
        lpair = line_codes.astype(np.int64) * (lcodes_tok.max() + 2 if len(lcodes_tok) else 1) + lcodes_tok
        uniq_lines = np.bincount(
            line_codes[np.unique(lpair, return_index=True)[1]], minlength=n_rows
        )
        dlr = np.where(line_lens == 0, np.nan, uniq_lines / np.maximum(line_lens, 1))

        has_block = filled.str.contains(_BLOCKWORD_RE).to_numpy()
        has_pii = filled.str.contains(_PII_EMAIL_RE).to_numpy()

        def _nullable(arr):
            return pd.Series(arr, index=texts.index).where(notna, np.nan)

        return pd.DataFrame(
            {
                "lang_pred": pred,
                "lang_conf": _nullable(conf),
                "perplexity": _nullable(ppl),
                "n_chars_stat": pd.Series(n_chars, index=texts.index).where(notna, pd.NA).astype("Int64"),
                "mean_word_len_stat": _nullable(mwl),
                "symbol_ratio_stat": _nullable(symbol_ratio),
                "distinct_line_ratio_stat": _nullable(dlr),
                "has_blockword": pd.Series(has_block, index=texts.index).where(notna, pd.NA).astype("boolean"),
                "has_pii_email": pd.Series(has_pii, index=texts.index).where(notna, pd.NA).astype("boolean"),
            }
        )


def _make_enrich_udf(normalize: bool):
    @F.pandas_udf(ENRICH_TYPE)
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from wikidataquality_spark.operators.dedup import (
            minhash_params,
            minhash_sig_series,
        )

        if normalize:
            from wikidataquality_spark.operators.normalize import normalize_series

        scorer = _FusedScorer()  # once per task, reused across batches
        mh_a, mh_b = minhash_params()
        mh_vocab: dict[str, int] = {}
        for html in batches:
            text = extract_text_series(html)
            if normalize:
                # BEFORE any stat/model/hash: mojibake/NFC/zero-width faults
                # must not reach fingerprints or language ID. Fused here so
                # the opt-in costs zero extra Arrow stages.
                text = normalize_series(text)
            scored = scorer.score(text)
            scored.insert(0, "text_extracted", text)
            scored["minhash_sig"] = minhash_sig_series(text, mh_a, mh_b, mh_vocab)
            yield scored

    return _udf


enrich_udf = _make_enrich_udf(normalize=False)
_enrich_norm_udf = None  # built on first use; a second module-level pandas
# UDF would register with Spark even for the many sessions that never opt in


def enriched(html_col: str | Column = "html", normalize: bool = False) -> Column:
    """The fused enrich struct. `normalize=True` (OPT-IN — the default is
    frozen by the golden byte-identity contract) runs the ftfy-class
    pre-clean (operators/normalize.py) on the extracted text inside the same
    Arrow stage; `text_extracted` and everything derived from it (stats,
    langid, perplexity, minhash, downstream scrub/dedup) then see the
    normalized bytes."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    if not normalize:
        return enrich_udf(col)
    global _enrich_norm_udf
    if _enrich_norm_udf is None:
        _enrich_norm_udf = _make_enrich_udf(normalize=True)
    return _enrich_norm_udf(col)
