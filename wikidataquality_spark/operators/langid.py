"""Language identification stage (SURVEY.md §2B "LangID").

Parity: recasts the TypeChecker "classifier membership" family
(ref≈includes/ConstraintCheck/Checker/TypeChecker.php:~30-130): instead of a
P31/P279 class-hierarchy walk, membership is a model's label. The OneOf rule
(ref≈Checker/OneOfChecker.php) then checks lang_pred ∈ allowed.

Implementation: the model runs inside the fused enrich pandas UDF
(operators/enrich.py), constructed ONCE per Python worker (outside the batch
loop), then applied to every Arrow batch (the fastText idiom from SURVEY.md
§2A#8). The model here is a deterministic, dependency-free stand-in:
per-language function-word hit rates + a CJK character-ratio channel. A real
fastText .bin drops into _load_model() with the same interface.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from wikidataquality_spark.datagen import WORDLISTS

# derived from tokenize's single CJK range so the zh override and the
# space-injection tokenizer can never drift apart (r04 review)
from wikidataquality_spark.operators.tokenize import CJK_RE as _CJK_RANGE

_CJK_RE = re.compile(_CJK_RANGE)

MODEL_VERSION = "1"

class _MarkerModel:
    """Deterministic stand-in for a fastText langid model.

    Scoring is one vocabulary-index lookup over the exploded token frame
    (pd.Index.get_indexer, C-speed) + a (vocab × langs) membership table —
    no per-token Python."""

    def __init__(self) -> None:
        self.markers = {
            lang: set(words) for lang, words in WORDLISTS.items() if lang != "zh"
        }
        self.langs = sorted(self.markers)
        vocab = sorted(set().union(*self.markers.values()))
        self.vocab_ix = pd.Index(vocab)
        self.membership = np.zeros((len(vocab) + 1, len(self.langs)))
        for j, lang in enumerate(self.langs):
            for w in self.markers[lang]:
                self.membership[self.vocab_ix.get_loc(w), j] = 1.0
        # last row = OOV sentinel (all zeros)

    def predict(self, texts: pd.Series, tok=None) -> pd.DataFrame:
        from wikidataquality_spark.operators.tokenize import tokenize

        # CJK channel: fraction of CJK chars decides 'zh' outright.
        filled = texts.fillna("")
        cjk_ratio = filled.str.count(_CJK_RE) / filled.str.len().clip(lower=1)

        tok = tok or tokenize(texts)
        idx = self.vocab_ix.get_indexer(tok.exploded.to_numpy())
        idx[idx < 0] = len(self.vocab_ix)  # OOV → zero row
        hits = pd.DataFrame(
            self.membership[idx], index=tok.exploded.index, columns=self.langs
        )
        scores = hits.groupby(level=0).sum().reindex(texts.index, fill_value=0.0)
        scores = scores.div(tok.n_tokens, axis=0)

        best = scores.idxmax(axis=1)
        total = scores.sum(axis=1)
        conf = np.where(total > 0, scores.max(axis=1) / total.where(total > 0, 1), 0.0)

        pred = best.where(cjk_ratio <= 0.3, "zh")
        conf = pd.Series(conf, index=texts.index).where(cjk_ratio <= 0.3, 0.99)
        pred = pred.where(~texts.isna(), None)
        # NULL text → NULL conf, matching the fused stage (enrich.py): a
        # 0.0 here would turn the range.lang_conf rule into a VIOLATION for
        # missing text where the pipeline's own surface says 'exception'
        conf = conf.where(~texts.isna(), np.nan)
        return pd.DataFrame({"lang_pred": pred, "lang_conf": conf.astype(float)})


def _load_model() -> _MarkerModel:
    return _MarkerModel()
