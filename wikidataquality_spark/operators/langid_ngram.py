"""fastText-style char-n-gram language ID (the n-gram heuristic family).

Supervised multinomial scorer over hashed character trigrams — fastText's
langid feature family — trained offline by tools/train_langid.py and frozen
to models/langid_ngram_v1.npz (239KB, ships in the --py-files zip). Includes
an explicit 'und' class trained on gibberish/symbol-spam pages, so junk text
gets a rejectable label instead of a confident wrong language.

Iterator pandas UDF, model loaded once per worker; scoring per doc is three
vectorized ops (codepoint array → hash mix → logp gather-sum).

This operator complements operators/langid.py (the marker-word model wired
into the pipeline's frozen golden semantics): same UDF interface, swappable
via the pipeline config. Parity: TypeChecker classifier-membership recast
(SURVEY §2A#8).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODEL_VERSION = "1"
_MODEL_NAME = f"langid_ngram_v{MODEL_VERSION}.npz"

_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)


def trigram_hashes(text: str, mask: np.uint64) -> np.ndarray:
    """Hashed char trigrams of ' '+lower(text)+' ' — THE featurizer, shared
    with tools/train_langid.py so train and serve can never skew (r04
    review: the trainer previously carried a verbatim copy of this code;
    an edit to either side would silently degrade accuracy)."""
    s = " " + text.lower() + " "
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cp) < 3:
        return np.zeros(0, dtype=np.int64)
    h = cp[:-2] * _P1 ^ cp[1:-1] * _P2 ^ cp[2:] * _P3
    return (h & mask).astype(np.int64)

NGRAM_RESULT_TYPE = T.StructType(
    [
        T.StructField("lang_pred", T.StringType(), True),
        T.StructField("lang_conf", T.DoubleType(), True),
    ]
)


class _NgramLangId:
    def __init__(self) -> None:
        from wikidataquality_spark.modelio import open_model

        z = open_model(_MODEL_NAME)
        self.langs = list(z["langs"])
        self.logp = z["logp"].astype(np.float64)  # (n_buckets, n_langs)
        self.prior = z["prior"].astype(np.float64)
        self.n_buckets = int(z["n_buckets"][0])
        self.mask = np.uint64(self.n_buckets - 1)

    def _hashes(self, text: str) -> np.ndarray:
        return trigram_hashes(text, self.mask)

    def predict(self, texts: pd.Series) -> pd.DataFrame:
        # Per-doc loop over VECTORIZED numpy ops, deliberately not a fully
        # concatenated batch gather: per-doc `logp[h].sum(axis=0)` uses
        # numpy's pairwise summation, while the batched equivalents
        # (add.at / reduceat) sum sequentially — last-ulp differences that
        # can flip argmax on near-ties and churn the frozen planted-truth
        # fixture for a non-headline query. The loop is per-DOCUMENT (not
        # per-row-per-token); the batched design is a fixture-regen away if
        # this ever becomes a hot path.
        preds: list[str | None] = []
        confs: list[float] = []
        for t in texts:
            # isinstance, not `is None`: pandas object columns deliver
            # missing strings as float NaN too (truthy, not None), which
            # would crash at t.lower() below
            if not isinstance(t, str) or not t:
                preds.append(None)
                confs.append(float("nan"))
                continue
            h = self._hashes(t)
            if len(h) == 0:
                preds.append("und")
                confs.append(0.0)
                continue
            # mean log-likelihood per trigram + prior; softmax → confidence.
            # len(h) >= 1 here (the empty case exited above) — no guard.
            ll = self.logp[h].sum(axis=0) / len(h) + self.prior / len(h)
            ll = ll - ll.max()
            p = np.exp(ll)
            p /= p.sum()
            j = int(p.argmax())
            preds.append(self.langs[j])
            confs.append(float(p[j]))
        return pd.DataFrame(
            {"lang_pred": preds, "lang_conf": confs}, index=texts.index
        )


def _load_model() -> _NgramLangId:
    return _NgramLangId()


@F.pandas_udf(NGRAM_RESULT_TYPE)
def langid_ngram_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    model = _load_model()  # once per worker
    for texts in batches:
        yield model.predict(texts)


def ngram_langid(text_col: str | Column = "text") -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return langid_ngram_udf(col)
