"""Product quantization (PQ): embedding compression + ADC similarity search.

At 10¹² documents, a 64-dim float32 embedding column is ~256 TB — too big
to shuffle, too big to keep hot. PQ (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search") splits each vector into m
subvectors and replaces every subvector with the id of its nearest
codebook centroid: m small integers (m·log₂(k) bits ≈ 4-8 bytes) instead
of d floats, with approximate distances computed straight on the codes via
a per-query lookup table (ADC — asymmetric distance computation). This is
the storage/scan path that complements the IVF routing path
(simsearch.ivf_topk): IVF prunes WHICH rows to score, PQ shrinks WHAT is
stored and scored.

Spark-first shape, same discipline as the IVF assign fix (r03 VERDICT #1):

  - encoding is m argmins over LITERAL codebook banks in one vectorized
    Arrow pass — a projection, NO Exchange, NO Window. The codebook is a
    train-once versioned artifact (models/pq_codebooks_v1.json,
    tools/train_pq.py), so the DuckDB oracle inlines identical constants
    and the integer codes are gated bit-for-bit;
  - ADC scan: the query's subvector-to-centroid distance table (m×k
    doubles) is computed DRIVER-side in numpy — the query is a literal —
    and unrolled into a fixed-order sum of element_at lookups; top-k is
    orderBy+limit (TakeOrderedAndProject, no global sort materialization);
  - distances are pure +,-,* folds in frozen order, so Spark and DuckDB
    agree to the last ulp (the dot_sql precedent), and argmin ties resolve
    to the FIRST minimal centroid in both engines.

Codes are array<int> here rather than packed binary: the honest 100 TB
deployment packs m 4-bit codes into a BinaryType column (16× smaller than
this representation); the unpacked form keeps every gate DuckDB-comparable
and the packing is a bijective cast, not an algorithmic change.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PQ_CODEBOOKS_V1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "models",
    "pq_codebooks_v1.json",
)


def load_pq_codebooks(path: str = PQ_CODEBOOKS_V1) -> dict:
    """{dim, m, k, codebooks: [m][k][dim/m]} with repr-precision doubles
    (identical IEEE values as Spark literals and DuckDB literals)."""
    with open(path) as f:
        art = json.load(f)
    cb = art["codebooks"]
    if len(cb) != art["m"] or any(len(sub) != art["k"] for sub in cb):
        raise ValueError("pq artifact shape mismatch — retrain, never hand-edit")
    return art


def train_pq_codebooks(
    vectors: np.ndarray, m: int = 8, k: int = 16, iters: int = 12, seed: int = 13
) -> list[list[list[float]]]:
    """Deterministic per-subspace Euclidean k-means (k-means++ init, Lloyd).

    Pure numpy float64 over a caller-provided (bounded, deterministic)
    sample — same training posture as simsearch.train_centroids: the
    artifact is built once per corpus version from a driver-side sample;
    corpus passes never retrain. Empty clusters re-seed to the farthest
    point (totality: a degenerate sample still yields k distinct rows
    wherever possible)."""
    n, d = vectors.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m {m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    out = []
    for j in range(m):
        x = vectors[:, j * dsub : (j + 1) * dsub].astype(np.float64)
        # k-means++ init
        cents = [x[rng.randint(n)]]
        d2 = np.full(n, np.inf)
        for _ in range(1, k):
            d2 = np.minimum(d2, ((x - cents[-1]) ** 2).sum(axis=1))
            total = d2.sum()
            if total <= 0:
                cents.append(x[rng.randint(n)])
                continue
            r = rng.rand() * total
            cents.append(x[np.searchsorted(np.cumsum(d2), r).clip(0, n - 1)])
        c = np.stack(cents)
        for _ in range(iters):
            dist = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    c[ci] = x[mask].mean(axis=0)
                else:
                    c[ci] = x[dist.min(axis=1).argmax()]
        out.append([[float(v) for v in row] for row in c])
    return out


def _sq_dist(vec: Column, lit_c: list[float]) -> Column:
    """Squared L2 distance to a literal vector, accumulated left-to-right
    in element order — bit-identical to the DuckDB twins' list_aggregate
    sums. SCALAR element_at algebra, not a HOF fold: a zip_with/aggregate
    fold allocates a zipped struct array and runs lambda machinery per
    element (r05 session) — the unrolled form is plain codegen arithmetic."""
    acc: Column = F.lit(0.0)
    for d, v in enumerate(lit_c):
        x = F.element_at(vec, d + 1).cast("double")
        acc = acc + (x - F.lit(float(v))) * (x - F.lit(float(v)))
    return acc


def pq_encode_arrow(
    df: DataFrame, art: dict, vcol: str = "embedding", out: str = "pq_code"
) -> DataFrame:
    """Append `out`: array<int> of length m — per-subspace argmin centroid
    ids (0-based). NULL, wrong-length, or degenerate vectors (any NULL /
    NaN / ±Inf element) encode to NULL (the caller exempts them, the house
    dedup convention). The degenerate guard is what keeps the downstream
    ADC scan TOTAL: one bad crawled embedding must not kill a 100 TB scan.
    ZERO shuffle.

    One vectorized numpy pass per Arrow batch: a JVM expression form (m·k
    unrolled distance sums) exceeds the whole-stage-codegen method limit,
    so Spark evaluated it INTERPRETED — measured ~1 ms/row (r05 session),
    ~100× this form. Exact decision parity with the DuckDB twin
    pq_encode_sql:
      - distances accumulate SEQUENTIALLY over dimensions (a python d-loop
        of row×centroid-vectorized steps — never np.sum, whose pairwise
        reduction rounds differently), matching the SQL left-to-right sums
        term for term in float64;
      - np.argmin is first-minimal, matching list_indexof's tie policy;
      - the degenerate guard matches: NULL / wrong-length vectors and any
        non-finite element (Arrow hands NULL elements of float lists as
        NaN, which the SQL guard also rejects) encode to NULL.
    Parity is gated in tests/test_pq.py against the DuckDB twin."""
    m, k, dim = art["m"], art["k"], art["dim"]
    dsub = dim // m
    cb = [[[float(x) for x in c] for c in sub] for sub in art["codebooks"]]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        C = np.asarray(cb, dtype=np.float64)  # (m, k, dsub)
        for s in batches:
            codes: list = [None] * len(s)
            valid_idx: list[int] = []
            mat: list[np.ndarray] = []
            for i, v in enumerate(s):
                if v is None or len(v) != dim:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if not np.isfinite(a).all():
                    continue
                valid_idx.append(i)
                mat.append(a)
            if mat:
                X = np.stack(mat)
                out_codes = np.empty((len(mat), m), dtype=np.int32)
                for j in range(m):
                    dist = np.zeros((X.shape[0], k), dtype=np.float64)
                    for d in range(dsub):
                        diff = X[:, j * dsub + d, None] - C[j, :, d][None, :]
                        dist = dist + diff * diff
                    out_codes[:, j] = dist.argmin(axis=1)
                for row_i, i in enumerate(valid_idx):
                    codes[i] = [int(x) for x in out_codes[row_i]]
            yield pd.Series(codes, index=s.index)

    return df.withColumn(out, enc(F.col(vcol)))


def adc_lut(query: list[float], art: dict) -> list[list[float]]:
    """Driver-side m×k table: lut[j][c] = ‖q_j − codebook[j][c]‖² in
    float64, summed in index order (bit-stable across engines)."""
    m, k, dim = art["m"], art["k"], art["dim"]
    dsub = dim // m
    lut = []
    for j in range(m):
        q = query[j * dsub : (j + 1) * dsub]
        row = []
        for c in range(k):
            acc = 0.0
            for x, y in zip(q, art["codebooks"][j][c], strict=True):
                acc += (float(x) - float(y)) * (float(x) - float(y))
            row.append(acc)
        lut.append(row)
    return lut


def adc_distance_col(code_col: Column, lut: list[list[float]]) -> Column:
    """Approximate squared distance Σ_j lut[j][code[j]] — a statically
    unrolled fixed-order sum of 0-based F.get lookups into literal arrays
    (get, not element_at: ANSI element_at's error-raising bounds machinery
    measured 4× slower per lookup — r05 session. Codes are argmin ranks in
    [0, k) by construction; a NULL code row propagates to a NULL distance
    and sorts last instead of aborting the scan, which strictly improves
    the totality story the degenerate-encode guard provides)."""
    acc: Column = F.lit(0.0)
    for j, row in enumerate(lut):
        table = F.array(*[F.lit(float(v)) for v in row])
        acc = acc + F.get(table, F.element_at(code_col, j + 1))
    return acc


def pq_adc_topk(
    encoded: DataFrame,
    query: list[float],
    art: dict,
    k_results: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """(id_col, adc_dist) of the k_results nearest codes to `query` by ADC.
    orderBy+limit compiles to TakeOrderedAndProject — per-partition heaps,
    no global sort. Ties break on id (deterministic, oracle-comparable)."""
    lut = adc_lut(query, art)
    return (
        encoded.filter(F.col(code_col).isNotNull())
        .select(id_col, adc_distance_col(F.col(code_col), lut).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k_results)
    )


def pq_adc_rerank_topk(
    embeddings: DataFrame,
    query: list[float],
    art: dict,
    k_results: int = 10,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production two-stage scan: ADC shortlist of n_candidates over
    the compressed codes, then EXACT L2 re-rank of just those rows —
    (id_col, exact_dist) top-k.

    Final recall equals shortlist recall (measured on the worst-case
    near-uniform sf0.01 corpus: ~0.59 @ C=30, ~0.72 @ C=50, ~0.90 @ C=100
    for k=10 — see PLANS.md §PQ recall), while the full-precision column is
    touched for only n_candidates rows: the shortlist (≤ C ids) broadcasts
    into a BroadcastHashJoin against the vector table, so the 100 TB float
    column is point-read, never scanned, never shuffled."""
    shortlist = pq_adc_topk(
        pq_encode_arrow(embeddings, art), query, art, n_candidates, id_col
    ).select(id_col)
    exact = F.broadcast(shortlist).join(
        embeddings.select(id_col, vec_col), id_col
    )
    return (
        exact.select(
            id_col,
            _sq_dist(F.col(vec_col), [float(x) for x in query]).alias("exact_dist"),
        )
        .orderBy("exact_dist", id_col)
        .limit(k_results)
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def _list_sql(vals: list[float]) -> str:
    return "[" + ",".join(repr(float(v)) for v in vals) + "]"


def pq_encode_sql(art: dict, vcol: str = "embedding") -> str:
    """SQL expression: the m-int code list for `vcol` (NULL when NULL,
    wrong length, or any element is NULL/NaN/±Inf — the same degenerate
    guard as pq_encode_arrow). list_indexof(l, list_min(l)) is the
    first-minimal argmin, matching np.argmin's tie policy."""
    m, k, dim = art["m"], art["k"], art["dim"]
    dsub = dim // m
    parts = []
    for j in range(m):
        sub = f"{vcol}[{j * dsub + 1}:{j * dsub + dsub}]"
        dists = ",".join(
            "list_aggregate(list_transform(list_zip("
            f"{sub}, {_list_sql(art['codebooks'][j][c])}), "
            "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])"
            "), 'sum')"
            for c in range(k)
        )
        parts.append(f"(list_indexof([{dists}], list_min([{dists}])) - 1)")
    degenerate = (
        f"len(list_filter({vcol}, x -> x IS NULL OR "
        f"NOT isfinite(CAST(x AS DOUBLE)))) > 0"
    )
    return (
        f"(CASE WHEN {vcol} IS NULL OR len({vcol}) != {dim} OR {degenerate} "
        f"THEN NULL ELSE [{','.join(parts)}] END)"
    )


def adc_distance_sql(code_expr: str, lut: list[list[float]]) -> str:
    """DuckDB twin of adc_distance_col — same literals, same left-to-right
    addition order."""
    acc = "0.0"
    for j, row in enumerate(lut):
        acc = f"({acc} + {_list_sql(row)}[{code_expr}[{j + 1}] + 1])"
    return acc
