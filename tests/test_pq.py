"""Product quantization: encode parity with the DuckDB twin (exact integer
codes, adversarial vectors and float32 storage included), ADC distance
parity (exact doubles), top-k agreement, recall vs brute force, edge
vectors, and the zero-shuffle plan gate."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.operators.pq import (
    adc_distance_sql,
    adc_lut,
    load_pq_codebooks,
    pq_adc_topk,
    pq_encode_arrow,
    pq_encode_sql,
)


@pytest.fixture(scope="module")
def art():
    return load_pq_codebooks()


QUERY = [0.1 if i % 3 else -0.2 for i in range(64)]


def test_artifact_contract(art):
    assert art["dim"] == 64 and art["m"] == 8 and art["k"] == 16
    assert len(art["codebooks"]) == 8
    assert all(len(sub) == 16 for sub in art["codebooks"])
    assert all(len(c) == 8 for sub in art["codebooks"] for c in sub)


def _codes(df) -> dict:
    """vec_id -> pq_code list (None for a NULL code) of pq_encode_arrow."""
    return {
        r["vec_id"]: None if r["pq_code"] is None else list(r["pq_code"])
        for r in df.collect()
    }


def _duckdb_codes(df, art) -> dict:
    """vec_id -> pq_encode_sql's code list (None for NULL) over df's rows."""
    rows = df.collect()
    con = duckdb.connect()
    con.register(
        "emb",
        pd.DataFrame(
            {"vec_id": [r["vec_id"] for r in rows], "embedding": [r["embedding"] for r in rows]}
        ),
    )
    want = con.execute(f"SELECT vec_id, {pq_encode_sql(art)} AS code FROM emb").df()
    return {
        vid: None if code is None or (isinstance(code, float) and pd.isna(code)) else list(code)
        for vid, code in zip(want["vec_id"], want["code"], strict=True)
    }


def test_encode_matches_duckdb_twin_exactly(spark, sf001_dir, art):
    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    got = (
        pq_encode_arrow(emb, art)
        .select("vec_id", F.col("pq_code").cast("array<int>").alias("pq_code"))
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    want = con.execute(
        f"SELECT vec_id, CAST({pq_encode_sql(art)} AS INT[]) AS pq_code "
        f"FROM read_parquet('{sf001_dir}/embeddings.parquet') ORDER BY vec_id"
    ).df()
    assert len(got) == len(want)
    for g, w in zip(got["pq_code"], want["pq_code"], strict=True):
        assert list(g) == list(w)
    # codes must actually use the codebook, not collapse to one centroid
    flat = np.concatenate([np.asarray(c) for c in got["pq_code"]])
    assert len(np.unique(flat)) > 4


def test_arrow_encode_matches_duckdb_twin_on_adversarial_rows(spark, art):
    """Exact duplicate subvectors force first-minimal argmin ties, plus the
    degenerate guard (NULL / ragged / NaN / ±Inf / NULL-element rows), in
    double and in the float32 storage type the real tables carry."""
    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(120)]
    rows += [
        (200, [0.0] * 64),
        (201, [1.0] * 64),
        (300, None),
        (301, [1.0] * 63),  # ragged
        (302, [float("nan")] + [1.0] * 63),
        (303, [float("inf")] + [1.0] * 63),
        (304, [None] + [1.0] * 63),  # NULL element
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for typ in ("double", "float"):
        typed = df.selectExpr("vec_id", f"CAST(embedding AS array<{typ}>) AS embedding")
        assert _codes(pq_encode_arrow(typed, art)) == _duckdb_codes(typed, art), typ


def test_adc_distance_matches_duckdb_twin_exactly(spark, sf001_dir, art):
    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    lut = adc_lut(QUERY, art)
    got = (
        pq_adc_topk(pq_encode_arrow(emb, art), QUERY, art, k_results=20)
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH enc AS (
          SELECT vec_id, {pq_encode_sql(art)} AS code
          FROM read_parquet('{sf001_dir}/embeddings.parquet')
        )
        SELECT vec_id, {adc_distance_sql('code', lut)} AS adc_dist
        FROM enc WHERE code IS NOT NULL
        ORDER BY adc_dist, vec_id LIMIT 20
        """
    ).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=True)


def test_rerank_recall_vs_brute_force(spark, sf001_dir, art):
    """Recall@10 of the two-stage scan (ADC shortlist C=100 + exact
    re-rank), averaged over 5 queries, vs exact L2 brute force. The
    synthetic embeddings are near-uniform on the sphere — the worst case
    for any quantizer (documented for IVF in PLANS.md), so this is a FLOOR
    (measured mean ≈ 0.90 over 20 queries); the assert pins ≥ 0.7."""
    from wikidataquality_spark.operators.pq import pq_adc_rerank_topk

    emb_pd = (
        spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
    )
    vecs = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = emb_pd["vec_id"].to_numpy()
    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    rng = np.random.RandomState(5)
    recalls = []
    for _ in range(5):
        q = rng.randn(64) * 0.15
        exact = set(ids[np.argsort(((vecs - q) ** 2).sum(axis=1))[:10]])
        approx = {
            r["vec_id"]
            for r in pq_adc_rerank_topk(
                emb, list(q), art, k_results=10, n_candidates=100
            ).collect()
        }
        recalls.append(len(exact & approx) / 10)
    assert float(np.mean(recalls)) >= 0.7, recalls


def test_rerank_exact_distances_and_broadcast_plan(spark, sf001_dir, art):
    """The re-rank stage must (a) produce exact L2 distances (cross-checked
    in numpy) and (b) point-read the vector column through a broadcast
    join, never shuffle it."""
    from wikidataquality_spark.operators.pq import pq_adc_rerank_topk

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    out = pq_adc_rerank_topk(emb, QUERY, art, k_results=5, n_candidates=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding#" not in line, line
    rows = out.collect()
    emb_pd = (
        spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
        .toPandas()
        .set_index("vec_id")
    )
    q = np.asarray(QUERY)
    for r in rows:
        v = np.asarray(emb_pd.loc[r["vec_id"], "embedding"], dtype=np.float64)
        assert r["exact_dist"] == pytest.approx(((v - q) ** 2).sum(), rel=1e-9)


def test_null_and_ragged_vectors_encode_null(spark, art):
    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None), (3, [0.5] * 10)],
        "vec_id long, embedding array<float>",
    )
    out = _codes(pq_encode_arrow(df, art))
    assert out[1] is not None and len(out[1]) == 8
    assert out[2] is None and out[3] is None
    assert out == _duckdb_codes(df, art)
    # NULL codes never reach the ADC scan
    assert pq_adc_topk(pq_encode_arrow(df, art), QUERY, art).count() == 1


def test_degenerate_vectors_encode_null_and_adc_survives(spark, art):
    """One NaN element used to return the argmin fold's -1 seed, and the
    ADC scan died with INVALID_INDEX_OF_ZERO (element_at(lut, 0)) — a
    single bad crawled embedding killing the whole job. Degenerate vectors
    (NULL/NaN/±Inf element) must encode to NULL and the scan must complete
    over a poisoned corpus; the DuckDB twin must agree row-for-row."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [0.5] * 64),
        (2, [nan] * 64),
        (3, [0.5] * 63 + [nan]),
        (4, [0.5] * 63 + [inf]),
        (5, [0.5] * 63 + [-inf]),
        (6, [0.5] * 63 + [None]),
        (7, [0.25] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = _codes(pq_encode_arrow(df, art))
    assert out[1] is not None and out[7] is not None
    for bad in (2, 3, 4, 5, 6):
        assert out[bad] is None, (bad, out[bad])
    # the poisoned corpus scans to completion and ranks only the clean rows
    got = pq_adc_topk(pq_encode_arrow(df, art), QUERY, art, k_results=10).collect()
    assert sorted(r["vec_id"] for r in got) == [1, 7]
    # twin parity on the degenerate guard itself
    assert out == _duckdb_codes(df, art)


def test_encode_plan_is_pure_projection_and_topk_takeordered(spark, sf001_dir, art):
    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    enc_plan = (
        pq_encode_arrow(emb, art)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in enc_plan
    topk_plan = (
        pq_adc_topk(pq_encode_arrow(emb, art), QUERY, art)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in topk_plan
