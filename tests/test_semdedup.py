"""SemDeDup: planted-duplicate semantics, survivor priority, guards, plan shape."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wikidataquality_spark.operators.semdedup import (
    load_semdedup_centroids,
    semdedup_marks,
    semdedup_marks_sql,
)

DIM = 8
# two well-separated cluster directions
_C0 = [1.0] + [0.0] * (DIM - 1)
_C1 = [0.0, 1.0] + [0.0] * (DIM - 2)
CENTROIDS = [_C0, _C1]


def _vec(base: list[float], eps: float, j: int) -> list[float]:
    v = np.asarray(base, dtype=np.float64)
    v[j] += eps
    return v.tolist()


@pytest.fixture(scope="module")
def planted(spark):
    # cluster 1 (x-axis): ids 1,2 nearly identical (dup pair), id 3 rotated
    # away enough to stay below the 0.9 threshold vs both
    rows = [
        Row(vec_id=1, embedding=_vec(_C0, 0.01, 2)),
        Row(vec_id=2, embedding=_vec(_C0, 0.02, 2)),
        Row(vec_id=3, embedding=_vec(_C0, 0.9, 3)),
        # cluster 2 (y-axis): a triple of mutual near-dups
        Row(vec_id=10, embedding=_vec(_C1, 0.01, 4)),
        Row(vec_id=11, embedding=_vec(_C1, 0.02, 4)),
        Row(vec_id=12, embedding=_vec(_C1, 0.03, 4)),
        # degenerate rows every guard must drop
        Row(vec_id=90, embedding=None),
        Row(vec_id=91, embedding=[1.0] * (DIM - 1)),  # ragged
        Row(vec_id=92, embedding=[0.0] * DIM),  # zero norm
        Row(vec_id=93, embedding=[float("nan")] + [1.0] * (DIM - 1)),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def marks(planted):
    out = semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM)
    return {r["vec_id"]: r.asDict() for r in out.collect()}


def test_invalid_vectors_dropped(marks):
    assert set(marks) == {1, 2, 3, 10, 11, 12}


def test_cluster_assignment(marks):
    assert [marks[i]["cell"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [marks[i]["cell"] for i in (10, 11, 12)] == [2, 2, 2]


def test_lowest_centroid_sim_survives(marks):
    # within each dup neighborhood exactly one survivor: the member FARTHEST
    # from the centroid (lowest centroid_sim); larger perturbation = lower sim
    assert marks[2]["is_semdup"] is False and marks[1]["is_semdup"] is True
    assert marks[12]["is_semdup"] is False
    assert marks[11]["is_semdup"] is True and marks[10]["is_semdup"] is True
    # the rotated-away cluster member is not anyone's duplicate
    assert marks[3]["is_semdup"] is False


def test_centroid_sim_is_cosine(marks):
    v = np.asarray(_vec(_C0, 0.01, 2))
    c = np.asarray(_C0)
    expect = float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
    assert marks[1]["centroid_sim"] == pytest.approx(expect, abs=1e-4)


def test_oracle_parity_on_planted(spark, planted):
    duckdb = pytest.importorskip("duckdb")
    out = (
        semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM)
        .orderBy("vec_id")
        .collect()
    )
    pdf = planted.toPandas()
    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = semdedup_marks_sql(CENTROIDS, threshold=0.9, dim=DIM)
    ora = con.execute(sql + " ORDER BY a.vec_id").fetchall()
    got = [(r["vec_id"], r["cell"], r["centroid_sim"], r["is_semdup"]) for r in out]
    assert got == [tuple(r) for r in ora]


def test_artifact_loads_and_matches_trainer_params():
    import json

    from wikidataquality_spark.operators.semdedup import SEMDEDUP_CENTROIDS_V1

    with open(SEMDEDUP_CENTROIDS_V1) as f:
        art = json.load(f)
    # every geometry-changing train_centroids parameter is pinned in the
    # artifact, so a silent trainer-default drift is detectable
    assert {
        k: art[k] for k in ("version", "n_lists", "dim", "sample_n", "iters", "seed")
    } == {"version": "v1", "n_lists": 8, "dim": 64, "sample_n": 2048, "iters": 8, "seed": 13}
    cents = load_semdedup_centroids()
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    # spherical k-means centroids are unit-norm (or a reseeded unit sample)
    for c in cents:
        assert np.linalg.norm(c) == pytest.approx(1.0, abs=1e-9)


def test_plan_shape(planted):
    """Assignment must not shuffle (no Exchange before the cell join) and
    candidate generation must be an equi-join: the plan may contain only
    hash-partitioned Exchanges (the cell self-join + narrow mark join) —
    no CartesianProduct, no BroadcastNestedLoopJoin, no Window."""
    out = semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Window" not in plan


def test_verify_join_salted_when_cells_below_cores(planted, spark):
    """With n_lists << cores the cell join has too few keys AND a tiny
    shuffle input, so AQE coalesced the exploding |cell|² verify onto ONE
    core (measured 6.6s vs 1.5s at sf0.1). The salted path must be active:
    two REPARTITION_BY_NUM exchanges (user repartitions AQE cannot
    coalesce) on the (cell, _sd_blk) keys, and the oracle-parity tests in
    this file all run through this same salted plan (2 centroids < 4·cores),
    so pair-set equivalence with the unsalted SQL twin is already pinned."""
    out = semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Both sides must shuffle with a user origin (AQE never coalesces
    # REPARTITION_BY_NUM) on the salted key pair. The partition COUNT is
    # deliberately not pinned to the operator's `par`: under a sort-merge
    # join EnsureRequirements rewrites a user repartition's count to
    # spark.sql.shuffle.partitions while preserving the origin — either
    # count spreads the verify; the origin is what blocks the 1-partition
    # coalesce this test guards against.
    salted = re.findall(
        r"hashpartitioning\(cell#\d+L?, _sub#\d+, _sd_blk#\d+, (\d+)\), REPARTITION_BY_NUM",
        plan,
    )
    assert len(salted) == 2
    par = spark.sparkContext.defaultParallelism
    assert all(int(n) >= par for n in salted)


def _tiny_pq_art(dim: int = DIM, m: int = 4, k: int = 16) -> dict:
    """Deterministic dim-8 codebook for the screened-path tests (the v1
    artifact is dim-64 and can't serve the planted fixtures)."""
    from wikidataquality_spark.operators.pq import train_pq_codebooks

    rng = np.random.default_rng(7)
    sample = rng.standard_normal((256, dim))
    sample /= np.linalg.norm(sample, axis=1)[:, None]
    return {
        "dim": dim,
        "m": m,
        "k": k,
        "codebooks": train_pq_codebooks(sample, m=m, k=k, iters=6, seed=13),
    }


def test_pq_screened_path_oracle_parity_and_semantics(spark, planted):
    """r04 VERDICT #1 (the narrow verify): with pq_art the screened path
    must (a) with a wide margin (0.5 — generous for the deliberately coarse
    dim-8 test codebook; the SHIPPED dim-64 margin is measured by
    tools/semdedup_adc_recall.py) produce the same marks as the exact path,
    and (b) at ANY margin hash-match the SQL twin that replays the SAME
    screen — decision-identity, not approximation — including a tight
    margin where the screen demonstrably rejects pairs (both engines must
    diverge from exact IDENTICALLY)."""
    duckdb = pytest.importorskip("duckdb")
    art = _tiny_pq_art()
    con = duckdb.connect()
    con.register("embeddings", planted.toPandas())
    exact = (
        semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM)
        .orderBy("vec_id")
        .collect()
    )

    def run(margin):
        out = (
            semdedup_marks(
                planted, CENTROIDS, threshold=0.9, dim=DIM, pq_art=art,
                adc_margin=margin,
            )
            .orderBy("vec_id")
            .collect()
        )
        sql = semdedup_marks_sql(
            CENTROIDS, threshold=0.9, dim=DIM, pq_art=art, adc_margin=margin
        )
        ora = con.execute(sql + " ORDER BY a.vec_id").fetchall()
        got = [(r["vec_id"], r["cell"], r["centroid_sim"], r["is_semdup"]) for r in out]
        assert got == [tuple(r) for r in ora], f"engine divergence at margin {margin}"
        return out

    wide = run(0.5)
    assert [tuple(r) for r in wide] == [tuple(r) for r in exact]
    tight = run(0.01)  # screens out the quantization-noisy dup estimates
    assert [tuple(r) for r in tight] != [tuple(r) for r in exact]
    # screening only SAVES docs (a rejected pair un-marks a dup), never drops
    dup_tight = {r["vec_id"] for r in tight if r["is_semdup"]}
    dup_exact = {r["vec_id"] for r in exact if r["is_semdup"]}
    assert dup_tight < dup_exact


def test_pq_screened_path_keeps_vectors_out_of_exchanges(spark, planted):
    """The narrow-shuffle contract the whole rework exists for: with pq_art
    no Exchange in the screened plan may carry the embedding column — pair
    rows are (cell, id, csim, packed longs), the vector is point-re-read
    through a broadcast semi join for the exact verify only."""
    art = _tiny_pq_art()
    out = semdedup_marks(planted, CENTROIDS, threshold=0.9, dim=DIM, pq_art=art)
    fmt = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    lines = fmt.splitlines()
    for i, line in enumerate(lines):
        if ") Exchange" in line and "Broadcast" not in line:
            block = "\n".join(lines[i : i + 3])
            assert "embedding" not in block, f"vector in exchange:\n{block}"
            assert "_unit" not in block and "_nvec" not in block, block


def test_pq_verify_broadcasts_candidate_vectors_once(spark, planted):
    """The screened path's exact verify builds its candidate-vector frame
    (id, vector, norm) once: in the final adaptive plan exactly one
    BroadcastExchange carries it, and the second pair side reads it through
    a ReusedExchange instead of a second re-read and broadcast. (The wide
    margin keeps the planted pairs on the shortlist; an empty one lets the
    adaptive plan prune the verify altogether.)"""
    out = semdedup_marks(
        planted, CENTROIDS, threshold=0.9, dim=DIM, pq_art=_tiny_pq_art(),
        adc_margin=0.5,
    )
    out.collect()
    fmt = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    tree, details = fmt.split("\n\n", 1)
    final_ids = set(re.findall(r"\((\d+)\)", tree.split("== Initial Plan ==")[0]))
    nodes = dict(re.findall(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", details, re.M | re.S))
    vector_bcasts = [
        i for i in final_ids
        if nodes[i].startswith("BroadcastExchange") and "Input [3]" in nodes[i]
    ]
    assert len(vector_bcasts) == 1, vector_bcasts
    reused = [
        re.search(r"Reuses operator id: (\d+)", nodes[i]).group(1)
        for i in final_ids
        if nodes[i].startswith("ReusedExchange")
    ]
    assert vector_bcasts[0] in reused, reused


def test_sdc_score_exact_beside_null_code_row(spark):
    """A NULL-code row in the same Arrow batch as a valid pair must not
    touch the valid pair's score. pandas reads a long column holding a NULL
    as float64, which rounds m=32 packs above 2^53 and corrupts their low
    codes; the NULL packs therefore enter the UDF as 0."""
    from wikidataquality_spark.operators.semdedup import _sdc_cos_packed

    m, k = 32, 16
    rng = np.random.default_rng(5)
    tabs = rng.uniform(-1.0, 1.0, size=(m, k * k)).tolist()
    ca = [int(x) for x in rng.integers(0, k, size=m)]
    cb = [int(x) for x in rng.integers(0, k, size=m)]
    ca[0], ca[15], cb[0], cb[15] = 1, 7, 3, 5  # odd low code, pack > 2^53

    def pack(codes):
        return [
            sum(c << (4 * (j - g)) for j, c in enumerate(codes[g : g + 16], g))
            for g in (0, 16)
        ]

    pa, pb = pack(ca), pack(cb)
    assert abs(pa[0]) > 2**53 and abs(pb[0]) > 2**53
    replay = 0.0
    for j in range(m):
        replay += tabs[j][ca[j] * k + cb[j]]
    df = spark.createDataFrame(
        [(0, None, None, None, None), (1, *pa, *pb)],
        "i int, a0 long, a1 long, b0 long, b1 long",
    ).coalesce(1)  # one task, one Arrow batch
    sdc = _sdc_cos_packed(
        [F.col("a0"), F.col("a1")], [F.col("b0"), F.col("b1")], tabs, k
    )
    got = {r["i"]: r["s"] for r in df.select("i", sdc.alias("s")).collect()}
    assert got[1] == replay


def test_dense_cell_split_bounds_pairs_and_undermarks_safely(spark):
    """The hard cell-size bound (r04 VERDICT #1): with max_cell_rows=8 and
    exact counting (cell_count_sample=1), a 24-member dense cell splits into
    3 id-hash sub-cells. Marks may only be LOST relative to the unbounded
    run (cross-split pairs uncompared — under-marking keeps extra docs, the
    safe direction), never invented; the planted exact-duplicate pairs that
    share a sub-cell must still be caught, and at least one split survivor
    per sub-cell exists."""
    rows = []
    base = np.zeros(DIM)
    base[0] = 1.0
    # 24 near-identical members of one dense cell (all mutual dups at 0.9)
    for i in range(24):
        v = base.copy()
        v[2] += 0.001 * (i + 1)
        rows.append(Row(vec_id=i + 1, embedding=v.tolist()))
    df = spark.createDataFrame(rows)
    unbounded = {
        r["vec_id"]: r["is_semdup"]
        for r in semdedup_marks(
            df, CENTROIDS, threshold=0.9, dim=DIM, max_cell_rows=None
        ).collect()
    }
    bounded = {
        r["vec_id"]: r["is_semdup"]
        for r in semdedup_marks(
            df,
            CENTROIDS,
            threshold=0.9,
            dim=DIM,
            max_cell_rows=8,
            cell_count_sample=1,
        ).collect()
    }
    assert set(bounded) == set(unbounded)
    # unbounded: one global survivor; bounded: one survivor PER sub-cell
    assert sum(not d for d in unbounded.values()) == 1
    n_survivors = sum(not d for d in bounded.values())
    assert 1 <= n_survivors <= 3  # ceil(24/8) = 3 sub-cells
    # under-marking only: every bounded dup is also an unbounded dup
    for vid, dup in bounded.items():
        if dup:
            assert unbounded[vid]


def test_sf001_has_both_mark_values(spark, sf001_dir):
    """On the real corpus with the frozen artifact the marks are non-trivial:
    some semantic dups exist at threshold 0.4 and most rows survive."""
    e = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    out = semdedup_marks(e, load_semdedup_centroids(), threshold=0.4)
    counts = {r["is_semdup"]: r["n"] for r in out.groupBy("is_semdup").agg(F.count("*").alias("n")).collect()}
    assert counts.get(True, 0) > 0
    assert counts.get(False, 0) > counts.get(True, 0)


# --- mirror-based properties (SURVEY §5 discipline: a pure-numpy mirror is
# fuzzed cheaply; one seeded Spark-vs-mirror anchor transfers the results) ---


def _py_semdedup(vecs, cents, threshold):
    """Driver-side reference: same validity guards, same first-max argmax,
    same (csim, id) survivor priority, same one-pass loser rule."""
    C = np.asarray(cents, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    valid = {}
    for i, v in vecs.items():
        if v is None or len(v) != C.shape[1]:
            continue
        a = np.asarray(v, dtype=np.float64)
        if not np.isfinite(a).all():
            continue
        n = float(np.sqrt(a @ a))
        if n == 0:
            continue
        scores = (C @ a) / cn
        cell = int(np.argmax(scores))  # first max = Spark's strict-> fold
        valid[i] = (a, n, cell + 1, float(scores[cell] / n))
    flags = {}
    for r, (ar, nr, cr, sr) in valid.items():
        flags[r] = any(
            (sn, n_) < (sr, r) and float(an @ ar) / (nn * nr) >= threshold
            for n_, (an, nn, cn_, sn) in valid.items()
            if n_ != r and cn_ == cr
        )
    return {i: (t[2], t[3], flags[i]) for i, t in valid.items()}


def test_mirror_invariants_fuzzed():
    """Min-priority cell member never flagged; no-qualifying-pair cells flag
    nothing; flags are row-order invariant (the one-pass rule is a closure,
    not a visit-order greedy)."""
    rng = np.random.default_rng(7)
    cents = rng.normal(size=(3, DIM)).tolist()
    for trial in range(50):
        n = int(rng.integers(2, 30))
        vecs = {int(i): rng.normal(size=DIM).tolist() for i in range(n)}
        if trial % 3 == 0:  # plant exact duplicates (csim ties)
            vecs[100] = vecs[0]
            vecs[101] = vecs[0]
        thr = float(rng.uniform(0.2, 0.95))
        out = _py_semdedup(vecs, cents, thr)
        by_cell = {}
        for i, (cell, csim, flag) in out.items():
            by_cell.setdefault(cell, []).append((csim, i, flag))
        for members in by_cell.values():
            members.sort()
            assert members[0][2] is False or members[0][2] == False  # noqa: E712
        # permutation invariance: rebuild from reversed insertion order
        out2 = _py_semdedup(dict(reversed(list(vecs.items()))), cents, thr)
        assert out == out2


def test_spark_matches_mirror_seeded(spark):
    """One seeded random batch through BOTH implementations — exact flags,
    cells, and csim to 1e-9 (engines differ only in dot-sum association,
    which continuous random data never straddles)."""
    rng = np.random.default_rng(42)
    cents = rng.normal(size=(3, DIM)).tolist()
    vecs = {int(i): rng.normal(size=DIM).tolist() for i in range(120)}
    vecs[500] = vecs[3]  # exact-duplicate tie pair
    vecs[501] = (np.asarray(vecs[7]) * 2.0).tolist()  # same direction, scaled
    rows = [Row(vec_id=i, embedding=v) for i, v in vecs.items()]
    got = {
        r["vec_id"]: (r["cell"], r["centroid_sim"], r["is_semdup"])
        for r in semdedup_marks(
            spark.createDataFrame(rows), cents, threshold=0.8, dim=DIM
        ).collect()
    }
    want = _py_semdedup(vecs, cents, 0.8)
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], i
        assert got[i][1] == pytest.approx(round(want[i][1], 4), abs=2e-4)
        assert got[i][2] == want[i][2], i
