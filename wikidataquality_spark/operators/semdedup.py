"""SemDeDup — semantic (embedding-space) deduplication.

Implements the SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the corpus
embeddings with k-means, then inside each cluster mark as semantic duplicates
every document whose cosine similarity to another cluster member exceeds a
threshold, keeping ONE representative per near-dup neighborhood — the member
with the LOWEST cosine similarity to its cluster centroid (the paper's
diversity-preserving choice: edge-of-cluster examples survive, the redundant
core is dropped). Fills the dedup-family slot between exact/MinHash (lexical)
and LSH cosine pairs (pairwise): SemDeDup is the *corpus-pruning* form — a
per-document keep/drop mark, not a pair list.

Survivor semantics, made deterministic and one-pass (same design as the
min-survivor order in operators/dedup.py dup_marks): a row r is marked
`is_semdup` iff SOME same-cluster neighbor n has cos(n, r) ≥ threshold and
strictly higher keep-priority, where priority orders by (centroid_sim ASC,
id ASC) — lowest centroid similarity survives, id breaks exact float ties.
This is the closure of the paper's greedy "keep one per duplicate group"
under a fixed priority order; unlike the iterative greedy it never
resurrects a row whose nearer neighbors were themselves dropped, which makes
the output independent of visit order (and therefore oracle-comparable).

Scale shape (the reason this composes the IVF machinery instead of a global
pair join):
  - cluster assignment is `assign_cells` — a literal-centroid-bank HOF
    argmax, ZERO shuffle, no matter how many rows (simsearch.py);
  - the only quadratic work is the within-cell self-equi-join on `cell`,
    which is the algorithm's intrinsic cost: |cell|² pairs per cell, never
    N². n_lists is the knob — the paper runs 50k clusters over LAION so
    cells stay ~10³-10⁴ rows; cells skewed by dense regions split under
    AQE skew-join, and a hard max_cell_rows split-salt bound caps the
    worst case. With pq_art (the driver-query default) only (cell, id,
    csim, two packed code longs) rows enter that exchange — 30 B/row
    measured, vs 199 B carrying vectors (r04's one wide shuffle) — and
    the SDC screen + broadcast-re-fetch exact verify keep vectors out of
    every exchange entirely;
  - the screened pair list is sealed behind a barrier() so the quadratic
    stage runs exactly once for its four downstream consumers, and the
    per-row heavy lifting (PQ encode, SDC gather) runs in vectorized
    Arrow stages — the equivalent JVM expression trees measured
    interpreted (past the codegen method limit) with multi-second
    py4j plan-build, r05 session;
  - the final mark join runs on narrow (id) pairs — vectors never shuffle
    a second time.

Centroids are a train-once artifact (train_centroids in simsearch.py —
deterministic sampled spherical k-means), loaded from a versioned JSON next
to the other model artifacts (models/), exactly like the lang-id .npz: the
index is built once per corpus version and every later run re-reads it, so
the DuckDB oracle can inline the identical centroid constants and replay the
full assignment + pair + survivor algebra bit-for-bit.

ref≈ the reference's UniqueValueChecker family (corpus-level duplicate
marking) extended to embedding space; cites: Abbas et al. 2023
(arXiv:2303.09540).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wikidataquality_spark.operators.barrier import barrier
from wikidataquality_spark.operators.dedup import _pair_payloads
from wikidataquality_spark.operators.simsearch import (
    _cell_scores,
    dot,
    dot_sql,
    l2_norm,
)

SEMDEDUP_CENTROIDS_V1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "models",
    "semdedup_centroids_v1.json",
)
SEMDEDUP_PQ_V1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "models",
    "semdedup_pq_v1.json",
)

# Pre-filter admission cut: a pair is exact-verified only when its SDC
# cosine estimate ≥ threshold − SEMDEDUP_ADC_MARGIN (or either code is
# NULL — totality bypass). 0.2 is ~3.7σ of the measured m=32/k=16
# quantization error (σ=0.054 on the near-uniform sf0.01 corpus, the
# hardest case for PQ): zero true pairs missed there, 8.6% of within-cell
# pairs admitted (PLANS.md §SemDeDup ADC pre-filter). The screen is
# probabilistic by nature — its measured recall is the operator's contract,
# same posture as the IVF nprobe recall floor.
SEMDEDUP_ADC_MARGIN = 0.2


def load_semdedup_centroids(path: str = SEMDEDUP_CENTROIDS_V1) -> list[list[float]]:
    """Load the versioned train-once centroid artifact (tools/train_semdedup.py
    writes it; spherical k-means over the sf0.01 corpus, seed 13). JSON keeps
    full repr-precision doubles, so Spark literals and the oracle's E-notation
    literals decode to the same IEEE values."""
    with open(path) as f:
        art = json.load(f)
    return art["centroids"]


def load_semdedup_pq(path: str = SEMDEDUP_PQ_V1) -> dict:
    """The verify-stage PQ codebook artifact (tools/train_semdedup_pq.py:
    m=32 subspaces × k=16 centroids over UNIT-normalized embeddings — codes
    pack 4 bits each into two longs, and Σ_j dot(c_a, c_b) over unit codes
    estimates cosine directly, no norm column in the pair row)."""
    with open(path) as f:
        art = json.load(f)
    cb = art["codebooks"]
    if len(cb) != art["m"] or any(len(sub) != art["k"] for sub in cb):
        raise ValueError("semdedup pq artifact shape mismatch — retrain, never hand-edit")
    if art["k"] != 16:
        raise ValueError("4-bit packing requires k=16")
    return art


def pq_dot_tables(art: dict) -> list[list[float]]:
    """m flattened k×k tables: tab[j][a·k+b] = dot(codebook_j[a],
    codebook_j[b]), accumulated in python float64 in element order — the ONE
    numeric source both the Spark literals and the oracle literals are
    printed from, so the two engines' SDC sums are bit-identical by
    construction."""
    k = art["k"]
    out = []
    for cbj in art["codebooks"]:
        row = []
        for a in range(k):
            for b in range(k):
                acc = 0.0
                for x, y in zip(cbj[a], cbj[b], strict=True):
                    acc += float(x) * float(y)
                row.append(acc)
        out.append(row)
    return out


def _pack_codes(code_col: Column, m: int) -> list[Column]:
    """array<int> of m 4-bit codes → ceil(m/16) longs (16 codes per long,
    code j at bit 4·(j mod 16)). NULL code array packs to NULL longs (the
    arithmetic propagates), which the pre-filter treats as a bypass."""
    packs = []
    for g in range(0, m, 16):
        acc: Column = F.lit(0).cast("long")
        for j in range(g, min(g + 16, m)):
            acc = acc + F.shiftleft(
                F.element_at(code_col, j + 1).cast("long"), 4 * (j - g)
            )
        packs.append(acc)
    return packs


def _sdc_cos_packed(
    pa: list[Column], pb: list[Column], tabs: list[list[float]], k: int
) -> Column:
    """SDC cosine estimate from two packed code columns: Σ_j
    tab_j[code_a·k + code_b], left-to-right in subspace order (the oracle
    prints the same literals in the same order). Codes address UNIT-vector
    codebooks, so the sum IS the cosine estimate — no norms involved.

    Arrow/numpy evaluation, by measurement (r05 session): the JVM spelling
    — 32 table lookups per pair against 256-literal arrays — lost THREE
    ways: ~8 200 py4j calls of driver plan-build (~5 s per invocation),
    ANSI element_at's 4×-per-lookup bounds machinery, and interpreted/
    boxed-array indexing at ~13 µs per pair on the quadratic stage. The
    vectorized gather runs the same j-sequential float64 sums
    (bit-identical to the oracle's left-to-right literals; never np.sum's
    pairwise reduction) at numpy speed, and the whole expression is one
    py4j call. NULL packs enter the UDF as 0: one NULL in an Arrow batch
    would make pandas read the whole long column as float64, rounding every
    pack in the batch to 53 bits and corrupting its low codes. The score of
    a NULL-code row is never read — the caller's bypass arm admits those
    rows to exact verify."""
    m = len(tabs)
    tab_np = [[float(x) for x in t] for t in tabs]
    n_packs = len(pa)
    pa = [F.coalesce(c, F.lit(0).cast("long")) for c in pa]
    pb = [F.coalesce(c, F.lit(0).cast("long")) for c in pb]

    def _compute(a_cols: list, b_cols: list) -> pd.Series:
        T3 = np.asarray(tab_np, dtype=np.float64)  # (m, k·k)
        A = [c.to_numpy(dtype=np.int64) for c in a_cols]
        B = [c.to_numpy(dtype=np.int64) for c in b_cols]
        acc = np.zeros(len(A[0]), dtype=np.float64)
        for j in range(m):
            g, off = divmod(j, 16)
            ia = (A[g] >> (4 * off)) & 15
            ib = (B[g] >> (4 * off)) & 15
            acc = acc + T3[j, ia * k + ib]
        return pd.Series(acc, index=a_cols[0].index, dtype="float64")

    # fixed arities: the type-hint UDF machinery rejects *args signatures
    if n_packs == 1:

        @F.pandas_udf("double")
        def sdc1(a0: pd.Series, b0: pd.Series) -> pd.Series:
            return _compute([a0], [b0])

        return sdc1(pa[0], pb[0])
    if n_packs == 2:

        @F.pandas_udf("double")
        def sdc2(
            a0: pd.Series, a1: pd.Series, b0: pd.Series, b1: pd.Series
        ) -> pd.Series:
            return _compute([a0, a1], [b0, b1])

        return sdc2(pa[0], pa[1], pb[0], pb[1])
    raise ValueError(f"unsupported pack count {n_packs} (m ≤ 32 supported)")


def _valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Rows whose vector is fully usable for cosine math: non-NULL, exactly
    `dim` long, no NULL entries, no NaN entries, positive norm. Mirrors the
    guard set the LSH pair oracle documents (simsearch.py) — each condition
    exists because one engine would otherwise diverge from the other on
    degenerate input (NaN sorts greatest in DuckDB, NULL entries are ignored
    by list_aggregate, zero norms make cosine NaN)."""
    v = F.col(vec_col)
    return df.filter(
        v.isNotNull()
        & (F.size(v) == dim)
        & ~F.exists(v, lambda x: x.isNull())
        & ~F.exists(v, lambda x: F.isnan(x.cast("double")))
        & (dot(v, v) > 0)
    )


def _best_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """struct<score,cell> of the argmax centroid — the same strict-`>` fold
    as assign_cells n_keep=1 (first max wins ties ⇒ lowest cell id), but
    keeping the winning score so the caller can derive centroid_sim without
    a second pass: score = dot(v,c)/‖c‖, so score/‖v‖ IS cosine(v, c)."""
    return F.aggregate(
        _cell_scores(vec, centroids),
        F.struct(F.lit(float("-inf")).alias("score"), F.lit(0).alias("cell")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )


def semdedup_marks(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_art: dict | None = None,
    adc_margin: float = SEMDEDUP_ADC_MARGIN,
    max_cell_rows: int | None = 10_000,
    cell_count_sample: int = 128,
) -> DataFrame:
    """Per-document semantic-duplicate marks: (id, cell, centroid_sim,
    is_semdup). Invalid vectors (NULL/ragged/NaN/zero-norm) are dropped —
    they can't participate in cosine math; upstream quality gates own them.

    is_semdup=false rows are the survivors a corpus-pruning pass keeps;
    filtering `NOT is_semdup` yields the SemDeDup'd corpus.

    `pq_art` (load_semdedup_pq) switches the quadratic stage to the NARROW
    shape (r04 VERDICT #1 — the raw-vector self-join was the engine's one
    wide shuffle, 199 B/row): pair rows carry (cell, id, csim, two packed
    4-bit-code longs) ≈ 40 B, pairs are screened by the SDC cosine estimate
    (≥ threshold − adc_margin, NULL-code bypass for totality), and only the
    surviving shortlist re-fetches vectors for the exact cosine — candidate
    ids broadcast-semi-join the embeddings scan, so the vector column never
    shuffles at all. The screen's recall is measured, not assumed
    (PLANS.md §SemDeDup ADC pre-filter: zero true pairs missed at sf0.01,
    8.6% of pairs admitted). Default None keeps the exact all-pairs verify:
    the artifact is dim-specific (v1 is dim=64), so callers opt in —
    the registered driver query does.

    `max_cell_rows` is the hard cell-size bound (r04 VERDICT #1): a cell
    whose ESTIMATED row count (deterministic 1/cell_count_sample id-hash
    sample, scaled) exceeds the bound is split-salted into
    ceil(est/max_cell_rows) sub-cells by id hash; pairs across sub-cells
    are never compared, so an oversized cell UNDER-marks (keeps extra
    near-dups — the safe direction; dedup efficiency, not correctness,
    degrades) while the per-cell pair explosion is capped at
    ~max_cell_rows² instead of the unbounded |cell|². The sf0.01 oracle
    corpus sits far below any sane bound, so the SQL twin (which does not
    model the bound) stays decision-identical there."""
    best = _best_cell(F.col(vec_col), centroids)
    nrm = l2_norm(F.col(vec_col))
    # the pairwise verify is the quadratic stage, so per-PAIR work must be
    # ONE dot fold: precompute each row's norm scalar once (a projected
    # column that crosses the self-join Exchange materialized, so the pair
    # filter reads it instead of re-folding ‖v‖ twice per pair — the naive
    # cosine() spelling cost three 64-term folds per pair). NOT a per-row
    # unit-vector array: transform(v, x -> x/‖v‖) inlines the norm fold
    # INSIDE the lambda (verified on the optimized plan), re-evaluating it
    # per ELEMENT — 64 folds/row in the linear stage. The scalar carry has
    # no such hazard and keeps the oracle's dot/(n.nrm·r.nrm) spelling
    # bit-for-bit.
    # two-step projection: the argmax struct and the norm fold are aliased
    # ONCE, then fields are extracted from the attributes — referencing the
    # fold expressions directly in one select evaluated each of them twice
    # per row (HOF lambdas carry LambdaVariable, so codegen subexpression
    # elimination skips them; CollapseProject declines to re-inline a
    # non-cheap alias referenced twice, verified on the optimized plan)
    pre = _valid_vectors(embeddings, vec_col, dim).select(
        F.col(id_col), F.col(vec_col), best.alias("_best"), nrm.alias("_nrm")
    )
    # No `cell != 0` filter: after _valid_vectors every score is a finite
    # double, so the strict-> fold always leaves the -inf/0 seed — cell is
    # provably 1..n_lists (a filter here would be dead code, and filter
    # pushdown inlines the whole argmax fold into it, re-evaluating 10 folds
    # per row on both join branches — observed on the optimized plan). The
    # SQL twin relies on the same invariant: its row_number always assigns,
    # and NaN scores (which DuckDB sorts greatest) are impossible for the
    # same reason. Anyone relaxing _valid_vectors must restore BOTH sides'
    # unassignable handling together (assign_cells documents the cell-0
    # contract for callers that do accept degenerate rows).
    base = pre.select(
        F.col(id_col),
        F.col(vec_col),
        "_nrm",
        F.col("_best")["cell"].cast("long").alias("cell"),
        (F.col("_best")["score"] / F.col("_nrm")).alias("_csim"),
    )
    if pq_art is not None:
        if pq_art["dim"] != dim:
            raise ValueError(
                f"pq artifact dim {pq_art['dim']} != embedding dim {dim}"
            )
        from wikidataquality_spark.operators.pq import pq_encode_arrow

        m = pq_art["m"]
        # unit projection referencing the MATERIALIZED _nrm attribute (a
        # lambda over the norm FOLD would re-evaluate it per element — the
        # module's documented HOF-inlining hazard), then encode, then pack;
        # the vector exits the lineage here, before any exchange. The
        # ARROW encoder, deliberately: the JVM expression encode is a
        # ~1024-term projection that falls out of whole-stage codegen into
        # interpreted evaluation (~1 ms/row measured — 18 s for 5k rows),
        # while the numpy twin is bit-identical and ~100× cheaper
        # (pq.pq_encode_arrow's contract; parity gated in test_pq).
        enc = pq_encode_arrow(
            base.withColumn(
                "_unit",
                F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_nrm")),
            ),
            pq_art,
            vcol="_unit",
            out="_code",
        )
        packs = _pack_codes(F.col("_code"), m)
        base = enc.select(
            F.col(id_col),
            "cell",
            "_csim",
            *[p.alias(f"_pc{i}") for i, p in enumerate(packs)],
        )
        n_packs = len(packs)
        neighbors = base.select(
            F.col(id_col).alias("_nid"),
            "cell",
            F.col("_csim").alias("_ncsim"),
            *[F.col(f"_pc{i}").alias(f"_npc{i}") for i in range(n_packs)],
        )
    else:
        neighbors = base.select(
            F.col(id_col).alias("_nid"),
            F.col(vec_col).alias("_nvec"),
            F.col("_nrm").alias("_nnrm"),
            "cell",
            F.col("_csim").alias("_ncsim"),
        )
    # hard cell-size bound: estimated per-cell counts from a deterministic
    # id-hash sample (the filter pushes below the argmax folds, so the
    # estimate pass touches ~1/cell_count_sample of the scan); oversized
    # cells split by id hash on BOTH join sides, capping the pair explosion
    # at ~max_cell_rows² per sub-cell
    if max_cell_rows is not None:
        est = (
            _valid_vectors(embeddings, vec_col, dim)
            .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(cell_count_sample)) == 0)
            .select(_best_cell(F.col(vec_col), centroids)["cell"].cast("long").alias("cell"))
            .groupBy("cell")
            .agg((F.count("*") * cell_count_sample).alias("_est"))
            .withColumn(
                "_n_splits",
                F.greatest(
                    F.lit(1),
                    F.floor(
                        (F.col("_est") + F.lit(max_cell_rows - 1)) / F.lit(max_cell_rows)
                    ),
                ).cast("int"),
            )
            .select("cell", "_n_splits")
        )
        base = base.join(F.broadcast(est), "cell", "left").withColumn(
            "_sub",
            F.pmod(
                F.xxhash64(F.col(id_col)), F.coalesce(F.col("_n_splits"), F.lit(1))
            ).cast("int"),
        ).drop("_n_splits")
        neighbors = neighbors.join(F.broadcast(est), "cell", "left").withColumn(
            "_sub",
            F.pmod(
                F.xxhash64(F.col("_nid")), F.coalesce(F.col("_n_splits"), F.lit(1))
            ).cast("int"),
        ).drop("_n_splits")
        join_keys = ["cell", "_sub"]
    else:
        join_keys = ["cell"]
    # a row loses iff a strictly-higher-priority in-cell neighbor is within
    # the threshold; priority = (centroid_sim ASC, id ASC). The priority
    # filter runs before the cosine fold so most candidate pairs die on two
    # double compares, not a 64-term fold.
    cos = dot(F.col("_nvec"), F.col(vec_col)) / (F.col("_nnrm") * F.col("_nrm"))
    # Parallelize the quadratic stage when cells << cores. A plain equi-join
    # on `cell` has at most n_lists distinct keys, and its shuffle INPUT is
    # tiny (id+vec+2 doubles per row) while the join OUTPUT explodes |cell|²
    # — so AQE coalesces the exchange to ONE partition (observed: the whole
    # sf0.1 verify serialized onto one core, 6.6s vs ~1s spread). Salt: base
    # rows get a deterministic block in [0,S); neighbors replicate to every
    # block; join on (cell, block) → each in-cell pair matches exactly once
    # (at the base row's block), pair set provably unchanged. The explicit
    # repartition(P, cell, blk) on both sides is a REPARTITION_BY_NUM AQE
    # will not coalesce, and it satisfies the join's distribution so no
    # further exchange follows. S = ceil(4P / n_lists): at production
    # cluster counts (paper: 50k cells ≥ 4·cores) S=1 and the salt — and
    # its S× neighbor replication — vanishes, leaving AQE's skew-join to
    # split the rare giant cell.
    sc = embeddings.sparkSession.sparkContext
    par = max(1, sc.defaultParallelism)
    s_blocks = max(1, -(-4 * par // len(centroids)))
    if s_blocks > 1:
        base_j = base.withColumn(
            "_sd_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s_blocks)).cast("int")
        ).repartition(par, *join_keys, "_sd_blk")
        nbr_j = neighbors.withColumn(
            "_sd_blk", F.explode(F.array(*[F.lit(i) for i in range(s_blocks)]))
        ).repartition(par, *join_keys, "_sd_blk")
        candidates = base_j.join(nbr_j, [*join_keys, "_sd_blk"])
    else:
        candidates = base.join(neighbors, join_keys)
    priority = (F.col("_ncsim") < F.col("_csim")) | (
        (F.col("_ncsim") == F.col("_csim")) & (F.col("_nid") < F.col(id_col))
    )
    if pq_art is not None:
        tabs = pq_dot_tables(pq_art)
        kk = pq_art["k"]
        cut = threshold - adc_margin
        sdc = _sdc_cos_packed(
            [F.col(f"_pc{i}") for i in range(n_packs)],
            [F.col(f"_npc{i}") for i in range(n_packs)],
            tabs,
            kk,
        )
        # NULL-code bypass (degenerate-but-valid vectors, e.g. ±Inf
        # elements, must keep the exact-verify semantics they always had)
        screen = (
            F.col("_pc0").isNull() | F.col("_npc0").isNull() | (sdc >= F.lit(cut))
        )
        # the quadratic screen runs ONCE: the shortlist feeds three
        # downstream consumers (both arms of the re-fetch's id union and its
        # pair join), and without a hard boundary each
        # would replay the |cell|² candidate join + screen — measured 69 s
        # vs ~3 s at sf0.1 (r05 session). barrier() materializes the
        # candidate-scale pair list eagerly (reliable checkpoint on a real
        # cluster, localCheckpoint in the sandbox — operators/barrier.py).
        shortlist = barrier(
            candidates.filter(priority).filter(screen).select(id_col, "_nid")
        )
        # exact verify on the shortlist only (dedup._pair_payloads): the
        # shortlist's ids point-re-read the embeddings SCAN through a
        # broadcast semi join — the vector column never enters an exchange
        # — and both pair sides join the one broadcast candidate-vector
        # frame. Operand order is the all-pairs arm's: neighbor first.
        losers = (
            _pair_payloads(
                shortlist,
                _valid_vectors(embeddings, vec_col, dim),
                id_col,
                "_nid",
                {"vec": F.col(vec_col), "nrm": l2_norm(F.col(vec_col))},
            )
            .filter(
                dot(F.col("_bvec"), F.col("_avec")) / (F.col("_bnrm") * F.col("_anrm"))
                >= threshold
            )
            .select(F.col(id_col).alias("_dup_id"))
            .distinct()
        )
    else:
        losers = (
            candidates
            .filter(priority)
            .filter(cos >= threshold)  # valid vectors: norms > 0, no NaN
            .select(F.col(id_col).alias("_dup_id"))
            .distinct()
        )
    marks = base.select(id_col, "cell", "_csim")  # vectors exit before join
    return (
        marks.join(losers, marks[id_col] == losers["_dup_id"], "left")
        .select(
            id_col,
            "cell",
            F.round("_csim", 4).alias("centroid_sim"),
            F.col("_dup_id").isNotNull().alias("is_semdup"),
        )
    )


def semdedup_marks_sql(
    centroids: list[list[float]],
    threshold: float = 0.4,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    pq_art: dict | None = None,
    adc_margin: float = SEMDEDUP_ADC_MARGIN,
) -> str:
    """DuckDB twin of semdedup_marks: identical centroid constants inlined as
    E-notation literals (full double round-trip precision), identical
    sequential-fold dot products via the shared dot_sql builder, identical
    argmax tie-break (score DESC, cell ASC = Spark's strict-> first-max
    fold), identical survivor-priority comparison at FULL precision (the
    ROUND(…,4) happens only on the emitted column, never in a comparison, on
    both sides). With pq_art, the twin replays the ADC pre-filter too: the
    same pq_encode_sql codes over the same unit projection, the same
    pq_dot_tables literals summed in the same subspace order, the same
    threshold−margin cut and NULL-code bypass — so the screened pair set is
    decision-identical, not approximately equal. (The max_cell_rows split is
    NOT modeled: the sf0.01 oracle corpus sits far below any sane bound.)"""

    def lit(c: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in c) + "]"

    d = dot_sql("embedding", "embedding")
    score_exprs = []
    for c in centroids:
        cn = float(np.sqrt(np.dot(c, c))) or 1.0  # same norm as _cell_scores
        score_exprs.append(f"{dot_sql('embedding', lit(c))} / {cn:.17e}")
    scores = ", ".join(score_exprs)
    cells = ", ".join(str(i + 1) for i in range(len(centroids)))
    enc_cte = ""
    pair_src = "asg"
    screen = ""
    if pq_art is not None:
        from wikidataquality_spark.operators.pq import pq_encode_sql

        tabs = pq_dot_tables(pq_art)
        kk = pq_art["k"]
        cut = threshold - adc_margin
        sdc = "0.0"
        for j, tab in enumerate(tabs):
            tl = "[" + ",".join(repr(float(x)) for x in tab) + "]"
            sdc = f"({sdc} + {tl}[r.code[{j + 1}] * {kk} + n.code[{j + 1}] + 1])"
        enc_cte = f""",
enc AS (
  SELECT *, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS unit
  FROM asg
),
cod AS (
  SELECT {id_col}, embedding, nrm, cell, csim,
         {pq_encode_sql(pq_art, 'unit')} AS code
  FROM enc
)"""
        pair_src = "cod"
        screen = (
            f"\n    AND (r.code IS NULL OR n.code IS NULL OR {sdc} >= {cut!r})"
        )
    return f"""
WITH v AS (
  SELECT {id_col}, embedding, sqrt({d}) AS nrm
  FROM {table}
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    AND len(list_filter(embedding, x -> x IS NOT NULL)) = {dim}
    AND NOT isnan({d}) AND {d} > 0
),
sc AS (
  SELECT {id_col}, embedding, nrm,
         unnest([{scores}]) AS score,
         unnest([{cells}]) AS cell
  FROM v
),
asg AS (
  SELECT {id_col}, embedding, nrm, CAST(cell AS BIGINT) AS cell,
         score / nrm AS csim
  FROM (SELECT *, row_number() OVER (PARTITION BY {id_col}
                                     ORDER BY score DESC, cell) AS rn
        FROM sc)
  WHERE rn = 1
){enc_cte},
losers AS (
  SELECT DISTINCT r.{id_col} AS dup_id
  FROM {pair_src} r JOIN {pair_src} n ON r.cell = n.cell
  WHERE (n.csim < r.csim OR (n.csim = r.csim AND n.{id_col} < r.{id_col})){screen}
    AND ({dot_sql('n.embedding', 'r.embedding')} / (n.nrm * r.nrm)) >= {threshold}
)
SELECT a.{id_col}, a.cell, ROUND(a.csim, 4) AS centroid_sim,
       (l.dup_id IS NOT NULL) AS is_semdup
FROM asg a LEFT JOIN losers l ON a.{id_col} = l.dup_id
"""
