"""Measure MinHash-LSH banding recall/precision vs EXACT shingle Jaccard.

Companion evidence to tools/ivf_recall.py and tools/pq_recall.py for the
lexical near-dup path (operators/dedup.py): the banding (16 bands × 8 rows
over 128 minhashes of k=3 word shingles) CANDIDATES duplicates on bucket
collision, then the verify stage (r04 VERDICT #2) confirms each
candidate pair by signature component agreement (matches ≥
MINHASH_VERIFY_MIN_EQ of 128 — the unbiased Jaccard estimator). This tool
replays the SAME signature code the Spark UDF runs (_shingle_hashes/
_minhash_sig — bit-identical by construction, and parity-gated against the
frozen fixtures in tests), computes exact Jaccard over the true shingle
SETS for every doc pair of a bounded corpus slice, and reports BOTH
per-similarity-bin collision rates (candidate recall, vs the theoretical
S-curve 1-(1-s^r)^b) and post-verify admission rates — the evidence that
verify kills the J<0.5 admissions without touching recall at J≥0.8.

Ground truth is Jaccard over the signature's OWN shingle universe
(lowercased whitespace tokens, k=3 rolling-mix shingles) — measuring
against a different tokenization (e.g. the PPJoin query's raw-split grams)
would conflate banding quality with tokenizer disagreement.

Prints one JSON line; with --write saves tools/minhash_recall.json, which
tools/plan_audit.py renders into PLANS.md on its next run.

Usage: python tools/minhash_recall.py [sf_dir] [--write]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MAX_DOCS = 1200  # exact all-pairs truth is O(N²) — bounded by design
BINS = [(0.3, 0.5), (0.5, 0.6), (0.6, 0.7), (0.7, 0.8), (0.8, 0.9), (0.9, 1.01)]


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--write"]
    write = "--write" in sys.argv
    from wikidataquality_spark.tables import DEFAULT_SF_DIR

    sf_dir = args[0] if args else DEFAULT_SF_DIR

    import pyarrow.parquet as pq_

    from wikidataquality_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_ROWS,
        MINHASH_VERIFY_MIN_EQ,
        _minhash_sig,
        _shingle_hashes,
        minhash_params,
    )

    t = (
        pq_.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        .to_pandas()
        .sort_values("doc_id")
        .head(MAX_DOCS)
    )
    a, b = minhash_params()
    vocab: dict[str, int] = {}
    shingle_sets: list[frozenset] = []
    sigs: list[np.ndarray] = []
    for text in t["text"]:
        tokens = text.lower().split() if text else []
        if not tokens:  # the operator exempts contentless docs — mirror it
            continue
        base = _shingle_hashes(tokens, vocab)
        shingle_sets.append(frozenset(base.tolist()))
        sigs.append(_minhash_sig(base, a, b))
    n = len(shingle_sets)

    # band buckets exactly as band_keys_sql() groups them: (band index, row tuple)
    buckets: dict[tuple, set[int]] = {}
    for i, sig in enumerate(sigs):
        for bd in range(MINHASH_BANDS):
            key = (bd, tuple(sig[bd * MINHASH_ROWS : (bd + 1) * MINHASH_ROWS]))
            buckets.setdefault(key, set()).add(i)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) > 1:
            ms = sorted(members)
            cand.update((x, y) for xi, x in enumerate(ms) for y in ms[xi + 1 :])

    # exact Jaccard for every pair (bounded N keeps this a few seconds)
    bin_tot = [0] * len(BINS)
    bin_hit = [0] * len(BINS)
    bin_ver = [0] * len(BINS)  # collided AND verified (the operator's drop set)
    cand_true = 0  # candidates with J ≥ 0.7 (the banding's design point)
    ver_true = 0
    for i in range(n):
        si = shingle_sets[i]
        for j in range(i + 1, n):
            sj = shingle_sets[j]
            inter = len(si & sj)
            if not inter:
                continue
            jac = inter / (len(si) + len(sj) - inter)
            is_cand = (i, j) in cand
            verified = is_cand and int((sigs[i] == sigs[j]).sum()) >= MINHASH_VERIFY_MIN_EQ
            if jac >= 0.7:
                cand_true += is_cand
                ver_true += verified
            for k, (lo, hi) in enumerate(BINS):
                if lo <= jac < hi:
                    bin_tot[k] += 1
                    bin_hit[k] += is_cand
                    bin_ver[k] += verified
                    break

    # --- planted-perturbation sweep -------------------------------------
    # The synthetic corpus's only true near-dups are exact-ish copies
    # (J ≥ 0.9): every mid-similarity bin above is empty, which says nothing
    # about the banding's S-curve. Plant controlled twins: replace a
    # deterministic fraction of tokens with novel ones, sweeping the
    # replacement rate so base↔twin pairs land across J ≈ 0.25-0.95, and
    # measure collision per measured-J bin exactly as above.
    rng = np.random.default_rng(11)
    rates = (0.01, 0.02, 0.04, 0.06, 0.09, 0.13, 0.18, 0.25)
    p_tot = [0] * len(BINS)
    p_hit = [0] * len(BINS)
    p_ver = [0] * len(BINS)
    texts = [x for x in t["text"] if x and len(x.split()) >= 30][:400]
    for di, text in enumerate(texts):
        tokens = text.lower().split()
        base = _shingle_hashes(tokens, vocab)
        s_base, sig_base = frozenset(base.tolist()), _minhash_sig(base, a, b)
        rate = rates[di % len(rates)]
        twin = list(tokens)
        n_rep = max(1, int(rate * len(twin)))
        for pos in rng.choice(len(twin), size=n_rep, replace=False):
            twin[pos] = f"__planted_{di}_{pos}"
        tb = _shingle_hashes(twin, vocab)
        s_twin, sig_twin = frozenset(tb.tolist()), _minhash_sig(tb, a, b)
        inter = len(s_base & s_twin)
        jac = inter / (len(s_base) + len(s_twin) - inter)
        collide = any(
            tuple(sig_base[bd * MINHASH_ROWS : (bd + 1) * MINHASH_ROWS])
            == tuple(sig_twin[bd * MINHASH_ROWS : (bd + 1) * MINHASH_ROWS])
            for bd in range(MINHASH_BANDS)
        )
        verified = collide and int((sig_base == sig_twin).sum()) >= MINHASH_VERIFY_MIN_EQ
        for k, (lo, hi) in enumerate(BINS):
            if lo <= jac < hi:
                p_tot[k] += 1
                p_hit[k] += collide
                p_ver[k] += verified
                break

    r, nb = MINHASH_ROWS, MINHASH_BANDS
    out = {
        "metric": "minhash_band_collision_recall",
        "n_docs": n,
        "sf_dir": sf_dir,
        "bands": nb,
        "rows": r,
        "n_candidate_pairs": len(cand),
        "verify_min_eq": MINHASH_VERIFY_MIN_EQ,
        "precision_at_070": round(cand_true / len(cand), 3) if cand else None,
        "verified_true_at_070": ver_true,
        "candidate_true_at_070": cand_true,
        "bins": {
            f"{lo:.1f}-{min(hi, 1.0):.1f}": {
                "pairs": bin_tot[k],
                "recall": round(bin_hit[k] / bin_tot[k], 3) if bin_tot[k] else None,
                "verified_recall": round(bin_ver[k] / bin_tot[k], 3) if bin_tot[k] else None,
                "planted_pairs": p_tot[k],
                "planted_recall": round(p_hit[k] / p_tot[k], 3) if p_tot[k] else None,
                "planted_verified": round(p_ver[k] / p_tot[k], 3) if p_tot[k] else None,
                "theory": round(1.0 - (1.0 - ((lo + min(hi, 1.0)) / 2) ** r) ** nb, 3),
            }
            for k, (lo, hi) in enumerate(BINS)
        },
    }
    print(json.dumps(out))
    if write:
        with open(os.path.join(REPO, "tools", "minhash_recall.json"), "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
