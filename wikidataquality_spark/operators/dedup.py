"""Corpus-level deduplication (SURVEY.md §2A#7, §2B "Dedup").

Parity: UniqueValueChecker (ref≈includes/ConstraintCheck/Checker/
UniqueValueChecker.php:~30-80) — the one reference rule that is cross-row.
The reference answered it with per-value SQL point lookups; at 10^12 docs the
Spark-native answer is a shuffle:

  exact_dedup:   two text hashes → window(row_number) → keep first
                 (1 corpus shuffle)
  minhash_dedup: MinHash UDF → band window → candidate pairs re-fetched
                 through a broadcast left_semi (_pair_payloads) → verify →
                 left_anti drop of the verified ids (planned as a
                 sort-merge join, so it shuffles the input rows unless AQE
                 broadcasts the dropped-id side)
  dup_marks:     exact window + band window + one flag groupBy(id); the
                 flag rows rejoin through a broadcast (3 shuffles)

Survivor choice is a deterministic TOTAL order (min url, SURVEY §7 hard-#3),
so results are invariant under repartitioning — verified by property test.

Scale notes (10^12 docs / 1000 executors):
  - dup_marks (what validate() and curate() run) never shuffles a document
    body: its three exchanges read the narrow keyed projection (_keyed: id,
    the 16-byte hash pair, the signature), and only the sparse flag rows
    come back, through a broadcast hash join. With string ids (urls) that
    projection is sorted by id inside each map partition, so the exact and
    band windows write their blocks in url order and the shuffle codec
    reuses each url's prefix from the row before it; integer ids gain
    nothing from the sort and skip it. exact_dedup DROPS rows, so its
    window partitions the whole rows, bodies included; a caller that only
    needs the decision should use dup_marks.
  - MinHash banding emits B rows per doc (B band keys). Nothing bounds
    the skew of the dedup windows yet: every survivor choice (exact
    `(_h, _h2)`, `_band_key`, recrawl canonical url) is a window, AQE splits
    skewed joins but not windows, and identical signatures land in the same
    band bucket. So the largest task grows with the largest duplicate
    cluster (a boilerplate page crawled millions of times is one task), not
    with N/P. `repartition_by_host_salted` salts hot hosts for host-keyed
    repartitions only; the dedup windows do not use it (ROADMAP item 6).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wikidataquality_spark.rules.model import sql_ident

# Fingerprint-state format tag for the EXACT kind. v1 rows carried
# k2=length(text); v2 carries the independent second hash xxhash64(1, text).
# The kind string embeds the version so a stale persisted state table is
# DETECTED (unknown kind -> loud error in incremental_validate) instead of
# silently matching nothing.
STATE_EXACT_KIND = "exact2"
# Band kind v2: the r04 dedup-correctness sweep changed band-fingerprint
# SEMANTICS (positional sub-k shingle combiner for short docs, NULL
# signature for token-less text), so pre-sweep band rows no longer match
# the keys the same text hashes to today. Embedding the version in the
# kind makes such stale state fail LOUDLY in incremental_validate's
# unknown-kind check instead of silently matching nothing (r04 review).
STATE_BAND_KIND = "band2"
STATE_KINDS = (STATE_EXACT_KIND, STATE_BAND_KIND)

# MinHash geometry: H hashes = B bands × R rows. Jaccard threshold ≈ (1/B)^(1/R)
# → B=16, R=8 ⇒ ~0.71; near-dup pairs (1 sentence changed of ~6) sit well above.
MINHASH_H = 128
MINHASH_BANDS = 16
MINHASH_ROWS = 8
SHINGLE_K = 3

# Verify stage (r04 VERDICT #2): a bucket-collided candidate pair is only
# dropped when ≥ this many of its H=128 signature components agree. The
# component-agreement fraction is the standard unbiased Jaccard estimator
# (each minhash component matches with probability exactly J), conditioned
# here on the collided band's R=8 forced-equal components, so
# E[matches] ≈ R + (H−R)·J with σ = √(J(1−J)(H−R)) ≈ 5.6 components.
# 80/128 = 0.625 sits between the low-J admissions the r04 planted sweep
# measured and the banding's design point ≈0.71:
#   J=0.45 → E≈62, 3.1σ below 80  (the 0.3–0.5 bin's 2.5% admissions → ≈0)
#   J=0.50 → E≈68, 2.0σ below 80  (~2% of collided pairs still admitted)
#   J=0.80 → E≈104, 4.5σ above 80 (recall at the design point unchanged)
# Integer-count comparison (not a fraction) so the DuckDB oracle twin is
# decision-identical with no float-literal parity concerns.
MINHASH_VERIFY_MIN_EQ = 80

_MERSENNE_P = np.uint64((1 << 61) - 1)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "url"
) -> DataFrame:
    """Keep the minimum-id row per identical text. The window partitions by
    TWO independently-seeded 64-bit hashes (xxhash64(text) and
    xxhash64(1, text) — the leading literal changes the seed of the text
    fold, so a collision in one does not imply a collision in the other), so
    the shuffle key is 16 bytes, not the document, and the false-drop
    probability per pair is ~2⁻¹²⁸ — ~10⁻¹⁵ expected false pairs even at
    10¹² docs, where a single 64-bit key would yield ~10⁴ real collisions.

    NULL text (extraction failures) is exempt from dedup: unknown content is
    not 'identical' content — without the exemption every NULL-text doc
    shares one hash partition and all but one would be silently dropped.
    Exemption happens BEFORE the window (filter + union back), not as an
    escape clause after it: xxhash64(NULL) is a constant, so a corpus with
    millions of extraction failures would otherwise sort its entire NULL
    population in one straggler window partition just to discard the rank."""
    w = W.partitionBy(
        F.xxhash64(text_col), F.xxhash64(F.lit(1), F.col(text_col))
    ).orderBy(id_col)
    nn = F.col(text_col).isNotNull()
    deduped = (
        df.filter(nn)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.unionByName(df.filter(~nn))


def has_dedupable_content(text_col: str | Column) -> Column:
    """Cheap SOUND pre-filter for near-dup participation: non-NULL text with
    at least one ASCII-visible char. Contentless docs (NULL or token-less
    text) carry no content signal — their signatures would collapse to
    constants, so byte-different contentless docs would near-dup each other
    and all but the min-id survivor would be silently dropped (r04 review).

    This predicate is deliberately only a PRE-filter: Java's '\\S' uses
    ASCII character classes, so a doc of unicode whitespace (NBSP,
    ideographic space) passes it even though Python split() — the
    signature tokenizer — yields zero tokens. The AUTHORITATIVE exemption
    is `signature IS NULL`: the UDFs emit NULL for token-less text, so the
    gate is defined by the tokenizer itself and cannot drift from it.
    Soundness (never excludes a tokenful doc) holds because Java's \\s set
    is a subset of Python's whitespace set."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return col.isNotNull() & col.rlike(r"\S")


def _hash_params(seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE_P, size=MINHASH_H, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE_P, size=MINHASH_H, dtype=np.uint64)
    return a, b


def _fnv64(s: str) -> int:
    h = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


# order-sensitive shingle combiner constants (odd → bijective under mod 2^64)
_SHINGLE_MIX = np.array([0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9], dtype=np.uint64)


def _shingles_from_hashes(th: np.ndarray) -> np.ndarray:
    """k-gram shingle hashes from per-token hashes (rolling xor-mix)."""
    if len(th) < SHINGLE_K:
        # sub-k docs collapse to ONE shingle, combined with the SAME
        # position multipliers as the full path — a plain th.sum() was
        # order-insensitive, so 'river bank' and 'bank river' produced
        # identical signatures and near-dup'd each other (r04 review).
        # Zero-token docs keep the constant 0, but callers EXEMPT them
        # from dedup entirely (contentless ≠ duplicate content).
        if not len(th):
            return np.array([0], dtype=np.uint64)
        acc = np.zeros(1, dtype=np.uint64)
        for j in range(len(th)):
            # array (not scalar) multiply: uint64 wraparound is the intended
            # modulus and numpy only warns on SCALAR overflow
            acc ^= th[j : j + 1] * _SHINGLE_MIX[j]
        return acc
    n_sh = len(th) - SHINGLE_K + 1
    acc = np.zeros(n_sh, dtype=np.uint64)
    for j in range(SHINGLE_K):
        acc ^= th[j : j + n_sh] * _SHINGLE_MIX[j]
    return acc


def _shingle_hashes(tokens: list[str], vocab: dict[str, int]) -> np.ndarray:
    """k-word shingle hashes: memoized per-token FNV + vectorized rolling mix.
    The token-hash cache amortizes hashing to once per distinct token per
    batch (Zipf'd corpora → tiny working set)."""
    th = np.fromiter(
        (vocab[t] if t in vocab else vocab.setdefault(t, _fnv64(t)) for t in tokens),
        dtype=np.uint64,
        count=len(tokens),
    )
    return _shingles_from_hashes(th)


def _minhash_sig(base: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    # (a*x + b) mod 2^64 with odd a — multiply-shift hash family; uint64
    # wraparound is the modulus. min over shingles per hash function.
    vals = a[:, None] * base[None, :] + b[:, None]
    return vals.min(axis=1).astype(np.int64)


def minhash_sig_series(
    texts: pd.Series, a: np.ndarray, b: np.ndarray, vocab: dict[str, int]
) -> pd.Series:
    """Signatures for one batch (shared by minhash_udf and the fused enrich
    stage — operators/enrich.py — so the algorithm, and therefore every
    near-dup decision, is bit-identical on both paths).

    Per-token hashing is memoized in `vocab`, which the caller keeps alive
    across batches — each distinct token is FNV-hashed once per worker
    lifetime. (Two batch-vectorized variants were tried and measured SLOWER
    than this loop: a batch-wide factorize — building the flat token list
    costs more than the residual dict lookups — and a blocked
    minimum.reduceat over concatenated shingles — the non-contiguous
    per-doc column extraction eats the saving.)"""
    sigs = []
    for t in texts:
        if t is None:
            sigs.append(None)
            continue
        tokens = t.lower().split()
        if not tokens:
            # NULL signature for token-less text: the TOKENIZER itself
            # defines contentlessness, so downstream exemptions gate on
            # `signature IS NULL` and can never disagree with it. (A
            # Spark-side regex gate can: Java '\\S' uses ASCII classes, so
            # an NBSP-only doc passes rlike('\\S') while Python split()
            # yields zero tokens — r04 review.)
            sigs.append(None)
            continue
        base = _shingle_hashes(tokens, vocab)
        sigs.append(_minhash_sig(base, a, b).tolist())
    return pd.Series(sigs, index=texts.index)


def minhash_params() -> tuple[np.ndarray, np.ndarray]:
    a, b = _hash_params()
    return a | np.uint64(1), b  # odd multipliers


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    a, b = minhash_params()  # once per task
    vocab: dict[str, int] = {}
    for texts in batches:
        yield minhash_sig_series(texts, a, b, vocab)


def band_keys_sql(sig_name: str) -> str:
    """B band keys per signature as a SQL array expression:
    xxhash64(band_index, signature slice). String composition avoids ~3 py4j
    round trips per band per plan construction — driver-serial time
    (rules/model.CheckExpr)."""
    qsig = sql_ident(sig_name)
    keys = ", ".join(
        f"xxhash64({i}, slice({qsig}, {i * MINHASH_ROWS + 1}, {MINHASH_ROWS}))"
        for i in range(MINHASH_BANDS)
    )
    return f"array({keys})"


# One row per band key of `_sig`. Explode of the CASE: NULL-signature
# (token-less) rows emit no band rows without a filter on the UDF output,
# which would re-extract the UDF into a second ArrowEvalPython stage (filter
# + projection each evaluate it) — the CASE keeps ONE consumer.
_EXPLODE_BANDS = f"explode(CASE WHEN _sig IS NOT NULL THEN {band_keys_sql('_sig')} END)"


def sig_match_count(a: Column, b: Column) -> Column:
    """Number of equal components between two minhash signatures — pure JVM
    higher-order functions, no Python stage. matches/H is the classic
    unbiased Jaccard estimator (Broder '97)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _keyed(
    df: DataFrame, text_col: str, id_col: str, sig_col: str | None
) -> DataFrame:
    """The narrow keyed projection every MinHash flag and fingerprint reads:
    (id, _h, _h2, _sig) over non-NULL text. _h/_h2 are the two independently
    seeded 64-bit text hashes of the exact window (the leading literal in
    xxhash64(1, text) changes the seed of the text fold); _sig is `sig_col`
    when the caller already carries signatures (the fused enrich stage —
    then no python stage runs here at all), else one minhash_udf pass.

    NULL text is exempt (unknown content is not duplicate content):
    xxhash64(NULL) is a CONSTANT and band keys of a NULL signature collapse
    to xxhash64(band_i), so without the filter every extraction-failure doc
    would flag as a dup of unrelated pages. Token-less text keeps its row
    (byte-IDENTICAL whitespace pages ARE legitimately exact dups) but has a
    NULL _sig, so it emits no band rows: the near exemption is defined by
    the tokenizer itself (a regex gate diverged on unicode whitespace).

    String ids (the urls validate(), incremental_validate and --resume key
    on) are sorted within each partition: the rows then reach the exact and
    band exchanges in url order, adjacent urls share long prefixes, and the
    zstd-compressed map output shrinks (crawl-warc band window −15%). The
    sort is local — no exchange — and no decision reads row order. Integer
    ids (curate's doc_id) compress no better sorted (curate-funnel's band
    window grew), so they keep input order."""
    qtext = sql_ident(text_col)
    sig = F.col(sig_col) if sig_col is not None else minhash_udf(F.col(text_col))
    keyed = df.where(f"{qtext} IS NOT NULL").select(
        F.col(id_col),
        F.expr(f"xxhash64({qtext})").alias("_h"),
        F.expr(f"xxhash64(1, {qtext})").alias("_h2"),
        sig.alias("_sig"),
    )
    if isinstance(df.schema[id_col].dataType, T.StringType):
        keyed = keyed.sortWithinPartitions(id_col)
    return keyed


def _band_candidates(
    sigs: DataFrame, id_col: str, state: DataFrame | None = None
) -> DataFrame:
    """The band window: (id, _keep_id) for every batch row that shares an
    LSH band bucket with a row it does not survive. `sigs` carries (id,
    _sig); each signature explodes to B (band key, id) rows, and
    min(id) OVER (PARTITION BY _band_key) picks the bucket's survivor — ONE
    narrow exchange, no groupBy + self-join.

    `state` band rows (dup_fingerprints schema) join the same buckets and
    sort first: a bucket holding ANY state row flags every batch row in it
    (the already-written copy survives); otherwise the min id within the
    batch survives. The state flag piggybacks on the same window
    partitioning — no extra shuffle. Rows of such a bucket may carry
    id == _keep_id (the batch min); they are candidates all the same."""
    qid = sql_ident(id_col)
    bands = sigs.selectExpr(qid, f"{_EXPLODE_BANDS} AS _band_key", "FALSE AS _from_state")
    if state is not None:
        bands = bands.unionByName(
            state.filter(F.col("kind") == STATE_BAND_KIND).select(
                F.col(id_col),
                F.col("k1").alias("_band_key"),
                F.lit(True).alias("_from_state"),
            )
        )
    return (
        bands.selectExpr(
            qid,
            "_from_state",
            f"min({qid}) OVER (PARTITION BY _band_key) AS _keep_id",
            "max(CASE WHEN _from_state THEN 1 ELSE 0 END)"
            " OVER (PARTITION BY _band_key) AS _has_state",
        )
        .filter(f"(_has_state = 1 OR {qid} != _keep_id) AND (NOT _from_state)")
        .select(id_col, "_keep_id")
    )


def _pair_payloads(
    pairs: DataFrame,
    rows: DataFrame,
    id_col: str,
    other_col: str,
    payload: dict[str, Column],
) -> DataFrame:
    """The verify re-fetch shared by minhash_dedup and semdedup_marks:
    candidate pairs (id_col, other_col) → the same pairs with each side's
    payload, `_a<name>` for id_col's row and `_b<name>` for other_col's.

    The id union of both pair sides broadcast-semi-joins `rows`, so only
    candidate rows are re-read and the payload (a signature UDF, a vector
    and its norm) is computed ONCE per candidate id; that one payload frame
    is broadcast and joined, aliased, to both pair sides, so the second join
    reuses the first join's broadcast exchange. Both frames are
    candidate-scale, so neither join moves the corpus — but a corpus that is
    MOSTLY duplicates makes them corpus-scale, and the broadcast hints (kept
    here, in one place) are then the thing to revisit."""
    ids = (
        pairs.select(id_col)
        .unionByName(pairs.select(F.col(other_col).alias(id_col)))
        .distinct()
    )
    fetched = F.broadcast(
        rows.join(F.broadcast(ids), id_col, "left_semi").select(
            F.col(id_col), *[c.alias(n) for n, c in payload.items()]
        )
    )
    a, b = fetched.alias("_a"), fetched.alias("_b")
    return (
        pairs.alias("_p")
        .join(a, F.col(f"_p.{id_col}") == F.col(f"_a.{id_col}"))
        .join(b, F.col(f"_p.{other_col}") == F.col(f"_b.{id_col}"))
        .select(
            F.col(f"_p.{id_col}"),
            F.col(f"_p.{other_col}"),
            *[F.col(f"{s}.{n}").alias(f"{s}{n}") for s in ("_a", "_b") for n in payload],
        )
    )


def minhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "url"
) -> DataFrame:
    """Drop near-duplicates: a row is dropped when an LSH band bucket
    contains a row with a smaller id (deterministic min-id survivor per
    bucket) AND the pair's signature component agreement confirms the
    similarity (≥ MINHASH_VERIFY_MIN_EQ of H=128 components equal; see its
    derivation).

    Why THIS operator verifies (r04 VERDICT #2): dropping is
    unrecoverable, and the measured planted sweep showed band collisions at
    J 0.3–0.5 admitting ~2.5% of pairs — at 10¹² docs that is wrongly
    deleted documents. SimHash (simhash_dedup) and the media hashes already
    verify inline; this closes the one dedup family that marked on bucket
    collision alone. The flag variant (dup_marks) keeps collision
    semantics, and its flags DROP too: validate()'s HARD rule
    `unique_value.near_dup` and curate()'s `_dup_drop` delete every flagged
    row, unverified (ROADMAP item 3). Its incremental state rows
    (STATE_BAND_KIND) carry band keys only — verified flags against state
    would need a signature-bearing state kind, the documented v3 upgrade
    path.

    Plan shape: one pandas-UDF projection (signatures), the band window
    shared with dup_marks (_band_candidates) — ONE narrow exchange, single
    UDF consumer (r04 review) — then candidate PAIRS (id, keep_id) re-fetch
    their signatures through _pair_payloads: one re-run of the UDF over
    candidate rows only, each candidate id signed once (candidates are the
    dup-ish fraction of the corpus, so the second UDF pass touches few docs
    and the sig frame broadcasts; a corpus that is MOSTLY duplicates should
    budget for candidate-scale shuffles, or take collision-only flags from
    dup_marks). Greedy min-anchor caveat shared with simhash_dedup:
    verification is against the bucket's anchor specifically, so a chain
    A<B<C where C resembles B but not A keeps C when A anchors every shared
    bucket — collision-only flags mark C on B's bucket alone.
    """
    # contentless docs (NULL or token-less text) are exempt: the rlike is a
    # cheap sound pre-filter, the NULL-signature band explode is the
    # tokenizer-defined authority — see has_dedupable_content
    content = df.filter(has_dedupable_content(text_col))
    sigs = content.select(F.col(id_col), minhash_udf(F.col(text_col)).alias("_sig"))
    cand = (
        _band_candidates(sigs, id_col)
        .filter(F.col(id_col) != F.col("_keep_id"))
        .distinct()
    )
    # candidates re-sign once each (one candidate-only UDF pass), then both
    # pair sides read that one broadcast frame
    dropped = (
        _pair_payloads(
            cand, content, id_col, "_keep_id", {"sig": minhash_udf(F.col(text_col))}
        )
        .filter(
            sig_match_count(F.col("_asig"), F.col("_bsig"))
            >= F.lit(MINHASH_VERIFY_MIN_EQ)
        )
        .select(id_col)
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")


def dup_marks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    sig_col: str | None = None,
    state: DataFrame | None = None,
) -> DataFrame:
    """Non-destructive variant: annotate rows with is_exact_dup / is_near_dup
    flags so the rule layer can emit violation records instead of dropping.

    Shuffle hygiene: both flag computations run on the narrow keyed
    projection (_keyed: id + 16-byte hash + 1KB signature) — document bodies
    never enter a shuffle. String ids arrive sorted within each map
    partition (_keyed says why), so both windows' map output is written in
    url order and compresses better; integer ids are left unsorted, since
    sorting them shrinks nothing. When the caller already carries minhash
    signatures (the fused enrich stage emits them — pass sig_col), NO python
    stage runs here at all.

    Plan shape: one shuffle for the exact window, one for the band window
    (_band_candidates, shared with minhash_dedup), and one groupBy(id) over
    the union of both windows' rows that builds the two flags together.

    `state` (optional) makes the operator INCREMENTAL: a fingerprint table of
    previously-processed documents (schema of `dup_fingerprints`: id, kind
    STATE_EXACT_KIND|STATE_BAND_KIND, k1, k2) is unioned into both flag windows, so a
    new batch is deduplicated against the whole corpus seen so far without
    re-reading any document body. The production analogue at 10^12 docs is an
    Iceberg fingerprint table keyed by (kind, k1) that successive crawl
    snapshots append to — state rows are ~24 bytes/doc·(1+B bands), and only
    they shuffle. Survivor precedence: a state match ALWAYS flags the batch
    copy (the already-written document survives); among batch rows the min
    id wins. Flags therefore equal the global batch computation whenever
    ingest order respects the survivor total order (every state id precedes
    every batch id — streaming/windows.py enforces this), and degrade to
    written-copy-wins otherwise (partition resume). State rows whose id
    collides with a batch id are dropped first, so a retried batch
    (exactly-once resume) never flags itself.

    The flag rows rejoin the input through a broadcast. They are SPARSE:
    only rows that ARE duplicates enter it — a row absent from the flag set
    is non-dup by construction (left join + false fill). The dup set is a
    small fraction of a typical corpus, so the driver-side broadcast build
    (the one serial step of the whole dedup stage — measured ~1.5s for a
    dense 200k-row build) shrinks with the dup rate."""
    qid = sql_ident(id_col)
    # SQL-string plan construction (one selectExpr per step instead of a py4j
    # round trip per sub-expression) — dup_marks cost ~0.35s of driver-serial
    # plan-build time per invocation the Column way (rules/model.CheckExpr).
    keyed = _keyed(df, text_col, id_col, sig_col)
    if state is not None:
        state = state.join(keyed.select(id_col), id_col, "left_anti")

    # exact identity = BOTH independently-seeded 64-bit hashes equal:
    # false-positive probability ~2⁻¹²⁸ per pair — negligible at 10¹² docs,
    # where a single 64-bit key yields ~10⁴ real collisions and each one
    # silently drops a unique document.
    exact_in = keyed.selectExpr(qid, "_h", "_h2", "FALSE AS _from_state")
    if state is not None:
        exact_in = exact_in.unionByName(
            state.filter(F.col("kind") == STATE_EXACT_KIND).select(
                F.col(id_col),
                F.col("k1").alias("_h"),
                F.col("k2").alias("_h2"),
                F.lit(True).alias("_from_state"),
            )
        )
    # id-level aggregation (bool_and): an id is an exact dup only when EVERY
    # instance is a non-survivor. With unique ids (the data-model contract)
    # this is the plain per-row flag; with a re-crawled id appearing twice,
    # the per-instance flags would otherwise rejoin onto BOTH instances and
    # drop the survivor itself. The band candidates join the same groupBy
    # with a NULL _inst_dup, which bool_and skips: every candidate id also
    # has exact rows, so its exact flag is unchanged.
    # Survivor order: state rows sort FIRST (`_from_state DESC` — an
    # already-written copy always wins), THEN min id. Under the streaming
    # survivor-order precondition (every state id < every batch id) this is
    # identical to plain min-id — but a partition-resume caller (run_pipeline
    # --resume) feeds state whose ids are arbitrary relative to the batch,
    # and ordering by id alone would leave BOTH copies kept whenever the
    # unwritten copy's id sorts first.
    exact = (
        exact_in.selectExpr(
            qid,
            "_from_state",
            "(row_number() OVER (PARTITION BY _h, _h2 "
            f"ORDER BY _from_state DESC, {qid})) > 1 AS _inst_dup",
        )
        .filter("NOT _from_state")
        .selectExpr(qid, "_inst_dup", "FALSE AS _near")
    )
    near = _band_candidates(keyed, id_col, state).selectExpr(
        qid, "CAST(NULL AS BOOLEAN) AS _inst_dup", "TRUE AS _near"
    )
    flags = (
        exact.unionByName(near)
        .groupBy(id_col)
        .agg(
            F.expr("bool_and(_inst_dup)").alias("is_exact_dup"),
            F.expr("bool_or(_near)").alias("is_near_dup"),
        )
        .filter("is_exact_dup OR is_near_dup")
    )
    out = df.join(F.broadcast(flags), id_col, "left")
    return out.withColumns(
        {
            "is_exact_dup": F.expr("coalesce(is_exact_dup, FALSE)"),
            "is_near_dup": F.expr("coalesce(is_near_dup, FALSE)"),
        }
    )


def dup_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    sig_col: str | None = None,
) -> DataFrame:
    """Fingerprint rows for the incremental-dedup state table (`dup_marks`
    state= input): per doc, one 'exact' row (k1 = xxhash64(text),
    k2 = xxhash64(1, text) — the independent second hash of the exact
    window) plus one band-kind row per LSH band key (k2 = 0). ~24 bytes ×
    (1 + B) rows per document — the only thing a later batch needs to dedup
    against this one; document bodies never persist into state. Built from
    dup_marks' own keyed projection, so NULL-text docs emit no fingerprints
    and token-less docs no BAND fingerprints — state and batch stay
    aligned by construction."""
    qid = sql_ident(id_col)
    keyed = _keyed(df, text_col, id_col, sig_col)
    exact = keyed.selectExpr(
        qid, f"'{STATE_EXACT_KIND}' AS kind", "_h AS k1", "_h2 AS k2"
    )
    band = keyed.selectExpr(
        qid, f"'{STATE_BAND_KIND}' AS kind", f"{_EXPLODE_BANDS} AS k1", "0L AS k2"
    )
    return exact.unionByName(band)


# ---------------------------------------------------------------------------
# SimHash near-dup (the third dedup family: exact / MinHash-Jaccard / SimHash-
# cosine-of-token-multisets). 64-bit signature; Hamming distance ≤ k ⇒ near-dup.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # pigeonhole: hamming ≤ SIMHASH_BANDS-1 ⇒ ≥1 identical band
SIMHASH_MAX_HAMMING = 3

_BIT_SHIFTS = np.arange(SIMHASH_BITS, dtype=np.uint64)


@F.pandas_udf(T.LongType())
def simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over the token multiset: each token votes ±1 per bit
    position by its 64-bit hash; the sign vector packs into one long.
    Memoized per-token hashing (same cache discipline as minhash_udf)."""
    vocab: dict[str, int] = {}
    for texts in batches:
        out = np.zeros(len(texts), dtype=np.int64)
        mask = np.zeros(len(texts), dtype=bool)
        for i, t in enumerate(texts):
            if t is None:
                continue
            tokens = t.lower().split()
            if not tokens:
                # NULL signature for token-less text — same tokenizer-
                # defined exemption contract as minhash_sig_series
                continue
            mask[i] = True
            th = np.fromiter(
                (vocab[w] if w in vocab else vocab.setdefault(w, _fnv64(w)) for w in tokens),
                dtype=np.uint64,
                count=len(tokens),
            )
            bits = ((th[:, None] >> _BIT_SHIFTS) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for b in np.nonzero(votes >= 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out[i] = sig.astype(np.int64)
        # nullable Int64, NOT .where(..., None): int64→float64 promotion would
        # round 64-bit signatures to 53-bit mantissas, batch-layout-dependently
        s = pd.Series(out, index=texts.index).astype("Int64")
        s[~mask] = pd.NA
        yield s


def hamming_band_keys(sig: str | Column, n_bands: int) -> Column:
    """n_bands keys of a 64-bit hash, 64/n_bands bits each, tagged by band
    index so different bands never collide into the same bucket. Any pair
    within Hamming distance n_bands − 1 shares at least one key
    (pigeonhole) — the candidate bound of SimHash and the media hashes."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    width = 64 // n_bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.shiftrightunsigned(sig, i * width).bitwiseAND(F.lit((1 << width) - 1)),
            )
            for i in range(n_bands)
        ]
    )


def _verified_anchor_rows(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
    guards: Sequence[tuple[str, int]] = (),
    bucket_extra: tuple[str, ...] = (),
) -> DataFrame:
    """The Hamming anchor-verify window behind simhash_dedup and every
    media-fingerprint marks operator: band-explode → ONE min(struct) anchor
    window per bucket → inline Hamming + guard verify. Returns verified
    candidate rows (id_col, *bucket_extra, _anchor_id) — one per (row,
    bucket) that verified, pre-deduplication.

    The anchor id AND its hash and guards come from the one window: ids are
    unique, so the struct ordering never reaches the later fields and the
    winner is exactly the bucket's min-id row (no groupBy + verify-join-back,
    which would be a second exchange). Each (column, tolerance) guard adds
    |guard − anchor guard| ≤ tolerance to the verify. bucket_extra columns
    join the bucket key (e.g. frame_index, so video frames only ever bucket
    with the same position in other videos).

    Explode of the CASE: a NULL hash (token-less text, undecodable media)
    emits no band rows without a filter on the hash column, which for a
    UDF-computed hash would re-extract the UDF into a second Arrow stage
    (filter + projection each evaluate it) — the CASE keeps ONE consumer."""
    h = F.col(hash_col)
    bands = hashed.select(
        id_col,
        hash_col,
        *[g for g, _ in guards],
        *bucket_extra,
        F.explode(F.when(h.isNotNull(), hamming_band_keys(h, n_bands))).alias("_bk"),
    )
    if bucket_extra:
        bands = bands.withColumn("_bk", F.xxhash64("_bk", *bucket_extra))
    anchor = F.col("_anchor")
    verified = F.bit_count(h.bitwiseXOR(anchor["s"])) <= max_hamming
    for k, (g, tol) in enumerate(guards):
        verified = verified & (F.abs(F.col(g) - anchor[f"g{k}"]) <= tol)
    return (
        bands.withColumn(
            "_anchor",
            F.min(
                F.struct(
                    F.col(id_col).alias("i"),
                    h.alias("s"),
                    *[F.col(g).alias(f"g{k}") for k, (g, _) in enumerate(guards)],
                )
            ).over(W.partitionBy("_bk")),
        )
        .filter(F.col(id_col) != anchor["i"])
        .filter(verified)
        .select(id_col, *bucket_extra, anchor["i"].alias("_anchor_id"))
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Drop SimHash near-duplicates: candidate pairs share ≥1 of 4 16-bit
    bands (pigeonhole: any pair with hamming ≤ 3 shares a band); candidates
    are VERIFIED by exact Hamming distance (bit_count(xor)) before anything
    is dropped — banding only bounds the candidate set, it never decides.

    Greedy min-anchor semantics (same as minhash_dedup, standard LSH dedup):
    each doc is verified against its buckets' MINIMUM id only. A true pair
    (B, C) sharing a bucket whose min is an unrelated A > hamming-3 from
    both is not compared, so B and C can both survive — recall is bounded by
    the anchor choice, never precision (no false drops). Full within-bucket
    pairing would be quadratic in bucket size, the wrong trade at corpus
    scale.

    Plan shape (narrow end-to-end): signatures are one pandas-UDF projection
    of (id, 8-byte sig); the anchor window (_verified_anchor_rows, shared
    with the media hashes) explodes 4 key rows/doc and verifies inline;
    everything after the UDF moves ≤16-byte rows."""
    # contentless docs (NULL or token-less text) are exempt: simhash of no
    # tokens is the constant 0, so every such doc would share all 4 band
    # buckets, verify at hamming 0, and be dropped as a "near-dup" of
    # byte-different whitespace-only pages — see has_dedupable_content
    sigs = df.filter(has_dedupable_content(text_col)).select(
        F.col(id_col), simhash_udf(F.col(text_col)).alias("_sh")
    )
    dropped = (
        _verified_anchor_rows(sigs, id_col, "_sh", SIMHASH_BANDS, max_hamming)
        .select(id_col)
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Skew handling (BASELINE.json:6: hash-partition by url-host with salting)
# ---------------------------------------------------------------------------


# tracking params stripped by canonical_url: bare name or name=value, plus
# the whole utm_* family by prefix. Frozen like STOPWORDS — extending it
# changes which recrawls count as duplicates.
_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|igshid|ref|ref_src)(=.*)?$"


def canonical_url(url_col: str | Column = "url") -> Column:
    """Best-effort crawl-URL canonicalization for URL-level dedup (the CCNet/
    RefinedWeb pre-dedup step: the same page is crawled as http/https,
    with/without www, with tracking params, with a fragment — all one
    document). Pure Column regexp work, fully codegen'd:

      - scheme + authority lowercased; one leading 'www.' stripped; default
        port dropped (':80' for http, ':443' for https);
      - path kept case-sensitive, trailing '/'s stripped ('/a/' == '/a';
        root collapses to no path);
      - query params: tracking params (utm_*, gclid, fbclid, ...) dropped,
        the rest SORTED so param order never distinguishes documents;
      - fragment dropped.

    URLs with no scheme:// prefix pass through trimmed-but-unchanged
    (canonicalization is best-effort normalization, never a parser that can
    reject); NULL stays NULL. Userinfo, being part of the authority, is
    lowercased with it — vanishingly rare in crawl URLs and harmless for a
    dedup key."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    u = F.trim(col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    # (www\.)+ not www\.: a repeated prefix ('www.www.example.com') must
    # strip in ONE pass or canonical(canonical(u)) != canonical(u)
    # (r04 review — the idempotence invariant is load-bearing)
    auth = F.regexp_replace(auth, r"^(www\.)+", "")
    # single-colon anchor so the strip is IDEMPOTENT: a malformed authority
    # like 'host:80:80' must not lose one ':80' per canonicalization pass
    # (canonical_url(canonical_url(u)) == canonical_url(u) is load-bearing —
    # pipelines re-canonicalize already-canonical URLs routinely)
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r"^([^:]+):80$", "$1"))
        .when(scheme == "https", F.regexp_replace(auth, r"^([^:]+):443$", "$1"))
        .otherwise(auth)
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    # first '?' before any '#' opens the query; a '?' inside the fragment is
    # not a query (the non-greedy [^#]*? anchor enforces it)
    query = F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    q2 = F.array_join(F.sort_array(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", u).otherwise(rebuilt)


def canonical_url_sql(expr: str = "url") -> str:
    """DuckDB twin of canonical_url as a SQL scalar expression over `expr` —
    same RE2-compatible patterns (no backrefs, so Java regex and RE2 agree),
    same sort/filter semantics (list_sort is ascending lexicographic like
    sort_array). Used by the parity tests; reusable as an oracle fragment."""
    u = f"trim({expr})"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    auth0 = f"regexp_replace(lower(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), '^(www\\.)+', '')"
    # \\1 is DuckDB's replacement backreference where Spark writes $1
    auth = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({auth0}, '^([^:]+):80$', '\\1') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({auth0}, '^([^:]+):443$', '\\1') "
        f"ELSE {auth0} END"
    )
    path = f"regexp_replace(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '/+$', '')"
    query = f"regexp_extract({u}, '^[^#]*?\\?([^#]*)', 1)"
    q2 = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_PARAM_RE}'))), '&')"
    )
    return (
        f"CASE WHEN {scheme} = '' THEN {u} ELSE "
        f"{scheme} || '://' || {auth} || {path} || "
        f"(CASE WHEN {q2} <> '' THEN '?' || {q2} ELSE '' END) END"
    )


def _recrawl_window(canon_col: str, url_col: str, ts_col: str) -> WindowSpec:
    """The recrawl order: captures of one canonical url, earliest (ts, url)
    first. The window partitions on the canonical url string itself, so the
    grouping is exact (no hash key, no false merge). The string mostly
    repeats the url the row carries anyway, so the exchange compresses it
    far better than a random 64-bit hash pair (crawl-warc recrawl exchange
    −45%). NULLS LAST: Spark sorts NULL first ascending, so an undated
    capture would otherwise silently beat the genuinely earliest DATED
    crawl as the survivor — "earliest" must mean earliest known time (r04
    review)."""
    return W.partitionBy(canon_col).orderBy(F.col(ts_col).asc_nulls_last(), url_col)


def url_dup_marks(
    df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """Flag recrawls: rows sharing a canonical URL, keeping the EARLIEST
    (ts, url) row unflagged (first-crawl-wins — deterministic under retry
    whenever (ts, url) is unique per canonical group). Rows FULLY TIED on
    (canonical, ts, url) — the same URL captured twice in one crawl batch
    with coarse timestamps — get an ARBITRARY survivor, the same caveat
    Spark's dropDuplicates carries (streaming/windows.py spells it out):
    if tied rows can differ in payload, order on a finer capture id instead.
    Adds `url_canonical` and boolean `url_dup` and keeps every row; what a
    flag costs is the caller's rule (dup_marks' flags, by contrast, drop
    through validate()'s HARD unique_value rules).

    The window (_recrawl_window) partitions on the canonical url, and NULL
    urls are exempted BEFORE the window (their canonical url is NULL, one
    key — a corpus of NULL urls would otherwise pile into one straggler
    partition)."""
    nn = F.col(url_col).isNotNull()
    w = _recrawl_window("url_canonical", url_col, ts_col)
    flagged = (
        df.filter(nn)
        .withColumn("url_canonical", canonical_url(url_col))
        .withColumn("url_dup", F.row_number().over(w) > 1)
    )
    exempt = (
        df.filter(~nn)
        .withColumn("url_canonical", F.lit(None).cast("string"))
        .withColumn("url_dup", F.lit(False))
    )
    return flagged.unionByName(exempt)


def drop_url_dups_narrow(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Recrawl-dedup for FAT frames (rows carrying html payloads): drop the
    rows url_dup_marks would flag, without the payloads ever entering the
    dedup exchange. Running url_dup_marks directly on an ingest frame puts
    every decoded html blob through the row_number window's shuffle —
    contradicting io/warc.py's contract that fat payloads never shuffle and
    making the ingest path's first exchange corpus-sized (r04 ADVICE).

    Shape: the recrawl window (_recrawl_window, shared with url_dup_marks)
    runs on a narrow (url, ts, canonical url) projection of the non-NULL
    urls; the fat frame then LEFT-ANTI joins the broadcast DROP-key set (the
    hint is needed: without it the planner may pick a sort-merge join that
    shuffles the fat side). The drop side is recrawl duplicates only, a
    small fraction of any real crawl batch, so the fat side never exchanges
    at all.

    Tie semantics (vs url_dup_marks' arbitrary-survivor caveat): the drop
    keys are the (url, ts) rows with rank() > 1. Captures FULLY tied on
    (canonical, ts, url) share one rank, so a tied first key ranks 1 and is
    KEPT WHOLE (over-keep, recoverable by text dedup downstream) rather
    than lost to an anti join on a key that is both survivor and dup;
    every later key ranks above 1 and drops. eqNullSafe on ts so an
    undated dup still matches its drop key."""
    w = _recrawl_window("_canon", url_col, ts_col)
    drop_keys = (
        df.select(url_col, ts_col)
        .filter(F.col(url_col).isNotNull())
        .withColumn("_canon", canonical_url(url_col))
        .withColumn("_rank", F.rank().over(w))
        .filter("_rank > 1")
        .select(F.col(url_col).alias("_du"), F.col(ts_col).alias("_dt"))
    )
    cond = F.col(url_col).eqNullSafe(F.col("_du")) & F.col(ts_col).eqNullSafe(
        F.col("_dt")
    )
    return df.join(F.broadcast(drop_keys), cond, "left_anti")


def host_of(url_col: str | Column = "url") -> Column:
    """Host of a crawl URL, NULL when unparseable. try_parse_url, not
    parse_url: under Spark 4's default ANSI mode a single malformed URL in
    the corpus would otherwise throw INVALID_URL and abort the whole job
    (verified live) — a quality filter must judge bad URLs, not die on them."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.try_parse_url(col, F.lit("HOST"))


def repartition_by_host_salted(
    df: DataFrame,
    n_partitions: int,
    url_col: str = "url",
    hot_fraction: float = 0.05,
    n_salts: int = 16,
) -> DataFrame:
    """Hash-partition by url-host, salting hosts that exceed hot_fraction of
    rows so no partition is dominated by one domain (explicit-salting mandate
    of BASELINE.json:6; AQE skew-join remains on as the safety net).

    Hot hosts come from the Misra–Gries heavy-hitter pass
    (operators/heavyhitters.py): its shuffle is ≤ P·(k+1) rows regardless
    of how many DISTINCT hosts the crawl has (an exact per-host groupBy
    shuffles one row per distinct host, ~10⁹ on a full crawl — r04
    VERDICT), and its guarantee is one-sided the safe way: every truly hot
    host is salted, warm hosts may be over-salted harmlessly (a few extra
    salt groups — partitioning semantics are unchanged). The set is tiny
    and broadcast inside the `isin` literal."""
    from wikidataquality_spark.operators.heavyhitters import hot_keys

    host = host_of(url_col)
    hot = hot_keys(df.select(host.alias("host")), "host", hot_fraction)
    # NULL host (unparseable URL — host_of's own defence case) can itself be
    # the hottest "host": a crawl with 10% malformed URLs puts them ALL in
    # one (NULL, 0) partition unless salted. isin() is NULL for NULL input
    # (it would fall to the unsalted branch silently), so NULL-hot is
    # handled as an explicit isNull() arm (r04 review).
    hot_nn = [h for h in hot if h is not None]
    is_hot = host.isin(hot_nn) if hot_nn else F.lit(False)
    if any(h is None for h in hot):
        is_hot = is_hot | host.isNull()
    salt = F.when(
        is_hot, F.pmod(F.xxhash64(url_col), F.lit(n_salts))
    ).otherwise(F.lit(0))
    return df.repartition(n_partitions, host, salt)
