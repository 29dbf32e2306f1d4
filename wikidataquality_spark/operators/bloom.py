"""Bloom-filter cross-corpus dedup: flag new-batch docs already in a frozen corpus.

The scale problem this solves: deduplicating an incoming crawl batch (say
10^9 docs) against the FROZEN training corpus (10^12 docs) with an anti-join
requires shuffling a key per corpus document — ~16 TB of exchange for 16-byte
keys — every time a batch arrives. A Bloom filter summarizes the corpus key
set ONCE into m bits (9.6 bits/key at 1% FP → ~1.2 TB for 10^12 keys, ~120 GB
at 10^11); batches then probe it with k point lookups per doc and never touch
the corpus again. The filter guarantees NO FALSE NEGATIVES — a doc that IS in
the corpus is always flagged — and over-flags non-members at a tunable FP
rate, the conservative direction for dedup (worst case we drop a few novel
docs, never train twice on a known one).

Representation: the m-bit array lives as a DataFrame of (word, bits) — one
row per NON-ZERO 64-bit word, so a sparse filter costs only its set words.
Probing is an equi-join on the word index:

  batch → k probe rows/doc (narrow: id + word + bit, pure codegen)
        → inner join bloom(word)          [broadcast under AQE when the
                                           filter fits; plain shuffled hash
                                           join on the word key when not —
                                           both sides partition by `word`,
                                           and ONLY the k probe rows per doc
                                           move, never corpus keys]
        → per-doc hit count == k  ⇒  "maybe in corpus"

Bit positions use Kirsch-Mitzenmacher double hashing (two independently
seeded xxhash64s are enough for the full k): pos_i = (h1 + i·h2) mod m with
m a power of two and h2 forced odd (odd ⇒ coprime to 2^j ⇒ the probe
sequence never degenerates even when h2's low bits are zero). Hashes are
masked to the table width BEFORE any arithmetic so every intermediate stays
< 2^50 — ANSI mode (Spark 4 default) would otherwise raise on 64-bit
overflow of h1 + i·h2.

Reference analogue: UniqueValueChecker (ref≈includes/ConstraintCheck/Checker/
UniqueValueChecker.php:~20-60) asks "has this value been seen elsewhere?";
this operator is that membership question asked against a corpus too large
to join, with the probabilistic contract made explicit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Cap the table at 2^46 bits (8 TiB) — far above anything this sandbox
# builds, low enough that (h1m + k·h2m) stays < 2^50 under ANSI arithmetic.
_MAX_LOG2_M = 46


def bloom_size(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for n_keys at fp_rate; m rounded UP to a power of two
    (the double-hash modulus must be one), k from the rounded m so the
    realized FP rate is never worse than requested."""
    if n_keys <= 0:
        raise ValueError(f"n_keys must be positive, got {n_keys}")
    if not (0.0 < fp_rate < 1.0):
        raise ValueError(f"fp_rate must be in (0, 1), got {fp_rate}")
    m_ideal = -n_keys * math.log(fp_rate) / (math.log(2) ** 2)
    log2_m = max(6, math.ceil(math.log2(m_ideal)))  # ≥ one 64-bit word
    if log2_m > _MAX_LOG2_M:
        raise ValueError(
            f"bloom table would need 2^{log2_m} bits (> 2^{_MAX_LOG2_M} cap); "
            "shard the corpus or raise fp_rate"
        )
    m = 1 << log2_m
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def bloom_fp_rate(m_bits: int, k: int, n_keys: int) -> float:
    """Expected false-positive rate of an m_bits / k filter holding n_keys
    keys: (1 − e^(−k·n/m))^k."""
    return (1.0 - math.exp(-k * n_keys / m_bits)) ** k


def _check_m(m_bits: int) -> None:
    if m_bits < 64 or (m_bits & (m_bits - 1)) != 0 or m_bits > (1 << _MAX_LOG2_M):
        raise ValueError(
            f"m_bits must be a power of two in [64, 2^{_MAX_LOG2_M}], got {m_bits}"
        )


def bloom_probe_positions(key: Column, m_bits: int, k: int) -> Column:
    """array<long> of the k bit positions for `key` (NULL key → NULL array).

    h1 = xxhash64(key), h2 = xxhash64(2, key) — seeds independent of the
    exact-dedup pair (unseeded / seed 1, operators/dedup.py:81) so a corpus
    keyed on the same text hashes doesn't correlate with its filter."""
    _check_m(m_bits)
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    mask = F.lit(m_bits - 1).cast("long")
    h1m = F.xxhash64(key).bitwiseAND(mask)
    # odd-ified AFTER masking: value in [1, m), odd ⇒ coprime to the
    # power-of-two modulus ⇒ k distinct-step probe sequence
    h2m = F.xxhash64(F.lit(2), key).bitwiseAND(mask).bitwiseOR(F.lit(1).cast("long"))
    arr = F.array(
        *[(h1m + F.lit(i).cast("long") * h2m).bitwiseAND(mask) for i in range(k)]
    )
    # xxhash64(NULL) is a CONSTANT, not NULL (the dedup.py:77 hazard) — an
    # unguarded NULL key would set one fixed probe pattern in every filter
    # and make every NULL-keyed batch row a permanent "member"
    return F.when(key.isNotNull(), arr)


def build_bloom(
    corpus: DataFrame, key: Column, m_bits: int, k: int
) -> DataFrame:
    """(word: long, bits: long) — the non-zero 64-bit words of the filter
    over every non-NULL key in `corpus`. One explode of k narrow rows per
    key into a partial-agg bit_or groupBy — the map-side combine collapses
    each partition to ≤ its distinct-word count before the one exchange.
    NULL keys contribute nothing (a NULL is not a member of anything;
    mirrors the NULL-text dedup exemption, operators/dedup.py:77)."""
    pos = bloom_probe_positions(key, m_bits, k)
    return (
        corpus.select(F.explode(pos).alias("_pos"))
        .select(
            F.shiftright("_pos", 6).alias("word"),
            # F.shiftleft only takes a literal shift — the column-valued
            # shift needs the SQL form
            F.expr("shiftleft(1L, cast((_pos & 63) as int))").alias("_b"),
        )
        .groupBy("word")
        .agg(F.bit_or("_b").alias("bits"))
    )


def bloom_member_marks(
    batch: DataFrame,
    bloom: DataFrame,
    key: Column,
    m_bits: int,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, in_corpus_maybe) for EVERY batch row — mark-not-drop, like every
    dedup operator here; consumers filter on the flag.

      in_corpus_maybe = TRUE   all k probe bits set (member OR a ~fp_rate
                               false positive — never a false negative)
                        FALSE  at least one probe bit clear (PROVABLY absent)
                        NULL   key is NULL (membership undefined) or id is
                               NULL (hits can't be re-attached through a NULL
                               join key — unverifiable must stay AUDIBLE, the
                               decontaminate convention)

    Plan: k probe rows per doc inner-join the filter on `word` — only rows
    whose word EXISTS in the filter survive into the bounded per-doc count
    (a clean batch contributes almost nothing to the aggregation state) —
    then one left join re-attaches provably-absent docs. Probe rows are
    three longs; the batch text/blob columns never enter the join."""
    _check_m(m_bits)
    probes = batch.select(
        F.col(id_col), F.explode(bloom_probe_positions(key, m_bits, k)).alias("_pos")
    ).select(
        id_col,
        F.shiftright("_pos", 6).alias("word"),
        F.col("_pos").bitwiseAND(F.lit(63)).cast("int").alias("_bit"),
    )
    hits = (
        probes.join(bloom, "word")
        # shiftright is arithmetic but the &1 mask makes bit 63 read correctly
        .filter(F.expr("(bits >> _bit) & 1 = 1"))
        .groupBy(id_col)
        .agg(F.count("*").alias("_nhit"))
    )
    return (
        # key collapses to ONE boolean before the re-attach join — the raw
        # text/blob never rides through an exchange
        batch.select(F.col(id_col), key.isNotNull().alias("_kk"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.when(
                F.col(id_col).isNotNull() & F.col("_kk"),
                F.coalesce(F.col("_nhit") == k, F.lit(False)),
            ).alias("in_corpus_maybe"),
        )
    )


def cross_corpus_dedup_marks(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_rate: float = 0.01,
    *,
    sizing: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Convenience composition: build the filter over the corpus's exact
    text keys, probe the batch. Returns (marks, bloom) so callers persist
    the filter table and reuse it across batches — rebuilding it per batch
    would re-pay the corpus scan the filter exists to avoid.

    Sizing needs n_keys up front (the filter's ONE structural parameter),
    so this pays one count() of the corpus — acceptable for a build that
    runs once per frozen corpus, not per batch. `sizing`, when given,
    receives the filter's m_bits, k and that n_keys (what bloom_fp_rate
    needs), so a caller can report the false-positive budget without
    counting the corpus again."""
    n_keys = max(corpus.count(), 1)
    m_bits, k = bloom_size(n_keys, fp_rate)
    if sizing is not None:
        sizing.update(m_bits=m_bits, k=k, n_keys=n_keys)
    bloom = build_bloom(corpus, F.col(text_col), m_bits, k)
    marks = bloom_member_marks(batch, bloom, F.col(text_col), m_bits, k, id_col)
    return marks, bloom
