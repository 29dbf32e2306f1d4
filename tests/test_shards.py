"""Training-shard export gates: deterministic dense vocab, UNK/NULL encode
totality, python-mirror reconstruction of the materialized blocks, and the
cross-operator contract with pack_sequences (same stream, block for block)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidataquality_spark.operators.shards import (
    PAD_ID,
    UNK_ID,
    encode_token_ids,
    export_token_shards,
    vocab_table,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, bpe_tokens array<string>"
    )


def test_vocab_dense_sorted_and_partition_invariant(spark):
    rows = [
        (1, "a", ["bb", "aa", "cc"]),
        (2, "a", ["aa", "dd"]),
        (3, "b", None),
    ]
    for parts in (1, 4):
        v = {
            r["piece"]: r["token_id"]
            for r in vocab_table(_docs(spark, rows).repartition(parts)).collect()
        }
        assert v == {"aa": 2, "bb": 3, "cc": 4, "dd": 5}  # dense, sorted, base 2


def test_encode_unk_and_null_totality(spark):
    docs = _docs(spark, [(1, "a", ["aa", "zz", "bb"]), (2, "a", None)])
    vocab = {"aa": 2, "bb": 3}
    out = {r["doc_id"]: r["token_ids"] for r in encode_token_ids(docs, vocab).collect()}
    assert out[1] == [2, UNK_ID, 3]  # unseen piece -> UNK, never a crash
    assert out[2] == []  # NULL tokens -> zero-width slot


def test_export_matches_python_mirror_and_pack_table(spark):
    from wikidataquality_spark.operators.packing import pack_sequences

    # distinct piece per (doc, pos) so every stream position is identifiable
    rows = []
    for d in range(9):
        n = (d * 7) % 5  # varied lengths incl. zero-length docs
        rows.append((d, "s1" if d < 6 else "s2", [f"p{d}_{j}" for j in range(n)]))
    rows.append((9, "s2", None))  # zero-width doc stays in the stream
    # exactly-full stream followed by a zero-width doc: the trailing doc's
    # pack_id (=1) must be MATERIALIZED as an all-PAD block
    rows.append((20, "s3", [f"q{j}" for j in range(4)]))
    rows.append((21, "s3", None))
    docs = _docs(spark, rows)
    vocab = {r["piece"]: r["token_id"] for r in vocab_table(docs).collect()}
    encoded = encode_token_ids(docs, vocab)
    seq_len = 4
    shards = export_token_shards(encoded, seq_len=seq_len).collect()

    # python mirror: per (source, shard) stream in id order
    enc_rows = sorted(
        ((r["doc_id"], r["source"], r["token_ids"]) for r in encoded.collect())
    )
    streams: dict = {}
    for doc_id, src, ids in enc_rows:
        streams.setdefault((src, doc_id // 10_000), []).extend(ids)
    got = {}
    for r in shards:
        got[(r["source"], r["shard"], r["pack_id"])] = (
            list(r["token_ids"]),
            r["n_real_tokens"],
        )
    # mirror the operator's block-count rule: cover ceil(len/L) AND every
    # doc's cum_before // L (the trailing zero-width-doc block)
    doc_blocks: dict = {}
    cums: dict = {}
    for doc_id, src, ids in enc_rows:
        key = (src, doc_id // 10_000)
        c = cums.get(key, 0)
        doc_blocks[key] = max(doc_blocks.get(key, 0), c // seq_len)
        cums[key] = c + len(ids)
    for key, stream in streams.items():
        n_blocks = max(-(-len(stream) // seq_len), 1, doc_blocks[key] + 1)
        for b in range(n_blocks):
            block = stream[b * seq_len : (b + 1) * seq_len]
            n_real = len(block)
            block = block + [PAD_ID] * (seq_len - n_real)
            assert got[(key[0], key[1], b)] == (block, n_real), (key, b)
    assert len(got) == sum(
        max(-(-len(s) // seq_len), 1, doc_blocks[k] + 1)
        for k, s in streams.items()
    )
    # the trailing-zero-width block exists, all PAD, zero real tokens
    assert got[("s3", 0, 1)] == ([PAD_ID] * seq_len, 0)

    # cross-operator contract: pack_sequences driven by the SAME id counts
    # lands each doc's first token at pack_id*seq_len + pack_offset
    packed = pack_sequences(
        encoded, seq_len=seq_len, n_tokens_col=F.size("token_ids").cast("long")
    )
    pos = {r["doc_id"]: r["pack_id"] * seq_len + r["pack_offset"] for r in packed.collect()}
    cum: dict = {}
    for doc_id, src, ids in enc_rows:
        key = (src, doc_id // 10_000)
        expect = len(cum.setdefault(key, []))
        assert pos[doc_id] == expect, (doc_id, pos[doc_id], expect)
        cum[key].extend(ids)
        # and the materialized block really holds the doc's first token
        if ids:
            blk, _ = got[(src, doc_id // 10_000, expect // seq_len)]
            assert blk[expect % seq_len] == ids[0]


def test_curated_corpus_exports_end_to_end(spark):
    """Composition: curate (BPE pieces + pack assignment) → vocab → ids →
    shards, reconstruction holding on a real curated corpus slice."""
    from wikidataquality_spark.curate import CurateConfig, curate
    from wikidataquality_spark.operators.barrier import owned_caches

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    )
    with owned_caches() as owner:
        curated, _f = curate(
            docs, CurateConfig(seq_len=64, drop_buckets=()), persist_registry=owner
        )
        vocab = {r["piece"]: r["token_id"] for r in vocab_table(curated).collect()}
        encoded = encode_token_ids(curated, vocab)
        shards = export_token_shards(encoded, seq_len=64).collect()
    total_real = sum(r["n_real_tokens"] for r in shards)
    total_ids = encoded.select(F.sum(F.size("token_ids"))).first()[0]
    assert total_real == total_ids > 0  # every token lands exactly once
    assert all(len(r["token_ids"]) == 64 for r in shards)
    assert all(UNK_ID not in r["token_ids"] for r in shards)  # vocab from corpus


def test_binary_shards_byte_exact_round_trip(spark):
    """r04 VERDICT #7: the .bin/.idx memmap sidecar. Blobs must reconstruct
    the SHARD_SCHEMA blocks byte-exactly through the pure-python decoder
    (struct/frombuffer — no Spark), the dtype rule must pick uint16 for a
    16-bit vocab and uint32 beyond, and an understated vocab_size must fail
    LOUDLY instead of silently truncating ids."""
    import pytest

    from wikidataquality_spark.operators.shards import (
        binary_shard_blobs,
        decode_binary_shard,
        read_idx,
        shard_dtype_bytes,
    )

    rows = []
    for d in range(7):
        n = (d * 5) % 7
        rows.append((d, "s1" if d < 4 else "s2", [f"p{d}_{j}" for j in range(n)]))
    docs = _docs(spark, rows)
    vocab = {r["piece"]: r["token_id"] for r in vocab_table(docs).collect()}
    encoded = encode_token_ids(docs, vocab)
    seq_len = 4
    shards_df = export_token_shards(encoded, seq_len=seq_len)
    shards = shards_df.collect()
    blobs = binary_shard_blobs(shards_df, seq_len=seq_len, vocab_size=len(vocab)).collect()

    expect = {}
    for r in shards:
        expect.setdefault((r["source"], r["shard"]), {})[r["pack_id"]] = (
            list(r["token_ids"]),
            r["n_real_tokens"],
        )
    assert {(b["source"], b["shard"]) for b in blobs} == set(expect)
    for b in blobs:
        key = (b["source"], b["shard"])
        assert b["dtype_bytes"] == 2  # tiny vocab -> uint16
        meta = read_idx(bytes(b["idx_blob"]))
        assert meta["seq_len"] == seq_len
        assert meta["n_blocks"] == len(expect[key]) == b["n_blocks"]
        blocks = decode_binary_shard(bytes(b["bin_blob"]), bytes(b["idx_blob"]))
        for pack_id in range(meta["n_blocks"]):
            want_ids, want_real = expect[key][pack_id]
            assert blocks[pack_id] == want_ids, (key, pack_id)
            assert meta["n_real_tokens"][pack_id] == want_real
        # byte-level check: little-endian uint16 layout, blocks in pack order
        import numpy as np

        flat = [t for p in sorted(expect[key]) for t in expect[key][p][0]]
        assert bytes(b["bin_blob"]) == np.asarray(flat, dtype="<u2").tobytes()

    assert shard_dtype_bytes(60_000) == 2
    assert shard_dtype_bytes(70_000) == 4
    with pytest.raises(Exception, match="overflows"):
        # lie about the vocab: ids up to len(vocab)+1 with dtype for size 0
        # still fit uint16, so force uint32->uint16 mismatch via a big id
        big = encoded.withColumn(
            "token_ids", F.expr("transform(token_ids, x -> x + 70000)")
        )
        binary_shard_blobs(
            export_token_shards(big, seq_len=seq_len), seq_len=seq_len, vocab_size=10
        ).collect()
