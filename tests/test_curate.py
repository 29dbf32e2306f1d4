"""Curation funnel gates: conservation (stages sum to input), cascade
attribution (first failing stage owns the doc), determinism, fail-closed
decontamination, selection modes, packing consistency, and the CLI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.curate import CurateConfig, curate
from wikidataquality_spark.operators.barrier import owned_caches


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
        .cache()
    )


def _run(docs, cfg):
    with owned_caches() as owner:
        curated, funnel = curate(docs, cfg, persist_registry=owner)
        c = curated.collect()
        f = {r["stage"]: r["n"] for r in funnel.collect()}
    return c, f


def test_conservation_and_kept_matches_filter(docs):
    c, f = _run(docs, CurateConfig(pack=False))
    assert sum(f.values()) == docs.count()
    assert f.get("kept", 0) == len(c)
    assert len(c) > 0


def test_benchmark_contamination_drops_and_cascade(docs, spark):
    # benchmark = the text of two docs → those docs must drop as
    # contaminated UNLESS an earlier stage (quality/dedup) already owns them
    bench_rows = docs.orderBy("doc_id").limit(2).select("text").collect()
    bench = spark.createDataFrame([(r["text"],) for r in bench_rows], "text string")
    c, f = _run(docs, CurateConfig(pack=False, benchmark=bench))
    c_ids = {r["doc_id"] for r in c}
    planted = {r["doc_id"] for r in docs.orderBy("doc_id").limit(2).collect()}
    assert not (planted & c_ids)
    # attribution is exclusive: totals still conserve
    assert sum(f.values()) == docs.count()
    # vs the no-benchmark run, only decontaminate and later stages may
    # differ — eligibility/quality/dedup counts are unchanged (cascade order)
    _, f0 = _run(docs, CurateConfig(pack=False))
    for stage in ("eligibility", "quality", "dedup"):
        assert f.get(stage, 0) == f0.get(stage, 0), (stage, f, f0)


def test_frozen_corpus_stage_drops_and_conserves(docs, spark):
    """r04 VERDICT #3: the Bloom cross-corpus dedup wired into the funnel.
    Planting two docs' text as the frozen corpus must drop those docs at
    the `frozen` stage (zero false negatives), leave every EARLIER stage's
    count unchanged (cascade order), and keep conservation. The ~fp_rate
    false-positive drops are part of the contract — only inequality
    directions are asserted for the other stages."""
    frozen_rows = docs.orderBy("doc_id").limit(2).select("text").collect()
    frozen = spark.createDataFrame(
        [(r["text"],) for r in frozen_rows], "text string"
    )
    c, f = _run(docs, CurateConfig(pack=False, frozen_corpus=frozen))
    _, f0 = _run(docs, CurateConfig(pack=False))
    assert sum(f.values()) == docs.count()
    planted = {r["doc_id"] for r in docs.orderBy("doc_id").limit(2).collect()}
    assert not (planted & {r["doc_id"] for r in c})
    # cascade: stages before `frozen` are untouched by the new stage
    for stage in ("eligibility", "urlfilter", "quality", "dedup"):
        assert f.get(stage, 0) == f0.get(stage, 0), (stage, f, f0)
    # the frozen stage owns at least the planted docs that survived earlier
    # stages; it may also own fp_rate false positives
    assert f.get("frozen", 0) >= 1
    assert f.get("kept", 0) < f0.get("kept", 0)


def test_determinism(docs):
    c1, f1 = _run(docs, CurateConfig(pack=False, rates={"src1": 0.5}, sample_seed=3))
    c2, f2 = _run(docs, CurateConfig(pack=False, rates={"src1": 0.5}, sample_seed=3))
    assert f1 == f2
    assert sorted(r["doc_id"] for r in c1) == sorted(r["doc_id"] for r in c2)


def test_dsir_topk_selection(docs):
    k = 10
    c, f = _run(docs, CurateConfig(pack=False, dsir_k=k))
    assert f.get("kept", 0) == len(c)
    assert len(c) <= k
    _, f0 = _run(docs, CurateConfig(pack=False))
    # select drops exactly the survivors beyond k
    assert f.get("select", 0) == f0.get("kept", 0) - len(c)


def test_rates_and_dsir_exclusive(docs):
    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, CurateConfig(rates={"a": 0.1}, dsir_k=5), persist_registry=[])


def test_pack_columns_consistent(docs):
    c, _ = _run(docs, CurateConfig(seq_len=64))
    rows = sorted(c, key=lambda r: (r["source"], r["doc_id"]))
    assert all(r["n_tokens"] == len(r["bpe_tokens"]) for r in rows)
    pos: dict[tuple, int] = {}
    for r in rows:
        key = (r["source"], r["doc_id"] // 10_000)
        p = pos.get(key, 0)
        assert r["pack_id"] == p // 64 and r["pack_offset"] == p % 64, r
        pos[key] = p + r["n_tokens"]


def test_cli_end_to_end(spark, tmp_path):
    import json as json_mod
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import curate_corpus

    # a tiny frozen corpus (ten docs' text — enough that some certainly
    # survive the earlier stages) exercises --frozen-corpus through the
    # CLI: its stage must surface as a `frozen` funnel row in _funnel.json
    # (r04 VERDICT #3's done-criterion)
    frozen_dir = str(tmp_path / "frozen_corpus")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .orderBy("doc_id")
        .limit(10)
        .select("text")
        .write.parquet(frozen_dir)
    )
    out_dir = str(tmp_path / "curated")
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = curate_corpus.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out_dir, "--seq-len", "128", "--export-shards",
             "--frozen-corpus", frozen_dir]
        )
    finally:
        sys.stdout = old
    assert rc == 0
    res = json_mod.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    assert res["funnel"].get("frozen", 0) >= 1  # the Bloom stage in the manifest
    assert res["docs_kept"] > 0
    assert res["docs_in"] == sum(res["funnel"].values())
    back = spark.read.parquet(out_dir)
    assert back.count() == res["docs_kept"]
    for col in ("quality_bucket", "bpe_token_count", "pack_id", "pack_offset"):
        assert col in back.columns
    # --export-shards: dataloader-ready blocks + vocab next to the output,
    # every curated token landing exactly once
    shards = spark.read.parquet(out_dir + "_shards")
    assert res["shard_blocks"] == shards.count() > 0
    assert shards.filter(F.size("token_ids") != 128).count() == 0
    total_real = shards.agg(F.sum("n_real_tokens")).first()[0]
    assert total_real == back.agg(F.sum(F.size("bpe_tokens"))).first()[0]
    assert spark.read.parquet(out_dir + "_vocab").count() > 0
    # binary sidecar (r04 VERDICT #7): one .bin/.idx pair per (source,
    # shard), manifest-mapped, reconstructing the parquet blocks byte-exact
    import os

    from wikidataquality_spark.operators.shards import decode_binary_shard

    bin_dir = out_dir + "_shards_bin"
    manifest = json_mod.load(open(os.path.join(bin_dir, "_manifest.json")))
    assert manifest["seq_len"] == 128
    shard_rows = {}
    for r in shards.collect():
        shard_rows.setdefault((r["source"], r["shard"]), {})[r["pack_id"]] = list(
            r["token_ids"]
        )
    assert len(manifest["shards"]) == len(shard_rows)
    for key, entry in manifest["shards"].items():
        src, shd = key.rsplit("\t", 1)
        blocks = decode_binary_shard(
            open(os.path.join(bin_dir, entry["file"] + ".bin"), "rb").read(),
            open(os.path.join(bin_dir, entry["file"] + ".idx"), "rb").read(),
        )
        want = shard_rows[(None if src == "__null__" else src, int(shd))]
        assert blocks == [want[p] for p in sorted(want)]


def test_unlisted_sources_kept_by_default(docs):
    """default_rate=1.0: a rates dict naming one source must not silently
    drop every other source (r04 review — the operator-level default of 0.0
    turned a down-sample into an allowlist)."""
    c, _ = _run(docs, CurateConfig(pack=False, rates={"src1": 0.0}))
    kept_sources = {r["source"] for r in c}
    all_sources = {r["source"] for r in docs.select("source").distinct().collect()}
    assert "src1" not in kept_sources
    assert kept_sources == (all_sources - {"src1"}) or kept_sources.issubset(all_sources)
    assert len(kept_sources) > 0


def test_cli_temperature_mixture(spark, tmp_path):
    import json as json_mod
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import curate_corpus

    out_dir = str(tmp_path / "curated_temp")
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = curate_corpus.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out_dir, "--no-pack", "--temperature", "5.0"]
        )
    finally:
        sys.stdout = old
    assert rc == 0
    res = json_mod.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    assert res["docs_kept"] > 0
    # exclusivity guard
    with pytest.raises(ValueError, match="exclusive"):
        curate_corpus.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out_dir, "--temperature", "2.0", "--dsir-k", "5"]
        )


def test_blocklist_stage_first_and_fail_closed(spark):
    """urlfilter owns blocked docs before quality/dedup see them; NULL-host
    docs fail closed when a blocklist is active."""
    rows = [
        (1, "https://spam.example.com/x", "the quick brown fox jumps over the lazy dog " * 6, "en", "src1"),
        (2, "https://ok.org/y", "a committee reviewed the harbor dredging proposal at noon " * 6, "en", "src1"),
        (3, "not a url", "perfectly fine text that parses nowhere " * 8, "en", "src1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    c, f = _run(docs, CurateConfig(pack=False, dedup=False, blocklist=bl))
    ids = {r["doc_id"] for r in c}
    assert 1 not in ids and 3 not in ids  # blocked + unverifiable both out
    assert f.get("urlfilter", 0) == 2
    assert sum(f.values()) == 3


def test_path_rules_stage_shares_urlfilter_attribution(spark):
    """robots-style path rules run inside the same urlfilter stage: a
    path-blocked doc is attributed 'urlfilter', domain and path arms
    compose, and conservation holds (fail-closed on unverifiable urls)."""
    rows = [
        (1, "https://ok.org/private/x", "the quick brown fox jumps over the lazy dog " * 6, "en", "src1"),
        (2, "https://ok.org/public/y", "a committee reviewed the harbor dredging proposal at noon " * 6, "en", "src1"),
        (3, "https://spam.example.com/public/z", "fresh content about rivers and ferries in autumn " * 6, "en", "src1"),
        (4, "not a url", "perfectly fine text that parses nowhere " * 8, "en", "src1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    pr = spark.createDataFrame([("ok.org", "/private")], "host string, path_prefix string")
    c, f = _run(docs, CurateConfig(pack=False, dedup=False, blocklist=bl, path_rules=pr))
    ids = {r["doc_id"] for r in c}
    assert ids == {2}  # path-blocked, domain-blocked, unverifiable all out
    assert f.get("urlfilter", 0) == 3
    assert sum(f.values()) == 4
    # path rules alone (no domain list) take the same stage
    c2, f2 = _run(docs, CurateConfig(pack=False, dedup=False, path_rules=pr))
    ids2 = {r["doc_id"] for r in c2}
    assert 1 not in ids2 and 3 in ids2  # domain arm off: spam host survives
    assert f2.get("urlfilter", 0) == 2  # doc 1 (path) + doc 4 (fail closed)
    assert sum(f2.values()) == 4


def test_conservation_under_duplicate_ids(spark):
    """Duplicate doc_ids must not multiply through the marks joins — the
    funnel still sums to docs_in (r04 review)."""
    rows = [
        (7, "https://spam.example.com/a", "the quick brown fox jumps over the lazy dog " * 6, "en", "src1"),
        (7, "https://ok.org/b", "a committee reviewed the harbor dredging proposal at noon " * 6, "en", "src1"),
        (9, "https://ok.org/c", "fresh content about rivers and ferries in autumn " * 6, "en", "src1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    bench = spark.createDataFrame([(rows[2][2],)], "text string")
    _, f = _run(docs, CurateConfig(pack=False, dedup=False, blocklist=bl, benchmark=bench))
    assert sum(f.values()) == 3, f


def test_funnel_by_dimension(spark, tmp_path):
    """--funnel-by source: per-source attrition rows sum to the global
    funnel, and the global funnel still conserves."""
    import json as json_mod
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import curate_corpus

    out_dir = str(tmp_path / "curated_by")
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = curate_corpus.main(
            ["--input", "/root/testdata/sf0.001/documents.parquet",
             "--output", out_dir, "--no-pack", "--funnel-by", "source"]
        )
    finally:
        sys.stdout = old
    assert rc == 0
    res = json_mod.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    detail = res["funnel_by"]["source"]
    assert sum(sum(v.values()) for v in detail.values()) == res["docs_in"]
    for stage, n in res["funnel"].items():
        assert sum(v.get(stage, 0) for v in detail.values()) == n
