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
    directions are asserted for the other stages. 200 texts no doc carries
    fill the filter, so its recorded false-positive budget is not ~0: the
    false positives measured on clean docs must stay within it."""
    import math

    from wikidataquality_spark.curate import frozen_fp_budget
    from wikidataquality_spark.operators.bloom import bloom_size

    frozen_rows = docs.orderBy("doc_id").limit(2).select("text").collect()
    frozen_texts = [r["text"] for r in frozen_rows]
    filler = [f"frozen-only filler text {i}" for i in range(200)]
    frozen = spark.createDataFrame(
        [(t,) for t in frozen_texts + filler], "text string"
    )
    report: dict = {}
    with owned_caches() as owner:
        curated, funnel = curate(
            docs, CurateConfig(pack=False, frozen_corpus=frozen),
            persist_registry=owner, report=report,
        )
        c = curated.collect()
        f = {r["stage"]: r["n"] for r in funnel.collect()}
    c0, f0 = _run(docs, CurateConfig(pack=False))
    assert sum(f.values()) == docs.count()
    # the sizing reuses the stage's own corpus count
    m_bits, k = bloom_size(202, 0.01)
    assert report["frozen_bloom"] == {"m_bits": m_bits, "k": k, "n_keys": 202}
    budget = frozen_fp_budget(report["frozen_bloom"], f)
    # with no later stage active, the docs reaching `frozen` are the ones
    # the frozen-less run keeps
    assert budget["docs_reaching"] == len(c0)
    assert 0.1 < budget["expected_fp_docs"] < 5, budget
    kept_ids = {r["doc_id"] for r in c}
    members = {r["doc_id"] for r in c0 if r["text"] in frozen_texts}
    clean_fp = {r["doc_id"] for r in c0 if r["text"] not in frozen_texts} - kept_ids
    assert not (members & kept_ids)  # zero false negatives
    assert f.get("frozen", 0) == len(members) + len(clean_fp)
    fp_budget = budget["expected_fp_docs"]
    assert len(clean_fp) <= fp_budget + 3 * math.sqrt(fp_budget), (clean_fp, budget)
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


# the curated parquet's columns, in order: the quality columns sit between
# the input's and dedup's wherever the bucket is computed
CURATED_COLUMNS = [
    "doc_id", "text", "lang", "source", "n_chars",
    "quality_logit", "quality_score", "quality_class", "quality_bucket",
    "is_exact_dup", "is_near_dup",
]


@pytest.mark.parametrize(
    "kw, extra",
    [
        ({"pack": False}, []),
        ({}, ["bpe_tokens", "bpe_token_count", "n_tokens", "pack_id", "pack_offset"]),
        (
            {"pack": False, "frozen": True, "benchmark": True, "rates": {"src1": 0.5}},
            ["in_corpus_maybe", "contaminated", "sample_u", "sampled"],
        ),
    ],
    ids=["no_pack", "pack", "frozen_benchmark_rates"],
)
def test_curated_schema_pinned(docs, spark, kw, extra):
    kw = dict(kw)
    texts = spark.createDataFrame(
        [(r["text"],) for r in docs.orderBy("doc_id").limit(2).collect()], "text string"
    )
    if kw.pop("frozen", False):
        kw["frozen_corpus"] = texts
    if kw.pop("benchmark", False):
        kw["benchmark"] = texts
    with owned_caches() as owner:
        curated, _ = curate(docs, CurateConfig(**kw), persist_registry=owner)
        assert curated.columns == CURATED_COLUMNS + extra


def _plan_nodes(plan: str) -> list[str]:
    """A plan string's node lines with the tree prefix stripped."""
    return [line.lstrip(" :+-") for line in plan.splitlines()]


def test_quality_logit_evaluated_once_and_cutoffs_collected(docs, spark):
    """The sealed frame's optimized plan evaluates the nine-feature logit in
    exactly one Project, with no Aggregate or Window over it and no join
    against a cutoff table: the CCNet bucket is applied after the seal.
    Above the seal the funnel and curated plans read the cached frame
    alone: no Exchange, Window or Join over it fetches the cutoffs (they
    arrive as one collected literal); the funnel's shuffle by stage is the
    only exchange allowed."""
    from wikidataquality_spark.operators.quality_model import load_quality_model

    # the fold starts from the artifact's bias, so this text marks each
    # place the plan evaluates the logit
    logit_mark = f"{float(load_quality_model()['bias'])!r} + ("
    with owned_caches() as owner:
        curated, funnel = curate(docs, CurateConfig(pack=False), persist_registry=owner)
        sealed = owner[0]
        # optimize without the cache substitution, to see what the seal holds
        plan = (
            spark._jsparkSession.sessionState()
            .optimizer()
            .execute(sealed._jdf.queryExecution().analyzed())
            .toString()
        )
        nodes = _plan_nodes(plan)
        evals = [n for n in nodes if logit_mark in n]
        assert len(evals) == 1, plan
        assert evals[0].startswith("Project") and " AS quality_logit#" in evals[0], plan
        for n in nodes:
            if n.startswith(("Aggregate", "Window")):
                assert "quality_logit" not in n and logit_mark not in n, n
        assert "cut1" not in plan and "quality_bucket" not in plan, plan

        for frame, aggs in ((curated, 0), (funnel, 2)):
            phys = frame._jdf.queryExecution().executedPlan().toString()
            # the part of the plan above the seal's cached relation
            above = _plan_nodes(phys.split("InMemoryRelation", 1)[0])
            assert sum(n.startswith("InMemoryTableScan") for n in above) == 1, phys
            # the funnel's own count by stage is the only aggregation, and
            # the only shuffle it may need
            for n in above:
                assert not n.startswith(("BroadcastExchange", "Window")), phys
                assert "Join" not in n.split(" ", 1)[0], phys
                if n.startswith("Exchange"):
                    assert n.startswith("Exchange hashpartitioning(_stage#"), phys
            agg_nodes = [n for n in above if n.startswith("HashAggregate")]
            assert len(agg_nodes) == aggs and all("keys=[_stage#" in n for n in agg_nodes), phys


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
    # ... with its false-positive budget, sized from the 10-row corpus
    from wikidataquality_spark.curate import frozen_fp_budget
    from wikidataquality_spark.operators.bloom import bloom_size

    m_bits, k = bloom_size(10, 0.01)
    bloom = {"m_bits": m_bits, "k": k, "n_keys": 10}
    assert res["frozen_bloom"] == frozen_fp_budget(bloom, res["funnel"])
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
