"""SimHash near-dup: signature properties + dedup semantics + determinism."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wikidataquality_spark.operators.dedup import (
    SIMHASH_MAX_HAMMING,
    simhash_dedup,
    simhash_udf,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running through "
        "the green field while birds sing in the morning light near the river"
    )
    near = base.replace("morning", "evening")  # one token changed
    far = (
        "completely different content about spark dataframes shuffles and "
        "catalyst optimizer rules for large scale distributed query planning"
    )
    rows = [
        (0, base),
        (1, base),        # exact dup of 0
        (2, near),        # near dup of 0 (hamming small)
        (3, far),
        (4, None),        # null text must survive untouched
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_signature_properties(spark, docs):
    sigs = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_udf("text").alias("s")).collect()
    }
    assert sigs[0] == sigs[1]  # identical text → identical signature
    assert hamming(sigs[0], sigs[2]) <= SIMHASH_MAX_HAMMING  # 1-token edit → tiny distance
    assert hamming(sigs[0], sigs[3]) > SIMHASH_MAX_HAMMING  # unrelated → far
    assert sigs[4] is None


def test_dedup_drops_near_and_exact(spark, docs):
    kept = sorted(
        r["doc_id"] for r in simhash_dedup(docs, id_col="doc_id").select("doc_id").collect()
    )
    # 0 survives (min id); 1 (exact) and 2 (near) drop; 3 distinct; 4 null survives
    assert kept == [0, 3, 4]


def test_dedup_repartition_invariant(spark, docs):
    a = sorted(r["doc_id"] for r in simhash_dedup(docs, id_col="doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in simhash_dedup(docs.repartition(7, "doc_id"), id_col="doc_id").collect()
    )
    assert a == b


def test_far_pair_not_dropped_even_if_bucketed(spark):
    """Banding may collide unrelated docs; the exact hamming verify must
    reject them — survivors only shrink for true near-dups."""
    rows = [(i, f"unique document number {i} with distinct content token{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash_udf("text").alias("s")).collect()}
    kept = {r["doc_id"] for r in simhash_dedup(df, id_col="doc_id").collect()}
    dropped = set(sigs) - kept
    for d in dropped:
        assert any(
            hamming(sigs[d], sigs[k]) <= SIMHASH_MAX_HAMMING for k in sigs if k < d
        )


def test_null_text_exempt_from_dedup(spark):
    """Extraction-failure docs (NULL text) must not dedup against each other:
    xxhash64(NULL) is a constant and a NULL signature's band keys collapse to
    xxhash64(band_i), so before the exemption every NULL-text doc shared one
    exact partition and all 16 band buckets — silently dropped/flagged as
    'duplicates' of unrelated pages (r03 distributed-correctness review)."""
    from pyspark.sql import functions as F

    from wikidataquality_spark.operators.dedup import (
        dup_fingerprints,
        dup_marks,
        exact_dedup,
        minhash_dedup,
    )

    rows = [
        ("u1", "the quick brown fox jumps over the lazy dog today"),
        ("u2", "the quick brown fox jumps over the lazy dog today"),  # real dup
        ("u3", None),
        ("u4", None),
        ("u5", None),
    ]
    df = spark.createDataFrame(rows, "url string, text string")

    # non-destructive flags: NULL docs never flagged, the real dup is
    flags = {r["url"]: (r["is_exact_dup"], r["is_near_dup"]) for r in dup_marks(df).collect()}
    assert flags["u2"] == (True, True)
    assert flags["u1"] == (False, False)
    assert flags["u3"] == (False, False) and flags["u4"] == (False, False)

    # destructive variants: every NULL-text row survives
    assert exact_dedup(df).filter(F.col("text").isNull()).count() == 3
    assert minhash_dedup(df).filter(F.col("text").isNull()).count() == 3
    # and NULL docs emit no fingerprints into incremental state
    assert dup_fingerprints(df).filter(F.col("url").isin("u3", "u4", "u5")).count() == 0


def test_contentless_text_exempt_from_near_dup(spark):
    """Token-less (whitespace-only) docs carry no content signal: their
    minhash base and simhash both collapse to constants, so byte-DIFFERENT
    contentless docs would near-dup each other (r04 review — the NULL
    exemption existed, the token-less one did not). Byte-IDENTICAL
    whitespace pages are still legitimately EXACT dups."""
    from wikidataquality_spark.operators.dedup import (
        STATE_BAND_KIND,
        dup_fingerprints,
        dup_marks,
        minhash_dedup,
        simhash_dedup,
    )

    rows = [
        ("u1", "the quick brown fox jumps over the lazy dog today"),
        ("u2", "   "),
        ("u3", "\n\n"),
        ("u4", "\t"),
        ("u5", "   "),  # byte-identical to u2 → exact dup, not near
        # UNICODE whitespace: Java rlike('\\S') passes these (ASCII classes)
        # but Python split() yields zero tokens — the NULL-signature gate,
        # not the regex, must exempt them (r04 review)
        ("u6", " "),  # NBSP
        ("u7", "  "),
        ("u8", "　"),  # ideographic space
    ]
    df = spark.createDataFrame(rows, "url string, text string")

    # destructive near-dup variants: every contentless row survives
    assert minhash_dedup(df).count() == 8
    assert simhash_dedup(df).count() == 8

    flags = {
        r["url"]: (r["is_exact_dup"], r["is_near_dup"]) for r in dup_marks(df).collect()
    }
    assert flags["u2"] == (False, False)
    assert flags["u3"] == (False, False) and flags["u4"] == (False, False)
    assert flags["u5"] == (True, False)  # byte-identical whitespace: exact only
    assert flags["u6"] == (False, False)  # NBSP-only: no near flag
    assert flags["u7"] == (False, False) and flags["u8"] == (False, False)

    # state table: contentless docs emit an exact fingerprint but NO band rows
    fp = dup_fingerprints(df)
    assert fp.filter((F.col("url") == "u2") & (F.col("kind") == STATE_BAND_KIND)).count() == 0
    assert fp.filter((F.col("url") == "u2") & (F.col("kind") != STATE_BAND_KIND)).count() == 1


_NEAR_A = "the quick brown fox jumps over the lazy dog again " * 3
_SIG_PARITY_ROWS = [
    ("u1", None),
    ("u2", "\u00a0\u00a0"),  # NBSP-only: passes rlike('\\S'), zero tokens
    ("u3", "\x1c"),  # separator-only: Python split() whitespace, not Java \s
    ("u4", "an exact duplicate document body about river banks"),
    ("u5", "an exact duplicate document body about river banks"),
    ("u6", _NEAR_A),
    ("u7", _NEAR_A.replace("lazy", "idle", 1)),  # near-dup of u6
    ("u8", "completely different content about spark shuffles and planners"),
]


@pytest.mark.parametrize("op", ["dup_marks", "dup_fingerprints"])
def test_signature_column_matches_udf_path(spark, op):
    """The two ways of supplying signatures give the same rows: a
    precomputed column (sig_col — what the fused enrich stage hands
    validate()'s dup_marks) and the operator's own minhash_udf pass (what
    curate() and the state writers use), over every exemption case."""
    import wikidataquality_spark.operators.dedup as D

    df = spark.createDataFrame(_SIG_PARITY_ROWS, "url string, text string")
    with_sig = df.withColumn("sig", D.minhash_udf(F.col("text")))
    fn = getattr(D, op)
    cols = (
        ["url", "is_exact_dup", "is_near_dup"]
        if op == "dup_marks"
        else ["url", "kind", "k1", "k2"]
    )

    def rows(out):
        return sorted(tuple(r) for r in out.select(*cols).collect())

    via_udf = rows(fn(df))
    assert rows(fn(with_sig, sig_col="sig")) == via_udf
    if op == "dup_marks":  # premise: the corpus exercises both flags
        flags = {r[0]: r[1:] for r in via_udf}
        assert flags["u5"] == (True, True) and flags["u7"] == (False, True)
        assert flags["u2"] == flags["u3"] == (False, False)


def test_short_doc_word_order_distinguishes(spark):
    """Sub-SHINGLE_K docs collapse to one shingle; the combiner must be
    position-sensitive — a plain token-hash sum made 'river bank' and
    'bank river' near-dup each other (r04 review)."""
    from wikidataquality_spark.operators.dedup import minhash_dedup

    rows = [
        ("u1", "river bank"),
        ("u2", "bank river"),
        ("u3", "river bank"),  # genuine exact/near dup of u1
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = minhash_dedup(df)
    kept = {r["url"] for r in out.collect()}
    assert "u2" in kept  # permuted doc survives
    assert kept == {"u1", "u2"}  # identical short doc still deduped


def test_minhash_verify_rejects_planted_low_jaccard_collision(spark):
    """r04 VERDICT #2: bucket collision alone admitted J 0.3–0.5 pairs
    (~2.5% in the measured planted sweep) — and a drop is unrecoverable.
    This pair was FOUND by deterministic search over the library's own
    hashing (60 synthetic tokens, 7 replaced): true shingle Jaccard 0.487,
    yet one full band collides, and only 61/128 signature components agree.
    Collision-only dedup (dup_marks' near flag) wrongly marks the twin;
    minhash_dedup's component-agreement verify (matches ≥ 80) keeps it. A
    genuine near-dup in the same frame must still drop either way."""
    import numpy as np

    from wikidataquality_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_ROWS,
        MINHASH_VERIFY_MIN_EQ,
        _minhash_sig,
        _shingle_hashes,
        dup_marks,
        minhash_dedup,
        minhash_params,
    )

    base_toks = [f"w54_{i}" for i in range(60)]
    twin_toks = list(base_toks)
    for p in (1, 4, 24, 30, 39, 48, 55):
        twin_toks[p] = f"x54_{p}"
    # premise guards: if hashing/geometry ever changes, fail HERE (premise
    # dead) rather than silently passing the behavioral asserts below
    a, b = minhash_params()
    vocab: dict = {}
    s0 = _shingle_hashes(base_toks, vocab)
    s1 = _shingle_hashes(twin_toks, vocab)
    set0, set1 = frozenset(s0.tolist()), frozenset(s1.tolist())
    jac = len(set0 & set1) / len(set0 | set1)
    assert jac < 0.5, f"premise: planted pair drifted to J={jac}"
    g0, g1 = _minhash_sig(s0, a, b), _minhash_sig(s1, a, b)
    collided = any(
        tuple(g0[bd * MINHASH_ROWS : (bd + 1) * MINHASH_ROWS])
        == tuple(g1[bd * MINHASH_ROWS : (bd + 1) * MINHASH_ROWS])
        for bd in range(MINHASH_BANDS)
    )
    assert collided, "premise: planted pair no longer band-collides"
    matches = int(np.sum(g0 == g1))
    assert matches < MINHASH_VERIFY_MIN_EQ

    near_a = "the quick brown fox jumps over the lazy dog again " * 3
    near_b = near_a.replace("lazy", "idle", 1)  # true near-dup (J ≈ 0.9)
    rows = [
        ("u1", " ".join(base_toks)),
        ("u2", " ".join(twin_toks)),
        ("u3", near_a),
        ("u4", near_b),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    kept_verified = {r["url"] for r in minhash_dedup(df).collect()}
    assert kept_verified == {"u1", "u2", "u3"}  # low-J twin SAVED, real dup dropped
    kept_collision = {
        r["url"] for r in dup_marks(df).filter("NOT is_near_dup").collect()
    }
    assert kept_collision == {"u1", "u3"}  # collision-only wrongly drops u2


def test_minhash_verify_plan_shape(spark):
    """The verify pass's scale contract (and the plan_audit ARROW_EXEMPT
    premise): the signature UDF evaluates the CORPUS exactly once — the
    static plan duplicates the candidate lineage across consumers, but
    runtime exchange reuse collapses it (asserted via ReusedExchange in the
    final adaptive plan AND an accumulator counting actual UDF rows: corpus
    + each candidate id once — both pair sides read one re-signed frame —
    never a second corpus pass). The candidate-id restriction is a
    broadcast LeftSemi join preceding the re-sign.
    (Iterator/pd are module-level imports: `from __future__ import
    annotations` stringifies the UDF type hints and PySpark resolves them
    in the module globals.)"""
    from pyspark.sql import functions as SF
    from pyspark.sql import types as ST

    import wikidataquality_spark.operators.dedup as D

    acc = spark.sparkContext.accumulator(0)
    minhash_params, sig_series = D.minhash_params, D.minhash_sig_series

    @SF.pandas_udf(ST.ArrayType(ST.LongType()))
    def counting_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        a, b = minhash_params()
        vocab: dict = {}
        for texts in batches:
            acc.add(len(texts))
            yield sig_series(texts, a, b, vocab)

    real = D.minhash_udf
    try:
        D.minhash_udf = counting_udf
        # 60 distinct docs + 6 near-dup twins → candidates are the dup pairs
        rows = [(f"u{i:02d}", f"alpha{i} beta{i} gamma{i} " * 8) for i in range(60)]
        rows += [(f"v{i:02d}", f"alpha{i} beta{i} gamma{i} " * 8) for i in range(6)]
        df = spark.createDataFrame(rows, "url string, text string")
        out = D.minhash_dedup(df)
        got = out.collect()
    finally:
        D.minhash_udf = real
    assert len(got) == 60  # the 6 twins dropped (verified true dups)
    # corpus pass (66) + the ≤12 candidate ids of ≤6 pairs, each re-signed
    # once — re-signing per pair side would show 90, a second corpus pass
    # ≥ 132
    assert 66 <= acc.value <= 66 + 2 * 6, acc.value
    fmt = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in fmt
    # two Arrow stages run: the corpus pass and the candidate re-sign
    assert fmt.split("== Initial Plan ==")[0].count("ArrowEvalPython") == 2
    assert "ReusedExchange" in fmt  # the collapse the row-count proves
    assert "LeftSemi" in fmt  # candidate-id restriction before the re-sign
    assert "CartesianProduct" not in fmt and "BatchEvalPython" not in fmt


def test_null_host_population_is_salted(spark):
    """When unparseable URLs (host → NULL) exceed hot_fraction, the NULL
    'host' must salt like any hot host — isin() is NULL for NULL input, so
    the old predicate silently sent every malformed-URL row to the single
    (NULL, 0) partition (r04 review)."""
    from wikidataquality_spark.operators.dedup import (
        host_of,
        repartition_by_host_salted,
    )

    rows = [(f"http://ok{i % 7}.example.com/p{i}", i) for i in range(60)] + [
        (f"not a url at all {i}", i) for i in range(140)
    ]
    df = spark.createDataFrame(rows, "url string, v long")
    out = repartition_by_host_salted(df, n_partitions=16, hot_fraction=0.05)
    assert out.count() == 200  # no rows lost
    null_part_counts = (
        out.filter(host_of("url").isNull())
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    # the 140 malformed-URL rows must spread over >1 partition
    assert len(null_part_counts) > 1
    assert max(r["count"] for r in null_part_counts) < 140


def test_duplicate_ids_do_not_drop_survivor(spark):
    """A re-crawled url (same id twice, identical text) must not lose the
    document: per-instance exact flags used to rejoin onto BOTH instances of
    the id, flagging the survivor itself. The id-level bool_and keeps an id
    unflagged when any instance is the survivor, and the rejoin must not
    multiply rows."""
    from wikidataquality_spark.operators.dedup import dup_marks

    rows = [
        ("a", "completely unique text one of a kind here", "t1"),
        ("a", "completely unique text one of a kind here", "t2"),  # re-crawl
        ("b", "another different document body goes right here", "t3"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, crawl string")
    out = dup_marks(df).collect()
    assert len(out) == 3  # no join fan-out
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r["is_exact_dup"])
    assert by_url["a"] == [False, False]  # survivor id never self-flagged
    assert by_url["b"] == [False]


def _plan_nodes(plan) -> list[str]:
    """Pre-order node names of a JVM logical plan."""
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


def test_dup_marks_builds_both_flags_in_one_aggregate(spark):
    """dup_marks decides exact and near flags in ONE groupBy(id) over the
    union of the exact window's instance rows and the band candidates: the
    optimized plan holds one Aggregate, directly over a Union, and no join
    but the broadcast rejoin of the flags."""
    from wikidataquality_spark.operators.dedup import dup_marks

    rows = [(f"u{i}", f"alpha{i % 7} beta gamma {i % 5} " * 4) for i in range(20)]
    df = spark.createDataFrame(rows, "url string, text string")
    nodes = _plan_nodes(dup_marks(df)._jdf.queryExecution().optimizedPlan())
    assert nodes.count("Aggregate") == 1, nodes
    assert nodes[nodes.index("Aggregate") + 1] == "Union", nodes
    assert nodes.count("Join") == 1, nodes


# exact copies, one- and two-token variants (near dups), a word-order pair,
# and the exempt population: NULL and token-less text (ASCII and NBSP)
_BASE_DOC = " ".join(f"tok{i}" for i in range(40))
_DOC_POOL = [
    _BASE_DOC,
    _BASE_DOC.replace("tok7 ", "alt7 "),
    _BASE_DOC.replace("tok7 ", "alt7 ").replace("tok30 ", "alt30 "),
    " ".join(f"other{i}" for i in range(40)),
    "river bank",
    "bank river",
    None,
    "",
    "   ",
    "\u00a0\u00a0",
]
_IDS = [f"u{i}" for i in range(12)]


def _exact_near_join_reference(df, state):
    """dup_marks' flag build as a join of two aggregations: exact flags from
    groupBy(id) over the exact window, near flags from a distinct over the
    band candidates, left-joined and coalesced, then rejoined."""
    from wikidataquality_spark.operators.dedup import (
        STATE_EXACT_KIND,
        _band_candidates,
        _keyed,
    )

    keyed = _keyed(df, "text", "url", None)
    if state is not None:
        state = state.join(keyed.select("url"), "url", "left_anti")
    exact_in = keyed.selectExpr("url", "_h", "_h2", "FALSE AS _from_state")
    if state is not None:
        exact_in = exact_in.unionByName(
            state.filter(F.col("kind") == STATE_EXACT_KIND).selectExpr(
                "url", "k1 AS _h", "k2 AS _h2", "TRUE AS _from_state"
            )
        )
    exact = (
        exact_in.selectExpr(
            "url",
            "_from_state",
            "(row_number() OVER (PARTITION BY _h, _h2 "
            "ORDER BY _from_state DESC, url)) > 1 AS _inst_dup",
        )
        .filter("NOT _from_state")
        .groupBy("url")
        .agg(F.expr("bool_and(_inst_dup)").alias("is_exact_dup"))
    )
    near = (
        _band_candidates(keyed, "url", state)
        .select("url")
        .distinct()
        .selectExpr("url", "TRUE AS is_near_dup")
    )
    flags = (
        exact.join(near, "url", "left")
        .selectExpr(
            "url", "is_exact_dup", "coalesce(is_near_dup, FALSE) AS is_near_dup"
        )
        .filter("is_exact_dup OR is_near_dup")
    )
    return df.join(F.broadcast(flags), "url", "left").selectExpr(
        "*",
        "coalesce(is_exact_dup, FALSE) AS _e",
        "coalesce(is_near_dup, FALSE) AS _n",
    )


@given(
    batch=st.lists(
        st.tuples(st.sampled_from(_IDS[:8]), st.sampled_from(_DOC_POOL)),
        min_size=1,
        max_size=14,
    ),
    prior=st.one_of(
        st.none(),
        st.lists(
            st.tuples(st.sampled_from(_IDS[4:]), st.sampled_from(_DOC_POOL)),
            min_size=1,
            max_size=6,
        ),
    ),
)
@settings(max_examples=8, deadline=None)
def test_dup_marks_matches_exact_near_join_reference(spark, batch, prior):
    """On generated corpora with repeated ids, exact and near dups, NULL and
    token-less text, with and without a fingerprint state whose ids overlap
    the batch, the one-aggregate flags equal the exact⋈near reference row
    for row."""
    from wikidataquality_spark.operators.dedup import dup_fingerprints, dup_marks

    schema = "url string, text string"
    df = spark.createDataFrame(batch, schema)
    state = None if prior is None else dup_fingerprints(spark.createDataFrame(prior, schema))

    def rows(frame, exact, near):
        return sorted(
            (r["url"], repr(r["text"]), r[exact], r[near])
            for r in frame.select("url", "text", exact, near).collect()
        )

    got = rows(dup_marks(df, state=state), "is_exact_dup", "is_near_dup")
    want = rows(_exact_near_join_reference(df, state), "_e", "_n")
    assert got == want


def _map_sides(df) -> dict[str, list[str]]:
    """Each shuffle Exchange of `df`'s physical plan (before adaptive
    re-planning), as its one-line description, mapped to its map side: the
    one-line descriptions of the nodes under it down to, not past, the next
    Exchange."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    out: dict[str, list[str]] = {}

    def walk(node, side):
        kids = node.children()
        for i in range(kids.size()):
            kid = kids.apply(i)
            line = kid.simpleString(100)
            if kid.nodeName() == "Exchange":
                out[line] = []
                walk(kid, out[line])
            else:
                side.append(line)
                walk(kid, side)

    walk(plan, [])
    return out


def test_recrawl_exchange_partitions_on_canonical_url(spark):
    """The recrawl window's Exchange hash-partitions on the canonical url
    itself, which compresses alongside the url the row carries, and no
    xxhash64 key is computed below it."""
    import datetime
    import re

    from wikidataquality_spark.operators.dedup import drop_url_dups_narrow

    t0 = datetime.datetime(2025, 1, 1)
    caps = spark.createDataFrame(
        [("https://site.com/a", t0, b"a"), ("https://www.site.com/a", t0, b"b")],
        "url string, warc_ts timestamp, html binary",
    )
    ((ex, side),) = _map_sides(drop_url_dups_narrow(caps)).items()
    assert re.match(r"Exchange hashpartitioning\(_canon#\d+, \d+\)", ex), ex
    assert not any("xxhash64" in s for s in side), side


@pytest.mark.parametrize("id_type", ["string", "long"])
def test_dup_marks_sorts_string_ids_under_both_windows(spark, id_type):
    """dup_marks over string ids sorts its keyed rows by id under both the
    exact-window and the band-window Exchange, so the map output is written
    in url order; over long ids there is no such sort, since it would
    shrink nothing."""
    import re

    from wikidataquality_spark.operators.dedup import dup_marks

    ids = [f"u{i}" for i in range(20)] if id_type == "string" else list(range(20))
    df = spark.createDataFrame(
        [(u, f"alpha{i % 7} beta gamma {i % 5} " * 4) for i, u in enumerate(ids)],
        f"url {id_type}, text string",
    )
    sides = _map_sides(dup_marks(df))
    for key in ("_h", "_band_key"):
        (side,) = [
            s for ex, s in sides.items() if ex.startswith(f"Exchange hashpartitioning({key}#")
        ]
        id_sorts = [s for s in side if re.match(r"Sort \[url#\d+L? ASC NULLS FIRST\], false", s)]
        assert len(id_sorts) == (id_type == "string"), (key, side)
