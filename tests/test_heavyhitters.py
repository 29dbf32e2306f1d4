"""Misra–Gries gates: the merge algebra by hand, the literal guarantee
(bounds contain the exact counts; no key above the undercount is missed)
on a skewed corpus, partition-count invariance of the guarantee, bounded
candidate sets, NULL keys, and the sound hot-key superset for salting."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from wikidataquality_spark.operators.heavyhitters import (
    heavy_hitters,
    hot_keys,
    mg_merge,
)


def test_mg_merge_algebra_by_hand():
    # fits in k: exact, zero undercount
    c, d = mg_merge({}, {"a": 5, "b": 2}, k=4)
    assert c == {"a": 5, "b": 2} and d == 0
    # overflow: combined {a:5,b:2,c:3,d:2,e:1} has 5 keys; the (k+1)-th
    # largest of [5,3,2,2,1] is 1 — subtract it, keep positives
    c, d = mg_merge({"a": 5, "b": 2}, {"c": 3, "d": 2, "e": 1}, k=4)
    assert d == 1
    assert c == {"a": 4, "b": 1, "c": 2, "d": 1}  # e:0 dropped
    # lower bound property survives the merge: true(a)=5 ≥ c[a]=4 ≥ 5-d=4


def _skewed_pdf(n=20000, seed=7):
    rng = np.random.default_rng(seed)
    # 3 heavy hosts (45%/15%/8%) + a long uniform tail of 2000 rare keys
    pool = ["heavy-a"] * 45 + ["heavy-b"] * 15 + ["heavy-c"] * 8
    tail = rng.integers(0, 2000, size=n)
    pick = rng.random(n)
    keys = [
        pool[int(rng.integers(0, len(pool)))] if p < 0.68 else f"tail-{t}"
        for p, t in zip(pick, tail)
    ]
    # NULL is a real key too (unparseable hosts) — ~2% of rows
    keys = [None if rng.random() < 0.02 else k for k in keys]
    return pd.DataFrame({"host": keys})


def test_guarantees_hold_literally(spark):
    pdf = _skewed_pdf()
    truth = {
        (None if pd.isna(k) else k): int(c)
        for k, c in pdf["host"].value_counts(dropna=False).items()
    }
    df = spark.createDataFrame(pdf).repartition(8)
    out = heavy_hitters(df, "host", k=64).collect()
    assert 0 < len(out) <= 8 * 64  # bounded candidate set
    meta = out[0]
    assert meta["total_rows"] == len(pdf)
    assert meta["max_undercount"] <= len(pdf) // (64 + 1)
    by_key = {r["key"]: r for r in out}
    for r in out:  # bounds contain the exact count, every candidate
        true = truth.get(r["key"], 0)
        assert r["count_lb"] <= true <= r["count_ub"]
    # the theorem: every key above the undercount is present
    for k_, true in truth.items():
        if true > meta["max_undercount"]:
            assert k_ in by_key, f"missed {k_} (true count {true})"
    # and the heavy three are found by name with tight-ish bounds
    for name in ("heavy-a", "heavy-b", "heavy-c"):
        assert name in by_key


def test_guarantee_is_partition_invariant(spark):
    pdf = _skewed_pdf(n=8000, seed=9)
    truth = {
        (None if pd.isna(k) else k): int(c)
        for k, c in pdf["host"].value_counts(dropna=False).items()
    }
    for parts in (1, 2, 16):
        df = spark.createDataFrame(pdf).repartition(parts)
        out = heavy_hitters(df, "host", k=48).collect()
        meta = out[0]
        by_key = {r["key"]: r for r in out}
        for r in out:
            true = truth.get(r["key"], 0)
            assert r["count_lb"] <= true <= r["count_ub"]
        for k_, true in truth.items():
            if true > meta["max_undercount"]:
                assert k_ in by_key


def test_hot_keys_is_a_sound_superset(spark):
    pdf = _skewed_pdf(n=10000, seed=11)
    df = spark.createDataFrame(pdf).repartition(8)
    truth = pdf["host"].value_counts(dropna=False)
    exact_hot = {
        (None if pd.isna(k) else k)
        for k, c in truth.items()
        if c > 0.05 * len(pdf)
    }
    truthd = {(None if pd.isna(k) else k): int(c) for k, c in truth.items()}
    got = set(hot_keys(df, "host", hot_fraction=0.05))
    assert exact_hot <= got  # no hot key is ever missed
    # over-admission is bounded to warm keys, not the tail: an admitted key
    # has count_ub > 0.05n with ub ≤ true + d and d ≤ n/41
    for k_ in got - exact_hot:
        assert truthd.get(k_, 0) > 0.05 * len(pdf) - len(pdf) / 41


def test_sketch_backed_salting_spreads_the_hot_host(spark):
    """Sketch-backed salting on a skewed corpus: the hot host's rows spread
    over many partitions, rows are preserved."""
    from wikidataquality_spark.operators.dedup import (
        host_of,
        repartition_by_host_salted,
    )

    rows = [(f"https://hot.example/p/{i}",) for i in range(600)] + [
        (f"https://cold-{i % 20}.example/p/{i}",) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "url string")
    out = repartition_by_host_salted(df, n_partitions=8, hot_fraction=0.5)
    assert out.count() == 800
    hot_parts = (
        out.filter(host_of("url") == "hot.example")
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert hot_parts >= 4  # the 75% host is spread, not one straggler


def test_empty_and_tiny_inputs(spark):
    empty = spark.createDataFrame([], "host string")
    assert heavy_hitters(empty, "host", k=8).count() == 0
    assert hot_keys(empty, "host", hot_fraction=0.1) == []
    one = spark.createDataFrame([("x",)], "host string")
    rows = heavy_hitters(one, "host", k=8).collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "x" and rows[0]["count_lb"] == 1
    assert rows[0]["count_ub"] == 1 and rows[0]["max_undercount"] == 0
    # numeric key columns work at the front door (cast to string keys —
    # previously died in the Arrow serializer mid-stage)
    nums = spark.createDataFrame([(7,), (7,), (9,)], "doc_id long")
    got = {r["key"]: r["count_lb"] for r in heavy_hitters(nums, "doc_id", k=4).collect()}
    assert got == {"7": 2, "9": 1}

def test_mg_merge_guarantee_property():
    """Hypothesis: for ANY sequence of batches and any k, folding through
    mg_merge keeps the textbook invariants — ≤ k counters, exact total
    undercount d bounds every key's error, and no key with true count > d
    is ever lost."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(
        batches=st.lists(
            st.lists(st.integers(min_value=0, max_value=30), max_size=60),
            max_size=8,
        ),
        k=st.integers(min_value=1, max_value=12),
    )
    def prop(batches, k):
        counters: dict = {}
        d = 0
        truth: Counter = Counter()
        for batch in batches:
            truth.update(batch)
            counters, dec = mg_merge(counters, Counter(batch), k)
            d += dec
            assert len(counters) <= k
        n = sum(truth.values())
        assert d <= n // (k + 1) if n else d == 0
        for key, true in truth.items():
            lb = counters.get(key, 0)
            assert lb <= true <= lb + d
            if true > d:
                assert key in counters

    prop()
