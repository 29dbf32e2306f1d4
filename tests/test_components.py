"""Connected components: union-find ground truth on adversarial graph
shapes, O(log n) round count on a long chain, DuckDB recursive-CTE twin,
determinism under repartitioning, and composition with the MinHash pair
stream on the real corpus."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.operators.components import (
    connected_components,
    connected_components_sql,
    neardup_clusters,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min id per component
    comp: dict[int, int] = {}
    for x in list(parent):
        comp[x] = find(x)
    return comp


def _spark_cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


GRAPHS = {
    "two_triangles": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)],
    "star": [(5, i) for i in range(6, 20)],
    "self_loops_and_dupes": [(1, 1), (2, 3), (3, 2), (2, 3), (4, 4)],
    "bridge": [(1, 2), (3, 4), (2, 3)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_matches_union_find_on_fixed_shapes(spark, name):
    edges = GRAPHS[name]
    want = _union_find(edges)
    got = _spark_cc(spark, edges)
    assert got == want, name


def test_matches_union_find_on_random_graphs(spark):
    rng = random.Random(13)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 80))
        ]
        assert _spark_cc(spark, edges) == _union_find(edges), trial


def test_long_chain_converges_in_logarithmic_rounds(spark):
    """A 300-node path is the adversarial case for naive min-label
    propagation (300 rounds); the star algorithm must finish inside the
    50-round backstop — and produce one component rooted at 0."""
    edges = [(i, i + 1) for i in range(300)]
    got = _spark_cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 301


def test_duckdb_recursive_cte_twin(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
    got = (
        connected_components(
            spark.createDataFrame(edges, "src long, dst long")
        )
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", edges)
    want = con.execute(
        connected_components_sql("pairs") + " ORDER BY node"
    ).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=True)


def test_deterministic_under_repartition(spark):
    rng = random.Random(99)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {(r["node"], r["component"])
         for r in connected_components(df).collect()}
    b = {(r["node"], r["component"])
         for r in connected_components(df.repartition(7, "dst")).collect()}
    assert a == b


def test_neardup_clusters_over_minhash_pairs(spark, sf001_dir):
    """Composition with the real pair stream: build edges from MinHash band
    collisions at sf0.01, cluster them, and check (a) every edge endpoint
    pair shares a component, (b) exactly one survivor per cluster, (c) the
    survivor is the component min, (d) sizes sum to the node count."""
    from wikidataquality_spark.operators.dedup import band_keys_sql, minhash_udf

    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    bands = docs.select("doc_id", minhash_udf(F.col("text")).alias("sig")).selectExpr(
        "doc_id", f"explode({band_keys_sql('sig')}) AS bk"
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), "bk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    n_pairs = pairs.count()
    assert n_pairs > 0  # the corpus plants near-dups
    clusters = neardup_clusters(pairs).cache()
    comp = {r["node"]: r["component"] for r in clusters.collect()}
    for r in pairs.collect():
        assert comp[r["id_a"]] == comp[r["id_b"]]
    per_comp = (
        clusters.groupBy("component")
        .agg(
            F.sum(F.col("is_cluster_survivor").cast("int")).alias("nsurv"),
            F.count("*").alias("n"),
            F.min("node").alias("mn"),
            F.first("cluster_size").alias("sz"),
        )
        .collect()
    )
    for row in per_comp:
        assert row["nsurv"] == 1
        assert row["mn"] == row["component"]
        assert row["sz"] == row["n"]
    clusters.unpersist()


def test_best_copy_survivors_argmax_with_ties_and_nulls(spark):
    from wikidataquality_spark.operators.components import best_copy_survivors

    # clusters: {1,2,3} (scores 0.2, 0.9, NULL), {10,11} (tied 0.5),
    # {20,21} (both unscored)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    scores = spark.createDataFrame(
        # 3 carries NaN (Spark orders NaN above every double — it must NOT
        # win); 10 appears twice (duplicate score rows collapse to the max)
        [(1, 0.2), (2, 0.9), (3, float("nan")), (10, 0.5), (10, 0.1), (11, 0.5)],
        "doc_id long, score double",
    )
    rows = {r["node"]: r for r in best_copy_survivors(pairs, scores).collect()}
    assert len(rows) == 7  # one row per node despite the duplicate score row
    assert rows[2]["is_survivor"] is True  # highest score wins
    assert rows[1]["survivor"] == 2 and rows[3]["survivor"] == 2
    assert rows[3]["is_survivor"] is False  # NULL score never beats a scored copy
    assert rows[10]["is_survivor"] is True  # tie -> smallest id
    assert rows[11]["survivor"] == 10
    assert rows[20]["is_survivor"] is True  # all-unscored -> min id (house order)
    assert rows[21]["survivor"] == 20
    assert all(r["cluster_size"] in (2, 3) for r in rows.values())
    # exactly one survivor per component
    by_comp: dict = {}
    for r in rows.values():
        by_comp.setdefault(r["component"], []).append(r["is_survivor"])
    assert all(sum(v) == 1 for v in by_comp.values())


def test_best_copy_survivors_python_mirror_on_random_clusters(spark):
    import random as rnd

    from wikidataquality_spark.operators.components import best_copy_survivors

    rng = rnd.Random(5)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    score_rows = [(i, round(rng.random(), 6)) for i in range(60) if rng.random() < 0.8]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    scores = spark.createDataFrame(score_rows, "doc_id long, score double")
    got = {r["node"]: r["survivor"] for r in best_copy_survivors(pairs, scores).collect()}

    # mirror: union-find + argmax(score, then -id)
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    sdict = dict(score_rows)
    comps: dict = {}
    for n in got:
        comps.setdefault(find(n), []).append(n)
    for members in comps.values():
        best = max(members, key=lambda n: (sdict.get(n, float("-inf")), -n))
        for n in members:
            assert got[n] == best
