"""CCNet perplexity-bucketing gates: DuckDB-twin byte parity on a no-UDF
column (full cross-engine, cutoffs included) and on real perplexity scores
round-tripped through parquet, for both ways of applying the cutoffs (the
broadcast join and the collected-cutoffs projection); hand-derived tercile
semantics incl. ties;
NULL policy; repartition invariance; and the scale contract — the document
table is never sorted/windowed, the cutoff join is broadcast."""

from __future__ import annotations

import contextlib
import io
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.operators.pplbucket import (
    ppl_bucket_sql,
    ppl_cutoffs,
    with_ppl_bucket,
    with_ppl_bucket_collected,
)

SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF001, "documents.parquet"))


def _bucket_map(df, id_col="doc_id", out_col="ppl_bucket"):
    return {r[id_col]: r[out_col] for r in df.select(id_col, out_col).collect()}


def test_hand_derived_terciles_and_ties(spark):
    # en: values 1..6 -> n=6, t1=2, t2=4: cuts 2/4 => {1,2}=head {3,4}=middle
    # fr: [5,5,5,9] -> n=4, t1=ceil(4/3)=2 cum(5)=3>=2 -> cut1=5;
    #     t2=ceil(8/3)=3 -> cut2=5: ALL 5s head, 9 tail, middle empty.
    rows = [("en", float(v), i) for i, v in enumerate([1, 2, 3, 4, 5, 6])]
    rows += [("fr", v, 10 + i) for i, v in enumerate([5.0, 5.0, 5.0, 9.0])]
    df = spark.createDataFrame(rows, "lang string, perplexity double, doc_id long")
    got = _bucket_map(with_ppl_bucket(df))
    assert [got[i] for i in range(6)] == [
        "head",
        "head",
        "middle",
        "middle",
        "tail",
        "tail",
    ]
    assert [got[10 + i] for i in range(4)] == ["head", "head", "head", "tail"]


def test_null_policy(spark):
    rows = [
        ("en", 1.0, 0),
        ("en", 2.0, 1),
        ("en", 3.0, 2),
        ("en", None, 3),  # NULL value -> NULL bucket
        (None, 1.0, 4),  # NULL lang -> NULL bucket
        ("zz", 1.0, 5),  # lang with data still buckets (single value: head)
    ]
    df = spark.createDataFrame(rows, "lang string, perplexity double, doc_id long")
    got = _bucket_map(with_ppl_bucket(df))
    assert got[3] is None and got[4] is None
    assert got[5] == "head"


def test_duckdb_twin_parity_no_udf_column(spark, docs):
    """Full cross-engine parity — cutoff computation INCLUDED — using the
    parquet-native n_chars column so DuckDB recomputes everything."""
    got = _bucket_map(
        with_ppl_bucket(docs, value_col="n_chars"), out_col="ppl_bucket"
    )
    con = duckdb.connect()
    sql = ppl_bucket_sql(
        f"'{SF001}/documents.parquet'", value_expr="n_chars"
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want
    # sanity: at least two buckets realized on this corpus
    assert {v for v in got.values() if v is not None} >= {"head", "tail"}


def test_duckdb_twin_parity_real_perplexity(spark, docs, tmp_path):
    """The production composition: score with the real perplexity UDF, then
    bucket — Spark buckets the live frame; DuckDB replays bucketing over the
    identical scores round-tripped through parquet."""
    from wikidataquality_spark.operators.perplexity import with_perplexity

    scored = with_perplexity(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", "perplexity"
    )
    path = str(tmp_path / "scored.parquet")
    scored.write.mode("overwrite").parquet(path)
    scored_back = spark.read.parquet(path)  # both engines read THE SAME bytes
    got = _bucket_map(with_ppl_bucket(scored_back))
    con = duckdb.connect()
    want = dict(con.execute(ppl_bucket_sql(f"'{path}/*.parquet'")).fetchall())
    assert got == want


def test_repartition_invariance(spark, docs):
    base = _bucket_map(with_ppl_bucket(docs, value_col="n_chars"))
    shuffled = _bucket_map(
        with_ppl_bucket(docs.repartition(13, "source"), value_col="n_chars")
    )
    assert base == shuffled


def test_round_to_bounds_distinct_values(spark):
    rows = [("en", 1.04, 0), ("en", 1.01, 1), ("en", 2.0, 2), ("en", 3.0, 3)]
    df = spark.createDataFrame(rows, "lang string, perplexity double, doc_id long")
    cuts = ppl_cutoffs(df, round_to=1).collect()[0]
    assert cuts["cut1"] == 1.0  # 1.04/1.01 both round to 1.0 -> one value
    got = _bucket_map(with_ppl_bucket(df, round_to=1))
    assert got[0] == got[1] == "head"


def test_assign_plan_broadcast_no_doc_sort(spark, docs):
    """Scale contract: the assignment side has no Exchange, no Sort, no
    Window on the document table — only a BroadcastHashJoin against the
    per-language cutoff table."""
    cuts = ppl_cutoffs(docs, value_col="n_chars")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        with_ppl_bucket(docs, cutoffs=cuts, value_col="n_chars").explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"\(\d+\) BroadcastHashJoin", plan), plan
    # The cutoff (broadcast) side legitimately sorts/windows its tiny
    # distinct-value table; the contract is that the DOCUMENT side flows
    # into the join with no operator at all between scan and join — the
    # tree shows the scan as the join's direct left child.
    assert re.search(
        r"BroadcastHashJoin LeftOuter BuildRight[^\n]*\n\s*:- Scan parquet", plan
    ), plan
    for node in ("SortMergeJoin", "CartesianProduct"):
        assert node not in plan, plan


def test_mixed_rational_irrational_qs_twin_parity(spark):
    """Per-q threshold path choice: a rational q must use exact integer
    arithmetic in BOTH engines even when the other q is irrational
    (r04 review: the twin floated both when either was irrational)."""
    import math

    rows = [(i, "en", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, perplexity double")
    df.createOrReplaceTempView("t_mixed")
    qs = (0.07, 1.0 / math.pi)
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in with_ppl_bucket(df, qs=qs).collect()
    }
    con = duckdb.connect()
    con.register("t_mixed_pd", df.toPandas())
    sql = ppl_bucket_sql("t_mixed_pd", qs=qs)
    want = {i: b for i, b in con.execute(sql).fetchall()}
    assert got == want
    # the exact-integer boundary: ceil(0.07*100) must be 7, not 8
    assert got[7] == "head" and got[8] != "head"


def test_caller_cut_columns_survive(spark):
    df = spark.createDataFrame(
        [(1, "en", 1.0, 99.0), (2, "en", 2.0, 98.0), (3, "en", 3.0, 97.0)],
        "doc_id long, lang string, perplexity double, cut1 double",
    )
    out = with_ppl_bucket(df)
    assert "cut1" in out.columns
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["cut1"] == 99.0  # the CALLER's column, untouched
    assert rows[1]["ppl_bucket"] == "head"


def _collected_twin_parity(spark, base, value_col, path):
    """Bucket `base` (doc_id, lang, value_col) plus NULL-lang, NULL-value
    and unseen-language rows, written once to parquet, three ways: the
    collected-cutoffs projection, the broadcast join, and the DuckDB twin.
    Returns the collected path's buckets, the bucketed table and its
    cutoff rows."""
    # `zz_unseen` carries only a NULL value, so it has no cutoffs row
    lang = base.select("lang").dropna().first()["lang"]
    value = base.select(value_col).dropna().first()[value_col]
    edge = spark.createDataFrame(
        [(-1, None, value), (-2, "zz_unseen", None), (-3, lang, None)], base.schema
    )
    base.unionByName(edge).write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)  # both engines read THE SAME bytes
    cuts = ppl_cutoffs(t, value_col=value_col)
    got = _bucket_map(with_ppl_bucket_collected(t, cuts, value_col=value_col))
    joined = _bucket_map(with_ppl_bucket(t, cutoffs=cuts, value_col=value_col))
    want = dict(
        duckdb.connect()
        .execute(ppl_bucket_sql(f"'{path}/*.parquet'", value_expr=value_col))
        .fetchall()
    )
    assert got == joined == want
    assert got[-1] is None and got[-2] is None and got[-3] is None
    return got, t, cuts.collect()


def _assert_ties_take_lower_bucket(got, t, cut_rows, value_col):
    """Every language has docs sitting exactly on cut1 and cut2 (cutoffs are
    data values); each is bucketed at or below the cut it equals."""
    by_lang = {r["lang"]: (r["cut1"], r["cut2"]) for r in cut_rows}
    on_cut1 = on_cut2 = 0
    for r in t.select("doc_id", "lang", value_col).collect():
        cut1, cut2 = by_lang.get(r["lang"], (None, None))
        if r[value_col] is None or cut1 is None:
            continue
        if r[value_col] == cut1:
            on_cut1 += 1
            assert got[r["doc_id"]] == "head", r
        elif r[value_col] == cut2:
            on_cut2 += 1
            assert got[r["doc_id"]] == "middle", r
    assert on_cut1 >= len(by_lang) and on_cut2 > 0


def test_collected_cutoffs_twin_parity_no_udf_column(spark, docs, tmp_path):
    """The collected-cutoffs projection on the no-UDF column equals the
    DuckDB twin and the join form byte for byte, with NULL and unseen
    languages, NULL values and ties at cut1/cut2."""
    base = docs.select("doc_id", "lang", "n_chars")
    got, t, cut_rows = _collected_twin_parity(
        spark, base, "n_chars", str(tmp_path / "n_chars.parquet")
    )
    _assert_ties_take_lower_bucket(got, t, cut_rows, "n_chars")


def test_collected_cutoffs_twin_parity_real_perplexity(spark, docs, tmp_path):
    """The same three-way parity on real perplexity scores round-tripped
    through parquet."""
    from wikidataquality_spark.operators.perplexity import with_perplexity

    scored = with_perplexity(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", "perplexity"
    )
    path = str(tmp_path / "scored.parquet")
    scored.write.mode("overwrite").parquet(path)
    got, t, cut_rows = _collected_twin_parity(
        spark, spark.read.parquet(path), "perplexity", str(tmp_path / "edges.parquet")
    )
    _assert_ties_take_lower_bucket(got, t, cut_rows, "perplexity")


def test_collected_cutoffs_plan_is_one_projection(spark, docs):
    """The collected form leaves no join, exchange or window in the
    document's plan: the cutoffs are one literal lookup. An empty cutoff
    table buckets every doc NULL."""
    cuts = ppl_cutoffs(docs, value_col="n_chars")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        with_ppl_bucket_collected(docs, cuts, value_col="n_chars").explain("formatted")
    plan = buf.getvalue()
    for node in ("Join", "Exchange", "Window", "Aggregate", "Sort"):
        assert node not in plan, plan
    none = with_ppl_bucket_collected(
        docs, cuts.filter(F.lit(False)), value_col="n_chars"
    )
    assert none.filter(F.col("ppl_bucket").isNotNull()).count() == 0
