"""CCNet-style per-language perplexity bucketing (head / middle / tail).

CCNet (Wenzek et al. 2020) splits each language's corpus into quality
terciles by LM perplexity — "head" (lowest perplexity) feeds the model,
"tail" is dropped or down-weighted. The naive Spark spelling is
`percent_rank() OVER (PARTITION BY lang ORDER BY ppl)` — which forces EVERY
document of one language into one task: at 10¹² docs the English partition
is a single-machine sort. This module never ranks the document table:

  1. **cutoffs** — per (lang, distinct value) doc counts (partial-agg
     shuffle, rows = distinct values, corpus-size independent), cumulative
     count window over the DISTINCT-VALUE table only (bounded by value
     cardinality, not doc count), cutoff_q = MIN value whose cumulative
     count ≥ ceil(q·n). This is the discrete quantile (type-1), chosen over
     interpolated percentiles because it is pure integer logic + comparisons
     on existing doubles — bit-identical cross-engine, no FMA/ulp hazard.
  2. **assign** — bucket by two comparisons against the language's
     (cut1, cut2). Zero sort, zero skew: ties share a bucket by
     construction, so the result is partition- and retry-independent. The
     cutoffs reach the documents one of two ways, both through the one
     head/middle/tail CASE (`_bucket`, with one NULL policy):
     - `with_ppl_bucket` broadcast-joins the (lang, cut1, cut2) table (one
       row per language). It stays lazy, so a query builder that must not
       execute can use it; but the cutoff aggregation and the document side
       are two evaluations of the value column.
     - `with_ppl_bucket_collected` collects that table once (its rows are
       bounded by the number of languages) and looks the cutoffs up in a
       literal map: a projection with no join and no exchange. Over a
       cached frame the value column is then evaluated once per document,
       where the frame was filled (curate.curate does this after its seal).

At production scale step 1's distinct-value table can itself be bounded by
pre-rounding the value column (CCNet buckets on integer-rounded perplexity);
`round_to` exposes that knob — rounding happens BEFORE counting so cutoffs
and assignment see the same value.

Reference analogue: RangeChecker's bounds ethos (ref≈includes/ConstraintCheck/
Checker/RangeChecker.php:~30-100) with corpus-derived, per-group bounds.

DuckDB twin: `ppl_bucket_sql` replays the identical algorithm (same ceil
arithmetic, same MIN-over-CASE cutoff, same tie semantics) — gated bytewise
in tests/test_pplbucket.py on both a no-UDF column and real perplexity
scores round-tripped through parquet, for both assign forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructType

BUCKETS = ("head", "middle", "tail")


def _rounded(col, round_to: int | None):
    return F.round(col, round_to) if round_to is not None else col


def ppl_cutoffs(
    df: DataFrame,
    lang_col: str = "lang",
    value_col: str = "perplexity",
    qs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    round_to: int | None = None,
) -> DataFrame:
    """(lang, cut1, cut2): cut_q = smallest value v with
    count(value ≤ v) ≥ ceil(q·n), per language, NULL values excluded.
    The window runs over DISTINCT values only — its partition size is value
    cardinality, not document count."""
    assert 0 < qs[0] < qs[1] < 1, qs
    v = _rounded(F.col(value_col), round_to)
    per_value = (
        df.filter(F.col(value_col).isNotNull() & F.col(lang_col).isNotNull())
        .groupBy(F.col(lang_col).alias("lang"), v.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy("v")
    cum = per_value.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    # ceil(q·n) in exact integer arithmetic for tercile-style rationals:
    # ceil(a·n/b) = floor((a·n + b - 1)/b). Fall back to float ceil for
    # irrational q (same value both engines: one double multiply + ceil).
    def thresh(q: float):
        frac = _as_fraction(q)
        if frac is not None:
            # `div`, not `/`: Spark's `/` on longs is a DOUBLE divide, which
            # goes inexact past 2⁵³ — 10¹²-doc counts times a numerator get
            # close enough to care. DuckDB's `//` twin is integer too.
            a, b = frac
            return F.expr(f"(n * {a} + {b - 1}) div {b}")
        return F.ceil(F.col("n") * F.lit(q)).cast("long")

    return cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") >= thresh(qs[0]), F.col("v"))).alias("cut1"),
        F.min(F.when(F.col("cum") >= thresh(qs[1]), F.col("v"))).alias("cut2"),
    )


def _as_fraction(q: float, max_den: int = 1000) -> tuple[int, int] | None:
    """Exact small fraction for q if one exists (1/3 → (1,3)); else None."""
    from fractions import Fraction

    f = Fraction(q).limit_denominator(max_den)
    return (f.numerator, f.denominator) if float(f) == q else None


def _bucket(value_col: str, round_to: int | None, cuts: Column, cut1: Column, cut2: Column) -> Column:
    """The head/middle/tail CASE both assign forms share: `cuts` is NULL for
    a NULL or unseen language. NULL value or NULL/unseen lang → NULL bucket;
    a value equal to a cutoff falls in the lower bucket."""
    v = _rounded(F.col(value_col), round_to)
    return (
        F.when(F.col(value_col).isNull() | cuts.isNull(), F.lit(None))
        .when(v <= cut1, F.lit("head"))
        .when(v <= cut2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )


def with_ppl_bucket(
    df: DataFrame,
    cutoffs: DataFrame | None = None,
    lang_col: str = "lang",
    value_col: str = "perplexity",
    qs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    round_to: int | None = None,
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """Attach head/middle/tail per language. The cutoff table is broadcast
    (rows = languages); the document table is never sorted or windowed.
    NULL value or NULL/unseen lang → NULL bucket."""
    if cutoffs is None:
        cutoffs = ppl_cutoffs(df, lang_col, value_col, qs, round_to)
    # every cutoff column gets the __ prefix before the join: a caller frame
    # that already carries cut1/cut2 would otherwise be clobbered by the
    # unconditional drop below (r04 review)
    cuts = (
        cutoffs.withColumnRenamed("lang", "__cut_lang")
        .withColumnRenamed("cut1", "__cut1")
        .withColumnRenamed("cut2", "__cut2")
    )
    joined = df.join(
        F.broadcast(cuts), F.col(lang_col) == F.col("__cut_lang"), "left"
    )
    bucket = _bucket(
        value_col, round_to, F.col("__cut_lang"), F.col("__cut1"), F.col("__cut2")
    )
    return joined.withColumn(out_col, bucket).drop("__cut_lang", "__cut1", "__cut2")


def with_ppl_bucket_collected(
    df: DataFrame,
    cutoffs: DataFrame,
    lang_col: str = "lang",
    value_col: str = "perplexity",
    round_to: int | None = None,
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """with_ppl_bucket's result from ONE collect() of `cutoffs` (rows =
    languages): the cutoffs become a literal lang → (cut1, cut2) map, so
    the assignment is a projection over `df` — no join, no exchange, and
    nothing of the cutoffs' lineage left in `df`'s plan. Same CASE, same
    NULL and tie semantics, same output type."""
    cut_t = StructType([cutoffs.schema["cut1"], cutoffs.schema["cut2"]])
    entries = [
        x
        for r in cutoffs.collect()
        for x in (
            F.lit(r["lang"]),
            F.struct(F.lit(r["cut1"]).alias("cut1"), F.lit(r["cut2"]).alias("cut2")),
        )
    ]
    # the cast pins each literal to the cutoff table's own types (and gives
    # an empty table a typed empty map)
    lookup = F.create_map(*entries).cast(MapType(cutoffs.schema["lang"].dataType, cut_t))
    cuts = lookup[F.col(lang_col)]
    return df.withColumn(
        out_col, _bucket(value_col, round_to, cuts, cuts["cut1"], cuts["cut2"])
    )


def ppl_bucket_ctes(
    table: str,
    lang_expr: str = "lang",
    value_expr: str = "perplexity",
    qs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    round_to: int | None = None,
) -> tuple[str, str]:
    """Composable DuckDB twin pieces: `(cte_chain, bucket_case)`.

    `cte_chain` defines per_value/cum/cuts over `table` (splice after WITH,
    possibly behind caller CTEs — `table` may itself be a CTE name);
    `bucket_case` assumes the caller selects FROM `{table} t LEFT JOIN cuts
    ON t.{lang_expr} = cuts.lang`. Both embed the identical ceil arithmetic
    and tie/NULL semantics as the Spark operator."""
    v = f"round({value_expr}, {round_to})" if round_to is not None else value_expr

    # per-q path choice, EXACTLY like ppl_cutoffs.thresh — choosing the
    # integer path only `if all(fracs)` diverged from Spark on mixed qs
    # like (0.07, 1/π): Spark used exact ints for the rational one while
    # the twin floated both, flipping a boundary cutoff (r04 review)
    def _t(q: float) -> str:
        frac = _as_fraction(q)
        if frac is not None:
            a_, b_ = frac
            return f"(n * {a_} + {b_ - 1}) // {b_}"
        return f"CAST(ceil(n * {q!r}) AS BIGINT)"

    t1, t2 = _t(qs[0]), _t(qs[1])
    ctes = f"""per_value AS (
  SELECT {lang_expr} AS lang, {v} AS v, COUNT(*) AS c
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND {lang_expr} IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT lang, v,
         SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM per_value
), cuts AS (
  SELECT lang,
         MIN(CASE WHEN cum >= {t1} THEN v END) AS cut1,
         MIN(CASE WHEN cum >= {t2} THEN v END) AS cut2
  FROM cum GROUP BY lang
)"""
    case = f"""CASE WHEN {value_expr} IS NULL OR cuts.lang IS NULL THEN NULL
            WHEN {v} <= cut1 THEN 'head'
            WHEN {v} <= cut2 THEN 'middle'
            ELSE 'tail' END"""
    return ctes, case


def ppl_bucket_sql(
    table: str,
    id_expr: str = "doc_id",
    lang_expr: str = "lang",
    value_expr: str = "perplexity",
    qs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    round_to: int | None = None,
) -> str:
    """DuckDB twin of ppl_cutoffs + with_ppl_bucket: identical distinct-value
    cumulative-count cutoffs, identical tie/NULL semantics. Emits
    (id, bucket) for every row of `table`."""
    ctes, case = ppl_bucket_ctes(table, lang_expr, value_expr, qs, round_to)
    return f"""
WITH {ctes}
SELECT {id_expr} AS id,
       {case} AS bucket
FROM {table} t LEFT JOIN cuts ON t.{lang_expr} = cuts.lang
"""
