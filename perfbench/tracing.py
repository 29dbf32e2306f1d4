"""The traced run: the production DAGs rebuilt from each layer's public
functions, in the order `pipeline.validate`, `tools/run_pipeline.py` and
`curate.curate` call them, with every layer boundary sealed (persist + noop
write) under its own Spark job group.

A layer's span covers building its plan and sealing it, so its self time is
the span (spans do not nest). Row counts are taken on the sealed frames
outside the spans. The reconstruction writes the same outputs as the
production call, and the benchmark checks their digests are equal, so the
trace cannot drift from the code it describes.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import pandas as pd
import probes

# every layer, in DAG order; UDF layers also report Python worker CPU
VALIDATE_LAYERS = ("io.read", "io.warc", "enrich", "dedup", "rules", "scrub", "io.catalog", "metrics")
CURATE_LAYERS = ("quality_model", "bpe", "packing", "curate.funnel")
LAYERS = VALIDATE_LAYERS + CURATE_LAYERS
UDF_LAYERS = ("io.warc", "enrich", "dedup", "bpe")
LAYER_METRICS = (
    ("self_s", "s"),
    ("rows_in", "rows"),
    ("rows_out", "rows"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("task_cpu_frac", "ratio"),
)
EXTRA_METRICS = (
    ("enrich.extract_s", "s/10k_docs"),
    ("enrich.minhash_s", "s/10k_docs"),
    ("enrich.udf_body_s", "s/10k_docs"),
    ("enrich.score_s", "s/10k_docs"),
    ("enrich.to_arrow_s", "s/10k_docs"),
    ("dedup.flag_rows", "rows"),
    ("io.warc.useful_frac", "ratio"),
    ("trace_overhead_frac", "ratio"),
    ("self_sum_frac", "ratio"),
)
REPLAY_DOCS = 10_000


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every metric a traced run reports."""
    out = [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in LAYER_METRICS]
    out += [(f"{layer}.python_cpu_s", "s") for layer in UDF_LAYERS]
    return out + list(EXTRA_METRICS)


class Tracer:
    """Spans and row counts of one traced reconstruction."""

    def __init__(self, spark, jvm_pid: int, prefix: str) -> None:
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.prefix = prefix
        self.self_s: dict[str, float] = {}
        self.python_cpu_s: dict[str, float] = {}
        self.rows: dict[str, tuple[int, int]] = {}
        self.extra: dict[str, float] = {}
        self._cached: list = []

    @contextmanager
    def layer(self, name: str):
        probes.set_group(self.spark, f"{self.prefix}:{name}")
        cpu0 = probes.python_cpu_ticks(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_s[name] = time.perf_counter() - t0
            self.python_cpu_s[name] = probes.cpu_delta_s(cpu0, probes.python_cpu_ticks(self.jvm_pid))
            probes.set_group(self.spark, None)

    def seal(self, df):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._cached.append(df)
        return df

    def count(self, layer: str, rows_in: int, df) -> int:
        n = df.count()
        self.rows[layer] = (rows_in, n)
        return n

    def metrics(self, untraced_wall: float, traced_wall: float) -> dict[str, float]:
        """Per-layer metrics; layers this workload does not run read 0."""
        tm = probes.group_task_metrics(self.spark, [f"{self.prefix}:{layer}" for layer in self.self_s])
        out: dict[str, float] = {}
        for layer in LAYERS:
            t = tm.get(f"{self.prefix}:{layer}")
            rows_in, rows_out = self.rows.get(layer, (0, 0))
            out[f"{layer}.self_s"] = self.self_s.get(layer, 0.0)
            out[f"{layer}.rows_in"] = rows_in
            out[f"{layer}.rows_out"] = rows_out
            out[f"{layer}.shuffle_write_bytes"] = t["shuffle_write_bytes"] if t else 0
            out[f"{layer}.spill_bytes"] = t["memory_spill_bytes"] + t["disk_spill_bytes"] if t else 0
            out[f"{layer}.task_cpu_frac"] = t["cpu_ns"] / (t["run_ms"] * 1e6) if t and t["run_ms"] else 0.0
        for layer in UDF_LAYERS:
            out[f"{layer}.python_cpu_s"] = self.python_cpu_s.get(layer, 0.0)
        out["trace_overhead_frac"] = (traced_wall - untraced_wall) / untraced_wall
        out["self_sum_frac"] = sum(self.self_s.values()) / untraced_wall
        out.update(self.extra)
        return out

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def trace_validate(tr: Tracer, input_path: str, warc: bool, out_dir: str, metrics_dir: str) -> None:
    """tools/run_pipeline.py (default flags) with pipeline.validate()'s
    stages split into layers."""
    from pyspark.sql import functions as F

    from wikidataquality_spark.io.catalog import write_partitioned
    from wikidataquality_spark.metrics import partition_column, rule_metrics
    from wikidataquality_spark.operators.dedup import dup_marks
    from wikidataquality_spark.operators.enrich import ENRICH_TYPE, enriched
    from wikidataquality_spark.operators.scrub import scrub_column
    from wikidataquality_spark.pipeline import PIPELINE_RULES, results
    from wikidataquality_spark.rules.builder import apply_rules

    spark = tr.spark
    io_layer = "io.warc" if warc else "io.read"
    with tr.layer(io_layer):
        if warc:
            from wikidataquality_spark.io.warc import read_warc, warc_to_documents
            from wikidataquality_spark.operators.dedup import drop_url_dups_narrow

            pages = drop_url_dups_narrow(warc_to_documents(read_warc(spark, input_path)))
        else:
            pages = spark.read.parquet(input_path)
        pages = partition_column(pages, by="date")
        # run_pipeline's emptiness probe runs on the unsealed frame, so it
        # pays the recrawl-dedup parse that production pays
        pages.isEmpty()
        pages = tr.seal(pages)
    n = pages.count()
    tr.rows[io_layer] = (n, n)
    with tr.layer("enrich"):
        df = (
            pages.withColumn("_enriched", enriched("html"))
            .selectExpr("*", *[f"_enriched.{c} AS {c}" for c in ENRICH_TYPE.fieldNames()])
            .drop("_enriched")
            .drop("html")
        )
        df = tr.seal(df)
    enriched_df = df
    tr.count("enrich", n, df)
    with tr.layer("dedup"):
        df = tr.seal(dup_marks(df, text_col="text_extracted", id_col="url", sig_col="minhash_sig"))
    tr.count("dedup", n, df)
    tr.extra["dedup.flag_rows"] = df.filter(F.col("is_exact_dup") | F.col("is_near_dup")).count()
    with tr.layer("rules"):
        df = tr.seal(apply_rules(df, list(PIPELINE_RULES)))
    tr.count("rules", n, df)
    with tr.layer("scrub"):
        df = tr.seal(df.withColumn("scrubbed_text", scrub_column("text_extracted")))
    tr.count("scrub", n, df)
    with tr.layer("io.catalog"):
        entry = write_partitioned(
            df.select(*results(df).columns, "partition"), out_dir,
            partition_col="partition", input_snapshot=input_path,
            config_fingerprint={"normalize": False},
        )
    tr.rows["io.catalog"] = (n, entry["rows"])
    with tr.layer("metrics"):
        # production's rule_metrics(validated) recomputes the dedup marks and
        # rules from validate()'s one persisted frame (the enrich seal)
        validated = apply_rules(
            dup_marks(enriched_df, text_col="text_extracted", id_col="url", sig_col="minhash_sig"),
            list(PIPELINE_RULES),
        )
        m = write_partitioned(
            rule_metrics(validated, by="date"), metrics_dir, partition_col="partition",
            run_id=entry["run_id"], input_snapshot=input_path,
        )
    tr.rows["metrics"] = (n, m["rows"])


def trace_curate(tr: Tracer, input_path: str, out_dir: str) -> None:
    """tools/curate_corpus.py (default flags) with curate.curate()'s stages
    split into layers."""
    from pyspark.sql import functions as F

    from wikidataquality_spark.curate import CurateConfig
    from wikidataquality_spark.operators.bpe import load_bpe, with_bpe_tokens
    from wikidataquality_spark.operators.dedup import dup_marks
    from wikidataquality_spark.operators.packing import pack_sequences
    from wikidataquality_spark.operators.pplbucket import with_ppl_bucket
    from wikidataquality_spark.operators.quality_model import (
        load_quality_model,
        with_quality_score,
    )

    spark = tr.spark
    cfg = CurateConfig()
    id_c, text_c = cfg.id_col, cfg.text_col
    with tr.layer("io.read"):
        docs = tr.seal(spark.read.parquet(input_path))
    n = docs.count()
    tr.rows["io.read"] = (n, n)
    with tr.layer("quality_model"):
        flagged = docs.withColumn(
            "_eligible",
            F.col(id_c).isNotNull() & F.col(text_c).isNotNull() & (F.length(text_c) > 0),
        ).withColumn("_url_drop", F.lit(False))
        scored = with_quality_score(flagged, text_col=text_c, art=load_quality_model())
        scored = scored.withColumn("_ql6", F.round("quality_logit", 6))
        scored = with_ppl_bucket(scored, lang_col=cfg.lang_col, value_col="_ql6", out_col="quality_bucket")
        scored = tr.seal(
            scored.withColumn(
                "_quality_drop",
                F.coalesce(F.col("quality_bucket").isin(*cfg.drop_buckets), F.lit(False)),
            )
        )
    tr.count("quality_model", n, scored)
    with tr.layer("dedup"):
        scored = dup_marks(scored, text_col=text_c, id_col=id_c)
        scored = tr.seal(
            scored.withColumn(
                "_dup_drop",
                F.coalesce(F.col("is_exact_dup"), F.lit(False))
                | F.coalesce(F.col("is_near_dup"), F.lit(False)),
            )
        )
    tr.count("dedup", n, scored)
    tr.extra["dedup.flag_rows"] = scored.filter(F.col("_dup_drop")).count()
    scored = scored.withColumns(
        {"_frozen_drop": F.lit(False), "_contam_drop": F.lit(False), "_select_drop": F.lit(False)}
    )
    reason = (
        F.when(~F.col("_eligible"), F.lit("eligibility"))
        .when(F.col("_url_drop"), F.lit("urlfilter"))
        .when(F.col("_quality_drop"), F.lit("quality"))
        .when(F.col("_dup_drop"), F.lit("dedup"))
        .when(F.col("_frozen_drop"), F.lit("frozen"))
        .when(F.col("_contam_drop"), F.lit("decontaminate"))
        .when(F.col("_select_drop"), F.lit("select"))
        .otherwise(F.lit("kept"))
    )
    scored = scored.withColumn("_stage", reason)
    funnel = scored.groupBy(F.col("_stage").alias("stage")).agg(F.count(F.lit(1)).alias("n"))
    curated = scored.filter(F.col("_stage") == "kept").drop(
        "_eligible", "_url_drop", "_quality_drop", "_dup_drop", "_frozen_drop",
        "_contam_drop", "_select_drop", "_stage", "_ql6",
    )
    with tr.layer("bpe"):
        curated = tr.seal(with_bpe_tokens(curated, art=load_bpe(), text_col=text_c))
    kept = curated.count()
    tr.rows["bpe"] = (kept, kept)
    with tr.layer("packing"):
        packed = pack_sequences(
            curated, seq_len=cfg.seq_len, id_col=id_c, source_col=cfg.source_col,
            text_col=text_c,
            n_tokens_col=F.coalesce(F.col("bpe_token_count"), F.lit(0).cast("long")),
        ).select(id_c, "n_tokens", "pack_id", "pack_offset")
        curated = tr.seal(curated.join(packed, id_c))
    tr.count("packing", kept, curated)
    with tr.layer("curate.funnel"):
        curated.write.mode("overwrite").parquet(out_dir)
        stages = {r["stage"]: r["n"] for r in funnel.collect()}
        with open(os.path.join(out_dir, "_funnel.json"), "w") as f:
            json.dump({"funnel": stages, "docs_in": sum(stages.values())}, f)
    tr.rows["curate.funnel"] = (n, stages.get("kept", 0))


def enrich_replay(html: pd.Series) -> dict[str, float]:
    """Single-process replay of the fused enrich UDF on one Arrow-sized
    batch, split into its sub-stages; seconds per 10k docs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from wikidataquality_spark.operators.dedup import minhash_params, minhash_sig_series
    from wikidataquality_spark.operators.enrich import ENRICH_TYPE, enrich_udf
    from wikidataquality_spark.operators.extract import extract_text_series

    body = enrich_udf.func
    list(body(iter([html.iloc[:100]])))  # imports and model files, once per worker
    schema = to_arrow_schema(ENRICH_TYPE)
    t0 = time.perf_counter()
    text = extract_text_series(html)
    t1 = time.perf_counter()
    a, b = minhash_params()
    minhash_sig_series(text, a, b, {})
    t2 = time.perf_counter()
    out = next(body(iter([html])))
    t3 = time.perf_counter()
    pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)
    t4 = time.perf_counter()
    scale = 10_000 / len(html)
    return {
        "enrich.extract_s": (t1 - t0) * scale,
        "enrich.minhash_s": (t2 - t1) * scale,
        "enrich.udf_body_s": (t3 - t2) * scale,
        "enrich.score_s": ((t3 - t2) - (t2 - t0)) * scale,
        "enrich.to_arrow_s": (t4 - t3) * scale,
    }
