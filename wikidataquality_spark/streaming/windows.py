"""Streaming window operators over the events stream.

Each builder takes a (possibly streaming) events DataFrame with
(event_id, ts, user_id, event_type, value) and returns the transformed
DataFrame; run_stream_to_memory drives a streaming source to completion
synchronously for tests (memory sink + processAllAvailable).

Watermarks bound state: at production rates (10^9 events/hour) the
10-minute watermark caps the window-state store; late rows beyond it drop
(counted by the sink's metrics, not silently).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hourly_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour windows per event_type (streaming twin of the batch
    events_hourly plan)."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


def sliding_value_avg(
    events: DataFrame, size: str = "30 minutes", slide: str = "10 minutes"
) -> DataFrame:
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", "10 minutes")
    return src.groupBy(F.window("ts", size, slide).alias("win"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon.

    Survivor choice is ARBITRARY when rows share an event_id but differ in
    payload (Spark semantics: dropDuplicates keeps an unspecified row;
    streaming keeps the first arrival) — so the surviving value/ts can vary
    under repartitioning or retry, and batch and streaming twins may pick
    different rows. Correct for its contract (idempotent event redelivery:
    duplicates are byte-identical); producers that AMEND payloads under one
    event_id need the min-id/last-ts survivor discipline of operators/dedup
    instead."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
        return src.dropDuplicatesWithinWatermark(["event_id"])
    return src.dropDuplicates(["event_id"])


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user (streaming twin of sessionize_users)."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", "10 minutes")
    return src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id").agg(
        F.count("*").alias("n_events")
    )


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM interval join — the attribution shape: each purchase
    joins every same-user click in the preceding `horizon`. The missing
    member of the streaming surface next to windows/dedup/session/stateful.

    State stays bounded because the join condition is time-RANGE-bound on
    watermarked columns: Spark retains click-side state only back to
    (purchase watermark − horizon) and purchase-side state only `watermark`
    deep, then reclaims — without the range bound a stream-stream join's
    state grows forever, the failure mode that matters at 10⁹ events/hour.
    Batch inputs take the identical plan minus watermarks, so the batch
    call IS the oracle twin (tests assert set equality)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def state_metrics(query) -> list[dict]:
    """Per-micro-batch state-store metrics from a streaming query's progress
    history: [{batch, operator, rows_total, rows_removed, rows_updated}].
    This is the observable the bounded-state GATES assert on (r04 VERDICT
    #8): a watermarked stateful operator's `rows_total` must track
    (watermark delay + join horizon) × rate, not stream length, and
    `rows_removed` > 0 is the eviction actually firing. The retention knob
    spark.sql.streaming.numRecentProgressUpdates (default 100) bounds how
    far back this sees."""
    import json

    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        for op in d.get("stateOperators", []):
            out.append(
                {
                    "batch": d.get("batchId"),
                    "operator": op.get("operatorName"),
                    "rows_total": op.get("numRowsTotal"),
                    "rows_removed": op.get("numRowsRemoved"),
                    "rows_updated": op.get("numRowsUpdated"),
                }
            )
    return out


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    output_mode: str = "append",
    return_state_metrics: bool = False,
):
    """Drive a streaming query over a bounded source to completion; return the
    materialized result (test harness — the guide's memory-sink idiom).
    With return_state_metrics, returns (result, state_metrics(query)) so
    callers can gate state-store growth from the progress history."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        metrics = state_metrics(q) if return_state_metrics else None
    finally:
        q.stop()
    result = spark.sql(f"SELECT * FROM {name}")
    if return_state_metrics:
        return result, metrics
    return result


def incremental_validate(
    spark: SparkSession,
    pages_stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
):
    """foreachBatch incremental validation: each micro-batch runs the full
    batch pipeline (the EvaluateConstraintReportJob analogue — re-check only
    what changed). Exactly-once: BOTH sinks (results + fingerprint state) are
    partitioned by epoch_id with dynamic partition overwrite, so a batch that
    is retried after a partial write REPLACES its own partitions instead of
    appending duplicates — the checkpoint alone only gives at-least-once for
    blind parquet appends.

    `state_dir` enables CROSS-BATCH dedup: before validating, the batch reads
    the accumulated fingerprint table (dup_fingerprints of every prior batch)
    and dedups against it; after validating, it appends its own fingerprints.
    When micro-batches arrive in survivor order (min-url first — e.g. crawl
    snapshots by ascending crawl id), the incremental flags EQUAL the global
    batch computation on the full corpus: the per-batch window over
    state ∪ batch sees exactly the docs that precede each url in the total
    order. Without state_dir each batch dedups only within itself (the old
    behavior). At 10^12 docs the state table is Iceberg, ~(1+B)·24 B/doc.

    Reading either sink outside Spark: the partition directories are
    `_epoch=N`, and pyarrow's dataset reader — so `pandas.read_parquet` and
    `pyarrow.parquet.read_table` on the directory — skips every path that
    starts with `_` as metadata, so a 200-row sink reads back as 0 rows.
    Keep the `_epoch=` directories and skip only Spark's markers:

        pyarrow.dataset.dataset(path, format="parquet", partitioning="hive",
                                ignore_prefixes=[".", "_SUCCESS"])

    A write that crashed before its commit can leave a `_temporary`
    directory behind, which this recipe would read; Spark's own reader
    skips it."""
    from pyspark.sql import functions as SF
    from pyspark.sql import types as ST

    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.operators.dedup import STATE_KINDS, dup_fingerprints
    from wikidataquality_spark.pipeline import results, validate

    state_schema = ST.StructType.fromDDL(
        "url string, kind string, k1 long, k2 long"
    )
    # read schema INCLUDES the _epoch partition column: an existing-but-empty
    # state_dir (e.g. epoch 0 crashed mid-write leaving only _temporary) has
    # no _epoch= partition dirs for Spark to discover, and without _epoch in
    # the explicit schema the filter below would raise UNRESOLVED_COLUMN on
    # every retry — permanently wedging the stream instead of treating the
    # empty table as "no prior state". Built as a NEW StructType:
    # StructType.add MUTATES and returns self, which would silently put
    # _epoch into state_schema (and the first-batch empty frame) too.
    state_read_schema = ST.StructType(
        state_schema.fields + [ST.StructField("_epoch", ST.LongType())]
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        state = None
        smax = None
        if state_dir is not None:
            # a RETRIED epoch must not see its own partial fingerprint write
            # as "prior" state (every doc would flag dup); dynamic overwrite
            # below replaces that partition anyway
            prior = SF.col("_epoch") < SF.lit(epoch_id)
            try:
                raw_state = spark.read.schema(state_read_schema).parquet(state_dir)
                # ONE column-pruned scan of the state table answers all
                # three epoch checks (a 10^12-doc deployment would keep a
                # per-epoch watermark file instead): the newest epoch, the
                # prior state's max url, and any prior row of a fingerprint
                # kind this format does not know
                max_seen, smax, bad_kind = raw_state.agg(
                    SF.max("_epoch"),
                    SF.max(SF.when(prior, SF.col("url"))),
                    SF.max(SF.when(prior & ~SF.col("kind").isin(*STATE_KINDS), SF.col("kind"))),
                ).first()
            except Exception as e:
                # ONLY a missing state table means "first batch"; any other
                # failure (permissions, state_dir is a file, transient FS)
                # must abort the batch — validating against silently-empty
                # state would diverge from the batch contract with no error.
                # Checked STRUCTURALLY via the error condition (r03 ADVICE:
                # substring-matching the message text would turn every
                # legitimate first batch into a permanent abort the moment a
                # Spark version or locale changes the wording).
                from pyspark.errors import AnalysisException

                cond = (
                    e.getCondition()
                    if isinstance(e, AnalysisException)
                    else None
                )
                if cond != "PATH_NOT_FOUND":
                    raise
                state = spark.createDataFrame([], state_schema)
            else:
                # checkpoint/state divergence check: epoch ids come from the
                # CHECKPOINT, so a fresh/relocated checkpoint against a
                # reused state_dir restarts at epoch 0 — the _epoch < 0
                # filter would then hide ALL accumulated state (silently
                # breaking incremental == batch) and the epoch-0 write would
                # dynamic-overwrite the old epoch-0 fingerprints. Any state
                # epoch AHEAD of the current one can only mean the two dirs
                # belong to different streams; fail loudly (r04 review).
                # (== epoch_id is legitimate: a retried epoch's own partial.)
                if max_seen is not None and max_seen > epoch_id:
                    raise ValueError(
                        f"incremental_validate: state table at {state_dir} has "
                        f"epoch {max_seen} but the checkpoint says this batch is "
                        f"epoch {epoch_id} — checkpoint_dir and state_dir belong "
                        "to different streams (fresh checkpoint against reused "
                        "state?); refusing to silently drop accumulated state"
                    )
                # state-FORMAT check: a state table written by an older
                # fingerprint format (e.g. v1's kind='exact' rows, whose k2
                # was length(text)) must fail loudly — its rows would
                # otherwise silently never match.
                if bad_kind is not None:
                    kinds_sql = ", ".join(f"'{k}'" for k in STATE_KINDS)
                    raise ValueError(
                        f"incremental_validate: state table contains rows of "
                        f"unknown fingerprint kind {bad_kind!r} (expected one "
                        f"of {kinds_sql}) — likely written by an older "
                        "fingerprint format; rebuild the state table"
                    )
                state = raw_state.filter(prior).drop("_epoch")
        # THIS epoch's enrich cache is released once both writes land — a
        # long-running stream otherwise leaks one cached intermediate per
        # epoch until storage-memory eviction starts thrashing the live
        # batch. owned_caches releases on every way out: a failed sink write
        # would otherwise leak the cache, and a RETRIED epoch seals a fresh
        # copy per attempt — repeated retries would accumulate exactly the
        # caches this exists to prevent.
        with owned_caches() as owner:
            validated = validate(batch_df, dedup_state=state, persist_registry=owner)
            if smax is not None:
                # survivor-order precondition (docstring): every prior-state
                # url must precede every batch url, else the per-batch min-id
                # window picks a different survivor than the global batch
                # computation. Fail loudly, before either write, instead of
                # silently diverging. The min reads only the enrich seal
                # (dup_marks' flag join is eliminated), not the batch again.
                bmin = validated.agg(SF.min("url")).first()[0]
                if bmin is not None and bmin <= smax:
                    raise ValueError(
                        f"incremental_validate: micro-batch (min url {bmin!r}) "
                        f"is not after accumulated state (max url {smax!r}) — "
                        "out-of-order batches break the incremental == batch "
                        "dedup contract; feed batches in ascending url ranges"
                    )
            out = results(validated).withColumn("_epoch", SF.lit(epoch_id))
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_epoch")
                .parquet(sink_dir)
            )
            if state_dir is not None:
                # fingerprints come off validate()'s sealed enrich cache
                # (owner[-1]: url / text_extracted / minhash_sig — the EXACT
                # inputs dup_marks keyed on): rows and values are identical
                # to the validated frame (the pipeline is scrub-not-drop),
                # but reading the cache skips replaying the dup_marks
                # window/join shuffles that column pruning cannot eliminate
                # — previously paid once per epoch on the fingerprint write
                # (r04 review).
                fp = dup_fingerprints(
                    owner[-1],
                    text_col="text_extracted",
                    id_col="url",
                    sig_col="minhash_sig",
                ).withColumn("_epoch", SF.lit(epoch_id))
                (
                    fp.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_epoch")
                    .parquet(state_dir)
                )

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
