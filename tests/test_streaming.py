"""Structured Streaming twins: memory-sink runs match batch results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.streaming.windows import (
    dedup_within_watermark,
    hourly_counts,
    run_stream_to_memory,
    session_windows,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf0001_dir):
    import hashlib
    import os
    import tempfile

    src_file = f"{sf0001_dir}/events.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"wdq_test_stream_{hashlib.md5(src_file.encode()).hexdigest()[:8]}",
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists, not exists: exists() follows the symlink, so a stale link to
    # moved testdata reads as absent and os.symlink raises FileExistsError
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)
    if not os.path.lexists(link):
        os.symlink(src_file, link)
    schema = spark.read.parquet(src_file).schema
    return spark.readStream.schema(schema).parquet(d)


@pytest.fixture(scope="module")
def events_batch(spark, sf0001_dir):
    return spark.read.parquet(f"{sf0001_dir}/events.parquet")


def test_stream_hourly_equals_batch(spark, events_stream, events_batch):
    streamed = run_stream_to_memory(
        spark, hourly_counts(events_stream), output_mode="complete"
    )
    batch = hourly_counts(events_batch)
    s = {((r["win"]["start"], r["event_type"]), (r["n"], r["total_value"])) for r in streamed.collect()}
    b = {((r["win"]["start"], r["event_type"]), (r["n"], r["total_value"])) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stream_dedup_drops_planted_duplicates(spark, events_batch, tmp_path):
    """The sf0.001 events fixture has zero duplicate event_ids (1000 rows,
    1000 distinct — verified), so deduping it was VACUOUS: an identity
    pass-through scored the same. Plant real duplicates so the
    dropDuplicatesWithinWatermark path must actually drop rows."""
    src = str(tmp_path / "dup_events")
    events_batch.unionByName(events_batch.limit(50)).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events_batch.schema).parquet(src)
    out = run_stream_to_memory(spark, dedup_within_watermark(stream))
    n_distinct = events_batch.select("event_id").distinct().count()
    n_in = spark.read.parquet(src).count()
    assert n_in > n_distinct  # the planted dups really are in the INPUT
    assert out.count() == n_distinct


def test_session_windows_complete_mode(spark, events_stream, events_batch):
    out = run_stream_to_memory(
        spark, session_windows(events_stream), output_mode="complete"
    )
    # session totals must account for every event exactly once
    assert out.agg(F.sum("n_events")).collect()[0][0] == events_batch.count()


def test_stream_stream_interval_join_equals_batch(spark, events_batch, tmp_path):
    """Stream-stream inner interval join (purchase attribution): the
    streaming run over both sides as file streams equals the identical
    plan on batch inputs — which IS the oracle twin."""
    from wikidataquality_spark.streaming.windows import attribute_purchases

    clicks_b = events_batch.filter(F.col("event_type") == "click")
    purch_b = events_batch.filter(F.col("event_type") == "purchase")
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks_b.write.parquet(cdir)
    purch_b.write.parquet(pdir)
    cs = spark.readStream.schema(clicks_b.schema).parquet(cdir)
    ps = spark.readStream.schema(purch_b.schema).parquet(pdir)
    streamed = run_stream_to_memory(
        spark, attribute_purchases(cs, ps), output_mode="append"
    )
    batch = attribute_purchases(clicks_b, purch_b)
    s = {(r["purchase_id"], r["click_id"]) for r in streamed.collect()}
    b = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert s == b and len(s) > 0
    # every attributed click truly precedes its purchase within the horizon
    for r in batch.collect():
        dt = (r["purchase_ts"] - r["click_ts"]).total_seconds()
        assert 0 <= dt <= 30 * 60


def test_incremental_validate_foreachbatch(spark, tmp_path):
    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    src_dir = str(tmp_path / "pages_src")
    import os

    os.makedirs(src_dir)
    write_pages_parquet(os.path.join(src_dir, "pages.parquet"), 120, seed=3)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_validate(spark, stream, sink, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert {"url", "keep", "scrubbed_text"} <= set(out.columns)


def test_incremental_validate_sinks_read_outside_spark(spark, tmp_path):
    """Both epoch-partitioned sinks read back whole outside Spark through
    the documented pyarrow recipe, while pyarrow's default reader, which
    skips `_`-prefixed paths such as `_epoch=0`, sees none of their rows."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    src_dir = str(tmp_path / "pages_src")
    os.makedirs(src_dir)
    write_pages_parquet(os.path.join(src_dir, "pages.parquet"), 60, seed=5)
    stream = spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir)
    sink, ckpt, state = (str(tmp_path / d) for d in ("sink", "ckpt", "state"))
    incremental_validate(spark, stream, sink, ckpt, state_dir=state).awaitTermination(120)

    for path in (sink, state):
        want = spark.read.parquet(path)
        got = ds.dataset(
            path, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]
        ).to_table()
        assert got.num_rows == want.count() > 0
        assert set(got.column_names) == set(want.columns)
        assert sorted(map(str, got.column("url").to_pylist())) == sorted(
            str(r["url"]) for r in want.select("url").collect()
        )
        assert pq.read_table(path).num_rows == 0


def test_stateful_dup_marks_equals_global(spark):
    """Incremental dedup parity: splitting a corpus into url-ordered batches
    and deduping each against the accumulated fingerprint state yields the
    SAME flags as one global dup_marks over the whole corpus — the
    correctness contract behind stream_incremental_validate's oracle."""
    from wikidataquality_spark.datagen import generate_pages
    from wikidataquality_spark.operators.dedup import dup_fingerprints, dup_marks

    pdf = generate_pages(160, seed=5)
    full = spark.createDataFrame(pdf[["url", "text"]])
    want = {
        r["url"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in dup_marks(full, text_col="text").collect()
    }
    assert any(e or n for e, n in want.values())  # corpus plants real dups

    urls = sorted(pdf["url"])
    cuts = [urls[len(urls) // 3], urls[2 * len(urls) // 3]]
    batches = [
        full.filter(F.col("url") < cuts[0]),
        full.filter((F.col("url") >= cuts[0]) & (F.col("url") < cuts[1])),
        full.filter(F.col("url") >= cuts[1]),
    ]
    got: dict[str, tuple] = {}
    state = None
    for b in batches:
        flags = dup_marks(b, text_col="text", state=state)
        got.update(
            {r["url"]: (r["is_exact_dup"], r["is_near_dup"]) for r in flags.collect()}
        )
        fp = dup_fingerprints(b, text_col="text")
        state = fp if state is None else state.unionByName(fp)
    assert got == want


def test_stateful_dup_marks_retry_safe(spark):
    """A batch re-run after its own fingerprints were persisted (exactly-once
    retry) must not flag itself as a duplicate of its state rows."""
    from wikidataquality_spark.datagen import generate_pages
    from wikidataquality_spark.operators.dedup import dup_fingerprints, dup_marks

    pdf = generate_pages(60, seed=8)
    df = spark.createDataFrame(pdf[["url", "text"]])
    clean = {
        r["url"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in dup_marks(df, text_col="text").collect()
    }
    retried = {
        r["url"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in dup_marks(
            df, text_col="text", state=dup_fingerprints(df, text_col="text")
        ).collect()
    }
    assert retried == clean


def test_incremental_validate_rejects_out_of_order_batches(spark, tmp_path):
    """The incremental == batch contract requires micro-batches in ascending
    url order (survivor-order precondition). Feeding the HIGH url range
    first must fail loudly — not silently produce batch-divergent flags."""
    import os

    from pyspark.sql.utils import StreamingQueryException

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    corpus = write_pages_parquet(str(tmp_path / "pages.parquet"), 60, seed=11)
    split = str(tmp_path / "split")
    spark.read.parquet(corpus).repartitionByRange(2, "url").write.parquet(split)
    parts = sorted(
        p for p in os.listdir(split) if p.startswith("part-")
    )  # part-00000 = LOW urls
    # stagger mtimes so the HIGH range streams first
    os.utime(os.path.join(split, parts[0]), (1_700_001_000,) * 2)
    os.utime(os.path.join(split, parts[1]), (1_700_000_000,) * 2)

    schema = spark.read.parquet(split).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split)
    )
    with pytest.raises(StreamingQueryException, match="not after accumulated state"):
        q = incremental_validate(
            spark,
            stream,
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
            state_dir=str(tmp_path / "state"),
        )
        # no timeout: the ValueError is GUARANTEED at epoch 1, and a timed
        # awaitTermination returns False on expiry instead of raising —
        # on a slow host that turned this into a false DID-NOT-RAISE while
        # leaking the still-running query into later tests
        q.awaitTermination()


def test_incremental_validate_rejects_unknown_state_kind(spark, tmp_path):
    """A state table holding rows of an older fingerprint format (v1's
    kind='exact', whose k2 was length(text)) must fail the stream loudly:
    its rows would otherwise never match and every twin of an earlier
    epoch would silently survive. Epoch 0 writes real state; a v1 row is
    then appended to it, and epoch 1, resumed from the same checkpoint,
    must refuse."""
    import glob
    import os
    import shutil

    from pyspark.sql.utils import StreamingQueryException

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    corpus = write_pages_parquet(str(tmp_path / "pages.parquet"), 40, seed=31)
    split = str(tmp_path / "split")
    spark.read.parquet(corpus).repartitionByRange(2, "url").write.parquet(split)
    parts = sorted(glob.glob(os.path.join(split, "part-*")))
    assert len(parts) == 2
    src = str(tmp_path / "src")
    os.makedirs(src)
    sink, ckpt, state = (str(tmp_path / d) for d in ("sink", "ckpt", "state"))
    schema = spark.read.parquet(split).schema

    def run() -> None:
        stream = spark.readStream.schema(schema).parquet(src)
        q = incremental_validate(spark, stream, sink, ckpt, state_dir=state)
        try:
            q.awaitTermination()
        finally:
            q.stop()

    shutil.copy2(parts[0], os.path.join(src, os.path.basename(parts[0])))
    run()
    spark.createDataFrame(
        [("http://", "exact", 1, 17, 0)],
        "url string, kind string, k1 long, k2 long, _epoch long",
    ).write.mode("append").partitionBy("_epoch").parquet(state)

    shutil.copy2(parts[1], os.path.join(src, os.path.basename(parts[1])))
    with pytest.raises(StreamingQueryException, match="unknown fingerprint kind 'exact'"):
        run()


def test_incremental_validate_recovers_from_empty_state_dir(spark, tmp_path):
    """An existing-but-empty state_dir (epoch 0 crashed before committing any
    _epoch= partition, or an operator pre-created the directory) must behave
    as 'no prior state', not permanently wedge the stream: with no partition
    dirs Spark infers no _epoch column, and before the explicit read-schema
    fix the filter on _epoch raised UNRESOLVED_COLUMN on every retry."""
    import os

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    write_pages_parquet(os.path.join(src_dir, "pages.parquet"), 40, seed=13)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)

    state_dir = str(tmp_path / "state")
    # simulate the crashed-mid-write leftover: dir exists, zero data files
    os.makedirs(os.path.join(state_dir, "_temporary"))

    sink = str(tmp_path / "sink")
    q = incremental_validate(
        spark, stream, sink, str(tmp_path / "ckpt"), state_dir=state_dir
    )
    q.awaitTermination()
    assert spark.read.parquet(sink).count() == 40


def test_stateful_dup_marks_written_copy_wins(spark):
    """State precedence: a batch document whose twin is already WRITTEN
    (present in fingerprint state) must be flagged even when the batch url
    sorts BEFORE the state url — plain min-id ordering kept both copies in
    that direction (r03 self-diff review). Streaming feeds state in ascending
    url order so it never hits this; partition resume does."""
    from wikidataquality_spark.operators.dedup import dup_fingerprints, dup_marks

    text = "an utterly distinctive body of prose for the precedence test"
    written = spark.createDataFrame([("z://written", text)], "url string, text string")
    batch = spark.createDataFrame(
        [("a://unwritten", text), ("b://fresh", "a different and unrelated body of text here")],
        "url string, text string",
    )
    flags = {
        r["url"]: (r["is_exact_dup"], r["is_near_dup"])
        for r in dup_marks(batch, state=dup_fingerprints(written)).collect()
    }
    assert flags["a://unwritten"] == (True, True)
    assert flags["b://fresh"] == (False, False)


def test_incremental_validate_kill_and_resume(spark, tmp_path):
    """Checkpoint resume (r03 VERDICT #5): run 1 drains what exists (the
    first url-range file) and terminates — the 'kill'. The remaining ranges
    then land and run 2 starts from the SAME checkpoint: the file-source log
    must skip the already-processed file, the fingerprint state must carry
    over, and the final sink must equal the batch pipeline on the full
    corpus with zero duplicates — the production resume shape of a
    periodically-relaunched availableNow ingest job."""
    import glob
    import os
    import shutil

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.pipeline import results, validate
    from wikidataquality_spark.streaming.windows import incremental_validate

    corpus = write_pages_parquet(str(tmp_path / "pages_200.parquet"), 200, seed=17)
    split = str(tmp_path / "split")
    spark.read.parquet(corpus).repartitionByRange(3, "url").write.parquet(split)
    parts = sorted(glob.glob(os.path.join(split, "part-*")))
    assert len(parts) == 3
    # survivor order: range k must stream as micro-batch k (oldest-first)
    for i, p in enumerate(parts):
        os.utime(p, (1_700_000_000 + 600 * i,) * 2)

    src = str(tmp_path / "src")
    os.makedirs(src)
    sink, ckpt, state = (str(tmp_path / d) for d in ("sink", "ckpt", "state"))
    schema = spark.read.parquet(split).schema

    def run() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_validate(spark, stream, sink, ckpt, state_dir=state)
        q.awaitTermination(300)

    shutil.copy2(parts[0], os.path.join(src, os.path.basename(parts[0])))
    run()
    first = spark.read.parquet(sink)
    n_first = first.count()
    assert 0 < n_first < 200
    assert first.select("_epoch").distinct().count() == 1

    for p in parts[1:]:
        shutil.copy2(p, os.path.join(src, os.path.basename(p)))
    run()  # resume from the same checkpoint

    s = spark.read.parquet(sink)
    assert s.count() == 200  # no reprocessing of the pre-kill file
    assert s.select("url").distinct().count() == 200
    assert s.select("_epoch").distinct().count() == 3

    with owned_caches() as owner:
        b = results(validate(spark.read.parquet(corpus), persist_registry=owner))
        mism = (
            s.alias("s")
            .join(b.alias("b"), "url")
            .filter(
                ~F.col("s.keep").eqNullSafe(F.col("b.keep"))
                | ~F.col("s.scrubbed_text").eqNullSafe(F.col("b.scrubbed_text"))
                | ~F.col("s.violated_rules").eqNullSafe(F.col("b.violated_rules"))
            )
            .count()
        )
    assert mism == 0


def test_incremental_validate_rejects_state_ahead_of_checkpoint(spark, tmp_path):
    """A fresh/relocated checkpoint against a REUSED state_dir restarts
    epochs at 0 — the _epoch filter would then hide all accumulated state
    (silently breaking incremental == batch) and overwrite old epoch-0
    fingerprints. With a multi-epoch state history the divergence is
    detectable (state epoch AHEAD of the checkpoint's) and the batch must
    fail loudly (r04 review). A single-epoch reuse is indistinguishable
    from a legitimate epoch-0 retry, by design."""
    import glob
    import os
    import shutil

    import pytest

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.streaming.windows import incremental_validate

    corpus = write_pages_parquet(str(tmp_path / "pages_div.parquet"), 60, seed=29)
    split = str(tmp_path / "split")
    spark.read.parquet(corpus).repartitionByRange(2, "url").write.parquet(split)
    parts = sorted(glob.glob(os.path.join(split, "part-*")))
    assert len(parts) == 2
    for i, p in enumerate(parts):
        os.utime(p, (1_700_000_000 + 600 * i,) * 2)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for p in parts:
        shutil.copy2(p, os.path.join(src, os.path.basename(p)))
    schema = spark.read.parquet(split).schema
    state = str(tmp_path / "state")

    # two epochs into the state table under checkpoint 1
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = incremental_validate(
        spark, stream, str(tmp_path / "sink1"), str(tmp_path / "ckpt1"),
        state_dir=state,
    )
    q.awaitTermination(300)
    assert spark.read.parquet(state).select("_epoch").distinct().count() == 2

    # same state_dir, FRESH checkpoint -> this batch is epoch 0 while the
    # state already holds epoch 1 -> must refuse, not silently hide state
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = incremental_validate(
        spark, stream2, str(tmp_path / "sink2"), str(tmp_path / "ckpt2"),
        state_dir=state,
    )
    with pytest.raises(Exception, match="different streams"):
        try:
            q2.awaitTermination(300)
            q2.processAllAvailable()
        finally:
            q2.stop()


def test_interval_join_state_is_bounded_and_evicted(spark, tmp_path):
    """r04 VERDICT #8: the stream-stream join's state bound as a GATE, not
    a comment. A 12-slice soak (20-minute slices, one file per micro-batch
    on each side) must show, in the query's own progress metrics:
      - join state rows never approach stream length — the horizon(30m) +
        watermark(10m) window holds at most ~3 slices per side, so with the
        one-batch cleanup lag the ceiling is ~5 slices of rows vs 12 ingested;
      - eviction actually fires (numRowsRemoved > 0);
      - the joined output still equals the batch twin (eviction never costs
        a within-horizon match)."""
    import datetime
    import os
    import time

    from wikidataquality_spark.streaming.windows import attribute_purchases

    base = datetime.datetime(2025, 1, 1)
    cdir, pdir = str(tmp_path / "clicks_soak"), str(tmp_path / "purch_soak")
    n_slices, clicks_per, purch_per = 12, 40, 10
    for i in range(n_slices):
        t0 = base + datetime.timedelta(minutes=20 * i)
        clicks = [
            (f"c{i}_{j}", t0 + datetime.timedelta(seconds=20 * j),
             f"u{j % 8}", "click", 0.0)
            for j in range(clicks_per)
        ]
        purch = [
            (f"p{i}_{j}", t0 + datetime.timedelta(minutes=15, seconds=30 * j),
             f"u{j % 8}", "purchase", 9.99)
            for j in range(purch_per)
        ]
        schema = "event_id string, ts timestamp, user_id string, event_type string, value double"
        before = {
            d: set(os.listdir(d)) if os.path.isdir(d) else set()
            for d in (cdir, pdir)
        }
        spark.createDataFrame(clicks, schema).coalesce(1).write.mode("append").parquet(cdir)
        spark.createDataFrame(purch, schema).coalesce(1).write.mode("append").parquet(pdir)
        # strictly increasing mtimes on the NEW files only: FileStreamSource
        # orders by mod time, and the soak needs slices arriving in
        # event-time order (touching old files too would randomize arrival
        # and make the watermark drop early slices as late data)
        now = time.time() + 10 * i
        for d in (cdir, pdir):
            for f in set(os.listdir(d)) - before[d]:
                if not f.startswith("_"):
                    os.utime(os.path.join(d, f), (now, now))

    schema_df = spark.read.parquet(cdir).schema
    cs = (
        spark.readStream.schema(schema_df)
        .option("maxFilesPerTrigger", 1)
        .parquet(cdir)
    )
    ps = (
        spark.readStream.schema(schema_df)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    streamed, metrics = run_stream_to_memory(
        spark, attribute_purchases(cs, ps), output_mode="append",
        return_state_metrics=True,
    )
    assert metrics, "no state operators reported"
    totals = [m["rows_total"] for m in metrics if m["rows_total"] is not None]
    removed = sum(m["rows_removed"] or 0 for m in metrics)
    n_rows_in = n_slices * (clicks_per + purch_per)
    slice_rows = clicks_per + purch_per
    assert max(totals) <= 5 * slice_rows, (max(totals), metrics)
    assert max(totals) < n_rows_in  # state never holds the whole stream
    assert removed > 0  # watermark eviction demonstrably fired
    # correctness unharmed by eviction: equality with the batch twin
    cb = spark.read.parquet(cdir)
    pb = spark.read.parquet(pdir)
    batch = attribute_purchases(cb, pb)
    s = {(r["purchase_id"], r["click_id"]) for r in streamed.collect()}
    b = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stateful_user_stats_state_tracks_keys_not_events(spark, tmp_path):
    """running_user_stats' state bound: rows_total in the state store must
    equal DISTINCT USERS (the keyed-state contract), never grow with event
    count across micro-batches."""
    import datetime

    from wikidataquality_spark.streaming.stateful import running_user_stats
    from wikidataquality_spark.streaming.windows import run_stream_to_memory

    base = datetime.datetime(2025, 2, 1)
    src = str(tmp_path / "userstats_soak")
    schema = "event_id string, ts timestamp, user_id long, event_type string, value double"
    n_users, n_files, per_file = 6, 5, 60
    for i in range(n_files):
        rows = [
            (f"e{i}_{j}", base + datetime.timedelta(minutes=i, seconds=j),
             j % n_users, "click", float(j))
            for j in range(per_file)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, metrics = run_stream_to_memory(
        spark, running_user_stats(stream), output_mode="update",
        return_state_metrics=True,
    )
    totals = [m["rows_total"] for m in metrics if m["rows_total"] is not None]
    assert totals and max(totals) == n_users  # keys, not events
    # and the final running totals are complete (every event counted once)
    import pyspark.sql.functions as SF

    last = out.groupBy("user_id").agg(SF.max("n_events").alias("n"))
    assert last.agg(SF.sum("n")).first()[0] == n_files * per_file
