"""tools/run_pipeline.py on WARC input: each segment is decompressed and
parsed once per call, and the metrics table it writes is the one
rule_metrics computes over validate()'s output directly."""

from __future__ import annotations

import json
import sys
from collections import Counter
from datetime import datetime, timedelta
from io import StringIO

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from wikidataquality_spark.datagen import generate_pages
from wikidataquality_spark.io.warc import build_warc, build_warc_record

DAY0 = datetime(2025, 3, 1, 12)


def _run(args: list[str]) -> dict:
    """One in-process run_pipeline call; returns its JSON status line."""
    # tools dir is on sys.path via conftest
    import run_pipeline

    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = run_pipeline.main(args)
    finally:
        sys.stdout = old
    assert rc == 0
    return json.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])


def _records(n: int, seed: int, day: int, tag: str) -> list[bytes]:
    pdf = generate_pages(n, seed=seed)
    return [
        build_warc_record(
            u.replace("/p/", f"/{tag}/"), DAY0 + timedelta(days=day, seconds=i), bytes(h)
        )
        for i, (u, h) in enumerate(zip(pdf["url"], pdf["html"]))
    ]


def _task_bytes_read(spark, group: str) -> list[int]:
    """Input bytes of every task the jobs of `group` ran, read from the
    live status store. A binaryFile scan task reads exactly the bytes of
    the segment it parses (one unsplittable file per task at this size);
    cached-block reads count their block size instead."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    stages: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            stages.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
    out = []
    for sid in sorted(stages):
        try:
            attempt = store.lastStageAttempt(sid).attemptId()
        except Py4JJavaError:
            # past spark.ui.retainedStages the store evicts skipped stages
            # first (then the oldest completed ones); a skipped stage ran
            # no task
            continue
        tasks = store.taskList(sid, attempt, 1 << 20)
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(int(m.get().inputMetrics().bytesRead()))
    return out


def _parses_per_segment(spark, group: str, seg_dir) -> dict[str, int]:
    sizes = {p.name: p.stat().st_size for p in seg_dir.iterdir()}
    assert len(set(sizes.values())) == len(sizes)  # sizes identify segments
    read = Counter(_task_bytes_read(spark, group))
    return {name: read[size] for name, size in sizes.items()}


def test_warc_run_parses_each_segment_once(spark, tmp_path):
    """One --input-format warc call decompresses every segment exactly once
    — the recrawl drop's two sides and the enrich seal share one parse —
    and so does a --resume call, whose dedup state is fingerprinted from
    the same parse."""
    first, full = tmp_path / "first", tmp_path / "full"
    first.mkdir()
    full.mkdir()
    for k in range(4):
        seg = build_warc(_records(12 + 3 * k, seed=70 + k, day=k, tag=f"s{k}"), per_record_gzip=True)
        (full / f"seg-{k}.warc.gz").write_bytes(seg)
        if k < 3:
            (first / f"seg-{k}.warc.gz").write_bytes(seg)
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    sc = spark.sparkContext

    def call(group, args):
        sc.setJobGroup(group, group)
        try:
            return _run(args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    res = call("once-first", ["--input", str(first), "--input-format", "warc",
                              "--output", out, "--metrics", met])
    assert res["docs"] == 12 + 15 + 18
    assert _parses_per_segment(spark, "once-first", first) == {
        f"seg-{k}.warc.gz": 1 for k in range(3)
    }
    res = call("once-resume", ["--input", str(full), "--input-format", "warc",
                               "--output", out, "--metrics", met, "--resume"])
    assert res["docs"] == 21  # the one new day; days 0-2 are completed
    assert _parses_per_segment(spark, "once-resume", full) == {
        f"seg-{k}.warc.gz": 1 for k in range(4)
    }


def _direct_metrics(spark, warc_dir: str, by: str, done: set[str] | None = None):
    """rule_metrics over validate()'s own output for the pages run_pipeline
    derives from warc_dir; `done` replays a --resume run: those partitions
    are skipped and fingerprinted as dedup state."""
    from wikidataquality_spark.io.warc import read_warc, warc_to_documents
    from wikidataquality_spark.metrics import partition_column, rule_metrics
    from wikidataquality_spark.operators.dedup import (
        drop_url_dups_narrow,
        dup_fingerprints,
    )
    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.operators.extract import extracted_text
    from wikidataquality_spark.pipeline import validate

    pages = partition_column(
        drop_url_dups_narrow(warc_to_documents(read_warc(spark, warc_dir))), by=by
    )
    state = None
    if done:
        part = F.col("partition")
        prior = pages.filter(part.isin(sorted(done)))
        state = dup_fingerprints(
            prior.withColumn("text_extracted", extracted_text("html")),
            text_col="text_extracted",
        )
        pages = pages.filter(part.isNull() | ~part.isin(sorted(done)))
    with owned_caches() as owner:
        validated = validate(pages, dedup_state=state, persist_registry=owner)
        return sorted(map(tuple, rule_metrics(validated, by=by).collect()), key=repr)


def _written_metrics(spark, met_dir: str, run_id: str):
    from wikidataquality_spark.io.catalog import read_run

    # partition values come back typed by directory-name inference (dates
    # as DATE); the metrics frame carries them as strings
    df = read_run(spark, met_dir, run_id)
    cols = ["partition", "rule_id", "pass_count", "fail_count", "exception_count"]
    df = df.withColumn("partition", F.col("partition").cast("string")).select(*cols)
    return sorted(map(tuple, df.collect()), key=repr)


def _manifest_matches_written_rows(spark, out_dir: str, run_id: str) -> None:
    """The manifest's per-partition row_counts (the listing) equal the rows
    read back from the partitions the run wrote (the write): the two are
    separate evaluations of the validated frame."""
    from wikidataquality_spark.io.catalog import read_manifest, read_run

    entry = next(r for r in read_manifest(out_dir)["runs"] if r["run_id"] == run_id)
    written = read_run(spark, out_dir, run_id)
    counted = written.groupBy(F.col("partition").cast("string")).count().collect()
    assert entry["row_counts"] == {str(p): n for p, n in counted}


@pytest.mark.parametrize("by", ["date", "host"])
def test_written_metrics_equal_direct_rule_metrics(spark, tmp_path, by):
    """The metrics table run_pipeline writes (aggregated from the partitions
    the run just wrote) equals rule_metrics(validate(pages)) computed
    directly — with a NULL-warc_ts page and an unparseable-host page (the
    NULL partition read_run's "None" arm returns), on a first run and on a
    --resume run that skips the completed partitions. On both runs the
    manifest's row_counts equal the rows the run wrote."""
    from wikidataquality_spark.io.catalog import completed_partitions

    odd = [
        # an unparseable WARC-Date reads back as a NULL warc_ts
        build_warc_record("https://nodate.example/x", DAY0, b"<main>undated page text</main>")
        .replace(b"WARC-Date: 2025-03-01T12:00:00Z", b"WARC-Date: unknown"),
        build_warc_record("http://bad host/x", DAY0, b"<main>a page on a bad host</main>"),
    ]
    first, full = tmp_path / "first", tmp_path / "full"
    first.mkdir()
    full.mkdir()
    seg_a = build_warc(_records(20, seed=81, day=0, tag="a") + odd, per_record_gzip=True)
    seg_b = build_warc(_records(24, seed=82, day=1, tag="b"), per_record_gzip=True)
    (first / "seg-a.warc.gz").write_bytes(seg_a)
    (full / "seg-a.warc.gz").write_bytes(seg_a)
    (full / "seg-b.warc.gz").write_bytes(seg_b)
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    base = ["--input-format", "warc", "--output", out, "--metrics", met,
            "--partition-by", by]

    _run(["--input", str(first), "--run-id", "m1", *base])
    _manifest_matches_written_rows(spark, out, "m1")
    got1 = _written_metrics(spark, met, "m1")
    assert got1 == _direct_metrics(spark, str(first), by)
    assert any(r[0] is None for r in got1)  # the NULL partition is measured

    done = completed_partitions(out)
    assert "None" in done
    _run(["--input", str(full), "--run-id", "m2", "--resume", *base])
    _manifest_matches_written_rows(spark, out, "m2")
    got2 = _written_metrics(spark, met, "m2")
    assert got2 == _direct_metrics(spark, str(full), by, done=done)
    assert any(r[0] is None for r in got2)
