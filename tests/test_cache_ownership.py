"""Every frame the production DAGs seal is released when the call that
sealed it returns or raises: the CLIs, the streaming epoch loop and the
driver query that run validate()/curate() leave the session's cache
manager empty."""

from __future__ import annotations

import glob
import os
import sys
from datetime import datetime, timedelta
from io import StringIO

import pytest

from wikidataquality_spark.datagen import generate_pages, write_pages_parquet
from wikidataquality_spark.io.warc import build_warc, build_warc_record

DAY0 = datetime(2025, 3, 1, 12)


def _quiet(main, args: list[str]) -> int:
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        return main(args)
    finally:
        sys.stdout = old


def _warc_dirs(tmp_path):
    """(first, full): two days of segments, and the same plus a third day."""
    first, full = tmp_path / "first", tmp_path / "full"
    first.mkdir()
    full.mkdir()
    for day in range(3):
        pdf = generate_pages(10, seed=60 + day)
        recs = [
            build_warc_record(
                u.replace("/p/", f"/d{day}/"), DAY0 + timedelta(days=day, seconds=i), bytes(h)
            )
            for i, (u, h) in enumerate(zip(pdf["url"], pdf["html"]))
        ]
        seg = build_warc(recs, per_record_gzip=True)
        (full / f"seg-{day}.warc.gz").write_bytes(seg)
        if day < 2:
            (first / f"seg-{day}.warc.gz").write_bytes(seg)
    return first, full


def _run_pipeline(spark, tmp_path, sf_dirs, resume: bool) -> None:
    import run_pipeline

    first, full = _warc_dirs(tmp_path)
    base = ["--input-format", "warc", "--output", str(tmp_path / "out"),
            "--metrics", str(tmp_path / "met")]
    assert _quiet(run_pipeline.main, ["--input", str(first), *base]) == 0
    if resume:
        assert _quiet(run_pipeline.main, ["--input", str(full), *base, "--resume"]) == 0


def _curate_corpus(spark, tmp_path, sf_dirs, fail_write: bool) -> None:
    import curate_corpus

    docs = str(tmp_path / "docs")
    spark.read.parquet(f"{sf_dirs[0]}/documents.parquet").limit(120).write.parquet(docs)
    if not fail_write:
        out = str(tmp_path / "curated")
        assert _quiet(curate_corpus.main, ["--input", docs, "--output", out]) == 0
        return
    # the curated write goes under a regular file, so it fails after
    # curate() has sealed its frames
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    with pytest.raises(Exception):
        _quiet(curate_corpus.main, ["--input", docs, "--output", str(blocker / "curated")])


def _incremental_validate(spark, tmp_path, sf_dirs) -> None:
    from wikidataquality_spark.streaming.windows import incremental_validate

    corpus = write_pages_parquet(str(tmp_path / "pages.parquet"), 60, seed=31)
    split = str(tmp_path / "split")
    spark.read.parquet(corpus).repartitionByRange(2, "url").write.parquet(split)
    for i, p in enumerate(sorted(glob.glob(os.path.join(split, "part-*")))):
        os.utime(p, (1_700_000_000 + 600 * i,) * 2)
    stream = (
        spark.readStream.schema(spark.read.parquet(split).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split)
    )
    sink, ckpt, state = (str(tmp_path / d) for d in ("sink", "ckpt", "state"))
    q = incremental_validate(spark, stream, sink, ckpt, state_dir=state)
    q.awaitTermination(300)
    assert spark.read.parquet(sink).count() == 60


def _qf_golden_confusion(spark, tmp_path, sf_dirs) -> None:
    from wikidataquality_spark.plans.driver_queries import qf_golden_confusion

    rows = qf_golden_confusion(spark, sf_dirs[1]).collect()
    assert sum(r["n"] for r in rows) == 800


CASES = {
    "run_pipeline-warc": lambda *a: _run_pipeline(*a, resume=False),
    "run_pipeline-warc-resume": lambda *a: _run_pipeline(*a, resume=True),
    "curate_corpus": lambda *a: _curate_corpus(*a, fail_write=False),
    "curate_corpus-write-raises": lambda *a: _curate_corpus(*a, fail_write=True),
    "incremental_validate-state": _incremental_validate,
    "qf_golden_confusion": _qf_golden_confusion,
}


@pytest.mark.parametrize("case", list(CASES))
def test_no_cache_outlives_the_call(spark, tmp_path, sf0001_dir, sf001_dir, case):
    # start from an empty cache manager: other modules' fixtures cache
    # their inputs for the whole session
    spark.catalog.clearCache()
    CASES[case](spark, tmp_path, (sf0001_dir, sf001_dir))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
