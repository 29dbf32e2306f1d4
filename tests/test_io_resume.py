"""Checkpoint/resume + manifest semantics (BASELINE.json:14 resumability)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from wikidataquality_spark.io.catalog import (
    completed_partitions,
    read_manifest,
    read_table,
    resume_filter,
    write_partitioned,
)


def _mkdf(spark):
    rows = [(f"u{i}", f"2025-01-{(i % 3) + 1:02d}", i) for i in range(30)]
    return spark.createDataFrame(rows, "url string, partition string, x long")


def test_write_and_manifest(spark, tmp_path):
    out = str(tmp_path / "t1")
    df = _mkdf(spark)
    entry = write_partitioned(df, out, run_id="run1", input_snapshot="snapA")
    assert set(entry["partitions"]) == {"2025-01-01", "2025-01-02", "2025-01-03"}
    # per-partition row counts ride the same single listing action — they're
    # what lets run_pipeline report docs-out without a second input scan
    assert entry["rows"] == 30
    assert entry["row_counts"] == {
        "2025-01-01": 10,
        "2025-01-02": 10,
        "2025-01-03": 10,
    }
    m = read_manifest(out)
    assert m["runs"][0]["input_snapshot"] == "snapA"
    assert m["runs"][0]["rows"] == 30
    assert read_table(spark, out).count() == 30


def test_resume_skips_completed(spark, tmp_path):
    out = str(tmp_path / "t2")
    df = _mkdf(spark)
    first = df.filter(F.col("partition") == "2025-01-01")
    write_partitioned(first, out, run_id="run1")
    assert completed_partitions(out) == {"2025-01-01"}

    remaining = resume_filter(df, out)
    parts = {r[0] for r in remaining.select("partition").distinct().collect()}
    assert parts == {"2025-01-02", "2025-01-03"}

    write_partitioned(remaining, out, run_id="run2")
    assert completed_partitions(out) == {"2025-01-01", "2025-01-02", "2025-01-03"}
    assert read_table(spark, out).count() == 30


def test_resume_keeps_null_partition_rows(spark, tmp_path):
    """Rows whose partition key is NULL (host failed parse_url, NULL warc_ts)
    must SURVIVE a resume: ~isin(done) is NULL for them and filter(NULL)
    silently dropped them before the isNull guard — data loss on every
    resumed run (r03 review finding)."""
    out = str(tmp_path / "tnull")
    df = _mkdf(spark)
    write_partitioned(df.filter(F.col("partition") == "2025-01-01"), out, run_id="r1")
    # one NULL-partition row with the same schema
    null_row = df.limit(1).withColumn("partition", F.lit(None).cast("string"))
    remaining = resume_filter(df.unionByName(null_row), out)
    parts = {
        r[0] for r in remaining.select("partition").distinct().collect()
    }
    assert parts == {"2025-01-02", "2025-01-03", None}


def test_resume_noop_when_nothing_done(spark, tmp_path):
    out = str(tmp_path / "t3")
    df = _mkdf(spark)
    assert resume_filter(df, out).count() == df.count()


def test_read_run_prunes_to_run_partitions(spark, tmp_path):
    """read_run = parquet-manifest VERSION AS OF: only that run's partitions."""
    from wikidataquality_spark.io.catalog import read_run, write_partitioned

    d = str(tmp_path / "runs_table")
    df1 = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, partition string")
    e1 = write_partitioned(df1, d, run_id="run1")
    df2 = spark.createDataFrame([(4, "c")], "id long, partition string")
    e2 = write_partitioned(df2, d, run_id="run2")

    got1 = sorted(r["id"] for r in read_run(spark, d, "run1").collect())
    got2 = sorted(r["id"] for r in read_run(spark, d, "run2").collect())
    assert got1 == [1, 2, 3] and got2 == [4]
    assert e1["partitions"] == ["a", "b"] and e2["partitions"] == ["c"]

    with pytest.raises(KeyError):
        read_run(spark, d, "nope")


def test_run_pipeline_cli_end_to_end(spark, tmp_path):
    """The spark-submit entrypoint: run → resume no-op → run-scoped read."""
    import json
    import sys
    from io import StringIO

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import write_pages_parquet
    from wikidataquality_spark.io.catalog import read_run

    corpus = write_pages_parquet(str(tmp_path / "pages.parquet"), 200, seed=7)
    out_dir, met_dir = str(tmp_path / "out"), str(tmp_path / "met")

    def run(args):
        buf, old = StringIO(), sys.stdout
        sys.stdout = buf
        try:
            rc = run_pipeline.main(args)
        finally:
            sys.stdout = old
        line = [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
        return rc, json.loads(line)

    rc, res = run(["--input", corpus, "--output", out_dir, "--metrics", met_dir,
                   "--run-id", "r1"])
    assert rc == 0 and res["status"] == "ok" and res["docs"] == 200

    rows = read_run(spark, out_dir, "r1").count()
    assert rows == 200

    manifests = (read_manifest(out_dir), read_manifest(met_dir))
    rc2, res2 = run(["--input", corpus, "--output", out_dir, "--metrics", met_dir,
                     "--resume"])
    assert rc2 == 0 and res2["status"] == "nothing_to_do"
    # nothing to do appends no run to either manifest
    assert (read_manifest(out_dir), read_manifest(met_dir)) == manifests


def test_csv_failfast_on_corrupt_rows(spark, tmp_path):
    """FAILFAST readers: corrupt rows raise instead of silently nulling."""
    from pyspark.sql.types import StructType

    from wikidataquality_spark.io.formats import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n")
    schema = StructType.fromDDL("a int, b int")
    with pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord"):
        read_csv(spark, str(p), schema).collect()


def test_partition_cardinality_cap(spark, tmp_path, monkeypatch):
    """A row-grained partition column must fail loudly (bounded driver-side
    collect), not OOM the driver at corpus scale."""
    from wikidataquality_spark.io import catalog

    monkeypatch.setattr(catalog, "MAX_PARTITIONS_PER_RUN", 5)
    rows = [(f"u{i}", f"p{i}", i) for i in range(10)]  # 10 distinct > cap 5
    df = spark.createDataFrame(rows, "url string, partition string, x long")
    with pytest.raises(ValueError, match="coarser partition key"):
        catalog.write_partitioned(df, str(tmp_path / "t_cap"))


def test_csv_roundtrip_multiline_text(spark, tmp_path):
    """Free-text columns with embedded newlines and quotes must survive the
    CSV write→read cycle (multiLine + RFC-4180 quoting on both sides)."""
    from pyspark.sql.types import StructType

    from wikidataquality_spark.io.formats import read_csv, write_csv

    rows = [
        (1, 'line one\nline two\n"quoted" text'),
        (2, "plain"),
        (3, 'comma, "and\nnewline"'),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "csv_text")
    write_csv(df, path)
    back = read_csv(spark, path, StructType.fromDDL("id bigint, text string"))
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_resume_dedups_against_completed_partitions(spark, tmp_path):
    """A resumed run must still catch duplicates whose twin lives in an
    ALREADY-COMPLETED partition: without dedup state, resume_filter removes
    the completed rows before validate() and the remaining partitions dedup
    only among themselves — output then depends on where the previous run
    crashed (r03 distributed-correctness review)."""
    import sys

    import pandas as pd

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import generate_pages

    pdf = generate_pages(40, seed=21)
    pdf["warc_ts"] = pd.Timestamp("2025-03-01 12:00:00")
    day2 = generate_pages(40, seed=22).iloc[20:].copy()
    day2["warc_ts"] = pd.Timestamp("2025-03-02 12:00:00")
    # urls are index-derived (seed changes content only) — disambiguate so
    # day-2 rows don't collide with day-1 urls
    day2["url"] = day2["url"].str.replace("/p/", "/q/", regex=False)
    # plant a cross-partition exact dup: a day-2 url with day-1 html/text
    day2.iloc[0, day2.columns.get_loc("html")] = pdf.iloc[0]["html"]
    day2.iloc[0, day2.columns.get_loc("text")] = pdf.iloc[0]["text"]
    dup_url = day2.iloc[0]["url"]

    day1_path = str(tmp_path / "day1.parquet")
    full_path = str(tmp_path / "full.parquet")
    spark.createDataFrame(pdf).write.parquet(day1_path)
    spark.createDataFrame(pd.concat([pdf, day2])).write.parquet(full_path)

    out_dir, met_dir = str(tmp_path / "out"), str(tmp_path / "met")
    rc = run_pipeline.main(
        ["--input", day1_path, "--output", out_dir, "--metrics", met_dir,
         "--run-id", "r1"]
    )
    assert rc == 0
    rc2 = run_pipeline.main(
        ["--input", full_path, "--output", out_dir, "--metrics", met_dir,
         "--resume", "--run-id", "r2"]
    )
    assert rc2 == 0

    out = spark.read.parquet(out_dir)
    dup_row = out.filter(F.col("url") == dup_url).collect()
    assert len(dup_row) == 1
    assert "unique_value.exact_dup" in dup_row[0]["violated_rules"]
    assert dup_row[0]["keep"] is False


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC source/sink: schema-exact round-trip, and filters reach the ORC
    scan (PushedFilters non-empty) just like parquet."""
    import contextlib
    import io

    from pyspark.sql.types import StructType

    from wikidataquality_spark.io.formats import read_orc, write_orc

    rows = [(1, "alpha", 3.5), (2, "beta", -1.0), (3, None, 0.0)]
    df = spark.createDataFrame(rows, "id long, name string, score double")
    path = str(tmp_path / "orc_table")
    write_orc(df, path)
    back = read_orc(spark, path, StructType.fromDDL("id bigint, name string, score double"))
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(F.col("id") > 1).select("id").explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_text_lines_and_binary_files_sources(spark, tmp_path):
    """Line-text (WET-shaped) and binaryFile (multimodal blob ingestion)
    sources: one row per line / per file, content bytes intact, and the
    binaryFile glob filter prunes at the listing."""
    from wikidataquality_spark.io.formats import read_binary_files, read_text_lines

    (tmp_path / "a.txt").write_text("line one\nline two\n")
    lines = read_text_lines(spark, str(tmp_path / "a.txt"))
    assert [r["value"] for r in lines.orderBy("value").collect()] == [
        "line one",
        "line two",
    ]

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    (blob_dir / "x.ppm").write_bytes(b"P6 1 1 255 \x01\x02\x03")
    (blob_dir / "y.wav").write_bytes(b"RIFFxxxx")
    (blob_dir / "skip.log").write_text("not media")
    media = read_binary_files(spark, str(blob_dir), glob="*.{ppm,wav}")
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in media.collect()}
    assert set(got) == {"x.ppm", "y.wav"}
    assert got["x.ppm"] == b"P6 1 1 255 \x01\x02\x03"
    assert all(r["length"] > 0 for r in media.collect())


def test_read_run_returns_null_partition_rows(spark, tmp_path):
    """A run that wrote NULL-partition rows (malformed urls / NULL warc_ts)
    must get them BACK from read_run: the manifest stringifies NULL as
    'None' and a bare isin() never matches NULL (r04 review)."""
    from wikidataquality_spark.io.catalog import read_run

    d = str(tmp_path / "t_nullpart")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, partition string"
    )
    write_partitioned(df, d, run_id="r1")
    got = sorted(r["id"] for r in read_run(spark, d, "r1").collect())
    assert got == [1, 2, 3]


def test_export_once_replaces_partial_and_publishes_atomically(spark, tmp_path):
    """export_once goes through the locking seam: a stale partial directory
    (no _SUCCESS — a crashed writer) is replaced, no staging orphan remains,
    and a complete export is trusted untouched (r04 review)."""
    import os

    from wikidataquality_spark.io.formats import export_once

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    target = str(tmp_path / "exp_csv")
    # stale partial: directory exists but no _SUCCESS
    os.makedirs(target)
    with open(os.path.join(target, "part-zzz.csv"), "w") as f:
        f.write("torn")
    out = export_once(df, target, "csv")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "part-zzz.csv"))
    assert not any(".staging." in n for n in os.listdir(str(tmp_path)))
    # second call trusts the published dir (same mtime on _SUCCESS)
    m1 = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    export_once(df, target, "csv")
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == m1


def test_resume_normalize_fingerprints_normalized_bytes(spark, tmp_path):
    """--normalize + --resume: state fingerprints recomputed from completed
    partitions must hash the NORMALIZED bytes — a day-2 mojibake re-crawl of
    a day-1 page is an exact dup only after repair, and only if the resume
    path normalizes exactly like the enrich stage does."""
    import sys
    from datetime import datetime

    # tools dir is on sys.path via conftest
    import run_pipeline

    clean = (
        "“café research notes” — the quick brown fox "
        "jumps over the lazy dog and keeps going. " * 4
    )
    moji = clean.encode("utf-8").decode("latin-1")  # byte-per-byte mojibake
    assert moji != clean

    def page(url, ts, text):
        html = f"<html><body><main>{text}</main></body></html>".encode()
        return (url, ts, html, None, "en")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    day1 = [page("https://ex.com/a", datetime(2025, 3, 1, 12), clean),
            page("https://ex.com/b", datetime(2025, 3, 1, 13), "an unrelated page about rivers. " * 8)]
    day2 = [page("https://ex.com/a2", datetime(2025, 3, 2, 12), moji),
            page("https://ex.com/c", datetime(2025, 3, 2, 13), "fresh day two content entirely new. " * 8)]

    d1_path, full_path = str(tmp_path / "d1.parquet"), str(tmp_path / "full.parquet")
    spark.createDataFrame(day1, schema).write.parquet(d1_path)
    spark.createDataFrame(day1 + day2, schema).write.parquet(full_path)

    out_dir, met_dir = str(tmp_path / "out"), str(tmp_path / "met")
    rc = run_pipeline.main(["--input", d1_path, "--output", out_dir,
                            "--metrics", met_dir, "--normalize", "--run-id", "n1"])
    assert rc == 0
    rc2 = run_pipeline.main(["--input", full_path, "--output", out_dir,
                             "--metrics", met_dir, "--normalize", "--resume",
                             "--run-id", "n2"])
    assert rc2 == 0

    out = spark.read.parquet(out_dir)
    dup = out.filter(F.col("url") == "https://ex.com/a2").collect()[0]
    assert "unique_value.exact_dup" in dup["violated_rules"]
    # and its text was actually repaired before hashing
    assert "â€" not in dup["scrubbed_text"]
    # the fresh page is NOT flagged
    fresh = out.filter(F.col("url") == "https://ex.com/c").collect()[0]
    assert "unique_value.exact_dup" not in fresh["violated_rules"]


def test_resume_refuses_normalize_mismatch(spark, tmp_path):
    """A resumed run with a different --normalize setting must fail loudly:
    mixing text semantics across partitions of one dataset is unrecoverable
    downstream (r04 review)."""
    import sys

    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import write_pages_parquet

    corpus = write_pages_parquet(str(tmp_path / "pages.parquet"), 60, seed=9)
    out_dir, met_dir = str(tmp_path / "out"), str(tmp_path / "met")
    rc = run_pipeline.main(["--input", corpus, "--output", out_dir,
                            "--metrics", met_dir, "--run-id", "m1"])
    assert rc == 0
    with pytest.raises(ValueError, match="resume config mismatch"):
        run_pipeline.main(["--input", corpus, "--output", out_dir,
                           "--metrics", met_dir, "--resume", "--normalize"])
