"""The whole story in one test: raw .warc.gz crawl segment → validation
DAG (--input-format warc) → results_to_documents bridge → curation funnel
→ packed training blocks. Every interface the engine exposes, composed."""

from __future__ import annotations

import json
import sys
from io import StringIO

from pyspark.sql import functions as F

from wikidataquality_spark.curate import CurateConfig, curate, results_to_documents
from wikidataquality_spark.io.warc import build_warc, build_warc_record
from wikidataquality_spark.operators.barrier import owned_caches


def test_crawl_segment_to_training_blocks(spark, tmp_path):
    # tools dir is on sys.path via conftest
    import run_pipeline

    from wikidataquality_spark.datagen import generate_pages

    pdf = generate_pages(60, seed=51)
    recs = [
        build_warc_record(u, ts.to_pydatetime(), bytes(h))
        for u, ts, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])
    ]
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "seg-00000.warc.gz").write_bytes(build_warc(recs, per_record_gzip=True))

    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    buf, old = StringIO(), sys.stdout
    sys.stdout = buf
    try:
        rc = run_pipeline.main(
            ["--input", str(crawl), "--input-format", "warc",
             "--output", out, "--metrics", met]
        )
    finally:
        sys.stdout = old
    res = json.loads([l for l in buf.getvalue().splitlines() if l.startswith("{")][-1])
    assert rc == 0 and res["docs"] == 60

    results = spark.read.parquet(out)
    docs = results_to_documents(results)
    n_kept = results.filter("keep").count()
    assert 0 < n_kept < 60  # the defect-planting corpus always drops some
    assert docs.count() == n_kept
    assert set(docs.columns) == {"doc_id", "text", "lang", "source", "url", "warc_ts"}
    # deterministic ids, host strata
    assert docs.select("doc_id").distinct().count() == n_kept
    assert docs.filter(F.col("source").isNull()).count() == 0

    with owned_caches() as owner:
        curated, funnel = curate(
            docs, CurateConfig(seq_len=64, drop_buckets=()), persist_registry=owner
        )
        rows = curated.collect()
        stages = {r["stage"]: r["n"] for r in funnel.collect()}
    assert sum(stages.values()) == n_kept  # funnel conservation end-to-end
    assert stages.get("kept", 0) == len(rows) > 0
    # packed training blocks exist with exact token accounting
    cols = rows[0].asDict()
    assert cols["n_tokens"] > 0 and cols["pack_id"] is not None
