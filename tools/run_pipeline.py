"""Production entrypoint: the spark-submit --py-files deployment story.

    spark-submit --py-files wikidataquality_spark.zip tools/run_pipeline.py \
        --input  /data/pages      \
        --output /data/validated  \
        --metrics /data/metrics   \
        --partition-by date --resume

Local sandbox run (same code path, local master):
    python tools/run_pipeline.py --input <pages_parquet_dir> \
        --output /tmp/wdq_out --metrics /tmp/wdq_metrics --cpus 8

Flow (BASELINE.json:6/14): read pages (WARC/WET: parse each segment once
into a sealed projection → drop recrawl captures) → validate (enrich,
sealed in its own cache → dedup marks → rules → scrub → decide) → an
emptiness check over validate()'s output, which reads only the enrich
seal, after which the parse is released → write results partitioned by
warc_ts date (or url-host) with a manifest snapshot → read this run's
written partitions back and append per-partition rule metrics (and, with
--url-sketches, distinct-url sketches) from them → on --resume,
partitions already recorded in the output manifest are skipped
(checkpoint-resume contract). Every sealed frame is released by the
call's end at the latest (operators/barrier.owned_caches).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages parquet dir/table")
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "warc", "wet"],
        help="'warc' ingests raw *.warc/*.warc.gz crawl segments (io/warc.py): "
        "clean 2xx response records are projected to the pages shape "
        "(text/lang NULL — both are produced by the DAG itself) so the engine "
        "runs straight off a crawl with no pre-conversion step; 'wet' ingests "
        "Common Crawl's extracted-text sidecars (conversion records) — the "
        "payload is re-wrapped in the extractor's canonical grammar so the "
        "DAG's text_extracted equals the WET text byte-for-byte",
    )
    ap.add_argument("--output", required=True, help="validated-results table dir")
    ap.add_argument("--metrics", required=True, help="metrics table dir")
    ap.add_argument("--partition-by", default="date", choices=["date", "host"])
    ap.add_argument("--resume", action="store_true", help="skip completed partitions")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] (sandbox only)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--salt-hot",
        type=int,
        default=0,
        metavar="N_PARTITIONS",
        help="pre-spread skewed url-hosts over N partitions before validation "
        "(hash-partition by host with per-url salting for hosts a Misra-Gries "
        "heavy-hitter pass finds above 5%% of rows — BASELINE's explicit-skew "
        "mandate; 0 = off)",
    )
    ap.add_argument(
        "--url-sketches",
        action="store_true",
        help="also write per-partition mergeable distinct-url HLL sketches "
        "(~4 KB/partition) under <metrics>_url_sketches/<run_id>/ — "
        "cross-run cardinality questions union the stored artifacts "
        "instead of re-scanning any corpus (operators/distinct_sketch.py)",
    )
    ap.add_argument(
        "--normalize",
        action="store_true",
        help="ftfy-class pre-clean (mojibake repair / NFC / control strip) "
        "fused into the enrich stage, before any stat or fingerprint. "
        "Changes output BYTES — a corpus-semantics switch, default off",
    )
    args = ap.parse_args(argv)

    from wikidataquality_spark.deploy import ensure_shipped
    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="wdq_pipeline")
    ensure_shipped(spark)
    # frames this call seals (the WARC parse, resume fingerprints,
    # validate()'s enrich cache) are released on every way out: a caller
    # that runs main() repeatedly in one session must not inherit them — a
    # later call over the same input path would be served this call's rows
    with owned_caches() as owner:
        return _run(spark, args, owner)


def _run(spark, args: argparse.Namespace, owner: list) -> int:
    from wikidataquality_spark.io.catalog import (
        completed_partitions,
        read_manifest,
        read_run,
        resume_filter,
        write_partitioned,
    )
    from wikidataquality_spark.metrics import partition_column, rule_metrics
    from wikidataquality_spark.operators.barrier import owned_caches, seal
    from wikidataquality_spark.pipeline import results, validate

    t0 = time.perf_counter()
    # the parse has no reader once validate()'s enrich cache and the resume
    # state are sealed (dup_marks reads those two), so it is released when
    # this inner block exits, before the write; the resume state and the
    # enrich cache belong to the call-wide owner
    with owned_caches() as parse_owner:
        if args.input_format in ("warc", "wet"):
            from wikidataquality_spark.io.warc import (
                read_warc,
                warc_to_documents,
                wet_to_documents,
            )
            from wikidataquality_spark.operators.dedup import drop_url_dups_narrow

            project = warc_to_documents if args.input_format == "warc" else wet_to_documents
            # one parse per call: the recrawl drop below reads its input twice
            # (narrow drop-key side + fat anti-join side), and the resume
            # fingerprints and validate()'s enrich seal each evaluate the
            # plan again — without the seal every one of them decompresses
            # and parses every segment.
            parsed = seal(project(read_warc(spark, args.input)), parse_owner)
            # a real crawl captures the same url repeatedly (recrawls, http/https
            # and www variants) — but the DAG's dedup anchors key on url, so two
            # rows SHARING one url can never flag each other, and the per-url
            # byte-identity invariant (B:15) breaks. Earliest capture per
            # canonical url survives (first-crawl-wins); the NARROW variant keeps
            # the decoded html payloads out of the dedup exchange — marks run on
            # a (url, ts) projection and the fat frame anti-joins the (small,
            # broadcastable) drop-key set (r04 ADVICE). Parquet inputs are
            # assumed already url-unique (the datagen/Iceberg contract), which
            # is why this lives on the ingest path only.
            pages = drop_url_dups_narrow(parsed)
        else:
            pages = spark.read.parquet(args.input)
        pages = partition_column(pages, by=args.partition_by)
        dedup_state = None
        # byte-semantics fingerprint: recorded with every run, checked on
        # resume. Mixing --normalize and default partitions in ONE dataset
        # gives partition-dependent bytes and resume-state fingerprints that
        # no longer describe what the prior run wrote — refuse loudly.
        cfg_fp = {"normalize": bool(args.normalize)}
        if args.resume:
            from pyspark.sql import functions as F

            from wikidataquality_spark.operators.dedup import dup_fingerprints

            for run in read_manifest(args.output).get("runs", []):
                prior_fp = run.get("config_fingerprint")
                if prior_fp is not None and prior_fp != cfg_fp:
                    raise ValueError(
                        f"resume config mismatch: prior run {run['run_id']} wrote "
                        f"partitions with {prior_fp}, this invocation is {cfg_fp} — "
                        "a resumed dataset must keep one text semantics; rerun "
                        "with matching flags or use a fresh --output"
                    )
            # Cross-partition dedup must still see the documents a previous run
            # already validated: without state, a resumed run deduplicates only
            # the REMAINING partitions and keeps documents an uninterrupted run
            # would have flagged. Fingerprints are recomputed from the completed
            # partitions' input rows: an extract UDF over html and a minhash
            # UDF over its text, plus the repair/NFC pass under --normalize (a
            # 10^12-doc deployment appends dup_fingerprints to an Iceberg state
            # table at write time and reads it back here instead). This chain is
            # deliberately not validate()'s fused enrich stage: measured on a
            # 6,000-page datagen resume with 2,673 pages done (--partition-by
            # date), filling the state took 1.09-1.12 s with the chain and
            # 2.48-2.50 s with the fused stage, and the resume call 5.7-6.2 s
            # against 7.4-7.8 s — the fused stage computes every enrich column
            # where only the text and its signature are read.
            # Semantics are the documented incremental ones (dup_marks state=):
            # at least one copy of every text survives; a dup pair straddling
            # the resume boundary keeps the already-written copy even when the
            # unwritten one has the smaller url.
            done = completed_partitions(args.output)
            if done:
                prior = pages.filter(F.col("partition").isin(sorted(done)))
                # fingerprint the SAME bytes the pipeline dedups on: validate()
                # keys dup_marks on text_extracted (extract(html)), not the raw
                # text column — raw-text fingerprints would hash differently
                # whenever text != extract(html) (and would fingerprint docs
                # whose extraction failed, which the batch side dedup-exempts)
                from wikidataquality_spark.operators.extract import extracted_text

                prior_text = extracted_text("html")
                if args.normalize:
                    # a normalized run dedups normalized bytes — resume
                    # fingerprints must hash the SAME bytes or nothing matches
                    from wikidataquality_spark.operators.normalize import (
                        normalize_text,
                    )

                    prior_text = normalize_text(prior_text)
                dedup_state = dup_fingerprints(
                    prior.withColumn("text_extracted", prior_text),
                    text_col="text_extracted",
                )
            pages = resume_filter(pages, args.output)
        if args.salt_hot:
            from wikidataquality_spark.operators.dedup import repartition_by_host_salted

            pages = repartition_by_host_salted(pages, args.salt_hot)

        validated = validate(
            pages,
            normalize=args.normalize,
            dedup_state=dedup_state,
            persist_registry=owner,
        )
        # limit-1 check, not count(): Catalyst prunes it to validate()'s
        # enrich seal (dup_marks' flag join is eliminated), so it costs no
        # scan of its own. The docs total comes back from the write manifest
        # (validate() annotates every input row, so written rows == input rows).
        if validated.isEmpty():
            print(json.dumps({"status": "nothing_to_do", "input": args.input}))
            return 0
        if dedup_state is not None:
            # sealed after the check, so a resumed run with nothing left
            # fingerprints nothing: dup_marks reads the state twice, and each
            # read would otherwise re-extract and re-sign every completed
            # document. The write still reads this cache — Spark substitutes
            # cached plans into `validated` when an action runs.
            seal(dedup_state, owner)
    out = validated.select(*results(validated).columns, "partition")
    entry = write_partitioned(
        out, args.output, partition_col="partition", run_id=args.run_id,
        input_snapshot=args.input, config_fingerprint=cfg_fp,
    )
    n_in = entry["rows"]
    # rule metrics (and url sketches) aggregate the partitions this run just
    # wrote: a column-pruned read of url/warc_ts/violations, instead of
    # re-running validated's dedup shuffles and rules from the enrich cache
    written = read_run(spark, args.output, entry["run_id"])
    metrics = rule_metrics(written, by=args.partition_by)
    write_partitioned(
        metrics, args.metrics, partition_col="partition", run_id=entry["run_id"],
        input_snapshot=args.input,
    )
    if args.url_sketches:
        from wikidataquality_spark.metrics import distinct_url_sketches

        # run-scoped append (one NEW dir per run): sketches ACCUMULATE — the
        # whole point is unioning many runs' artifacts later. A reused
        # run-id therefore fails LOUDLY instead of clobbering a prior run's
        # artifact (which would silently shrink every later union estimate)
        sketch_dir = os.path.join(f"{args.metrics}_url_sketches", entry["run_id"])
        if os.path.exists(sketch_dir):
            raise ValueError(
                f"url-sketch artifact {sketch_dir} already exists — sketch "
                "dirs accumulate one-per-run and are never overwritten; "
                "pass a fresh --run-id"
            )
        distinct_url_sketches(written, by=args.partition_by).write.mode(
            "errorifexists"
        ).parquet(sketch_dir)
    dt = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "status": "ok",
                "run_id": entry["run_id"],
                "docs": n_in,
                "partitions": len(entry["partitions"]),
                "seconds": round(dt, 2),
                "docs_per_sec": round(n_in / dt, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
