"""Training-corpus curation CLI — the spark-submit surface for curate().

    spark-submit --py-files <pkg.zip> tools/curate_corpus.py \
        --input /data/documents --output /data/curated \
        [--benchmark /data/eval_docs] [--rates '{"src1": 0.5}'] \
        [--dsir-k 100000] [--normalize] [--no-dedup] [--no-pack] \
        [--seq-len 2048] [--drop-buckets tail] [--cpus N]

Writes the curated corpus (quality columns + BPE token counts + pack
assignment) as parquet and prints ONE JSON line with the attrition funnel;
the same funnel is saved inside the output dir as _funnel.json (underscore-
prefixed so parquet readers skip it). With --frozen-corpus the record also
carries `frozen_bloom`: the filter's m_bits, k and n_keys, its expected
false-positive rate, and the expected false-positive docs among those that
reach the frozen stage (curate.frozen_fp_budget).
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
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--output", required=True, help="curated parquet dir")
    ap.add_argument("--benchmark", default=None, help="eval-set parquet (text col) to decontaminate against")
    ap.add_argument("--blocklist", default=None, help="domain blocklist parquet (domain col); needs a url column on the input")
    ap.add_argument("--path-rules", default=None, help="robots-style Disallow parquet (host, path_prefix cols); same urlfilter stage, fail-closed")
    ap.add_argument("--frozen-corpus", default=None,
                    help="already-trained corpus parquet (text col): batch docs whose "
                    "text probably appears there drop at the `frozen` funnel stage "
                    "via a Bloom filter (zero false negatives, ~--frozen-fp-rate "
                    "false positives)")
    ap.add_argument("--frozen-fp-rate", type=float, default=0.01,
                    help="Bloom false-positive rate for --frozen-corpus")
    ap.add_argument("--rates", default=None, help='JSON per-source keep rates, e.g. \'{"src1": 0.5}\'')
    ap.add_argument("--default-rate", type=float, default=1.0,
                    help="keep rate for sources not listed in --rates (1.0 = keep; 0.0 = allowlist)")
    ap.add_argument("--dsir-k", type=int, default=None, help="DSIR importance top-k selection")
    ap.add_argument("--temperature", type=float, default=None,
                    help="temperature-based mixture: per-source rates ∝ n^(1/τ) "
                    "computed from corpus source counts (exclusive with --rates/--dsir-k)")
    ap.add_argument("--target-total", type=int, default=None,
                    help="expected doc budget for --temperature (capped at feasibility)")
    ap.add_argument("--normalize", action="store_true")
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--no-pack", action="store_true")
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--drop-buckets", default="tail", help="comma-joined CCNet buckets to drop ('' = none)")
    ap.add_argument("--funnel-by", default=None, help="extra lineage dimension for the funnel (e.g. source, lang)")
    ap.add_argument(
        "--export-shards",
        action="store_true",
        help="also materialize dataloader-ready token shards (operators/"
        "shards.py): corpus-derived dense vocab to <output>_vocab, "
        "seq_len-sized integer blocks to <output>_shards (requires packing)",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from wikidataquality_spark.curate import CurateConfig, curate, frozen_fp_budget
    from wikidataquality_spark.deploy import ensure_shipped
    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="wdq_curate")
    ensure_shipped(spark)

    docs = spark.read.parquet(args.input)
    rates = json.loads(args.rates) if args.rates else None
    if args.temperature is not None:
        if rates is not None or args.dsir_k is not None:
            raise ValueError("--temperature is exclusive with --rates/--dsir-k")
        from pyspark.sql import functions as F

        from wikidataquality_spark.operators.sampling import temperature_rates

        # one bounded collect: sources are dozens-grained, never row-grained
        sizes = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
            if r["source"] is not None
        }
        rates = temperature_rates(sizes, args.temperature, args.target_total)
    cfg = CurateConfig(
        normalize=args.normalize,
        drop_buckets=tuple(b for b in args.drop_buckets.split(",") if b),
        dedup=not args.no_dedup,
        benchmark=spark.read.parquet(args.benchmark) if args.benchmark else None,
        blocklist=spark.read.parquet(args.blocklist) if args.blocklist else None,
        path_rules=spark.read.parquet(args.path_rules) if args.path_rules else None,
        frozen_corpus=(
            spark.read.parquet(args.frozen_corpus) if args.frozen_corpus else None
        ),
        frozen_fp_rate=args.frozen_fp_rate,
        rates=rates,
        default_rate=args.default_rate,
        dsir_k=args.dsir_k,
        pack=not args.no_pack,
        seq_len=args.seq_len,
        funnel_by=args.funnel_by,
    )
    if args.export_shards and args.no_pack:
        raise ValueError("--export-shards needs the packing stage (drop --no-pack)")
    t0 = time.perf_counter()
    report: dict = {}
    with owned_caches() as owner:
        curated, funnel = curate(docs, cfg, persist_registry=owner, report=report)
        curated.write.mode("overwrite").parquet(args.output)
        rows = funnel.collect()
    n_shard_blocks = None
    if args.export_shards:
        from wikidataquality_spark.operators.shards import (
            encode_token_ids,
            export_token_shards,
            vocab_table,
        )

        # read the just-written curated parquet back (cheap, already
        # materialized) instead of recomputing the funnel lineage
        cur = spark.read.parquet(args.output)
        vt = vocab_table(cur)
        vt.write.mode("overwrite").parquet(f"{args.output}_vocab")
        vocab = {r["piece"]: r["token_id"] for r in vt.collect()}
        shards = export_token_shards(
            encode_token_ids(cur, vocab), seq_len=args.seq_len
        )
        shards.write.mode("overwrite").parquet(f"{args.output}_shards")
        n_shard_blocks = spark.read.parquet(f"{args.output}_shards").count()
        # binary sidecar (r04 VERDICT #7): the memmap .bin/.idx pair a
        # training dataloader reads directly. Executors serialize one blob
        # pair per (source, shard) (operators/shards.binary_shard_blobs);
        # the driver writes files — blob count == shard count, bounded. A
        # manifest maps raw (source, shard) to the sanitized filenames.
        import hashlib
        import re as _re

        from wikidataquality_spark.operators.shards import binary_shard_blobs

        bin_dir = f"{args.output}_shards_bin"
        os.makedirs(bin_dir, exist_ok=True)
        manifest = {}
        for r in binary_shard_blobs(
            spark.read.parquet(f"{args.output}_shards"),
            seq_len=args.seq_len,
            vocab_size=len(vocab),
        ).toLocalIterator():
            src = r["source"] if r["source"] is not None else "__null__"
            stem = (
                _re.sub(r"[^A-Za-z0-9_.-]", "_", src)[:64]
                + "-"
                + hashlib.sha256(src.encode()).hexdigest()[:8]
                + f"_{r['shard']}"
            )
            with open(os.path.join(bin_dir, stem + ".bin"), "wb") as fh:
                fh.write(bytes(r["bin_blob"]))
            with open(os.path.join(bin_dir, stem + ".idx"), "wb") as fh:
                fh.write(bytes(r["idx_blob"]))
            manifest[f"{src}\t{r['shard']}"] = {
                "file": stem,
                "n_blocks": r["n_blocks"],
                "dtype_bytes": r["dtype_bytes"],
            }
        with open(os.path.join(bin_dir, "_manifest.json"), "w") as fh:
            json.dump(
                {"seq_len": args.seq_len, "vocab_size": len(vocab), "shards": manifest},
                fh,
                indent=1,
            )
    if args.funnel_by:
        stages: dict[str, int] = {}
        detail: dict[str, dict[str, int]] = {}
        for r in rows:
            stages[r["stage"]] = stages.get(r["stage"], 0) + r["n"]
            detail.setdefault(str(r[args.funnel_by]), {})[r["stage"]] = r["n"]
    else:
        stages = {r["stage"]: r["n"] for r in rows}
        detail = None
    out = {
        "status": "ok",
        "input": args.input,
        "output": args.output,
        "funnel": stages,
        "docs_in": sum(stages.values()),
        "docs_kept": stages.get("kept", 0),
        "wall_s": round(time.perf_counter() - t0, 2),
    }
    if n_shard_blocks is not None:
        out["shard_blocks"] = n_shard_blocks
    if detail is not None:
        out["funnel_by"] = {args.funnel_by: detail}
    if "frozen_bloom" in report:
        out["frozen_bloom"] = frozen_fp_budget(report["frozen_bloom"], stages)
    # underscore prefix: Spark/Hadoop readers ignore _-prefixed files, so
    # the manifest can live inside the dataset dir without breaking
    # read.parquet(output)
    with open(os.path.join(args.output, "_funnel.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
