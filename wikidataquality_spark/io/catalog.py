"""Partitioned table writer with snapshot manifests + resumable runs.

Parity: the reference's violation store writes + job-queue re-evaluation
(ref≈includes/Violations/ViolationStore.php:~20-100,
ref≈includes/EvaluateConstraintReportJob.php:~15-80) become partitioned
appends with a manifest recording which partitions a run completed —
the resume contract of BASELINE.json:14 ("resumable from snapshot
checkpoints").

Format: a parquet directory partitioned by the partition column +
_manifest.json listing completed partition values per run. Resume = read
manifest → anti-filter input partitions → write the rest. An Iceberg
catalog (writeTo(...).append(), Iceberg's snapshot ids) is the deployment
binding this manifest stands in for; nothing here selects it.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"

# Upper bound on distinct partition values collected to the driver per write.
# 16k date- or host-grained partitions ≈ 44 years of daily partitions; a
# column exceeding it is almost certainly a mis-chosen (row-grained) key.
MAX_PARTITIONS_PER_RUN = 16384


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST)


@contextmanager
def _manifest_lock(table_dir: str):
    """Exclusive advisory lock serializing manifest read-modify-write.

    os.replace makes each individual write atomic, but two concurrent
    write_partitioned calls against one table_dir would otherwise interleave
    read→modify→write and the last writer would erase the other's run entry
    and completed partitions. Locking goes through io/locking.py — the one
    seam whose flock implementation a multi-driver/object-store deployment
    swaps for conditional puts or an Iceberg catalog commit, which is the
    real transaction."""
    from wikidataquality_spark.io.locking import exclusive_lock

    os.makedirs(table_dir, exist_ok=True)
    with exclusive_lock(_manifest_path(table_dir) + ".lock"):
        yield


def read_manifest(table_dir: str) -> dict:
    p = _manifest_path(table_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"runs": [], "completed_partitions": []}


def _write_manifest(table_dir: str, manifest: dict) -> None:
    os.makedirs(table_dir, exist_ok=True)
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, _manifest_path(table_dir))  # atomic snapshot commit


def completed_partitions(table_dir: str) -> set[str]:
    return set(read_manifest(table_dir)["completed_partitions"])


def write_partitioned(
    df: DataFrame,
    table_dir: str,
    partition_col: str = "partition",
    run_id: str | None = None,
    input_snapshot: str | None = None,
    config_fingerprint: dict | None = None,
) -> dict:
    """Write df partitioned by partition_col — dynamic partition OVERWRITE
    (a re-run of the same partition replaces it, the idempotent-resume
    semantic; untouched partitions are left alone) — and record completed
    partitions in the manifest. Returns the manifest entry (the 'snapshot').

    The partition listing and the write are two evaluations of df, and
    nothing is cached here: df must be deterministic (every caller's is),
    and a caller whose lineage has several consumers seals it itself
    (operators/barrier.seal). For validate() output the listing is cheap —
    Catalyst prunes a groupBy(partition).count() over it down to the
    sealed enrich cache (dup_marks' flag join is eliminated: the flags are
    unique per url and none of their columns is read) — so dedup, rules
    and scrub run once, in the write. Persisting df instead would stage
    the whole output in executor storage before writing it."""
    run_id = run_id or uuid.uuid4().hex[:12]
    # Driver-side partition listing is bounded: partitions are
    # date/host-grained (thousands at most), never row-grained. The cap
    # turns an accidental high-cardinality partition column (e.g. doc_id)
    # into a loud error instead of an OOM-ing collect at 100 TB.
    # groupBy().count() instead of distinct(): the exchange is identical
    # (hash on partition_col, map-side partial agg) but the same single
    # action also yields per-partition row counts for the manifest —
    # which lets callers report row totals WITHOUT a second full pass
    # over the input (run_pipeline.py previously paid a whole extra
    # corpus scan just for docs-in; at 100 TB that scan IS the cost).
    parts_df = df.groupBy(partition_col).count().limit(MAX_PARTITIONS_PER_RUN + 1)
    counted = parts_df.collect()
    parts = [r[0] for r in counted]
    if len(parts) > MAX_PARTITIONS_PER_RUN:
        raise ValueError(
            f"write_partitioned: >{MAX_PARTITIONS_PER_RUN} distinct values in "
            f"partition column {partition_col!r} — choose a coarser partition key"
        )
    (
        df.write.mode("overwrite")
        .partitionBy(partition_col)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table_dir)
    )
    entry = {
        "run_id": run_id,
        "partitions": sorted(map(str, parts)),
        # str-keyed like "partitions" (NULL → "None", matching the sort key);
        # "rows" is the exact written row total — Iceberg-manifest-style
        # metadata that doubles as the caller's docs-out count.
        "row_counts": {str(r[0]): r[1] for r in counted},
        "rows": int(sum(r[1] for r in counted)),
        "input_snapshot": input_snapshot,
    }
    if config_fingerprint is not None:
        # byte-semantics switches (e.g. run_pipeline --normalize) recorded
        # per run so a resume can REFUSE to mix partitions written under
        # different text semantics into one dataset (r04 review)
        entry["config_fingerprint"] = dict(config_fingerprint)
    with _manifest_lock(table_dir):
        manifest = read_manifest(table_dir)
        manifest["runs"].append(entry)
        manifest["completed_partitions"] = sorted(
            set(manifest["completed_partitions"]) | set(map(str, parts))
        )
        _write_manifest(table_dir, manifest)
    return entry


def resume_filter(
    df: DataFrame, table_dir: str, partition_col: str = "partition"
) -> DataFrame:
    """Drop partitions a previous run already completed (checkpoint resume).
    Partition pruning: the isin filter is pushed into the scan when the input
    itself is partitioned on partition_col."""
    done = completed_partitions(table_dir)
    if not done:
        return df
    # NULL partition keys (host failed parse_url, NULL warc_ts) must SURVIVE:
    # ~isin(done) evaluates to NULL for them and filter(NULL) silently drops
    # the row — a resumed run would lose exactly the malformed pages a
    # quality filter exists to judge
    col = F.col(partition_col)
    return df.filter(col.isNull() | ~col.isin(sorted(done)))


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    return spark.read.parquet(table_dir)


def read_run(
    spark: SparkSession,
    table_dir: str,
    run_id: str,
    partition_col: str = "partition",
) -> DataFrame:
    """Read the CURRENT contents of the partitions a given run completed.

    This is partition filtering, not a point-in-time snapshot: because
    write_partitioned uses dynamic partition overwrite, a later run that
    rewrites one of this run's partitions changes what read_run returns.
    True `VERSION AS OF` time travel needs an Iceberg catalog (file-level
    snapshots); the parquet-manifest fallback only tracks partition sets.
    The partition filter still prunes directories, so unrelated partitions
    are never scanned."""
    manifest = read_manifest(table_dir)
    runs = {r["run_id"]: r for r in manifest["runs"]}
    if run_id not in runs:
        raise KeyError(f"run {run_id!r} not in manifest ({sorted(runs)})")
    parts = runs[run_id]["partitions"]
    # The manifest stringifies partition values, so a run that wrote
    # NULL-partition rows (malformed urls / NULL warc_ts — the rows
    # resume_filter explicitly keeps) records "None"; isin can never match a
    # NULL value, so without the isNull arm those rows silently vanish from
    # the returned run (r04 review). "None" stays out of the isin list: the
    # read-back column is typed by partition inference (date partitions
    # come back as DATE), and under ANSI casting the literal "None" to that
    # type raises. Caveat, documented: a real string partition literally
    # named "None" is indistinguishable in the manifest — the Iceberg
    # binding, with typed partition values, removes the ambiguity.
    cond = F.col(partition_col).isin([p for p in parts if p != "None"])
    if "None" in parts:
        cond = cond | F.col(partition_col).isNull()
    return spark.read.parquet(table_dir).filter(cond)
