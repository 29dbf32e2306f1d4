"""Small-file compaction for written datasets — the maintenance half of the
layout story (io/layout.py owns write-time clustering; this owns the
after-the-fact rewrite).

Why it exists at scale: incremental runs, streaming micro-batches, and
high shuffle-partition counts leave partitions holding hundreds of tiny
parquet files; every future scan then pays per-file open/footer/listing
cost and loses row-group pruning leverage. The fix is the standard
lakehouse rewrite: per directory partition, read → coalesce to the
target-size file count → atomic swap. coalesce, never repartition — the
rewrite is the one operation that must NOT shuffle (it narrows existing
partitions in place).

Concurrency model — OPTIMISTIC, the Iceberg RewriteDataFiles shape: the
expensive stage (read → coalesce → write scratch) runs without any lock;
at commit time, under the partition lock, the partition's file listing
(names + sizes + mtimes) is re-checked against the snapshot taken before
staging. A concurrent writer (write_partitioned's dynamic overwrite takes
no partition lock, by design) changes that listing, the commit ABORTS, the
scratch is discarded, and the partition is reported skipped — compaction
retries on its next run; writer data is never lost. Crash safety: the
two-rename swap has a window where the live dir is absent; every
compact_dataset run begins by HEALING — a `*.old` whose partition lock
is free is a crash orphan: it renames back into place when its live
partition is missing and is reaped otherwise; scratch dirs whose owning
pid is dead are reaped. Same single-host semantics as the rest of
io/locking.py; an object-store/Iceberg deployment replaces
stage+validate+swap with a RewriteDataFiles commit, which validates
exactly the same way. Manifests are untouched: compaction changes file
layout, never rows, so resume state and row counts stay valid.

Units note: target_file_mb here measures ON-DISK (parquet-compressed)
bytes — that is what the directory listing can know. io/layout.py's
cluster_partition_count is fed UNCOMPRESSED row-width estimates by its
callers; the same knob value therefore yields larger logical files here
(~the compression ratio). Choose per use: ~128 on-disk MB is the standard
lake file size either way.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from wikidataquality_spark.io.layout import DEFAULT_TARGET_FILE_MB, cluster_partition_count
from wikidataquality_spark.io.locking import exclusive_lock


def _data_files(d: str) -> list[str]:
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def partition_file_stats(table_dir: str, partition_col: str = "partition") -> dict:
    """partition value → (n_files, total_bytes) from one directory listing
    (no data read)."""
    out = {}
    prefix = f"{partition_col}="
    if not os.path.isdir(table_dir):
        return out
    for name in sorted(os.listdir(table_dir)):
        d = os.path.join(table_dir, name)
        if not (name.startswith(prefix) and os.path.isdir(d)):
            continue
        files = _data_files(d)
        out[name[len(prefix) :]] = (
            len(files),
            sum(os.path.getsize(f) for f in files),
        )
    return out


def plan_compaction(
    table_dir: str,
    partition_col: str = "partition",
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
) -> list[dict]:
    """Partitions whose file count exceeds what their bytes need — the
    work list, from listing alone. Idempotent: a just-compacted partition
    plans zero work."""
    plans = []
    for part, (n_files, total_bytes) in partition_file_stats(
        table_dir, partition_col
    ).items():
        target = cluster_partition_count(total_bytes / 1e6, target_file_mb)
        if n_files > target:
            plans.append(
                {
                    "partition": part,
                    "n_files": n_files,
                    "total_bytes": total_bytes,
                    "target_files": target,
                }
            )
    return plans


def _listing_snapshot(d: str) -> list[tuple[str, int, int]]:
    """(name, size, mtime_ns) per data file — the optimistic-commit token:
    any concurrent rewrite of the partition changes it."""
    return sorted(
        (os.path.basename(f), os.path.getsize(f), os.stat(f).st_mtime_ns)
        for f in _data_files(d)
    )


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _heal(table_dir: str, partition_col: str) -> None:
    """Crash recovery, run before every compaction pass:
      - `_compact_<pid>_<part>.old` whose `_lock_<part>` nobody holds = a
        swap that died between its two renames (no live partition dir) →
        rename the old data back into place (the partition becomes visible
        again; nothing lost), or one that died before its rmtree → reaped;
      - scratch dirs whose owning pid is dead → reaped (staging runs
        unlocked, so only the pid can tell an orphan from a live stage).

    Why the lock decides `.old`: a `.old` dir exists only while its owner
    holds `_lock_<part>` — both swap renames and the rmtree run under it —
    and flock locks die with their process. A free lock therefore means a
    crashed owner, even when its pid has since been recycled by an unrelated
    process (a pid check would hide that partition forever). A held lock
    means a compactor is mid-swap: healing its `.old` would rename the old
    data back under it, making its os.rename(scratch, part_dir) fail
    ENOTEMPTY and crash the run mid-commit (r04 ADVICE). A recycled pid can
    only delay a scratch reap, and readers never see scratch dirs."""
    if not os.path.isdir(table_dir):
        return
    for name in os.listdir(table_dir):
        if not name.startswith("_compact_"):
            continue
        full = os.path.join(table_dir, name)
        base = name.removesuffix(".old")
        try:
            pid = int(base.split("_")[2])
            part = base.split("_", 3)[3]
        except (IndexError, ValueError):
            continue
        is_old = name.endswith(".old")
        if not is_old and _pid_alive(pid):
            continue  # live owner still staging
        live = os.path.join(table_dir, f"{partition_col}={part}")
        lock = os.path.join(table_dir, f"_lock_{part}")
        # a heal never waits behind a swap: a held lock on an `.old` means
        # its owner is mid-swap
        with exclusive_lock(lock, blocking=not is_old) as held:
            if not held or not os.path.exists(full):
                continue  # live swap, or another healer won the race
            if is_old and not os.path.exists(live):
                os.rename(full, live)  # heal the vanished partition
            else:
                shutil.rmtree(full, ignore_errors=True)


def compact_dataset(
    spark: SparkSession,
    table_dir: str,
    partition_col: str = "partition",
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
) -> dict:
    """Execute the plan: heal crash orphans, then per over-fragmented
    partition read → coalesce to target_files (narrowing, zero shuffle) →
    staged rewrite → VALIDATED locked swap (see module docstring: a
    concurrent writer aborts the commit, never loses data). Returns
    {partition: (files_before, files_after)}; a partition skipped because
    a writer raced it maps to the string 'skipped_concurrent_write'."""
    _heal(table_dir, partition_col)
    done: dict = {}
    for p in plan_compaction(table_dir, partition_col, target_file_mb):
        part_dir = os.path.join(table_dir, f"{partition_col}={p['partition']}")
        # staging/lock/old names are "_"-prefixed: Spark's file listing and
        # partition discovery ignore _ and . prefixed entries, so a reader
        # of the table never trips over compaction's working files (a bare
        # `partition=X.lock` sibling was read as a data file and failed
        # footer parsing)
        scratch = os.path.join(table_dir, f"_compact_{os.getpid()}_{p['partition']}")
        token = _listing_snapshot(part_dir)
        (
            spark.read.parquet(part_dir)
            .coalesce(p["target_files"])
            .write.mode("overwrite")
            .parquet(scratch)
        )
        with exclusive_lock(os.path.join(table_dir, f"_lock_{p['partition']}")):
            if _listing_snapshot(part_dir) != token:
                # a writer replaced the partition while we staged — their
                # rows win, our stale rewrite is garbage
                shutil.rmtree(scratch, ignore_errors=True)
                done[p["partition"]] = "skipped_concurrent_write"
                continue
            old = f"{scratch}.old"
            os.rename(part_dir, old)
            os.rename(scratch, part_dir)
            shutil.rmtree(old)
        done[p["partition"]] = (p["n_files"], len(_data_files(part_dir)))
    return done
