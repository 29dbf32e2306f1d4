"""Compaction gates: fragmented partitions collapse to their target file
count with rows and values byte-identical, the plan is idempotent (second
pass = no work), manifests/resume state stay valid, and spared partitions
are untouched."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wikidataquality_spark.io.catalog import (
    completed_partitions,
    read_manifest,
    write_partitioned,
)
from wikidataquality_spark.io.compaction import (
    compact_dataset,
    partition_file_stats,
    plan_compaction,
)


def _fragmented_dataset(spark, out):
    rows = [(f"u{i}", f"2025-01-{(i % 2) + 1:02d}", i, f"text {i}") for i in range(400)]
    df = spark.createDataFrame(
        rows, "url string, partition string, x long, text string"
    ).repartition(16)  # 16 tiny files per partition directory
    return write_partitioned(df, out, run_id="frag1", input_snapshot="snapA")


def test_compact_reduces_files_preserves_rows_and_manifest(spark, tmp_path):
    out = str(tmp_path / "t")
    entry = _fragmented_dataset(spark, out)
    before = partition_file_stats(out)
    assert all(n > 1 for n, _ in before.values())
    rows_before = sorted(map(tuple, spark.read.parquet(out).collect()))
    manifest_before = read_manifest(out)

    done = compact_dataset(spark, out, target_file_mb=64)
    assert set(done) == set(before)
    after = partition_file_stats(out)
    for part, (n_before, _) in before.items():
        n_after, _ = after[part]
        assert n_after == 1 < n_before  # tiny bytes → single target file
    # rows and values byte-identical; manifest + resume state untouched
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == rows_before
    assert read_manifest(out) == manifest_before
    assert completed_partitions(out) == {"2025-01-01", "2025-01-02"}
    assert entry["rows"] == 400

    # idempotent: nothing left to do
    assert plan_compaction(out, target_file_mb=64) == []
    assert compact_dataset(spark, out, target_file_mb=64) == {}


def test_concurrent_write_aborts_commit_and_loses_nothing(spark, tmp_path, monkeypatch):
    """Optimistic commit: a writer landing between staging and the locked
    swap changes the partition's listing token — the commit aborts, the
    writer's rows win, the scratch is discarded."""
    import wikidataquality_spark.io.compaction as comp

    out = str(tmp_path / "t3")
    _fragmented_dataset(spark, out)
    real_lock = comp.exclusive_lock
    raced = {}

    from contextlib import contextmanager

    @contextmanager
    def racing_lock(path):
        if not raced:  # first commit only: a writer replaces 2025-01-01
            raced["done"] = True
            late = spark.createDataFrame(
                [("w-late", "2025-01-01", 999, "late writer")],
                "url string, partition string, x long, text string",
            )
            write_partitioned(late, out, run_id="late", input_snapshot="snapC")
        with real_lock(path):
            yield

    monkeypatch.setattr(comp, "exclusive_lock", racing_lock)
    done = comp.compact_dataset(spark, out, target_file_mb=64)
    assert done["2025-01-01"] == "skipped_concurrent_write"
    assert done["2025-01-02"][1] == 1  # the unraced partition compacted
    df = spark.read.parquet(out)
    # dynamic overwrite replaced partition 01 with the single late row —
    # exactly what the table must show; nothing of the writer's was lost
    assert df.filter(F.col("url") == "w-late").count() == 1
    assert df.filter(F.col("partition") == "2025-01-01").count() == 1
    assert df.filter(F.col("partition") == "2025-01-02").count() == 200
    # the aborted scratch is gone
    assert not [d for d in os.listdir(out) if d.startswith("_compact_")]


def test_heal_restores_vanished_partition_and_reaps_orphans(spark, tmp_path):
    """Crash recovery: a swap that died between its renames leaves the live
    dir missing and an .old orphan — the next run renames it back; dead-pid
    scratch dirs are reaped."""
    import subprocess

    out = str(tmp_path / "t4")
    _fragmented_dataset(spark, out)
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid
    part = os.path.join(out, "partition=2025-01-01")
    os.rename(part, os.path.join(out, f"_compact_{dead_pid}_2025-01-01.old"))
    assert spark.read.parquet(out).count() == 200  # partition vanished
    scratch = os.path.join(out, f"_compact_{dead_pid}_2025-01-02")
    os.makedirs(scratch)
    compact_dataset(spark, out, target_file_mb=64)
    assert spark.read.parquet(out).count() == 400  # healed, then compacted
    assert not [d for d in os.listdir(out) if d.startswith("_compact_")]
    assert partition_file_stats(out)["2025-01-01"][0] == 1


def test_heal_never_touches_a_live_owners_dirs(spark, tmp_path):
    """A LIVE compactor is mid-swap whenever its .old exists: healing it
    would rename the old data back under the owner and crash its
    os.rename(scratch, part_dir) with ENOTEMPTY (r04 ADVICE). _heal must
    leave every live owner's dir alone — .old while its partition lock is
    held (even with the live partition missing, i.e. exactly the mid-swap
    window) AND a live pid's scratch."""
    from wikidataquality_spark.io.compaction import _heal
    from wikidataquality_spark.io.locking import exclusive_lock

    out = str(tmp_path / "t5")
    _fragmented_dataset(spark, out)
    live_pid = os.getpid()  # provably alive: us
    part = os.path.join(out, "partition=2025-01-01")
    old = os.path.join(out, f"_compact_{live_pid}_2025-01-01.old")
    os.rename(part, old)  # simulate: owner is between its two renames
    scratch = os.path.join(out, f"_compact_{live_pid}_2025-01-02")
    os.makedirs(scratch)
    # the owner holds the partition lock for its whole swap
    with exclusive_lock(os.path.join(out, "_lock_2025-01-01")):
        _heal(out, "partition")
    assert os.path.isdir(old) and not os.path.exists(part)  # not resurrected
    assert os.path.isdir(scratch)  # not reaped
    # finish the owner's swap by hand — dataset is whole again
    os.rename(old, part)
    os.rmdir(scratch)
    assert spark.read.parquet(out).count() == 400


def test_heal_restores_old_dir_of_a_recycled_pid(spark, tmp_path):
    """A crashed swap's .old whose pid now belongs to an unrelated live
    process (here: us) must still be healed — its partition lock is free,
    so no swap is in flight, and a pid check alone would hide the
    partition forever."""
    from wikidataquality_spark.io.compaction import _heal

    out = str(tmp_path / "t6")
    _fragmented_dataset(spark, out)
    part = os.path.join(out, "partition=2025-01-01")
    old = os.path.join(out, f"_compact_{os.getpid()}_2025-01-01.old")
    os.rename(part, old)
    _heal(out, "partition")
    assert os.path.isdir(part) and not os.path.exists(old)
    assert spark.read.parquet(out).count() == 400


def test_compact_spares_already_compact_partitions(spark, tmp_path):
    out = str(tmp_path / "t2")
    _fragmented_dataset(spark, out)
    # compact one partition by hand first
    compact_dataset(spark, out, target_file_mb=64)
    stats = partition_file_stats(out)
    # append a new fragmented partition; the compacted ones must not be
    # rewritten (their file mtimes stay put)
    extra = spark.createDataFrame(
        [(f"v{i}", "2025-01-03", i, "t") for i in range(100)],
        "url string, partition string, x long, text string",
    ).repartition(8)
    write_partitioned(extra, out, run_id="frag2", input_snapshot="snapB")
    mtime_before = {
        p: os.path.getmtime(os.path.join(out, f"partition={p}")) for p in stats
    }
    plans = plan_compaction(out, target_file_mb=64)
    assert [p["partition"] for p in plans] == ["2025-01-03"]
    compact_dataset(spark, out, target_file_mb=64)
    for p, t in mtime_before.items():
        assert os.path.getmtime(os.path.join(out, f"partition={p}")) == t
    assert partition_file_stats(out)["2025-01-03"][0] == 1
    assert spark.read.parquet(out).count() == 500