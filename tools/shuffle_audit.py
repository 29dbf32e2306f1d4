"""Measured shuffle volumes per headline query — the quantitative twin of
the plan-shape gates in PLANS.md.

The plan audit proves the SHAPE is right (no cartesian, pushed filters,
broadcast dims); this tool measures what actually moved: per-query input
bytes, shuffle write/read bytes, and shuffle records, from Spark's own task
metrics. Bytes are deterministic per code+data version (unlike seconds on
this drifting host), so regressions show as exact deltas — a query whose
shuffle write jumps from 3 MB to 300 MB broke its narrow-projection
contract no matter what the wall clock says. Two headline metrics, both
host-free:
  - rows_shuffled_per_input_row — row expansion through every exchange of
    the DAG (banding ops expand by design: 16 band rows/doc for MinHash;
    what matters is the factor is the DESIGNED one, not N²);
  - avg_shuffled_row_bytes — the width of what actually moved: shuffle
    write bytes per shuffled row, as written, i.e. COMPRESSED with the
    session's spark.io.compression.codec (recorded as `codec` in the JSON;
    a codec change moves every width). The narrow-shuffle contract ("doc
    bodies/blobs never shuffle") is ~10-25 B rows; a width jump to
    hundreds of bytes means a fat column leaked into an exchange.

Protocol: each headline query runs once UNGROUPED (warm-up: parquet
footers, python workers, train-once artifact caches) and once inside its
own job group, materialized through the same noop-format write as bench.py;
the group's task metrics are then read from the live status store (job
group → stage ids → the stages' summed task metrics), as
perfbench/probes.group_task_metrics reads them.

    python tools/shuffle_audit.py [sf_dir] [--write]

--write persists tools/shuffle_audit.json, which tools/plan_audit.py
renders into PLANS.md on its next run.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.dirname(os.path.abspath(__file__))):
    if p not in sys.path:
        sys.path.insert(0, p)

# status-store StageData getter per summed field
_STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "n_tasks": "numCompleteTasks",
}


def group_stages(spark, group: str) -> list:
    """The last attempt (status-store StageData) of every stage of every job
    in `group`, each stage once, read from the live status store after the
    listener bus drains. Skipped stages report zeros."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = store.jobsList(None)
    seen: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            seen.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
    return [store.lastStageAttempt(sid) for sid in sorted(seen)]


def group_metrics(spark, group: str) -> dict[str, int]:
    """Task metrics summed over the stages of `group` (group_stages): a
    stage shared by two jobs is counted once."""
    out = dict.fromkeys(_STAGE_FIELDS, 0)
    for stage in group_stages(spark, group):
        for k, getter in _STAGE_FIELDS.items():
            out[k] += int(getattr(stage, getter)())
    return out


def run_queries(spark, sf_dir: str) -> dict[str, dict]:
    """Run the bench headline set, each measured run under its own job
    group; return each query's summed task metrics."""
    from bench import HEADLINE
    from wikidataquality_spark.plans.driver_queries import QUERIES

    sc = spark.sparkContext
    agg = {}
    for name in HEADLINE:
        # warm-up pass, ungrouped: excludes one-time session costs (python
        # worker spawn, fixture/artifact builds) from the measured group —
        # the same exclusion bench.py applies to its timings
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # drop session-level memory caches so the measured run's Input
        # Metrics reflect the real scan (warm-up persists would otherwise
        # absorb every read and inflate amplification denominators); disk
        # artifacts (fixture parquet, train-once models) stay warm
        spark.catalog.clearCache()
        sc.setJobGroup(name, name)
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        sc.setJobGroup(None, None)
        agg[name] = group_metrics(spark, name)
    return agg


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    write = False
    for a in sys.argv[1:]:
        if a == "--write":
            write = True
        else:
            sf_dir = a
    from wikidataquality_spark.session import get_spark

    spark = get_spark(app_name="shuffle_audit")
    codec = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
    agg = run_queries(spark, sf_dir)
    spark.stop()

    out = {"sf_dir": sf_dir, "codec": codec, "queries": {}}
    for name, b in agg.items():
        if not b["n_tasks"]:
            out["queries"][name] = {"error": "no tasks attributed"}
            continue
        swb, swr = b["shuffle_write_bytes"], b["shuffle_write_records"]
        out["queries"][name] = {
            "input_mb": round(b["input_bytes"] / 1e6, 3),
            "input_records": b["input_records"],
            "shuffle_write_mb": round(swb / 1e6, 3),
            "shuffle_read_mb": round(b["shuffle_read_bytes"] / 1e6, 3),
            "shuffle_write_records": swr,
            # the two scale metrics (host-free): row expansion through
            # every exchange of the DAG, and the average compressed width
            # of what actually moved (narrow-shuffle proof)
            "rows_shuffled_per_input_row": round(swr / b["input_records"], 3)
            if b["input_records"]
            else None,
            "avg_shuffled_row_bytes": round(swb / swr, 1) if swr else None,
            "n_tasks": b["n_tasks"],
        }
    print(json.dumps(out, indent=1))
    if write:
        dst = os.path.join(REPO, "tools", "shuffle_audit.json")
        with open(dst, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {dst} — run tools/plan_audit.py to render PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
