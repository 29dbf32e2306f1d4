"""Measurements taken from outside the program: /proc for the Spark JVM and
its Python workers, and Spark's status store for per-job-group task metrics.

Nothing here changes what the program runs; the benchmark wraps the
production calls in job groups and reads these around them.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 onward)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (for the JVM: the pyspark daemon and
    the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    stack = [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def python_cpu_ticks(jvm_pid: int) -> dict[int, int]:
    """utime+stime per descendant process of the JVM (its Python workers)."""
    out = {}
    for pid in descendants(jvm_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = int(fields[11]) + int(fields[12])
    return out


def cpu_delta_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the processes alive at `after` spent since `before`. A
    worker that exits in between (pyspark kills one whose task stops
    reading early) takes its CPU with it, so this undercounts then."""
    total = 0
    for pid, ticks in after.items():
        prior = before.get(pid, 0)
        total += ticks - prior if ticks >= prior else ticks  # a reused pid
    return total / _CLK_TCK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset VmHWM (writing 5 to clear_refs, Linux >= 4.0)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process exited


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def set_group(spark, group: str | None) -> None:
    """Tag every job the next actions launch with `group` (None clears)."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
}


def group_task_metrics(spark, groups: list[str]) -> dict[str, dict[str, int]]:
    """Task metrics summed over the stages of every job in each group, read
    from the live status store after the listener bus drains. A stage shared
    by two jobs is counted once; skipped stages report zeros."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    wanted = set(groups)
    out = {g: {k: 0 for k in _STAGE_FIELDS} for g in groups}
    seen: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined() or g.get() not in wanted:
            continue
        ids = [int(s) for s in job.stageIds().mkString(",").split(",") if s]
        for sid in ids:
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            for k, getter in _STAGE_FIELDS.items():
                out[g.get()][k] += int(getattr(stage, getter)())
    return out
