"""Scaling-efficiency evidence: the sandbox substitute for N vs 4N executors.

NOISE WARNING: this sandbox host's capacity (especially memory bandwidth)
drifts severalfold over minutes, so single ratios are meaningless; every
pair is the median of `rounds` interleaved low/high rounds (default 7,
back-to-back from two resident JVMs, order flipped per round — protocol v3)
and the in-session ceilings below bound what the hardware could deliver.

BASELINE.json:2/14 demands throughput scaling efficiency ≥ 0.8 between N and
4N executor clusters. No real cluster exists here, so (per the driver
instruction) we run the IDENTICAL pipeline job on the same input at
local[N] and local[4N] — fresh JVM per config, fixed 32 shuffle partitions
so the physical work is the same and only the thread count varies — and
report steady-state docs/sec at both plus efficiency = T_N / (4 · T_4N).

Three pairs are measured: 1→4, 2→8, 8→32, each as the median of the
interleaved low/high rounds. Two in-session host ceilings (pure-CPU
busy-loop; memory-copy bandwidth) decide which pairs the hardware can grade
against the ideal 4×: this sandbox's raw CPU scales near-linearly to 32
procs, but its aggregate memory bandwidth peaks near 8 concurrent streams
and collapses beyond — so the string-bound pipeline's high pairs are
host-capped and reported for transparency, not graded.

Usage: python tools/scaling_bench.py [n_pages] [rounds]  (default 200000, 7 —
resident JVMs make extra rounds cheap: one round = one low + one high run,
no JVM restart or re-warm-up between rounds)
Writes the measured table into BASELINE.md (## Measured section) and prints
one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from wikidataquality_spark.session import get_spark
from wikidataquality_spark.operators.barrier import owned_caches
from wikidataquality_spark.pipeline import validate, results
from pyspark.sql import functions as F

cpus = int(sys.argv[1])
path = sys.argv[2]
# 4MB split target so the 64-file corpus scans as ≥64 parallel tasks in both
# configs (identical physical work; only thread count varies).
conf = {{"spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024)}}
spark = get_spark(cpus=cpus, shuffle_partitions=32, app_name=f"scal{{cpus}}",
                  extra_conf=conf)
from wikidataquality_spark.deploy import ensure_shipped
ensure_shipped(spark)  # the --py-files story: workers import by reference
pages = spark.read.parquet(path)
n = pages.count()


def one_run():
    with owned_caches() as owner:
        t0 = time.perf_counter()
        out = validate(pages, persist_registry=owner)
        kept = results(out).filter("keep").count()
        dt = time.perf_counter() - t0
    # the block released the pipeline's sealed intermediate and the reset
    # below drops anything else cached, so every timed run recomputes the
    # full DAG from the scan; then force a full GC (untimed)
    # so heap state from run k never bleeds into run k+1's timing — resident
    # JVMs otherwise accumulate old-gen churn across runs. System.gc() only
    # reaches THIS (driver) JVM, which under local[N] is every executor too.
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    return dt, kept


# Warm-up run (untimed): spawns+reuses the Python UDF workers (numpy/pandas
# imports), JIT-compiles codegen'd stages, primes parquet footers. A 10^12-doc
# production job amortizes this to zero — steady-state throughput is the
# quantity the N-vs-4N efficiency target is defined over. Cold time is still
# reported for transparency.
t_cold, kept = one_run()
print(json.dumps({{"ready": True, "cpus": cpus, "cold_seconds": t_cold,
                   "docs": n, "kept": kept}}), flush=True)

# Resident loop: the parent alternates single timed runs between the low and
# high JVMs (never concurrently — the sibling JVM sits idle, ~0 CPU), so each
# per-round ratio pairs two runs seconds apart instead of minutes apart.
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "run":
        dt, kept_r = one_run()
        print(json.dumps({{"seconds": dt, "kept": kept_r}}), flush=True)
    elif cmd == "quit":
        break
spark.stop()
"""


class ResidentWorker:
    """A resident pipeline JVM at one config, driven over stdin.

    One warm-up run happens at spawn (untimed); after that every `run()` is a
    steady-state execution of the identical job. The parent must never have
    two workers executing at once — `run()` blocks until the result line."""

    def __init__(self, cpus: int, path: str):
        script = WORKER.format(repo=REPO)
        self.label = f"local[{cpus}]"
        self.proc = subprocess.Popen(
            [sys.executable, "-c", script, str(cpus), path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            cwd=REPO,
        )
        self.ready = self._read_json()
        assert self.ready.get("ready"), f"worker {self.label} failed to warm up"

    def _read_json(self) -> dict:
        for line in self.proc.stdout:
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError(
            f"worker {self.label} exited (rc={self.proc.poll()}) without a result"
        )

    def run(self) -> float:
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        return self._read_json()["seconds"]

    def close(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def _burn(q):
    import time as _t

    t0 = _t.perf_counter()
    x = 0
    n = 0
    while _t.perf_counter() - t0 < 3.0:
        for _ in range(100000):
            x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        n += 100000
    q.put(n)


def copy_bandwidth(seconds: float = 3.0) -> float:
    """One 256MB read+write memory-copy stream; returns bytes/sec. The ONE
    definition shared by the per-pair ceilings here and bench.py's
    `host_membw_gbps` probe — the two numbers are only comparable while they
    run identical code."""
    import numpy as np
    import time as _t

    buf = np.frombuffer(np.random.bytes(256 * 1024 * 1024), dtype=np.uint8)
    t0 = _t.perf_counter()
    n = 0
    while _t.perf_counter() - t0 < seconds:
        b = buf.copy()  # read + write 256MB
        n += 2 * len(buf)
        del b
    return n / (_t.perf_counter() - t0)


def _cpuburn(_):
    # fixed pure-python work item (~0.3s on a healthy core): scheduler- and
    # GIL-free (one process each), no memory traffic to speak of — isolates
    # CPU-slot availability from the memory-bandwidth axis copy_bandwidth
    # measures
    s = 0
    for i in range(5_000_000):
        s += i * i
    return s


def cpu_scaling(n_procs: int) -> float:
    """Host CPU-scaling probe: time ONE process doing a fixed work item,
    then `n_procs` processes each doing the same item concurrently; returns
    t_1/t_N (1.0 = N fully independent cores, 0.5 = half the advertised
    slots actually schedulable). This sandbox advertises 32 vCPUs but has
    measured as low as ~0.55 here — per-query bench swings of 3× trace to
    this, not to code, so BENCH_r*.json records it next to host_membw_gbps."""
    import multiprocessing as mp
    import time as _t

    t0 = _t.perf_counter()
    _cpuburn(None)
    t1 = _t.perf_counter() - t0
    with mp.Pool(n_procs) as pool:
        t0 = _t.perf_counter()
        pool.map(_cpuburn, range(n_procs))
        tn = _t.perf_counter() - t0
    return t1 / tn if tn > 0 else 0.0


def _memburn(q):
    q.put(copy_bandwidth())


def mem_ceiling(ns: tuple[int, ...], samples: int = 3) -> dict[int, float]:
    """Aggregate memory-copy bandwidth (GB/s) at each of `ns` concurrent
    streams — MEDIAN of `samples` repeats, because a single 3s window on this
    host can read anywhere from 1.5 to 3.7 GB/s at one stream (measured v3
    run, 2026-08-17). The validation pipeline is string/memory-bound, so the
    achievable N→4N speedup is capped by membw(streams_4N)/membw(streams_N),
    not by raw CPU. An engine config local[N] drives ≈2N concurrent memory
    streams (N JVM task threads + N python workers). This host's bandwidth
    REGIME also drifts over hours (r02 session: peak near 8 streams then ~3×
    collapse at 32; v3 session: monotone rise to 32) — which is why ceilings
    must be measured per-pair, in the same window as the pair's runs."""
    import multiprocessing as mp
    import statistics as st

    out: dict[int, list[float]] = {n: [] for n in ns}
    for _ in range(samples):
        for n in ns:
            q = mp.Queue()
            ps = [mp.Process(target=_memburn, args=(q,)) for _ in range(n)]
            for p in ps:
                p.start()
            tot = sum(q.get() for _ in ps)
            for p in ps:
                p.join()
            out[n].append(tot / 1e9)
    return {n: st.median(v) for n, v in out.items()}


def cpu_ceiling(ns: tuple[int, ...]) -> dict[int, float]:
    """Measured host ceiling: aggregate pure-CPU busy-loop throughput at each
    of `ns` processes. The N→4N pair ceiling (agg_4N / agg_N) is the maximum
    speedup ANY software could extract from this host at that pair — the
    principled eligibility test for grading an engine ratio against an ideal
    4× (shared/SMT hosts cannot always deliver 4× more cycles)."""
    import multiprocessing as mp

    out = {}
    for n in ns:
        q = mp.Queue()
        ps = [mp.Process(target=_burn, args=(q,)) for _ in range(n)]
        for p in ps:
            p.start()
        tot = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        out[n] = tot / 3.0
    return out


def pair_ceilings(n: int) -> dict:
    """Host ceilings for one N→4N pair, measured IMMEDIATELY BEFORE the
    pair's engine runs so eligibility reflects the same host window (the v3
    run proved window mismatch matters: ceilings taken 40 minutes before a
    pair graded it against a regime the host was no longer in)."""
    lo_s, hi_s = min(2 * n, 32), min(8 * n, 32)
    cpu = cpu_ceiling((n, 4 * n))
    mem = mem_ceiling((lo_s, hi_s))
    return {
        "cpu_ratio": round(cpu[4 * n] / cpu[n], 3),
        "mem_ratio": round(mem[hi_s] / mem[lo_s], 3),
        "mem_gbps": {k: round(v, 1) for k, v in mem.items()},
    }


def replace_section(content: str, marker: str, section: str) -> str:
    """Replace the markdown section starting at `marker` (through the next
    '## ' heading) with `section`, preserving anything after it — so
    scaling_bench and skew_bench can each own a BASELINE.md section
    without truncating the other's."""
    if marker in content:
        head, rest = content.split(marker, 1)
        idx = rest.find("\n## ")
        tail = rest[idx:] if idx != -1 else ""
        return head + section + tail
    return content + section


def gen_corpus(n_pages: int) -> str:
    """32-file parquet dataset — one task per thread at the largest config
    (a single file would make the first stage one serial task; many more
    files than threads just multiplies task-launch overhead, which is the
    driver-serial cost the efficiency ratio is most sensitive to)."""
    sys.path.insert(0, REPO)
    from wikidataquality_spark.datagen import DATAGEN_VERSION
    from wikidataquality_spark.io.locking import publish_dir, user_cache_root

    # DATAGEN_VERSION in the cache key: a datagen change must invalidate the
    # bench corpus too, or BASELINE.md numbers describe a stale input.
    # Per-uid root + lock publish (r04 review): the old world-shared
    # /tmp/wdq_scaling path was squattable (BASELINE.md numbers would
    # describe attacker-chosen input) and the bare check-then-overwrite
    # raced two concurrent invocations onto one final dir.
    root = user_cache_root("wdq_scaling")
    path = os.path.join(root, f"pages_{n_pages}_42_d32_v{DATAGEN_VERSION}")

    def write(staging: str) -> None:
        from wikidataquality_spark.datagen import write_pages_parquet
        from wikidataquality_spark.session import get_spark

        single = os.path.join(root, f"pages_{n_pages}_42_v{DATAGEN_VERSION}.parquet")
        write_pages_parquet(single, n_pages, seed=42)
        spark = get_spark(cpus=8, app_name="gen_corpus")
        spark.read.parquet(single).repartition(32, "url").write.parquet(staging)
        spark.stop()

    return publish_dir(path, write)


def run_pair_rounds(make_low, make_high, rounds: int) -> dict:
    """The alternating-resident-rounds core of measure_pair:
    spawn low then high, run back-to-back timed rounds with the order
    flipped each round, and return medians + per-round ratios. Workers are
    closed even when the HIGH spawn fails (a warmed multi-GB resident JVM
    leaked past its pair would contaminate every later pair's timings on
    this drift-sensitive host)."""
    import statistics

    low = make_low()
    try:
        high = make_high()
    except BaseException:
        low.close()
        raise
    try:
        ratios, lows, highs = [], [], []
        for k in range(rounds):
            if k % 2 == 0:
                t_low = low.run()
                t_high = high.run()
            else:
                t_high = high.run()
                t_low = low.run()
            ratios.append(t_low / (4 * t_high))
            lows.append(t_low)
            highs.append(t_high)
    finally:
        low.close()
        high.close()
    return {
        "eff": round(statistics.median(ratios), 4),
        "eff_rounds": [round(r, 4) for r in ratios],
        "low_runs": [round(t, 2) for t in lows],
        "high_runs": [round(t, 2) for t in highs],
        "med_low": statistics.median(lows),
        "med_high": statistics.median(highs),
        "docs": low.ready["docs"],
        "low_cold": low.ready["cold_seconds"],
        "high_cold": high.ready["cold_seconds"],
    }


def measure_pair(n: int, path: str, rounds: int = 7) -> dict:
    """Protocol v3: run the identical job at local[n] and local[4n] from two
    RESIDENT JVMs (spawned+warmed sequentially, then alternating single timed
    runs — never concurrent; the idle sibling costs ~0 CPU). Each round is one
    low run and one high run executed back-to-back (seconds apart, vs minutes
    apart under the v2 fresh-JVM-per-round protocol), and the round ORDER
    FLIPS every round (L-H, H-L, L-H, …) so any drift that is locally linear
    in time cancels across consecutive rounds instead of biasing one side.
    Pair efficiency = MEDIAN of the per-round ratios T_low/(4·T_high); no
    cross-round or cross-JVM substitution into one side (the r01 flaw).

    v2→v3 change is measurement-only: same job, same configs, same fixed
    32-partition physical plan, same median-of-interleaved-ratios estimator —
    only the pairing got temporally tighter and the round count higher,
    because r02's per-round ratios spanned 0.52–0.97 (half the grade was
    drift, BASELINE.md r02)."""
    r = run_pair_rounds(
        lambda: ResidentWorker(n, path),
        lambda: ResidentWorker(4 * n, path),
        rounds,
    )
    docs = r["docs"]
    return {
        "n": n,
        "eff": r["eff"],
        "eff_rounds": r["eff_rounds"],
        "low_runs": r["low_runs"],
        "high_runs": r["high_runs"],
        "low": {"sec": round(r["med_low"], 3), "dps": round(docs / r["med_low"], 1),
                "cold_sec": round(r["low_cold"], 3)},
        "high": {"sec": round(r["med_high"], 3), "dps": round(docs / r["med_high"], 1),
                 "cold_sec": round(r["high_cold"], 3)},
    }


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    path = gen_corpus(n_pages)

    # Each pair: host ceilings measured IMMEDIATELY BEFORE its engine runs
    # (same host window — the v3 run proved a single up-front ceiling can
    # grade a pair against a regime the host left 40 minutes earlier). Each
    # pair is self-contained: its ratio uses exactly the two JVM runs it
    # measured — no cross-JVM substitution (r01 ADVICE: substituting a min of
    # two independent local[8] runs into only one side of a ratio
    # systematically inflates it).
    pairs = []
    for name, n in (("1_to_4", 1), ("2_to_8", 2), ("8_to_32", 8)):
        ceil = pair_ceilings(n)
        pair = measure_pair(n, path, rounds=rounds)
        pair["ceilings"] = ceil
        pairs.append((name, pair, ceil["cpu_ratio"], ceil["mem_ratio"]))
        print(json.dumps({"progress": name, **pair}), flush=True)
    pair14, pair28, pair832 = (p for _, p, *_ in pairs)

    # Achievable speedup for this (memory-bound) job = min(ideal 4×, raw-CPU
    # ratio, memory-bandwidth ratio) — all MEASURED in the pair's own window.
    # A pair is ELIGIBLE for grading against the ideal-4× target when the
    # host can actually deliver ≥3.6× (90% of 4×); otherwise the hardware,
    # not the engine, caps the ratio. Graded value = WORST eligible raw pair;
    # when NO pair is host-eligible (a fully degraded window), grading raw
    # ratios against 4× would measure the hypervisor, not the engine, so the
    # graded value falls back to the worst HOST-RELATIVE efficiency
    # (engine speedup ÷ achievable speedup) across all pairs.
    eff, rel, passes, eligible, achievable = {}, {}, {}, {}, {}
    for name, pair, c, m in pairs:
        # speedup from the SAME drift-cancelled estimator as the raw grade
        # (median of per-round back-to-back ratios × 4) — dividing
        # median(lows)/median(highs) would pair runs from different rounds,
        # re-admitting the cross-round drift the protocol exists to cancel
        speedup = 4.0 * pair["eff"]
        ach = min(4.0, c, m)
        achievable[name] = round(ach, 2)
        eff[name] = pair["eff"]
        rel[name] = round(speedup / ach, 4)
        eligible[name] = ach >= 3.6
        passes[name] = pair["eff"] >= 0.8
    graded = [eff[n] for n, *_ in pairs if eligible[n]]
    aggregation = "worst host-eligible pair (achievable >= 3.6x)"
    if graded:
        worst = min(graded)
        gate_pass = worst >= 0.8
    else:
        # Fully degraded window: no pair's measured ceiling reaches 3.6×, so
        # RAW ratios would grade the hypervisor, not the engine. Report the
        # worst host-relative efficiency for reference, but host-relative
        # numbers are inflated whenever the ceiling is low/noisy (measured
        # rel of 3.26 on a host-capped pair, v3 run) — they must NOT satisfy
        # the raw >= 0.8 contract. The gate is INCONCLUSIVE: re-run in a
        # better window.
        worst = min(rel.values())
        gate_pass = False
        aggregation = (
            "INCONCLUSIVE — no host-eligible pair in this window; value is "
            "the worst host-relative efficiency (speedup / achievable), "
            "reported for reference only and never graded as a PASS of the "
            "raw >= 0.8 contract. Re-run when the host can deliver >= 3.6x."
        )
    result = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": worst,
        "unit": "ratio",
        "aggregation": aggregation,
        "docs": n_pages,
        "local1": pair14["low"],
        "local4": pair14["high"],
        "local2": pair28["low"],
        "local8": pair28["high"],
        "local8_b": pair832["low"],
        "local32": pair832["high"],
        "eff_raw": eff,
        "eff_rounds": {
            "1_to_4": pair14["eff_rounds"],
            "2_to_8": pair28["eff_rounds"],
            "8_to_32": pair832["eff_rounds"],
        },
        "eff_host_relative": rel,
        "achievable_speedup": achievable,
        "per_pair_ceilings": {name: p["ceilings"] for name, p, *_ in pairs},
        "eligible": eligible,
        "target": 0.8,
        "pass_per_pair": passes,
        "pass": gate_pass,
    }
    print(json.dumps(result))

    baseline = os.path.join(REPO, "BASELINE.md")
    with open(baseline) as f:
        content = f.read()
    marker = "\n## Measured (scaling protocol)\n"
    rows = [
        ("local[1]", pair14["low"]),
        ("local[4]", pair14["high"]),
        ("local[2]", pair28["low"]),
        ("local[8]", pair28["high"]),
        ("local[8] (2nd pair)", pair832["low"]),
        ("local[32]", pair832["high"]),
    ]
    table = (
        marker
        + "\nIdentical pipeline job (full validation DAG: extract → langid → perplexity →\n"
        "heuristics → exact+MinHash dedup → rules → scrub → keep/drop) on the same\n"
        f"{n_pages}-page corpus, fixed 32 shuffle partitions. Protocol v3: one\n"
        "RESIDENT JVM per config (one untimed warm-up at spawn — Python-worker\n"
        "spawn + numpy/pandas import, JIT, codegen, overhead a 10^12-doc job\n"
        "amortizes to zero), then the low and high JVMs alternate single timed\n"
        "steady-state runs back-to-back (never concurrent; order flips every\n"
        "round); the cache is cleared between runs so each timed run recomputes\n"
        "the full DAG from the parquet scan. Reported sec/docs-per-sec are the\n"
        "per-config medians over all timed runs:\n\n"
        "| config | warm wall sec | docs/sec | cold (1st-run) sec |\n| --- | --- | --- | --- |\n"
        + "".join(
            f"| {name} | {r['sec']} | {r['dps']} | {r['cold_sec']} |\n" for name, r in rows
        )
        + "\n**Scaling efficiency N→4N (steady-state), per pair** (raw = T_N/(4·T_4N);\n"
        "achievable = min(4×, measured CPU ratio, measured memory-bandwidth ratio\n"
        "at the engine's ≈2N concurrent streams); host-rel = engine speedup ÷\n"
        "achievable; a pair is graded against the ideal-4× target only when the\n"
        "host can actually deliver ≥3.6×):\n\n"
        "| pair | raw eff | achievable speedup (×) | host-rel eff | graded? | ≥0.8? |\n"
        "| --- | --- | --- | --- | --- | --- |\n"
        + "".join(
            f"| {name.replace('_to_', '→')} | {eff[name]} | "
            f"{achievable[name]} | {rel[name]} | "
            f"{'yes' if eligible[name] else 'no (host-capped)'} | "
            f"{'PASS' if passes[name] else 'FAIL'} |\n"
            for name, *_ in pairs
        )
        + f"\n**Graded value = {result['value']} (aggregation: {result['aggregation']};\n"
        f"target ≥ 0.8 → {'PASS' if result['pass'] else 'FAIL'}).** Each pair's ratio is the\n"
        f"median of {rounds} INTERLEAVED low/high rounds, each round one low run and\n"
        "one high run seconds apart from the two resident JVMs (full JVM GC\n"
        "between runs), order flipped every round — tight temporal pairing +\n"
        "order flipping cancel slow drift in this sandbox's host capacity out\n"
        "of the ratio, with no cross-JVM substitution into one side.\n"
        f"Per-round ratios: {result['eff_rounds']}.\n"
        f"Per-run seconds (low/high, in round order):\n"
        f"1→4: {pair14['low_runs']} / {pair14['high_runs']};\n"
        f"2→8: {pair28['low_runs']} / {pair28['high_runs']};\n"
        f"8→32: {pair832['low_runs']} / {pair832['high_runs']}.\n"
        "Host ceilings (pure-CPU busy-loops; median-of-3 256MB numpy-copy\n"
        "streams) are measured IMMEDIATELY BEFORE each pair, so eligibility\n"
        "reflects the host window the pair actually ran in and transient host\n"
        "load shows up as a low ceiling, not as a hidden excuse. Per-pair\n"
        f"ceilings (cpu ratio / membw ratio at the engine's ≈2N streams):\n"
        f"{result['per_pair_ceilings']}.\n"
        "This host's memory-bandwidth REGIME drifts over hours (r02 session:\n"
        "peak near 8 streams, ~3× collapse at 32; v3 session: monotone rise;\n"
        "1-stream readings range 1.5–3.7 GB/s) — the string/memory-bound\n"
        "validation DAG cannot out-scale whatever bandwidth the hypervisor\n"
        "grants in a window (each executor of a real cluster has its own\n"
        "memory controllers; this wall is a single-box artifact).\n"
    )
    with open(baseline, "w") as f:
        f.write(replace_section(content, marker, table))


if __name__ == "__main__":
    main()
