"""Production-path benchmark: the validation and curation entry points timed
as users run them.

    python3 perfbench/run.py --workload {crawl-warc,curate-funnel} \
        --seed N --seconds S --trace {0,1} [--docs N]

Run from the repository root. One closed loop: one driver process, Spark at
local[nproc], one production call at a time. Per workload the timed call is

- crawl-warc: `tools/run_pipeline.main --input-format warc` (read_warc ->
  recrawl dedup -> validate -> io.catalog.write_partitioned ->
  metrics.rule_metrics), on WARC segments;
- curate-funnel: `tools/curate_corpus.main` (curate.curate -> curated write
  + _funnel.json), on parquet documents.

Inputs come from perfbench/gen.py (seeded, cached under .perfbench/). A run:

1. host context (nproc, host_membw_gbps, host_cpu_scaling), then the
   inputs; the context, with the Spark conf, is printed as one
   `{"context": ...}` line and saved under .perfbench/runs/;
2. set-up: session start, deploy.ensure_shipped and model loads (the first
   one timed from process start, so it includes imports and the JVM
   launch), then one untimed warm-up call on a smaller input of the same
   shape;
3. --trace 0: production calls back to back for --seconds, each checked,
   then the session is stopped and set up four more times; prints the
   end-to-end metrics (setup_s is the median of the five set-ups). --trace 1:
   untraced calls for half of --seconds, then traced reconstructions
   (perfbench/tracing.py) for the rest; prints the per-layer metrics;
4. on every way out, each process the run started (the Spark JVM, the
   pyspark daemon and its workers, multiprocessing helpers) has ended
   before the result line is printed.

Every call's output is checked: rows are conserved, the output digest is the
same for every call of one invocation (and for the traced reconstruction),
and the keep/drop decision scores at least a floor F1 against the generator's
planted truth. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# below the host's RAM (session.py defaults the driver to 24g)
DRIVER_MEM = "3g"
SETUPS = 5
END_TO_END = (
    ("docs_per_s", "docs/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("shuffle_bytes_per_doc", "B/doc"),
    ("drop_f1", "ratio"),
)
# the warm-up call's input: as many files as the timed input, a fraction of
# its documents
WARMUP_DOCS = {"crawl-warc": 600, "curate-funnel": 1_600}
# the keep/drop decision must stay at least this close to the planted truth
F1_FLOOR = {"crawl-warc": 0.9, "curate-funnel": 0.2}


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _adopt_orphans() -> None:
    """Become the child subreaper (Linux prctl PR_SET_CHILD_SUBREAPER): a
    process whose parent exits first, such as a pyspark worker outliving
    its daemon, is re-parented to this process instead of init, so
    _stop_descendants can find it and wait for it."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(grace_s: float = 5.0) -> None:
    """Wait for every process below this one to end: first on its own (the
    pyspark daemon and its workers exit once the JVM has), then after
    SIGTERM, then after SIGKILL. The multiprocessing resource tracker, which
    only exits when this process does, is stopped first."""
    import probes
    from multiprocessing import resource_tracker

    with contextlib.suppress(Exception):
        resource_tracker._resource_tracker._stop()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in probes.descendants(os.getpid()):
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        end = time.monotonic() + grace_s
        while time.monotonic() < end:
            _reap_children()
            if not probes.descendants(os.getpid()):
                return
            time.sleep(0.05)
    raise RuntimeError("processes started by the benchmark did not exit")


def _pin_scratch() -> dict[str, str]:
    """Keep every file Spark, its workers and the package cache write inside
    the checkout: TMPDIR (user_cache_root, pyspark temp files), java.io.tmpdir
    and no hsperfdata for both JVMs (spark-submit's launcher and the driver),
    Spark's local dirs and the SQL warehouse."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}


def _digest(frame) -> str:
    h = hashlib.blake2b(digest_size=16)
    for row in frame.itertuples(index=False):
        h.update(repr(tuple(row)).encode("utf-8"))
    return h.hexdigest()


def _f1(pred, truth) -> float:
    tp = int((pred & truth).sum())
    fp = int((pred & ~truth).sum())
    fn = int((~pred & truth).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


class Workload:
    """Input paths, the production call, its traced twin and its checks."""

    name = ""

    def __init__(self, input_dir: str) -> None:
        import gen

        self.input_dir = input_dir
        self.props = gen.read_props(input_dir)
        self.n_input = self.props["n_records"]

    def load_models(self) -> None:
        """Load the model artifacts the production call uses."""
        raise NotImplementedError

    def call(self, out: str) -> None:
        raise NotImplementedError

    def trace(self, tr, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> tuple[str, list[str], float]:
        """(digest, failed checks, drop F1) of one call's output dir."""
        raise NotImplementedError


class CrawlWarc(Workload):
    name = "crawl-warc"

    def load_models(self) -> None:
        # the enrich UDF body on a few documents: what each Python worker
        # does on its first task (langid + bigram LM tables)
        import gen

        from wikidataquality_spark.operators.enrich import enrich_udf

        list(enrich_udf.func(iter([gen.sample_html(self.input_dir, 8)])))

    def call(self, out: str) -> None:
        import run_pipeline

        run_pipeline.main(
            ["--input", os.path.join(self.input_dir, "warc"), "--input-format", "warc",
             "--output", os.path.join(out, "validated"),
             "--metrics", os.path.join(out, "metrics")]
        )

    def trace(self, tr, out: str) -> None:
        import tracing

        tracing.trace_validate(
            tr, os.path.join(self.input_dir, "warc"), True,
            os.path.join(out, "validated"), os.path.join(out, "metrics"),
        )

    def check(self, out: str) -> tuple[str, list[str], float]:
        import pandas as pd
        import pyarrow.parquet as pq

        table_dir = os.path.join(out, "validated")
        df = pq.read_table(
            table_dir, columns=["url", "keep", "scrubbed_text", "violated_rules"]
        ).to_pandas()
        df["violated_rules"] = df["violated_rules"].map(lambda v: None if v is None else tuple(v))
        df = df.sort_values("url", kind="stable").reset_index(drop=True)
        with open(os.path.join(table_dir, "_manifest.json")) as f:
            written = json.load(f)["runs"][-1]["rows"]
        expected = self.props["n_records"] - self.props["n_recrawl"]
        failed = []
        if not (len(df) == written == expected):
            failed.append(f"rows: read {len(df)}, manifest {written}, expected {expected}")
        if df["url"].duplicated().any():
            failed.append("rows: duplicate urls in the output")
        truth = pd.read_parquet(os.path.join(self.input_dir, "truth.parquet"))
        j = truth.merge(df[["url", "keep"]], on="url", how="left")
        f1 = _f1(~j["keep"].fillna(True).astype(bool).to_numpy(), j["drop"].to_numpy())
        return _digest(df), failed, f1


class CurateFunnel(Workload):
    name = "curate-funnel"

    def load_models(self) -> None:
        from wikidataquality_spark.operators.bpe import load_bpe
        from wikidataquality_spark.operators.quality_model import load_quality_model

        load_quality_model()
        load_bpe()

    def call(self, out: str) -> None:
        import curate_corpus

        curate_corpus.main(
            ["--input", os.path.join(self.input_dir, "docs"), "--output", os.path.join(out, "curated")]
        )

    def trace(self, tr, out: str) -> None:
        import tracing

        tracing.trace_curate(tr, os.path.join(self.input_dir, "docs"), os.path.join(out, "curated"))

    def check(self, out: str) -> tuple[str, list[str], float]:
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        cur = os.path.join(out, "curated")
        df = pq.read_table(cur, columns=["doc_id", "n_tokens", "pack_id", "pack_offset"]).to_pandas()
        df = df.sort_values("doc_id", kind="stable").reset_index(drop=True)
        with open(os.path.join(cur, "_funnel.json")) as f:
            funnel = json.load(f)["funnel"]
        failed = []
        if sum(funnel.values()) != self.props["n_docs"]:
            failed.append(f"rows: funnel sums to {sum(funnel.values())}, input {self.props['n_docs']}")
        if funnel.get("kept", 0) != len(df) or df["doc_id"].duplicated().any():
            failed.append(f"rows: funnel kept {funnel.get('kept', 0)}, curated {len(df)}")
        truth = pd.read_parquet(os.path.join(self.input_dir, "truth.parquet"))
        pred = ~truth["doc_id"].isin(df["doc_id"]).to_numpy()
        f1 = _f1(pred, truth["drop"].to_numpy(dtype=np.bool_))
        digest = _digest(df) + ":" + json.dumps(funnel, sort_keys=True)
        return digest, failed, f1


WORKLOADS = {w.name: w for w in (CrawlWarc, CurateFunnel)}


def host_context(procs: int) -> dict:
    """The host-window probes of bench.py (tools/scaling_bench.py), taken
    before the JVM starts so the pool forks a thread-free process."""
    from scaling_bench import copy_bandwidth, cpu_scaling

    return {
        "nproc": procs,
        "host_membw_gbps": copy_bandwidth(seconds=0.5) / 1e9,
        "host_cpu_scaling": cpu_scaling(procs),
    }


class Bench:
    """One invocation: a Spark session, its workload and the measurements."""

    def __init__(self, wl: Workload, procs: int, conf: dict[str, str]) -> None:
        self.wl = wl
        self.procs = procs
        self.conf = conf
        self.spark = None
        self.jvm = 0
        self.out_root = os.path.join(WORK, "work", wl.name)

    def set_up(self) -> float:
        """Session start, package shipping and model loads; seconds."""
        from wikidataquality_spark.deploy import ensure_shipped
        from wikidataquality_spark.session import get_spark

        import probes

        t0 = time.perf_counter()
        self.spark = get_spark(cpus=self.procs, app_name="perfbench", extra_conf=self.conf)
        ensure_shipped(self.spark)
        self.wl.load_models()
        self.jvm = probes.jvm_pid(self.spark)
        return time.perf_counter() - t0

    def warm_up(self, warm: Workload) -> float:
        """The untimed first production call, on the small input `warm` of
        the same shape (Python worker start, worker-side model loads, query
        compilation, JIT); seconds."""
        t0 = time.perf_counter()
        out = self._fresh("warmup")
        with contextlib.redirect_stdout(sys.stderr):
            warm.call(out)
        self._settle()
        return time.perf_counter() - t0

    def _fresh(self, name: str) -> str:
        path = os.path.join(self.out_root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _settle(self) -> None:
        # calls are timed independently: drop persisted stages, full GC
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def production(self, k: int) -> dict:
        """One timed production call plus its checks (untimed)."""
        import probes

        out = self._fresh("call")
        probes.reset_peak_rss([self.jvm] + probes.descendants(self.jvm))
        probes.set_group(self.spark, f"call-{k}")
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(sys.stderr):
                self.wl.call(out)
        except Exception:
            traceback.print_exc()
            return {"ok": False}
        finally:
            wall = time.perf_counter() - t0
            probes.set_group(self.spark, None)
        rec = {
            "ok": True,
            "group": f"call-{k}",
            "wall": wall,
            "peak_rss_mb": probes.peak_rss_mb([self.jvm] + probes.descendants(self.jvm)),
        }
        self._settle()
        return self._checked(rec, out)

    def traced(self, k: int, untraced_wall: float) -> dict:
        import tracing

        out = self._fresh("trace")
        tr = tracing.Tracer(self.spark, self.jvm, f"trace-{k}")
        t0 = time.perf_counter()
        try:
            self.wl.trace(tr, out)
        except Exception:
            traceback.print_exc()
            return {"ok": False}
        wall = time.perf_counter() - t0
        rec = {"ok": True, "metrics": tr.metrics(untraced_wall, wall)}
        tr.release()
        self._settle()
        return self._checked(rec, out)

    def _checked(self, rec: dict, out: str) -> dict:
        digest, failed, f1 = self.wl.check(out)
        if f1 < F1_FLOOR[self.wl.name]:
            failed.append(f"drop_f1 {f1:.4f} below {F1_FLOOR[self.wl.name]}")
        for msg in failed:
            print(f"check failed: {msg}", file=sys.stderr)
        rec.update(digest=digest, f1=f1, ok=not failed)
        return rec

    def loop(self, seconds: float, step) -> list[dict]:
        recs: list[dict] = []
        end = time.perf_counter() + seconds
        while not recs or time.perf_counter() < end:
            recs.append(step(len(recs)))
        return recs

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _consistent(recs: list[dict]) -> int:
    """Mark calls whose digest differs from the first good call's as failed;
    returns the number of failed calls."""
    ok = [r for r in recs if r["ok"]]
    for r in ok[1:]:
        if r["digest"] != ok[0]["digest"]:
            print("check failed: output digest differs between calls", file=sys.stderr)
            r["ok"] = False
    return sum(not r["ok"] for r in recs)


def end_to_end(bench: Bench, seconds: float, setups: list[float], context: dict) -> tuple[list[dict], dict]:
    import probes

    calls = bench.loop(seconds, bench.production)
    tm = probes.group_task_metrics(bench.spark, [r["group"] for r in calls if r["ok"]])
    for _ in range(SETUPS - 1):
        bench.spark.stop()
        setups.append(bench.set_up())
    _consistent(calls)
    context["calls"] = [{k: r.get(k) for k in ("ok", "wall", "peak_rss_mb", "f1")} for r in calls]
    context["setups_s"] = setups
    good = [r for r in calls if r["ok"]]
    if not good:
        return calls, dict.fromkeys(dict(END_TO_END), 0.0)
    n = bench.wl.n_input
    return calls, {
        "docs_per_s": n / statistics.median(r["wall"] for r in good),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in good),
        "shuffle_bytes_per_doc": statistics.median(tm[r["group"]]["shuffle_write_bytes"] for r in good) / n,
        "drop_f1": good[0]["f1"],
    }


def per_layer(bench: Bench, seconds: float, context: dict) -> tuple[list[dict], dict]:
    import gen
    import tracing

    calls = bench.loop(seconds / 2, bench.production)
    walls = [r["wall"] for r in calls if r["ok"]]
    untraced = statistics.median(walls) if walls else float("inf")
    traced = bench.loop(seconds / 2, lambda k: bench.traced(k, untraced))
    _consistent(calls + traced)
    context["untraced_wall_s"] = untraced
    good = [r for r in traced if r["ok"]]
    if not good or not walls:
        return calls + traced, dict.fromkeys(dict(tracing.per_layer_metrics()), 0.0)
    values = {k: statistics.median(r["metrics"][k] for r in good) for k in good[0]["metrics"]}
    values["io.warc.useful_frac"] = 0.0
    if bench.wl.name == "crawl-warc":
        from wikidataquality_spark.io.warc import read_warc

        parsed = read_warc(bench.spark, os.path.join(bench.wl.input_dir, "warc")).count()
        values["io.warc.rows_in"] = parsed
        values["io.warc.useful_frac"] = values["io.warc.rows_out"] / parsed
    values.update(tracing.enrich_replay(gen.sample_html(bench.wl.input_dir, tracing.REPLAY_DOCS)))
    return calls + traced, values


def run(workload: str, seed: int, seconds: float, trace_on: bool, n_docs: int | None) -> dict:
    conf = _pin_scratch()
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.append(p)
    # the repository itself: a checkout without it fails here, before any output
    import curate_corpus  # noqa: F401
    import run_pipeline  # noqa: F401

    import gen
    import tracing

    imports_s = _process_age_s()
    procs = len(os.sched_getaffinity(0))
    context = {"workload": workload, "seed": seed, "trace": int(trace_on), **host_context(procs)}
    t0 = time.perf_counter()
    n = n_docs or gen.DEFAULT_DOCS[workload]
    cache = os.path.join(WORK, "cache")
    wl = WORKLOADS[workload](gen.ensure_input(cache, workload, n, seed, procs))
    warm = WORKLOADS[workload](gen.ensure_input(cache, workload, min(n, WARMUP_DOCS[workload]), seed, procs))
    context["input_prep_s"] = time.perf_counter() - t0
    context["input"] = wl.props

    bench = Bench(wl, procs, conf)
    setups = [imports_s + bench.set_up()]
    context["warmup_s"] = bench.warm_up(warm)
    context["spark_conf"] = dict(sorted(bench.spark.sparkContext.getConf().getAll()))
    if trace_on:
        recs, values = per_layer(bench, seconds, context)
        units = dict(tracing.per_layer_metrics())
    else:
        recs, values = end_to_end(bench, seconds, setups, context)
        units = dict(END_TO_END)
    bench.close()

    failed = sum(not r["ok"] for r in recs)
    result = {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "runs", f"{stamp}-{workload}-s{seed}-t{int(trace_on)}.json"), "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1)
    print(json.dumps({"context": context}))
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measured time per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size (default: the benchmark's; smaller only for smoke tests)")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _adopt_orphans()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.docs)
    finally:
        _stop_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
