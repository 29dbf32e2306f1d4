"""Smoke test of the benchmark on a tiny corpus (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the printed metrics are exactly the ones BENCHMARK.json
declares, that a deliberately corrupted output trips the correctness check,
and that the benchmark fails without printing a result when the repository
is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

TINY_DOCS = 300
SEED = 2

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--docs", str(TINY_DOCS)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_declared_metrics_match_the_code():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == tracing.per_layer_metrics()
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_tiny_run_prints_the_declared_metrics(workload, trace):
    p = _bench(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


def _corrupt(out: str, workload: str) -> None:
    """Flip one keep decision (validation) or drop one curated document."""
    sub = "validated" if workload == "crawl-warc" else "curated"
    for root, _, files in sorted(os.walk(os.path.join(out, sub))):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                table = pq.read_table(path)
                if table.num_rows:
                    if workload == "crawl-warc":
                        i = table.schema.get_field_index("keep")
                        keep = table.column(i).to_pylist()
                        keep[0] = not keep[0]
                        table = table.set_column(i, "keep", pa.array(keep))
                    else:
                        table = table.slice(1)
                    pq.write_table(table, path)
                    return
    raise AssertionError("no output rows to corrupt")


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_corrupted_output_trips_the_check(workload, tmp_path):
    cache = os.path.join(run.WORK, "cache")
    wl = run.WORKLOADS[workload](gen.ensure_input(cache, workload, TINY_DOCS, SEED, 2))
    out = os.path.join(run.WORK, "work", workload, "call")
    if not os.path.isdir(out):
        pytest.skip("needs the output a tiny run leaves behind")
    digest, failed, _ = wl.check(out)
    assert not failed
    bad = str(tmp_path / "call")
    shutil.copytree(out, bad)
    _corrupt(bad, workload)
    bad_digest, bad_failed, _ = wl.check(bad)
    recs = [{"ok": True, "digest": digest}, {"ok": not bad_failed, "digest": bad_digest}]
    assert run._consistent(recs) == 1


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("crawl-warc", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
