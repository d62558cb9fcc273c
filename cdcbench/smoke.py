"""Smoke test of the benchmark itself.

Runs every workload once untraced and once traced with small inputs
(``--smoke``: sf0.001 tables, a 3k-row drain, a 20 changes/s tail) and a
short duration, and asserts that

- the last line has exactly the result keys, every end-to-end metric
  (untraced) or per-layer metric (traced) of BENCHMARK.json with its
  unit, and passed correctness checks;
- the traced run wrote its spans;
- the benchmark fails, printing no result, in a directory that holds
  only BENCHMARK.json and the benchmark's own files.

Usage, from anywhere: ``python3 cdcbench/smoke.py`` (about eight minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "cdcbench", "run.py")
WORKLOADS = ("tail_steady", "snapshot_drain", "batch_queries")


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, capture_output=True, text=True, timeout=300, check=False
    )


def check_workload(spec: dict, workload: str, trace: int) -> None:
    # from another working directory than the repository root
    proc = _run(
        [RUN, "--workload", workload, "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke"],
        os.path.dirname(RUN),
    )
    assert proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, (workload, trace, detail)
    assert result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (workload, trace, sorted(set(got) ^ set(want)))
    if trace:
        with open(detail["trace_file"], encoding="utf-8") as fh:
            trace_doc = json.load(fh)
        assert trace_doc["spans"], f"{workload}: the traced run wrote no spans"
        assert all({"id", "parent", "name", "start", "end"} <= set(s) for s in trace_doc["spans"])
        os.remove(detail["trace_file"])
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    print(f"ok  {workload} trace={trace} attempted={result['attempted']}", flush=True)


def check_fails_without_engine() -> None:
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            os.path.join(ROOT, "cdcbench"), os.path.join(bare, "cdcbench"), ignore=shutil.ignore_patterns("__pycache__")
        )
        proc = _run(["cdcbench/run.py", "--workload", "batch_queries", "--seed", "1", "--seconds", "1"], bare)
        assert proc.returncode != 0, "the benchmark succeeded without the engine"
        assert '"metrics"' not in proc.stdout, proc.stdout
    print("ok  fails without the engine", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    check_fails_without_engine()
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_workload(spec, workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
