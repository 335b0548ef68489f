"""The benchmark's own test: every workload of BENCHMARK.json, untraced
and traced, on tiny inputs (``run.py --smoke``), checking that the last
line of output follows the result contract and that every named metric
prints with its unit.  It also checks that the benchmark refuses to run
(non-zero exit, no result) in a directory holding only BENCHMARK.json
and the benchmark's own files.

    python3 perfbench/smoke.py

Exits non-zero on the first failed check.  Takes two to four minutes on
a 4-core machine, most of it Spark session start-up.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "2", "--trace", str(trace),
           "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _check_result(proc, expected: dict, label: str) -> None:
    assert proc.returncode == 0, f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    last = proc.stdout.strip().splitlines()[-1]
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    assert res["correct"] is True and res["failed"] == 0, f"{label}: {last}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label
    got = res["metrics"]
    assert set(got) == set(expected), (
        f"{label}: metrics {sorted(set(got) ^ set(expected))} differ")
    for name, m in got.items():
        assert set(m) == {"value", "unit"}, f"{label}: {name}"
        assert m["unit"] == expected[name], f"{label}: {name} unit {m['unit']}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (
            f"{label}: {name} = {m['value']!r}")


def _check_bare_directory(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_run", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, spec["workloads"][0]["name"], 0)
        assert proc.returncode != 0, "bare directory: exit 0"
        assert '"metrics"' not in proc.stdout, "bare directory printed a result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t0 = time.time()
    _check_bare_directory(spec)
    print("ok  bare directory refuses to run", flush=True)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} trace={trace}"
            expected = {m["name"]: m["unit"] for m in spec[key]}
            _check_result(_run(ROOT, w["name"], trace), expected, label)
            print(f"ok  {label}: {len(expected)} metrics", flush=True)
    print(f"smoke passed in {time.time() - t0:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
