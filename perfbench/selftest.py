"""Self-test of the benchmark, at its table scale (SF) with a ~10 s
stream.

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json, that an untraced and a
traced run each print every listed metric with its unit and a finite
value and pass the output check; that the same seed gives the same
query order and the same inputs, and another seed another order; and
that the runner fails, printing no result, in a directory that holds
only BENCHMARK.json and the benchmark. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
from workloads import BATCH, SF, WARMUP_S, pass_order  # noqa: E402

SEED = 7
SECONDS = 10 - WARMUP_S


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", str(SECONDS), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={result.get('correct')} failed={result.get('failed')}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    if list(metrics) != [m["name"] for m in wanted]:
        errors.append(f"{where}: metric names differ from BENCHMARK.json")
    for m in wanted:
        got = metrics.get(m["name"], {})
        if got.get("unit") != m["unit"] or not math.isfinite(got.get("value", math.nan)):
            errors.append(f"{where}: {m['name']} = {got}")
    return errors


def check_seeds() -> list[str]:
    errors = []
    for workload in BATCH:
        if pass_order(workload, SEED, 1) != pass_order(workload, SEED, 1):
            errors.append(f"{workload}: same seed, different query order")
        if all(pass_order(workload, SEED, p) == pass_order(workload, SEED + 1, p) for p in range(3)):
            errors.append(f"{workload}: another seed, same query orders")
    scratch = os.path.join(HERE, "_runs", "selftest-seeds")
    try:
        for d in ("a", "b"):
            datagen.make_tables(os.path.join(scratch, d), SEED, SF)
        for name in os.listdir(os.path.join(scratch, "a")):
            a, b = (pq.read_table(os.path.join(scratch, d, name)) for d in ("a", "b"))
            if not a.equals(b):
                errors.append(f"same seed, different {name}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return errors


def check_bare_dir(workload: str) -> list[str]:
    """Only BENCHMARK.json and the benchmark's files: the runner must fail."""
    bare = os.path.join(HERE, "_runs", "selftest-bare")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("_runs", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(bare, workload, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    errors = check_seeds()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_result(spec, w["name"], trace)
    errors += check_bare_dir(spec["workloads"][0]["name"])
    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
