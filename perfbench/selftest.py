"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, on the smallest
inputs (``--size smoke``) and a short run, and checks that each run:
exits 0; prints every metric ``BENCHMARK.json`` names, with its unit and
nothing else; ran its correctness checks and had no op fail; left nothing
behind in the repository root.  Then checks that the benchmark, copied
without the engine next to it, fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 180


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "2", "--trace", str(trace), "--size", "smoke",
    ]  # fmt: skip
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)


def check_run(proc: subprocess.CompletedProcess, want: dict[str, str]) -> list[str]:
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics {got} != {want}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"correct={result['correct']} failed={result['failed']} {detail['errors']}")
    if detail["checks"] < 1:
        problems.append("no correctness check ran")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    before = set(os.listdir(ROOT))
    failures = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            problems = check_run(run(ROOT, w["name"], trace), want[trace])
            left = set(os.listdir(ROOT)) - before
            if left:
                problems.append(f"left behind: {sorted(left)}")
            failures += bool(problems)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else problems}", flush=True)

    bare = tempfile.mkdtemp(prefix=".perfbench_bare-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, bench["workloads"][0]["name"], 0)
        ok = proc.returncode != 0 and not proc.stdout.strip()
        failures += not ok
        print(f"without the engine: {'ok' if ok else f'exit {proc.returncode}, printed {proc.stdout!r}'}")
    finally:
        shutil.rmtree(bare)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
