"""Benchmark self-test at tiny size.

For each workload: an untraced run must pass its checks and print every
end-to-end metric; a traced run must print every per-layer metric; a
run whose published artifact or store is damaged before each check must
report failed operations instead of passing.  Finally the benchmark,
copied alone into an empty directory, must exit non-zero without a
result line.

Run from the root of a checkout::

    python3 perfbench/selftest.py

Takes about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--size", "tiny"]
        code, res = _run(ROOT, *base, "--trace", "0")
        if code or not res or not res["correct"] or res["failed"]:
            problems.append(f"{w}: untraced run failed: {code} {res}")
        elif set(res["metrics"]) != e2e or not all(
            m["value"] > 0 for m in res["metrics"].values()
        ):
            problems.append(f"{w}: end-to-end metrics {res['metrics']}")
        code, res = _run(ROOT, *base, "--trace", "1")
        if code or not res or not res["correct"]:
            problems.append(f"{w}: traced run failed: {code} {res}")
        elif set(res["metrics"]) != layers:
            problems.append(
                f"{w}: per-layer names differ: {sorted(set(res['metrics']) ^ layers)}"
            )
        code, res = _run(ROOT, *base, "--trace", "0", "--corrupt")
        if code or not res or res["correct"] or not res["failed"]:
            problems.append(f"{w}: damaged output was not caught: {code} {res}")
        print(f"{w}: checked", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, res = _run(bare, "--workload", spec["workloads"][0]["name"],
                         "--seed", "1", "--seconds", "1", "--trace", "0")
        if code == 0 or res is not None:
            problems.append(f"bare directory: exit {code}, result {res}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("SELFTEST OK" if not problems else "SELFTEST FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
