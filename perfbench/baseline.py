"""Measure the benchmark's baseline: ten seeds per workload, untraced,
with a traced run right after each of the first three to pair with it.

For each end-to-end metric it records every run's value, the median,
the quartiles (``statistics.quantiles(values, n=4)``) and the spread
(quartile distance ÷ median), and marks a spread that is not below a
third of the metric's bound.  Each traced run is paired with the
untraced run of the same seed just before it: the pair gives the
tracing overhead (traced ``step_s`` ÷ untraced ``step_s``) and the
traced run's span coverage (top-level span time ÷ timed wall time).
The per-layer baseline is the median of each metric over the traced
runs.  Writes ``perfbench/baseline.json``.

Run from the root of a checkout (about 30 minutes on 4 cores)::

    python3 perfbench/baseline.py
    python3 perfbench/baseline.py --out /tmp/b.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = list(range(101, 111))
#: Seeds whose untraced run is followed by a traced run of the same seed.
PAIRED = SEEDS[:3]


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run: its result line and its full record."""
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    record = next(ln for ln in lines if ln.startswith("perfbench ")).split("record=")[1]
    with open(os.path.join(ROOT, record), encoding="utf-8") as fh:
        return json.loads(lines[-1]), json.load(fh)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"seeds": SEEDS, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs, pairs, traced = [], [], []
        for s in SEEDS:
            res, rec = _run(w, s, spec["run_seconds"], 0)
            runs.append(res)
            if s in PAIRED:
                t_res, t_rec = _run(w, s, spec["run_seconds"], 1)
                traced.append(t_res)
                untraced_step = rec["metrics"]["step_s"]["value"]
                traced_step = t_rec["metrics"]["step_s"]["value"]
                pairs.append(
                    {
                        "seed": s,
                        "untraced_step_s": untraced_step,
                        "traced_step_s": traced_step,
                        "overhead_ratio": traced_step / untraced_step,
                        "span_coverage": t_res["metrics"]["tracing.span_coverage"]["value"],
                        "correct": t_res["correct"],
                    }
                )
        e2e = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(values, n=4)
            med = statistics.median(values)
            spread = (q3 - q1) / med
            e2e[name] = {
                "unit": runs[0]["metrics"][name]["unit"],
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": spread,
                "bound": bound,
                "values": values,
            }
            mark = "" if name == "setup_s" or spread < bound / 3 else "  over bound/3"
            print(f"{w:14s} {name:14s} median {med:10.4f}  spread {spread:.4f}{mark}")
        ratio = statistics.median(p["overhead_ratio"] for p in pairs)
        print(f"{w:14s} tracing overhead (median of {len(pairs)} pairs) {ratio:.4f}")
        out["workloads"][w] = {
            "end_to_end": e2e,
            "failed": sum(r["failed"] for r in runs + traced),
            "attempted": sum(r["attempted"] for r in runs + traced),
            "tracing_overhead": {"median_ratio": ratio, "pairs": pairs},
            "per_layer_seeds": PAIRED,
            "per_layer": {
                k: statistics.median(t["metrics"][k]["value"] for t in traced)
                for k in traced[0]["metrics"]
            },
        }
        out["environment"] = {
            k: rec[k]
            for k in ("git_commit", "nproc", "spark_graft_cpus", "pyspark", "python", "java")
        }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
