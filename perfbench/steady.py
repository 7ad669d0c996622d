"""Steadiness check: run the benchmark on seeds 1-10 for every workload in
BENCHMARK.json and report each end-to-end metric's spread (interquartile
range over median, as ``statistics.quantiles(values, n=4)`` gives the
quartiles) and the tracing overhead (traced ``trace.p50_s`` median over
untraced ``p50_s`` median on the same seeds).

    python3 perfbench/steady.py --traced 3 --out perfbench/steadiness.json

Each call appends one set of runs to ``--out`` and recomputes the file's
``medians``: each metric's median per set, so two sets of the same code
can be compared. Run from the root of a checkout; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(1, 11)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
    except (IndexError, ValueError, KeyError):
        out, record = {}, {"stderr_tail": proc.stderr[-2000:]}
    return {
        "seed": seed,
        "trace": trace,
        "exit": proc.returncode,
        "wall_s": time.perf_counter() - t0,
        "correct": out.get("correct"),
        "attempted": out.get("attempted"),
        "failed": out.get("failed"),
        "metrics": {k: v["value"] for k, v in out.get("metrics", {}).items()},
        "record": record,
    }


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(values)}


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {"run_seconds": bench["run_seconds"], "sets": [], "medians": {}}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            report = json.load(fh)
    this = {"workloads": {}}
    report["sets"].append(this)
    for w in (w["name"] for w in bench["workloads"]):
        runs = [one_run(w, s, bench["run_seconds"], 0) for s in SEEDS]
        traced = [one_run(w, s, bench["run_seconds"], 1) for s in list(SEEDS)[: args.traced]]
        good = [r for r in runs if r["exit"] == 0 and r["metrics"]]
        entry = {
            "runs": runs + traced,
            "failed_runs": [r["seed"] for r in runs + traced if r["exit"] != 0],
            "spreads": {
                m["name"]: spread([r["metrics"][m["name"]] for r in good])
                for m in bench["end_to_end"]
            },
            "max_run_wall_s": max(r["wall_s"] for r in runs + traced),
            "mean_run_wall_s": statistics.mean(r["wall_s"] for r in runs),
        }
        if traced:
            # same seeds on both sides, so inputs do not differ
            seeds_t = {r["seed"] for r in traced}
            p50 = statistics.median(r["metrics"]["p50_s"] for r in good if r["seed"] in seeds_t)
            tp50 = statistics.median(r["metrics"]["trace.p50_s"] for r in traced)
            entry["tracing_overhead"] = {"p50_s": p50, "trace_p50_s": tp50, "ratio": tp50 / p50}
        this["workloads"][w] = entry
        print(w, json.dumps(entry["spreads"]), entry.get("tracing_overhead"), file=sys.stderr)
        report["medians"] = {
            name: {
                m: [s["workloads"][name]["spreads"][m]["median"]
                    for s in report["sets"] if name in s["workloads"]]
                for m in entry["spreads"]
            }
            for name in this["workloads"]
        }
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
