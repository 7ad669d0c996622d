"""Join-search engine benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates its inputs from ``--seed``
under ``.perfbench_work/`` in the checkout, times calls into the engine
for ``--seconds``, checks every result against the engine's DuckDB
oracle SQL and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from Spark's event
log) with ``--trace 1``. The line before it is the full record: host,
set-up times, tail percentile, workload-specific metrics and errors.
Exits 1 if any result differs from the oracle, 2 if the engine cannot
be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "p50_s": "s", "ops_per_s": "1/s"}
# Per-layer metrics every workload reports (BENCHMARK.json "per_layer"):
# the Spark work charged to each timed operation's span, whichever
# layers ran in it.
PER_LAYER = {
    "session.start_s": "s",
    "op.jobs": "count",
    "op.stages": "count",
    "op.tasks": "count",
    "op.exchanges": "count",
    "op.driver_gap_s": "s",
    "op.executor_run_s": "s",
    "op.executor_cpu_s": "s",
    "op.shuffle_read_bytes": "bytes",
    "op.shuffle_write_bytes": "bytes",
    "op.spill_bytes": "bytes",
    "op.bytes_read": "bytes",
    "op.bytes_written": "bytes",
    "trace.p50_s": "s",
    "trace.unattributed_jobs": "count",
}
# Metrics of single layers, reported by the workload that loads the
# layer: printed and kept in the traced record. A layer that does not run
# on a workload reports nothing there, rather than a constant 0.
LAYER_ONLY = {
    "lake.load_s": "s",
    "index.build_s": "s",
    "index.append_s": "s",
    "index.postings_appended": "count",
    "index.read_s": "s",
    "index.bytes_written": "bytes",
    "index.write_amp": "ratio",
    "index.residual_buckets_touched": "count",
    "index.store_files": "count",
    "index.jobs": "count",
    "index.shuffle_write_bytes": "bytes",
    "index.executor_cpu_s": "s",
    "search.plan_s": "s",
    "search.exec_s": "s",
    "search.driver_gap_s": "s",
    "search.jobs": "count",
    "search.stages": "count",
    "search.tasks": "count",
    "search.exchanges": "count",
    "search.executor_run_s": "s",
    "search.executor_cpu_s": "s",
    "search.shuffle_read_bytes": "bytes",
    "search.shuffle_write_bytes": "bytes",
    "search.spill_bytes": "bytes",
    "search.bytes_read": "bytes",
    "search.rows_probed": "count",
    "search.rows_matched": "count",
    "search.match_yield": "ratio",
    "textops.ssj_s": "s",
    "textops.containment_s": "s",
    "textops.pairs_out": "count",
}
# Record-only end-to-end metrics: printed and kept in the record, not
# guarded by BENCHMARK.json because one of the workloads has no value
# for them or, for tail_s, too few samples (see README.md).
RECORD_ONLY = {
    "tail_s": "s",
    "searches_per_s": "1/s",
    "failed_ratio": "ratio",
    "read_p50_s": "s",
    "postings_per_s": "1/s",
    "store_bytes_per_posting": "bytes",
}
# Row-count factor of each workload's generated inputs: the ingest lake
# has SCALE x the base row counts, a simjoin corpus SCALE token-salted
# replicas of gen.DOCS_PER_REPLICA documents.
SCALE = {"ingest": 3, "simjoin": 10}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with >= 10 samples
    beyond it; with 10 samples or fewer no percentile qualifies and the
    maximum (percentile 100) is reported."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    pct = math.floor(100 * (n - 10) / n)
    return float(pct), xs[math.ceil(pct / 100 * n) - 1]


def summarize(res: dict, trace: bool) -> tuple[dict, dict]:
    """(metrics for the result line, full record) of one run. The timed
    loop always completes at least one operation."""
    lat = res["latency"]
    n = len(lat)
    p50 = statistics.median(lat)
    pct, tail_v = tail(lat)
    e2e = {
        "setup_s": statistics.median(res["setups"]),
        "p50_s": p50,
        "ops_per_s": (n - res["failed"]) / res["wall"],
    }
    record = dict(e2e)
    record.update({
        "tail_s": tail_v,
        "tail_percentile": pct,
        "samples": n,
        "searches_per_s": res["searches"] / res["wall"],
        "failed_ratio": res["failed"] / n,
        "setups_s": res["setups"],
        "latencies_s": lat,
        "phases_s": _phases(res["spans"]),
    })
    record.update(res["extra"])
    if not trace:
        return {k: (v, END_TO_END[k]) for k, v in e2e.items()}, record
    layers = dict(res["layers"], **{"trace.p50_s": p50})
    record.update(layers)
    return {k: (layers[k], PER_LAYER[k]) for k in PER_LAYER}, record


def _phases(spans: list[dict]) -> dict[str, float]:
    """Seconds per top-level span name: where a run's wall time went."""
    out: dict[str, float] = {}
    for sp in spans:
        if sp["parent"] is None:
            out[sp["name"]] = out.get(sp["name"], 0.0) + sp["dur"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="run-", dir=_mkdir(os.path.join(ROOT, ".perfbench_work")))
    tmp = _mkdir(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": _mkdir(os.path.join(work, "local")),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # The engine's default 12 GB heap is sized for a dedicated
        # host; these inputs are under 20 MB and the benchmark shares
        # its host, so it caps the JVM at 2 GB.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            import workloads
        except ImportError as exc:
            print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        steal0, total0 = cpu_times()
        scale = SCALE[args.workload]
        run = workloads.Run(work, args.seed, scale, bool(args.trace))
        try:
            res = workloads.WORKLOADS[args.workload](run, args.seconds)
        finally:
            run.shutdown()
        steal1, total1 = cpu_times()
        res["spans"] = run.tracer.spans
        metrics, record = summarize(res, bool(args.trace))
        record["host"] = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            **run.host,
            "python_version": platform.python_version(),
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "seed": args.seed,
            "scale": scale,
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
        }
        record["errors"] = res["errors"]
        if args.trace:
            run.write_spans(os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
        shown = dict(metrics)
        more = LAYER_ONLY if args.trace else RECORD_ONLY
        shown.update({k: (record[k], u) for k, u in more.items() if k in record})
        for name, (value, unit) in shown.items():
            print(f"{args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
        print(json.dumps({"record": record}, default=str))
        print(json.dumps({
            "correct": res["correct"],
            "attempted": len(res["latency"]),
            "failed": res["failed"],
            # a failed operation makes p50_s infinite, which JSON cannot hold
            "metrics": {
                k: {"value": v if math.isfinite(v) else None, "unit": u}
                for k, (v, u) in metrics.items()
            },
        }))
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
