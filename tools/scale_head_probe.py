"""Scaling evidence for the bench cost head at a volume where data
dominates (VERDICT r11 next-round #6/#7).

At sf0.1 the head queries are fixed-cost-bound (micro-batch triggers,
state-store commits, per-job scheduling), so the driver's 32-vs-8-core
block cannot show parallel-section scaling. This probe builds a xN
replica lake (~sf0.{N}) and times the head queries there, so the
32-core/8-core ratio measures the parallel sections — and, with
--shj, A/Bs ``spark.sql.join.preferSortMergeJoin=false`` (guide §3.1)
at a volume where join strategy matters.

Replication keeps per-query growth LINEAR (a scaling probe, not the
adversarial clique shape of sf1_probe_dedup):

- documents: doc_id shifted per replica; every TOKEN salted with the
  replica tag (``regexp_replace (\\S+) -> $1_rK``), so no shingle is
  shared across replicas — near-dup/set-similarity pair counts grow
  xN, not xN².
- events: event_id AND user_id shifted per replica — the interval
  self-join's per-user pair count grows xN, not xN².
- part/customer/supplier: keys shifted, name columns perturbed
  (the sf1_probe_scale recipe), so the posting vocabulary grows.
- region/nation/orders/lineitem/embeddings: copied verbatim.

Usage:
  python tools/scale_head_probe.py --build [--replicas N]
  SPARK_GRAFT_CPUS=32 python tools/scale_head_probe.py --run --out X.json
  SPARK_GRAFT_CPUS=8  python tools/scale_head_probe.py --run --out Y.json
  SPARK_GRAFT_CPUS=32 python tools/scale_head_probe.py --run --shj --out Z.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LAKE = "/tmp/majs_scale_head_lake"

HEAD_QUERIES = [
    ("set_similarity_join", 2),
    ("containment_join", 2),
    ("duplicate_span_stats", 2),
    ("near_dup_candidates", 2),
    ("dedup_clusters", 2),
    ("curation_decision_log", 2),
    ("logreg_quality_train", 2),
    ("mjs_search_batch_hetero", 2),
    ("stream_near_dup_ingest", 1),
    ("stream_stream_left_outer", 1),
    ("python_stream_source_scan", 1),
    ("mjs_cli_floored_lifecycle", 1),
]


def build(replicas: int) -> None:
    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.session import get_spark
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    spark = get_spark("scale-head-build")
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.isdir(LAKE):
        shutil.rmtree(LAKE)
    os.makedirs(LAKE)
    sf_dir = "/root/testdata/sf0.1"

    t0 = time.monotonic()
    for name in ("region", "nation", "orders", "lineitem", "embeddings"):
        load_table(spark, name, sf_dir).write.parquet(f"{LAKE}/{name}.parquet")

    def rep_union(name, make):
        base = load_table(spark, name, sf_dir)
        reps = [make(base, i) for i in range(replicas)]
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.parquet(f"{LAKE}/{name}.parquet")

    rep_union(
        "documents",
        lambda b, i: b.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_001))
        .withColumn(
            "text",
            F.col("text")
            if i == 0
            else F.regexp_replace(F.col("text"), r"(\S+)", rf"$1_r{i}"),
        ),
    )
    rep_union(
        "events",
        lambda b, i: b.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_001))
        .withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_001)),
    )
    for name, key, perturb in (
        ("part", "p_partkey", "p_name"),
        ("customer", "c_custkey", "c_name"),
        ("supplier", "s_suppkey", "s_name"),
    ):
        rep_union(
            name,
            lambda b, i, key=key, perturb=perturb: (
                b.withColumn(key, F.col(key) + F.lit(i * 10_000_000)).withColumn(
                    perturb,
                    F.col(perturb)
                    if i == 0
                    else F.concat(F.col(perturb), F.lit(f" r{i}")),
                )
            ),
        )
    print(f"lake built x{replicas} in {time.monotonic() - t0:.1f}s at {LAKE}")


def run(shj: bool, out_path: str) -> None:
    from multi_attribute_join_search_with_mapreduce_spark.session import get_spark

    extra = {}
    if shj:
        extra["spark.sql.join.preferSortMergeJoin"] = "false"
    spark = get_spark("scale-head-run", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        cached_posting_index,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    qs = e.queries()
    t0 = time.perf_counter()
    cached_posting_index(spark, LAKE).count()
    load_table(spark, "events", LAKE).count()
    spark.range(0, 32, 1, 32).mapInPandas(lambda it: it, "id long").count()
    warm = time.perf_counter() - t0

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    results = {
        "lake": LAKE,
        "cpus": int(cpus),
        "prefer_smj": not shj,
        "warmup_s": round(warm, 2),
        "queries": {},
    }
    for name, reps in HEAD_QUERIES:
        best, rows = float("inf"), 0
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = qs[name](spark, LAKE).count()
            best = min(best, time.perf_counter() - t0)
        results["queries"][name] = {"s": round(best, 3), "rows": rows}
        print(f"  {name}: {best:.2f}s ({rows} rows)", flush=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out_path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--replicas", type=int, default=5)
    ap.add_argument("--shj", action="store_true")
    ap.add_argument("--out", default="/tmp/scale_head.json")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of HEAD_QUERIES to run",
    )
    args = ap.parse_args()
    if args.queries:
        want = {q.strip() for q in args.queries.split(",")}
        unknown = sorted(want - {n for n, _ in HEAD_QUERIES})
        if unknown:
            ap.error(f"--queries names not in HEAD_QUERIES: {', '.join(unknown)}")
        HEAD_QUERIES[:] = [(n, r) for n, r in HEAD_QUERIES if n in want]
    if args.build:
        build(args.replicas)
    if args.run:
        run(args.shj, args.out)


if __name__ == "__main__":
    main()
