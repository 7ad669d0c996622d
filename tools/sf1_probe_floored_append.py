"""×10 floored-index maintenance probe: append vs full rebuild.

The r9 floored store (`write_floored_index` + `append_floored_index`)
claims append cost O(new postings + the touched keys' residual rows) — i.e.
landing one table into an already-floored lake should cost a small
fraction of re-flooring the whole lake. Measured here at ×10 documents
volume (the same lake as `tools/sf1_probe_widekey.py`):

1. full floored rebuild wall (write_floored_index over ALL wide-lake
   tables) — the baseline a floor-keeping lake would otherwise pay per
   landing;
2. maintenance wall: write_floored_index WITHOUT documents, then
   append_floored_index(documents) — the append is the number that
   matters (the initial write is paid once);
3. equality check: maintained index == full floored rebuild (row-set);
4. touched-bucket fraction: the buckets the new keys hash to (the
   buckets the next compaction rewrites; a non-compacting append
   rewrites none);
5. ``residual_files``: parquet files in the maintained store's residual
   half after the append, bucket generations plus deltas (one per
   bucket from the build, plus the append's one delta file).

Working stores live under the process's scratch directory
(``scratch.scratch_dir``, under ``$TMPDIR``) and are removed at exit.

Usage: python tools/sf1_probe_floored_append.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

REPLICAS = 10
FLOOR = 2
BUCKETS = 32


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "sf1_probe_floored_append.json")
    )

    from multi_attribute_join_search_with_mapreduce_spark.index import (
        WIDE_LAKE_TABLES,
        append_floored_index,
        build_posting_index,
        write_floored_index,
    )
    from multi_attribute_join_search_with_mapreduce_spark.session import get_spark
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    spark = get_spark("floored-append-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {"replicas": REPLICAS, "floor": FLOOR, "buckets": BUCKETS}

    # ×10 documents lake (same construction as sf1_probe_widekey:
    # replica text perturbed so singleton text keys stay singletons)
    from multi_attribute_join_search_with_mapreduce_spark.scratch import scratch_dir

    work = scratch_dir("majs_floored_probe_")
    lake = os.path.join(work, "lake")
    os.makedirs(lake)
    for name in ("region", "nation", "customer", "supplier", "part", "events",
                 "embeddings"):
        load_table(spark, name, sf_dir).write.parquet(f"{lake}/{name}.parquet")
    base_docs = load_table(spark, "documents", sf_dir)
    reps = []
    for i in range(REPLICAS):
        r = base_docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if i > 0:
            r = r.withColumn("text", F.concat(F.col("text"), F.lit(f" r{i}")))
        reps.append(r)
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    big.write.parquet(f"{lake}/documents.parquet")

    docs_specs = tuple(s for s in WIDE_LAKE_TABLES if s.name == "documents")
    rest_specs = tuple(s for s in WIDE_LAKE_TABLES if s.name != "documents")

    # 1. full floored rebuild (what a landing would cost without the store)
    full_dir = os.path.join(work, "full")
    t0 = time.monotonic()
    write_floored_index(spark, lake, full_dir, WIDE_LAKE_TABLES, FLOOR, BUCKETS)
    results["full_rebuild_s"] = round(time.monotonic() - t0, 2)

    # 2. maintenance: initial store without documents, then append them
    store = os.path.join(work, "store")
    t0 = time.monotonic()
    write_floored_index(spark, lake, store, rest_specs, FLOOR, BUCKETS)
    results["initial_write_s"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    append_floored_index(spark, lake, store, docs_specs, FLOOR, BUCKETS)
    results["append_documents_s"] = round(time.monotonic() - t0, 2)
    results["append_vs_rebuild_ratio"] = round(
        results["append_documents_s"] / results["full_rebuild_s"], 2
    )

    # 3. exactness at volume
    from multi_attribute_join_search_with_mapreduce_spark.index import read_floored_index

    # compare the LOGICAL postings: the commit-version bookkeeping
    # column differs by construction (maintained store = cv 1 + 2,
    # rebuild = cv 1) and is not part of the store's contract
    got = read_floored_index(spark, store)
    want = read_floored_index(spark, full_dir)
    results["index_rows"] = got.count()
    results["mismatch_rows"] = (
        got.exceptAll(want).count() + want.exceptAll(got).count()
    )

    # 4. touched-bucket fraction (documents' keys dominate the ×10 lake,
    # so this probe is the worst case; the nation-append pytest pins the
    # pruned case)
    touched = (
        build_posting_index(spark, lake, docs_specs)
        .select(F.pmod(F.xxhash64("key"), F.lit(BUCKETS)).alias("kb"))
        .distinct()
        .count()
    )
    results["touched_buckets"] = touched
    results["touched_bucket_fraction"] = round(touched / BUCKETS, 2)
    results["residual_files"] = sum(
        1
        for half in ("residual", "delta")
        for _dirpath, _dirs, names in os.walk(f"{store}/{half}")
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )

    with open(out_json, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
