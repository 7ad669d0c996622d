"""Tests of the benchmark itself: seeded inputs, failure accounting and
the event-log parser.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run as bench  # noqa: E402


def _write_all(root: str, seed: int) -> dict[str, str]:
    gen.write_lake(f"{root}/lake", seed, 1)
    for k in range(3):
        gen.write_landing(f"{root}/land", seed, k)
        gen.write_corpus(f"{root}/docs_{k}", seed, k, 2)
    return gen.write_manifest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    assert a == b
    assert len(a) == 5 + 3 * 2 + 3
    with open(tmp_path / "a" / "manifest.json") as fh:
        assert json.load(fh) == a


def test_different_seed_changes_query_and_landing_tables(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 8)
    moved = [f for f in a if f.startswith(("land/", "docs_")) and a[f] != b[f]]
    assert sorted(moved) == sorted(f for f in a if f.startswith(("land/", "docs_")))


def test_wrong_score_and_exception_each_count_as_one_failed_operation():
    from workloads import _attempt, check

    want = ([(102, 14)], [(102, 0, 7), (102, 1, 7)])
    good = {"k": 1, "result": want, "error": None}
    wrong = {"k": 2, "result": ([(102, 13)], want[1]), "error": None}

    def boom():
        raise RuntimeError("engine failure")

    result, err = _attempt(boom)
    raised = {"k": 3, "result": result, "error": err}
    for rec in (good, wrong):
        check(rec, want)
    ops = [good, wrong, raised]
    errors = [r["error"] for r in ops if r["error"] is not None]
    assert len(errors) == 2 and "RuntimeError" in errors[1]
    res = {
        "setups": [1.0, 1.0, 1.0],
        "latency": [1.0 if r["error"] is None else math.inf for r in ops],
        "wall": 3.0,
        "errors": errors,
        "failed": len(errors),
        "searches": 1,
        "extra": {},
        "layers": {},
        "spans": [],
    }
    metrics, record = bench.summarize(res, trace=False)
    assert record["failed_ratio"] == pytest.approx(2 / 3)
    assert record["tail_s"] == math.inf  # a failed operation misses the tail
    assert metrics["p50_s"][0] == math.inf


def test_failed_append_leaves_its_table_out_of_the_expected_store(tmp_path):
    from types import SimpleNamespace

    import oracle
    from multi_attribute_join_search_with_mapreduce_spark import index as ix
    from workloads import MIN_KEY_FREQ, READ_ATTRS, _check_ingest, land_spec

    lake, land = str(tmp_path / "lake"), str(tmp_path / "land")
    gen.write_lake(lake, 2, 1)
    for k in range(3):
        gen.write_landing(land, 2, k)
    views = {s.name: f"{lake}/{s.name}.parquet" for s in ix.LAKE_TABLES}
    views.update({f"{p}_{k}": f"{land}/{p}_{k}.parquet" for p in ("land", "q") for k in range(3)})

    def landed(k: int, *specs_k: int) -> dict:
        specs = tuple(ix.LAKE_TABLES) + tuple(land_spec(j) for j in specs_k)
        want = oracle.search_expected(views, specs, MIN_KEY_FREQ, f"q_{k}", READ_ATTRS)
        return {"k": k, "append": {"dur": 1.0}, "read": {"dur": 1.0}, "result": want, "error": None}

    # the append of land_1 raised, so land_1 never reached the store
    failed = {"k": 1, "append": {"dur": 1.0}, "result": None, "error": "RuntimeError: append"}
    # seed 2: land_1 would move a key of q_2 across the floor
    assert landed(2, 0, 2)["result"] != landed(2, 0, 1, 2)["result"]
    fsck = {"pending_commit": None, "double_represented_keys": 0, "subfloor_in_index": 0,
            "overfloor_in_residual": 0, "duplicate_postings": 0}
    res = _check_ingest(SimpleNamespace(trace=False), landed(0, 0), [failed, landed(2, 0, 2)],
                        [1.0], 2.0, fsck, None, lake, land, [str(tmp_path / "store")])
    assert res["failed"] == 1 and res["errors"] == ["RuntimeError: append"]


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert bench.tail(xs) == (90.0, 90.0)
    assert bench.tail(xs[:5]) == (100.0, 5.0)


def test_event_log_parser_on_a_two_stage_group_by(tmp_path):
    from pyspark.sql import functions as F

    from workloads import Run

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    run = Run(str(tmp_path), seed=0, scale=1, trace=True)
    try:
        run.start_session()
        with run.tracer.span("probe") as probe:
            rows = (
                run.spark.range(1000, numPartitions=4)
                .groupBy((F.col("id") % 7).alias("k"))
                .count()
                .collect()
            )
        assert len(rows) == 7
    finally:
        run.shutdown()
    by_span, lost = run.attribution()
    got = by_span[probe["id"]]
    assert lost == 0
    # map stage job + result job (its map stage skipped); 4 map tasks
    # and one coalesced reduce task; one shuffle Exchange in the final plan
    assert (got["jobs"], got["stages"], got["tasks"]) == (2, 2, 5)
    assert got["shuffle_write_bytes"] > 0
    assert got["exchanges"] == 1
    assert 0 <= got["driver_gap_s"] <= got["dur_s"]


def test_benchmark_json_names_the_metrics_run_py_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "simjoin"]
