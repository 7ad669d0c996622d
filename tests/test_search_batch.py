"""Batch-search properties: per-qid equality with the single-query
search, and plan-size invariance in the batch width (the point of the
operator — index-side work is paid once, not B times). Exact oracle
matching lives in tests/test_queries_differential.py."""

from __future__ import annotations

import contextlib
import io

from multi_attribute_join_search_with_mapreduce_spark.index import cached_posting_index
from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
    multi_attribute_join_search,
    multi_attribute_join_search_batch,
)
from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

ATTRS2 = ["p_brand", "p_type"]
ATTRS3 = ["p_name", "p_brand", "p_type"]


def _batch(spark, sf_dir):
    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return postings, [
        ("part2", part, ATTRS2),
        ("part3", part, ATTRS3),
        ("nation1", nation, ["n_name"]),
    ]


def test_batch_equals_single_queries(spark, sf_dir):
    postings, batch = _batch(spark, sf_dir)
    tables, columns = multi_attribute_join_search_batch(postings, batch)
    got_t = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    got_c = {(r.qid, r.table, r.column, r.join_score) for r in columns.collect()}
    want_t, want_c = set(), set()
    for qid, query_df, attrs in batch:
        t, c = multi_attribute_join_search(postings, query_df, attrs)
        want_t |= {(qid, r.table, r.join_score) for r in t.collect()}
        want_c |= {(qid, r.table, r.column, r.join_score) for r in c.collect()}
    assert got_t == want_t
    assert got_c == want_c


def test_batch_top_n_equals_single_top_n(spark, sf_dir):
    """Seq's top-2 dialect applied batch-wide: per-qid equality with the
    single-query search at the same top_n — including the 3-attr query
    where the dialect diverges from the default."""
    postings, batch = _batch(spark, sf_dir)
    tables, _ = multi_attribute_join_search_batch(postings, batch, top_n=2)
    got = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    want = set()
    for qid, query_df, attrs in batch:
        t, _ = multi_attribute_join_search(postings, query_df, attrs, top_n=2)
        want |= {(qid, r.table, r.join_score) for r in t.collect()}
    assert got == want
    # the dialect must actually bite on the 3-attr member
    t_def, _ = multi_attribute_join_search(postings, batch[1][1], ATTRS3)
    def_rows = {("part3", r.table, r.join_score) for r in t_def.collect()}
    assert {g for g in got if g[0] == "part3"} != def_rows


def test_batch_mixed_dialects_equal_single_queries(spark, sf_dir):
    """VERDICT r8 task #7: per-entry top_n — one batch mixing a Seq
    top-2 caller with Par-default callers must equal the single-query
    searches at each entry's own dialect."""
    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    batch = [
        ("part2", part, ATTRS2),
        ("part3_seq", part, ATTRS3, 2),
        ("nation1", nation, ["n_name"]),
    ]
    tables, columns = multi_attribute_join_search_batch(postings, batch)
    got_t = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    got_c = {(r.qid, r.table, r.column, r.join_score) for r in columns.collect()}
    want_t, want_c = set(), set()
    for entry in batch:
        qid, query_df, attrs = entry[0], entry[1], entry[2]
        tn = entry[3] if len(entry) > 3 else None
        t, c = multi_attribute_join_search(postings, query_df, attrs, top_n=tn)
        want_t |= {(qid, r.table, r.join_score) for r in t.collect()}
        want_c |= {(qid, r.table, r.column, r.join_score) for r in c.collect()}
    assert got_t == want_t
    assert got_c == want_c
    # the per-entry dialect must actually bite on the 3-attr member
    t_def, _ = multi_attribute_join_search(postings, part, ATTRS3)
    def_rows = {("part3_seq", r.table, r.join_score) for r in t_def.collect()}
    assert {g for g in got_t if g[0] == "part3_seq"} != def_rows


def test_entry_top_n_overrides_batch_top_n(spark, sf_dir):
    """Precedence: entry top_n > batch-wide top_n."""
    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    tables, _ = multi_attribute_join_search_batch(
        postings, [("part3", part, ATTRS3, 3)], top_n=2
    )
    want, _ = multi_attribute_join_search(postings, part, ATTRS3, top_n=3)
    assert {(r.table, r.join_score) for r in tables.collect()} == {
        (r.table, r.join_score) for r in want.collect()
    }


def test_top_n_rejects_nonpositive(spark, sf_dir):
    import pytest

    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        join_search_sql,
    )

    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="top_n"):
            multi_attribute_join_search(postings, part, ATTRS2, top_n=bad)
        with pytest.raises(ValueError, match="top_n"):
            multi_attribute_join_search_batch(postings, [("q", part, ATTRS2)], top_n=bad)
        with pytest.raises(ValueError, match="top_n"):
            multi_attribute_join_search_batch(postings, [("q", part, ATTRS2, bad)])
        with pytest.raises(ValueError, match="top_n"):
            join_search_sql("SELECT 1", "part", ATTRS2, top_n=bad)


def test_batch_randomized_specs_equal_single_queries(spark, sf_dir):
    """Seeded randomized batches: random query tables, random attribute
    subsets (order-sensitive — MapKey construction depends on it), and
    random per-entry top_n (None = Par default) must each equal the
    single-query search at that entry's own dialect."""
    import random

    pools = {
        "part": ["p_name", "p_brand", "p_type"],
        "customer": ["c_name", "c_mktsegment"],
        "nation": ["n_name"],
        "supplier": ["s_name"],
    }
    postings = cached_posting_index(spark, sf_dir)
    dfs = {t: load_table(spark, t, sf_dir) for t in pools}
    for seed in range(3):
        rng = random.Random(seed)
        batch = []
        for i in range(3):
            tbl = rng.choice(list(pools))
            attrs = rng.sample(pools[tbl], rng.randint(1, len(pools[tbl])))
            top_n = rng.choice([None, 1, 2, 3])
            batch.append((f"q{i}", dfs[tbl], attrs, top_n))
        tables, _ = multi_attribute_join_search_batch(postings, batch)
        got = {(r.qid, r.table, r.join_score) for r in tables.collect()}
        want = set()
        for qid, df, attrs, top_n in batch:
            t, _ = multi_attribute_join_search(postings, df, attrs, top_n=top_n)
            want |= {(qid, r.table, r.join_score) for r in t.collect()}
        assert got == want, f"seed={seed} batch={[(b[0], b[2], b[3]) for b in batch]}"


def test_sql_surface_top_n_matches_dataframe(spark, sf_dir):
    """The SQL entry point's top_n hook computes the same Seq-dialect
    scores as the DataFrame API."""
    from multi_attribute_join_search_with_mapreduce_spark.plans.sql_surface import (
        join_search_sql_level,
    )

    postings = cached_posting_index(spark, sf_dir)
    part = load_table(spark, "part", sf_dir)
    t_df, _ = multi_attribute_join_search(postings, part, ATTRS3, top_n=2)
    t_sql = join_search_sql_level(spark, sf_dir, "part", ATTRS3, top_n=2)
    assert {(r.table, r.join_score) for r in t_df.collect()} == {
        (r.table, r.join_score) for r in t_sql.collect()
    }


def test_batch_floored_hashed_index_work_constant(spark, sf_dir):
    """The composed gate's scale claim (mjs_search_batch_floored_hashed):
    against a floored+hashed on-disk store the batch still pays index
    work ONCE — same index-file scan count and exactly one fact-sized
    (table,row) shuffle at B=8 as at B=1 — and the probe semi-join runs
    on the fixed-width key_h column."""
    import os
    import re

    from multi_attribute_join_search_with_mapreduce_spark.index import (
        WIDE_LAKE_TABLES,
        write_floored_index,
    )
    from multi_attribute_join_search_with_mapreduce_spark.scratch import scratch_dir

    from __spark_entry__ import _BATCH8

    base = os.path.join(scratch_dir("majs_fh_batch_"), "store")
    write_floored_index(
        spark, sf_dir, base, WIDE_LAKE_TABLES, min_key_freq=2, hashed_keys=True
    )
    postings = spark.read.parquet(f"{base}/index")
    batch8 = [
        (qid, load_table(spark, tbl, sf_dir), attrs) for qid, tbl, attrs in _BATCH8
    ]

    def index_work(b):
        tables, _ = multi_attribute_join_search_batch(postings, b)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            tables.explain("formatted")
        plan = buf.getvalue()
        fact_shuffles = len(re.findall(r"hashpartitioning\(table[^)]*row", plan))
        # scans of the STORE (query-table scans legitimately grow with
        # B): counted by the scan nodes' Location lines
        index_scans = plan.count("store/index")
        assert "key_h" in plan  # the probe rides the fixed-width hash
        return index_scans, fact_shuffles

    assert index_work(batch8) == index_work(batch8[:1])
    assert index_work(batch8)[1] == 1


def test_batch_index_work_constant_in_width(spark, sf_dir):
    """The operator's scale claim: index-side work — scans of the
    (persisted) posting index and the fact-sized (table,row) shuffle —
    does not grow with batch width. (Total exchange count DOES grow:
    each query table contributes its own kilobyte-sized dedup shuffle;
    that is query metadata, not index work.)"""
    import re

    postings, batch = _batch(spark, sf_dir)

    def index_work(width):
        tables, _ = multi_attribute_join_search_batch(postings, batch[:width])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            tables.explain("formatted")
        plan = buf.getvalue()
        fact_shuffles = len(re.findall(r"hashpartitioning\(table[^)]*row", plan))
        return plan.count("InMemoryTableScan"), fact_shuffles

    scans3, shuffles3 = index_work(3)
    scans1, shuffles1 = index_work(1)
    assert scans3 == scans1
    assert shuffles3 == shuffles1 == 1


def test_batch8_heterogeneous_index_work_constant(spark, sf_dir):
    """VERDICT r6 #8: the constant-index-work claim at B=8 over five
    distinct query tables (mixed 1/2/3-attr) — same index-scan count
    and exactly one fact-sized (table,row) shuffle as at B=1, and
    per-qid results equal to the single-query search."""
    import re

    from __spark_entry__ import _BATCH8

    postings = cached_posting_index(spark, sf_dir)
    batch8 = [
        (qid, load_table(spark, tbl, sf_dir), attrs) for qid, tbl, attrs in _BATCH8
    ]
    assert len(batch8) == 8
    assert len({tbl for _, tbl, _ in _BATCH8}) == 5

    def index_work(b):
        tables, _ = multi_attribute_join_search_batch(postings, b)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            tables.explain("formatted")
        plan = buf.getvalue()
        fact_shuffles = len(re.findall(r"hashpartitioning\(table[^)]*row", plan))
        return plan.count("InMemoryTableScan"), fact_shuffles

    assert index_work(batch8) == index_work(batch8[:1])
    assert index_work(batch8)[1] == 1

    tables, _ = multi_attribute_join_search_batch(postings, batch8)
    got = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    want = set()
    for qid, query_df, attrs in batch8:
        t, _ = multi_attribute_join_search(postings, query_df, attrs)
        want |= {(qid, r.table, r.join_score) for r in t.collect()}
    assert got == want


def test_mixed_width_batch_keeps_each_querys_own_reduction(spark):
    """The pre-join reduction counts distinct probed keys per lake row
    at each query's OWN width: the (k, k) query row needs two distinct
    keys of its query in a lake row, so it matches nothing here — alone,
    and beside a 1-attribute batch-mate whose narrower width must not
    relax the 2-attribute query's check."""
    postings = spark.createDataFrame(
        [("k", 1, 0, 10), ("k", 1, 1, 11), ("z", 1, 1, 11)],
        "key string, table int, column int, row bigint",
    )
    q = spark.createDataFrame([("k", "k")], "x string, y string")
    single, _ = multi_attribute_join_search(postings, q, ["x", "y"])
    assert single.collect() == []
    one, _ = multi_attribute_join_search(postings, q, ["x"])
    tables, _ = multi_attribute_join_search_batch(
        postings, [("two", q, ["x", "y"]), ("one", q, ["x"])]
    )
    got = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    assert got == {("one", r.table, r.join_score) for r in one.collect()} != set()


def test_batch_mate_key_does_not_complete_repeated_value_row(spark):
    """A (k, k) query row needs two distinct keys of its OWN query in a
    lake row. Lake row 11 holds k and z; z is only a batch-mate's key,
    so the 2-attribute query matches nothing in the batch, as alone."""
    postings = spark.createDataFrame(
        [("k", 1, 0, 10), ("k", 1, 1, 11), ("z", 1, 1, 11)],
        "key string, table int, column int, row bigint",
    )
    q_kk = spark.createDataFrame([("k", "k")], "x string, y string")
    q_z = spark.createDataFrame([("z",)], "x string")
    single, _ = multi_attribute_join_search(postings, q_kk, ["x", "y"])
    assert single.collect() == []
    tables, _ = multi_attribute_join_search_batch(
        postings, [("two", q_kk, ["x", "y"]), ("z", q_z, ["x"])]
    )
    got = {(r.qid, r.table, r.join_score) for r in tables.collect()}
    assert got == {("z", 1, 1)}


def test_verification_runs_under_whole_stage_codegen(spark, sf_dir):
    """Verification is codegen'd map-key arithmetic — no ``forall``
    higher-order function (CodegenFallback, interpreted per hit) — for
    a single search and a 3-entry batch alike; and the single search's
    outputs keep their exchange-free ``TakeOrderedAndProject`` top-k."""
    import re

    postings, batch = _batch(spark, sf_dir)
    tables, columns = multi_attribute_join_search(postings, batch[0][1], ATTRS2)
    b_tables, b_columns = multi_attribute_join_search_batch(postings, batch)
    for name, df in [
        ("tables", tables),
        ("columns", columns),
        ("batch tables", b_tables),
        ("batch columns", b_columns),
    ]:
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "forall(" not in executed, name
        # AQE's final plan: its operator lines carry the *(n) codegen prefix
        plan = executed.split("== Initial Plan ==")[0]
        verify = [ln for ln in plan.splitlines() if "array_except" in ln]
        assert verify, f"{name}: no array_except verification in plan"
        for ln in verify:
            assert re.match(r"\s*(:\s*)*\+- \*\(\d+\) ", ln), f"{name}: {ln.strip()}"
        if not name.startswith("batch"):
            root = r"== Final Plan ==\s+(ResultQueryStage \d+\s+\+- )?TakeOrderedAndProject"
            assert re.search(root, plan), f"{name}: {plan[:400]}"
