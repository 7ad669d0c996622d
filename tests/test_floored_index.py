"""Floored-index maintenance: write_floored_index + append_floored_index
maintain a lake-wide ``min_key_freq`` floor EXACTLY under appends — the
design `append_posting_index` documents as impossible for the plain
append path (the floor is a lake-wide predicate; an append sees only
the new table). The store invariant under test: every key's postings
live wholly in index (freq >= N) or wholly in residual (freq < N), and
index == full floored rebuild after any append sequence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.index import (
    LAKE_TABLES,
    WIDE_LAKE_TABLES,
    append_floored_index,
    build_posting_index,
    read_floored_index,
    write_floored_index,
)
from multi_attribute_join_search_with_mapreduce_spark.scratch import scratch_dir

FLOOR = 2


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_floored_append_equals_full_rebuild(spark, sf_dir):
    """Append `documents` to a floored store built without it: the
    maintained index must equal the full floored rebuild, and the
    residual must be exactly the sub-floor remainder."""
    base = os.path.join(scratch_dir("majs_floored_"), "store")
    initial = tuple(s for s in WIDE_LAKE_TABLES if s.name != "documents")
    write_floored_index(spark, sf_dir, base, initial, FLOOR)
    append_floored_index(
        spark,
        sf_dir,
        base,
        tuple(s for s in WIDE_LAKE_TABLES if s.name == "documents"),
        FLOOR,
    )
    got = read_floored_index(spark, base)
    want = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES, min_key_freq=FLOOR)
    _assert_same_rows(got, want)
    # residual = unfloored minus floored; index/residual keys disjoint
    residual = spark.read.parquet(f"{base}/residual").drop("kb")
    unfloored = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES)
    _assert_same_rows(got.unionByName(residual), unfloored)
    assert (
        got.select("key").join(residual.select("key"), "key", "left_semi").count()
        == 0
    )


def test_floor_crossing_across_appends(spark, sf_dir):
    """Two successive appends: a key below the floor in the store and
    below it in each new table alone must still cross once the combined
    lake-wide frequency reaches the floor. Verified by full-rebuild
    equality after EACH append (the second append exercises
    residual-combine, not just fresh keys)."""
    base = os.path.join(scratch_dir("majs_floored2_"), "store")
    dims = tuple(s for s in WIDE_LAKE_TABLES if s.name not in ("events", "documents"))
    events = tuple(s for s in WIDE_LAKE_TABLES if s.name == "events")
    docs = tuple(s for s in WIDE_LAKE_TABLES if s.name == "documents")
    write_floored_index(spark, sf_dir, base, dims, FLOOR)
    append_floored_index(spark, sf_dir, base, events, FLOOR)
    _assert_same_rows(
        read_floored_index(spark, base),
        build_posting_index(spark, sf_dir, dims + events, min_key_freq=FLOOR),
    )
    append_floored_index(spark, sf_dir, base, docs, FLOOR)
    _assert_same_rows(
        read_floored_index(spark, base),
        build_posting_index(
            spark, sf_dir, dims + events + docs, min_key_freq=FLOOR
        ),
    )


def test_floored_append_randomized_lakes_equal_rebuild(spark):
    """Seeded randomized lakes: small alphabets force cross-table
    frequency composition (keys sitting exactly at the floor, crossing
    only via an append, empties/nulls dropped at build). After EVERY
    append in a multi-append sequence the maintained index must equal
    the full floored rebuild over the tables landed so far."""
    import random

    from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec

    for seed in range(4):
        rng = random.Random(seed)
        alphabet = ["a", "b", "c", "d", "e", "f", "", None]
        lake = os.path.join(scratch_dir("majs_floored_rand_"), "lake")
        os.makedirs(lake)
        specs = []
        for t in range(3):
            n_cols = rng.choice([1, 2])
            cols = [f"s{c}" for c in range(n_cols)]
            rows = [
                tuple([i] + [rng.choice(alphabet) for _ in cols])
                for i in range(rng.randint(3, 12))
            ]
            df = spark.createDataFrame(rows, ["pk"] + cols)
            df.write.parquet(f"{lake}/t{t}.parquet")
            specs.append(TableSpec(f"t{t}", t + 1, "pk", tuple(cols)))
        floor = rng.choice([2, 3])
        base = os.path.join(scratch_dir("majs_floored_rand_"), "store")
        write_floored_index(spark, lake, base, (specs[0],), floor,
                            residual_buckets=8)
        landed = [specs[0]]
        for s in specs[1:]:
            append_floored_index(spark, lake, base, (s,), floor,
                                 residual_buckets=8)
            landed.append(s)
            want = build_posting_index(
                spark, lake, tuple(landed), min_key_freq=floor
            )
            try:
                got = read_floored_index(spark, base)
            except Exception:  # still-empty index dir: schema uninferable
                got = spark.createDataFrame([], want.schema)
            assert got.exceptAll(want).count() == 0, f"seed={seed}"
            assert want.exceptAll(got).count() == 0, f"seed={seed}"
            unfloored = build_posting_index(spark, lake, tuple(landed))
            try:
                residual = spark.read.parquet(f"{base}/residual").drop("kb")
            except Exception:  # empty residual dir
                residual = spark.createDataFrame([], unfloored.schema)
            union = got.unionByName(residual)
            assert union.exceptAll(unfloored).count() == 0, f"seed={seed}"
            assert unfloored.exceptAll(union).count() == 0, f"seed={seed}"


def test_floored_store_hashed_layout(spark, sf_dir):
    """hashed_keys=True on the floored store: the index half carries
    key_h (searches probe on the hash automatically), appends keep the
    layout uniform, and the maintained index equals the plain rebuild
    on the raw columns."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    base = os.path.join(scratch_dir("majs_floored_h_"), "store")
    initial = tuple(s for s in WIDE_LAKE_TABLES if s.name != "documents")
    docs_spec = tuple(s for s in WIDE_LAKE_TABLES if s.name == "documents")
    write_floored_index(spark, sf_dir, base, initial, FLOOR, hashed_keys=True)
    append_floored_index(spark, sf_dir, base, docs_spec, FLOOR)
    got = read_floored_index(spark, base)
    assert "key_h" in got.columns
    # layout uniform: every row carries its hash, appended rows included
    assert got.filter(F.col("key_h") != F.xxhash64("key")).count() == 0
    want = build_posting_index(spark, sf_dir, WIDE_LAKE_TABLES, min_key_freq=FLOOR)
    _assert_same_rows(got.drop("key_h"), want)
    # search over the hashed floored store equals the plain-store search
    docs = load_table(spark, "documents", sf_dir)
    t_hashed, _ = multi_attribute_join_search(got, docs, ["lang", "source"])
    t_plain, _ = multi_attribute_join_search(want, docs, ["lang", "source"])
    assert {(r.table, r.join_score) for r in t_hashed.collect()} == {
        (r.table, r.join_score) for r in t_plain.collect()
    }


def test_store_meta_written_validated_and_updated(spark, sf_dir):
    """The store persists its own layout parameters (_store_meta.json):
    appends read them back, reject conflicting caller values (a wrong
    residual_buckets would delete the wrong kb= directories), refuse
    re-appending an already-landed table (double-counted floor
    frequencies), and extend the landed log on success."""
    import pytest

    from multi_attribute_join_search_with_mapreduce_spark.index import read_store_meta

    base = os.path.join(scratch_dir("majs_floored_meta_"), "store")
    initial = tuple(s for s in WIDE_LAKE_TABLES if s.name not in ("events", "documents"))
    events = tuple(s for s in WIDE_LAKE_TABLES if s.name == "events")
    write_floored_index(spark, sf_dir, base, initial, FLOOR, residual_buckets=16)
    meta = read_store_meta(spark, base)
    assert meta == {
        "min_key_freq": FLOOR,
        "residual_buckets": 16,
        "hashed_keys": False,
        "version": 1,
        "landed_tables": sorted([s.name, s.table_id] for s in initial),
    }
    with pytest.raises(ValueError, match="residual_buckets=32 conflicts"):
        append_floored_index(spark, sf_dir, base, events, FLOOR, residual_buckets=32)
    with pytest.raises(ValueError, match="min_key_freq=3 conflicts"):
        append_floored_index(spark, sf_dir, base, events, 3)
    with pytest.raises(ValueError, match="already landed.*nation"):
        append_floored_index(
            spark, sf_dir, base,
            tuple(s for s in WIDE_LAKE_TABLES if s.name == "nation"),
        )
    # parameter-less append: everything comes from the store's metadata
    append_floored_index(spark, sf_dir, base, events)
    assert read_store_meta(spark, base)["landed_tables"] == sorted(
        [s.name, s.table_id] for s in initial + events
    )
    _assert_same_rows(
        read_floored_index(spark, base),
        build_posting_index(spark, sf_dir, initial + events, min_key_freq=FLOOR),
    )


def test_append_repairs_partial_failure_double_representation(spark, sf_dir):
    """Partial-failure repair: a key left in BOTH halves by an
    interrupted append (index append done, residual rewrite not) must
    not double-count on the next append that touches it — its index
    rows win and the stale residual rows are dropped by the bucket
    rewrite. Simulated by re-writing a crossing key's postings back
    into the residual store after a successful append."""
    from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec

    lake = os.path.join(scratch_dir("majs_floored_repair_"), "lake")
    os.makedirs(lake)
    # t0: "x" above the floor (index), "zz" below (residual)
    spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "zz")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t0.parquet")
    # t1 touches "x" again (the repaired key) and lands a crossing "b"
    spark.createDataFrame(
        [(1, "x"), (2, "b"), (3, "b")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t1.parquet")
    s0 = TableSpec("t0", 1, "pk", ("s0",))
    s1 = TableSpec("t1", 2, "pk", ("s0",))
    base = os.path.join(scratch_dir("majs_floored_repair_"), "store")
    write_floored_index(spark, lake, base, (s0,), FLOOR)
    index = read_floored_index(spark, base)
    # stale rows: re-file the index postings of "x" (touched by t1's
    # append) into the residual store — the exact state an interrupted
    # append leaves behind.
    stale = index.filter(F.col("key") == "x")
    assert stale.count() > 0
    (
        stale.withColumn("kb", F.pmod(F.xxhash64("key"), F.lit(32)))
        .write.partitionBy("kb")
        .mode("append")
        .parquet(f"{base}/residual")
    )
    append_floored_index(spark, lake, base, (s1,))
    got = read_floored_index(spark, base)
    want = build_posting_index(spark, lake, (s0, s1), min_key_freq=FLOOR)
    _assert_same_rows(got, want)
    # the stale residual rows of touched keys were dropped, not re-filed
    residual = spark.read.parquet(f"{base}/residual")
    assert (
        got.select("key").join(residual.select("key"), "key", "left_semi").count()
        == 0
    )


def test_append_raises_on_corrupt_index_not_empty(spark, sf_dir, tmp_path):
    """A corrupt index read must raise, not silently append as if the
    store were empty (ADVICE r9: only path-missing / schema-uninferable
    mean 'no data yet')."""
    import pytest

    base = os.path.join(scratch_dir("majs_floored_corrupt_"), "store")
    dims = tuple(s for s in WIDE_LAKE_TABLES if s.name not in ("events", "documents"))
    events = tuple(s for s in WIDE_LAKE_TABLES if s.name == "events")
    write_floored_index(spark, sf_dir, base, dims, FLOOR)
    # inside the cv=1 partition directory, where reads actually look —
    # a root-level stray is ignored by partition discovery by design
    bad = os.path.join(base, "index", "cv=1", "part-corrupt.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as exc_info:
        append_floored_index(spark, sf_dir, base, events)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_empty_hashed_store_stays_hashed_via_meta(spark):
    """A hashed_keys store whose initial build floored EVERY key out
    (row-less index) must still append in the hashed layout: the layout
    marker lives in the metadata, not just the (absent) key_h column."""
    import random

    from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec

    rng = random.Random(7)
    lake = os.path.join(scratch_dir("majs_floored_eh_"), "lake")
    os.makedirs(lake)
    # every key unique in t0 -> all below floor 2 -> empty index half
    rows0 = [(i, f"only{i}") for i in range(6)]
    spark.createDataFrame(rows0, ["pk", "s0"]).write.parquet(f"{lake}/t0.parquet")
    rows1 = [(i, f"only{i}") for i in range(6)]  # duplicates t0's keys
    spark.createDataFrame(rows1, ["pk", "s0"]).write.parquet(f"{lake}/t1.parquet")
    s0 = TableSpec("t0", 1, "pk", ("s0",))
    s1 = TableSpec("t1", 2, "pk", ("s0",))
    base = os.path.join(scratch_dir("majs_floored_eh_"), "store")
    write_floored_index(spark, lake, base, (s0,), 2, hashed_keys=True)
    append_floored_index(spark, lake, base, (s1,))
    got = read_floored_index(spark, base)
    assert "key_h" in got.columns
    assert got.filter(F.col("key_h") != F.xxhash64("key")).count() == 0
    _assert_same_rows(
        got.drop("key_h"),
        build_posting_index(spark, lake, (s0, s1), min_key_freq=2),
    )


def test_residual_rewrite_touches_only_new_key_buckets(spark, sf_dir):
    """The append's residual rewrite must be partition-pruned: buckets
    none of the new keys hash to keep their files byte-identical (same
    names/sizes/mtimes). Appending `nation` (25 keys) against 64
    buckets leaves most buckets untouched."""
    buckets = 64
    base = os.path.join(scratch_dir("majs_floored3_"), "store")
    initial = tuple(s for s in LAKE_TABLES if s.name != "nation")
    nation = tuple(s for s in LAKE_TABLES if s.name == "nation")
    write_floored_index(
        spark, sf_dir, base, initial, FLOOR, residual_buckets=buckets
    )

    def snapshot():
        out = {}
        root = f"{base}/residual"
        for d in os.listdir(root):
            if not d.startswith("kb="):
                continue
            sub = os.path.join(root, d)
            out[d] = sorted(
                (f, os.path.getsize(os.path.join(sub, f)),
                 os.path.getmtime(os.path.join(sub, f)))
                for f in os.listdir(sub)
                if not f.startswith(("_", "."))
            )
        return out

    before = snapshot()
    append_floored_index(
        spark, sf_dir, base, nation, FLOOR, residual_buckets=buckets
    )
    after = snapshot()
    touched = {
        f"kb={r['kb']}"
        for r in build_posting_index(spark, sf_dir, nation)
        .select(F.pmod(F.xxhash64("key"), F.lit(buckets)).alias("kb"))
        .distinct()
        .collect()
    }
    untouched_before = {d: v for d, v in before.items() if d not in touched}
    assert untouched_before, "test needs untouched buckets to be meaningful"
    for d, v in untouched_before.items():
        assert after.get(d) == v, f"untouched residual bucket {d} was rewritten"
    # and the maintained index is still exact
    _assert_same_rows(
        read_floored_index(spark, base),
        build_posting_index(spark, sf_dir, LAKE_TABLES, min_key_freq=FLOOR),
    )


def test_fsck_floored_store_reports_and_repairs(spark):
    """fsck_floored_store: detects double-represented keys (the
    interrupted-append artifact), repairs them by dropping the stale
    residual rows (index authoritative) while leaving untouched
    residual buckets byte-identical, and reports clean afterwards."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
    )

    lake = os.path.join(scratch_dir("majs_fsck_"), "lake")
    os.makedirs(lake)
    # "x" above floor 2 (index); "zz", "qq" below (residual)
    spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "zz"), (4, "qq")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t0.parquet")
    s0 = TableSpec("t0", 1, "pk", ("s0",))
    base = os.path.join(scratch_dir("majs_fsck_"), "store")
    write_floored_index(spark, lake, base, (s0,), FLOOR)
    clean = fsck_floored_store(spark, base)
    assert clean == {
        "double_represented_keys": 0,
        "subfloor_in_index": 0,
        "overfloor_in_residual": 0,
        "duplicate_postings": 0,
        "pending_commit": None,
        "recovery": None,
        "repaired_rows": 0,
    }
    # plant the crash artifact: index rows of "x" re-filed into residual
    index = read_floored_index(spark, base)
    stale = index.filter(F.col("key") == "x")
    (
        stale.withColumn("kb", F.pmod(F.xxhash64("key"), F.lit(32)))
        .write.partitionBy("kb")
        .mode("append")
        .parquet(f"{base}/residual")
    )
    report = fsck_floored_store(spark, base)
    assert report["double_represented_keys"] == 1
    assert report["repaired_rows"] == 0  # report-only by default
    fixed = fsck_floored_store(spark, base, repair=True)
    assert fixed["double_represented_keys"] == 1
    assert fixed["repaired_rows"] == 2  # the two stale "x" postings
    # disjointness restored; the sub-floor keys survived the rewrite
    residual = spark.read.parquet(f"{base}/residual")
    assert residual.filter(F.col("key") == "x").count() == 0
    assert {r["key"] for r in residual.select("key").distinct().collect()} == {
        "zz", "qq"
    }
    assert fsck_floored_store(spark, base)["double_represented_keys"] == 0


# ---------------------------------------------------------------------------
# Commit protocol: optimistic concurrency + crash recovery (round 11)
# ---------------------------------------------------------------------------


def _mini_lake(spark, prefix):
    """Three tiny tables engineered so keys cross the floor only as
    tables combine (t0 alone leaves everything residual except 'x')."""
    from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec

    lake = os.path.join(scratch_dir(prefix), "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "zz"), (4, "qq")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t0.parquet")
    spark.createDataFrame(
        [(1, "zz"), (2, "b"), (3, "b"), (4, "x")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t1.parquet")
    spark.createDataFrame(
        [(1, "qq"), (2, "b"), (3, "new")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t2.parquet")
    specs = tuple(TableSpec(f"t{i}", i + 1, "pk", ("s0",)) for i in range(3))
    return lake, specs


def _store_equals_rebuild(spark, lake, base, specs, floor=FLOOR):
    got = read_floored_index(spark, base)
    want = build_posting_index(spark, lake, specs, min_key_freq=floor)
    _assert_same_rows(got, want)
    unfloored = build_posting_index(spark, lake, specs)
    residual = spark.read.parquet(f"{base}/residual").drop("kb")
    _assert_same_rows(got.unionByName(residual), unfloored)
    assert (
        got.select("key").join(residual.select("key"), "key", "left_semi").count()
        == 0
    )


def test_concurrent_append_exactly_one_wins(spark):
    """Two appenders racing the same commit slot: exactly one wins the
    create-exclusive claim, the loser raises ConcurrentAppendError with
    the store untouched, fsck stays clean, and the loser's retry (the
    documented response: re-read and re-run) lands its table cleanly."""
    import threading

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        fsck_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_race_")
    base = os.path.join(scratch_dir("majs_ccr_race_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)

    barrier = threading.Barrier(2, timeout=60)
    orig_claim = idx.claim_commit

    def racing_claim(spark_, base_, version_, payload_):
        barrier.wait()  # both appenders arrive with version read = 1
        return orig_claim(spark_, base_, version_, payload_)

    results: dict[str, BaseException | None] = {}

    def run(name, spec):
        try:
            append_floored_index(spark, lake, base, (spec,))
            results[name] = None
        except BaseException as exc:  # noqa: BLE001 - recorded for assert
            results[name] = exc

    try:
        idx.claim_commit = racing_claim
        t1 = threading.Thread(target=run, args=("a", specs[1]))
        t2 = threading.Thread(target=run, args=("b", specs[2]))
        t1.start(); t2.start(); t1.join(60); t2.join(60)
    finally:
        idx.claim_commit = orig_claim

    errs = [v for v in results.values() if v is not None]
    assert len(errs) == 1, f"exactly one loser expected, got {results}"
    assert isinstance(errs[0], ConcurrentAppendError)
    report = fsck_floored_store(spark, base)
    assert report["pending_commit"] is None
    assert report["double_represented_keys"] == 0
    assert report["duplicate_postings"] == 0
    # loser retries with fresh metadata: lands cleanly
    loser_spec = specs[1] if results["a"] is not None else specs[2]
    append_floored_index(spark, lake, base, (loser_spec,))
    _store_equals_rebuild(spark, lake, base, specs)


def test_stale_appender_rejected_and_pending_marker_fences(spark):
    """(a) An appender whose metadata snapshot is stale (a winner
    committed meanwhile) loses the claim race instead of corrupting the
    floor. (b) While an unresolved marker is pending, every new append
    refuses up front — the blind-retry double-land ADVICE r10 described
    is structurally impossible."""
    import pytest

    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        claim_commit,
        read_store_meta,
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_stale_")
    base = os.path.join(scratch_dir("majs_ccr_stale_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    stale_meta = read_store_meta(spark, base)  # version 1 snapshot
    append_floored_index(spark, lake, base, (specs[1],))  # commits v2
    # (a) the stale appender's claim of v2 must lose
    assert (
        claim_commit(spark, base, stale_meta["version"] + 1, {"tables": []})
        is False
    )
    # (b) an abandoned claim (crash evidence) fences all appends
    assert claim_commit(spark, base, 3, {"tables": [["t2", 3]]}) is True
    with pytest.raises(ConcurrentAppendError, match="unresolved commit"):
        append_floored_index(spark, lake, base, (specs[2],))
    # recovery rolls the (mutation-less) claim back; append then lands
    assert recover_floored_store(spark, base)["action"] == "rolled_back"
    append_floored_index(spark, lake, base, (specs[2],))
    _store_equals_rebuild(spark, lake, base, specs)


def test_crash_before_stage_complete_rolls_back(spark):
    """Crash after the index append but before the staged rewrite is
    durable: recovery rolls the torn append back BYTEWISE (the cv=
    directory holds exactly its rows; residual untouched), the retry
    lands cleanly, and the result equals the full rebuild."""
    import pytest

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_rb_")
    base = os.path.join(scratch_dir("majs_ccr_rb_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    pre_index = read_floored_index(spark, base).collect()

    orig = idx._stage_residual_rewrite

    def crash(*a, **k):
        raise RuntimeError("injected crash before stage")

    idx._stage_residual_rewrite = crash
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            append_floored_index(spark, lake, base, (specs[1],))
    finally:
        idx._stage_residual_rewrite = orig

    report = fsck_floored_store(spark, base)
    assert report["pending_commit"] == 2
    rec = recover_floored_store(spark, base)
    assert rec["action"] == "rolled_back"
    # bytewise back: same index rows, clean fsck, version unchanged
    assert sorted(map(tuple, read_floored_index(spark, base).collect())) == sorted(
        map(tuple, pre_index)
    )
    clean = fsck_floored_store(spark, base)
    assert clean["pending_commit"] is None
    assert clean["double_represented_keys"] == 0
    append_floored_index(spark, lake, base, (specs[1],))
    append_floored_index(spark, lake, base, (specs[2],))
    _store_equals_rebuild(spark, lake, base, specs)


def test_crash_mid_swap_rolls_forward(spark):
    """Crash after the staged rewrite is durable, partway through the
    bucket swap: recovery ROLLS FORWARD — finishes the (resumable)
    swap and finalizes the metadata exactly as the crashed appender
    would have. The maintained store equals the full rebuild."""
    import pytest

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
        read_store_meta,
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_rf_")
    base = os.path.join(scratch_dir("majs_ccr_rf_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)

    orig = idx._finish_residual_swap

    def partial_swap(spark_, base_, stage_, flag_):
        # swap at most one replace-bucket, then die mid-window
        first = dict(
            flag_,
            kb_replace=flag_.get("kb_replace", [])[:1],
            kb_delete=[],
        )
        orig(spark_, base_, stage_, first)
        raise RuntimeError("injected crash mid-swap")

    idx._finish_residual_swap = partial_swap
    try:
        with pytest.raises(RuntimeError, match="mid-swap"):
            append_floored_index(spark, lake, base, (specs[1],))
    finally:
        idx._finish_residual_swap = orig

    rec = recover_floored_store(spark, base)
    assert rec["action"] == "rolled_forward"
    meta = read_store_meta(spark, base)
    assert meta["version"] == 2
    assert ["t1", 2] in meta["landed_tables"]
    clean = fsck_floored_store(spark, base)
    assert clean["double_represented_keys"] == 0
    assert clean["overfloor_in_residual"] == 0
    _store_equals_rebuild(spark, lake, base, specs[:2])
    # and the NEXT append proceeds normally on the recovered store
    append_floored_index(spark, lake, base, (specs[2],))
    _store_equals_rebuild(spark, lake, base, specs)


def test_streaming_crash_between_append_and_marker(spark):
    """VERDICT r10 #4: kill the streaming floored ingest between the
    posting append and the metadata commit, replay the batch (what
    foreachBatch does after restart), and prove the maintained store
    still hash-equals the batch rebuild — the double-land window the
    old replay guard left open is closed by the commit protocol."""
    import pytest

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
        read_store_meta,
    )
    from multi_attribute_join_search_with_mapreduce_spark.streaming.events import (
        _floored_ingest_batch,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_stream_")
    base = os.path.join(scratch_dir("majs_ccr_stream_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    t1 = spark.read.parquet(f"{lake}/t1.parquet")
    t2 = spark.read.parquet(f"{lake}/t2.parquet")
    # batch 0 lands normally
    _floored_ingest_batch(spark, base, specs[1], t1, 0)
    assert read_store_meta(spark, base)["landed_batches"] == [0]

    # batch 1 crashes AFTER the mutation, BEFORE the metadata commit
    orig = idx.write_store_meta

    def crash_once(spark_, base_, meta_):
        idx.write_store_meta = orig
        raise RuntimeError("injected crash before metadata commit")

    idx.write_store_meta = crash_once
    try:
        with pytest.raises(RuntimeError, match="before metadata commit"):
            _floored_ingest_batch(spark, base, specs[2], t2, 1)
    finally:
        idx.write_store_meta = orig

    # replay after restart: auto-recovers (roll forward — the rewrite
    # was durable), then sees the batch landed and no-ops; a second
    # replay is also a no-op. No duplicate postings either way.
    _floored_ingest_batch(spark, base, specs[2], t2, 1)
    _floored_ingest_batch(spark, base, specs[2], t2, 1)
    meta = read_store_meta(spark, base)
    assert meta["landed_batches"] == [0, 1]
    clean = fsck_floored_store(spark, base)
    assert clean["duplicate_postings"] == 0
    assert clean["double_represented_keys"] == 0
    assert clean["pending_commit"] is None
    _store_equals_rebuild(spark, lake, base, specs)


def test_fsck_detects_duplicate_postings(spark):
    """ADVICE r10: duplicated postings (the replay artifact the old
    fsck could not see) are now detectable — a posting is one cell of
    one lake row, so any (key, table, column, row) multiplicity > 1 in
    the index half is corruption."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_dup_")
    base = os.path.join(scratch_dir("majs_ccr_dup_"), "store")
    write_floored_index(spark, lake, base, specs, FLOOR)
    assert fsck_floored_store(spark, base)["duplicate_postings"] == 0
    # simulate an external double-land: re-append one committed row
    idx_df = spark.read.parquet(f"{base}/index")
    idx_df.limit(1).write.partitionBy("cv").mode("append").parquet(
        f"{base}/index"
    )
    assert fsck_floored_store(spark, base)["duplicate_postings"] == 1


def test_fsck_repair_gcs_stage_debris(spark):
    """Crash debris under _stage/ — a committed version's stage (crash
    after the metadata rename but before post-commit cleanup) and a
    legacy tmp- stage — is garbage-collected by fsck --repair; the
    pending version's stage is owned by recovery, not the GC."""
    import os as _os

    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_gc_")
    base = os.path.join(scratch_dir("majs_ccr_gc_"), "store")
    write_floored_index(spark, lake, base, specs, FLOOR)
    _os.makedirs(f"{base}/_stage/v{1:020d}")  # committed version's stage
    _os.makedirs(f"{base}/_stage/tmp-deadbeef")
    fsck_floored_store(spark, base)  # report-only: leaves debris alone
    assert sorted(_os.listdir(f"{base}/_stage")) == [
        "tmp-deadbeef", f"v{1:020d}",
    ]
    fsck_floored_store(spark, base, repair=True)
    assert _os.listdir(f"{base}/_stage") == []


def _store_files(base):
    """{relative path: (size, mtime_ns)} of every file and directory
    under ``base`` — a store a refusal must leave exactly as it was."""
    out = {}
    for root, dirs, files in os.walk(base):
        for name in dirs + files:
            st = os.stat(os.path.join(root, name))
            out[os.path.relpath(os.path.join(root, name), base)] = (
                st.st_size, st.st_mtime_ns,
            )
    return out


def test_pre_protocol_stores_are_refused(spark, sf_dir, capsys):
    """The two store layouts older than the commit protocol — metadata
    without a commit version over a flat index, and no _store_meta.json
    at all — are refused by every entry point with the one ValueError
    that names the fix (rebuild with write_floored_index), and their
    files are left exactly as they were. The CLI turns the refusal into
    exit code 2 with an ``error:`` line."""
    import shutil

    from multi_attribute_join_search_with_mapreduce_spark.cli import main
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
        read_store_meta,
        recover_floored_store,
        write_store_meta,
    )
    from multi_attribute_join_search_with_mapreduce_spark.streaming.events import (
        _floored_ingest_batch,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_legacy_")
    t1 = spark.read.parquet(f"{lake}/t1.parquet")
    for layout in ("versionless", "no_meta"):
        base = os.path.join(scratch_dir("majs_ccr_legacy_"), "store")
        # fabricate the old layout: flat index (no cv), residual, and
        # metadata without "version" — or no metadata at all
        write_floored_index(spark, lake, base, specs[:1], FLOOR)
        flat = read_floored_index(spark, base)
        rows, schema = flat.collect(), flat.schema
        shutil.rmtree(f"{base}/index")
        spark.createDataFrame(rows, schema).write.parquet(f"{base}/index")
        if layout == "versionless":
            meta = read_store_meta(spark, base)
            del meta["version"]
            write_store_meta(spark, base, meta)
        else:
            os.remove(f"{base}/_store_meta.json")
        before = _store_files(base)
        for call in (
            lambda: append_floored_index(spark, lake, base, (specs[1],)),
            lambda: _floored_ingest_batch(spark, base, specs[1], t1, 0),
            lambda: recover_floored_store(spark, base),
            lambda: fsck_floored_store(spark, base, repair=True),
        ):
            with pytest.raises(
                ValueError, match="no _store_meta.json with a commit version"
            ) as exc_info:
                call()
            assert "Rebuild it with write_floored_index" in str(exc_info.value)
            assert _store_files(base) == before, layout
        capsys.readouterr()
        for argv in (
            ["--fsck-store", base, "--repair"],
            ["--query-table", "documents", "--attrs", "lang,source",
             "--sf-dir", sf_dir, "--floored-store", base,
             "--min-key-freq", str(FLOOR)],
        ):
            assert main(argv) == 2, (layout, argv)
            err = capsys.readouterr().err
            assert "error: floored store" in err and "Traceback" not in err
        assert _store_files(base) == before, layout


def test_revoked_claim_aborts_instead_of_committing(spark):
    """If recovery runs while an appender is still alive (the operator
    error the recovery docstring forbids), the live appender must abort
    LOUDLY at its next point of no return instead of committing on top
    of the rolled-back store — the lost-update can no longer be
    silent."""
    import pytest

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        read_store_meta,
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_revoke_")
    base = os.path.join(scratch_dir("majs_ccr_revoke_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)

    # recovery between staging and the pre-swap claim check: the
    # appender must abort before mutating the residual store
    orig_complete = idx._require_live_claim
    calls = {"n": 0}

    def revoke_before_first_check(spark_, base_, version_):
        if calls["n"] == 0:
            calls["n"] += 1
            recover_floored_store(spark_, base_)
        orig_complete(spark_, base_, version_)

    idx._require_live_claim = revoke_before_first_check
    try:
        with pytest.raises(ConcurrentAppendError, match="revoked mid-append"):
            append_floored_index(spark, lake, base, (specs[1],))
    finally:
        idx._require_live_claim = orig_complete

    # the store is at its pre-append state (recovery rolled it back);
    # a clean retry lands
    assert read_store_meta(spark, base)["version"] == 1
    append_floored_index(spark, lake, base, (specs[1],))
    _store_equals_rebuild(spark, lake, base, specs[:2])


def test_fsck_repair_gcs_old_commit_markers(spark):
    """Marker GC: fsck --repair retains a bounded tail of the commit
    log and deletes older markers (one marker per streaming trigger
    would otherwise accumulate forever)."""
    import os as _os

    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        claim_commit,
        fsck_floored_store,
        read_store_meta,
        write_store_meta,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_mgc_")
    base = os.path.join(scratch_dir("majs_ccr_mgc_"), "store")
    write_floored_index(spark, lake, base, specs, FLOOR)
    meta = read_store_meta(spark, base)
    # simulate a long-maintained store: markers v1..v100, version 100
    for v in range(1, 101):
        claim_commit(spark, base, v, {"batch_id": v})
    meta["version"] = 100
    write_store_meta(spark, base, meta)
    fsck_floored_store(spark, base, repair=True)
    left = sorted(_os.listdir(f"{base}/_commits"))
    assert len(left) == idx._COMMIT_LOG_RETAIN
    assert left[0] == f"v{100 - idx._COMMIT_LOG_RETAIN + 1:020d}.json"


def test_fsck_repair_crash_mid_swap_rolls_forward(spark, monkeypatch):
    """fsck --repair is a commit: a crash between a residual bucket's
    delete and the rename of its staged replacement leaves those rows
    only in the stage, and the next --repair must roll that commit
    FORWARD — not garbage-collect the stage as debris — so no posting
    is lost: index ∪ residual equals the unfloored rebuild."""
    from multi_attribute_join_search_with_mapreduce_spark import fsio
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
        read_store_meta,
    )

    buckets = 4
    lake = os.path.join(scratch_dir("majs_fsck_crash_"), "lake")
    os.makedirs(lake)
    # 202 postings: "x" twice (index), 200 singletons (residual, every bucket)
    rows = [(1, "x"), (2, "x")] + [(i, f"k{i}") for i in range(3, 203)]
    spark.createDataFrame(rows, ["pk", "s0"]).write.parquet(f"{lake}/t0.parquet")
    s0 = TableSpec("t0", 1, "pk", ("s0",))
    base = os.path.join(scratch_dir("majs_fsck_crash_"), "store")
    write_floored_index(spark, lake, base, (s0,), FLOOR, residual_buckets=buckets)
    # plant the double-represented key: x's index rows re-filed into residual
    (
        read_floored_index(spark, base)
        .filter(F.col("key") == "x")
        .withColumn("kb", F.pmod(F.xxhash64("key"), F.lit(buckets)))
        .write.partitionBy("kb")
        .mode("append")
        .parquet(f"{base}/residual")
    )
    orig_rename = fsio.rename
    calls = {"n": 0}

    def rename_fails_once(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            raise IOError("injected crash between bucket delete and rename")
        return orig_rename(spark_, src, dst)

    monkeypatch.setattr(fsio, "rename", rename_fails_once)
    with pytest.raises(IOError, match="injected crash"):
        fsck_floored_store(spark, base, repair=True)
    second = fsck_floored_store(spark, base, repair=True)
    assert second["recovery"]["action"] == "rolled_forward"
    assert second["double_represented_keys"] == 0
    assert read_store_meta(spark, base)["version"] == 2
    residual = spark.read.parquet(f"{base}/residual").drop("kb")
    _assert_same_rows(
        read_floored_index(spark, base).unionByName(residual),
        build_posting_index(spark, lake, (s0,)),
    )
    assert fsck_floored_store(spark, base) == {
        "double_represented_keys": 0,
        "subfloor_in_index": 0,
        "overfloor_in_residual": 0,
        "duplicate_postings": 0,
        "pending_commit": None,
        "recovery": None,
        "repaired_rows": 0,
    }


@pytest.mark.parametrize("writer", ["table_append", "stream_trigger"])
def test_claim_revoked_before_complete_aborts(spark, monkeypatch, writer):
    """A recovery run against a live writer just before its _COMPLETE
    flag is written rolls the commit back; the writer must then abort
    with ConcurrentAppendError at its pre-commit claim check and leave
    the metadata as it was — for a streaming trigger as for a table
    append (a trigger that committed here would record its batch as
    landed while its postings were rolled back, and a replay would
    skip it)."""
    from multi_attribute_join_search_with_mapreduce_spark import fsio
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        read_store_meta,
        recover_floored_store,
    )
    from multi_attribute_join_search_with_mapreduce_spark.streaming.events import (
        _floored_ingest_batch,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_revoke2_")
    base = os.path.join(scratch_dir("majs_ccr_revoke2_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    before = read_store_meta(spark, base)
    orig_write = fsio.write_atomic
    fired = []

    def revoke_before_complete(spark_, path, data):
        if path.endswith("/_COMPLETE") and not fired:
            fired.append(recover_floored_store(spark_, base))
        orig_write(spark_, path, data)

    monkeypatch.setattr(fsio, "write_atomic", revoke_before_complete)
    with pytest.raises(ConcurrentAppendError, match="revoked"):
        if writer == "table_append":
            append_floored_index(spark, lake, base, (specs[1],))
        else:
            t1 = spark.read.parquet(f"{lake}/t1.parquet")
            _floored_ingest_batch(spark, base, specs[1], t1, 0)
    assert fired == [{"action": "rolled_back", "version": 1}]
    assert read_store_meta(spark, base) == before


def test_search_never_sees_uncommitted_postings(spark):
    """A search that runs while a commit is in flight (or after it
    crashed) reads the store as of its last commit: an append that dies
    after its index write and before ``_COMPLETE`` leaves a ``cv=``
    directory on disk, and read_floored_index must not return its
    postings, which the rollback then deletes."""
    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_visible_")
    base = os.path.join(scratch_dir("majs_ccr_visible_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    pre = sorted(map(tuple, read_floored_index(spark, base).collect()))

    def crash(*a, **k):
        raise RuntimeError("injected crash before stage")

    orig = idx._stage_residual_rewrite
    idx._stage_residual_rewrite = crash
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            append_floored_index(spark, lake, base, (specs[1],))
    finally:
        idx._stage_residual_rewrite = orig
    assert os.path.isdir(f"{base}/index/cv=2"), "the torn commit wrote no postings"
    assert sorted(map(tuple, read_floored_index(spark, base).collect())) == pre
    assert recover_floored_store(spark, base)["action"] == "rolled_back"
    assert sorted(map(tuple, read_floored_index(spark, base).collect())) == pre


def test_append_never_moves_untouched_key(spark):
    """Only a key the append touches can cross the floor. An over-floor
    key planted in a bucket the append rewrites (external damage fsck
    reports as ``overfloor_in_residual``) stays in the residual half,
    carried over with its bucket, and fsck still reports it."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_untouched_")
    base = os.path.join(scratch_dir("majs_untouched_"), "store")
    # one bucket: every append touches the planted key's bucket
    write_floored_index(spark, lake, base, specs[:1], FLOOR, residual_buckets=1)
    spark.createDataFrame(
        [("planted", 9, 0, 1), ("planted", 9, 0, 2)],
        "key STRING, `table` INT, `column` INT, `row` BIGINT",
    ).withColumn("kb", F.lit(0)).write.partitionBy("kb").mode("append").parquet(
        f"{base}/residual"
    )
    assert fsck_floored_store(spark, base)["overfloor_in_residual"] == 1
    append_floored_index(spark, lake, base, (specs[1],))
    assert read_floored_index(spark, base).filter(F.col("key") == "planted").count() == 0
    residual = spark.read.parquet(f"{base}/residual")
    assert residual.filter(F.col("key") == "planted").count() == 2
    assert fsck_floored_store(spark, base)["overfloor_in_residual"] == 1
    _assert_same_rows(
        read_floored_index(spark, base),
        build_posting_index(spark, lake, specs[:2], min_key_freq=FLOOR),
    )


def test_one_residual_file_per_bucket(spark):
    """Every residual writer leaves one parquet file per bucket: the
    build, an append (whose rewrite unions carried-over and new rows),
    and the ``fsck --repair`` rewrite."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
    )

    buckets = 4
    lake = os.path.join(scratch_dir("majs_one_file_"), "lake")
    os.makedirs(lake)
    # "x" twice (index) and singletons in every bucket (residual); t1
    # repeats half of t0's singletons (they cross) and adds new ones
    spark.createDataFrame(
        [(1, "x"), (2, "x")] + [(i, f"k{i}") for i in range(3, 203)], ["pk", "s0"]
    ).write.parquet(f"{lake}/t0.parquet")
    spark.createDataFrame(
        [(i, f"k{i}") for i in range(3, 103)] + [(i, f"n{i}") for i in range(103, 303)],
        ["pk", "s0"],
    ).write.parquet(f"{lake}/t1.parquet")
    s0, s1 = TableSpec("t0", 1, "pk", ("s0",)), TableSpec("t1", 2, "pk", ("s0",))
    base = os.path.join(scratch_dir("majs_one_file_"), "store")

    def files_per_bucket():
        root = f"{base}/residual"
        return {
            d: sum(1 for f in os.listdir(os.path.join(root, d))
                   if f.endswith(".parquet") and not f.startswith("."))
            for d in os.listdir(root) if d.startswith("kb=")
        }

    write_floored_index(spark, lake, base, (s0,), FLOOR, residual_buckets=buckets)
    assert files_per_bucket() == {f"kb={kb}": 1 for kb in range(buckets)}
    append_floored_index(spark, lake, base, (s1,))
    assert files_per_bucket() == {f"kb={kb}": 1 for kb in range(buckets)}
    _store_equals_rebuild(spark, lake, base, (s0, s1))
    # plant a double-represented key; the repair rewrites its bucket
    (
        read_floored_index(spark, base)
        .filter(F.col("key") == "x")
        .withColumn("kb", F.pmod(F.xxhash64("key"), F.lit(buckets)))
        .write.partitionBy("kb")
        .mode("append")
        .parquet(f"{base}/residual")
    )
    assert fsck_floored_store(spark, base, repair=True)["repaired_rows"] == 2
    assert files_per_bucket() == {f"kb={kb}": 1 for kb in range(buckets)}
    _store_equals_rebuild(spark, lake, base, (s0, s1))
