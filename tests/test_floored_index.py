"""Floored-index maintenance: write_floored_index + append_floored_index
maintain a lake-wide ``min_key_freq`` floor EXACTLY under appends — the
design `append_posting_index` documents as impossible for the plain
append path (the floor is a lake-wide predicate; an append sees only
the new table). The store invariant under test: every key's postings
live wholly in index (freq >= N) or wholly in residual (freq < N), and
index == full floored rebuild after any append sequence."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.index import (
    LAKE_TABLES,
    WIDE_LAKE_TABLES,
    _read_store_half,
    append_floored_index,
    build_posting_index,
    read_floored_index,
    read_store_meta,
    write_floored_index,
)
from multi_attribute_join_search_with_mapreduce_spark.scratch import scratch_dir
from tests.conftest import plant_residual_rows

FLOOR = 2


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _residual(spark, base):
    """The residual half's live rows as of the store's last commit."""
    meta = read_store_meta(spark, base)
    return _read_store_half(spark, base, meta, "residual").drop("kb")


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
    residual = _residual(spark, base)
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
            union = got.unionByName(_residual(spark, base))
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
        "residual_gen": {},
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
    rows win and the append's delta tombstones the stale residual rows.
    Simulated by re-writing a crossing key's postings back into the
    residual store after a successful append; fsck reports the key
    before the append and not after it."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
    )

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
    plant_residual_rows(spark, base, stale)
    assert fsck_floored_store(spark, base)["double_represented_keys"] == 1
    append_floored_index(spark, lake, base, (s1,))
    got = read_floored_index(spark, base)
    want = build_posting_index(spark, lake, (s0, s1), min_key_freq=FLOOR)
    _assert_same_rows(got, want)
    # the stale residual rows of touched keys were dropped, not re-filed:
    # the append's delta tombstones "x", so fsck no longer reports it
    residual = _residual(spark, base)
    assert (
        got.select("key").join(residual.select("key"), "key", "left_semi").count()
        == 0
    )
    assert fsck_floored_store(spark, base)["double_represented_keys"] == 0


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
    """An append that does not compact writes one residual delta and no
    bucket: buckets none of the new keys hash to keep their files
    byte-identical (same names/sizes/mtimes), and so do the buckets they
    do hash to. Appending `nation` (25 keys) against 64 buckets is the
    store's first commit, far from the 64th that compacts."""
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
            out[d] = sorted(
                (os.path.relpath(os.path.join(dirpath, f), root),
                 os.path.getsize(os.path.join(dirpath, f)),
                 os.path.getmtime(os.path.join(dirpath, f)))
                for dirpath, _sub, names in os.walk(os.path.join(root, d))
                for f in names
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
    assert after == before, "a non-compacting append rewrote a bucket"
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
    plant_residual_rows(spark, base, index.filter(F.col("key") == "x"))
    report = fsck_floored_store(spark, base)
    assert report["double_represented_keys"] == 1
    assert report["repaired_rows"] == 0  # report-only by default
    fixed = fsck_floored_store(spark, base, repair=True)
    assert fixed["double_represented_keys"] == 1
    assert fixed["repaired_rows"] == 2  # the two stale "x" postings
    # disjointness restored; the sub-floor keys survived the rewrite
    residual = _residual(spark, base)
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
    residual = _residual(spark, base)
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


def _rows(df):
    return sorted(tuple(r) for r in df.select("key", "table", "column", "row").collect())


def _store_rows(spark, base):
    """(index rows, live residual rows) as of the store's last commit."""
    return _rows(read_floored_index(spark, base)), _rows(_residual(spark, base))


def _superseded(spark, base):
    """Residual generation directories on disk that are not their
    bucket's live generation, and delta directories at or below the
    delta floor (folded into the generations)."""
    meta = read_store_meta(spark, base)
    gen, root = meta["residual_gen"], f"{base}/residual"
    delta = f"{base}/delta"
    return [
        f"{kb}/{cv}"
        for kb in os.listdir(root) if kb.startswith("kb=")
        for cv in os.listdir(os.path.join(root, kb))
        if cv.startswith("cv=") and int(cv[3:]) != gen.get(kb[3:], 1)
    ] + [
        f"delta/{cv}"
        for cv in (os.listdir(delta) if os.path.isdir(delta) else [])
        if cv.startswith("cv=") and int(cv[3:]) <= meta.get("delta_floor", meta["version"])
    ]


_FSIO_MUTATIONS = ("create_exclusive", "delete", "write_atomic", "rename", "mkdirs")


def _hook_writes(m, hook, marker=None):
    """Call ``hook(kind, path)`` before every fsio mutation, every
    parquet write and, given a ``marker`` path suffix, every fsio read
    of that marker, for the life of the monkeypatch context ``m``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from multi_attribute_join_search_with_mapreduce_spark import fsio

    for name in _FSIO_MUTATIONS + (("exists", "read_bytes") if marker else ()):
        def wrapped(spark_, path, *a, _orig=getattr(fsio, name), _name=name):
            if _name in _FSIO_MUTATIONS or path.endswith(marker):
                hook(_name, path)
            return _orig(spark_, path, *a)

        m.setattr(fsio, name, wrapped)
    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        hook("parquet", path)
        return orig_parquet(self, path, *a, **k)

    m.setattr(DataFrameWriter, "parquet", parquet)


def _at_call(monkeypatch, run, i, action, marker=None):
    """Run ``run()`` with ``action()`` called just before the ``i``-th
    hooked call after its commit claim (``i=None``: never), and return
    the (kind, path) of every hooked call from the claim on. Calls the
    action itself makes are not counted."""
    calls, state = [], {"claimed": False, "acting": False}

    def hook(kind, path):
        if state["acting"]:
            return
        if not state["claimed"]:
            state["claimed"] = kind == "create_exclusive"
            return
        if len(calls) == i:
            state["acting"] = True
            try:
                action()
            finally:
                state["acting"] = False
        calls.append((kind, path))

    with monkeypatch.context() as m:
        _hook_writes(m, hook, marker)
        run()
    return calls


def _points(calls):
    """Call indices to inject at: every parquet write, and the first of
    each run of same-kind fsio calls (the rest of a run repeats one
    step on other paths)."""
    step = [c[1] if c[0] == "parquet" else c[0] for c in calls]
    return [i for i in range(len(calls)) if i == 0 or step[i] != step[i - 1]]


def _crash_points(spark, monkeypatch, writer, buckets):
    """Build a small store and a commit to crash in it: a table append
    (``writer="table_append"``) or the residual repair of ``fsck
    --repair`` (``"fsck_repair"``). With ``buckets=4`` the commit only
    writes its delta; with ``buckets=1`` it is the store's first
    compacting commit, which also folds the delta into a new bucket
    generation and, after its commit point, deletes the superseded
    generation and the folded delta. The crash points are every parquet
    write and every fsio mutation after the commit's claim, consecutive
    fsio calls of one kind counted once. Returns a namespace with
    ``run(base)`` (the commit), ``crash_at(i)`` (a fresh copy of the
    store with the commit crashed just before point ``i``), the points
    ``before`` and ``after`` the commit point (the metadata write), and
    the (index, live residual) rows ``pre`` and ``want`` before and
    after the commit."""
    import shutil
    from types import SimpleNamespace

    lake, specs = _mini_lake(spark, "majs_crash_sweep_")
    root = scratch_dir("majs_crash_sweep_")
    built = os.path.join(root, "built")
    write_floored_index(spark, lake, built, specs[:1], FLOOR, residual_buckets=buckets)
    if writer == "table_append":
        def run(base):
            append_floored_index(spark, lake, base, (specs[1],))
        landed = specs[:2]
    else:
        from multi_attribute_join_search_with_mapreduce_spark.index import (
            fsck_floored_store,
        )

        plant_residual_rows(
            spark, built, read_floored_index(spark, built).filter(F.col("key") == "x")
        )

        def run(base):
            fsck_floored_store(spark, base, repair=True)
        landed = specs[:1]
    floored = build_posting_index(spark, lake, landed, min_key_freq=FLOOR)
    want = _rows(floored), _rows(build_posting_index(spark, lake, landed).exceptAll(floored))

    def copy(name):
        shutil.copytree(built, os.path.join(root, name))
        return os.path.join(root, name)

    def crash():
        raise RuntimeError("injected crash")

    def crash_at(i):
        base = copy(f"crash{i}")
        with pytest.raises(RuntimeError, match="injected crash"):
            _at_call(monkeypatch, lambda: run(base), i, crash)
        return base

    probe = copy("probe")
    calls = _at_call(monkeypatch, lambda: run(probe), None, None)
    assert _store_rows(spark, probe) == want
    commit = calls.index(("write_atomic", f"{probe}/_store_meta.json"))
    points = _points(calls)
    assert {calls[i][0] for i in points} == {"delete", "parquet", "write_atomic"}
    return SimpleNamespace(
        run=run, crash_at=crash_at, pre=_store_rows(spark, built), want=want,
        before=[i for i in points if i <= commit],
        after=[i for i in points if i > commit],
    )


def test_crash_before_stage_complete_rolls_back(spark, monkeypatch):
    """Crash a table append — a delta commit, and a compacting one —
    just before each of its writes up to and including its commit point
    (the metadata write). A search still reads the committed index;
    recover_floored_store rolls the commit back so that index and live
    residual equal the pre-commit store and no file of the crashed
    commit is left on disk, so a retry equals the rebuild."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        recover_floored_store,
    )

    for buckets in (4, 1):
        sweep = _crash_points(spark, monkeypatch, "table_append", buckets)
        for i in sweep.before:
            base = sweep.crash_at(i)
            assert _rows(read_floored_index(spark, base)) == sweep.pre[0], (buckets, i)
            assert recover_floored_store(spark, base)["action"] == "rolled_back", (buckets, i)
            assert _store_rows(spark, base) == sweep.pre, (buckets, i)
            assert not _superseded(spark, base), (buckets, i)
            assert not [p for p in _store_files(base) if "cv=2" in p], (buckets, i)
        # Recovery leaves the same store wherever the commit crashed, so
        # one retry (after the last crash, the one with the most debris)
        # stands for all.
        sweep.run(base)
        assert _store_rows(spark, base) == sweep.want, buckets


def test_crash_mid_swap_rolls_forward(spark, monkeypatch):
    """Crash a compacting table append just before each of its writes
    after its commit point, while it deletes the superseded residual
    generation and the folded delta. The commit stands: the store
    already equals the rebuild, recovery has nothing to do, and ``fsck
    --repair`` deletes what is left on disk. A delta commit has no write
    after its commit point."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
        recover_floored_store,
    )

    assert not _crash_points(spark, monkeypatch, "table_append", 4).after
    sweep = _crash_points(spark, monkeypatch, "table_append", 1)
    assert sweep.after
    for i in sweep.after:
        base = sweep.crash_at(i)
        assert _rows(read_floored_index(spark, base)) == sweep.want[0], i
        assert recover_floored_store(spark, base)["action"] == "none", i
        assert _store_rows(spark, base) == sweep.want, i
        assert _superseded(spark, base), i
        fsck_floored_store(spark, base, repair=True)
        assert not _superseded(spark, base), i
        assert _store_rows(spark, base) == sweep.want, i


def test_fsck_repair_crash_mid_swap_rolls_forward(spark, monkeypatch):
    """Crash the residual repair of ``fsck --repair``, as a compacting
    commit, just before each of its writes after its commit point. The
    repair stands: no posting is lost, recovery has nothing to do, and a
    second ``fsck --repair`` deletes the superseded generation and the
    folded delta left on disk."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
        recover_floored_store,
    )

    sweep = _crash_points(spark, monkeypatch, "fsck_repair", 1)
    assert sweep.after
    for i in sweep.after:
        base = sweep.crash_at(i)
        assert _rows(read_floored_index(spark, base)) == sweep.want[0], i
        assert recover_floored_store(spark, base)["action"] == "none", i
        assert _store_rows(spark, base) == sweep.want, i
        assert _superseded(spark, base), i
        fsck_floored_store(spark, base, repair=True)
        assert not _superseded(spark, base), i
        assert _store_rows(spark, base) == sweep.want, i


def test_fsck_repair_gcs_stage_debris(spark, monkeypatch):
    """Crash the residual repair of ``fsck --repair`` (a delta commit
    that tombstones the double-represented key) just before each of its
    writes up to and including its commit point. A search still reads
    the committed index. The next ``fsck --repair`` rolls the crashed
    commit back, deletes every file it had written, and then repairs
    the store to equal the rebuild."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
    )

    sweep = _crash_points(spark, monkeypatch, "fsck_repair", 4)
    for i in sweep.before:
        base = sweep.crash_at(i)
        assert _rows(read_floored_index(spark, base)) == sweep.pre[0], i
        report = fsck_floored_store(spark, base, repair=True)
        assert report["recovery"]["action"] == "rolled_back", i
        assert not _superseded(spark, base), i
        assert _store_rows(spark, base) == sweep.want, i


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

    # replay after restart: rolls the torn commit back and re-lands
    # the batch; a second replay sees it landed and no-ops. No
    # duplicate postings either way.
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
    """The three store layouts older than the current commit protocol
    — metadata without a commit version over a flat index, no
    _store_meta.json at all, and versioned metadata without
    ``residual_gen`` over a residual with no ``cv=`` generations — are
    refused by every entry point with the one ValueError that names the
    fix (rebuild with write_floored_index), and their files are left
    exactly as they were. The CLI turns the refusal into exit code 2
    with an ``error:`` line."""
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
    for layout in ("versionless", "no_meta", "no_residual_gen"):
        base = os.path.join(scratch_dir("majs_ccr_legacy_"), "store")
        # fabricate the old layout: a residual partitioned by kb alone,
        # metadata without "residual_gen", and for the two oldest a flat
        # index (no cv) under metadata without "version" or none at all
        write_floored_index(spark, lake, base, specs[:1], FLOOR)
        meta = read_store_meta(spark, base)
        residual = _read_store_half(spark, base, meta, "residual")
        rows, schema = residual.collect(), residual.schema
        shutil.rmtree(f"{base}/residual")
        spark.createDataFrame(rows, schema).write.partitionBy("kb").parquet(
            f"{base}/residual"
        )
        del meta["residual_gen"]
        if layout != "no_residual_gen":
            flat = read_floored_index(spark, base)
            rows, schema = flat.collect(), flat.schema
            shutil.rmtree(f"{base}/index")
            spark.createDataFrame(rows, schema).write.parquet(f"{base}/index")
            del meta["version"]
        write_store_meta(spark, base, meta)
        if layout == "no_meta":
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

    # recovery after the writes, before the claim check: the appender
    # must abort before its commit point
    orig_complete = idx._require_live_claim
    calls = {"n": 0}

    def revoke_before_first_check(spark_, base_, *a):
        if calls["n"] == 0:
            calls["n"] += 1
            recover_floored_store(spark_, base_)
        orig_complete(spark_, base_, *a)

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


@pytest.mark.parametrize("writer", ["table_append", "stream_trigger"])
def test_claim_revoked_before_complete_aborts(spark, monkeypatch, writer):
    """A recovery run against a live writer, just before any of its
    store writes or claim checks from its claim up to its last check,
    rolls the commit back. The writer must then abort with
    ConcurrentAppendError, leave the metadata as it was and lose no
    committed posting: index and live residual still equal the
    pre-commit store. This holds for a streaming trigger as for a table
    append (a trigger that committed here would record its batch as
    landed while its postings were rolled back, and a replay would skip
    it). A retry over the files the first aborted writer left lands
    cleanly."""
    import shutil

    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        recover_floored_store,
    )
    from multi_attribute_join_search_with_mapreduce_spark.streaming.events import (
        _floored_ingest_batch,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_revoke2_")
    root = scratch_dir("majs_ccr_revoke2_")
    built = os.path.join(root, "built")
    write_floored_index(spark, lake, built, specs[:1], FLOOR)
    before, pre = read_store_meta(spark, built), _store_rows(spark, built)
    t1 = spark.read.parquet(f"{lake}/t1.parquet")

    def run(base):
        if writer == "table_append":
            append_floored_index(spark, lake, base, (specs[1],))
        else:
            _floored_ingest_batch(spark, base, specs[1], t1, 0)

    def copy(name):
        shutil.copytree(built, os.path.join(root, name))
        return os.path.join(root, name)

    marker = f"/_commits/v{2:020d}.json"

    def revoke_at(i):
        base = copy(f"revoke{i}")
        fired = []
        with pytest.raises(ConcurrentAppendError, match="revoked"):
            _at_call(
                monkeypatch, lambda: run(base), i,
                lambda: fired.append(recover_floored_store(spark, base)), marker,
            )
        assert fired == [{"action": "rolled_back", "version": 1}], i
        assert read_store_meta(spark, base) == before, i
        assert _store_rows(spark, base) == pre, i
        return base

    # Revoked right after its claim, the writer writes everything after
    # the recovery. A retry over those files lands cleanly, and its
    # calls name the other points. A parquet write is left out as a
    # point: a recovery just before it leaves the same store.
    base = revoke_at(0)
    calls = _at_call(monkeypatch, lambda: run(base), None, None, marker)
    _store_equals_rebuild(spark, lake, base, specs[:2])
    last_check = max(i for i, (kind, path) in enumerate(calls) if path.endswith(marker))
    points = [i for i in _points(calls)[1:] if i <= last_check and calls[i][0] != "parquet"]
    assert points
    for i in points:
        revoke_at(i)


def test_claim_taken_over_after_recovery_aborts(spark, monkeypatch):
    """Recovery revokes a live writer's claim and another writer claims
    the same slot before the first writer's claim check. The check must
    see that the marker is no longer this writer's and abort, instead
    of committing its landed table over postings the recovery deleted."""
    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        ConcurrentAppendError,
        claim_commit,
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_aba_")
    base = os.path.join(scratch_dir("majs_ccr_aba_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    before, pre = read_store_meta(spark, base), _store_rows(spark, base)
    orig = idx._require_live_claim
    fired = []

    def take_over(*a):
        if not fired:
            fired.append(recover_floored_store(spark, base))
            assert claim_commit(spark, base, 2, {"tables": [["t2", 3]]})
        return orig(*a)

    monkeypatch.setattr(idx, "_require_live_claim", take_over)
    with pytest.raises(ConcurrentAppendError, match="revoked"):
        append_floored_index(spark, lake, base, (specs[1],))
    assert fired == [{"action": "rolled_back", "version": 1}]
    assert read_store_meta(spark, base) == before
    assert _store_rows(spark, base) == pre


def test_search_never_sees_uncommitted_postings(spark):
    """A search that runs while a commit is in flight (or after it
    crashed) reads the store as of its last commit: an append that dies
    after its writes and before its commit point leaves ``cv=2``
    directories on disk, and neither read_floored_index nor the live
    residual returns their rows, which the rollback then deletes."""
    import multi_attribute_join_search_with_mapreduce_spark.index as idx
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        recover_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_ccr_visible_")
    base = os.path.join(scratch_dir("majs_ccr_visible_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR)
    pre = _store_rows(spark, base)

    def crash(*a, **k):
        raise RuntimeError("injected crash before the commit point")

    orig = idx._require_live_claim
    idx._require_live_claim = crash
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            append_floored_index(spark, lake, base, (specs[1],))
    finally:
        idx._require_live_claim = orig
    assert os.path.isdir(f"{base}/index/cv=2"), "the torn commit wrote no postings"
    assert _store_rows(spark, base) == pre
    assert recover_floored_store(spark, base)["action"] == "rolled_back"
    assert _store_rows(spark, base) == pre


def test_append_never_moves_untouched_key(spark):
    """Only a key the append touches can cross the floor. An over-floor
    key planted in the residual (external damage fsck reports as
    ``overfloor_in_residual``) stays in the residual half — beside the
    append's delta, or carried over with its bucket when the append
    compacts (one bucket: the append is the store's first compacting
    commit) — and fsck still reports it."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        fsck_floored_store,
    )

    lake, specs = _mini_lake(spark, "majs_untouched_")
    for buckets in (4, 1):
        base = os.path.join(scratch_dir("majs_untouched_"), "store")
        write_floored_index(spark, lake, base, specs[:1], FLOOR, residual_buckets=buckets)
        plant_residual_rows(spark, base, spark.createDataFrame(
            [("planted", 9, 0, 1), ("planted", 9, 0, 2)],
            "key STRING, `table` INT, `column` INT, `row` BIGINT",
        ))
        assert fsck_floored_store(spark, base)["overfloor_in_residual"] == 1
        append_floored_index(spark, lake, base, (specs[1],))
        assert read_store_meta(spark, base)["delta_floor"] == (2 if buckets == 1 else 1)
        assert read_floored_index(spark, base).filter(F.col("key") == "planted").count() == 0
        residual = _residual(spark, base)
        assert residual.filter(F.col("key") == "planted").count() == 2, buckets
        assert fsck_floored_store(spark, base)["overfloor_in_residual"] == 1, buckets
        _assert_same_rows(
            read_floored_index(spark, base),
            build_posting_index(spark, lake, specs[:2], min_key_freq=FLOOR),
        )


def test_one_residual_file_per_bucket(spark):
    """Every residual writer leaves one parquet file per bucket or per
    commit: the build writes one file per bucket; an append and the
    ``fsck --repair`` that does not compact each add exactly one file,
    under ``delta/cv=v``, and none under ``residual/kb=*``; the
    ``residual_buckets``-th commit compacts, leaving one file per bucket
    and no live delta, and the store still equals the rebuild."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
    )

    buckets = 4
    lake = os.path.join(scratch_dir("majs_one_file_"), "lake")
    os.makedirs(lake)
    # "x" twice (index) and singletons in every bucket (residual); t1
    # repeats half of t0's singletons (they cross) and adds new ones;
    # t2 and t3 land one new singleton each
    spark.createDataFrame(
        [(1, "x"), (2, "x")] + [(i, f"k{i}") for i in range(3, 203)], ["pk", "s0"]
    ).write.parquet(f"{lake}/t0.parquet")
    spark.createDataFrame(
        [(i, f"k{i}") for i in range(3, 103)] + [(i, f"n{i}") for i in range(103, 303)],
        ["pk", "s0"],
    ).write.parquet(f"{lake}/t1.parquet")
    for t in (2, 3):
        spark.createDataFrame([(1, f"t{t}")], ["pk", "s0"]).write.parquet(
            f"{lake}/t{t}.parquet"
        )
    specs = tuple(TableSpec(f"t{t}", t + 1, "pk", ("s0",)) for t in range(4))
    base = os.path.join(scratch_dir("majs_one_file_"), "store")

    def files():
        """Parquet files per bucket, over every generation on disk, and
        per delta directory."""
        out = {}
        for half in ("residual", "delta"):
            root = f"{base}/{half}"
            for d in (os.listdir(root) if os.path.isdir(root) else []):
                if d.startswith(("kb=", "cv=")):
                    out[f"{half}/{d}"] = sum(
                        1 for _dir, _sub, names in os.walk(os.path.join(root, d))
                        for f in names if f.endswith(".parquet") and not f.startswith(".")
                    )
        return out

    write_floored_index(spark, lake, base, specs[:1], FLOOR, residual_buckets=buckets)
    per_bucket = {f"residual/kb={kb}": 1 for kb in range(buckets)}
    assert files() == per_bucket
    append_floored_index(spark, lake, base, specs[1:2])
    assert files() == dict(per_bucket, **{"delta/cv=2": 1})
    _store_equals_rebuild(spark, lake, base, specs[:2])
    # plant a double-represented key; the repair's delta tombstones it
    # and leaves the planted files to the compaction
    plant_residual_rows(spark, base, read_floored_index(spark, base).filter(F.col("key") == "x"))
    planted = files()
    assert fsck_floored_store(spark, base, repair=True)["repaired_rows"] == 2
    assert files() == dict(planted, **{"delta/cv=3": 1})
    _store_equals_rebuild(spark, lake, base, specs[:2])
    append_floored_index(spark, lake, base, specs[2:3])
    assert len(files()) == buckets + 3
    # v5 is the 4th commit since the build: it compacts
    append_floored_index(spark, lake, base, specs[3:4])
    assert read_store_meta(spark, base)["delta_floor"] == 5
    assert files() == per_bucket
    _store_equals_rebuild(spark, lake, base, specs)
    assert fsck_floored_store(spark, base) == {
        "double_represented_keys": 0, "subfloor_in_index": 0,
        "overfloor_in_residual": 0, "duplicate_postings": 0,
        "pending_commit": None, "recovery": None, "repaired_rows": 0,
    }


def test_parent_layout_store_appends_without_rebuild(spark):
    """A store written before residual deltas existed has no ``delta/``
    and records no ``delta_floor``: it reads as fully folded, and
    appends land on it without a rebuild, through a delta commit and
    then a compaction. A fresh build leaves exactly that layout; here it
    is at version 2 with a live generation 2, as the copy-on-write
    protocol left its stores."""
    import shutil

    from multi_attribute_join_search_with_mapreduce_spark.index import write_store_meta

    lake, specs = _mini_lake(spark, "majs_parent_layout_")
    base = os.path.join(scratch_dir("majs_parent_layout_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR, residual_buckets=2)
    meta = read_store_meta(spark, base)
    assert "delta_floor" not in meta and not os.path.exists(f"{base}/delta")
    for kb in os.listdir(f"{base}/residual"):
        if kb.startswith("kb="):
            shutil.move(f"{base}/residual/{kb}/cv=1", f"{base}/residual/{kb}/cv=2")
            meta["residual_gen"][kb[3:]] = 2
    write_store_meta(spark, base, dict(meta, version=2))
    pre = _store_rows(spark, base)
    append_floored_index(spark, lake, base, specs[1:2])  # v3: a delta
    assert read_store_meta(spark, base)["delta_floor"] == 2
    assert os.listdir(f"{base}/delta") and _store_rows(spark, base) != pre
    _store_equals_rebuild(spark, lake, base, specs[:2])
    append_floored_index(spark, lake, base, specs[2:3])  # v4: compacts
    assert read_store_meta(spark, base)["delta_floor"] == 4
    assert not _superseded(spark, base)
    _store_equals_rebuild(spark, lake, base, specs)


def test_append_plan_shuffles_only_the_key_window(spark, monkeypatch):
    """An append's only shuffle is its frame's key window: the touched
    keys, the index's touched keys and the tombstoned keys are never
    deduplicated by a shuffle of their own. Pinned two ways on a hashed
    store with a live delta: the append, run under one job group, runs
    at most 9 Spark jobs (12 with the three dedup shuffles), and the
    executed plan of the materialized commit frame holds exactly one
    shuffle exchange, on ``key``."""
    from multi_attribute_join_search_with_mapreduce_spark import index as ix
    from tools.plan_audit import physical_node_counts

    lake, specs = _mini_lake(spark, "majs_plan_jobs_")
    base = os.path.join(scratch_dir("majs_plan_jobs_"), "store")
    write_floored_index(spark, lake, base, specs[:1], FLOOR, residual_buckets=4, hashed_keys=True)
    append_floored_index(spark, lake, base, specs[1:2])  # leaves a live delta
    frames, real = [], ix.truncate_lineage

    def spy(df):
        frames.append(df)
        return real(df)

    monkeypatch.setattr(ix, "truncate_lineage", spy)
    sc, group = spark.sparkContext, "majs_floored_append_jobs"
    sc.setJobGroup(group, "floored append")
    try:
        append_floored_index(spark, lake, base, specs[2:3])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 9, sorted(jobs)
    (frame,) = [f for f in frames if "_into" in f.columns]
    counts = physical_node_counts(frame)
    assert counts.get("ShuffleExchangeExec", 0) == 1, counts
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan)) == {"key"}
    _assert_same_rows(
        read_floored_index(spark, base).drop("key_h"),
        build_posting_index(spark, lake, specs, min_key_freq=FLOOR),
    )


def test_delta_tombstones_each_dead_key_once(spark):
    """One append in which three keys cross the floor, each with two
    residual rows, and a key planted in both halves is touched: the
    commit's ``delta/cv=2`` holds exactly one tombstone per dead key
    and the one sub-floor new posting, the store equals the rebuild,
    and fsck is clean."""
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        TableSpec,
        fsck_floored_store,
    )

    floor = 3
    lake = os.path.join(scratch_dir("majs_tombs_"), "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (3, "k2"), (4, "k2"), (5, "k3"), (6, "k3"),
         (7, "x"), (8, "x"), (9, "x")],
        ["pk", "s0"],
    ).write.parquet(f"{lake}/t0.parquet")
    spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k3"), (4, "x"), (5, "solo")], ["pk", "s0"]
    ).write.parquet(f"{lake}/t1.parquet")
    specs = tuple(TableSpec(f"t{t}", t + 1, "pk", ("s0",)) for t in range(2))
    base = os.path.join(scratch_dir("majs_tombs_"), "store")
    write_floored_index(spark, lake, base, specs[:1], floor, residual_buckets=4)
    plant_residual_rows(spark, base, read_floored_index(spark, base).filter(F.col("key") == "x"))
    assert fsck_floored_store(spark, base)["double_represented_keys"] == 1
    append_floored_index(spark, lake, base, specs[1:])
    delta = spark.read.parquet(f"{base}/delta/cv=2")
    tombs = delta.filter("tomb").groupBy("key").count()
    assert sorted((r["key"], r["count"]) for r in tombs.collect()) == [
        ("k1", 1), ("k2", 1), ("k3", 1), ("x", 1)
    ]
    assert [r["key"] for r in delta.filter(~F.col("tomb")).collect()] == ["solo"]
    _store_equals_rebuild(spark, lake, base, specs, floor=floor)
    assert fsck_floored_store(spark, base) == {
        "double_represented_keys": 0, "subfloor_in_index": 0,
        "overfloor_in_residual": 0, "duplicate_postings": 0,
        "pending_commit": None, "recovery": None, "repaired_rows": 0,
    }


def test_repeated_append_and_search_compile_at_most_one_class(spark):
    """A land-and-read step of a shape the session already ran compiles
    at most one class: the projection that inlines the new table's id
    in its unpivot. ``get_spark`` sizes the codegen cache to hold every
    class of the warm step (under Spark's default 100 entries each step
    compiled about 100 again), and a commit writes straight into its
    ``cv=v`` directories instead of inlining its version as a literal.
    Counted with Spark's codegen metric around the second of two steps
    with a live delta, on a small hashed store."""
    from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )

    lake = os.path.join(scratch_dir("majs_codegen_"), "lake")
    os.makedirs(lake)
    for t in range(4):
        spark.createDataFrame(
            [(i, f"k{(i + t) % 9}", f"c{i % 3}") for i in range(12)], ["pk", "s0", "s1"]
        ).write.parquet(f"{lake}/t{t}.parquet")
    q = spark.createDataFrame([("k1", "c1"), ("k2", "c2"), ("k4", "c1")], ["s0", "s1"])
    specs = tuple(TableSpec(f"t{t}", t + 1, "pk", ("s0", "s1")) for t in range(4))
    base = os.path.join(scratch_dir("majs_codegen_"), "store")
    write_floored_index(spark, lake, base, specs[:1], 3, residual_buckets=4, hashed_keys=True)
    append_floored_index(spark, lake, base, specs[1:2])  # leaves a live delta
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def step(spec):
        append_floored_index(spark, lake, base, (spec,))
        tables, columns = multi_attribute_join_search(
            read_floored_index(spark, base), q, ["s0", "s1"]
        )
        return tables.collect(), columns.collect()

    step(specs[2])
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    tables, _columns = step(specs[3])
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before <= 1
    assert tables
    _assert_same_rows(
        read_floored_index(spark, base).drop("key_h"),
        build_posting_index(spark, lake, specs, min_key_freq=3),
    )
