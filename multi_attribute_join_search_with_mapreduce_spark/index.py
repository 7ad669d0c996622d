"""Posting-index builder: the lake flattened into an inverted index.

The reference's lake is pre-tokenized into one Vertica table
``main_tokenized(tokenized, tableid, colid, rowid)`` (``handlers.py:15``,
``handlers.py:54``) by an external process it does not ship. Here the
index is *derived*: every string column of every lake table is unpivoted
(``stack``) into ``(key STRING, table INT, column INT, row BIGINT)``
rows, with ``key`` the normalized cell value
(:func:`..functions.text.normalize_col`) — one Catalyst plan, no
external DBMS.

Scale notes (100 TB design):

- the unpivot is a narrow map — no shuffle; normalization is native
  expressions inside whole-stage codegen;
- persisted via :func:`write_posting_index` the index is written
  partitioned/bucketed **by key**, so probe-time semi-joins prune files
  and co-locate without a shuffle;
- row identity is the table's own integer primary key, not
  ``monotonically_increasing_id`` — deterministic across partitionings
  and re-runs (the reference's ``rowid`` comes from its external
  tokenizer; SURVEY.md §2.11 calls for surrogate ids that survive
  re-partitioning).

The append-maintained form is the floored store
(:func:`write_floored_index`). Every mutation of it — a table append,
a streaming trigger, the residual repair of ``fsck --repair`` — is a
commit through one function, :func:`_commit`, and a crash at any point
of one is resolved by :func:`recover_floored_store`. A commit adds one
residual delta file, and every ``residual_buckets``-th commit also
folds the deltas into new bucket generations.
"""

from __future__ import annotations

import json
import uuid
import weakref
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark import fsio
from multi_attribute_join_search_with_mapreduce_spark.functions.text import normalize_col, normalize_sql
from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table


@dataclass(frozen=True)
class TableSpec:
    """One lake table's contribution to the posting index."""

    name: str
    table_id: int
    row_col: str  # integer primary-key column used as posting `row`
    string_cols: tuple[str, ...]  # indexed columns; position = `column` id


# Canonical lake for join search: the five TPC-H-ish dimension tables.
LAKE_TABLES: tuple[TableSpec, ...] = (
    TableSpec("region", 1, "r_regionkey", ("r_name",)),
    TableSpec("nation", 2, "n_nationkey", ("n_name",)),
    TableSpec("customer", 3, "c_custkey", ("c_name", "c_mktsegment")),
    TableSpec("supplier", 4, "s_suppkey", ("s_name",)),
    TableSpec("part", 5, "p_partkey", ("p_name", "p_brand", "p_type")),
)

# The FULL lake the driver fixture ships: the reference's data-lake
# story tokenizes EVERY lake table into main_tokenized
# (``handlers.py:15``), so join search must also discover joins into
# the document/event extension tables, not just the TPC-H dims. Every
# string column is indexed — including free-text ``documents.text``
# (whole-cell keys, exactly the reference's cell granularity) and JSON
# ``events.props``. ``embeddings`` has no string columns and so
# contributes no postings.
WIDE_LAKE_TABLES: tuple[TableSpec, ...] = LAKE_TABLES + (
    TableSpec("events", 6, "event_id", ("event_type", "props")),
    TableSpec("documents", 7, "doc_id", ("text", "lang", "source")),
)


def postings_for_table(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Unpivot one lake table into *raw* posting rows (narrow, shuffle-free).

    Emits ``(value, table, column, row)`` with the cell value still
    un-normalized: the normalizer expression is applied once above the
    union in :func:`build_posting_index`. Inlining it per column used to
    put ``n_tables × n_cols`` copies of the (large) normalizer tree into
    the plan, and Catalyst compile + codegen time dominated small-SF
    builds (~4x the runtime).
    """
    n = len(spec.string_cols)
    stack_args = ", ".join(
        f"CAST({cid} AS INT), `{c}`" for cid, c in enumerate(spec.string_cols)
    )
    return df.selectExpr(
        f"stack({n}, {stack_args}) AS (`column`, value)",
        f"CAST({spec.table_id} AS INT) AS `table`",
        f"CAST(`{spec.row_col}` AS BIGINT) AS `row`",
    )


def postings_from_df(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Normalized postings for ONE in-memory table slice — the
    streaming/micro-batch counterpart of :func:`build_posting_index`
    (which loads whole tables from a lake dir). Used by the streaming
    floored-index maintenance path, where each micro-batch of a landing
    table contributes its postings incrementally."""
    raw = postings_for_table(df, spec)
    return raw.select(
        normalize_col("value").alias("key"), "table", "column", "row"
    ).filter(F.col("key") != "")


def build_posting_index(
    spark: SparkSession,
    sf_dir: str,
    specs: tuple[TableSpec, ...] = LAKE_TABLES,
    min_key_freq: int = 1,
) -> DataFrame:
    """The full inverted index as one lazy DataFrame.

    ``min_key_freq``: ingest-time frequency floor for wide-key lakes
    (SCALE.md §Round-8 refinement 2). A key appearing fewer than N
    times lake-wide is dropped — with the default 1, nothing is. The
    floor is a documented, bounded score change: a (table,row) match
    through a sub-floor key disappears, so join scores can only shrink,
    and a singleton free-text cell (the heaviest postings in the
    whole-lake index) could never have contributed more than a 1-match
    score anyway. Costs one extra ingest-time shuffle on ``key`` (a
    window count); probe-time plans are unchanged.
    """
    parts = [postings_for_table(load_table(spark, s.name, sf_dir), s) for s in specs]
    raw = reduce(DataFrame.unionByName, parts)
    idx = raw.select(
        normalize_col("value").alias("key"), "table", "column", "row"
    ).filter(F.col("key") != "")
    if min_key_freq > 1:
        idx = (
            idx.withColumn(
                "_f", F.count(F.lit(1)).over(Window.partitionBy("key"))
            )
            .filter(F.col("_f") >= min_key_freq)
            .drop("_f")
        )
    return idx


# Memoized persisted index per (session, sf_dir, specs) — the in-process
# analogue of the reference's parquet intermediate cache
# (``Par_Search.py:92-99,124-134``): repeated searches against the same
# lake reuse one materialized index instead of re-scanning/normalizing.
# Entries hold a weakref to their session and are purged on every call
# once that session is collected or stopped: a long-lived multi-session
# process neither accumulates dead persisted DataFrames nor — because
# CPython reuses object ids — serves a new session a DataFrame bound to
# a defunct one.
_INDEX_CACHE: dict[
    tuple[int, str, tuple[TableSpec, ...]],
    tuple["weakref.ref[SparkSession]", DataFrame],
] = {}


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return spark._jsparkSession.sparkContext().isStopped()
    except Exception:  # py4j gateway gone => session is dead
        return True


def session_cached(cache: dict, spark: SparkSession, key_suffix: tuple, build):
    """Session-scoped memoization, the ONE implementation behind
    `_INDEX_CACHE`, `similarity._IVF_CACHE`, and `graph._EDGE_CACHE`:
    sweep entries whose session died or stopped (the weakref guards the
    CPython id-reuse hazard documented above `_INDEX_CACHE`), key on
    (id(session), *suffix), call ``build()`` on a miss and remember the
    result for the session's lifetime."""
    for k, (ref, _v) in list(cache.items()):
        sess = ref()
        if sess is None or _session_stopped(sess):
            cache.pop(k, None)
    key = (id(spark),) + tuple(key_suffix)
    hit = cache.get(key)
    if hit is not None:
        return hit[1]
    val = build()
    cache[key] = (weakref.ref(spark), val)
    return val


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage — the ONE
    implementation behind every shared-cache checkpoint in the engine
    (posting index, near-dup edge set, IVF assignments).

    ``localCheckpoint`` trades fault tolerance for plan size: the
    blocks are UNREPLICATED executor-local state with lineage gone, so
    on a real cluster (executor loss, dynamic allocation shrink) every
    downstream query fails permanently instead of recomputing. That
    trade is correct in local mode — one JVM, no executor churn — but
    at cluster scale a durable form is MANDATORY, not optional: set
    ``sc.setCheckpointDir(<reliable store>)`` and this helper upgrades
    to a reliable ``checkpoint()`` (HDFS/object-store backed, survives
    executor loss), or persist the artifact outright
    (`write_posting_index`, the bucketed on-disk form).
    """
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint()


def cached_posting_index(
    spark: SparkSession,
    sf_dir: str,
    specs: tuple[TableSpec, ...] = LAKE_TABLES,
    min_key_freq: int = 1,
) -> DataFrame:
    return session_cached(
        _INDEX_CACHE,
        spark,
        (sf_dir, specs, min_key_freq),
        # truncate_lineage, not persist: the cached frame is joined by
        # every search-stage query, and persist alone carries the whole
        # union-of-melts logical plan into each consumer's analysis
        # (the r6 graph-tier lesson, `operators/graph.py:_candidate_edges`
        # — measured ~0.7s of Catalyst re-analysis per flagship search
        # at sf0.1). Checkpointing truncates the lineage to a scan of
        # the materialized partitions; at warehouse scale the durable
        # form of the same idea is `write_posting_index` (a bucketed
        # table on disk). See truncate_lineage for the cluster
        # durability contract.
        lambda: truncate_lineage(
            build_posting_index(spark, sf_dir, specs, min_key_freq)
        ),
    )


def write_posting_index(
    spark: SparkSession,
    sf_dir: str,
    out_table: str = "posting_index",
    buckets: int = 32,
    specs: tuple[TableSpec, ...] = LAKE_TABLES,
    hashed_keys: bool = False,
    min_key_freq: int = 1,
) -> None:
    """Persist the index bucketed by ``key``.

    Probe joins on ``key`` against a bucketed index avoid the index-side
    shuffle entirely — the scan reads only the buckets the keys hash to.

    ``hashed_keys=True`` writes the fixed-width layout: an extra
    ``key_h = xxhash64(key)`` column, with bucketing+sort on ``key_h``,
    so the bucketed write sorts 8 bytes/row regardless of cell width.
    The raw ``key`` column stays — verification and column attribution
    remain exact string lookups, so a 64-bit collision can only admit
    a false CANDIDATE (discarded at the verify stage), never a wrong
    result; the search detects the layout from the schema and probes
    on the hash automatically.

    When to use which (measured at ×10 wide-key volume, SCALE.md
    §Round-9 / ``sf1_probe_widekey.json``): PLAIN is the default for
    probe-dominated workloads at ANY key width — with a broadcast
    semi-join probe the index side never shuffles in either layout, so
    the hash saves nothing at probe time while its scan reads an extra
    column (wide-key probe measured 1.13× slower hashed). HASHED wins
    at ingest (bucketed build 1.6× faster — the write sorts fixed-width
    hashes, not wide strings) and when the probe side exceeds broadcast
    scale, where the 8-byte key narrows a real shuffle.
    """
    # An in-memory catalog forgets managed tables across sessions but
    # their warehouse directory survives, and saveAsTable then refuses
    # with LOCATION_ALREADY_EXISTS; drop both the catalog entry and any
    # stale location before writing.
    spark.sql(f"DROP TABLE IF EXISTS `{out_table}`")
    fsio.delete(
        spark,
        f"{spark.conf.get('spark.sql.warehouse.dir').rstrip('/')}/"
        f"{out_table.lower()}",
    )
    idx = build_posting_index(spark, sf_dir, specs, min_key_freq)
    bucket_col = "key"
    if hashed_keys:
        idx = idx.withColumn("key_h", F.xxhash64("key"))
        bucket_col = "key_h"
    (
        idx.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(out_table)
    )


def append_posting_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    specs: tuple[TableSpec, ...],
) -> None:
    """Incrementally extend a persisted parquet index (the CLI's
    ``--write-index`` layout) with newly-landed lake tables.

    Index maintenance at scale is append-only: a new table contributes
    ``parquet.mode("append")`` files built from one narrow unpivot pass
    over just that table — the existing index is never rescanned or
    rewritten (the reference rebuilds its whole parquet intermediate,
    ``Par_Search.py:124-134``). Callers own spec disjointness: appending
    a table id that is already present would duplicate its postings.

    Deliberately NO ``min_key_freq`` here: the floor is a LAKE-WIDE
    frequency predicate, and an append sees only the new table — a key
    below the floor in the new table alone may cross it once combined
    with the existing index (and vice versa). Applying the floor
    per-append would silently diverge from the rebuild semantics the
    incremental gate (``mjs_index_incremental``) proves. For a floored
    index that MUST stay floored under appends, use
    :func:`write_floored_index` + :func:`append_floored_index` — the
    index+residual store that keeps the sub-floor postings as
    bookkeeping and moves keys across exactly when their lake-wide
    frequency crosses the floor (gated by
    ``mjs_index_incremental_floored``).
    """
    build_posting_index(spark, sf_dir, specs).write.mode("append").parquet(index_dir)


def write_store_meta(spark: SparkSession, base_dir: str, meta: dict) -> None:
    """Persist the floored store's layout parameters, landed-table log,
    commit version, and landed-batch log as
    ``<base_dir>/_store_meta.json``, via temp-sibling + atomic rename
    (`fsio.write_atomic`, ADVICE r10) — a reader racing a rewrite, or a
    crash mid-write, sees the old or the new complete metadata, never a
    torn file. Written LAST by :func:`write_floored_index` — the
    metadata doubles as the build's commit marker: a crash mid-build
    leaves no metadata and :func:`read_store_meta` refuses the store
    loudly rather than letting anything mutate a torn half-build. For
    every later mutation the rename is the COMMIT POINT of the protocol
    (:func:`_commit`): the version bump, the residual bucket
    generations, the delta floor and the payload's log entries (landed
    tables, or a streaming landed-batch marker) all land in one atomic
    replace."""
    fsio.write_atomic(
        spark,
        f"{base_dir}/_store_meta.json",
        json.dumps(meta, indent=1, sort_keys=True).encode(),
    )


def read_store_meta(spark: SparkSession, base_dir: str) -> dict:
    """Read a floored store's ``_store_meta.json``.

    Raises ``ValueError`` when the file is absent (a torn initial build,
    or a store older than the metadata) or carries no commit
    ``version`` or ``residual_gen`` (a layout older than the commit
    protocol's ``cv=`` partitions or its residual generations, which
    the protocol would corrupt). Appends, streaming triggers,
    :func:`recover_floored_store` and :func:`fsck_floored_store` all
    read the metadata here, so every one of them refuses those stores
    with this one error; rebuild them with :func:`write_floored_index`."""
    data = fsio.read_bytes(spark, f"{base_dir}/_store_meta.json")
    meta = None if data is None else json.loads(data.decode())
    if meta is None or "version" not in meta or "residual_gen" not in meta:
        raise ValueError(
            f"floored store {base_dir} has no _store_meta.json with a "
            "commit version and residual generations: a torn initial "
            "build, or a store layout older than the commit protocol, "
            "which appends, recovery and fsck refuse. Rebuild it with "
            "write_floored_index."
        )
    return meta


class ConcurrentAppendError(RuntimeError):
    """A store mutation lost the store's optimistic-concurrency race
    (another writer claimed the commit slot first) or found an
    unresolved earlier commit (a concurrent writer mid-commit, or a
    crash nothing has recovered yet). The store itself is untouched by
    the loser; resolve with :func:`recover_floored_store` (CLI:
    ``--fsck-store <dir> --repair``) and retry."""


# fsck --repair keeps this many most-recent commit markers as the audit
# tail; older ones are GC'd (pending/claim logic reads only version+1).
_COMMIT_LOG_RETAIN = 64


def _commit_marker(base_dir: str, version: int) -> str:
    return f"{base_dir}/_commits/v{version:020d}.json"


def claim_commit(
    spark: SparkSession, base_dir: str, version: int, payload: dict
) -> bool:
    """Atomically claim commit slot ``version`` of a floored store
    (create-if-absent of ``_commits/v{version}.json`` —
    `fsio.create_exclusive`). Exactly one of any number of concurrent
    claimants wins; the marker is the fence that makes :func:`_commit`
    safe under concurrency AND the crash-evidence
    :func:`recover_floored_store` resolves: a marker with
    ``version > meta["version"]`` is a commit that claimed its slot but
    never finished. Markers at or below the metadata version are the
    store's commit log and are kept. :func:`_commit` puts a per-writer
    ``token`` in ``payload``, so its claim check tells its own marker
    from a later claimant's."""
    return fsio.create_exclusive(
        spark,
        _commit_marker(base_dir, version),
        json.dumps(dict(payload, version=version), sort_keys=True).encode(),
    )


def pending_commit(spark: SparkSession, base_dir: str, meta: dict) -> dict | None:
    """The unresolved commit marker (version ``meta["version"] + 1``)
    if one exists, else None. While one is pending the next slot is
    taken, so no other commit can start — at most one commit is ever
    in flight, which is what makes recovery's state analysis sound. A
    torn/unparseable marker (crash mid-claim) still counts as pending;
    recovery rolls it back without needing its content."""
    version = int(meta["version"]) + 1
    data = fsio.read_bytes(spark, _commit_marker(base_dir, version))
    if data is None:
        return None
    try:
        info = json.loads(data.decode())
        if not isinstance(info, dict):
            info = {}
    except ValueError:
        info = {}  # torn claim: pending, content unknown
    info["version"] = version
    return info


# The posting columns both store halves hold, in file order.
_POSTING_SCHEMA = "key STRING, `table` INT, `column` INT, `row` BIGINT"
_POSTING_COLS = ("key", "table", "column", "row")
# A residual delta row: a sub-floor posting (``tomb`` false) or a key's
# tombstone (``tomb`` true, posting columns null), with its bucket.
_DELTA_SCHEMA = _POSTING_SCHEMA + ", kb INT, tomb BOOLEAN"


def _delta_floor(meta: dict) -> int:
    """The last commit whose deltas are folded into the residual's
    bucket generations. A store written before deltas existed records
    none and is fully folded."""
    return int(meta.get("delta_floor", meta["version"]))


def _live_deltas(spark: SparkSession, base_dir: str, meta: dict) -> DataFrame | None:
    """The residual deltas of the commits after the delta floor, up to
    ``meta``'s version (``delta_floor < cv <= version``), tombstones
    included; None when there are none. A partition filter, so it
    prunes directories."""
    lo, hi = _delta_floor(meta), int(meta["version"])
    if lo >= hi:
        return None
    return (
        spark.read.schema(_DELTA_SCHEMA + ", cv INT")
        .parquet(f"{base_dir}/delta")
        .filter((F.col("cv") > lo) & (F.col("cv") <= hi))
        .drop("cv")
    )


def _read_store_half(
    spark: SparkSession, base_dir: str, meta: dict, half: str
) -> DataFrame:
    """One half of a floored store (``"index"`` or ``"residual"``) as
    of the commit ``meta`` records, read with the schema the metadata
    fixes: the index's ``cv <= version`` directories, with ``key_h`` on
    a hashed store and ``cv`` kept; the residual's live generations
    (``residual/kb=B/cv=residual_gen[B]``, 1 when absent) plus the live
    deltas (:func:`_live_deltas`), minus every row of a key a live delta
    tombstones, with ``kb`` kept. A key in the index never returns to
    the residual, so dropping all of a tombstoned key's rows is exact.
    The half filters are on partition columns only, so they prune
    directories. No job infers a schema, and a half with no rows yet
    reads as empty; a corrupt file still raises when a job reads it."""
    if half == "index":
        schema = _POSTING_SCHEMA + (", key_h BIGINT" if meta["hashed_keys"] else "")
        live = F.col("cv") <= int(meta["version"])
    else:
        schema = _POSTING_SCHEMA + ", kb INT"
        gens = " ".join(
            f"WHEN {int(kb)} THEN {int(g)}" for kb, g in meta["residual_gen"].items()
        )
        live = F.expr(f"cv = CASE kb {gens} ELSE 1 END" if gens else "cv = 1")
    df = spark.read.schema(schema + ", cv INT").parquet(f"{base_dir}/{half}").filter(live)
    if half == "index":
        return df
    df, deltas = df.drop("cv"), _live_deltas(spark, base_dir, meta)
    if deltas is None:
        return df
    dead = deltas.filter("tomb").select("key")
    return df.unionByName(deltas.filter(~F.col("tomb")).drop("tomb")).join(
        F.broadcast(dead), "key", "left_anti"
    )


def _kb(buckets: int):
    """The residual bucket of a posting's ``key``, as the INT the
    store's schema reads it with."""
    return F.pmod(F.xxhash64("key"), F.lit(buckets)).cast("int")


def _bucketed(rows: DataFrame, buckets: int) -> DataFrame:
    """``rows`` with their residual bucket ``kb = pmod(xxhash64(key),
    buckets)``, hash-partitioned by it at the session's shuffle
    parallelism. Every row of a bucket sits in one task, so a
    ``partitionBy("kb")`` write leaves exactly one file per bucket.
    Only the build and a compacting commit (:func:`_compact`) write
    buckets, and both take their rows through here. Adaptive execution
    coalesces this small shuffle into one task, which then writes every
    bucket file in turn."""
    return rows.withColumn("kb", _kb(buckets)).repartition("kb")


def _delta(buckets: int, dead: DataFrame, rows: DataFrame | None = None) -> DataFrame:
    """A commit's residual delta: the sub-floor postings ``rows`` and a
    tombstone for each key of ``dead``, with their buckets."""
    tombs = dead.select(
        "key",
        F.lit(None).cast("int").alias("table"),
        F.lit(None).cast("int").alias("column"),
        F.lit(None).cast("bigint").alias("row"),
        F.lit(True).alias("tomb"),
    )
    if rows is not None:
        tombs = rows.select(*_POSTING_COLS, F.lit(False).alias("tomb")).unionByName(tombs)
    return tombs.withColumn("kb", _kb(buckets))


def write_floored_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    specs: tuple[TableSpec, ...],
    min_key_freq: int,
    residual_buckets: int = 32,
    hashed_keys: bool = False,
) -> None:
    """The append-maintainable form of the frequency-floored index.

    ``build_posting_index(..., min_key_freq=N)`` applies a LAKE-WIDE
    floor, which a plain :func:`append_posting_index` cannot maintain
    (the append sees only the new table; a key below the floor in the
    new table alone may cross it once combined with what the lake
    already holds). This writer keeps the information the floor needs:

    - ``<base_dir>/index`` — postings of keys at/above the floor (what
      queries read);
    - ``<base_dir>/residual`` — postings of keys still below the floor,
      hash-partitioned into ``residual_buckets`` directories by
      ``kb = pmod(xxhash64(key), B)``, one parquet file per bucket
      (:func:`_bucketed`) in the bucket's generation directory
      ``kb=B/cv=G`` (the build writes ``G=1``; the metadata's
      ``residual_gen`` names each bucket's live one);
    - ``<base_dir>/delta`` — one file per later commit under
      ``delta/cv=v``: its new sub-floor postings plus a tombstone for
      each key it moved to the index. The build writes none, and its
      metadata records no ``delta_floor``, which reads as the version
      (every delta folded), as in a store written before deltas
      existed. The commit that would leave
      ``residual_buckets`` live deltas folds them into new bucket
      generations and raises ``delta_floor`` to its own version
      (:func:`_commit`). An append never rewrites a bucket itself.

    The key count that decides each key's half runs over the bucket
    shuffle, so the build takes one exchange and its parallelism is at
    most ``residual_buckets``: size the bucket count to the cluster as
    well as to the data.

    Invariant: every key's postings live wholly in ``index`` (lake-wide
    freq >= N) or wholly in ``residual`` (freq < N); their union is the
    unfloored index. The residual is the floor's bookkeeping, bounded by
    the sub-floor slice (at sf0.1×10 measured 15 % of postings —
    exactly the singleton free-text cells the floor exists to keep out
    of the probe path).

    ``hashed_keys=True`` gives the QUERYABLE index half the fixed-width
    layout (``key_h = xxhash64(key)`` alongside the raw key; the search
    probes on the hash automatically) — coherent here because the
    floored store is the ingest-bound form, exactly where the hashed
    layout measured ahead (SCALE.md §Round-9). The residual half stays
    plain: it is append-time bookkeeping probed by raw key only.
    """
    # Two writers (index half + residual half) consume the tagged frame;
    # without the checkpoint each write re-runs the whole unpivot +
    # key-window shuffle (Spark reuses exchanges within one job, not
    # across two write actions). Materializing once nearly halves the
    # build; on a cluster truncate_lineage upgrades to a reliable
    # checkpoint when a checkpoint dir is set (see its docstring) — or
    # skip the floor entirely at ingest and use append_floored_index's
    # incremental path, which is the production shape anyway.
    # The (kb, key) count window is satisfied by the kb exchange, so
    # bucketing and counting cost one shuffle together.
    tagged = truncate_lineage(
        _bucketed(build_posting_index(spark, sf_dir, specs), residual_buckets).withColumn(
            "_f", F.count(F.lit(1)).over(Window.partitionBy("kb", "key"))
        )
    )
    above = tagged.filter(F.col("_f") >= min_key_freq).drop("_f", "kb")
    if hashed_keys:
        above = above.withColumn("key_h", F.xxhash64("key"))
    # The index half is partitioned by COMMIT VERSION (`cv`): every
    # append lands its postings under its own cv= directory, so rolling
    # back a torn append (recover_floored_store) is one directory
    # delete instead of a full index rewrite — and readers that want
    # the clean posting schema go through read_floored_index, which
    # drops the bookkeeping column.
    above.withColumn("cv", F.lit(1)).write.partitionBy("cv").mode(
        "error"
    ).parquet(f"{base_dir}/index")
    tagged.filter(F.col("_f") < min_key_freq).drop("_f").withColumn(
        "cv", F.lit(1)
    ).write.partitionBy("kb", "cv").mode("error").parquet(f"{base_dir}/residual")
    # metadata LAST = the build's commit marker (see write_store_meta).
    # residual_buckets/hashed_keys persist so appends can never run
    # under a different modulus or layout than the store was written
    # with (ADVICE r9: a mismatched bucket count would delete the wrong
    # kb= directories); landed table ids make re-appends detectable.
    write_store_meta(
        spark,
        base_dir,
        {
            "min_key_freq": min_key_freq,
            "residual_buckets": residual_buckets,
            "hashed_keys": hashed_keys,
            "version": 1,
            "residual_gen": {},
            "landed_tables": sorted(
                [s.name, s.table_id] for s in specs
            ),
        },
    )


def read_floored_index(spark: SparkSession, base_dir: str) -> DataFrame:
    """The queryable half of a floored store as of its last commit,
    with the commit-version bookkeeping column dropped — what searches
    should read. Only ``cv=`` directories at or below the metadata's
    ``version`` are read (partition-pruned), so a search that runs
    while a commit is in flight, or after one crashed, never sees
    postings a rollback would delete."""
    meta = read_store_meta(spark, base_dir)
    return _read_store_half(spark, base_dir, meta, "index").drop("cv")


def append_floored_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    new_specs: tuple[TableSpec, ...],
    min_key_freq: int | None = None,
    residual_buckets: int | None = None,
) -> None:
    """Extend a :func:`write_floored_index` store with newly-landed
    tables while maintaining the lake-wide frequency floor EXACTLY —
    the maintained ``index`` equals a full floored rebuild (gated by
    ``mjs_index_incremental_floored`` and
    ``tests/test_floored_index.py``).

    Work is bounded by O(new postings + the touched keys' residual
    rows + one semi-join scan each of the index and the residual), in
    one pass (:func:`_plan_postings`): only the touched keys' rows are
    shuffled, the existing index is appended to, never rewritten, and
    the residual gains one delta file (every ``residual_buckets``-th
    commit also compacts, see :func:`_commit`). Cases per new key:

    - already in ``index`` (lake freq was >= N): its new postings
      append directly — the floor can only hold harder;
    - else, combine the new postings with the key's residual rows: at
      >= N the key CROSSES — all its postings move to ``index`` and a
      tombstone in the delta drops them from ``residual``; below N its
      new postings join the residual through the delta.

    Callers own spec disjointness (same contract as
    :func:`append_posting_index`) and the engine ENFORCES it: a table
    id/name already in the store's landed log raises instead of
    silently double-counting its postings toward the floor. Layout
    parameters (``min_key_freq``, ``residual_buckets``,
    ``hashed_keys``) are read from the store's own metadata;
    caller-supplied values are validated against it and a conflict
    raises — an append under a different bucket modulus would delete
    the wrong ``kb=`` directories (ADVICE r9). Pass None (the default)
    to just use the store's parameters. A store without a committed
    metadata version is refused (:func:`read_store_meta`).

    The append is one commit of the store's protocol (:func:`_commit`,
    payload: the landed tables): of any number of concurrent appenders
    exactly one proceeds and the losers raise
    :class:`ConcurrentAppendError` with the store untouched, an
    unresolved earlier commit fences every append, and a crash at ANY
    point is recoverable by :func:`recover_floored_store`.
    """
    meta = read_store_meta(spark, base_dir)
    for name, given in (
        ("min_key_freq", min_key_freq),
        ("residual_buckets", residual_buckets),
    ):
        if given is not None and given != meta[name]:
            raise ValueError(
                f"append_floored_index: {name}={given} conflicts with "
                f"the store's written {name}={meta[name]} ({base_dir})"
            )
    landed_ids = {tid for _n, tid in meta["landed_tables"]}
    landed_names = {n for n, _tid in meta["landed_tables"]}
    dup = sorted(
        s.name for s in new_specs
        if s.table_id in landed_ids or s.name in landed_names
    )
    if dup:
        raise ValueError(
            f"append_floored_index: tables already landed in the "
            f"store: {dup} — re-appending would double-count their "
            f"postings toward the floor ({base_dir})"
        )
    new_p = build_posting_index(spark, sf_dir, new_specs)
    _commit(
        spark,
        base_dir,
        meta,
        {"tables": sorted([s.name, s.table_id] for s in new_specs)},
        lambda: _plan_postings(spark, new_p, base_dir, meta),
    )


def append_floored_postings(
    spark: SparkSession, new_postings: DataFrame, base_dir: str, batch_id: int
) -> None:
    """Land one streaming trigger's batch of (key, table, column, row)
    postings into the index+residual store as one commit
    (:func:`_commit`, payload: ``batch_id``), keeping the lake-wide
    floor exact. Callers own disjointness across batch ids.

    Exactly-once EFFECT on an at-least-once substrate: foreachBatch
    replays batches after failures, so idempotence is manufactured, not
    assumed. A commit a previous incarnation left unfinished is rolled
    back first (:func:`recover_floored_store`), THEN ``landed_batches``
    decides: a replayed batch whose commit reached the metadata rename
    is a no-op, any other re-lands. The version bump and the batch
    marker commit in ONE atomic metadata rename."""
    meta = read_store_meta(spark, base_dir)
    if pending_commit(spark, base_dir, meta) is not None:
        recover_floored_store(spark, base_dir)
        meta = read_store_meta(spark, base_dir)
    if batch_id in meta.get("landed_batches", []):
        return
    _commit(
        spark,
        base_dir,
        meta,
        {"batch_id": int(batch_id)},
        lambda: _plan_postings(spark, new_postings, base_dir, meta),
    )


def _plan_postings(
    spark: SparkSession, new_postings: DataFrame, base_dir: str, meta: dict
) -> tuple[DataFrame, DataFrame]:
    """What landing ``new_postings`` writes, as :func:`_commit`'s plan:
    the postings the index gains and the commit's residual delta.

    One pass over the touched keys (those with a new posting) alone,
    with one shuffle: the frame's key window. The touched keys are
    broadcast undeduplicated, as a semi-join build side may repeat a
    key, to two semi-joins: the index, for the touched keys it already
    holds, and the live residual, for the touched keys' rows; no other
    residual row is shuffled. One frame holds the new postings plus
    those residual rows, each flagged by an existence join against the
    index's touched keys (repeats are harmless there too) and counted
    per key, and it is materialized once, so both writes scan it instead
    of recomputing it. By the store invariant a touched key's count
    there is its lake-wide frequency.

    A touched key ends in the index when the index already holds it or
    its count reaches the floor. Its new postings go to the index, and
    so do its residual rows if it crossed; if it had residual rows, the
    delta tombstones it once, on its first row in ``_n`` order (old
    rows sort first). Every other new posting is a sub-floor row of the
    delta. Untouched keys are never read, so only a touched key can
    move: an over-floor key the append did not touch (external damage
    fsck reports) stays where it is. A touched key left in BOTH halves
    keeps its index rows, and its stale residual rows are tombstoned.
    """
    floor = meta["min_key_freq"]
    new_p = truncate_lineage(new_postings)
    touched = F.broadcast(new_p.select("key"))
    idx_keys = F.broadcast(
        _read_store_half(spark, base_dir, meta, "index")
        .join(touched, "key", "left_semi")
        .select("key")
    )
    old = _read_store_half(spark, base_dir, meta, "residual").join(
        touched, "key", "left_semi"
    )
    per_key = Window.partitionBy("key")
    frame = truncate_lineage(
        new_p.withColumn("_n", F.lit(True))
        .unionByName(old.select(*_POSTING_COLS).withColumn("_n", F.lit(False)))
        .withColumn("_i", F.col("key").isin(idx_keys))
        .withColumn("_f", F.count(F.lit(1)).over(per_key))
        .withColumn("_r", F.row_number().over(per_key.orderBy("_n")))
        .withColumn("_into", F.col("_i") | (F.col("_f") >= floor))
    )
    into, new = F.col("_into"), F.col("_n")
    to_index = frame.filter(into & (new | ~F.col("_i"))).select(*_POSTING_COLS)
    dead = frame.filter(into & ~new & (F.col("_r") == 1)).select("key")
    return to_index, _delta(meta["residual_buckets"], dead, frame.filter(~into & new))


def _delete_version(spark: SparkSession, base_dir: str, version: int) -> None:
    """Delete every file a commit of ``version`` writes — the index's
    and the delta's ``cv={version}`` directories and each bucket's
    ``cv={version}`` generation — plus the aborted-job ``_temporary``
    debris a partitioned write leaves under a half, which a later write
    would otherwise merge into its own output (a commit's index and
    delta writes keep theirs inside ``cv={version}``, but a store may
    hold a partitioned writer's debris). Only ever called for a version
    above the committed one, so nothing the metadata refers to goes."""
    for half in ("index", "delta"):
        fsio.delete(spark, f"{base_dir}/{half}/cv={version}")
        fsio.delete(spark, f"{base_dir}/{half}/_temporary")
    for kb in fsio.listdir(spark, f"{base_dir}/residual"):
        if kb.startswith("kb="):
            fsio.delete(spark, f"{base_dir}/residual/{kb}/cv={version}")
    fsio.delete(spark, f"{base_dir}/residual/_temporary")


def _compact(spark: SparkSession, base_dir: str, meta: dict) -> list[int]:
    """Fold the live residual as of ``meta`` — bucket generations plus
    live deltas, minus tombstoned keys — into generation
    ``cv=version`` of every bucket a live delta touches, one file per
    bucket (:func:`_bucketed`; a bucket left empty gets no directory).
    Returns those buckets."""
    kb_list = [
        int(r["kb"])
        for r in _live_deltas(spark, base_dir, meta).select("kb").distinct().collect()
    ]
    live = _read_store_half(spark, base_dir, meta, "residual").filter(
        F.col("kb").isin(kb_list)
    )
    _bucketed(live.drop("kb"), meta["residual_buckets"]).withColumn(
        "cv", F.lit(int(meta["version"]))
    ).write.partitionBy("kb", "cv").mode("append").parquet(f"{base_dir}/residual")
    return kb_list


def _commit(spark: SparkSession, base_dir: str, meta: dict, payload: dict, plan) -> None:
    """The ONE commit path of the floored store: a table append, a
    streaming trigger and fsck's residual repair all mutate the store
    through here. ``payload`` (an append's ``tables``, a trigger's
    ``batch_id``, or nothing for a repair) rides in the claim marker.
    ``plan()`` returns ``(to_index, delta)``: the postings the index
    gains (or None), and the commit's residual delta (:func:`_delta`).
    A commit only adds files until its commit point. In order, for
    ``v = version + 1``:

    1. claim ``v`` (:func:`claim_commit`) with a fresh token: of any
       number of concurrent writers exactly one proceeds and the losers
       raise :class:`ConcurrentAppendError` with the store untouched; a
       pending earlier commit holds the slot, so it fences everyone;
    2. delete any ``cv=v`` debris an aborted writer left
       (:func:`_delete_version`);
    3. plan;
    4. write the index postings under ``index/cv=v`` and the delta as
       one file under ``delta/cv=v``;
    5. compact, if this commit would otherwise leave
       ``residual_buckets`` live deltas: fold them into new generations
       ``residual/kb=B/cv=v`` of the buckets they touch
       (:func:`_compact`), so every commit adds at most one bucket file
       on average;
    6. check that the claim is still this writer's
       (:func:`_require_live_claim`);
    7. write the metadata — version, the payload's log entry and, after
       a compaction, ``residual_gen`` and ``delta_floor = v`` — in one
       atomic rename: the commit point;
    8. after a compaction, delete the superseded generations and the
       folded deltas.

    No file the committed metadata refers to is deleted or renamed
    before the commit point, and readers see only committed ``cv=``
    directories, so a crash anywhere before it leaves the committed
    store intact: :func:`recover_floored_store` rolls the commit back
    by deleting ``cv=v``. A crash after it leaves only superseded
    generations and folded deltas, which no reader sees and ``fsck
    --repair`` deletes.
    """
    version = int(meta["version"]) + 1
    token = uuid.uuid4().hex
    if not claim_commit(spark, base_dir, version, dict(payload, token=token)):
        raise ConcurrentAppendError(
            f"floored store {base_dir}: commit slot v{version} is taken "
            "by an unresolved commit — a concurrent writer is "
            "mid-commit, a previous one crashed, or this writer's "
            "metadata is stale. Once no writer is live, run "
            "recover_floored_store (CLI: --fsck-store <dir> --repair); "
            "then re-read the store and retry."
        )
    _delete_version(spark, base_dir, version)
    to_index, delta = plan()
    # Both writes go straight into the version's directory, not through
    # a partitionBy over F.lit(version): Spark inlines an int literal
    # into generated code, so every commit would compile its own classes.
    if to_index is not None:
        if meta["hashed_keys"]:  # hashed-layout store: keep it uniform
            to_index = to_index.withColumn("key_h", F.xxhash64("key"))
        to_index.write.mode("error").parquet(f"{base_dir}/index/cv={version}")
    delta.coalesce(1).write.mode("error").parquet(f"{base_dir}/delta/cv={version}")
    out = dict(meta, version=version, delta_floor=_delta_floor(meta))
    compacted = (
        _compact(spark, base_dir, out)
        if version - out["delta_floor"] >= meta["residual_buckets"]
        else None
    )
    if compacted is not None:
        out["residual_gen"] = dict(
            meta["residual_gen"], **{str(kb): version for kb in compacted}
        )
        out["delta_floor"] = version
    _require_live_claim(spark, base_dir, version, token)
    if payload.get("tables"):
        out["landed_tables"] = sorted(meta["landed_tables"] + payload["tables"])
    if payload.get("batch_id") is not None:
        out["landed_batches"] = sorted(
            set(meta.get("landed_batches", [])) | {payload["batch_id"]}
        )
    write_store_meta(spark, base_dir, out)
    if compacted is not None:
        _delete_folded(spark, base_dir, out)


def _delete_folded(spark: SparkSession, base_dir: str, meta: dict) -> None:
    """Delete what the committed ``meta`` no longer reads: residual
    generations at or below its version that are not their bucket's
    live one, and deltas at or below its delta floor. Files above the
    version belong to the next commit, which deletes any debris there
    itself."""
    gen, version = meta["residual_gen"], int(meta["version"])
    for kb in fsio.listdir(spark, f"{base_dir}/residual"):
        if not kb.startswith("kb="):
            continue
        for cv in fsio.listdir(spark, f"{base_dir}/residual/{kb}"):
            g = int(cv[3:]) if cv.startswith("cv=") else None
            if g is not None and g != gen.get(kb[3:], 1) and g <= version:
                fsio.delete(spark, f"{base_dir}/residual/{kb}/{cv}")
    for cv in fsio.listdir(spark, f"{base_dir}/delta"):
        if cv.startswith("cv=") and int(cv[3:]) <= _delta_floor(meta):
            fsio.delete(spark, f"{base_dir}/delta/{cv}")


def _require_live_claim(
    spark: SparkSession, base_dir: str, version: int, token: str
) -> None:
    """Abort an in-flight commit whose claim is no longer its own: the
    marker is gone, or holds another writer's token — i.e.
    `recover_floored_store` ran against this commit while the writer
    was still alive (the marker cannot tell a crashed claimant from a
    slow one, so recovery's contract is "run it only when the claimant
    is known dead"), and perhaps another writer has claimed the slot
    since. Checked right before the commit point, so running recovery
    early becomes a LOUD abort instead of a silent lost update; up to
    that point this writer has only added files, so the store is as the
    recovery left it."""
    data = fsio.read_bytes(spark, _commit_marker(base_dir, version))
    try:
        live = json.loads(data or b"{}").get("token") == token
    except (ValueError, AttributeError):  # torn marker: not this claim
        live = False
    if not live:
        raise ConcurrentAppendError(
            f"append v{version} on {base_dir}: the commit claim was "
            "revoked mid-append (recover_floored_store ran while this "
            "writer was live — it must only run when the claimant is "
            "known dead). The store is as the recovery left it; this "
            f"commit is aborted WITHOUT committing, and its cv={version} "
            "files are deleted by the next commit of that version. "
            "Re-read the store and retry."
        )


def recover_floored_store(spark: SparkSession, base_dir: str) -> dict:
    """Roll back an interrupted commit on a floored store (the pending
    marker :func:`pending_commit` reports): delete every ``cv={v}``
    directory it may have written under ``index/``, ``delta/`` and
    ``residual/kb=*/`` (:func:`_delete_version`), then release the
    claim marker so a retry can re-claim the slot. A commit adds files
    only until its metadata rename, so this restores the committed
    store exactly, whatever point the commit reached; a commit that
    reached the rename is not pending.

    Idempotent and itself crash-safe: every step re-runs cleanly, and
    re-invoking on a healthy store is a no-op (``action: "none"``).
    Returns ``{"action": "none" | "rolled_back", "version": ...}``.
    """
    meta = read_store_meta(spark, base_dir)
    pend = pending_commit(spark, base_dir, meta)
    if pend is None:
        return {"action": "none", "version": meta["version"]}
    _delete_version(spark, base_dir, pend["version"])
    fsio.delete(spark, _commit_marker(base_dir, pend["version"]))
    return {"action": "rolled_back", "version": meta["version"]}


def fsck_floored_store(
    spark: SparkSession, base_dir: str, repair: bool = False
) -> dict:
    """Invariant check (and optional repair) for a floored store.
    Queries stay correct whatever these checks find (the index half is
    authoritative), and a store no code outside this module has
    touched reports all zeros. Both halves are read as of the last
    commit: the committed index directories and the live residual
    (generations plus live deltas, minus tombstoned keys).

    Checks, each O(store) with key-level aggregates:

    - ``double_represented_keys`` — keys present in both halves
      (disjointness violation). With ``repair=True`` their residual
      rows are dropped — the index side is authoritative — by a delta
      that tombstones those keys. The repair is a commit like any
      append (:func:`_commit`, with no index postings): fenced against
      concurrent writers and rolled back by
      :func:`recover_floored_store` if it crashes.
    - ``subfloor_in_index`` / ``overfloor_in_residual`` — keys whose
      own-half frequency contradicts the floor. Unreachable from this
      module's code paths (reported, never auto-repaired: they imply
      external mutation, and moving rows on that evidence could lose
      data).
    - ``duplicate_postings`` — (key, table, column, row) tuples with
      multiplicity > 1 in the index half. A posting is one cell of one
      lake row, unique by construction, so ANY multiplicity means the
      same batch landed twice (the replay artifact ADVICE r10 flagged;
      the commit protocol prevents it going forward, this makes it
      detectable on any store). Reported, never auto-repaired here —
      ``recover_floored_store`` is the sanctioned path for torn
      commits, and external double-lands need operator judgment.
    - ``pending_commit`` — an unresolved claim marker (crash or
      in-flight concurrent writer). With ``repair=True`` it is rolled
      back FIRST via :func:`recover_floored_store`, superseded residual
      generations and folded deltas a crash after a compaction's commit
      point left behind are deleted (:func:`_delete_folded`), and the
      remaining checks run on the recovered store.

    Returns the counts plus ``repaired_rows`` (residual rows dropped)
    and ``recovery`` (the recovery report, when one ran).
    """
    meta = read_store_meta(spark, base_dir)
    out = {
        "double_represented_keys": 0,
        "subfloor_in_index": 0,
        "overfloor_in_residual": 0,
        "duplicate_postings": 0,
        "pending_commit": None,
        "recovery": None,
        "repaired_rows": 0,
    }
    pend = pending_commit(spark, base_dir, meta)
    if pend is not None:
        out["pending_commit"] = pend["version"]
        if repair:
            out["recovery"] = recover_floored_store(spark, base_dir)
            out["pending_commit"] = None
            meta = read_store_meta(spark, base_dir)
    if repair:
        _delete_folded(spark, base_dir, meta)
        # Commit-marker GC: markers at or below the committed version
        # are the commit log, but pending/claim checks only ever read
        # version+1 — an unboundedly maintained store (one marker per
        # streaming trigger) would otherwise pile up small files
        # forever. Retain a bounded tail for auditability.
        for name in fsio.listdir(spark, f"{base_dir}/_commits"):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    k = int(name[1:-5])
                except ValueError:
                    continue
                if k <= meta["version"] - _COMMIT_LOG_RETAIN:
                    fsio.delete(spark, f"{base_dir}/_commits/{name}")
    index = _read_store_half(spark, base_dir, meta, "index")
    residual = _read_store_half(spark, base_dir, meta, "residual")
    floor = meta["min_key_freq"]
    out["duplicate_postings"] = (
        index.groupBy("key", "table", "column", "row")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > 1)
        .count()
    )
    out["subfloor_in_index"] = (
        index.groupBy("key")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") < floor)
        .count()
    )
    out["overfloor_in_residual"] = (
        residual.groupBy("key")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") >= floor)
        .count()
    )
    dup_keys = truncate_lineage(
        residual.select("key").distinct().join(
            index.select("key").distinct(), "key", "left_semi"
        )
    )
    out["double_represented_keys"] = dup_keys.count()
    if not repair or out["double_represented_keys"] == 0:
        return out
    out["repaired_rows"] = (
        residual.join(F.broadcast(dup_keys), "key", "left_semi").count()
    )
    # Drop the stale residual rows: tombstone their keys.
    _commit(
        spark, base_dir, meta, {}, lambda: (None, _delta(meta["residual_buckets"], dup_keys))
    )
    return out


def posting_index_sql(
    specs: tuple[TableSpec, ...] = LAKE_TABLES, min_key_freq: int = 1
) -> str:
    """DuckDB SQL producing the identical index (differential oracle)."""
    selects = []
    for s in specs:
        for col_id, col_name in enumerate(s.string_cols):
            selects.append(
                f"SELECT {normalize_sql(col_name)} AS key, "
                f"CAST({s.table_id} AS INTEGER) AS \"table\", "
                f"CAST({col_id} AS INTEGER) AS \"column\", "
                f"CAST({s.row_col} AS BIGINT) AS row FROM {s.name}"
            )
    union = "\nUNION ALL\n".join(selects)
    base = f"SELECT * FROM (\n{union}\n) WHERE key <> ''"
    if min_key_freq > 1:
        base = (
            f"SELECT * FROM (\n{base}\n) "
            f"QUALIFY COUNT(*) OVER (PARTITION BY key) >= {min_key_freq}"
        )
    return base
