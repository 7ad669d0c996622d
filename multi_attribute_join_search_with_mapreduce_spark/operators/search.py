"""Multi-attribute join search — the engine's flagship operator.

Semantics (the 4-phase contract of SURVEY.md §2.11, shared by the
reference's ``Seq_Search.py:78-93`` and ``Par_Search.py:89-119``):

1. a **match** is a lake ``(table, row)`` whose normalized cells contain
   *all* n query attributes of one query row (``Par_Search.py:249,284``);
2. **column join-score** = number of matches attributed to
   ``(table, column)`` (``Par_Search.py:312-316``);
3. **table join-score** = sum of the table's top-n column scores
   (``Par_Search.py:318-327``);
4. result = top-k tables / top-2k columns by score (``Par_Search.py:329-330``).

Spark-first design — one lazy Catalyst DAG, zero driver collects:

- one search core, :func:`_search_stages`, answers a *batch* of query
  tables in one pass over the posting index; the single search is a
  batch of one. Only the top-k tails differ: the single search's
  ``orderBy().limit()`` plans as ``TakeOrderedAndProject``, the batch
  ranks per ``qid`` with a window. The ``mapkey`` strategy is the
  reference-literal rendition, kept as a differential twin;
- the reference probes Vertica once per query column and collects key
  lists to the driver (``Par_Search.py:172``, ``handlers.py:69-71``);
  here the probe is a **broadcast semi-join** of the posting index
  against the distinct query keys, so keys never leave the executors and
  the parquet scan receives the key filter as a runtime bloom/IN filter;
- the thesis's pre-join reduction trick (drop ``(table,row)`` groups
  with fewer than n matched keys *before* the mapping join,
  ``Par_Search.py:244-250``) is kept — it is an application-level
  semi-join Catalyst cannot invent, and it shrinks the expensive join's
  input by orders of magnitude;
- small sides (query keys, mappings) are explicitly ``broadcast()`` —
  a query table is thousands of rows against a 100 TB index;
- aggregation is partial/final hash agg.

Deterministic divergences from the reference (documented per SURVEY.md
§2.11 "quirks to not replicate blindly"):

- posting dedup keeps the **smallest** column id per ``(table,row,key)``
  (the reference's ``dropDuplicates`` keeps an arbitrary one);
- query rows are deduplicated on the *normalized* attribute tuple, and
  the row identity (``MapKey``) joins attributes with a ``US`` (0x1f)
  separator — the reference's space-joined MapKey conflates distinct
  rows (``Par_Search.py:213-215``);
- ties in scores break on ascending table / column id;
- top-n-per-table defaults to n = attribute count (Par semantics); Seq
  hard-codes 2 (``Object.py:78-79``) and is reachable as ``top_n=2``
  on every entry point (DataFrame, batch, SQL surface, CLI ``--top-n``);
- the pre-join reduction (kept from ``Par_Search.py:244-250``) counts
  *distinct probed keys per (table,row)*, so a query row with
  duplicated attribute values — e.g. ``(k, k)`` — matches a lake row
  only when that row also contains other probed keys. Both strategies,
  the SQL surface, and the DuckDB oracle implement this identically
  (property-tested in ``tests/test_search_properties.py``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.functions.text import normalize_col, normalize_sql

MAPKEY_SEP = "\x1f"
DEFAULT_TOP_K = 20


def _validate_top_n(top_n: int | None) -> None:
    """``top_n=0`` (or negative) would silently rank-filter away every
    column score and return empty results; reject it loudly instead.
    ``None`` remains the Par dialect (rank bound = attribute count)."""
    if top_n is not None and top_n < 1:
        raise ValueError(
            f"top_n must be >= 1, got {top_n!r} (use None for the Par "
            "dialect: rank bound = attribute count)"
        )


@dataclass(frozen=True)
class SearchStages:
    """The four reference phases (SURVEY.md §2.11 / ``log_runtime``) as
    separately materializable sub-DAGs, for phase-level benchmarking."""

    mappings: DataFrame  # import: normalized/deduped query rows, unpivoted
    probed: DataFrame  # query: posting-index probe (semi-join)
    matched: DataFrame  # join_discovery: verified per-attr match rows
    tables: DataFrame  # scoring: top-k table scores
    columns: DataFrame  # scoring: top-2k column scores


def _probe_broadcastable(query_df: DataFrame) -> bool:
    """Auto decision for the query-derived broadcast hints.

    The explicit ``broadcast()`` hints on the probe side bypass
    ``spark.sql.autoBroadcastJoinThreshold`` — correct for the normal
    case (a query table of thousands of rows against a 100 TB index)
    but wrong when a user probes with a FACT-sized query table, where a
    forced broadcast would OOM the driver. The auto path applies
    Catalyst's own rule to the probe's source: hint only when the
    optimizer's size estimate of the RAW query table is within the
    session's broadcast threshold. The raw estimate is a conservative
    UPPER BOUND on the derived key set actually hinted (projection +
    dedup only shrink it), so the check can suppress hints for a wide
    query table whose kilobyte-scale key projection would merit one —
    in that case AQE still converts to broadcast from runtime stats,
    so the cost of the conservatism is one planning round, not a
    missed broadcast.
    """
    spark = query_df.sparkSession
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            thr = int(raw)  # plain bytes, incl. the disabled sentinel "-1"
        except ValueError:
            thr = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    raw
                )
            )
    except Exception:
        thr = 10 << 20  # Spark's default threshold
    if thr <= 0:
        return False  # user disabled auto-broadcast: respect it
    try:
        est = int(
            query_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return True  # no estimate (e.g. local relation): fixture-scale default
    return est <= thr


def _hinter(query_df: DataFrame, broadcast_probe: bool | None):
    """The broadcast-hint applicator for query-derived join sides:
    identity when the probe side must not be forced resident."""
    bcast = (
        _probe_broadcastable(query_df) if broadcast_probe is None else broadcast_probe
    )
    return F.broadcast if bcast else (lambda df: df)


def _probe_index(postings: DataFrame, keys: DataFrame, hint) -> DataFrame:
    """The index-probe semi-join, layout-aware.

    Plain layout: semi-join on the ``key`` string. Hashed layout
    (``write_posting_index(..., hashed_keys=True)``, detected from the
    ``key_h`` column): semi-join on ``xxhash64`` — 8 bytes/row however
    wide the cell values are, and aligned with the hashed index's
    bucketing so the probe scan needs no index-side exchange. A 64-bit
    collision admits a false CANDIDATE row only; every downstream join
    and map lookup keys on the raw string, so results are exact either
    way (collision rows verify against nothing).
    """
    if "key_h" in postings.columns:
        keys_h = keys.select(F.xxhash64("key").alias("key_h")).distinct()
        return postings.join(hint(keys_h), "key_h", "left_semi")
    return postings.join(hint(keys), "key", "left_semi")


def _query_rows(query_df: DataFrame, attrs: list[str], dedup: bool) -> DataFrame:
    """Normalize the query attributes into ``_a0.._a{n-1}``, drop rows
    where any of them normalizes to empty, optionally dedup, and add the
    row identity ``MapKey``. The normalizer's alphabet is ``[a-z0-9 ]``,
    so the US-joined MapKey is injective over the normalized tuple."""
    cols = [f"_a{i}" for i in range(len(attrs))]
    norm = query_df.select(
        *[normalize_col(a).alias(c) for a, c in zip(attrs, cols)]
    )
    for c in cols:
        norm = norm.filter(F.col(c) != "")
    if dedup:
        norm = norm.dropDuplicates()
    return norm.withColumn("MapKey", F.concat_ws(MAPKEY_SEP, *cols))


def _query_mappings(query_df: DataFrame, attrs: list[str]) -> DataFrame:
    """Normalized, deduped query rows unpivoted to (key, MapKey) pairs."""
    norm = _query_rows(query_df, attrs, dedup=True)
    pairs = [
        norm.select(F.col(f"_a{i}").alias("key"), "MapKey") for i in range(len(attrs))
    ]
    return reduce(DataFrame.unionByName, pairs)


def multi_attribute_join_search(
    postings: DataFrame,
    query_df: DataFrame,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    strategy: str = "rare_key",
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(table_scores, column_scores)`` DataFrames.

    ``broadcast_probe``: force (True) or suppress (False) the explicit
    broadcast hints on the query-derived join sides; ``None`` (default)
    decides from the optimizer's size estimate of the query table vs
    ``spark.sql.autoBroadcastJoinThreshold`` (see
    :func:`_probe_broadcastable`) — fact-sized probes degrade to
    AQE-chosen strategies instead of a forced driver-resident build.

    ``top_n``: how many of each table's best column scores sum into its
    table score. ``None`` (default) = ``len(attrs)`` — Par-Search's
    rule (``Par_Search.py:318-327`` keeps col_count ranks). Pass ``2``
    for Seq-Search's semantics, which hard-codes the top TWO column
    scores regardless of attribute count (``Object.py:78-79``:
    ``self.score = sorted(counters)[-1] + sorted(counters)[-2]``). The
    two coincide at n=2 (the reference's only exercised width) and
    diverge for n>2; exposing the knob closes that semantic delta
    instead of silently picking one dialect.

    ``table_scores``: ``(table INT, join_score BIGINT)`` — top-k.
    ``column_scores``: ``(table INT, column INT, join_score BIGINT)`` — top-2k.

    Strategies (identical results, differential-tested against each
    other and the oracle):

    - ``"rare_key"`` (default): selectivity-ordered probing through the
      search core (:func:`_search_stages`) as a batch of one. Each query
      row joins postings on its globally *rarest* attribute value only;
      the remaining attributes are verified against a per-``(table,
      row)`` key set. Partial matches (row hits one common attribute
      but not the rest) never materialize. With a frequent/rare
      attribute mix (e.g. brand × product-name) this cuts the join
      input by orders of magnitude: probing ``part ⨝ part`` on 3
      attributes at sf0.1 went 46s → ~3s.
    - ``"mapkey"``: the direct rendition of the reference's plan
      (``Par_Search.py:244-285``) — join postings to every (key,
      MapKey) pair, then keep ``(table,row,MapKey)`` groups hitting all
      n attributes. Fan-out is Σ freq(attr value) over all query
      attrs, which explodes when an attribute has few distinct values.
    - ``"row"`` / ``"cell"``: the reference's row-wise and cell-wise
      granularity strategies (``main.py:19-21``, ``Seq_Search.py:
      153-166`` row, ``:203-215`` cell). The thesis measured them
      strictly slower than column-wise with identical results, and
      SURVEY.md §3.2 treats all three as granularity variants of one
      contract — probing per row (or per cell) only changes how the
      probe stream is batched, never which ``(table,row)`` groups
      reach n distinct key hits. They are therefore aliases of the
      default probe here (differential-tested in
      ``tests/test_search_properties.py``); a Catalyst plan has no
      per-row round trips to batch differently in the first place.
    """
    _validate_top_n(top_n)
    if strategy in ("rare_key", "row", "cell"):
        st = search_stages(postings, query_df, attrs, k, broadcast_probe, top_n)
        return st.tables, st.columns
    if strategy != "mapkey":
        raise ValueError(f"unknown strategy: {strategy!r}")
    hint = _hinter(query_df, broadcast_probe)
    n = len(attrs)
    rank_n = n if top_n is None else top_n
    mappings = _query_mappings(query_df, attrs)
    keys = mappings.select("key").distinct()

    # Probe: semi-join the index with the (small, broadcast) key set.
    probed = _probe_index(postings, keys, hint)

    # One explicit (table,row) shuffle that every downstream op reuses:
    # hash-partitioning on (table,row) satisfies the dedup groupBy's
    # (table,row,key) clustering (subset rule), the reduction window,
    # and the (table,row,MapKey) match window — without it each of
    # those would re-shuffle the full posting stream.
    deduped = (
        probed.repartition("table", "row")
        .groupBy("table", "row", "key")
        .agg(F.min("column").alias("column"))
    )

    # Pre-join reduction: a (table,row) can only be a match if it hit
    # >= n distinct query keys (Par_Search.py:244-250's trick).
    w_row = Window.partitionBy("table", "row")
    reduced = (
        deduped.withColumn("_cnt", F.count(F.lit(1)).over(w_row))
        .filter(F.col("_cnt") >= n)
        .drop("_cnt")
    )

    # Attribute matched postings to query rows; keep (table,row,MapKey)
    # groups where all n attributes of that query row hit.
    mapped = reduced.join(hint(mappings), "key")
    w_match = Window.partitionBy("table", "row", "MapKey")
    matches = (
        mapped.withColumn("_cnt", F.count(F.lit(1)).over(w_match))
        .filter(F.col("_cnt") >= n)
        .drop("_cnt")
    )

    col_scores_all = matches.groupBy("table", "column").agg(
        F.count(F.lit(1)).alias("join_score")
    )
    w_rank = Window.partitionBy("table").orderBy(
        F.desc("join_score"), F.asc("column")
    )
    top_cols = (
        col_scores_all.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= rank_n)
        .drop("_rn")
    )
    return _top_k(top_cols, k)


def _top_k(top_cols: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """The single search's tail: top-k tables and top-2k columns as
    ``orderBy().limit()``, which plans as ``TakeOrderedAndProject``."""
    table_scores = (
        top_cols.groupBy("table")
        .agg(F.sum("join_score").alias("join_score"))
        .orderBy(F.desc("join_score"), F.asc("table"))
        .limit(k)
    )
    column_scores = top_cols.select("table", "column", "join_score").orderBy(
        F.desc("join_score"), F.asc("table"), F.asc("column")
    ).limit(2 * k)
    return table_scores, column_scores


def search_stages(
    postings: DataFrame,
    query_df: DataFrame,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> SearchStages:
    """Public phase-exposing form of the default (rare_key) search —
    used by ``bench.py`` for the reference's 4-phase wall-clock
    breakdown (``log_runtime``, ``Par_Search.py:16-32``). It runs the
    search core as a batch of one."""
    if broadcast_probe is None:
        # Decide from the raw query table, not from the core's derived
        # query rows (see _probe_broadcastable).
        broadcast_probe = _probe_broadcastable(query_df)
    mappings, probed, matched, top_cols = _search_stages(
        postings, [("", query_df, attrs)], broadcast_probe, top_n
    )
    tables, columns = _top_k(top_cols, k)
    return SearchStages(
        mappings=mappings,
        probed=probed,
        matched=matched.select("table", "column"),
        tables=tables,
        columns=columns,
    )


def _search_stages(
    postings: DataFrame,
    entries: list[tuple],
    broadcast_probe: bool | None,
    top_n: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The search core: the selectivity-ordered (rare-key) pipeline for
    a batch of ``(qid, query_df, attrs[, top_n])`` entries, one lazy DAG.

    Returns ``(mappings, probed, matched, top_cols)``: the unpivoted
    query rows, the deduped probed postings, one row per matched column
    attribution, and the per-``(qid, table)`` rank-filtered column
    scores that the callers' top-k tails consume.

    1. query rows ``(qid, MapKey, _attrs, _n, _rank_n)`` from every
       entry, unioned and deduplicated once; attributes travel as an
       ``array<string>`` so queries of different widths share one DAG;
    2. broadcast-semi-join probe of the posting index with the union
       key set — index-side work depends only on that union, so it is
       paid once per batch, not once per query;
    3. ``freq``: frequency of each probed key, computed straight off the
       cheap pre-dedup probe (the rarest-attribute choice is a
       selectivity heuristic — any consistent frequency source yields
       identical results because verification enforces the semantics);
    4. each ``(qid, MapKey)`` picks its lowest-frequency attribute as
       ``probe_key`` (ties break on key text) — rows with any
       zero-frequency attribute are dropped (they cannot match);
    5. ``kc``: ONE ``(table,row)`` shuffle builds the per-row
       key->column map ``_m`` AND applies the pre-join reduction at the
       batch's narrowest width as a post-aggregation size filter (the
       thesis's window trick, Par_Search.py:244-250, folded into the
       aggregate so no separate window pass);
    6. ``hits`` = kc exploded back to key granularity (fan-out ≤ the
       table's indexed-column count) ⨝ broadcast probe on
       ``key = probe_key``, carrying ``_m`` along — verification and
       column attribution are then native map lookups with NO
       (table,row) self-join. This matters for more than readability:
       a self-join re-aliases expression ids, defeating Spark's
       exchange-reuse rule, so the r1 shape recomputed the probe+dedup
       subtree (and its shuffle) three times per query;
    7. verification rechecks the pre-join reduction at each query's own
       width (``size(_m) >= _n``) and requires every attribute among
       the map's keys; in a batch of more than one entry, a query row
       with a repeated value also needs ``_n`` keys of its own query's
       key set ``_qkeys`` in the map, since ``_m`` holds every entry's
       probed keys; scoring ranks column scores per ``(qid, table)``
       under each entry's bound ``_rank_n`` (entry ``top_n`` >
       batch-wide ``top_n`` > attribute count).

    A broadcast-sized query side is planned in one partition: its
    dedup, key distinct and rarest-key window then need no exchange,
    the query rows stream against the broadcast key frequencies, and
    they carry their metadata (``_attrs``, ``_rank_n``) to the probe
    instead of joining it back on. A fact-sized query side keeps
    AQE-chosen exchanges and joins.
    """
    _validate_top_n(top_n)
    parts = []
    for qid, query_df, attrs, *rest in entries:
        entry_top_n = rest[0] if rest else None
        _validate_top_n(entry_top_n)
        eff_top_n = top_n if entry_top_n is None else entry_top_n
        n = len(attrs)
        rank_n = n if eff_top_n is None else eff_top_n
        norm = _query_rows(query_df, attrs, dedup=False)
        parts.append(
            norm.select(
                F.lit(qid).alias("qid"),
                "MapKey",
                F.array(*[f"_a{i}" for i in range(n)]).alias("_attrs"),
                F.lit(n).alias("_n"),
                F.lit(rank_n).alias("_rank_n"),
            )
        )
    qrows = reduce(DataFrame.unionByName, parts)
    # A fact-sized batch degrades to AQE-chosen strategies instead of a
    # forced broadcast.
    hint = _hinter(qrows, broadcast_probe)
    small = hint is F.broadcast
    if small:
        qrows = qrows.coalesce(1)
    # ONE dedup over the union instead of one dropDuplicates() shuffle
    # per entry. (qid, MapKey) determines every other column, so a
    # full-row dedup keeps the same rows as a (qid, MapKey) subset dedup
    # without the subset form's first() aggregates, which cost a batch
    # of one extra Spark jobs.
    qrows = qrows.dropDuplicates()
    carried = ("_n", "_attrs", "_rank_n") if small else ()
    melted = qrows.select(
        "qid", "MapKey", *(carried or ("_n",)), F.explode("_attrs").alias("key")
    )
    keys = melted.select("key").distinct()

    probed = _probe_index(postings, keys, hint)

    # Probe-key selection works off the raw (pre-dedup) probe: the index
    # is persisted, so this branch is a cache scan + one small shuffle
    # on key — it shares nothing heavy with the match pipeline below.
    freq = probed.groupBy("key").agg(F.count(F.lit(1)).alias("_freq"))
    with_freq = (
        F.broadcast(freq).join(melted, "key") if small else freq.join(melted, "key")
    )
    w_q = Window.partitionBy("qid", "MapKey")
    rarest = (
        with_freq.withColumn(
            "_rn", F.row_number().over(w_q.orderBy(F.asc("_freq"), F.asc("key")))
        )
        .withColumn("_n_present", F.count(F.lit(1)).over(w_q))
        .filter((F.col("_rn") == 1) & (F.col("_n_present") == F.col("_n")))
        .select("qid", "MapKey", F.col("key").alias("probe_key"), *carried)
    )
    probe = rarest if small else rarest.join(qrows, ["qid", "MapKey"])
    own_keys = F.lit(True)
    if len(entries) > 1:
        # Only a row with a repeated value can pass the checks below on
        # a batch-mate's key, so only such rows carry their key set.
        qkeys = melted.groupBy("qid").agg(F.collect_set("key").alias("_qkeys"))
        probe = probe.join(hint(qkeys), "qid").withColumn(
            "_qkeys",
            F.when(F.size(F.array_distinct("_attrs")) < F.col("_n"), F.col("_qkeys")),
        )
        own_keys = F.col("_qkeys").isNull() | (
            F.size(F.array_intersect(F.map_keys("_m"), "_qkeys")) >= F.col("_n")
        )

    # THE (table,row) shuffle — the only fact-sized exchange in the
    # pipeline. Dedup (min column per key) and the per-row key->column
    # map build both run on it (groupBy(table,row[,key]) clustering is
    # satisfied by hashpartitioning(table,row)).
    deduped = (
        probed.repartition("table", "row")
        .groupBy("table", "row", "key")
        .agg(F.min("column").alias("column"))
    )
    # key->column MAP rather than an array of structs: membership tests
    # and column attribution become GetMapValue / array_except —
    # whole-stage-codegen expressions — where higher-order functions
    # (filter, forall) are CodegenFallback, interpreted per hit
    # (measured 2s of the 3s 3-attr search when the query table is the
    # lake table itself and every row verifies). Keys are unique per
    # (table,row) by the dedup aggregate, so the map is well-defined.
    kc = (
        deduped.groupBy("table", "row")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("key", "column"))).alias("_m")
        )
        .filter(F.size("_m") >= min(len(e[2]) for e in entries))
    )

    hits = kc.select(
        "table", "row", "_m", F.explode(F.map_keys("_m")).alias("key")
    ).join(hint(probe), F.col("key") == F.col("probe_key"))
    verified = hits.filter(
        (F.size("_m") >= F.col("_n"))
        & (F.size(F.array_except("_attrs", F.map_keys("_m"))) == 0)
        & own_keys
    )

    matched = verified.select(
        "qid", "_rank_n", "table", "_m", F.explode("_attrs").alias("_mk")
    ).select("qid", "_rank_n", "table", F.col("_m")[F.col("_mk")].alias("column"))

    # _rank_n is constant per qid, so grouping on it adds no groups; in
    # a batch of one it stays a literal, and the rank filter becomes a
    # WindowGroupLimit that trims rows before the window's shuffle.
    col_scores_all = matched.groupBy("qid", "_rank_n", "table", "column").agg(
        F.count(F.lit(1)).alias("join_score")
    )
    w_rank = Window.partitionBy("qid", "table").orderBy(
        F.desc("join_score"), F.asc("column")
    )
    top_cols = (
        col_scores_all.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= F.col("_rank_n"))
        .drop("_rn", "_rank_n")
    )
    return melted.select("qid", "MapKey", "_n", "key"), deduped, matched, top_cols


def multi_attribute_join_search_batch(
    postings: DataFrame,
    batch: list[tuple],
    k: int = DEFAULT_TOP_K,
    broadcast_probe: bool | None = None,
    top_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Amortized batch form of the flagship search: B query tables
    answered in ONE pass over the posting index.

    Returns ``(tables, columns)`` with a leading ``qid`` column; per
    ``qid`` the rows equal the single-query search exactly
    (differential-tested query-by-query and against the SQL oracle).

    Why this exists: at 100 TB the dominant cost is the index-side work
    — the probe scan, the ``(table,row)`` shuffle, and the per-row
    key/column-set build. Those depend only on the UNION of probed
    keys, not on which query contributed them, so the batch runs them
    once and the per-query work (rarest-attribute choice, verification,
    scoring) rides on broadcast-sized query metadata. Exchanges in the
    plan are CONSTANT in B (gated by ``tests/test_search_batch.py``);
    B sequential searches would pay the fact-sized shuffle B times.

    The single search is this pipeline with one entry: both run the
    search core :func:`_search_stages`. Only the top-k tail differs —
    here a per-``qid`` window instead of ``orderBy().limit()``.

    Heterogeneous dialects: each batch entry may carry its own scoring
    rank bound as an optional 4th element —
    ``(qid, query_df, attrs, entry_top_n)`` — so one batch can mix a
    Seq-dialect caller (``top_n=2``) with Par-default callers. The
    bound rides the broadcast query metadata as ``_rank_n`` (like
    ``_n``), so the shared index-side plan is unchanged. Precedence:
    entry ``top_n`` > batch-wide ``top_n`` > that entry's attr count.
    """
    _, _, _, top_cols = _search_stages(postings, batch, broadcast_probe, top_n)
    w_tab = Window.partitionBy("qid").orderBy(F.desc("join_score"), F.asc("table"))
    table_scores = (
        top_cols.groupBy("qid", "table")
        .agg(F.sum("join_score").alias("join_score"))
        .withColumn("_rn", F.row_number().over(w_tab))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("qid", F.desc("join_score"), F.asc("table"))
    )
    w_col = Window.partitionBy("qid").orderBy(
        F.desc("join_score"), F.asc("table"), F.asc("column")
    )
    column_scores = (
        top_cols.withColumn("_rn", F.row_number().over(w_col))
        .filter(F.col("_rn") <= 2 * k)
        .drop("_rn")
        .orderBy("qid", F.desc("join_score"), F.asc("table"), F.asc("column"))
    )
    return table_scores, column_scores


def join_search_batch_sql(
    index_sql: str,
    batch: list[tuple],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> str:
    """DuckDB oracle for the batch search: the union of per-query
    single-search oracles, each tagged with its qid — the batch
    semantics ARE per-query semantics, only the execution is shared.
    ``top_n`` applies the Seq scoring dialect batch-wide; a 4th entry
    element overrides it per query (mirrors
    :func:`multi_attribute_join_search_batch`)."""
    _validate_top_n(top_n)
    parts = []
    for entry in batch:
        qid, tbl, attrs = entry[0], entry[1], entry[2]
        entry_top_n = entry[3] if len(entry) > 3 else None
        eff = entry_top_n if entry_top_n is not None else top_n
        parts.append(
            f"SELECT '{qid}' AS qid, * FROM "
            f"({join_search_sql(index_sql, tbl, attrs, k, result, eff)})"
        )
    union = "\nUNION ALL\n".join(parts)
    order = (
        'qid, join_score DESC, "table" ASC'
        if result == "tables"
        else 'qid, join_score DESC, "table" ASC, "column" ASC'
    )
    return f"SELECT * FROM (\n{union}\n) ORDER BY {order}"


def join_search_sql(
    index_sql: str,
    query_table: str,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> str:
    """DuckDB SQL computing the identical result (differential oracle).

    ``index_sql`` is a SELECT producing ``(key, table, column, row)``
    (see :func:`..index.posting_index_sql`); ``result`` picks which of
    the two outputs to return ('tables' or 'columns'); ``top_n``
    mirrors :func:`multi_attribute_join_search`'s scoring-rank knob
    (None = len(attrs) = Par dialect; 2 = Seq dialect).
    """
    _validate_top_n(top_n)
    n = len(attrs)
    rank_n = n if top_n is None else top_n
    norm_cols = ", ".join(
        f"{normalize_sql(a)} AS _a{i}" for i, a in enumerate(attrs)
    )
    nonempty = " AND ".join(f"_a{i} <> ''" for i in range(len(attrs)))
    mapkey = ", ".join(f"_a{i}" for i in range(len(attrs)))
    key_union = "\nUNION ALL\n".join(
        f"SELECT _a{i} AS key, MapKey FROM qnorm" for i in range(len(attrs))
    )
    final = (
        """
SELECT "table", CAST(SUM(join_score) AS BIGINT) AS join_score
FROM top_cols GROUP BY "table"
ORDER BY join_score DESC, "table" ASC
LIMIT {k}
""".format(k=k)
        if result == "tables"
        else """
SELECT "table", "column", join_score FROM top_cols
ORDER BY join_score DESC, "table" ASC, "column" ASC
LIMIT {kk}
""".format(kk=2 * k)
    )
    return f"""
WITH postings AS ({index_sql}),
qraw AS (SELECT DISTINCT * FROM (
    SELECT {norm_cols} FROM {query_table}
) WHERE {nonempty}),
qnorm AS (SELECT *, concat_ws(chr(31), {mapkey}) AS MapKey FROM qraw),
mappings AS ({key_union}),
probed AS (
    SELECT p."table", p.row, p.key, MIN(p."column") AS "column"
    FROM postings p WHERE p.key IN (SELECT DISTINCT key FROM mappings)
    GROUP BY p."table", p.row, p.key
),
reduced AS (
    SELECT * FROM probed
    QUALIFY COUNT(*) OVER (PARTITION BY "table", row) >= {n}
),
matches AS (
    SELECT r."table", r.row, r."column", m.MapKey
    FROM reduced r JOIN mappings m ON r.key = m.key
    QUALIFY COUNT(*) OVER (PARTITION BY r."table", r.row, m.MapKey) >= {n}
),
col_scores AS (
    SELECT "table", "column", CAST(COUNT(*) AS BIGINT) AS join_score
    FROM matches GROUP BY "table", "column"
),
top_cols AS (
    SELECT "table", "column", join_score FROM col_scores
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY "table" ORDER BY join_score DESC, "column" ASC
    ) <= {rank_n}
)
{final}
"""
