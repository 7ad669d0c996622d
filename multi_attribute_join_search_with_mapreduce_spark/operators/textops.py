"""Text analysis + deduplication operators over the ``documents`` fixture
(SURVEY.md §7 M5 — the LLM-training-data-pipeline extensions).

All hot-path logic is native Spark expressions / higher-order functions
(JVM-side, codegen): tokenization via ``split``/``filter``, shingling
via ``sequence``+``transform``, MinHash via ``md5`` over shingles with
lexicographic MIN. ``md5`` is used as the portable hash everywhere —
identical hex output in Spark and DuckDB, so every operator here is
fully differential-testable, including MinHash-LSH.

Scale notes: everything is per-row narrow work until the final
aggregation; LSH candidate generation joins on band buckets (shuffle on
band hash — bounded by bands×docs, not docs²), never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.functions.text import (
    STOPWORDS,
    normalize_col,
    normalize_sql,
)
from multi_attribute_join_search_with_mapreduce_spark.index import truncate_lineage
from multi_attribute_join_search_with_mapreduce_spark.registry import QuerySpec
from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

# --- shared token helpers (plain whitespace tokens, not stopword-filtered) --

def _tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


_TOKENS_SQL = r"regexp_split_to_array(trim(text), '\s+')"


# --- exact dedup -----------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content hash: survivor = smallest doc_id per hash."""
    d = load_table(spark, "documents", sf)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- token counting / quality stats ---------------------------------------

def token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, "documents", sf)
    toks = _tokens(F.col("text"))
    tok_lens = F.transform(toks, F.length)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_toks = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(
            F.aggregate(tok_lens, F.lit(0), lambda acc, x: acc + x).cast("double") / n_toks, 4
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_toks, 4).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

TOKEN_STATS_SQL = f"""
SELECT doc_id,
  CAST(LENGTH(text) AS INTEGER) AS n_chars,
  CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
  ROUND(CAST(list_sum(list_transform({_TOKENS_SQL}, t -> LENGTH(t))) AS DOUBLE)
        / len({_TOKENS_SQL}), 4) AS avg_token_len,
  ROUND(CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
        / len({_TOKENS_SQL}), 4) AS stopword_ratio,
  ROUND(CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        / LENGTH(text), 4) AS punct_ratio
FROM documents
"""


def token_count_by_source(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, "documents", sf)
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.size(_tokens(F.col("text")))).alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


TOKEN_COUNT_SQL = f"""
SELECT source, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
  COUNT(*) AS n_docs
FROM documents GROUP BY source ORDER BY source
"""


def token_count_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """`token_count_by_source` re-expressed through ``mapInArrow`` with
    a PURE-pyarrow kernel (``pc.split_pattern_regex`` +
    ``list_value_length`` — vectorized C++, no Python row loop and no
    pandas materialization): the lowest-overhead Python-boundary API,
    for kernels already speaking Arrow (tokenizers, model runtimes).
    Same oracle as the native twin, so the two are interchangeable; the
    native expression path remains the default (JVM-side, codegen).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, "documents", sf).select("source", "text")

    def kernel(batches):
        for batch in batches:
            txt = pc.utf8_trim_whitespace(batch.column("text"))
            toks = pc.split_pattern_regex(txt, r"\s+")
            n = pc.list_value_length(toks).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column("source"), n], ["source", "n_tok"]
            )

    return (
        d.mapInArrow(kernel, "source string, n_tok long")
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


# --- language identification (n-gram/stopword heuristic) -------------------

# Tiny per-language function-word lists; the *heuristic* (argmax of
# function-word hit ratio) is the operator — lists are deliberately small.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for", "with", "are"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es": ("el", "la", "los", "las", "que", "de", "es", "un", "una", "para"),
    "fr": ("le", "la", "les", "et", "est", "que", "une", "pour", "dans", "des"),
}


def lang_pred_col(text: Column) -> Column:
    """The n-gram-marker language prediction as a reusable expression
    (shared by :func:`lang_id` and the curation pipeline's lang gate)."""
    toks = _tokens(F.lower(text))

    def marker_hits(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        # single-param lambda: a 2-param lambda means (element, index) to F.filter
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    hits = {lang: marker_hits(words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order breaks ties deterministically
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return pred


def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, "documents", sf)
    return d.select("doc_id", "lang", lang_pred_col(F.col("text")).alias("pred_lang"))


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"t -> t IN ({words})))"
    )


LANG_ID_SQL = (
    "SELECT doc_id, lang, CASE WHEN best = 0 THEN 'und' "
    + " ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    + " END AS pred_lang FROM (SELECT doc_id, lang, "
    + ", ".join(f"{_lang_hits_sql(lang)} AS h_{lang}" for lang in LANG_MARKERS)
    + ", GREATEST("
    + ", ".join(f"h_{lang}" for lang in LANG_MARKERS)
    + ") AS best FROM documents)"
)


# --- document fingerprint --------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Content fingerprint of the *normalized* text (stable under case,
    punctuation and stopword noise) — the dedup-friendly identity."""
    d = load_table(spark, "documents", sf)
    return d.select(
        "doc_id", F.md5(normalize_col("text")).alias("fingerprint")
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, md5({normalize_sql('text')}) AS fingerprint FROM documents
"""


# --- MinHash + LSH near-duplicate detection --------------------------------

N_HASHES = 8
N_BANDS = 4  # 2 rows per band
SHINGLE_W = 3


def _shingles(col: Column) -> Column:
    """3-word shingles (whole text as one shingle for docs under 3 tokens).

    Built from ``zip_with`` over shifted ``slice``s of the token array —
    NOT ``transform(sequence, i -> element_at(tokens, i))``: inside a
    lambda the captured ``tokens`` expression is re-evaluated per
    element, so the element_at formulation re-runs the regex split
    O(tokens) times per row (measured ~20x slower end-to-end).
    """
    toks = _tokens(col)
    n = F.size(toks)
    shift1 = F.slice(toks, 2, F.greatest(n - 1, F.lit(1)))
    shift2 = F.slice(toks, 3, F.greatest(n - 2, F.lit(1)))
    tri = F.zip_with(
        F.zip_with(toks, shift1, lambda x, y: F.concat_ws(" ", x, y)),
        shift2,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    full = F.slice(tri, 1, F.greatest(n - (SHINGLE_W - 1), F.lit(1)))
    return F.when(n >= SHINGLE_W, full).otherwise(F.array(F.array_join(toks, " ")))


_SHINGLES_SQL = f"""
CASE WHEN len({_TOKENS_SQL}) >= {SHINGLE_W} THEN
  list_transform(
    generate_series(1, len({_TOKENS_SQL}) - {SHINGLE_W - 1}),
    i -> concat_ws(' ', {_TOKENS_SQL}[i], {_TOKENS_SQL}[i + 1], {_TOKENS_SQL}[i + 2])
  )
ELSE [array_to_string({_TOKENS_SQL}, ' ')] END
"""


def _minhash_sql(seed: int) -> str:
    """Portable MinHash: lexicographic min of md5(seed || shingle)."""
    return (
        f"list_min(list_transform({_SHINGLES_SQL}, s -> md5(concat('{seed}:', s))))"
    )


def signatures_from_docs(d: DataFrame, persist: bool = True) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{N_HASHES-1} from any
    ``(doc_id, text)`` frame — the frame-level kernel shared by the
    batch path and the streaming ingest (`stream_near_dup_ingest`).

    Two-stage: the shingle array is materialized once (persisted), then
    the N_HASHES mins are computed over the in-memory array. Inlining
    the shingle construction into each hash expression instead doubles
    end-to-end cost (the token/zip work runs once per seed). Micro-batch
    callers pass ``persist=False`` (the frame is consumed once inside a
    foreachBatch whose lifetime Spark manages)."""
    shingled = d.select("doc_id", _shingles(F.col("text")).alias("_shingles"))
    if persist:
        shingled = shingled.persist()

    def mh(seed: int) -> Column:
        return F.array_min(
            F.transform(F.col("_shingles"), lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
        ).alias(f"mh{seed}")

    return shingled.select("doc_id", *[mh(s) for s in range(N_HASHES)])


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc MinHash signatures of the ``documents`` table (the
    lake-path wrapper over :func:`signatures_from_docs`)."""
    return signatures_from_docs(load_table(spark, "documents", sf))


def _bands_from_sigs(with_sig: DataFrame) -> DataFrame:
    """Derive LSH band buckets from a signature frame via posexplode —
    a single narrow pass, no per-band union (which would recompute the
    signatures once per band branch)."""
    rows_per_band = N_HASHES // N_BANDS
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    return with_sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    ).withColumn("band", F.col("band").cast("int"))


def minhash_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc LSH band buckets: (doc_id, band, band_hash).

    The signature frame is persisted before banding: otherwise Catalyst's
    projection collapse inlines all 8 minhash expression trees into the
    band-hash generator, the combined tree falls out of whole-stage
    codegen, and evaluation goes interpreted (observed ~100x slower).
    """
    return _bands_from_sigs(minhash_signatures(spark, sf).persist())


def _minhash_bands_sql() -> str:
    rows_per_band = N_HASHES // N_BANDS
    selects = []
    for b in range(N_BANDS):
        parts = ", ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        selects.append(
            f"SELECT doc_id, CAST({b} AS INTEGER) AS band, "
            f"md5(concat_ws('|', {parts})) AS band_hash FROM sigs"
        )
    sig_cols = ", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_HASHES))
    union = "\nUNION ALL\n".join(selects)
    return f"WITH sigs AS (SELECT doc_id, {sig_cols} FROM documents)\n{union}"


MINHASH_BANDS_SQL = _minhash_bands_sql()


def score_pairs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, est_jaccard)`` for candidate pairs against a
    signature frame (``doc_id, mh0..mh{N_HASHES-1}``): the estimate is
    the fraction of agreeing minhash components. The ONE scoring
    definition shared by the full build, the delta build, and the
    streaming ingest — the three are gate-compared against each other,
    so a drift in rounding or agreement math must be impossible by
    construction."""
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(N_HASHES)],
    )
    agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(N_HASHES)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / N_HASHES, 4).alias("est_jaccard"),
        )
    )


def near_dup_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate near-duplicate pairs + estimated Jaccard similarity.

    LSH: docs sharing any band bucket become candidates (join on
    band_hash — never a cross join); the estimate is the fraction of
    agreeing minhash components.
    """
    # One signature computation, pinned: the band self-join and both
    # estimate joins would otherwise each recompute the md5-per-shingle
    # work (observed 6x slowdown without the persist).
    with_sig = minhash_signatures(spark, sf).persist()
    bands = _bands_from_sigs(with_sig)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return score_pairs(pairs, with_sig)


def _near_dup_sql() -> str:
    # MATERIALIZED CTEs (r12, oracle-side only): DuckDB 1.0 inlines
    # these CTEs at every reference, so the shingle+md5 MinHash tree
    # re-evaluated once per band branch and once per join side (~10x),
    # and every oracle embedding this SQL inside a recursive CTE
    # (graph `_cc_ctes`) re-ran it per fixpoint iteration — the r11
    # driver verify timed out on exactly these gates. The hint pins
    # one evaluation; results are identical by definition.
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, x -> md5(concat('{s}:', x)))) AS mh{s}"
        for s in range(N_HASHES)
    )
    rows_per_band = N_HASHES // N_BANDS
    band_selects = []
    for b in range(N_BANDS):
        parts = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {parts})) AS band_hash FROM sigs"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_HASHES)
    )
    return f"""
WITH shingled AS MATERIALIZED (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
sigs AS MATERIALIZED (SELECT doc_id, {sig_cols} FROM shingled),
bands AS MATERIALIZED ({bands_union}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  ROUND(CAST({agree} AS DOUBLE) / {N_HASHES}, 4) AS est_jaccard
FROM pairs
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
"""


NEAR_DUP_SQL = _near_dup_sql()


# Fraction of the fixture treated as the "newly arrived" batch for the
# incremental-maintenance entry (content-keyed, like every split here).
_DELTA_MOD = 10


def near_dup_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup maintenance: candidate pairs that involve at
    least one NEWLY ARRIVED document — the append-path counterpart of
    :func:`near_dup_candidates`, mirroring the posting index's
    append-only maintenance (`index.py:append_posting_index`).

    A corpus that re-LSHes everything per ingest does O(corpus) work per
    batch; the incremental form joins only bands(new) ⨝ bands(all), so
    the per-batch cost is O(|new| · bucket_size). Old-vs-old pairs were
    emitted by earlier batches (equivalence is asserted in
    tests/test_text.py: full-corpus candidates == base-only candidates ∪
    this delta). The fixture's "new batch" is ``doc_id % {_DELTA_MOD}
    == 0``; in production it is the ingest partition.

    Pair orientation is normalized with least/greatest — a new doc can
    sit on either side of an old one — and same-band duplicates dedup
    exactly as in the full build.
    """
    with_sig = minhash_signatures(spark, sf).persist()
    bands = _bands_from_sigs(with_sig)
    new_bands = bands.filter(F.col("doc_id") % _DELTA_MOD == 0)
    a, b = new_bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return score_pairs(pairs, with_sig)


def _near_dup_delta_sql() -> str:
    sig_cols = ", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_HASHES))
    rows_per_band = N_HASHES // N_BANDS
    band_selects = []
    for b in range(N_BANDS):
        parts = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {parts})) AS band_hash FROM sigs"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_HASHES)
    )
    return f"""
WITH sigs AS (SELECT doc_id, {sig_cols} FROM documents),
bands AS ({bands_union}),
pairs AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                  GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id <> b.doc_id
  WHERE a.doc_id % {_DELTA_MOD} = 0
)
SELECT doc_a, doc_b,
  ROUND(CAST({agree} AS DOUBLE) / {N_HASHES}, 4) AS est_jaccard
FROM pairs
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
"""


NEAR_DUP_DELTA_SQL = _near_dup_delta_sql()


# --- incremental exact dedup via a Bloom-filter membership prefilter --------

# m bits / k probes. k = 4 because md5's 32 hex chars split into exactly
# four independent 8-hex (32-bit) words — no re-hashing per probe. m is
# sized for the fixtures (sf0.1 base ≈ 4.5k hashes → ~24% fill → FP ≈
# 0.3%); production sizes m to the corpus (m ≈ 14.4·n bits for 0.1% FP)
# and shards the filter, which stays a broadcastable few hundred MB even
# at 10^10 documents — the whole point vs. a full-corpus anti-join per
# ingest batch.
_BLOOM_BITS = 65536
_BLOOM_K = 4


def _bloom_positions(hcol: Column, m: int) -> list[Column]:
    """k bit positions for a 32-hex-char md5 content hash (portable:
    both engines parse the same hex substrings)."""
    return [
        F.conv(F.substring(hcol, 1 + 8 * j, 8), 16, 10).cast("long") % m
        for j in range(_BLOOM_K)
    ]


def dedup_exact_delta(
    spark: SparkSession, sf: str, m: int = _BLOOM_BITS
) -> DataFrame:
    """Incremental exact dedup: classify each NEWLY ARRIVED document
    against the already-ingested base corpus using a Bloom-filter
    membership prefilter — the exact-dedup counterpart of
    :func:`near_dup_delta` (same batch convention: ``doc_id %
    {_DELTA_MOD} == 0`` is the new batch; production uses the ingest
    partition).

    The base corpus' content hashes are folded into an m-bit Bloom
    filter materialized AS DATA — ``⌈m/63⌉`` ``(word_idx, word)`` rows via
    one ``bit_or`` aggregate (63 bits per word: DuckDB raises on
    ``1 << 63`` signed overflow where Spark wraps, so bit 63 is never
    used) — and broadcast to the probe side. Only
    probes the filter cannot rule out (``bloom_maybe``) reach the
    confirm join against the base hash table; a definite-miss batch row
    never shuffles corpus-sized state. Per-batch cost is O(|batch|) +
    |candidates|·join, vs. the O(corpus) anti-join a naive re-dedup
    pays per ingest — the same append-path story as
    `index.py:append_posting_index`.

    Exactness is preserved: the filter has no false negatives by
    construction, and every positive is confirmed by the join, so false
    positives cost a probe but never a wrong answer. The DuckDB oracle
    recomputes BOTH the filter (same bit arithmetic) and exact
    membership from the full corpus — a false negative on the Spark
    side would surface as an ``in_base`` value mismatch, so the gate is
    end-to-end, not self-referential. ``bloom_sound`` (no-false-negative
    invariant, must be uniformly TRUE) rides the output per the
    self-validation recipe.

    Output per new-batch document: content hash, the filter's verdict,
    exact base membership + surviving base doc, and a three-way status
    (``dup_of_base`` / ``dup_in_batch`` / ``unique``).
    """
    d = (
        load_table(spark, "documents", sf)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("text_hash"))
    )
    is_new = F.col("doc_id") % _DELTA_MOD == 0
    base = d.filter(~is_new)
    new = d.filter(is_new)

    base_pos = base.select(
        F.explode(F.array(*_bloom_positions(F.col("text_hash"), m))).alias("pos")
    )
    words = base_pos.groupBy(F.expr("pos DIV 63").alias("word_idx")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")
        ).alias("word")
    )

    probe = new.select(
        "doc_id",
        "text_hash",
        F.explode(F.array(*_bloom_positions(F.col("text_hash"), m))).alias("pos"),
    ).withColumn("word_idx", F.expr("pos DIV 63"))
    bloom = (
        probe.join(F.broadcast(words), "word_idx", "left")
        .groupBy("doc_id", "text_hash")
        .agg(
            F.bool_and(
                F.expr(
                    "(shiftright(coalesce(word, CAST(0 AS BIGINT)),"
                    " CAST(pos % 63 AS INT)) & 1) = 1"
                )
            ).alias("bloom_maybe")
        )
    )

    base_hashes = base.groupBy("text_hash").agg(
        F.min("doc_id").alias("base_keep_doc_id")
    )
    # Only bloom-positive probes pay the confirm join; definite misses
    # are appended back untouched (the filter guarantees no member is
    # among them — the invariant the oracle's full recompute checks).
    confirmed = bloom.filter(F.col("bloom_maybe")).join(
        base_hashes, "text_hash", "left"
    )
    misses = bloom.filter(~F.col("bloom_maybe")).withColumn(
        "base_keep_doc_id", F.lit(None).cast("long")
    )
    out = confirmed.unionByName(misses)

    batch_min = F.min("doc_id").over(Window.partitionBy("text_hash"))
    in_base = F.col("base_keep_doc_id").isNotNull()
    return out.select(
        "doc_id",
        "text_hash",
        "bloom_maybe",
        in_base.alias("in_base"),
        "base_keep_doc_id",
        F.when(in_base, F.lit("dup_of_base"))
        .when(F.col("doc_id") > batch_min, F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
        .alias("status"),
        (F.col("bloom_maybe") | ~in_base).alias("bloom_sound"),
    )


def _dedup_exact_delta_sql(m: int = _BLOOM_BITS) -> str:
    pos_exprs = " UNION ALL ".join(
        f"SELECT doc_id, text_hash, ('0x' || substring(text_hash, {1 + 8 * j}, 8))::BIGINT % {m} AS pos FROM {{src}}"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents WHERE text IS NOT NULL
),
base AS (SELECT * FROM d WHERE doc_id % {_DELTA_MOD} <> 0),
newd AS (SELECT * FROM d WHERE doc_id % {_DELTA_MOD} = 0),
base_pos AS ({pos_exprs.format(src="base")}),
words AS (
  SELECT pos // 63 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS word
  FROM base_pos GROUP BY pos // 63
),
probe_pos AS ({pos_exprs.format(src="newd")}),
bloom AS (
  SELECT p.doc_id, p.text_hash,
         BOOL_AND(((COALESCE(w.word, 0) >> CAST(p.pos % 63 AS INTEGER)) & 1) = 1)
           AS bloom_maybe
  FROM probe_pos p LEFT JOIN words w ON w.word_idx = p.pos // 63
  GROUP BY p.doc_id, p.text_hash
),
base_hashes AS (
  SELECT text_hash, MIN(doc_id) AS base_keep_doc_id FROM base GROUP BY text_hash
)
SELECT b.doc_id, b.text_hash, b.bloom_maybe,
       bh.base_keep_doc_id IS NOT NULL AS in_base,
       bh.base_keep_doc_id,
       CASE WHEN bh.base_keep_doc_id IS NOT NULL THEN 'dup_of_base'
            WHEN b.doc_id > MIN(b.doc_id) OVER (PARTITION BY b.text_hash)
              THEN 'dup_in_batch'
            ELSE 'unique' END AS status,
       (b.bloom_maybe OR bh.base_keep_doc_id IS NULL) AS bloom_sound
FROM bloom b LEFT JOIN base_hashes bh ON bh.text_hash = b.text_hash
"""


DEDUP_EXACT_DELTA_SQL = _dedup_exact_delta_sql()


# --- URL canonicalization + dedup -------------------------------------------

def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL as a pure native expression
    (regexp split + higher-order array ops — no UDF, stays in codegen):

    - scheme + host lowercased; ``http`` folded to ``https`` (the
      standard crawl-dedup choice — because of the fold, both default
      ports ``:80``/``:443`` are stripped);
    - leading ``www.`` dropped;
    - duplicate slashes in the path collapsed, trailing slash dropped;
    - fragment dropped;
    - query params split, tracking params (``utm_*``, ``fbclid``,
      ``gclid``) removed, remainder sorted so param order is
      insignificant; empty query drops the ``?``.

    Deliberately NOT normalized: non-default ports, path case, and
    %-escapes (case-significant / resource-changing in general).
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    scheme = F.when(scheme == "http", F.lit("https")).otherwise(scheme)
    auth = F.lower(F.regexp_extract(url, r"^[^:]+://([^/?#]*)", 1))
    host = F.regexp_replace(auth, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(url, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"/$", "")
    # Strip the fragment BEFORE extracting the query: '?' may legally
    # appear inside a fragment ('https://h/p#sec?x=1' has NO query), and
    # a bare \\?([^#]*) over the whole URL would resurrect it as one.
    q = F.regexp_extract(F.regexp_replace(url, r"#.*$", ""), r"\?(.*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid)(=|$)"),
    )
    qs = F.array_join(F.sort_array(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


_CANON_URL_SQL = r"""
CASE WHEN lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) = 'http'
     THEN 'https' ELSE lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) END
|| '://'
|| regexp_replace(regexp_replace(lower(regexp_extract({u}, '^[^:]+://([^/?#]*)', 1)), ':(80|443)$', ''), '^www\.', '')
|| regexp_replace(regexp_replace(regexp_extract({u}, '^[^:]+://[^/?#]*([^?#]*)', 1), '/{{2,}}', '/', 'g'), '/$', '')
|| CASE WHEN array_to_string(list_sort(list_filter(string_split(regexp_extract(regexp_replace({u}, '#.*$', ''), '\?(.*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') = ''
   THEN ''
   ELSE '?' || array_to_string(list_sort(list_filter(string_split(regexp_extract(regexp_replace({u}, '#.*$', ''), '\?(.*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') END
"""


def _raw_url() -> Column:
    """Deterministic raw-URL variant for a document (fixture synthesis —
    the engines must agree byte-for-byte, so everything derives from
    doc_id arithmetic; evaluated against a frame exposing ``doc_id``).
    Four documents (one canonical identity) per group ``doc_id DIV 4``;
    the variant axes cover every rule the canonicalizer normalizes."""
    grp = F.expr("CAST(doc_id DIV 4 AS BIGINT)")
    v = F.expr("CAST(doc_id % 4 AS INT)")
    host = F.concat(F.lit("site"), (grp % 50).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/docs/"), (grp % 97).cast("string"), F.lit("/page"))
    a = (grp % 7).cast("string")
    b = (grp % 11).cast("string")
    return (
        F.when(
            v == 0,
            F.concat(F.lit("https://"), host, path, F.lit("?a="), a, F.lit("&b="), b),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://WWW."), F.upper(host), F.lit(":443"), path,
                F.lit("/?b="), b, F.lit("&a="), a, F.lit("&utm_source=feed#frag"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://"), host, F.lit(":80"),
                F.regexp_replace(path, "/docs/", "//docs//"),
                F.lit("?utm_campaign=x&b="), b, F.lit("&a="), a,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), host, path,
                F.lit("?a="), a, F.lit("&utm_medium=em&b="), b, F.lit("#sec"),
            )
        )
    )


def url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-curation staple: group
    raw URL variants by canonical form, keep the smallest doc as
    survivor, report variant counts. Raw URLs are synthesized
    deterministically from doc_id (:func:`_raw_url`; production reads a
    real url column) so every canonicalizer rule — scheme/host case,
    www, default ports, duplicate slashes, trailing slash, fragment,
    tracking params, param order — is exercised and differentially
    gated against DuckDB's independent regexp implementation.

    Scale shape: canonicalization is per-row narrow work; the only
    shuffle is the groupBy on the canonical string (bounded by distinct
    canonical URLs). At 100 TB the canonical key would be md5'd to fix
    the shuffle width, exactly like `duplicate_span_stats`."""
    d = load_table(spark, "documents", sf).select("doc_id")
    raw = d.select("doc_id", _raw_url().alias("raw_url"))
    return (
        raw.select(
            "doc_id", "raw_url", canonicalize_url(F.col("raw_url")).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("raw_url").alias("n_distinct_raw"),
        )
    )


_RAW_URL_SQL = """
CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'https://' || host || path || '?a=' || a || '&b=' || b
  WHEN 1 THEN 'HTTPS://WWW.' || upper(host) || ':443' || path || '/?b=' || b || '&a=' || a || '&utm_source=feed#frag'
  WHEN 2 THEN 'http://' || host || ':80' || replace(path, '/docs/', '//docs//') || '?utm_campaign=x&b=' || b || '&a=' || a
  ELSE 'https://www.' || host || path || '?a=' || a || '&utm_medium=em&b=' || b || '#sec'
END
"""

URL_CANONICAL_DEDUP_SQL = f"""
WITH parts AS (
  SELECT doc_id,
         'site' || CAST((doc_id // 4) % 50 AS VARCHAR) || '.example.com' AS host,
         '/docs/' || CAST((doc_id // 4) % 97 AS VARCHAR) || '/page' AS path,
         CAST((doc_id // 4) % 7 AS VARCHAR) AS a,
         CAST((doc_id // 4) % 11 AS VARCHAR) AS b
  FROM documents
),
raw AS (SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM parts),
canon AS (SELECT doc_id, raw_url, {_CANON_URL_SQL.format(u="raw_url")} AS canonical_url FROM raw)
SELECT canonical_url,
       MIN(doc_id) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_distinct_raw
FROM canon GROUP BY canonical_url
"""


# --- SimHash near-duplicate fingerprint ------------------------------------

SIMHASH_BITS = 32


def simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens.

    Each token hashes to a 32-bit value (first 8 hex chars of md5 —
    portable across engines); bit *i* of the fingerprint is the sign of
    sum(+1/-1) of that bit across tokens. Token hash values are
    materialized once into an int array column, then the 32 bit-sums
    are static ``aggregate`` expressions over it (no per-bit rehash).
    """
    d = load_table(spark, "documents", sf)
    vals = F.transform(
        _tokens(F.col("text")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    hashed = d.select("doc_id", vals.alias("_hv")).persist()

    def bit(i: int) -> Column:
        # bit 0 = MSB of the 32-bit token hash
        contrib = lambda v: (F.shiftright(v, 31 - i).bitwiseAND(F.lit(1)) * 2 - 1)
        s = F.aggregate(F.col("_hv"), F.lit(0).cast("bigint"), lambda acc, v: acc + contrib(v))
        return F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))

    return hashed.select(
        "doc_id", F.concat(*[bit(i) for i in range(SIMHASH_BITS)]).alias("simhash")
    )


_HV_SQL = (
    f"list_transform({_TOKENS_SQL}, "
    "t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))"
)

SIMHASH_SQL = (
    "SELECT doc_id, concat("
    + ", ".join(
        "CASE WHEN list_sum(list_transform(hv, "
        f"v -> ((v >> {31 - i}) & 1) * 2 - 1)) > 0 THEN '1' ELSE '0' END"
        for i in range(SIMHASH_BITS)
    )
    + f") AS simhash FROM (SELECT doc_id, {_HV_SQL} AS hv FROM documents)"
)


# --- HTML boilerplate extraction ---------------------------------------------

def _html_segments(html: Column) -> Column:
    """Tag-free text segments of an HTML document, in document order:
    drop <script>/<style> subtrees (content and all), turn every
    remaining tag into a segment break, trim, drop empties. Pure native
    regexp + higher-order array ops — no parser UDF in the hot path
    (lxml-grade parsing would slot in as a mapInPandas stage; the
    frequency model below is parser-agnostic)."""
    no_script = F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", " ")
    no_style = F.regexp_replace(no_script, r"(?s)<style[^>]*>.*?</style>", " ")
    broken = F.regexp_replace(no_style, r"<[^>]*>", "\n")
    return F.filter(
        F.transform(F.split(broken, "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


_BOILER_DF_THRESHOLD = 0.5


def html_boilerplate_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Template-frequency boilerplate EXTRACTION (not just the n-gram
    boilerplate *share* of `boilerplate_phrases`): segment each HTML
    page on tags, call a segment boilerplate when it appears in ≥ 50%
    of the documents of its source (site templates — nav, footer,
    titles — repeat per site; main content doesn't), and return each
    document's main text with boilerplate removed. The CleanEval /
    Gibson-2005 "page-frequency" model as two aggregates.

    HTML is synthesized deterministically per document (site chrome
    derived from ``source``, body = the document text) so both engines
    segment identical bytes; ``recovered_exact`` asserts in-band that
    extraction returns exactly the original body — a planted-truth
    self-check, per the sketch-pair recipe.

    Scale shape: segmentation is per-row narrow work; doc-frequency is
    one (source, segment)-keyed aggregate (segment strings would be
    md5'd at 100 TB like `duplicate_span_stats`); the per-source
    boilerplate set is template-bounded and rides a broadcastable
    per-source array back onto the docs — no row ever joins against
    corpus-sized state.
    """
    d = load_table(spark, "documents", sf).filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit("</title><style>body{margin:0}</style>"
              "<script>var x=1;</script></head><body><nav>Home | About | "),
        F.col("source"),
        F.lit("</nav><div>"), F.col("text"),
        F.lit("</div><footer>(c) "), F.col("source"),
        F.lit(" 2024</footer></body></html>"),
    )
    segs = d.select(
        "doc_id", "source", "text", _html_segments(html).alias("seg_list")
    ).persist()

    ex = segs.select("doc_id", "source", F.explode("seg_list").alias("seg"))
    docfreq = ex.groupBy("source", "seg").agg(
        F.countDistinct("doc_id").alias("df")
    )
    ndocs = segs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    bp = (
        docfreq.join(ndocs, "source")
        .filter(
            F.col("df").cast("double") / F.col("n_docs") >= _BOILER_DF_THRESHOLD
        )
        .groupBy("source")
        .agg(F.sort_array(F.collect_set("seg")).alias("bp_segs"))
    )

    joined = segs.join(F.broadcast(bp), "source", "left")
    kept = F.filter(
        F.col("seg_list"),
        lambda s: ~F.array_contains(
            F.coalesce(F.col("bp_segs"), F.array().cast("array<string>")), s
        ),
    )
    main = F.array_join(kept, " ")
    return joined.select(
        "doc_id",
        F.md5(main).alias("main_text_hash"),
        F.size("seg_list").cast("bigint").alias("n_segments"),
        (F.size("seg_list") - F.size(kept)).cast("bigint").alias("n_boilerplate"),
        (main == F.col("text")).alias("recovered_exact"),
    )


_HTML_SYNTH_SQL = (
    "'<html><head><title>' || source || "
    "'</title><style>body{margin:0}</style>"
    "<script>var x=1;</script></head><body><nav>Home | About | ' || source || "
    "'</nav><div>' || text || "
    "'</div><footer>(c) ' || source || ' 2024</footer></body></html>'"
)

_HTML_SEGS_SQL = (
    "list_filter(list_transform(string_split(regexp_replace(regexp_replace("
    "regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),"
    " '(?s)<style[^>]*>.*?</style>', ' ', 'g'),"
    " '<[^>]*>', chr(10), 'g'), chr(10)),"
    " s -> trim(s)), s -> s <> '')"
)

HTML_BOILERPLATE_SQL = f"""
WITH h AS (
  SELECT doc_id, source, text, {_HTML_SYNTH_SQL} AS html
  FROM documents WHERE text IS NOT NULL
),
segs AS (SELECT doc_id, source, text, {_HTML_SEGS_SQL} AS seg_list FROM h),
ex AS (
  SELECT doc_id, source, u.seg
  FROM segs, UNNEST(seg_list) AS u(seg)
),
docfreq AS (
  SELECT source, seg, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY source, seg
),
ndocs AS (SELECT source, COUNT(*) AS n_docs FROM segs GROUP BY source),
bp AS (
  SELECT source, list(seg ORDER BY seg) AS bp_segs
  FROM docfreq JOIN ndocs USING (source)
  WHERE CAST(df AS DOUBLE) / n_docs >= {_BOILER_DF_THRESHOLD}
  GROUP BY source
),
joined AS (
  SELECT s.*, COALESCE(b.bp_segs, []) AS bp_segs
  FROM segs s LEFT JOIN bp b USING (source)
),
final AS (
  SELECT doc_id, text, seg_list,
         list_filter(seg_list, x -> NOT list_contains(bp_segs, x)) AS kept
  FROM joined
)
SELECT doc_id,
       md5(array_to_string(kept, ' ')) AS main_text_hash,
       CAST(len(seg_list) AS BIGINT) AS n_segments,
       CAST(len(seg_list) - len(kept) AS BIGINT) AS n_boilerplate,
       (array_to_string(kept, ' ') = text) AS recovered_exact
FROM final
"""


# --- exact n-gram Jaccard over LSH candidate pairs --------------------------

def ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity, computed only for LSH candidate
    pairs (the scale pattern: LSH prunes docs² down to in-bucket pairs,
    the exact set comparison runs on the survivors)."""
    with_sig = minhash_signatures(spark, sf).persist()
    bands = _bands_from_sigs(with_sig)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    d = load_table(spark, "documents", sf)
    sh = d.select(
        "doc_id", F.array_distinct(_shingles(F.col("text"))).alias("sh")
    ).persist()
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    uni = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / uni, 4).alias("jaccard"),
        )
    )


def _ngram_jaccard_sql() -> str:
    sig_cols = ", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_HASHES))
    rows_per_band = N_HASHES // N_BANDS
    band_selects = []
    for b in range(N_BANDS):
        parts = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {parts})) AS band_hash FROM sigs"
        )
    bands_union = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sigs AS (SELECT doc_id, {sig_cols} FROM documents),
bands AS ({bands_union}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents)
SELECT doc_a, doc_b,
  ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
FROM pairs
JOIN sh sa ON sa.doc_id = doc_a
JOIN sh sb ON sb.doc_id = doc_b
"""


NGRAM_JACCARD_SQL = _ngram_jaccard_sql()


# --- composite quality score -----------------------------------------------

# BPE-ish pre-tokenizer: letter runs, single digits, punctuation runs.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"  # C0 controls minus \t \n \r


def encoding_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-health screen for a web-scale corpus: per-source counts
    of U+FFFD replacement characters (the scar UTF-8 decoding leaves on
    mojibake) and C0 control characters (binary bleed-through;
    tab/newline/CR exempt) — the first-pass filter every LLM ingest
    runs before tokenization.

    The fixture corpus is clean, so the gate plants corruption
    deterministically (the URL-dedup planted-variant recipe): every
    ``doc_id % 5 == 0`` doc gains a replacement char at offset 10,
    every ``doc_id % 7 == 0`` a BEL at offset 5 — both engines build
    the identical corrupted lake in-plan, so the counting logic (not
    the absence of dirt) is what the hash gate checks. Counting is
    pure native expressions: length deltas against ``replace`` /
    ``regexp_replace`` — one corpus scan, one source-sized aggregate,
    no UDF. At 100 TB this composes with `dq_audit` as a
    scan-collocated screen."""
    d = load_table(spark, "documents", sf).select("doc_id", "source", "text")
    corrupted = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.substring("text", 1, 10),
                F.lit("�"),
                F.expr("substring(text, 11)"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t1"),
    ).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.substring("t1", 1, 5), F.lit("\x07"), F.expr("substring(t1, 6)")
            ),
        )
        .otherwise(F.col("t1"))
        .alias("text"),
    )
    n_repl = F.length("text") - F.length(F.replace(F.col("text"), F.lit("�")))
    n_ctrl = F.length("text") - F.length(F.regexp_replace("text", _CTRL_RE, ""))
    per_doc = corrupted.select(
        "source",
        n_repl.cast("long").alias("n_repl"),
        n_ctrl.cast("long").alias("n_ctrl"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_repl").cast("long").alias("n_replacement"),
            F.sum("n_ctrl").cast("long").alias("n_control"),
            F.sum(((F.col("n_repl") > 0) | (F.col("n_ctrl") > 0)).cast("int"))
            .cast("long")
            .alias("n_flagged"),
            F.max(F.col("n_repl") + F.col("n_ctrl")).cast("long").alias("max_dirt"),
        )
        .orderBy("source")
    )


ENCODING_QUALITY_SQL = r"""
WITH corrupted AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 7 = 0 THEN substring(t1, 1, 5) || chr(7) || substring(t1, 6)
         ELSE t1 END AS text
  FROM (
    SELECT doc_id, source,
      CASE WHEN doc_id % 5 = 0
           THEN substring(text, 1, 10) || chr(65533) || substring(text, 11)
           ELSE text END AS t1
    FROM documents
  )
),
per_doc AS (
  SELECT source,
    CAST(LENGTH(text) - LENGTH(replace(text, chr(65533), '')) AS BIGINT) AS n_repl,
    CAST(LENGTH(text)
         - LENGTH(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
      AS BIGINT) AS n_ctrl
  FROM corrupted
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_repl) AS BIGINT) AS n_replacement,
  CAST(SUM(n_ctrl) AS BIGINT) AS n_control,
  CAST(SUM(CASE WHEN n_repl > 0 OR n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(MAX(n_repl + n_ctrl) AS BIGINT) AS max_dirt
FROM per_doc GROUP BY source ORDER BY source
"""


def quality_score_col(text: Column) -> Column:
    """The 0..1 heuristic quality score as a reusable expression
    (shared by :func:`quality_score` and the curation pipeline's
    quality gate): four 0/1 criteria averaged — avg token length in
    [3,10], stopword ratio in [0.05,0.6], punctuation ratio < 0.2,
    and 10 <= n_tokens <= 5000."""
    toks = _tokens(text)
    n_toks = F.size(toks)
    tok_lens = F.transform(toks, F.length)
    avg_len = F.aggregate(tok_lens, F.lit(0), lambda a, x: a + x).cast("double") / n_toks
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double") / n_toks
    )
    punct_ratio = (
        F.length(F.regexp_replace(text, "[A-Za-z0-9 ]", "")).cast("double")
        / F.length(text)
    )
    crit = [
        (avg_len >= 3) & (avg_len <= 10),
        (stop_ratio >= 0.05) & (stop_ratio <= 0.6),
        punct_ratio < 0.2,
        (n_toks >= 10) & (n_toks <= 5000),
    ]
    return sum(c.cast("int") for c in crit).cast("double") / len(crit)


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic document quality (see :func:`quality_score_col`). Also
    emits a BPE-ish subword token count (regexp, not whitespace)."""
    d = load_table(spark, "documents", sf)
    score = quality_score_col(F.col("text"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_RE)).cast("bigint").alias("n_bpe_tokens"),
        F.round(score, 2).alias("quality"),
        (score >= 0.75).alias("keep"),
    )


QUALITY_SQL = rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
  ROUND(CAST(
      CASE WHEN avg_len >= 3 AND avg_len <= 10 THEN 1 ELSE 0 END
    + CASE WHEN stop_ratio >= 0.05 AND stop_ratio <= 0.6 THEN 1 ELSE 0 END
    + CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END
    + CASE WHEN n_toks >= 10 AND n_toks <= 5000 THEN 1 ELSE 0 END
  AS DOUBLE) / 4, 2) AS quality,
  (CASE WHEN avg_len >= 3 AND avg_len <= 10 THEN 1 ELSE 0 END
    + CASE WHEN stop_ratio >= 0.05 AND stop_ratio <= 0.6 THEN 1 ELSE 0 END
    + CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END
    + CASE WHEN n_toks >= 10 AND n_toks <= 5000 THEN 1 ELSE 0 END) >= 3 AS keep
FROM (
  SELECT doc_id, text,
    len({_TOKENS_SQL}) AS n_toks,
    CAST(list_sum(list_transform({_TOKENS_SQL}, t -> LENGTH(t))) AS DOUBLE)
      / len({_TOKENS_SQL}) AS avg_len,
    CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
      / len({_TOKENS_SQL}) AS stop_ratio,
    CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      / LENGTH(text) AS punct_ratio
  FROM documents
)
"""


# --- repetition / decontamination / lang confusion -------------------------

def _ngrams(col: Column, w: int) -> Column:
    """Word w-grams (empty array for docs under w tokens) — the same
    shifted-slice ``zip_with`` construction as :func:`_shingles`,
    generalized to any width."""
    toks = _tokens(col)
    n = F.size(toks)
    acc = toks
    for k in range(1, w):
        shift = F.slice(toks, k + 1, F.greatest(n - k, F.lit(1)))
        acc = F.zip_with(acc, shift, lambda x, y: F.concat_ws(" ", x, y))
    grams = F.slice(acc, 1, F.greatest(n - (w - 1), F.lit(0)))
    return F.when(n >= w, grams).otherwise(F.array().cast("array<string>"))


def _ngrams_sql(w: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - {w - 1}, 0)), "
        f"i -> array_to_string(list_slice({_TOKENS_SQL}, i, i + {w - 1}), ' '))"
    )


def repetition_score(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signal: per-doc duplicate-trigram fraction
    and most-frequent-trigram share. explode→two-level agg — narrow map
    plus one shuffle on doc_id; no per-row quadratic expression work."""
    d = load_table(spark, "documents", sf)
    sh = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("sh"))
    per = sh.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("_top"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_ngrams"), 4
            ).alias("dup_frac"),
            F.round(F.col("_top").cast("double") / F.col("n_ngrams"), 4).alias("top_frac"),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
),
per AS (
  SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_ngrams,
  CAST(COUNT(*) AS BIGINT) AS n_distinct,
  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS dup_frac,
  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_frac
FROM per GROUP BY doc_id ORDER BY doc_id
"""


# Benchmark decontamination: flag training docs sharing any word w-gram
# with the held-out eval sample. Width 4 is discriminative on this
# synthetic vocabulary; natural-text pipelines use 8-13. The eval set is
# benchmark-sized by nature, so its distinct-gram set broadcasts and the
# corpus-side check is a map-side hash probe — no corpus shuffle.
DECON_W = 4
_EVAL_MOD = 97  # doc_id % 97 == 0 -> held-out eval sample


def decontaminate(spark: SparkSession, sf: str, w: int = DECON_W) -> DataFrame:
    d = load_table(spark, "documents", sf)
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_grams = (
        d.filter(is_eval)
        .select(F.explode(_ngrams(F.col("text"), w)).alias("gram"))
        .distinct()
    )
    train = d.filter(~is_eval).select(
        "doc_id", F.explode(F.array_distinct(_ngrams(F.col("text"), w))).alias("gram")
    )
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


def decontaminate_sql(w: int = DECON_W) -> str:
    return f"""
WITH eval_grams AS (
  SELECT DISTINCT unnest({_ngrams_sql(w)}) AS gram
  FROM documents WHERE doc_id % {_EVAL_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(list_distinct({_ngrams_sql(w)})) AS gram
  FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM train JOIN eval_grams USING (gram)
GROUP BY doc_id ORDER BY doc_id
"""


DECONTAMINATE_SQL = decontaminate_sql()


def lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID quality vs the corpus's ground-truth ``lang`` column:
    the (labeled, predicted) confusion counts."""
    return (
        lang_id(spark, sf)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


LANG_CONFUSION_SQL = (
    f"SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ({LANG_ID_SQL}) "
    "GROUP BY lang, pred_lang ORDER BY lang, pred_lang"
)


# --- cross-source corpus overlap / per-doc entropy -------------------------

def source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the number of distinct 3-word shingles they share and the
    containment ratio ``|A ∩ B| / min(|A|, |B|)`` — the corpus-curation
    signal for "source B is largely a mirror of source A".

    Plan shape (100 TB): one distinct-aggregate keyed (source, shingle)
    (map-side partial before the shuffle), per-source totals reduce to
    S rows, and the overlap self-join keys on ``shingle`` where each
    shingle matches at most S sources — fan-out ≤ S² per shingle, never
    docs². Zero-overlap pairs come from a broadcast cross of the S-row
    source list with itself, so the full S×S matrix is emitted.
    """
    d = load_table(spark, "documents", sf)
    src_sh = d.select(
        "source", F.explode(_shingles(F.col("text"))).alias("shingle")
    ).distinct()
    totals = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))

    a, b = src_sh.alias("a"), src_sh.alias("b")
    overlap = (
        a.join(b, on="shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("overlap_shingles"))
    )

    ta, tb = totals.alias("ta"), totals.alias("tb")
    pairs = (
        ta.crossJoin(F.broadcast(tb))
        .where(F.col("ta.source") < F.col("tb.source"))
        .select(
            F.col("ta.source").alias("source_a"),
            F.col("tb.source").alias("source_b"),
            F.col("ta.n_shingles").alias("n_shingles_a"),
            F.col("tb.n_shingles").alias("n_shingles_b"),
        )
    )
    return (
        pairs.join(overlap, on=["source_a", "source_b"], how="left")
        .select(
            "source_a",
            "source_b",
            "n_shingles_a",
            "n_shingles_b",
            F.coalesce("overlap_shingles", F.lit(0)).cast("long").alias("overlap_shingles"),
            # single exactly-rounded IEEE division of two integers:
            # bit-identical on both sides, no float-accumulation hazard
            (
                F.coalesce("overlap_shingles", F.lit(0)).cast("double")
                / F.least("n_shingles_a", "n_shingles_b")
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH src_sh AS (
  SELECT DISTINCT source, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM src_sh GROUP BY source
),
overlap AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS overlap_shingles
  FROM src_sh a JOIN src_sh b USING (shingle)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT ta.source AS source_a, tb.source AS source_b,
  ta.n_shingles AS n_shingles_a, tb.n_shingles AS n_shingles_b,
  CAST(COALESCE(o.overlap_shingles, 0) AS BIGINT) AS overlap_shingles,
  CAST(COALESCE(o.overlap_shingles, 0) AS DOUBLE)
    / LEAST(ta.n_shingles, tb.n_shingles) AS containment
FROM totals ta JOIN totals tb ON ta.source < tb.source
LEFT JOIN overlap o ON o.source_a = ta.source AND o.source_b = tb.source
ORDER BY source_a, source_b
"""


def word_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram (whitespace-token)
    distribution, plus type-token ratio — the information-density
    quality signal (low entropy ⇒ repetitive/templated text).

    ``H = log2(n) - (Σ c·ln c)/(n·ln 2)`` over per-token counts ``c``:
    one narrow explode, one (doc, token) count (map-side combinable),
    one per-doc fold. Both sides use the identical ln-based formula so
    the only cross-engine divergence is the float accumulation order of
    ``Σ c·ln c``; that sum is rounded to 4 decimals (same documented
    tolerance class as the pair-cosine kernel, similarity.py). The
    type-token ratio is a single exactly-rounded integer division —
    bit-stable unrounded.
    """
    d = load_table(spark, "documents", sf)
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ln2 = 0.6931471805599453  # = ln(2), the exact double literal on both sides
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
            F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("_clnc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "distinct_tokens",
            (F.col("distinct_tokens").cast("double") / F.col("n_tokens")).alias("ttr"),
            F.round(
                F.log(F.col("n_tokens").cast("double")) / ln2
                - F.col("_clnc") / (F.col("n_tokens") * ln2),
                4,
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


WORD_ENTROPY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS ttr,
  ROUND(
    ln(CAST(SUM(c) AS DOUBLE)) / 0.6931471805599453
      - SUM(c * ln(CAST(c AS DOUBLE))) / (CAST(SUM(c) AS BIGINT) * 0.6931471805599453),
    4
  ) AS entropy
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""


# --- exact set-similarity join (prefix filtering, PPJoin-style) ------------

# Jaccard threshold as an exact fraction (NUM/DEN) so every gate in the
# pipeline is integer arithmetic — no float boundary can flip a pair in
# or out between Spark and the oracle.
_SSJ_NUM, _SSJ_DEN = 1, 2
_SSJ_SAMPLE_MOD = 10  # sampled-pair self-check: ~1/10 docs, ~1/100 pairs
# Target SAMPLE SIZE (docs) for the self-check. The docstring contract
# was always "shrink 1/MOD as n grows to keep the check O(n²/MOD²)
# constant", but MOD was a static 10 — quadratic in corpus size
# (measured r12: at a x5-replica lake the check alone was 44s of a
# 58s query, O((n/10)²) array_intersects). The effective modulus is
# now max(_SSJ_SAMPLE_MOD, ceil(n_docs / _SSJ_SAMPLE_TARGET)): at the
# 5000-doc bench fixture that is exactly the old 10 (bit-identical
# behavior), and beyond it the sampled slice pins at ~500 docs so the
# check stays O(500²) at any scale. Output is invariant to the sample
# (sample_verified is TRUE whenever the filter is lossless, which the
# theorem guarantees for every sample); tests monkeypatch
# _SSJ_SAMPLE_MOD=1 at the 500-doc fixture where ceil(n/500)=1 keeps
# the forced-full-brute contract.
_SSJ_SAMPLE_TARGET = 500


def _elem_hash(shingle: Column) -> Column:
    """The element key both prefix-filtered joins order and join on:
    ``xxhash64`` of the shingle — 8 fixed bytes instead of the ~20-byte
    3-word string, so shuffle keys and sorts are narrow. Exactness never
    rests on it being collision-free: the prefix theorems hold under
    ANY shared total order and a collision only adds candidates that
    the exact ``array_intersect`` verify prunes (see
    ``set_similarity_join``). One definition, so a test can shrink it
    to a few bits and force collisions through both joins."""
    return F.xxhash64(shingle)


def _shingle_sets(spark: SparkSession, sf: str) -> DataFrame:
    """``(doc_id, sh)``: each document's distinct 3-gram shingle set,
    materialized ONCE with ``truncate_lineage`` — both joins read it
    several times (element stream, verify joins, sample check).

    Not ``persist()``: under AQE every scan of a not-yet-built
    InMemoryRelation becomes its own ``TableCacheQueryStage`` (20 of
    them in the set-similarity plan at 1,000 docs, with no exchange
    reuse), and the entry stays in the session's CacheManager after
    the call. The checkpointed
    frame scans as an RDD, so repeated subtrees become
    ``ReusedExchange`` and nothing is left in the cache."""
    d = load_table(spark, "documents", sf)
    return truncate_lineage(
        d.select("doc_id", F.array_distinct(_shingles(F.col("text"))).alias("sh"))
    )


def _ranked_elements(sets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The hashed element stream and each doc's elements sorted
    rarest-first, shared by both prefix-filtered joins.

    ``elems`` is ``(doc_id, n, el)`` with ``n = |sh|``; ``ordered`` is
    ``(doc_id, n, sorted_el)``, sorted by the global total order
    (document-frequency of the hash, hash) — a function of the element
    alone, so every doc shares it. The document frequency rides in as a
    count over the el partition: ONE exchange of the corpus-sized
    element stream, where a groupBy(el) + join-back would shuffle it
    twice. ``n`` counts hash entries, which equals ``|sh|`` even when
    two shingles of one doc share a hash."""
    elems = sets.select(
        "doc_id",
        F.size("sh").alias("n"),
        F.explode(F.transform("sh", lambda s: _elem_hash(s))).alias("el"),
    )
    ordered = (
        elems.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("el")))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "el"))).alias("ranked"))
        .select(
            "doc_id",
            F.size("ranked").alias("n"),
            F.transform("ranked", lambda s: s["el"]).alias("sorted_el"),
        )
    )
    return elems, ordered


def set_similarity_join(
    spark: SparkSession, sf: str, sample_check: bool = True
) -> DataFrame:
    """EXACT all-pairs Jaccard join over 3-gram shingle sets at
    threshold ``NUM/DEN`` via prefix filtering (Chaudhuri et al. ICDE'06
    / Bayardo et al. WWW'07) — the deterministic counterpart to the
    MinHash-LSH path (`near_dup_candidates`), which is probabilistic.

    Candidate generation never enumerates docs². Elements are globally
    ordered by (document-frequency, element); each doc keeps only its
    PREFIX — the first ``n - ceil(t*n) + 1`` elements. Losslessness: if
    ``J(x,y) >= t`` then the overlap ``a = |x ∩ y|`` satisfies
    ``a >= t/(1+t)*(|x|+|y|) >= t*max(|x|,|y|)``, and two sets with
    overlap ``a`` must collide within their first ``n - a + 1`` elements
    under ANY shared total order — so every qualifying pair shares a
    prefix element. Rarest-first ordering makes the prefix postings the
    SHORTEST postings, so the candidate self-join is bounded by
    Σ prefix-posting² (≪ docs²); a length filter
    (``DEN*min(na,nb) >= NUM*max(na,nb)``) and the PPJoin positional
    filter (collision-position overlap upper bound, see inline proof)
    prune further before the exact verify, which runs only on
    survivors (−25% wall-clock at sf0.1 vs prefix+length alone).

    Scale shape: one checkpointed shingle-set frame (`_shingle_sets`,
    one job at call time, nothing left in the session cache) feeds
    every branch; one df window over the hashed element stream, one
    bounded per-doc sort (doc shingle count), one equi-join on prefix
    elements, exact `array_intersect` verify on candidates only. The
    final threshold is integer-checked (``DEN*inter >= NUM*union``).
    The sample check's modulus is a 1-row aggregate broadcast into the
    plan, not a separate count job.
    """
    sets = _shingle_sets(spark, sf)

    # The ordering/candidate path runs on _elem_hash(shingle), a long:
    # both corpus-sized exchanges (df window by element, regroup by
    # doc) and the candidate self-join carry longs, and the
    # window/array sorts compare longs.
    # EXACTNESS IS PRESERVED, not assumed: the prefix theorem holds
    # under ANY shared total order, and (df-of-hash, hash) is a
    # consistent total order because it is a function of the element
    # alone. A 64-bit collision can only MERGE two elements' identities
    # — every real shared element still shares its hash, so no
    # qualifying pair loses its collision row (no false negatives),
    # while a hash-only "shared element" admits an extra CANDIDATE that
    # the exact array_intersect verify on the true shingle sets prunes.
    # The positional bound stays lossless for the same reason: a
    # qualifying pair's first shared REAL element yields a join row
    # whose bound is the valid one (extra collision rows only add
    # OR-branches). n = |distinct shingles| is computed on the true
    # sets, unchanged. Collisions INSIDE one doc are covered too: the
    # colliding shingles sort adjacent under the shared order, so a
    # pair's first shared hash still precedes all its real shared
    # elements on both sides.
    # Per-doc elements sorted rarest-first; keep the prefix only.
    _, ordered = _ranked_elements(sets)
    # p = n - ceil(t*n) + 1, ceil via integer arithmetic.
    p = F.col("n") - F.floor((_SSJ_NUM * F.col("n") + _SSJ_DEN - 1) / _SSJ_DEN).cast("int") + 1
    prefixes = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("sorted_el", 1, p)).alias("pos", "el"),
    )

    # PPJoin positional filter (Xiao et al. WWW'08): a qualifying pair
    # needs overlap a_req = ceil(t/(1+t)·(na+nb)); a collision at
    # 0-based prefix positions (ia, ib) bounds the overlap by
    # 1 + min(na-1-ia, nb-1-ib) when no shared element precedes it.
    # Lossless under OR-over-collisions: both arrays are sorted by the
    # SAME global order, so a pair's FIRST shared element has no shared
    # predecessor on either side — its bound is valid and ≥ a_req for
    # every qualifying pair; later collisions may under-bound, but the
    # pair already survived via the first. Integer form with t=NUM/DEN:
    # (NUM+DEN)·(1+min(na-1-ia, nb-1-ib)) >= NUM·(na+nb).
    pos_bound = F.lit(1) + F.least(
        F.col("a.n") - 1 - F.col("a.pos"), F.col("b.n") - 1 - F.col("b.pos")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cands = (
        a.join(b, "el")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            _SSJ_DEN * F.least(F.col("a.n"), F.col("b.n"))
            >= _SSJ_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .filter(
            (_SSJ_NUM + _SSJ_DEN) * pos_bound
            >= _SSJ_NUM * (F.col("a.n") + F.col("b.n"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    out = (
        cands.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .filter(_SSJ_DEN * inter >= _SSJ_NUM * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )
    if not sample_check:
        # production plan alone — what the candidates-pruned plan test
        # asserts quadratic-free (the sampled check below is a
        # DELIBERATE bounded broadcast nested-loop over ~1/MOD of docs)
        return out

    # Sampled-pair EXACT verification (VERDICT r10 #2): the prefix
    # filter's losslessness holds by theorem, but at bench scale the
    # claim is now also checked against DATA, in-plan: a deterministic
    # md5 sample of ~1/MOD of the docs (→ ~1/MOD² of all pairs) is
    # brute-forced exactly — broadcast nested-loop over the sample
    # slice, which is bounded by construction (shrink 1/MOD as n grows
    # to keep the check O(n²/MOD²) constant) — and the symmetric
    # difference against the join's output restricted to sampled pairs
    # must be EMPTY: a pruned qualifying pair (false negative) or a
    # surviving non-pair (false positive) flips ``sample_verified`` on
    # every output row, and the driver's hash gate turns red (the
    # ``pq_adc_search`` recall_ok pattern, `similarity.py`).
    # scale-adaptive modulus: floor at _SSJ_SAMPLE_MOD, grow with the
    # corpus so the sampled slice stays ~_SSJ_SAMPLE_TARGET docs (see
    # the constant's comment). Computed in the plan as a 1-row
    # aggregate over the checkpointed sets, broadcast into the sample
    # filter — no separate count job before the query.
    eff_mod = sets.agg(
        F.greatest(
            F.lit(_SSJ_SAMPLE_MOD),
            F.floor(
                (F.count(F.lit(1)) + _SSJ_SAMPLE_TARGET - 1) / _SSJ_SAMPLE_TARGET
            ),
        ).cast("long").alias("_mod")
    )
    in_sample = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % F.col("_mod")
        == 0
    )
    sample = sets.crossJoin(F.broadcast(eff_mod)).filter(in_sample).drop("_mod")
    sa = sample.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sample.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    s_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    s_union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - s_inter
    brute_pairs = (
        sa.crossJoin(F.broadcast(sb))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(_SSJ_DEN * s_inter >= _SSJ_NUM * s_union)
        .select("doc_a", "doc_b")
    )
    ids_a = sample.select(F.col("doc_id").alias("doc_a"))
    ids_b = sample.select(F.col("doc_id").alias("doc_b"))
    out_pairs = (
        out.join(F.broadcast(ids_a), "doc_a", "left_semi")
        .join(F.broadcast(ids_b), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    # symmetric difference via two BROADCAST anti-joins (a full-outer
    # would plan as a SortMergeJoin — pointless for two sample-bounded
    # pair sets, and the plan gate rightly rejects it)
    missed = brute_pairs.join(
        F.broadcast(out_pairs), ["doc_a", "doc_b"], "left_anti"
    )
    spurious = out_pairs.join(
        F.broadcast(brute_pairs), ["doc_a", "doc_b"], "left_anti"
    )
    mismatches = missed.unionByName(spurious).agg(
        F.count(F.lit(1)).alias("_bad")
    )
    return out.crossJoin(F.broadcast(mismatches)).select(
        "doc_a",
        "doc_b",
        "jaccard",
        (F.col("_bad") == 0).alias("sample_verified"),
    )


# Oracle: brute-force exact all-pairs with the SAME integer threshold —
# the prefix filter is provably lossless, so the outputs must be
# identical, not merely similar.
SET_SIMILARITY_SQL = f"""
WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents),
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.sh, b.sh)) AS inter,
    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / uni, 4) AS jaccard,
  TRUE AS sample_verified
FROM scored WHERE {_SSJ_DEN} * inter >= {_SSJ_NUM} * uni
"""


# --- BPE merge statistics (tokenizer training primitive) -------------------

_BPE_TOP = 20


def bpe_pair_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The inner loop of byte-pair-encoding tokenizer training at
    corpus scale: count every ADJACENT character pair across all token
    occurrences and rank the merge candidates. One BPE training round
    = take the top pair, merge it, recount; this operator is that
    count-and-rank step as a distributed query.

    Pure narrow fan-out (token -> |token|-1 pairs via
    ``transform(sequence)``) into one map-side-combinable count — the
    plan a 100 TB tokenizer-training pass needs, since pair counting
    dominates BPE cost. Tokens shorter than 2 chars are filtered
    BEFORE pair generation on both sides (Spark's ``sequence(1, 0)``
    runs descending where DuckDB's is empty — the filter keeps the
    engines' fan-out identical). Deterministic top-k: count desc, then
    pair.
    """
    d = load_table(spark, "documents", sf)
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("t")).filter(
        F.length("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 1),
                lambda i: F.col("t").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


BPE_PAIR_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS t FROM documents
),
pairs AS (
  SELECT substr(t, i, 2) AS pair
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
  WHERE len(t) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT {_BPE_TOP}
"""


# --- BM25 sparse retrieval --------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 10


def bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse keyword retrieval: BM25 scores for a fixed conjunctive
    query over the corpus, top-``_BM25_TOP`` — the inverted-index
    search-engine operator (the dense twin is `knn_*`).

    Scale shape: term filtering happens in the token explode (map-side
    — only query-term postings survive, the 100 TB posting-list prune);
    per-doc tf's come back as ONE conditional-aggregation row per doc,
    so the per-term score contributions are summed in FIXED term order
    (a groupBy float sum over terms would be order-nondeterministic);
    corpus stats (N, avgdl, df_t) are a broadcast 1-row cross join.
    ``idf = ln(1 + (N - df + .5)/(df + .5))`` — always positive. Same
    ln/round-4 tolerance class as `word_entropy`.
    """
    d = load_table(spark, "documents", sf)
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))

    # per-doc length over ALL tokens; tf per query term via cond-agg
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("tok") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = _BM25_K1 * (1 - _BM25_B + _BM25_B * (F.col("dl") / avgdl))

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        return idf * tf * (_BM25_K1 + 1) / (tf + norm)

    score = term_score(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i)
    return (
        scored.select("doc_id", F.round(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOP)
    )


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * CAST(tf_{i} AS DOUBLE) * {_BM25_K1 + 1}"
        f" / (CAST(tf_{i} AS DOUBLE) + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * "
        f"(CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl, {tf_cols}
  FROM toks GROUP BY doc_id
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM per_doc
)
SELECT doc_id, ROUND({terms}, 4) AS bm25
FROM per_doc CROSS JOIN stats
WHERE ROUND({terms}, 4) > 0
ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOP}
"""


BM25_SQL = _bm25_sql()


# --- Multi-round BPE training ------------------------------------------
# Unit separator inside the merge representation: each unit is wrapped
# '\x1f u \x1f', adjacent units abut ('\x1f\x1f' between) — chosen so ONE
# string replace per round implements greedy leftmost non-overlapping
# merging exactly (both engines' replace() is leftmost non-overlapping,
# and the wrapped pattern '\x1fa\x1f\x1fb\x1f' consumes both full units,
# so an overlapping second occurrence cannot match — the BPE semantics).
_BPE_SEP = "\x1f"
_BPE_ROUNDS = 3


def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """FULL multi-round BPE tokenizer training (greedy merge loop), not
    just one pair count (`bpe_pair_stats` is the single inner step):
    ``_BPE_ROUNDS`` rounds of count-pairs → pick top pair → merge it
    everywhere → recount, returning one row per round with the chosen
    pair and its pre-merge weighted count.

    Fully declarative — NO driver-side collect anywhere: each round's
    winning pair is a 1-row TakeOrdered subtree cross-joined (broadcast)
    into the next round's merge expression, and the merge itself is one
    ``replace()`` over the wrapped-unit representation (see `_BPE_SEP`;
    the wrapping makes leftmost non-overlapping string replace EXACTLY
    greedy BPE merging, verified on the `aaa`/`aaaa` overlap cases in
    tests). The whole k-round loop is a single lazy DAG.

    Scale shape: the corpus collapses to the weighted VOCABULARY first
    (one corpus-sized shuffle, the same trick production BPE trainers
    use) — every merge round then runs over distinct tokens with
    occurrence weights, so round cost is vocab-bounded regardless of
    corpus size; pair counts are weighted sums (map-side combinable).
    """
    d = load_table(spark, "documents", sf)
    vocab = (
        d.select(F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("t")), lambda i: F.col("t").substr(i, F.lit(1))
    )
    rep = vocab.select(
        "w",
        F.concat(
            F.lit(_BPE_SEP),
            F.array_join(chars, _BPE_SEP + _BPE_SEP),
            F.lit(_BPE_SEP),
        ).alias("rep"),
    )

    def top_pair(rep_df: DataFrame) -> DataFrame:
        units = F.split(
            F.expr("substring(rep, 2, length(rep) - 2)"), _BPE_SEP + _BPE_SEP
        )
        pairs = rep_df.select(
            "w",
            F.explode(
                F.zip_with(
                    units,
                    F.slice(units, 2, F.greatest(F.size(units) - 1, F.lit(1))),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
        ).filter(F.col("p.r").isNotNull())
        return (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("w").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
        )

    S = _BPE_SEP
    rounds = []
    cur = rep
    for rnd in range(1, _BPE_ROUNDS + 1):
        best = top_pair(cur)
        rounds.append(best.select(F.lit(rnd).alias("round"), "l", "r", "pair_count"))
        pattern = F.concat(F.lit(S), F.col("l"), F.lit(S + S), F.col("r"), F.lit(S))
        merged = F.concat(F.lit(S), F.col("l"), F.col("r"), F.lit(S))
        cur = cur.crossJoin(F.broadcast(best)).select(
            "w", F.replace(F.col("rep"), pattern, merged).alias("rep")
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


def _bpe_train_sql() -> str:
    S = _BPE_SEP
    SS = S + S

    def units_cte(src: str, n: int) -> str:
        """pairs_{n}: weighted adjacent unit pairs of rep column in {src}."""
        return f"""
pairs_{n} AS (
  SELECT w, u[i] AS l, u[i + 1] AS r
  FROM (SELECT w, string_split(substr(rep, 2, length(rep) - 2), '{SS}') AS u
        FROM {src}),
       LATERAL UNNEST(generate_series(1, greatest(len(u) - 1, 0))) t(i)
),
top_{n} AS (
  SELECT l, r, CAST(SUM(w) AS BIGINT) AS pair_count
  FROM pairs_{n} GROUP BY l, r
  ORDER BY pair_count DESC, l, r LIMIT 1
)"""

    merges = []
    for n in range(1, _BPE_ROUNDS):
        merges.append(
            f"""
rep_{n + 1} AS (
  SELECT w, replace(rep, '{S}' || t.l || '{SS}' || t.r || '{S}',
                    '{S}' || t.l || t.r || '{S}') AS rep
  FROM rep_{n} CROSS JOIN top_{n} t
)"""
        )

    ctes = f"""
WITH vocab AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT unnest({_TOKENS_SQL}) AS t FROM documents) GROUP BY t
),
rep_1 AS (
  SELECT w,
    '{S}' || array_to_string(
      list_transform(generate_series(1, length(t)), i -> substr(t, i, 1)),
      '{SS}') || '{S}' AS rep
  FROM vocab
)"""
    body = ctes
    for n in range(1, _BPE_ROUNDS + 1):
        body += "," + units_cte(f"rep_{n}", n)
        if n < _BPE_ROUNDS:
            body += "," + merges[n - 1]
    selects = "\nUNION ALL\n".join(
        f"SELECT {n} AS round, l, r, pair_count FROM top_{n}"
        for n in range(1, _BPE_ROUNDS + 1)
    )
    return f"{body}\n{selects}\nORDER BY round"


BPE_TRAIN_SQL = _bpe_train_sql()


def bpe_encode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer APPLICATION: train ``_BPE_ROUNDS`` BPE merges (the same
    declarative merge chain as `bpe_train_merges`) and apply ALL of them
    to the corpus, reporting per-document BPE token counts and
    FERTILITY (BPE tokens per word) — the statistic that prices a
    corpus in compute budget and flags writing systems a tokenizer
    underserves.

    Key scale property inherited from the trainer: merges train AND
    apply on the weighted VOCABULARY (distinct words), never the
    corpus; the corpus is touched exactly twice — once to build the
    vocabulary, once to join each token occurrence to its word's
    encoded unit count (vocabulary-keyed join, AQE-broadcast at fixture
    scale). The whole train+apply+join is ONE lazy DAG with no
    driver-side collect.
    """
    d = load_table(spark, "documents", sf)
    vocab = (
        d.select(F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("t")), lambda i: F.col("t").substr(i, F.lit(1))
    )
    S = _BPE_SEP
    cur = vocab.select(
        "t",
        "w",
        F.concat(
            F.lit(S), F.array_join(chars, S + S), F.lit(S)
        ).alias("rep"),
    )

    def top_pair(rep_df: DataFrame) -> DataFrame:
        units = F.split(
            F.expr("substring(rep, 2, length(rep) - 2)"), S + S
        )
        pairs = rep_df.select(
            "w",
            F.explode(
                F.zip_with(
                    units,
                    F.slice(units, 2, F.greatest(F.size(units) - 1, F.lit(1))),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
        ).filter(F.col("p.r").isNotNull())
        return (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("w").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
        )

    # unlike the trainer (which reports the pair found in round k and
    # only applies k-1 merges to the frame it returns from), the encoder
    # APPLIES every trained merge, including the last
    for _ in range(_BPE_ROUNDS):
        best = top_pair(cur)
        pattern = F.concat(F.lit(S), F.col("l"), F.lit(S + S), F.col("r"), F.lit(S))
        merged = F.concat(F.lit(S), F.col("l"), F.col("r"), F.lit(S))
        cur = cur.crossJoin(F.broadcast(best)).select(
            "t", "w", F.replace(F.col("rep"), pattern, merged).alias("rep")
        )

    n_units = F.size(
        F.split(F.expr("substring(rep, 2, length(rep) - 2)"), S + S)
    )
    enc = cur.select("t", n_units.alias("n_units"))
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    return (
        toks.join(enc, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_units").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias("fertility"),
        )
        .orderBy("doc_id")
    )


def _bpe_encode_sql() -> str:
    S = _BPE_SEP
    SS = S + S

    def units_cte(src: str, n: int) -> str:
        return f"""
pairs_{n} AS (
  SELECT w, u[i] AS l, u[i + 1] AS r
  FROM (SELECT w, string_split(substr(rep, 2, length(rep) - 2), '{SS}') AS u
        FROM {src}),
       LATERAL UNNEST(generate_series(1, greatest(len(u) - 1, 0))) t(i)
),
top_{n} AS (
  SELECT l, r, CAST(SUM(w) AS BIGINT) AS pair_count
  FROM pairs_{n} GROUP BY l, r
  ORDER BY pair_count DESC, l, r LIMIT 1
)"""

    body = f"""
WITH vocab AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT unnest({_TOKENS_SQL}) AS t FROM documents) GROUP BY t
),
rep_1 AS (
  SELECT t, w,
    '{S}' || array_to_string(
      list_transform(generate_series(1, length(t)), i -> substr(t, i, 1)),
      '{SS}') || '{S}' AS rep
  FROM vocab
)"""
    for n in range(1, _BPE_ROUNDS + 1):
        body += "," + units_cte(f"rep_{n}", n)
        body += f""",
rep_{n + 1} AS (
  SELECT rep_{n}.t, w, replace(rep, '{S}' || tp.l || '{SS}' || tp.r || '{S}',
                    '{S}' || tp.l || tp.r || '{S}') AS rep
  FROM rep_{n} CROSS JOIN top_{n} tp
)"""
    return f"""{body},
enc AS (
  SELECT t,
    len(string_split(substr(rep, 2, length(rep) - 2), '{SS}')) AS n_units
  FROM rep_{_BPE_ROUNDS + 1}
),
toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS t FROM documents)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(n_units) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(n_units) AS DOUBLE) / COUNT(*) AS fertility
FROM toks JOIN enc USING (t)
GROUP BY doc_id ORDER BY doc_id
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


# Exact cross-document substring spans: window width in tokens. 8 is
# the classic exact-substring-dedup granularity scaled down to the
# fixture corpus (production systems use 50 BPE tokens; the plan shape
# is width-independent).
_SPAN_W = 8


def duplicate_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT cross-document duplicated-substring spans — the
    suffix-array dedup signal ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022) re-expressed as a
    relational plan: a token w-gram that occurs in MORE THAN ONE doc
    marks its ``w`` token positions as duplicated; overlapping /
    adjacent marked windows merge into maximal spans. Per doc with at
    least one span: span count, duplicated-token count, and duplicated
    fraction.

    Plan: positional w-grams (narrow ``posexplode``, the same
    shifted-slice construction as :func:`_ngrams`) → md5 of the gram as
    the join key (32 bytes shuffled instead of a w-token string; both
    engines compute the identical digest, so the differential gate is
    unaffected) → duplicated grams by ``count(DISTINCT doc_id) > 1``
    (map-side combinable after partial (gram, doc) dedup) → semi-join
    back → per-doc position merge. The merge window partitions by
    doc_id and is bounded by DOC LENGTH, never corpus size; positions
    ``q > p + w`` break a span (``<= p + w`` keeps coverage contiguous,
    so merged intervals are disjoint and coverage sums exactly as
    ``last - first + w``). Everything is integer except the final
    single division (ln/round-4 tolerance class).
    """
    d = load_table(spark, "documents", sf)
    toks = _tokens(F.col("text"))
    grams = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.posexplode(_ngrams(F.col("text"), _SPAN_W)).alias("pos", "gram"),
    ).select("doc_id", "n_tokens", "pos", F.md5(F.col("gram")).alias("g"))

    # "occurs in more than one distinct doc" ⟺ min(doc_id) < max(doc_id):
    # two plain map-side-combinable aggregates; count_distinct would
    # carry a per-gram distinct expansion through the same shuffle for
    # no extra information. (Wall-clock here is dominated by the w-gram
    # fan-out itself — w string concats per token position — not by the
    # aggregate choice.)
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") < F.col("hi"))
        .select("g")
    )
    marked = grams.join(dup, "g", "left_semi")

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = (
        F.col("pos") > F.lag("pos", 1, -_SPAN_W - 1).over(w_doc) + _SPAN_W
    ).cast("long")
    spans = (
        marked.withColumn(
            "span_id",
            F.sum(brk).over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "n_tokens", "span_id")
        .agg(F.min("pos").alias("first"), F.max("pos").alias("last"))
    )
    return (
        spans.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("last") - F.col("first") + _SPAN_W).alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_spans",
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double"),
                4,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


DUPLICATE_SPAN_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_TOKENS_SQL}) AS n_tokens,
         {_ngrams_sql(_SPAN_W)} AS grams
  FROM documents
),
g AS (
  SELECT doc_id, n_tokens, i - 1 AS pos, md5(list_extract(grams, i)) AS gk
  FROM d, LATERAL UNNEST(generate_series(1, greatest(len(grams), 0))) AS t(i)
),
dup AS (
  SELECT gk FROM g GROUP BY gk HAVING COUNT(DISTINCT doc_id) > 1
),
marked AS (
  SELECT doc_id, n_tokens, pos FROM g WHERE gk IN (SELECT gk FROM dup)
),
flagged AS (
  SELECT doc_id, n_tokens, pos,
    CASE WHEN pos > COALESCE(LAG(pos) OVER w, -{_SPAN_W + 1}) + {_SPAN_W}
         THEN 1 ELSE 0 END AS brk
  FROM marked
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
runs AS (
  SELECT doc_id, n_tokens, pos,
    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
  FROM flagged
),
spans AS (
  SELECT doc_id, n_tokens, span_id,
    MIN(pos) AS first, MAX(pos) AS last
  FROM runs GROUP BY doc_id, n_tokens, span_id
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(last - first + {_SPAN_W}) AS BIGINT) AS dup_tokens,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(last - first + {_SPAN_W}) AS DOUBLE)
        / CAST(n_tokens AS DOUBLE), 4) AS dup_frac
FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id
"""


_BIGRAM_K = 0.5


def bigram_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained add-k-smoothed
    BIGRAM language model — the second-order upgrade of
    `lm_cross_entropy`'s unigram filter (catches word-salad documents
    whose individual words are common but whose transitions are not).
    Model training and scoring fuse into one job: bigram events are
    exploded once with a ``<s>`` sentinel, aggregated to per-doc partial
    counts, and the model tables are two further (map-side combinable)
    aggregates over those partials.

    ``p(cur|prev) = (c2 + k) / (c1 + k·(V+1))`` with k = {k}, V the
    continuation vocabulary (+1 for unseen); ``CE_d = −Σ k_d·ln p / n_d``
    and ``ppl = exp(CE)`` (exp applied to the already-rounded CE so both
    engines exponentiate identical doubles).

    Scale shape: the (doc, prev, cur) → model join is bigram-keyed with
    partial aggregation on both inputs; observed-bigram cardinality grows
    sublinearly (Heaps' law on word pairs), so this stays a plain
    vocabulary-keyed shuffle join — never corpus×corpus. V crosses as a
    broadcast 1-row frame. Hash gate: Σ k·ln p is the same documented
    ROUND-4 tolerance class as `lm_cross_entropy`/`word_entropy`.
    """
    d = load_table(spark, "documents", sf).filter(F.col("text").isNotNull())
    toks = _tokens(F.col("text"))
    padded = F.concat(F.array(F.lit("<s>")), toks)
    # zip_with over the <s>-shifted slice, NOT transform(sequence, i ->
    # element_at(toks, i)): inside a lambda the captured token-array
    # expression re-evaluates per element, re-running the regex split
    # O(tokens) times per row (the _shingles lesson, ~20x end-to-end).
    grams = F.zip_with(
        F.slice(padded, 1, F.size(toks)),
        toks,
        lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
    )
    # truncate_lineage, not persist: bg feeds three consumers (c2/c1
    # chain, V, the scoring join), so one materialization is right —
    # but the r8 profile showed InMemoryRelation's columnar
    # encode/decode costing ~0.8-1.3 s/run over checkpointed rows at
    # sf0.1 (persist 2.4-3.2 s vs 1.6-1.8 s steady), and checkpoint
    # blocks are ContextCleaner-managed instead of living in the
    # CacheManager for process lifetime.
    bg = truncate_lineage(
        d.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.prev").alias("prev"), F.col("g.cur").alias("cur"))
        .groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    c2 = bg.groupBy("prev", "cur").agg(F.sum("k").cast("long").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").cast("long").alias("c1"))
    vsize = bg.agg(F.countDistinct("cur").cast("long").alias("v"))
    model = c2.join(c1, "prev").crossJoin(F.broadcast(vsize)).select(
        "prev",
        "cur",
        (
            (F.col("c2").cast("double") + F.lit(_BIGRAM_K))
            / (
                F.col("c1").cast("double")
                + F.lit(_BIGRAM_K) * (F.col("v").cast("double") + F.lit(1.0))
            )
        ).alias("p"),
    )
    return (
        bg.join(model, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.round(
                -F.sum(F.col("k") * F.log(F.col("p")))
                / F.sum("k").cast("double"),
                4,
            ).alias("bigram_ce"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "bigram_ce",
            F.round(F.exp(F.col("bigram_ce")), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


bigram_lm_perplexity.__doc__ = bigram_lm_perplexity.__doc__.format(k=_BIGRAM_K)

BIGRAM_LM_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
ev AS (
  SELECT doc_id,
         list_extract(list_prepend('<s>', toks), i.i) AS prev,
         list_extract(toks, i.i) AS cur
  FROM base, UNNEST(generate_series(1, len(toks))) AS i(i)
),
bg AS (
  SELECT doc_id, prev, cur, COUNT(*) AS k FROM ev GROUP BY doc_id, prev, cur
),
c2 AS (
  SELECT prev, cur, CAST(SUM(k) AS BIGINT) AS c2 FROM bg GROUP BY prev, cur
),
c1 AS (
  SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev
),
vsize AS (SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS v FROM bg),
model AS (
  SELECT c2.prev, c2.cur,
         (CAST(c2 AS DOUBLE) + {_BIGRAM_K})
           / (CAST(c1 AS DOUBLE) + {_BIGRAM_K} * (CAST(v AS DOUBLE) + 1.0)) AS p
  FROM c2 JOIN c1 USING (prev) CROSS JOIN vsize
),
scored AS (
  SELECT doc_id,
         CAST(SUM(k) AS BIGINT) AS n_tokens,
         ROUND(-SUM(k * ln(p)) / CAST(SUM(k) AS DOUBLE), 4) AS bigram_ce
  FROM bg JOIN model USING (prev, cur)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, bigram_ce, ROUND(exp(bigram_ce), 4) AS ppl
FROM scored ORDER BY doc_id
"""


def lm_cross_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under the corpus-wide unigram MLE
    language model — the classic perplexity-style quality filter (a
    document whose words are globally rare scores HIGH; boilerplate
    scores LOW). Model and scoring in one job, no external LM.

    ``CE_d = ln N − (Σ_w k_dw·ln c_w)/n_d`` where ``c_w`` is the corpus
    count of word ``w``, ``N`` the corpus token total and ``k_dw`` the
    in-document count. The model is trained FROM the (doc,word) partial
    counts — the token stream is exploded and aggregated once; the
    vocabulary is a second, much smaller aggregate over those partials
    (map-side combinable both times).

    Scale shape: the (doc,word)→vocab join is word-keyed with partial
    aggregation on both inputs; the vocabulary grows sublinearly in the
    corpus (Heaps' law), so at 100 TB this is a plain shuffle join AQE
    may downgrade to broadcast — never a corpus×corpus product. The
    corpus token total crosses as a broadcast 1-row frame.

    Hash gate: Σ k·ln(c) is a float sum rounded to 4 decimals — the
    same documented tolerance class as `word_entropy`; everything else
    is exact integer arithmetic.
    """
    d = load_table(spark, "documents", sf)
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    dc = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    vocab = dc.groupBy("tok").agg(F.sum("k").cast("long").alias("cw"))
    total = vocab.agg(F.sum("cw").cast("long").alias("n_total"))
    return (
        dc.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.log(F.col("cw").cast("double"))).alias("_klncw"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("n_total").cast("double"))
                - F.col("_klncw") / F.col("n_tokens"),
                4,
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


LM_CROSS_ENTROPY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
dc AS (
  SELECT doc_id, tok, COUNT(*) AS k FROM tok GROUP BY doc_id, tok
),
vocab AS (
  SELECT tok, CAST(SUM(k) AS BIGINT) AS cw FROM dc GROUP BY tok
),
total AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_total FROM vocab)
SELECT doc_id,
  CAST(SUM(k) AS BIGINT) AS n_tokens,
  ROUND(
    ln(CAST((SELECT n_total FROM total) AS DOUBLE))
      - SUM(k * ln(CAST(cw AS DOUBLE))) / CAST(SUM(k) AS BIGINT),
    4
  ) AS cross_entropy
FROM dc JOIN vocab USING (tok)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- boilerplate phrase detection ------------------------------------------

# A 3-gram appearing in >= _BP_DF distinct documents is "boilerplate"
# (site chrome, licence blurbs, navigation text). On this synthetic
# vocabulary df>=5 marks ~1% of distinct 3-grams (measured), mirroring
# the CCNet-style paragraph-frequency cut natural-text pipelines use.
_BP_DF = 5


def boilerplate_phrases(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's 3-gram
    OCCURRENCES whose gram appears in >= ``_BP_DF`` distinct documents —
    the curation signal for "this page is mostly chrome, keep the
    long-tail prose" (CCNet/RefinedWeb-style boilerplate cut, expressed
    relationally instead of per-page heuristics).

    Scale shape: one distinct-aggregate for document frequency (map-side
    combinable), one vocabulary-keyed join back onto the occurrence
    stream (both sides corpus-derived — same shape as
    ``rare_token_stats``; AQE broadcasts when the gram table is small),
    one groupBy doc_id. Nothing is ever pairwise.
    """
    d = load_table(spark, "documents", sf)
    occ = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("sh"))
    dfq = occ.groupBy("sh").agg(F.countDistinct("doc_id").alias("df"))
    return (
        occ.join(dfq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") >= _BP_DF, 1).otherwise(0)).alias("bp_grams"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("bp_grams").cast("long").alias("bp_grams"),
            (F.col("bp_grams").cast("double") / F.col("n_grams")).alias("bp_frac"),
        )
        .orderBy("doc_id")
    )


BOILERPLATE_SQL = f"""
WITH occ AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents),
dfq AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY sh)
SELECT o.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN d.df >= {_BP_DF} THEN 1 ELSE 0 END) AS BIGINT) AS bp_grams,
  CAST(SUM(CASE WHEN d.df >= {_BP_DF} THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS bp_frac
FROM occ o JOIN dfq d USING (sh)
GROUP BY o.doc_id ORDER BY o.doc_id
"""


# --- exact containment (quote/subset) join ----------------------------------

_CJ_NUM, _CJ_DEN = 4, 5  # containment threshold 0.8


def containment_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT directed containment join: every ordered pair (a, b) with
    ``|sh(a) ∩ sh(b)| / |sh(a)| >= 0.8`` — the asymmetric cousin of
    ``set_similarity_join`` that catches a SHORT doc quoted inside a
    much longer one, which Jaccard structurally misses (a small set
    inside a big one has low Jaccard but containment 1.0).

    Prefix filtering adapted to containment: elements are globally
    ordered rarest-first; only the CONTAINED side keeps a prefix of
    ``na - ceil(t*na) + 1`` elements, while the containing side posts
    ALL elements. Losslessness (pigeonhole): a qualifying pair shares
    ``>= ceil(t*na)`` elements, and A's suffix beyond the prefix holds
    only ``ceil(t*na) - 1`` elements — so at least one shared element
    sits in A's prefix, and B's full posting finds it. A size filter
    (``DEN*nb >= NUM*na``, since the overlap can't exceed ``nb``)
    prunes before the exact ``array_intersect`` verify on candidates.

    Scale shape: one checkpointed shingle-set frame (`_shingle_sets`,
    one job at call time, nothing left in the session cache) feeds the
    element stream and both verify joins. The candidate join is
    Σ_el prefix-df(el)·df(el), bounded by the rarest-first prefix
    (short postings on the A side), never docs²; verification touches
    candidate pairs only.
    """
    sets = _shingle_sets(spark, sf)

    # Hash-keyed element stream shared with set_similarity_join: the
    # prefix pigeonhole holds under any shared total order, collisions
    # only add candidates, and the exact array_intersect verify prunes
    # them — output unchanged.
    elems, ordered = _ranked_elements(sets)
    # prefix length p = n - ceil(t*n) + 1, ceil in integer arithmetic
    p = (
        F.col("n")
        - F.floor((_CJ_NUM * F.col("n") + _CJ_DEN - 1) / _CJ_DEN).cast("int")
        + 1
    )
    a_pref = ordered.select(
        "doc_id", "n", F.explode(F.slice("sorted_el", 1, p)).alias("el")
    )

    a, b = a_pref.alias("a"), elems.alias("b")
    cands = (
        a.join(b, "el")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .filter(_CJ_DEN * F.col("b.n") >= _CJ_NUM * F.col("a.n"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cands.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .filter(_CJ_DEN * inter >= _CJ_NUM * F.size("sh_a"))
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").cast("long").alias("na"),
            F.size("sh_b").cast("long").alias("nb"),
            (inter.cast("double") / F.size("sh_a")).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# Oracle: brute-force all ordered pairs with the SAME integer threshold —
# the containment prefix filter is provably lossless, so outputs must be
# identical.
CONTAINMENT_SQL = f"""
WITH s AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents),
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.sh, b.sh)) AS inter,
    len(a.sh) AS na, len(b.sh) AS nb
  FROM s a JOIN s b ON a.doc_id <> b.doc_id
)
SELECT doc_a, doc_b, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
  CAST(inter AS DOUBLE) / na AS containment
FROM scored WHERE {_CJ_DEN} * inter >= {_CJ_NUM} * na
ORDER BY doc_a, doc_b
"""


# --- PMI collocations --------------------------------------------------------

_PMI_TOP = 25


def pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus collocation extraction: the ``_PMI_TOP`` most frequent
    adjacent word bigrams with their pointwise mutual information
    ``ln(P(ab) / (P(a)·P(b)))`` — the classic phrase-mining signal
    (PMI >> 0 means the words co-occur far beyond chance; the phrases a
    tokenizer or stopword list should treat as units).

    Counts stay exact BIGINT through the joins; the ratio
    ``n_ab·N² / (M·n_a·n_b)`` (N total tokens, M total bigrams) is
    computed with each factor cast to double BEFORE multiplying — the
    int64 product ``n_ab·N²`` overflows past ~3M tokens, and Spark
    (non-ANSI) would wrap silently while DuckDB raises. Identical IEEE
    double ops on both engines + round(4) keep the hash gate exact.

    Scale shape: unigram and bigram counts are map-side-combinable
    aggregations; the bigram→unigram joins key on the corpus-derived
    vocabulary (same shape as ``rare_token_stats``; AQE broadcasts the
    fixture-small sides). Totals are 1-row broadcasts. Top-k via
    TakeOrderedAndProject, deterministic tie-break on the bigram text.
    """
    d = load_table(spark, "documents", sf)
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    n_tot = toks.agg(F.count(F.lit(1)).cast("long").alias("N"))

    big = d.select(F.explode(_ngrams(F.col("text"), 2)).alias("bigram"))
    bgc = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
    m_tot = big.agg(F.count(F.lit(1)).cast("long").alias("M"))

    w1 = F.substring_index("bigram", " ", 1)
    w2 = F.substring_index("bigram", " ", -1)
    ua = uni.select(F.col("w").alias("_w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("_w2"), F.col("n_w").alias("n_b"))
    return (
        bgc.withColumn("_w1", w1)
        .withColumn("_w2", w2)
        .join(ua, "_w1")
        .join(ub, "_w2")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .select(
            "bigram",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.log(
                    (
                        F.col("n_ab").cast("double")
                        * F.col("N").cast("double")
                        * F.col("N").cast("double")
                    )
                    / (
                        F.col("M").cast("double")
                        * F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_ab"), "bigram")
        .limit(_PMI_TOP)
    )


PMI_SQL = f"""
WITH toks AS (SELECT unnest({_TOKENS_SQL}) AS w FROM documents),
uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM toks),
big AS (SELECT unnest({_ngrams_sql(2)}) AS bigram FROM documents),
bgc AS (SELECT bigram, COUNT(*) AS n_ab FROM big GROUP BY bigram),
mtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS M FROM big)
SELECT bigram,
  CAST(n_ab AS BIGINT) AS n_ab,
  CAST(ua.n_w AS BIGINT) AS n_a,
  CAST(ub.n_w AS BIGINT) AS n_b,
  ROUND(LN(CAST(n_ab AS DOUBLE) * CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
           / (CAST(M AS DOUBLE) * CAST(ua.n_w AS DOUBLE)
              * CAST(ub.n_w AS DOUBLE))), 4) AS pmi
FROM bgc
JOIN uni ua ON ua.w = split_part(bigram, ' ', 1)
JOIN uni ub ON ub.w = split_part(bigram, ' ', 2)
CROSS JOIN tot CROSS JOIN mtot
ORDER BY n_ab DESC, bigram LIMIT {_PMI_TOP}
"""


_ZIPF_TOP = 500


def zipf_vocab_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-health diagnostic: the Zipf rank-frequency fit. Natural
    text has ``ln(freq) ≈ intercept − s·ln(rank)`` with ``s ≈ 1`` over
    the head of the vocabulary; templated/synthetic corpora flatten
    (s ≪ 1) or cliff (s ≫ 1), so the fitted slope is a one-number
    pre-training corpus screen alongside `word_entropy`/`lang_id`.

    Plan: token explode → global term frequencies (map-side combinable)
    → top-{top} head by (freq DESC, token ASC) — the deterministic
    tie-break keeps both engines' rankings identical — then the
    closed-form OLS of `value_trend_ols` over (ln rank, ln freq):
    per-row ``ln`` quantized to 6 dp (the documented transcendental
    class), 6-dp decimals multiply exactly at 12 dp, so the moment sums
    are order-independent and slope/intercept are one double expression
    over exact inputs (association order mirrored verbatim in the
    oracle). The ranking window runs over the already-LIMITed {top}-row
    head, and the head selection itself is a TakeOrdered over the
    vocabulary aggregate — Heaps-law-bounded, never corpus-sized; at
    100 TB this is a top-k over a term dictionary.
    """
    d = load_table(spark, "documents", sf).filter(F.col("text").isNotNull())
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = vocab.orderBy(F.col("freq").desc(), F.col("tok")).limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("tok"))),
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("freq").cast("double")), 6).cast("decimal(18,6)")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,12)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,12)")).alias("sxx"),
    )
    totals = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("freq").cast("long").alias("n_tokens"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    # A single-rank vocabulary makes the OLS denominator exactly 0;
    # Spark's double x/0 (NaN) and DuckDB's (configurable: error or
    # inf/NaN) need not agree, so a degenerate corpus would turn into a
    # spurious gate mismatch. NULL the fit on BOTH sides when n < 2 —
    # a one-word corpus has no slope, and NULL is the honest answer.
    fit_ok = F.col("n") >= 2
    return m.crossJoin(F.broadcast(totals)).select(
        "vocab_size",
        "n_tokens",
        F.col("n").cast("long").alias("n_ranks"),
        F.when(fit_ok, F.round(slope, 6)).alias("zipf_slope"),
        F.when(fit_ok, F.round(intercept, 6)).alias("intercept"),
    )


zipf_vocab_fit.__doc__ = zipf_vocab_fit.__doc__.format(top=_ZIPF_TOP)


ZIPF_SQL = f"""
WITH tok AS (
  SELECT t.tok FROM documents, LATERAL UNNEST({_TOKENS_SQL}) AS t(tok)
  WHERE text IS NOT NULL AND t.tok != ''
),
vocab AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
top AS (SELECT tok, freq FROM vocab ORDER BY freq DESC, tok LIMIT {_ZIPF_TOP}),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank FROM top
),
q AS (
  SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx,
         CAST(ROUND(LN(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
  FROM ranked
),
m AS (
  SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(CAST(lx * ly AS DECIMAL(38,12))) AS sxy,
         SUM(CAST(lx * lx AS DECIMAL(38,12))) AS sxx
  FROM q
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(freq) AS BIGINT) AS n_tokens
  FROM vocab
)
SELECT t.vocab_size, t.n_tokens, CAST(m.n AS BIGINT) AS n_ranks,
  CASE WHEN m.n >= 2 THEN
    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
  END AS zipf_slope,
  CASE WHEN m.n >= 2 THEN
    ROUND((CAST(sy AS DOUBLE)
           - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE), 6)
  END AS intercept
FROM m CROSS JOIN t
"""


TEXT_QUERIES: dict[str, QuerySpec] = {
    "zipf_vocab_fit": QuerySpec(zipf_vocab_fit, ZIPF_SQL),
    "boilerplate_phrases": QuerySpec(boilerplate_phrases, BOILERPLATE_SQL),
    "containment_join": QuerySpec(containment_join, CONTAINMENT_SQL),
    "pmi_collocations": QuerySpec(pmi_collocations, PMI_SQL),
    "lm_cross_entropy": QuerySpec(lm_cross_entropy, LM_CROSS_ENTROPY_SQL),
    "duplicate_span_stats": QuerySpec(duplicate_span_stats, DUPLICATE_SPAN_SQL),
    "bpe_train_merges": QuerySpec(bpe_train_merges, BPE_TRAIN_SQL),
    "bpe_encode_tokens": QuerySpec(bpe_encode_tokens, BPE_ENCODE_SQL),
    "bm25_search": QuerySpec(bm25_search, BM25_SQL),
    "bpe_pair_stats": QuerySpec(bpe_pair_stats, BPE_PAIR_SQL),
    "set_similarity_join": QuerySpec(set_similarity_join, SET_SIMILARITY_SQL),
    "source_overlap": QuerySpec(source_overlap, SOURCE_OVERLAP_SQL),
    "word_entropy": QuerySpec(word_entropy, WORD_ENTROPY_SQL),
    "simhash": QuerySpec(simhash, SIMHASH_SQL),
    "ngram_jaccard": QuerySpec(ngram_jaccard, NGRAM_JACCARD_SQL),
    "quality_score": QuerySpec(quality_score, QUALITY_SQL),
    "encoding_quality": QuerySpec(encoding_quality, ENCODING_QUALITY_SQL),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL),
    "token_stats": QuerySpec(token_stats, TOKEN_STATS_SQL),
    "token_count_by_source": QuerySpec(token_count_by_source, TOKEN_COUNT_SQL),
    "token_count_arrow": QuerySpec(token_count_arrow, TOKEN_COUNT_SQL),
    "lang_id": QuerySpec(lang_id, LANG_ID_SQL),
    "doc_fingerprint": QuerySpec(doc_fingerprint, DOC_FINGERPRINT_SQL),
    "minhash_bands": QuerySpec(minhash_bands, MINHASH_BANDS_SQL),
    "near_dup_candidates": QuerySpec(near_dup_candidates, NEAR_DUP_SQL),
    "near_dup_delta": QuerySpec(near_dup_delta, NEAR_DUP_DELTA_SQL),
    "dedup_exact_delta": QuerySpec(dedup_exact_delta, DEDUP_EXACT_DELTA_SQL),
    "url_canonical_dedup": QuerySpec(url_canonical_dedup, URL_CANONICAL_DEDUP_SQL),
    "html_boilerplate_extract": QuerySpec(
        html_boilerplate_extract, HTML_BOILERPLATE_SQL
    ),
    "bigram_lm_perplexity": QuerySpec(bigram_lm_perplexity, BIGRAM_LM_SQL),
    "repetition_score": QuerySpec(repetition_score, REPETITION_SQL),
    "decontaminate": QuerySpec(decontaminate, DECONTAMINATE_SQL),
    "lang_confusion": QuerySpec(lang_confusion, LANG_CONFUSION_SQL),
}
