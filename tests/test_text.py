"""Normalizer unit tests (FIXTURES.md A4 corpus) across all three
renderings: Spark exprs, DuckDB SQL, pure Python."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from multi_attribute_join_search_with_mapreduce_spark.functions.text import (
    normalize_col,
    normalize_py,
    normalize_sql,
)

CORPUS = [
    ("James Cameron", "james cameron"),
    ("The Avatar!", "avatar"),
    ("avatar", "avatar"),
    ("Pirates of the Caribbean: At World's End", "pirates caribbean world s end"),
    ("  spaced   out  ", "spaced out"),
    ("punct!@#$,.-;:_soup", "punct soup"),
    ("Café\xa0Münster", "cafmnster"),  # ascii-fold drops non-ascii bytes in place
    ("UPPER_lower-Mixed.Case", "upper lower mixed case"),
    ("the of on in", ""),  # all stopwords
    ("of of", ""),  # doubled stopwords (ref's replace-loop misses these)
    ("a", ""),
    ("", ""),
    ("42 items, 7% off!", "42 items 7 off"),
    ("they will v ve d", ""),
    ("start the end", "start end"),
    ("d'Artagnan's", "artagnan s"),  # 's' is not a stopword; leading 'd' is
]


@pytest.mark.parametrize("raw,expected", CORPUS)
def test_normalize_py(raw, expected):
    assert normalize_py(raw) == expected


def test_normalize_py_idempotent():
    for raw, _ in CORPUS:
        once = normalize_py(raw)
        assert normalize_py(once) == once


def test_normalize_spark_matches_python(spark):
    df = spark.createDataFrame([(r,) for r, _ in CORPUS], ["raw"])
    out = df.select("raw", normalize_col("raw").alias("norm")).collect()
    for row in out:
        assert row["norm"] == normalize_py(row["raw"]), row["raw"]


def test_normalize_duckdb_matches_python():
    con = duckdb.connect()
    for raw, expected in CORPUS:
        con.execute("CREATE OR REPLACE TABLE _t AS SELECT ?::VARCHAR AS raw", [raw])
        got = con.execute(f"SELECT {normalize_sql('raw')} AS n FROM _t").fetchone()[0]
        assert got == normalize_py(raw) == expected, raw


def test_normalize_null_passthrough(spark):
    assert normalize_py(None) is None
    df = spark.createDataFrame([(None,)], "raw string")
    assert df.select(normalize_col("raw").alias("n")).first()["n"] is None


def test_near_dup_delta_completes_the_full_build(spark, sf_dir):
    """Incremental maintenance invariant: full-corpus candidates ==
    (base-vs-base candidates) ∪ (delta candidates touching a new doc),
    disjointly — so appending a batch and running the delta never loses
    or double-emits a pair."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _DELTA_MOD,
        near_dup_candidates,
        near_dup_delta,
    )

    full = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in near_dup_candidates(spark, sf_dir).collect()
    }
    delta = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in near_dup_delta(spark, sf_dir).collect()
    }
    is_new = lambda d: d % _DELTA_MOD == 0  # noqa: E731
    base_only = {
        (a, b, j) for (a, b, j) in full if not is_new(a) and not is_new(b)
    }
    assert delta == full - base_only
    assert delta, "fixture delta batch produced no candidate pairs"
    for a, b, _ in delta:
        assert is_new(a) or is_new(b)


def test_source_overlap_invariants(spark, sf_dir):
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import source_overlap
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    rows = source_overlap(spark, sf_dir).collect()
    n_sources = load_table(spark, "documents", sf_dir).select("source").distinct().count()
    # full upper-triangular matrix, zero-overlap pairs included
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 <= r.overlap_shingles <= min(r.n_shingles_a, r.n_shingles_b)
        assert 0.0 <= r.containment <= 1.0
        assert r.containment == r.overlap_shingles / min(r.n_shingles_a, r.n_shingles_b)


def test_source_overlap_synthetic_containment(spark, tmp_path):
    """Source B = half of A's docs verbatim + noise: every shared doc's
    shingles are contained, so overlap == |shingles(shared docs)|."""
    import shutil

    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import source_overlap

    docs = [
        (1, "alpha beta gamma delta epsilon", "en", "srcA", 30),
        (2, "one two three four five six", "en", "srcA", 27),
        (3, "alpha beta gamma delta epsilon", "en", "srcB", 30),  # mirror of 1
        (4, "totally different words here now", "en", "srcB", 32),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string, n_chars long")
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    out = {(r.source_a, r.source_b): r for r in source_overlap(spark, str(lake)).collect()}
    r = out[("srcA", "srcB")]
    # doc 1 has 3 tri-shingles, all present in srcB via doc 3
    assert r.overlap_shingles == 3
    assert r.n_shingles_a == 3 + 4  # 5-token and 6-token docs
    assert r.n_shingles_b == 3 + 3


def test_duplicate_span_stats_closed_form(spark, tmp_path):
    """Two docs sharing one exact 10-token run (w=8 → 3 duplicated gram
    positions each, merging into ONE span of 10 tokens), plus a doc with
    no cross-doc 8-gram: span arithmetic must be exact and the clean doc
    absent."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _SPAN_W,
        duplicate_span_stats,
    )

    assert _SPAN_W == 8
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens
    docs = [
        (1, f"a1 a2 a3 {shared} a4 a5", "en", "srcA", 0),
        (2, f"{shared} b1 b2 b3 b4 b5 b6", "en", "srcB", 0),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11", "en", "srcA", 0),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    out = {r.doc_id: r for r in duplicate_span_stats(spark, str(lake)).collect()}
    assert set(out) == {1, 2}  # doc 3 shares no 8-gram
    # The shared run spans 3 gram positions (10 - 8 + 1) in each doc →
    # one merged span covering last - first + w = 2 + 8 = 10 tokens.
    for doc_id, n_tokens in ((1, 15), (2, 16)):
        r = out[doc_id]
        assert r.n_spans == 1
        assert r.dup_tokens == 10
        assert r.n_tokens == n_tokens
        assert abs(r.dup_frac - 10 / n_tokens) < 5e-4


def test_bpe_train_merges_greedy_overlap_semantics(spark, tmp_path):
    """Planted corpus where greedy non-overlapping merging is the whole
    game: 'aaaa' ×3 + 'aab' ×2. Round 1 must pick (a,a) with the
    OVERLAP-counted weight 3·3 + 2·1 = 11, and after merging greedily
    ('aaaa' → 'aa aa', 'aab' → 'aa b'), round 2 must see (aa,aa) from
    the three 'aaaa' and (aa,b) from the two 'aab' — NOT any residual
    (a,·) pair, which would mean replace() merged overlapping pairs."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import bpe_train_merges

    docs = [
        (1, "aaaa aaaa aaaa aab aab", "en", "srcA", 0),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    rows = {r.round: r for r in bpe_train_merges(spark, str(lake)).collect()}
    r1 = rows[1]
    assert (r1.l, r1.r, r1.pair_count) == ("a", "a", 11)
    r2 = rows[2]
    assert (r2.l, r2.r, r2.pair_count) == ("aa", "aa", 3)
    r3 = rows[3]
    assert (r3.l, r3.r, r3.pair_count) == ("aa", "b", 2)


def test_word_entropy_closed_form(spark, tmp_path):
    import math

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import word_entropy

    docs = [
        (1, "same same same same", "en", "s", 19),        # H = 0
        (2, "a b c d e f g h", "en", "s", 15),            # H = log2(8) = 3
        (3, "x x y y", "en", "s", 7),                     # H = 1
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string, n_chars long")
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    out = {r.doc_id: r for r in word_entropy(spark, str(lake)).collect()}
    assert out[1].entropy == 0.0 and out[1].ttr == 0.25
    assert out[2].entropy == 3.0 and out[2].ttr == 1.0
    assert out[3].entropy == 1.0 and out[3].ttr == 0.5
    assert out[2].n_tokens == 8 and out[2].distinct_tokens == 8


def test_set_similarity_join_matches_bruteforce(spark, sf_dir):
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        SET_SIMILARITY_SQL,
        set_similarity_join,
    )

    from .conftest import assert_df_equals_duckdb

    assert_df_equals_duckdb(set_similarity_join(spark, sf_dir), SET_SIMILARITY_SQL, sf_dir)


def test_set_similarity_prefix_filter_lossless_boundary(spark, tmp_path):
    """Adversarial boundary fixture: pairs engineered to land exactly AT,
    just above, and just below the 1/2 threshold — the prefix filter must
    keep every qualifying pair (losslessness), and the integer threshold
    must include J == t exactly."""
    from itertools import combinations

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import set_similarity_join

    def doc(words):
        return " ".join(words)

    base = [f"w{i}" for i in range(12)]
    docs = [
        # docs 1/2: 10 shared tokens + 2 unique each -> shingle overlap high
        (1, doc(base[:10] + ["u1", "u2"]), "en", "s", 0),
        (2, doc(base[:10] + ["v1", "v2"]), "en", "s", 0),
        # docs 3/4: identical -> J = 1
        (3, doc(base), "en", "s", 0),
        (4, doc(base), "en", "s", 0),
        # docs 5/6: disjoint vocab -> J = 0
        (5, doc([f"a{i}" for i in range(8)]), "en", "s", 0),
        (6, doc([f"b{i}" for i in range(8)]), "en", "s", 0),
        # docs 7/8: exactly half-overlapping shingle sets (J == 1/2):
        # each has 4 tri-shingles over a 6-token doc; share 2 of 6 total
        (7, "p q r s x1 y1", "en", "s", 0),
        (8, "p q r s x2 y2", "en", "s", 0),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string, n_chars long")
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))

    # Python brute force over the same shingle definition
    def shingles(text):
        toks = text.split()
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = {i: shingles(t) for i, t, *_ in docs}
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if 2 * inter >= uni:
            expected[(a, b)] = round(inter / uni, 4)

    got = {(r.doc_a, r.doc_b): r.jaccard for r in set_similarity_join(spark, str(lake)).collect()}
    assert got == expected
    assert (3, 4) in got and got[(3, 4)] == 1.0
    assert (5, 6) not in got


def test_set_similarity_candidates_pruned_below_all_pairs(spark, sf_dir):
    """The prefix-filter candidate count must be well under docs²/2 on the
    real fixture — the point of the operator is to never enumerate
    all pairs."""
    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import set_similarity_join
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    n_docs = load_table(spark, "documents", sf_dir).count()
    plan = (
        set_similarity_join(spark, sf_dir, sample_check=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert n_docs > 0
    # with the sampled self-check on, the ONLY quadratic is the
    # deliberate broadcast nested-loop over the bounded sample slice —
    # never an unbroadcast CartesianProduct, and never a SortMergeJoin
    # for the sample-sized symmetric difference
    full = (
        set_similarity_join(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in full


def _py_shingles(text: str, w: int = 3) -> list[str]:
    toks = text.strip().split()
    if len(toks) < w:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)]


def test_containment_join_matches_bruteforce(spark, sf_dir):
    """The prefix-filtered containment join is provably lossless — its
    output must equal brute-force all-ordered-pairs containment."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _CJ_DEN,
        _CJ_NUM,
        containment_join,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    docs = {
        r.doc_id: set(_py_shingles(r.text))
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    expect = {}
    for a, sa in docs.items():
        for b, sb in docs.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if _CJ_DEN * inter >= _CJ_NUM * len(sa):
                expect[(a, b)] = (len(sa), len(sb), inter / len(sa))
    got = {
        (r.doc_a, r.doc_b): (r.na, r.nb, r.containment)
        for r in containment_join(spark, sf_dir).collect()
    }
    assert got == expect and expect


def test_boilerplate_fraction_from_raw_counts(spark, sf_dir):
    from collections import Counter

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _BP_DF,
        boilerplate_phrases,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    texts = {
        r.doc_id: _py_shingles(r.text)
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    df = Counter()
    for grams in texts.values():
        df.update(set(grams))
    boiler = {g for g, c in df.items() if c >= _BP_DF}
    rows = boilerplate_phrases(spark, sf_dir).collect()
    assert len(rows) == len(texts)
    for r in rows:
        grams = texts[r.doc_id]
        bp = sum(1 for g in grams if g in boiler)
        assert (r.n_grams, r.bp_grams) == (len(grams), bp)
        # raw IEEE division on both sides — exact equality holds
        assert r.bp_frac == bp / len(grams)


def test_pmi_collocations_match_python_recount(spark, sf_dir):
    import math
    from collections import Counter

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _PMI_TOP,
        pmi_collocations,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    uni, big = Counter(), Counter()
    for r in load_table(spark, "documents", sf_dir).collect():
        toks = r.text.strip().split()
        uni.update(toks)
        big.update(" ".join(p) for p in zip(toks, toks[1:]))
    n, m = sum(uni.values()), sum(big.values())
    top = sorted(big.items(), key=lambda kv: (-kv[1], kv[0]))[:_PMI_TOP]
    rows = pmi_collocations(spark, sf_dir).collect()
    assert [(r.bigram, r.n_ab) for r in rows] == top
    for r in rows:
        w1, w2 = r.bigram.split(" ")
        assert (r.n_a, r.n_b) == (uni[w1], uni[w2])
        pmi = math.log((r.n_ab * n * n) / (m * uni[w1] * uni[w2]))
        assert abs(r.pmi - round(pmi, 4)) <= 1e-4


def test_bpe_encode_consistent_with_trained_merges(spark, sf_dir):
    """Applying the trainer's K merges by hand (greedy leftmost,
    non-overlapping) to each distinct word must give the per-word unit
    counts the encoder aggregates into doc totals."""
    from collections import Counter

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        bpe_encode_tokens,
        bpe_train_merges,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    merges = [
        (r.l, r.r)
        for r in bpe_train_merges(spark, sf_dir).orderBy("round").collect()
    ]

    def encode_len(word: str) -> int:
        units = list(word)
        for l, r in merges:
            out, i = [], 0
            while i < len(units):
                if i + 1 < len(units) and units[i] == l and units[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(units[i])
                    i += 1
            units = out
        return len(units)

    docs = {
        r.doc_id: r.text.strip().split()
        for r in load_table(spark, "documents", sf_dir).collect()
    }
    word_units = {w: encode_len(w) for w in {t for ts in docs.values() for t in ts}}
    rows = bpe_encode_tokens(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        toks = docs[r.doc_id]
        assert r.n_words == len(toks)
        assert r.n_bpe_tokens == sum(word_units[t] for t in toks)
        c = Counter()  # fertility bounds: 1 <= fert <= max word len
        assert 1.0 <= r.fertility <= max(len(t) for t in toks)


def test_dedup_exact_delta_planted_batch(spark, tmp_path):
    """Planted ingest batch (doc_id % 10 == 0): one verbatim copy of a
    base doc, one in-batch duplicate pair, one fresh doc. A deliberately
    tiny filter (m=32, ~every bit set by 4 base docs x 4 probes) forces
    the false-positive path through the confirm join — proving FPs cost
    a probe, never a wrong answer — while the no-false-negative
    invariant (bloom_sound) must hold at any m."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import dedup_exact_delta

    docs = [
        (1, "alpha beta gamma", "en", "srcA", 16),
        (2, "one two three", "en", "srcA", 13),
        (3, "shared duplicate body", "en", "srcA", 21),
        (7, "seven lucky words", "en", "srcB", 17),
        (10, "shared duplicate body", "en", "srcB", 21),   # dup of base 3
        (20, "batch only duplicate", "en", "srcB", 20),    # batch-dup keeper
        (30, "batch only duplicate", "en", "srcB", 20),    # batch-dup loser
        (40, "genuinely new content", "en", "srcB", 21),   # unique
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))

    for m in (8, 65536):
        rows = {r.doc_id: r for r in dedup_exact_delta(spark, str(lake), m=m).collect()}
        assert set(rows) == {10, 20, 30, 40}
        assert all(r.bloom_sound for r in rows.values())
        # exact membership regardless of filter size
        assert rows[10].status == "dup_of_base" and rows[10].base_keep_doc_id == 3
        assert rows[10].in_base and rows[10].bloom_maybe  # no false negative
        assert rows[20].status == "unique" and rows[20].base_keep_doc_id is None
        assert rows[30].status == "dup_in_batch" and not rows[30].in_base
        assert rows[40].status == "unique"
    # m=8 nearly saturates the filter: the batch-only duplicate IS a
    # false positive there (bloom_maybe, resolved to not-in-base by the
    # confirm join), while at m=65536 the filter correctly rules it out.
    tiny = {r.doc_id: r for r in dedup_exact_delta(spark, str(lake), m=8).collect()}
    big = {r.doc_id: r for r in dedup_exact_delta(spark, str(lake), m=65536).collect()}
    assert tiny[20].bloom_maybe and not tiny[20].in_base
    assert not big[20].bloom_maybe


def test_canonicalize_url_planted_variants(spark):
    """Every canonicalizer rule on explicit planted strings — variants
    that MUST collapse to one canonical form, and lookalikes that must
    NOT (non-default port, different path case, different param value)."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import canonicalize_url
    from pyspark.sql import functions as F

    variants = [
        "https://site.example.com/docs/1/page?a=2&b=3",
        "HTTPS://WWW.SITE.EXAMPLE.COM:443/docs/1/page/?b=3&a=2&utm_source=feed#frag",
        "http://site.example.com:80//docs//1/page?utm_campaign=x&b=3&a=2",
        "https://www.site.example.com/docs/1/page?a=2&utm_medium=em&b=3#sec",
        "https://site.example.com/docs/1/page?fbclid=abc&a=2&b=3",
        "https://site.example.com/docs/1/page?a=2&b=3&gclid=1",
    ]
    distinct = [
        "https://site.example.com:8443/docs/1/page?a=2&b=3",  # non-default port
        "https://site.example.com/DOCS/1/page?a=2&b=3",       # path case significant
        "https://site.example.com/docs/1/page?a=2&b=4",       # value differs
        "https://other.example.com/docs/1/page?a=2&b=3",      # host differs
    ]
    df = spark.createDataFrame([(u,) for u in variants + distinct], "url string")
    out = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    want = "https://site.example.com/docs/1/page?a=2&b=3"
    assert out[: len(variants)] == [want] * len(variants)
    assert len(set(out[len(variants):])) == len(distinct)
    assert want not in out[len(variants):]
    # bare-host, query-less, and fragment-with-'?' edge cases (a '?'
    # inside the fragment is NOT a query and must vanish with it)
    edge = spark.createDataFrame(
        [
            ("http://WWW.Host.COM/",),
            ("https://host.com?utm_source=x",),
            ("https://host.com/p#sec?x=1",),
            ("https://host.com/p?a=1#sec?x=2",),
        ],
        "url string",
    )
    got = [r.c for r in edge.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [
        "https://host.com",
        "https://host.com",
        "https://host.com/p",
        "https://host.com/p?a=1",
    ]


def test_html_boilerplate_extract_planted(spark, tmp_path):
    """Boundary behavior of the page-frequency model: a body repeated in
    >=50% of a source's pages is (correctly) classified as template and
    stripped, a unique body survives verbatim; script/style subtrees
    vanish content-and-all."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _html_segments,
        html_boilerplate_extract,
    )
    from pyspark.sql import functions as F

    docs = [
        (1, "repeated promo body", "en", "tpl", 19),
        (2, "repeated promo body", "en", "tpl", 19),
        (3, "unique article text", "en", "tpl", 19),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    rows = {r.doc_id: r for r in html_boilerplate_extract(spark, str(lake)).collect()}
    assert all(r.n_segments == 4 for r in rows.values())  # title nav div footer
    # 2-of-3 repeated body -> boilerplate alongside the 3 chrome segments
    assert rows[1].n_boilerplate == 4 and not rows[1].recovered_exact
    assert rows[3].n_boilerplate == 3 and rows[3].recovered_exact

    seg = spark.createDataFrame(
        [('<p>keep</p><script type="x">var s;</script><style a=b>.c{}</style><b>also</b>',)],
        "html string",
    ).select(_html_segments(F.col("html")).alias("s")).collect()[0].s
    assert seg == ["keep", "also"]


def test_bigram_lm_perplexity_closed_form(spark, tmp_path):
    """Hand-computed add-k bigram model on a 2-doc corpus, plus the
    ordering property the filter exists for: a document made of the
    corpus' dominant transitions scores lower perplexity than one with
    unseen-order transitions."""
    import math

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        _BIGRAM_K,
        bigram_lm_perplexity,
    )

    docs = [
        (1, "a b a b a b", "en", "s", 11),   # dominant a->b / b->a loop
        (2, "b a x a", "en", "s", 7),        # rarer transitions + x
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    lake = tmp_path / "lake"
    d.write.parquet(str(lake / "documents.parquet"))
    rows = {r.doc_id: r for r in bigram_lm_perplexity(spark, str(lake)).collect()}

    # corpus events: doc1 <s>a ab ba ab ba ab ; doc2 <s>b ba ax xa
    c2 = {("<s>","a"):1, ("a","b"):3, ("b","a"):3, ("<s>","b"):1, ("a","x"):1, ("x","a"):1}
    c1 = {"<s>":2, "a":4, "b":3, "x":1}
    V = 3  # continuations: a, b, x
    k = _BIGRAM_K

    def p(prev, cur):
        return (c2[(prev, cur)] + k) / (c1[prev] + k * (V + 1))

    ce1 = -(math.log(p("<s>","a")) + 3*math.log(p("a","b")) + 2*math.log(p("b","a"))) / 6
    ce2 = -(math.log(p("<s>","b")) + math.log(p("b","a")) + math.log(p("a","x")) + math.log(p("x","a"))) / 4
    assert rows[1].n_tokens == 6 and rows[2].n_tokens == 4
    assert rows[1].bigram_ce == round(ce1, 4)
    assert rows[2].bigram_ce == round(ce2, 4)
    assert rows[1].ppl == round(math.exp(round(ce1, 4)), 4)
    assert rows[1].ppl < rows[2].ppl


def test_zipf_fit_recovers_planted_power_law(spark):
    """Closed-form gate: a corpus planted with freq(rank) = floor(6000 /
    rank) is Zipfian with exponent 1, so the fitted log-log slope must
    land near -1 — and a frequency TIE must rank by token ascending (the
    deterministic tie-break both engines share)."""
    from multi_attribute_join_search_with_mapreduce_spark.operators import textops

    docs = []
    for r in range(1, 41):
        # zero-padded token names keep lexicographic order deterministic
        docs.append((r, " ".join([f"tok{r:03d}"] * (6000 // r))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    import unittest.mock as mock

    with mock.patch.object(
        textops, "load_table", lambda _s, _t, _sf: df
    ):
        out = textops.zipf_vocab_fit(spark, "unused").collect()[0]
    assert out["vocab_size"] == 40
    assert out["n_ranks"] == 40
    assert -1.08 < out["zipf_slope"] < -0.92, out["zipf_slope"]

    # tie-break: two tokens with identical frequency rank alphabetically
    tie = spark.createDataFrame(
        [(1, "bb bb aa aa cc")], "doc_id long, text string"
    )
    with mock.patch.object(textops, "load_table", lambda _s, _t, _sf: tie):
        row = textops.zipf_vocab_fit(spark, "unused").collect()[0]
    # aa(2) and bb(2) tie at ranks 1-2, cc(1) is rank 3: slope over
    # x=[ln1,ln2,ln3], y=[ln2,ln2,ln1] must be the aa-first fit
    assert row["n_ranks"] == 3


def test_encoding_quality_counts_planted_dirt(spark, sf_dir):
    """Every doc_id%5==0 doc carries exactly one replacement char, every
    doc_id%7==0 exactly one C0 control; the per-source sums must be the
    closed-form counts of those id classes (fixture text is clean)."""
    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import encoding_quality
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    got = {r.source: r for r in encoding_quality(spark, sf_dir).collect()}
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    want = {
        r.source: r
        for r in d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") % 5 == 0).cast("int")).alias("n_repl"),
            F.sum((F.col("doc_id") % 7 == 0).cast("int")).alias("n_ctrl"),
            F.sum(
                ((F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 7 == 0)).cast("int")
            ).alias("n_flagged"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s].n_docs == want[s].n_docs
        assert got[s].n_replacement == want[s].n_repl
        assert got[s].n_control == want[s].n_ctrl
        assert got[s].n_flagged == want[s].n_flagged
        assert got[s].max_dirt <= 2


def test_zipf_degenerate_corpus_engines_agree(spark, tmp_path):
    """ADVICE r6: a single-token vocabulary makes the OLS denominator 0;
    Spark double x/0 (NaN) and DuckDB need not agree. Both sides now
    NULL the fit when n_ranks < 2 — prove it differentially on a
    degenerate corpus, the exact input class the guard exists for."""
    import duckdb

    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        ZIPF_SQL,
        zipf_vocab_fit,
    )

    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "hello hello hello", "en", "webcrawl", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{lake}/documents.parquet")

    got = zipf_vocab_fit(spark, lake).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.vocab_size, r.n_tokens, r.n_ranks) == (1, 3, 1)
    assert r.zipf_slope is None and r.intercept is None

    con = duckdb.connect()
    # Spark writes the table as a directory of part files; glob it.
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{lake}/documents.parquet/*.parquet')"
    )
    er = con.execute(ZIPF_SQL).fetchall()
    assert len(er) == 1
    assert er[0][:3] == (1, 3, 1)
    assert er[0][3] is None and er[0][4] is None


def test_set_similarity_sample_check_full_and_not_vacuous(spark, sf_dir, monkeypatch):
    """The in-plan sampled-pair exact check (VERDICT r10 #2): with the
    sample modulus forced to 1 the check brute-forces EVERY pair, so
    ``sample_verified`` becomes a complete empirical losslessness
    assertion for the prefix+positional filter — and the brute side
    must be non-empty (the boolean is not comparing empty to empty)."""
    import multi_attribute_join_search_with_mapreduce_spark.operators.textops as t

    monkeypatch.setattr(t, "_SSJ_SAMPLE_MOD", 1)
    out = t.set_similarity_join(spark, sf_dir)
    rows = out.collect()
    assert rows, "gate fixture must produce qualifying pairs"
    assert all(r["sample_verified"] for r in rows)


def test_set_similarity_sample_check_flips_on_lost_pair(spark, sf_dir, monkeypatch):
    """Negative control: if the candidate generation WERE lossy, the
    boolean must flip. Simulated by handing the verify stage a join
    output with one qualifying pair removed — the full-sample brute
    side still finds it, so every surviving row reports False."""
    import multi_attribute_join_search_with_mapreduce_spark.operators.textops as t
    from pyspark.sql import functions as F

    monkeypatch.setattr(t, "_SSJ_SAMPLE_MOD", 1)
    out = t.set_similarity_join(spark, sf_dir)
    first = out.orderBy("doc_a", "doc_b").first()
    tampered = out.filter(
        ~((F.col("doc_a") == first["doc_a"]) & (F.col("doc_b") == first["doc_b"]))
    )
    # re-run the check exactly as the operator wires it, over the
    # tampered output: symmetric difference is now {first} -> False
    d = t.load_table(spark, "documents", sf_dir)
    sets = d.select(
        "doc_id", F.array_distinct(t._shingles(F.col("text"))).alias("sh")
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    s_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    s_union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - s_inter
    brute = (
        sa.crossJoin(F.broadcast(sb))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(t._SSJ_DEN * s_inter >= t._SSJ_NUM * s_union)
        .select("doc_a", "doc_b")
    )
    bad = (
        brute.withColumn("_b", F.lit(1))
        .join(
            tampered.select("doc_a", "doc_b").withColumn("_j", F.lit(1)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .filter(F.col("_b").isNull() | F.col("_j").isNull())
        .count()
    )
    assert bad == 1


@pytest.mark.parametrize("bits", [8, 12])
def test_prefix_joins_exact_under_forced_hash_collisions(spark, sf_dir, monkeypatch, bits):
    """Exactness of both prefix-filtered joins does not rest on the
    element hash being collision-free: with ``_elem_hash`` cut to
    ``bits`` bits, distinct shingles collide across AND inside
    documents, and both joins must still equal their brute-force
    oracles."""
    import multi_attribute_join_search_with_mapreduce_spark.operators.textops as t

    from .conftest import assert_df_equals_duckdb

    mask = (1 << bits) - 1
    monkeypatch.setattr(t, "_elem_hash", lambda s: F.xxhash64(s).bitwiseAND(F.lit(mask)))

    # not vacuous: some document holds two shingles with one hash
    d = t.load_table(spark, "documents", sf_dir)
    sh = F.array_distinct(t._shingles(F.col("text")))
    n_colliding = d.filter(
        F.size(F.array_distinct(F.transform(sh, t._elem_hash))) < F.size(sh)
    ).count()
    assert n_colliding > 0

    assert_df_equals_duckdb(t.set_similarity_join(spark, sf_dir), t.SET_SIMILARITY_SQL, sf_dir)
    assert_df_equals_duckdb(t.containment_join(spark, sf_dir), t.CONTAINMENT_SQL, sf_dir)


def test_prefix_joins_leave_no_cache_behind(spark, sf_dir):
    """Both joins read their shingle sets from one checkpointed frame:
    the executed plan has no in-memory cache scan (under AQE each scan
    of an unbuilt cache is its own query stage), the set-similarity
    plan reuses exchanges across its branches, and a call adds nothing
    to the session's CacheManager."""
    from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
        containment_join,
        set_similarity_join,
    )

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for fn in (set_similarity_join, containment_join):
        df = fn(spark, sf_dir)
        assert df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan, fn.__name__
        assert "TableCacheQueryStage" not in plan, fn.__name__
        if fn is set_similarity_join:
            assert "ReusedExchange" in plan
    assert cache.numCachedEntries() == before
