"""Property-based normalizer tests (hypothesis): the three renderings
must agree on *arbitrary* strings, not just the curated corpus, and the
spec's invariants must hold (idempotence, charset, stopword-freedom).

Spark/DuckDB evaluations are batched per test run (one job for all
examples) — hypothesis drives the Python oracle; cross-engine agreement
is then checked on the collected example set.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from multi_attribute_join_search_with_mapreduce_spark.functions.text import (
    STOPWORDS,
    normalize_col,
    normalize_py,
    normalize_spark_sql,
    normalize_sql,
)

# printable-ish unicode incl. whitespace runs, punctuation soup, accents
TEXT = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
    max_size=60,
)

_EXAMPLES: list[str] = []


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_python_normalizer_invariants(s):
    out = normalize_py(s)
    _EXAMPLES.append(s)
    # idempotent
    assert normalize_py(out) == out
    # output charset is [a-z0-9 ] with single spaces, no edge spaces
    assert out == " ".join(out.split())
    assert all(c.islower() or c.isdigit() or c == " " for c in out), out
    # no stopword survives as a token
    assert not (set(out.split()) & set(STOPWORDS))


def test_spark_and_duckdb_agree_with_python_on_random_strings(spark):
    # reuse whatever hypothesis generated above, plus a fixed nasty set
    samples = list(dict.fromkeys(_EXAMPLES))[:300] + [
        "a\tb\nc", "\x1f\x00ab", "ß ss", "Ωmega", "1e9", "__", "- - -",
    ]
    samples = [s.replace("\x00", "") for s in samples]  # NUL: JVM/duck disagree on storage, not spec
    df = spark.createDataFrame([(s,) for s in samples], "raw string")
    got_spark = [
        r["n"] for r in df.select(normalize_col("raw").alias("n")).collect()
    ]
    # spark.sql dialect (the majs_normalize SQL UDF body)
    got_spark_sql = [
        r["n"]
        for r in df.selectExpr(f"{normalize_spark_sql('raw')} AS n").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE _t(i INT, raw VARCHAR)")
    con.executemany("INSERT INTO _t VALUES (?, ?)", list(enumerate(samples)))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {normalize_sql('raw')} FROM _t ORDER BY i"
        ).fetchall()
    ]
    for s, a, b, c in zip(samples, got_spark, got_spark_sql, got_duck):
        expect = normalize_py(s)
        assert a == expect, f"spark expr vs python on {s!r}: {a!r} != {expect!r}"
        assert b == expect, f"spark sql vs python on {s!r}: {b!r} != {expect!r}"
        assert c == expect, f"duckdb vs python on {s!r}: {c!r} != {expect!r}"
