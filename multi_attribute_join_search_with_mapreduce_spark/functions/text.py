"""Cell/text normalizer as native Spark column expressions.

Semantics (the engine's spec, derived from the reference's
``clean_argument_for_query``, ``handlers.py:128-154``):

1. lowercase;
2. drop non-ASCII characters (the reference's
   ``encode('ascii','ignore')`` fold);
3. replace every run of characters outside ``[a-z0-9]`` with a single
   space (subsumes the reference's punctuation-translate step and its
   ``[\\W_]+`` regex);
4. trim, split on single spaces;
5. drop empty tokens and the reference's 31-word stopword list
   (``handlers.py:138-140``);
6. re-join with single spaces.

Deliberate divergences from the reference, documented per SURVEY.md §7:

- stopword removal is token-based instead of the reference's sequential
  ``str.replace(' w ', ' ')`` loop, whose result depends on stopword
  iteration order and misses doubled stopwords ("of of") — token
  filtering is order-independent and idempotent;
- the undocumented ``" s " -> "''s "`` rewrite (``handlers.py:146``,
  which re-introduces a quote character the earlier steps removed) is
  dropped.

Three synchronized renderings are provided so the same spec runs as a
Spark plan, as DuckDB oracle SQL, and as plain Python for unit tests.
The Spark one is Spark SQL text: ``normalize_col`` parses it into one
expression, and the ``spark.sql`` surface registers it as a SQL
function. All Spark-side logic is native expressions / higher-order
functions — JVM-side, codegen-friendly — never a row-at-a-time Python
UDF (the reference wraps this in ``udf(...)`` at
``Par_Search.py:164-166``; that is its single biggest performance sink
and is exactly what we avoid).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's stopword list, verbatim (handlers.py:138-140).
STOPWORDS: tuple[str, ...] = (
    "a", "the", "of", "on", "in", "an", "and", "is", "at", "are", "as",
    "be", "but", "by", "for", "it", "no", "not", "or", "such", "that",
    "their", "there", "these", "to", "was", "with", "they", "will",
    "v", "ve", "d",
)

_NON_ASCII_RE = r"[^\x00-\x7F]"
_NON_ALNUM_RE = r"[^a-z0-9]+"


def tokenize_col(name: str) -> Column:
    """Stopword-free token array of string column ``name``: the
    Spark-SQL rendering (:func:`tokenize_spark_sql`) parsed once."""
    return F.expr(tokenize_spark_sql(_quoted(name)))


def normalize_col(name: str) -> Column:
    """Normalized single-string key of string column ``name``: the
    Spark-SQL rendering (:func:`normalize_spark_sql`) parsed once."""
    return F.expr(normalize_spark_sql(_quoted(name)))


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def tokenize_sql(expr: str) -> str:
    """DuckDB SQL rendering of :func:`tokenize_col` over SQL expression ``expr``."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        "list_filter(string_split(trim(regexp_replace(regexp_replace("
        f"lower({expr}), '{_NON_ASCII_RE}', '', 'g'), '{_NON_ALNUM_RE}', ' ', 'g')), ' '), "
        f"t -> t <> '' AND t NOT IN ({stop}))"
    )


def normalize_sql(expr: str) -> str:
    """DuckDB SQL rendering of :func:`normalize_col` over SQL expression ``expr``.

    DuckDB's ``array_to_string`` returns NULL for an empty list where
    Spark's ``array_join`` returns ``''`` — the CASE keeps NULL-in →
    NULL-out while mapping empty token lists to ``''``.
    """
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL "
        f"ELSE COALESCE(array_to_string({tokenize_sql(expr)}, ' '), '') END"
    )


def tokenize_spark_sql(expr: str) -> str:
    """Spark-SQL rendering of the token array over SQL expression
    ``expr``; :func:`tokenize_col` and the ``spark.sql`` surface's
    ``majs_normalize`` both run this text."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    non_ascii = _NON_ASCII_RE.replace("\\", "\\\\")  # SQL literals unescape "\\"
    return (
        "filter(split(trim(regexp_replace(regexp_replace("
        f"lower({expr}), '{non_ascii}', ''), '{_NON_ALNUM_RE}', ' ')), ' '), "
        f"t -> t != '' AND NOT array_contains(array({stop}), t))"
    )


def normalize_spark_sql(expr: str) -> str:
    """Spark-SQL rendering of the normalized key over SQL expression
    ``expr`` (see :func:`tokenize_spark_sql`)."""
    return f"array_join({tokenize_spark_sql(expr)}, ' ')"


def normalize_py(s: str | None) -> str | None:
    """Pure-Python rendering of the same spec (unit-test oracle)."""
    if s is None:
        return None
    c = s.lower()
    c = c.encode("ascii", "ignore").decode("ascii")
    c = re.sub(_NON_ALNUM_RE, " ", c).strip()
    return " ".join(t for t in c.split(" ") if t and t not in STOPWORDS)
