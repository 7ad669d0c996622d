"""SQL entry point: the whole engine surface as ``spark.sql`` text.

The reference exposes a SQL-level join-discovery strategy (entry point C,
``main.py -seq -sql`` → per-row self-joins built in ``handlers.py:92-107``).
SURVEY.md §3.3 collapses that into one statement over a registered
``posting_index`` view; this module is that statement, plus the view/
function registration a SQL user needs:

- :func:`register_sql_surface` registers every lake table, the
  ``posting_index`` view, and a ``majs_normalize`` SQL scalar function
  (Spark SQL UDF — pure SQL expression, so it inlines into codegen and
  costs nothing over the DataFrame path);
- :func:`join_search_sql_level` runs the full 4-phase search
  (SURVEY.md §2.11) as a single ``spark.sql`` query — the same Catalyst
  plan shape as the DataFrame path in ``operators/search.py``, reached
  from SQL text instead of the DataFrame API.

The N-self-joins-for-N-rows shape of the reference's SQL strategy (the
thesis's slowest variant) is deliberately *not* reproduced — at 100 TB it
is N full probe passes; the single-statement form is one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multi_attribute_join_search_with_mapreduce_spark.functions.text import normalize_spark_sql
from multi_attribute_join_search_with_mapreduce_spark.index import cached_posting_index
from multi_attribute_join_search_with_mapreduce_spark.operators.search import DEFAULT_TOP_K
from multi_attribute_join_search_with_mapreduce_spark.sources.lake import register_lake

NORMALIZE_FN_DDL = (
    "CREATE OR REPLACE TEMPORARY FUNCTION majs_normalize(s STRING) "
    f"RETURNS STRING RETURN {normalize_spark_sql('s')}"
)


def register_sql_surface(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> None:
    """Register lake views + ``posting_index`` + ``majs_normalize``.

    ``names`` limits which lake tables become views; the default is the
    full lake for ad-hoc SQL users.
    """
    if names is None:
        register_lake(spark, sf_dir)
    else:
        register_lake(spark, sf_dir, names)
    cached_posting_index(spark, sf_dir).createOrReplaceTempView("posting_index")
    spark.sql(NORMALIZE_FN_DDL)


def join_search_spark_sql_text(
    query_table: str,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> str:
    """One Spark SQL statement computing the §2.11 contract.

    Mirrors the DataFrame rare-key plan (``operators/search.py:
    _search_stages``): one (table,row) aggregation builds the per-row
    key/column set with the pre-join reduction as a size filter, the
    rarest query attribute probes it at key granularity, and
    verification/column attribution are native map lookups — the same
    single-pass-over-the-postings shape, reached from SQL text.
    """
    n = len(attrs)
    rank_n = n if top_n is None else top_n  # Seq top-2 dialect hook
    norm_cols = ", ".join(
        f"majs_normalize(`{a}`) AS _a{i}" for i, a in enumerate(attrs)
    )
    nonempty = " AND ".join(f"_a{i} != ''" for i in range(n))
    mapkey = ", ".join(f"_a{i}" for i in range(n))
    key_union = "\nUNION ALL\n".join(
        f"SELECT _a{i} AS key, MapKey FROM qnorm" for i in range(n)
    )
    verify = " AND ".join(f"_m[_a{i}] IS NOT NULL" for i in range(n))
    attr_array = ", ".join(f"_a{i}" for i in range(n))
    final = (
        f"""
SELECT `table`, CAST(SUM(join_score) AS BIGINT) AS join_score
FROM top_cols GROUP BY `table`
ORDER BY join_score DESC, `table` ASC
LIMIT {k}
"""
        if result == "tables"
        else f"""
SELECT `table`, `column`, join_score FROM top_cols
ORDER BY join_score DESC, `table` ASC, `column` ASC
LIMIT {2 * k}
"""
    )
    return f"""
WITH qraw AS (SELECT DISTINCT * FROM (
    SELECT {norm_cols} FROM {query_table}
) WHERE {nonempty}),
qnorm AS (SELECT *, concat_ws(chr(31), {mapkey}) AS MapKey FROM qraw),
mappings AS ({key_union}),
probed_raw AS (
    SELECT p.key, p.`table`, p.`row`, p.`column`
    FROM posting_index p
    WHERE p.key IN (SELECT DISTINCT key FROM mappings)
),
freq AS (SELECT key, COUNT(*) AS _freq FROM probed_raw GROUP BY key),
rarest AS (
    SELECT MapKey, key AS probe_key FROM (
        SELECT m.MapKey, m.key,
               ROW_NUMBER() OVER (
                   PARTITION BY m.MapKey ORDER BY f._freq ASC, m.key ASC
               ) AS _rn,
               COUNT(*) OVER (PARTITION BY m.MapKey) AS _n_present
        FROM mappings m JOIN freq f ON m.key = f.key
    ) WHERE _rn = 1 AND _n_present = {n}
),
probe AS (SELECT r.probe_key, q.* FROM rarest r JOIN qnorm q ON r.MapKey = q.MapKey),
kc AS (
    SELECT * FROM (
        SELECT `table`, `row`,
               map_from_entries(collect_list(struct(key, `column`))) AS _m
        FROM (
            SELECT `table`, `row`, key, MIN(`column`) AS `column`
            FROM probed_raw GROUP BY `table`, `row`, key
        )
        GROUP BY `table`, `row`
    ) WHERE size(_m) >= {n}
),
kc_keys AS (
    SELECT `table`, `row`, _m, _key
    FROM kc LATERAL VIEW explode(map_keys(_m)) t AS _key
),
hits AS (
    SELECT k.`table`, k.`row`, k._m, p.*
    FROM kc_keys k JOIN probe p ON k._key = p.probe_key
),
matched AS (
    SELECT `table`, _m[_mk] AS `column`
    FROM hits
    LATERAL VIEW explode(array({attr_array})) a AS _mk
    WHERE {verify}
),
col_scores AS (
    SELECT `table`, `column`, COUNT(*) AS join_score
    FROM matched GROUP BY `table`, `column`
),
top_cols AS (
    SELECT `table`, `column`, join_score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY `table` ORDER BY join_score DESC, `column` ASC
        ) AS _rn FROM col_scores
    ) WHERE _rn <= {rank_n}
)
{final}
"""


def join_search_sql_level(
    spark: SparkSession,
    sf_dir: str,
    query_table: str,
    attrs: list[str],
    k: int = DEFAULT_TOP_K,
    result: str = "tables",
    top_n: int | None = None,
) -> DataFrame:
    """Entry point C equivalent: the search via ``spark.sql``.

    Registers only the tables the search touches (the indexed dimension
    tables + the query table) — loading events/documents/embeddings to
    answer a part-table search is wasted work.
    """
    from multi_attribute_join_search_with_mapreduce_spark.index import LAKE_TABLES

    needed = tuple(dict.fromkeys([s.name for s in LAKE_TABLES] + [query_table]))
    register_sql_surface(spark, sf_dir, names=needed)
    return spark.sql(join_search_spark_sql_text(query_table, attrs, k, result, top_n))
