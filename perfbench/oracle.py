"""Expected results from the engine's own DuckDB oracle SQL.

Each check runs once per operation, after the timed loop: the posting
index comes from ``index.posting_index_sql`` (with the store's floor),
search results from ``operators.search.join_search_sql`` and the
textops joins from the registry oracles next to them.
"""

from __future__ import annotations

import duckdb

from multi_attribute_join_search_with_mapreduce_spark.index import TableSpec, posting_index_sql
from multi_attribute_join_search_with_mapreduce_spark.operators.search import join_search_sql
from multi_attribute_join_search_with_mapreduce_spark.operators.textops import (
    CONTAINMENT_SQL,
    SET_SIMILARITY_SQL,
)


def _connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def search_expected(
    views: dict[str, str],
    specs: tuple[TableSpec, ...],
    min_key_freq: int,
    query_table: str,
    attrs: list[str],
) -> tuple[list[tuple], list[tuple]]:
    """``(tables, columns)`` rows a search over the floored index of
    ``specs`` must return; ``views`` maps every table name (lake and
    query) to its parquet file."""
    con = _connect(views)
    try:
        con.execute(
            f"CREATE TABLE lake_postings AS {posting_index_sql(specs, min_key_freq)}"
        )
        out = []
        for result in ("tables", "columns"):
            sql = join_search_sql("SELECT * FROM lake_postings", query_table, attrs, result=result)
            out.append(sorted(tuple(r) for r in con.execute(sql).fetchall()))
        return out[0], out[1]
    finally:
        con.close()


def count_postings(
    views: dict[str, str], specs: tuple[TableSpec, ...], min_key_freq: int = 1
) -> int:
    """Postings of ``specs`` at or above the floor. Unfloored, this is
    what a store holds across its index and residual halves; floored, it
    is what its index half holds."""
    con = _connect(views)
    try:
        sql = posting_index_sql(specs, min_key_freq)
        return con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
    finally:
        con.close()


def simjoin_expected(
    documents: str, replicas: int, per_replica: int
) -> tuple[list[tuple], list[tuple]]:
    """``(set_similarity_join, containment_join)`` rows for one corpus.

    The generator salts every token per replica, so replica ``r`` is
    replica 0 with doc ids shifted by ``r * per_replica`` and no pair
    crosses replicas: the brute-force oracle runs on replica 0 and the
    expected rows are its rows shifted into every replica."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM read_parquet('{documents}') "
        f"WHERE doc_id < {per_replica}"
    )
    try:
        out = []
        for sql in (SET_SIMILARITY_SQL, CONTAINMENT_SQL):
            rows = con.execute(sql).fetchall()
            out.append(sorted(
                (a + r * per_replica, b + r * per_replica, *rest)
                for r in range(replicas)
                for a, b, *rest in rows
            ))
        return out[0], out[1]
    finally:
        con.close()
