from __future__ import annotations

import pytest

from multi_attribute_join_search_with_mapreduce_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("majs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_df_equals_duckdb(spark_df, duck_sql, sf_dir, sort_cols=None):
    """Differential oracle: compare a Spark DataFrame against DuckDB SQL
    run over the same parquet tables (order-insensitive unless sorted)."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    expected = con.execute(duck_sql).df()
    actual = spark_df.toPandas()
    assert list(actual.columns) == list(expected.columns), (
        f"columns differ: {list(actual.columns)} vs {list(expected.columns)}"
    )
    cols = sort_cols or list(actual.columns)
    a = actual.sort_values(cols).reset_index(drop=True)
    e = expected.sort_values(cols).reset_index(drop=True)
    assert len(a) == len(e), f"row counts differ: {len(a)} vs {len(e)}"
    import pandas as pd

    import numpy as np

    # Spark hands back datetime64[ns], DuckDB datetime64[us]; with NaT
    # present assert_frame_equal treats the unit difference as a value
    # difference — canonicalize units before comparing. Object columns
    # carry Spark's None vs DuckDB's NaN for the same SQL NULL; pandas
    # deprecated treating those as equal (FutureWarning today, a hard
    # mismatch on a future pandas) — canonicalize null-likes to NaN.
    for df_ in (a, e):
        for c in df_.columns:
            if str(df_[c].dtype).startswith("datetime64"):
                df_[c] = df_[c].astype("datetime64[ns]")
            elif df_[c].dtype == object:
                df_[c] = df_[c].where(pd.notna(df_[c]), np.nan)

    pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, rtol=1e-9)


def plant_residual_rows(spark, base, rows):
    """Append posting ``rows`` to a floored store's residual half, each
    into the live generation of the bucket its key hashes to
    (``residual/kb=B/cv=G``) — the state external damage or an
    interrupted older writer leaves, which appends and fsck must handle."""
    from pyspark.sql import functions as F

    from multi_attribute_join_search_with_mapreduce_spark.index import _kb, read_store_meta

    meta = read_store_meta(spark, base)
    rows = rows.select("key", "table", "column", "row").withColumn(
        "kb", _kb(meta["residual_buckets"])
    )
    for kb in sorted({r["kb"] for r in rows.select("kb").distinct().collect()}):
        gen = meta["residual_gen"].get(str(kb), 1)
        rows.filter(F.col("kb") == kb).drop("kb").write.mode("append").parquet(
            f"{base}/residual/kb={kb}/cv={gen}"
        )
