"""CLI surface (``python -m multi_attribute_join_search_with_mapreduce_spark``) — in-process
(``main()`` reuses the active test SparkSession via ``getOrCreate``)."""

from __future__ import annotations

import pytest

from multi_attribute_join_search_with_mapreduce_spark.cli import main

SF001 = "/root/testdata/sf0.001"


@pytest.fixture()
def query_csv(tmp_path):
    p = tmp_path / "query.csv"
    p.write_text("brand,type\nBrand#13,ECONOMY\nBrand#19,PROMO\n")
    return str(p)


def _run(capsys, argv):
    rc = main(argv)
    out = capsys.readouterr().out
    return rc, out


def test_cli_dataframe_strategy(spark, capsys, query_csv):
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001],
    )
    assert rc == 0
    assert "table=5\tjoin_score=8" in out
    assert "table=5\tcolumn=1\tjoin_score=4" in out


def test_cli_sql_strategy_matches_dataframe(spark, capsys, query_csv):
    rc_df, out_df = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001],
    )
    rc_sql, out_sql = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--strategy", "sql"],
    )
    assert rc_df == rc_sql == 0
    assert out_df == out_sql


def test_cli_lake_query_table(spark, capsys):
    rc, out = _run(
        capsys,
        ["--query-table", "part", "--attrs", "p_brand,p_type", "--sf-dir", SF001],
    )
    assert rc == 0
    assert "table=5\tjoin_score=400" in out


def test_cli_top_n_seq_dialect(spark, capsys):
    """--top-n 2 (Seq's dialect) at n=3 changes table scores vs the
    default, identically on the dataframe and sql strategies."""
    base_args = ["--query-table", "part", "--attrs", "p_name,p_brand,p_type",
                 "--sf-dir", SF001]
    rc_def, out_def = _run(capsys, base_args)
    rc_seq, out_seq = _run(capsys, base_args + ["--top-n", "2"])
    rc_sql, out_sql = _run(capsys, base_args + ["--top-n", "2", "--strategy", "sql"])
    assert rc_def == rc_seq == rc_sql == 0
    assert out_seq != out_def  # the dialect bites at n=3
    assert out_seq == out_sql  # both strategies implement the same dialect


def test_cli_rows_limit(spark, capsys, query_csv):
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--rows", "1"],
    )
    assert rc == 0
    assert "table=5\tjoin_score=2" in out  # only Brand#13,ECONOMY probes


def test_cli_requires_exactly_one_input(spark, capsys, query_csv):
    assert main(["--attrs", "a,b"]) == 2
    assert main(["--query-csv", query_csv, "--query-table", "part", "--attrs", "a,b"]) == 2


def test_cli_index_roundtrip(spark, capsys, query_csv, tmp_path):
    idx = str(tmp_path / "idx_parquet")
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--write-index", idx],
    )
    assert rc == 0 and "table=5\tjoin_score=8" in out
    rc2, out2 = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--read-index", idx],
    )
    assert rc2 == 0
    assert out2 == out


def test_cli_floored_store_build_append_search(spark, capsys, tmp_path):
    """--floored-store + --append-tables: build the store without
    `documents`, land it via the append, search against the maintained
    index — results must equal a search over the full floored rebuild
    (the mjs_search_freq_floor semantics reached from the shell)."""
    store = str(tmp_path / "floored_store")
    rc, out = _run(
        capsys,
        ["--query-table", "documents", "--attrs", "lang,source",
         "--sf-dir", SF001, "--floored-store", store,
         "--append-tables", "documents", "--min-key-freq", "2"],
    )
    assert rc == 0
    from multi_attribute_join_search_with_mapreduce_spark.index import (
        WIDE_LAKE_TABLES,
        build_posting_index,
    )
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import load_table

    idx = build_posting_index(spark, SF001, WIDE_LAKE_TABLES, min_key_freq=2)
    docs = load_table(spark, "documents", SF001)
    tables, _ = multi_attribute_join_search(idx, docs, ["lang", "source"])
    for r in tables.collect():
        assert f"table={r['table']}\tjoin_score={r['join_score']}" in out
    # second invocation reuses the existing store (no rebuild/append)
    rc2, out2 = _run(
        capsys,
        ["--query-table", "documents", "--attrs", "lang,source",
         "--sf-dir", SF001, "--floored-store", store],
    )
    assert rc2 == 0 and out2 == out


def test_cli_floored_store_append_idempotent(spark, capsys, tmp_path):
    """Re-running the IDENTICAL --floored-store --append-tables command
    must not double-count postings (ADVICE r9): the store's landed-table
    log makes the second append a skip-with-notice, and the scores stay
    byte-identical."""
    store = str(tmp_path / "floored_idem")
    argv = ["--query-table", "documents", "--attrs", "lang,source",
            "--sf-dir", SF001, "--floored-store", store,
            "--append-tables", "documents", "--min-key-freq", "2"]
    rc1 = main(argv)
    cap1 = capsys.readouterr()
    rc2 = main(argv)
    cap2 = capsys.readouterr()
    assert rc1 == 0 and rc2 == 0
    assert cap2.out == cap1.out
    assert "skipping already-landed tables ['documents']" in cap2.err
    # a conflicting floor against an existing store is rejected loudly
    rc3 = main(argv[:-1] + ["3"])
    cap3 = capsys.readouterr()
    assert rc3 == 2 and "was written with --min-key-freq 2" in cap3.err


def test_cli_floored_store_flag_conflicts(spark, capsys, tmp_path, query_csv):
    store = str(tmp_path / "fs")
    rc, _ = _run(
        capsys,
        ["--query-table", "part", "--attrs", "p_brand", "--sf-dir", SF001,
         "--append-tables", "part"],
    )
    assert rc == 2  # --append-tables without --floored-store
    rc, _ = _run(
        capsys,
        ["--query-table", "part", "--attrs", "p_brand", "--sf-dir", SF001,
         "--floored-store", store, "--read-index", str(tmp_path / "i")],
    )
    assert rc == 2
    rc, _ = _run(
        capsys,
        ["--query-table", "part", "--attrs", "p_brand", "--sf-dir", SF001,
         "--floored-store", store, "--strategy", "sql"],
    )
    assert rc == 2
    rc, _ = _run(
        capsys,
        ["--query-table", "part", "--attrs", "p_brand", "--sf-dir", SF001,
         "--floored-store", store, "--append-tables", "nope"],
    )
    assert rc == 2


def test_read_csv_source_url(spark, query_csv, capsys):
    """The reference's actual entry is an HTTP-fetched movie.csv
    (Par_Search.py:145-148); file:// and http:// URLs must both read."""
    import http.server
    import threading

    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import read_csv_source

    df = read_csv_source(spark, "file://" + query_csv)
    assert df.count() == 2 and df.columns == ["brand", "type"]

    import os

    srv = http.server.HTTPServer(
        ("127.0.0.1", 0),
        lambda *a: http.server.SimpleHTTPRequestHandler(
            *a, directory=os.path.dirname(query_csv)
        ),
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/{os.path.basename(query_csv)}"
        via_http = read_csv_source(spark, url)
        assert via_http.count() == 2 and via_http.columns == ["brand", "type"]
        rc, out = _run(
            capsys, ["--query-csv", url, "--attrs", "brand,type", "--sf-dir", SF001]
        )
        assert rc == 0 and "join_score" in out
    finally:
        srv.shutdown()


def test_cli_mapkey_plan_matches_rare_key(spark, capsys, query_csv):
    """--plan mapkey (the reference's Par_Search shape) must print the
    same scores as the default selectivity-ordered plan."""
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--plan", "mapkey"],
    )
    assert rc == 0
    rc2, out2 = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001],
    )
    assert rc2 == 0
    assert out == out2


def test_cli_explain_prints_plan_without_executing(spark, capsys, query_csv):
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--explain"],
    )
    assert rc == 0
    assert "== Physical Plan ==" in out
    assert "== table scores ==" not in out  # plan only, no results
    # BOTH result plans are shown — r3 advice: a single unlabeled plan
    # silently dropped the columns query.
    assert "== tables plan ==" in out and "== columns plan ==" in out


def test_cli_explain_with_write_index_writes_nothing(spark, capsys, query_csv, tmp_path):
    """--explain is a dry run: combined with --write-index it must show
    the plans WITHOUT materializing the index to disk (r3 verdict #6)."""
    import os

    idx = tmp_path / "idx"
    rc, out = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--explain", "--write-index", str(idx)],
    )
    assert rc == 0
    assert "== Physical Plan ==" in out
    assert not os.path.exists(idx), "--explain --write-index wrote the index"


def test_cli_probed_cache_roundtrip(spark, capsys, query_csv, tmp_path):
    """Reference parity for -read/-write (Par_Search.py:92-99,124-134):
    --write-probed persists the probed intermediate + query input;
    --read-probed replays the SAME search from the cache with identical
    scores and no --query-csv needed."""
    import os

    cache = str(tmp_path / "probe_cache")
    rc, direct = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001],
    )
    assert rc == 0
    rc, written = _run(
        capsys,
        ["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
         "--write-probed", cache],
    )
    assert rc == 0
    assert written == direct
    assert os.path.isdir(f"{cache}/probed") and os.path.isdir(f"{cache}/query")
    # Replay takes the query from the CACHE — no --query-csv.
    rc, replayed = _run(
        capsys,
        ["--attrs", "brand,type", "--sf-dir", SF001, "--read-probed", cache],
    )
    assert rc == 0
    assert replayed == direct
    # Contradictory flags are rejected loudly: a fresh query source, a
    # row limit, or the SQL strategy cannot apply to a replayed cache.
    for extra in (["--query-csv", query_csv], ["--rows", "5"], ["--strategy", "sql"]):
        rc, _ = _run(
            capsys,
            ["--attrs", "brand,type", "--sf-dir", SF001, "--read-probed", cache, *extra],
        )
        assert rc == 2, f"expected rejection with {extra}"
    # The SQL strategy searches the lake itself: an index to read or a
    # probed intermediate to write would be silently ignored.
    for extra in (["--read-index", str(tmp_path / "idx")], ["--write-probed", cache]):
        rc = main(["--query-csv", query_csv, "--attrs", "brand,type", "--sf-dir", SF001,
                   "--strategy", "sql", *extra])
        assert rc == 2, f"expected rejection with {extra}"
        assert "error:" in capsys.readouterr().err


def test_cli_run_query_and_list(spark, sf_dir, capsys):
    """The CLI exposes the full registry: --list-queries enumerates it,
    --run-query executes an entry against the lake."""
    from multi_attribute_join_search_with_mapreduce_spark.cli import main

    assert main(["--list-queries"]) == 0
    listed = capsys.readouterr().out.split()
    assert "tpch_q6_forecast_revenue" in listed and len(listed) > 150

    assert main(["--run-query", "topk_orders", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "o_orderkey" in out or "o_totalprice" in out

    assert main(["--run-query", "nope", "--sf-dir", sf_dir]) == 2


def test_cli_fsck_store(spark, capsys, tmp_path):
    """--fsck-store: clean store reports zeros and exits 0; a planted
    double-represented key exits 1 report-only and 0 after --repair."""
    import json

    from tests.conftest import plant_residual_rows

    store = str(tmp_path / "fsck_store")
    rc, _ = _run(
        capsys,
        ["--query-table", "documents", "--attrs", "lang,source",
         "--sf-dir", SF001, "--floored-store", store,
         "--min-key-freq", "2"],
    )
    assert rc == 0
    rc, out = _run(capsys, ["--fsck-store", store])
    assert rc == 0
    assert json.loads(out)["double_represented_keys"] == 0
    # plant the interrupted-append artifact
    index = spark.read.parquet(f"{store}/index")
    plant_residual_rows(spark, store, index.orderBy("key", "table", "column", "row").limit(1))
    rc, out = _run(capsys, ["--fsck-store", store])
    assert rc == 1 and json.loads(out)["double_represented_keys"] == 1
    rc, out = _run(capsys, ["--fsck-store", store, "--repair"])
    assert rc == 0 and json.loads(out)["repaired_rows"] == 1
    rc, out = _run(capsys, ["--fsck-store", store])
    assert rc == 0 and json.loads(out)["double_represented_keys"] == 0
    # --repair without --fsck-store is rejected
    rc, _ = _run(capsys, ["--repair", "--query-table", "part",
                          "--attrs", "p_brand", "--sf-dir", SF001])
    assert rc == 2


def test_cli_crashed_append_fence_repair_retry(spark, capsys, tmp_path, monkeypatch):
    """The full operator workflow for a crashed append, end-to-end
    through the shell entry point (ADVICE r10: the natural response to
    a failed append is re-running the identical command, which used to
    double-land postings): the retry is FENCED with guidance (rc 4),
    `--fsck-store --repair` resolves the torn commit, and the re-run
    then lands cleanly with scores identical to a never-crashed build."""
    import json

    import multi_attribute_join_search_with_mapreduce_spark.index as idx

    store = str(tmp_path / "floored_crash")
    argv = ["--query-table", "documents", "--attrs", "lang,source",
            "--sf-dir", SF001, "--floored-store", store,
            "--append-tables", "documents", "--min-key-freq", "2"]

    # crash the first append after its writes, before its commit point
    orig = idx._require_live_claim

    def crash(*a, **k):
        raise RuntimeError("injected crash during append")

    monkeypatch.setattr(idx, "_require_live_claim", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        main(argv)
    capsys.readouterr()
    monkeypatch.setattr(idx, "_require_live_claim", orig)

    # blind retry is FENCED — no silent double-land
    rc = main(argv)
    cap = capsys.readouterr()
    assert rc == 4
    assert "unresolved commit" in cap.err
    assert "--fsck-store" in cap.err

    # fsck --repair resolves (rolls the torn commit back), reports it
    rc = main(["--fsck-store", store, "--repair"])
    cap = capsys.readouterr()
    assert rc == 0
    report = json.loads(cap.out.strip().splitlines()[-1])
    assert report["recovery"]["action"] == "rolled_back"
    assert report["duplicate_postings"] == 0

    # the retry now lands; scores equal a store that never crashed
    rc = main(argv)
    cap_ok = capsys.readouterr()
    assert rc == 0
    clean_store = str(tmp_path / "floored_clean")
    rc = main(["--query-table", "documents", "--attrs", "lang,source",
               "--sf-dir", SF001, "--floored-store", clean_store,
               "--append-tables", "documents", "--min-key-freq", "2"])
    cap_clean = capsys.readouterr()
    assert rc == 0
    assert cap_ok.out == cap_clean.out
