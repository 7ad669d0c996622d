"""CLI mirroring the reference's ``main.py`` (flags at ``main.py:13-27``).

A user of the reference runs::

    python main.py <rows> <cores> [-par|-seq] [-col|-row|-cell|-sql] [-read|-write]

Here::

    python -m multi_attribute_join_search_with_mapreduce_spark \
        --query-csv movie.csv --attrs director_name,movie_title \
        [--rows N] [--cores N] [--strategy dataframe|sql] \
        [--plan rare_key|mapkey] \
        [--sf-dir /root/testdata/sf0.01] [--k 20] \
        [--write-index DIR | --read-index DIR] \
        [--floored-store DIR [--append-tables t1,t2] [--min-key-freq N]]

Flag parity notes:

- ``-par`` vs ``-seq`` is gone: there is one engine and it is always
  distributed — the reference's Seq/Par split existed because its
  sequential engine was a separate pandas implementation.
- ``-col/-row/-cell`` probe granularities all collapse into the single
  semi-join probe (SURVEY.md §3.2 — they differed only in how many SQL
  round-trips the Vertica probe took; a Catalyst plan has no
  round-trips). ``--strategy sql`` runs the ``spark.sql`` surface
  (entry point C); ``dataframe`` the DataFrame API (entry point A).
- ``-read/-write`` map to ``--read-index/--write-index`` (the posting
  index cached as Parquet) AND ``--read-probed/--write-probed`` (the
  per-query probed intermediate + query input, the reference's
  ``df_unsorted_data``/``df_input_data`` cache,
  ``Par_Search.py:92-99,124-134``).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _positive_int(raw: str) -> int:
    """argparse type for rank/count knobs: 0 or negative would silently
    filter every score away (ADVICE r8), so reject at parse time."""
    v = int(raw)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="multi_attribute_join_search_with_mapreduce_spark",
        description="Multi-attribute join search over a parquet data lake",
    )
    p.add_argument("--query-csv", help="query table CSV (path or URL)")
    p.add_argument("--query-table", help="lake table name to use as the query table")
    p.add_argument(
        "--run-query",
        metavar="NAME",
        help="run a named analytics query from the engine registry "
        "(any queries() entry — TPC-H, dedup, streaming, pipeline, ...) "
        "against the lake and print its head; --attrs is ignored",
    )
    p.add_argument("--list-queries", action="store_true",
                   help="list every registered analytics query and exit")
    p.add_argument("--attrs", default="", help="comma-separated query column names")
    p.add_argument("--rows", type=int, default=None, help="truncate query input to N rows")
    p.add_argument("--cores", type=int, default=None, help="local[N] parallelism")
    p.add_argument(
        "--k", type=_positive_int, default=20, help="top-k tables (2k columns)"
    )
    p.add_argument(
        "--top-n",
        type=_positive_int,
        default=None,
        help="column ranks summed into each table score: default = "
        "attribute count (Par-Search, Par_Search.py:318-327); 2 = "
        "Seq-Search's hard-coded top-2 dialect (Object.py:78-79)",
    )
    p.add_argument(
        "--strategy",
        choices=("dataframe", "sql"),
        default="dataframe",
        help="DataFrame API (entry point A) or spark.sql surface (entry point C)",
    )
    p.add_argument(
        "--plan",
        choices=("rare_key", "mapkey", "row", "cell"),
        default="rare_key",
        help="dataframe-strategy physical plan: selectivity-ordered "
        "rare-key probe (default) or the reference's mapkey fan-out "
        "(Par_Search.py:244-285); results are identical. row/cell "
        "accept the reference's -row/-cell granularity flags "
        "(main.py:19-21) — subsumed aliases of the default probe "
        "(identical results by construction, see search.py docstring)",
    )
    p.add_argument("--sf-dir", default=None, help="lake directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--write-index", metavar="DIR", help="persist the posting index as parquet")
    p.add_argument("--read-index", metavar="DIR", help="load a previously persisted index")
    p.add_argument(
        "--write-probed",
        metavar="DIR",
        help="persist the per-query probed intermediate + query input "
        "(the reference's -write of df_unsorted_data/df_input_data, "
        "Par_Search.py:124-134); dataframe strategy only",
    )
    p.add_argument(
        "--read-probed",
        metavar="DIR",
        help="reload a --write-probed intermediate, skipping the import "
        "and index-probe phases (the reference's -read, "
        "Par_Search.py:92-99); must be the same query/attrs",
    )
    p.add_argument(
        "--floored-store",
        metavar="DIR",
        help="search against a floored index+residual store "
        "(write_floored_index layout); created from the whole wide lake "
        "minus --append-tables if DIR/index does not exist yet",
    )
    p.add_argument(
        "--min-key-freq",
        type=_positive_int,
        default=2,
        help="lake-wide key-frequency floor for --floored-store (default 2)",
    )
    p.add_argument(
        "--append-tables",
        metavar="NAMES",
        help="comma-separated wide-lake table names to land into "
        "--floored-store before searching (append_floored_index: keys "
        "cross the floor as tables combine; each append adds one "
        "residual delta file)",
    )
    p.add_argument(
        "--fsck-store",
        metavar="DIR",
        help="check a --floored-store's invariants (index/residual key "
        "disjointness, per-half floor consistency) and print a JSON "
        "report; exits 1 if violations remain",
    )
    p.add_argument(
        "--repair",
        action="store_true",
        help="with --fsck-store: roll back an unresolved commit first "
        "(delete the files it added; the committed store is never "
        "touched before a commit point), delete residual generations "
        "and deltas a compaction superseded, then tombstone the stale "
        "residual rows of double-represented keys (the index side is "
        "authoritative)",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan of the table-scores query "
        "instead of executing it",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # Registry surface: the CLI exposes every driver-contract query, so
    # a user of the reference CLI can also reach the engine's full
    # analytics catalog from the shell.
    if args.list_queries or args.run_query:
        import __spark_entry__ as entry_mod

        registry = entry_mod.queries()
        if args.list_queries:
            for name in sorted(registry):
                print(name)
            return 0
        if args.run_query not in registry:
            print(f"error: unknown query {args.run_query!r} "
                  f"(see --list-queries)", file=sys.stderr)
            return 2
        from multi_attribute_join_search_with_mapreduce_spark.session import get_spark
        from multi_attribute_join_search_with_mapreduce_spark.sources.lake import sf_dir_from_env

        spark = get_spark("majs-cli")
        sf_dir = args.sf_dir or sf_dir_from_env()
        df = registry[args.run_query](spark, sf_dir)
        df.show(args.rows or 20, truncate=False)
        return 0

    if args.fsck_store:
        import json

        from multi_attribute_join_search_with_mapreduce_spark.index import fsck_floored_store
        from multi_attribute_join_search_with_mapreduce_spark.session import get_spark

        try:
            report = fsck_floored_store(
                get_spark("majs-cli"), args.fsck_store, repair=args.repair
            )
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        print(json.dumps(report, sort_keys=True))
        violations = (
            report["subfloor_in_index"]
            + report["overfloor_in_residual"]
            + report["duplicate_postings"]
            + (0 if args.repair else report["double_represented_keys"])
            + (0 if report["pending_commit"] is None else 1)
        )
        return 1 if violations else 0
    if args.repair:
        print("error: --repair requires --fsck-store", file=sys.stderr)
        return 2

    if not args.attrs:
        print("error: --attrs is required for join search", file=sys.stderr)
        return 2
    # --read-probed REPLAYS a cached (query, probe) pair: the query
    # input comes from the cache, so combining it with a fresh query
    # source, a row limit, or the SQL strategy would silently answer a
    # different question than the flags claim — reject loudly instead.
    if args.read_probed:
        if args.query_csv or args.query_table:
            print(
                "error: --read-probed replays the CACHED query input; "
                "--query-csv/--query-table must not be given",
                file=sys.stderr,
            )
            return 2
        if args.rows:
            print("error: --rows cannot apply to a --read-probed cache", file=sys.stderr)
            return 2
        if args.strategy == "sql":
            print("error: --read-probed supports the dataframe strategy only", file=sys.stderr)
            return 2
    elif bool(args.query_csv) == bool(args.query_table):
        print("error: exactly one of --query-csv / --query-table is required", file=sys.stderr)
        return 2
    # The SQL strategy searches its own registered lake views, so an
    # index to read or a probed intermediate to write would be ignored.
    if args.strategy == "sql" and (args.read_index or args.write_probed):
        print(
            "error: --read-index and --write-probed support the dataframe "
            "strategy only (the sql strategy would silently ignore them)",
            file=sys.stderr,
        )
        return 2

    from multi_attribute_join_search_with_mapreduce_spark.session import get_spark
    from multi_attribute_join_search_with_mapreduce_spark.sources.lake import (
        load_table,
        read_csv_source,
        sf_dir_from_env,
    )

    sf_dir = args.sf_dir or sf_dir_from_env()
    if args.cores:  # local[N] parallelism, like the reference's `cores` arg
        import os

        os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    spark: SparkSession = get_spark("majs-cli")
    attrs = [a.strip() for a in args.attrs.split(",") if a.strip()]

    from multi_attribute_join_search_with_mapreduce_spark.index import cached_posting_index
    from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
        multi_attribute_join_search,
    )

    if args.append_tables and not args.floored_store:
        print("error: --append-tables requires --floored-store", file=sys.stderr)
        return 2
    if args.floored_store and (args.read_index or args.write_index):
        print(
            "error: --floored-store is its own index source; "
            "combining it with --read-index/--write-index is ambiguous",
            file=sys.stderr,
        )
        return 2
    if args.floored_store and (args.strategy == "sql" or args.read_probed):
        print(
            "error: --floored-store supports the dataframe strategy "
            "without --read-probed (those paths build/replay their own "
            "index and would silently ignore the store)",
            file=sys.stderr,
        )
        return 2
    if args.floored_store:
        import os as _os

        from multi_attribute_join_search_with_mapreduce_spark.index import (
            WIDE_LAKE_TABLES,
            append_floored_index,
            write_floored_index,
        )

        to_append = [
            t.strip() for t in (args.append_tables or "").split(",") if t.strip()
        ]
        known = {s.name for s in WIDE_LAKE_TABLES}
        unknown = sorted(set(to_append) - known)
        if unknown:
            print(
                f"error: unknown lake tables {unknown}; "
                f"wide lake has {sorted(known)}",
                file=sys.stderr,
            )
            return 2
        from multi_attribute_join_search_with_mapreduce_spark.index import read_store_meta

        if not _os.path.isdir(_os.path.join(args.floored_store, "index")):
            initial = tuple(
                s for s in WIDE_LAKE_TABLES if s.name not in set(to_append)
            )
            write_floored_index(
                spark, sf_dir, args.floored_store, initial, args.min_key_freq
            )
        try:
            meta = read_store_meta(spark, args.floored_store)
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        # The store's own metadata is authoritative. A conflicting
        # --min-key-freq would silently search under a different floor
        # than the store was built with — reject.
        if meta["min_key_freq"] != args.min_key_freq:
            print(
                f"error: store {args.floored_store} was written with "
                f"--min-key-freq {meta['min_key_freq']}; got "
                f"{args.min_key_freq}",
                file=sys.stderr,
            )
            return 2
        # Idempotent appends (ADVICE r9): tables already landed in the
        # store's metadata log are skipped with a notice, so re-running
        # the identical command cannot double-count postings.
        landed = {n for n, _tid in meta["landed_tables"]}
        skipped = sorted(set(to_append) & landed)
        if skipped:
            print(
                f"notice: skipping already-landed tables {skipped}",
                file=sys.stderr,
            )
        remaining = [t for t in to_append if t not in landed]
        if remaining:
            from multi_attribute_join_search_with_mapreduce_spark.index import (
                ConcurrentAppendError,
            )

            try:
                append_floored_index(
                    spark,
                    sf_dir,
                    args.floored_store,
                    tuple(s for s in WIDE_LAKE_TABLES if s.name in set(remaining)),
                    args.min_key_freq,
                )
            except ConcurrentAppendError as exc:
                print(f"error: {exc}", file=sys.stderr)
                print(
                    "hint: another appender holds (or abandoned) this "
                    "store's next commit slot; resolve with "
                    f"--fsck-store {args.floored_store} --repair, then "
                    "re-run",
                    file=sys.stderr,
                )
                return 4
        from multi_attribute_join_search_with_mapreduce_spark.index import read_floored_index

        postings = read_floored_index(spark, args.floored_store)
    elif args.read_index:
        postings = spark.read.parquet(args.read_index)
    else:
        postings = cached_posting_index(spark, sf_dir)
    if args.write_index and not args.explain:
        # --explain is a dry run: show the plan without the side effect
        # of materializing the index to disk.
        postings.write.mode("overwrite").parquet(args.write_index)
        postings = spark.read.parquet(args.write_index)

    if args.strategy == "sql":
        from multi_attribute_join_search_with_mapreduce_spark.plans.sql_surface import (
            join_search_sql_level,
            join_search_spark_sql_text,
            register_sql_surface,
        )

        if args.query_csv:
            q = read_csv_source(spark, args.query_csv)
            if args.rows:
                q = q.limit(args.rows)
            q.createOrReplaceTempView("query_input")
            register_sql_surface(spark, sf_dir)
            tables = spark.sql(
                join_search_spark_sql_text("query_input", attrs, args.k, "tables", args.top_n)
            )
            columns = spark.sql(
                join_search_spark_sql_text("query_input", attrs, args.k, "columns", args.top_n)
            )
        else:
            tables = join_search_sql_level(
                spark, sf_dir, args.query_table, attrs, args.k, "tables", args.top_n
            )
            columns = join_search_sql_level(
                spark, sf_dir, args.query_table, attrs, args.k, "columns", args.top_n
            )
    else:
        if args.read_probed:
            # Reference parity (-read, Par_Search.py:92-99): reload the
            # probed intermediate AND the cached query input; the probe
            # below re-semi-joins the already-probed frame with the same
            # key set — idempotent, so downstream plans are unchanged.
            postings = spark.read.parquet(f"{args.read_probed}/probed")
            q = spark.read.parquet(f"{args.read_probed}/query")
        elif args.query_csv:
            q = read_csv_source(spark, args.query_csv)
        else:
            q = load_table(spark, args.query_table, sf_dir)
        if args.rows and not args.read_probed:
            q = q.limit(args.rows)
        if args.write_probed and not args.explain:
            # Reference parity (-write, Par_Search.py:124-134): persist
            # the probed intermediate + query input, then run the search
            # off the materialized copy (like --write-index does).
            from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
                search_stages,
            )

            st = search_stages(postings, q, attrs, args.k)
            st.probed.write.mode("overwrite").parquet(f"{args.write_probed}/probed")
            q.write.mode("overwrite").parquet(f"{args.write_probed}/query")
            postings = spark.read.parquet(f"{args.write_probed}/probed")
            q = spark.read.parquet(f"{args.write_probed}/query")
        tables, columns = multi_attribute_join_search(
            postings, q, attrs, args.k, strategy=args.plan, top_n=args.top_n
        )

    if args.explain:
        # Both result plans, labeled — an unlabeled single plan silently
        # dropped the columns query (r3 advice).
        print("== tables plan ==")
        tables.explain("formatted")
        print("== columns plan ==")
        columns.explain("formatted")
        return 0

    print("== table scores ==")
    for r in tables.collect():
        print(f"table={r['table']}\tjoin_score={r['join_score']}")
    print("== column scores ==")
    for r in columns.collect():
        print(f"table={r['table']}\tcolumn={r['column']}\tjoin_score={r['join_score']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
