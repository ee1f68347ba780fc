"""Command-line entry point: ``python -m irs_990_efiler_database_spark``.

The reference's workflows are driven from an R console
(buildIndex / buildDatabase / create_code_chunks,
BUILD_SCRIPTS/README.md); this maps each one to a subcommand so a
reference user can run the whole pipeline without writing Python:

  index     build the filing index from index_*.json files
  bundle    consolidate raw XML files into (url, xml) parquet bundles
  fetch     executor-parallel download of return URLs into a bundle
  build     full extraction build (CORE + concordance + Schedule N
            [+ any master slice via --tables]) from a glob or bundle
  tables    list every buildable table (per-table concordances,
            Schedule N, registered master slices)
  register  resolve a master-concordance LOCATION and print its spec
            (vars/xpaths) — the create_code_chunks analog, minus the
            code: the build consumes the same slice via --tables
  export    write a built table to csv/stata/spss
  query     run any registered analytics query by name (the full
            326-entry catalog: dedup, ANN, text, sketches, stats,
            graph, streaming, TPC-H, 990 reports) against a table
            directory; print or write the result

Every subcommand accepts --master/--shuffle-partitions to size the
session (defaults: local[all cores]).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(args):
    from .session import get_spark

    return get_spark(
        "irs990-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_index(args) -> int:
    from .sinks import write_table
    from .sources.index import build_index

    spark = _session(args)
    idx = build_index(spark, args.glob)
    n = write_table(idx, args.out, partition_by=None)
    print(f"index: {n} rows -> {args.out}")
    return 0


def cmd_bundle(args) -> int:
    from .sources.xml_source import write_return_bundle

    spark = _session(args)
    write_return_bundle(
        spark, args.glob, args.out, target_partitions=args.partitions
    )
    print(f"bundle -> {args.out}")
    return 0


def cmd_fetch(args) -> int:
    from .sources.fetch import fetch_to_bundle

    spark = _session(args)
    urls = [u.strip() for u in open(args.url_file) if u.strip()]
    n, failures = fetch_to_bundle(spark, urls, args.out)
    n_fail = failures.count()
    print(f"fetched {n} -> {args.out} ({n_fail} failures in dead letter)")
    return 0 if n_fail == 0 else 3


def _parse_register_spec(spec: str):
    """LOCATION[:NAME[:ROOT1,ROOT2]] → register_master_table kwargs."""
    parts = spec.split(":")
    location = parts[0]
    name = parts[1] if len(parts) > 1 and parts[1] else None
    roots = parts[2].split(",") if len(parts) > 2 and parts[2] else None
    return dict(
        location=location,
        table_name=name,
        cardinality="MANY" if roots else "ONE",
        group_roots=roots,
    )


def cmd_build(args) -> int:
    from .jobs import build_database
    from .plans.concordance import register_master_table

    # registrations are per-process (the slice spec lives in memory and
    # feeds the parse schema), so `build` re-registers custom-named /
    # MANY slices itself; bare LOCATIONs in --tables auto-register
    for spec in args.register or []:
        kw = _parse_register_spec(spec)
        name = register_master_table(**kw)
        print(f"registered master slice: {name}", file=sys.stderr)

    spark = _session(args)
    res = build_database(
        spark,
        args.out,
        xml_glob=args.glob,
        bundle_path=args.bundle,
        tables=args.tables.split(",") if args.tables else None,
        csv=args.csv,
    )
    for name, n in res.rows.items():
        print(f"{name}: {n} rows -> {res.tables[name]}")
    if res.dead_rows:
        print(f"dead letter: {res.dead_rows} -> {res.dead_letter_path}")
    return 0


def cmd_tables(args) -> int:
    from .extract.schedn_builder import schedn_table_names
    from .plans.concordance import (
        load_many_catalog,
        master_table_names,
        table_names,
    )

    for t in ["CORE", *table_names(), *schedn_table_names()]:
        print(t)
    for t in master_table_names():
        print(f"{t}  (master slice)")
    # derived-catalog MANY slices: buildable by name via --tables
    # MC-<LOCATION>-MANY (group roots from master_many_catalog.json)
    for loc, roots in sorted(load_many_catalog().items()):
        print(f"MC-{loc}-MANY  (catalog MANY slice, {len(roots)} roots)")
    return 0


def cmd_register(args) -> int:
    from .plans.concordance import register_master_table, table_rows

    name = register_master_table(
        args.location,
        scope=args.scope,
        table_name=args.name,
        cardinality="MANY" if args.group_roots else "ONE",
        group_roots=args.group_roots.split(",") if args.group_roots else None,
    )
    rows = table_rows(name)
    out = {}
    for r in rows:
        out.setdefault(r["variable"], []).append(r["xpath"])
    print(json.dumps({"table": name, "vars": out}, indent=1))
    print(
        f"# {len(out)} variables; build with: "
        f"python -m irs_990_efiler_database_spark build "
        f"--tables {name} ...",
        file=sys.stderr,
    )
    return 0


def cmd_export(args) -> int:
    from .sinks import read_table, write_csv, write_spss, write_stata

    spark = _session(args)
    df = read_table(spark, args.table_path)
    if args.format == "csv":
        write_csv(df, args.out)
    elif args.format == "stata":
        write_stata(df, args.out)
    else:
        write_spss(df, args.out)
    print(f"{args.format} -> {args.out}")
    return 0


def cmd_query(args) -> int:
    from .queries import all_queries

    qs = all_queries()
    if args.name == "list":
        for n in sorted(qs):
            print(n)
        return 0
    if args.name not in qs:
        close = [n for n in sorted(qs) if args.name in n]
        hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
        print(f"unknown query: {args.name}{hint}", file=sys.stderr)
        return 2
    if not args.sf_dir:
        print(
            "query: --sf-dir is required (or set $SPARK_GRAFT_SF_DIR)",
            file=sys.stderr,
        )
        return 2
    if not os.path.isdir(args.sf_dir):
        print(f"query: --sf-dir does not exist: {args.sf_dir}", file=sys.stderr)
        return 2
    spark = _session(args)
    df = qs[args.name](spark, args.sf_dir)
    if args.out:
        from .sinks import write_csv, write_table

        if args.format == "csv":
            write_csv(df, args.out)
        else:
            write_table(df, args.out)
        print(f"{args.name} -> {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="irs_990_efiler_database_spark")
    p.add_argument("--master", default=None, help="spark master URL")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("index", help="build the filing index")
    s.add_argument("glob", help="index_*.json glob")
    s.add_argument("out")
    s.set_defaults(fn=cmd_index)

    s = sub.add_parser("bundle", help="consolidate XML files into a bundle")
    s.add_argument("glob")
    s.add_argument("out")
    s.add_argument("--partitions", type=int, default=None)
    s.set_defaults(fn=cmd_bundle)

    s = sub.add_parser("fetch", help="download return URLs into a bundle")
    s.add_argument("url_file", help="one URL per line")
    s.add_argument("out")
    s.set_defaults(fn=cmd_fetch)

    s = sub.add_parser("build", help="run the extraction build")
    s.add_argument("out")
    src = s.add_mutually_exclusive_group(required=True)
    src.add_argument("--glob", default=None, help="raw XML glob")
    src.add_argument("--bundle", default=None, help="(url, xml) parquet bundle")
    s.add_argument("--tables", default=None, help="comma list (default: reference parity)")
    s.add_argument(
        "--register",
        action="append",
        metavar="LOCATION[:NAME[:ROOTS]]",
        help="register a master-concordance slice for this build "
        "(repeatable); bare LOCATIONs in --tables auto-register",
    )
    s.add_argument("--csv", action="store_true")
    s.set_defaults(fn=cmd_build)

    s = sub.add_parser("tables", help="list buildable tables")
    s.set_defaults(fn=cmd_tables)

    s = sub.add_parser("register", help="resolve a master-concordance slice")
    s.add_argument("location", help="e.g. SCHED-A-PART-02")
    s.add_argument("--scope", default=None)
    s.add_argument("--name", default=None)
    s.add_argument("--group-roots", default=None, help="comma list → MANY slice")
    s.set_defaults(fn=cmd_register)

    s = sub.add_parser(
        "query", help="run a registered analytics query (or 'list')"
    )
    s.add_argument("name", help="query name from the catalog, or 'list'")
    s.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="directory holding the parquet tables the query reads "
        "(default: $SPARK_GRAFT_SF_DIR)",
    )
    s.add_argument("--out", default=None, help="write result here instead of showing")
    s.add_argument("--format", choices=("parquet", "csv"), default="parquet")
    s.add_argument("--limit", type=int, default=50, help="rows to show without --out")
    s.set_defaults(fn=cmd_query)

    s = sub.add_parser("export", help="export a built table")
    s.add_argument("table_path")
    s.add_argument("out")
    s.add_argument("--format", choices=("csv", "stata", "spss"), default="csv")
    s.set_defaults(fn=cmd_export)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
