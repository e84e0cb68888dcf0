"""Command-line entry point.

    python -m bigdata_capstone_spark list
    python -m bigdata_capstone_spark run <query> [--sf-dir DIR] [--limit N]
    python -m bigdata_capstone_spark explain <query> [--sf-dir DIR]
    python -m bigdata_capstone_spark profile q1,q2 [--runs N] [--sf-dir DIR]
    python -m bigdata_capstone_spark sql "SELECT ..." [--sf-dir DIR]

Gives the catalog a usable face: run any registered query against a
test-data directory, print its physical plans, profile it, or run ad-hoc
SQL over the registered table views — the replacement for the
reference's five edit-and-rerun driver scripts.

``explain`` prints the plan of every subtree checkpointed while the
query is built, in build order, then the final plan. ``profile`` builds
and executes each query ``--runs`` times (default 3) through
:func:`observability.profile`: one line per run on stderr, then one
JSON line on stdout with each query's per-layer medians and the raw
samples.
"""

from __future__ import annotations

import argparse
import functools
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bigdata_capstone_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries (* = DuckDB oracle)")

    for name in ("run", "explain", "profile"):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            p.add_argument("--limit", type=int, default=20)
        if name == "profile":
            p.add_argument("--runs", type=int, default=3)

    p = sub.add_parser("sql", help="ad-hoc SQL over the registered views")
    p.add_argument("statement")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--limit", type=int, default=20)

    args = ap.parse_args(argv)

    from bigdata_capstone_spark import observability as obs
    from bigdata_capstone_spark.catalog import ORACLE_SQL, QUERIES, register_views
    from bigdata_capstone_spark.session import build_session

    if args.cmd == "list":
        for name in sorted(QUERIES):
            mark = "*" if name in ORACLE_SQL else " "
            print(f"{mark} {name}")
        return 0

    spark = build_session(app_name=f"cli:{args.cmd}")
    try:
        if args.cmd == "sql":
            register_views(spark, args.sf_dir)
            spark.sql(args.statement).show(args.limit, truncate=False)
            return 0
        names = args.query.split(",") if args.cmd == "profile" else [args.query]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            print(f"unknown query {unknown[0]!r}; see `list`", file=sys.stderr)
            return 2
        if args.cmd == "profile":
            runs = max(1, args.runs)
            obs.warm_up(spark, args.sf_dir)
            samples = obs.profile_runs(
                spark,
                {n: functools.partial(QUERIES[n], spark, args.sf_dir) for n in names},
                runs,
            )
            print(json.dumps({
                "medians": obs.medians(samples), "samples": samples,
                "sf_dir": args.sf_dir, "runs": runs,
            }))
            return 0
        if args.cmd == "explain":
            with obs.captured_checkpoints() as subtrees:
                df = QUERIES[args.query](spark, args.sf_dir)
            for i, (label, plan) in enumerate(subtrees, 1):
                print(f"== {label} #{i} (build order) ==\n{plan}\n")
            print(f"== final plan ==\n{obs.explain_string(df)}")
            return 0
        QUERIES[args.query](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
