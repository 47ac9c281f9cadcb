"""CLI entry point: run any registered operator from a shell.

    python -m python_kinesis_streaming_spark list [--filter SUBSTR]
    python -m python_kinesis_streaming_spark run OP [--sf-dir D] [--limit N]
        [--explain] [--json]
    python -m python_kinesis_streaming_spark oracle OP

`run` builds the engine's default session (local master unless
``SPARK_GRAFT_MASTER`` overrides), executes the op against the given
fixture directory, and prints the result (default: .show()-style table).
`oracle` prints the op's DuckDB-parity SQL — the executable spec of the
operator's semantics.

Scale note: the CLI is a thin driver — the op callables are the same lazy
DataFrame builders the library API exposes, so spark-submit'ing this module
against a cluster master runs the identical plans at cluster scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python_kinesis_streaming_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered operators")
    p_list.add_argument("--filter", default="", help="substring filter")

    p_run = sub.add_parser("run", help="run one operator")
    p_run.add_argument("op")
    p_run.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")
    p_run.add_argument("--json", action="store_true", dest="as_json")

    p_orc = sub.add_parser("oracle", help="print an op's oracle SQL")
    p_orc.add_argument("op")

    p_exp = sub.add_parser(
        "explain", help="print an op's physical plan (cache-bypassed scans)"
    )
    p_exp.add_argument("op")
    p_exp.add_argument(
        "--mode", default="formatted", help="simple|extended|codegen|cost|formatted"
    )
    p_exp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )

    p_audit = sub.add_parser(
        "audit",
        help="JSON plan-hygiene summary: shuffles, codegen spans, pushdown, "
        "unbounded global windows",
    )
    p_audit.add_argument("op")
    p_audit.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    return p


def main(argv: list[str] | None = None) -> int:
    from python_kinesis_streaming_spark.registry import all_oracles, all_queries

    args = _build_parser().parse_args(argv)
    queries = all_queries()

    if args.cmd == "list":
        oracles = all_oracles()
        for name, fn in queries.items():
            if args.filter in name:
                mark = "sql-oracled" if name in oracles else "rows-only"
                module = fn.__module__.removeprefix("python_kinesis_streaming_spark.")
                print(f"{name}\t{mark}\t{module}")
        return 0

    if args.op not in queries:
        print(f"unknown op: {args.op!r} (see `list`)", file=sys.stderr)
        return 2

    if args.cmd == "oracle":
        sql = all_oracles().get(args.op)
        if sql is None:
            print(f"{args.op} has no SQL oracle", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    from python_kinesis_streaming_spark.session import build_session

    spark = build_session(
        app_name=f"pkss-cli-{args.op}",
        master=os.environ.get("SPARK_GRAFT_MASTER", "local[*]"),
    )

    if args.cmd == "explain":
        from python_kinesis_streaming_spark.plans import uncached_plan_of

        print(
            uncached_plan_of(
                queries[args.op], spark, args.sf_dir, mode=args.mode
            )
        )
        return 0

    if args.cmd == "audit":
        from python_kinesis_streaming_spark.plans import plan_audit

        print(json.dumps(plan_audit(queries[args.op](spark, args.sf_dir))))
        return 0

    df = queries[args.op](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.as_json:
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
