"""CLI — the ``engine.run(query_name)`` entry point from SURVEY §3.

Usage:
    python -m hadoop_web_browsing_logs_spark list
    python -m hadoop_web_browsing_logs_spark run q1_pricing_summary \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--explain]
    python -m hadoop_web_browsing_logs_spark oracle q1_pricing_summary
    python -m hadoop_web_browsing_logs_spark audit [sf_dir ...]
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hadoop_web_browsing_logs_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("name")
    runp.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")

    orap = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    orap.add_argument("name")

    audp = sub.add_parser(
        "audit", help="replay every registered oracle against DuckDB; exit 1 on any FAIL"
    )
    audp.add_argument("sf_dirs", nargs="*", help="fixture directories (default: run's --sf-dir)")

    refp = sub.add_parser(
        "refjob",
        help="run the reference's two-job workflow (same 4 args as ProcessData.main)",
    )
    refp.add_argument("input_dir")
    refp.add_argument("output_dir")
    refp.add_argument("stopwords_file")
    refp.add_argument("centers_file")

    args = p.parse_args(argv)

    if args.cmd == "refjob":
        from .refcli import run_reference_jobs
        from .session import get_spark

        spark = get_spark("refjob")
        clusters = run_reference_jobs(
            spark, args.input_dir, args.output_dir, args.stopwords_file, args.centers_file
        )
        clusters.show(truncate=100)
        print(f"wrote {args.output_dir}/inverted_index and {args.output_dir}/kmeans")
        return 0

    if args.cmd == "audit":
        from .plans.oracle import audit
        from .session import get_spark

        spark = get_spark("oracle-audit")
        rc = 0
        for sf_dir in args.sf_dirs or [runp.get_default("sf_dir")]:
            n, fails = 0, []
            for name, why in audit(spark, sf_dir):
                n += 1
                print(f"FAIL {name}: {why}" if why else f"ok   {name}", flush=True)
                if why:
                    fails.append(name)
            print(f"\n{n - len(fails)}/{n} oracled queries match at {sf_dir}")
            if fails:
                print("failures:", fails)
                rc = 1
        return rc

    from .plans.registry import all_queries

    queries = all_queries()

    if args.cmd == "list":
        width = max(len(n) for n in queries)
        for name in sorted(queries):
            q = queries[name]
            mark = "oracle" if q.oracle else "rows-only"
            print(f"{name:<{width}}  [{q.category}/{mark}]  {q.description.splitlines()[0][:90]}")
        return 0

    if args.name not in queries:
        print(f"unknown query: {args.name} (try `list`)", file=sys.stderr)
        return 2

    if args.cmd == "oracle":
        oracle = queries[args.name].oracle
        if oracle is None:
            print("-- no SQL oracle (rows-only check)", file=sys.stderr)
            return 1
        print(oracle.strip())
        return 0

    from .session import get_spark

    spark = get_spark("cli")
    df = queries[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=80)
        print(f"[{args.name}] showed up to {args.limit} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
