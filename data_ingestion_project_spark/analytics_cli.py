"""Analytics CLI: run any declared query from the shell.

    python -m data_ingestion_project_spark.analytics_cli list
    python -m data_ingestion_project_spark.analytics_cli run pricing_summary \
        --sf-dir /root/testdata/sf0.01 [--format json|csv|table] [--limit N]
    python -m data_ingestion_project_spark.analytics_cli explain pricing_summary

The runnable face of the query inventory (the reference exposes its
one pipeline as a CLI job — ``job.py`` mirrors that; this is the same
ergonomics for the analytics surface). Exit codes: 0 ok, 2 usage
error (unknown query/format), 1 execution failure.
"""

from __future__ import annotations

import argparse
import json
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="analytics", description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list declared queries (oracle-backed marked)")

    cat = sub.add_parser("catalog", help="summarize the input tables (rows/columns/bytes)")
    cat.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    run = sub.add_parser("run", help="execute a query and print its result")
    run.add_argument("query")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    run.add_argument("--format", choices=("table", "json", "csv"), default="table")
    run.add_argument("--limit", type=int, default=None, help="cap printed rows")
    run.add_argument(
        "--output",
        default=None,
        help="write the FULL result to this path as parquet instead of printing",
    )

    ex = sub.add_parser("explain", help="print the formatted physical plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from data_ingestion_project_spark.queries import all_oracles, all_queries

    queries = all_queries()

    if args.cmd == "list":
        oracles = all_oracles()
        for name in queries:
            kind = "oracle" if name in oracles else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    from data_ingestion_project_spark.operators.materialize import pin_scope
    from data_ingestion_project_spark.session import build_session

    if args.cmd == "catalog":
        # metadata-only: parquet footers carry exact row counts and the
        # schema, so the summary needs neither a Spark session nor a
        # scan — the same walk that sizes the files reads the counts
        import os

        import pyarrow.parquet as pq

        from data_ingestion_project_spark.sources.readers import TABLES

        try:
            print("table\tn_rows\tn_cols\tbytes")
            for t in TABLES:
                p = os.path.join(args.sf_dir, f"{t}.parquet")
                files = (
                    [
                        os.path.join(r, f)
                        for r, _, fs in os.walk(p)
                        for f in fs
                        if f.endswith(".parquet")
                    ]
                    if os.path.isdir(p)
                    else ([p] if os.path.exists(p) else [])
                )
                if not files:
                    raise FileNotFoundError(f"no parquet for table {t!r} under {p}")
                n_rows = 0
                n_cols = 0
                size = 0
                for f in files:
                    meta = pq.ParquetFile(f).metadata
                    n_rows += meta.num_rows
                    n_cols = meta.num_columns
                    size += os.path.getsize(f)
                print(f"{t}\t{n_rows}\t{n_cols}\t{size}")
            return 0
        except Exception as e:  # same script-friendly posture as run/explain
            print(f"catalog failed: {e}", file=sys.stderr)
            return 1

    if args.query not in queries:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2

    spark = build_session(f"analytics-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    with pin_scope():
        try:
            df = queries[args.query](spark, args.sf_dir)
            if args.cmd == "explain":
                from data_ingestion_project_spark.plans.explain import formatted_plan

                print(formatted_plan(df))
                return 0
            if args.output is not None:
                df.write.mode("errorifexists").parquet(args.output)
                print(f"wrote {args.output}")
                return 0
            if args.limit is not None:
                df = df.limit(args.limit)
            if args.format == "table":
                df.show(n=args.limit or 1000, truncate=False)
            elif args.format == "json":
                for row in df.toJSON().collect():
                    print(row)
            else:  # csv
                pdf = df.toPandas()
                pdf.to_csv(sys.stdout, index=False)
            return 0
        except Exception as e:  # surface the cause, exit nonzero for cron/scripts
            print(f"query failed: {e}", file=sys.stderr)
            return 1


if __name__ == "__main__":
    raise SystemExit(main())
