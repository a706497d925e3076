"""CLI entry point — the engine's analog of the reference repo's
per-algorithm argparse scripts (SURVEY.md §2.12 "top-level CLI
scripts": one standalone command per operation). One command runs any
registered query against any scale-factor directory and writes the
result where you point it.

    python -m tools.run_query q_agg_pricing_summary
    python -m tools.run_query q_minhash_lsh --sf /root/testdata/sf0.1 \
        --format parquet --out /tmp/pairs
    python -m tools.run_query q_join_star6 --explain
    python -m tools.run_query --list
    python -m tools.run_query --list --category joins
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY, run
from data_pipeline_standalone_scripts_spark.session import get_spark

# writer and reader options per file format; multiLine lets the reader
# count quoted CSV fields that span lines as one row
_FILE_OPTS = {
    "parquet": {},
    "json": {},
    "csv": {"header": "true", "multiLine": "true"},
}


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Run one registered query (see --list) and print or "
        "write its result."
    )
    ap.add_argument("name", nargs="?", help="registry query name")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="table dir")
    ap.add_argument("--out", default=None, help="output path (default: stdout)")
    ap.add_argument(
        "--format",
        default="show",
        choices=["show", "csv", "json", "parquet"],
        help="'show' prints up to --limit rows; file formats need --out",
    )
    ap.add_argument("--limit", type=int, default=50, help="rows for 'show'")
    ap.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )
    ap.add_argument("--list", action="store_true", help="list registered queries")
    ap.add_argument("--category", default=None, help="filter --list by category")
    args = ap.parse_args()

    engine.load_all_operators()

    if args.list:
        for n, q in sorted(REGISTRY.items()):
            if args.category and q.category != args.category:
                continue
            first = q.doc.splitlines()[0] if q.doc else ""
            print(f"{n:34s} {q.category:18s} {q.check:4s} {first}")
        return 0

    if not args.name:
        print("error: query name required (or --list)", file=sys.stderr)
        return 2
    if args.name not in REGISTRY:
        print(f"error: unknown query {args.name!r} — try --list", file=sys.stderr)
        return 2
    if args.format != "show" and not args.out:
        print("error: --format csv/json/parquet requires --out", file=sys.stderr)
        return 2

    spark = get_spark(f"run-{args.name}")
    t0 = time.time()
    if args.explain:
        run(args.name, spark, args.sf, lambda df: df.explain("formatted"))
        return 0
    if args.format == "show":
        pdf = run(args.name, spark, args.sf)
        print(pdf.head(args.limit).to_string(index=False))
        n = len(pdf)
    else:
        # the query executes once, in the write; the row count comes
        # from reading the written files back
        opts = _FILE_OPTS[args.format]

        def write(df):
            df.write.mode("overwrite").format(args.format).options(**opts).save(
                args.out
            )
            return df.schema

        schema = run(args.name, spark, args.sf, write)
        n = (
            spark.read.schema(schema)
            .format(args.format)
            .options(**opts)
            .load(args.out)
            .count()
        )
    print(f"[{args.name}] {n} rows in {time.time() - t0:.2f}s"
          + (f" -> {args.out}" if args.out else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
