#!/usr/bin/env python
"""CLI for the analytics catalog: run any named query against a testdata
scale-factor directory and print rows (or just counts).

    python jobs/run_query.py kg_predicate_counts
    python jobs/run_query.py kg_error_stats --sf-dir /root/testdata/sf0.1 --limit 20
    python jobs/run_query.py --list
    python jobs/run_query.py kg_entity_linking --explain   # physical plan only
    python jobs/run_query.py kg_extract_nt --oracle     # print the DuckDB SQL

Cluster usage mirrors run_pipeline.py: ship the package with --py-files and
point --sf-dir at the production tables' directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", nargs="?", help="catalog query name (see --list)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--limit", type=int, default=50, help="rows to print (0 = count only)")
    ap.add_argument("--list", action="store_true", help="list catalog queries and exit")
    ap.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    ap.add_argument("--oracle", action="store_true", help="print the DuckDB oracle SQL and exit")
    args = ap.parse_args()

    from rio_spark.plans.catalog import ORACLES, QUERIES

    if args.list:
        for n in QUERIES:
            print(n)
        return 0
    if not args.name or args.name not in QUERIES:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2
    if args.oracle:
        print(ORACLES[args.name].strip())
        return 0

    from rio_spark.session import get_spark

    spark = get_spark(app_name=f"rio_query_{args.name}", cores=args.cores)
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    t0 = time.perf_counter()
    n = df.count()
    dt = time.perf_counter() - t0
    if args.limit:
        df.show(args.limit, truncate=80)
    print(json.dumps({"query": args.name, "rows": n, "seconds": round(dt, 3),
                      "sf_dir": args.sf_dir}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
