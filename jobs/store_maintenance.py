#!/usr/bin/env python
"""Maintenance CLI for a graph store: the operational surface a table
owner runs between pipeline jobs (Iceberg's maintenance procedures).

    python jobs/store_maintenance.py snapshots --store /data/kg_store
    python jobs/store_maintenance.py files     --store /data/kg_store
    python jobs/store_maintenance.py compact   --store ... --min-files 8
    python jobs/store_maintenance.py expire    --store ... --keep-last 3
    python jobs/store_maintenance.py rollback  --store ... --to 7
    python jobs/store_maintenance.py delta     --store ... --since 5

Each command prints one JSON line (machine-readable, like run_pipeline).
A path that holds no store (no ``_manifests`` directory and no
pre-manifest data) is refused with exit status 1; the pipeline writers are
what create a store.
Single-writer contract: don't run compact/expire/rollback concurrently
with a live merge (GraphStore.expire_snapshots docstring).

Cluster usage mirrors run_pipeline.py: ship the package with --py-files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("command", choices=[
        "snapshots", "files", "compact", "expire", "rollback", "delta",
        "tag", "drop-tag", "delete", "refresh-view", "rebucket"])
    ap.add_argument("--store", required=True, help="graph store root directory")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--min-files", type=int, default=8, help="compact threshold")
    ap.add_argument("--target-rows", type=int, default=1_000_000,
                    help="compact: rows per rewritten file")
    ap.add_argument("--keep-last", type=int, default=1, help="expire: snapshots kept")
    ap.add_argument("--to", type=int, help="rollback: target snapshot")
    ap.add_argument("--since", type=int, help="delta: exclusive lower snapshot bound")
    ap.add_argument("--until", type=int, default=None,
                    help="delta: inclusive upper bound (default CURRENT)")
    ap.add_argument("--name", help="tag/drop-tag: ref name")
    ap.add_argument("--at", type=int, default=None,
                    help="tag: snapshot to pin (default CURRENT)")
    ap.add_argument("--where", help="delete: SQL predicate over "
                    "subject/predicate/object/graph, e.g. "
                    "\"subject = '<http://e/s1>'\"")
    ap.add_argument("--state", help="refresh-view: the view's state directory")
    ap.add_argument("--buckets", type=int, help="rebucket: the new bucket count")
    ap.add_argument("--group-by", default="predicate",
                    help="refresh-view: comma-separated quad columns to "
                         "count by (default: predicate)")
    args = ap.parse_args()

    from rio_spark.operators.materialize import GraphStore
    from rio_spark.session import get_spark

    store = GraphStore(args.store)
    if not store.holds_store():
        # every command reads or rewrites an existing store; the write paths
        # would otherwise commit an empty snapshot 0 at a mistyped path
        print(f"store_maintenance: no graph store at {args.store}",
              file=sys.stderr)
        return 1

    def spark():
        # lazy: expire/rollback/tag/drop-tag are pure driver-side file ops
        # and must not pay JVM startup (or allocate cluster executors)
        return get_spark(app_name=f"rio_store_{args.command}", cores=args.cores)

    if args.command == "snapshots":
        rows = [r.asDict() for r in store.snapshots_df(spark()).collect()]
        print(json.dumps({"command": "snapshots", "store": args.store,
                          "snapshots": rows}))
    elif args.command == "files":
        rows = [r.asDict() for r in store.files_df(spark()).collect()]
        print(json.dumps({"command": "files", "store": args.store,
                          "n_files": len(rows),
                          "bytes": sum(r["bytes"] for r in rows),
                          "rows": sum(r["rows"] for r in rows),
                          "files": rows}))
    elif args.command == "compact":
        report = store.compact(spark(), min_files=args.min_files,
                               target_rows_per_file=args.target_rows)
        print(json.dumps({"command": "compact", "store": args.store,
                          "buckets_rewritten": {
                              str(b): {"files_before": fb, "files_after": fa}
                              for b, (fb, fa) in report.items()}}))
    elif args.command == "expire":
        removed = store.expire_snapshots(keep_last=args.keep_last)
        print(json.dumps({"command": "expire", "store": args.store,
                          "keep_last": args.keep_last,
                          "data_files_deleted": removed}))
    elif args.command == "rollback":
        if args.to is None:
            ap.error("rollback needs --to <snapshot>")
        n = store.rollback(args.to)
        print(json.dumps({"command": "rollback", "store": args.store,
                          "to": args.to, "new_snapshot": n}))
    elif args.command == "delete":
        if not args.where:
            ap.error("delete needs --where <sql predicate>")
        from pyspark.sql import functions as F

        n = store.delete_where(spark(), F.expr(args.where))
        print(json.dumps({"command": "delete", "store": args.store,
                          "where": args.where, "quads_deleted": n}))
    elif args.command == "refresh-view":
        if not args.state:
            ap.error("refresh-view needs --state <dir>")
        from rio_spark.operators.incremental import IncrementalCountView

        cols = tuple(c.strip() for c in args.group_by.split(",") if c.strip())
        rep = IncrementalCountView(store, args.state, group_cols=cols).refresh(spark())
        print(json.dumps({"command": "refresh-view", "store": args.store,
                          "state": args.state, **rep}))
    elif args.command == "rebucket":
        if args.buckets is None:
            ap.error("rebucket needs --buckets <n>")
        n = store.rebucket(spark(), args.buckets)
        print(json.dumps({"command": "rebucket", "store": args.store,
                          "n_buckets": args.buckets, "new_snapshot": n}))
    elif args.command == "tag":
        if not args.name:
            ap.error("tag needs --name")
        n = store.create_tag(args.name, args.at)
        print(json.dumps({"command": "tag", "store": args.store,
                          "name": args.name, "snapshot": n}))
    elif args.command == "drop-tag":
        if not args.name:
            ap.error("drop-tag needs --name")
        store.drop_tag(args.name)
        print(json.dumps({"command": "drop-tag", "store": args.store,
                          "name": args.name}))
    elif args.command == "delta":
        if args.since is None:
            ap.error("delta needs --since <snapshot>")
        n = store.added_quads(spark(), args.since, args.until).count()
        print(json.dumps({"command": "delta", "store": args.store,
                          "since": args.since, "until": args.until,
                          "quads_added": n}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
