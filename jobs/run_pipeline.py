#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north rule):

    spark-submit --py-files rio_spark.zip jobs/run_pipeline.py \
        --transcripts <path/to/transcripts parquet or Iceberg table> \
        --store /data/kg_store --snapshot-id snap-2024-06-01 \
        --n-groups 512

Local smoke:

    python jobs/run_pipeline.py --synthetic-convs 500 --store /tmp/kg_store

The job is resumable: rerunning with the same --snapshot-id skips partitions
already committed to the lineage table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/run_pipeline.py` puts jobs/ (not the repo root) on sys.path;
# on a cluster --py-files handles this instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="parquet path of the transcripts table")
    ap.add_argument("--synthetic-convs", type=int, default=0,
                    help="generate N synthetic conversations instead of reading --transcripts")
    ap.add_argument("--store", required=True, help="graph store root directory")
    ap.add_argument("--snapshot-id", default="snap-local")
    ap.add_argument("--n-groups", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from rio_spark.session import get_spark
    from rio_spark.operators.materialize import GraphStore
    from rio_spark.pipeline import run_pipeline
    from rio_spark.sources.entity_dictionary import entity_dictionary
    from rio_spark.sources.transcripts import synthetic_transcripts

    spark = get_spark(app_name="rio_spark_pipeline", cores=args.cores)
    if args.synthetic_convs:
        transcripts = synthetic_transcripts(spark, args.synthetic_convs)
    elif args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    else:
        ap.error("need --transcripts or --synthetic-convs")

    store = GraphStore(args.store, n_buckets=args.n_buckets)
    report = run_pipeline(
        spark,
        transcripts,
        store,
        args.snapshot_id,
        dictionary=entity_dictionary(spark),
        n_groups=args.n_groups,
    )
    print(json.dumps(report.__dict__, default=str))


if __name__ == "__main__":
    main()
