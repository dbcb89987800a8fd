"""Streaming KG materialization: extracted triples stream -> GraphStore
MERGE, one snapshot + one lineage row per micro-batch.

The ingest-on-arrival form of the batch pipeline's materialize stage
(rio_spark/pipeline.py): ``foreachBatch`` hands each micro-batch to the
SAME GraphStore.merge used by the batch path, so dedup, bucket pruning,
manifest-snapshot commit, and lineage are one code path for both modes.

Exactly-once story (the standard Spark recipe): Structured Streaming's
checkpoint gives at-least-once delivery of each micro-batch to
``foreachBatch``; MERGE's quad-level anti-join makes redelivery a no-op
(idempotent sink), and the per-batch lineage row carries the batch id so a
replayed batch is observable (same partition_hash, merged=0). That is
end-to-end effective exactly-once without any engine transaction — the
same argument the batch pipeline's kill/resume test pins down, inherited
verbatim because the sink IS the batch sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rio_spark.operators.materialize import GraphStore
from rio_spark.pipeline import run_group


def stream_merge_to_store(
    triples: DataFrame,
    store: GraphStore,
    snapshot_id: str,
    checkpoint_dir: str,
):
    """Start (and return) a streaming query merging a triples stream
    (subject/predicate/object/graph columns) into ``store``.

    One GraphStore snapshot + one lineage row per micro-batch; the lineage
    partition_hash is ``batch-<id>`` so resume/replay is auditable with the
    same lineage queries the batch path uses."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        n = store.merge(spark, batch_df.select("subject", "predicate", "object", "graph"))
        store.commit_lineage(spark, snapshot_id, f"batch-{batch_id}", n)

    return (
        triples.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_pipeline(
    transcript_stream: DataFrame,
    store: GraphStore,
    snapshot_id: str,
    checkpoint_dir: str,
    docs_meta: DataFrame | None = None,
    dictionary: DataFrame | None = None,
):
    """The FULL KG pipeline as a streaming job: each micro-batch of
    transcript turns runs the batch pipeline's group step
    (rio_spark.pipeline.run_group — salted assembly, kernel extraction,
    entity linking, canonicalization, MERGE into the snapshot store) inside
    ``foreachBatch``, with a ``batch-<id>`` lineage row.

    Ingest contract: a micro-batch must hold COMPLETE conversations (file
    = landing-zone unit, the standard CDC contract) — assembly groups by
    conv_id within the batch, so a conversation split across batches would
    assemble per fragment. Resume: the stream's checkpoint skips processed
    files across restarts; a REPLAYED batch (checkpoint lost, worst case)
    re-merges idempotently and shows up as a merged=0 lineage row — the
    same effective-exactly-once argument as stream_merge_to_store.

    Starts (and returns) the streaming query."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _, n_err = run_group(
            spark, batch_df, store, snapshot_id, f"batch-{batch_id}", docs_meta, dictionary
        )
        if n_err:
            # error rows are part of the batch contract: surface the count
            # in lineage alongside the merge (negative-count convention
            # would be surprising; a separate hash keeps it queryable)
            store.commit_lineage(spark, snapshot_id, f"batch-{batch_id}-errors", n_err)

    return (
        transcript_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
