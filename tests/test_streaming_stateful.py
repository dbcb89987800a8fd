"""Stateful streaming dedup: duplicates dropped ACROSS micro-batches."""

import pandas as pd


def test_streaming_dedup_across_batches(spark, tmp_path):
    from rio_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    # two files -> maxFilesPerTrigger=1 makes them separate micro-batches
    b1 = pd.DataFrame(
        [("a", "hello world"), ("b", "unique one"), ("a2", "hello world")],
        columns=["doc_id", "text"],
    )
    b2 = pd.DataFrame(
        [("c", "hello world"), ("d", "brand new"), ("e", "unique one")],
        columns=["doc_id", "text"],
    )
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM dedup_out").toPandas()
    finally:
        q.stop()

    # one row per distinct text, first-seen wins within arrival order
    assert sorted(out.text) == ["brand new", "hello world", "unique one"]
    assert len(out) == 3

def test_streaming_dedup_bounded_state_evicts_oldest(spark, tmp_path):
    """With a state cap, the oldest hash is evicted deterministically and a
    late duplicate of it is re-admitted (sliding-window dedup semantics)."""
    from rio_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame(
        [("a", "t1"), ("b", "t2"), ("c", "t3")], columns=["doc_id", "text"]
    )
    # t1's hash should have been evicted (cap=2) -> re-admitted; t3 is still
    # in state -> dropped
    b2 = pd.DataFrame([("d", "t1"), ("e", "t3")], columns=["doc_id", "text"])
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        streaming_dedup(stream, n_buckets=1, max_state_per_bucket=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_bounded")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM dedup_bounded").toPandas()
    finally:
        q.stop()

    assert sorted(out.doc_id) == ["a", "b", "c", "d"]  # d = re-admitted t1


def test_stream_merge_to_store_idempotent_across_restart(spark, tmp_path):
    """Streaming KG materialize (streaming/materialize.py): two micro-batches
    of documents stream through the extraction kernel into GraphStore.merge
    — one snapshot + one lineage row per batch — and RERUNNING the whole
    replay (fresh checkpoint, same data: the worst-case full redelivery)
    adds zero quads: the MERGE anti-join makes the sink idempotent, and the
    duplicate delivery is visible in lineage as merged=0 rows."""
    import os

    from pyspark.sql import functions as F

    from rio_spark.operators.extract import extract_triples, triples_of
    from rio_spark.operators.materialize import GraphStore
    from rio_spark.streaming.materialize import stream_merge_to_store

    src = tmp_path / "src"
    src.mkdir()
    for i, docs in enumerate([[("c0", "<http://e/a> <http://p/x> <http://e/b> .")],
                              [("c1", "<http://e/b> <http://p/x> <http://e/c> .\n"
                                      "<http://e/a> <http://p/x> <http://e/b> .")]]):
        d = str(src / f"f{i}")
        spark.createDataFrame(docs, "conv_id string, text string").coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + i, 1_000_000 + i))

    def replay(ckpt):
        stream = (
            spark.readStream.schema("conv_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        ext = triples_of(extract_triples(stream, fmt="nt", parallelism=0))
        q = stream_merge_to_store(
            ext.select("subject", "predicate", "object",
                       F.lit(None).cast("string").alias("graph")),
            store, "stream-snap", str(tmp_path / ckpt),
        )
        q.awaitTermination()

    store = GraphStore(str(tmp_path / "store"), n_buckets=4)
    replay("ckpt1")
    quads = sorted(map(tuple, store.graph(spark).select("subject", "object").collect()))
    assert quads == [("<http://e/a>", "<http://e/b>"), ("<http://e/b>", "<http://e/c>")]
    lin1 = store.lineage(spark).toPandas()
    assert sorted(lin1.partition_hash) == ["batch-0", "batch-1"]
    assert int(lin1.triple_count.sum()) == 2  # the cross-batch dup merged once

    # full redelivery: fresh checkpoint, same files -> zero new quads,
    # lineage shows the replayed batches with merged=0
    replay("ckpt2")
    assert store.graph(spark).count() == 2
    lin2 = store.lineage(spark).toPandas()
    assert len(lin2) == 4
    assert int(lin2.triple_count.sum()) == 2
