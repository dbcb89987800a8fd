"""The traced run: per-layer metrics of one workload.

1. Driver-side kernel throughput on the workload's documents.
2. One ``run_pipeline`` call under the job group ``pipeline``, the
   session's first, as in the end-to-end run (its wall is the traced
   pipeline wall; its stage metrics come from the event log).
3. The stepwise run: ``run_pipeline``'s group loop re-done by calling each
   layer's public function in turn.  Each layer's input is materialized
   (``localCheckpoint``) before its span starts and its output inside it, so
   a span times that layer's own work; counts are taken after the span.
4. The Arrow-boundary probe: a pass-through ``mapInArrow`` over the
   extraction input.

The stepwise store must equal the pipeline's store quad for quad, and the
extraction counts must equal a driver-side parse of the same documents.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import eventlog
import gen
from harness import (REPO, Bench, emit, kernel_parsers, log, peak_rss_mb, python_worker_cpu_s,
                     stop_spark)
from spans import Tracer

LAYERS = ("sources", "assemble", "extract", "linking", "canonicalize",
          "materialize.merge", "materialize.lineage")
MB = 1 << 20
KERNEL_FORMATS = ("nt", "nq", "ttl", "trig")
KERNEL_MIN_S = 0.3


def kernel_bytes_per_s(bench: Bench) -> dict[str, float]:
    """Single-thread driver-side parse rate per format, on the workload's
    documents of that format (on the in-repo documents of that format when
    the workload has none)."""
    parsers = kernel_parsers()
    corpus, _ = gen.load_w3c(REPO)
    out = {}
    for fmt in KERNEL_FORMATS:
        docs = [(t, b) for _, f, t, b in bench.docs if f == fmt]
        if not docs:
            docs = [(d.body, d.base_iri) for d in corpus if d.format == fmt]
        size = sum(len(t.encode()) for t, _ in docs)
        parse = parsers[fmt]
        done, t0 = 0, time.perf_counter()
        while True:
            for text, base in docs:
                parse(text, base)
            done += size
            elapsed = time.perf_counter() - t0
            if elapsed >= KERNEL_MIN_S:
                break
        out[fmt] = done / elapsed
    return out


def boundary_probe(docs):
    """A pass-through ``mapInArrow`` with extract_triples' repartition and
    output schema: one row per document, no parsing."""
    import pyarrow as pa

    from rio_spark.operators.extract import EXTRACT_SCHEMA

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(batch.schema.names.index("conv_id"))
            n = len(ids)
            nulls = pa.nulls(n, pa.string())
            ints = pa.nulls(n, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [ids.cast(pa.string()), nulls, nulls, nulls, nulls, nulls, ints, ints, nulls],
                names=["doc_id", "subject", "predicate", "object", "graph",
                       "error_kind", "error_line", "error_byte", "error_msg"],
            )

    parallelism = docs.sparkSession.sparkContext.defaultParallelism * 4
    return docs.repartition(parallelism).mapInArrow(fn, schema=EXTRACT_SCHEMA)


def stepwise(bench: Bench, tr: Tracer, store, snapshot_id: str) -> dict:
    """run_pipeline's loop, one layer at a time; returns the counters."""
    from pyspark.sql import functions as F

    from rio_spark.operators.assemble import assemble_documents_salted
    from rio_spark.operators.canonicalize import canonical_mapping, rewrite_triples, sameas_edges
    from rio_spark.operators.extract import dedup_triples, errors_of, extract_triples, triples_of
    from rio_spark.operators.linking import detect_mentions, link_broadcast, link_entities, resolve_candidates

    spark = bench.spark
    n_groups = bench.cfg["n_groups"]
    c = dict.fromkeys(
        ("turns", "docs", "max_doc_turns", "triples", "error_rows", "candidates",
         "linked", "sameas_edges", "aliases", "quads_in", "quads_added", "files_added",
         "python_cpu_s"), 0)

    def ckpt(df):
        return df.localCheckpoint(eager=True)

    def prep(fn):
        # materializing a layer's input and taking counts: outside the layer
        with tr.span("prep", "prep"):
            return fn()

    def n_files():
        cur = store.current_snapshot()
        return next((s["n_files"] for s in store.snapshots() if s["snapshot"] == cur), 0)

    for g in range(n_groups):
        with tr.span("sources", "sources"):
            part = ckpt(bench.transcripts.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)) == g))
        c["turns"] += prep(part.count)

        with tr.span("assemble", "assemble"):
            docs = ckpt(assemble_documents_salted(part).join(
                F.broadcast(bench.docs_meta), "conv_id", "left"))
        row = prep(lambda: docs.agg(F.count("*").alias("n"), F.max("n_turns").alias("m")).first())
        c["docs"] += row["n"]
        c["max_doc_turns"] = max(c["max_doc_turns"], row["m"] or 0)
        rdf_docs = prep(lambda: ckpt(docs.filter(F.col("format").isNotNull())))
        free_docs = prep(lambda: ckpt(docs.filter(F.col("format").isNull())))

        cpu0 = python_worker_cpu_s()
        with tr.span("extract", "extract"):
            extracted = ckpt(extract_triples(rdf_docs))
        c["python_cpu_s"] += python_worker_cpu_s() - cpu0
        triples = prep(lambda: ckpt(triples_of(extracted)))
        c["triples"] += prep(triples.count)
        c["error_rows"] += prep(errors_of(extracted).count)

        with tr.span("linking", "linking"):
            linked = ckpt(link_entities(free_docs, bench.dictionary))
        mentions = detect_mentions(free_docs)
        c["candidates"] += prep(mentions.count)
        c["linked"] += prep(resolve_candidates(link_broadcast(mentions, bench.dictionary)).count)
        union = prep(lambda: ckpt(triples.unionByName(linked)))

        # canonicalize(t) is rewrite_triples(t, canonical_mapping(t)); the two
        # halves are called apart so the alias count needs no second CC run
        with tr.span("canonicalize", "canonicalize"):
            mapping = ckpt(canonical_mapping(union))
            quads = ckpt(dedup_triples(rewrite_triples(union, mapping)))
        c["sameas_edges"] += prep(sameas_edges(union).count)
        c["aliases"] += prep(mapping.count)
        c["quads_in"] += prep(quads.count)

        files_before = n_files()
        with tr.span("materialize.merge", "materialize.merge"):
            n_new = store.merge(spark, quads)
        c["quads_added"] += n_new
        c["files_added"] += n_files() - files_before
        with tr.span("materialize.lineage", "materialize.lineage"):
            store.commit_lineage(spark, snapshot_id, f"g{g:04d}", n_new)
    c["live_files"] = n_files()
    return c


def run_traced(bench: Bench, seconds: float) -> dict:
    """Per-layer metrics; ``seconds`` is unused, the traced run does a fixed
    amount of work."""
    from pyspark.sql import functions as F

    from rio_spark.operators.assemble import assemble_documents_salted

    # no warm-up: the traced call is the session's first, like the call
    # pipeline_s times, so the trace decomposes that same cold call
    setup_s = bench.setup(warm_up=False)
    spark, sc = bench.spark, bench.spark.sparkContext
    kernels = kernel_bytes_per_s(bench)

    tr = Tracer(f"{bench.name}-{bench.seed}", sc)
    store = bench.fresh_store()
    with tr.span("pipeline", "pipeline"):
        report = bench.pipeline(store)
    traced_wall = tr.total_self("pipeline")
    pipe_digest = bench.check_store("traced call", store, report.triples_merged, report.error_rows)

    step_store = bench.fresh_store("stepwise_store")
    with tr.span("stepwise"):
        counts = stepwise(bench, tr, step_store, "bench")
    step_digest = bench.digest(step_store)
    problems = []
    if step_digest != pipe_digest:
        problems.append(f"stepwise digest {step_digest} != pipeline digest {pipe_digest}")
    if (counts["triples"], counts["error_rows"]) != (bench.expect.triples, bench.expect.errors):
        problems.append(
            f"extract gave {counts['triples']} triples / {counts['error_rows']} error rows, "
            f"driver-side parse {bench.expect.triples} / {bench.expect.errors}")
    t = time.perf_counter()
    rerun = bench.pipeline(step_store)
    resume_s = time.perf_counter() - t
    if rerun.groups_skipped != bench.cfg["n_groups"] or rerun.triples_merged != 0:
        problems.append(f"resume skipped {rerun.groups_skipped} groups, merged {rerun.triples_merged}")
    bench.fail_if("stepwise", problems)

    with tr.span("prep", "prep"):
        rdf_docs = assemble_documents_salted(bench.transcripts).join(
            F.broadcast(bench.docs_meta), "conv_id", "left"
        ).filter(F.col("format").isNotNull()).localCheckpoint(eager=True)
    with tr.span("extract.boundary", "extract.boundary"):
        boundary_probe(rdf_docs).localCheckpoint(eager=True)
    boundary_s = tr.total_self("extract.boundary")

    rss = peak_rss_mb()
    stop_spark(spark)
    bench.spark = None
    groups = eventlog.rollup(bench.work / "eventlog")

    def group(name: str) -> eventlog.GroupMetrics:
        return groups.get(name, eventlog.GroupMetrics())

    pipe = group("pipeline")

    layer_s = {name: tr.total_self(name) for name in LAYERS}
    layers_sum = sum(layer_s.values())
    m = {
        **{f"kernels.{f}.bytes_per_s": (v, "B/s") for f, v in kernels.items()},
        "sources.read_s": (layer_s["sources"], "s"),
        "sources.turns": (counts["turns"], "count"),
        "assemble.s": (layer_s["assemble"], "s"),
        "assemble.docs": (counts["docs"], "count"),
        "assemble.max_doc_turns": (counts["max_doc_turns"], "count"),
        "assemble.shuffle_write_mb": (group("assemble").shuffle_write_bytes / MB, "MB"),
        "extract.s": (layer_s["extract"], "s"),
        "extract.cpu_s": (group("extract").executor_cpu_s + counts["python_cpu_s"], "s"),
        "extract.triples": (counts["triples"], "count"),
        "extract.error_rows": (counts["error_rows"], "count"),
        "extract.boundary_s": (boundary_s, "s"),
        # the kernels' share of the traced call: parse time per extraction
        # pass (extract.s minus the pass-through boundary), times the number
        # of passes the call makes (its MapInArrow stages)
        "extract.parse_share": (
            pipe.kernel_stages * (layer_s["extract"] - boundary_s) / traced_wall, "ratio"),
        "linking.s": (layer_s["linking"], "s"),
        "linking.candidates": (counts["candidates"], "count"),
        "linking.linked": (counts["linked"], "count"),
        "linking.hit_ratio": (counts["linked"] / counts["candidates"] if counts["candidates"] else 0.0, "ratio"),
        "linking.shuffle_write_mb": (group("linking").shuffle_write_bytes / MB, "MB"),
        "canonicalize.s": (layer_s["canonicalize"], "s"),
        "canonicalize.sameas_edges": (counts["sameas_edges"], "count"),
        "canonicalize.aliases": (counts["aliases"], "count"),
        "canonicalize.jobs": (group("canonicalize").jobs, "count"),
        "materialize.merge_s": (layer_s["materialize.merge"], "s"),
        "materialize.quads_in": (counts["quads_in"], "count"),
        "materialize.quads_added": (counts["quads_added"], "count"),
        "materialize.added_ratio": (counts["quads_added"] / counts["quads_in"] if counts["quads_in"] else 0.0, "ratio"),
        "materialize.files_added": (counts["files_added"], "count"),
        "materialize.live_files": (counts["live_files"], "count"),
        "materialize.lineage_commit_s": (layer_s["materialize.lineage"], "s"),
        "materialize.resume_s": (resume_s, "s"),
        "pipeline.jobs": (pipe.jobs, "count"),
        "pipeline.stages": (pipe.stages, "count"),
        "pipeline.kernel_stages": (pipe.kernel_stages, "count"),
        "pipeline.shuffle_write_mb": (pipe.shuffle_write_bytes / MB, "MB"),
        "pipeline.spill_mb": ((pipe.memory_spill_bytes + pipe.disk_spill_bytes) / MB, "MB"),
        "pipeline.executor_cpu_s": (pipe.executor_cpu_s, "s"),
        "pipeline.executor_run_s": (pipe.executor_run_s, "s"),
        "pipeline.gc_s": (pipe.gc_s, "s"),
        "trace.layers_sum_s": (layers_sum, "s"),
        "trace.unattributed_s": (traced_wall - layers_sum, "s"),
    }
    emit({"kgbench": "trace", "workload": bench.name, "setup_s": setup_s,
          "traced_pipeline_s": traced_wall,
          "layer_self_s": layer_s, "peak_rss_mb": rss, "spans": tr.as_dicts()})
    log(f"traced wall {traced_wall:.2f}s = layers {layers_sum:.2f}s + unattributed "
        f"{traced_wall - layers_sum:.2f}s")
    return m
