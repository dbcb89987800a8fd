"""End-to-end knowledge-graph construction pipeline (north rule).

transcripts (Iceberg/parquet) -> salted document assembly -> vectorized
triple extraction (RDF-carrying conversations) + entity linking (free-text
conversations) -> owl:sameAs canonicalization -> MERGE into the bucketed
graph store with per-partition lineage (resume-from-checkpoint).

The unit of commit/resume is an input partition group
(``pmod(xxhash64(conv_id), n_groups)``): conversations never straddle groups,
so extraction, linking and MERGE of a group do not depend on any other
group; a rerun skips groups already in lineage (anti-join against the
lineage table) and re-merging a half-committed group is idempotent because
MERGE dedups on the quad key.

Known limitation: owl:sameAs canonicalization is per group, not per store.
Each group's union-find sees only that group's sameAs edges, so a component
whose edges span conversations in different groups (or different runs or
micro-batches) is split: with A = ``<a> owl:sameAs <b> . <b> <x> "1" .`` and
B = ``<c> owl:sameAs <b> . <c> <y> "2" .`` in different groups, the store
holds ``<a> <x> "1"`` and ``<b> <y> "2"`` instead of ``<a> <y> "2"``, and
the rewrite drops the edges as self-loops, so no later group reconciles
them. The store therefore depends on ``n_groups``; one store-wide alias
mapping is ROADMAP direction 2.

Each group runs the kernel stage exactly once: :func:`run_group` persists
extraction ∪ linking as one frame and runs no action of its own. The first
reader (canonicalization's collect of the sameAs edges) fills the frame and
fires the observation that counts its error rows; every later reader (the
rewrite, MERGE's bounds and anti-join) scans the filled frame, which is
unpersisted before the step returns. Assembly runs once too: both branches
read the same projected documents, so their assembly exchanges are
identical and AQE reuses one (for a scanned input; over a cached DataFrame
AQE plans a table-cache stage per branch and reuses nothing above them).
MERGE persists its batch once, clustered by bucket with one shuffle, counts
the added rows with an observation on the append, and does not re-list the
store; the alias mapping and lineage row are local Arrow frames, which need
no Spark job of their own.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from rio_spark.operators.assemble import assemble_documents_salted
from rio_spark.operators.canonicalize import canonical_mapping, rewrite_triples
from rio_spark.operators.extract import extract_triples, triples_of
from rio_spark.operators.linking import link_entities
from rio_spark.operators.materialize import GraphStore


@dataclass
class PipelineReport:
    snapshot_id: str
    groups_total: int = 0
    groups_skipped: int = 0
    groups_committed: int = 0
    triples_merged: int = 0
    error_rows: int = 0
    per_group: list = field(default_factory=list)


def run_group(
    spark: SparkSession,
    transcripts: DataFrame,
    store: GraphStore,
    snapshot_id: str,
    partition_hash: str,
    docs_meta: DataFrame | None = None,
    dictionary: DataFrame | None = None,
) -> tuple[int, int]:
    """One self-contained transcript set (a partition group in batch mode, a
    micro-batch in streaming mode) through the whole chain: salted assembly
    -> extraction + entity linking -> canonicalize -> MERGE -> lineage row.
    Returns (quads merged, error rows). Turns without a ``conv_id`` belong
    to no document and are dropped. The step runs no count of its own: the
    first reader of the persisted rows fills them (see below)."""
    docs = assemble_documents_salted(transcripts.filter(F.col("conv_id").isNotNull()))
    if docs_meta is not None:
        docs = docs.join(F.broadcast(docs_meta), "conv_id", "left")
    else:
        docs = docs.withColumn("format", F.lit(None).cast("string")).withColumn(
            "base_iri", F.lit(None).cast("string")
        )
    # one projection (and the conv_id filter above) for both branches: the
    # extraction branch's inner join would otherwise infer isnotnull(conv_id)
    # down to the scan and its mapInArrow would keep n_turns, so the two
    # assembly exchanges would differ and assembly would run twice
    docs = docs.select("conv_id", "text", "format", "base_iri")
    rows = extract_triples(docs.filter(F.col("format").isNotNull()))
    if dictionary is not None:
        # linked rows carry null error columns, so they read as good triples
        linked = link_entities(docs.filter(F.col("format").isNull()), dictionary)
        rows = rows.unionByName(linked, allowMissingColumns=True)
    errors = Observation("group_errors")
    rows = rows.observe(errors, F.count("error_kind").alias("n")).persist()
    try:
        # the first reader: its collect fills the cache and fires the
        # observation; in Spark 4.1 a first reader that shuffles the cached
        # rows completes the observation empty and errors.get then raises
        mapping = canonical_mapping(triples_of(rows))
        n_new = store.merge(spark, rewrite_triples(triples_of(rows), mapping))
        store.commit_lineage(spark, snapshot_id, partition_hash, n_new)
        return n_new, errors.get["n"]
    finally:
        rows.unpersist()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    store: GraphStore,
    snapshot_id: str,
    docs_meta: DataFrame | None = None,
    dictionary: DataFrame | None = None,
    n_groups: int = 8,
    stop_after_groups: int | None = None,
) -> PipelineReport:
    """``stop_after_groups`` simulates a mid-job kill for the resume tests."""
    report = PipelineReport(snapshot_id=snapshot_id, groups_total=n_groups)
    committed = store.committed_partitions(spark, snapshot_id)
    done_this_run = 0
    for g in range(n_groups):
        ph = f"g{g:04d}"
        if ph in committed:
            report.groups_skipped += 1
            continue
        if stop_after_groups is not None and done_this_run >= stop_after_groups:
            break
        part = transcripts.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(n_groups)) == g
        )
        n_new, n_err = run_group(spark, part, store, snapshot_id, ph, docs_meta, dictionary)
        report.groups_committed += 1
        report.triples_merged += n_new
        report.error_rows += n_err
        report.per_group.append({"partition_hash": ph, "merged": n_new, "errors": n_err})
        done_this_run += 1
    return report
