"""End-to-end knowledge-graph construction pipeline (north rule).

transcripts (Iceberg/parquet) -> salted document assembly -> vectorized
triple extraction (RDF-carrying conversations) + entity linking (free-text
conversations) -> owl:sameAs canonicalization -> MERGE into the bucketed
graph store with per-partition lineage (resume-from-checkpoint).

The unit of commit/resume is an input partition group
(``pmod(xxhash64(conv_id), n_groups)``): conversations never straddle groups,
so a group is independently correct; a rerun skips groups already in lineage
(anti-join against the lineage table) and re-merging a half-committed group
is idempotent because MERGE dedups on the quad key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from rio_spark.operators.assemble import assemble_documents_salted
from rio_spark.operators.canonicalize import canonicalize
from rio_spark.operators.extract import dedup_triples, errors_of, extract_triples, triples_of
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


def transform_transcripts(
    transcripts: DataFrame,
    docs_meta: DataFrame | None = None,
    dictionary: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """The pipeline's transform chain on one self-contained transcript set
    (a partition group in batch mode, a micro-batch in streaming mode):
    salted assembly -> extraction + entity linking -> canonicalize ->
    quad dedup. Returns (triples, error_row_count)."""
    docs = assemble_documents_salted(transcripts)
    if docs_meta is not None:
        docs = docs.join(F.broadcast(docs_meta), "conv_id", "left")
    else:
        docs = docs.withColumn("format", F.lit(None).cast("string")).withColumn(
            "base_iri", F.lit(None).cast("string")
        )
    rdf_docs = docs.filter(F.col("format").isNotNull())
    free_docs = docs.filter(F.col("format").isNull())

    extracted = extract_triples(rdf_docs)
    parts = [triples_of(extracted)]
    if dictionary is not None:
        parts.append(link_entities(free_docs, dictionary))
    triples = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return dedup_triples(canonicalize(triples)), errors_of(extracted).count()


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
        triples, n_err = transform_transcripts(part, docs_meta, dictionary)
        n_new = store.merge(spark, triples)
        store.commit_lineage(spark, snapshot_id, ph, n_new)
        report.groups_committed += 1
        report.triples_merged += n_new
        report.error_rows += n_err
        report.per_group.append({"partition_hash": ph, "merged": n_new, "errors": n_err})
        done_this_run += 1
    return report
