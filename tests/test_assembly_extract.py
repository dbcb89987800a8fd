"""End-to-end Spark tests: transcripts -> assembly -> extraction.

Covers FIXTURES.md invariants 1-3 and 5 on the synthetic corpus:
per-turn text equality under stable (conv_id, turn_idx) ordering, positive
docs -> zero error rows, negative docs -> error rows, eval docs -> isomorphic
to goldens through the FULL Spark path, and quad-set dedup semantics.
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from rio_spark.operators.assemble import assemble_documents, assemble_documents_salted
from rio_spark.operators.extract import (
    dedup_triples,
    errors_of,
    extract_triples,
    triples_of,
)
from rio_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    conformance_meta,
    synthetic_transcripts_pdf,
)
from rio_spark.testing.corpus import load_corpus
from rio_spark.testing.isomorphism import are_isomorphic
from rio_spark.kernels import parse_nquads, parse_ntriples
from rio_spark.model import serialize_triples

N_CONVS = 240
CORPUS = load_corpus()


@pytest.fixture(scope="module")
def transcripts(spark):
    pdf, _ = synthetic_transcripts_pdf(N_CONVS, CORPUS)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


@pytest.fixture(scope="module")
def meta():
    return conformance_meta(N_CONVS, CORPUS).set_index("conv_id")


def expected_doc_texts(n):
    pdf, _ = synthetic_transcripts_pdf(n, CORPUS, shuffle=False)
    return (
        pdf.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")["text"]
        .apply(lambda s: "\n".join(s))
    )


def test_assembly_restores_turn_order(spark, transcripts):
    """Invariant 1: per-turn text equality under stable ordering — the
    shuffled input reassembles to exactly the original document text."""
    docs = assemble_documents(transcripts).toPandas().set_index("conv_id")
    expected = expected_doc_texts(N_CONVS)
    assert len(docs) == len(expected)
    mismatches = [c for c in expected.index if docs.loc[c, "text"] != expected[c]]
    assert not mismatches, mismatches[:5]


def test_salted_assembly_equals_plain(spark, transcripts):
    plain = assemble_documents(transcripts).toPandas().set_index("conv_id")["text"]
    salted = (
        assemble_documents_salted(transcripts, chunk=16)
        .toPandas()
        .set_index("conv_id")["text"]
    )
    assert plain.sort_index().equals(salted.sort_index())


@pytest.fixture(scope="module")
def extracted(spark, transcripts, meta):
    docs = assemble_documents(transcripts)
    meta_pdf = meta.reset_index()[["conv_id", "format", "base_iri", "kind", "doc_name"]]
    meta_df = spark.createDataFrame(meta_pdf)
    docs = docs.join(F.broadcast(meta_df), "conv_id").filter(F.col("format").isNotNull())
    return extract_triples(docs).cache()


def test_positive_docs_have_no_errors(extracted, meta):
    err_docs = {r["doc_id"] for r in errors_of(extracted).select("doc_id").distinct().collect()}
    positives = set(meta[meta.kind == "conformance"].index)
    bad = err_docs & positives
    assert not bad, sorted(bad)[:5]


def test_negative_docs_error(extracted, meta):
    err_docs = {r["doc_id"] for r in errors_of(extracted).select("doc_id").distinct().collect()}
    negatives = set(meta[meta.kind == "corrupt"].index)
    assert negatives, "corpus produced no corrupt convs"
    missed = negatives - err_docs
    assert not missed, sorted(missed)[:5]


def test_eval_docs_isomorphic_through_spark(extracted, meta):
    """Invariant 3: triples produced via Spark assembly+extraction are
    isomorphic to the golden sets, per doc."""
    by_doc = {}
    for r in triples_of(extracted).collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["subject"], r["predicate"], r["object"], r["graph"])
        )
    goldens = {d.name: d for d in CORPUS if d.kind == "eval"}
    checked = 0
    for conv_id, row in meta[meta.kind == "conformance"].iterrows():
        doc = goldens.get(row["doc_name"])
        if doc is None:
            continue
        gparse = parse_nquads if doc.format in ("nq", "trig") else parse_ntriples
        gt, gerrs = gparse(doc.golden)
        assert not gerrs
        golden = serialize_triples(gt)
        emitted = by_doc.get(conv_id, [])
        assert are_isomorphic(emitted, golden), (
            f"{conv_id} ({row['doc_name']}): ours={sorted(emitted)[:4]} "
            f"gold={sorted(golden)[:4]}"
        )
        checked += 1
    assert checked >= 10


def test_dedup_quad_set_semantics(spark):
    pdf = pd.DataFrame(
        [("d", "<s>", "<p>", "<o>", None)] * 3 + [("d", "<s>", "<p>", "<o>", "<g>")],
        columns=["doc_id", "subject", "predicate", "object", "graph"],
    )
    df = spark.createDataFrame(pdf)
    assert dedup_triples(df).count() == 2


def test_extraction_plan_is_arrow_batched(extracted):
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    assert any(m in plan for m in ("MapInArrow", "PythonMapInArrow",
                                   "MapInPandas", "ArrowEvalPython")), plan


def test_kernel_stage_runs_one_task_per_core(spark, extracted):
    """Each mapInArrow task pays a fixed Python-worker start-up cost, so the
    kernel stage runs one task per core, not a multiple of it."""
    assert extracted.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
