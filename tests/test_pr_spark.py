"""Distributed P/R gate: the whole synthetic conformance corpus through the
Spark pipeline vs the golden sets, computed with anti-joins (BASELINE.md:
P >= 0.95 and R >= 0.95)."""

import pandas as pd

from pyspark.sql import functions as F

from rio_spark.kernels import parse_nquads, parse_ntriples
from rio_spark.model import serialize_triples
from rio_spark.operators.assemble import assemble_documents
from rio_spark.operators.extract import extract_triples, triples_of
from rio_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    conformance_meta,
    synthetic_transcripts_pdf,
)
from rio_spark.testing.corpus import load_corpus
from rio_spark.testing.pr_spark import precision_recall

# every 10th conversation embeds the next positive document, so 300 embeds
# each of the corpus's 27 eval documents (built-in + w3c_style) at least once
N_CONVS = 300


def test_distributed_pr_gate(spark):
    corpus = load_corpus()
    pdf, _ = synthetic_transcripts_pdf(N_CONVS, corpus)
    transcripts = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    meta = conformance_meta(N_CONVS, corpus)
    meta_df = spark.createDataFrame(
        meta[["conv_id", "format", "base_iri", "doc_name"]].where(meta.notna(), None)
    )
    docs = assemble_documents(transcripts).join(F.broadcast(meta_df), "conv_id")
    emitted = triples_of(extract_triples(docs.filter(F.col("format").isNotNull())))

    # golden: per conformance conv, the golden triples of its embedded doc
    goldens = {d.name: d for d in corpus if d.kind == "eval"}
    rows = []
    for _, r in meta[meta.kind == "conformance"].iterrows():
        doc = goldens.get(r["doc_name"])
        if doc is None:
            continue
        gparse = parse_nquads if doc.format in ("nq", "trig") else parse_ntriples
        gt, gerrs = gparse(doc.golden)
        assert not gerrs
        for row in serialize_triples(gt):
            g = row[3] if len(row) == 4 else None
            rows.append((r["conv_id"], row[0], row[1], row[2], g))
    golden_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "subject", "predicate", "object", "graph"])
    )
    # restrict emitted to docs that have goldens (positive-syntax-only docs
    # have no expected set)
    emitted = emitted.join(
        golden_df.select("doc_id").distinct(), "doc_id", "left_semi"
    )

    pr = precision_recall(emitted, golden_df)
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr
    assert pr["tp"] > 100
