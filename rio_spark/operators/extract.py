"""Vectorized triple extraction: assembled documents -> triples + error rows.

The Spark re-expression of the reference's streaming callback parsers
(SURVEY.md §3.1): one ``mapInArrow`` over Arrow batches of documents; each
batch row is a whole conversation document, parsed by the pure-Python grammar
kernels; the UDF *flat-maps* one document row into N triple rows plus M error
rows (errors are rows, never job failures — SURVEY.md §2.5 F1/F2). No
per-row Python UDFs anywhere; Python cost is amortized over Arrow batches and
the downstream pipeline is 100% JVM column ops over canonical strings.

``mapInArrow`` (not ``mapInPandas``) is deliberate: output RecordBatches are
built straight from the kernel's string lists and FLUSHED IN BOUNDED CHUNKS,
so a task never materializes a multi-million-row pandas frame (one
10k-statement document times hundreds of documents per task did exactly that,
and 32 tasks allocating hundreds of MB simultaneously saturated the shared
allocator/memory bus — the measured 8->32 scaling cliff in BENCH/BASELINE.md).

Blank nodes are relabelled deterministically per document:
``_:{doc}_b{k}`` in first-occurrence order (G22 — blank-node scope is one
conversation document).
"""

from __future__ import annotations

import re
from array import array
from collections.abc import Iterator
from functools import partial

import pyarrow as pa
from pyarrow.lib import StringBuilder

from pyspark.sql import DataFrame, functions as F

from rio_spark.kernels import (
    parse_generalized_nquads,
    parse_gtrig,
    parse_nquads,
    parse_ntriples,
    parse_rdfxml,
    parse_trig,
    parse_turtle,
)
from rio_spark.model import serialize_term, serialize_triples

EXTRACT_SCHEMA = (
    "doc_id string, subject string, predicate string, object string, graph string, "
    "error_kind string, error_line int, error_byte int, error_msg string"
)

_PARSERS = {
    "nt": lambda text, base: parse_ntriples(text),
    "nq": lambda text, base: parse_nquads(text),
    "ttl": parse_turtle,
    "trig": parse_trig,
    "rdf": parse_rdfxml,
    "xml": parse_rdfxml,
    "gnq": lambda text, base: parse_generalized_nquads(text),
    "gtrig": parse_gtrig,
}

_SCOPE_SANITIZE = re.compile(r"[^A-Za-z0-9]")


def parse_document(doc_id: str, fmt: str, text: str, base_iri: str | None):
    """Parse one document -> (triple rows, error rows) with canonical strings
    and doc-scoped deterministic blank-node ids. Pure function (unit-testable
    without Spark)."""
    parser = _PARSERS.get(fmt)
    if parser is None:
        return [], [(doc_id, "UnsupportedFormat", 0, 0, f"unknown format {fmt!r}")]
    triples, errors = parser(text, base_iri)
    scope = _SCOPE_SANITIZE.sub("_", doc_id) + "_"
    rows = []
    for row in serialize_triples(triples, scope=scope):
        s, p, o = row[0], row[1], row[2]
        g = row[3] if len(row) == 4 else None
        rows.append((doc_id, s, p, o, g))
    err_rows = [
        (doc_id, e["kind"], int(e["line"]), int(e["byte"]), e["msg"]) for e in errors
    ]
    return rows, err_rows


_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("subject", pa.string()),
        ("predicate", pa.string()),
        ("object", pa.string()),
        ("graph", pa.string()),
        ("error_kind", pa.string()),
        ("error_line", pa.int32()),
        ("error_byte", pa.int32()),
        ("error_msg", pa.string()),
    ]
)
# flush threshold: bounds a task's live output to ~chunk rows of small
# strings (a few MB) no matter how many 10k-statement documents it holds
_CHUNK = 1 << 16


def _strings(values: list) -> pa.Array:
    # pyarrow.lib's builder, not pa.array, which imports pandas on first use
    builder = StringBuilder()
    builder.append_values(values)
    return builder.finish()


def _int32s(values: array) -> pa.Array:
    return pa.Array.from_buffers(pa.int32(), len(values), [None, pa.py_buffer(values.tobytes())])


def extract_batches(
    batches: Iterator[pa.RecordBatch],
    fmt: str | None,
    id_col: str,
    text_col: str,
    format_col: str | None,
    base_col: str | None,
) -> Iterator[pa.RecordBatch]:
    """The ``mapInArrow`` kernel of :func:`extract_triples`: document
    batches in, EXTRACT_SCHEMA batches out. Each flush emits its triple rows
    as one batch, then its error rows as another; the columns a batch does
    not carry are ``pa.nulls``. ``format_col``/``base_col`` are None when
    the frame has no such column."""
    # columnar construction: no per-row tuples, one list append per cell
    c_doc: list = []; c_s: list = []; c_p: list = []; c_o: list = []; c_g: list = []
    e_doc: list = []; e_kind: list = []; e_msg: list = []
    e_line = array("i"); e_byte = array("i")

    def flush() -> Iterator[pa.RecordBatch]:
        n_t, n_e = len(c_doc), len(e_doc)
        if n_t:
            yield pa.RecordBatch.from_arrays(
                [_strings(c) for c in (c_doc, c_s, c_p, c_o, c_g)]
                + [pa.nulls(n_t, t) for t in (pa.string(), pa.int32(), pa.int32(), pa.string())],
                schema=_ARROW_SCHEMA,
            )
        if n_e:
            yield pa.RecordBatch.from_arrays(
                [_strings(e_doc)]
                + [pa.nulls(n_e, pa.string())] * 4
                + [_strings(e_kind), _int32s(e_line), _int32s(e_byte), _strings(e_msg)],
                schema=_ARROW_SCHEMA,
            )
        for lst in (c_doc, c_s, c_p, c_o, c_g, e_doc, e_kind, e_msg):
            lst.clear()
        del e_line[:], e_byte[:]

    for batch in batches:
        names = batch.schema.names
        ids = batch.column(names.index(id_col)).to_pylist()
        texts = batch.column(names.index(text_col)).to_pylist()
        fmts = batch.column(names.index(format_col)).to_pylist() if format_col else None
        bases = batch.column(names.index(base_col)).to_pylist() if base_col else None
        for k in range(len(ids)):
            doc_fmt = fmts[k] if fmts is not None else fmt
            base = bases[k] if bases is not None else None
            if base is not None and not isinstance(base, str):
                base = None
            did = ids[k]
            did = did if isinstance(did, str) else str(did)
            parser = _PARSERS.get(doc_fmt)
            if parser is None:
                e_doc.append(did); e_kind.append("UnsupportedFormat")
                e_line.append(0); e_byte.append(0)
                e_msg.append(f"unknown format {doc_fmt!r}")
                continue
            triples, errors = parser(texts[k], base)
            scope = _SCOPE_SANITIZE.sub("_", did) + "_"
            labels: dict = {}
            # doc_id repeats per triple: ONE C-level list-repeat extend
            # instead of a per-row append (the emit loop runs once per
            # triple of the corpus — bound methods below for the same
            # reason; micro-measured ~25% off the loop's share)
            c_doc.extend([did] * len(triples))
            ap_s = c_s.append; ap_p = c_p.append
            ap_o = c_o.append; ap_g = c_g.append
            for row in triples:
                # plain canonical strings (the overwhelming majority of
                # terms) skip the serialize_term call entirely; only
                # BNode/QTriple terms need relabelling
                s, p, o = row[0], row[1], row[2]
                ap_s(s if type(s) is str else serialize_term(s, labels, scope))
                ap_p(p if type(p) is str else serialize_term(p, labels, scope))
                ap_o(o if type(o) is str else serialize_term(o, labels, scope))
                if len(row) == 4 and row[3] is not None:
                    g = row[3]
                    ap_g(g if type(g) is str else serialize_term(g, labels, scope))
                else:
                    ap_g(None)
            for e in errors:
                e_doc.append(did); e_kind.append(e["kind"])
                e_line.append(int(e["line"])); e_byte.append(int(e["byte"]))
                e_msg.append(e["msg"])
            if len(c_doc) + len(e_doc) >= _CHUNK:
                yield from flush()
    yield from flush()


def extract_triples(
    docs: DataFrame,
    fmt: str | None = None,
    id_col: str = "conv_id",
    text_col: str = "text",
    format_col: str = "format",
    base_col: str = "base_iri",
    parallelism: int | None = None,
) -> DataFrame:
    """Documents DF -> unified triples/errors DF (EXTRACT_SCHEMA).

    ``fmt`` fixes the format for the whole frame; otherwise it is read from
    ``format_col``. ``base_col`` is optional (null base = absolute IRIs only).
    Split the result with :func:`triples_of` / :func:`errors_of`.

    ``parallelism`` (default: defaultParallelism, one task per core)
    repartitions the doc stream before the kernel stage. This is
    load-bearing for scaling: AQE coalesces post-shuffle partitions by BYTE
    size, and assembled documents are tiny relative to their parse cost, so
    without an explicit repartition the whole Python-kernel stage can
    collapse onto one or two tasks and throughput stops scaling with cores
    (observed: flat 8->32-core scaling before this fix). More tasks than
    cores cost more than they even out: each ``mapInArrow`` task pays about
    0.25 s of core time before the kernel runs (the Python worker's
    ``importlib.invalidate_caches()`` re-reads the zip directories on its
    path; 4 cores measured 0.15-0.27 s per warm task, 0.36-0.40 s cold), so
    4× cores added about 0.75 s of wall per call at kgbench's size. On the
    same 4 cores, 4× took 2.0-2.9× the wall of 1× on the catalog queries
    that parse Turtle, TriG, N-Quads or RDF/XML at sf0.01 and sf0.1 (the
    N-Triples ones were within noise), and 2.1-2.6× on 400 documents among
    which 2 or 8 hold 10k statements or 4 hold 50k: a 50k-statement
    document parses in about 0.1 s, less than the extra task start-ups
    cost, so this skew does not pay for them.

    The kernel (:func:`extract_batches`) makes no ``pa.array`` call:
    pyarrow's ``pa.array`` imports pandas on its first call (its array-like
    check), which cost each Python worker about 30 MB of RSS and 0.2-0.45 s
    of its first flush (4 cores, kgbench's rdf_dense). Strings go through
    pyarrow's ``StringBuilder``, error positions through
    ``Array.from_buffers``, and the columns a batch does not carry are
    ``pa.nulls``.
    """
    if parallelism is None:
        parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if parallelism:
        docs = docs.repartition(parallelism)
    cols = set(docs.columns)
    kernel = partial(
        extract_batches,
        fmt=fmt,
        id_col=id_col,
        text_col=text_col,
        format_col=format_col if fmt is None and format_col in cols else None,
        base_col=base_col if base_col in cols else None,
    )
    return docs.mapInArrow(kernel, schema=EXTRACT_SCHEMA)


def triples_of(extracted: DataFrame) -> DataFrame:
    """Good rows only, error columns dropped."""
    return extracted.filter(F.col("error_kind").isNull()).select(
        "doc_id", "subject", "predicate", "object", "graph"
    )


def errors_of(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("error_kind").isNotNull()).select(
        "doc_id", "error_kind", "error_line", "error_byte", "error_msg"
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Dataset set semantics (a dataset is a deduplicated set of quads —
    SURVEY.md §1.1): global distinct over the quad key."""
    return triples.dropDuplicates(["subject", "predicate", "object", "graph"])
