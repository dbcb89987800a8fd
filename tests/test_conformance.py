"""Conformance sweep over the reference's own vendored corpora (serd-tests +
rio-tests) and the in-repo W3C-style suite, evaluated
Positive/Negative/Eval-style exactly like the reference harness (/root/reference/testsuite/src/parser_evaluator.rs:16-82):

* positive_syntax  -> parses with zero error rows
* negative_syntax  -> >=1 error row
* eval             -> emitted triple set isomorphic to the golden file

plus the aggregate P/R >= 0.95 gate from BASELINE.md.
"""

import pytest

from rio_spark.kernels import (
    parse_nquads,
    parse_ntriples,
    parse_rdfxml,
    parse_trig,
    parse_turtle,
)
from rio_spark.model import serialize_triples
from rio_spark.testing.corpus import describe_corpus, load_corpus
from rio_spark.testing.isomorphism import are_isomorphic, precision_recall

CORPUS = load_corpus()  # warns, naming what is missing, without the reference
ON_CORPUS = f"on {describe_corpus(CORPUS)}"
PARSERS = {
    "nt": lambda body, base: parse_ntriples(body),
    "nq": lambda body, base: parse_nquads(body),
    "ttl": parse_turtle,
    "trig": parse_trig,
    "rdf": parse_rdfxml,
}


def _run(doc):
    triples, errors = PARSERS[doc.format](doc.body, doc.base_iri)
    return serialize_triples(triples), errors


def _golden(doc):
    parse = parse_nquads if doc.format in ("nq", "trig") else parse_ntriples
    gt, gerrs = parse(doc.golden)
    assert not gerrs, f"golden file for {doc.name} failed to parse: {gerrs}"
    return serialize_triples(gt)


@pytest.mark.parametrize("doc", CORPUS, ids=lambda d: d.name)
def test_conformance(doc):
    emitted, errors = _run(doc)
    if doc.kind == "negative_syntax":
        assert errors, f"{doc.name}: bad input accepted, {len(emitted)} triples"
    elif doc.kind == "positive_syntax":
        assert not errors, f"{doc.name}: {errors[:2]}"
    else:  # eval
        assert not errors, f"{doc.name}: {errors[:2]}"
        golden = _golden(doc)
        assert are_isomorphic(emitted, golden), (
            f"{doc.name}: not isomorphic\n  ours={sorted(emitted)[:6]}\n"
            f"  gold={sorted(golden)[:6]}"
        )


def test_aggregate_precision_recall_gate():
    """BASELINE.md: P >= 0.95 and R >= 0.95 across all eval docs."""
    tp_like = 0.0
    n_docs = 0
    worst = []
    for doc in CORPUS:
        if doc.kind != "eval":
            continue
        emitted, errors = _run(doc)
        p, r = (0.0, 0.0) if errors else precision_recall(emitted, _golden(doc))
        n_docs += 1
        tp_like += (p + r) / 2
        if p < 1.0 or r < 1.0:
            worst.append((doc.name, p, r))
    assert n_docs > 0, f"no eval documents {ON_CORPUS}"
    assert tp_like / n_docs >= 0.95, (
        f"aggregate P/R gate failed {ON_CORPUS}; worst: {worst[:10]}"
    )
    assert not worst, f"per-doc P/R below 1.0 {ON_CORPUS}: {worst[:10]}"


def test_xml_literal_source_form_capture():
    """parseType="Literal" must re-serialize inner XML in source form, like
    the reference's event rewrite (xml/src/parser.rs:288-300): prefixed
    qnames as written, xmlns declarations where declared, attribute values
    and text escaped; empty elements expand and comments drop (XML c14n)."""
    from rio_spark.kernels import parse_rdfxml

    doc = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:ex="http://ex/">'
        '<rdf:Description rdf:about="http://ex/a">'
        '<ex:p rdf:parseType="Literal">'
        '<b:x xmlns:b="http://b/" b:q="a&amp;&lt;&quot;b">'
        '<inner xmlns="http://d/">t &amp; &lt;u</inner></b:x>'
        "<!-- dropped --><plain/></ex:p>"
        "</rdf:Description></rdf:RDF>"
    )
    triples, errors = parse_rdfxml(doc)
    assert not errors
    ((s, p, o),) = triples
    want = (
        '<b:x xmlns:b=\\"http://b/\\" b:q=\\"a&amp;&lt;&quot;b\\">'
        '<inner xmlns=\\"http://d/\\">t &amp; &lt;u</inner></b:x>'
        "<plain></plain>"
    )
    assert o == (
        f'"{want}"^^<http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral>'
    )


def test_missing_reference_corpus_warns(monkeypatch, tmp_path):
    from rio_spark.testing import corpus

    absent = tmp_path / "absent"
    monkeypatch.setattr(corpus, "REFERENCE_TESTSUITE", absent)
    with pytest.warns(UserWarning) as rec:
        docs = corpus.load_corpus()
    msg = str(rec[0].message)
    assert str(absent / "serd-tests") in msg
    assert str(absent / "rio-tests") in msg
    assert f"{len(docs)} documents" in msg
