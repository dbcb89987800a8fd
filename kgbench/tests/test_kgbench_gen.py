"""The workload generators: determinism and the stated mix shares."""

import hashlib
import json

import pytest

import gen
from harness import REPO, driver_parse, expected_output, write_inputs

N = 1700  # one whole period of conv_rows' kind arithmetic


def _make(name, seed, n=N):
    return gen.make_workload(name, seed, n, REPO)


def _fingerprint(wl) -> str:
    payload = [wl.rows, wl.meta, sorted(wl.resent)]
    return hashlib.sha256(json.dumps(payload, default=str).encode()).hexdigest()


def _exact(count, share, n):
    return abs(count - share * n) <= 1


@pytest.mark.parametrize("name", ["rdf_dense", "chat_mix"])
def test_same_seed_same_inputs_other_seed_different(name):
    a, b, c = _make(name, 7, 200), _make(name, 7, 200), _make(name, 8, 200)
    assert _fingerprint(a) == _fingerprint(b)
    assert _fingerprint(a) != _fingerprint(c)
    assert not set(a.kinds) & set(c.kinds)  # no conversation is shared


@pytest.mark.parametrize("name", ["rdf_dense", "chat_mix"])
def test_written_inputs_are_byte_identical(tmp_path, name):
    files = []
    for run in ("a", "b"):
        wl = _make(name, 3, 100)
        tpath, mpath = write_inputs(tmp_path, run, wl.rows, wl.meta)
        files.append([p.read_bytes() for p in (*tpath.iterdir(), *mpath.iterdir())])
    assert files[0] == files[1]


def _parse_errors(wl):
    rows = {}
    for conv, fmt, text, base in gen.documents(wl):
        rows[conv] = driver_parse([(conv, fmt, text, base)])[1]
    return rows


def test_rdf_dense_mix():
    n = 400
    wl = _make("rdf_dense", 1, n)
    assert {m[0] for m in wl.meta} == set(wl.kinds)  # every conversation is labelled
    assert _exact(sum(k == "malformed" for k in wl.kinds.values()), 0.05, n)
    generated = sum(share for kind, share in gen.RDF_DENSE_MIX if kind in ("ttl", "nt", "trig", "nq"))
    assert _exact(len(wl.sameas), gen.SAMEAS_SHARE * generated, n)
    assert {m[1] for m in wl.meta} == {"ttl", "trig", "nt", "nq"}
    assert len(wl.resent) == gen.REDELIVERED_SHARE * n and wl.resent <= set(wl.kinds)
    # a document is malformed exactly when the kernels report errors for it
    errors = _parse_errors(wl)
    assert all((errors[c] > 0) == (wl.kinds[c] == "malformed") for c in wl.kinds)
    # the density of the repository's throughput record: ~617 triples per
    # conversation (the in-repo and malformed documents are smaller)
    triples = expected_output(wl, gen.documents(wl)).triples
    assert 500 <= triples / n <= 700


def test_chat_mix_mix():
    wl = _make("chat_mix", 1)
    kinds = list(wl.kinds.values())
    # conv_rows' arithmetic over one period of 1700 conversations
    assert kinds.count("rdf") == 170
    assert kinds.count("malformed") == 90
    assert kinds.count("hot") == 16
    assert kinds.count("free") == 1424
    turns = {}
    for r in wl.rows:
        turns[r[0]] = turns.get(r[0], 0) + 1
    assert all(120 <= turns[c] <= 200 for c, k in wl.kinds.items() if k == "hot")
    assert all(turns[c] <= 10 for c, k in wl.kinds.items() if k == "free")
    assert not wl.sameas and not wl.resent
    assert not any(gen.OWL_SAMEAS in r[3] for r in wl.rows)
    errors = _parse_errors(wl)
    assert all((errors[c] > 0) == (wl.kinds[c] == "malformed") for c in errors)


def test_missing_corpus_is_loud(tmp_path):
    with pytest.raises(gen.CorpusMissing):
        gen.load_w3c(tmp_path)


def test_expected_canonicalization():
    from harness import alias_mapping, canonical_quads

    same = "<http://www.w3.org/2002/07/owl#sameAs>"
    rows = [("d", s, p, o, None) for s, p, o in (
        ("<c>", same, "<b>"), ("<b>", same, "<a>"), ("<e>", same, "<e>"),
        ("<c>", "<p>", '"x"'), ("<b>", "<p>", '"x"'))]
    mapping = alias_mapping(rows)
    assert mapping == {"<b>": "<a>", "<c>": "<a>"}
    # sameAs edges collapse to self loops and go; the two <p> triples merge
    assert canonical_quads(rows, mapping) == {("<a>", "<p>", '"x"', None)}
