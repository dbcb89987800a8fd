"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)`` and of the
in-repo conformance documents under ``tests/w3c_style/``; nothing is read
from outside the repository, and there is no fallback corpus.  Transcript
rows come from the product's own generator,
``rio_spark.sources.transcripts.conv_rows``, so they have its shape, its
turn chunking and (chat_mix) its conversation mix.

* ``rdf_dense`` — every conversation carries one labelled RDF document:
  generated Turtle/TriG/N-Triples/N-Quads of 300-930 triples (mean ~615),
  5% in-repo positive documents and 5% malformed ones; 30% of the generated
  documents carry an owl:sameAs alias chain whose component spans two
  documents.  The store a call merges into already holds the quads of half
  of the call's conversations (at-least-once redelivery).
* ``chat_mix`` — ``conv_rows`` over the in-repo documents: per 1700
  conversations, 170 carry a positive document, 90 a negative one, 16 are
  hot free-text conversations (120-200 turns, half of their mentions on 3
  hot entities) and 1424 are ordinary free text.  No owl:sameAs.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field, replace
from pathlib import Path

from rio_spark.sources.transcripts import conv_rows
from rio_spark.testing.corpus import ConformanceDoc

W3C_DIR = Path("tests") / "w3c_style"
W3C_BASE = "http://rio-spark.test/w3c-style/"
FORMATS = {".ttl": "ttl", ".trig": "trig", ".nt": "nt", ".nq": "nq"}
# file-name prefixes of the negative-syntax documents (the manifest's tn/nqn/
# ntn/trign entries); every other document of the four formats is positive
NEGATIVE_PREFIXES = ("tn-", "trign-", "ntn-", "nqn-")

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
XSD = "http://www.w3.org/2001/XMLSchema#"
ENT = "http://kg.example/e/"
ALIAS = "http://kg.example/alias/"
PRED = "http://kg.example/p/"
GRAPH = "http://kg.example/g/"
PREDICATES = ("knows", "worksFor", "locatedIn", "partOf", "cites", "name",
              "age", "score", "label", "founded")
LITERAL_PREDICATES = ("name", "age", "score", "label", "founded")

ENTITY_POOL = 4000
# subjects per generated document; 4-9 triples each, so a document holds
# 300-930 triples, ~615 on average: the density of the repository's own
# throughput record (BENCH/bench_r7_final_sf1.json: 246.7M triples over 400k
# conversations)
DOC_SUBJECTS = (45, 145)
# The split over the four formats is an assumption: no record in the
# repository says what real traffic sends, so they get equal shares.
RDF_DENSE_MIX = (("ttl", 0.225), ("nt", 0.225), ("trig", 0.225), ("nq", 0.225),
                 ("w3c", 0.05), ("malformed", 0.05))
SAMEAS_SHARE = 0.30     # of the generated documents
REDELIVERED_SHARE = 0.5  # of rdf_dense's conversations, already in the store
# conv_rows derives a conversation's kind from its index modulo 10, 17 and
# 100; offsets that are multiples of 1700 give every seed the same kinds
INDEX_STRIDE = 17_000


@dataclass
class Workload:
    name: str
    seed: int
    rows: list[tuple]          # (conv_id, turn_idx, role, text, tool, ts)
    meta: list[tuple]          # (conv_id, format, base_iri), RDF conversations
    kinds: dict[str, str]      # conv_id -> rdf | malformed | free | hot
    sameas: dict[str, int] = field(default_factory=dict)  # conv_id -> edges
    # rdf_dense: conversations whose quads the store already holds
    resent: set[str] = field(default_factory=set)


class CorpusMissing(RuntimeError):
    """The in-repo conformance documents are not where they must be."""


def load_w3c(repo: Path) -> tuple[list[ConformanceDoc], str]:
    """(documents, sha256 of every file under tests/w3c_style)."""
    root = repo / W3C_DIR
    if not root.is_dir():
        raise CorpusMissing(f"{root} is missing; the benchmark has no other corpus")
    h = hashlib.sha256()
    docs: list[ConformanceDoc] = []
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        rel = f.relative_to(root).as_posix()
        data = f.read_bytes()
        h.update(rel.encode() + b"\0" + data + b"\0")
        fmt = FORMATS.get(f.suffix)
        if fmt is None or f.name == "manifest.ttl":
            continue
        kind = "negative_syntax" if f.name.startswith(NEGATIVE_PREFIXES) else "positive_syntax"
        docs.append(ConformanceDoc(rel, fmt, kind, data.decode("utf-8"), None, W3C_BASE + rel))
    if {d.kind for d in docs} != {"positive_syntax", "negative_syntax"}:
        raise CorpusMissing(f"{root} holds no positive or no negative documents")
    return docs, h.hexdigest()


# -- generated RDF -----------------------------------------------------------

def _literal(rng: random.Random, pred: str, k: int) -> str:
    if pred == "age":
        return f'"{rng.randint(18, 90)}"^^<{XSD}integer>'
    if pred == "score":
        return f'"{rng.randint(0, 999)}.{rng.randint(0, 99)}"^^<{XSD}decimal>'
    if pred == "founded":
        return f'"{rng.randint(1900, 2024)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"^^<{XSD}date>'
    lang = rng.choice(("en", "de", "fr-CA"))
    return f'"{pred} {k} {rng.randrange(1000)}"@{lang}'


def _statements(rng: random.Random, sameas_slot: int | None
                ) -> tuple[list[tuple[str, str, str]], int]:
    """Triples as (s, p, o) N-Triples terms, plus the number of sameAs
    edges among them."""
    out = []
    for _ in range(rng.randint(*DOC_SUBJECTS)):
        s = rng.randrange(ENTITY_POOL)
        for _ in range(rng.randint(4, 9)):
            p = rng.choice(PREDICATES)
            if p in LITERAL_PREDICATES:
                o = _literal(rng, p, s)
            else:
                o = f"<{ENT}{rng.randrange(ENTITY_POOL)}>"
            out.append((f"<{ENT}{s}>", f"<{PRED}{p}>", o))
    if sameas_slot is None:
        return out, 0
    # slot m: entity e(m) -> alias m_0 -> alias m_1, and every odd slot links
    # e(m) to e(m - 1), so a component spans two documents.  The shape is
    # the same for every seed: the CC loop runs the same number of rounds.
    m = sameas_slot
    head = f"<{ENT}{_slot_entity(m)}>"
    prev = head
    for j in range(2):
        alias = f"<{ALIAS}{m}_{j}>"
        out.append((prev, f"<{OWL_SAMEAS}>", alias))
        out.append((alias, f"<{PRED}label>", _literal(rng, "label", m)))
        prev = alias
    if m % 2:
        out.append((head, f"<{OWL_SAMEAS}>", f"<{ENT}{_slot_entity(m - 1)}>"))
    return out, 2 + m % 2


def _slot_entity(m: int) -> int:
    # distinct pool entities for distinct slots (7919 is prime to the pool)
    return m * 7919 % ENTITY_POOL


def _turtle_block(triples: list[tuple[str, str, str]]) -> list[str]:
    """Group consecutive same-subject triples into ``s p o ; p o .``
    statements that span several lines."""
    lines: list[str] = []
    i = 0
    while i < len(triples):
        s = triples[i][0]
        j = i
        while j < len(triples) and triples[j][0] == s:
            j += 1
        po = [f"{p} {o}" for _, p, o in triples[i:j]]
        lines.append(f"{s} {po[0]}" + (" ;" if len(po) > 1 else " ."))
        for k, item in enumerate(po[1:], 1):
            lines.append(f"    {item}" + (" ;" if k < len(po) - 1 else " ."))
        i = j
    return lines


def _prefixed(term: str) -> str:
    for pfx, ns in (("e:", ENT), ("kp:", PRED), ("al:", ALIAS)):
        if term.startswith("<" + ns) and term[len(ns) + 1:-1].isalnum():
            return pfx + term[len(ns) + 1:-1]
    return term


def generated_doc(rng: random.Random, fmt: str, name: str, sameas_slot: int | None = None
                  ) -> tuple[ConformanceDoc, int]:
    triples, n_same = _statements(rng, sameas_slot)
    if fmt == "nt":
        lines = [f"{s} {p} {o} ." for s, p, o in triples]
    elif fmt == "nq":
        lines = [f"{s} {p} {o} <{GRAPH}{rng.randrange(8)}> ." for s, p, o in triples]
    else:
        head = [f"@prefix e: <{ENT}> .", f"@prefix kp: <{PRED}> .",
                f"@prefix al: <{ALIAS}> ."]
        body = _turtle_block([tuple(_prefixed(t) for t in tr) for tr in triples])
        if fmt == "trig":
            half = len(body) // 2
            while half < len(body) and not body[half - 1].endswith(" ."):
                half += 1
            lines = head + [f"<{GRAPH}{rng.randrange(8)}> {{", *body[:half], "}",
                            "{", *body[half:], "}"]
        else:
            lines = head + body
    body_text = "\n".join(lines) + "\n"
    return ConformanceDoc(f"gen-{name}", fmt, "positive_syntax", body_text, None,
                          f"{ENT}{name}/"), n_same


def malformed_doc(rng: random.Random, name: str, negatives: list[ConformanceDoc]
                  ) -> ConformanceDoc:
    """Half in-repo negative-syntax documents, half generated documents with
    one broken statement (the rest still salvages)."""
    if rng.random() < 0.5:
        return rng.choice(negatives)
    doc, _ = generated_doc(rng, rng.choice(("ttl", "nt")), name)
    lines = doc.body.split("\n")
    ends = [k for k, line in enumerate(lines) if line.endswith(" .")]
    k = ends[rng.randrange(len(ends) // 2, len(ends))] + 1
    lines.insert(k, f'<{ENT}bad iri> <{PRED}name> "broken" .')
    return replace(doc, kind="negative_syntax", body="\n".join(lines))


# -- transcripts -------------------------------------------------------------

def _carrying(i: int, doc: ConformanceDoc) -> tuple[list[tuple], dict]:
    """conv_rows' rows for conversation ``i`` carrying ``doc``: conv_rows
    embeds a positive document of its corpus, so a one-document corpus
    makes it embed exactly ``doc``, chunked across 2-6 turns."""
    return conv_rows(i, [replace(doc, kind="positive_syntax")], conformance_every=1)


def _deal(rng: random.Random, n: int, shares) -> list[str]:
    """``n`` kinds in shuffled order, each kind exactly its share of ``n``
    (rounded), so every seed does the same amount of each kind of work."""
    counts = [round(share * n) for _, share in shares]
    counts[0] += n - sum(counts)
    kinds = [kind for (kind, _), c in zip(shares, counts) for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


def _rdf_docs(rng: random.Random, first: int, n: int, corpus: list[ConformanceDoc]
              ) -> list[tuple[int, ConformanceDoc, int]]:
    """(conversation index, document, sameAs edges) for ``n`` conversations
    of the rdf_dense mix, starting at index ``first``."""
    pos = [d for d in corpus if d.kind == "positive_syntax"]
    neg = [d for d in corpus if d.kind == "negative_syntax"]
    kinds = _deal(rng, n, RDF_DENSE_MIX)
    generated = [k for k, kind in enumerate(kinds) if kind in FORMATS.values()]
    slots = {k: m for m, k in enumerate(
        sorted(rng.sample(generated, round(SAMEAS_SHARE * len(generated)))))}
    out = []
    for k, kind in enumerate(kinds):
        i = first + k
        n_same = 0
        if kind == "malformed":
            doc = malformed_doc(rng, str(i), neg)
        elif kind == "w3c":
            doc = rng.choice(pos)
        else:
            doc, n_same = generated_doc(rng, kind, str(i), slots.get(k))
        out.append((i, doc, n_same))
    return out


def make_workload(name: str, seed: int, n_convs: int, repo: Path) -> Workload:
    """Inputs of workload ``name`` for ``seed``; ``n_convs`` is the number of
    conversations one pipeline call reads."""
    corpus, _ = load_w3c(repo)
    if n_convs > INDEX_STRIDE:
        raise ValueError(f"at most {INDEX_STRIDE} conversations")
    # conversation indices (and so ids) carry the seed: two seeds never
    # share a conversation
    first = seed * INDEX_STRIDE
    rng = random.Random(f"{name}:{seed}")
    wl = Workload(name, seed, [], [], {})
    if name == "rdf_dense":
        for i, doc, n_same in _rdf_docs(rng, first, n_convs, corpus):
            rows, meta = _carrying(i, doc)
            conv = meta["conv_id"]
            wl.rows.extend(rows)
            wl.meta.append((conv, meta["format"], meta["base_iri"]))
            wl.kinds[conv] = "malformed" if doc.kind == "negative_syntax" else "rdf"
            if n_same:
                wl.sameas[conv] = n_same
        wl.resent = set(rng.sample(sorted(wl.kinds), round(REDELIVERED_SHARE * n_convs)))
    elif name == "chat_mix":
        for i in range(first, first + n_convs):
            rows, meta = conv_rows(i, corpus)
            conv = meta["conv_id"]
            wl.rows.extend(rows)
            if meta["kind"] == "free":
                wl.kinds[conv] = "hot" if len(rows) >= 120 else "free"
            else:
                wl.meta.append((conv, meta["format"], meta["base_iri"]))
                wl.kinds[conv] = "malformed" if meta["kind"] == "corrupt" else "rdf"
    else:
        raise ValueError(f"unknown workload {name!r}")
    return wl


def documents(wl: Workload) -> list[tuple[str, str, str, str | None]]:
    """(conv_id, format, text, base_iri) of every labelled conversation one
    pipeline call reads, assembled the way the pipeline assembles it (turns
    joined by newline, in turn order)."""
    turns: dict[str, list[tuple[int, str]]] = {}
    for r in wl.rows:
        turns.setdefault(r[0], []).append((r[1], r[3]))
    return [
        (conv, fmt, "\n".join(t for _, t in sorted(turns[conv])), base)
        for conv, fmt, base in wl.meta
    ]
