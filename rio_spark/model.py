"""RDF 1.1 (+ RDF-star) term model with canonical N-Triples string encoding.

Re-expresses the reference data model (/root/reference/api/src/model.rs:21-340)
for a columnar engine: outside the parsing kernels every term is ONE canonical
N-Triples lexical string (`<iri>`, `_:id`, `"v"`, `"v"@lang`, `"v"^^<dt>`,
`<< s p o >>`), so dedup / joins / set-comparison are plain string column ops
(SURVEY.md §1.5).

Inside the kernels, terms are lightweight Python values:

* IRI / literal       -> already-canonical ``str``
* blank node          -> ``BNode(ns, key)`` where ``ns`` is ``'u'`` (user label)
                         or ``'g'`` (generated), so user labels can never collide
                         with generator output (cf. BlankNodeIdGenerator
                         disambiguation, /root/reference/turtle/src/utils.rs:252-299)
* quoted triple       -> ``QTriple(s, p, o)`` (RDF-star, model.rs:132,188)

``serialize_triples`` performs the final deterministic blank-node relabelling
(first-occurrence order) and yields flat canonical-string rows.
"""

from __future__ import annotations

from typing import NamedTuple, Union

# --- well-known IRIs (canonical bracketed form) -----------------------------
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = f"<{RDF_NS}type>"
RDF_FIRST = f"<{RDF_NS}first>"
RDF_REST = f"<{RDF_NS}rest>"
RDF_NIL = f"<{RDF_NS}nil>"

XSD_NS = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = f"{XSD_NS}integer"
XSD_DECIMAL = f"{XSD_NS}decimal"
XSD_DOUBLE = f"{XSD_NS}double"
XSD_BOOLEAN = f"{XSD_NS}boolean"
XSD_STRING = f"{XSD_NS}string"


class BNode(NamedTuple):
    ns: str  # 'u' = user label, 'g' = generated
    key: str


class QTriple(NamedTuple):
    s: "Term"
    p: "Term"
    o: "Term"


Term = Union[str, BNode, QTriple]


# characters escaped in canonical literal output; mirrors the reference's
# quoted-string formatter (api/src/model.rs:357-370) plus tab for readability.
_LITERAL_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}
_LITERAL_ESCAPE_TRANS = str.maketrans(_LITERAL_ESCAPES)


def encode_literal(value: str, lang: str | None = None, datatype: str | None = None) -> str:
    """Canonical N-Triples literal string from decoded components."""
    body = '"' + value.translate(_LITERAL_ESCAPE_TRANS) + '"'
    if lang:
        return body + "@" + lang
    if datatype:
        return body + "^^<" + datatype + ">"
    return body


def decode_literal(canon: str) -> tuple[str, str | None, str | None]:
    """Inverse of :func:`encode_literal` for canonical strings (value, lang, dt)."""
    if not canon.startswith('"'):
        raise ValueError(f"not a literal: {canon!r}")
    # find closing quote honouring backslash escapes
    i, n = 1, len(canon)
    out = []
    while i < n:
        c = canon[i]
        if c == "\\":
            nxt = canon[i + 1]
            out.append({"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t",
                        "b": "\b", "f": "\f", "'": "'"}[nxt])
            i += 2
        elif c == '"':
            i += 1
            break
        else:
            out.append(c)
            i += 1
    value = "".join(out)
    rest = canon[i:]
    if rest.startswith("@"):
        return value, rest[1:], None
    if rest.startswith("^^<") and rest.endswith(">"):
        return value, None, rest[3:-1]
    if rest:
        raise ValueError(f"bad literal suffix: {rest!r}")
    return value, None, None


def serialize_term(t: Term, labels: dict[BNode, str], scope: str) -> str:
    """Render a kernel term to its canonical string, assigning doc-scoped
    blank-node ids (``{scope}b{i}``) in first-use order (deterministic,
    SURVEY.md §7.0)."""
    if isinstance(t, str):
        return t
    if isinstance(t, BNode):
        lab = labels.get(t)
        if lab is None:
            lab = f"_:{scope}b{len(labels)}"
            labels[t] = lab
        return lab
    if isinstance(t, QTriple):
        return (
            "<< "
            + serialize_term(t.s, labels, scope)
            + " "
            + serialize_term(t.p, labels, scope)
            + " "
            + serialize_term(t.o, labels, scope)
            + " >>"
        )
    raise TypeError(f"not a term: {t!r}")


def serialize_triples(
    triples: list[tuple],
    scope: str = "",
) -> list[tuple]:
    """Relabel bnodes deterministically and render to canonical-string rows.

    Accepts (s, p, o) or (s, p, o, g) tuples; graph ``None`` = default graph.
    """
    labels: dict[BNode, str] = {}
    out = []
    for t in triples:
        if len(t) == 3:
            s, p, o = t
            out.append(
                (
                    serialize_term(s, labels, scope),
                    serialize_term(p, labels, scope),
                    serialize_term(o, labels, scope),
                )
            )
        else:
            s, p, o, g = t
            out.append(
                (
                    serialize_term(s, labels, scope),
                    serialize_term(p, labels, scope),
                    serialize_term(o, labels, scope),
                    serialize_term(g, labels, scope) if g is not None else None,
                )
            )
    return out
