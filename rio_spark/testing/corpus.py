"""Conformance corpus loader.

Loads the reference's vendored test corpora (serd-tests + rio-tests, the same
suites its CI runs: /root/reference/testsuite/tests/{serd,rio}_testsuite.rs)
as (name, format, kind, body, golden_body, base_iri) records, honouring the
reference's own manifest skip list (entries commented out of
serd-tests/*/manifest.ttl are excluded there too). These are DATA files, used
as oracle inputs; the parsers themselves are original (SURVEY.md §5).

Falls back to the in-repo W3C-style suite (``tests/w3c_style``, walked from
its manifest) plus a few built-in documents when the reference checkout is
absent, so the repo's tests stay runnable standalone; the fallback warns and
names what is missing.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass
from pathlib import Path

REFERENCE_TESTSUITE = Path("/root/reference/testsuite")
W3C_STYLE = Path(__file__).resolve().parents[2] / "tests" / "w3c_style"
W3C_STYLE_URL = "http://rio-spark.test/w3c-style"

SERD_BASE = "http://drobilla.net/sw/serd/test"
RIO_BASE = "http://rio.test/"


@dataclass(frozen=True)
class ConformanceDoc:
    name: str
    format: str  # nt | nq | ttl | trig
    kind: str  # positive_syntax | negative_syntax | eval
    body: str
    golden: str | None  # N-Triples/N-Quads golden body for eval docs
    base_iri: str | None


def _manifest_entries(manifest: Path) -> set[str]:
    """Active (uncommented) <#id> entries inside the mf:entries list."""
    active: set[str] = set()
    in_entries = False
    for line in manifest.read_text().splitlines():
        ls = line.strip()
        if "mf:entries" in ls:
            in_entries = True
            continue
        if in_entries:
            if ls.startswith(")"):
                break
            m = re.match(r"^<#([A-Za-z0-9._-]+)>$", ls)
            if m:
                active.add(m.group(1))
    return active


def load_serd_corpus() -> list[ConformanceDoc]:
    docs: list[ConformanceDoc] = []
    root = REFERENCE_TESTSUITE / "serd-tests"
    if not root.exists():
        return docs
    good = root / "good"
    for stem in sorted(_manifest_entries(good / "manifest.ttl")):
        ttl = good / f"{stem}.ttl"
        if not ttl.exists():
            continue
        nt = good / f"{stem}.nt"
        trig = good / f"{stem}.trig"
        if trig.exists():
            continue
        docs.append(
            ConformanceDoc(
                name=f"serd-good-{stem}",
                format="ttl",
                kind="eval" if nt.exists() else "positive_syntax",
                body=ttl.read_text(),
                golden=nt.read_text() if nt.exists() else None,
                base_iri=f"{SERD_BASE}/good/{stem}.ttl",
            )
        )
    # the one TriG pair in the good suite
    for trig in sorted(good.glob("*.trig")):
        nq = trig.with_suffix(".nq")
        docs.append(
            ConformanceDoc(
                name=f"serd-good-{trig.stem}",
                format="trig",
                kind="eval" if nq.exists() else "positive_syntax",
                body=trig.read_text(),
                golden=nq.read_text() if nq.exists() else None,
                base_iri=f"{SERD_BASE}/good/{trig.name}",
            )
        )
    bad = root / "bad"
    for stem in sorted(_manifest_entries(bad / "manifest.ttl")):
        for ext, fmt in ((".ttl", "ttl"), (".trig", "trig"), (".nt", "nt"), (".nq", "nq")):
            f = bad / f"{stem}{ext}"
            if not f.exists():
                continue
            try:
                body = f.read_text()
            except UnicodeDecodeError:
                break  # non-UTF-8 input never reaches the kernel in Spark
            docs.append(
                ConformanceDoc(
                    name=f"serd-bad-{stem}",
                    format=fmt,
                    kind="negative_syntax",
                    body=body,
                    golden=None,
                    base_iri=f"{SERD_BASE}/bad/{f.name}",
                )
            )
            break
    return docs


def load_rio_corpus() -> list[ConformanceDoc]:
    docs: list[ConformanceDoc] = []
    root = REFERENCE_TESTSUITE / "rio-tests"
    if not root.exists():
        return docs
    evals = [
        ("blank_node_with_linebreak", "ttl", "blank_node_with_linebreak.nt"),
        ("language_normalization", "ttl", "language_normalization.nt"),
        ("keyword_vs_prefix", "ttl", "keyword_vs_prefix.nt"),
        # RDF/XML evals. language_normalization.rdf is EXCLUDED: it uses the
        # QName `foo:` with an empty local part, which is illegal per XML
        # Namespaces (expat rejects it); the reference's XML reader is
        # lenient there. The same behavior (langtag lowercasing) is covered
        # by the .ttl variant above.
        ("xml_entities", "rdf", "xml_entities.nt"),
        ("xml_nested_entities", "rdf", "xml_nested_entities.nt"),
        ("literal_value_space", "rdf", "literal_value_space.nt"),
    ]
    for stem, fmt, golden in evals:
        docs.append(
            ConformanceDoc(
                name=f"rio-{stem}",
                format=fmt,
                kind="eval",
                body=(root / f"{stem}.{fmt}").read_text(),
                golden=(root / golden).read_text(),
                base_iri=f"{RIO_BASE}{stem}.{fmt}",
            )
        )
    docs.append(
        ConformanceDoc(
            name="rio-keyword_vs_prefix-trig",
            format="trig",
            kind="eval",
            body=(root / "keyword_vs_prefix.trig").read_text(),
            golden=(root / "keyword_vs_prefix.nq").read_text(),
            base_iri=f"{RIO_BASE}keyword_vs_prefix.trig",
        )
    )
    for stem in ("bad_lang", "bad_parentheses"):
        docs.append(
            ConformanceDoc(
                name=f"rio-{stem}",
                format="ttl",
                kind="negative_syntax",
                body=(root / f"{stem}.ttl").read_text(),
                golden=None,
                base_iri=f"{RIO_BASE}{stem}.ttl",
            )
        )
    for stem in ("no_end_line_jump", "blank_node_with_linebreak"):
        body = (root / f"{stem}.nt").read_text()
        docs.append(
            ConformanceDoc(
                name=f"rio-{stem}-nt",
                format="nt",
                kind="eval",
                body=body,
                golden=body,
                base_iri=None,
            )
        )
    return docs


def load_w3c_style_corpus() -> list[ConformanceDoc]:
    """The in-repo suite's N-Triples/N-Quads/Turtle/TriG eval and
    negative-syntax entries, each parsed against its canonical URL as the
    manifest walker's own runner does."""
    from rio_spark.testing.manifest import url_mapper, walk_manifest

    if not W3C_STYLE.exists():
        return []
    to_path = url_mapper(W3C_STYLE_URL, W3C_STYLE)
    return [
        ConformanceDoc(
            name=f"w3c_style-{t.name}",
            format=t.format,
            kind=t.kind,
            body=to_path(t.action).read_text(),
            golden=to_path(t.result).read_text() if t.result else None,
            base_iri=t.action,
        )
        for t in walk_manifest(f"{W3C_STYLE_URL}/manifest.ttl", to_path)
        if t.format in ("nt", "nq", "ttl", "trig")
        and t.kind in ("eval", "negative_syntax")
    ]


# Minimal built-in corpus (original documents) so tests never silently no-op.
_BUILTIN: list[ConformanceDoc] = [
    ConformanceDoc(
        name="builtin-basic",
        format="ttl",
        kind="eval",
        body=(
            "@prefix ex: <http://example.org/> .\n"
            "@base <http://example.org/base/> .\n"
            "ex:alice a ex:Person ; ex:knows ex:bob, <rel> .\n"
            'ex:bob ex:name "Bob"@EN-us ; ex:age 42 .\n'
            "ex:list ex:items ( 1 2.5 3e0 true ) .\n"
            "[ ex:p ex:o ] ex:q [ ex:r ex:s ] .\n"
        ),
        golden=(
            "<http://example.org/alice> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://example.org/Person> .\n"
            "<http://example.org/alice> <http://example.org/knows> <http://example.org/bob> .\n"
            "<http://example.org/alice> <http://example.org/knows> <http://example.org/base/rel> .\n"
            '<http://example.org/bob> <http://example.org/name> "Bob"@en-us .\n'
            '<http://example.org/bob> <http://example.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            "<http://example.org/list> <http://example.org/items> _:c0 .\n"
            '_:c0 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            "_:c0 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:c1 .\n"
            '_:c1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> "2.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n'
            "_:c1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:c2 .\n"
            '_:c2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> "3e0"^^<http://www.w3.org/2001/XMLSchema#double> .\n'
            "_:c2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:c3 .\n"
            '_:c3 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> "true"^^<http://www.w3.org/2001/XMLSchema#boolean> .\n'
            "_:c3 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> <http://www.w3.org/1999/02/22-rdf-syntax-ns#nil> .\n"
            "_:p0 <http://example.org/p> <http://example.org/o> .\n"
            "_:p0 <http://example.org/q> _:p1 .\n"
            "_:p1 <http://example.org/r> <http://example.org/s> .\n"
        ),
        base_iri="http://example.org/doc.ttl",
    ),
    ConformanceDoc(
        name="builtin-bad-missing-dot",
        format="ttl",
        kind="negative_syntax",
        body="@prefix ex: <http://example.org/> .\nex:a ex:b ex:c\nex:d ex:e ex:f .\n",
        golden=None,
        base_iri="http://example.org/doc.ttl",
    ),
    ConformanceDoc(
        name="builtin-trig",
        format="trig",
        kind="eval",
        body=(
            "@prefix ex: <http://example.org/> .\n"
            "ex:g { ex:s ex:p ex:o . }\n"
            "{ ex:s2 ex:p2 ex:o2 . }\n"
            "GRAPH ex:h { ex:s3 ex:p3 ex:o3 }\n"
        ),
        golden=(
            "<http://example.org/s> <http://example.org/p> <http://example.org/o> <http://example.org/g> .\n"
            "<http://example.org/s2> <http://example.org/p2> <http://example.org/o2> .\n"
            "<http://example.org/s3> <http://example.org/p3> <http://example.org/o3> <http://example.org/h> .\n"
        ),
        base_iri="http://example.org/doc.trig",
    ),
]


REFERENCE_SUITES = ("serd-tests", "rio-tests")


def _suites() -> list[Path]:
    return [W3C_STYLE, *(REFERENCE_TESTSUITE / s for s in REFERENCE_SUITES)]


def missing_suites() -> list[str]:
    """The suite directories that are absent on this host."""
    return [str(p) for p in _suites() if not p.exists()]


def describe_corpus(docs: list[ConformanceDoc]) -> str:
    present = " + ".join(["built-in", *(p.name for p in _suites() if p.exists())])
    missing = missing_suites()
    tail = f"; missing: {', '.join(missing)}" if missing else ""
    return f"{len(docs)} documents ({present}{tail})"


def load_corpus() -> list[ConformanceDoc]:
    """The built-in documents plus the in-repo W3C-style suite and the
    reference's serd and rio suites.  A missing suite is not an error, but
    it is never silent: the call warns with each missing directory and the
    number of documents loaded."""
    docs = _BUILTIN + load_w3c_style_corpus() + load_serd_corpus() + load_rio_corpus()
    if missing_suites():
        warnings.warn(
            f"conformance corpus incomplete: {describe_corpus(docs)}", stacklevel=2
        )
    return docs
