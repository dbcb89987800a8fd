"""Entity linking (J1/J2) and connected-components canonicalization (J3)."""

import random
import re

import pandas as pd
import pytest

from pyspark.sql import functions as F

from rio_spark.operators.canonicalize import (
    OWL_SAMEAS,
    canonical_mapping,
    canonicalize,
    connected_components,
    sameas_edges,
)
from rio_spark.operators.linking import (
    detect_mentions,
    link_blocked,
    link_broadcast,
    link_entities,
    mention_triples,
    resolve_candidates,
)
from rio_spark.sources.entity_dictionary import entity_dictionary


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        [
            ("c1", "We met Alice Johnson in Paris to discuss Acme Corp", 3),
            ("c2", "alice johnson emailed bob smith about globex", 1),
            ("c3", "nothing relevant here at all", 1),
            ("c4", "Paris Paris Paris Paris Paris", 1),  # hot key
        ],
        columns=["conv_id", "text", "n_turns"],
    )
    return spark.createDataFrame(pdf)


def test_detect_mentions_ngrams(spark, docs):
    m = detect_mentions(docs).toPandas()
    keys = set(m[m.doc_id == "c1"].mention_key)
    assert "alice johnson" in keys  # bigram
    assert "paris" in keys  # unigram
    assert "acme corp" in keys


def test_broadcast_vs_blocked_same_result(spark, docs):
    d = entity_dictionary(spark)
    m = detect_mentions(docs)
    a = (
        link_broadcast(m, d)
        .select("doc_id", "pos", "mention_key", "candidate_iri")
        .toPandas()
        .sort_values(["doc_id", "pos", "mention_key", "candidate_iri"])
        .reset_index(drop=True)
    )
    b = (
        link_blocked(m, d)
        .select("doc_id", "pos", "mention_key", "candidate_iri")
        .toPandas()
        .sort_values(["doc_id", "pos", "mention_key", "candidate_iri"])
        .reset_index(drop=True)
    )
    assert a.equals(b)
    assert len(a) > 0


def test_broadcast_join_in_plan(spark, docs):
    d = entity_dictionary(spark)
    plan = link_broadcast(detect_mentions(docs), d)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_resolution_picks_highest_prior(spark, docs):
    d = entity_dictionary(spark)
    resolved = resolve_candidates(link_broadcast(detect_mentions(docs), d)).toPandas()
    acme = resolved[resolved.mention_key == "acme corp"]
    assert set(acme.candidate_iri) == {"http://kg.example/entity/acme_corp"}  # prior .9 beats .4


def test_link_entities_triples(spark, docs):
    d = entity_dictionary(spark)
    t = link_entities(docs, d).toPandas()
    subj = set(t.subject)
    assert "<http://kg.example/doc/c1>" in subj
    mentions = t[t.predicate == "<http://kg.example/ontology#mentions>"]
    assert "<http://kg.example/entity/paris>" in set(mentions.object)
    labels = t[t.predicate == "<http://www.w3.org/2000/01/rdf-schema#label>"]
    assert '"alice johnson"' in set(labels.object)


def test_link_entities_plans_one_detection_and_one_window(spark, docs):
    # both triples of a mention come from one inline: the n-gram explode,
    # the dictionary join and the resolution window are planned once
    plan = link_entities(docs, entity_dictionary(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"\bGenerate explode\(", plan)) == 1, plan
    assert len(re.findall(r"\bGenerate inline\(", plan)) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "Union" not in plan and "SortAggregate" not in plan, plan


def _expression_classes(df) -> set[str]:
    """Class names of every expression in the analyzed plan."""
    names = set()
    plans = [df._jdf.queryExecution().analyzed()]
    while plans:
        plan = plans.pop()
        kids = plan.children()
        plans.extend(kids.apply(i) for i in range(kids.size()))
        exprs = plan.expressions()
        stack = [exprs.apply(i) for i in range(exprs.size())]
        while stack:
            e = stack.pop()
            names.add(e.getClass().getSimpleName())
            kids = e.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_ascii_lowercase_tokenizer_matches_lower(spark, monkeypatch):
    """detect_mentions lowercases with an ASCII translate, not ``lower``:
    its regexp keeps only ASCII letters, digits, apostrophes and spaces, so
    both give the same grams, whatever the non-ASCII input."""
    hand = [
        "We met Alice JOHNSON in PaRiS", "İstanbul ISTANBUL ıstanbul İI",
        "Straße STRASSE ß ẞ", "ΣΊΣΥΦΟΣ σίσυφος ς Σ", "Café CAFÉ é É",
        "日本 Tokyo 日本語 TOKYO", "O'Brien's DON'T 42 4U", "Kelvin K Å",
    ]
    alphabet = "AbZzQq09' İıßẞΣσςéÉ日本K-.,\t\n"
    rng = random.Random(7)
    seeded = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
              for _ in range(300)]
    texts = hand + seeded
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "conv_id string, text string"
    )

    def grams():
        return {tuple(r) for r in detect_mentions(docs).select(
            "doc_id", "pos", "mention_key").collect()}

    ascii_grams = grams()
    assert "Lower" not in _expression_classes(link_entities(docs, entity_dictionary(spark)))
    # the tokenizer as it was: ICU case mapping through ``lower``
    monkeypatch.setattr(F, "translate", lambda col, matching, replace: F.lower(col))
    assert "Lower" in _expression_classes(detect_mentions(docs))  # the walk sees it
    assert ascii_grams == grams()
    assert ("d0", 3, "johnson") in ascii_grams and ("d0", 5, "paris") in ascii_grams


def test_connected_components_chain_and_star(spark):
    edges = spark.createDataFrame(
        pd.DataFrame(
            [("b", "a"), ("c", "b"), ("d", "c"),  # chain a-b-c-d
             ("x", "z"), ("y", "z"),              # star on z
             ("solo1", "solo2")],
            columns=["src", "dst"],
        )
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == cc["d"] == "a"
    assert cc["x"] == cc["y"] == cc["z"] == "x"
    assert cc["solo1"] == cc["solo2"] == "solo1"


def test_canonicalize_rewrites_aliases(spark):
    rows = [
        ("d1", "<http://e/alice>", OWL_SAMEAS, "<http://e/alice_dup>", None),
        ("d1", "<http://e/alice_dup>", OWL_SAMEAS, "<http://e/a_johnson>", None),
        ("d1", "<http://e/alice_dup>", "<http://e/knows>", "<http://e/bob>", None),
        ("d2", "<http://e/carol>", "<http://e/knows>", "<http://e/a_johnson>", None),
        ("d2", "<http://e/carol>", "<http://e/age>", '"33"', None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "subject", "predicate", "object", "graph"])
    )
    out = canonicalize(df).toPandas()
    # canonical id is the lexicographic min: <http://e/a_johnson>
    knows = out[out.predicate == "<http://e/knows>"]
    assert set(knows.subject) == {"<http://e/a_johnson>", "<http://e/carol>"}
    assert set(knows.object) == {"<http://e/bob>", "<http://e/a_johnson>"}
    # degenerate self-sameAs dropped
    self_rows = out[(out.predicate == OWL_SAMEAS) & (out.subject == out.object)]
    assert len(self_rows) == 0
    # untouched triples survive
    assert ('"33"' in set(out.object))


TRIPLE_SCHEMA = "doc_id string, subject string, predicate string, object string, graph string"


def _sameas_graph(seed: int) -> list[tuple[str, str]]:
    """Seeded alias edge list mixing chains, cycles, duplicate and reversed
    edges, self-loops, blank-node and literal endpoints, and non-ASCII IRIs
    whose order differs between UTF-16 and code points (U+FF21 vs U+1D538)."""
    rng = random.Random(seed)
    pool = (
        [f"<http://e/n{i:02d}>" for i in range(30)]
        + [f"_:b{i}" for i in range(6)]
        + [f'"lit {i}"' for i in range(4)]
        + ["<http://e/é>", "<http://e/e>", "<http://e/日本>", "<http://e/日>",
           "<http://e/\uff21>", "<http://e/\U0001d538>", "<http://e/z>"]
    )
    rng.shuffle(pool)
    edges = []
    for _ in range(4):  # chains, some closed into cycles
        chain = rng.sample(pool, rng.randint(2, 7))
        edges += list(zip(chain, chain[1:]))
        if rng.random() < 0.5:
            edges.append((chain[-1], chain[0]))
    edges += [(rng.choice(pool), rng.choice(pool)) for _ in range(8)]
    edges += [(b, a) for a, b in rng.sample(edges, 4)]  # reversed
    edges += rng.sample(edges, 4)  # duplicated
    edges += [(x, x) for x in rng.sample(pool, 3)]  # self-loops
    return edges


def _triples(spark, edges):
    rows = [("d", s, OWL_SAMEAS, o, None) for s, o in edges]
    rows += [("d", "<http://e/n00>", "<http://e/knows>", "<http://e/z>", None),
             ("d", "_:b0", "<http://e/age>", '"3"', "<http://e/g>")]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_canonical_mapping_matches_connected_components(spark, seed):
    """The driver-side union-find names the same canonical for every alias
    as the distributed large-star/small-star components (node != component)."""
    triples = _triples(spark, _sameas_graph(seed))
    got = {(r["node"], r["canonical"]) for r in canonical_mapping(triples).collect()}
    ref = {
        (r["node"], r["component"])
        for r in connected_components(sameas_edges(triples)).collect()
        if r["node"] != r["component"]
    }
    assert got == ref
    assert got  # every seed has at least one alias


def test_canonical_mapping_of_no_sameas_edges_is_empty(spark):
    triples = _triples(spark, [])
    mapping = canonical_mapping(triples)
    assert mapping.schema.simpleString() == "struct<node:string,canonical:string>"
    assert mapping.count() == 0
    assert connected_components(sameas_edges(triples)).count() == 0


def _jobs_of_canonicalize(spark, n_path: int, group: str):
    path = [f"<http://e/p{i:03d}>" for i in range(n_path)]
    rows = [("d", a, OWL_SAMEAS, b, None) for a, b in zip(path, path[1:])]
    rows += [("d", f"<http://e/q{i}>", "<http://e/knows>", f"<http://e/r{i}>", None)
             for i in range(50)]
    rows.append(("d", path[-1], "<http://e/end>", path[1], None))
    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA).cache()
    triples.count()
    sc = spark.sparkContext
    sc.setJobGroup(group, "canonicalize job count")
    try:
        out = canonicalize(triples)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    rewritten = {
        (r["predicate"], r["subject"], r["object"])
        for r in out.filter(F.col("subject").startswith("<http://e/p")).collect()
    }
    triples.unpersist()
    return n_jobs, rewritten


def test_canonicalize_submits_at_most_two_jobs(spark):
    """Alias resolution is one collect, however long the sameAs path."""
    short_jobs, short_rows = _jobs_of_canonicalize(spark, 4, "canon-path-4")
    long_jobs, long_rows = _jobs_of_canonicalize(spark, 64, "canon-path-64")
    assert long_jobs <= 2
    assert long_jobs == short_jobs
    # every alias collapsed onto the path's minimum; the sameAs self-loops dropped
    end = ("<http://e/end>", "<http://e/p000>", "<http://e/p000>")
    assert short_rows == long_rows == {end}
