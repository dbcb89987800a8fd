"""Canonicalization: alias merging over owl:sameAs components (J3).

The reference's only join-like machinery is its bnode-isomorphism search
(SURVEY.md §2.6); alias merging itself comes from the north rule: owl:sameAs
(or linker-emitted equivalence) edges collapse each component onto one
stable canonical IRI (lexicographic min — deterministic).

Two component resolvers live here:

* :func:`canonical_mapping` (the pipeline path) collects the alias edges
  to the driver with ONE Spark job and runs a union-find there. Its output
  is broadcast by :func:`rewrite_triples` anyway, so every (node,
  canonical) row reaches the driver regardless; driver memory is bounded
  by the alias edges, which for a sameAs forest is about the size of the
  mapping the rewrite broadcasts.
* :func:`connected_components` is the distributed alternating large-star /
  small-star algorithm ("Connected Components in MapReduce and Beyond") —
  each round is two DataFrame self-aggregations, converging in O(log n)
  rounds — entirely with built-in ops (groupBy + min + explode), no Python
  in the loop. Lineage is cut with localCheckpoint so the plan doesn't grow
  across iterations. Its callers (near-dup grouping in dedup.py and
  similarity.py, the catalog's ``kg_connected_components`` and
  ``kg_cc_incremental``, :func:`cc_incremental`, and the tests that use it
  as the reference for :func:`canonical_mapping`) keep the result
  distributed.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """Undirected edges -> (node, component) with component = min node id
    (string comparison; IRIs/bnode labels are the node ids).

    Alternates large-star and small-star steps until the edge set reaches a
    fixpoint (every node points directly at its component minimum).
    """
    # symmetrize; self-loops are harmless and keep singletons addressable.
    # The input is EAGERLY checkpointed before the loop: round 0's star DAG
    # references the edge set 4+ times (symmetrize union, groupBy, join
    # re-emit), and when the caller's edge lineage is expensive (an LSH
    # band join, a cosine bucket join) those references race and recompute
    # it — measured 10+ s of an 12.5 s CC on near-dup pairs at sf0.1.
    # Every later round reads the previous round's checkpoint already;
    # this gives round 0 the same contract at the cost of one extra job.
    from rio_spark.session import coalesced_shuffles

    with coalesced_shuffles(edges.sparkSession):
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        ).localCheckpoint(eager=True)

    # Each star step is expressed as groupBy-MIN + join re-emit, never an
    # array-materialized neighborhood: a hub with 10^8 spokes would otherwise
    # hold its whole neighborhood in one array in one task (straight OOM at
    # scale). min() partial-aggregates map-side, so the hub key reduces to one
    # tiny row per partition before the shuffle; the re-emit join on the same
    # key reuses the exchange, and AQE skew-join splits the hub's edge
    # partition at runtime. Task memory stays O(1) per key.

    def large_star(g: DataFrame) -> DataFrame:
        # Γ(u) is the UNDIRECTED neighborhood: symmetrize first (small-star
        # output is directed). Then m = min(Γ(u) ∪ {u}); emit (v, m) for v > u.
        g = g.unionByName(g.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = g.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            g.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
        )

    def small_star(g: DataFrame) -> DataFrame:
        # orient edges to (max, min); for each u: m = min(smaller-nbrs ∪ {u})
        # = min(smaller-nbrs); connect all smaller neighbors (and u) to m
        oriented = g.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
        )

    # Intermediate distincts are skipped on purpose: MIN is insensitive to
    # duplicate edges, so correctness is unchanged; ONE distinct per round
    # (below) canonicalizes the edge set for the convergence signature. This
    # halves the shuffles per round (measured ~2x faster at small scale where
    # fixed per-stage cost dominates). (Chaining TWO star rounds between
    # distincts was tried and is ~5x SLOWER: without the distinct the edge
    # multiset from the first round's re-emits multiplies through the second
    # round's join.)
    # fixpoint: stop when the edge set stops changing (count + order-free
    # content hash). The signature aggregate IS the materializing action for
    # the round's LAZY localCheckpoint — one driver job per round where an
    # eager checkpoint plus a separate aggregate used to take two.
    # pure-JVM loop: re-enable AQE coalescing around the fixpoint's driver
    # jobs (see session.coalesced_shuffles — the global disable protects
    # Python kernel stages, which this loop has none of)
    with coalesced_shuffles(edges.sparkSession):
        prev_sig = None
        for _ in range(max_iter):
            # each star step references its input twice (groupBy + join
            # re-emit); caching the large-star intermediate stops small_star
            # from running the large-star DAG twice — measured ~1.7x faster
            # rounds (cache spills to disk at scale; freed right after the
            # round materializes)
            ls = large_star(e).cache()
            try:
                e = small_star(ls).distinct().localCheckpoint(eager=False)
                row = e.agg(
                    F.count("*").alias("n"),
                    F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # overflow-free under ANSI
                ).first()
            finally:
                ls.unpersist()
            sig = (row["n"], row["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    return comp.select(
        F.col("u").alias("node"),
        F.least("component", "u").alias("component"),
    )


def sameas_edges(triples: DataFrame) -> DataFrame:
    """owl:sameAs triples -> undirected alias edges (IRI/bnode endpoints)."""
    return triples.filter(F.col("predicate") == OWL_SAMEAS).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )


def canonical_mapping(triples: DataFrame) -> DataFrame:
    """(node, canonical) for every node touched by an alias edge that is not
    its own canonical; canonical = lexicographic min of its owl:sameAs
    component (stable entity IRI).

    Runs ONE Spark action, the ``collect()`` of the alias edges;
    components are resolved on the driver by a union-find that always keeps
    the smaller root, so each root is its component's minimum, and that
    skips a repeated edge as already joined. Python's code-point order on
    ``str`` equals Spark's UTF-8 binary string order. Driver memory is
    O(alias edges). The collect adds no shuffle of its own, so it is one
    job over a cached or shuffle-free input. The result is a local
    DataFrame built from an Arrow table (a LocalRelation: evaluating or
    broadcasting it runs no Spark job and no Python worker), small enough
    for :func:`rewrite_triples` to broadcast."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in sameas_edges(triples).collect():
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = [x for x in parent if find(x) != x]
    return triples.sparkSession.createDataFrame(pa.table({
        "node": pa.array(nodes, pa.string()),
        "canonical": pa.array([find(x) for x in nodes], pa.string()),
    }))


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subject/object through the alias mapping. The mapping is
    usually tiny relative to the triple store -> broadcast joins (no shuffle
    of the store)."""
    m = F.broadcast(mapping)
    out = (
        triples.join(
            m.withColumnRenamed("node", "subject").withColumnRenamed("canonical", "s_canon"),
            "subject",
            "left",
        )
        .join(
            m.withColumnRenamed("node", "object").withColumnRenamed("canonical", "o_canon"),
            "object",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("s_canon", "subject").alias("subject"),
            "predicate",
            F.coalesce("o_canon", "object").alias("object"),
            "graph",
        )
    )
    # drop now-degenerate sameAs self loops
    return out.filter(
        ~((F.col("predicate") == F.lit(OWL_SAMEAS)) & (F.col("subject") == F.col("object")))
    )


def canonicalize(triples: DataFrame) -> DataFrame:
    """Full pass: derive alias components from owl:sameAs edges and rewrite
    every triple onto canonical ids. The component resolution runs now (one
    Spark job collecting the alias edges, a union-find on the driver, see
    :func:`canonical_mapping`); the rewrite stays lazy."""
    return rewrite_triples(triples, canonical_mapping(triples))


def cc_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of NEW
    edges into an existing min-label CC labeling without re-walking the old
    graph — the difference between a nightly full recompute and a streaming
    upsert at 10^12 edges.

    ``labels`` is (node, component) where component = the component's
    minimum node id (exactly what :func:`connected_components` emits).
    Each new edge endpoint is mapped to its old component label where known
    (two broadcast-or-shuffle joins), CC runs on that CONTRACTED graph —
    whose size is |new edges| + |touched components|, independent of the
    old graph — and old members then inherit their label's new component
    through one join.

    Correctness: a from-scratch CC over (old ∪ new) would label each merged
    component with the min over all its member nodes; every old label is
    already <= all of its members, so the min over the contracted vertex
    set (old labels + genuinely new nodes) EQUALS the min over the full
    vertex set. The incremental result is therefore bit-identical to the
    full recompute, which is what the oracle checks.
    """
    lab = labels.select("node", "component")
    s = lab.select(F.col("node").alias(src), F.col("component").alias("__sc"))
    d = lab.select(F.col("node").alias(dst), F.col("component").alias("__dc"))
    contracted = (
        new_edges.select(src, dst)
        .join(s, src, "left")
        .join(d, dst, "left")
        .select(
            F.coalesce("__sc", F.col(src)).alias("src"),
            F.coalesce("__dc", F.col(dst)).alias("dst"),
        )
    )
    comp2 = connected_components(contracted)
    relabel = comp2.select(
        F.col("node").alias("component"), F.col("component").alias("__new")
    )
    updated = lab.join(relabel, "component", "left").select(
        "node", F.coalesce("__new", F.col("component")).alias("component")
    )
    # vertices first seen in this batch (neither old members nor labels)
    new_nodes = comp2.join(lab.select("node"), "node", "left_anti")
    return updated.unionByName(new_nodes.select("node", "component"))
