"""PageRank unit semantics (operators/graph.py) — the oracle-parity suite
pins cross-engine equality; these pin the MATH on a hand-checkable graph,
in particular the conserve_mass invariant the r3 verdict asked for."""

import pytest

from pyspark.sql import functions as F

from rio_spark.operators.graph import pagerank


@pytest.fixture()
def chain_edges(spark):
    # a -> b -> c ; c dangles (no out-edges)
    return spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )


def _total(df):
    return df.agg(F.sum("rank")).collect()[0][0]


def test_conserve_mass_holds_total(spark, chain_edges):
    """With conservation, total N-normalized rank is invariant at N: the
    update's total is (1-d)*N + d*(contribs + DM) = (1-d)*N + d*total, whose
    fixpoint is N. Only the 4-decimal DM pin and the final rounding move it."""
    ranks = pagerank(chain_edges, iters=4, seeded=False, conserve_mass=True)
    assert abs(_total(ranks) - 3.0) < 1e-2


def test_simplified_mode_leaks_mass(spark, chain_edges):
    """Without conservation the dangling node's rank exits the system each
    iteration — total strictly below N (the documented simplification)."""
    ranks = pagerank(chain_edges, iters=4, seeded=False, conserve_mass=False)
    assert _total(ranks) < 2.9


def test_conserve_mass_hand_values(spark, chain_edges):
    """One unseeded iteration, worked by hand (d=0.85, N=3, all ranks start
    at 1, DM_0 = rank(c) = 1):
      contrib(b) = 1/1 (from a), contrib(c) = 1/1 (from b), contrib(a) = 0
      redistribution = d * DM/N = 0.85/3
      rank(a) = 0.15 + 0.85/3            = 0.4333
      rank(b) = 0.15 + 0.85 + 0.85/3     = 1.2833
      rank(c) = same as b                = 1.2833
    """
    got = {
        r["node"]: r["rank"]
        for r in pagerank(chain_edges, iters=1, seeded=False, conserve_mass=True).collect()
    }
    assert got == {"a": 0.4333, "b": 1.2833, "c": 1.2833}


def test_seeded_conserve_matches_unseeded_shape(spark, chain_edges):
    """Seeding perturbs each rank by O(eps) only — order statistics of the
    chain (a < b <= c) survive, and dangling redistribution still reaches
    the source node a (its rank exceeds the bare teleport base)."""
    got = {
        r["node"]: r["rank"]
        for r in pagerank(chain_edges, iters=3, seeded=True, conserve_mass=True).collect()
    }
    assert got["a"] < got["b"] and got["a"] < got["c"]
    assert got["a"] > 0.15 + 0.01  # teleport base plus redistributed mass


def test_k_core_peels_chain_keeps_triangle(spark):
    """A path a-b-c dies under 2-core peeling (endpoints cascade inward); a
    triangle survives (every node keeps degree 2)."""
    from rio_spark.operators.graph import k_core

    chain = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    assert k_core(chain, k=2, rounds=2).count() == 0

    tri = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "a string, b string"
    )
    got = sorted(map(tuple, k_core(tri, k=2, rounds=3).collect()))
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]


def test_k_core_cascades(spark):
    """Peeling cascades: a pendant chain hanging off a triangle is stripped
    one link per round, the triangle core survives."""
    from rio_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "a string, b string",
    )
    after1 = sorted(map(tuple, k_core(edges, k=2, rounds=1).collect()))
    assert ("d", "e") not in after1 and ("c", "d") in after1  # e peeled first
    after2 = sorted(map(tuple, k_core(edges, k=2, rounds=2).collect()))
    assert after2 == [("a", "b"), ("a", "c"), ("b", "c")]


def test_k_core_fixpoint_converges_past_any_fixed_budget(spark):
    """rounds=None peels a long pendant chain to the true 2-core: a
    10-link tail off a triangle needs ~10 rounds (one link per round) —
    well past the default rounds=3 budget — and the convergence signature
    stops the loop exactly at the surviving triangle."""
    from rio_spark.operators.graph import k_core

    tail = [(f"n{i}", f"n{i+1}") for i in range(10)]
    tri = [("n0", "x"), ("x", "n1")]  # n0-n1 + the two x edges close a triangle
    edges = spark.createDataFrame(tail + tri, "a string, b string")
    got = sorted(map(tuple, k_core(edges, k=2, rounds=None).collect()))
    assert got == [("n0", "n1"), ("n0", "x"), ("x", "n1")]

    # an already-converged graph terminates after one confirming round
    tri_only = spark.createDataFrame(tri + [("n0", "n1")], "a string, b string")
    assert k_core(tri_only, k=2, rounds=None).count() == 3

    # a graph that empties terminates too (n==0 break)
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    assert k_core(chain, k=2, rounds=None).count() == 0
