"""Property-based tests for the round-5 operators: k-core fixpoint vs a
large fixed budget, decontamination threshold monotonicity and exact
containment. Spark per-example cost
is high, so example counts stay small; the kernels' own property suite
(test_kernel_properties.py) carries the high-volume fuzzing."""

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

edge_lists = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).map(
        lambda p: (f"n{min(p)}", f"n{max(p)}")
    ).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=24, unique=True,
)


@settings(max_examples=8, deadline=None)
@given(edge_lists, st.integers(2, 3))
def test_k_core_fixpoint_equals_exhausted_budget(spark, edges, k):
    """rounds=None must land on the same edge set as a budget far past any
    possible peel count (each round removes >= 1 edge, so |E| rounds is
    always enough)."""
    from rio_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "a string, b string")
    fix = sorted(map(tuple, k_core(df, k=k, rounds=None).collect()))
    big = sorted(map(tuple, k_core(df, k=k, rounds=len(edges) + 1).collect()))
    assert fix == big


words = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta eta theta iota kappa".split()),
    min_size=4, max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(words, words)
def test_decontaminate_containment_properties(spark, bench_words, extra_words):
    """(a) overlap is always in (0, 1]; (b) a corpus doc whose text IS the
    benchmark text scores exactly 1.0 against it; (c) raising the threshold
    never adds result rows (monotone filter)."""
    from rio_spark.operators.dedup import decontaminate

    bench_text = " ".join(bench_words)
    bench = spark.createDataFrame([("b0", bench_text)], "bench_id string, text string")
    corpus = spark.createDataFrame(
        [("exact", bench_text),
         ("noise", " ".join(extra_words) + " unrelated filler tokens here")],
        "doc_id string, text string",
    )
    low = decontaminate(corpus, bench, n=3, threshold=0.05).collect()
    assert all(0.0 < r.overlap <= 1.0 for r in low)
    assert any(r.doc_id == "exact" and r.overlap == 1.0 for r in low)
    high = decontaminate(corpus, bench, n=3, threshold=0.6).collect()
    low_keys = {(r.doc_id, r.bench_id) for r in low}
    assert {(r.doc_id, r.bench_id) for r in high} <= low_keys
