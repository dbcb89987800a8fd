"""Property-based tests for the round-5 operators: decontamination
threshold monotonicity and exact containment. Spark per-example cost
is high, so example counts stay small; the kernels' own property suite
(test_kernel_properties.py) carries the high-volume fuzzing."""

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

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
