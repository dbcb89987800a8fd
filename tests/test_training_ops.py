"""Training-data pipeline operators: dedup family and similarity search."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from rio_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_bits,
)
from rio_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_pairs_above,
    topk_cosine,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        ("a1", base),
        ("a2", base),  # exact dup of a1
        ("a3", base.replace("today", "tomorrow")),  # near dup
        ("b1", "completely different content about spark shuffles and parquet files"),
        ("b2", "Numbers 123 and UPPER case!!! with punctuation??? and short"),
        ("c1", "el gato y el perro de la casa que los vecinos"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_dedup_exact_groups(spark, docs):
    out = dedup_exact(docs).toPandas().set_index("doc_id")
    assert out.loc["a1", "rep_id"] == "a1" and out.loc["a2", "rep_id"] == "a1"
    assert out.loc["a1", "group_size"] == 2
    assert out.loc["b1", "group_size"] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, k=16, bands=8).collect()
    }
    assert ("a1", "a2") in pairs  # identical docs always collide
    assert ("a1", "a3") in pairs or ("a2", "a3") in pairs  # near-dup likely
    assert ("a1", "b1") not in pairs


def test_minhash_signature_shape(spark, docs):
    sigs = minhash_signatures(docs, k=8).toPandas()
    assert all(len(s) == 8 for s in sigs.sig)
    s1 = sigs[sigs.doc_id == "a1"].sig.iloc[0]
    s2 = sigs[sigs.doc_id == "a2"].sig.iloc[0]
    assert list(s1) == list(s2)


def test_ngram_jaccard(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    d = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.itertuples()}
    assert d[("a1", "a2")] == 1.0
    assert 0.5 <= d[("a1", "a3")] < 1.0
    assert ("a1", "b1") not in d


def test_ngram_jaccard_max_df_defuses_hot_shingles(spark, docs):
    """The df cap must (a) bound the inverted-index join fan-out and (b)
    leave scores equal to exact Jaccard over the informative shingles: a
    boilerplate suffix shared by EVERY doc adds only hot shingles, so the
    capped run on the skewed corpus == the uncapped run on the clean one."""
    boiler = "all rights reserved contact example corp for licensing terms"
    skewed = docs.select("doc_id", F.concat_ws(" ", "text", F.lit(boiler)).alias("text"))
    clean = ngram_jaccard_pairs(docs, threshold=0.2).toPandas()
    capped = ngram_jaccard_pairs(skewed, threshold=0.2, max_df=3).toPandas()
    want = {(r.doc_a, r.doc_b): r.jaccard for r in clean.itertuples()}
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.itertuples()}
    # cross-boundary shingles (last doc tokens + boilerplate head) are
    # doc-specific and survive the cap, so a1/a2 (identical texts) may gain
    # them equally; scores for all clean pairs must be preserved
    assert set(want) <= set(got)
    assert got[("a1", "a2")] == 1.0
    # (b) fan-out bound: with 6 docs all sharing the boilerplate, an uncapped
    # join emits >= C(6,2)=15 rows per hot shingle; capped at df<=3 the hot
    # shingles never reach the join at all
    from rio_spark.operators.dedup import shingles_col

    ex = skewed.select(
        "doc_id", F.explode(F.array_distinct(shingles_col(F.col("text"), 3))).alias("sh")
    )
    hot = ex.groupBy("sh").count().filter(F.col("count") > 3).count()
    assert hot >= 7  # the boilerplate really does create hot shingles


def test_minhash_lsh_bucket_cap_truncates_and_marks(spark, docs):
    """bucket_cap keeps only the cap lowest doc_ids of an over-cap band
    bucket and marks surviving pairs truncated=true; small buckets pass
    through unmarked."""
    hot = docs.filter(F.col("doc_id") == "a1").select(
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("i"), "text"
    ).select(
        F.concat(F.lit("hot"), F.lpad(F.col("i").cast("string"), 2, "0")).alias("doc_id"),
        "text",
    )
    out = minhash_lsh_pairs(
        docs.unionByName(hot), k=16, bands=8, bucket_cap=5
    ).toPandas()
    assert set(out.columns) == {"doc_a", "doc_b", "truncated"}
    trunc = {(r.doc_a, r.doc_b) for r in out.itertuples() if r.truncated}
    clear = {(r.doc_a, r.doc_b) for r in out.itertuples() if not r.truncated}
    # the hot bucket holds a1, a2 (identical to a1) + 12 hot copies = 14 > 5:
    # only the 5 lowest ids (a1, a2, hot00..hot02) survive, and their pairs
    # are marked — every hot-doc pair present involves only those ids
    hot_ids = {d for p in out.itertuples() for d in (p.doc_a, p.doc_b) if d.startswith("hot")}
    assert hot_ids <= {"hot00", "hot01", "hot02"}
    assert ("a1", "hot00") in trunc
    # a3 shares only near-dup (small) buckets -> its pairs stay unmarked
    assert all(not p[0].startswith("hot") and not p[1].startswith("hot") for p in clear)


def test_simhash_similar_docs_close(spark, docs):
    sh = simhash_bits(docs).toPandas().set_index("doc_id")["simhash"]
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert ham(sh["a1"], sh["a2"]) == 0
    assert ham(sh["a1"], sh["a3"]) <= ham(sh["a1"], sh["b1"])


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_topk_cosine_self_is_first(spark, embeddings):
    q = [float(x) for x in embeddings.filter("vec_id = 0").first()["embedding"]]
    top = topk_cosine(embeddings, q, k=5).toPandas()
    assert top.vec_id.iloc[0] == 0
    assert abs(top.cosine.iloc[0] - 1.0) < 1e-9
    assert (top.cosine.diff().dropna() <= 1e-12).all()


def test_ann_lsh_contains_exact_top1(spark, embeddings):
    q = [float(x) for x in embeddings.filter("vec_id = 7").first()["embedding"]]
    ann = ann_topk_lsh(embeddings, q, k=5, n_planes=4).toPandas()
    assert 7 in set(ann.vec_id)


def test_cosine_pairs_above(spark, embeddings):
    sub = embeddings.filter("vec_id < 40")
    pairs = cosine_pairs_above(sub, threshold=0.0).toPandas()
    assert (pairs.vec_a < pairs.vec_b).all()
    assert (pairs.cosine <= 1.0).all()


def test_cosine_pairs_above_guard_fires(spark, embeddings):
    # the small-N contract is mechanical: an input larger than
    # max_input_rows raises BEFORE the quadratic join is scheduled,
    # and only an explicit None opts out
    import pytest

    sub = embeddings.filter("vec_id < 40")
    with pytest.raises(ValueError, match="all-pairs"):
        cosine_pairs_above(sub, threshold=0.0, max_input_rows=10)
    out = cosine_pairs_above(sub, threshold=0.0, max_input_rows=None).toPandas()
    assert len(out) > 0


def test_near_dup_groups(spark, docs):
    from rio_spark.operators.dedup import near_dup_groups

    g = near_dup_groups(docs, k=16, bands=8).toPandas().set_index("doc_id")["group_id"]
    # identical docs a1/a2 (and the near-dup a3) collapse onto min id a1;
    # unrelated docs form no group or their own
    assert g["a1"] == "a1" and g["a2"] == "a1"
    if "a3" in g.index:
        assert g["a3"] == "a1"
    assert "b1" not in g.index or g["b1"] != "a1"


def test_decontaminate_containment_and_guard(spark):
    """Containment is measured toward the benchmark item: a corpus doc
    holding a benchmark's full text flags at 1.0, a half-prefix flags
    around 0.5, unrelated text never flags; max_bench_df drops grams
    shared across the whole benchmark set from index AND denominator."""
    from rio_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon zeta eta theta"),
         ("b2", "one two three four five six seven eight")],
        "bench_id string, text string",
    )
    corpus = spark.createDataFrame(
        [("full", "alpha beta gamma delta epsilon zeta eta theta"),
         ("half", "alpha beta gamma delta"),
         ("none", "totally unrelated words about other things entirely")],
        "doc_id string, text string",
    )
    out = {(r.doc_id, r.bench_id): r.overlap
           for r in decontaminate(corpus, bench, n=3, threshold=0.3).collect()}
    assert out[("full", "b1")] == 1.0
    assert abs(out[("half", "b1")] - 2 / 6) < 1e-6  # 2 of b1's 6 trigrams (round 6)
    assert not any(d == "none" for d, _ in out)
    assert not any(b == "b2" for _, b in out)

    # boilerplate guard: a preamble gram shared by BOTH benchmark items is
    # dropped when max_bench_df=1, so a doc made only of the preamble no
    # longer flags against anything
    bench2 = spark.createDataFrame(
        [("b1", "shared preamble text alpha beta gamma"),
         ("b2", "shared preamble text one two three")],
        "bench_id string, text string",
    )
    pre_only = spark.createDataFrame(
        [("p", "shared preamble text")], "doc_id string, text string"
    )
    flagged = decontaminate(pre_only, bench2, n=3, threshold=0.2).collect()
    assert flagged  # without the guard the preamble doc flags
    guarded = decontaminate(pre_only, bench2, n=3, threshold=0.2, max_bench_df=1).collect()
    assert not guarded
