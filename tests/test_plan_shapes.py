"""Plan-shape assertions for the scale-sensitive catalog queries: the point
is not the answer (oracle parity covers that) but that the PHYSICAL plan is
the one that survives a 100x scale-up — broadcast equi-joins where a dict is
small, bucketed equi-joins instead of cross products, no driver round-trips.
"""

import pytest

from rio_spark.plans.catalog import (
    q_kg_entity_linking,
    q_kg_link_blocked,
    q_sim_pairs_lsh,
    q_sim_ann_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_node_classes(df) -> list[str]:
    """Class names of every node in the executed plan tree.  An adaptive
    plan is entered through its current physical plan; a cached relation's
    own plan is not a child of its InMemoryTableScanExec, so scans inside
    a cache are not counted."""
    names = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        names.append(name)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_entity_linking_is_broadcast_equijoin(spark):
    plan = plan_of(q_kg_entity_linking(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_link_blocked_is_shuffled_equijoin(spark):
    plan = plan_of(q_kg_link_blocked(spark, SF_DIR))
    # the J2 path must NOT broadcast the dictionary: it models a dict too big
    # for broadcast; the block join is a shuffled (sort-merge) equi-join
    assert "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sim_pairs_lsh_never_cross_bucket(spark):
    plan = plan_of(q_sim_pairs_lsh(spark, SF_DIR))
    # the self-join must key on the bucket string: an equi-join, never a
    # cross product with a cosine filter
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_ann_topk_is_filter_not_join(spark):
    plan = plan_of(q_sim_ann_topk(spark, SF_DIR))
    # candidates come from a FILTER on the bucket expression — no join stage,
    # no extra probe job
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan


def test_connected_components_no_collect_set(spark):
    # the star steps must aggregate with MIN (map-side combinable), never
    # materialize a neighborhood array per node (hub OOM at scale)
    import inspect

    from rio_spark.operators import canonicalize

    src = inspect.getsource(canonicalize.connected_components)
    assert "collect_set" not in src
    assert "collect_list" not in src


def test_tfidf_broadcasts_vocab_and_count(spark):
    """df (vocabulary-sized) and N (one row) must broadcast — the tf table
    is the corpus-sized side and must never shuffle for these joins."""
    from rio_spark.plans.catalog import q_text_tfidf

    plan = plan_of(q_text_tfidf(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_has_no_global_window(spark):
    """The prefix sum must be per-bucket: a single-partition exchange means
    the cumsum serialized onto one task."""
    from rio_spark.plans.catalog import q_text_pack_batches

    plan = plan_of(q_text_pack_batches(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_topk_queries_use_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    from rio_spark.plans.catalog import q_text_ngrams, q_text_tfidf, q_text_vocab

    for q in (q_text_vocab, q_text_tfidf, q_text_ngrams):
        plan = plan_of(q(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    from rio_spark.plans.catalog import q_dedup_decontaminate

    plan = plan_of(q_dedup_decontaminate(spark, SF_DIR))
    # the benchmark inverted index and its sizes must broadcast: the corpus
    # side of a 100 TB decontamination pass never shuffles into a sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_mix_single_aggregate_plus_broadcast_total(spark):
    from rio_spark.plans.catalog import q_corpus_mix

    # hermetic: a prior test's materialized cache of the same subtree
    # changes the plan under the InMemoryRelation
    spark.catalog.clearCache()
    df = q_corpus_mix(spark, SF_DIR)
    plan = plan_of(df)
    # r7: the three scorers chain through passthrough into ONE fused corpus
    # pass — no scorer joins at all; the only join left is the share
    # denominator, a 1-ROW broadcast (Catalyst folds the constant `__k` key
    # into a BroadcastNestedLoopJoin of the single total row — bounded,
    # fine); never a shuffle join, global window, or true cross product
    assert "BroadcastHashJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the corpus pass computes ONCE: every parquet scan sits under the
    # cached `per` relation, so the plan outside the cache reads only
    # InMemoryTableScans; the former join formulation had 3 independent
    # corpus scans per branch
    nodes = plan_node_classes(df)
    assert "InMemoryTableScanExec" in nodes
    assert "FileSourceScanExec" not in nodes
    # leave no cache registration behind for later tests either
    spark.catalog.clearCache()

