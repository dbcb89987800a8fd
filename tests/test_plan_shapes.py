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
    q_sim_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_topk_queries_use_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    for q in (q_sim_topk, q_sim_ann_topk):
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
