"""cc_incremental must be row-identical to the from-scratch recompute.
The hand case covers every branch of the new-node derivation: endpoints
with old labels, genuinely new endpoints, new-new edges forming their own
component, bridges merging two old components, and untouched old
components."""

from rio_spark.operators.canonicalize import cc_incremental, connected_components


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_matches_scratch(spark):
    # old graph: components {a1,a2,a3}, {b1,b2}, {z1,z2} (z untouched)
    old_edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("z1", "z2")],
        "src string, dst string",
    )
    labels = connected_components(old_edges)
    # batch: bridge a<->b (merges two old comps), old->new (n1 joins a's
    # comp), new->new (n2,n3 form a brand-new comp), new self-contained n4
    batch = spark.createDataFrame(
        [("a3", "b1"), ("a1", "n1"), ("n2", "n3"), ("n4", "n4")],
        "src string, dst string",
    )
    incremental = _rows(cc_incremental(labels, batch))
    scratch = _rows(connected_components(old_edges.unionByName(batch)))
    assert incremental == scratch
