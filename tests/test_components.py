"""min_label_components: the r11 single-task union-find path must produce
EXACTLY the iterative distributed loop's fixpoint on every graph shape.

The gate (single_threshold) picks the path by edge count, so correctness
must not depend on which side of the gate a graph lands: both paths are
run on every fixture (threshold 0 forces the distributed loop) and their
(node, label) sets compared row-for-row.
"""

from __future__ import annotations

import pytest

from plan_spark.localrel import local_df
from plan_spark.operators.components import min_label_components


def _labels(spark, edges, threshold):
    df = local_df(spark, edges, "da long, db long")
    out = min_label_components(df, single_threshold=threshold)
    return sorted((r["node"], r["label"]) for r in out.collect())


GRAPHS = {
    # long chain: worst case for propagation depth (diameter = n-1)
    "chain": [(i, i + 1) for i in range(1, 40)],
    # star to a NON-minimum hub: leaves include ids below the hub
    "star_high_hub": [(100, i) for i in range(1, 20)],
    # two components + an isolated pair, ids interleaved
    "two_comps": [(1, 5), (5, 9), (2, 6), (6, 10), (100, 101)],
    # bridge between two near-cliques (the LSH multi-band shape)
    "bridged_cliques": (
        [(1, i) for i in (2, 3, 4)]
        + [(10, i) for i in (11, 12, 13)]
        + [(4, 10)]
    ),
    # duplicate + reversed edges, self-loop
    "messy": [(3, 7), (7, 3), (3, 7), (5, 5), (7, 9)],
    # single edge
    "single": [(42, 7)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_single_task_equals_iterative(spark, name):
    edges = GRAPHS[name]
    fast = _labels(spark, edges, threshold=10**9)  # single-task union-find
    slow = _labels(spark, edges, threshold=0)  # distributed loop
    assert fast == slow, f"paths diverge on {name}"
    # every label must be its component's MINIMUM node id: a label is a
    # node of the graph and never exceeds its own node
    assert all(lbl <= node for node, lbl in fast)
    labels = {lbl for _, lbl in fast}
    nodes = {n for n, _ in fast}
    assert labels <= nodes


def test_empty_edges(spark):
    assert _labels(spark, [], threshold=10**9) == []
    assert _labels(spark, [], threshold=0) == []


def test_chain_min_reaches_far_end(spark):
    # chain 1-2-...-39: every node must label 1 (propagation must not
    # stop early — pointer jumping shortcut must still reach the end)
    out = _labels(spark, GRAPHS["chain"], threshold=10**9)
    assert {lbl for _, lbl in out} == {1}


# The single-task gate takes integral same-type edge ids only: string ids
# fall through to the distributed loop, and narrow int ids keep their
# type on either side of the gate.
def test_components_string_ids_fall_through_to_distributed(spark):
    from plan_spark.operators.components import min_label_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "da string, db string"
    )
    out = min_label_components(edges, single_threshold=1000)
    got = {(r.node, r.label) for r in out.collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }


def test_components_int32_ids_keep_dtype_on_both_gate_sides(spark):
    from plan_spark.operators.components import min_label_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "da int, db int"
    )
    small = min_label_components(edges, single_threshold=1000)
    large = min_label_components(edges, single_threshold=1)  # force distributed
    assert [f.dataType.simpleString() for f in small.schema.fields] == [
        f.dataType.simpleString() for f in large.schema.fields
    ]
    s = {(r.node, r.label) for r in small.collect()}
    l = {(r.node, r.label) for r in large.collect()}
    assert s == l == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
