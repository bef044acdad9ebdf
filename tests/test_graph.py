"""Connected-component cluster labeling (functions/graph.py)."""

import random

import pyspark.sql.functions as F
import pytest

from anomalydetection_spark.functions.graph import (
    min_label_components,
    near_dup_clusters,
)


@pytest.fixture(scope="module")
def spark():
    from anomalydetection_spark.session import get_spark

    s = get_spark("test-graph", master="local[4]", shuffle_partitions=4)
    yield s


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def _union_find_labels(edges) -> dict[int, int]:
    """Reference labeling: node -> min member of its union-find component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for e in edges for n in e}


def test_path_graph_needs_multiple_rounds(spark):
    # 0-1-2-3-4: diameter 4 — exercises the propagation loop, not just
    # the first round
    labels = min_label_components(_pairs_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4)]))
    assert {(r["node"], r["label"]) for r in labels.collect()} == {
        (i, 0) for i in range(5)
    }


def test_two_components_and_keeper_policy(spark):
    pairs = _pairs_df(spark, [(10, 11), (11, 12), (20, 21)])
    rows = {r["doc_id"]: r for r in near_dup_clusters(pairs).collect()}
    assert rows[10]["cluster"] == 10 and rows[10]["is_keeper"]
    assert rows[12]["cluster"] == 10 and not rows[12]["is_keeper"]
    assert rows[12]["cluster_size"] == 3
    assert rows[21]["cluster"] == 20 and rows[21]["cluster_size"] == 2
    # exactly one keeper per cluster
    keepers = [r for r in rows.values() if r["is_keeper"]]
    assert sorted(k["cluster"] for k in keepers) == [10, 20]


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r["node"]: r["label"]
        for r in min_label_components(_pairs_df(spark, edges)).collect()
    }
    assert got == _union_find_labels(edges)


def test_label_monotone_and_converged(spark):
    # after convergence every node's label equals the min over its
    # neighborhood ∪ itself (local fixpoint check)
    pairs = _pairs_df(spark, [(3, 7), (7, 5), (5, 9), (1, 2)])
    labels = min_label_components(pairs)
    e = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    joined = (
        e.join(labels.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("label", "la")
        .join(
            labels.select(
                F.col("node").alias("b"), F.col("label").alias("lb")
            ),
            "b",
        )
    )
    assert joined.filter(F.col("la") != F.col("lb")).count() == 0


def test_propagation_matches_union_find_on_chain_mixed_random(spark):
    cases = {
        # long chain (diameter 19): needs the most propagation rounds
        "chain": [(i, i + 1) for i in range(19)],
        # two cliques bridged by a chain + noise ids
        "mixed": [(0, 1), (1, 2), (0, 2), (2, 50), (50, 51), (51, 52),
                  (52, 90), (90, 91), (91, 92), (90, 92), (7, 7)],
    }
    rng = random.Random(11)
    cases["random"] = [
        (rng.randrange(80), rng.randrange(80)) for _ in range(50)
    ]

    for name, edges in cases.items():
        edges = [(a, b) for a, b in edges if a != b]
        got = {
            r["node"]: r["label"]
            for r in min_label_components(_pairs_df(spark, edges)).collect()
        }
        assert got == _union_find_labels(edges), name


def test_self_loop_only_nodes_survive(spark):
    """A node whose only edges are self-loops must appear as its own
    singleton."""
    df = _pairs_df(spark, [(7, 7), (1, 2)])
    got = {r["node"]: r["label"] for r in min_label_components(df).collect()}
    assert got == {7: 7, 1: 1, 2: 1}


def test_propagation_raises_on_non_convergence(spark):
    """Exhausting max_rounds without a fixpoint must raise — silently
    returning partially-propagated labels would split one true cluster
    into several keepers."""
    chain = [(i, i + 1) for i in range(8)]
    df = _pairs_df(spark, chain)
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(df, max_rounds=3)
