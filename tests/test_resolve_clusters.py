"""resolve_clusters: the driver path must equal the Spark composition
prune_weak_edges -> connected_components(driver_max_edges=0) ->
reassign_by_support on weighted graphs with bridges, exact support ties,
NULL scores and singletons."""

import random

import pytest

from kmcp_spark.operators.cluster import (
    connected_components,
    prune_weak_edges,
    reassign_by_support,
    resolve_clusters,
)

SCHEMA = "a string, b string, containment double"
# dyadic weights: every partial sum is exact, so summation order can
# never decide a support tie
WEIGHTS = [k / 8 for k in range(1, 9)]


def _random_graph(seed: int) -> list[tuple]:
    """Dense groups joined by weak bridges, with some NULL scores."""
    rng = random.Random(seed)
    groups = [[f"g{g}n{i}" for i in range(rng.randrange(2, 7))] for g in range(7)]
    edges = set()
    for members in groups:
        for i in range(1, len(members)):  # connected, strong
            edges.add((members[rng.randrange(i)], members[i], rng.choice(WEIGHTS[5:])))
        for _ in range(len(members)):
            a, b = rng.sample(members, 2)
            edges.add((a, b, rng.choice(WEIGHTS[3:])))
    for _ in range(12):  # bridges, mostly below alpha x best
        ga, gb = rng.sample(groups, 2)
        edges.add((rng.choice(ga), rng.choice(gb), rng.choice(WEIGHTS[:4])))
    out = []
    for a, b, w in sorted(edges):
        if a == b:
            continue
        a, b = min(a, b), max(a, b)
        out.append((a, b, None if rng.random() < 0.08 else w))
    return out


# x joins A through one strong edge; its pruned edges into B sum to the
# same support (1.0), so reassignment must break the tie by cluster id.
# y has only NULL-score edges: pruned out of CC, all-NULL support.
TIES = [
    ("a1", "a2", 1.0),
    ("a1", "x", 1.0),
    ("b1", "b2", 1.0),
    ("b2", "b3", 1.0),
    ("b1", "x", 0.375),
    ("b2", "x", 0.375),
    ("b3", "x", 0.25),
    ("c1", "c2", 0.5),
    ("c1", "y", None),
    ("a2", "y", None),
]


def _as_set(df) -> set[tuple[str, str]]:
    return {(r.clip_id, r.cluster_id) for r in df.collect()}


@pytest.mark.parametrize("graph", [TIES, _random_graph(1)], ids=["ties", "random"])
@pytest.mark.parametrize("alpha", [0.0, 0.5])
def test_driver_path_equals_spark_composition(spark, graph, alpha):
    edges = spark.createDataFrame(graph, SCHEMA)
    ends = {n for a, b, _ in graph for n in (a, b)}
    singletons = {"s1", "s2", "s3"}
    all_nodes = spark.createDataFrame([(n,) for n in sorted(ends | singletons)], "clip_id string")

    # singletons have no edges, so one composition serves both calls:
    # all of it for all_nodes given, its edge endpoints for None
    labels = connected_components(
        prune_weak_edges(edges, alpha=alpha), all_nodes=all_nodes, driver_max_edges=0
    )
    for em_iters in (0, 1, 2):
        if em_iters:  # synchronous rounds: two rounds = one round twice
            labels = reassign_by_support(labels, edges, iters=1)
        want = _as_set(labels)
        assert {n for n, _ in want} == ends | singletons
        for given, expect in (
            (all_nodes, want),
            (None, {(n, c) for n, c in want if n in ends}),
        ):
            res = resolve_clusters(edges, alpha=alpha, em_iters=em_iters, all_nodes=given)
            assert res.cc_path == "driver"
            assert _as_set(res.labels) == expect, (alpha, em_iters, given is None)
    assert res.edges_in == len(graph)
    assert res.edges_kept == prune_weak_edges(edges, alpha=alpha).count()


def test_ties_null_scores_and_bridges(spark):
    """The hand-built graph's expected labels, spelled out."""
    edges = spark.createDataFrame(TIES, SCHEMA)
    res = resolve_clusters(edges, alpha=0.5, em_iters=1)
    got = dict(res.labels.collect())
    # the three weak x->B edges and both NULL edges are pruned
    assert res.edges_kept == len(TIES) - 5
    # x: support 1.0 for a1 and for b1 -> the smaller id wins
    assert got["x"] == "a1"
    # y: all-NULL support for a1 and c1 -> DESC NULLS LAST, then by id
    assert got["y"] == "a1"
    assert got["b3"] == "b1" and got["c2"] == "c1"
    # alpha=0 keeps the NULL-score edges for connectivity
    assert dict(resolve_clusters(edges, alpha=0.0, em_iters=0).labels.collect())["y"] == "a1"


def test_distributed_path_above_the_bound(spark):
    graph = _random_graph(3)
    edges = spark.createDataFrame(graph, SCHEMA)
    small = resolve_clusters(edges, em_iters=2)
    big = resolve_clusters(edges, em_iters=2, driver_max_edges=len(graph) - 1)
    assert (small.cc_path, big.cc_path) == ("driver", "distributed")
    assert _as_set(small.labels) == _as_set(big.labels)
    assert (big.edges_in, big.edges_kept) == (small.edges_in, small.edges_kept)


def test_empty_edge_set(spark):
    edges = spark.createDataFrame([], SCHEMA)
    nodes = spark.createDataFrame([("s1",), ("s2",)], "clip_id string")
    res = resolve_clusters(edges, all_nodes=nodes)
    assert (res.cc_path, res.edges_in, res.edges_kept) == ("driver", 0, 0)
    assert _as_set(res.labels) == {("s1", "s1"), ("s2", "s2")}
