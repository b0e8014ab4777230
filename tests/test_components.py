"""Connected components vs a pure-Python union-find oracle, on shapes from
FIXTURES §5 cc_chains: chains, stars, cliques, plus seeded random graphs;
and both paths vs networkx on hypothesis-generated edge lists."""

from __future__ import annotations

import random
from unittest import mock

import networkx as nx
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cortex_spark.canon.components import connected_components


def union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical representative = min id in component
    comps = {}
    for n in nodes:
        comps.setdefault(find(n), set()).add(n)
    out = {}
    for members in comps.values():
        rep = min(members)
        for m in members:
            out[m] = rep
    return out


def run_cc(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(df)
    return {r["node_id"]: r["component"] for r in got.collect()}


def check(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    exp = union_find(edges, nodes)
    got = run_cc(spark, edges)
    assert got == exp


def test_chain(spark):
    check(spark, [(f"n{i:02d}", f"n{i+1:02d}") for i in range(10)])


def test_star(spark):
    check(spark, [("hub", f"leaf{i:02d}") for i in range(20)])


def test_clique_plus_islands(spark):
    clique = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    islands = [("x1", "x2"), ("y1", "y2")]
    check(spark, clique + islands)


def test_two_chains_merged_by_bridge(spark):
    a = [(f"a{i}", f"a{i+1}") for i in range(5)]
    b = [(f"b{i}", f"b{i+1}") for i in range(5)]
    check(spark, a + b + [("a3", "b2")])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 60
    nodes = [f"v{i:03d}" for i in range(n)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    edges = [(u, v) for u, v in edges if u != v]
    check(spark, edges)


@pytest.mark.parametrize("seed", [4, 5])
def test_distributed_kernel_matches_driver_path(spark, seed, monkeypatch):
    """The iterative alternation (the 100 TB path) must produce exactly the
    rows the small-graph driver union-find produces — run both on the same
    graph by forcing the cap to 0."""
    import cortex_spark.canon.components as C

    rng = random.Random(seed)
    nodes = [f"v{i:03d}" for i in range(80)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src string, dst string")

    driver_rows = {(r["node_id"], r["component"]) for r in connected_components(df).collect()}
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
    dist_rows = {(r["node_id"], r["component"]) for r in connected_components(df).collect()}
    assert driver_rows == dist_rows
    # and both match the pure-python oracle
    ns = sorted({x for e in edges for x in e})
    exp = set(union_find(edges, ns).items())
    assert dist_rows == exp


@pytest.mark.parametrize(
    "name,edges",
    [
        ("long_chain", [(f"n{i:04d}", f"n{i+1:04d}") for i in range(2000)]),
        ("chain_reversed", [(f"n{i+1:04d}", f"n{i:04d}") for i in range(500)]),
        (
            "dups_both_orientations",
            [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")],
        ),
        ("two_stars_bridge", [("h1", f"l{i}") for i in range(50)]
         + [("h2", f"m{i}") for i in range(50)] + [("l7", "m9")]),
        ("appearance_order_trap", [("z9", "z8"), ("z8", "z7"), ("a0", "z9")]),
    ],
)
def test_driver_np_kernel_matches_reference(name, edges):
    """_driver_components_np (factorize + min-label propagation, the hot
    driver path) must emit exactly the union-find oracle's rows on shapes
    that stress it: deep chains (max propagation rounds), duplicate and
    reversed edges, and ids whose factorize appearance order inverts their
    sort order (min code != min id)."""
    from cortex_spark.canon.components import _driver_components_np

    src = [e[0] for e in edges]
    dst = [e[1] for e in edges]
    ref = set(union_find(edges, {x for e in edges for x in e}).items())
    got = _driver_components_np(src, dst)
    assert set(zip(got["node_id"], got["component"])) == ref


def test_driver_np_kernel_int_ids():
    from cortex_spark.canon.components import _driver_components_np

    edges = [(5, 3), (3, 9), (100, 42), (7, 7 + 1)]
    src = [e[0] for e in edges]
    dst = [e[1] for e in edges]
    ref = set(union_find(edges, {x for e in edges for x in e}).items())
    got = _driver_components_np(src, dst)
    assert set(zip(got["node_id"], got["component"])) == ref


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_driver_path_leaves_session_conf_alone(spark, cap, monkeypatch):
    """Neither path sets session conf: in a shared session a set would race
    every concurrent query. `cap=0` forces the distributed alternation."""
    import cortex_spark.canon.components as C
    from pyspark.sql.conf import RuntimeConfig

    if cap is not None:
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", cap)
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append(key)
        real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)]
    stats: dict = {}
    got = connected_components(spark.createDataFrame(edges, "src string, dst string"), stats=stats)
    assert {r["node_id"]: r["component"] for r in got.collect()} == union_find(edges, sorted({x for e in edges for x in e}))
    assert stats.get("driver_path", False) == (cap is None) and calls == []


def test_graph_over_the_cap_is_counted_not_collected(spark, monkeypatch):
    """The driver-path probe counts its bounded frame first: a graph over
    the cap never reaches toPandas and takes the distributed kernel."""
    import cortex_spark.canon.components as C

    rng = random.Random(7)
    nodes = [f"v{i:02d}" for i in range(30)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    collected = []
    real = type(df).toPandas

    def spy(self, *args, **kwargs):
        collected.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "toPandas", spy)
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 5)
    stats: dict = {}
    got = {(r["node_id"], r["component"]) for r in connected_components(df, stats=stats).collect()}
    assert collected == [] and "driver_path" not in stats
    assert got == set(union_find(edges, sorted({x for e in edges for x in e})).items())


# ids drawn from a small pool, so lists repeat edges and hold self-loops
_edge_lists = st.lists(
    st.tuples(st.integers(0, 19), st.integers(0, 19)).map(lambda e: (f"v{e[0]:02d}", f"v{e[1]:02d}")),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None, derandomize=True, database=None)
@given(edges=_edge_lists)
def test_both_paths_match_networkx(spark, edges):
    """Random edge lists, self-loops and duplicate edges included: the
    driver path and the distributed path (cap forced to 0) each equal
    networkx's components, every node labelled by its component's min id.
    A node whose only edges are self-loops is a singleton component, which
    connected_components does not emit (its documented contract)."""
    import cortex_spark.canon.components as C

    comps = nx.connected_components(nx.Graph(edges))
    exp = {n: min(comp) for comp in comps if len(comp) > 1 for n in comp}
    df = spark.createDataFrame(edges, "src string, dst string")
    assert {r["node_id"]: r["component"] for r in connected_components(df).collect()} == exp
    with mock.patch.object(C, "DRIVER_CC_MAX_EDGES", 0):
        dist = {r["node_id"]: r["component"] for r in connected_components(df).collect()}
    assert dist == exp
