"""graph/ operators against networkx on hypothesis-generated graphs of at
most 12 nodes: multi-source BFS depths, Dijkstra costs, topological layers
and cycle detection. Duplicate edges are drawn; self-loops are left out of
the topological checks, because topo_layers drops them by design."""

from __future__ import annotations

import networkx as nx
from hypothesis import given, settings
from hypothesis import strategies as st

from cortex_spark.graph.paths import dijkstra
from cortex_spark.graph.subgraph import has_cycle, topo_layers
from cortex_spark.graph.traverse import bfs

MAX_NODES = 12
EXAMPLES = settings(max_examples=8, deadline=None, derandomize=True, database=None)


def _name(i: int) -> str:
    return f"v{i:02d}"


@st.composite
def graphs(draw, self_loops: bool = True, dag: bool = False):
    """(node names, [(src, dst, weight)]) with weights in (0, 1]. `dag`
    orients every edge along a drawn permutation of the nodes."""
    n = draw(st.integers(2, MAX_NODES))
    pairs = draw(st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=3 * n))
    if not self_loops:
        pairs = [(u, v) for u, v in pairs if u != v]
    if dag:
        pos = {v: i for i, v in enumerate(draw(st.permutations(range(n))))}
        pairs = [(u, v) if pos[u] < pos[v] else (v, u) for u, v in pairs]
    weights = st.floats(0.0, 1.0, exclude_min=True, allow_nan=False)
    edges = [(_name(u), _name(v), draw(weights)) for u, v in pairs]
    return [_name(i) for i in range(n)], edges


def _frames(spark, names, edges):
    nodes = spark.createDataFrame([(v,) for v in names], "node_id string")
    return nodes, spark.createDataFrame(edges, "src string, dst string, weight double")


def _digraph(names, edges) -> nx.DiGraph:
    g = nx.DiGraph()
    g.add_nodes_from(names)
    g.add_edges_from((u, v) for u, v, _ in edges)
    return g


@EXAMPLES
@given(
    graph=graphs(),
    starts=st.lists(st.integers(0, MAX_NODES - 1), min_size=1, max_size=3, unique=True),
    max_depth=st.integers(1, 4),
)
def test_bfs_matches_networkx(spark, graph, starts, max_depth):
    """Multi-source depths: the minimum over the start nodes of networkx's
    cutoff-bounded shortest path length, edges followed forward ("out") and
    either way ("both")."""
    names, edges = graph
    starts = [names[i % len(names)] for i in starts]
    _, e = _frames(spark, names, edges)
    for direction in ("out", "both"):
        g = _digraph(names, edges)
        if direction == "both":
            g = g.to_undirected()
        want: dict[str, int] = {}
        for s in starts:
            for v, d in nx.single_source_shortest_path_length(g, s, cutoff=max_depth).items():
                want[v] = min(d, want.get(v, d))
        got = bfs(e, starts, max_depth=max_depth, direction=direction)
        assert {r["node_id"]: r["depth"] for r in got.collect()} == want, direction


@EXAMPLES
@given(graph=graphs(), source=st.integers(0, MAX_NODES - 1))
def test_dijkstra_matches_networkx(spark, graph, source):
    """Costs Σ(1 − w) over the cheapest directed path, every reachable node,
    within 1e-9. Of duplicate edges the cheapest counts."""
    names, edges = graph
    source = names[source % len(names)]
    g = nx.DiGraph()
    g.add_nodes_from(names)
    for u, v, w in edges:
        cost = 1.0 - w
        if not g.has_edge(u, v) or cost < g[u][v]["cost"]:
            g.add_edge(u, v, cost=cost)
    want = nx.single_source_dijkstra_path_length(g, source, weight="cost")
    _, e = _frames(spark, names, edges)
    got = {r["node_id"]: r["cost"] for r in dijkstra(e, source).collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) <= 1e-9 for v in want)


@EXAMPLES
@given(graph=graphs(self_loops=False, dag=True))
def test_topo_layers_match_networkx_generations(spark, graph):
    names, edges = graph
    want = {
        v: layer
        for layer, gen in enumerate(nx.topological_generations(_digraph(names, edges)))
        for v in gen
    }
    layers, cyclic = topo_layers(*_frames(spark, names, edges))
    assert {r["node_id"]: r["layer"] for r in layers.collect()} == want
    assert cyclic.isEmpty()


@EXAMPLES
@given(graph=graphs(self_loops=False))
def test_has_cycle_matches_networkx(spark, graph):
    names, edges = graph
    want = not nx.is_directed_acyclic_graph(_digraph(names, edges))
    assert has_cycle(*_frames(spark, names, edges)) == want
