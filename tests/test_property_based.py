"""Property-based checks against pure-python reference implementations
(SURVEY §5: the reference couples unit suites with randomized stress tests;
hypothesis generates small random graphs, pure-python oracles check the
distributed results)."""

from collections import Counter, deque

import networkx as nx
import numpy as np
from hypothesis import HealthCheck, example, given, settings, strategies as st

from memgraph_spark.algos import (
    bridges,
    color_graph,
    katz_centrality,
    max_flow,
    pagerank,
    spanning_tree,
    topological_layers,
    weakly_connected_components,
)
from memgraph_spark.catalog import PropertyGraph, load_tpch_graph
from memgraph_spark.operators.expand import bfs, shortest_path, weighted_shortest_path
from memgraph_spark.operators.kshortest import bfs_path_counts, shortest_path_with_nodes
from memgraph_spark.plans import GraphSession
from tests.conftest import SF_SMOKE

SETTINGS = dict(max_examples=5, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

edge_lists = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=20, unique=True)


def _graph(spark, edges):
    g = load_tpch_graph(spark, SF_SMOKE)
    g.edges = {"E": spark.createDataFrame(edges, "src long, dst long")}
    g._adj_cache.clear()
    return g


def _py_components(edges):
    parent = {}

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
    return {x: find(x) for x in parent}


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_wcc_matches_union_find(spark, edges):
    g = _graph(spark, edges)
    ours = {r.id: r.component
            for r in weakly_connected_components(g.edge("E")).collect()}
    ref = _py_components(edges)
    # same partition: identical grouping of nodes
    by_ours, by_ref = {}, {}
    for n in ref:
        by_ours.setdefault(ours[n], set()).add(n)
        by_ref.setdefault(ref[n], set()).add(n)
    assert {frozenset(s) for s in by_ours.values()} == \
        {frozenset(s) for s in by_ref.values()}


def _py_bfs(edges, source):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {source: 0}
    dq = deque([source])
    while dq:
        v = dq.popleft()
        for w in adj.get(v, []):
            if w not in dist:
                dist[w] = dist[v] + 1
                dq.append(w)
    return dist


@given(edges=edge_lists, src_pick=st.integers(0, 100))
@settings(**SETTINGS)
def test_bfs_matches_python(spark, edges, src_pick):
    source = edges[src_pick % len(edges)][0]
    g = _graph(spark, edges)
    srcs = spark.createDataFrame([(source,)], "id long")
    ours = {r.id: r.dist for r in bfs(g, srcs, "E", "out", 15).collect()}
    assert ours == _py_bfs(edges, source)


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_spanning_forest_structure(spark, edges):
    g = _graph(spark, edges)
    tree = [(r.src, r.dst) for r in spanning_tree(g, etype="E").collect()]
    comp = _py_components([(a, b) for a, b in edges])
    n_nodes = len(comp)
    n_comps = len(set(comp.values()))
    assert len(tree) == n_nodes - n_comps        # spanning forest size
    assert len(set(tree)) == len(tree)           # no duplicate edges
    # tree edges connect the same partition (acyclic by edge count + same WCC)
    tcomp = _py_components(tree)
    for a, b in tree:
        assert comp[a] == comp[b]
    assert len(set(tcomp.values())) == n_comps


def _py_bridges(edges):
    adj = {}
    for a, b in set(map(tuple, map(sorted, edges))):
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    disc, low, out = {}, {}, set()
    t = [0]

    def dfs(v, parent):
        disc[v] = low[v] = t[0]
        t[0] += 1
        for w in adj[v]:
            if w == parent:
                continue
            if w not in disc:
                dfs(w, v)
                low[v] = min(low[v], low[w])
                if low[w] > disc[v]:
                    out.add(tuple(sorted((v, w))))
            else:
                low[v] = min(low[v], disc[w])
    import sys
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(10_000)
    try:
        for v in adj:
            if v not in disc:
                dfs(v, None)
    finally:
        sys.setrecursionlimit(limit)
    return out


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_bridges_match_dfs(spark, edges):
    g = _graph(spark, edges)
    ours = {tuple(sorted((r.node_from, r.node_to)))
            for r in bridges(g).collect()}
    assert ours == _py_bridges(edges)


# weighted multigraphs for the networkx comparisons: may be empty and may
# carry self-loops, parallel edges and cycles; zero weights make zero-cost
# cycles, the case a per-node argmin predecessor walks in circles on
weighted_edge_lists = st.lists(
    st.tuples(st.integers(1, 8), st.integers(1, 8), st.integers(0, 9)),
    max_size=16)
EMPTY = []
LOOPY = [(1, 2, 1), (2, 3, 0), (3, 2, 0), (2, 2, 4), (1, 2, 3), (3, 4, 2),
         (4, 1, 1)]  # cycle 1->2->3->4->1, zero-cost 2<->3, self-loop, parallel 1->2


def _wgraph(spark, edges):
    g = load_tpch_graph(spark, SF_SMOKE)
    g.edges = {"E": spark.createDataFrame(
        [(a, b, float(w)) for a, b, w in edges],
        "src long, dst long, weight double")}
    g._adj_cache.clear()
    return g


def _nx_multi(edges):
    G = nx.MultiDiGraph()
    G.add_nodes_from(range(1, 9))
    G.add_weighted_edges_from(edges)
    return G


def _pick(edges, i):
    return edges[i % len(edges)][0] if edges else 1


@given(edges=weighted_edge_lists, src_pick=st.integers(0, 100))
@example(edges=EMPTY, src_pick=0)
@example(edges=LOOPY, src_pick=0)
@settings(**SETTINGS)
def test_weighted_shortest_path_matches_dijkstra(spark, edges, src_pick):
    source = _pick(edges, src_pick)
    g = _wgraph(spark, edges)
    srcs = spark.createDataFrame([(source,)], "id long")
    ours = {r.id: r.cost for r in
            weighted_shortest_path(g, srcs, "E", "weight").collect()}
    assert ours == nx.single_source_dijkstra_path_length(_nx_multi(edges), source)


@given(edges=weighted_edge_lists, src_pick=st.integers(0, 100),
       target=st.integers(1, 8))
@example(edges=EMPTY, src_pick=0, target=2)
@example(edges=LOOPY, src_pick=0, target=4)
# zero-cost 2<->3 where the smallest tight predecessor of 3 is 2 and of 2
# is 3: a per-node argmin predecessor map never reaches the source 5
@example(edges=[(5, 3, 1), (3, 2, 0), (2, 3, 0), (2, 4, 1)], src_pick=0,
         target=4)
@settings(**SETTINGS)
def test_shortest_path_with_nodes_is_a_cheapest_path(spark, edges, src_pick,
                                                      target):
    source = _pick(edges, src_pick)
    g = _wgraph(spark, edges)
    ours = shortest_path_with_nodes(g, source, target, etype="E",
                                    weight_col="weight")
    G = _nx_multi(edges)
    if not nx.has_path(G, source, target):
        assert ours is None
        return
    path, cost = ours
    assert cost == nx.dijkstra_path_length(G, source, target)
    assert path[0] == source and path[-1] == target
    cheapest = {}
    for a, b, w in edges:
        cheapest[(a, b)] = min(w, cheapest.get((a, b), w))
    assert all(p in cheapest for p in zip(path, path[1:]))
    assert sum(cheapest[p] for p in zip(path, path[1:])) == cost


@given(edges=weighted_edge_lists, src_pick=st.integers(0, 100),
       sink=st.integers(1, 8))
@example(edges=EMPTY, src_pick=0, sink=2)
@example(edges=LOOPY, src_pick=0, sink=4)
@settings(**SETTINGS)
def test_max_flow_matches_networkx(spark, edges, src_pick, sink):
    source = _pick(edges, src_pick)
    if source == sink:
        sink = sink % 8 + 1
    g = _wgraph(spark, edges)
    total, _, _ = max_flow(g, source, sink, "weight", etype="E")
    G = nx.DiGraph()
    G.add_nodes_from(range(1, 9))
    for a, b, w in edges:  # parallel edges add their capacities
        if a != b:
            G.add_edge(a, b, capacity=G.get_edge_data(a, b, {"capacity": 0})
                       ["capacity"] + w)
    assert abs(total - nx.maximum_flow_value(G, source, sink)) < 1e-6


@given(edges=weighted_edge_lists, picks=st.lists(st.integers(0, 100),
                                                 min_size=1, max_size=2),
       target=st.integers(1, 8))
@example(edges=EMPTY, picks=[0], target=2)
@example(edges=LOOPY, picks=[0, 2], target=4)
@settings(**SETTINGS)
def test_bfs_parents_form_min_bfs_tree(spark, edges, picks, target):
    starts = sorted({_pick(edges, i) for i in picks})
    g = _wgraph(spark, edges)
    srcs = spark.createDataFrame([(s,) for s in starts], "id long")
    rows = bfs(g, srcs, "E", "out", None).collect()
    pairs = {(a, b) for a, b, _ in edges}
    dist = {(r.start, r.id): r.dist for r in rows}
    for r in rows:
        if r.dist == 0:
            assert r.id == r.start and r.par is None
            continue
        # the smallest predecessor one level up that has an edge to the node
        preds = [u for (s, u), d in dist.items()
                 if s == r.start and d == r.dist - 1 and (u, r.id) in pairs]
        assert r.par == min(preds)
    G = nx.DiGraph(list(pairs))
    for s in starts:
        want = nx.single_source_shortest_path_length(G, s) if s in G else {s: 0}
        assert {i: d for (st_, i), d in dist.items() if st_ == s} == want
    # early exit on arrival keeps the hop distance
    hops = shortest_path(g, starts[0], target, etype="E")
    G.add_nodes_from([starts[0], target])
    assert hops == (nx.shortest_path_length(G, starts[0], target)
                    if nx.has_path(G, starts[0], target) else None)


# directed multigraphs for the superstep loops: may be empty and may carry
# self-loops, duplicate edges and cycles
multi_edge_lists = st.lists(
    st.tuples(st.integers(1, 8), st.integers(1, 8)), max_size=16)
MULTI = [(1, 2), (1, 2), (2, 3), (3, 1), (3, 3), (3, 4), (4, 5)]
DAG = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (1, 5), (6, 5)]


def _nx_weighted(edges):
    """DiGraph whose edge weight is the edge's multiplicity."""
    G = nx.DiGraph()
    for (a, b), k in Counter(edges).items():
        G.add_edge(a, b, weight=k)
    return G


@given(edges=multi_edge_lists)
@example(edges=EMPTY)
@example(edges=MULTI)
@settings(**SETTINGS)
def test_katz_matches_networkx(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    ours = {r.id: r.rank for r in katz_centrality(
        df, alpha=0.05, epsilon=1e-12, max_iter=200).collect()}
    # x = alpha A^T (x + 1) is networkx's unnormalized Katz (beta=1) minus 1
    ref = nx.katz_centrality(_nx_weighted(edges), alpha=0.05, beta=1,
                             normalized=False, weight="weight", tol=1e-12)
    assert ours.keys() == ref.keys()
    assert all(abs(ours[n] - (ref[n] - 1)) < 1e-9 for n in ref)


@given(edges=multi_edge_lists)
@example(edges=EMPTY)
@example(edges=MULTI)
@settings(**SETTINGS)
def test_pagerank_matches_google_matrix(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    ours = {r.id: r.rank for r in
            pagerank(df, max_iter=100).collect()}
    if not edges:
        assert ours == {}
        return
    G = nx.MultiDiGraph(edges)  # parallel edges add up in the matrix
    P = nx.google_matrix(G, alpha=0.85)
    x = np.full(len(G), 1.0 / len(G))
    for _ in range(2000):
        x = x @ P
    assert ours.keys() == set(G)
    # stops at an L1 step < tol=1e-6 (error < 0.85 / 0.15 * 1e-6) or after
    # 100 rounds (error < 2 * 0.85^100)
    assert all(abs(ours[n] - x[i]) < 1e-5 for i, n in enumerate(G))


@given(edges=multi_edge_lists)
@example(edges=EMPTY)
@example(edges=MULTI)
@example(edges=DAG)
@settings(**SETTINGS)
def test_topological_layers_match_generations(spark, edges):
    out = topological_layers(_graph(spark, edges), "E")
    G = nx.MultiDiGraph(edges)
    if not nx.is_directed_acyclic_graph(G):
        assert out is None
        return
    assert {r.id: r.layer for r in out.collect()} == {
        n: i for i, gen in enumerate(nx.topological_generations(G))
        for n in gen}


@given(edges=multi_edge_lists)
@example(edges=EMPTY)
@example(edges=MULTI)
@settings(**SETTINGS)
def test_color_graph_is_proper(spark, edges):
    colors = {r.id: r.color for r in color_graph(_graph(spark, edges), "E")
              .collect()}
    assert colors.keys() == {n for e in edges for n in e}
    assert set(colors.values()) == set(range(len(set(colors.values()))))
    # a self-loop is no conflict: only distinct endpoints must differ
    assert all(colors[a] != colors[b] for a, b in edges if a != b)


# the accumulating frontier loops (session.frontier): small directed
# multigraphs over nodes 1..6 (odd ids :A, even ids :B) with cycles,
# self-loops and parallel edges; the edge id is the list position
frontier_edge_lists = st.lists(
    st.tuples(st.integers(1, 6), st.integers(1, 6)), max_size=9)
LOOPS = [(1, 2), (1, 2), (2, 3), (3, 1), (3, 3), (3, 4), (4, 1)]


def _fgraph(spark, edges):
    return PropertyGraph(spark, nodes={
        "A": spark.createDataFrame([(1,), (3,), (5,)], "id long"),
        "B": spark.createDataFrame([(2,), (4,), (6,)], "id long"),
    }, edges={"E": spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(edges)],
        "src long, dst long, eid long")})


def _py_walks(edges, start, lo, hi, ok=lambda v: True):
    """Every edge-unique out-walk from `start` with lo..hi edges whose
    nodes after the start all pass `ok`, as (node ids, edge ids)."""
    found = []

    def rec(v, nodes, eids):
        if len(eids) >= lo:
            found.append((tuple(nodes), tuple(eids)))
        if len(eids) == hi:
            return
        for i, (a, b) in enumerate(edges):
            if a == v and i not in eids and ok(b):
                rec(b, nodes + [b], eids + [i])

    rec(start, [start], [])
    return found


@given(edges=frontier_edge_lists, start=st.integers(1, 6),
       lo=st.integers(0, 2), extra=st.integers(0, 2))
@example(edges=LOOPS, start=1, lo=0, extra=2)
@example(edges=[], start=1, lo=0, extra=2)
@settings(**SETTINGS)
def test_var_length_counts_match_walks(spark, edges, start, lo, extra):
    hi = max(lo, 1) + extra
    gs = GraphSession(_fgraph(spark, edges))
    want = Counter(len(e) for _, e in _py_walks(edges, start, lo, hi))
    # the lean route (expand_variable) and the traversal route, which a
    # relationship variable forces
    for q in (f"MATCH p = (a)-[*{lo}..{hi}]->(b) WHERE id(a) = $s "
              "RETURN length(p) AS d, count(*) AS n",
              f"MATCH (a)-[r*{lo}..{hi}]->(b) WHERE id(a) = $s "
              "RETURN size(r) AS d, count(*) AS n"):
        got = {r.d: r.n for r in gs.execute(q, {"s": start}).collect()}
        assert got == dict(want), q


@given(edges=frontier_edge_lists, start=st.integers(1, 6),
       lo=st.integers(0, 2), extra=st.integers(0, 2))
@example(edges=LOOPS, start=1, lo=0, extra=2)
@example(edges=[], start=2, lo=0, extra=1)
@settings(**SETTINGS)
def test_path_expand_matches_walks(spark, edges, start, lo, extra):
    hi = max(lo, 1) + extra
    gs = GraphSession(_fgraph(spark, edges))
    # paths continue only through :A nodes (odd ids); the start is exempt
    rows = gs.execute(f"CALL path.expand($s, ['E>'], ['-B'], {lo}, {hi}) "
                      "YIELD result RETURN result", {"s": start}).collect()
    got = Counter((tuple(r.result.nodes), tuple(r.result.rels))
                  for r in rows)
    assert got == Counter(_py_walks(edges, start, lo, hi, lambda v: v % 2))


def _py_simple_paths(edges, v, to, cutoff):
    out = {a: {b for x, b in edges if x == a} for a, _ in edges}
    found = []

    def rec(path):
        if path[-1] == to and len(path) > 1:
            found.append(path)
            return
        if len(path) > cutoff:
            return
        for w in sorted(out.get(path[-1], ())):
            if w not in path:
                rec(path + [w])

    rec([v])
    return found


@given(edges=frontier_edge_lists, v=st.integers(1, 6), to=st.integers(1, 6),
       cutoff=st.integers(1, 4))
@example(edges=LOOPS, v=1, to=4, cutoff=4)
@example(edges=LOOPS, v=1, to=1, cutoff=4)
@settings(**SETTINGS)
def test_all_simple_paths_match_enumeration(spark, edges, v, to, cutoff):
    gs = GraphSession(_fgraph(spark, edges))
    rows = gs.execute("CALL igraphalg.get_all_simple_paths($v, $to, $c) "
                      "YIELD path RETURN path",
                      {"v": v, "to": to, "c": cutoff}).collect()
    assert sorted(r.path for r in rows) == \
        sorted(_py_simple_paths(edges, v, to, cutoff))


@given(edges=frontier_edge_lists, starts=st.sets(st.integers(1, 6),
                                                 min_size=1, max_size=2))
@example(edges=LOOPS, starts={1, 3})
@example(edges=[], starts={1})
@settings(**SETTINGS)
def test_bfs_path_counts_match_networkx(spark, edges, starts):
    g = _fgraph(spark, edges)
    srcs = spark.createDataFrame([(s,) for s in sorted(starts)], "id long")
    got = {(r.start, r.id): (r.dist, r.n_paths)
           for r in bfs_path_counts(g, srcs, etype="E").collect()}
    G = nx.DiGraph(edges)
    G.add_nodes_from(starts)
    want = {}
    for s in starts:
        for t, d in nx.single_source_shortest_path_length(G, s).items():
            want[(s, t)] = (d, len(list(nx.all_shortest_paths(G, s, t))))
    assert got == want
