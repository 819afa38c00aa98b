"""igraphalg + katz parity (reference src/mage/python/igraphalg.py,
src/mage/cpp/katz_centrality_module)."""

import math

from pyspark.sql import functions as F

from memgraph_spark.algos import (
    contains_cycle,
    katz_centrality,
    spanning_tree,
    topological_layers,
)
from memgraph_spark.catalog import load_tpch_graph
from memgraph_spark.plans import GraphSession
from tests.conftest import SF_SMOKE


def _graph(spark, edges, schema="src long, dst long"):
    g = load_tpch_graph(spark, SF_SMOKE)
    g.edges = {"E": spark.createDataFrame(edges, schema)}
    g._adj_cache.clear()
    return g


def test_topological_sort_dag(spark):
    g = _graph(spark, [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)])
    layers = {r.id: r.layer for r in topological_layers(g).collect()}
    assert layers[1] == 0 and layers[4] == 2 and layers[5] == 3
    assert not contains_cycle(g)


def test_cycle_detected(spark):
    g = _graph(spark, [(1, 2), (2, 3), (3, 1)])
    assert topological_layers(g) is None
    assert contains_cycle(g)


def test_spanning_tree_weighted(spark):
    # square with one heavy diagonal: MST = the three light edges
    g = _graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 10.0),
                       (1, 3, 10.0)], "src long, dst long, weight double")
    tree = {(r.src, r.dst) for r in spanning_tree(g, weights="weight").collect()}
    assert tree == {(1, 2), (2, 3), (3, 4)}


def test_spanning_tree_is_forest(spark):
    # two components -> spanning forest with n - #components edges
    g = _graph(spark, [(1, 2), (2, 3), (1, 3), (4, 5)])
    tree = spanning_tree(g).collect()
    assert len(tree) == 3  # (3-1) + (2-1)


def test_katz_chain(spark):
    g = _graph(spark, [(1, 2), (2, 3), (3, 4)])
    r = {row.id: row.rank for row in
         katz_centrality(g.adjacency("E", "out"), epsilon=1e-6).collect()}
    # chain 1->2->3->4 with alpha=.2: rank grows along the chain
    assert r[1] == 0.0 and r[2] > 0.19 and r[3] > r[2] and r[4] > r[3]
    assert abs(r[2] - 0.2) < 1e-3 and abs(r[3] - (0.2 + 0.2 ** 2)) < 1e-3


def test_igraphalg_procedures(spark):
    g = _graph(spark, [(1, 2, 2.0), (2, 3, 2.0), (1, 3, 5.0)],
               "src long, dst long, weight double")
    gs = GraphSession(g)
    rows = gs.execute("CALL igraphalg.topological_sort() YIELD nodes "
                      "RETURN nodes").collect()
    assert rows[0].nodes == [1, 2, 3]
    rows = gs.execute("CALL igraphalg.shortest_path_length(1, 3) "
                      "YIELD length RETURN length").collect()
    assert rows[0].length == 1.0  # unweighted hop count
    rows = gs.execute("CALL igraphalg.shortest_path_length(1, 3, 'weight') "
                      "YIELD length RETURN length").collect()
    assert rows[0].length == 4.0  # weighted: 1->2->3
    rows = gs.execute("CALL igraphalg.get_shortest_path(1, 3, 'weight') "
                      "YIELD path RETURN path").collect()
    assert rows[0].path == [1, 2, 3]
    rows = gs.execute("CALL igraphalg.get_all_simple_paths(1, 3, 4) "
                      "YIELD path RETURN path ORDER BY size(path)").collect()
    assert [r.path for r in rows] == [[1, 3], [1, 2, 3]]


def test_all_shortest_path_lengths(spark):
    g = _graph(spark, [(1, 2), (2, 3)])
    gs = GraphSession(g)
    rows = gs.execute("CALL igraphalg.all_shortest_path_lengths() "
                      "YIELD src_node, dest_node, length "
                      "RETURN src_node, dest_node, length").collect()
    d = {(r.src_node, r.dest_node): r.length for r in rows}
    assert d[(1, 3)] == 2.0 and d[(1, 1)] == 0.0 and (3, 1) not in d


def test_katz_procedure(spark):
    g = _graph(spark, [(1, 2), (2, 3)])
    gs = GraphSession(g)
    rows = gs.execute("CALL katz_centrality.get() YIELD node, rank "
                      "RETURN node, rank ORDER BY node").collect()
    assert len(rows) == 3 and rows[0].rank == 0.0
    assert not math.isnan(rows[2].rank)


def test_algo_module(spark):
    g = _graph(spark, [(1, 2, 2.0), (2, 3, 2.0), (1, 3, 5.0), (3, 4, 1.0)],
               "src long, dst long, weight double")
    gs = GraphSession(g)
    rows = gs.execute(
        "CALL algo.astar(1, 3, {weight_property: 'weight'}) "
        "YIELD path, weight RETURN path, weight").collect()
    assert rows[0].path == [1, 2, 3] and rows[0].weight == 4.0
    rows = gs.execute("CALL algo.astar(1, 3, {unweighted: true}) "
                      "YIELD path RETURN path").collect()
    assert rows[0].path == [1, 3]
    rows = gs.execute("CALL algo.cover([1, 2, 3]) YIELD src, dst "
                      "RETURN src, dst ORDER BY src, dst").collect()
    assert [(r.src, r.dst) for r in rows] == [(1, 2), (1, 3), (2, 3)]
    rows = gs.execute("CALL algo.all_simple_paths(1, 4, 5) YIELD path "
                      "RETURN path ORDER BY size(path)").collect()
    assert [r.path for r in rows] == [[1, 3, 4], [1, 2, 3, 4]]


def test_algo_all_simple_paths_relationship_types(spark):
    g = _graph(spark, [(1, 2), (2, 3), (1, 3)])
    g.set_edge_version("KNOWS", spark.createDataFrame(
        [(1, 4), (4, 2)], "src long, dst long"))
    gs = GraphSession(g)

    def paths(args):
        return sorted(r.path for r in gs.execute(
            f"CALL algo.all_simple_paths({args}) YIELD path "
            "RETURN path").collect())

    # (start, end, relationship_types, max_length)
    assert paths("1, 2, ['KNOWS'], 3") == [[1, 4, 2]]
    assert paths("1, 2, ['KNOWS'], 1") == []
    assert paths("1, 3, ['E', 'KNOWS'], 3") == [[1, 2, 3], [1, 3],
                                               [1, 4, 2, 3]]
    assert paths("1, 3, [], 3") == paths("1, 3, ['E', 'KNOWS'], 3")
