"""Graph coloring, link prediction, json_util/export/do/periodic/refactor
(reference graph_coloring, link_prediction, json_util, export_util,
do_module, periodic_module, refactor_module)."""

import json
import os
import tempfile

from pyspark.sql import functions as F

from memgraph_spark.algos import color_graph, link_prediction_scores
from memgraph_spark.catalog import load_tpch_graph
from memgraph_spark.plans import GraphSession
from tests.conftest import SF_SMOKE


def _graph(spark, edges):
    g = load_tpch_graph(spark, SF_SMOKE)
    g.edges = {"E": spark.createDataFrame(edges, "src long, dst long")}
    g._adj_cache.clear()
    return g


def test_coloring_is_proper(spark):
    # odd cycle + chords: any proper coloring works, adjacency must differ
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (1, 3)]
    g = _graph(spark, edges)
    colors = {r.id: r.color for r in color_graph(g).collect()}
    assert set(colors) == {1, 2, 3, 4, 5}
    for a, b in edges:
        assert colors[a] != colors[b]
    assert max(colors.values()) <= 4  # greedy bound: <= max_degree


def test_link_prediction_adamic_adar(spark):
    # path 1-2-3: only candidate pair (1,3) via common neighbour 2 (deg 2)
    g = _graph(spark, [(1, 2), (2, 3)])
    rows = link_prediction_scores(g).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.node1, r.node2) == (1, 3)
    import math
    assert abs(r.score - round(1.0 / math.log(2 + 1e-9), 4)) < 1e-6


def test_link_prediction_logistic_baseline(spark):
    """link_prediction.train/predict return real scores without torch: on
    two 5-cliques joined by a single bridge, the one MISSING intra-clique
    pair must outrank every cross-clique candidate (known ranking)."""
    from memgraph_spark.algos.gnn import (
        link_prediction_predict, link_prediction_train)
    c1, c2 = [1, 2, 3, 4, 5], [11, 12, 13, 14, 15]
    edges = []
    for grp in (c1, c2):
        for i, a in enumerate(grp):
            for b in grp[i + 1:]:
                edges.append((a, b))
    edges.remove((4, 5))     # the pair the model must predict
    edges.append((5, 11))    # bridge creates cross-clique 2-hop candidates
    g = _graph(spark, edges)
    model = link_prediction_train(g)
    assert len(model["weights"]) == 4
    assert model["auc_proxy"] > 0.2  # positives separate from negatives
    top = link_prediction_predict(g, top_k=5).collect()
    assert (top[0]["node1"], top[0]["node2"]) == (4, 5)
    assert all(0.0 <= r["score"] <= 1.0 for r in top)
    # procedure surface: the deep GNN trainer is the default since r7;
    # the logistic baseline stays reachable via set_model_parameters
    gs = GraphSession(g)
    r = gs.execute("CALL link_prediction.set_model_parameters("
                   "{layer_type: 'logistic'}) "
                   "YIELD status, message RETURN status").collect()
    assert r[0].status is True
    row = gs.execute("CALL link_prediction.train() YIELD status, auc "
                     "RETURN status, auc").collect()[0]
    assert row["status"] == "trained"
    rows = gs.execute("CALL link_prediction.predict(3) "
                      "YIELD node1, node2, score "
                      "RETURN node1, node2, score").collect()
    assert (rows[0]["node1"], rows[0]["node2"]) == (4, 5)


def test_json_util_and_export(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    gs = GraphSession(g)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "objs.jsonl")
        with open(p, "w") as f:
            f.write(json.dumps({"a": 1, "b": "x"}) + "\n")
            f.write(json.dumps({"a": 2, "b": "y"}) + "\n")
        rows = gs.execute(
            f"CALL json_util.load_from_path('{p}') YIELD objects "
            "RETURN objects").collect()
        assert len(rows) == 2
        assert {r.objects["a"] for r in rows} == {"1", "2"}

        rows = gs.execute(
            f"CALL export_util.json('{d}/out', 'Region') YIELD label, rows "
            "RETURN label, rows").collect()
        assert rows[0].label == "Region" and rows[0].rows == 5
        back = spark.read.json(f"{d}/out/Region")
        assert back.count() == 5


def test_do_when_and_case(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    rows = gs.execute("CALL do.when(true, 'RETURN 1 AS x', 'RETURN 2 AS x') "
                      "YIELD value RETURN value").collect()
    assert json.loads(rows[0].value) == {"x": 1}
    rows = gs.execute(
        "CALL do.case([false, true], ['RETURN 1 AS x', 'RETURN 2 AS x'], "
        "'RETURN 3 AS x') YIELD value RETURN value").collect()
    assert json.loads(rows[0].value) == {"x": 2}


def test_periodic_iterate(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    rows = gs.execute(
        "CALL periodic.iterate('MATCH (r:Region) RETURN count(*) AS n', null) "
        "YIELD success, number_of_executed_batches AS b "
        "RETURN success, b").collect()
    assert rows[0].success is True and rows[0].b == 1


def test_refactor_renames(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    gs = GraphSession(g)
    rows = gs.execute("CALL refactor.rename_label('Region', 'Zone') "
                      "YIELD nodes_changed RETURN nodes_changed").collect()
    assert rows[0].nodes_changed == 5
    assert "Zone" in g.nodes and "Region" not in g.nodes
    rows = gs.execute("CALL refactor.rename_type('IN_REGION', 'IN_ZONE') "
                      "YIELD relationships_changed AS n RETURN n").collect()
    assert rows[0].n > 0 and "IN_ZONE" in g.edges
    rows = gs.execute(
        "CALL refactor.rename_node_property('name', 'title', 'Zone') "
        "YIELD nodes_changed RETURN nodes_changed").collect()
    assert rows[0].nodes_changed == 5
    assert "title" in g.nodes["Zone"].columns


def test_rename_type_drops_the_old_types_traversal_caches(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    hop = "MATCH (a)-[:IN_REGION]->(b) RETURN count(*) AS n"
    var = "MATCH (a)-[:IN_REGION*1..2]->(b) RETURN count(*) AS n"
    assert gs.execute(var).collect()[0].n == 25  # fills the eid cache
    gs.execute("CALL refactor.rename_type('IN_REGION', 'IN_ZONE') "
               "YIELD relationships_changed RETURN *").collect()
    assert gs.execute(hop).collect()[0].n == 0
    assert gs.execute(var).collect()[0].n == 0
    assert gs.execute(var.replace("IN_REGION", "IN_ZONE")).collect()[0].n \
        == 25


def test_import_json_roundtrip(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    gs = GraphSession(g)
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        gs.execute(f"CALL export_util.json('{d}', 'Region') "
                   "YIELD label RETURN label").collect()
        g2 = load_tpch_graph(spark, SF_SMOKE)
        gs2 = GraphSession(g2)
        rows = gs2.execute(f"CALL import_util.json('{d}') YIELD label, rows "
                           "RETURN label, rows").collect()
        assert rows[0].label == "Region" and rows[0].rows == 5
        assert g2.nodes["Region"].count() == 5


def test_text_search_index_aliases(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    rows = gs.execute("CALL text_search.search_all('documents', 'the', 5) "
                      "YIELD doc_id, score RETURN count(*) AS n").collect()
    assert rows[0].n > 0


def test_vector_search_procedure(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    gs = GraphSession(g)
    q = [float(v) for v in
         g.tables["embeddings"].filter("vec_id = 0")
         .select("embedding").first()[0]]
    rows = gs.execute(
        "CALL vector_search.search('embeddings', 3, $q) "
        "YIELD node, distance, similarity "
        "RETURN node, distance, similarity", params={"q": q}).collect()
    assert len(rows) == 3
    assert rows[0].node == 0 and abs(rows[0].similarity - 1.0) < 1e-6
    assert all(abs(1.0 - r.similarity - r.distance) < 1e-9 for r in rows)


def test_create_module(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    gs = GraphSession(g)
    rows = gs.execute("CALL create.node(['Widget'], {name: 'w1'}) "
                      "YIELD node RETURN node").collect()
    assert len(rows) == 1
    nid = rows[0].node
    assert g.nodes["Widget"].filter(F.col("id") == nid).count() == 1
    rows = gs.execute(
        "CALL create.relationship($a, 'LINKS', {kind: 'x'}, $b) "
        "YIELD relationship RETURN relationship",
        params={"a": nid, "b": nid}).collect()
    assert len(rows) == 1 and "LINKS" in g.edges
    rows = gs.execute("CALL create.set_property($n, 'color', 'red') "
                      "YIELD node RETURN node", params={"n": nid}).collect()
    assert rows[0].node == nid
    assert g.nodes["Widget"].filter(F.col("id") == nid) \
        .select("color").first()[0] == "red"
