"""Driver-bound rounds: `weighted_shortest_path` runs one superstep per
relaxation round (one broadcast, one groupBy over candidates and state, one
checkpoint job), the accumulating loops on `session.frontier` stay under
the job counts of their hand-rolled predecessors, and sessions from
`get_spark` skip pyspark's per-call Python call-site capture. Job counts
are read from job groups through `statusTracker`
(`conftest.settle_listeners`)."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

import memgraph_spark.session as S
from memgraph_spark.catalog import PropertyGraph, load_tpch_graph
from memgraph_spark.operators.expand import weighted_shortest_path
from memgraph_spark.operators.kshortest import shortest_path_with_nodes
from memgraph_spark.plans import GraphSession
from memgraph_spark.procedures import PROCEDURES, register, unregister
from tests.conftest import SF_SMOKE, count_jobs, settle_listeners

# 1 -> 2 -> 3 -> 4 with a dearer shortcut 1 -> 3: round 1 reaches 2 and 3
# (via the shortcut), round 2 improves 3, round 3 reaches 4, round 4 finds
# nothing fresh and halts
DAG = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 3, 5.0)]
DAG_COST = {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}
# a cycle, a self-loop, a zero-weight edge and a parallel pair
CYCLIC = [(1, 2, 2.0), (2, 3, 0.0), (3, 1, 1.0), (3, 3, 4.0), (1, 4, 7.0),
          (4, 3, 1.0), (1, 2, 1.5)]


def _graph(spark, edges) -> PropertyGraph:
    ids = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges}) or [1]
    return PropertyGraph(
        spark,
        nodes={"N": spark.createDataFrame([(i,) for i in ids], "id long")},
        edges={"E": spark.createDataFrame(
            [(a, b, i, w) for i, (a, b, w) in enumerate(edges)],
            "src long, dst long, eid long, w double")})


def _sources(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _rows(df) -> list:
    return sorted((r.start, r.id, r.cost) for r in df.collect())


def _nx(edges, direction):
    G = nx.MultiDiGraph()
    G.add_weighted_edges_from(edges)
    if direction == "in":
        return G.reverse(copy=True)
    if direction == "both":
        return nx.MultiGraph(G)
    return G


def test_relaxation_rounds_run_few_jobs(spark, monkeypatch):
    g = _graph(spark, DAG)
    sc = spark.sparkContext
    group = "wsp-rounds"
    marks = []
    checkpoint = S.checkpoint_with_metrics

    def counted(df, **aggs):
        out = checkpoint(df, **aggs)
        settle_listeners(spark)
        marks.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    monkeypatch.setattr(S, "checkpoint_with_metrics", counted)
    sc.setJobGroup(group, group)
    try:
        out = weighted_shortest_path(g, _sources(spark, 1), "E", "w")
    finally:
        sc.setJobGroup(None, None)
    assert _rows(out) == [(1, i, c) for i, c in sorted(DAG_COST.items())]
    # marks[0] is the start checkpoint; then one mark per round
    rounds = [b - a for a, b in zip(marks, marks[1:])]
    assert marks[0] == 1 and len(rounds) == 4, marks
    # the first round reads the edges from their source and persists
    # them; later rounds read the cache
    assert rounds[0] <= 4, rounds
    assert max(rounds[1:]) <= 3, rounds


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_directions_match_networkx(spark, direction):
    g = _graph(spark, CYCLIC)
    for src in (1, 3):
        ours = {r.id: r.cost for r in weighted_shortest_path(
            g, _sources(spark, src), "E", "w", direction=direction).collect()}
        want = nx.single_source_dijkstra_path_length(
            _nx(CYCLIC, direction), src)
        assert ours == pytest.approx(want), (direction, src)


def test_duplicate_starts_give_one_row_per_pair(spark):
    g = _graph(spark, DAG)
    out = weighted_shortest_path(g, _sources(spark, 1, 1, 2, 1), "E", "w")
    assert _rows(out) == sorted(
        [(1, i, c) for i, c in DAG_COST.items()]
        + [(2, 2, 0.0), (2, 3, 1.0), (2, 4, 2.0)])


def test_duplicate_starts_when_the_loop_halts_at_init(spark):
    g = _graph(spark, DAG)
    # node 4 has no out-edges: the one round finds nothing fresh
    assert _rows(weighted_shortest_path(
        g, _sources(spark, 4, 4), "E", "w")) == [(4, 4, 0.0)]
    # no round runs at all
    assert _rows(weighted_shortest_path(
        g, _sources(spark, 1, 1, 3), "E", "w", max_iterations=0)) == \
        [(1, 1, 0.0), (3, 3, 0.0)]
    assert _rows(weighted_shortest_path(
        g, _sources(spark), "E", "w")) == []


def test_max_iterations_bounds_the_rounds(spark):
    g = _graph(spark, DAG)
    out = weighted_shortest_path(g, _sources(spark, 1), "E", "w",
                                 max_iterations=1)
    assert _rows(out) == [(1, 1, 0.0), (1, 2, 1.0), (1, 3, 5.0)]


def test_callers_keep_their_output(spark):
    g = _graph(spark, CYCLIC)
    G = _nx(CYCLIC, "out")
    path, cost = shortest_path_with_nodes(g, 1, 4, weight_col="w")
    assert cost == nx.dijkstra_path_length(G, 1, 4)
    assert path[0] == 1 and path[-1] == 4
    rows = PROCEDURES["igraphalg.all_shortest_path_lengths"](g, "w").collect()
    assert {(r.src_node, r.dest_node): r.length for r in rows} == \
        pytest.approx({(s, t): d for s, dd in
                       nx.all_pairs_dijkstra_path_length(G) for t, d in
                       dd.items()})


def test_sessions_skip_call_site_capture(spark):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("nosuch")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_unresolved_column_is_a_bolt_failure(spark):
    from tests.test_bolt import _login, _roundtrip
    from memgraph_spark.server import BoltServer
    from memgraph_spark.server.bolt import FAILURE, RESET, RUN, SUCCESS
    g = _graph(spark, DAG)
    register("test.unresolved", lambda g: g.node("N").select("nosuch"))
    srv = BoltServer(g, port=0).start()
    try:
        sock = _login(srv)
        resp = _roundtrip(sock, RUN, "CALL test.unresolved() YIELD nosuch "
                          "RETURN nosuch", {}, {})
        assert resp.tag == FAILURE
        assert resp.fields[0]["code"] == \
            "Memgraph.ClientError.MemgraphError.MemgraphError"
        assert "UNRESOLVED_COLUMN" in resp.fields[0]["message"]
        assert _roundtrip(sock, RESET).tag == SUCCESS
        sock.close()
    finally:
        srv.stop()
        unregister("test.unresolved")


def test_frontier_keeps_every_round_until_one_is_empty(spark):
    def shrink(rounds, trace):
        return rounds[-1].filter("id > 0").selectExpr("id - 1 AS id")

    rounds, trace = S.frontier(spark.range(3), shrink)
    # the fourth round is empty: freed and not kept
    assert [sorted(r.id for r in x.collect()) for x in rounds] == \
        [[0, 1, 2], [0, 1], [0]]
    assert [m["n"] for m in trace] == [3, 2, 1]
    assert len(S.frontier(spark.range(3), shrink, max_rounds=1)[0]) == 2
    rounds, trace = S.frontier(spark.range(3), shrink,
                               lambda t: t[-1]["low"] == 0,
                               low=F.min("id"))
    assert len(rounds) == 1 and trace == [{"n": 3, "low": 0}]


# Spark jobs of one warm run on sf0.001 from the customer with the smallest
# id; the ceilings are the counts the hand-rolled loops ran
FRONTIER_CEILINGS = [
    ("MATCH (c)-[*1..3]->(x) WHERE id(c) = $id RETURN count(*)", 9),
    ("MATCH (c)-[*bfs ..3]->(x) WHERE id(c) = $id RETURN count(*)", 22),
    ("CALL path.expand($id, [], [], 1, 4) YIELD result RETURN count(*)", 15),
    ("CALL igraphalg.get_all_simple_paths($id, $id, 4) YIELD path "
     "RETURN count(*)", 17),
]


@pytest.fixture(scope="module")
def tpch(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    cid = gs.execute("MATCH (c:Customer) RETURN id(c) AS i ORDER BY i "
                     "LIMIT 1").collect()[0].i
    return gs, cid


@pytest.mark.parametrize("query,ceiling", FRONTIER_CEILINGS)
def test_frontier_loops_stay_under_their_job_ceilings(spark, tpch, query,
                                                      ceiling):
    gs, cid = tpch
    gs.execute(query, {"id": cid}).collect()  # warm the persisted edges
    jobs = count_jobs(spark, lambda: gs.execute(query, {"id": cid}).collect())
    assert jobs <= ceiling, (query, jobs)
