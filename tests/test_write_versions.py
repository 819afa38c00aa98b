"""Write versions stay flat: a read after CREATE/SET pays no Spark job for
an earlier write's MATCH or update set.

A write delta of at most `writes.LOCAL_DELTA_MAX` rows is a LocalRelation
(catalog "versioned writes"): a CREATE evaluates its matched frame once, a
SET of atomic values becomes literals in the new version (any other SET
joins its update set by broadcast), and every 12th version is coalesced
back to the partitions the table had before. Above the limit a delta is an
eager localCheckpoint, with the same results and no more jobs. Job counts are read from job groups
through `statusTracker` (`conftest.count_jobs`)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from memgraph_spark.catalog import PropertyGraph, load_tpch_graph
from memgraph_spark.plans import GraphSession, writes
from tests.conftest import SF_SMOKE, count_jobs

SEGMENT = "WRITEVERS"
# the statement mix of the bolt_rw benchmark workload: point and 1-hop
# reads beside node, edge and property writes
STATEMENTS = {
    "point": "MATCH (c:Customer {key: $k}) "
             "RETURN c.name AS name, c.acctbal AS acctbal",
    "expand": "MATCH (c:Customer {key: $k})-[:PLACED]->(o:Order) "
              "RETURN count(o) AS n_orders",
    "create": "CREATE (:Customer {key: $k, name: $name, acctbal: 0.0, "
              "mktsegment: '" + SEGMENT + "'})",
    "create_edge": "MATCH (c:Customer {key: $k}), (o:Order {key: $o}) "
                   "CREATE (c)-[:PLACED]->(o)",
    "set": "MATCH (c:Customer {key: $k}) SET c.acctbal = c.acctbal + 1.0",
}
MAX_JOBS = {"point": 10, "expand": 12}


def _drain(spark, gs, query, params=None) -> tuple[list, int]:
    """(rows, Spark jobs) of one statement, drained row by row like the
    Bolt server streams it."""
    out = []
    jobs = count_jobs(spark, lambda: out.extend(
        tuple(r) for r in gs.execute(query, params or {}).toLocalIterator()))
    return out, jobs


class _Model:
    """Expected customer names, balances and PLACED counts."""

    def __init__(self, gs: GraphSession) -> None:
        rows = gs.execute("MATCH (c:Customer) RETURN c.key AS k, "
                          "c.name AS name, c.acctbal AS bal").collect()
        self.name = {r.k: r.name for r in rows}
        self.bal = {r.k: r.bal for r in rows}
        self.orders = dict.fromkeys(self.name, 0)
        for r in gs.execute("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                            "RETURN c.key AS k, count(o) AS n").collect():
            self.orders[r.k] = r.n
        self.order_keys = sorted(r.k for r in gs.execute(
            "MATCH (o:Order) RETURN o.key AS k").collect())
        self.created = 0

    def expect(self, cls: str, p: dict) -> list:
        k = p.get("k")
        if cls == "point":
            return [(self.name[k], pytest.approx(self.bal[k]))]
        if cls == "expand":
            return [(self.orders[k],)]
        if cls == "create":
            self.created += 1
        elif cls == "create_edge":
            self.orders[k] += 1
        elif cls == "set":
            self.bal[k] += 1.0
        return []


def test_bolt_rw_mix_reads_stay_flat(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    model = _Model(gs)
    keys = sorted(model.name)
    rng = random.Random(9)
    worst = dict.fromkeys(STATEMENTS, 0)
    for block in range(24):
        order = list(STATEMENTS)
        rng.shuffle(order)
        for cls in order:
            if cls == "create":
                k = 10**9 + block
                params = {"k": k, "name": f"W#{k}"}
            else:
                params = {"k": rng.choice(keys)}
            if cls == "create_edge":
                params["o"] = rng.choice(model.order_keys)
            rows, jobs = _drain(spark, gs, STATEMENTS[cls], params)
            assert rows == model.expect(cls, params), (block, cls, params)
            if cls in MAX_JOBS:
                assert jobs <= MAX_JOBS[cls], (block, cls, jobs)
            worst[cls] = max(worst[cls], jobs)
    (created, total), = gs.execute(
        "MATCH (c:Customer) RETURN sum(CASE WHEN c.mktsegment = $s "
        "THEN 1 ELSE 0 END) AS created, sum(c.acctbal) AS total",
        {"s": SEGMENT}).collect()
    assert created == model.created == 24
    assert total == pytest.approx(sum(model.bal.values()))
    (placed,), = gs.execute("MATCH (:Customer)-[r:PLACED]->(:Order) "
                            "RETURN count(r) AS n").collect()
    assert placed == sum(model.orders.values())
    # the worst read of the mix, not just the last one, stayed bounded
    assert worst["point"] <= MAX_JOBS["point"]
    assert worst["expand"] <= MAX_JOBS["expand"]


def test_point_read_after_sets_runs_one_job(spark):
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    point = "MATCH (c:Customer {key: 7}) RETURN c.acctbal AS b"
    (b0,), = gs.execute(point).collect()
    for _ in range(11):
        gs.execute("MATCH (c:Customer {key: 7}) SET c.acctbal = "
                   "c.acctbal + 1.0")
        assert gs.last_summary["properties_set"] == 1
    rows, jobs = _drain(spark, gs, point)
    assert rows == [(pytest.approx(b0 + 11),)]
    # every SET version is a projection over literals: no broadcast job
    assert jobs == 1


def _tiny(spark) -> PropertyGraph:
    return PropertyGraph(
        spark,
        nodes={"P": spark.createDataFrame(
            [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
            "id long, name string, p long")},
        edges={"KNOWS": spark.createDataFrame(
            [(1, 2, 5), (2, 3, 6)], "src long, dst long, eid long")})


def _script(spark, statements) -> list:
    """Every statement's rows and non-zero counters, on a fresh graph."""
    gs = GraphSession(_tiny(spark))
    out = []
    for q in statements:
        rows = [tuple(r) for r in gs.execute(q).collect()]
        out.append((q, rows, {k: v for k, v in
                              (gs.last_summary or {}).items() if v}))
    return out


TYPE_CHANGES = [
    "MATCH (n:P {name: 'a'}) SET n.p = 2.5",
    "MATCH (n:P) RETURN n.name AS n, n.p AS p ORDER BY n",
    "MATCH (n:P {name: 'a'}) SET n.p = 'x'",
    "MATCH (n:P) RETURN n.name AS n, n.p AS p ORDER BY n",
    "MATCH (n:P {name: 'b'}) SET n.p = 7",
    "MATCH (n:P) RETURN n.name AS n, n.p AS p ORDER BY n",
    # a list is not an atomic value: its update set is joined
    "MATCH (n:P {name: 'c'}) SET n.p = [1, 2]",
    "MATCH (n:P) RETURN n.name AS n, n.p AS p ORDER BY n",
]


def _variant(v):
    """The value a variant-struct property holds."""
    return next(x for x in (v.vb, v.vi, v.vd, v.vs, v.va, v.vj)
                if x is not None)


def test_set_changes_property_type_over_local_deltas(spark, monkeypatch):
    got = _script(spark, TYPE_CHANGES)
    reads = [[(n, _variant(v)) for n, v in rows]
             for q, rows, _ in got if "RETURN" in q]
    assert reads == [[("a", 2.5), ("b", 2), ("c", 3)],
                     [("a", "x"), ("b", 2), ("c", 3)],
                     [("a", "x"), ("b", 7), ("c", 3)],
                     # a list lifts to its JSON text (the vj field)
                     [("a", "x"), ("b", 7), ("c", "[1,2]")]]
    assert [c for _, _, c in got if c] == [{"properties_set": 1}] * 4
    monkeypatch.setattr(writes, "LOCAL_DELTA_MAX", 0)
    assert _script(spark, TYPE_CHANGES) == got


def test_edge_set_after_create_rewrites_only_its_type(spark):
    g = _tiny(spark)
    gs = GraphSession(g)
    gs.execute("MATCH (a:P {name: 'a'}), (c:P {name: 'c'}) "
               "CREATE (a)-[:LIKES {w: 1}]->(c)")
    knows = g.edges["KNOWS"]
    g.adjacency("KNOWS")
    gs.execute("MATCH ()-[r:LIKES]->() SET r.w = r.w + 1")
    assert gs.last_summary["properties_set"] == 1
    assert g.edges["KNOWS"] is knows
    assert ("KNOWS", "out") in g._adj_cache
    gs.execute("MATCH (:P {name: 'a'})-[r]->() SET r.tag = 't'")
    assert gs.last_summary["properties_set"] == 2
    rows = gs.execute("MATCH (x)-[r]->(y) RETURN type(r) AS t, x.name AS x, "
                      "y.name AS y, r.w AS w, r.tag AS tag "
                      "ORDER BY t, x").collect()
    assert [tuple(r) for r in rows] == [
        ("KNOWS", "a", "b", None, "t"), ("KNOWS", "b", "c", None, None),
        ("LIKES", "a", "c", 2, "t")]


def test_delete_touches_only_tables_holding_victims(spark, monkeypatch):
    for limit in (writes.LOCAL_DELTA_MAX, 0):
        monkeypatch.setattr(writes, "LOCAL_DELTA_MAX", limit)
        g = load_tpch_graph(spark, SF_SMOKE)
        gs = GraphSession(g)
        (n_placed,), = gs.execute(
            "MATCH (c:Customer {key: 3})-[r]-() RETURN count(r) AS n"
        ).collect()
        assert n_placed > 0
        orders, region = g.nodes["Order"], g.nodes["Region"]
        gs.execute("MATCH (c:Customer {key: 3}) DETACH DELETE c")
        assert gs.last_summary["nodes_deleted"] == 1
        assert gs.last_summary["relationships_deleted"] == n_placed
        assert g.nodes["Order"] is orders and g.nodes["Region"] is region
        (n_in,), = gs.execute(
            "MATCH (:Nation {key: 1})-[r:IN_REGION]->() RETURN count(r) AS n"
        ).collect()
        placed = g.edges["PLACED"]
        gs.execute("MATCH (:Nation {key: 1})-[r:IN_REGION]->() DELETE r")
        assert gs.last_summary["relationships_deleted"] == n_in
        assert g.edges["PLACED"] is placed
        assert gs.execute("MATCH (c:Customer {key: 3}) RETURN c"
                          ).collect() == []


def test_delete_keeps_rows_with_null_keys(spark):
    g = _tiny(spark)
    g.edges["KNOWS"] = spark.createDataFrame(
        [(1, 2, 5), (2, 3, None)], "src long, dst long, eid long")
    gs = GraphSession(g)
    gs.execute("MATCH (:P {name: 'a'})-[r:KNOWS]->() DELETE r")
    assert gs.last_summary["relationships_deleted"] == 1
    assert [r.asDict() for r in g.edges["KNOWS"].collect()] == [
        {"src": 2, "dst": 3, "eid": None}]


ABOVE_LIMIT = [
    "MATCH (n:P) SET n.p = n.p * 10",
    "MATCH (n:P) WHERE n.p > 10 SET n.q = n.name + '!'",
    "MATCH (n:P) CREATE (n)-[:OWNS]->(:Item {of: n.name})",
    "MATCH (n:P)-[r:OWNS]->(i:Item) SET r.since = n.p",
    "MATCH (i:Item) RETURN i.of AS of ORDER BY of",
    "MATCH (n:P)-[r]->(m) RETURN n.name AS n, n.p AS p, n.q AS q, "
    "type(r) AS t, r.since AS s, coalesce(m.name, m.of) AS m ORDER BY n, t",
    "MATCH (n:P {name: 'b'}) DETACH DELETE n",
    "MATCH ()-[r:OWNS]->() DELETE r",
    "MATCH (n) RETURN count(n) AS c",
    "MATCH ()-[r]->() RETURN count(r) AS c",
]


def test_sets_above_the_row_limit_take_the_checkpoint_path(spark,
                                                           monkeypatch):
    local = _script(spark, ABOVE_LIMIT)
    assert local[0][2] == {"properties_set": 3}
    assert local[2][2] == {"nodes_created": 3, "relationships_created": 3}
    assert local[6][2] == {"nodes_deleted": 1, "relationships_deleted": 3}
    assert local[7][2] == {"relationships_deleted": 2}
    assert local[-2][1] == [(5,)] and local[-1][1] == [(0,)]
    monkeypatch.setattr(writes, "LOCAL_DELTA_MAX", 1)
    pinned = []
    real = writes._pin

    def spy(df, fits=None, **sets):
        out = real(df, fits, **sets)
        pinned.append(out[0]._jdf.queryExecution().analyzed().getClass()
                      .getSimpleName())
        return out
    monkeypatch.setattr(writes, "_pin", spy)
    assert _script(spark, ABOVE_LIMIT) == local
    assert "LogicalRDD" in pinned


def test_create_above_the_row_limit_checkpoints_once(spark, monkeypatch):
    """Above the limit a multi-row MATCH ... CREATE runs no more jobs than
    a count and one checkpoint, the 4 jobs it ran before LocalRelation
    deltas: the bounded collect takes the count's place, and the created
    rows are checkpointed once, from the blocks that collect filled."""
    monkeypatch.setattr(writes, "LOCAL_DELTA_MAX", 1)
    g = _tiny(spark)
    gs = GraphSession(g)
    # seed the key and edge-id allocators (one job per table, once)
    gs.execute("MATCH (a:P {name: 'a'}) CREATE (a)-[:OWNS]->(:Item {of: 'a'})")
    checkpoints = []
    real = writes.checkpoint_with_metrics

    def spy(df, **aggs):
        checkpoints.append(df)
        return real(df, **aggs)
    monkeypatch.setattr(writes, "checkpoint_with_metrics", spy)
    jobs = count_jobs(spark, lambda: gs.execute(
        "MATCH (n:P) CREATE (:Item {of: n.name})"))
    assert gs.last_summary["nodes_created"] == 3
    assert jobs <= 4 and len(checkpoints) == 1
    jobs = count_jobs(spark, lambda: gs.execute(
        "MATCH (x:P), (y:P) WHERE x.p < y.p CREATE (x)-[:OWNS]->(y)"))
    assert gs.last_summary["relationships_created"] == 3
    assert jobs <= 4 and len(checkpoints) == 2
    rows = gs.execute("MATCH (i:Item) RETURN id(i) AS id, i.of AS of "
                      "ORDER BY of").collect()
    assert [r.of for r in rows] == ["a", "a", "b", "c"]
    assert len({r.id for r in rows}) == 4
    eids = [r.e for r in gs.execute(
        "MATCH ()-[r:OWNS]->() RETURN id(r) AS e ORDER BY e").collect()]
    assert len(eids) == 4 and eids == list(range(eids[0], eids[0] + 4))


def test_consolidated_version_keeps_few_partitions(spark):
    """The sf0.001 Customer table has one partition, and so does its 12th
    version: the 12 one-row deltas are absorbed."""
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    for i in range(12):
        gs.execute("CREATE (:Customer {key: $k, name: 'x', acctbal: 0.0})",
                   {"k": 2 * 10**9 + i})
    customers = gs.graph.nodes["Customer"]
    plan = customers._jdf.queryExecution().analyzed()
    assert customers.rdd.getNumPartitions() == 1, plan.toString()
    assert customers.filter(F.col("key") >= 2 * 10**9).count() == 12


def test_consolidated_version_keeps_the_loaded_partitions(spark):
    g = _tiny(spark)
    g.nodes["P"] = g.nodes["P"].repartition(3)
    gs = GraphSession(g)
    for i in range(12):
        gs.execute("CREATE (:P {name: $n, p: 0})", {"n": f"x{i}"})
    assert g.nodes["P"].rdd.getNumPartitions() == 3
    assert g.nodes["P"].count() == 15
    for i in range(12):
        gs.execute("MATCH (n:P {name: 'a'}) SET n.p = $p", {"p": i})
    assert g.nodes["P"].rdd.getNumPartitions() == 3
    assert gs.execute("MATCH (n:P {name: 'a'}) RETURN n.p AS p"
                      ).collect()[0].p == 11


def test_edge_id_seed_is_one_job(spark):
    g = load_tpch_graph(spark, SF_SMOKE)
    tables = [df for df in g.edges.values() if "eid" in df.columns]
    assert len(tables) > 1
    top = max(r[0] for r in (df.agg(F.max("eid")).first() for df in tables)
              if r[0] is not None)
    base = []
    assert count_jobs(spark, lambda: base.append(g.alloc_edge_ids(2))) == 1
    assert base == [top + 1]
    assert count_jobs(spark, lambda: base.append(g.alloc_edge_ids(1))) == 0
    assert base[1] == top + 3
    assert _tiny(spark).alloc_edge_ids(1) == 7
    assert PropertyGraph(spark, nodes={}, edges={}).alloc_edge_ids(1) == 0
