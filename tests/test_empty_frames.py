"""Empty results cost no Spark job.

Write-only statements, DDL acks, empty procedure outputs and the catalog
fallbacks are built by `session.empty_frame`, which Catalyst folds to an
empty local relation: draining one with `toLocalIterator()` or `collect()`
starts no job, where the RDD-backed `createDataFrame([], schema)` starts one
per partition. Job counts are read from job groups through `statusTracker`,
after the listener bus has delivered every event."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import types as T

from memgraph_spark.catalog import PropertyGraph, load_tpch_graph
from memgraph_spark.plans import GraphSession
from memgraph_spark.plans.session import WRITE_COUNTERS
from memgraph_spark.server import BoltServer
from memgraph_spark.server.bolt import PULL, RECORD, RUN, SUCCESS, \
    read_message, write_message
from memgraph_spark.session import empty_frame
from tests.conftest import SF_SMOKE, count_jobs, settle_listeners
from tests.test_bolt import _login, _roundtrip


def _drain_jobs(spark, df) -> tuple[int, int]:
    return (count_jobs(spark, lambda: list(df.toLocalIterator())),
            count_jobs(spark, df.collect))


def _graph(spark) -> PropertyGraph:
    return PropertyGraph(
        spark,
        nodes={"P": spark.createDataFrame(
            [(1, "ana", 30), (2, "bob", 25)], "id long, name string, age long")},
        edges={"KNOWS": spark.createDataFrame(
            [(1, 2, 5)], "src long, dst long, eid long")})


def test_rdd_backed_empty_frame_runs_jobs(spark):
    """Control for the zero counts below: the job count does see the
    per-partition jobs of an unfolded empty frame."""
    df = spark.createDataFrame([], "x long")
    iterate, collect = _drain_jobs(spark, df)
    assert iterate >= 1 and collect >= 1


def test_write_only_create_result_runs_no_job(spark):
    gs = GraphSession(_graph(spark))
    df = gs.execute("CREATE (:P {name: 'cy', age: 40})")
    assert df.columns == list(WRITE_COUNTERS)
    assert gs.last_summary["nodes_created"] == 1
    assert _drain_jobs(spark, df) == (0, 0)
    assert df.collect() == []


def test_set_result_runs_no_job_and_counts_exactly(spark):
    gs = GraphSession(_graph(spark))
    df = gs.execute("MATCH (p:P) SET p.age = p.age + 1")
    assert df.columns == list(WRITE_COUNTERS)
    assert gs.last_summary["properties_set"] == 2
    assert _drain_jobs(spark, df) == (0, 0)
    rows = gs.execute("MATCH (p:P) RETURN p.age AS a ORDER BY a").collect()
    assert [r.a for r in rows] == [26, 31]
    gs.execute("MATCH ()-[r:KNOWS]->() SET r.w = 7")
    assert gs.last_summary["properties_set"] == 1
    gs.execute("MATCH (p:P {name: 'ana'}) SET p.m = {a: 1}")
    gs.execute("MATCH (p:P {name: 'ana'}) SET p.m.b = 2")
    assert gs.last_summary["properties_set"] == 1


def test_set_on_code_pruned_labels_counts_exactly(spark):
    """Engine-minted label ids take the label-code pruning path, whose one
    collect of (code, count) also yields the properties_set counter."""
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    before = {r.key: r.b for r in gs.execute(
        "MATCH (c:Customer) WHERE c.key <= 3 "
        "RETURN c.key AS key, c.acctbal AS b").collect()}
    df = gs.execute("MATCH (c:Customer) WHERE c.key <= 3 "
                    "SET c.acctbal = c.acctbal + 1.0")
    assert gs.last_summary["properties_set"] == len(before) == 4
    assert _drain_jobs(spark, df) == (0, 0)
    after = {r.key: r.b for r in gs.execute(
        "MATCH (c:Customer) WHERE c.key <= 3 "
        "RETURN c.key AS key, c.acctbal AS b").collect()}
    assert after == {k: pytest.approx(b + 1.0) for k, b in before.items()}


def test_admin_ddl_ack_runs_no_job(spark):
    gs = GraphSession(_graph(spark))
    df = gs.execute("CREATE EDGE INDEX ON :KNOWS(w)")
    assert df.columns == ["status"]
    assert _drain_jobs(spark, df) == (0, 0)


@pytest.mark.parametrize("schema", [
    T.StructType([]),
    "x void, y long",
    "m map<string, array<struct<a: int, b: array<double>>>>, "
    "s struct<id: bigint, labels: array<string>>",
])
def test_empty_frame_keeps_schema(spark, schema):
    want = spark.createDataFrame([], schema).schema
    df = empty_frame(spark, schema)
    assert df.schema == want
    assert df.collect() == []
    assert _drain_jobs(spark, df) == (0, 0)


@pytest.fixture(scope="module")
def server(spark):
    srv = BoltServer(_graph(spark), port=0).start()
    yield srv
    srv.stop()


def _pull_all(sock) -> tuple[list, dict]:
    write_message(sock, PULL, {"n": -1})
    records = []
    while True:
        msg = read_message(sock)
        if msg.tag == SUCCESS:
            return records, msg.fields[0]
        assert msg.tag == RECORD
        records.append(msg.fields[0])


def test_bolt_write_pull_sends_no_record_and_runs_no_job(spark, server):
    sock = _login(server)
    resp = _roundtrip(sock, RUN, "CREATE (:P {name: 'dee', age: 50})",
                      {}, {})
    assert resp.tag == SUCCESS
    assert resp.fields[0]["fields"] == list(WRITE_COUNTERS)
    settle_listeners(spark)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    records, meta = _pull_all(sock)
    settle_listeners(spark)
    assert records == []
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert meta["type"] == "r"
    _roundtrip(sock, RUN, "MATCH (p:P {name: 'dee'}) RETURN p.age AS a",
               {}, {})
    assert _pull_all(sock)[0] == [[50]]
    sock.close()


def test_source_builds_empty_frames_only_through_helper():
    """Every empty DataFrame in the package goes through `empty_frame`;
    a bare `createDataFrame([], ...)` brings the per-partition jobs back."""
    root = Path(__file__).resolve().parents[1] / "memgraph_spark"
    bare = re.compile(r"createDataFrame\(\s*\[\s*\]")
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        allowed = range(0)
        if path.name == "session.py" and path.parent == root:
            fn = next(n for n in ast.parse(text).body
                      if isinstance(n, ast.FunctionDef)
                      and n.name == "empty_frame")
            allowed = range(fn.lineno, fn.end_lineno + 1)
        for m in bare.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            if line not in allowed:
                offenders.append(f"{path.relative_to(root.parent)}:{line}")
    assert not offenders, offenders
