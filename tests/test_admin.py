"""Admin statements: index DDL, constraints, ANALYZE GRAPH, SHOW ... INFO
(reference IndexQuery/ConstraintQuery/AnalyzeGraphQuery/StorageInfoQuery)."""

import pytest

from memgraph_spark.catalog import load_tpch_graph
from memgraph_spark.plans import GraphSession
from tests.conftest import SF_SMOKE


@pytest.fixture()
def gs(spark):
    return GraphSession(load_tpch_graph(spark, SF_SMOKE))


def test_index_ddl_and_show(gs):
    gs.execute("CREATE INDEX ON :Region")
    gs.execute("CREATE INDEX ON :Part(size)")
    rows = gs.execute("SHOW INDEX INFO").collect()
    info = {(r["index type"], r.label): r for r in rows}
    assert info[("label", "Region")]["count"] == 5
    assert info[("label+property", "Part")].property.va == ["size"]
    gs.execute("DROP INDEX ON :Region")
    rows = gs.execute("SHOW INDEX INFO").collect()
    assert all(r.label != "Region" for r in rows)


def test_constraints(gs):
    gs.execute("CREATE CONSTRAINT ON (n:Region) ASSERT EXISTS (n.name)")
    gs.execute("CREATE CONSTRAINT ON (n:Region) ASSERT n.key IS UNIQUE")
    rows = gs.execute("SHOW CONSTRAINT INFO").collect()
    kinds = {(r.constraint_type, r.label) for r in rows}
    assert ("exists", "Region") in kinds and ("unique", "Region") in kinds
    # a violated constraint is refused (order statuses are heavily repeated)
    with pytest.raises(Exception, match="violated"):
        gs.execute(
            "CREATE CONSTRAINT ON (n:Order) ASSERT n.orderstatus IS UNIQUE")
    rows = gs.execute("SHOW CONSTRAINT INFO").collect()
    assert all(r.label != "Order" for r in rows)  # rolled back


def test_storage_and_schema_info(gs):
    rows = {r.storage_info: r.value
            for r in gs.execute("SHOW STORAGE INFO").collect()}
    assert int(rows["vertex_count"]) > 0 and int(rows["edge_count"]) > 0
    assert rows["storage_mode"] == "IN_MEMORY_ANALYTICAL"
    schema = gs.execute("SHOW SCHEMA INFO").collect()
    assert len(schema) > 0


def test_analyze_graph(gs):
    rows = gs.execute("ANALYZE GRAPH ON LABELS :Region, :Nation").collect()
    by = {(r.label, tuple(r.property)): r for r in rows}
    r = by[("Region", ("name",))]
    assert r["num estimation nodes"] == 5 and r["num groups"] >= 4
    assert ("Nation", ("name",)) in by


def test_text_and_vector_index_ddl(gs):
    gs.execute("CREATE TEXT INDEX docidx ON :Document(text)")
    gs.execute("CREATE VECTOR INDEX embidx ON :Document(embedding) "
               "WITH CONFIG {\"dimension\": 64}")
    rows = gs.execute("SHOW INDEX INFO").collect()
    kinds = {(r["index type"], r.label) for r in rows}
    assert ("label_text (name: docidx)", "Document") in kinds
    assert ("label+property_vector", ":Document") in kinds
    gs.execute("DROP TEXT INDEX docidx")
    gs.execute("DROP VECTOR INDEX embidx")
    rows = gs.execute("SHOW INDEX INFO").collect()
    assert all("text" not in r["index type"]
               and "vector" not in r["index type"] for r in rows)


def test_show_databases_and_transactions(gs):
    rows = gs.execute("SHOW DATABASES").collect()
    assert [r.name for r in rows] == ["memgraph"]
    assert gs.execute("SHOW TRANSACTIONS").collect() == []


def test_enum_lifecycle(gs):
    gs.execute("CREATE ENUM Status VALUES { Good, Okay, Bad }")
    rows = gs.execute("SHOW ENUMS").collect()
    assert [(r["Enum Name"], list(r["Enum Values"])) for r in rows] == \
        [("Status", ["Good", "Okay", "Bad"])]
    gs.execute("CREATE (t:Task {tag: 'a', status: Status::Good})")
    gs.execute("CREATE (t:Task {tag: 'b', status: Status::Bad})")
    got = gs.execute("MATCH (t:Task) WHERE t.status = Status::Good "
                     "RETURN t.tag AS tag").collect()
    assert [r.tag for r in got] == ["a"]
    gs.execute("ALTER ENUM Status UPDATE VALUE Good TO Great")
    got = gs.execute("MATCH (t:Task) WHERE t.status = Status::Great "
                     "RETURN t.tag AS tag, t.status AS st").collect()
    assert [(r.tag, r.st["__value"]) for r in got] == \
        [("a", "Status::Great")]
    gs.execute("ALTER ENUM Status ADD VALUE Excellent")
    rows = gs.execute("SHOW ENUMS").collect()
    assert list(rows[0]["Enum Values"]) == ["Great", "Okay", "Bad", "Excellent"]
    with pytest.raises(ValueError):
        gs.execute("CREATE ENUM Status VALUES { X }")
    with pytest.raises(NotImplementedError):
        gs.execute("DROP ENUM Status")


def test_explain_profile(spark):
    """EXPLAIN/PROFILE statements (interpreter.cpp:4218, pretty_print.cpp):
    plan rows; PROFILE executes and appends wall time."""
    from memgraph_spark.catalog import load_tpch_graph
    from memgraph_spark.plans import GraphSession
    from tests.conftest import SF_SMOKE
    gs = GraphSession(load_tpch_graph(spark, SF_SMOKE))
    # EXPLAIN mirrors the reference's logical plan shape (QUERY PLAN rows);
    # the Spark physical plan remains under PROFILE / GraphSession.explain()
    rows = [r["QUERY PLAN"] for r in gs.execute(
        "EXPLAIN MATCH (p:Part) WHERE p.size > 40 RETURN p.name").collect()]
    assert rows[0].startswith(" * Produce")
    assert any("ScanAllByLabel" in x for x in rows)
    assert rows[-1] == " * Once"
    rows = [r["plan"] for r in gs.execute(
        "PROFILE MATCH (p:Part) RETURN count(*) AS n").collect()]
    assert "wall time" in rows[-1]


def test_profile_clock_covers_compile(gs, monkeypatch):
    """PROFILE's wall time starts before the inner statement compiles, so
    eager work done while compiling (writes, loop rounds) is counted: a
    parse slowed by 2 s shows up in the reported time of a statement that
    otherwise takes well under that once warm."""
    import time

    from memgraph_spark.plans import session as S
    q = "PROFILE MATCH (p:Part) RETURN count(*) AS n"
    gs.execute(q).collect()  # warm-up
    parse = S.parse

    def slow_parse(text):
        time.sleep(2.0)
        return parse(text)
    monkeypatch.setattr(S, "parse", slow_parse)
    last = gs.execute(q).collect()[-1]["plan"]
    assert last.startswith("-- total wall time: ")
    assert float(last.split(": ")[1].split()[0]) >= 2000.0
