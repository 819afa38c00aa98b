"""Observed schema + dump + constraints (SURVEY §1, §2.1).

Reference: SHOW SCHEMA INFO computes the observed (not declared) schema
(src/storage/v2/schema_info.cpp); DUMP DATABASE streams the graph back as
Cypher statements (src/query/dump.cpp, 1238 LoC); declared constraints are
existence / unique / type (src/storage/v2/constraints/*). Spark
re-expression: the schema IS the DataFrame schemas; dump is a generator over
the node/edge tables; constraints are validation queries over table versions
(violations as DataFrames — at lake scale these run as data-quality checks
per write batch, not per row).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.catalog import PropertyGraph
from memgraph_spark.session import empty_frame


def schema_info(graph: PropertyGraph) -> DataFrame:
    """SHOW SCHEMA INFO parity: one row per (kind, label/type, property,
    spark_type) observed in the catalog."""
    rows = []
    for label, df in sorted(graph.nodes.items()):
        for f in df.schema.fields:
            if f.name != "id":
                rows.append(("node", label, f.name, f.dataType.simpleString()))
    for etype, df in sorted(graph.edges.items()):
        for f in df.schema.fields:
            if f.name not in ("src", "dst", "eid"):
                rows.append(("edge", etype, f.name, f.dataType.simpleString()))
    return graph.spark.createDataFrame(
        rows, "kind string, name string, property string, type string")


def _cypher_value(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def dump_database(graph: PropertyGraph, batch_size: int = 10_000):
    """DUMP DATABASE parity (src/query/dump.cpp): yields Cypher statements
    re-creating the graph. Streams via toLocalIterator — the driver holds one
    partition at a time, never the whole table."""
    for label, df in sorted(graph.nodes.items()):
        props = [c for c in df.columns if c != "id"]
        for row in df.toLocalIterator():
            kv = ", ".join(
                f"{p}: {_cypher_value(row[p])}" for p in props
                if row[p] is not None)
            yield f"CREATE (:{label} {{{kv}}});"
    for etype, df in sorted(graph.edges.items()):
        props = [c for c in df.columns if c not in ("src", "dst", "eid")]
        for row in df.toLocalIterator():
            kv = ", ".join(
                f"{p}: {_cypher_value(row[p])}" for p in props
                if row[p] is not None)
            body = f" {{{kv}}}" if kv else ""
            yield (f"MATCH (a), (b) WHERE id(a) = {row['src']} "
                   f"AND id(b) = {row['dst']} "
                   f"CREATE (a)-[:{etype}{body}]->(b);")


@dataclass
class Constraint:
    kind: str        # exists | unique
    label: str
    properties: tuple[str, ...]


class ConstraintSet:
    """Declared constraints (Constraint::Type {EXISTS, UNIQUE, NODE_KEY,
    TYPE}, ast.hpp:3145) validated as queries over the current version."""

    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self._constraints: list[Constraint] = []

    def create_existence(self, label: str, prop: str) -> None:
        self._constraints.append(Constraint("exists", label, (prop,)))

    def create_unique(self, label: str, *props: str) -> None:
        self._constraints.append(Constraint("unique", label, tuple(props)))

    def show(self) -> list[Constraint]:
        return list(self._constraints)

    def violations(self, c: Constraint) -> DataFrame:
        """Rows violating one constraint (empty DataFrame == satisfied)."""
        df = self.graph.nodes.get(c.label)
        if df is None:
            return empty_frame(self.graph.spark, "id long")
        if c.kind == "exists":
            p = c.properties[0]
            if p not in df.columns:
                return df.select("id")
            return df.filter(F.col(p).isNull()).select("id")
        # unique: groups with >1 row on the key properties
        cols = [p for p in c.properties if p in df.columns]
        if len(cols) != len(c.properties):
            return empty_frame(self.graph.spark, "id long")
        dups = (df.groupBy(*cols).agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > 1).drop("__n"))
        return df.join(dups, on=cols, how="left_semi").select("id")

    def validate(self) -> dict[str, int]:
        """All constraints -> violation counts (run per write batch)."""
        return {
            f"{c.kind}({c.label}.{','.join(c.properties)})":
                self.violations(c).count()
            for c in self._constraints
        }
