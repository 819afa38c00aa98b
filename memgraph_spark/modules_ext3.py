"""Utility-module batch 4: meta_util, mgps (Neo4j-compat shim),
cross_database / elastic_search / embeddings connector gates.

Reference: src/mage/python/meta_util.py, query_modules/mgps.py,
src/mage/python/cross_database.py, elastic_search_serialization.py,
embeddings.py. The connector modules need external drivers (neo4j, mysql,
elasticsearch, torch) that are absent here; they register with the full
reference signature and raise NotImplementedError naming the missing
dependency — the exact behaviour the reference exhibits when its own
imports fail at module load.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from memgraph_spark.procedures import register
from memgraph_spark.session import empty_frame

# ---------------------------------------------------------------------------
# meta_util.schema (src/mage/python/meta_util.py:33)
# ---------------------------------------------------------------------------

_INTERNAL = {"id", "src", "dst", "eid", "labels", "type"}


def _meta_util_schema(g, include_properties: bool = False):
    """meta_util.schema([include_properties]) YIELD nodes, relationships —
    label/type counts (+ per-property non-null counts), computed as one
    aggregate per table instead of the reference's whole-graph iteration."""
    import json

    def counts(df):
        props = [c for c in df.columns if c not in _INTERNAL]
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.count(F.col(p)).alias(p) for p in props]
        row = df.agg(*aggs).first()
        return row["__n"], {p: row[p] for p in props if row[p]}

    nodes = []
    for label, df in sorted(g.nodes.items()):
        n, by_prop = counts(df)
        entry = {"labels": [label], "count": n}
        if include_properties:
            entry["properties_count"] = by_prop
        nodes.append(json.dumps(entry, sort_keys=True))
    rels = []
    for etype, df in sorted(g.edges.items()):
        n, by_prop = counts(df)
        entry = {"type": etype, "count": n}
        if include_properties:
            entry["properties_count"] = by_prop
        rels.append(json.dumps(entry, sort_keys=True))
    return g.spark.createDataFrame(
        [(nodes, rels)], "nodes array<string>, relationships array<string>")


# ---------------------------------------------------------------------------
# mgps.* — Neo4j-compatibility shim used by the Apache Spark Connector
# (query_modules/mgps.py)
# ---------------------------------------------------------------------------

_VERSION = "5.9.0"


def _mgps_components(g):
    """mgps.components() YIELD versions, edition, name (mgps.py:5)."""
    rows = [([_VERSION], "community", "Memgraph"),
            ([_VERSION], "community", "Neo4j Kernel")]
    return g.spark.createDataFrame(
        rows, "versions array<string>, edition string, name string")


def _mgps_await_indexes(g, seconds: int = 300):
    """mgps.await_indexes(seconds) — no-op: index registration is
    synchronous here too (mgps.py:15)."""
    return empty_frame(g.spark, "done boolean")


def _mgps_validate(g, predicate, message, params):
    """mgps.validate(predicate, message, params) — raise when predicate
    holds (mgps.py:36)."""
    if predicate:
        raise ValueError(str(message) % tuple(params or []))
    return empty_frame(g.spark, "ok boolean")


# ---------------------------------------------------------------------------
# connector gates
# ---------------------------------------------------------------------------

def _gated(module: str, proc: str, dependency: str):
    def stub(g, *args, **kwargs):
        raise NotImplementedError(
            f"{module}.{proc} requires the '{dependency}' package/driver, "
            "not available in this environment (the reference gates the "
            "same way on its import)")
    stub.__doc__ = (f"{module}.{proc} — connector gate; needs {dependency} "
                    f"(src/mage/python/{module}.py).")
    return stub


for _proc in ("bolt", "neo4j", "init_migrate_neo4j", "cleanup_migrate_neo4j"):
    register(f"cross_database.{_proc}",
             _gated("cross_database", _proc, "neo4j bolt driver"))
for _proc, _dep in (("mysql", "mysql-connector-python"),
                    ("sql_server", "pyodbc"),
                    ("oracle_db", "oracledb")):
    register(f"cross_database.{_proc}", _gated("cross_database", _proc, _dep))
for _proc in ("connect", "create_index", "index_db", "index", "reindex",
              "scan", "search"):
    register(f"elastic_search.{_proc}",
             _gated("elastic_search_serialization", _proc, "elasticsearch"))
register("embeddings.compute",
         _gated("embeddings", "compute", "torch/sentence-transformers"))

def _util_md5_proc(g, values):
    """util_module.md5(values) YIELD result — procedure form of the util.md5
    magic function (src/mage/cpp/util_module: Md5Procedure + Md5Function over
    the same body). Input is a value or list; elements concatenate."""
    import hashlib
    vals = values if isinstance(values, (list, tuple)) else [values]
    digest = hashlib.md5(
        "".join(str(v) for v in vals).encode()).hexdigest()
    return g.spark.createDataFrame([(digest,)], "result string")


register("util_module.md5", _util_md5_proc)
register("util.md5_proc", _util_md5_proc)
register("meta_util.schema", _meta_util_schema)
register("mgps.components", _mgps_components)
register("mgps.await_indexes", _mgps_await_indexes)
register("mgps.validate", _mgps_validate)


# ---------------------------------------------------------------------------
# cugraph.* — the reference's GPU module (src/mage/cpp/cugraph_module).
# Same contracts; execution is our distributed CPU implementations (the
# cluster path), except the spectral procedures which genuinely need the
# GPU eigensolver and gate like the reference's CUDA-conditional build.
# ---------------------------------------------------------------------------

def _cugraph_hits(g, max_iterations: int = 30, tolerance: float = 1e-6):
    """cugraph.hits.get([max_iterations, tolerance]) YIELD node, hubs,
    authorities (algorithms/hits.cu)."""
    from memgraph_spark.algos.hits import hits
    r = hits(g.all_edges().select("src", "dst"),
             max_iter=int(max_iterations), tol=float(tolerance))
    return r.select(F.col("id").alias("node"), F.col("hub").alias("hubs"),
                    F.col("authority").alias("authorities"))


def _cugraph_rmat(g, scale: int = 4, num_edges: int = 100,
                  node_labels=None, edge_type: str = "RELATIONSHIP",
                  seed: int = 42):
    """cugraph.generator.rmat([scale, num_edges, …]) — writes an RMAT graph
    into the catalog (algorithms/graph_generator.cu); YIELD nodes, edges."""
    from memgraph_spark.algos.hits import rmat
    from memgraph_spark.catalog import node_id, register_label
    label = (node_labels or ["RMAT"])[0]
    e = rmat(g.spark, int(scale), int(num_edges), seed=int(seed))
    register_label(label)
    nodes = (e.select(F.col("src").alias("key"))
             .unionAll(e.select(F.col("dst").alias("key")))
             .dropDuplicates())
    n_df = nodes.select(node_id(label, F.col("key")), F.col("key"))
    e_df = e.select(
        node_id(label, F.col("src")).alias("src"),
        node_id(label, F.col("dst")).alias("dst"),
        F.col("edge_id").alias("eid"))
    g.set_node_version(label, n_df)
    g.set_edge_version(edge_type, e_df)
    return g.spark.createDataFrame(
        [(n_df.count(), e_df.count())], "nodes long, edges long")


def _cugraph_gate(proc):
    def stub(g, *a, **k):
        raise NotImplementedError(
            f"cugraph.{proc} needs the cuGraph GPU eigensolver (the "
            "reference builds this module only with CUDA); use "
            "community_detection.get / kmeans.get_clusters for the CPU path")
    return stub


def _register_cugraph():
    from memgraph_spark.procedures import PROCEDURES
    aliases = {
        "cugraph.pagerank.get": "pagerank.get",
        "cugraph.personalized_pagerank.get": "nxalg.pagerank",
        "cugraph.louvain.get": "louvain.get",
        "cugraph.leiden.get": "leiden_community_detection.get",
        "cugraph.katz_centrality.get": "katz_centrality.get",
        "cugraph.betweenness_centrality.get": "betweenness_centrality.get",
    }
    for name, target in aliases.items():
        if target in PROCEDURES:
            register(name, PROCEDURES[target])
    register("cugraph.hits.get", _cugraph_hits)
    register("cugraph.generator.rmat", _cugraph_rmat)
    register("cugraph.balanced_cut_clustering.get",
             _cugraph_gate("balanced_cut_clustering.get"))
    register("cugraph.spectral_clustering.get",
             _cugraph_gate("spectral_clustering.get"))


_register_cugraph()
