"""Algorithm queries with DuckDB oracles: kNN, topological layers, Katz.

Each entry runs a distributed algorithm from memgraph_spark.algos through
the engine and pins it to an ANSI-SQL oracle (recursive CTEs exploit that
the TPC-H graph Customer->Order->{Part,Supplier}->Nation->Region is a DAG,
so fixpoint algorithms have closed-form path-sum equivalents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from memgraph_spark.catalog import graph_for

_B = 1 << 56
_ID = {label: code * _B for label, code in
       {"Region": 1, "Nation": 2, "Customer": 3, "Supplier": 4, "Part": 5,
        "Order": 6}.items()}

# the same directed edge list the catalog builds (catalog.load_tpch_graph),
# shared by every graph-shaped oracle below
_EDGES_CTE = f"""
edges AS (
  SELECT ({_ID['Customer']}::BIGINT)+o_custkey AS src, ({_ID['Order']}::BIGINT)+o_orderkey AS dst FROM orders
  UNION ALL SELECT ({_ID['Order']}::BIGINT)+l_orderkey, ({_ID['Part']}::BIGINT)+l_partkey FROM lineitem
  UNION ALL SELECT ({_ID['Order']}::BIGINT)+l_orderkey, ({_ID['Supplier']}::BIGINT)+l_suppkey FROM lineitem
  UNION ALL SELECT ({_ID['Customer']}::BIGINT)+c_custkey, ({_ID['Nation']}::BIGINT)+c_nationkey FROM customer
  UNION ALL SELECT ({_ID['Supplier']}::BIGINT)+s_suppkey, ({_ID['Nation']}::BIGINT)+s_nationkey FROM supplier
  UNION ALL SELECT ({_ID['Nation']}::BIGINT)+n_nationkey, ({_ID['Region']}::BIGINT)+n_regionkey FROM nation
),
dedup_edges AS (SELECT DISTINCT src, dst FROM edges)
"""


def q_algo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 cosine neighbour per embedding (knn module parity;
    src/mage/cpp/knn_module): exact up to the 4096-row all-pairs fence,
    approximate above it. Up to the fence, all pairs + per-node
    TakeOrdered; past it the candidate set comes from the LSH band join
    (llm/similarity.py) — the scale path — re-ranked exactly among the
    candidates, so a true neighbour outside every shared band is missed.
    Measured top-1 recall of that branch against the exact one: 0.711 on a
    seeded clustered corpus of 3000 vectors
    (tests/test_llm.py::test_algo_knn_lsh_branch_recall)."""
    import os
    from memgraph_spark.llm.similarity import cosine, dot, norm
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select(F.col("vec_id"), F.col("embedding").cast("array<double>")
                   .alias("v")))
    # normalize once per vector so each pair costs ONE dot product instead
    # of dot + two norms (3x fewer higher-order aggregates in the O(n^2)
    # inner loop)
    # normalize ONCE into a checkpoint (the guard count rides the job);
    # every downstream branch (a, b, signatures, orphan patch) reuses the
    # cached normalized vectors instead of re-running the per-element HOF
    from memgraph_spark.session import checkpoint_with_metrics
    emb, _m = checkpoint_with_metrics(
        emb.withColumn("__n", norm(F.col("v")))
        .withColumn("v", F.transform(F.col("v"),
                                     lambda x: x / F.col("__n")))
        .drop("__n"),
        n=F.count(F.lit(1)))
    a = emb.select(F.col("vec_id").alias("node"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("neighbour"), F.col("v").alias("vb"))
    # exact all-pairs is O(n^2): keep it only for small inputs, band-join +
    # exact re-rank beyond — the same candidate structure a 100 TB corpus
    # would use. The fence sits at 4096 (grown from 1000): up to there the
    # n^2/2 dot products measure at parity with the LSH pipeline's
    # signature+join overhead locally, and the exact path's top-1 IS the
    # brute-force answer — which the LSH path at sf0.1 (2000 rows) missed
    # on most rows under the old fence (the round-7 recall wart).
    exact_max = int(os.environ.get("SPARK_GRAFT_KNN_EXACT_MAX", "4096"))
    if _m["n"] > exact_max:
        from memgraph_spark.llm.similarity import lsh_candidate_pairs
        # 8-bit bands: full top-1 coverage on the clustered test corpus at
        # ~half the signature cost of 64 planes (the signature, not the
        # band join, dominates — 32 hyperplane dots per row)
        # n_rows makes the tuning scale-adaptive (bits/band tracks
        # log2(n/8) AND bands grow to hold the design recall at p*=0.9,
        # byte-identical at n <= 2048): without it the fixed
        # 256-buckets/band tuning turns quadratic past its design size —
        # measured 52.6s at sf1 (20k vectors, ~3.1M candidates) vs 2.3s
        # at sf0.1 (2k vectors, 38k candidates)
        cand = lsh_candidate_pairs(
            emb.select(F.col("vec_id"), F.col("v").alias("embedding")),
            id_col="vec_id", vec_col="embedding",
            n_planes=32, bands=4, n_rows=_m["n"])
        # score each UNORDERED pair once (cand already has id_a < id_b):
        # half the endpoint joins and half the exact-re-rank dot products
        # vs symmetrizing first; the checkpoint keeps the symmetrized union
        # from executing the signature+band+re-rank pipeline twice
        scored = (cand
                  .join(a.selectExpr("node AS id_a", "va"), on="id_a")
                  .join(b.selectExpr("neighbour AS id_b", "vb"), on="id_b")
                  .withColumn("similarity",
                              F.round(dot(F.col("va"), F.col("vb")), 4))
                  .select("id_a", "id_b", "similarity")
                  .localCheckpoint(eager=True))
        pairs = (scored.selectExpr("id_a AS node", "id_b AS neighbour",
                                   "similarity")
                 .unionByName(scored.selectExpr("id_b AS node",
                                                "id_a AS neighbour",
                                                "similarity")))
        # `top` feeds the result AND the orphan anti-join below
        top = (_top1(pairs).localCheckpoint(eager=True))
        # nodes whose signature shares no band with anyone fall back to an
        # exact scan (few rows x full table — bounded patch-up, not O(n^2))
        orphans = a.join(top.select("node"), on="node", how="left_anti")
        patched = _top1(
            orphans.crossJoin(b)
            .filter(F.col("node") != F.col("neighbour"))
            .withColumn("similarity",
                        F.round(dot(F.col("va"), F.col("vb")), 4)))
        return top.unionByName(patched)
    # the single-file embeddings scan arrives as ONE partition, which would
    # run the whole O(n^2) dot-product stage on one core; spread the
    # streamed side across the cluster first (the other side is the
    # broadcast build of the nested-loop join) — same shape as
    # embed_cosine_pairs, identical output (per-node max is order-free)
    pairs = (a.repartition(spark.sparkContext.defaultParallelism)
             .crossJoin(b).filter(F.col("node") != F.col("neighbour"))
             .withColumn("similarity",
                         F.round(dot(F.col("va"), F.col("vb")), 4)))
    return _top1(pairs)


def _top1(pairs: DataFrame) -> DataFrame:
    """Best neighbour per node by (similarity DESC, neighbour ASC) as a
    max_by aggregation: partial map-side aggregation collapses the pair
    stream to one row per node BEFORE the exchange (guide §2.3 "aggregate
    before you shuffle" — also skew-immune), where the former
    row_number window shuffled and sorted every candidate pair. The
    (similarity, -neighbour) ordering struct reproduces the window's
    tie-break exactly; (node, neighbour) pairs are unique so the winner
    is deterministic."""
    best = F.max_by(
        F.struct(F.col("neighbour"), F.col("similarity")),
        F.struct(F.col("similarity"), (-F.col("neighbour")).alias("nb")))
    return (pairs.groupBy("node").agg(best.alias("b"))
            .select("node", F.col("b.neighbour").alias("neighbour"),
                    F.col("b.similarity").alias("similarity")))


ORACLE_ALGO_KNN = """
WITH pairs AS (
  SELECT a.vec_id AS node, b.vec_id AS neighbour,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 4) AS similarity
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT node, neighbour, similarity,
         row_number() OVER (PARTITION BY node
                            ORDER BY similarity DESC, neighbour ASC) AS rn
  FROM pairs
)
SELECT node, neighbour, similarity FROM ranked WHERE rn = 1
"""


def q_algo_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological peel layers over the (DAG) graph: (layer, n_nodes)
    (igraphalg.topological_sort parity; layer = longest root distance)."""
    from memgraph_spark.algos import topological_layers
    g = graph_for(spark, sf_dir)
    layers = topological_layers(g)
    return (layers.groupBy("layer").agg(F.count("*").alias("n_nodes"))
            .select(F.col("layer").cast("long"), "n_nodes"))


ORACLE_ALGO_TOPO = f"""
WITH RECURSIVE
{_EDGES_CTE},
roots AS (
  SELECT DISTINCT src AS id FROM dedup_edges
  WHERE src NOT IN (SELECT dst FROM dedup_edges)
),
walk(id, d) AS (
  SELECT id, 0 FROM roots
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN dedup_edges e ON e.src = w.id
  WHERE w.d < 8
)
SELECT d AS layer, count(*) AS n_nodes
FROM (SELECT id, max(d) AS d FROM walk GROUP BY id)
GROUP BY layer
"""


def q_algo_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, alpha=0.2 (katz_centrality module parity). On a DAG
    the fixpoint equals the finite path sum the oracle enumerates."""
    from memgraph_spark.algos import katz_centrality
    g = graph_for(spark, sf_dir)
    r = katz_centrality(g.adjacency(None, "out"), alpha=0.2,
                        epsilon=1e-9, max_iter=10)
    return r.select(F.col("id").alias("node"),
                    F.round(F.col("rank"), 4).alias("rank"))


ORACLE_ALGO_KATZ = f"""
WITH RECURSIVE
{_EDGES_CTE},
verts AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM dedup_edges UNION ALL SELECT dst FROM dedup_edges)
),
walk(id, w) AS (
  SELECT dst, 0.2::DOUBLE FROM dedup_edges
  UNION ALL
  SELECT e.dst, w.w * 0.2 FROM walk w JOIN dedup_edges e ON e.src = w.id
  WHERE w.w > 1e-9
),
katz AS (SELECT id, sum(w) AS s FROM walk GROUP BY id)
SELECT v.id AS node, round(coalesce(k.s, 0.0), 4) AS rank
FROM verts v LEFT JOIN katz k ON k.id = v.id
"""

def q_algo_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components over the Nation->Region subgraph
    (wcc / union_find parity). Component label = min node id, matching the
    hash-min propagation's fixpoint."""
    from memgraph_spark.algos import weakly_connected_components
    g = graph_for(spark, sf_dir)
    edges = g.edge("IN_REGION").select("src", "dst")
    r = weakly_connected_components(edges)
    return (r.groupBy(F.col("component"))
            .agg(F.count("*").alias("n_nodes"))
            .select("component", "n_nodes"))


ORACLE_ALGO_WCC = f"""
WITH RECURSIVE
edges AS (
  SELECT ({_ID['Nation']}::BIGINT)+n_nationkey AS src,
         ({_ID['Region']}::BIGINT)+n_regionkey AS dst FROM nation
),
und AS (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL SELECT dst, src FROM edges
),
reach(id, root) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
),
comp AS (SELECT id, min(root) AS component FROM reach GROUP BY id)
SELECT component, count(*) AS n_nodes FROM comp GROUP BY component
"""


def q_algo_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count (algos/triangles.triangle_count — degree-oriented
    wedge join, MAGE triangle-analytics parity) over the supplier
    co-supply projection: suppliers are adjacent when some lineitem ships
    the same part from both. The bipartite projection is triangle-rich,
    unlike the TPC-H DAG itself (zero triangles — a degenerate check)."""
    from memgraph_spark.algos.triangles import triangle_count
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select(F.col("l_partkey").alias("p"),
                  F.col("l_suppkey").alias("s"))
          .dropDuplicates())
    a = li.select(F.col("p"), F.col("s").alias("s1"))
    b = li.select(F.col("p"), F.col("s").alias("s2"))
    cosupply = (a.join(b, "p").filter(F.col("s1") < F.col("s2"))
                .select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
                .dropDuplicates())
    return triangle_count(cosupply)


ORACLE_ALGO_TRIANGLES = """
WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
und AS (
  SELECT DISTINCT a.s AS a, b.s AS b
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
)
SELECT count(*) AS n_triangles
FROM und e1
JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
"""


def q_algo_linkpred_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic link-prediction pair features (common neighbours,
    Adamic-Adar, Jaccard, preferential attachment + existing-edge label;
    algos/gnn.pair_features_from_und — the feature layer under
    link_prediction.train) over the supplier/nation/region subgraph."""
    from memgraph_spark.algos.gnn import pair_features_from_und
    sup = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
           .select((F.lit(_ID["Supplier"]) + F.col("s_suppkey")).alias("src"),
                   (F.lit(_ID["Nation"]) + F.col("s_nationkey")).alias("dst")))
    nat = (spark.read.parquet(f"{sf_dir}/nation.parquet")
           .select((F.lit(_ID["Nation"]) + F.col("n_nationkey")).alias("src"),
                   (F.lit(_ID["Region"]) + F.col("n_regionkey")).alias("dst")))
    edges = sup.unionByName(nat)
    und = (edges.unionByName(edges.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))
           .dropDuplicates())
    feats = pair_features_from_und(und)
    return feats.select("u", "v", "cn", F.round("aa", 6).alias("aa"),
                        F.round("jac", 6).alias("jac"), "pa", "label")


ORACLE_ALGO_LINKPRED_FEATS = f"""
WITH edges AS (
  SELECT ({_ID['Supplier']}::BIGINT)+s_suppkey AS src,
         ({_ID['Nation']}::BIGINT)+s_nationkey AS dst FROM supplier
  UNION ALL
  SELECT ({_ID['Nation']}::BIGINT)+n_nationkey,
         ({_ID['Region']}::BIGINT)+n_regionkey FROM nation
),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
),
deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY src),
feats AS (
  SELECT a.dst AS u, b.dst AS v, count(*)::DOUBLE AS cn,
         sum(1.0/ln(d.deg + 1e-9)) AS aa
  FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst
  JOIN deg d ON d.v = a.src
  GROUP BY a.dst, b.dst
),
ex AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v, 1 AS label
  FROM und
)
SELECT f.u, f.v, f.cn, round(f.aa, 6) AS aa,
       round(f.cn/(du.deg + dv.deg - f.cn), 6) AS jac,
       (du.deg*dv.deg)::DOUBLE AS pa,
       coalesce(ex.label, 0) AS label
FROM feats f
JOIN deg du ON du.v = f.u
JOIN deg dv ON dv.v = f.v
LEFT JOIN ex ON ex.u = f.u AND ex.v = f.v
"""


ALGO_QUERIES = {
    "algo_wcc": q_algo_wcc,
    "algo_knn": q_algo_knn,
    "algo_topo_layers": q_algo_topo_layers,
    "algo_katz": q_algo_katz,
    "algo_triangles": q_algo_triangles,
    "algo_linkpred_feats": q_algo_linkpred_feats,
}

ALGO_ORACLES = {
    "algo_wcc": ORACLE_ALGO_WCC,
    "algo_knn": ORACLE_ALGO_KNN,
    "algo_topo_layers": ORACLE_ALGO_TOPO,
    "algo_katz": ORACLE_ALGO_KATZ,
    "algo_triangles": ORACLE_ALGO_TRIANGLES,
    "algo_linkpred_feats": ORACLE_ALGO_LINKPRED_FEATS,
}
