"""Procedure registry: CALL module.proc(...) YIELD ... (SURVEY §2.10).

Reference: CallProcedure (operator.hpp:2891) dispatches to the mgp module
registry (src/query/procedure/module.cpp); MAGE ships the algorithms as
C++/Python modules (query_modules/*). Here a procedure is a Python function
(graph, *args) -> DataFrame with documented output columns — the UDTF shape —
and the DataFrame body is the distributed implementation (algos/, llm/).

Vertex-valued yields are node ids (join back on the nodes tables for
properties), matching our id-based frame representation.

register() is the mgp.add_read_proc equivalent for user modules.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos import (
    betweenness_centrality,
    degree_centrality,
    label_propagation,
    node_similarity_jaccard,
    pagerank,
    triangle_count,
    weakly_connected_components,
)
from memgraph_spark.llm.textstats import language_id, quality_score, token_stats
from memgraph_spark.session import empty_frame, frontier

PROCEDURES: dict[str, Callable[..., DataFrame]] = {}

# optional declared signatures: name -> {"args": [(name, TYPE)], "void": bool}
# — procedures with a signature get implicit-argument binding (standalone
# `CALL proc` pulls each arg from the query parameters by name, the
# reference's mgp signature machinery) and VOID passthrough semantics
SIGNATURES: dict[str, dict] = {}


class NotVectorizable(Exception):
    """Raised by a VECTORIZED handler to decline a join-compiled run; the
    CALL falls back to the fenced per-combination driver loop."""


# join-compiled handlers for frame-dependent CALL arguments: name ->
# fn(graph, keys_df) -> DataFrame. `keys_df` holds the DISTINCT argument
# rows as columns k0..k{n-1} (never collected); the handler returns those
# key columns plus the procedure's yield columns, computed via joins. Hot
# built-ins registered here bypass PCALL_MAX_COMBOS entirely — reference
# CallProcedure runs per pulled row natively (operator.cpp:8130), and for
# pure graph lookups the per-row semantics ARE a join.
VECTORIZED: dict[str, Callable[..., DataFrame]] = {}


def register(name: str, fn: Callable[..., DataFrame],
             signature: dict | None = None) -> None:
    """mgp-style registration (include/mgp.py add_read_proc parity)."""
    PROCEDURES[name.lower()] = fn
    if signature is not None:
        SIGNATURES[name.lower()] = signature
    else:
        SIGNATURES.pop(name.lower(), None)


def unregister(name: str) -> None:
    PROCEDURES.pop(name.lower(), None)
    SIGNATURES.pop(name.lower(), None)


def _edges(g, etype=None):
    return (g.edge(etype) if etype else g.all_edges()).select("src", "dst")


# -- MAGE algorithm modules (query_modules/* naming) -------------------------

def _pagerank(g, max_iterations: int = 20, damping_factor: float = 0.85):
    """pagerank.get() YIELD node, rank (src/mage/cpp/pagerank_module)."""
    r = pagerank(_edges(g), damping=damping_factor, max_iter=int(max_iterations))
    return r.select(F.col("id").alias("node"), F.col("rank"))


def _wcc(g):
    """weakly_connected_components.get() YIELD node_id, component_id
    (query_modules/wcc.py)."""
    r = weakly_connected_components(_edges(g))
    return r.select(F.col("id").alias("node_id"),
                    F.col("component").alias("component_id"))


def _label_prop(g, max_iterations: int = 10):
    """community_detection.get() YIELD node, community_id (label propagation
    stands in for Louvain/Leiden — same output contract)."""
    r = label_propagation(_edges(g), max_iter=int(max_iterations))
    return r.select(F.col("id").alias("node"),
                    F.col("label").alias("community_id"))


def _degree(g, direction: str = "both"):
    """degree_centrality.get() YIELD node, degree, centrality."""
    r = degree_centrality(_edges(g), direction=direction)
    return r.select(F.col("id").alias("node"), F.col("degree"),
                    F.col("centrality"))


def _betweenness(g, n_samples: int = 0):
    """betweenness_centrality.get([n_samples]) YIELD node, betweenness —
    exact Brandes when n_samples = 0, sampled-source approximation otherwise."""
    sources = None
    if int(n_samples) > 0:
        adj = _edges(g)
        sources = (adj.select(F.col("src").alias("id")).dropDuplicates()
                   .orderBy("id").limit(int(n_samples)))
    r = betweenness_centrality(g, sources=sources)
    return r.select(F.col("id").alias("node"), F.col("betweenness"))


def _triangles(g):
    """triangle_count.get() YIELD n_triangles (global count)."""
    return triangle_count(_edges(g))


def _node_similarity(g, min_common: int = 1):
    """node_similarity.jaccard() YIELD node1, node2, similarity."""
    r = node_similarity_jaccard(_edges(g), min_common=int(min_common))
    return r.select(F.col("v_a").alias("node1"), F.col("v_b").alias("node2"),
                    F.col("jaccard").alias("similarity"))


# -- text utility modules (text analysis over the documents table) -----------

def _text_tokens(g):
    """text_util.tokens() YIELD doc_id, n_tokens, avg_token_len."""
    return token_stats(g.tables["documents"]).select(
        "doc_id", "n_tokens", "avg_token_len")


def _text_quality(g):
    """text_util.quality() YIELD doc_id, quality."""
    return quality_score(g.tables["documents"]).select("doc_id", "quality")


def _text_langid(g):
    """text_util.language() YIELD doc_id, lang_pred."""
    return language_id(g.tables["documents"]).select("doc_id", "lang_pred")


# -- text search module (query_modules/text_search_module.cpp:23-31) --------

def _is_text_index(g, name) -> bool:
    return isinstance(name, str) and any(
        len(e) == 4 and e[2] in ("text", "text-edge") and e[3] == name
        for e in getattr(g, "index_registry", []))


def _text_search(g, a, b=10, config=None):
    """text_search.search — two published shapes:
    graph form `search(index, query[, config]) YIELD node, score`
    (text_search_module.cpp) when the first argument names a text index;
    corpus form `search(query, k) YIELD doc_id, score` (BM25 over the
    built-in documents table) otherwise."""
    if _is_text_index(g, a):
        from memgraph_spark.search import graph_text
        return graph_text.search(g, a, str(b), config=config)
    from memgraph_spark.search import bm25_search
    idx, stats = g.text_index("documents")
    return bm25_search(g.tables["documents"], a, k=int(b),
                       index=idx, stats=stats)


def _text_regex(g, pattern: str, graph_pattern: str | None = None,
                config=None):
    """text_search.regex_search: graph-index form
    `regex_search(index, pattern[, config]) YIELD node` (fuzzy options
    rejected), or corpus form `regex_search(pattern) YIELD doc_id`."""
    if graph_pattern is not None:
        from memgraph_spark.search import graph_text
        return graph_text.regex_search(g, pattern, graph_pattern,
                                       config=config)
    from memgraph_spark.search import regex_search
    return regex_search(g.tables["documents"], pattern)


def _text_fuzzy(g, term: str, max_edits: int = 1):
    """text_search.fuzzy_search(term, max_edits) YIELD doc_id."""
    from memgraph_spark.search import fuzzy_search
    return fuzzy_search(g.tables["documents"], term, int(max_edits))


def _max_flow(g, source, sink, edge_property: str = "weight"):
    """max_flow.get_flow(source, sink, property) YIELD max_flow
    (reference src/mage/python/max_flow.py:10 — Ford-Fulkerson w/ scaling)."""
    from memgraph_spark.algos import max_flow
    total, _, _ = max_flow(g, int(source), int(sink), edge_property)
    return g.spark.createDataFrame([(float(total),)], "max_flow double")


def _max_flow_paths(g, source, sink, edge_property: str = "weight"):
    """max_flow.get_paths(...) YIELD path (node-id list), flow
    (reference src/mage/python/max_flow.py:41)."""
    from memgraph_spark.algos import max_flow
    _, paths, _ = max_flow(g, int(source), int(sink), edge_property)
    return g.spark.createDataFrame(
        [(p, float(f)) for p, f in paths] or [],
        "path array<long>, flow double")


def _mincut(g, source, sink, capacity: str = "weight"):
    """igraphalg.mincut(source, target, capacity) YIELD node, partition_id
    (reference src/mage/python/igraphalg.py:67)."""
    from memgraph_spark.algos import min_cut
    r = min_cut(g, int(source), int(sink), capacity)
    return r.select(F.col("id").alias("node"), F.col("partition_id"))


def _node2vec(g, is_directed: bool = False, p: float = 2.0, q: float = 0.5,
              num_walks: int = 4, walk_length: int = 5, vector_size: int = 100,
              alpha: float = 0.025, window: int = 5, min_count: int = 1,
              seed: int = 1, workers: int = 1, min_alpha: float = 0.0001,
              sg: int = 1, hs: int = 0, negative: int = 5, epochs: int = 5,
              edge_weight_property: str = "weight"):
    """node2vec.get_embeddings(...) YIELD node, embedding
    (src/mage/cpp/node2vec_module/node2vec_module.cpp:275-297 arg list;
    min_count/workers/sg/hs accepted for signature parity, SGNS only)."""
    from memgraph_spark.algos import node2vec_embeddings
    return node2vec_embeddings(
        g, is_directed=bool(is_directed), p=float(p), q=float(q),
        num_walks=int(num_walks), walk_length=int(walk_length),
        vector_size=int(vector_size), alpha=float(alpha), window=int(window),
        negative=int(negative), epochs=int(epochs), min_alpha=float(min_alpha),
        seed=int(seed))


def _tsp(g, points=None, method: str = "1.5_approx"):
    """tsp.solve(points, method) YIELD sources, destinations
    (src/mage/python/tsp.py:15). `points` is a node-id list or a label."""
    from memgraph_spark.algos import tsp_solve
    label = points if isinstance(points, str) else None
    ids = points if isinstance(points, (list, tuple)) else None
    r = tsp_solve(g, point_ids=ids, label=label, method=str(method))
    schema = "sources array<long>, destinations array<long>"
    rows = [] if r is None else [(list(r[0]), list(r[1]))]
    return g.spark.createDataFrame(rows, schema)


def _topo_sort(g, mode: str = "out"):
    """igraphalg.topological_sort(mode) YIELD nodes (igraphalg.py:86);
    raises on cycles like the reference."""
    from memgraph_spark.algos import topological_layers
    layers = topological_layers(g, mode=mode)
    if layers is None:
        raise ValueError(
            "Topological sort can't be performed on graph that contains cycle!")
    ordered = [r.id for r in layers.orderBy("layer", "id").collect()]
    return g.spark.createDataFrame([(ordered,)], "nodes array<long>")


def _katz(g, alpha: float = 0.2, epsilon: float = 0.01):
    """katz_centrality.get(alpha, epsilon) YIELD node, rank
    (src/mage/cpp/katz_centrality_module)."""
    from memgraph_spark.algos import katz_centrality
    r = katz_centrality(_edges(g), alpha=float(alpha), epsilon=float(epsilon))
    return r.select(F.col("id").alias("node"), F.col("rank"))


def _spanning_tree(g, weights=None):
    """igraphalg.spanning_tree([weights]) YIELD tree — [src, dst] node-id
    pairs (igraphalg.py:144)."""
    from memgraph_spark.algos import spanning_tree
    edges = spanning_tree(g, weights=weights)
    pairs = [[r.src, r.dst] for r in edges.collect()]
    return g.spark.createDataFrame([(pairs,)], "tree array<array<long>>")


def _sp_length(g, source, target, weights=None):
    """igraphalg.shortest_path_length(source, target, [weights]) YIELD length
    (igraphalg.py:153). Unweighted = hop count; unreachable = infinity."""
    if weights:
        from memgraph_spark.operators.kshortest import shortest_path_with_nodes
        r = shortest_path_with_nodes(g, int(source), int(target),
                                     weight_col=weights)
        length = float("inf") if r is None else float(r[1])
    else:
        from memgraph_spark.operators.expand import shortest_path
        d = shortest_path(g, int(source), int(target))
        length = float("inf") if d is None else float(d)
    return g.spark.createDataFrame([(length,)], "length double")


def _sp_path(g, source, target, weights=None):
    """igraphalg.get_shortest_path(source, target, [weights]) YIELD path
    (igraphalg.py:191) — node-id list."""
    from memgraph_spark.operators.kshortest import shortest_path_with_nodes
    r = shortest_path_with_nodes(g, int(source), int(target),
                                 weight_col=weights)
    rows = [] if r is None else [(r[0],)]
    return g.spark.createDataFrame(rows, "path array<long>")


def _all_sp_lengths(g, weights=None):
    """igraphalg.all_shortest_path_lengths() YIELD src_node, dest_node,
    length (igraphalg.py:171). All-pairs BFS: every source advances in the
    same distributed frontier."""
    from memgraph_spark.operators.expand import bfs
    adj = g.adjacency(None, "out")
    nodes = (adj.selectExpr("src as id").unionAll(adj.selectExpr("dst as id"))
             .dropDuplicates())
    if weights:
        from memgraph_spark.operators.expand import weighted_shortest_path
        e = g.all_edges(properties=[weights]).select(
            "src", "dst", F.col(weights).cast("double").alias("w"))
        r = weighted_shortest_path(g, nodes, None, "w", edges_df=e)
        return r.select(F.col("start").alias("src_node"),
                        F.col("id").alias("dest_node"),
                        F.col("cost").alias("length"))
    r = bfs(g, nodes)
    return r.select(F.col("start").alias("src_node"),
                    F.col("id").alias("dest_node"),
                    F.col("dist").cast("double").alias("length"))


def _simple_paths(g, v, to, cutoff=-1, max_length=None):
    """igraphalg.get_all_simple_paths(v, to, cutoff) YIELD path
    (igraphalg.py:55), also algo.all_simple_paths(start, end,
    relationship_types, max_length): a list third argument restricts the
    out-adjacency to those types (empty = every type). Frontier rows carry
    their node-id path; the simple-path constraint is an array_contains
    filter — no driver recursion. A path stops at `to`."""
    types = None
    if isinstance(cutoff, (list, tuple)):
        types, cutoff = cutoff, -1 if max_length is None else max_length
    adj = (reduce(DataFrame.unionAll, [g.adjacency(t, "out") for t in types])
           .dropDuplicates() if types else g.adjacency(None, "out"))
    end = F.element_at(F.col("path"), -1) == int(to)

    def extend(rounds, trace):
        # a round past the first also holds the paths that reached `to`;
        # they are results, not frontier
        cur = rounds[-1] if len(rounds) == 1 else rounds[-1].filter(~end)
        return (cur.join(adj, F.element_at(F.col("path"), -1) == adj["src"])
                .filter(~F.array_contains("path", F.col("dst")))
                .select(F.concat("path", F.array("dst")).alias("path")))

    # a round whose every path ends at `to` has nothing left to extend; at
    # the start that means v == to, where no simple path returns to v
    rounds, _ = frontier(
        g.spark.createDataFrame([([int(v)],)], "path array<long>"), extend,
        lambda t: t[-1]["n"] == t[-1]["done"],
        10 if int(cutoff) < 0 else int(cutoff),
        done=F.count(F.when(end, 1)))
    if len(rounds) == 1:
        return empty_frame(g.spark, "path array<long>")
    return reduce(DataFrame.unionByName, rounds[1:]).filter(end)


def _bridges(g):
    """bridges.get() YIELD node_from, node_to
    (src/mage/cpp/bridges_module)."""
    from memgraph_spark.algos import bridges
    return bridges(g)


def _cycles(g):
    """cycles.get() YIELD cycle_id, node (src/mage/cpp/cycles_module;
    fundamental cycle basis)."""
    from memgraph_spark.algos import fundamental_cycles
    return fundamental_cycles(g)


def _bipartite(g):
    """bipartite_matching.max() YIELD maximum_bipartite_matching
    (src/mage/cpp/bipartite_matching_module)."""
    from memgraph_spark.algos import bipartite_matching
    n = bipartite_matching(g)
    return g.spark.createDataFrame([(n,)], "maximum_bipartite_matching long")


def _union_find(g, nodes1, nodes2, mode: str = "pairwise",
                update: bool = True):
    """union_find.connected(nodes1, nodes2, mode) YIELD node1, node2,
    connected (src/mage/python/union_find.py; `update` accepted for parity —
    components are always recomputed from the current table versions)."""
    from memgraph_spark.algos import union_find_connected
    return union_find_connected(g, nodes1, nodes2, mode=str(mode))


def _kmeans(g, n_clusters, embedding_property: str = "embedding",
            init: str = "k-means++", n_init: int = 10, max_iter: int = 10,
            tol: float = 1e-4, algorithm: str = "lloyd",
            random_state: int = 1998):
    """kmeans.get_clusters(...) YIELD node, cluster_id
    (src/mage/python/kmeans.py:46). Runs over the embeddings table (or any
    node label carrying `embedding_property`)."""
    from memgraph_spark.algos import kmeans
    src = None
    for df in list(g.nodes.values()) + [g.tables.get("embeddings")]:
        if df is not None and embedding_property in df.columns:
            idc = "id" if "id" in df.columns else df.columns[0]
            src = df.select(F.col(idc).alias("id"), embedding_property)
            break
    if src is None:
        raise ValueError(f"no table with column '{embedding_property}'")
    r = kmeans(src, int(n_clusters), max_iter=int(max_iter), tol=float(tol),
               seed=int(random_state), vec_col=embedding_property)
    return r.select(F.col("id").alias("node"), F.col("cluster_id"))


def _set_cover(g, element_vertexes, set_vertexes):
    """set_cover.greedy(elements, sets) YIELD containing_set
    (src/mage/python/set_cover.py:46; index-paired membership lists)."""
    from memgraph_spark.algos import set_cover_greedy
    pairs = g.spark.createDataFrame(
        list(zip([int(x) for x in element_vertexes],
                 [int(x) for x in set_vertexes])),
        "element long, containing_set long")
    chosen = set_cover_greedy(pairs)
    return g.spark.createDataFrame([(c,) for c in chosen],
                                   "containing_set long")


def _knn(g, top_k: int = 1, similarity_cutoff: float = 0.0):
    """knn.get({topK, similarityCutoff}) YIELD node, neighbour, similarity
    (src/mage/cpp/knn_module — cosine top-k per node; here over the
    embeddings table; exact all-pairs — llm.similarity.lsh_bucket_topk is
    the 100 TB path)."""
    from pyspark.sql import Window

    from memgraph_spark.llm.similarity import cosine
    emb = g.tables["embeddings"].select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"))
    a = emb.select(F.col("id").alias("node"), F.col("v").alias("va"))
    b = emb.select(F.col("id").alias("neighbour"), F.col("v").alias("vb"))
    pairs = (a.crossJoin(b).filter(F.col("node") != F.col("neighbour"))
             .withColumn("similarity",
                         F.round(cosine(F.col("va"), F.col("vb")), 4))
             .filter(F.col("similarity") >= float(similarity_cutoff)))
    w = Window.partitionBy("node").orderBy(F.desc("similarity"),
                                           F.asc("neighbour"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(top_k))
            .select("node", "neighbour", "similarity"))


def _hop_adjacency(g, rel_types):
    """Traversal adjacency for the neighbors module's rel_types contract
    (src/mage/cpp/neighbors_module/algorithm/neighbors.cpp:26-48
    DetermineDirection): a LIST of types unioned together, where `<T`
    matches T incoming only, `T>` matches T outgoing only, bare `T`
    matches both directions, `""` (or an empty list) matches any type,
    and `<T>` raises. Returns a (src, dst) frame oriented for expansion
    from src — the union of per-(type, direction) persisted adjacency
    slices, so BFS re-joins cached data each round."""
    if not rel_types:
        return g.adjacency(None, "both")
    in_types, out_types = set(), set()
    for rt in rel_types:
        rt = str(rt)
        if rt.startswith("<") and rt.endswith(">") and len(rt) > 1:
            raise ValueError("Invalid relationship specification!")
        if rt.startswith("<"):
            in_types.add(rt[1:])
        elif rt.endswith(">"):
            out_types.add(rt[:-1])
        else:
            in_types.add(rt)
            out_types.add(rt)
    # "" = any type for that direction (reference appends "" on empty list);
    # a direction that already matches any type subsumes its named types
    parts = []
    for types, direction in ((out_types, "out"), (in_types, "in")):
        if "" in types:
            parts.append(g.adjacency(None, direction))
        else:
            parts.extend(g.adjacency(t, direction) for t in sorted(types))
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    # no dropDuplicates: BFS dedups its frontier per round, and the extra
    # shuffle here would run once per BFS round
    return edges


def _neighbors_at_hop(g, node, rel_types=None, distance: int = 1):
    """neighbors.at_hop(node, rel_types, distance) YIELD nodes
    (src/mage/cpp/neighbors_module) — nodes at exactly `distance` hops,
    edge set per _hop_adjacency (full type list + direction prefixes)."""
    from memgraph_spark.operators.expand import bfs
    src = g.spark.createDataFrame([(int(node),)], "id long")
    r = bfs(g, src, max_hops=int(distance),
            edges_df=_hop_adjacency(g, rel_types))
    return (r.filter(F.col("dist") == int(distance))
            .select(F.col("id").alias("nodes")).orderBy("nodes"))


def _neighbors_by_hop(g, node, rel_types=None, distance: int = 3):
    """neighbors.by_hop(...) YIELD nodes — one row per hop with the node-id
    list at that distance; edge set per _hop_adjacency."""
    from memgraph_spark.operators.expand import bfs
    src = g.spark.createDataFrame([(int(node),)], "id long")
    r = bfs(g, src, max_hops=int(distance),
            edges_df=_hop_adjacency(g, rel_types))
    return (r.filter(F.col("dist") > 0)
            .groupBy("dist").agg(F.sort_array(F.collect_list("id")).alias("nodes"))
            .orderBy("dist").select("nodes"))


def _node_id_col(keys: DataFrame, col: str):
    """Node-valued CALL args arrive as bare ids (long), as the node struct
    a bound variable compiles to, or as a variant struct (heterogeneous
    list elements) — extract the id either way."""
    from pyspark.sql import types as T
    from memgraph_spark.functions.variant import is_variant_type
    dt = keys.schema[col].dataType
    if isinstance(dt, T.StructType):
        if is_variant_type(dt):
            return F.col(f"{col}.vi")
        if "id" in dt.fieldNames():
            return F.col(f"{col}.id")
    return F.col(col).cast("long")


def _string_array_col(keys: DataFrame, col: str):
    """A list-of-strings CALL arg: plain array, or a variant struct whose
    va/vj slot carries the list."""
    from memgraph_spark.functions.variant import is_variant_type
    dt = keys.schema[col].dataType
    if is_variant_type(dt):
        v = F.col(col)
        return F.coalesce(v.getField("va"),
                          F.from_json(v.getField("vj"), "array<string>"))
    return F.col(col).cast("array<string>")


def _string_col(keys: DataFrame, col: str):
    """A string CALL arg: plain string or the vs slot of a variant."""
    from memgraph_spark.functions.variant import is_variant_type
    if is_variant_type(keys.schema[col].dataType):
        return F.col(f"{col}.vs")
    return F.col(col).cast("string")


def _pyval(x):
    """Decode a collected Row argument back to the Python value a
    procedure expects: variant structs to their typed slot, node/edge
    structs to their id (procedures take ids — the int(node)
    convention), lists element-wise."""
    if hasattr(x, "__fields__"):         # Row (subclasses tuple — check 1st)
        fields = set(x.__fields__)
        if fields <= {"vb", "vi", "vd", "vs", "va", "vj"}:
            for f in ("vb", "vi", "vd", "vs", "va"):
                if f in x.__fields__ and x[f] is not None:
                    v = x[f]
                    return list(v) if f == "va" else v
            import json
            return json.loads(x["vj"]) if x["vj"] is not None else None
        if "id" in fields:
            return x["id"]
        if "eid" in fields:
            return x["eid"]
    if isinstance(x, (list, tuple)):
        return [_pyval(v) for v in x]
    return x


def _incident_type_rows(g) -> DataFrame:
    """(id, t): node id x incident edge type, deduplicated — the
    distributed form of 'which relationship types touch this node'."""
    parts = []
    for t in sorted(g.edges):
        e = g.edge(t)
        parts.append(e.select(F.col("src").alias("id"))
                     .union(e.select(F.col("dst").alias("id")))
                     .distinct().withColumn("t", F.lit(t)))
    if not parts:
        return empty_frame(g.spark, "id long, t string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _vec_node_rel_types(g, keys: DataFrame) -> DataFrame:
    """node.relationship_types over a DISTRIBUTED argument frame: incident
    types per node via explode + groupBy, joined back on the node id."""
    inc = _incident_type_rows(g).groupBy("id").agg(
        F.sort_array(F.collect_list("t")).alias("relationship_types"))
    nid = _node_id_col(keys, "k0")
    empty = F.array().cast("array<string>")
    return (keys.join(inc, nid == inc["id"], "left").drop("id")
            .withColumn("relationship_types",
                        F.coalesce("relationship_types", empty)))


def _vec_node_rel_exists(g, keys: DataFrame) -> DataFrame:
    """node.relationship_exists vectorized: per-row `types` filters via
    array_intersect — no loop even when every row asks different types."""
    inc = _incident_type_rows(g).groupBy("id").agg(
        F.collect_set("t").alias("__inc"))
    nid = _node_id_col(keys, "k0")
    j = keys.join(inc, nid == inc["id"], "left").drop("id")
    have = F.coalesce(F.col("__inc"), F.array().cast("array<string>"))
    if "k1" in keys.columns:
        want = _string_array_col(keys, "k1")
        # empty list = reference default "" = match any type (node.cpp:144
        # appends ""), same as a null arg — not array_intersect(have, [])
        exists = F.when(want.isNull() | (F.size(want) == 0),
                        F.size(have) > 0) \
            .otherwise(F.size(F.array_intersect(have, want)) > 0)
    else:
        exists = F.size(have) > 0
    return j.select(*[F.col(c) for c in keys.columns],
                    exists.alias("exists"))


def _vec_label_exists(g, keys: DataFrame) -> DataFrame:
    """label.exists vectorized: (id, label) membership via a left join
    against the union of per-label tables + SET-added labels."""
    parts = [g.node(lbl).select(F.col("id"), F.lit(lbl).alias("label"))
             for lbl in g.nodes]
    if g.extra_labels is not None:
        parts.append(g.extra_labels.select("id", "label"))
    if not parts:
        return keys.withColumn("exists", F.lit(False))
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    pairs = pairs.dropDuplicates().withColumn("__hit", F.lit(True))
    nid = _node_id_col(keys, "k0")
    j = keys.join(pairs, (nid == pairs["id"])
                  & (_string_col(keys, "k1") == pairs["label"]), "left")
    return j.select(*[keys[c] for c in keys.columns],
                    F.coalesce("__hit", F.lit(False)).alias("exists"))


def _vec_hop_variants(keys: DataFrame, default_distance: int):
    """Shared prep for neighbors.at_hop/by_hop: split the key frame by
    DISTINCT (rel_types, distance) combos — bounded metadata, typically 1
    — while the node-id column stays distributed. Declines past 8 combos
    (the node argument is the cardinality carrier; the others are
    effectively literals)."""
    arity = len(keys.columns)
    if arity == 1:
        return [(None, default_distance, keys)]
    rest = keys.columns[1:]
    # combo id = content hash of the non-node args (deterministic across
    # jobs — unlike monotonically_increasing_id — so the collect and the
    # per-combo filters agree); filtering on the id avoids building
    # literals from collected variant Rows
    from pyspark.sql import types as T
    jcols = [F.col(c).cast("string")
             if isinstance(keys.schema[c].dataType, T.NullType)
             else F.col(c) for c in rest]
    combo = F.xxhash64(F.coalesce(
        F.to_json(F.struct(*jcols)), F.lit("∅")))
    keyed = keys.withColumn("__combo", combo)
    combos = (keyed.select("__combo", *rest)
              .dropDuplicates(["__combo"]).collect())
    if len(combos) > 8:
        raise NotVectorizable("too many (rel_types, distance) combos")
    variants = []
    for row in combos:
        rt = _pyval(row[rest[0]])
        rel_types = list(rt) if rt is not None else None
        d = _pyval(row[rest[1]]) if arity > 2 else None
        distance = int(d) if d is not None else default_distance
        sub = (keyed.filter(F.col("__combo") == int(row["__combo"]))
               .drop("__combo"))
        variants.append((rel_types, distance, sub))
    return variants


def _vec_neighbors_at_hop(g, keys: DataFrame) -> DataFrame:
    """neighbors.at_hop vectorized: ONE multi-source BFS per (rel_types,
    distance) combo covers every node argument at once — the bfs operator
    already tracks per-origin distances (start column)."""
    from memgraph_spark.operators.expand import bfs
    out = None
    for rel_types, distance, sub in _vec_hop_variants(keys, 1):
        nid = _node_id_col(sub, "k0")
        src = sub.select(nid.alias("id")).dropDuplicates()
        r = (bfs(g, src, max_hops=distance,
                 edges_df=_hop_adjacency(g, rel_types))
             .filter(F.col("dist") == distance)
             .select(F.col("start"), F.col("id").alias("nodes")))
        piece = (sub.join(r, _node_id_col(sub, "k0") == r["start"])
                 .drop("start"))
        out = piece if out is None else out.unionByName(piece)
    return out


def _vec_neighbors_by_hop(g, keys: DataFrame) -> DataFrame:
    """neighbors.by_hop vectorized: multi-source BFS, then per-(origin,
    hop) sorted node lists."""
    from memgraph_spark.operators.expand import bfs
    out = None
    for rel_types, distance, sub in _vec_hop_variants(keys, 3):
        nid = _node_id_col(sub, "k0")
        src = sub.select(nid.alias("id")).dropDuplicates()
        r = (bfs(g, src, max_hops=distance,
                 edges_df=_hop_adjacency(g, rel_types))
             .filter(F.col("dist") > 0)
             .groupBy("start", "dist")
             .agg(F.sort_array(F.collect_list("id")).alias("nodes")))
        piece = (sub.join(r, _node_id_col(sub, "k0") == r["start"])
                 .orderBy("dist").drop("start", "dist"))
        out = piece if out is None else out.unionByName(piece)
    return out


def _meta_stats(g):
    """meta.stats_offline/stats_online YIELD stats (src/mage/cpp/meta_module):
    node/edge counts plus per-label and per-type breakdowns."""
    label_counts = {lbl: g.label_count(lbl) for lbl in g.nodes}
    etype_counts = {t: g.edge(t).count() for t in g.edges}
    row = (int(sum(label_counts.values())), int(sum(etype_counts.values())),
           len(label_counts), len(etype_counts),
           {k: int(v) for k, v in label_counts.items()},
           {k: int(v) for k, v in etype_counts.items()})
    return g.spark.createDataFrame(
        [row],
        "node_count long, relationship_count long, label_count long, "
        "relationship_type_count long, labels map<string,long>, "
        "relationship_types map<string,long>")


def _label_exists(g, node, label: str):
    """label.exists(node, label) YIELD exists (src/mage/cpp/label_module)."""
    nid = int(node)
    found = False
    if label in g.nodes:
        found = not g.node(label).filter(F.col("id") == nid).isEmpty()
    if not found and g.extra_labels is not None:
        found = not g.extra_labels.filter(
            (F.col("id") == nid) & (F.col("label") == label)).isEmpty()
    return g.spark.createDataFrame([(found,)], "exists boolean")


def _node_rel_types(g, node):
    """node.relationship_types(node) YIELD relationship_types
    (src/mage/cpp/node_module)."""
    nid = int(node)
    types = [t for t in sorted(g.edges)
             if not g.edge(t).filter((F.col("src") == nid)
                                     | (F.col("dst") == nid)).isEmpty()]
    return g.spark.createDataFrame([(types,)],
                                   "relationship_types array<string>")


def _node_rel_exists(g, node, types=None):
    """node.relationship_exists(node, [types]) YIELD exists."""
    nid = int(node)
    check = [t for t in (types or sorted(g.edges)) if t in g.edges]
    found = any(not g.edge(t).filter((F.col("src") == nid)
                                     | (F.col("dst") == nid)).isEmpty()
                for t in check)
    return g.spark.createDataFrame([(found,)], "exists boolean")


def _color_graph(g, parameters=None, edge_property=None):
    """graph_coloring.color_graph() YIELD node, color
    (src/mage/python/graph_coloring.py:10; QA metaheuristic replaced by
    distributed Jones-Plassmann greedy — same output contract)."""
    from memgraph_spark.algos import color_graph
    return color_graph(g).select(F.col("id").alias("node"), F.col("color"))


def _link_prediction(g, top_k: int = 50, method: str = "adamic_adar"):
    """link_prediction.get(...) YIELD node1, node2, score
    (src/mage/python/link_prediction.py — torch GNN stubbed; classic
    neighbourhood heuristics fill the contract)."""
    from memgraph_spark.algos import link_prediction_scores
    return link_prediction_scores(g, top_k=int(top_k), method=str(method))


def _lp_set_model_parameters(g, params=None):
    """link_prediction.set_model_parameters(params) YIELD status, message
    (reference link_prediction.py:151): stores the training config on the
    graph. Unknown parameters return status=false + message, like the
    reference's reflection setter. layer_type='logistic' is the repo's
    documented extension selecting the feature-baseline trainer."""
    from memgraph_spark.algos.linkpred_deep import _validate
    params = dict(params or {})
    try:
        if params.get("layer_type", "graph_attn") != "logistic":
            _validate(params)
        g._lp_params = params
        return g.spark.createDataFrame(
            [(True, "OK")], "status boolean, message string")
    except (ValueError, NotImplementedError) as exc:
        return g.spark.createDataFrame(
            [(False, str(exc))], "status boolean, message string")


def _link_prediction_train(g, num_epochs=None, learning_rate=None):
    """link_prediction.train() (reference link_prediction.py:223).

    Default path = the REAL deep trainer (algos/linkpred_deep.py:
    graph_attn or graph_sage encoder + mlp/dot predictor, reference
    defaults), yielding per-epoch (epoch, split, loss, accuracy, auc,
    precision, recall, f1) — the reference's training_results/
    validation_results metric set as rows. layer_type='logistic'
    (set via set_model_parameters) selects the documented
    feature-baseline fallback with its historical (status, auc) shape."""
    params = dict(getattr(g, "_lp_params", {}))
    if num_epochs is not None:
        params["num_epochs"] = int(num_epochs)
    if learning_rate is not None:
        params["learning_rate"] = float(learning_rate)
    if params.get("layer_type") == "logistic":
        from memgraph_spark.algos.gnn import link_prediction_train
        model = link_prediction_train(
            g, etype=params.get("target_relation"),
            num_epochs=int(params.get("num_epochs", 30)),
            learning_rate=float(params.get("learning_rate", 0.5)))
        return g.spark.createDataFrame(
            [("trained", float(model["auc_proxy"]))],
            "status string, auc double")
    from memgraph_spark.algos.linkpred_deep import linkpred_train
    return linkpred_train(g, **params)


def _link_prediction_predict(g, a=None, b=None):
    """link_prediction.predict — two surfaces:

    predict(src, dest) YIELD score (reference link_prediction.py:328):
    the trained deep model's probability for one pair.
    predict([top_k]) YIELD node1, node2, score: ranked candidates from
    the logistic feature baseline (the repo's historical shape, closest
    to the reference's recommend())."""
    if b is not None:
        from memgraph_spark.algos.linkpred_deep import linkpred_predict_pair
        score = linkpred_predict_pair(g, int(a), int(b))
        return g.spark.createDataFrame(
            [(round(float(score), 6),)], "score double")
    from memgraph_spark.algos.gnn import link_prediction_predict
    return link_prediction_predict(g, top_k=int(a) if a is not None else 50)


def _lp_recommend(g, src, dest_vertices, k: int = 5):
    """link_prediction.recommend(src, dest_vertices, k) YIELD score,
    recommendation (reference link_prediction.py:414): top-k destinations
    by trained-model edge score."""
    from memgraph_spark.algos.linkpred_deep import linkpred_recommend
    rows = linkpred_recommend(g, int(src), list(dest_vertices or []),
                              int(k))
    return g.spark.createDataFrame(
        rows or [], "score double, recommendation long")


def _lp_get_training_results(g):
    """link_prediction.get_training_results() (reference :573): the last
    train's per-epoch metric rows; raises when train wasn't called."""
    results = getattr(g, "_lp_results", None)
    if not results:
        raise ValueError("Training results are outdated or train method "
                         "wasn't called.")
    return g.spark.createDataFrame(
        results, "epoch int, split string, loss double, accuracy double, "
                 "auc double, precision double, recall double, f1 double")


def _lp_load_model(g, path: str = "/tmp/"):
    """link_prediction.load_model(path) YIELD status (reference :594):
    loads the end-of-train checkpoint written when context_save_dir was
    set; a missing file raises like the reference's torch.load."""
    from memgraph_spark.algos.linkpred_deep import linkpred_load
    linkpred_load(g, str(path))
    return g.spark.createDataFrame([(True,)], "status boolean")


def _lp_reset_parameters(g):
    """link_prediction.reset_parameters() YIELD status (reference :613):
    clears the stored config, model and training results."""
    for attr in ("_lp_params", "_lp_deep_model", "_lp_results",
                 "_lp_model"):
        if hasattr(g, attr):
            delattr(g, attr)
    return g.spark.createDataFrame([(True,)], "status boolean")


def _nc_params(g) -> dict:
    return getattr(g, "_nc_params", {})


def _nc_set_model_parameters(g, params=None):
    """node_classification.set_model_parameters(params) YIELD status
    (src/mage/python/node_classification.py:285) — stores overrides the
    next train() merges (num_epochs, learning_rate, split_ratio,
    features_name, class_name)."""
    g._nc_params = {**_nc_params(g), **(params or {})}
    return g.spark.createDataFrame(
        [("Model parameters set.",)], "status string")


def _nc_train(g, num_epochs=None):
    """node_classification.train([num_epochs]) YIELD epoch, loss,
    val_loss, train_log, val_log (node_classification.py:435). Default:
    the no-torch softmax-regression baseline over own ++ mean-neighbour
    features (algos/gnn.py). Setting layer_type in
    set_model_parameters selects the deep path: SAGE, GAT, GATv2 and
    GATJK all train the real numpy layer algebra without torch
    (algos/sage.py, gat.py, gatv2.py, gatjk.py); only unknown layer
    types hit the reference's torch gate."""
    from memgraph_spark.algos.gnn import node_classification_train
    p = _nc_params(g)
    layer_type = p.get("layer_type")
    return node_classification_train(
        g,
        num_epochs=int(num_epochs if num_epochs is not None
                       else p.get("num_epochs", 100)),
        learning_rate=float(p.get("learning_rate", 0.1)),
        split_ratio=float(p.get("split_ratio", 0.8)),
        features_attr=str(p.get("features_name", "features")),
        label_attr=str(p.get("class_name", "class")),
        deep=layer_type is not None,
        layer_type=str(layer_type) if layer_type is not None else "GATJK",
        hidden_sizes=p.get("hidden_features_size"),
        aggregator=str(p.get("aggregator", "mean")),
        weight_decay=float(p.get("weight_decay", 5e-4)))


def _nc_predict(g, vertex):
    """node_classification.predict(vertex) YIELD predicted_class, status
    (node_classification.py:655)."""
    from memgraph_spark.algos.gnn import node_classification_predict
    return node_classification_predict(g, vertex)


def _nc_reset(g):
    """node_classification.reset() YIELD status
    (node_classification.py:700)."""
    from memgraph_spark.algos.gnn import node_classification_reset
    g._nc_params = {}
    return node_classification_reset(g)


def _tgn(name):
    """tgn.* registration shim: the no-torch temporal-memory baseline
    (algos/tgn_baseline.py) fills the reference's tgn.py procedure
    surface; torch-only layer/updater configs keep the dependency gate."""
    import memgraph_spark.algos.tgn_baseline as TB
    return getattr(TB, f"tgn_{name}")


def _tgn_set_params(g, params=None):
    return _tgn("set_params")(g, params)


def _tgn_update(g, edges=None):
    return _tgn("update")(g, edges or [])


def _tgn_get(g):
    return _tgn("get")(g)


def _tgn_predict_link_score(g, src, dest):
    return _tgn("predict_link_score")(g, src, dest)


def _tgn_train_and_eval(g, num_epochs=1):
    return _tgn("train_and_eval")(g, int(num_epochs))


def _tgn_get_results(g):
    return _tgn("get_results")(g)


def _tgn_set_eval(g):
    return _tgn("set_eval")(g)


def _tgn_reset(g):
    return _tgn("reset")(g)


def _tgn_revert_from_database(g):
    """tgn.revert_from_database — unimplemented IN THE REFERENCE too
    (tgn.py:956 raises NotImplementedError with a docs pointer);
    registered for exact surface parity."""
    raise NotImplementedError(
        "tgn.revert_from_database is not implemented (the reference's "
        "own procedure raises NotImplementedError — tgn.py:956)")


def _tgn_save_tgn_params(g):
    """tgn.save_tgn_params — unimplemented IN THE REFERENCE too
    (tgn.py:965); registered for exact surface parity."""
    raise NotImplementedError(
        "tgn.save_tgn_params is not implemented (the reference's own "
        "procedure raises NotImplementedError — tgn.py:965)")


def _n2vo_state(g) -> dict:
    if not hasattr(g, "_n2v_online_state"):
        g._n2v_online_state = {"updater": None, "learner": None,
                               "edges_df": None, "dirty": True, "emb": None}
    return g._n2v_online_state


def _n2vo_now() -> int:
    """Edge arrival clock for the stream buffer (reference stamps each
    update batch with std::time(nullptr), node2vec_online_module.cpp:216).
    Module-level so tests can monkeypatch time."""
    import time
    return int(time.time())


def _n2vo_set_streamwalk_updater(g, half_life=7200, max_length=3, beta=0.9,
                                 cutoff=604800, sampled_walks=4,
                                 full_walks=False):
    """node2vec_online.set_streamwalk_updater
    (query_modules/node2vec_online_module/node2vec_online_module.cpp:329).
    Parameters are stored; the walk sampler maps max_length ->
    walk_length and sampled_walks -> num_walks of the batch re-expression,
    and half_life/cutoff drive temporal decay at get(): edges older than
    cutoff (vs the newest buffered edge) are dropped, the rest weight walk
    sampling by 0.5^(age/half_life) — the StreamWalk decay law
    (algorithm/stream_walk_updater.hpp:12, c = -ln(0.5)/half_life)."""
    if int(half_life) <= 0:
        raise ValueError("half_life must be positive.")
    st = _n2vo_state(g)
    st["updater"] = {"half_life": int(half_life),
                     "max_length": int(max_length), "beta": float(beta),
                     "cutoff": int(cutoff),
                     "sampled_walks": int(sampled_walks),
                     "full_walks": bool(full_walks)}
    st["dirty"] = True
    return g.spark.createDataFrame(
        [("Streamwalk updater set.",)], "message string")


def _n2vo_set_word2vec_learner(g, embedding_dimension=128,
                               learning_rate=0.01, skip_gram=True,
                               negative_rate=10.0, threads=1):
    """node2vec_online.set_word2vec_learner (node2vec_online_module.cpp:
    339) — SGNS hyper-parameters for the shared node2vec trainer."""
    st = _n2vo_state(g)
    st["learner"] = {"embedding_dimension": int(embedding_dimension),
                     "learning_rate": float(learning_rate),
                     "skip_gram": bool(skip_gram),
                     "negative_rate": float(negative_rate),
                     "threads": int(threads)}
    st["dirty"] = True
    return g.spark.createDataFrame(
        [("Word2Vec learner set.",)], "message string")


def _n2vo_require_init(st):
    if st["updater"] is None or st["learner"] is None:
        raise ValueError(
            "node2vec_online: call set_streamwalk_updater and "
            "set_word2vec_learner before update/get (reference errors the "
            "same way on an uninitialized module)")


def _n2vo_update(g, edges=None):
    """node2vec_online.update(edges) — buffers stream edges (rows of
    [src, dst] or edge structs), stamped with the arrival time (the
    reference stamps the batch with std::time, module.cpp:216);
    embeddings retrain lazily on get(). Online in protocol, amortized
    batch recompute in implementation — at scale the retrain is the
    distributed SGNS path of node2vec_embeddings. The stream history
    accumulates as a checkpointed frame (old generations freed), never a
    driver-side list. Returns a zero-column frame: the reference update()
    yields one empty mgp.Record per call, so in-query CALLs must keep the
    frame's cardinality (void_like pass-through), not annihilate it."""
    from pyspark.sql import types as T
    from memgraph_spark.session import free_checkpoint
    st = _n2vo_state(g)
    _n2vo_require_init(st)
    now = _n2vo_now()
    rows = []
    for e in edges or []:
        row = _pyval(e)
        if isinstance(row, (list, tuple)) and len(row) >= 2:
            rows.append((int(row[0]), int(row[1]), now))
    if rows:
        df = g.spark.createDataFrame(rows, "src long, dst long, t long")
        if st.get("edges_df") is None:
            st["edges_df"] = df.localCheckpoint(eager=True)
        else:
            merged = (st["edges_df"].unionByName(df)
                      .localCheckpoint(eager=True))
            free_checkpoint(st["edges_df"])
            st["edges_df"] = merged
        st["dirty"] = True
    return empty_frame(g.spark, T.StructType([]))


def _n2vo_get(g):
    """node2vec_online.get() YIELD node, embedding.

    Temporal decay (StreamWalk, algorithm/stream_walk_updater.hpp:12):
    relative to the newest buffered edge, edges older than `cutoff` are
    dropped and the survivors weight walk sampling by
    0.5^(age/half_life). Endpoints whose every edge aged past the cutoff
    stay in the vocabulary (length-1 walks) so their embeddings drift to
    independent init vectors rather than vanishing. When every weight is
    exactly 1.0 in float (single-timestamp buffer, or half_life large
    enough that the oldest decay rounds to 1), the unweighted plan runs —
    bit-identical to the no-decay output."""
    import math
    st = _n2vo_state(g)
    _n2vo_require_init(st)
    if st.get("edges_df") is None:
        return empty_frame(g.spark, "node long, embedding array<double>")
    if st["dirty"] or st["emb"] is None:
        from memgraph_spark.algos.node2vec import node2vec_embeddings
        from memgraph_spark.catalog import PropertyGraph
        up, ln = st["updater"], st["learner"]
        e = st["edges_df"]
        half_life, cutoff = up["half_life"], up["cutoff"]
        bounds = e.agg(F.max("t").alias("tmax"),
                       F.min("t").alias("tmin")).first()
        span = int(bounds.tmax - bounds.tmin)
        live = e.filter(F.col("t") > F.lit(int(bounds.tmax) - cutoff))
        endpoints = (e.select(F.col("src").alias("id"))
                     .unionAll(e.select(F.col("dst").alias("id")))
                     .dropDuplicates())
        no_decay = (span < cutoff
                    and math.exp(-math.log(2.0) * span / half_life) == 1.0)
        if no_decay:
            weighted, starts = None, None
            edge_frame = e.select("src", "dst")
        else:
            w = F.exp(F.lit(-math.log(2.0) / half_life)
                      * (F.lit(int(bounds.tmax)) - F.col("t")).cast("double"))
            directed = live.select("src", "dst", w.alias("w"))
            # undirected traversal: both orientations, per-arrival rows kept
            # (multiple arrivals = more sampling mass, as in StreamWalk)
            weighted = directed.unionAll(
                directed.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"), "w"))
            starts = endpoints
            edge_frame = live.select("src", "dst")
        sub = PropertyGraph(g.spark, nodes={"V": endpoints},
                            edges={"E": edge_frame})
        new_emb = node2vec_embeddings(
            sub,
            num_walks=up["sampled_walks"],
            walk_length=up["max_length"],
            vector_size=ln["embedding_dimension"],
            alpha=ln["learning_rate"],
            negative=max(1, int(ln["negative_rate"])),
            weighted_adj=weighted,
            start_nodes=starts,
        ).localCheckpoint(eager=True)
        if st["emb"] is not None:
            from memgraph_spark.session import free_checkpoint
            free_checkpoint(st["emb"])
        st["emb"] = new_emb
        st["dirty"] = False
    return st["emb"]


def _n2vo_reset(g):
    if hasattr(g, "_n2v_online_state"):
        from memgraph_spark.session import free_checkpoint
        st = g._n2v_online_state
        if st.get("edges_df") is not None:
            free_checkpoint(st["edges_df"])
        if st.get("emb") is not None:
            free_checkpoint(st["emb"])
        del g._n2v_online_state
    return g.spark.createDataFrame(
        [("The model has been reset.",)], "message string")


def _n2vo_help(g):
    rows = [(f"node2vec_online.{p}", d) for p, d in (
        ("set_streamwalk_updater",
         "configure temporal walk sampling (half_life, max_length, beta, "
         "cutoff, sampled_walks, full_walks)"),
        ("set_word2vec_learner",
         "configure SGNS (embedding_dimension, learning_rate, skip_gram, "
         "negative_rate, threads)"),
        ("update", "buffer stream edges; embeddings retrain lazily"),
        ("get", "YIELD node, embedding"),
        ("reset", "clear updater, learner and embeddings"))]
    return g.spark.createDataFrame(rows, "name string, value string")


def _json_load_from_path(g, path: str):
    """json_util.load_from_path(path) YIELD objects
    (src/mage/python/json_util.py:85). Distributed spark.read.json scan —
    one row per JSON object with a map of stringified fields."""
    df = g.spark.read.json(path)
    obj = F.map_from_arrays(
        F.array(*[F.lit(c) for c in df.columns]),
        F.array(*[F.col(c).cast("string") for c in df.columns]))
    return df.select(obj.alias("objects"))


def _export_json(g, path: str, label: str | None = None):
    """export_util.json(path) (src/mage/python/export_util.py) — writes the
    node tables as JSON lines; returns the per-label row counts."""
    rows = []
    for lbl, df in g.nodes.items():
        if label and lbl != label:
            continue
        df.write.mode("overwrite").json(f"{path.rstrip('/')}/{lbl}")
        rows.append((lbl, df.count()))
    return g.spark.createDataFrame(rows, "label string, rows long")


def _export_csv(g, path: str, label: str | None = None):
    """export_util.csv(path) — same contract as export_util.json."""
    rows = []
    for lbl, df in g.nodes.items():
        if label and lbl != label:
            continue
        df.write.mode("overwrite").option("header", True) \
            .csv(f"{path.rstrip('/')}/{lbl}")
        rows.append((lbl, df.count()))
    return g.spark.createDataFrame(rows, "label string, rows long")


def _do_when(g, condition, if_query: str, else_query: str = "", params=None):
    """do.when(condition, ifQuery, elseQuery, params) YIELD value
    (src/mage/cpp/do_module — conditional Cypher execution)."""
    from memgraph_spark.plans import GraphSession
    q = if_query if condition else else_query
    if not q:
        return empty_frame(g.spark, "value string")
    out = GraphSession(g).execute(q, params or {})
    return out.select(F.to_json(F.struct(*out.columns)).alias("value"))


def _do_case(g, conditions, queries, else_query: str = "", params=None):
    """do.case([cond...], [query...], elseQuery) YIELD value — first true
    condition's query runs (src/mage/cpp/do_module kProcedureCase)."""
    q = else_query
    for c, qq in zip(list(conditions), list(queries)):
        if c:
            q = qq
            break
    return _do_when(g, True, q, "", params)


def _periodic_iterate(g, query: str, config=None):
    """periodic.iterate(query, config) YIELD success, number_of_executed_batches
    (src/mage/cpp/periodic_module). Batch semantics collapse to one
    distributed execution: Spark already partitions the work that the
    reference's row-batching loop simulates."""
    from memgraph_spark.plans import GraphSession
    GraphSession(g).execute(query).collect()
    return g.spark.createDataFrame([(True, 1)],
                                   "success boolean, number_of_executed_batches long")


def _refactor_rename_label(g, old_label: str, new_label: str):
    """refactor.rename_label(old, new) YIELD nodes_changed
    (src/mage/cpp/refactor_module)."""
    if old_label not in g.nodes:
        return g.spark.createDataFrame([(0,)], "nodes_changed long")
    df = g.nodes.pop(old_label)
    if new_label in g.nodes:
        common = [c for c in df.columns if c in g.nodes[new_label].columns]
        g.set_node_version(new_label, g.nodes[new_label].select(common)
                           .unionByName(df.select(common)))
    else:
        g.set_node_version(new_label, df)
    return g.spark.createDataFrame([(df.count(),)], "nodes_changed long")


def _refactor_rename_type(g, old_type: str, new_type: str):
    """refactor.rename_type(old, new) YIELD relationships_changed."""
    if old_type not in g.edges:
        return g.spark.createDataFrame([(0,)], "relationships_changed long")
    df = g.edges.pop(old_type)
    g.forget(old_type)
    g.set_edge_version(new_type, df)
    return g.spark.createDataFrame([(df.count(),)],
                                   "relationships_changed long")


def _refactor_rename_node_property(g, old_property: str, new_property: str,
                                   label: str | None = None):
    """refactor.rename_node_property(old, new, [label]) YIELD nodes_changed."""
    n = 0
    for lbl, df in list(g.nodes.items()):
        if label and lbl != label:
            continue
        if old_property in df.columns:
            g.set_node_version(lbl, df.withColumnRenamed(old_property,
                                                         new_property))
            n += df.count()
    return g.spark.createDataFrame([(n,)], "nodes_changed long")


def _biconnected(g):
    """biconnected_components.get() YIELD bcc_id, node_from, node_to
    (src/mage/cpp/biconnected_components_module)."""
    from memgraph_spark.algos.biconnected import biconnected_components
    return biconnected_components(g)


def _vrp(g, depot_node, number_of_vehicles=None):
    """vrp.route(depot_node, [k]) YIELD from_vertex, to_vertex
    (src/mage/python/vrp.py:65; sweep + nearest-neighbour heuristic)."""
    from memgraph_spark.algos.biconnected import vrp_route
    k = 1 if number_of_vehicles is None else int(number_of_vehicles)
    r = vrp_route(g, int(depot_node), k)
    rows = [] if not r else list(zip(r[0], r[1]))
    return g.spark.createDataFrame(rows or [],
                                   "from_vertex long, to_vertex long")


register("biconnected_components.get", _biconnected)
register("vrp.route", _vrp)
register("graph_coloring.color_graph", _color_graph)
register("link_prediction.get", _link_prediction)
register("link_prediction.set_model_parameters", _lp_set_model_parameters)
register("link_prediction.train", _link_prediction_train)
register("link_prediction.predict", _link_prediction_predict)
register("link_prediction.recommend", _lp_recommend)
register("link_prediction.get_training_results", _lp_get_training_results)
register("link_prediction.load_model", _lp_load_model)
register("link_prediction.reset_parameters", _lp_reset_parameters)
register("node_classification.set_model_parameters",
         _nc_set_model_parameters)
register("node_classification.train", _nc_train)
register("node_classification.predict", _nc_predict)
register("node_classification.reset", _nc_reset)
register("tgn.set_params", _tgn_set_params)
register("tgn.update", _tgn_update)
register("tgn.get", _tgn_get)
register("tgn.predict_link_score", _tgn_predict_link_score)
register("tgn.train_and_eval", _tgn_train_and_eval)
register("tgn.get_results", _tgn_get_results)
register("tgn.set_eval", _tgn_set_eval)
register("tgn.reset", _tgn_reset)
register("tgn.revert_from_database", _tgn_revert_from_database)
register("tgn.save_tgn_params", _tgn_save_tgn_params)
register("node2vec_online.set_streamwalk_updater",
         _n2vo_set_streamwalk_updater)
register("node2vec_online.set_word2vec_learner", _n2vo_set_word2vec_learner)
register("node2vec_online.update", _n2vo_update)
register("node2vec_online.get", _n2vo_get)
register("node2vec_online.reset", _n2vo_reset)
register("node2vec_online.help", _n2vo_help)


def _gnn_pyg_export(g, node_property_names=None, edge_property_names=None,
                    node_label_property=None):
    from memgraph_spark.gnn_io import pyg_export
    return pyg_export(g, node_property_names, edge_property_names,
                      node_label_property)


def _gnn_pyg_import(g, json_data, default_node_label="PygNode",
                    default_edge_type="PYG_EDGE",
                    node_property_names=None, edge_property_names=None):
    from memgraph_spark.gnn_io import pyg_import
    return pyg_import(g, str(json_data), str(default_node_label),
                      str(default_edge_type), node_property_names,
                      edge_property_names)


def _gnn_tf_export(g, node_property_names=None, edge_property_names=None,
                   node_set_name="node", edge_set_name="edge"):
    from memgraph_spark.gnn_io import tf_export
    return tf_export(g, node_property_names, edge_property_names,
                     str(node_set_name), str(edge_set_name))


def _gnn_tf_import(g, json_data, default_node_label="TfGnnNode",
                   default_edge_type="TFGNN_EDGE"):
    from memgraph_spark.gnn_io import tf_import
    return tf_import(g, str(json_data), str(default_node_label),
                     str(default_edge_type))


register("gnn.pyg_export", _gnn_pyg_export)
register("gnn.pyg_import", _gnn_pyg_import)
register("gnn.tf_export", _gnn_tf_export)
register("gnn.tf_import", _gnn_tf_import)
register("json_util.load_from_path", _json_load_from_path)
register("export_util.json", _export_json)
register("export_util.csv", _export_csv)
register("do.when", _do_when)
register("do.case", _do_case)
register("periodic.iterate", _periodic_iterate)
register("refactor.rename_label", _refactor_rename_label)
register("refactor.rename_type", _refactor_rename_type)
register("refactor.rename_node_property", _refactor_rename_node_property)
register("neighbors.at_hop", _neighbors_at_hop)
register("neighbors.by_hop", _neighbors_by_hop)
VECTORIZED["neighbors.at_hop"] = _vec_neighbors_at_hop
VECTORIZED["neighbors.by_hop"] = _vec_neighbors_by_hop
VECTORIZED["node.relationship_types"] = _vec_node_rel_types
VECTORIZED["node.relationship_exists"] = _vec_node_rel_exists
VECTORIZED["label.exists"] = _vec_label_exists
register("meta.stats_offline", _meta_stats)
register("meta.stats_online", _meta_stats)
register("meta.stats", _meta_stats)
register("label.exists", _label_exists)
register("node.relationship_types", _node_rel_types)
register("node.relationship_exists", _node_rel_exists)
register("bridges.get", _bridges)
register("cycles.get", _cycles)
register("bipartite_matching.max", _bipartite)
register("union_find.connected", _union_find)
register("kmeans.get_clusters", _kmeans)
register("set_cover.greedy", _set_cover)
register("knn.get", _knn)
register("igraphalg.topological_sort", _topo_sort)
register("katz_centrality.get", _katz)
register("igraphalg.spanning_tree", _spanning_tree)
register("igraphalg.shortest_path_length", _sp_length)
register("igraphalg.get_shortest_path", _sp_path)
register("igraphalg.all_shortest_path_lengths", _all_sp_lengths)
register("igraphalg.get_all_simple_paths", _simple_paths)
register("node2vec.get_embeddings", _node2vec)
register("tsp.solve", _tsp)
register("max_flow.get_flow", _max_flow)
register("max_flow.get_paths", _max_flow_paths)
register("igraphalg.mincut", _mincut)
def _import_json(g, path: str):
    """import_util.json(path) (src/mage/python/import_util.py:311) — loads
    node tables exported by export_util.json back into the graph; YIELD
    label, rows."""
    import os
    rows = []
    base = path.rstrip("/")
    for lbl in sorted(os.listdir(base)):
        sub = os.path.join(base, lbl)
        if not os.path.isdir(sub):
            continue
        df = g.spark.read.json(sub)
        if "id" in df.columns:
            g.set_node_version(lbl, df)
            rows.append((lbl, df.count()))
    return g.spark.createDataFrame(rows or [], "label string, rows long")


def _text_search_indexed(g, index_name: str, search_query: str, k=10):
    """text_search.search_all(index_name, search_query[, config]) parity
    (query_modules/text_search_module.cpp:28) — match the term in ANY
    property of the indexed label; `documents` is the built-in corpus."""
    if _is_text_index(g, index_name):
        from memgraph_spark.search import graph_text
        config = k if isinstance(k, dict) else None
        return graph_text.search_all(g, index_name, search_query,
                                     config=config)
    return _text_search(g, search_query, k)


def _text_aggregate(g, index_name: str, search_query: str, aggs_json: str):
    """text_search.aggregate(index, query, aggregations_json) YIELD
    aggregation (text_search_module.cpp)."""
    from memgraph_spark.search import graph_text
    return graph_text.aggregate(g, index_name, search_query, aggs_json)


def _text_search_edges(g, index_name: str, search_query: str, config=None):
    from memgraph_spark.search import graph_text
    return graph_text.search(g, index_name, search_query, config=config,
                             edges=True)


def _text_fuzzy_phrase_edges(g, index_name: str, search_query: str,
                             config=None):
    from memgraph_spark.search import graph_text
    return graph_text.fuzzy_phrase_search(g, index_name, search_query,
                                          config=config, edges=True)


def _text_search_all_edges(g, index_name: str, term: str):
    from memgraph_spark.search import graph_text
    return graph_text.search_all(g, index_name, term, edges=True)


def _text_regex_edges(g, index_name: str, pattern: str):
    from memgraph_spark.search import graph_text
    return graph_text.regex_search(g, index_name, pattern, edges=True)


def _text_aggregate_edges(g, index_name: str, search_query: str,
                          aggs_json: str):
    from memgraph_spark.search import graph_text
    return graph_text.aggregate(g, index_name, search_query, aggs_json,
                                edges=True)


def _text_fuzzy_indexed(g, index_name: str, search_query: str,
                        config=None):
    """text_search.fuzzy_phrase_search(index_name, query[, config])
    (text_search_module.cpp:24): ordered adjacent words with a shared
    fuzzy budget over a named index; corpus fallback when the first
    argument is not an index name."""
    if _is_text_index(g, index_name):
        from memgraph_spark.search import graph_text
        return graph_text.fuzzy_phrase_search(g, index_name, search_query,
                                              config=config)
    return _text_fuzzy(g, search_query,
                       config if isinstance(config, int) else 1)


def _vector_search(g, index_name: str, result_set_size: int, query_vector):
    """vector_search.search(index_name, result_set_size, query_vector)
    YIELD node, distance, similarity
    (query_modules/vector_search_module.cpp — usearch HNSW replaced by the
    exact top-k scan; llm.similarity.ivf_topk/lsh_bucket_topk are the
    approximate scale paths)."""
    if index_name in getattr(g, "vector_indexes", {}):
        from memgraph_spark import vector_admin
        return vector_admin.search(g, index_name, int(result_set_size),
                                   query_vector)
    from memgraph_spark.llm.similarity import cosine_topk
    emb = g.tables["embeddings"]
    r = cosine_topk(emb, [float(v) for v in query_vector],
                    k=int(result_set_size))
    return r.select(F.col("vec_id").alias("node"),
                    (1.0 - F.col("sim")).alias("distance"),
                    F.col("sim").alias("similarity"))


def _vector_search_edges(g, index_name: str, result_set_size: int,
                         query_vector):
    """vector_search.search_edges(index, k, qv) YIELD edge, distance,
    similarity (vector_search_module.cpp)."""
    from memgraph_spark import vector_admin
    return vector_admin.search_edges(g, index_name, int(result_set_size),
                                     query_vector)


def _vector_show_index_info(g):
    """vector_search.show_index_info() YIELD capacity, dimension, …
    (vector_search_module.cpp)."""
    from memgraph_spark import vector_admin
    return vector_admin.show_vector_index_info(g)


def _algo_astar(g, source, target, config=None):
    """algo.astar(source, target, config) YIELD path, weight
    (src/mage/cpp/algo_module — A*'s heuristic is a single-node pruning
    trick; the distributed equivalent runs the same-result frontier-parallel
    Dijkstra/Bellman relaxation, so path and weight match exactly)."""
    from memgraph_spark.operators.kshortest import shortest_path_with_nodes
    cfg = config or {}
    weight = cfg.get("weight_property") if isinstance(cfg, dict) else None
    unweighted = bool(cfg.get("unweighted")) if isinstance(cfg, dict) else False
    r = shortest_path_with_nodes(g, int(source), int(target),
                                 weight_col=None if unweighted else weight)
    rows = [] if r is None else [(r[0], float(r[1]))]
    return g.spark.createDataFrame(rows or [],
                                   "path array<long>, weight double")


def _algo_cover(g, nodes):
    """algo.cover(nodes) YIELD rel — edges of the induced subgraph
    (src/mage/cpp/algo_module/algorithm/algo.cpp:178)."""
    ids = g.spark.createDataFrame([(int(n),) for n in nodes], "id long")
    e = g.all_edges()
    out = (e.join(F.broadcast(ids.withColumnRenamed("id", "src")), "src",
                  "left_semi")
           .join(F.broadcast(ids.withColumnRenamed("id", "dst")), "dst",
                 "left_semi")
           .select("src", "dst", "type"))
    return out


def _create_node(g, labels=None, props=None):
    """create.node(labels, props) YIELD node
    (src/mage/cpp/create_module — APOC-style write helper). The write is a
    table-version swap; the yielded node id is the version diff."""
    from memgraph_spark.plans import GraphSession
    labels = list(labels or ["__Node"])
    props = dict(props or {})
    lbl = labels[0]
    before = g.nodes[lbl].select("id") if lbl in g.nodes else None
    items = ", ".join(f"{k}: ${k}" for k in props)
    body = f":{':'.join(labels)}" + (f" {{{items}}}" if items else "")
    GraphSession(g).execute(f"CREATE (n{body})", props).collect()
    after = g.nodes[lbl].select("id")
    new = after.join(before, "id", "left_anti") if before is not None else after
    return new.select(F.col("id").alias("node"))


def _create_nodes(g, labels=None, props=None):
    """create.nodes(labels, props_list) YIELD node — bulk variant."""
    out = None
    for p in (props or [{}]):
        df = _create_node(g, labels, p)
        out = df if out is None else out.unionByName(df)
    return out


def _create_relationship(g, from_node, rel_type: str, props, to_node):
    """create.relationship(from, relationshipType, properties, to)
    YIELD relationship (eid)."""
    src, dst = int(from_node), int(to_node)
    props = dict(props or {})
    epoch = g.next_epoch()
    schema_cols = ["src long", "dst long"] + \
        [f"{k} string" for k in props]  # property values stringified
    new = g.spark.createDataFrame(
        [(src, dst, *[str(v) for v in props.values()])],
        ", ".join(schema_cols))
    new = new.withColumn("eid", F.xxhash64(F.lit(rel_type), F.lit(epoch),
                                           "src", "dst"))
    if rel_type in g.edges:
        old = g.edges[rel_type]
        common = [c for c in new.columns if c in old.columns]
        merged = old.select(common).unionByName(new.select(common))
    else:
        merged = new
    g.set_edge_version(rel_type, merged)
    return new.select(F.col("eid").alias("relationship"))


def _create_set_property(g, node, key: str, value):
    """create.set_property(node, key, value) YIELD node."""
    nid = int(node)
    for lbl, df in list(g.nodes.items()):
        if df.filter(F.col("id") == nid).isEmpty():
            continue
        col = (F.when(F.col("id") == nid, F.lit(value))
               .otherwise(F.col(key) if key in df.columns else F.lit(None)))
        g.set_node_version(lbl, df.withColumn(key, col))
    return g.spark.createDataFrame([(nid,)], "node long")


register("create.node", _create_node)
register("create.nodes", _create_nodes)
register("create.relationship", _create_relationship)
register("create.set_property", _create_set_property)
register("set_property.set_property", _create_set_property)
register("algo.astar", _algo_astar)
register("algo.cover", _algo_cover)
register("algo.all_simple_paths", _simple_paths)
register("vector_search.search", _vector_search)
register("vector_search.show_index_info", _vector_show_index_info)
register("vector_search.search_edges", _vector_search_edges)
register("import_util.json", _import_json)
register("text_search.search", _text_search)
register("text_search.search_all", _text_search_indexed)
register("text_search.regex_search", _text_regex)
register("text_search.fuzzy_search", _text_fuzzy)
register("text_search.fuzzy_phrase_search", _text_fuzzy_indexed)
register("text_search.aggregate", _text_aggregate)
register("text_search.search_edges", _text_search_edges)
register("text_search.search_all_edges", _text_search_all_edges)
register("text_search.regex_search_edges", _text_regex_edges)
register("text_search.fuzzy_phrase_search_edges", _text_fuzzy_phrase_edges)
register("text_search.aggregate_edges", _text_aggregate_edges)
register("pagerank.get", _pagerank)
register("weakly_connected_components.get", _wcc)
register("wcc.get", _wcc)
def _louvain(g, max_levels: int = 3, max_rounds: int = 8,
             resolution: float = 1.0, weight_property=None):
    """community_detection.get([...]) YIELD node, community_id — Louvain
    (src/mage/cpp/community_detection_module,
    leiden_community_detection_module)."""
    from memgraph_spark.algos import louvain_communities
    edges = (g.all_edges(properties=[weight_property])
             if weight_property else g.all_edges())
    r = louvain_communities(edges, max_levels=int(max_levels),
                            max_rounds=int(max_rounds),
                            resolution=float(resolution),
                            weight_col=weight_property)
    return r.select(F.col("id").alias("node"),
                    F.col("community").alias("community_id"))


register("community_detection.get", _louvain)
register("leiden_community_detection.get", _louvain)
register("louvain.get", _louvain)
register("label_propagation.get", _label_prop)
register("degree_centrality.get", _degree)
register("betweenness_centrality.get", _betweenness)
register("triangle_count.get", _triangles)
register("node_similarity.jaccard", _node_similarity)
register("text_util.tokens", _text_tokens)
register("text_util.quality", _text_quality)
register("text_util.language", _text_langid)

# utility-module batch 2 (path/merge/nodes/search/connectivity/
# distance_calculator/csv_utils/date/graph_util/schema) registers itself
from memgraph_spark import modules_ext  # noqa: E402,F401  (registration side effect)

# nxalg.* — networkx algorithm surface (query_modules/nxalg.py parity)
from memgraph_spark.algos import nxalg_module  # noqa: E402

nxalg_module.register_all(register)

# batch 3: graph_analyzer / temporal / xml_module / llm_util / llm
from memgraph_spark import modules_ext2  # noqa: E402,F401  (registration side effect)

# refactor.* batch 2 (clone/merge/collapse/extract/categorize/…)
from memgraph_spark import refactor_ext  # noqa: E402,F401  (registration side effect)

# batch 4: meta_util / mgps compat shim / connector gates
from memgraph_spark import modules_ext3  # noqa: E402,F401  (registration side effect)


# mg.* introspection (src/query/procedure/module.cpp built-in module:
# mg.procedures/mg.functions enumerate the loaded registries)
def _mg_procedures(g):
    rows = [(name, f"{name}() :: ()", False, "builtin", False)
            for name in sorted(PROCEDURES)]
    return g.spark.createDataFrame(
        rows, "name string, signature string, is_write boolean, "
              "path string, is_editable boolean")


def _mg_functions(g):
    from memgraph_spark.functions import FUNCTIONS
    rows = [(name, f"{name}() :: (ANY)", "builtin", False)
            for name in sorted(FUNCTIONS)]
    return g.spark.createDataFrame(
        rows, "name string, signature string, path string, "
              "is_editable boolean")


register("mg.procedures", _mg_procedures)
register("mg.functions", _mg_functions)
