"""Expand operators — the graph-native family (SURVEY §2.3).

Reference: Expand (operator.cpp:1904) walks per-vertex adjacency vectors;
ExpandVariable (:2199) DFS-enumerates; BFS (:2726), Dijkstra (:3000),
all-shortest (:3309), KShortest/Yen (:3716) are pointer-chasing cursors.

Spark re-expression: one hop = one equi-join against the edge table (Catalyst
picks broadcast/SMJ/SHJ; AQE handles skewed supernodes); variable-length and
shortest paths are *iterative frontier joins* — each round fully distributed,
the driver loop only bounds rounds (graph diameter), never touches rows.
localCheckpoint() truncates lineage so round N's plan doesn't embed rounds
1..N-1.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import (
    MAX_ROUNDS, empty_frame, frontier, persist_if_needed, supersteps,
    union_rounds)

# Frontiers smaller than this are broadcast in iterative joins so the big
# edge table never shuffles; larger frontiers fall back to shuffle joins
# (the 100 TB path — AQE handles skew there).
BROADCAST_FRONTIER_ROWS = 500_000


def _maybe_broadcast(df: DataFrame, nrows: int) -> DataFrame:
    return F.broadcast(df) if nrows <= BROADCAST_FRONTIER_ROWS else df


def _edges_for(graph, etype, direction: str) -> DataFrame:
    """Edge table oriented so we always traverse src -> dst (not deduped —
    bag semantics for single-hop expand; iterative ops use graph.adjacency)."""
    edges = graph.edge(etype) if etype else graph.all_edges()
    out = edges.select(F.col("src"), F.col("dst"))
    inn = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == "out":
        return out
    if direction == "in":
        return inn
    return out.unionAll(inn)  # BOTH


def expand(
    df: DataFrame,
    graph,
    etype: str,
    from_sym: str,
    to_sym: str,
    direction: str = "out",
    edge_sym: str | None = None,
    edge_properties: list[str] | None = None,
) -> DataFrame:
    """Expand (operator.hpp:1063): one-hop neighbor expansion.

    Adds `{to_sym}_id` (and `{edge_sym}_<prop>` columns if requested) to every
    input row by joining the typed edge table on the bound endpoint.
    """
    edges = graph.edge(etype)
    props = edge_properties or ([] if edge_sym is None else
                                [c for c in edges.columns if c not in ("src", "dst")])
    if direction == "out":
        sel = [F.col("src").alias("__from"), F.col("dst").alias("__to")]
    elif direction == "in":
        sel = [F.col("dst").alias("__from"), F.col("src").alias("__to")]
    else:  # BOTH = union of the two orientations
        return expand(df, graph, etype, from_sym, to_sym, "out", edge_sym, edge_properties) \
            .unionByName(
                expand(df, graph, etype, from_sym, to_sym, "in", edge_sym, edge_properties))
    sel += [F.col(p).alias(f"{edge_sym}_{p}") for p in props] if edge_sym else []
    e = edges.select(*sel)
    joined = df.join(e, df[f"{from_sym}_id"] == e["__from"], "inner")
    return joined.withColumnRenamed("__to", f"{to_sym}_id").drop("__from")


def expand_node_props(
    df: DataFrame,
    graph,
    etype: str,
    from_sym: str,
    to_sym: str,
    label: str,
    properties: list[str],
    direction: str = "out",
) -> DataFrame:
    """Expand + bind target-node properties as ONE operator.

    When the catalog holds a co-located scan for (etype, end) — the edge is
    minted from the target node's own fact table, so one source row IS the
    edge and the node — the node properties ride the edge scan and the
    edge.dst = node.id self-join disappears (at scale: one scan and zero
    extra shuffle/broadcast of the fact table instead of two scans plus a
    join). Falls back to expand + id equi-join when no co-scan applies.
    Output columns: input cols + {to_sym}_id + {to_sym}_<prop>.
    """
    end = {"out": "dst", "in": "src"}.get(direction)
    co = getattr(graph, "co_scan", {}).get((etype, end)) if end else None
    if co is not None and co[0] == label and graph.extra_labels is None:
        _lbl, codf = co
        sel = [F.col("dst" if direction == "out" else "src").alias("__to"),
               F.col("src" if direction == "out" else "dst").alias("__from")]
        sel += [F.col(f"__n_{p}").alias(f"{to_sym}_{p}") for p in properties]
        e = codf.select(*sel)
        return (df.join(e, df[f"{from_sym}_id"] == e["__from"], "inner")
                .withColumnRenamed("__to", f"{to_sym}_id").drop("__from"))
    out = expand(df, graph, etype, from_sym, to_sym, direction)
    node = graph.node(label).select(
        F.col("id").alias("__nid"),
        *[F.col(p).alias(f"{to_sym}_{p}") for p in properties])
    return out.join(node, out[f"{to_sym}_id"] == node["__nid"],
                    "inner").drop("__nid")


def expand_into(
    df: DataFrame,
    graph,
    etype: str,
    from_sym: str,
    to_sym: str,
    direction: str = "out",
) -> DataFrame:
    """Expand in 'expand-into' mode (both endpoints already bound): keep rows
    where the edge exists — a semi-join on (src, dst)."""
    e = _edges_for(graph, etype, direction).select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    ).dropDuplicates()
    return (
        df.join(
            e,
            (df[f"{from_sym}_id"] == e["__from"]) & (df[f"{to_sym}_id"] == e["__to"]),
            "left_semi",
        )
    )


def _edges_with_eid(graph, etype, direction: str) -> DataFrame:
    """Oriented edge table carrying the real edge id and a forward flag —
    uniqueness tracking on eid (parallel edges are distinct) plus path
    reconstruction (fwd tells which way the stored edge was traversed)."""
    if etype:
        tables = [(etype, graph.edge(etype))]
    else:
        tables = list(graph.edges.items())
    dfs = []
    for _t, e in tables:
        if "eid" not in e.columns:
            # graphs registered without explicit edge identity: derive one
            e = e.withColumn("eid", F.xxhash64(F.lit(_t or ""), "src", "dst"))
        out = e.select(F.col("src").alias("__from"), F.col("dst").alias("__to"),
                       F.col("eid").alias("__eid"), F.lit(True).alias("__fwd"))
        inn = e.select(F.col("dst").alias("__from"), F.col("src").alias("__to"),
                       F.col("eid").alias("__eid"), F.lit(False).alias("__fwd"))
        if direction == "out":
            dfs.append(out)
        elif direction == "in":
            dfs.append(inn)
        else:
            dfs.append(out.unionAll(inn))
    if not dfs:
        return empty_frame(graph.spark, "__from BIGINT, __to BIGINT, "
                           "__eid BIGINT, __fwd BOOLEAN")
    res = dfs[0]
    for d in dfs[1:]:
        res = res.unionAll(d)
    return res


def expand_variable(
    df: DataFrame,
    graph,
    etype: str | None,
    from_sym: str,
    to_sym: str,
    lower: int = 1,
    upper: int | None = 8,
    direction: str = "out",
    depth_col: str | None = None,
    path_prefix: str | None = None,
    edges: DataFrame | None = None,
    node_ids: DataFrame | None = None,
) -> DataFrame:
    """ExpandVariable (operator.cpp:2199): `-[:T*lo..hi]->`.

    Iterative join loop: round k joins the depth-(k-1) rows against the edge
    table, accumulating the visited-edge set per path (Cypher edge-isomorphism:
    an edge may not repeat within a path; nodes may — EdgeUniquenessFilter,
    operator.hpp:1768). Returns the input columns + `{to_sym}_id` (+ depth).
    `upper=None` runs until a round adds no rows.

    With path_prefix, also returns `{path_prefix}_nids` (tail node ids, i.e.
    excluding the start), `{path_prefix}_eids`, `{path_prefix}_dirs` — the
    per-row path segment for named-path reconstruction.

    `edges` overrides the oriented (__from, __to, __eid, __fwd) table of
    (etype, direction); `node_ids` (an `id` frame) keeps only the steps
    that reach one of its nodes, so a path continues through them alone.
    """
    # persisted once per (etype, direction) in the catalog — every round
    # re-joins this table and must not re-derive it from the scans
    e = edges if edges is not None else graph.eid_edges(etype, direction)
    base_cols = df.columns
    init = df.select(
        "*",
        F.col(f"{from_sym}_id").alias("__node"),
        F.lit(0).alias("__depth"),
        F.array().cast("array<long>").alias("__tail"),
        F.array().cast("array<long>").alias("__edges"),
        F.array().cast("array<boolean>").alias("__dirs"),
    )

    def hop(cur: DataFrame) -> DataFrame:
        stepped = (
            cur.join(e, cur["__node"] == e["__from"], "inner")
            .filter(~F.array_contains(F.col("__edges"), F.col("__eid")))
            .select(
                *base_cols,
                F.col("__to").alias("__node"),
                (F.col("__depth") + 1).alias("__depth"),
                F.array_append("__tail", F.col("__to")).alias("__tail"),
                F.array_append("__edges", F.col("__eid")).alias("__edges"),
                F.array_append("__dirs", F.col("__fwd")).alias("__dirs"),
            )
        )
        if node_ids is not None:
            stepped = stepped.join(
                node_ids, stepped["__node"] == node_ids["id"], "left_semi")
        return stepped

    # Single-hop expansions compile to ONE lazy plan (a broadcast-able join,
    # no per-round materialization). Everything deeper runs on
    # session.frontier from the first hop, so the input rows are read once,
    # by that hop's checkpoint job: depth k>=2 in a lazy plan joins hop
    # k-1's output against the edge frame with NO size information, so
    # Catalyst sort-merge-joins it — a full shuffle of the edge table per
    # extra depth even when the frontier is a few hundred rows (AQE
    # materializes both shuffle stages before it can rewrite the join).
    # Each round's checkpoint makes the frontier count known and
    # `_maybe_broadcast` keeps the edges unshuffled below the 500k-row
    # fence — the BFS frontier-join shape, measured 0.70x at sf0.1 and
    # structurally safer at scale.
    if upper is not None and upper <= 1:
        rounds = [init, hop(init)][:upper + 1]
    else:
        deeper, _ = frontier(
            hop(init), lambda rs, t: hop(_maybe_broadcast(rs[-1], t[-1]["n"])),
            max_rounds=(MAX_ROUNDS if upper is None else upper) - 1)
        rounds = [init, *deeper]
    results = rounds[lower:]
    if not results:
        extra = {f"{to_sym}_id": F.lit(None).cast("long")}
        if depth_col:
            extra[depth_col] = F.lit(None).cast("int")
        if path_prefix:
            extra[f"{path_prefix}_nids"] = F.lit(None).cast("array<long>")
            extra[f"{path_prefix}_eids"] = F.lit(None).cast("array<long>")
            extra[f"{path_prefix}_dirs"] = F.lit(None).cast("array<boolean>")
        return df.limit(0).withColumns(extra)
    keep = [*base_cols, F.col("__node").alias(f"{to_sym}_id")]
    if depth_col:
        keep.append(F.col("__depth").alias(depth_col))
    if path_prefix:
        keep += [F.col("__tail").alias(f"{path_prefix}_nids"),
                 F.col("__edges").alias(f"{path_prefix}_eids"),
                 F.col("__dirs").alias(f"{path_prefix}_dirs")]
    return union_rounds(results).select(*keep)


def bfs_layers(edges: DataFrame, init: DataFrame, agg, max_hops: int | None,
               halt=None, **probe) -> DataFrame:
    """Layered BFS on session.frontier from `init` (start, id, dist, <agg
    column>): round d joins layer d-1 with `edges` (src, dst), folds the
    arrivals per (start, id) with `agg` (an aggregate Column over the
    frontier's columns), drops every pair an earlier layer reached and
    stamps dist = d. Returns the union of the layers. `probe` metrics
    ride each layer's checkpoint job for `halt(trace)`."""
    name = init.columns[3]

    def layer(rounds, trace):
        f = _maybe_broadcast(rounds[-1], trace[-1]["n"])
        seen = reduce(DataFrame.unionByName,
                      [r.select("start", "id") for r in rounds])
        return (f.join(edges, f["id"] == edges["src"], "inner")
                .groupBy("start", F.col("dst").alias("id"))
                .agg(agg.alias(name))
                .join(_maybe_broadcast(seen, sum(m["n"] for m in trace)),
                      ["start", "id"], "left_anti")
                .select("start", "id", F.lit(len(rounds)).alias("dist"),
                        name))

    rounds, _ = frontier(init, layer, halt, max_hops, **probe)
    return reduce(DataFrame.unionByName, rounds)


def bfs(
    graph,
    sources: DataFrame,
    etype: str | None = None,
    direction: str = "out",
    max_hops: int | None = 20,
    source_col: str = "id",
    edges_df: DataFrame | None = None,
    target: int | None = None,
) -> DataFrame:
    """SingleSourceShortestPath / BFS (operator.cpp:2726).

    `sources` is a DataFrame with a node-id column; returns
    (start BIGINT, id BIGINT, dist INT, par BIGINT) — minimal hop distance
    from each start to every reachable node, and the smallest predecessor
    id at dist - 1 (null at the start), i.e. a BFS tree per start. Each
    round (`bfs_layers`): frontier ⋈ edges, min-parent aggregate, anti-join
    the visited set, union. Driver loop = diameter iterations only.

    `max_hops=None` runs until the frontier is empty. `target` stops the
    loop after the round that first reaches that node id (its arrival
    count rides the round's checkpoint job). `edges_df` overrides the
    adjacency frame — a traversal-oriented (src, dst) list for callers
    whose edge-set semantics don't reduce to one (etype, direction) pair
    (e.g. neighbors.at_hop's per-type direction prefixes, a residual
    graph, a shortest-path tight subgraph).
    """
    # shared persisted adjacency; every BFS round re-joins it
    edges = edges_df if edges_df is not None else graph.adjacency(etype, direction)
    init = sources.select(
        F.col(source_col).alias("start"),
        F.col(source_col).alias("id"),
        F.lit(0).alias("dist"),
        F.lit(None).cast("long").alias("par"),
    )
    if target is None:
        return bfs_layers(edges, init, F.min("src"), max_hops)
    return bfs_layers(edges, init, F.min("src"), max_hops,
                      lambda t: t[-1]["hit"],
                      hit=F.count(F.when(F.col("id") == target, 1)))


def bfs_path(reach: DataFrame, target: int) -> list[int] | None:
    """Node ids of the BFS-tree path from the start to `target` in a
    single-source `bfs` result (walks `par` back on the driver), or None
    when `target` was not reached. Collects the visited set, so pass a
    `target`-bounded BFS."""
    parents = {r.id: r.par for r in reach.select("id", "par").collect()}
    if target not in parents:
        return None
    path = [target]
    while parents[path[-1]] is not None:
        path.append(parents[path[-1]])
    return path[::-1]


def shortest_path(
    graph,
    source_id: int,
    target_id: int,
    etype: str | None = None,
    direction: str = "out",
    max_hops: int = 20,
):
    """STShortestPath (operator.cpp:2458): hop distance between two bound
    nodes (None if unreachable). Early-exits the BFS loop on arrival."""
    spark = graph.spark
    sources = spark.createDataFrame([(source_id,)], "id long")
    reach = bfs(graph, sources, etype, direction, max_hops, target=target_id)
    return reach.filter(F.col("id") == target_id).select(F.min("dist")).first()[0]


def weighted_shortest_path(
    graph,
    sources: DataFrame,
    etype: str | None,
    weight_col: str,
    direction: str = "out",
    max_iterations: int = 30,
    source_col: str = "id",
    edges_df: DataFrame | None = None,
) -> DataFrame:
    """ExpandWeightedShortestPath (operator.cpp:3000, Dijkstra with a pq).

    Distributed re-expression: Bellman-Ford-style relaxation on
    `session.supersteps` until no distance improves — the scalable
    equivalent of Dijkstra when the frontier is a DataFrame. The state is
    (start, id, cost, fresh): each round joins the fresh rows (broadcast
    while small) with the edges and takes ONE groupBy(start, id) over the
    candidates and the state, min(new) beside min(old); a row is fresh when
    its new cost beats the old one. Returns (start, id, cost), one row per
    (start, id). Pass `edges_df` (src, dst, <weight_col>) to mix edge types
    with heterogeneous weights (the reference's weight lambda).
    """
    edges = edges_df if edges_df is not None else graph.edge(etype)
    if direction == "in":
        edges = edges.withColumnRenamed("src", "__t").withColumnRenamed("dst", "src") \
                     .withColumnRenamed("__t", "dst")
    elif direction == "both":
        edges = edges.unionByName(
            edges.withColumnRenamed("src", "__t").withColumnRenamed("dst", "src")
                 .withColumnRenamed("__t", "dst"))
    e, release_e = persist_if_needed(
        edges.select(F.col("src"), F.col("dst"),
                     F.col(weight_col).cast("double").alias("__w")))
    init = sources.select(
        F.col(source_col).alias("start"),
        F.col(source_col).alias("id"),
        F.lit(0.0).alias("cost"),
        F.lit(True).alias("fresh"),
    )

    def relax(state, trace):
        fresh = _maybe_broadcast(state.filter("fresh"), trace[-1]["fresh"])
        cand = fresh.join(e, fresh["id"] == e["src"], "inner").select(
            "start", F.col("dst").alias("id"),
            (F.col("cost") + F.col("__w")).alias("new"))
        best = (cand.unionByName(state.select(
                    "start", "id", F.col("cost").alias("old")),
                    allowMissingColumns=True)
                .groupBy("start", "id")
                .agg(F.min("new").alias("new"), F.min("old").alias("old")))
        # a start duplicated in `sources` is folded by this groupBy
        return best.select(
            "start", "id", F.least("new", "old").alias("cost"),
            F.coalesce(F.col("new") < F.col("old"), F.col("old").isNull())
            .alias("fresh"))

    # the fresh-row count rides each round's checkpoint job (observe)
    dist, trace = supersteps(init, relax, lambda t: t[-1]["fresh"] == 0,
                             max_iterations,
                             fresh=F.count(F.when(F.col("fresh"), 1)))
    release_e()
    out = dist.select("start", "id", "cost")
    # no round ran, so nothing folded duplicated starts
    return out.dropDuplicates(["start", "id"]) if len(trace) == 1 else out
