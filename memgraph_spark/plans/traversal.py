"""Traversal-mode variable expansion: `*`, `*bfs`, `*wShortest`,
`*allShortest` with filter / weight lambdas and bound edge-list symbols.

Reference: EdgeAtom::Type {DEPTH_FIRST, BREADTH_FIRST,
WEIGHTED_SHORTEST_PATH, ALL_SHORTEST_PATHS} (src/query/frontend/ast/
ast.hpp:1807) with per-expansion lambdas (EdgeAtom::Lambda, ast.hpp:1796);
cursors ExpandVariable (operator.cpp:2199), BFS (:2726), Dijkstra (:3000),
all-shortest (:3309).

Spark re-expression: one round function on `session.frontier` — each round is
one distributed join against the oriented edge table; lambdas compile to Column
predicates evaluated on the joined step rows (edge props + target-node props
+ accumulated-path detail arrays are all columns of the step frame, so the
filter stays JVM-side). Mode-specific pruning between rounds:

- plain `*`   : none — bag of all edge-unique walks (DFS enumeration parity)
- `*bfs`      : first arrival per (input row, node) wins; visited anti-join
- `*wShortest`: Bellman-Ford-style relaxation, argmin per (row, node)
- `*allShortest`: keep every path that ties the minimum cost

The driver loop only bounds rounds (graph diameter / upper bound); no row
ever passes through the driver. `frontier` checkpoints every round, with its
row count observed on the same job, so round N's plan doesn't embed rounds
1..N-1; the bfs visited set and the weighted modes' best cost per (row,
node) are lazy unions / aggregates over the kept rounds. At 100 TB the
frontier and the per-round shuffles are the scaling unit — AQE handles
supernode skew.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from memgraph_spark.plans import cypher_ast as A
from memgraph_spark.plans.exprs import CompileError, Env, compile_expr
from memgraph_spark.session import MAX_ROUNDS, frontier, union_rounds


def _lambda_refs(lam, idx: int) -> bool:
    """Does the lambda body reference its idx-th parameter?"""
    if lam is None or len(lam[0]) <= idx:
        return False
    name = lam[0][idx]
    return any(isinstance(n, A.Var) and n.name == name
               for n in A.walk(lam[1]))


# driver-side hops-limit replay fence: past either bound, the replay is
# skipped and the DISTRIBUTED preorder-truncation fallback meters the quota
# instead (approximate retrieval order, exact budget) — SCALE.md "hops limit"
HOPS_SIM_MAX_EDGES = 50_000
HOPS_SIM_MAX_STARTS = 5_000


def _best(rounds: list[DataFrame]) -> DataFrame:
    """(__rid, __node, __best): the least accumulated cost per (row, node)
    over weighted traversal rounds."""
    return (reduce(DataFrame.unionByName,
                   [r.select("__rid", "__node", "__cost") for r in rounds])
            .groupBy("__rid", "__node")
            .agg(F.min("__cost").alias("__best")))


class TraversalMixin:
    """QueryCompiler methods for mode/lambda variable-length expansion."""

    def _expand_traversal(self, from_sym: str, rel: A.RelPattern,
                          np: A.NodePattern, to_sym: str,
                          path_prefix: str | None = None) -> Column:
        mode = rel.mode
        lower = rel.lo if rel.lo is not None else 1
        upper = rel.hi if rel.hi is not None else MAX_ROUNDS
        hops = self.hops if (self.hops is not None
                             and self.hops.get("limit")) else None
        if hops is not None and mode in (None, "bfs"):
            # any path kept under the quota uses one expansion per edge, so
            # no kept path can be deeper than the remaining quota; exact
            # enumeration-order truncation happens after the loop
            upper = min(upper, max(0, hops["limit"] - hops["used"]))
        depth_col = self._anon_sym("depth")

        # alpha-rename lambda params to internal names so they can shadow
        # outer symbols safely (the reference scopes them separately);
        # the optional 4th filter param binds the accumulated weight
        ep, np_, pp, wp = "__te", "__tn", "__tp", "__tw"
        flt = weight = None
        need_n = need_p = need_w = False
        for lam, slot in ((rel.flt, "flt"), (rel.weight, "weight")):
            if lam is None:
                continue
            need_n = need_n or _lambda_refs(lam, 1)
            need_p = need_p or _lambda_refs(lam, 2)
            need_w = need_w or _lambda_refs(lam, 3)
            mapping = dict(zip(lam[0], (ep, np_, pp, wp)))
            body = A.rename_vars(lam[1], mapping)
            if slot == "flt":
                flt = body
            else:
                weight = body
        need_detail = rel.var is not None or need_p
        weighted = mode in ("wshortest", "allshortest")
        base_cols = list(self.df.columns)

        # oriented edge-step table: __from/__to + {ep}_eid/_type/_src/_dst/
        # _<props> + __fwd (traversal direction of the stored edge)
        e = self._edge_table(rel.types, ep, want_props=True)
        out_e = (e.withColumnRenamed("src", "__from")
                 .withColumnRenamed("dst", "__to")
                 .withColumn("__fwd", F.lit(True)))
        in_e = (e.withColumnRenamed("dst", "__from")
                .withColumnRenamed("src", "__to")
                # a self-loop traversed "backwards" still prints forward
                # (path rendering in match.feature DFS IN-edge tests)
                .withColumn("__fwd", F.col("__from") == F.col("__to")))
        E = {"out": out_e, "in": in_e}.get(
            rel.direction, out_e.unionByName(in_e))
        # literal edge-property filter `{w: 1}` applies to every step edge
        for k, ve in rel.props.items():
            col = f"{ep}_{A.prop_col(k)}"
            if col not in E.columns:
                E = E.filter(F.lit(False))
                break
            E = E.filter(F.col(col) == compile_expr(ve, self._env()))
        E = E.localCheckpoint(eager=True)
        # edge detail struct mirroring _edge_detail()'s shape
        e_fields = [c for c in E.columns if c.startswith(f"{ep}_")]
        edet = F.struct(*[F.col(c).alias(c[len(ep) + 1:]) for c in e_fields])

        # node detail (id, labels, union props) for the lambda's n param and
        # the accumulated path's node structs
        nd = ndet_names = None
        if need_n or need_detail:
            base = self._node_df([])
            nprops = [c for c in base.columns if c not in ("id", "labels")]
            ndet_names = ["id", "labels"] + nprops
            nd = base.select(
                F.col("id").alias("__to"),
                F.struct(F.col("id"), F.col("labels"),
                         *[F.col(p) for p in nprops]).alias("__ndet"),
            ).localCheckpoint(eager=True)

        init = (self.df.withColumn("__rid", F.monotonically_increasing_id())
                .withColumn("__node", F.col(f"{from_sym}_id"))
                .withColumn("__depth", F.lit(0))
                .withColumn("__eids", F.array().cast("array<long>"))
                .withColumn("__nids", F.array().cast("array<long>"))
                .withColumn("__dirs", F.array().cast("array<boolean>")))
        if need_detail:
            # seed the path's node-struct array with the start node
            start_nd = (nd.withColumnRenamed("__to", "__sid")
                        if nd is not None else None)
            init = (init.join(
                start_nd, init["__node"] == start_nd["__sid"], "left")
                .drop("__sid")
                .withColumn("__pn", F.array("__ndet")).drop("__ndet")
                .withColumn("__pe", F.array().cast(
                    "array<struct<" + ",".join(
                        f"`{c[len(ep) + 1:]}`:"
                        + E.schema[c].dataType.simpleString()
                        for c in e_fields) + ">>")))
        if weighted:
            # seed weight: the weight lambda evaluated at the source with a
            # null edge (CalculateNextWeight, operator.cpp:2983/:3147) — a
            # null seed means "no accumulation yet"
            if weight is not None:
                senv_syms = dict(self.symbols)
                senv_syms[ep] = "rel"   # no {ep}_* columns -> props are null
                seed_df = init
                tmp_cols = []
                if need_n and nd is not None:
                    sd = nd.withColumnRenamed("__to", "__sid")
                    seed_df = seed_df.join(
                        sd, seed_df["__node"] == sd["__sid"], "left")
                    for fname in ndet_names:
                        seed_df = seed_df.withColumn(
                            f"{np_}_{fname}", F.col(f"__ndet.{fname}"))
                        tmp_cols.append(f"{np_}_{fname}")
                    seed_df = seed_df.drop("__sid", "__ndet")
                    senv_syms[np_] = "node"
                seed = compile_expr(weight, Env(seed_df, senv_syms,
                                                self.params))
                init = seed_df.withColumn("__cost", seed).drop(*tmp_cols)
            else:
                init = init.withColumn("__cost",
                                       F.lit(None).cast("double"))

        def advance(rounds, trace) -> DataFrame:
            cur = rounds[-1]
            step = (cur.join(E, cur["__node"] == E["__from"], "inner")
                    .filter(~F.array_contains(F.col("__eids"),
                                              F.col(f"{ep}_eid"))))
            if nd is not None:
                step = step.join(nd, "__to", "left")
            # bind lambda params as frame columns, then filter / weigh
            env_syms = dict(self.symbols)
            env_syms[ep] = "rel"
            if need_n and nd is not None:
                for fname in ndet_names:
                    step = step.withColumn(f"{np_}_{fname}",
                                           F.col(f"__ndet.{fname}"))
                env_syms[np_] = "node"
            if need_p:
                # the lambda's path INCLUDES the candidate edge and vertex
                # (memgraph_bfs.feature 'filter by size of accumulated path')
                env_syms[pp] = "path"
                step = (step.withColumn(
                    f"{pp}_nodes", F.array_append("__pn", F.col("__ndet")))
                    .withColumn(f"{pp}_rels", F.array_append("__pe", edet))
                    .withColumn(f"{pp}_length",
                                (F.col("__depth") + 1).cast("long")))
            if weighted:
                wcol = (compile_expr(weight, Env(step, env_syms, self.params))
                        if weight is not None else F.lit(1.0))
                from memgraph_spark.functions.variant import (
                    is_variant_type, variant_nonnum, variant_num)
                wt = Env(step, env_syms, self.params).typeof(wcol)
                if is_variant_type(wt):
                    # variant weight: int/float mixes compute numerically
                    # (allshortest 'different edge between two nodes');
                    # a non-numeric value (duration mixed with numbers) is
                    # the reference's runtime type error
                    # (TotalWeightOperator type checks, operator.cpp)
                    wcol = (F.when(wcol.isNull(),
                                   F.lit(None).cast("double"))
                            .when(variant_nonnum(wcol), F.raise_error(F.lit(
                                "shortest-path weights must be all numeric"
                                " or all durations")).cast("double"))
                            .otherwise(variant_num(wcol)))
                # ValidateWeight (operator.cpp:2983): negative weights are a
                # runtime error; wcol - wcol is a type-agnostic zero
                wcol = F.when(
                    wcol < (wcol - wcol),
                    F.raise_error(F.lit(
                        "Weight must be non-negative"))).otherwise(wcol)
                # accumulated cost including this edge, in the weight's
                # type; a null running total means nothing accumulated yet
                step = step.withColumn(
                    "__newcost",
                    F.when(F.col("__cost").isNull(), wcol)
                    .otherwise(F.col("__cost") + wcol))
                if need_w:
                    step = step.withColumn(wp, F.col("__newcost"))
            if flt is not None:
                step = step.filter(
                    compile_expr(flt, Env(step, env_syms, self.params)))

            nxt = (base_cols
                   + [F.col("__rid"),
                      F.col("__to").alias("__node"),
                      (F.col("__depth") + 1).alias("__depth"),
                      F.array_append("__eids", F.col(f"{ep}_eid"))
                      .alias("__eids"),
                      F.array_append("__nids", F.col("__to")).alias("__nids"),
                      F.array_append("__dirs", F.col("__fwd"))
                      .alias("__dirs")])
            if weighted:
                nxt.append(F.col("__newcost").alias("__cost"))
            if need_detail:
                nxt.append(F.array_append("__pn", F.col("__ndet"))
                           .alias("__pn"))
                nxt.append(F.array_append("__pe", edet).alias("__pe"))
            step = step.select(*nxt)

            if mode == "bfs":
                # one deterministic shortest path per (row, node); skip nodes
                # already reached at a smaller depth (the lazy union of the
                # checkpointed rounds is the visited set)
                seen = reduce(DataFrame.unionByName,
                              [r.select("__rid", "__node") for r in rounds])
                step = step.join(seen, ["__rid", "__node"], "left_anti")
                w = Window.partitionBy("__rid", "__node").orderBy("__eids")
                step = (step.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1).drop("__rn"))
            elif weighted:
                # start nodes are zero-cost arrivals, never improved on with
                # non-negative weights; then the best cost per pair so far
                step = step.join(rounds[0].select("__rid", "__node"),
                                 ["__rid", "__node"], "left_anti")
                if len(rounds) > 1:
                    bj = _best(rounds[1:]).withColumnRenamed("__best", "__b")
                    better = (F.col("__cost") < F.col("__b")
                              if mode == "wshortest"
                              else F.col("__cost") <= F.col("__b"))
                    step = (step.join(bj, ["__rid", "__node"], "left")
                            .filter(F.col("__b").isNull() | better)
                            .drop("__b"))
                if mode == "wshortest":
                    w = Window.partitionBy("__rid", "__node").orderBy(
                        "__cost", "__eids")
                    step = (step.withColumn("__rn", F.row_number().over(w))
                            .filter(F.col("__rn") == 1).drop("__rn"))
            return step

        def spent(trace) -> bool:
            # USING HOPS LIMIT quota (src/query/hops_limit.hpp): every row a
            # weighted round adds is charged; plain/bfs modes truncate by
            # enumeration order after the loop instead
            return len(trace) > 1 and hops["used"] + sum(
                m["n"] for m in trace[1:]) >= hops["limit"]

        quota = hops is not None and weighted
        rounds, trace = frontier(init, advance, spent if quota else None,
                                 upper)
        init = rounds[0]
        if quota:
            hops["reached"] = hops.get("reached") or spent(trace)
            hops["used"] += sum(m["n"] for m in trace[1:])
        # rounds[d] holds depth d: only plain mode yields the zero-length
        # path, and the weighted modes keep every depth
        first = 1 if weighted else lower if mode is None else max(lower, 1)
        out = self._traversal_results(mode, rounds[first:], init)
        if hops is not None and mode in (None, "bfs"):
            out = self._hops_partial_filter(out, E, ep, mode, rel, np, to_sym,
                                            lower, upper, hops, init)
        return self._traversal_bind(out, rel, np, to_sym, depth_col,
                                    path_prefix, base_cols)

    # -- USING HOPS LIMIT partial results -------------------------------------

    def _hops_partial_filter(self, out, E, ep, mode, rel, np, to_sym,
                             lower, upper, hops, init) -> DataFrame:
        """Exact hops-limit partial-result accounting (hops_limit.hpp).

        The reference charges the quota when a vertex's adjacency LIST is
        retrieved (per edge, truncated at the remaining quota), and paths
        already reachable from retrieved lists still stream out after the
        limit hits. That enumeration is inherently sequential, so we replay
        it driver-side over the (tiny, size-fenced) edge set to compute the
        accepted path signatures, then filter the distributed traversal's
        output to that set. This is a debugging/cost-cap feature — the
        replay is NOT the 100 TB path and falls back to a distributed
        enumeration-order truncation above the fence."""
        accepted = self._hops_replay(E, ep, mode, rel, np, to_sym,
                                     lower, upper, hops, init)
        if accepted is None:
            # fence fallback: distributed preorder truncation (approximate)
            remaining = max(0, hops["limit"] - hops["used"])
            if mode is None:
                w = Window.orderBy("__rid", "__nids")
            else:
                w = Window.orderBy(
                    "__rid", "__depth",
                    F.expr("slice(__nids, 1, size(__nids) - 1)").desc(),
                    F.element_at("__nids", -1))
            ranked = out.filter(F.col("__depth") > 0).withColumn(
                "__hrn", F.row_number().over(w))
            total = ranked.count()
            kept = (ranked.filter(F.col("__hrn") <= remaining).drop("__hrn")
                    .unionByName(out.filter(F.col("__depth") == 0)))
            hops["used"] += min(total, remaining)
            if total > remaining:
                hops["reached"] = True
        else:
            sigs = ["%d|%s" % (rid, ",".join(map(str, eids)))
                    for rid, eids in accepted]
            sig = F.concat_ws(
                "|", F.col("__rid").cast("string"),
                F.array_join(F.transform(F.col("__eids"),
                                         lambda x: x.cast("string")), ","))
            kept = (out.filter(F.col("__depth") > 0)
                    .filter(sig.isin(sigs) if sigs else F.lit(False))
                    .unionByName(out.filter(F.col("__depth") == 0)))
        if hops.get("reached") and getattr(self.g, "settings", {}).get(
                "hops_limit_partial_results") == "false":
            raise CompileError(
                "Hops limit exceeded and partial results disabled")
        return kept.localCheckpoint(eager=True)

    def _hops_replay(self, E, ep, mode, rel, np, to_sym, lower, upper,
                     hops, init):
        """Driver-side replay of the reference cursors' quota accounting.

        Returns the set of accepted (rid, eid-tuple) path signatures, or
        None above the size fence. Mutates hops['used'] / hops['reached'].
        Models (operator.cpp):
        - ExpandVariableCursor (DFS): adjacency retrieved per visit, IN
          list then OUT list, recursion in retrieval order (:2199).
        - SingleSourceShortestPathCursor (BFS): expansion at pop time from
          the back of the current level, OUT then IN, one visit per vertex
          (:2726).
        - STShortestPathCursor (BFS with a bound/filtered target):
          bidirectional search alternating source/sink levels (:2458).
        - Once the quota is exhausted, later input rows produce nothing
          (Pull returns false), but paths over already-retrieved lists
          still stream out.
        """
        try:
            if E.count() > HOPS_SIM_MAX_EDGES:
                return None
            sel = ["__rid", "__node"]
            bound_sink = to_sym in self.symbols
            if bound_sink:
                sel.append(f"{to_sym}_id")
            starts = init.select(*sel).orderBy("__rid").collect()
            if len(starts) > HOPS_SIM_MAX_STARTS:
                return None
            erows = E.select("__from", "__to",
                             F.col(f"{ep}_eid").alias("eid"),
                             "__fwd").collect()
        except Exception:  # noqa: BLE001 — any failure falls back
            return None
        # canonical edges + per-vertex IN/OUT lists in eid (creation) order
        out_l, in_l = {}, {}
        seen = set()
        for r in erows:
            eid, fwd = r["eid"], r["__fwd"]
            src, dst = (r["__from"], r["__to"]) if fwd \
                else (r["__to"], r["__from"])
            if eid in seen:
                continue
            seen.add(eid)
            out_l.setdefault(src, []).append((eid, dst))
            in_l.setdefault(dst, []).append((eid, src))
        for d in (out_l, in_l):
            for v in d:
                d[v].sort()
        direction = rel.direction  # 'out' | 'in' | None/both
        state = {"q": max(0, hops["limit"] - hops["used"]), "used": 0}

        def clip(lst):
            take = []
            for e in lst:
                if state["q"] <= 0:
                    hops["reached"] = True  # truncated retrieval
                    break
                state["q"] -= 1
                state["used"] += 1
                take.append(e)
            return take

        def retrieve(v, in_first, reverse=False):
            """One adjacency retrieval: (eid, neighbour) pairs, clipped."""
            d = direction
            if reverse:  # ST sink side sees the pattern reversed
                d = {"out": "in", "in": "out"}.get(d)
            lists = []
            srcs = []
            if d != "out":
                srcs.append(in_l)
            if d != "in":
                srcs.append(out_l)
            if not in_first:
                srcs.reverse()
            for adj in srcs:
                lists.extend(clip(adj.get(v, [])))
            return lists

        accepted: list = []

        def run_dfs(rid, v0):
            def rec(v, path):
                if len(path) >= upper or state["q"] <= 0:
                    return
                for eid, other in retrieve(v, in_first=True):
                    if eid in path:
                        continue
                    newp = path + (eid,)
                    if len(newp) >= lower:
                        accepted.append((rid, newp))
                    rec(other, newp)
            rec(v0, ())

        def run_bfs(rid, v0):
            processed = {v0}
            cur, nxt = [], []

            def expand(v, path):
                for eid, other in retrieve(v, in_first=False):
                    if other in processed:
                        continue
                    processed.add(other)
                    nxt.append((other, path + (eid,)))
            expand(v0, ())
            while True:
                if not cur:
                    cur, nxt = nxt, []
                    if not cur:
                        return
                other, path = cur.pop()
                if len(path) < upper and state["q"] > 0:
                    expand(other, path)
                if len(path) >= lower:
                    accepted.append((rid, path))

        def run_st(rid, v0, sink):
            """Bidirectional s-t BFS; accepts at most one path."""
            if v0 == sink:
                return
            in_edge, out_edge = {v0: None}, {sink: None}
            sfront, tfront = [v0], [sink]
            length = 0

            def rebuild(mid):
                left = []
                v = mid
                while in_edge.get(v) is not None:
                    eid, prev = in_edge[v]
                    left.append(eid)
                    v = prev
                left.reverse()
                v = mid
                while out_edge.get(v) is not None:
                    eid, nxt_v = out_edge[v]
                    left.append(eid)
                    v = nxt_v
                return tuple(left)

            while True:
                length += 1
                if length > upper:
                    return
                snext = []
                for v in sfront:
                    if state["q"] <= 0:
                        break
                    for eid, other in retrieve(v, in_first=False):
                        if other in in_edge:
                            continue
                        in_edge[other] = (eid, v)
                        if other in out_edge:
                            if length >= lower:
                                accepted.append((rid, rebuild(other)))
                            return
                        snext.append(other)
                if not snext:
                    return
                sfront = snext
                length += 1
                if length > upper:
                    return
                tnext = []
                for v in tfront:
                    if state["q"] <= 0:
                        break
                    for eid, other in retrieve(v, in_first=False,
                                               reverse=True):
                        if other in out_edge:
                            continue
                        out_edge[other] = (eid, v)
                        if other in in_edge:
                            if length >= lower:
                                accepted.append((rid, rebuild(other)))
                            return
                        tnext.append(other)
                if not tnext:
                    return
                tfront = tnext

        # ST applies when the target is already bound, or when a BFS
        # target carries literal property filters the reference planner
        # would have bound through an index scan first
        st_sinks = None
        if mode == "bfs" and not bound_sink and np.props \
                and all(isinstance(v, A.Literal) for v in np.props.values()):
            try:
                p = self._node_df(self._labels(np.labels))
                for k, ve in np.props.items():
                    col = A.prop_col(k)
                    if col not in p.columns:
                        p = p.filter(F.lit(False))
                        break
                    p = p.filter(F.col(col) == F.lit(ve.value))
                st_sinks = sorted(r[0] for r in p.select("id").collect())
            except Exception:  # noqa: BLE001
                st_sinks = None

        for row in starts:
            if state["q"] <= 0:
                hops["reached"] = True
                break  # Pull returns false once the limit is reached
            rid, v0 = row["__rid"], row["__node"]
            if mode == "bfs":
                if bound_sink:
                    run_st(rid, v0, row[f"{to_sym}_id"])
                elif st_sinks is not None:
                    for sink in st_sinks:
                        if state["q"] <= 0:
                            break
                        run_st(rid, v0, sink)
                else:
                    run_bfs(rid, v0)
            else:
                run_dfs(rid, v0)
        hops["used"] += state["used"]
        if state["q"] <= 0 and hops["limit"]:
            hops["reached"] = hops.get("reached", False) or True
        return set(accepted)

    # -- result assembly -----------------------------------------------------

    def _traversal_results(self, mode, pieces, init) -> DataFrame:
        if not pieces:
            return init.limit(0)
        out = union_rounds(pieces)
        if mode in ("wshortest", "allshortest"):
            # keep only paths achieving the final minimum per (row, node)
            bj = _best(pieces).withColumnRenamed("__best", "__b")
            out = (out.join(bj, ["__rid", "__node"], "inner")
                   .filter(F.col("__cost") <= F.col("__b")).drop("__b"))
            if mode == "wshortest":
                w = Window.partitionBy("__rid", "__node").orderBy(
                    "__cost", "__eids")
                out = (out.withColumn("__rn", F.row_number().over(w))
                       .filter(F.col("__rn") == 1).drop("__rn"))
        return out

    def _traversal_bind(self, out: DataFrame, rel: A.RelPattern,
                        np: A.NodePattern, to_sym: str, depth_col: str,
                        path_prefix: str | None,
                        base_cols: list[str]) -> Column:
        """Turn loop-state columns into bound symbols and drop the rest."""
        keep: dict[str, Column] = {c: F.col(c) for c in base_cols}
        bound = to_sym in self.symbols
        tgt = self._anon_sym("n") if bound else to_sym
        keep[f"{tgt}_id"] = F.col("__node")
        keep[depth_col] = F.col("__depth")
        if rel.weight_var:
            keep[rel.weight_var] = (F.col("__cost")
                                    if "__cost" in out.columns
                                    else F.lit(None))
        rel_bound = (rel.var is not None and rel.var in self.symbols
                     and rel.var in base_cols)
        if rel_bound:
            # bound edge-list symbol (MATCH ... WITH [r1, r2] AS rs MATCH
            # (a)-[rs*]->(b)): the expansion must traverse EXACTLY that
            # edge sequence (ExpandVariable with an already-bound edge
            # symbol, operator.cpp:2199) — filter on eid-sequence equality
            out = out.filter(
                F.col("__eids")
                == F.transform(F.col(rel.var),
                               lambda x: x.getField("eid")))
        elif rel.var is not None:
            keep[rel.var] = F.col("__pe")
        if path_prefix:
            keep[f"{path_prefix}_nids"] = F.col("__nids")
            keep[f"{path_prefix}_eids"] = F.col("__eids")
            keep[f"{path_prefix}_dirs"] = F.col("__dirs")
        self.df = out.select(*[c.alias(n) for n, c in keep.items()])
        if rel.weight_var:
            self.symbols[rel.weight_var] = "value"
        if rel.var is not None and not rel_bound:
            self.symbols[rel.var] = "value"
        if bound:
            # expand-into: target already bound — equality filter
            self.df = self.df.filter(
                F.col(f"{tgt}_id") == F.col(f"{to_sym}_id")).drop(f"{tgt}_id")
            self._bind_node(np, to_sym)
        else:
            self.symbols[to_sym] = "node"
            self._attach_node(to_sym, np)
        return F.col(depth_col)
