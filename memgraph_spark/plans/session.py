"""Clause compiler: Cypher AST -> DataFrame program (the planner+executor).

Reference lifecycle (SURVEY §3.1): SymbolGenerator -> RuleBasedPlanner ->
LogicalOperator tree -> volcano Cursor pulls. Here the two planning stages
collapse: each clause is compiled directly into DataFrame transformations and
Catalyst does the rewrite pipeline (SURVEY §4.1 — pushdown, join selection,
top-k). The reference's "Frame" (one slot per symbol,
src/query/plan/operator.hpp:79) is the DataFrame's column set:

  node symbol n   -> columns n_id, n_labels, n_<prop>...
  rel symbol  r   -> columns r_eid, r_type, r_src, r_dst, r_<prop>...
  value symbol x  -> column  x
  path symbol p   -> column  p_length (hop count; minimal path surface)

Scale notes: every MATCH hop is an equi-join Catalyst is free to plan as
broadcast/SMJ/SHJ with AQE skew handling; anchor tables are per-label parquet
scans so label+property predicates push down to the scan (the reference's
IndexLookupRewriter, plan/rewrite/index_lookup.hpp:178, is subsumed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from memgraph_spark.catalog import PropertyGraph
from memgraph_spark.operators import expand_variable, union as op_union
from memgraph_spark.operators.scan import prefix_columns
from memgraph_spark.plans import cypher_ast as A
from memgraph_spark.plans.exprs import (
    CompileError,
    Env,
    compile_expr,
    contains_aggregate,
)
from memgraph_spark.plans.parser import parse
from memgraph_spark.plans.traversal import TraversalMixin
from memgraph_spark.plans.writes import WriteMixin
from memgraph_spark.session import empty_frame

REL_META = ("eid", "type", "src", "dst")


# sentinel: _tail_per_row declined (single row / past the fence)
_NOT_SEQ = object()


def _clause_vars(cl) -> set:
    """Every variable name a clause subtree references or binds (used for
    frame-column liveness; over-approximation is safe, omission is not)."""
    import dataclasses as _dc
    out: set = set()
    stack = [cl]
    while stack:
        x = stack.pop()
        if isinstance(x, (list, tuple)):
            stack.extend(x)
            continue
        if isinstance(x, dict):
            stack.extend(x.values())
            continue
        if not _dc.is_dataclass(x):
            continue
        if isinstance(x, A.Var):
            out.add(x.name)
        v = getattr(x, "var", None)
        if isinstance(v, str):
            out.add(v)
        wv = getattr(x, "weight_var", None)
        if isinstance(wv, str):
            out.add(wv)
        for f in _dc.fields(x):
            stack.append(getattr(x, f.name))
    return out


def _clause_has_star(cl) -> bool:
    import dataclasses as _dc
    stack = [cl]
    while stack:
        x = stack.pop()
        if isinstance(x, (list, tuple)):
            stack.extend(x)
            continue
        if isinstance(x, dict):
            stack.extend(x.values())
            continue
        if not _dc.is_dataclass(x):
            continue
        if getattr(x, "star", False):
            return True
        for f in _dc.fields(x):
            stack.append(getattr(x, f.name))
    return False


def qcol(name: str) -> Column:
    """Column reference robust to dots/odd chars in result names (RETURN
    without AS yields columns literally named e.g. `a.x`)."""
    return F.col("`" + name.replace("`", "``") + "`")

WRITE_COUNTERS = ("nodes_created", "relationships_created", "properties_set",
                  "labels_added", "nodes_deleted", "relationships_deleted")


_EMPTY_IDS = 'array<bigint>'


def _has_edge_struct(dt) -> bool:
    """True when the Spark type contains the engine's edge struct
    ({eid,src,dst,type} with bigint endpoints) anywhere under it."""
    if isinstance(dt, T.StructType):
        f = {x.name: x.dataType for x in dt.fields}
        if (isinstance(f.get("eid"), T.LongType)
                and isinstance(f.get("src"), T.LongType)
                and isinstance(f.get("dst"), T.LongType)
                and isinstance(f.get("type"), T.StringType)):
            return True
        return any(_has_edge_struct(x.dataType) for x in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_edge_struct(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_edge_struct(dt.valueType)
    return False


def _is_node_struct(dt) -> bool:
    if not isinstance(dt, T.StructType):
        return False
    f = {x.name: x.dataType for x in dt.fields}
    return (isinstance(f.get("id"), T.LongType)
            and isinstance(f.get("labels"), T.ArrayType)
            and isinstance(f["labels"].elementType, T.StringType))


def _has_node_struct(dt) -> bool:
    if _is_node_struct(dt):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_node_struct(x.dataType) for x in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_node_struct(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_node_struct(dt.valueType)
    return False


def _node_ids_expr(dt, col):
    """Column of array<bigint>: every node-struct id nested under `col`,
    or None when the type holds no node struct. Companion of
    _endpoint_ids_expr for the keyed roll-up's per-row lookup set."""
    if not _has_node_struct(dt):
        return None
    if _is_node_struct(dt):
        return F.array(col["id"])
    if isinstance(dt, T.StructType):
        subs = [_node_ids_expr(x.dataType, col[x.name])
                for x in dt.fields if _has_node_struct(x.dataType)]
        if len(subs) == 1:
            return subs[0]
        return F.flatten(F.array(*[
            F.coalesce(s, F.array().cast(_EMPTY_IDS)) for s in subs]))
    if isinstance(dt, T.ArrayType):
        return F.flatten(F.transform(col, lambda x: F.coalesce(
            _node_ids_expr(dt.elementType, x),
            F.array().cast(_EMPTY_IDS))))
    if isinstance(dt, T.MapType):
        return F.flatten(F.transform(F.map_values(col), lambda x: F.coalesce(
            _node_ids_expr(dt.valueType, x),
            F.array().cast(_EMPTY_IDS))))
    return None


def _endpoint_ids_expr(dt, col):
    """Column of array<bigint>: every edge-struct endpoint id (src, dst)
    nested under `col`, or None when the type holds no edge struct. Used by
    _node_prop_map to bound its per-row node lookup set."""
    if not _has_edge_struct(dt):
        return None
    if isinstance(dt, T.StructType):
        f = {x.name: x.dataType for x in dt.fields}
        if (isinstance(f.get("eid"), T.LongType)
                and isinstance(f.get("src"), T.LongType)
                and isinstance(f.get("dst"), T.LongType)
                and isinstance(f.get("type"), T.StringType)):
            return F.array(col["src"], col["dst"])
        subs = [_endpoint_ids_expr(x.dataType, col[x.name])
                for x in dt.fields if _has_edge_struct(x.dataType)]
        if len(subs) == 1:
            return subs[0]
        return F.flatten(F.array(*[
            F.coalesce(s, F.array().cast(_EMPTY_IDS)) for s in subs]))
    if isinstance(dt, T.ArrayType):
        return F.flatten(F.transform(col, lambda x: F.coalesce(
            _endpoint_ids_expr(dt.elementType, x),
            F.array().cast(_EMPTY_IDS))))
    if isinstance(dt, T.MapType):
        return F.flatten(F.transform(F.map_values(col), lambda x: F.coalesce(
            _endpoint_ids_expr(dt.valueType, x),
            F.array().cast(_EMPTY_IDS))))
    return None


def _typed_lit(v, dt):
    """A literal Column of exactly `dt` from a collected value — F.lit
    handles scalars only, so struct (variant / node) and array values
    from per-row CALL argument combos are rebuilt field-wise."""
    if v is None:
        return F.lit(None).cast(dt)
    if isinstance(dt, T.StructType):
        fields = getattr(v, "__fields__", None)
        return F.struct(*[
            _typed_lit(v[f.name] if fields and f.name in fields else None,
                       f.dataType).alias(f.name)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        if not len(v):
            return F.array().cast(dt)
        return F.array(*[_typed_lit(x, dt.elementType) for x in v])
    if isinstance(dt, T.MapType):
        items = v.items() if hasattr(v, "items") else []
        pairs = []
        for k, val in items:
            pairs.append(_typed_lit(k, dt.keyType))
            pairs.append(_typed_lit(val, dt.valueType))
        return (F.create_map(*pairs) if pairs
                else F.create_map().cast(dt))
    return F.lit(v).cast(dt)


class GraphSession:
    """Executes openCypher text against a PropertyGraph.

    The public API surface equivalent to the reference's
    Interpreter::Prepare/Pull (src/query/interpreter.hpp:394-462), minus the
    Bolt wire: execute() returns a DataFrame (lazy; caller collects).
    """

    def __init__(self, graph: PropertyGraph):
        self.graph = graph

    def execute(self, query: str, params: dict | None = None) -> DataFrame:
        # EXPLAIN / PROFILE <query> (reference PrepareExplainQuery /
        # PrepareProfileQuery, interpreter.cpp:4218; plan printer
        # plan/pretty_print.cpp). EXPLAIN returns the optimized Spark
        # physical plan, one row per line — the Catalyst plan IS our
        # operator tree. PROFILE executes, then reports plan + wall time.
        self.last_kinds: dict[str, str] = {}  # reset; set by RETURN compile
        stripped = query.lstrip()
        head = stripped[:8].upper()
        if head.startswith("EXPLAIN"):
            # EXPLAIN mirrors the reference's logical plan print
            # (plan/pretty_print.cpp): one ` * Operator` row per operator,
            # column QUERY PLAN. The Spark physical plan stays available
            # via PROFILE / GraphSession.explain().
            _, inner = stripped.split(None, 1)
            rows = [(line,) for line in _memgraph_plan_lines(parse(inner))]
            return self.graph.spark.createDataFrame(
                rows, "`QUERY PLAN` string")
        if head.startswith("PROFILE"):
            _, inner = stripped.split(None, 1)
            import time as _time
            # the clock covers compile too: eager writes and loop rounds
            # run inside execute(), before the final action
            t0 = _time.perf_counter()
            df = self.execute(inner, params)
            df.count()
            wall_ms = round((_time.perf_counter() - t0) * 1000, 3)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            rows = [(line,) for line in plan.splitlines() if line.strip()]
            rows.append((f"-- total wall time: {wall_ms} ms",))
            return self.graph.spark.createDataFrame(rows, "plan string")
        # admin statements (index/constraint DDL, ANALYZE, SHOW …) are
        # separate query types in the reference grammar too — dispatch first
        from memgraph_spark.admin import server_params, try_admin
        admin = try_admin(self.graph, query, params, session=self)
        if admin is not None:
            return admin
        # server-side parameters (SET [GLOBAL] PARAMETER,
        # server_side_parameters.feature): global < database < client
        sp = server_params(getattr(self, "db_name", "memgraph"))
        if sp:
            params = {**sp, **(params or {})}
        ast = parse(query)
        # USING HOPS LIMIT n (src/query/hops_limit.hpp): shared quota on
        # expanded edges; partial results on exhaustion (the reference's
        # hops_limit_partial_results=true default). Inspect via last_hops.
        # the counter is live even without a limit (hops_limit.feature
        # "without limit set is also active") — but only track when the
        # query actually reads it, so normal queries pay no extra count()
        self.last_hops = {"limit": ast.hops_limit, "used": 0,
                          "reached": False,
                          "track": "gethopscounter" in query.lower()}
        qc = QueryCompiler(self.graph, params, hops=self.last_hops,
                           periodic=ast.periodic_commit is not None)
        if len(set(ast.alls)) > 1:
            # mixing UNION and UNION ALL in one query is a syntax error
            # (CypherUnion, ast.hpp:2005; union.feature combinators)
            raise CompileError(
                "Invalid combination of UNION and UNION ALL")
        out = qc.compile(ast.parts[0])
        self.last_summary = {k: int(qc.counters.get(k, 0))
                             for k in WRITE_COUNTERS}
        # column -> node|rel|path|value for the final RETURN (union parts
        # must agree on names/kinds, so the first part's map stands)
        self.last_kinds = dict(getattr(qc, "out_kinds", {}) or {})
        for part, is_all in zip(ast.parts[1:], ast.alls):
            qc = QueryCompiler(self.graph, params, hops=self.last_hops)
            df = qc.compile(part)
            for k in WRITE_COUNTERS:
                self.last_summary[k] += int(qc.counters.get(k, 0))
            out = op_union(out, df, distinct=not is_all)
        return out

    def explain(self, query: str, params: dict | None = None) -> None:
        self.execute(query, params).explain("formatted")


def _memgraph_plan_lines(ast) -> list[str]:
    """Reference-style logical plan rows (plan/pretty_print.cpp): operators
    top-down, ` * Name` per row, `Once` as the leaf."""
    ops: list[str] = []
    sq = ast.parts[0]
    for cl in sq.clauses:
        if isinstance(cl, A.Match):
            for part in cl.patterns:
                ops.append("ScanAllByLabel" if part.start.labels
                           else "ScanAll")
                for _, node in part.chain:
                    ops.append("Expand")
                    if node.labels or node.props:
                        ops.append("Filter")
            if cl.where is not None:
                ops.append("Filter")
            if cl.optional:
                ops.append("Optional")
        elif isinstance(cl, A.Unwind):
            ops.append("Unwind")
        elif isinstance(cl, A.Create):
            for part in cl.patterns:
                ops.append("CreateNode")
                ops.extend("CreateExpand" for _ in part.chain)
        elif isinstance(cl, A.Merge):
            ops.append("Merge")
        elif isinstance(cl, (A.SetClause, A.RemoveClause)):
            ops.append("SetProperty")
        elif isinstance(cl, A.Delete):
            ops.append("Delete")
        elif isinstance(cl, (A.With, A.Return)):
            names = []
            for i, it in enumerate(cl.items):
                if it.alias:
                    names.append(it.alias)
                elif isinstance(it.expr, A.Var):
                    names.append(it.expr.name)
                else:
                    names.append(str(i))
            agg = any(contains_aggregate(it.expr) for it in cl.items)
            if agg:
                ops.append("Aggregate")
            if cl.order:
                ops.append("OrderBy")
            if cl.skip is not None:
                ops.append("Skip")
            if cl.limit is not None:
                ops.append("Limit")
            if cl.distinct:
                ops.append("Distinct")
            ops.append("Produce {" + ", ".join(names) + "}")
    return [f" * {op}" for op in reversed(["Once"] + ops)]


def _apply_edge_uniqueness(qc, rels: list) -> list:
    """Pairwise EdgeUniquenessFilter over single-hop rel symbols — the same
    no-edge-repeats rule MATCH applies, enforced for sub-pattern matching
    in predicates, exists() and comprehensions too."""
    for i in range(len(rels)):
        for j in range(i + 1, len(rels)):
            qc.df = qc.df.filter(
                F.col(f"{rels[i]}_eid") != F.col(f"{rels[j]}_eid"))
    return rels


class QueryCompiler(WriteMixin, TraversalMixin):
    """One SingleQuery -> one DataFrame. Mirrors the reference planner's
    clause walk (plan/rule_based_planner.cpp) at DataFrame granularity."""

    def __init__(self, graph: PropertyGraph, params: dict | None = None,
                 anon_prefix: str = "", hops: dict | None = None,
                 periodic: bool = False):
        self.g = graph
        self.params = params or {}
        self.hops = hops
        self.periodic = periodic
        self.df: DataFrame | None = None
        self.symbols: dict[str, str] = {}
        # rel symbol -> (from_sym, to_sym) of its MATCH pattern: lets
        # startNode()/endNode() rebuild the full node struct from columns
        # already in the frame (no extra join)
        self.rel_ends: dict[str, tuple[str, str]] = {}
        # symbols consumed by DELETE: later property access / SET / REMOVE
        # on them is an error (reference: use-after-delete raises)
        self.deleted: set[str] = set()
        self._anon = 0
        self._anon_prefix = anon_prefix
        self._all_props_cache: list[str] | None = None
        from collections import defaultdict
        self.counters: dict[str, int] = defaultdict(int)
        self.wrote = False

    # -- helpers ------------------------------------------------------------
    def _env(self, df: DataFrame | None = None,
             symbols: dict[str, str] | None = None) -> Env:
        return Env(df if df is not None else self.df,
                   dict(symbols if symbols is not None else self.symbols),
                   self.params, hops=self.hops, graph=self.g,
                   rel_ends=dict(self.rel_ends))

    def _anon_sym(self, kind: str) -> str:
        self._anon += 1
        return f"__{self._anon_prefix}{kind}{self._anon}"

    def _all_props(self) -> list[str]:
        if self._all_props_cache is None:
            names: set[str] = set()
            for df in self.g.nodes.values():
                names.update(c for c in df.columns if c != "id")
            self._all_props_cache = sorted(names)
        return self._all_props_cache

    def _labels(self, labels: list) -> list[str]:
        """Resolve `$param` labels to their string values (parameters.feature
        label parameters — labels are compile-time in the reference too)."""
        out = []
        for l in labels:
            if isinstance(l, A.Param):
                if l.name not in self.params:
                    raise CompileError(f"missing parameter ${l.name}")
                out.append(str(self.params[l.name]))
            else:
                out.append(l)
        return out

    def _node_df(self, labels: list[str], any_of: bool = False) -> DataFrame:
        """ScanAll / ScanAllByLabel: one label -> its typed table (pushdown-
        friendly); zero or many labels -> the lazy union scan + label filter.
        any_of: :L1|L2 disjunction — union scan with an OR filter."""
        if any_of and len(labels) > 1:
            base = self.g.all_nodes(self._all_props())
            cond = None
            for lbl in labels:
                c = F.array_contains(F.col("labels"), lbl)
                cond = c if cond is None else (cond | c)
            return base.filter(cond)
        if (len(labels) == 1 and labels[0] in self.g.nodes
                and labels[0] not in self.g.extra_label_names()):
            # fast path unless SET added this label to nodes in other tables
            df = self.g.node(labels[0])
            props = [c for c in df.columns if c != "id"]
            return self.g.with_extra_labels(df.select(
                "id", F.array(F.lit(labels[0])).alias("labels"), *props))
        base = self.g.all_nodes(self._all_props())
        for lbl in labels:
            base = base.filter(F.array_contains(F.col("labels"), lbl))
        return base

    def _seed(self) -> DataFrame:
        # Once (operator.hpp:55): ONE row in a local relation — a default-
        # parallelism range would give every CREATE-chain diff 8+ empty
        # partitions, multiplying task counts across version unions, and
        # a literal CREATE over a local row folds to a local relation that a
        # later read's filter prunes at plan time
        return self.g.spark.sql("VALUES (1) AS t(__once)")

    def _static_int(self, e: A.Expr, what: str) -> int:
        if isinstance(e, A.Literal) and isinstance(e.value, int):
            return e.value
        if isinstance(e, A.Literal) and isinstance(e.value, float):
            # LIMIT 1.7 is InvalidArgumentType at compile time
            # (SemanticErrorAcceptance "floating point in LIMIT")
            raise CompileError(f"{what} must be an integer, not a float")
        if isinstance(e, A.Param):
            v = self.params[e.name]
            if isinstance(v, float) and v != int(v):
                raise CompileError(f"{what} must be an integer")
            return int(v)
        if not any(isinstance(n, A.Var) for n in A.walk(e)):
            # constant expressions (LIMIT toInteger(ceil(1.7))) evaluate
            # once on a one-row frame (SkipLimitAcceptance)
            try:
                row = self._seed().select(
                    compile_expr(e, Env(self._seed(), {}, self.params))
                    .alias("v"))
                if isinstance(row.schema[0].dataType,
                              (T.DoubleType, T.FloatType)):
                    raise CompileError(
                        f"{what} must be an integer, not a float")
                v = row.first()[0]
                if v is not None:
                    return int(v)
            except CompileError:
                raise
            except Exception:  # noqa: BLE001 — fall through to the error
                pass
        raise CompileError(f"{what} must be a literal/parameter integer")

    # -- entry --------------------------------------------------------------
    def compile(self, sq: A.SingleQuery) -> DataFrame:
        result = self._compile_clauses(list(sq.clauses))
        if result is None:
            if not self.wrote:
                raise CompileError("read query must end in RETURN")
            # write-only query: zero records, like the reference's Bolt
            # stream (counters travel in the summary — GraphSession exposes
            # them as .last_summary, the driver's result_summary equivalent)
            return empty_frame(
                self.g.spark, " BIGINT, ".join(WRITE_COUNTERS) + " BIGINT")
        return result

    def _compile_clauses(self, clauses: list) -> DataFrame | None:
        result: DataFrame | None = None
        # liveness per position: symbols referenced at any LATER clause.
        # A giant CREATE-chain statement (LargeCreateQuery: hundreds of
        # clauses, one frame column group per bound node) otherwise grows
        # an ever-wider frame whose per-clause analysis cost is O(width) —
        # dropping dead symbol columns keeps the width at the live window.
        self._n_clauses = len(clauses)  # CALL standalone/in-query semantics
        live_after: list = [None] * len(clauses)
        acc: set | None = set()
        for j in range(len(clauses) - 1, 0, -1):
            if acc is not None:
                if _clause_has_star(clauses[j]):
                    acc = None  # RETURN * / WITH * keeps everything
                else:
                    acc = acc | _clause_vars(clauses[j])
            live_after[j - 1] = None if acc is None else set(acc)
        self._lit_enabled = True  # driver-side literal-CREATE fast path
        for idx, cl in enumerate(clauses):
            self._live_after = live_after[idx]
            if not isinstance(cl, A.Create):
                # any reader (or non-CREATE writer) sees the accumulated
                # driver-side CREATE rows as real table versions first
                self._flush_writes()
            if isinstance(cl, A.Merge) \
                    and self._merge_interleaves(cl, clauses[idx + 1:]):
                r = self._tail_per_row(clauses[idx:])
                if r is not _NOT_SEQ:
                    return r
            if isinstance(cl, A.Return):
                result = self._project(cl, is_return=True)
            else:
                self.compile_clause(cl)
        self._flush_writes(frame=False)
        if result is None and clauses \
                and isinstance(clauses[-1], A.CallProc):
            # standalone CALL (no RETURN): the yield stream IS the result
            # (reference: a query may be just `CALL proc()`)
            result = self.df
        return result

    def _merge_interleaves(self, cl: A.Merge, rest: list) -> bool:
        """Merge cursor parity (operator.cpp:7194; issue #1333 — merge.
        feature 'Merge followed by Create bounded count'): each pull of
        MERGE re-scans the store, so writes performed while processing
        earlier input rows are visible to later rows. Batch (snapshot)
        execution diverges only when (a) the merge is an unbound,
        unconstrained node scan, and (b) a later clause in the same query
        creates nodes such a scan would match. That narrow shape runs the
        query tail per input row (fenced, _tail_per_row); every other
        shape keeps the distributed batch path."""
        part = cl.pattern
        if part.chain or part.var or self.df is None:
            return False
        np = part.start
        if np.props or np.dyn_labels or np.var is None \
                or np.var in self.symbols:
            return False
        need = set(np.labels)

        def created(cls_: list):
            for c in cls_:
                if isinstance(c, A.Create):
                    for p in c.patterns:
                        yield p.start
                        for _, n in p.chain:
                            yield n
                elif isinstance(c, A.Merge):
                    yield c.pattern.start
                    for _, n in c.pattern.chain:
                        yield n
                elif isinstance(c, A.Foreach):
                    yield from created(c.updates)

        return any(not n.dyn_labels and need <= set(n.labels)
                   for n in created(rest))

    def _tail_per_row(self, clauses: list):
        """Run the remaining clauses once per current frame row, writes
        committing between rows (Merge pull-visibility emulation). Returns
        _NOT_SEQ when a single row (batch == sequential) or past the fence
        (stay distributed — documented divergence at scale)."""
        SEQ_MERGE_MAX = 1000
        tagged = (self.df.withColumn("__mi_row",
                                     F.monotonically_increasing_id())
                  .localCheckpoint(eager=True))
        rids = [r[0] for r in tagged.select("__mi_row").collect()]
        if len(rids) <= 1 or len(rids) > SEQ_MERGE_MAX:
            self.df = tagged.drop("__mi_row")
            return _NOT_SEQ
        pieces: list[DataFrame] = []
        base_syms = dict(self.symbols)
        for rid in rids:
            sub = QueryCompiler(self.g, self.params, hops=self.hops,
                                anon_prefix=f"mi{self._anon}_")
            self._anon += 1
            sub.symbols = dict(base_syms)
            sub.counters = self.counters
            sub.df = tagged.filter(F.col("__mi_row") == rid) \
                .drop("__mi_row")
            r = sub._compile_clauses(clauses)
            if sub.wrote:
                self.wrote = True
            if r is not None:
                pieces.append(r.localCheckpoint(eager=True))
        if not pieces:
            return None
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def compile_clause(self, cl: A.Clause) -> None:
        # frame-row-count hint: CREATE clauses preserve row count, so a
        # CREATE-chain statement reuses one known count instead of a Spark
        # job per clause; any other clause may change it
        if not isinstance(cl, (A.Create, A.SetClause, A.RemoveClause)):
            self._rows_hint = None
        if isinstance(cl, A.Match):
            self._match(cl)
        elif isinstance(cl, A.Unwind):
            self._unwind(cl)
        elif isinstance(cl, A.With):
            self._project(cl, is_return=False)
        elif isinstance(cl, A.CallProc):
            self._call(cl)
        elif isinstance(cl, A.CallSubquery):
            self._call_subquery(cl)
        elif isinstance(cl, A.Foreach):
            self.wrote = True
            self._foreach(cl)
        elif isinstance(cl, A.LoadFile):
            self._load(cl)
        elif isinstance(cl, A.Create):
            self.wrote = True
            self._create(cl)
        elif isinstance(cl, A.Merge):
            self.wrote = True
            self._merge(cl)
        elif isinstance(cl, A.SetClause):
            self.wrote = True
            self._set(cl.items)
        elif isinstance(cl, A.RemoveClause):
            self.wrote = True
            self._remove(cl)
        elif isinstance(cl, A.Delete):
            self.wrote = True
            self._delete(cl)
        else:
            raise CompileError(f"unsupported clause {type(cl).__name__}")

    # -- MATCH --------------------------------------------------------------
    def _match(self, m: A.Match) -> None:
        if m.optional:
            self._optional_match(m)
            self._after_optional = True
            return
        if getattr(self, "_after_optional", False):
            # InvalidClauseComposition: a MATCH may not follow an
            # OPTIONAL MATCH in the same query part (openCypher; WITH
            # starts a new part and makes it legal again)
            raise CompileError(
                "MATCH cannot follow OPTIONAL MATCH (use WITH)")
        clause_rels: list[str] = []
        self._deferred_props = []
        for part in m.patterns:
            clause_rels += self._pattern_part(part)
        # property-map filters that cross-reference symbols bound later in
        # the pattern ((n {x: m.y})-[]-(m {y: n.x})) apply once everything
        # is bound — the reference plans them as post-expand Filters
        for sym, k, ve in self._deferred_props:
            col = f"{sym}_{A.prop_col(k)}"
            if col not in self.df.columns:
                self.df = self.df.filter(F.lit(False))
                break
            self.df = self.df.filter(
                F.col(col) == compile_expr(ve, self._env()))
        self._deferred_props = []
        # EdgeUniquenessFilter (operator.hpp:1768): Cypher edge-isomorphism —
        # no edge may repeat within one MATCH. Pairwise across single-hop rels
        # (variable-length paths enforce it internally per path).
        for i in range(len(clause_rels)):
            for j in range(i + 1, len(clause_rels)):
                self.df = self.df.filter(
                    F.col(f"{clause_rels[i]}_eid") != F.col(f"{clause_rels[j]}_eid"))
        if m.where is not None:
            self._where(m.where)

    def _node_score(self, np: A.NodePattern) -> float:
        """Estimated scan cardinality of anchoring at this node pattern —
        the cost model's vertex-count × filter selectivity (CardParam
        kFilter = 0.25, plan/cost_constants.hpp:18-52)."""
        if np.var is not None and np.var in self.symbols:
            return 0.0  # already bound: anchoring here is free
        if len(np.labels) == 1 and np.labels[0] in self.g.nodes:
            n = float(self.g.label_count(np.labels[0]))
        else:
            n = float(self.g.total_node_count())
        return n * (0.25 ** len(np.props))

    def _maybe_reverse(self, part: A.PatternPart) -> A.PatternPart:
        """VariableStartPlanner parity (plan/variable_start_planner.hpp:24):
        anchor a linear pattern at its cheaper end. We compare only the two
        endpoints (the dominant choice) instead of enumerating every start —
        the middle nodes join either way."""
        if not part.chain or any(r.var_length for r, _ in part.chain):
            return part
        end = part.chain[-1][1]
        # an end whose target-attach join is provably elidable
        # (endpoint_labels FK guarantee) costs NOTHING as a target but a
        # full scan as an anchor — elidability dominates the scan-size
        # comparison (anchoring at the other end saves a whole scan+join)
        flip = {"out": "in", "in": "out", "both": "both"}
        co_end = {"out": "dst", "in": "src"}
        last_rel = part.chain[-1][0]
        first_rel = part.chain[0][0]
        end_el = self._attach_elidable(
            end, last_rel, co_end.get(last_rel.direction))
        start_el = self._attach_elidable(
            part.start, first_rel, co_end.get(flip[first_rel.direction]))
        if end_el and not start_el:
            return part
        if not (start_el and not end_el) \
                and self._node_score(end) >= self._node_score(part.start):
            return part
        nodes = [part.start] + [n for _, n in part.chain]
        rels = [r for r, _ in part.chain]
        chain = [
            (A.RelPattern(rels[i].var, rels[i].types,
                          flip[rels[i].direction], rels[i].props,
                          rels[i].var_length, lo=rels[i].lo, hi=rels[i].hi),
             nodes[i])
            for i in range(len(rels) - 1, -1, -1)
        ]
        return A.PatternPart(part.var, nodes[-1], chain)

    def _pattern_part(self, part: A.PatternPart) -> list[str]:
        """Compile one linear pattern; returns the single-hop rel symbols
        bound (for edge-uniqueness)."""
        if not part.var:
            part = self._maybe_reverse(part)  # keep written order for paths
        rels: list[str] = []
        segs: list[str] = []
        self._part_rel_seen = set()
        start_sym = part.start.var or self._anon_sym("n")
        self._bind_node(part.start, start_sym)
        prev = start_sym
        path_len: Column | None = None
        # id-level path pieces (ConstructNamedPath, operator.hpp:1255):
        # arrays of node ids / edge ids / traversal directions in walk order
        nid_parts = [F.array(F.col(f"{start_sym}_id"))]
        eid_parts: list[Column] = []
        dir_parts: list[Column] = []
        # segment eids are tracked whenever edge-uniqueness needs them:
        # a pattern mixing several rel elements must not reuse edges
        # across its variable-length segments (VarLengthAcceptance2)
        need_seg = part.var is not None or len(part.chain) > 1
        for rel, node in part.chain:
            to_sym = node.var or self._anon_sym("n")
            if rel.var_length:
                seg = self._anon_sym("seg") if need_seg else None
                depth_col = self._expand_var_length(prev, rel, node, to_sym,
                                                    path_prefix=seg)
                path_len = (depth_col if path_len is None
                            else path_len + depth_col)
                if seg is not None:
                    segs.append(seg)
                if part.var:
                    nid_parts.append(F.col(f"{seg}_nids"))
                    eid_parts.append(F.col(f"{seg}_eids"))
                    dir_parts.append(F.col(f"{seg}_dirs"))
            else:
                rsym = self._expand_single(prev, rel, node, to_sym)
                rels.append(rsym)
                path_len = (F.lit(1) if path_len is None else path_len + 1)
                if part.var:
                    nid_parts.append(F.array(F.col(f"{to_sym}_id")))
                    eid_parts.append(F.array(F.col(f"{rsym}_eid")))
                    dir_parts.append(F.array(
                        F.col(f"{prev}_id") == F.col(f"{rsym}_src")))
            prev = to_sym
        # edge-uniqueness across this part's variable-length segments and
        # between segments and its single-hop rels (EdgeUniquenessFilter
        # covers every rel element of the pattern, operator.cpp)
        for i in range(len(segs)):
            for j in range(i + 1, len(segs)):
                self.df = self.df.filter(~F.coalesce(
                    F.arrays_overlap(F.col(f"{segs[i]}_eids"),
                                     F.col(f"{segs[j]}_eids")),
                    F.lit(False)))
            for r_ in rels:
                self.df = self.df.filter(~F.coalesce(
                    F.array_contains(F.col(f"{segs[i]}_eids"),
                                     F.col(f"{r_}_eid")), F.lit(False)))
        if part.var:
            self.df = (self.df.withColumn(
                f"{part.var}_length",
                (path_len if path_len is not None else F.lit(0)).cast("long"))
                .withColumn(f"{part.var}_nids", F.concat(*nid_parts))
                .withColumn(f"{part.var}_eids",
                            F.concat(*eid_parts) if eid_parts
                            else F.array().cast("array<long>"))
                .withColumn(f"{part.var}_dirs",
                            F.concat(*dir_parts) if dir_parts
                            else F.array().cast("array<boolean>")))
            self._materialize_path(part.var)
            self.symbols[part.var] = "path"
        return rels

    def _materialize_path(self, var: str) -> None:
        """Resolve a path's id arrays into ordered node/rel detail structs
        (`{var}_nodes`, `{var}_rels`): posexplode -> detail join -> re-collect
        by position. Two shuffles per named path — paths are materialized
        values in the reference too (src/query/path.hpp)."""
        g = self.g
        df = self.df.withColumn(
            "__prow", F.monotonically_increasing_id()).localCheckpoint()
        nd = g.all_nodes(self._all_props())
        nprops = [c for c in nd.columns if c not in ("id", "labels")]
        ndet = nd.select(
            F.col("id").alias("__nid"),
            F.struct(F.col("id"), F.col("labels"),
                     *[F.col(p) for p in nprops]).alias("__det"))
        nodes_rolled = (
            df.select("__prow",
                      F.posexplode(f"{var}_nids").alias("__pos", "__nid"))
            .join(ndet, "__nid", "inner")
            .groupBy("__prow")
            .agg(F.array_sort(F.collect_list(
                F.struct("__pos", "__det"))).alias("__t"))
            .select("__prow", F.col("__t.__det").alias(f"{var}_nodes")))
        edet = self._edge_detail()
        rels_rolled = (
            df.select("__prow",
                      F.posexplode(f"{var}_eids").alias("__pos", "__eid"))
            .join(edet, "__eid", "inner")
            .groupBy("__prow")
            .agg(F.array_sort(F.collect_list(
                F.struct("__pos", "__det"))).alias("__t"))
            .select("__prow", F.col("__t.__det").alias(f"{var}_rels")))
        def empty_arr(det_schema):
            return F.array().cast(T.ArrayType(det_schema))

        self.df = (df.join(nodes_rolled, "__prow", "left")
                   .join(rels_rolled, "__prow", "left")
                   .withColumn(f"{var}_nodes",
                               F.coalesce(f"{var}_nodes", empty_arr(
                                   ndet.schema["__det"].dataType)))
                   .withColumn(f"{var}_rels",
                               F.coalesce(f"{var}_rels", empty_arr(
                                   edet.schema["__det"].dataType)))
                   .drop("__prow"))

    def _edge_detail(self) -> DataFrame:
        """(eid -> rel struct) detail table over all edge tables."""
        props: set[str] = set()
        for e in self.g.edges.values():
            props.update(c for c in e.columns
                         if c not in ("src", "dst", "eid"))
        dfs = []
        for etype, e in self.g.edges.items():
            if "eid" not in e.columns:
                e = e.withColumn(
                    "eid", F.xxhash64(F.lit(etype or ""), "src", "dst"))
            fields = [F.col("eid"), F.lit(etype).alias("type"),
                      F.col("src"), F.col("dst")]
            for p in sorted(props):
                fields.append((F.col(p) if p in e.columns
                               else F.lit(None)).alias(p))
            dfs.append(e.select(F.col("eid").alias("__eid"),
                                F.struct(*fields).alias("__det")))
        if not dfs:
            return empty_frame(
                self.g.spark, "__eid BIGINT, __det STRUCT<eid BIGINT, "
                "type STRING, src BIGINT, dst BIGINT>")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _bind_node(self, np: A.NodePattern, sym: str) -> None:
        if np.dyn_labels:
            raise CompileError(
                "dynamic node labels are not allowed in MATCH")
        labels = self._labels(np.labels)
        if sym in self.symbols:
            if sym in self.deleted:
                raise CompileError(
                    f"cannot MATCH on deleted node `{sym}`")
            if self.symbols[sym] != "node":
                t = (self._env().typeof(F.col(sym))
                     if self.symbols[sym] == "value"
                     and sym in self.df.columns else False)
                if t is None or isinstance(t, T.NullType):
                    # a null value in a node position is a node-typed null
                    # (WITH null AS a OPTIONAL MATCH (a)-[r]->() — the
                    # pattern just never matches, FunctionsAcceptance).
                    # labels too: a label test below must see a column, not
                    # crash on the missing {sym}_labels
                    self.df = (self.df
                               .withColumn(f"{sym}_id",
                                           F.lit(None).cast("long"))
                               .withColumn(f"{sym}_labels",
                                           F.lit(None)
                                           .cast("array<string>")))
                    self.symbols[sym] = "node"
                elif isinstance(t, T.StructType) and "id" in t.names \
                        and "labels" in t.names:
                    # a node VALUE (coalesce(b, c), list element …) used in
                    # a pattern re-binds as a node symbol: unpack the
                    # struct into the node's column group
                    for f in t.names:
                        self.df = self.df.withColumn(
                            f"{sym}_{f}", F.col(sym).getField(f))
                    self.df = self.df.drop(sym)
                    self.symbols[sym] = "node"
                else:
                    raise CompileError(f"{sym} rebound as node")
            if np.labels_or and len(labels) > 1:
                cond = None
                for lbl in labels:
                    c = F.array_contains(F.col(f"{sym}_labels"), lbl)
                    cond = c if cond is None else (cond | c)
                self.df = self.df.filter(cond)
            else:
                for lbl in labels:
                    self.df = self.df.filter(
                        F.array_contains(F.col(f"{sym}_labels"), lbl))
        else:
            p = prefix_columns(self._node_df(labels, any_of=np.labels_or),
                               sym)
            self.df = p if self.df is None else self.df.crossJoin(p)
            self.symbols[sym] = "node"
        self._prop_filters(sym, np.props)

    def _prop_filters(self, sym: str, props: dict[str, A.Expr]) -> None:
        for k, ve in props.items():
            col = f"{sym}_{A.prop_col(k)}"
            if self.df is not None and col not in self.df.columns:
                self.df = self.df.filter(F.lit(False))
                return
            try:
                rhs = compile_expr(ve, self._env())
                from memgraph_spark.functions.variant import (
                    is_variant_type, to_variant, variant_eq_strict)
                lt = (self.df.schema[col].dataType
                      if self.df is not None and col in self.df.columns
                      else None)
                if is_variant_type(lt):
                    # variant-typed property (mixed types across labels):
                    # strict element equality within the value's category
                    rt = self._env().typeof(rhs)
                    rv = rhs if is_variant_type(rt) else to_variant(rhs, rt)
                    self.df = self.df.filter(
                        variant_eq_strict(F.col(col), rv))
                else:
                    self.df = self.df.filter(F.col(col) == rhs)
            except CompileError as err:
                # forward reference to a not-yet-bound pattern symbol:
                # defer to the end of the MATCH (cross-referencing maps)
                if ("unbound variable" in str(err)
                        and getattr(self, "_deferred_props", None)
                        is not None):
                    self._deferred_props.append((sym, k, ve))
                else:
                    raise

    def _edge_table(self, types: list[str], rsym: str, want_props: bool) -> DataFrame:
        """Typed edge scan(s) unioned on a common schema, columns prefixed to
        the rel symbol. Cols: src, dst, {rsym}_eid/_type/_src/_dst/_props."""
        chosen = [t for t in (types or self.g.edge_types())
                  if t in self.g.edges]
        if not chosen:  # no matching edge tables: statically empty expand
            return empty_frame(
                self.g.spark, f"src BIGINT, dst BIGINT, {rsym}_eid BIGINT, "
                f"{rsym}_type STRING, {rsym}_src BIGINT, {rsym}_dst BIGINT")
        prop_names: set[str] = set()
        if want_props:
            for t in chosen:
                prop_names.update(
                    c for c in self.g.edge(t).columns
                    if c not in ("src", "dst", "eid"))
        dfs = []
        for t in chosen:
            e = self.g.edge(t)
            if "eid" not in e.columns:
                e = e.withColumn(
                    "eid", F.xxhash64(F.lit(t or ""), "src", "dst"))
            cols = [
                F.col("src"), F.col("dst"),
                F.col("eid").alias(f"{rsym}_eid"),
                F.lit(t).alias(f"{rsym}_type"),
                F.col("src").alias(f"{rsym}_src"),
                F.col("dst").alias(f"{rsym}_dst"),
            ]
            for p in sorted(prop_names):
                cols.append((F.col(p) if p in e.columns else F.lit(None))
                            .alias(f"{rsym}_{p}"))
            dfs.append(e.select(*cols))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _expand_single(self, from_sym: str, rel: A.RelPattern,
                       np: A.NodePattern, to_sym: str) -> str:
        """Expand (operator.hpp:1063): one hop = one equi-join on the edge
        table; BOTH direction = union of the two orientations."""
        rsym = rel.var or self._anon_sym("r")
        if rel.var is not None:
            seen = getattr(self, "_part_rel_seen", set())
            if rel.var in seen:
                # RelationshipUniquenessViolation: the same rel variable
                # may not appear twice in one pattern
                raise CompileError(
                    f"cannot use the same relationship variable "
                    f"{rel.var!r} twice in one pattern")
            seen.add(rel.var)
            if self.symbols.get(rel.var) not in (None, "rel"):
                raise CompileError(
                    f"VariableTypeConflict: {rel.var} is bound as a "
                    f"{self.symbols[rel.var]}, not a relationship")
        rebound = rel.var is not None and self.symbols.get(rsym) == "rel"
        if rebound:
            # an already-bound rel reused in a pattern is an equality
            # constraint (expand-into on the edge): match under a fresh
            # symbol, then require the same edge id
            rsym = self._anon_sym("r")
        want_props = rel.var is not None or bool(rel.props)
        # single-scan fusion: when the edge is minted from the target
        # node's own fact table (catalog.co_scan), the target's properties
        # ride the edge scan itself — the _attach_node id self-join (a
        # second full scan + shuffle/broadcast of the fact table at scale)
        # disappears. Conditions: one edge type with a co-scan for the
        # attached end, target unbound, exactly the co-located label, and
        # no SET-added labels anywhere (extra labels join by id regardless
        # of label, which the fused path skips).
        fused = None
        co_end = {"out": "dst", "in": "src"}.get(rel.direction)
        if (co_end is not None and to_sym not in self.symbols
                and rel.types and len(rel.types) == 1
                and not any(isinstance(x, A.Param) for x in rel.types)
                and self.g.extra_labels is None):
            co = self.g.co_scan.get((rel.types[0], co_end))
            if co is not None and self._labels(np.labels) == [co[0]]:
                fused = co
        if fused is not None:
            lbl, codf = fused
            ty = rel.types[0]
            cols = [
                F.col("src"), F.col("dst"),
                F.col("eid").alias(f"{rsym}_eid"),
                F.lit(ty).alias(f"{rsym}_type"),
                F.col("src").alias(f"{rsym}_src"),
                F.col("dst").alias(f"{rsym}_dst"),
            ]
            if want_props:
                cols += [F.col(p).alias(f"{rsym}_{p}") for p in sorted(
                    c for c in self.g.edge(ty).columns
                    if c not in ("src", "dst", "eid"))]
            cols.append(F.array(F.lit(lbl)).alias(f"{to_sym}_labels"))
            cols += [F.col(c).alias(f"{to_sym}_{c[4:]}")
                     for c in codf.columns if c.startswith("__n_")]
            e = codf.select(*cols)
        else:
            e = self._edge_table(rel.types, rsym, want_props=want_props)
        if rel.direction == "out":
            e = e.withColumnRenamed("src", "__from").withColumnRenamed("dst", "__to")
        elif rel.direction == "in":
            e = e.withColumnRenamed("dst", "__from").withColumnRenamed("src", "__to")
        else:  # both
            # a self-loop is ONE undirected match, not two — the reverse
            # orientation keeps only src != dst (Counting-with-loops TCK)
            e = e.withColumnRenamed("src", "__from").withColumnRenamed("dst", "__to") \
                 .unionByName(
                     e.filter(F.col("src") != F.col("dst"))
                      .withColumnRenamed("dst", "__from")
                      .withColumnRenamed("src", "__to"))
        self.df = self.df.join(
            e, F.col(f"{from_sym}_id") == F.col("__from"), "inner")
        # USING HOPS LIMIT: single-hop expands consume quota in scan order
        # (src id, dst id) and truncate once it is exhausted
        # (hops_limit.hpp partial results)
        if self.hops is not None and self.hops.get("limit"):
            from pyspark.sql.window import Window as _W
            remaining = max(0, self.hops["limit"] - self.hops["used"])
            ranked = self.df.withColumn(
                "__hrn", F.row_number().over(
                    _W.orderBy(F.col("__from"), F.col("__to"))))
            total = ranked.count()
            self.df = (ranked.filter(F.col("__hrn") <= remaining)
                       .drop("__hrn").localCheckpoint(eager=True))
            consumed = min(total, remaining)
            self.hops["used"] += consumed
            # a downstream LIMIT may refund part of this (lazy pull: only
            # the rows actually pulled cost a retrieval)
            self.hops["lazy"] = consumed
            if total > remaining:
                self.hops["reached"] = True
                if getattr(self.g, "settings", {}).get(
                        "hops_limit_partial_results") == "false":
                    raise CompileError(
                        "Hops limit exceeded and partial results disabled")
        elif self.hops is not None and self.hops.get("track"):
            # no limit set, but getHopsCounter() is read: count retrievals
            # without truncating (hops_limit.feature counter tests)
            total = self.df.count()
            self.hops["used"] += total
            self.hops["lazy"] = total
        self.symbols[rsym] = "rel"
        self.rel_ends[rsym] = (from_sym, to_sym)
        if rebound:
            self.df = self.df.filter(
                F.col(f"{rsym}_eid") == F.col(f"{rel.var}_eid"))
        self._prop_filters(rsym, rel.props)
        if to_sym in self.symbols:
            # expand-into: both endpoints bound (operator.cpp:1904 existing-
            # node mode) — extra equality, no new columns
            self.df = self.df.filter(F.col("__to") == F.col(f"{to_sym}_id")) \
                             .drop("__from", "__to")
            self._bind_node(np, to_sym)
        elif fused is not None:
            # node labels/properties already rode the fused edge scan
            self.df = self.df.withColumnRenamed("__to", f"{to_sym}_id") \
                             .drop("__from")
            self.symbols[to_sym] = "node"
            self._prop_filters(to_sym, np.props)
        else:
            self.df = self.df.withColumnRenamed("__to", f"{to_sym}_id") \
                             .drop("__from")
            self.symbols[to_sym] = "node"
            if not self._attach_elidable(np, rel, co_end):
                self._attach_node(to_sym, np)
        return rsym

    def _attach_elidable(self, np: A.NodePattern, rel: A.RelPattern,
                         co_end: str | None) -> bool:
        """True when the target-attach join would be a provable no-op:
        the pattern is anonymous (no variable — nothing downstream can
        read its labels or properties; named paths capture only ids, off
        the edge itself), carries no property/label-OR filters, and the
        catalog statically guarantees every <co_end> endpoint of this
        edge type references an existing node of exactly the pattern's
        label (endpoint_labels — parquet FK-minted edges). SET-added
        labels disable the shortcut: an extra label grant can satisfy a
        label pattern the namespace guarantee cannot see."""
        if np.var is not None or np.props or np.labels_or or np.dyn_labels:
            return False
        if co_end is None or self.g.extra_labels is not None:
            return False
        if (not rel.types or len(rel.types) != 1
                or any(isinstance(x, A.Param) for x in rel.types)):
            return False
        lbl = self.g.endpoint_labels.get((rel.types[0], co_end))
        if lbl is None:
            return False
        want = self._labels(np.labels)
        return want == [] or want == [lbl]

    def _attach_node(self, sym: str, np: A.NodePattern) -> None:
        """Fetch the target node's labels/properties: an id equi-join against
        the (label-pruned) node scan. Inner join doubles as the label filter."""
        if np.dyn_labels:
            raise CompileError(
                "dynamic node labels are not allowed in MATCH")
        p = prefix_columns(self._node_df(self._labels(np.labels),
                                         any_of=np.labels_or), sym)
        self.df = self.df.join(p, on=f"{sym}_id", how="inner")
        self._prop_filters(sym, np.props)

    def _expand_var_length(self, from_sym: str, rel: A.RelPattern,
                           np: A.NodePattern, to_sym: str,
                           path_prefix: str | None = None) -> Column:
        """ExpandVariable (operator.cpp:2199) via iterative frontier joins.

        Plain unbound `-[*lo..hi]-` takes the lean operator path; traversal
        modes (*bfs/*wShortest/*allShortest), lambdas, bound edge-list
        symbols, and multi-type unions take the featureful loop in
        traversal.py."""
        if (rel.mode or rel.var or rel.flt or rel.weight or rel.props
                or len(rel.types) > 1
                or (self.hops is not None and self.hops.get("limit"))):
            return self._expand_traversal(from_sym, rel, np, to_sym,
                                          path_prefix)
        etype = rel.types[0] if rel.types else None
        lower = rel.lo if rel.lo is not None else 1
        upper = rel.hi  # None = unbounded: iterate to fixpoint
        # (edge-uniqueness bounds every path by |E| — MatchAcceptance2
        # "Matching longer variable length paths" needs 21 hops)
        depth_col = self._anon_sym("depth")
        if to_sym in self.symbols:
            tmp = self._anon_sym("n")
            self.df = expand_variable(
                self.df, self.g, etype, from_sym, tmp, lower, upper,
                rel.direction, depth_col=depth_col, path_prefix=path_prefix)
            self.df = self.df.filter(
                F.col(f"{tmp}_id") == F.col(f"{to_sym}_id")).drop(f"{tmp}_id")
            self._bind_node(np, to_sym)
        else:
            self.df = expand_variable(
                self.df, self.g, etype, from_sym, to_sym, lower, upper,
                rel.direction, depth_col=depth_col, path_prefix=path_prefix)
            self.symbols[to_sym] = "node"
            self._attach_node(to_sym, np)
        return F.col(depth_col)

    # -- OPTIONAL MATCH ------------------------------------------------------
    def _optional_match(self, m: A.Match) -> None:
        """Optional (operator.cpp:7287): compile the branch from the distinct
        bound anchor rows, then left-outer join it back — fully distributed,
        no per-row re-execution."""
        if self.df is None:
            # leading OPTIONAL MATCH: the input is the implicit Once row —
            # an empty match still yields ONE all-null row
            self.df = self._seed()
        where_refs = {n.name for n in (A.walk(m.where)
                                       if m.where is not None else [])
                      if isinstance(n, A.Var) and n.name in self.symbols
                      and self.symbols[n.name] in ("node", "rel", "value")}
        shared = sorted({s for s in self._pattern_syms(m.patterns)
                         if s in self.symbols} | where_refs)
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"o{self._anon}_")
        if shared:
            anchor_cols = [c for c in self.df.columns
                           if any(c == s or c.startswith(f"{s}_") for s in shared)]
            keys = ([f"{s}_id" for s in shared
                     if self.symbols[s] == "node"]
                    + [f"{s}_eid" for s in shared
                       if self.symbols[s] == "rel"
                       and f"{s}_eid" in self.df.columns]) or anchor_cols
            sub.df = self.df.select(*anchor_cols).dropDuplicates(keys)
            sub.symbols = {s: self.symbols[s] for s in shared}
            sub._match(A.Match(m.patterns, m.where, False))
            branch = sub.df
            # drop anchor prop columns duplicated on the branch side
            drop = [c for c in anchor_cols if c not in keys]
            branch = branch.drop(*drop) if drop else branch
            self.df = self.df.join(branch, on=keys, how="left")
        else:
            sub._match(A.Match(m.patterns, m.where, False))
            self.df = self.df.join(sub.df, F.lit(True), "left")
        for s, k in sub.symbols.items():
            if s not in self.symbols:
                self.symbols[s] = k
        # endpoint bookkeeping must follow the symbols (startNode()/endNode()
        # on an OPTIONAL-matched rel falls back to a raw id without it)
        self.rel_ends.update(getattr(sub, "rel_ends", {}))

    def _pattern_syms(self, patterns: list[A.PatternPart]) -> set[str]:
        out: set[str] = set()
        for p in patterns:
            if p.start.var:
                out.add(p.start.var)
            for rel, node in p.chain:
                if rel.var:
                    out.add(rel.var)
                if node.var:
                    out.add(node.var)
        return out

    # -- WHERE ---------------------------------------------------------------
    def _where(self, e: A.Expr) -> None:
        for conj in self._conjuncts(e):
            if isinstance(conj, A.PatternPredicate):
                self._pattern_filter(conj)
            elif isinstance(conj, A.ExistsSubquery):
                self._exists_filter(conj)
            else:
                conj = self._lift(conj)
                conj = self._materialize_pattern_flags(conj)
                self.df = self.df.filter(compile_expr(conj, self._env()))

    def _materialize_pattern_flags(self, e: A.Expr) -> A.Expr:
        """Pattern predicates embedded in arbitrary boolean expressions
        (`exists(…) OR exists(…)`, `exists(…) IS NOT NULL`): each becomes a
        boolean flag column computed by a semi-join-shaped left join, and
        the predicate node rewrites to a plain variable over that column
        (EvaluatePatternFilter generalized beyond top-level conjuncts)."""
        from dataclasses import fields as _fields, is_dataclass as _isdc
        if not any(isinstance(n, (A.PatternPredicate, A.ExistsSubquery))
                   for n in A.walk(e)):
            return e

        def rewrite(node):
            if isinstance(node, A.PatternPredicate):
                flag = self._pattern_flag(node)
                return A.Var(flag)
            if isinstance(node, A.ExistsSubquery):
                flag = self._exists_flag(node)
                return A.Var(flag)
            if isinstance(node, A.ReduceExpr) and any(
                    isinstance(n, A.PatternPredicate) for n in A.walk(node)):
                # symbol_generator.cpp: exists(...) is forbidden inside
                # reduce — the accumulator frame cannot host a subquery
                raise CompileError(
                    "exists(...) is not allowed inside reduce()")
            if not _isdc(node):
                return node

            def sub(v):
                if isinstance(v, list):
                    return [sub(x) for x in v]
                if isinstance(v, tuple):
                    return tuple(sub(x) for x in v)
                if isinstance(v, dict):
                    return {k: sub(x) for k, x in v.items()}
                return rewrite(v) if _isdc(v) else v
            return type(node)(**{f.name: sub(getattr(node, f.name))
                                 for f in _fields(node)})
        return rewrite(e)

    def _check_pattern_new_vars(self, pp: A.PatternPredicate) -> None:
        """A pattern expression may not introduce new symbols
        (symbol_generator.cpp: 'Unbounded variables are not allowed in
        pattern expressions'; patterns.feature new-variable errors)."""
        fresh = [s for s in self._pattern_syms([pp.pattern])
                 if s not in self.symbols]
        if fresh:
            raise CompileError(
                f"pattern expression introduces new variables {fresh}")

    def _pattern_flag(self, pp: A.PatternPredicate) -> str:
        """Compute a boolean column: does the pattern match for this row?"""
        self._check_pattern_new_vars(pp)
        flag = f"__pp{self._anon}"
        shared = sorted(s for s in self._pattern_syms([pp.pattern])
                        if s in self.symbols)
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"p{self._anon}_")
        self._anon += 1
        if shared:
            keys = [f"{s}_id" for s in shared if self.symbols[s] == "node"]
            anchor_cols = [c for c in self.df.columns
                           if any(c == s or c.startswith(f"{s}_")
                                  for s in shared)]
            sub.df = self.df.select(*anchor_cols).dropDuplicates(
                keys or anchor_cols)
            sub.symbols = {s: self.symbols[s] for s in shared}
            _apply_edge_uniqueness(sub, sub._pattern_part(pp.pattern))
            matched = (sub.df.select(*(keys or anchor_cols))
                       .dropDuplicates()
                       .withColumn(flag, F.lit(True)))
            self.df = self.df.join(matched, on=(keys or anchor_cols),
                                   how="left")
        else:
            _apply_edge_uniqueness(sub, sub._pattern_part(pp.pattern))
            matched = (sub.df.limit(1).select(F.lit(True).alias(flag)))
            self.df = self.df.join(matched, F.lit(True), "left")
        self.df = self.df.withColumn(
            flag, F.coalesce(F.col(flag), F.lit(False)))
        if pp.negated:
            self.df = self.df.withColumn(flag, ~F.col(flag))
        self.symbols[flag] = "value"
        return flag

    def _exists_matched(self, ex: A.ExistsSubquery):
        """Anchor-key rows for which an EXISTS {} subquery yields ≥1 row.

        Correlation is by anchor columns copied under hidden names
        (__exk<i>) so a subquery WITH that shadows an outer symbol (WITH
        'Ozzy' AS name) can't clobber the join keys. Decorrelated by
        construction: one distinct-anchor scan per UNION branch, then a
        key-set union — never a per-row re-run."""
        outer = set(self.symbols)
        used: set[str] = set()
        for p in ex.parts:
            for nd in A.walk(p):
                if isinstance(nd, A.Var):
                    used.add(nd.name)
                elif isinstance(nd, A.NodePattern) and nd.var:
                    used.add(nd.var)
                elif isinstance(nd, A.RelPattern) and nd.var:
                    used.add(nd.var)
        shared = sorted(used & outer)

        def key_cols(s: str) -> list[str]:
            kind = self.symbols[s]
            cand = {"node": [f"{s}_id"], "rel": [f"{s}_eid"],
                    "value": [s]}.get(kind, [])
            return [c for c in cand if c in self.df.columns]

        keys = [c for s in shared for c in key_cols(s)]
        anchor_cols = [c for c in self.df.columns
                       if any(c == s or c.startswith(f"{s}_")
                              for s in shared)]
        hid = {c: f"__exk{i}" for i, c in enumerate(keys)}
        matched = None
        for part in ex.parts:
            sub = QueryCompiler(self.g, self.params, hops=self.hops,
                                anon_prefix=f"ex{self._anon}_")
            self._anon += 1
            sub.counters = self.counters
            if shared:
                sub.df = self.df.select(
                    *anchor_cols,
                    *[F.col(c).alias(h) for c, h in hid.items()]) \
                    .dropDuplicates(list(hid.values()) or anchor_cols)
                sub.symbols = {s: self.symbols[s] for s in shared}
            clauses, r_skip, r_limit = self._exists_clauses(
                part, list(hid.values()), shared)
            for cl in clauses:
                sub.compile_clause(cl)
            if sub.df is None:
                continue
            if r_skip is not None or r_limit is not None:
                # the subquery RETURN's SKIP/LIMIT change its row count, so
                # they apply before the existence check — per anchor key
                # for a correlated EXISTS (each outer row sees its own
                # subquery result), globally for an uncorrelated one
                lo = (self._static_int(r_skip, "SKIP")
                      if r_skip is not None else 0)
                hi = (lo + self._static_int(r_limit, "LIMIT")
                      if r_limit is not None else None)
                if hid:
                    from pyspark.sql.window import Window
                    w = Window.partitionBy(*hid.values()) \
                        .orderBy(F.monotonically_increasing_id())
                    rn = F.row_number().over(w)
                    cond = F.col("__exrn") > lo
                    if hi is not None:
                        cond = cond & (F.col("__exrn") <= hi)
                    sub.df = sub.df.withColumn("__exrn", rn) \
                        .filter(cond).drop("__exrn")
                else:
                    if lo:
                        sub.df = sub.df.offset(lo)
                    if r_limit is not None:
                        sub.df = sub.df.limit(
                            self._static_int(r_limit, "LIMIT"))
            if hid:
                m = sub.df.select(*hid.values()).dropDuplicates()
            else:
                m = sub.df.limit(1).select(F.lit(True).alias("__exhit"))
            matched = m if matched is None else matched.unionByName(m) \
                .dropDuplicates()
        return matched, hid

    def _exists_clauses(self, part: A.SingleQuery, hidden: list[str],
                        shared: list[str] | None = None):
        """Subquery clauses adjusted for existence checking: a trailing
        RETURN is irrelevant (only row existence matters) and WITH
        projections must carry the hidden anchor keys through."""
        out, r_skip, r_limit = [], None, None
        shared = shared or []
        for cl in part.clauses:
            if isinstance(cl, (A.Create, A.Merge, A.Delete, A.SetClause,
                               A.RemoveClause, A.Foreach)):
                # EXISTS subqueries are read-only (memgraph_exists.feature:
                # SET/CREATE/DELETE/REMOVE inside EXISTS raise)
                raise CompileError(
                    f"{type(cl).__name__} is not allowed inside an "
                    "EXISTS subquery")
            if isinstance(cl, A.Return):
                # projection itself is irrelevant (only row existence
                # matters) but its SKIP/LIMIT are row-count modifiers the
                # caller must still apply before the existence check
                r_skip, r_limit = cl.skip, cl.limit
                continue
            if isinstance(cl, A.With) and not cl.star \
                    and (hidden or shared):
                # outer correlated symbols stay visible past intermediate
                # WITH projections (EXISTS { WITH 'x' AS v MATCH (outer)…}
                # still correlates on outer), as do the hidden anchor keys
                names = {it.alias or it.text for it in cl.items}
                items = list(cl.items) + [
                    A.ReturnItem(A.Var(s), None, s)
                    for s in shared if s not in names] + [
                    A.ReturnItem(A.Var(h), None, h) for h in hidden]
                cl = A.With(items, cl.star, cl.distinct, cl.order,
                            cl.skip, cl.limit, cl.where)
            out.append(cl)
        return out, r_skip, r_limit

    def _exists_filter(self, ex: A.ExistsSubquery) -> None:
        matched, hid = self._exists_matched(ex)
        how = "left_anti" if ex.negated else "left_semi"
        if matched is None:
            if not ex.negated:
                self.df = self.df.limit(0)
            return
        if hid:
            cond = None
            for c, h in hid.items():
                e = self.df[c].eqNullSafe(matched[h])
                cond = e if cond is None else (cond & e)
            self.df = self.df.join(matched, cond, how)
        else:
            self.df = self.df.join(matched, F.lit(True), how)

    def _exists_flag(self, ex: A.ExistsSubquery) -> str:
        flag = f"__ex{self._anon}"
        self._anon += 1
        matched, hid = self._exists_matched(ex)
        if matched is None:
            self.df = self.df.withColumn(flag, F.lit(bool(ex.negated)))
            self.symbols[flag] = "value"
            return flag
        if hid:
            matched = matched.withColumn(flag, F.lit(True))
            cond = None
            for c, h in hid.items():
                e = self.df[c].eqNullSafe(matched[h])
                cond = e if cond is None else (cond & e)
            self.df = (self.df.join(matched, cond, "left")
                       .drop(*hid.values()))
        else:
            matched = matched.withColumnRenamed("__exhit", flag)
            self.df = self.df.join(matched, F.lit(True), "left")
        self.df = self.df.withColumn(
            flag, F.coalesce(F.col(flag), F.lit(False)))
        if ex.negated:
            self.df = self.df.withColumn(flag, ~F.col(flag))
        self.symbols[flag] = "value"
        return flag

    def _conjuncts(self, e: A.Expr) -> list[A.Expr]:
        if isinstance(e, A.BinaryOp) and e.op == "AND":
            return self._conjuncts(e.left) + self._conjuncts(e.right)
        return [e]

    def _pattern_filter(self, pp: A.PatternPredicate) -> None:
        """EvaluatePatternFilter (operator.hpp:2427): WHERE (n)-[:T]->(m) /
        exists(...) -> left-semi join; NOT ... -> left-anti."""
        self._check_pattern_new_vars(pp)
        shared = sorted(s for s in self._pattern_syms([pp.pattern])
                        if s in self.symbols)
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"p{self._anon}_")
        self._anon += 1
        how = "left_anti" if pp.negated else "left_semi"
        if shared:
            keys = [f"{s}_id" for s in shared if self.symbols[s] == "node"]
            anchor_cols = [c for c in self.df.columns
                           if any(c == s or c.startswith(f"{s}_") for s in shared)]
            sub.df = self.df.select(*anchor_cols).dropDuplicates(keys or anchor_cols)
            sub.symbols = {s: self.symbols[s] for s in shared}
            _apply_edge_uniqueness(sub, sub._pattern_part(pp.pattern))
            self.df = self.df.join(sub.df.select(*(keys or anchor_cols)),
                                   on=(keys or anchor_cols), how=how)
        else:
            _apply_edge_uniqueness(sub, sub._pattern_part(pp.pattern))
            self.df = self.df.join(sub.df.limit(1), F.lit(True), how)

    # -- CALL / LOAD -----------------------------------------------------------
    def _call(self, cl: A.CallProc) -> None:
        """CallProcedure (operator.hpp:2891): procedures are UDTFs. Result
        columns join the frame; uncorrelated procedures cross-join (each
        frame row sees the full yield stream — the reference's semantics).

        TCK ProcedureCallAcceptance semantics: no parens = implicit argument
        mode (standalone only; args bind from query parameters by declared
        name), YIELD - keeps cardinality but drops outputs, VOID/zero-output
        procedures pass the frame through, an in-query CALL with outputs
        must YIELD, and a yielded name may not shadow a bound variable."""
        from memgraph_spark.procedures import PROCEDURES, SIGNATURES
        fn = PROCEDURES.get(cl.name.lower())
        if fn is None:
            raise CompileError(f"ProcedureNotFound: unknown procedure "
                               f"{cl.name}")
        sig = SIGNATURES.get(cl.name.lower())
        standalone = getattr(self, "_n_clauses", 0) == 1

        def _static(a):
            if isinstance(a, A.Literal):
                return a.value
            if isinstance(a, A.Param):
                return self.params[a.name]
            if isinstance(a, A.ListLiteral):
                return [_static(x) for x in a.items]
            if isinstance(a, A.MapLiteral):
                return {k: _static(v) for k, v in a.items.items()}
            raise CompileError("CALL arguments must be literals/parameters")

        if not cl.explicit and sig and sig.get("args"):
            if cl.yield_mode != "none":
                raise CompileError(
                    "InvalidArgumentPassingMode: implicit arguments are "
                    "only allowed in a standalone CALL without YIELD")
            try:
                args = [self.params[n] for n, _t in sig["args"]]
            except KeyError as exc:
                raise CompileError(
                    f"MissingParameter: implicit CALL needs parameter "
                    f"${exc.args[0]}") from exc
            result = fn(self.g, *args)
        else:
            try:
                args = [_static(a) for a in cl.args]
            except CompileError:
                # arguments reference frame variables: per-row evaluation
                # (reference CallProcedure evaluates args per pull) — run
                # the procedure once per DISTINCT argument combination and
                # join the yield streams back on those values (fenced).
                # Only the argument evaluation is guarded: a CompileError
                # raised inside the procedure body must propagate, not
                # reroute to per-row mode.
                return self._call_per_row(cl, fn)
            result = fn(self.g, *args)
        void_like = not result.columns
        if cl.yield_mode == "dash":
            # YIELD - keeps the yield stream's CARDINALITY (zero output
            # rows kill the frame row) but binds nothing
            marker = result.select(F.lit(1).alias("__yd")) if not void_like \
                else result.withColumn("__yd", F.lit(1)).select("__yd")
            self.df = (marker if self.df is None
                       else self.df.crossJoin(marker)).drop("__yd")
            if "__once" in self.df.columns:
                self.df = self.df.drop("__once")
            return
        if void_like:
            # VOID / zero-output procedure without YIELD: in-query it
            # neither consumes nor multiplies rows; standalone = empty
            if standalone and cl.yield_mode == "none":
                self.df = empty_frame(self.g.spark, T.StructType([]))
            return
        if cl.yield_mode == "none" and not standalone:
            # reference: in-query CALL with outputs must YIELD (the TCK pins
            # UndefinedVariable at the later RETURN; erring here is the same
            # compile-time contract)
            raise CompileError(
                f"CALL {cl.name} inside a query must YIELD its outputs")
        if cl.yield_mode == "list":
            result = self._yield_select(cl, result)
        else:  # none (standalone) or star: every column joins the frame
            for col in result.columns:
                if cl.yield_mode == "star" and col in self.symbols:
                    raise CompileError(
                        f"VariableAlreadyBound: YIELD * output {col!r} "
                        "shadows a bound variable")
                self.symbols[col] = "value"
        self.df = result if self.df is None else self.df.crossJoin(result)
        if self.df is not None and "__once" in self.df.columns:
            self.df = self.df.drop("__once")
        if cl.where is not None:
            # CALL … YIELD … WHERE pred filters yielded rows in place
            self.df = self.df.filter(
                compile_expr(cl.where, self._env()))

    def _yield_select(self, cl: A.CallProc, result: DataFrame) -> DataFrame:
        cols = []
        for col, alias in cl.yields:
            if col not in result.columns:
                raise CompileError(
                    f"procedure {cl.name} does not yield {col!r} "
                    f"(yields: {result.columns})")
            name = alias or col
            if name in self.symbols:
                raise CompileError(
                    f"VariableAlreadyBound: YIELD {name} shadows a "
                    "bound variable")
            cols.append(F.col(col).alias(name))
            self.symbols[name] = "value"
        return result.select(*cols)

    PCALL_MAX_COMBOS = 1000

    def _call_per_row(self, cl: A.CallProc, fn) -> None:
        """CALL with frame-dependent arguments: evaluate the argument
        expressions per row, run the procedure once per DISTINCT value
        combination (driver loop, fenced at PCALL_MAX_COMBOS — procedures
        are Python callables, so per-combination invocation is inherent),
        and join each yield stream back on its argument values."""
        if self.df is None:
            raise CompileError(
                "CALL arguments reference variables, but none are in scope")
        # yield_mode "none" is legal only for VOID procedures (reference
        # update() returns one empty mgp.Record per call — pipeline
        # cardinality preserved). Reject declared-non-void procedures
        # BEFORE any invocation (a per-combo run would execute side
        # effects first); undeclared ones are checked on the first combo
        # in _per_combo_call, and again on the built stream below.
        if cl.yield_mode == "none":
            from memgraph_spark.procedures import SIGNATURES
            sig = SIGNATURES.get(cl.name.lower())
            if sig is not None and not sig.get("void", False):
                raise CompileError(
                    f"CALL {cl.name} inside a query must YIELD its outputs")
        tags = [f"__ca{i}" for i in range(len(cl.args))]
        tagged = self.df.select(
            "*", *[compile_expr(self._lift(a), self._env()).alias(t)
                   for a, t in zip(cl.args, tags)])
        tag_types = {t: tagged.schema[t].dataType for t in tags}
        stream = self._vectorized_call(cl, tagged, tags, tag_types)
        if stream is None:
            stream = self._per_combo_call(cl, fn, tagged, tags, tag_types)
        out_cols = [c for c in stream.columns if not c.startswith("__cb")]
        if cl.yield_mode == "none":
            if out_cols:
                raise CompileError(
                    f"CALL {cl.name} inside a query must YIELD its outputs")
            # void procedure: keep only the join keys — one empty record
            # per combo preserves the frame's cardinality
            stream = stream.select(
                *[c for c in stream.columns if c.startswith("__cb")])
        elif cl.yield_mode == "dash":
            stream = stream.select(
                *[c for c in stream.columns if c.startswith("__cb")])
        elif cl.yield_mode == "list":
            # validates the yield names + binds their symbols
            self._yield_select(cl, stream.select(*out_cols))
            stream = stream.select(
                *[c for c in stream.columns if c.startswith("__cb")],
                *[F.col(col).alias(alias or col)
                  for col, alias in cl.yields])
        else:  # star
            for col in out_cols:
                if col in self.symbols:
                    raise CompileError(
                        f"VariableAlreadyBound: YIELD * output {col!r} "
                        "shadows a bound variable")
                self.symbols[col] = "value"
        # name-based condition: the vectorized stream shares lineage with
        # `tagged` (a self-join), where frame-qualified columns (tagged[t])
        # can misresolve to one side; __ca*/__cb* names are unique across
        # the two inputs, so unqualified F.col resolves each correctly
        cond = None
        for i, t in enumerate(tags):
            c = F.col(t).eqNullSafe(F.col(f"__cb{i}"))
            cond = c if cond is None else cond & c
        joined = tagged.join(stream, cond, "inner")
        drop = tags + [f"__cb{i}" for i in range(len(tags))]
        self.df = joined.drop(*drop)
        if "__once" in self.df.columns:
            self.df = self.df.drop("__once")
        if cl.where is not None:
            self.df = self.df.filter(compile_expr(cl.where, self._env()))

    def _vectorized_call(self, cl: A.CallProc, tagged: DataFrame,
                         tags: list[str], tag_types: dict):
        """Join-compiled path for hot built-ins whose semantics are pure
        graph lookups (neighbors.at_hop/by_hop, node.relationship_types/
        exists, label.exists): the distinct argument frame stays
        DISTRIBUTED — no collect, no PCALL_MAX_COMBOS fence. The reference
        runs CALL per pulled row natively (operator.cpp:8130); for these
        built-ins the per-row semantics compile to joins instead of a
        fenced driver loop. Returns the keyed yield stream (columns
        __cb0.. + yields) or None when the procedure is opaque or the
        handler declines."""
        from memgraph_spark.procedures import VECTORIZED, NotVectorizable
        vec = VECTORIZED.get(cl.name.lower())
        if vec is None:
            return None
        keys = tagged.select(
            *[F.col(t).alias(f"k{i}") for i, t in enumerate(tags)]
        ).dropDuplicates()
        try:
            out = vec(self.g, keys)
        except NotVectorizable:
            return None
        kcols = [f"k{i}" for i in range(len(tags))]
        return out.select(
            *[F.col(k).cast(tag_types[t]).alias(f"__cb{i}")
              for i, (k, t) in enumerate(zip(kcols, tags))],
            *[c for c in out.columns if c not in kcols])

    def _per_combo_call(self, cl: A.CallProc, fn, tagged: DataFrame,
                        tags: list[str], tag_types: dict) -> DataFrame:
        """Fallback for opaque Python procedures: run once per DISTINCT
        argument combination (driver loop, fenced at PCALL_MAX_COMBOS)."""
        from memgraph_spark.procedures import _pyval
        combos = tagged.select(*tags).dropDuplicates().collect()
        if len(combos) > self.PCALL_MAX_COMBOS:
            raise CompileError(
                f"CALL {cl.name} with row-dependent arguments exceeds "
                f"{self.PCALL_MAX_COMBOS} distinct argument combinations; "
                "pre-aggregate the arguments or pass literals/parameters")
        pieces = []
        for row in combos:
            # decode variant/node-struct Rows to the Python values the
            # procedure expects; the join-back key keeps the ORIGINAL
            # typed value via a structured literal
            res = fn(self.g, *[_pyval(v) for v in row])
            if cl.yield_mode == "none" and res.columns and not pieces:
                # first combo proved the procedure non-void: stop before
                # executing the remaining combos' side effects
                raise CompileError(
                    f"CALL {cl.name} inside a query must YIELD its outputs")
            if not res.columns:
                # VOID procedure: one empty record per invocation
                # (mgp.Record() semantics) — a 0-row keyed stream would
                # annihilate the frame rows carrying this combo
                res = self.g.spark.range(1).select()
            keyed = res.select(
                *[_typed_lit(row[i], tag_types[t]).alias(f"__cb{i}")
                  for i, t in enumerate(tags)],
                *res.columns)
            pieces.append(keyed)
        if not pieces:
            # Empty frame: no argument combos to invoke. Probing with None
            # args breaks procedures that coerce (int(top_k) etc.), so try
            # the probe but fall back to synthesizing a zero-row stream
            # from the YIELD list with null-typed columns.
            res = None
            try:
                res = fn(self.g, *[None] * len(cl.args))
            except Exception:
                if cl.yield_mode == "list":
                    res = empty_frame(self.g.spark, T.StructType(
                        [T.StructField(col, T.NullType())
                         for col, _a in cl.yields]))
                elif cl.yield_mode == "dash":
                    res = empty_frame(self.g.spark, T.StructType([]))
                else:
                    raise CompileError(
                        f"CALL {cl.name} over an empty frame with YIELD *: "
                        "cannot derive the output schema (the procedure "
                        "rejects a null-argument probe); use an explicit "
                        "YIELD list")
            keyed = res.select(
                *[F.lit(None).cast(tag_types[t]).alias(f"__cb{i}")
                  for i, t in enumerate(tags)],
                *res.columns).limit(0)
            pieces = [keyed]
        stream = pieces[0]
        for p in pieces[1:]:
            stream = stream.unionByName(p)
        return stream

    def _load(self, cl: A.LoadFile) -> None:
        """LoadCsv/LoadParquet/LoadJsonl (operator.hpp:2935-3000): file rows
        become a struct-valued symbol; property access is struct access."""
        if not isinstance(cl.path, A.Literal):
            raise CompileError("LOAD path must be a string literal")
        path = cl.path.value
        spark = self.g.spark
        if cl.kind == "csv":
            reader = spark.read.option("header", str(cl.header).lower()) \
                .option("inferSchema", "true")
            if cl.delimiter:
                reader = reader.option("sep", cl.delimiter)
            if cl.quote:
                reader = reader.option("quote", cl.quote)
            if cl.nullif is not None:
                reader = reader.option("nullValue", cl.nullif)
            df = reader.csv(path)
        elif cl.kind == "parquet":
            df = spark.read.parquet(path)
        else:
            df = spark.read.json(path)
        loaded = df.select(F.struct(*df.columns).alias(cl.var))
        self.df = loaded if self.df is None else self.df.crossJoin(loaded)
        self.symbols[cl.var] = "value"

    # -- RollUpApply: pattern comprehensions ----------------------------------
    def _lift(self, e: A.Expr, lambda_bound: frozenset = frozenset()) \
            -> A.Expr:
        """Replace PatternComprehension nodes inside an expression tree with
        precomputed list columns (RollUpApply, operator.cpp:9208: per anchor
        binding, collect the projections over all pattern matches)."""
        import dataclasses
        if isinstance(e, A.PatternComprehension):
            lam = sorted(self._pattern_syms([e.pattern]) & lambda_bound)
            if lam:
                # comprehension anchored on an enclosing lambda variable
                # ([x IN nodes(p) | size([(x)-->(:Y) | 1])]): roll up a
                # global per-anchor lookup map once and subscript it
                return self._roll_up_keyed(e, lam[0])
            return self._roll_up(e)
        # DEGREE/INDEGREE/OUTDEGREE(n) (awesome functions Degree family):
        # the incident-edge count is exactly a pattern-comprehension length
        if (isinstance(e, A.FuncCall)
                and e.name.lower() in ("degree", "indegree", "outdegree")
                and e.args and isinstance(e.args[0], A.Literal)
                and e.args[0].value is None):
            return A.Literal(None)
        if (isinstance(e, A.FuncCall)
                and e.name.lower() in ("degree", "indegree", "outdegree")
                and e.args and isinstance(e.args[0], A.Var)
                and self.symbols.get(e.args[0].name) == "node"):
            direction = {"degree": "both", "indegree": "in",
                         "outdegree": "out"}[e.name.lower()]
            pat = A.PatternPart(None, A.NodePattern(e.args[0].name, []),
                                [(A.RelPattern(None, [], direction),
                                  A.NodePattern(None, []))])
            lst = self._roll_up(
                A.PatternComprehension(pat, None, A.Literal(1)))
            return A.FuncCall("size", [lst])
        # startNode/endNode over an edge VALUE (path-detail element, list
        # element, collected edge): the edge struct carries only the raw
        # endpoint id, so property access resolves through a broadcast
        # id -> property map over the node tables (same broadcast caveat
        # as the keyed roll-up; stackoverflow_answers/wsp.feature)
        if isinstance(e, A.Property) and isinstance(e.subject, A.FuncCall) \
                and e.subject.name.lower() in ("startnode", "endnode") \
                and e.subject.args:
            a0 = e.subject.args[0]
            if not (isinstance(a0, A.Var)
                    and self.symbols.get(a0.name) == "rel"):
                call = dataclasses.replace(
                    e.subject,
                    args=[self._lift(x, lambda_bound)
                          for x in e.subject.args])
                return A.Subscript(A.Var(self._node_prop_map(e.key)), call)
        if isinstance(e, A.PatternPredicate) or not dataclasses.is_dataclass(e):
            return e
        lb = lambda_bound
        if isinstance(e, A.ListComprehension):
            # only lambda vars that range over graph elements key a
            # roll-up; vars over scalar lists (quantifier comprehensions)
            # keep the anchored/unanchored paths. Graph-element sources:
            # nodes(p)/relationships(p), and list literals holding bound
            # node/rel symbols ([a, b] — previously missed, which silently
            # compiled inner pattern comprehensions as UNanchored globals)
            src = e.source
            graphy = (isinstance(src, A.FuncCall)
                      and src.name.lower() in ("nodes", "relationships")) \
                or (isinstance(src, A.ListLiteral)
                    and any(isinstance(x, A.Var)
                            and self.symbols.get(x.name) in ("node", "rel")
                            for x in src.items))
            if graphy:
                lb = lb | {e.var}
        changes = {}
        for f in dataclasses.fields(e):
            v = getattr(e, f.name)
            if isinstance(v, A.Expr):
                nv = self._lift(v, lb)
                if nv is not v:
                    changes[f.name] = nv
            elif isinstance(v, list) and v and isinstance(v[0], A.Expr):
                changes[f.name] = [self._lift(x, lb) for x in v]
            elif (isinstance(v, list) and v and isinstance(v[0], tuple)):
                # CaseExpr whens, MapProjection items: lift Expr elements
                changes[f.name] = [
                    tuple(self._lift(x, lb) if isinstance(x, A.Expr) else x
                          for x in tup)
                    for tup in v]
            elif isinstance(v, dict):
                changes[f.name] = {
                    k: (self._lift(x, lb) if isinstance(x, A.Expr) else x)
                    for k, x in v.items()}
        return dataclasses.replace(e, **changes) if changes else e

    def _node_prop_map(self, key: str) -> str:
        """Inject (once per property) a PER-ROW node-id -> property map
        column used to dereference endpoints of edge VALUES (startNode(e).x
        where e is a list element, not a bound rel symbol).

        Scale shape: the map is restricted to the endpoint ids actually
        present in the row's edge-typed columns — extract them with a
        schema walk, key rows by xxhash64 of the (sorted-distinct) id
        array, explode -> equi-join the node table -> rebuild one small map
        per distinct id-set, left-join back. Every step is a distributed
        hash join/agg; nothing collects the node table to one row or
        broadcasts the whole graph (the previous implementation did, which
        is a driver/executor OOM at 100 TB). Hash collisions are harmless:
        colliding rows share a map that is a superset of each row's needed
        keys, and lookups only ever use the row's own endpoint ids."""
        cache = getattr(self, "_npm_cache", {})
        if key in cache:
            return cache[key]
        pc = A.prop_col(key)
        out = self._anon_sym("npm")
        base = self._seed() if self.df is None else self.df
        id_arrays = [e for f in base.schema.fields
                     if (e := _endpoint_ids_expr(f.dataType, F.col(f.name)))
                     is not None]
        nodes = self.g.all_nodes([pc]).select(
            F.col("id").alias("__k"), F.col(pc).alias("__v"))
        self.df = self._per_row_map(base, id_arrays, nodes, out)
        self.symbols[out] = "value"
        cache[key] = out
        self._npm_cache = cache
        return out

    def _per_row_map(self, base: DataFrame, id_arrays: list,
                     values: DataFrame, out: str,
                     default=None) -> DataFrame:
        """Attach a PER-ROW (id -> value) map column `out` to `base`:
        `id_arrays` are array<bigint> columns naming the ids each row may
        look up; `values` is an (__k, __v) frame. Rows are keyed by a hash
        of their distinct id set, the keys explode into an equi-join
        against `values`, and one small map is rebuilt per distinct id set
        and left-joined back — every step a distributed hash join/agg,
        nothing collects `values` whole or broadcasts it. Hash collisions
        merge id sets into a superset map, which lookups cannot observe.
        `default` (a Column) substitutes for ids missing from `values`;
        None drops them (lookup yields null)."""
        if not id_arrays:
            empty = F.map_from_entries(
                F.array().cast(T.ArrayType(T.StructType([
                    T.StructField("__k", T.LongType()),
                    T.StructField("__v", values.schema["__v"].dataType)]))))
            return base.withColumn(out, empty)
        ids = F.array_sort(F.array_distinct(F.filter(
            F.flatten(F.array(*[
                F.coalesce(a, F.array().cast(_EMPTY_IDS))
                for a in id_arrays])),
            lambda x: x.isNotNull())))
        rid = f"__{out}_rid"
        tagged = (base.withColumn(f"__{out}_ids", ids)
                  .withColumn(rid, F.xxhash64(F.col(f"__{out}_ids"))))
        needed = (tagged.select(rid, F.explode(f"__{out}_ids").alias("__k"))
                  .dropDuplicates([rid, "__k"]))
        if default is None:
            needed = needed.join(values, "__k")
        else:
            needed = (needed.join(values, "__k", "left")
                      .withColumn("__v", F.coalesce(F.col("__v"), default)))
        permap = needed.groupBy(rid).agg(F.map_from_entries(
            F.collect_list(F.struct("__k", "__v"))).alias(out))
        return tagged.join(permap, rid, "left").drop(rid, f"__{out}_ids")

    @staticmethod
    def _scan_order(df: DataFrame) -> DataFrame:
        """Within-partition sort by graph id columns: comprehension /
        collect element order follows creation (storage scan) order like
        the reference's pull order (list_operations.feature pattern-
        comprehension scenarios). No shuffle."""
        ids = ([c for c in df.columns if c.endswith("_eid")]
               + [c for c in df.columns if c.endswith("_id")])
        return df.sortWithinPartitions(*ids) if ids else df

    def _roll_up_keyed(self, pc: A.PatternComprehension, var: str) -> A.Expr:
        """RollUpApply keyed by a lambda variable: compute the per-anchor
        lists, attach them as a PER-ROW lookup map restricted to the node
        ids actually present in the row (node structs, edge endpoints, and
        bound node symbols — the only places a lambda node value can come
        from), and rewrite the comprehension to lookup[id(var)]. Same
        distributed explode-join-rebuild shape as _node_prop_map; no
        whole-graph broadcast."""
        import dataclasses as _dc
        fresh = self._anon_sym("pk")

        def ren(np):
            return _dc.replace(np, var=fresh) if np.var == var else np
        pat = A.PatternPart(pc.pattern.var, ren(pc.pattern.start),
                            [(r, ren(n)) for r, n in pc.pattern.chain])
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"rk{self._anon}_")
        self._anon += 1
        _apply_edge_uniqueness(sub, sub._pattern_part(pat))
        mapping = {var: fresh}
        if pc.where is not None:
            sub._where(A.rename_vars(pc.where, mapping))
        proj = compile_expr(
            sub._lift(A.rename_vars(pc.projection, mapping)), sub._env())
        rolled = (self._scan_order(sub.df)
                  .select(F.col(f"{fresh}_id").alias("__k"),
                          proj.alias("__p"))
                  .groupBy("__k").agg(F.collect_list("__p").alias("__v")))
        empty = F.array().cast(rolled.schema["__v"].dataType)
        out = self._anon_sym("pcm")
        base = self._seed() if self.df is None else self.df
        id_arrays = []
        for f in base.schema.fields:
            for walker in (_node_ids_expr, _endpoint_ids_expr):
                e = walker(f.dataType, F.col(f.name))
                if e is not None:
                    id_arrays.append(e)
        for sym, kind in self.symbols.items():
            if kind == "node" and f"{sym}_id" in base.columns:
                id_arrays.append(F.array(F.col(f"{sym}_id")))
        # anchors with a row-present id but no pattern match get the empty
        # list (the old whole-graph frame's coalesce, per row instead)
        self.df = self._per_row_map(base, id_arrays, rolled, out,
                                    default=empty)
        self.symbols[out] = "value"
        return A.Subscript(A.Var(out), A.FuncCall("id", [A.Var(var)]))

    def _roll_up(self, pc: A.PatternComprehension) -> A.Expr:
        ren = getattr(self, "_lift_renames", None) or {}
        shared = sorted(s for s in self._pattern_syms([pc.pattern])
                        if s in self.symbols)
        # symbol_generator parity: a comprehension may not reuse a bound
        # relationship variable, and a variable-length comprehension may
        # not traverse from a node its own query part created
        var_length = False
        for rel, _np in getattr(pc.pattern, "chain", []):
            if rel.var is not None and self.symbols.get(rel.var) == "rel":
                raise CompileError(
                    f"relationship variable {rel.var!r} is already bound")
            if rel.var_length or rel.lo is not None or rel.hi is not None \
                    or rel.mode is not None:
                var_length = True
        if var_length:
            created = getattr(self, "created_syms", set())
            for s in shared:
                if s in created:
                    raise CompileError(
                        "variable-length pattern comprehension over a "
                        f"node created in this query part ({s!r})")
        node_shared = [s for s in shared if self.symbols[s] == "node"]
        keys = [f"{s}_id" for s in node_shared]
        # free value variables (e.g. a FOREACH loop variable) anchor the
        # roll-up per distinct value
        refs = []
        if pc.where is not None:
            refs += list(A.walk(pc.where))
        if pc.projection is not None:
            refs += list(A.walk(pc.projection))
        pat_syms = set(self._pattern_syms([pc.pattern]))
        val_keys = sorted({n.name for n in refs
                           if isinstance(n, A.Var)
                           and n.name not in pat_syms
                           and self.symbols.get(n.name) == "value"
                           and self.df is not None
                           and n.name in self.df.columns})
        keys = keys + val_keys
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"rc{self._anon}_")
        self._anon += 1
        out = self._anon_sym("pc")
        if keys:
            anchor_cols = []
            for s in shared:
                src = ren.get(s, s)
                for c in self.df.columns:
                    if c == src or c.startswith(f"{src}_"):
                        tgt = s if c == src else f"{s}_{c[len(src) + 1:]}"
                        anchor_cols.append(F.col(c).alias(tgt))
            anchor_cols += [F.col(v) for v in val_keys]
            sub.df = self.df.select(*anchor_cols).dropDuplicates(keys)
            sub.symbols = {s: self.symbols[s] for s in shared} | {
                v: "value" for v in val_keys}
        _apply_edge_uniqueness(sub, sub._pattern_part(pc.pattern))
        if pc.where is not None:
            sub._where(pc.where)
        proj = compile_expr(sub._lift(pc.projection), sub._env())
        if keys:
            from memgraph_spark.operators.aggregate import rollup_collect
            rolled = rollup_collect(
                self.g,
                self._scan_order(sub.df).select(*keys,
                                                proj.alias("__proj")),
                keys, "__proj", out)
            if all(ren.get(s, s) == s for s in node_shared):
                self.df = self.df.join(rolled, on=keys, how="left")
            else:
                # frame still carries the source columns (p_id) while the
                # comprehension anchors on the alias (q_id): condition join
                cond = None
                for s in node_shared:
                    e = (self.df[f"{ren.get(s, s)}_id"]
                         == rolled[f"{s}_id"])
                    cond = e if cond is None else cond & e
                for v in val_keys:
                    e = self.df[v].eqNullSafe(rolled[v])
                    cond = e if cond is None else cond & e
                self.df = self.df.join(rolled, cond, "left")
                for s in node_shared:
                    self.df = self.df.drop(rolled[f"{s}_id"])
                for v in val_keys:
                    self.df = self.df.drop(rolled[v])
        else:
            # unanchored comprehension: one global list, cross-joined in
            rolled = (self._scan_order(sub.df)
                      .select(proj.alias("__proj"))
                      .agg(F.collect_list("__proj").alias(out)))
            if self.df is None:
                self.df = self._seed()
            self.df = self.df.crossJoin(F.broadcast(rolled))
        self.df = self.df.withColumn(out, F.coalesce(F.col(out), F.array()))
        self.symbols[out] = "value"
        return A.Var(out)

    # -- FOREACH / CALL {} -----------------------------------------------------
    def _foreach(self, cl: A.Foreach) -> None:
        """Foreach (operator.cpp:8770): run update clauses once per list
        element; the outer frame is unchanged."""
        if self.df is None:
            self.df = self._seed()
        sub = QueryCompiler(self.g, self.params, hops=self.hops,
                            anon_prefix=f"fe{self._anon}_")
        self._anon += 1
        sub.counters = self.counters
        sub.deleted = self.deleted
        src = compile_expr(self._lift(cl.source), self._env())
        st = self._env().typeof(src)
        if st is None or isinstance(st, T.NullType):
            return  # FOREACH over null is a no-op
        sub.df = self.df.withColumn(cl.var, F.explode(src))
        kind = "value"
        et = st.elementType if isinstance(st, T.ArrayType) else None
        if isinstance(et, T.StructType) and "id" in et.names \
                and "labels" in et.names:
            kind = "node"   # node values (e.g. nodes(p)) re-bind as symbols
        elif isinstance(et, T.StructType) and "eid" in et.names:
            kind = "rel"
        if kind != "value":
            for f_ in et.names:
                sub.df = sub.df.withColumn(f"{cl.var}_{f_}",
                                           F.col(f"{cl.var}.{f_}"))
            sub.df = sub.df.drop(cl.var)
        sub.symbols = dict(self.symbols) | {cl.var: kind}
        wrote = False
        for upd in cl.updates:
            if isinstance(upd, A.SetClause):
                sub._set(upd.items)
                wrote = True
            elif isinstance(upd, A.RemoveClause):
                sub._remove(upd)
                wrote = True
            elif isinstance(upd, A.Create):
                sub._create(upd)
            elif isinstance(upd, A.Merge):
                sub._merge(upd)
            elif isinstance(upd, A.Delete):
                sub._delete(upd)
                wrote = True
            elif isinstance(upd, A.Foreach):
                sub._foreach(upd)
                wrote = True
            else:
                raise CompileError(
                    f"FOREACH cannot contain {type(upd).__name__}")
        if wrote:
            # the outer frame's bound node columns were captured before
            # the per-element updates — re-read them from the updated
            # tables so a following RETURN n.prop sees the writes
            self._refresh_bound_nodes()

    def _refresh_bound_nodes(self) -> None:
        if self.df is None:
            return
        self._all_props_cache = None  # the writes may have added properties
        for s, kind in list(self.symbols.items()):
            if kind != "node" or f"{s}_id" not in self.df.columns:
                continue
            p = prefix_columns(self._node_df([]), s)
            stale = [c for c in self.df.columns
                     if c.startswith(f"{s}_") and c != f"{s}_id"
                     and c in p.columns]
            fresh_cols = [c for c in p.columns
                          if c != f"{s}_id"
                          and (c in stale or c not in self.df.columns)]
            if not fresh_cols:
                continue
            self.df = self.df.drop(*stale).join(
                p.select(f"{s}_id", *fresh_cols), on=f"{s}_id", how="left")

    def _call_subquery(self, cl: A.CallSubquery) -> None:
        """Apply (operator.hpp:3061): CALL { [WITH imports] ... RETURN ... }.
        Correlated subqueries anchor on the imported symbols' distinct rows
        and join back — decorrelation by construction, no per-row re-run."""
        def part_clauses(part: A.SingleQuery,
                         scope: list | None) -> tuple[list, list[str]]:
            clauses = list(part.clauses)
            if scope is not None:
                imports = (sorted(self.symbols) if scope == ["*"]
                           else list(scope))
                return clauses, imports
            if (clauses and isinstance(clauses[0], A.With)
                    and not clauses[0].star
                    and all(isinstance(it.expr, A.Var) and it.alias is None
                            for it in clauses[0].items)):
                return clauses[1:], [it.expr.name
                                     for it in clauses[0].items]
            return clauses, []

        def run_part(part: A.SingleQuery, row_tag: str | None = None):
            clauses, imports = part_clauses(part, cl.scope)
            if len(imports) != len(set(imports)):
                raise CompileError(
                    "duplicate variable in CALL () import scope")
            unknown = [s for s in imports if s not in self.symbols]
            if unknown:
                raise CompileError(
                    f"CALL {{}} imports unbound {unknown}")
            # imported symbols stay visible through the subquery's own
            # WITH projections (subqueries.feature: WITH … then SET on the
            # imported node), mirroring the EXISTS-subquery scoping
            fixed = []
            for c in clauses:
                if isinstance(c, A.With) and not c.star \
                        and (imports or row_tag):
                    names = {it.alias or it.text for it in c.items}
                    carry = [A.ReturnItem(A.Var(s), None, s)
                             for s in imports if s not in names]
                    if row_tag is not None and row_tag not in names:
                        carry.append(A.ReturnItem(A.Var(row_tag), None,
                                                  row_tag))
                    c = A.With(list(c.items) + carry,
                               c.star, c.distinct, c.order, c.skip,
                               c.limit, c.where)
                fixed.append(c)
            clauses = fixed
            sub = QueryCompiler(self.g, self.params, hops=self.hops,
                                anon_prefix=f"cs{self._anon}_")
            self._anon += 1
            sub.counters = self.counters
            keys: list[str] = []
            if (imports or row_tag) and self.df is not None:
                keys = [f"{s}_id" for s in imports
                        if self.symbols[s] == "node"] or \
                       [s for s in imports if self.symbols[s] == "value"]
                anchor_cols = [c for c in self.df.columns
                               if any(c == s or c.startswith(f"{s}_")
                                      for s in imports)]
                if row_tag is not None:
                    # sequential mode: one outer row per run — the row tag
                    # is the only anchor key needed
                    anchor_cols.append(row_tag)
                    keys = [row_tag]
                sub.df = self.df.select(*anchor_cols).dropDuplicates(keys)
                sub.symbols = {s: self.symbols[s] for s in imports}
                if row_tag is not None:
                    sub.symbols[row_tag] = "value"
            returned = False
            for c in clauses:
                if isinstance(c, A.Return):
                    # RETURN inside CALL {}: every non-variable expression
                    # must carry an alias, and the exported name must be
                    # fresh in the outer scope (symbol_generator.cpp
                    # subquery rules)
                    items = list(c.items)
                    if not c.star:
                        for it in items:
                            if it.alias is None \
                                    and not isinstance(it.expr, A.Var):
                                raise CompileError(
                                    "expression in CALL {} RETURN must be "
                                    "aliased")
                            out_name = it.alias or (
                                it.expr.name
                                if isinstance(it.expr, A.Var) else it.text)
                            if out_name in self.symbols \
                                    and out_name not in imports:
                                raise CompileError(
                                    f"variable `{out_name}` already "
                                    f"declared in outer scope")
                    # keep frame form: compile RETURN as WITH so the outer
                    # query can keep operating on the columns; carry the
                    # imported symbols so a correlated aggregate groups per
                    # anchor row
                    names = {it.alias or it.text for it in items}
                    items = [A.ReturnItem(A.Var(s), None, s)
                             for s in imports
                             if s in sub.symbols and s not in names] + \
                            ([A.ReturnItem(A.Var(row_tag), None, row_tag)]
                             if row_tag is not None else []) + items
                    if keys and any(
                            isinstance(n, A.FuncCall)
                            and n.name.lower() == "collect"
                            for it in c.items for n in A.walk(it.expr)):
                        # collect() inside a correlated subquery streams
                        # rows in the reference's scan (id) order — pin it:
                        # one partition per anchor group, id-sorted within
                        sort_cols = [c_ for c_ in sub.df.columns
                                     if c_.endswith("_id")]
                        if sort_cols:
                            sub.df = (sub.df.repartition(*keys)
                                      .sortWithinPartitions(*sort_cols))
                    sub._project(A.With(items, c.star, c.distinct, c.order,
                                        c.skip, c.limit, None),
                                 is_return=False)
                    if c.order:
                        # keep the subquery's row order observable: a rank
                        # column lets the caller re-sort within anchor
                        # groups so a downstream collect() preserves it
                        # (monotonically_increasing_id is monotone with the
                        # just-applied global sort)
                        sub.df = sub.df.withColumn(
                            "__sq_ord", F.monotonically_increasing_id())
                    returned = True
                else:
                    sub.compile_clause(c)
            if sub.wrote:
                self.wrote = True
            return sub, keys, returned

        def subquery_writes() -> bool:
            for part in [cl.query, *cl.extra_parts]:
                for c in part.clauses:
                    if isinstance(c, (A.Create, A.Merge, A.Delete,
                                      A.SetClause, A.RemoveClause,
                                      A.Foreach)):
                        return True
            return False

        SEQ_SUBQUERY_MAX = 1000
        seq = subquery_writes() and self.df is not None
        if seq:
            # Apply semantics (operator.hpp:3061): a subquery with writes
            # (or stateful counter()) runs once per outer row, each run
            # seeing the previous runs' effects. Inherently sequential —
            # fenced; at scale, write-subqueries batch through the normal
            # decorrelated path when per-row visibility isn't required.
            tagged = self.df.withColumn(
                "__cs_row", F.monotonically_increasing_id()) \
                .localCheckpoint(eager=True)
            rids = [r[0] for r in tagged.select("__cs_row").collect()]
            if len(rids) > SEQ_SUBQUERY_MAX:
                raise CompileError(
                    f"write subquery over {len(rids)} rows exceeds the "
                    f"sequential-apply fence ({SEQ_SUBQUERY_MAX})")
            if len(rids) <= 1:
                seq = False
                self.df = tagged.drop("__cs_row")
            else:
                pieces, sub_syms, returned = [], {}, False
                wrote_any = False
                saved = self.df
                for rid in rids:
                    self.df = tagged.filter(F.col("__cs_row") == rid)
                    sub, _, ret = run_part(cl.query, row_tag="__cs_row")
                    for extra in cl.extra_parts:
                        sub2, _, ret2 = run_part(extra,
                                                 row_tag="__cs_row")
                        if ret and ret2:
                            sub.df = sub.df.unionByName(
                                sub2.df.select(*sub.df.columns))
                        ret = ret or ret2
                    wrote_any = wrote_any or sub.wrote or bool(
                        self.counters.get("properties_set"))
                    if ret:
                        returned = True
                        pieces.append(sub.df.localCheckpoint(eager=True))
                        sub_syms = sub.symbols
                self.df = saved
                self._all_props_cache = None
                if returned:
                    branch = pieces[0].drop("__sq_ord")
                    for p in pieces[1:]:
                        branch = branch.unionByName(
                            p.drop("__sq_ord").select(*branch.columns))
                    drop = [c for c in branch.columns
                            if c != "__cs_row" and c in tagged.columns]
                    self.df = tagged.join(branch.drop(*drop),
                                          on="__cs_row", how="inner")
                else:
                    self.df = tagged
                self._refresh_bound_nodes()
                self.df = self.df.drop("__cs_row")
                for s, k in sub_syms.items():
                    if s not in self.symbols and s != "__cs_row":
                        self.symbols[s] = k
                return
        sub, keys, returned = run_part(cl.query)
        for extra in cl.extra_parts:
            sub2, _, ret2 = run_part(extra)
            if returned and ret2:
                sub.df = sub.df.unionByName(
                    sub2.df.select(*sub.df.columns))
            returned = returned or ret2
        if cl.extra_parts and returned and not all(cl.alls):
            sub.df = sub.df.dropDuplicates()
        if sub.wrote or subquery_writes():
            # a write subquery ran: bound node columns captured before it
            # are stale (CALL (*) { SET … } then RETURN p.prop)
            self._all_props_cache = None
            self._refresh_bound_nodes()
        if not returned:
            return  # unit subquery (writes only): frame unchanged
        branch = sub.df
        if keys:
            drop = [c for c in branch.columns
                    if c not in keys and c in self.df.columns]
            branch = branch.drop(*drop) if drop else branch
            self.df = self.df.join(branch, on=keys, how="inner")
            if "__sq_ord" in self.df.columns:
                # co-locate each anchor group and restore the subquery's
                # ORDER BY within it, so collect_list aggregation sees the
                # rows in that order (the reference's Apply streams them
                # ordered); partial aggregation preserves partition order
                self.df = (self.df.repartition(*keys)
                           .sortWithinPartitions(*keys, "__sq_ord")
                           .drop("__sq_ord"))
        else:
            if "__sq_ord" in branch.columns:
                branch = branch.orderBy("__sq_ord").drop("__sq_ord")
            self.df = (branch if self.df is None
                       else self.df.crossJoin(branch))
        for s, k in sub.symbols.items():
            if s not in self.symbols:
                self.symbols[s] = k
        self.rel_ends.update(getattr(sub, "rel_ends", {}))

    # -- UNWIND ---------------------------------------------------------------
    def _unwind(self, cl: A.Unwind) -> None:
        if self.df is None:
            self.df = self._seed()
        col = compile_expr(self._lift(cl.expr), self._env())
        t = self._env().typeof(col)
        if t is None or isinstance(t, T.NullType):
            # UNWIND null produces zero rows (UnwindAcceptance)
            self.df = self.df.withColumn(cl.var, F.lit(None)).limit(0)
            self.symbols[cl.var] = "value"
            return
        self.df = self.df.withColumn(cl.var, F.explode(col))
        if "__once" in self.df.columns:
            self.df = self.df.drop("__once")
        et = t.elementType if isinstance(t, T.ArrayType) else None
        if isinstance(et, T.StructType) and (
                ({"id", "labels"} <= set(et.names))
                or "eid" in et.names):
            # node/rel elements (UNWIND collect(n) / nodes(p)) re-bind as
            # full symbols so later patterns can use them
            # (UnwindAcceptance "does not remove variables from scope")
            kind = "node" if "labels" in et.names else "rel"
            for f_ in et.names:
                self.df = self.df.withColumn(f"{cl.var}_{f_}",
                                             F.col(f"{cl.var}.{f_}"))
            self.df = self.df.drop(cl.var)
            self.symbols[cl.var] = kind
            return
        self.symbols[cl.var] = "value"

    # -- WITH / RETURN ---------------------------------------------------------
    def _check_deleted(self, *exprs) -> None:
        """Use-after-delete: RETURN touching a DELETEd symbol raises, like
        the reference's post-Accumulate serialization of a deleted object
        ('Trying to get properties from a deleted object', operator.cpp:5380).
        Writes on deleted objects are silent no-ops (deletion is buffered),
        so this check runs only for RETURN, not WITH/SET."""
        if not self.deleted:
            return
        import dataclasses as _dc
        META_FNS = {"type", "id", "count"}  # labels() still raises

        def hard_refs(x):
            # metadata accessors on deleted entities are fine (the
            # reference caches type/id/labels — ReturnAcceptance2 "Do not
            # fail when returning type of deleted relationships")
            if isinstance(x, A.FuncCall) and x.name.lower() in META_FNS:
                return
            if not _dc.is_dataclass(x):
                return
            if isinstance(x, A.Var):
                yield x
                return
            for f in _dc.fields(x):
                v = getattr(x, f.name)
                vs = (list(v.values()) if isinstance(v, dict)
                      else v if isinstance(v, (list, tuple)) else [v])
                for item in vs:
                    if isinstance(item, tuple):
                        for y in item:
                            yield from hard_refs(y)
                    else:
                        yield from hard_refs(item)
        for e in exprs:
            for node in hard_refs(e):
                if isinstance(node, A.Var) and node.name in self.deleted:
                    # DELETE of a null binding deletes nothing — returning
                    # the null is fine (NullAcceptance "Ignore null when
                    # deleting"); only actual deleted objects raise
                    sym = node.name
                    idc = (f"{sym}_id" if self.symbols.get(sym) == "node"
                           else f"{sym}_eid")
                    if self.df is not None and idc in self.df.columns \
                            and self.df.filter(
                                F.col(idc).isNotNull()).isEmpty():
                        continue
                    raise CompileError(
                        f"cannot return deleted object `{node.name}`")

    def _project(self, cl, is_return: bool) -> DataFrame:
        if self.df is None:
            self.df = self._seed()
        items = list(cl.items)
        if is_return:
            self._check_deleted(*[it.expr for it in items])
        if cl.star:
            visible = [s for s in sorted(self.symbols)
                       if not s.startswith("__")]
            if not visible and not items and is_return:
                # WITH * over an empty scope is a legal no-op
                # (CreateAcceptance "Combine MATCH, WITH and CREATE");
                # only RETURN * requires variables
                raise CompileError(
                    "RETURN * is not allowed when there are no variables "
                    "in scope")
            items = [A.ReturnItem(A.Var(s), None, s)
                     for s in visible] + items
        # RollUpApply pass: pattern comprehensions become list columns first
        if self.df is not None:
            items = [A.ReturnItem(self._lift(it.expr), it.alias, it.text)
                     for it in items]
        for it in items:
            for nd in A.walk(it.expr):
                if isinstance(nd, A.CaseExpr) and contains_aggregate(nd):
                    # symbol_generator.cpp: aggregations are not allowed
                    # inside CASE expressions
                    raise CompileError(
                        "aggregation inside CASE is not allowed")
                if isinstance(nd, A.ListComprehension) \
                        and (contains_aggregate(nd.projection)
                             if nd.projection is not None else False):
                    # InvalidAggregation (SemanticErrorAcceptance
                    # "aggregation in list comprehension")
                    raise CompileError(
                        "aggregation inside a list comprehension is "
                        "not allowed")

        # classify: carried graph symbols vs computed value columns
        outs: list[tuple[str, str, object]] = []  # (name, kind, sym|expr)
        for it in items:
            name = it.alias or it.text
            if (isinstance(it.expr, A.Var)
                    and self.symbols.get(it.expr.name) in ("node", "rel", "path")):
                outs.append((name, self.symbols[it.expr.name], it.expr.name))
            else:
                outs.append((name, "value", it.expr))

        if is_return:
            # output column -> symbol kind, for wire layers (Bolt) that must
            # encode nodes/rels/paths as typed structures without guessing
            # from field names (a user map {id:…, labels:…} is NOT a node)
            self.out_kinds = {name: kind for name, kind, _ in outs}
        has_agg = any(kind == "value" and contains_aggregate(e)
                      for _, kind, e in outs)
        if has_agg:
            df, new_syms = self._project_agg(outs)
        else:
            df, new_syms = self._project_plain(outs)

        where_consumed = False
        if cl.distinct:
            w = getattr(cl, "where", None)
            if w is not None:
                out_names = {name for name, _, _ in outs}
                refs = {n.name for n in A.walk(w) if isinstance(n, A.Var)}
                if refs - out_names:
                    # WHERE after WITH DISTINCT referencing pre-projection
                    # symbols filters BEFORE the dedup (WithAcceptance
                    # "WHERE on a DISTINCT column")
                    df = df.filter(compile_expr(
                        self._lift(w), Env(df, new_syms, self.params)))
                    where_consumed = True
            # DISTINCT is over the output columns only; ORDER BY afterwards
            # may legally only reference them (Cypher scoping rule)
            df = df.select(*[qcol(c) for c in self._keep_cols(outs, df)])
            df = df.dropDuplicates()
            new_syms = {}
            for name, kind, spec in outs:
                new_syms[name] = kind
                if kind in ("node", "rel", "path"):
                    new_syms[spec] = kind

        where = None if where_consumed else getattr(cl, "where", None)
        order = cl.order
        added_alias_cols: list[str] = []
        if where is not None or order:
            # WITH p AS q: its WHERE/ORDER BY may reference BOTH names
            # (scoping keeps the source visible until the scope switch) —
            # expose the alias's columns alongside the source's
            for _name, _kind, _spec in outs:
                if _kind in ("node", "rel", "path") \
                        and isinstance(_spec, str) and _spec != _name:
                    for c in list(df.columns):
                        if c == _spec or c.startswith(f"{_spec}_"):
                            tgt = (_name if c == _spec
                                   else f"{_name}_{c[len(_spec) + 1:]}")
                            if tgt not in df.columns:
                                df = df.withColumn(tgt, F.col(c))
                                added_alias_cols.append(tgt)
        if where is not None or order:
            # pattern comprehensions in WHERE / ORDER BY roll up against the
            # post-projection frame (RollUpApply above the Produce)
            import dataclasses as _dc
            saved_df, saved_syms = self.df, self.symbols
            self.df, self.symbols = df, dict(new_syms)
            # WITH renames (p AS q) are applied to the frame's columns only
            # at scope switch — record alias -> source so roll-ups can
            # resolve q's columns while the frame still carries p_*
            self._lift_renames = {
                name: spec for name, kind, spec in outs
                if kind in ("node", "rel", "path")
                and isinstance(spec, str) and spec != name}
            try:
                if where is not None:
                    where = self._lift(where)
                if order:
                    order = [_dc.replace(oi, expr=self._lift(oi.expr))
                             for oi in order]
            finally:
                self._lift_renames = {}
            df, new_syms = self.df, self.symbols
            self.df, self.symbols = saved_df, saved_syms
        if order:
            df = df.orderBy(*[
                (self._order_col(oi, df, new_syms, outs).asc_nulls_first()
                 if oi.ascending else
                 self._order_col(oi, df, new_syms, outs).desc_nulls_last())
                for oi in order])
            # a later collect() must preserve THIS order, not scan order
            self._frame_ordered = True
            # sorting consumes the whole input: any lazy hops refund is gone
            if self.hops is not None:
                self.hops.pop("lazy", None)
        if cl.skip is not None:
            df = df.offset(self._static_int(cl.skip, "SKIP"))
        if cl.limit is not None:
            k = self._static_int(cl.limit, "LIMIT")
            if k < 0:
                if isinstance(cl.limit, A.Param):
                    k = 0  # negative parameter LIMIT yields no rows
                else:
                    raise CompileError("LIMIT must not be negative")
            df = df.limit(k)
            # lazy hops accounting: LIMIT k only pulls k rows through the
            # expand, so retrievals beyond k never happen (hops_limit.hpp
            # counter semantics — getHopsCounter() == 50 after LIMIT 50)
            if self.hops is not None and self.hops.get("lazy") is not None:
                lazy = self.hops["lazy"]
                if cl.skip is None and k < lazy:
                    self.hops["used"] -= lazy - k
                self.hops.pop("lazy", None)
        if where is not None:
            # WITH … ORDER BY … LIMIT n WHERE pred: the predicate filters
            # AFTER the limit (openCypher WITH sub-clause order)
            df = df.filter(compile_expr(where, Env(df, new_syms,
                                                   self.params)))
        if added_alias_cols:
            df = df.drop(*added_alias_cols)

        if is_return:
            final = []
            for name, kind, spec in outs:
                if kind in ("node", "rel"):
                    cols = sorted(c for c in df.columns
                                  if c.startswith(f"{spec}_"))
                    st = F.struct(*[F.col(c).alias(c[len(spec) + 1:])
                                    for c in cols])
                    # an unmatched OPTIONAL symbol is null, not an empty
                    # entity (patterns.feature 'Optional match with
                    # expressions')
                    idc = (f"{spec}_id" if kind == "node"
                           else f"{spec}_eid")
                    if idc in df.columns:
                        st = F.when(F.col(idc).isNotNull(), st)
                    final.append(st.alias(name))
                elif kind == "path":
                    if f"{spec}_nodes" in df.columns:
                        # a failed OPTIONAL MATCH leaves the path null —
                        # not an empty path (OptionalMatchAcceptance)
                        final.append(
                            F.when(F.col(f"{spec}_nodes").isNotNull(),
                                   F.struct(
                                       F.col(f"{spec}_nodes").alias("nodes"),
                                       F.col(f"{spec}_rels").alias("rels"),
                                       F.col(f"{spec}_dirs").alias("dirs"),
                                   )).alias(name))
                    else:
                        final.append(F.col(f"{spec}_length").alias(name))
                else:
                    final.append(qcol(name))
            return df.select(*final)

        # WITH starts a new query part: the created-in-this-part symbol
        # set resets (variable-length comprehensions become legal again),
        # and MATCH becomes legal again after OPTIONAL MATCH
        self.created_syms = set()
        self._after_optional = False
        # WITH: the projected frame becomes the new scope
        keep: list[str] = []
        renames: dict[str, str] = {}
        self.symbols = {}
        for name, kind, spec in outs:
            if kind in ("node", "rel", "path"):
                for c in df.columns:
                    if c.startswith(f"{spec}_"):
                        keep.append(c)
                        if spec != name:
                            renames[c] = f"{name}_{c[len(spec) + 1:]}"
                self.symbols[name] = kind
            else:
                keep.append(name)
                self.symbols[name] = "value"
        # one atomic select built per output item: sequential
        # withColumnRenamed would collide on symbol swaps (WITH a AS b,
        # b AS tmp) and a dict drops duplicate sources (WITH n AS a,
        # n AS b — MergeRelationshipAcceptance aliasing)
        sel, seen = [], set()
        for name, kind, spec in outs:
            if kind in ("node", "rel", "path"):
                for c in df.columns:
                    if c == spec or c.startswith(f"{spec}_"):
                        tgt = (name if c == spec
                               else f"{name}_{c[len(spec) + 1:]}")
                        if tgt not in seen:
                            seen.add(tgt)
                            sel.append(qcol(c).alias(tgt))
            elif name not in seen:
                seen.add(name)
                sel.append(qcol(name))
        df = df.select(*sel)
        self.df = df
        return df

    def _keep_cols(self, outs, df: DataFrame) -> list[str]:
        keep: list[str] = []
        for name, kind, spec in outs:
            if kind in ("node", "rel", "path"):
                keep += [c for c in df.columns if c.startswith(f"{spec}_")]
            else:
                keep.append(name)
        return list(dict.fromkeys(keep))

    def _project_plain(self, outs) -> tuple[DataFrame, dict[str, str]]:
        """Computes output columns but keeps the full frame: ORDER BY after a
        non-DISTINCT projection may reference pre-projection expressions
        (pruning to the output scope happens at the final select)."""
        df = self.df
        for name, kind, spec in outs:
            if kind == "value":
                df = df.withColumn(name, compile_expr(spec, self._env(df)))
        new_syms: dict[str, str] = dict(self.symbols)
        for name, kind, spec in outs:
            new_syms[name] = kind
        return df, new_syms

    def _project_agg(self, outs) -> tuple[DataFrame, dict[str, str]]:
        """Aggregate (operator.cpp:6323): implicit grouping keys = the
        non-aggregated items; Spark partial/final hash agg replaces the
        reference's single-thread hash table."""
        key_cols: list[Column] = []
        carried_prefix_cols: list[str] = []
        agg_cols: list[Column] = []
        env = self._env()
        hidden_keys: list[Column] = []
        for name, kind, spec in outs:
            if kind in ("node", "rel", "path"):
                carried_prefix_cols += [c for c in self.df.columns
                                        if c.startswith(f"{spec}_")]
            elif contains_aggregate(spec):
                agg_cols.append(compile_expr(spec, env).alias(name))
                # mixed items: the non-aggregated sub-expressions are
                # implicit grouping keys (Aggregate, operator.cpp:6323)
                from memgraph_spark.plans.exprs import non_aggregate_refs
                for ref in non_aggregate_refs(spec, self.symbols):
                    hidden_keys.append(
                        compile_expr(ref, env).alias(self._anon_sym("hk")))
            else:
                key_cols.append(compile_expr(spec, env).alias(name))
        src = self.df
        has_collect = any(
            isinstance(n, A.FuncCall) and n.name.lower() == "collect"
            for _name, kind, spec in outs if kind == "value"
            and contains_aggregate(spec)
            for n in A.walk(spec))
        if (agg_cols and has_collect
                and not getattr(self, "_frame_ordered", False)):
            # stabilize collect()-family order to creation (id) order when
            # no explicit ORDER BY governs the frame: memgraph's pull order
            # is storage scan order, which our sequential ids reproduce
            # (aggregations.feature "Collect nodes properties into a map").
            # Within-partition only — no shuffle. Gated on collect():
            # count/sum/min/max/avg are order-insensitive, and the per-task
            # O(n log n) sort is pure waste for them at scale.
            ids = ([c for c in src.columns if c.endswith("_eid")]
                   + [c for c in src.columns if c.endswith("_id")])
            if ids:
                src = src.sortWithinPartitions(*ids)
        all_keys = ([F.col(c) for c in dict.fromkeys(carried_prefix_cols)]
                    + key_cols + hidden_keys)
        if all_keys:
            df = src.groupBy(*all_keys).agg(*agg_cols)
        else:
            df = src.agg(*agg_cols)
        new_syms = {name: kind for name, kind, _ in outs}
        for name, kind, spec in outs:
            if kind in ("node", "rel", "path"):
                new_syms[spec] = kind  # columns keep the pre-alias prefix
        return df, new_syms

    def _order_col(self, oi: A.OrderItem, df: DataFrame,
                   new_syms: dict[str, str], outs) -> Column:
        # an ORDER BY expression textually equal to a projection item sorts
        # by that output column (covers post-aggregation `ORDER BY n.prop`
        # where n itself is no longer in scope)
        for name, kind, spec in outs:
            if kind == "value" and spec == oi.expr:
                return qcol(name)
        if contains_aggregate(oi.expr):
            raise CompileError("ORDER BY aggregate must appear in the "
                               "projection (alias it)")
        return compile_expr(oi.expr, Env(df, new_syms, self.params))
