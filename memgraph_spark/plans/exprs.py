"""Cypher expression -> pyspark Column compiler.

Reference: the tree-walking ExpressionEvaluator (src/query/interpret/
eval.hpp:279) with SQL-style ternary null logic. Spark Columns already give
3-valued null semantics for comparisons/boolean ops, so most nodes map 1:1;
the divergences (cross-type comparisons, `+` overloading) are handled with
schema probes against the current frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from memgraph_spark.functions import AGGREGATES, FUNCTIONS
from memgraph_spark.plans import cypher_ast as A
from memgraph_spark.session import empty_frame


@dataclass
class Env:
    """Compile-time environment: the current frame + symbol kinds."""
    df: DataFrame | None
    symbols: dict[str, str] = field(default_factory=dict)  # name -> node|rel|value|path
    params: dict[str, object] = field(default_factory=dict)
    lambda_vars: dict[str, Column] = field(default_factory=dict)
    # static element types for lambda variables (the frame probe cannot
    # resolve them; comparisons need the variant-ness of list elements)
    lambda_types: dict = field(default_factory=dict)
    hops: dict | None = None   # USING HOPS LIMIT counter (hops_limit.hpp)
    graph: object = None       # catalog access (toEnum validation, degrees)
    # rel symbol -> (from_sym, to_sym) pattern endpoints (startNode/endNode)
    rel_ends: dict = field(default_factory=dict)

    def columns(self) -> set[str]:
        return set(self.df.columns) if self.df is not None else set()

    def typeof(self, col: Column) -> T.DataType | None:
        if self.df is None:
            return None
        # Bare lambda parameters (tagged at their HOF hand-out sites) can
        # NEVER resolve in a frame probe — today that costs a full JVM
        # analysis exception (measured 130-440ms each, half of
        # cy_collect_reduce's probes); their static types ride
        # env.lambda_types, and the probe's answer for them is always
        # None, so answer without touching the JVM.
        # (__dict__ lookup, not getattr: Column.__getattr__ turns unknown
        # attribute names into getField() Columns)
        if col.__dict__.get("_mg_unresolvable", False):
            return None
        # Probe against a SCHEMA-ONLY empty twin of the frame: analysis of
        # the probe select then walks a LocalRelation leaf instead of the
        # full (join/agg/variant-decode) plan — measured ~200ms per probe
        # on cy_collect_reduce's frame, 87% of its 5s compile. Resolution
        # is by column name over an identical schema, so a successful
        # probe yields the identical type; ANY probe failure falls back to
        # the original full-frame path (bound attribute refs from another
        # plan resolve only there), keeping semantics byte-identical.
        probe = _probe_twin(self.df)
        if probe is not None:
            try:
                return probe.select(col.alias("__t")).schema[0].dataType
            except Exception as ex:
                msg = str(ex)
                if "GROUP" in msg or "AGGREGATE" in msg.upper():
                    try:
                        return probe.agg(col.alias("__t")).schema[0].dataType
                    except Exception:
                        pass
                elif "UNRESOLVED_COLUMN" in msg:
                    # by-NAME resolution failure: the twin has the exact
                    # column set of the real frame, so the full-frame
                    # fallback would fail identically (composite
                    # expressions over lambda vars hit this; a stale
                    # exprId-BOUND ref fails as MISSING_ATTRIBUTES
                    # instead and still falls through to the real frame)
                    return None
        try:
            return self.df.select(col.alias("__t")).schema[0].dataType
        except Exception as ex:
            # aggregate-bearing expressions (collect(n) + [b]) don't
            # resolve in a plain select — retry in an aggregate context.
            # Gated on the error class: an unconditional retry would double
            # the probe cost of every unresolved lambda-var expression.
            msg = str(ex)
            if "GROUP" in msg or "AGGREGATE" in msg.upper():
                try:
                    return self.df.agg(col.alias("__t")).schema[0].dataType
                except Exception:
                    return None
            return None


def _mark_lambda(*cols: Column) -> None:
    """Tag HOF lambda-parameter Columns as unresolvable-by-probe (see
    Env.typeof): a bare lambda var only resolves inside its enclosing
    higher-order function, never in a select/agg probe."""
    for c in cols:
        c._mg_unresolvable = True


def _probe_twin(df: DataFrame) -> DataFrame | None:
    """Schema-only empty twin of `df` for type probes, cached on the
    DataFrame object (each compile stage's frame gets its own; a frame
    that is never probed never builds one). `False` caches an
    unbuildable twin so we don't retry per probe."""
    twin = df.__dict__.get("_mg_typeof_twin")
    if twin is None:
        try:
            twin = empty_frame(df.sparkSession, df.schema)
        except Exception:
            twin = False
        df.__dict__["_mg_typeof_twin"] = twin
    return twin or None


class CompileError(Exception):
    pass


def _fold_static(e: A.Expr, env: Env):
    """Constant-fold literals/params/+-concatenations at compile time
    (the reference's StrippedQuery turns literals into params anyway)."""
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Param):
        return env.params.get(e.name)
    if isinstance(e, A.BinaryOp) and e.op == "+":
        l, r = _fold_static(e.left, env), _fold_static(e.right, env)
        if isinstance(l, str) and isinstance(r, str):
            return l + r
        if isinstance(l, (int, float)) and isinstance(r, (int, float)) \
                and not isinstance(l, bool) and not isinstance(r, bool):
            return l + r
    return None


def _param_literal(v) -> Column:
    """Parameter value -> Column, recursively (nested maps become nested
    structs — the same shape MapLiteral compiles to)."""
    if isinstance(v, dict):
        return F.struct(*[_param_literal(x).alias(k) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        return F.array(*[_param_literal(x) for x in v])
    return F.lit(v)


def _type_category(t) -> str | None:
    """Coarse Cypher type category for list-homogeneity decisions (int and
    double share the numeric category, typed_value.cpp)."""
    if t is None or isinstance(t, T.NullType):
        return None
    if isinstance(t, T.BooleanType):
        return "n/b"
    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                      T.DoubleType, T.FloatType, T.DecimalType)):
        return "num"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.StructType):
        names = set(t.names)
        # graph values share a category regardless of their property
        # columns: [r1, r2] with different edge types is a list of rels,
        # not a heterogeneous list (project() over OPTIONAL-matched rels)
        if "eid" in names and "src" in names:
            return "g:rel"
        if "id" in names and "labels" in names:
            return "g:node"
    return "x:" + t.simpleString()


def _unify_graph_structs(cols: list[Column], ts: list) -> Column:
    """Array of node/rel structs whose property fields differ: widen every
    element to the field-union struct (missing fields null) so the list
    keeps its graph-struct element type instead of a variant fallback."""
    fields: dict[str, object] = {}
    for t in ts:
        if isinstance(t, T.StructType):
            for f in t.fields:
                cur = fields.get(f.name)
                if cur is None or isinstance(cur, T.NullType):
                    fields[f.name] = f.dataType
    names = sorted(fields)
    target = T.StructType(
        [T.StructField(n, fields[n]) for n in names])
    out = []
    for c, t in zip(cols, ts):
        if t is None or isinstance(t, T.NullType):
            out.append(F.lit(None).cast(target))
            continue
        have = set(t.names)
        out.append(F.when(c.isNotNull(), F.struct(*[
            (c.getField(n) if n in have
             else F.lit(None).cast(fields[n])).alias(n)
            for n in names])))
    return F.array(*out)


def _unify_struct_arrays(sides: list) -> list[Column]:
    """Concat of arrays whose struct ELEMENT types differ (e.g.
    `[a] + collect(n) + [b]` where the nodes carry different property
    types — MatchAcceptance2 "Matching longer variable length paths"):
    rebuild every element to the field-union schema; a field whose type
    conflicts across sides lifts to the variant struct."""
    from memgraph_spark.functions.variant import to_variant
    ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    floats = (T.DoubleType, T.FloatType)
    fields: dict[str, object] = {}
    for _c, t in sides:
        for f in t.elementType.fields:
            cur = fields.get(f.name)
            if cur is None or isinstance(cur, T.NullType):
                fields[f.name] = f.dataType
            elif cur == "variant" or cur == f.dataType \
                    or isinstance(f.dataType, T.NullType):
                continue
            elif isinstance(cur, ints) and isinstance(f.dataType, ints):
                fields[f.name] = T.LongType()
            elif isinstance(cur, floats) and isinstance(f.dataType, floats):
                fields[f.name] = T.DoubleType()
            else:
                fields[f.name] = "variant"
    names = sorted(fields)
    out = []
    def builder(have):
        def build(x):
            cols = []
            for n in names:
                tgt = fields[n]
                if n not in have or isinstance(have[n], T.NullType):
                    if tgt == "variant":
                        from memgraph_spark.functions.variant import _slots
                        v = F.when(F.lit(False), _slots())
                    else:
                        v = F.lit(None).cast(tgt)
                elif tgt == "variant":
                    v = to_variant(x.getField(n), have[n])
                elif tgt == have[n]:
                    v = x.getField(n)
                else:
                    v = x.getField(n).cast(tgt)
                cols.append(v.alias(n))
            return F.when(x.isNotNull(), F.struct(*cols))
        return build

    for c, t in sides:
        have = {f.name: f.dataType for f in t.elementType.fields}
        out.append(F.transform(c, builder(have)))
    return out


def _compile_json_text(x: A.Expr, env: Env) -> Column:
    """Canonical JSON text of an expression (compact separators, matching
    Spark to_json) — the encoding used for nested lists inside variant
    slots, built from the AST so nested heterogeneous lists stay plain
    JSON rather than jsonized variant structs."""
    import json as _json
    if isinstance(x, A.Literal):
        return F.lit(_json.dumps(x.value, separators=(",", ":")))
    if isinstance(x, A.ListLiteral):
        if not x.items:
            return F.lit("[]")
        parts = [_compile_json_text(i, env) for i in x.items]
        joined = parts[0]
        for p in parts[1:]:
            joined = F.concat(joined, F.lit(","), p)
        return F.concat(F.lit("["), joined, F.lit("]"))
    c = compile_expr(x, env)
    t = env.typeof(c) if env.df is not None else None
    if isinstance(t, (T.ArrayType, T.StructType, T.MapType)):
        return F.to_json(c)
    if isinstance(t, T.StringType):
        return F.concat(F.lit('"'),
                        F.regexp_replace(c, r'(["\\])', r'\\$1'),
                        F.lit('"'))
    return c.cast("string")


def _compile_list_literal(e: A.ListLiteral, env: Env) -> Column:
    """List literal; heterogeneous element categories fall back to an array
    of variant structs (SURVEY §1.3 — Cypher lists are dynamically typed;
    gql_behave In/Index tests over `[1, '2', [3], 4]`)."""
    cols = [compile_expr(x, env) for x in e.items]
    if len(cols) > 1 and env.df is not None:
        ts = [env.typeof(c) for c in cols]
        cats = {c for c in (_type_category(t) for t in ts)
                if c is not None}
        if cats and cats <= {"g:rel", "g:node"} and (
                len(cats) > 1
                or len({t.simpleString() for t in ts
                        if isinstance(t, T.StructType)}) > 1
                or any(t is None or isinstance(t, T.NullType) for t in ts)):
            # [n, r, m] (MatchAcceptance2 "Projecting a list of nodes and
            # relationships"): field-union struct keeps graph values
            # structured (id/labels vs eid/type discriminate the kind)
            return _unify_graph_structs(cols, ts)
        ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        floats = (T.DoubleType, T.FloatType)
        num_mix = (cats == {"num"}
                   and any(isinstance(t, ints) for t in ts)
                   and any(isinstance(t, floats) for t in ts))
        if (len(cats) > 1 or num_mix) and all(t is not None for t in ts):
            # num_mix: [1, 2.0] keeps per-value int/float typing via the
            # variant struct (M09 Aggregation "max() over mixed numeric
            # values": max is 5, not 5.0)
            from memgraph_spark.functions.variant import (
                _slots, to_variant)
            out = []
            for item, c, t in zip(e.items, cols, ts):
                cat = _type_category(t)
                if cat is None:
                    # null element: a null variant struct
                    out.append(F.when(F.lit(False), _slots()))
                elif cat.startswith("x:") or cat.startswith("g:"):
                    # nested list/map/graph value: canonical JSON into the
                    # vj slot
                    out.append(F.when(
                        c.isNotNull(),
                        _slots(j=_compile_json_text(item, env))))
                else:
                    out.append(to_variant(c, t))
            return F.array(*out)
    return F.array(*cols)


def compile_expr(e: A.Expr, env: Env) -> Column:
    if isinstance(e, A.Literal):
        return F.lit(e.value)
    if isinstance(e, A.ListLiteral):
        return _compile_list_literal(e, env)
    if isinstance(e, A.MapLiteral):
        return F.struct(*[compile_expr(v, env).alias(k) for k, v in e.items.items()])
    if isinstance(e, A.MapProjection):
        return _compile_map_projection(e, env)
    if isinstance(e, A.EnumLiteral):
        # enum value = STRUCT<__type:'mg_enum', __value:'Type::Value'> —
        # the reference's Bolt/display shape (typed_value Enum; memgraph.
        # feature shows {__type:'mg_enum', __value:'Status::Good'});
        # equality/grouping work via struct semantics
        registry = getattr(env.graph, "enum_registry", None)
        if registry is not None and (
                e.typ not in registry
                or e.value not in registry.get(e.typ, [])):
            raise CompileError(f"unknown enum value {e.typ}::{e.value}")
        return _enum_value(f"{e.typ}::{e.value}")
    if isinstance(e, A.Param):
        if e.name not in env.params:
            raise CompileError(f"missing parameter ${e.name}")
        return _param_literal(env.params[e.name])
    if isinstance(e, A.Var):
        return _compile_var(e.name, env)
    if isinstance(e, A.Property):
        return _compile_property(e, env)
    if isinstance(e, A.UnaryOp):
        c = compile_expr(e.operand, env)
        if e.op == "-":
            from memgraph_spark.functions.variant import (
                _slots, is_variant_type)
            t = env.typeof(c) if env.df is not None else None
            if is_variant_type(t):
                # negate within the value's own slot (per-row typing)
                return F.when(c.isNotNull(), _slots(
                    i=-c.getField("vi"), d=-c.getField("vd")))
            return -c
        return ~c if e.op == "NOT" else c
    if isinstance(e, A.BinaryOp):
        return _compile_binop(e, env)
    if isinstance(e, A.IsNull):
        # node/rel symbols are column groups: null-ness = their identity col
        # (an unmatched OPTIONAL MATCH leaves the whole group null)
        if isinstance(e.operand, A.Var):
            kind = env.symbols.get(e.operand.name)
            if kind == "node":
                c = F.col(f"{e.operand.name}_id")
                return c.isNotNull() if e.negated else c.isNull()
            if kind == "rel":
                c = F.col(f"{e.operand.name}_eid")
                return c.isNotNull() if e.negated else c.isNull()
        c = compile_expr(e.operand, env)
        return c.isNotNull() if e.negated else c.isNull()
    if isinstance(e, A.CountStar):
        return F.count(F.lit(1))
    if isinstance(e, A.FuncCall):
        return _compile_func(e, env)
    if isinstance(e, A.CaseExpr):
        return _compile_case(e, env)
    if isinstance(e, A.Subscript):
        # dynamic property lookup n[<expr>] on a bound node/rel symbol
        # (FunctionsAcceptance/ExpressionAcceptance TCK): statically-foldable
        # keys (literals, params, concatenations) hit the property column
        skey = _fold_static(e.index, env)
        if (isinstance(e.subject, A.Var)
                and env.symbols.get(e.subject.name) in ("node", "rel")):
            if isinstance(skey, str):
                return _compile_property(A.Property(e.subject, skey), env)
            if skey is None and not isinstance(e.index, A.Literal):
                # runtime key (r[key] with key from keys(r)): dispatch over
                # the symbol's property columns, never a list index
                sym = e.subject.name
                idx = compile_expr(e.index, env).cast("string")
                meta = {f"{sym}_id", f"{sym}_labels", f"{sym}_eid",
                        f"{sym}_type", f"{sym}_src", f"{sym}_dst"}
                out = F.lit(None)
                for c in env.columns():
                    if c.startswith(f"{sym}_") and c not in meta:
                        pname = A.prop_name(c[len(sym) + 1:])
                        out = F.when(idx == pname, F.col(c)).otherwise(out)
                return out
        subj = compile_expr(e.subject, env)
        idx = compile_expr(e.index, env)
        t = env.typeof(subj)
        if isinstance(t, T.ArrayType):
            if isinstance(skey, float) or isinstance(
                    env.typeof(idx), (T.DoubleType, T.FloatType,
                                      T.DecimalType)):
                raise CompileError(
                    "list indices must be integers, not float")
            # Cypher list[i] is 0-based; negative wraps from the end
            i = idx.cast("int")
            return F.get(subj, F.when(i < 0, F.size(subj) + i).otherwise(i))
        if isinstance(t, T.StructType):
            from memgraph_spark.functions.variant import (
                is_variant_type, variant_element)
            if is_variant_type(t):
                # list-valued variant (vj/va slot): decode element back
                # into a variant (static non-negative index)
                if isinstance(skey, int) and skey >= 0:
                    return variant_element(subj, skey)
                return F.lit(None)
            # struct-backed map (literal/param maps)
            if isinstance(skey, str):
                return (subj.getField(skey)
                        if skey in t.names else F.lit(None))
            # dynamic key over a struct map: lift to a real MAP when the
            # value types agree, else null-on-miss per field
            vt = {f.dataType.simpleString() for f in t.fields}
            if len(vt) == 1:
                m = F.map_from_arrays(
                    F.array(*[F.lit(n) for n in t.names]),
                    F.array(*[subj.getField(n) for n in t.names]))
                return F.try_element_at(m, idx)
            out = F.lit(None)
            for n in t.names:
                out = F.when(idx == n, subj.getField(n)).otherwise(out)
            return out
        return F.try_element_at(subj, idx)  # map key
    if isinstance(e, A.Slice):
        subj = compile_expr(e.subject, env)
        lo = compile_expr(e.lo, env).cast("int") if e.lo is not None else F.lit(0)
        hi = (compile_expr(e.hi, env).cast("int") if e.hi is not None
              else F.size(subj))
        lo_n = F.when(lo < 0, F.greatest(F.size(subj) + lo, F.lit(0))).otherwise(lo)
        hi_n = F.when(hi < 0, F.size(subj) + hi).otherwise(F.least(hi, F.size(subj)))
        return F.slice(subj, lo_n + 1, F.greatest(hi_n - lo_n, F.lit(0)))
    if isinstance(e, A.ReduceExpr):
        src = compile_expr(e.source, env)
        init = compile_expr(e.init, env)
        _st = env.typeof(src)
        _et = _st.elementType if isinstance(_st, T.ArrayType) else None

        def step(acc: Column, x: Column) -> Column:
            _mark_lambda(acc, x)
            inner = Env(env.df, env.symbols, env.params,
                        {**env.lambda_vars, e.acc: acc, e.var: x},
                        {**env.lambda_types, e.var: _et}, env.hops)
            return compile_expr(e.body, inner)

        return F.aggregate(src, init, step)
    if isinstance(e, A.ListComprehension):
        src = compile_expr(e.source, env)
        _st = env.typeof(src)
        _et = _st.elementType if isinstance(_st, T.ArrayType) else None

        def body(x: Column) -> Column:
            _mark_lambda(x)
            inner = Env(env.df, env.symbols, env.params,
                        {**env.lambda_vars, e.var: x},
                        {**env.lambda_types, e.var: _et})
            return inner

        filtered = src
        if e.where is not None:
            filtered = F.filter(src, lambda x: compile_expr(e.where, body(x)))
        if e.projection is not None:
            return F.transform(filtered, lambda x: compile_expr(e.projection, body(x)))
        return filtered
    if isinstance(e, A.LabelsTest):
        subj = e.subject
        labels_col = None
        if isinstance(subj, A.Var) and env.symbols.get(subj.name) == "node":
            labels_col = F.col(f"{subj.name}_labels")
        else:
            # label test over a computed node value (endNode(r):y, x:Label
            # on a lambda/list element): the node struct carries `labels`
            sc = compile_expr(subj, env)
            t = env.typeof(sc)
            if isinstance(t, T.StructType) and "labels" in t.names:
                labels_col = sc.getField("labels")
        if labels_col is None:
            raise CompileError("labels test on non-node")
        cond = None
        for lbl in e.labels:
            if isinstance(lbl, A.Param):
                lbl = str(env.params.get(lbl.name, ""))
            c = F.array_contains(labels_col, lbl)
            cond = c if cond is None else (cond & c)
        for dx in e.dyn_labels:
            c = F.array_contains(labels_col,
                                 compile_expr(dx, env).cast("string"))
            cond = c if cond is None else (cond & c)
        return cond
    if isinstance(e, A.PatternPredicate):
        raise CompileError("pattern predicate must be handled by the clause compiler")
    raise CompileError(f"cannot compile {type(e).__name__}")


def _compile_var(name: str, env: Env) -> Column:
    if name in env.lambda_vars:
        return env.lambda_vars[name]
    kind = env.symbols.get(name)
    if kind == "node":
        # node value = struct of its columns (id, labels, props); an
        # unmatched OPTIONAL binding is a NULL value, not a struct of
        # nulls — collect() must skip it (MatchAcceptance2 "collect()
        # filtering nulls")
        cols = [c for c in env.columns() if c.startswith(f"{name}_")]
        s = F.struct(*[F.col(c).alias(c[len(name) + 1:])
                       for c in sorted(cols)])
        if f"{name}_id" in env.columns():
            return F.when(F.col(f"{name}_id").isNotNull(), s)
        return s
    if kind == "rel":
        cols = [c for c in env.columns() if c.startswith(f"{name}_")]
        s = F.struct(*[F.col(c).alias(c[len(name) + 1:])
                       for c in sorted(cols)])
        if f"{name}_eid" in env.columns():
            return F.when(F.col(f"{name}_eid").isNotNull(), s)
        return s
    if kind == "path":
        parts = [c for c in (f"{name}_nodes", f"{name}_rels", f"{name}_dirs")
                 if c in env.columns()]
        if parts:
            return F.struct(*[F.col(c).alias(c[len(name) + 1:])
                              for c in parts])
    if env.df is not None and name in env.df.columns:
        return F.col(name)
    raise CompileError(f"unbound variable {name}")


def _compile_point(ml: A.MapLiteral, env: Env) -> Column:
    """point(map) construction (awesome_memgraph_functions.cpp Point)."""
    from memgraph_spark.functions.spatial import (
        CRS_NAMES, SRID_CARTESIAN, SRID_CARTESIAN_3D, SRID_TO_CRS,
        SRID_WGS84, SRID_WGS84_3D, make_point)
    m = ml.items
    vals = {k: compile_expr(v, env) for k, v in m.items()}

    def pick(a: str, b: str):
        if a in m:
            return vals[a], False
        if b in m:
            return vals[b], True
        return None, False

    xc, from_lon = pick("x", "longitude")
    yc, from_lat = pick("y", "latitude")
    zc, _from_h = pick("z", "height")
    if xc is None or yc is None:
        raise CompileError("point(): argument longitude/x is missing")
    if from_lon != from_lat:
        raise CompileError(
            "point(): use either x, y, z or longitude, latitude, height")
    if "crs" in m and "srid" in m:
        raise CompileError("point(): cannot specify both CRS and SRID")
    srid = None
    if "crs" in m:
        cv = m["crs"]
        if not (isinstance(cv, A.Literal) and cv.value in CRS_NAMES):
            raise CompileError("point(): invalid CRS")
        srid = CRS_NAMES[cv.value]
    elif "srid" in m:
        sv = m["srid"]
        if not (isinstance(sv, A.Literal) and sv.value in SRID_TO_CRS):
            raise CompileError("point(): invalid SRID")
        srid = sv.value
    inferred_wgs = from_lon or from_lat
    if srid in (SRID_CARTESIAN, SRID_CARTESIAN_3D) and inferred_wgs:
        raise CompileError(
            "point(): cartesian points must be constructed with x, y, z "
            "not longitude, latitude, height")
    if srid is None:
        if zc is None:
            srid = SRID_WGS84 if inferred_wgs else SRID_CARTESIAN
        else:
            srid = SRID_WGS84_3D if inferred_wgs else SRID_CARTESIAN_3D
    if zc is None and srid in (SRID_WGS84_3D, SRID_CARTESIAN_3D):
        raise CompileError(
            "point(): concluded point type is 2D but CRS/SRID says 3D")
    if zc is not None and srid in (SRID_WGS84, SRID_CARTESIAN):
        raise CompileError(
            "point(): concluded point type is 3D but CRS/SRID says 2D")
    # non-coordinate keys don't error as long as their value is null — and
    # any null value (coordinate or not) nulls the whole point
    extra = [k for k in m
             if k not in ("x", "y", "z", "longitude", "latitude", "height",
                          "srid", "crs")]
    any_null = None
    for c in list(vals.values()):
        cond = c.isNull()
        any_null = cond if any_null is None else (any_null | cond)
    for k in extra:
        if isinstance(m[k], A.Literal) and m[k].value is not None:
            raise CompileError(f"point(): unknown key {k!r}")
    p = make_point(xc, yc, srid, z=zc)
    if srid in (SRID_WGS84, SRID_WGS84_3D):
        in_range = (xc.cast("double").between(-180.0, 180.0)
                    & yc.cast("double").between(-90.0, 90.0))
        p = F.when(in_range, p).otherwise(F.raise_error(F.lit(
            "point(): longitude/x in [-180, 180] and latitude/y in "
            "[-90, 90] required for WGS point types")))
    if any_null is not None:
        p = F.when(~any_null, p)
    return p


def _endpoint_struct(a: str, b: str, tgt: Column, env: Env) -> Column:
    """Node struct for whichever of two bound node symbols matches the
    target id (startNode/endNode over an undirected or reversed match).
    Field set is the union of both symbols' columns, nulls fill gaps so the
    two branches share one struct type."""
    fields = sorted({c[len(a) + 1:] for c in env.columns()
                     if c.startswith(f"{a}_")}
                    | {c[len(b) + 1:] for c in env.columns()
                       if c.startswith(f"{b}_")})

    def side(sym: str) -> Column:
        cols = []
        for f in fields:
            cn = f"{sym}_{f}"
            if cn in env.columns():
                cols.append(F.col(cn).alias(f))
            else:
                other = f"{(b if sym == a else a)}_{f}"
                t = env.typeof(F.col(other))
                cols.append(F.lit(None).cast(t).alias(f)
                            if t is not None else F.lit(None).alias(f))
        return F.struct(*cols)
    return F.when(tgt == F.col(f"{a}_id"), side(a)).otherwise(side(b))


def _enum_value(s) -> Column:
    """Enum value struct: {__type: 'mg_enum', __value: 'Type::Value'}."""
    v = F.lit(s) if isinstance(s, str) else s
    return F.struct(F.lit("mg_enum").alias("__type"), v.alias("__value"))


def _is_enum_type(t) -> bool:
    return isinstance(t, T.StructType) and set(t.names) == {"__type",
                                                            "__value"}


def _props_as_map(pairs: list, env: Env):
    """properties(n) -> map with null-valued slots dropped per row (a null
    property is an absent property; PropertyStore never stores nulls).
    Values are lifted to the variant struct so mixed types share one map."""
    from memgraph_spark.functions.variant import to_variant
    typed = [(k, c, env.typeof(c)) for k, c in pairs]
    # an untyped-null column is an always-absent property: drop statically
    typed = [(k, c, t) for k, c, t in typed
             if t is not None and not isinstance(t, T.NullType)]
    if not typed:
        return F.create_map().cast("map<string,string>")
    keys = [F.lit(k) for k, _, _ in typed]
    vals = [to_variant(c, t) for _, c, t in typed]
    m = F.map_from_arrays(F.array(*keys), F.array(*vals))
    return F.map_filter(m, lambda k, v: v.isNotNull())


def _prop_cols(sym: str, env: Env) -> list[str]:
    """Property columns of a bound node/rel symbol (metadata excluded)."""
    meta = {f"{sym}_id", f"{sym}_labels", f"{sym}_eid", f"{sym}_type",
            f"{sym}_src", f"{sym}_dst"}
    return sorted(c for c in env.columns()
                  if c.startswith(f"{sym}_") and c not in meta)


def _compile_map_projection(e: A.MapProjection, env: Env) -> Column:
    """MapProjectionLiteral (ast.hpp:1005): build a map-as-struct from a
    node/rel/map subject. Later entries win on key collision; a null
    subject projects to null (map_projection.feature)."""
    fields: dict[str, Column] = {}
    sym = e.subject.name if isinstance(e.subject, A.Var) else None
    on_graph = sym is not None and env.symbols.get(sym) in ("node", "rel")
    subjc = None if on_graph else compile_expr(e.subject, env)
    subj_t = env.typeof(subjc) if subjc is not None else None
    for it in e.items:
        if it[0] == "all":
            if on_graph:
                for c in _prop_cols(sym, env):
                    fields[A.prop_name(c[len(sym) + 1:])] = F.col(c)
            elif isinstance(subj_t, T.StructType):
                # map value subject: .* copies every entry
                for fname in subj_t.names:
                    fields[fname] = subjc.getField(fname)
            elif isinstance(subj_t, T.NullType) or subj_t is None:
                pass  # null subject: the whole projection is null below
            else:
                raise CompileError(
                    ".* projection needs a node, relationship or map")
        elif it[0] == "prop":
            fields[it[1]] = _compile_property(
                A.Property(e.subject, it[1]), env)
        elif it[0] == "kv":
            fields[it[1]] = compile_expr(it[2], env)
        else:  # bare variable entry: key = var name
            fields[it[1]] = compile_expr(A.Var(it[1]), env)
    if not fields:
        out = F.create_map().cast("map<string,string>")  # `n {}` = empty map
    else:
        out = F.struct(*[v.alias(k) for k, v in fields.items()])
    # null-subject propagation: n {...} over an unmatched OPTIONAL node
    # (or a null map) is null, whatever the items
    if on_graph:
        idc = f"{sym}_id" if env.symbols.get(sym) == "node" else f"{sym}_eid"
        if idc in env.columns():
            return F.when(F.col(idc).isNotNull(), out)
        return out
    if subjc is not None and subj_t is not None \
            and not isinstance(subj_t, T.NullType):
        return F.when(subjc.isNotNull(), out)
    if subjc is not None and (subj_t is None
                              or isinstance(subj_t, T.NullType)):
        return F.lit(None)
    return out


def _compile_property(e: A.Property, env: Env) -> Column:
    if isinstance(e.subject, A.Var):
        nm = e.subject.name
        kind = env.symbols.get(nm)
        if kind in ("node", "rel"):
            col = f"{nm}_{A.prop_col(e.key)}"
            if col in env.columns():
                return F.col(col)
            return F.lit(None)
        if nm in env.lambda_vars:
            lt = env.lambda_types.get(nm)
            if isinstance(lt, T.StructType):
                # node/rel struct elements: property lookup is a struct
                # field (reserved names stored as p__<name>)
                subj = env.lambda_vars[nm]
                if A.prop_col(e.key) in lt.names:
                    return subj.getField(A.prop_col(e.key))
                if e.key in lt.names:
                    return subj.getField(e.key)
                return F.lit(None)
            return F.try_element_at(env.lambda_vars[nm], F.lit(e.key))
    subj = compile_expr(e.subject, env)
    t = env.typeof(subj)
    from memgraph_spark.functions.variant import is_variant_type as _ivt
    if _ivt(t):
        # property access on a mixed-list (Any) element: maps/nodes live in
        # the vj JSON slot; access on a scalar slot is a runtime TypeError
        # (SemanticErrorAcceptance PropertyAccessOnNonMap)
        from memgraph_spark.functions.variant import _slots
        vj = subj.getField("vj")
        raw = F.get_json_object(vj, f"$.{e.key}")
        bad = (subj.getField("vb").isNotNull()
               | subj.getField("vi").isNotNull()
               | subj.getField("vd").isNotNull()
               | subj.getField("vs").isNotNull()
               | subj.getField("va").isNotNull())
        decoded = (
            F.when(raw.rlike(r"^-?\d+$"), _slots(i=raw.cast("long")))
            .when(raw.rlike(r"^-?\d*\.\d+([eE][+-]?\d+)?$"),
                  _slots(d=raw.cast("double")))
            .when(raw.isin("true", "false"),
                  _slots(b=raw == "true"))
            .when(raw.isNotNull(), _slots(s=raw)))
        return (F.when(subj.isNull(), F.lit(None))
                .when(bad, F.raise_error(F.lit(
                    "PropertyAccessOnNonMap: property access on a "
                    "non-map value")))
                .otherwise(decoded))
    if isinstance(t, T.StructType) and set(t.names) == {"x", "y", "z",
                                                        "srid"}:
        # point accessors (point.hpp): x/y/srid always valid; longitude/
        # latitude only on WGS84 points, z only on 3d, height only on
        # WGS84-3d; crs renders the srid name. Invalid accessors raise at
        # runtime like the reference's PropertyLookup on Point.
        from memgraph_spark.functions.spatial import (
            SRID_CARTESIAN_3D, SRID_WGS84_3D, WGS_SRIDS, crs_name)
        key = e.key.lower()
        s = subj.getField("srid")

        def guarded(valid, value, what):
            return (F.when(subj.isNull(), F.lit(None))
                    .when(valid, value)
                    .otherwise(F.raise_error(F.lit(
                        f"point has no {what} component for its CRS"))))
        if key == "x":
            return subj.getField("x")
        if key == "y":
            return subj.getField("y")
        if key == "srid":
            return s
        if key == "crs":
            return crs_name(subj)
        if key == "longitude":
            return guarded(s.isin(*WGS_SRIDS), subj.getField("x"),
                           "longitude")
        if key == "latitude":
            return guarded(s.isin(*WGS_SRIDS), subj.getField("y"),
                           "latitude")
        if key == "z":
            return guarded(s.isin(SRID_WGS84_3D, SRID_CARTESIAN_3D),
                           subj.getField("z"), "z")
        if key == "height":
            return guarded(s == SRID_WGS84_3D, subj.getField("z"), "height")
        return F.lit(None)
    if isinstance(t, T.StructType):
        if A.prop_col(e.key) in t.names:
            return subj.getField(A.prop_col(e.key))
        if e.key in t.names:
            return subj.getField(e.key)
        return F.lit(None)
    # temporal component accessors: date(...).year etc. (the reference's
    # temporal types expose components as property lookups)
    if isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType)) or \
            (hasattr(T, "TimeType") and isinstance(t, T.TimeType)):
        comp = {
            "year": F.year, "month": F.month, "day": F.dayofmonth,
            "hour": F.hour, "minute": F.minute, "second": F.second,
        }.get(e.key.lower())
        if comp is not None:
            return comp(subj).cast("long")
    return F.try_element_at(subj, F.lit(e.key))


def _string_side(x: A.Expr, env: Env) -> bool:
    if isinstance(x, A.Literal) and isinstance(x.value, str):
        return True
    if isinstance(x, A.BinaryOp) and x.op == "+":
        # a concat chain seeded by a string literal is a string even when
        # the frame probe can't type it (lambda-var expressions)
        return _string_side(x.left, env) or _string_side(x.right, env)
    c_t = env.typeof(compile_expr(x, env)) if env.df is not None else None
    return isinstance(c_t, T.StringType)


def _array_side(x: A.Expr, env: Env) -> bool:
    if isinstance(x, A.ListLiteral):
        return True
    c_t = env.typeof(compile_expr(x, env)) if env.df is not None else None
    return isinstance(c_t, T.ArrayType)


def _compile_binop(e: A.BinaryOp, env: Env) -> Column:
    op = e.op
    if op in ("AND", "OR", "XOR"):
        l, r = compile_expr(e.left, env), compile_expr(e.right, env)
        if op == "AND":
            return l & r
        if op == "OR":
            return l | r
        return (l & ~r) | (~l & r)
    l, r = compile_expr(e.left, env), compile_expr(e.right, env)
    if op in ("=", "<>", "<", ">", "<=", ">="):
        # variant-typed side (mixed-type property, SURVEY §1.3): Cypher
        # semantics — same category compares, cross-category yields null
        from memgraph_spark.functions.variant import (
            is_variant_type, variant_cmp)
        lt, rt = env.typeof(l), env.typeof(r)
        if lt is None and isinstance(e.left, A.Var):
            lt = env.lambda_types.get(e.left.name)
        if rt is None and isinstance(e.right, A.Var):
            rt = env.lambda_types.get(e.right.name)
        if is_variant_type(lt) or is_variant_type(rt):
            return variant_cmp(l, lt, r, rt, op)
        # numeric list equality across element typings ([1, 2] = [1.0, 2.0],
        # or a variant-element list from a mixed literal like [1, 2, 4.0] —
        # list_operations.feature "Numeric list equality")
        if op in ("=", "<>") and isinstance(lt, T.ArrayType) \
                and isinstance(rt, T.ArrayType) \
                and lt.elementType != rt.elementType:
            from memgraph_spark.functions.variant import variant_num
            num_t = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                     T.DoubleType, T.FloatType, T.DecimalType)

            def _num_view(c, t):
                et = t.elementType
                if is_variant_type(et):
                    return F.transform(c, variant_num)
                if isinstance(et, num_t):
                    return c.cast("array<double>")
                return None
            lv, rv = _num_view(l, lt), _num_view(r, rt)
            if lv is not None and rv is not None:
                eq = (F.size(l) == F.size(r)) & F.forall(
                    F.zip_with(lv, rv, lambda a, b: a.eqNullSafe(b)),
                    lambda x: x)
                eq = F.when(l.isNull() | r.isNull(),
                            F.lit(None).cast("boolean")).otherwise(eq)
                return eq if op == "=" else ~eq

        # cross-category comparison yields null, never a coercion (Cypher
        # `0 = '0'` is null; Spark would cast) — typed scalar sides only
        def _cat(t):
            if isinstance(t, (T.LongType, T.IntegerType, T.ShortType,
                              T.ByteType, T.DoubleType, T.FloatType,
                              T.DecimalType)):
                return "num"
            if isinstance(t, T.StringType):
                return "str"
            if isinstance(t, T.BooleanType):
                return "bool"
            return None
        # enums: equality compares the interned Type::Value; ordering is
        # illegal (typed_value.cpp operator< throws on Enum); an enum never
        # equals a non-enum
        if _is_enum_type(lt) or _is_enum_type(rt):
            if op in ("<", ">", "<=", ">="):
                raise CompileError(
                    "enum values do not support ordering comparisons")
            if _is_enum_type(lt) and _is_enum_type(rt):
                lv, rv = l.getField("__value"), r.getField("__value")
                return (lv == rv) if op == "=" else (lv != rv)
            if op in ("=", "<>"):
                null_in = l.isNull() | r.isNull()
                return F.when(null_in, F.lit(None).cast("boolean")) \
                        .otherwise(F.lit(op == "<>"))
        cl_, cr_ = _cat(lt), _cat(rt)
        if cl_ and cr_ and cl_ != cr_:
            # typed_value.cpp operator==: different non-numeric types are
            # simply NOT equal (false, not null); ordering comparisons on
            # mismatched categories yield null (operator< "return {}")
            if op in ("=", "<>"):
                null_in = l.isNull() | r.isNull()
                return F.when(null_in, F.lit(None).cast("boolean")) \
                        .otherwise(F.lit(op == "<>"))
            return F.lit(None).cast("boolean")
    if op == "=":
        return l == r
    if op == "<>":
        return l != r
    if op == "<":
        return l < r
    if op == ">":
        return l > r
    if op == "<=":
        return l <= r
    if op == ">=":
        return l >= r
    if op in ("+", "-", "*", "/", "%", "^"):
        # mixed-type (variant) operand: per-row-typed arithmetic
        # (typed_value.cpp operators; int op int stays int)
        from memgraph_spark.functions.variant import (
            is_variant_type, variant_arith)
        lt_v = env.typeof(l) if env.df is not None else None
        rt_v = env.typeof(r) if env.df is not None else None
        if lt_v is None and isinstance(e.left, A.Var):
            lt_v = env.lambda_types.get(e.left.name)
        if rt_v is None and isinstance(e.right, A.Var):
            rt_v = env.lambda_types.get(e.right.name)
        if is_variant_type(lt_v) or is_variant_type(rt_v):
            return variant_arith(l, lt_v, r, rt_v, op)

        # both sides null: keep the untyped null (Spark's type coercion
        # would promote null+null to DOUBLE, which poisons a later union
        # with integer values — wShortest seed-weight typing, wsp.feature)
        def _null_side(ast, t):
            return (isinstance(ast, A.Literal) and ast.value is None) \
                or isinstance(t, T.NullType)
        if _null_side(e.left, lt_v) and _null_side(e.right, rt_v):
            return F.lit(None)
    if op == "+":
        # n-ary list-concat chain ([a] + collect(n) + [b]): the nested
        # `+` result can't be type-probed when it mixes aggregates with
        # group columns, so flatten the chain and unify the LEAF types
        # (each leaf probes fine on its own)
        def _plus_leaves(x):
            if isinstance(x, A.BinaryOp) and x.op == "+":
                return _plus_leaves(x.left) + _plus_leaves(x.right)
            return [x]

        leaves = _plus_leaves(e)
        if len(leaves) > 2 and any(_array_side(x, env) for x in leaves) \
                and not any(_string_side(x, env) for x in leaves):
            cols = [compile_expr(x, env) for x in leaves]
            ts = [env.typeof(c) if env.df is not None else None
                  for c in cols]
            if all(t is not None and not isinstance(t, T.NullType)
                   for t in ts) \
                    and not any(isinstance(x, A.Literal)
                                and x.value is None for x in leaves):
                sides = []
                for c, t in zip(cols, ts):
                    if isinstance(t, T.ArrayType):
                        sides.append((c, t))
                    else:
                        sides.append((F.array(c), T.ArrayType(t)))
                ets = {s[1].elementType.simpleString() for s in sides}
                if len(ets) > 1 and all(
                        isinstance(s[1].elementType, T.StructType)
                        for s in sides):
                    return F.concat(*_unify_struct_arrays(sides))
                return F.concat(*[c for c, _t in sides])
        # Cypher + is overloaded: numeric add, string concat, list concat
        if _array_side(e.left, env) or _array_side(e.right, env):
            # list + NULL is null (Concatenate test3): an untyped-null side
            # would make Spark's concat analysis fail
            for side, col in ((e.left, l), (e.right, r)):
                t = env.typeof(col) if env.df is not None else None
                if (isinstance(side, A.Literal) and side.value is None) \
                        or isinstance(t, T.NullType):
                    other = r if col is l else l
                    ot = env.typeof(other) if env.df is not None else None
                    return F.lit(None).cast(ot) if ot is not None \
                        else F.lit(None)
            # list + scalar appends the element ([false, true] + false —
            # ReturnAcceptance2 "Appending lists of same type")
            lt2 = env.typeof(l) if env.df is not None else None
            rt2 = env.typeof(r) if env.df is not None else None
            if isinstance(lt2, T.ArrayType) \
                    and not isinstance(rt2, T.ArrayType):
                r = F.array(r)
                rt2 = T.ArrayType(rt2) if rt2 is not None else None
            elif isinstance(rt2, T.ArrayType) \
                    and not isinstance(lt2, T.ArrayType):
                l = F.array(l)
                lt2 = T.ArrayType(lt2) if lt2 is not None else None
            if isinstance(lt2, T.ArrayType) and isinstance(rt2, T.ArrayType) \
                    and isinstance(lt2.elementType, T.StructType) \
                    and isinstance(rt2.elementType, T.StructType) \
                    and lt2.elementType != rt2.elementType:
                l, r = _unify_struct_arrays([(l, lt2), (r, rt2)])
            return F.concat(l, r)
        if _string_side(e.left, env) or _string_side(e.right, env):
            return F.concat(l.cast("string"), r.cast("string"))
        return l + r
    if op == "-":
        lt_ = env.typeof(l) if env.df is not None else None
        rt_ = env.typeof(r) if env.df is not None else None
        if isinstance(lt_, T.StringType) and isinstance(rt_, T.StringType):
            # LocalTime values are normalized HH:MM:SS strings — their
            # difference is a Duration (temporal.hpp operator-); any other
            # string subtraction is a TypedValue error
            lp = F.to_timestamp(F.concat(F.lit("1970-01-01 "), l))
            rp = F.to_timestamp(F.concat(F.lit("1970-01-01 "), r))
            return (F.when(l.isNull() | r.isNull(),
                           F.lit(None).cast("interval day to second"))
                    .when(lp.isNotNull() & rp.isNotNull(), lp - rp)
                    .otherwise(F.raise_error(F.lit(
                        "cannot subtract strings"))
                        .cast("interval day to second")))
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        # Cypher int/int is integer division truncating toward zero
        return l / r if _is_float(e, env, l, r) else _int_div(l, r)
    if op == "%":
        return l % r
    if op == "^":
        return F.pow(l, r)
    if op == "IN":
        from memgraph_spark.functions.variant import (
            is_variant_type, to_variant, variant_eq_strict)
        lt0 = env.typeof(l) if env.df is not None else None
        if (isinstance(e.left, A.Literal) and e.left.value is None) \
                or isinstance(lt0, T.NullType):
            # null IN list: false for an empty list, else null (ternary
            # logic — TernaryLogicAcceptance)
            return F.when(F.size(r) == 0, F.lit(False)) \
                    .otherwise(F.lit(None).cast("boolean"))
        rt = env.typeof(r) if env.df is not None else None
        if is_variant_type(rt):
            # the haystack itself is a variant holding a LIST (mixed list
            # types across table versions lift the property to variant —
            # caching.feature "List cache invalidation 3"): decode it to
            # an array of element variants and fall through to the
            # element-wise strict compare below
            from memgraph_spark.functions.variant import (
                variant_list_elements)
            r = variant_list_elements(r)
            rt = T.ArrayType(T.StructType())  # marker: variant elements
            _variant_elems = True
        else:
            _variant_elems = (isinstance(rt, T.ArrayType)
                              and is_variant_type(rt.elementType))
        if _variant_elems:
            lt = env.typeof(l)
            if isinstance(lt, (T.ArrayType, T.MapType)) or isinstance(
                    e.left, (A.ListLiteral, A.MapLiteral)):
                # nested list/map needle vs a variant haystack: both sides
                # compare through the canonical-JSON slot
                # ([[2,3],4] IN [1, [[2,3],4]] — list_operations In test6)
                from memgraph_spark.functions.variant import _slots
                lv = _slots(j=_compile_json_text(e.left, env))
            elif is_variant_type(lt):
                lv = l
            else:
                lv = to_variant(l, lt) if lt is not None else None
            if lv is not None:
                return F.coalesce(
                    F.exists(r, lambda el: variant_eq_strict(el, lv)),
                    F.lit(False))
        return F.array_contains(r, l)
    if op in ("STARTS", "ENDS", "CONTAINS"):
        # a null operand short-circuits to null BEFORE the type check
        # (eval.hpp checks IsNull first — unstable.feature
        # "StartsWith test4": `1 STARTS WITH null` is null, not an error)
        for side in (e.left, e.right):
            if isinstance(side, A.Literal) and side.value is None:
                return F.lit(None).cast("boolean")
            st = env.typeof(compile_expr(side, env)) \
                if env.df is not None else None
            if isinstance(st, T.NullType):
                return F.lit(None).cast("boolean")
        # TypedValue string operators throw on non-string operands
        # (src/query/typed_value.cpp operator semantics;
        # string_operators.feature "an error should be raised")
        l = _string_operand(l, e.left, env, op)
        r = _string_operand(r, e.right, env, op)
        if op == "STARTS":
            return l.startswith(r)
        if op == "ENDS":
            return l.endswith(r)
        return l.contains(r)
    if op == "=~":
        # Cypher =~ is a FULL-string regex match (rlike is substring search);
        # a null pattern propagates null (literal None used to interpolate
        # as the text "None" into the regex)
        if isinstance(e.right, A.Literal):
            if e.right.value is None:
                return F.lit(None).cast("boolean")
            return l.rlike(f"^(?:{e.right.value})$")
        return F.regexp_like(
            l, F.concat(F.lit("^(?:"), r.cast("string"), F.lit(")$")))
    raise CompileError(f"unknown operator {op}")


def _parse_zoned_literal(s: str):
    """(utc epoch seconds, nanos, utc offset seconds) for a datetime text
    with explicit zone info; None for zoneless text (stays a timestamp)."""
    import datetime as dt
    import re as _re
    m = _re.match(r"^(.*)\[([^\]]+)\]$", s)
    try:
        if m:
            from zoneinfo import ZoneInfo
            local = dt.datetime.fromisoformat(m.group(1))
            if local.tzinfo is None:
                local = local.replace(tzinfo=ZoneInfo(m.group(2)))
        else:
            local = dt.datetime.fromisoformat(s)
            if local.tzinfo is None:
                return None
    except (ValueError, KeyError):
        return None
    off = int(local.utcoffset().total_seconds())
    return int(local.timestamp()), local.microsecond * 1000, off


_STR_OP_NAMES = {"STARTS": "STARTS WITH", "ENDS": "ENDS WITH",
                 "CONTAINS": "CONTAINS"}


def _string_operand(c: Column, ast_side, env: Env, op: str) -> Column:
    """Coerce an operand of STARTS WITH / ENDS WITH / CONTAINS, raising on
    definitively non-string types (TypedValue strictness) — statically for
    plain columns/literals, at runtime for mixed-type variant slots."""
    name = _STR_OP_NAMES.get(op, op)
    if isinstance(ast_side, A.Literal):
        v = ast_side.value
        if v is not None and not isinstance(v, str):
            raise CompileError(
                f"{name} expects string operands, got {type(v).__name__}")
        return c
    t = env.typeof(c) if env.df is not None else None
    if t is None or isinstance(t, (T.StringType, T.NullType)):
        return c
    from memgraph_spark.functions.variant import is_variant_type
    if is_variant_type(t):
        # runtime Any operands: non-string values make the predicate null
        # (StartsWithAcceptance); only STATIC non-string types are the
        # compile-time TypedValue error (string_operators.feature)
        return c.getField("vs")
    raise CompileError(f"{name} expects string operands, "
                       f"got {t.simpleString()}")


def _is_float(e: A.BinaryOp, env: Env,
              l: Column | None = None, r: Column | None = None) -> bool:
    # the caller passes its ALREADY-compiled operand Columns — recompiling
    # e.left/e.right here duplicated the whole operand subtree build at
    # the driver (point.distance(...)/1000 paid the ~2s Andoyer tree
    # twice), and the recompile is deterministic so the probe answer is
    # identical either way
    for side, col in ((e.left, l), (e.right, r)):
        if isinstance(side, A.Literal) and isinstance(side.value, float):
            return True
        if env.df is None:
            continue
        t = env.typeof(col if col is not None else compile_expr(side, env))
        if isinstance(t, (T.DoubleType, T.FloatType)):
            return True
    return False


def _int_div(l: Column, r: Column) -> Column:
    # Cypher integer / integer is integer division (truncates toward zero)
    return (l / r).cast("long")


_NUMERIC_T = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
              T.DoubleType, T.FloatType, T.DecimalType)


def _conversion_kind(name: str):
    """(kind, ornull, is_list) for the ToX conversion family, else None."""
    base = name
    is_list = base.endswith("list")
    if is_list:
        base = base[:-4]
    ornull = base.endswith("ornull")
    if ornull:
        base = base[:-6]
    if base in ("toboolean", "tointeger", "tofloat", "tostring"):
        return base[2:], ornull or is_list, is_list
    return None


def _convert_variant(kind: str, c: Column) -> Column:
    """Variant value -> converted typed value; non-matching slots null."""
    from memgraph_spark.functions.variant import variant_num
    if kind == "boolean":
        return F.coalesce(c.getField("vb"),
                          c.getField("vs").try_cast("boolean"),
                          F.when(c.getField("vi").isNotNull(),
                                 c.getField("vi") != 0))
    if kind == "integer":
        return F.coalesce(
            c.getField("vi"), c.getField("vd").cast("long"),
            c.getField("vs").try_cast("long"),
            c.getField("vs").try_cast("double").cast("long"))
    if kind == "float":
        return F.coalesce(variant_num(c),
                          c.getField("vs").try_cast("double"))
    return F.coalesce(c.getField("vs"),
                      c.getField("vi").cast("string"),
                      c.getField("vd").cast("string"),
                      c.getField("vb").cast("string"))


def _convert_scalar(kind: str, c: Column, t) -> Column:
    if kind == "boolean":
        return c.try_cast("boolean")
    if kind == "integer":
        if isinstance(t, T.StringType):
            return F.coalesce(c.try_cast("long"),
                              c.try_cast("double").cast("long"))
        return c.try_cast("long")
    if kind == "float":
        return c.try_cast("double")
    return c.cast("string")


def _compile_conversion(name: str, conv, c: Column, env: Env):
    """ToX / ToXOrNull / ToXList with Cypher type rules; returns None to
    fall through to the plain registry implementation."""
    from memgraph_spark.functions.variant import is_variant_type
    kind, lenient, is_list = conv
    t = env.typeof(c) if env.df is not None else None
    if t is None:
        return None
    out_t = {"boolean": "boolean", "integer": "long", "float": "double",
             "string": "string"}[kind]
    if is_list:
        if not isinstance(t, T.ArrayType):
            if lenient:
                return F.lit(None).cast(f"array<{out_t}>")
            raise CompileError(f"{name}() expects a list")
        et = t.elementType
        if is_variant_type(et):
            return F.transform(c, lambda x: _convert_variant(kind, x))
        return F.transform(c, lambda x: _convert_scalar(kind, x, et))
    if is_variant_type(t):
        return _convert_variant(kind, c)
    if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
        if lenient:
            return F.lit(None).cast(out_t)
        raise CompileError(f"{name}() cannot convert a list/map")
    if not lenient:
        if kind == "boolean" and isinstance(t, _NUMERIC_T):
            raise CompileError("toBoolean() cannot convert a number")
        if kind in ("integer", "float") and isinstance(t, T.BooleanType):
            raise CompileError(f"{name}() cannot convert a boolean")
    elif kind == "boolean" and isinstance(t, _NUMERIC_T):
        return c.cast("long") != 0
    if kind == "string":
        # temporal/duration formatting lives in the registry impl
        return None
    return _convert_scalar(kind, c, t)


def _compile_func(e: A.FuncCall, env: Env) -> Column:
    name = e.name.lower()
    if name == "exists" and len(e.args) == 1 \
            and not isinstance(e.args[0], (A.Property, A.Subscript)):
        # exists() takes a property access or a pattern — anything else is
        # InvalidArgumentExpression (SemanticErrorAcceptance; patterns are
        # parsed into PatternPredicate before reaching here)
        raise CompileError(
            "exists() expects a property access or a pattern")
    # ZonedDateTime literals (temporal.hpp): datetime() text carrying an
    # explicit [Zone/Id] or ±HH:MM offset becomes an orderable struct
    # (utc epoch, nanos, offset) — struct comparison orders by instant
    # first, then offset, exactly the reference's min/max tie-break
    if name == "datetime" and e.args \
            and isinstance(e.args[0], A.Literal) \
            and isinstance(e.args[0].value, str):
        z = _parse_zoned_literal(e.args[0].value)
        if z is not None:
            epoch, nanos, off = z
            return F.struct(
                F.lit(epoch).cast("long").alias("zdt_epoch"),
                F.lit(nanos).cast("int").alias("zdt_nanos"),
                F.lit(off).cast("int").alias("zdt_off"))
    # quantifiers all/any/none/single(x IN list WHERE pred): the parser wraps
    # the predicate in a ListComprehension; compile it as a boolean lambda
    if name.startswith("__quant_") and isinstance(e.args[0], A.ListComprehension):
        lc = e.args[0]
        src = compile_expr(lc.source, env)
        st = env.typeof(src)
        et = st.elementType if isinstance(st, T.ArrayType) else None

        def pred(x: Column) -> Column:
            _mark_lambda(x)
            inner = Env(env.df, env.symbols, env.params,
                        {**env.lambda_vars, lc.var: x},
                        {**env.lambda_types, lc.var: et})
            return compile_expr(lc.where, inner)

        kind = name[len("__quant_"):]
        # Cypher 3VL quantifiers (eval.hpp All/Any/None/Single visitors):
        # a null predicate neither satisfies nor refutes — it turns the
        # result null unless a definite answer exists
        n_true = F.size(F.filter(src, lambda x: pred(x) == F.lit(True)))
        n_false = F.size(F.filter(src, lambda x: pred(x) == F.lit(False)))
        n_null = F.size(F.filter(src, lambda x: pred(x).isNull()))
        if kind == "all":
            return F.when(n_false > 0, F.lit(False)) \
                .when(n_null > 0, F.lit(None)).otherwise(F.lit(True))
        if kind == "any":
            return F.when(n_true > 0, F.lit(True)) \
                .when(n_null > 0, F.lit(None)).otherwise(F.lit(False))
        if kind == "none":
            return F.when(n_true > 0, F.lit(False)) \
                .when(n_null > 0, F.lit(None)).otherwise(F.lit(True))
        # single: >1 true is definite false, exactly 1 true is definite
        # true (nulls don't override it — Single test 05), else nulls
        # leave the answer open
        return F.when(n_true > 1, F.lit(False)) \
            .when(n_true == 1, F.lit(True)) \
            .when(n_null > 0, F.lit(None)).otherwise(F.lit(False))
    # length(p) on a named path -> its hop-count column
    if (name == "length" and e.args and isinstance(e.args[0], A.Var)
            and env.symbols.get(e.args[0].name) == "path"):
        return F.col(f"{e.args[0].name}_length")
    # nodes(p) / relationships(p) over the materialized path detail arrays
    # (ConstructNamedPath, operator.hpp:1255)
    if (name in ("nodes", "relationships") and e.args
            and isinstance(e.args[0], A.Var)
            and env.symbols.get(e.args[0].name) == "path"):
        suffix = "_nodes" if name == "nodes" else "_rels"
        return F.col(f"{e.args[0].name}{suffix}")
    # getHopsCounter() (awesome_memgraph_functions GETHOPSCOUNTER): edges
    # expanded so far — writes/expands run eagerly, so the counter is final
    # by the time RETURN compiles
    if name == "gethopscounter":
        return F.lit(int(env.hops["used"]) if env.hops else 0)
    # duration(...) constructor (src/utils/temporal.hpp): ISO-8601 string
    # literal -> DayTimeIntervalType; map form -> make_dt_interval
    if name == "duration" and e.args:
        a = e.args[0]
        if isinstance(a, A.Literal) and isinstance(a.value, str):
            import re as _re
            m = _re.fullmatch(
                r"(-)?P(?:(\d+(?:\.\d+)?)D)?"
                r"(?:T(?:(\d+(?:\.\d+)?)H)?(?:(\d+(?:\.\d+)?)M)?"
                r"(?:(\d+(?:\.\d+)?)S)?)?", a.value)
            if not m:
                raise CompileError(f"bad duration literal {a.value!r}")
            import datetime as _dt
            sign = -1 if m.group(1) else 1
            td = sign * _dt.timedelta(
                days=float(m.group(2) or 0), hours=float(m.group(3) or 0),
                minutes=float(m.group(4) or 0),
                seconds=float(m.group(5) or 0))
            return F.lit(td)
        if isinstance(a, A.MapLiteral):
            parts = {k.lower(): compile_expr(v, env)
                     for k, v in a.items.items()}

            def part(*names):
                for n in names:  # singular and plural forms both accepted
                    if n in parts:
                        return parts[n]
                return F.lit(0)
            sec = part("second", "seconds").cast("double") \
                + part("millisecond", "milliseconds").cast("double") / 1e3 \
                + part("microsecond", "microseconds").cast("double") / 1e6
            return F.make_dt_interval(
                part("day", "days"), part("hour", "hours"),
                part("minute", "minutes"), sec)
    # round(x, d): the scale must be a literal int (Spark round signature)
    if name == "round" and len(e.args) == 2 and isinstance(e.args[1], A.Literal):
        return F.round(compile_expr(e.args[0], env), e.args[1].value)
    # point({x:…, y:…}) / point({longitude:…, latitude:…}) -> typed struct
    # (awesome_memgraph_functions.cpp Point: name-family consistency, crs
    # xor srid, dimension agreement, WGS84 coordinate ranges; a null value
    # for ANY key nulls the whole point)
    if name == "point" and e.args and isinstance(e.args[0], A.MapLiteral):
        return _compile_point(e.args[0], env)
    args = [compile_expr(a, env) for a in e.args]
    # assert(expr[, message]) (awesome_memgraph_functions.cpp Assert):
    # true passes through, false raises with the evaluated message
    if name == "assert" and args:
        msg = (args[1].cast("string") if len(args) > 1
               else F.lit("Assertion failed"))
        return F.when(F.coalesce(args[0].cast("boolean"), F.lit(False)),
                      F.lit(True)).otherwise(F.raise_error(msg))
    # counter(name, initial[, step]) (awesome_memgraph_functions.cpp
    # Counter): a per-name sequence advanced once per evaluated row. The
    # row_number window is inherently sequential — counter is a test/debug
    # utility, not a scale path.
    if name == "counter":
        if not e.args or not isinstance(e.args[0], A.Literal):
            raise CompileError("counter() needs a literal name")
        init = (e.args[1].value
                if len(e.args) > 1 and isinstance(e.args[1], A.Literal)
                else 0)
        step = (e.args[2].value
                if len(e.args) > 2 and isinstance(e.args[2], A.Literal)
                else 1)
        from pyspark.sql.window import Window
        w = Window.orderBy(F.monotonically_increasing_id())
        return (F.lit(init)
                + F.lit(step) * (F.row_number().over(w) - 1)).cast("long")
    # PROJECT_PATH / DERIVE graph-value aggregations (aggregation.hpp:27):
    # a Graph/VirtualGraph value = struct(nodes: [...], edges: [...])
    if name == "project" and args:
        if len(args) >= 2:
            # PROJECT_LISTS: project(nodes_list, rels_list); null (unmatched
            # OPTIONAL) entries dropped; wrong element kinds are compile
            # errors and dangling edge endpoints raise at runtime
            # (aggregation.hpp PROJECT_LISTS, operator.cpp:6297 dedup)
            for i, (want, forbid) in enumerate((("id", "eid"),
                                                ("eid", None))):
                at = env.typeof(args[i]) if env.df is not None else None
                if isinstance(at, T.ArrayType) and \
                        isinstance(at.elementType, T.StructType):
                    names = at.elementType.names
                    if want not in names or (forbid and forbid in names):
                        raise CompileError(
                            "project() expects (list of nodes, "
                            "list of relationships)")
            nodes_a = F.array_distinct(F.flatten(F.collect_list(F.filter(
                args[0], lambda x: x.getField("id").isNotNull()))))
            edges_a = F.array_distinct(F.flatten(F.collect_list(F.filter(
                args[1], lambda x: x.getField("eid").isNotNull()))))
            ids = F.transform(nodes_a, lambda n: n.getField("id"))
            ok = F.assert_true(
                F.forall(edges_a, lambda r:
                         F.array_contains(ids, r.getField("src"))
                         & F.array_contains(ids, r.getField("dst"))),
                F.lit("project(): an edge endpoint is missing from the "
                      "projected node list"))
            return F.struct(
                nodes_a.alias("nodes"),
                F.when(ok.isNull(), edges_a).alias("edges"))
        arg = args[0]
        return F.struct(
            F.array_distinct(F.flatten(F.collect_list(
                arg.getField("nodes")))).alias("nodes"),
            F.array_distinct(F.flatten(F.collect_list(
                arg.getField("rels")))).alias("edges"))
    if name == "derive" and args:
        return _compile_derive(e, args[0], env)
    if name in ("percentiledisc", "percentilecont") and len(args) == 2:
        # percentile aggregates: disc returns a member of the set, cont
        # interpolates (openCypher percentileDisc/percentileCont)
        if name == "percentilecont":
            return F.percentile(args[0], args[1])
        return F.percentile_approx(args[0], args[1], F.lit(1_000_000))
    if name in AGGREGATES:
        # numeric-aggregate input typechecks (Aggregate cursor update loop,
        # operator.cpp:6566: non-comparable / non-numeric inputs raise):
        # mixed-type (variant) min/max/sum/avg and duration min/max error
        if name in ("min", "max", "sum", "avg") and args:
            from memgraph_spark.functions.variant import (
                _slots, is_variant_type, variant_nonnum, variant_num)
            at = env.typeof(args[0]) if env.df is not None else None
            if is_variant_type(at):
                # variant input: numeric-only values aggregate with
                # per-value typing (sum of ints stays int, min/max return
                # the element); any non-numeric value raises at runtime —
                # the reference deviates from openCypher orderability here
                # (aggregations.feature Min/Max test 01 expect the error)
                v = args[0]
                num = variant_num(v)
                n_bad = F.count(F.when(variant_nonnum(v), 1))
                raise_ = F.raise_error(F.lit(
                    f"{name}() over mixed-type values is not defined"))
                if name in ("min", "max"):
                    # lexicographic struct min/max = argmin/argmax on the
                    # numeric view, returning the element's own variant
                    agg = F.min if name == "min" else F.max
                    picked = agg(F.when(num.isNotNull(),
                                        F.struct(num.alias("k"),
                                                 v.alias("v"))))
                    return F.when(n_bad > 0, raise_).otherwise(
                        picked.getField("v"))
                if name == "sum":
                    any_d = F.count(F.when(
                        v.getField("vd").isNotNull(), 1))
                    return (F.when(n_bad > 0, raise_)
                            .when(any_d > 0, _slots(d=F.sum(num)))
                            .otherwise(_slots(i=F.coalesce(
                                F.sum(v.getField("vi")), F.lit(0)))))
                return F.when(n_bad > 0, raise_).otherwise(F.avg(num))
            if isinstance(at, T.DayTimeIntervalType):
                raise CompileError(
                    f"{name}() over durations is not defined")
        # COLLECT_MAP (aggregation.hpp:27): collect(k, v) builds a map
        if name == "collect" and len(args) == 2:
            return F.map_from_entries(
                F.collect_list(F.struct(args[0].alias("k"),
                                        args[1].alias("v"))))
        # sum over null/absent values is integer 0 (typed long, not the
        # double Spark infers for a NullType input) — CompactAggregationValue
        # initializes the sum slot to int 0
        if name == "sum":
            null_lit = (isinstance(e.args[0], A.Literal)
                        and e.args[0].value is None)
            at = env.typeof(args[0]) if env.df is not None else None
            if null_lit or isinstance(at, T.NullType):
                return F.coalesce(F.sum(args[0].cast("long")),
                                  F.lit(0).cast("long"))
        return AGGREGATES[name](args[0], e.distinct)
    # graph accessors need symbol context
    if name == "id" and isinstance(e.args[0], A.Var):
        sym = e.args[0].name
        if env.symbols.get(sym) == "node":
            return F.col(f"{sym}_id")
        if env.symbols.get(sym) == "rel":
            return F.col(f"{sym}_eid")
    def _is_graph_sym(a):
        return (isinstance(a, A.Var)
                and env.symbols.get(a.name) in ("node", "rel"))
    if name == "labels" and _is_graph_sym(e.args[0]):
        return F.col(f"{e.args[0].name}_labels")
    if name == "type" and _is_graph_sym(e.args[0]):
        return F.col(f"{e.args[0].name}_type")
    if name in ("startnode", "endnode") and _is_graph_sym(e.args[0]):
        rsym = e.args[0].name
        tgt = F.col(f"{rsym}_src" if name == "startnode" else f"{rsym}_dst")
        ends = env.rel_ends.get(rsym)
        if ends:
            a, b = ends
            if {f"{a}_id", f"{b}_id"} <= env.columns():
                # rebuild the full node struct from the endpoint symbols
                # already bound in the frame (unified field set; no join)
                return _endpoint_struct(a, b, tgt, env)
        return tgt
    if name == "properties" and isinstance(e.args[0], A.Var) \
            and env.symbols.get(e.args[0].name) in ("node", "rel"):
        sym = e.args[0].name
        cols = [c for c in env.columns()
                if c.startswith(f"{sym}_") and c not in
                (f"{sym}_id", f"{sym}_labels", f"{sym}_eid", f"{sym}_type",
                 f"{sym}_src", f"{sym}_dst")]
        return _props_as_map(
            [(A.prop_name(c[len(sym) + 1:]), F.col(c)) for c in sorted(cols)],
            env)
    if name == "keys" and isinstance(e.args[0], A.Var) \
            and env.symbols.get(e.args[0].name) in ("node", "rel"):
        # kind guard like properties(): a map VALUE bound to a variable has
        # no prefixed columns and must reach the StructType handler below
        sym = e.args[0].name
        cols = [c[len(sym) + 1:] for c in sorted(env.columns())
                if c.startswith(f"{sym}_") and c not in
                (f"{sym}_id", f"{sym}_labels", f"{sym}_eid", f"{sym}_type",
                 f"{sym}_src", f"{sym}_dst")]
        # only keys whose value is non-null on this row
        return F.filter(
            F.array(*[F.when(F.col(f"{sym}_{k}").isNotNull(),
                             F.lit(A.prop_name(k))) for k in cols]),
            lambda x: x.isNotNull(),
        )
    if name in ("size", "length"):
        # size(p)/length(p) on a path = its relationship count
        if (isinstance(e.args[0], A.Var)
                and env.symbols.get(e.args[0].name) == "path"):
            return F.col(f"{e.args[0].name}_length")
        t = env.typeof(args[0])
        if t is None and isinstance(e.args[0], A.Subscript):
            # lambda-var index defeats the frame probe, but the subject's
            # own type still names the element type (keyed roll-up maps)
            st_ = env.typeof(compile_expr(e.args[0].subject, env))
            if isinstance(st_, T.MapType):
                t = st_.valueType
            elif isinstance(st_, T.ArrayType):
                t = st_.elementType
        if isinstance(t, T.ArrayType):
            return F.size(args[0])
        if isinstance(t, T.MapType):
            return F.size(args[0])
        return F.length(args[0])
    # graph accessors over computed node/rel detail structs (path elements:
    # nodes(p)[i], relationships(p)[-1], last(nodes(p)) …)
    if name in ("tointeger", "tofloat", "toboolean", "tostring") \
            and len(args) == 1:
        ct = env.typeof(args[0])
        if ct is None and isinstance(e.args[0], A.Var) \
                and e.args[0].name in env.lambda_types:
            ct = env.lambda_types[e.args[0].name]
        from memgraph_spark.functions.variant import is_variant_type
        if is_variant_type(ct):
            # conversions over mixed-list (Any) elements: valid slots
            # convert, invalid ones raise InvalidArgumentValue at runtime
            # (TypeConversionFunctions TCK)
            v = args[0]
            vb, vi, vd, vs = (v.getField(f) for f in ("vb", "vi",
                                                      "vd", "vs"))
            va, vj = v.getField("va"), v.getField("vj")
            if name == "toboolean":
                ok = F.coalesce(
                    vb, F.when(F.lower(vs) == "true", F.lit(True))
                    .when(F.lower(vs) == "false", F.lit(False)))
                bad = (vi.isNotNull() | vd.isNotNull()
                       | va.isNotNull() | vj.isNotNull())
            elif name == "tointeger":
                ok = F.coalesce(vi, vd.cast("long"),
                                vs.try_cast("double").cast("long"))
                bad = vb.isNotNull() | va.isNotNull() | vj.isNotNull()
            elif name == "tofloat":
                ok = F.coalesce(vd, vi.cast("double"),
                                vs.try_cast("double"))
                bad = vb.isNotNull() | va.isNotNull() | vj.isNotNull()
            else:
                ok = F.coalesce(
                    vs, vi.cast("string"), vd.cast("string"),
                    F.when(vb, F.lit("true")).when(~vb, F.lit("false")))
                bad = va.isNotNull() | vj.isNotNull()
            return (F.when(v.isNull(), F.lit(None))
                    .when(bad, F.raise_error(F.lit(
                        f"InvalidArgumentValue: {name}() on a "
                        "non-convertible value")))
                    .otherwise(ok))
    if name in ("type", "id", "labels", "startnode", "endnode",
                "properties", "keys") and len(args) == 1:
        t = env.typeof(args[0])
        if t is None and isinstance(e.args[0], A.Var) \
                and e.args[0].name in env.lambda_types:
            t = env.lambda_types[e.args[0].name]
        from memgraph_spark.functions.variant import is_variant_type
        if is_variant_type(t):
            # graph accessor on a mixed-list element: the graph value
            # lives in the vj slot; any other slot holding a value is a
            # runtime TypeError (FunctionsAcceptance InvalidArgumentValue)
            v = args[0]
            vj = v.getField("vj")
            bad = (v.getField("vb").isNotNull() | v.getField("vi").isNotNull()
                   | v.getField("vd").isNotNull()
                   | v.getField("vs").isNotNull()
                   | v.getField("va").isNotNull())
            if name == "type":
                val = F.get_json_object(vj, "$.type")
            elif name == "labels":
                val = F.from_json(F.get_json_object(vj, "$.labels"),
                                  "array<string>")
            elif name == "id":
                val = F.coalesce(F.get_json_object(vj, "$.eid"),
                                 F.get_json_object(vj, "$.id")).cast("long")
            else:
                val = F.lit(None)
            return (F.when(v.isNull(), F.lit(None))
                    .when(bad | val.isNull(), F.raise_error(F.lit(
                        f"InvalidArgumentValue: {name}() expects a graph "
                        "element")))
                    .otherwise(val))
        if isinstance(t, T.StructType):
            meta = ("id", "eid", "labels", "type", "src", "dst")
            if name == "type" and "type" in t.names:
                return args[0].getField("type")
            if name == "id":
                key = "eid" if "eid" in t.names else "id"
                if key in t.names:
                    return args[0].getField(key)
            if name == "labels" and "labels" in t.names:
                return args[0].getField("labels")
            if name == "startnode" and "src" in t.names:
                return args[0].getField("src")
            if name == "endnode" and "dst" in t.names:
                return args[0].getField("dst")
            if name == "properties":
                if not any(f in t.names for f in meta):
                    return args[0]  # map-as-struct subject: identity
                return _props_as_map(
                    [(A.prop_name(f), args[0].getField(f))
                     for f in t.names if f not in meta], env)
            if name == "keys":
                if isinstance(e.args[0], A.MapLiteral):
                    # an explicit map keeps null-valued entries (unstable.
                    # feature Keys test: keys({a: null}) is ['a']); only
                    # graph-element property maps treat null as absent
                    return F.array(*[F.lit(A.prop_name(f))
                                     for f in t.names if f not in meta])
                return F.filter(
                    F.array(*[F.when(args[0].getField(f).isNotNull(),
                                     F.lit(A.prop_name(f)))
                              for f in t.names if f not in meta]),
                    lambda x: x.isNotNull())
        if isinstance(t, T.MapType):
            if name == "keys":
                return F.map_keys(args[0])
            if name == "properties":
                return args[0]
        if isinstance(t, T.NullType) or t is None:
            # graph accessors propagate null (FunctionsAcceptance TCK)
            return F.lit(None)
    # valueType(v) (awesome_memgraph_functions.cpp:774): standardized
    # openCypher type names; the frame schema resolves the type at compile
    # time, a null guard covers the runtime NULL case
    if name == "valuetype" and len(args) == 1:
        a = e.args[0]
        if isinstance(a, A.Var):
            kind = env.symbols.get(a.name)
            if kind == "node":
                return F.lit("NODE")
            if kind == "rel":
                return F.lit("RELATIONSHIP")
            if kind == "path":
                return F.lit("PATH")
        t = env.typeof(args[0])
        tname = None
        if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            tname = "INTEGER"
        elif isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
            tname = "FLOAT"
        elif isinstance(t, T.StringType):
            tname = "STRING"
        elif isinstance(t, T.BooleanType):
            tname = "BOOLEAN"
        elif isinstance(t, T.ArrayType):
            tname = "LIST"
        elif isinstance(t, T.MapType):
            tname = "MAP"
        elif isinstance(t, T.DateType):
            tname = "DATE"
        elif isinstance(t, T.TimestampNTZType):
            tname = "LOCAL_DATE_TIME"
        elif isinstance(t, T.TimestampType):
            tname = "ZONED_DATE_TIME"
        elif isinstance(t, T.DayTimeIntervalType):
            tname = "DURATION"
        elif isinstance(t, T.StructType):
            if "srid" in t.names:
                tname = "POINT"
            elif "nodes" in t.names and "edges" in t.names:
                tname = "GRAPH"
            elif "src" in t.names and "dst" in t.names:
                tname = "RELATIONSHIP"
            elif "id" in t.names or "labels" in t.names:
                tname = "NODE"
            else:
                tname = "MAP"
        if tname is None:
            return F.lit("NULL")
        return F.when(args[0].isNull(), F.lit("NULL")).otherwise(F.lit(tname))
    # toStringOrNull (awesome_memgraph_functions.cpp:1372): values outside
    # the stringifiable set -> null instead of an error
    if name == "tostringornull" and len(args) == 1:
        t = env.typeof(args[0])
        if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            return F.lit(None).cast("string")
        return args[0].cast("string")
    # toEnum(name[, value]) (awesome_memgraph_functions.cpp:1816): resolve
    # against the enum registry; enum values intern to `Type::Value` strings
    if name == "toenum" and args:
        registry = getattr(env.graph, "enum_registry", None) or {}
        lits = [a.value for a in e.args
                if isinstance(a, A.Literal) and isinstance(a.value, str)]
        if len(lits) == len(e.args):
            s = lits[0] if len(lits) == 1 else f"{lits[0]}::{lits[1]}"
            typ, _, val = s.partition("::")
            if registry and val not in registry.get(typ, []):
                raise CompileError(f"Invalid enum '{s}'")
            return _enum_value(s)
        candidate = (args[0] if len(args) == 1
                     else F.concat(args[0], F.lit("::"), args[1]))
        if registry:
            valid = [f"{t_}::{v}" for t_, vs in registry.items() for v in vs]
            candidate = F.when(candidate.isin(valid), candidate)
        return F.struct(F.lit("mg_enum").alias("__type"),
                        candidate.alias("__value"))
    # propertySize(entity, 'prop') (awesome_memgraph_functions.cpp:547):
    # encoded byte size per the PropertyStore layout (property_store.cpp):
    # 1 metadata byte + 1 property-id byte + magnitude-dependent payload;
    # absent property -> 0
    if name == "propertysize" and len(e.args) == 2:
        sub, key = e.args[0], e.args[1]
        if not (isinstance(sub, A.Var)
                and env.symbols.get(sub.name) in ("node", "rel")
                and isinstance(key, A.Literal)):
            raise CompileError("propertySize expects (entity, 'property')")
        col = f"{sub.name}_{A.prop_col(key.value)}"
        if col not in env.columns():
            return F.lit(0).cast("long")
        c = F.col(col)
        t = env.typeof(c)
        if isinstance(t, T.BooleanType):
            payload = F.lit(0)
        elif isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            payload = (F.when(F.abs(c) <= 127, 1)
                       .when(F.abs(c) <= 32767, 2)
                       .when(F.abs(c) <= 2147483647, 4).otherwise(8))
        elif isinstance(t, (T.DoubleType, T.FloatType)):
            payload = F.lit(8)
        elif isinstance(t, T.StringType):
            # payload-size bytes (1/2/4 by length) + the bytes themselves
            payload = (F.when(F.octet_length(c) <= 255, 1)
                       .when(F.octet_length(c) <= 65535, 2)
                       .otherwise(4) + F.octet_length(c))
        elif isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType,
                            T.DayTimeIntervalType)):
            payload = F.lit(9)  # temporal: 1 subtype byte + 8-byte micros
        elif isinstance(t, T.ArrayType):
            # numeric lists: f64 in the property store (4 header + 8/elem);
            # under k covering vector indexes the storage is k f32 copies
            # (3 header + 4*dim each side) — vector_search.feature sizes
            k = F.lit(0)
            labels_col = (F.col(f"{sub.name}_labels")
                          if f"{sub.name}_labels" in env.columns()
                          else F.array().cast("array<string>"))
            for idx in getattr(env.graph, "vector_indexes", {}).values():
                if idx["property"] != key.value or idx["on_edges"]:
                    continue
                if idx["combi"] == "wildcard":
                    cov = F.lit(True)
                elif idx["combi"] in ("single", "and"):
                    cov = F.lit(True)
                    for lb in idx["labels"]:
                        cov = cov & F.array_contains(labels_col, lb)
                else:  # or
                    cov = F.lit(False)
                    for lb in idx["labels"]:
                        cov = cov | F.array_contains(labels_col, lb)
                k = k + F.when(cov, 1).otherwise(0)
            sz = F.size(c)
            return F.when(c.isNull(), F.lit(0)).otherwise(
                F.when(k > 0, 3 + 4 * sz * k)
                .otherwise(4 + 8 * sz)).cast("long")
        else:
            payload = F.lit(8)  # maps/points: conservative floor
        return F.when(c.isNull(), F.lit(0)) \
                .otherwise(payload + 2).cast("long")
    # path_module magic functions (src/mage/cpp/path_module/path_module.cpp:
    # 20-33) over the materialized path struct (nodes/rels detail arrays)
    if name in ("path.elements", "path.combine", "path.slice") and args:
        p = args[0]
        t = env.typeof(p)
        if not isinstance(t, T.StructType) or "nodes" not in t.names:
            raise CompileError(f"{name} expects a path")
        nodes, rels = p.getField("nodes"), p.getField("rels")
        if name == "path.elements":
            # alternate node/relationship; one side null per element
            null_rel = F.when(F.lit(False), F.element_at(rels, 1))
            pairs = F.flatten(F.zip_with(
                F.slice(nodes, 1, F.size(rels)), rels,
                lambda n, r: F.array(
                    F.struct(n.alias("node"),
                             F.when(F.lit(False), r).alias("relationship")),
                    F.struct(F.when(F.lit(False), n).alias("node"),
                             r.alias("relationship")))))
            last = F.array(F.struct(
                F.element_at(nodes, -1).alias("node"),
                null_rel.alias("relationship")))
            return F.concat(pairs, last)
        if name == "path.combine":
            q = args[1]
            qt = env.typeof(q)
            if not isinstance(qt, T.StructType) or "nodes" not in qt.names:
                raise CompileError("path.combine expects two paths")
            n2, r2 = q.getField("nodes"), q.getField("rels")
            return F.struct(
                F.concat(nodes, F.slice(n2, 2, F.greatest(
                    F.size(n2) - 1, F.lit(0)))).alias("nodes"),
                F.concat(rels, r2).alias("rels"))
        # path.slice(p, offset=0, length=-1): length in relationships
        off = args[1] if len(args) > 1 else F.lit(0)
        ln = args[2] if len(args) > 2 else F.lit(-1)
        eff = F.when(ln < 0, F.size(rels) - off).otherwise(ln)
        return F.struct(
            F.slice(nodes, (off + 1).cast("int"),
                    (eff + 1).cast("int")).alias("nodes"),
            F.slice(rels, (off + 1).cast("int"),
                    eff.cast("int")).alias("rels"))
    # convert.to_map (query_modules/convert.cpp): map-shaped value -> MAP
    if name == "convert.to_map" and args:
        t = env.typeof(args[0])
        if isinstance(t, T.MapType):
            return args[0]
        if isinstance(t, T.StructType):
            return F.map_from_arrays(
                F.array(*[F.lit(f) for f in t.names]),
                F.array(*[args[0].getField(f).cast("string")
                          for f in t.names]))
        raise CompileError("convert.to_map expects a map value")
    # username()/roles() (awesome_memgraph_functions.cpp:2021/2035): no auth
    # subsystem in the batch engine -> null / empty list, matching the
    # reference's no-user behavior
    if name == "username":
        return F.lit(None).cast("string")
    if name == "roles":
        return F.array().cast("array<string>")
    # type-checked conversions (awesome_memgraph_functions ToBoolean/
    # ToInteger/ToFloat + OrNull + List variants): invalid input TYPES
    # raise for the strict forms and null for OrNull; invalid string VALUES
    # yield null; toInteger parses float text then truncates toward zero
    conv = _conversion_kind(name)
    if conv is not None and args:
        out = _compile_conversion(name, conv, args[0], env)
        if out is not None:
            return out
    # math functions typecheck: non-numeric input raises (eval.hpp coercion
    # errors; Abs/Exp test 02), a typed-null argument propagates null
    if name in ("abs", "exp", "log", "log10", "sqrt", "sin", "cos", "tan",
                "asin", "acos", "atan", "sign", "floor", "ceil") and args:
        _t = env.typeof(args[0]) if env.df is not None else None
        from memgraph_spark.functions.variant import (
            _slots, is_variant_type, variant_nonnum, variant_num)
        if is_variant_type(_t):
            # mixed-type (variant) argument: numeric slots compute with
            # per-value typing (Abs keeps int — awesome_memgraph_functions
            # .cpp:1102), non-numeric values raise at runtime
            v = args[0]
            num = variant_num(v)
            if name == "abs":
                good = _slots(i=F.abs(v.getField("vi")),
                              d=F.abs(v.getField("vd")))
            elif name == "sign":
                good = (F.when(num > 0, F.lit(1)).when(num < 0, F.lit(-1))
                        .otherwise(F.lit(0))).cast("long")
            elif name in ("floor", "ceil"):
                fn = F.floor if name == "floor" else F.ceil
                good = fn(num).cast("double")
            elif name in ("log", "log10"):
                fn = F.log if name == "log" else F.log10
                good = F.when(num < 0, F.lit(float("nan"))) \
                    .otherwise(F.coalesce(fn(num), F.lit(float("-inf"))))
            elif name == "sqrt":
                good = F.when(num < 0, F.lit(float("nan"))) \
                    .otherwise(F.sqrt(num))
            else:
                good = getattr(F, name)(num)
            return (F.when(v.isNull(), F.lit(None))
                    .when(variant_nonnum(v), F.raise_error(F.lit(
                        f"{name}() expects a number")))
                    .otherwise(good))
        if isinstance(_t, (T.StringType, T.BooleanType, T.ArrayType,
                           T.MapType, T.StructType)):
            raise CompileError(f"{name}() expects a number")
        if _t is not None and isinstance(_t, T.NullType):
            return F.lit(None).cast("double")
        if name in ("log", "log10") and _t is not None:
            # log of a negative is NaN (not Spark's null) — Log test 03
            c = args[0].cast("double")
            fn = F.log if name == "log" else F.log10
            return F.when(c < 0, F.lit(float("nan")))                     .when(c.isNotNull(), F.coalesce(fn(c),
                                                    F.lit(float("-inf"))))
        if name == "sqrt" and _t is not None:
            c = args[0].cast("double")
            return F.when(c < 0, F.lit(float("nan")))                     .otherwise(F.sqrt(c))
    # spatial functions: a null-literal point argument propagates null
    if name in ("point.distance", "point.withinbbox") and args:
        ts = [env.typeof(a) if env.df is not None else None for a in args]
        if any(isinstance(t, T.NullType) for t in ts):
            return F.lit(None)
    # null-typed argument propagates for the plain list accessors
    if name in ("head", "last", "tail", "reverse") and args:
        _t = env.typeof(args[0]) if env.df is not None else None
        if isinstance(_t, T.NullType):
            return F.lit(None)
    if name in FUNCTIONS:
        if name.startswith("vector_search."):
            # numeric-vector functions accept mixed int/float literals
            # ([1, 2.0, 3] — vector_cosine_similarity.feature): lower a
            # variant array to its numeric view
            from memgraph_spark.functions.variant import (
                is_variant_type, variant_num)
            lowered = []
            for a in args:
                t = env.typeof(a) if env.df is not None else None
                if isinstance(t, T.ArrayType) \
                        and is_variant_type(t.elementType):
                    a = F.transform(a, variant_num)
                lowered.append(a)
            args = lowered
        fn = FUNCTIONS[name]
        return fn(*args)
    # nodes(x)/relationships(x) where x is a path VALUE (lambda var over
    # collect(p), list element, …) rather than a named path symbol: the
    # path struct carries (nodes, rels, dirs) fields
    if name in ("nodes", "relationships") and args:
        return args[0].getField("nodes" if name == "nodes" else "rels")
    raise CompileError(f"unknown function {e.name}")


def _compile_derive(e: A.FuncCall, path: Column, env: Env) -> Column:
    """DERIVE aggregation (aggregation.hpp:27, operator.cpp:6297): each path
    collapses to one virtual edge between its endpoints; options control the
    virtual type, endpoint label/property overrides and undirected doubling.
    The VirtualGraph value = struct(nodes, edges) where each virtual edge
    embeds its endpoint node structs (startNode/endNode return full nodes)."""
    opts = e.args[1] if len(e.args) > 1 else A.MapLiteral({})
    if not isinstance(opts, A.MapLiteral):
        raise CompileError("derive options must be a map literal")
    o = opts.items
    t = env.typeof(path)
    if not isinstance(t, T.StructType) or "nodes" not in t.names:
        raise CompileError("derive expects a path")
    node_t = t["nodes"].dataType.elementType
    names = list(node_t.names)
    for key in ("sourceNodeProperties", "targetNodeProperties"):
        if key in o:
            if not isinstance(o[key], A.MapLiteral):
                raise CompileError(f"derive {key} must be a map literal")
            for k in o[key].items:
                if A.prop_col(k) not in names:
                    names.append(A.prop_col(k))

    def build_node(base: Column, labels_key: str, props_key: str) -> Column:
        fields: dict[str, Column] = {}
        for f in names:
            fields[f] = (base.getField(f) if f in node_t.names
                         else F.lit(None))
        if labels_key in o:
            lv = o[labels_key]
            if not isinstance(lv, A.ListLiteral):
                raise CompileError(f"derive {labels_key} must be a list")
            fields["labels"] = F.array(
                *[compile_expr(x, env).cast("string") for x in lv.items])
        if props_key in o:
            for k, v in o[props_key].items.items():
                fields[A.prop_col(k)] = compile_expr(v, env)
        return F.struct(*[c.alias(f) for f, c in fields.items()])

    nodes = path.getField("nodes")
    src = build_node(F.element_at(nodes, 1),
                     "sourceNodeLabels", "sourceNodeProperties")
    dst = build_node(F.element_at(nodes, -1),
                     "targetNodeLabels", "targetNodeProperties")
    if "virtualEdgeType" not in o:
        raise CompileError("derive requires a virtualEdgeType option")
    vtype = compile_expr(o["virtualEdgeType"], env).cast("string")
    eprops: dict[str, Column] = {}
    if "relationshipProperties" in o:
        if not isinstance(o["relationshipProperties"], A.MapLiteral):
            raise CompileError(
                "derive relationshipProperties must be a map literal")
        for k, v in o["relationshipProperties"].items.items():
            eprops[A.prop_col(k)] = compile_expr(v, env)

    def vedge(s: Column, d: Column) -> Column:
        # synthetic virtual-edge identity (the reference's VirtualEdge gid)
        return F.struct(
            F.xxhash64(vtype, s.getField("id"), d.getField("id"))
            .alias("eid"),
            vtype.alias("type"), s.alias("src"), d.alias("dst"),
            *[c.alias(k) for k, c in eprops.items()])

    per_row = F.array(vedge(src, dst))
    if "undirectedEdgeTypes" in o:
        uv = o["undirectedEdgeTypes"]
        if isinstance(uv, A.Literal) and uv.value == "*":
            cond = F.lit(True)
        elif isinstance(uv, A.ListLiteral) and all(
                isinstance(x, A.Literal) and isinstance(x.value, str)
                for x in uv.items):
            vals = [x.value for x in uv.items]
            cond = (F.lit(True) if "*" in vals else vtype.isin(vals))
        else:
            raise CompileError(
                "derive undirectedEdgeTypes must be '*' or a list of "
                "edge-type strings")
        # self-loops stay single
        cond = cond & (src.getField("id") != dst.getField("id"))
        per_row = F.when(cond, F.array(vedge(src, dst), vedge(dst, src))) \
            .otherwise(F.array(vedge(src, dst)))
    return F.struct(
        F.array_distinct(F.flatten(F.collect_list(
            F.array(src, dst)))).alias("nodes"),
        F.array_distinct(F.flatten(F.collect_list(per_row))).alias("edges"))


def _compile_case(e: A.CaseExpr, env: Env) -> Column:
    col = None
    subject = compile_expr(e.test, env) if e.test is not None else None
    for cond_e, val_e in e.whens:
        cond = compile_expr(cond_e, env)
        if subject is not None:
            cond = subject == cond
        val = compile_expr(val_e, env)
        col = F.when(cond, val) if col is None else col.when(cond, val)
    default = compile_expr(e.default, env) if e.default is not None else F.lit(None)
    return col.otherwise(default) if col is not None else default


def contains_aggregate(e: A.Expr) -> bool:
    if isinstance(e, A.CountStar):
        return True
    if isinstance(e, A.FuncCall):
        if e.name.lower() in AGGREGATES:
            return True
        return any(contains_aggregate(a) for a in e.args)
    if isinstance(e, A.BinaryOp):
        return contains_aggregate(e.left) or contains_aggregate(e.right)
    if isinstance(e, A.UnaryOp):
        return contains_aggregate(e.operand)
    if isinstance(e, A.IsNull):
        return contains_aggregate(e.operand)
    if isinstance(e, A.Property):
        return contains_aggregate(e.subject)
    if isinstance(e, A.CaseExpr):
        parts = [e.test] if e.test else []
        parts += [x for w in e.whens for x in w]
        parts += [e.default] if e.default else []
        return any(contains_aggregate(p) for p in parts)
    if isinstance(e, (A.Subscript, A.Slice)):
        return contains_aggregate(e.subject)
    if isinstance(e, A.ListLiteral):
        return any(contains_aggregate(x) for x in e.items)
    if isinstance(e, A.MapLiteral):
        return any(contains_aggregate(v) for v in e.items.values())
    if isinstance(e, A.MapProjection):
        # n {.name, c: count(*)} — kv entries may hold aggregates
        return any(contains_aggregate(it[2]) for it in e.items
                   if it[0] == "kv")
    if isinstance(e, (A.ExistsSubquery, A.PatternComprehension)):
        return False  # their aggregates live in their own scope
    if isinstance(e, A.ListComprehension):
        # [x IN collect(p) | …] is an aggregated projection item
        return (contains_aggregate(e.source)
                or (e.where is not None and contains_aggregate(e.where))
                or (e.projection is not None
                    and contains_aggregate(e.projection)))
    if isinstance(e, A.ReduceExpr):
        return (contains_aggregate(e.source) or contains_aggregate(e.init)
                or contains_aggregate(e.body))
    return False


def non_aggregate_refs(e: A.Expr, symbols: dict[str, str]) -> list[A.Expr]:
    """Non-aggregated bound-symbol references inside a mixed projection item
    — the reference's implicit grouping keys (operator.cpp:6323 collects
    every non-aggregate sub-expression of an Aggregate's named expressions).
    `RETURN {k: n.x, c: collect(m)}` groups by n.x."""
    import dataclasses
    out: list[A.Expr] = []

    def walk(x):
        if isinstance(x, A.FuncCall) and x.name.lower() in AGGREGATES:
            return  # inside an aggregate: not a grouping key
        if isinstance(x, A.CountStar):
            return
        if isinstance(x, A.MapProjection):
            # n {.name, c: count(*)}: the subject itself is a non-aggregate
            # sub-expression, so grouping is per ELEMENT (reference
            # semantics). Emitted as id(n) plus the projected property
            # columns — the exact expressions the projection compiles to,
            # so Spark's GROUP BY validation matches them (a node STRUCT
            # key would not match the per-column references).
            if isinstance(x.subject, A.Var) and x.subject.name in symbols:
                out.append(A.FuncCall("id", [x.subject]))
            for it in x.items:
                if it[0] == "prop":
                    out.append(A.Property(x.subject, it[1]))
                elif it[0] == "kv":
                    walk(it[2])
                elif it[0] == "var":
                    walk(A.Var(it[1]))
                else:  # ("all",)
                    walk(x.subject)
            return
        if isinstance(x, A.Property) and isinstance(x.subject, A.Var) \
                and x.subject.name in symbols:
            out.append(x)
            return
        if isinstance(x, A.Var) and x.name in symbols:
            out.append(x)
            return
        if isinstance(x, dict):
            for v in x.values():
                walk(v)
            return
        if isinstance(x, (list, tuple)):
            for v in x:
                walk(v)
            return
        if dataclasses.is_dataclass(x):
            for f in dataclasses.fields(x):
                walk(getattr(x, f.name))

    walk(e)
    return out
