"""Write clauses (SURVEY §2.8): CREATE / SET / REMOVE / DELETE / MERGE as
batch table-version producers.

Reference: CreateNode (operator.hpp:411), CreateExpand (:494), Delete
(operator.cpp:4764), SetProperty/SetProperties/SetLabels (:1448-1590), Merge
(:7194) mutate MVCC storage per pulled row. Spark re-expression: every write
computes a *diff DataFrame* from the current frame, eagerly materializes it
(the Accumulate barrier, operator.hpp:1870, comes free: reads after a write
see the new table version, reads before it were planned against the old
one), and swaps a new immutable table version into the PropertyGraph. A diff
of at most LOCAL_DELTA_MAX rows materializes as a LocalRelation, a larger
one as a localCheckpoint (catalog "versioned writes"). At lake scale
the same diffs become Delta/Iceberg MERGE / append commits; correctness
never depends on in-place mutation.

Deliberately NOT ported (SURVEY §1.2): per-object MVCC delta chains, WAL,
replication — a table version IS the snapshot.

Known MERGE limitation (flagged): when one MERGE both matches some rows and
creates others, ON MATCH SET is skipped for the matched subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from memgraph_spark.catalog import KEY_BITS, LABEL_CODES, register_label
from memgraph_spark.operators.scan import prefix_columns
from memgraph_spark.plans import cypher_ast as A
from memgraph_spark.plans.exprs import CompileError, compile_expr
from memgraph_spark.session import (
    checkpoint_with_metrics, collect_local, free_checkpoint, is_local,
    local_frame, observe_metrics, pin_small)

# Largest write delta (created rows, update set, DELETE victims) kept as a
# driver-side LocalRelation. Above it a delta is a localCheckpoint: the path
# that scales. Either way it is evaluated once (_pin).
LOCAL_DELTA_MAX = 1000


_NOT_LIT = object()


def _lit_value(e):
    """Python value of a literal-only expression, else _NOT_LIT. Drives the
    driver-side CREATE fast path: a pure CREATE-chain statement
    (LargeCreateQuery: hundreds of clauses) accumulates plain rows and
    writes ONE table version per label/type instead of building a
    per-clause Spark plan over an ever-wider frame."""
    if isinstance(e, A.Literal):
        v = e.value
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        return _NOT_LIT
    if isinstance(e, A.UnaryOp) and e.op == "-":
        v = _lit_value(e.operand)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return -v
        return _NOT_LIT
    if isinstance(e, A.ListLiteral):
        out = []
        for x in e.items:
            v = _lit_value(x)
            if v is _NOT_LIT or isinstance(v, list):
                return _NOT_LIT
            out.append(v)
        return out
    return _NOT_LIT


def _lit_type(v):
    """Spark type for a literal python value; None = unsupported shape."""
    if v is None:
        return T.NullType()
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        ets = {type(x) for x in v if x is not None}
        if len(ets) > 1 or any(x is None for x in v):
            return None
        if not ets:
            return T.ArrayType(T.StringType())
        et = _lit_type(next(iter(v)))
        if et is None or isinstance(et, (T.NullType, T.ArrayType)):
            return None
        return T.ArrayType(et)
    return None


def _lit_column(v, t):
    """Column literal for a recorded python value of type t."""
    if isinstance(t, T.ArrayType):
        return F.array(*[F.lit(x) for x in v]).cast(t)
    if isinstance(t, T.NullType):
        return F.lit(None)
    return F.lit(v).cast(t)


def _next_label_ord(g) -> int:
    """Monotone sequence for extra-label insertion order (labels() returns
    labels in the order they were added, vertex_accessor.cpp AddLabel)."""
    seq = getattr(g, "_label_ord_seq", 0) + 1000
    g._label_ord_seq = seq
    return seq


def _reconcile_update(t: DataFrame, updates: DataFrame, key: str,
                      additive: bool):
    """(old, new) columns for a SET update join, reconciling a type change
    (e.g. map property overwritten with an int): numeric conflicts widen to
    double, anything else lifts both sides to the variant struct — the same
    schemaless rule as _union_missing."""
    from memgraph_spark.functions.variant import to_variant
    old_t = t.schema[key].dataType if key in t.columns else None
    new_t = updates.schema["__v"].dataType
    old = F.col(key) if key in t.columns else F.lit(None).cast(new_t)
    new = (old + F.col("__v")) if additive else F.col("__v")
    if additive or old_t is None or isinstance(old_t, T.NullType) \
            or old_t == new_t:
        return old, new
    ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    floats = (T.DoubleType, T.FloatType)
    if isinstance(old_t, ints) and isinstance(new_t, ints):
        return old.cast("long"), new.cast("long")
    if isinstance(old_t, floats) and isinstance(new_t, floats):
        return old.cast("double"), new.cast("double")
    if isinstance(new_t, T.NullType):
        return old, new.cast(old_t)
    # int-vs-float (and every other) conflict lifts to the variant struct:
    # the reference keeps per-value types (abs(1) is 1, not 1.0 —
    # functions.feature Abs test 03)
    return to_variant(old, old_t), to_variant(new, new_t)


def _struct_merge(old: "F.Column", oldt, new: "F.Column", newt):
    """Map-as-struct merge for `+=`: new entries win on key collision; a
    null/absent old map takes the new map wholesale; a primitive old value
    is an error (nested_property_update.feature append-to-primitive)."""
    if not isinstance(newt, T.StructType):
        raise CompileError("SET ... += expects a map value")
    if oldt is None or isinstance(oldt, T.NullType):
        return new
    if not isinstance(oldt, T.StructType):
        raise CompileError("cannot append a map to a non-map property")
    keep = [f for f in oldt.names if f not in newt.names]
    merged = F.struct(*([old.getField(f).alias(f) for f in keep]
                        + [new.getField(f).alias(f) for f in newt.names]))
    made = F.struct(*([F.lit(None).cast(oldt[f].dataType).alias(f)
                       for f in keep]
                      + [new.getField(f).alias(f) for f in newt.names]))
    return F.when(old.isNull(), made).otherwise(merged)


def _nested_value(old: "F.Column", oldt, path: list[str],
                  val: "F.Column", vt, op: str):
    """Rebuild a map property with `path` set/merged to `val`. Missing
    intermediates are created for `=`; a primitive intermediate (or a
    primitive `+=` payload) raises like the reference."""
    if not path:
        if op == "+=":
            return _struct_merge(old, oldt, val, vt)
        return val
    key = path[0]
    if isinstance(oldt, T.StructType) and key in oldt.names:
        sub, subt = old.getField(key), oldt[key].dataType
    elif oldt is None or isinstance(oldt, T.NullType) \
            or isinstance(oldt, T.StructType):
        sub, subt = F.lit(None), T.NullType()
    else:
        raise CompileError(
            "cannot set a nested property through a non-map value")
    if path[1:] and not isinstance(subt, (T.StructType, T.NullType)):
        raise CompileError(
            "cannot set a nested property through a non-map value")
    if op == "+=" and len(path) == 1 and not isinstance(
            subt, (T.StructType, T.NullType)):
        raise CompileError("cannot append a map to a non-map property")
    inner = _nested_value(sub, subt, path[1:], val, vt, op)
    if isinstance(oldt, T.StructType):
        others = [f for f in oldt.names if f != key]
        rebuilt = F.struct(*([old.getField(f).alias(f) for f in others]
                             + [inner.alias(key)]))
        made = F.struct(*([F.lit(None).cast(oldt[f].dataType).alias(f)
                           for f in others] + [inner.alias(key)]))
        return F.when(old.isNull(), made).otherwise(rebuilt)
    return F.struct(inner.alias(key))


def _nested_remove(old: "F.Column", oldt, path: list[str]):
    """REMOVE n.a.b: drop the key from the stored map. A missing
    intermediate map raises (nested_property_update.feature); a missing
    final key is a no-op; removing the last key leaves an empty map."""
    if not isinstance(oldt, T.StructType):
        raise CompileError(
            "cannot REMOVE a nested property through a non-map value")
    key = path[0]
    if key not in oldt.names:
        if len(path) == 1:
            return old
        raise CompileError(
            "cannot REMOVE a nested property through a non-map value")
    if len(path) == 1:
        others = [f for f in oldt.names if f != key]
        if not others:
            return F.create_map().cast("map<string,string>")
        return F.struct(*[old.getField(f).alias(f) for f in others])
    inner = _nested_remove(old.getField(key), oldt[key].dataType, path[1:])
    return F.struct(*([old.getField(f).alias(f)
                       for f in oldt.names if f != key]
                      + [inner.alias(key)]))


def _pin(df: DataFrame, fits: bool | None = None,
         **sets) -> tuple[DataFrame, int, dict]:
    """(df evaluated once, its row count, the distinct values of each
    `sets` column). At most LOCAL_DELTA_MAX rows become a LocalRelation,
    and the values are read off it without a job. `fits` says whether df
    is known to be that small: True collects it, False checkpoints it
    straight away (the checkpoint job counts it and collects the values).
    None tries it (session.pin_small): more rows stay in the local
    checkpoint that job filled, and one more job over its blocks counts
    them and collects the values."""
    metrics = {"__n": F.count(F.lit(1))}
    metrics.update({k: F.collect_set(c) for k, c in sets.items()})
    if fits is None:
        df, n = pin_small(df, LOCAL_DELTA_MAX)
        if n is None:
            m = observe_metrics(df, **metrics)
            return df, m["__n"], {k: set(m[k]) for k in sets}
    elif fits:
        df, n = collect_local(df)
    else:
        df, m = checkpoint_with_metrics(df, **metrics)
        return df, m["__n"], {k: set(m[k]) for k in sets}
    return df, n, {k: {r[0] for r in df.select(c).collect()}
                   for k, c in sets.items()}


def _label_code(col: str) -> "F.Column":
    """The label code an engine-minted id carries in its top bits."""
    return F.shiftrightunsigned(F.col(col), KEY_BITS)


_LITERAL_TYPES = (T.BooleanType, T.LongType, T.IntegerType, T.DoubleType,
                  T.StringType)


def _with_update(t: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """`t` with the update set's __v and __hit beside each row (null where
    the row is not updated). A local update set of atomic values is
    inlined as literals, an id set and an id -> value map, so a read of
    the new version runs no broadcast job for it; anything else joins."""
    vt = updates.schema["__v"].dataType
    if not (is_local(updates) and isinstance(vt, _LITERAL_TYPES)):
        return t.join(updates, on=key, how="left")
    rows = [r for r in updates.select(key, "__v").collect()
            if r[0] is not None]
    hit = F.col(key).isin([r[0] for r in rows])
    vals = (F.create_map(*[x for k, v in rows for x in
                           (F.lit(k).cast("long"), F.lit(v).cast(vt))])
            [F.col(key)] if rows else F.lit(None).cast(vt))
    return t.withColumns({"__v": F.when(hit, vals),
                          "__hit": F.when(hit, F.lit(True))})


def _union_missing(left: DataFrame, right: DataFrame) -> DataFrame:
    """Union two table versions, reconciling per-property type conflicts
    (SURVEY §1.3 — the reference is schemaless, so one property may hold
    different types on different rows): numeric conflicts widen to double,
    anything else falls back to the tagged variant struct."""
    from memgraph_spark.functions.variant import to_variant
    lt = {f.name: f.dataType for f in left.schema.fields}
    rt = {f.name: f.dataType for f in right.schema.fields}
    for name in set(lt) & set(rt):
        a, b = lt[name], rt[name]
        if a == b:
            continue
        # an all-null side ({x: null}) is typeless, not a type conflict:
        # coerce it to the other side's type (Sum/Sqrt test 02)
        if isinstance(a, T.NullType):
            left = left.withColumn(name, F.col(name).cast(b))
            continue
        if isinstance(b, T.NullType):
            right = right.withColumn(name, F.col(name).cast(a))
            continue
        ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        floats = (T.DoubleType, T.FloatType)
        ae = a.elementType if isinstance(a, T.ArrayType) else None
        be = b.elementType if isinstance(b, T.ArrayType) else None
        if isinstance(a, ints) and isinstance(b, ints):
            left = left.withColumn(name, F.col(name).cast("long"))
            right = right.withColumn(name, F.col(name).cast("long"))
        elif isinstance(a, floats) and isinstance(b, floats):
            left = left.withColumn(name, F.col(name).cast("double"))
            right = right.withColumn(name, F.col(name).cast("double"))
        elif isinstance(ae, ints) and isinstance(be, ints):
            left = left.withColumn(name, F.col(name).cast("array<long>"))
            right = right.withColumn(name, F.col(name).cast("array<long>"))
        elif isinstance(ae, floats) and isinstance(be, floats):
            left = left.withColumn(name, F.col(name).cast("array<double>"))
            right = right.withColumn(name, F.col(name).cast("array<double>"))
        else:
            # every residual conflict lifts to the variant struct — the same
            # schemaless rule as _reconcile_update. This includes same-kind
            # containers with incompatible element/field types: the old
            # prefix test let array<bigint> vs array<string> fall through to
            # union coercion, which CRASHED at read time (cast 'a' to
            # BIGINT), and struct-vs-struct silently grew spurious null
            # fields into both sides' maps.
            left = left.withColumn(name, to_variant(F.col(name), a))
            right = right.withColumn(name, to_variant(F.col(name), b))
    return left.unionByName(right, allowMissingColumns=True)


class WriteMixin:
    """Write-clause handlers mixed into QueryCompiler (plans/session.py).
    Uses: self.g, self.df, self.symbols, self._env(), self._seed(),
    self._anon_sym(), self._node_df(), self._expand_single(), self.counters."""

    # -- CREATE --------------------------------------------------------------
    # -- driver-side literal CREATE fast path ------------------------------
    # A pure CREATE-chain statement accumulates plain python rows and
    # writes ONE catalog version per label/type at the next read (or
    # statement end). Only the top-level clause loop enables it
    # (_lit_enabled) so ad-hoc sub-compilers keep the frame path.

    def _try_lit_create(self, part: A.PatternPart) -> bool:
        if not getattr(self, "_lit_enabled", False):
            return False
        if self.df is not None and getattr(self, "_rows_hint", None) != 1:
            return False
        if part.var or getattr(self.g, "vector_indexes", None):
            return False
        lits = getattr(self, "_lit_syms", None) or {}

        def node_ok(np: A.NodePattern) -> bool:
            if np.var in lits:
                if np.labels or np.braced:
                    raise CompileError(
                        f"VariableAlreadyBound: cannot add labels or "
                        f"properties to bound variable {np.var!r} in CREATE")
                return True
            if np.var is not None and np.var in self.symbols:
                return False  # frame-bound endpoint -> normal path
            if np.dyn_labels or np.labels_or or "key" in np.props:
                return False
            try:
                if len(self._labels(np.labels)) > 1:
                    return False
            except CompileError:
                return False
            return all(_lit_ok(v) for v in np.props.values())

        def _lit_ok(ve) -> bool:
            v = _lit_value(ve)
            # mixed-element lists ([1.0, 2.0, 3]) need the frame path's
            # variant lifting — the driver-side schema can't express them
            return v is not _NOT_LIT and _lit_type(v) is not None

        def rel_ok(rel: A.RelPattern) -> bool:
            if rel.dyn_types or len(rel.types) != 1 \
                    or rel.direction == "both":
                return False
            if rel.var_length or rel.lo is not None or rel.hi is not None:
                return False
            if rel.var is not None and (rel.var in self.symbols
                                        or rel.var in lits):
                return False
            return all(_lit_ok(v) for v in rel.props.values())

        if not part.chain and part.start.var in lits:
            raise CompileError(
                f"VariableAlreadyBound: {part.start.var} in CREATE")
        if not node_ok(part.start):
            return False
        for rel, np_ in part.chain:
            if not (rel_ok(rel) and node_ok(np_)):
                return False
        # all checks passed — execute driver-side
        self._lit_syms = lits
        prev = self._lit_node(part.start)
        for rel, np_ in part.chain:
            cur = self._lit_node(np_)
            self._lit_edge(rel, prev, cur)
            prev = cur
        return True

    def _lit_node(self, np: A.NodePattern) -> str:
        sym = np.var or self._anon_sym("n")
        if sym in self._lit_syms:
            return sym
        labels = self._labels(np.labels)
        label = labels[0] if labels else ""
        code = register_label(label)
        key = self.g.alloc_node_keys(label, 1)
        nid = code * (1 << KEY_BITS) + key
        row = {"id": nid}
        for k, ve in np.props.items():
            row[A.prop_col(k)] = _lit_value(ve)
        self._pend_row("nodes", label, row)
        vals = dict(row)
        vals["labels"] = list(labels)
        self._lit_syms[sym] = ("node", vals)
        self.symbols[sym] = "node"
        self.counters["nodes_created"] += 1
        if not hasattr(self, "created_syms"):
            self.created_syms = set()
        self.created_syms.add(sym)
        self._all_props_cache = None
        return sym

    def _lit_edge(self, rel: A.RelPattern, from_sym: str,
                  to_sym: str) -> None:
        etype = rel.types[0]
        src, dst = ((from_sym, to_sym) if rel.direction == "out"
                    else (to_sym, from_sym))
        eid = self.g.alloc_edge_ids(1)
        row = {"src": self._lit_syms[src][1]["id"],
               "dst": self._lit_syms[dst][1]["id"], "eid": eid}
        for k, ve in rel.props.items():
            row[A.prop_col(k)] = _lit_value(ve)
        self._pend_row("edges", etype, row)
        rsym = rel.var or self._anon_sym("r")
        vals = dict(row)
        vals["type"] = etype
        self._lit_syms[rsym] = ("rel", vals)
        self.symbols[rsym] = "rel"
        self.counters["relationships_created"] += 1

    def _pend_row(self, kind: str, key: str, row: dict) -> None:
        if not hasattr(self, "_pend_tables"):
            self._pend_tables = {}
        pend = self._pend_tables.setdefault(
            (kind, key), {"schema": {}, "rows": []})
        sch = pend["schema"]
        for c, v in row.items():
            t = _lit_type(v)
            cur = sch.get(c)
            if cur is None or isinstance(cur, T.NullType):
                sch[c] = t
            elif isinstance(t, T.NullType) or cur == t:
                continue
            else:
                # in-batch type conflict ({x: 1} then {x: 2.5}): flush the
                # accumulated rows; the next version union reconciles
                # (int-vs-float lifts to the variant struct)
                self._flush_one_table(kind, key)
                self._pend_row(kind, key, row)
                return
        pend["rows"].append(row)

    def _flush_one_table(self, kind: str, key: str) -> None:
        pend = getattr(self, "_pend_tables", {}).pop((kind, key), None)
        if not pend or not pend["rows"]:
            return
        fields = list(pend["schema"].items())
        st = T.StructType([T.StructField(c, t) for c, t in fields])
        data = [tuple(r.get(c) for c, _t in fields) for r in pend["rows"]]
        df = local_frame(self.g.spark, data, st)
        if kind == "nodes":
            existing = self.g.nodes.get(key)
            self.g.set_node_version(
                key, df if existing is None
                else _union_missing(existing, df), keys_allocated=True,
                id_scheme_preserved=True)
        else:
            existing = self.g.edges.get(key)
            self.g.set_edge_version(
                key, df if existing is None
                else _union_missing(existing, df), ids_allocated=True)

    def _flush_lit_frame(self) -> None:
        lits = getattr(self, "_lit_syms", None)
        if not lits:
            return
        if self.df is None:
            self.df = self._seed()
            self._rows_hint = 1
        cols = {}
        for sym, (_kind, vals) in lits.items():
            for fld, v in vals.items():
                if fld == "labels":
                    cols[f"{sym}_labels"] = F.array(
                        *[F.lit(x) for x in v]).cast("array<string>")
                else:
                    t = _lit_type(v)
                    cols[f"{sym}_{fld}"] = (
                        _lit_column(v, t) if t is not None else F.lit(v))
        self.df = self.df.withColumns(cols)
        self._lit_syms = {}

    def _flush_writes(self, frame: bool = True) -> None:
        for k in list(getattr(self, "_pend_tables", {})):
            self._flush_one_table(*k)
        if frame:
            self._flush_lit_frame()

    def _adopt_node_value(self, sym: str) -> None:
        """A 'value' symbol holding a node struct (list element, subscript
        — MatchAcceptance2 'Matching longer variable length paths' setup)
        used as a CREATE endpoint: unpack it into {sym}_* columns so the
        edge writer can join on {sym}_id like any bound node symbol."""
        if self.symbols.get(sym) != "value" or self.df is None \
                or sym not in self.df.columns:
            return
        t = self.df.schema[sym].dataType
        if not (isinstance(t, T.StructType)
                and "id" in t.names and "labels" in t.names):
            return
        for f in t.names:
            self.df = self.df.withColumn(
                f"{sym}_{f}", F.col(sym).getField(f))
        self.df = self.df.drop(sym)
        self.symbols[sym] = "node"

    def _create(self, cl: A.Create) -> None:
        def _check_bound(np: A.NodePattern, sym: str) -> None:
            # openCypher: a bound variable reused in CREATE must be bare —
            # labels or a property block raise VariableAlreadyBound
            # (LabelsAcceptance TCK; symbol_generator.cpp bound checks)
            if np.labels or np.braced:
                raise CompileError(
                    f"VariableAlreadyBound: cannot add labels or properties "
                    f"to the already bound variable '{sym}' in CREATE")
        for part in cl.patterns:
            if self._try_lit_create(part):
                continue
            # a non-literal part may reference driver-side bindings —
            # materialize them into the frame first
            self._flush_writes()
            if part.chain:
                for np_ in [part.start] + [n for _, n in part.chain]:
                    if np_.var:
                        self._adopt_node_value(np_.var)
            sym = part.start.var or self._anon_sym("n")
            if (not part.chain and part.start.var
                    and part.start.var in self.symbols):
                # CREATE (a) with a already bound is VariableAlreadyBound
                # even without labels/props; endpoints of a chain may
                # legally reuse bound nodes (SemanticErrorAcceptance)
                raise CompileError(
                    f"VariableAlreadyBound: {part.start.var} in CREATE")
            for r_, _n in part.chain:
                if r_.var_length or r_.lo is not None or r_.hi is not None:
                    raise CompileError(
                        "CreatingVarLength: variable-length relationships "
                        "cannot be used in CREATE")
            if sym not in self.symbols:
                self._create_node(part.start, sym)
            else:
                _check_bound(part.start, sym)
            prev = sym
            nid_parts = [F.array(F.col(f"{sym}_id"))]
            eid_parts, dir_parts = [], []
            for rel, node in part.chain:
                to_sym = node.var or self._anon_sym("n")
                if to_sym not in self.symbols:
                    self._create_node(node, to_sym)
                else:
                    _check_bound(node, to_sym)
                rsym = self._create_edge(prev, rel, to_sym)
                nid_parts.append(F.array(F.col(f"{to_sym}_id")))
                eid_parts.append(F.array(F.col(f"{rsym}_eid")))
                dir_parts.append(F.array(F.lit(rel.direction != "in")))
                prev = to_sym
            if part.var:
                # named path over a CREATE pattern: same id-array shape as
                # MATCH paths, then the shared materializer builds
                # nodes/rels structs (match.feature: path identifier from
                # CREATE used in a later MERGE/RETURN)
                self.df = (self.df
                           .withColumn(f"{part.var}_length",
                                       F.lit(len(part.chain)).cast("long"))
                           .withColumn(f"{part.var}_nids",
                                       F.concat(*nid_parts))
                           .withColumn(f"{part.var}_eids",
                                       F.concat(*eid_parts) if eid_parts
                                       else F.array().cast("array<long>"))
                           .withColumn(f"{part.var}_dirs",
                                       F.concat(*dir_parts) if dir_parts
                                       else F.array().cast("array<boolean>")))
                self._materialize_path(part.var)
                self.symbols[part.var] = "path"
        self._prune_dead_syms()

    def _prune_dead_syms(self) -> None:
        """Drop frame columns of symbols no later clause references (frame
        liveness from _compile_clauses). Bounds the frame width of long
        CREATE-chain statements: per-clause analysis cost is O(width), so
        LargeCreateQuery's hundreds of bindings would otherwise make the
        statement quadratic in its clause count."""
        live = getattr(self, "_live_after", None)
        if live is None or self.df is None:
            return
        dead = [s for s, kind in self.symbols.items()
                if kind in ("node", "rel", "path", "value")
                and s not in live and not s.startswith("__")]
        if not dead:
            return
        cols = [c for c in self.df.columns
                if any(c == s or c.startswith(f"{s}_") for s in dead)]
        if cols:
            self.df = self.df.drop(*cols)
        for s in dead:
            self.symbols.pop(s, None)

    def _pin_matched(self) -> tuple[int | None, DataFrame | None]:
        """(rows of the frame a CREATE clause writes from, the checkpoint
        to free once the clause has pinned its rows). The first CREATE
        clause of a statement evaluates its frame once (pin_small): at most
        LOCAL_DELTA_MAX rows become a LocalRelation, so a later read never
        re-runs the MATCH. A larger frame stays in a local checkpoint,
        uncounted (None); the clause's own checkpoint reads it, counts it,
        and then frees it."""
        n = getattr(self, "_rows_hint", None)
        if n is not None:
            return n, None
        self.df, n = pin_small(self.df, LOCAL_DELTA_MAX)
        self._rows_hint = n
        return n, (self.df if n is None else None)

    def _create_node(self, np: A.NodePattern, sym: str) -> None:
        """CreateNode (operator.hpp:411): one node per input row. Ids are
        (label_code << KEY_BITS) + key; key comes from the pattern's `key`
        property if given, else is allocated past the label's current max."""
        if np.labels_or:
            raise CompileError(
                "label disjunction (:A|B) is not allowed in CREATE/MERGE")
        # unlabeled nodes live in the reserved "" table with an empty label
        # set (the reference's vertices may carry zero labels, vertex.hpp:41)
        labels = self._labels(np.labels)
        if labels != np.labels:
            import dataclasses as _dc
            np = _dc.replace(np, labels=labels)  # $param labels resolved
        label = labels[0] if labels else ""
        code = register_label(label)
        if self.df is None:
            self.df = self._seed()
            self._rows_hint = 1
        # pattern comprehensions in property values roll up first
        np = A.NodePattern(np.var, labels,
                           {k: self._lift(v) for k, v in np.props.items()},
                           dyn_labels=np.dyn_labels)
        n_rows, matched = self._pin_matched()
        env = self._env()
        if "key" in np.props:
            key = compile_expr(np.props["key"], env).cast("long")
            # explicit keys may exceed the allocator's view — re-derive
            getattr(self.g, "_key_seq", {}).pop(label, None)
        else:
            # in-memory key allocator (catalog.alloc_node_keys): one count
            # of the pinned frame instead of a max-aggregate over the label
            # table's union chain per CREATE clause. An uncounted frame
            # reserves its keys once the pin below has counted it
            base = self.g.alloc_node_keys(label, n_rows or 0)
            if n_rows == 1:
                key = F.lit(base).cast("long")
            else:
                rn = F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id()))
                key = (F.lit(base) + rn - 1).cast("long")
        aug = self.df.withColumn(f"{sym}_key", key).withColumn(
            f"{sym}_id", F.lit(code * (1 << KEY_BITS)) + F.col(f"{sym}_key"))
        if "key" not in np.props:
            # the minted key is id-derivable, NOT a user property — it must
            # not surface in keys()/properties() (KeysAcceptance TCK)
            aug = aug.drop(f"{sym}_key")
        # one projection for all property columns (vs a withColumn chain:
        # each link re-analyzes the whole frame — LargeCreateQuery width)
        new_cols = {f"{sym}_{A.prop_col(k)}": compile_expr(ve, env)
                    for k, ve in np.props.items() if k != "key"}
        new_cols[f"{sym}_labels"] = F.array(
            *[F.lit(x) for x in np.labels]).cast("array<string>")
        aug = aug.withColumns(new_cols)
        # dynamic labels (`CREATE (m:node.name)`): per-row label values join
        # the labels array; membership lands in extra_labels below
        for dx in np.dyn_labels:
            c = compile_expr(self._lift(dx), env).cast("string")
            aug = aug.withColumn(
                f"{sym}_labels",
                F.when(c.isNotNull(),
                       F.array_union(F.col(f"{sym}_labels"), F.array(c)))
                .otherwise(F.col(f"{sym}_labels")))
        # pin allocated ids: row-numbered keys must be evaluated once. A
        # single row gets a literal key over a frame that is already
        # evaluated (_pin_matched, or the one-row seed), so a giant
        # CREATE-chain statement (LargeCreateQuery: hundreds of clauses)
        # only pins every 8th clause to bound its plan depth
        self._create_ctr = getattr(self, "_create_ctr", 0) + 1
        if n_rows != 1 or self._create_ctr % 8 == 0:
            aug, n, _ = _pin(aug, fits=n_rows is not None
                             and n_rows <= LOCAL_DELTA_MAX)
            if n_rows is None and "key" not in np.props:
                self.g.alloc_node_keys(label, n)
            n_rows = self._rows_hint = n
            if matched is not None:
                free_checkpoint(matched)
        self._all_props_cache = None  # new property columns may exist now
        prop_cols = [c for c in aug.columns
                     if c.startswith(f"{sym}_") and c != f"{sym}_labels"]
        diff = aug.select(*[F.col(c).alias(c[len(sym) + 1:])
                            for c in prop_cols])
        for lbl in np.labels[1:]:
            register_label(lbl)
            add = (diff.select("id").withColumn("label", F.lit(lbl))
                   .withColumn("ord", F.lit(_next_label_ord(self.g))))
            self.g.set_extra_labels(
                add if self.g.extra_labels is None
                else self.g.extra_labels.unionByName(
                    add, allowMissingColumns=True))
        if np.dyn_labels:
            extras = aug.select(
                F.col(f"{sym}_id").alias("id"),
                F.posexplode(f"{sym}_labels").alias("ord", "label")) \
                .withColumn("ord", F.col("ord") + _next_label_ord(self.g))
            if np.labels:
                extras = extras.filter(~F.col("label").isin(list(np.labels)))
            extras = extras.select("id", "label", "ord")
            self.g.set_extra_labels(
                extras if self.g.extra_labels is None
                else self.g.extra_labels.unionByName(
                    extras, allowMissingColumns=True))
        if getattr(self.g, "vector_indexes", None):
            from memgraph_spark.vector_admin import validate_dimensions
            validate_dimensions(self.g, label, diff)
        existing = self.g.nodes.get(label)
        self.g.set_node_version(
            label, diff if existing is None else _union_missing(existing,
                                                                diff),
            keys_allocated=True, id_scheme_preserved=True)
        self.counters["nodes_created"] += n_rows
        self.df = aug
        self.symbols[sym] = "node"
        # symbols created by this query part — variable-length pattern
        # comprehensions over them are rejected (symbol_generator parity)
        if not hasattr(self, "created_syms"):
            self.created_syms = set()
        self.created_syms.add(sym)

    def _create_edge(self, from_sym: str, rel: A.RelPattern, to_sym: str) -> None:
        """CreateExpand (operator.hpp:494): append (src, dst, props) rows.
        A dynamic type expression (`CREATE ()-[:n.prop]->()`) scatters the
        rows across the per-type tables by its per-row value."""
        if len(rel.types) + len(rel.dyn_types) != 1:
            raise CompileError("CREATE relationship needs exactly one type")
        if rel.direction == "both":
            raise CompileError("CREATE relationship needs a direction")
        dyn = rel.dyn_types[0] if rel.dyn_types else None
        etype = rel.types[0] if rel.types else None
        src, dst = ((from_sym, to_sym) if rel.direction == "out"
                    else (to_sym, from_sym))
        rsym = rel.var or self._anon_sym("r")
        props = {k: self._lift(v) for k, v in rel.props.items()}
        rel = A.RelPattern(rel.var, rel.types, rel.direction, props)
        env = self._env()
        ecols = {f"{rsym}_src": F.col(f"{src}_id"),
                 f"{rsym}_dst": F.col(f"{dst}_id")}
        ecols.update({f"{rsym}_{A.prop_col(k)}": compile_expr(ve, env)
                      for k, ve in rel.props.items()})
        tcol = (F.lit(etype) if dyn is None
                else compile_expr(self._lift(dyn), env).cast("string"))
        # sequential edge ids in creation order (storage assigns edge gids
        # from a counter, storage.hpp edge_id_) — small ints keep id(e)
        # arithmetic exact; the per-batch window is the id-allocator step,
        # everything downstream stays partitioned
        n_rows, matched = self._pin_matched()
        aug = self.df.withColumns(ecols)
        # an uncounted frame reserves its ids once the pin below counted it
        base = self.g.alloc_edge_ids(n_rows or 0)
        eid_col = (F.lit(base).cast("long") if n_rows == 1
                   else F.lit(base) - 1 + F.row_number().over(
                       Window.orderBy(F.monotonically_increasing_id())))
        aug = (aug.withColumn(f"{rsym}_type", tcol)
               .withColumn(f"{rsym}_eid", eid_col))
        self._create_ctr = getattr(self, "_create_ctr", 0) + 1
        if n_rows != 1 or self._create_ctr % 8 == 0:
            aug, n, _ = _pin(aug, fits=n_rows is not None
                             and n_rows <= LOCAL_DELTA_MAX)
            if n_rows is None:
                self.g.alloc_edge_ids(n)
            n_rows = self._rows_hint = n
            if matched is not None:
                free_checkpoint(matched)
        cols = {f"{rsym}_src": "src", f"{rsym}_dst": "dst",
                f"{rsym}_eid": "eid"}
        cols.update({c: c[len(rsym) + 1:] for c in aug.columns
                     if c.startswith(f"{rsym}_")
                     and c not in cols and c != f"{rsym}_type"})
        etypes = ([etype] if dyn is None else
                  [r[0] for r in aug.select(f"{rsym}_type").distinct()
                   .collect() if r[0] is not None])
        for et in etypes:
            sub = aug if dyn is None else aug.filter(
                F.col(f"{rsym}_type") == et)
            diff = sub.select(*[F.col(c).alias(n) for c, n in cols.items()])
            existing = self.g.edges.get(et)
            self.g.set_edge_version(
                et, diff if existing is None
                else _union_missing(existing, diff), ids_allocated=True)
            self.counters["relationships_created"] += (
                n_rows if dyn is None else diff.count())
        self.df = aug
        self.symbols[rsym] = "rel"
        return rsym

    # -- SET / REMOVE --------------------------------------------------------
    def _set(self, items: list[A.SetItem]) -> None:
        for item in items:
            # SET on a DELETEd symbol is a silent no-op (delete.feature:
            # 'Delete node, set property' expects an empty result, no error)
            subj = item.subject
            while isinstance(subj, A.Property):
                subj = subj.subject
            if isinstance(subj, A.Var) and subj.name in self.deleted:
                if self.periodic:
                    # per-batch commits: the object is already gone by the
                    # time the next batch's SET runs (operator.cpp:5358)
                    raise CompileError(
                        f"cannot SET on deleted object `{subj.name}`")
                continue
            if item.op == "label":
                self._set_labels(item)
            elif isinstance(item.subject, A.Property):
                self._set_property(item.subject, item.value, op=item.op)
            elif isinstance(item.subject, A.Var):
                self._set_properties(item.subject.name, item.value,
                                     replace=(item.op == "="))
            else:
                raise CompileError("unsupported SET target")

    def _set_labels(self, item: A.SetItem) -> None:
        """SetLabels (operator.hpp:1590) -> rows in the extra_labels table.
        Dynamic labels (`SET n:other.prop`) evaluate per row."""
        sym = item.subject.name
        ids = self.df.select(F.col(f"{sym}_id").alias("id")).dropDuplicates()
        for lbl in self._labels(item.labels):
            register_label(lbl)
            add = (ids.withColumn("label", F.lit(lbl))
                   .withColumn("ord", F.lit(_next_label_ord(self.g)))
                   .localCheckpoint(eager=True))
            self.g.set_extra_labels(
                add if self.g.extra_labels is None
                else self.g.extra_labels.unionByName(
                    add, allowMissingColumns=True)
                .dropDuplicates(["id", "label"]))
            self.counters["labels_added"] += add.count()
        for dx in item.dyn_labels:
            c = compile_expr(self._lift(dx), self._env()).cast("string")
            add = (self.df.select(F.col(f"{sym}_id").alias("id"),
                                  c.alias("label"))
                   .filter(F.col("label").isNotNull())
                   .dropDuplicates()
                   .withColumn("ord", F.lit(_next_label_ord(self.g)))
                   .localCheckpoint(eager=True))
            self.g.set_extra_labels(
                add if self.g.extra_labels is None
                else self.g.extra_labels.unionByName(
                    add, allowMissingColumns=True)
                .dropDuplicates(["id", "label"]))
            self.counters["labels_added"] += add.count()
            self.df = self.df.withColumn(
                f"{sym}_labels",
                F.when(c.isNotNull(), F.array_union(
                    F.col(f"{sym}_labels"), F.array(c)))
                .otherwise(F.col(f"{sym}_labels")))
        if item.labels:
            self.df = self.df.withColumn(
                f"{sym}_labels",
                F.array_union(f"{sym}_labels",
                              F.array(*[F.lit(x) for x in item.labels])))

    @staticmethod
    def _additive_delta(prop: A.Property, value: A.Expr):
        """Detect `SET s.p = s.p + delta` / `- delta` / `delta + s.p`.

        The reference evaluates SET per pulled row with immediate
        visibility (operator.cpp:4602 Accumulate path), so a node matched k
        times accumulates k increments. Batch-side that is exactly a
        per-id SUM of the deltas — distributed, no sequential loop."""
        def is_self(e):
            return (isinstance(e, A.Property)
                    and isinstance(e.subject, A.Var)
                    and e.subject.name == prop.subject.name
                    and e.key == prop.key)
        if isinstance(value, A.BinaryOp) and value.op in ("+", "-"):
            if is_self(value.left):
                return value.right, (1 if value.op == "+" else -1)
            if value.op == "+" and is_self(value.right):
                return value.left, 1
        return None, 0

    def _set_property(self, prop: A.Property, value: A.Expr,
                      op: str = "=") -> None:
        """SetProperty (operator.hpp:1448): join matched (id, value) pairs
        into every label table holding those ids. Nested paths
        (`SET n.a.b.c = v`, nested_property_update.feature) rewrite to a
        top-level set of the outer property with a struct-surgery value;
        `+=` on a map property merges key-value pairs."""
        self._all_props_cache = None
        path: list[str] = []
        node = prop
        while isinstance(node, A.Property):
            path.insert(0, node.key)
            node = node.subject
        if not isinstance(node, A.Var):
            raise CompileError("SET target must be a bound symbol")
        sym = node.name
        kind = self.symbols.get(sym)
        skey = A.prop_col(path[0])
        rest = path[1:]
        if rest or op in ("+=", "remove"):
            return self._set_property_nested(sym, kind, skey, rest,
                                             value, op)
        prop = A.Property(node, path[0])
        lifted = self._lift(value)
        delta_ast, sign = self._additive_delta(prop, lifted)
        env = self._env()
        key_col = f"{sym}_id" if kind == "node" else f"{sym}_eid"
        key_name = "id" if kind == "node" else "eid"
        rel_sym = sym if kind == "rel" else None
        if kind not in ("node", "rel"):
            raise CompileError(f"cannot SET a property on a {kind}")
        if delta_ast is not None:
            d0 = compile_expr(delta_ast, env)
            dt = env.typeof(d0)
            if not isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                                   T.ByteType, T.DoubleType, T.FloatType,
                                   T.DecimalType)):
                # list/string concat onto a property is not a summable
                # delta — take the plain-assignment path (SetAcceptance
                # "Concatenate elements onto a list property")
                delta_ast = None
        if delta_ast is not None:
            d = d0 * sign
            updates, rows, hit = self._update_set(
                key_name, F.col(key_col), d, rel_sym, additive=True)
            # frame columns see the accumulated final value too
            upd = updates.select(F.col(key_name).alias("__uk"),
                                 F.col("__v").alias("__uv"))
            old = (F.col(f"{sym}_{skey}")
                   if f"{sym}_{skey}" in self.df.columns
                   else F.lit(None).cast(dt))
            self.df = (self.df.join(
                upd, self.df[key_col] == upd["__uk"], "left")
                .withColumn(f"{sym}_{skey}",
                            F.when(F.col("__uv").isNotNull(),
                                   old + F.col("__uv")).otherwise(old))
                .drop("__uk", "__uv"))
        else:
            val = compile_expr(lifted, env)
            vt = env.typeof(val)
            from memgraph_spark.functions.variant import is_variant_type
            if isinstance(vt, T.ArrayType) and (
                    isinstance(vt.elementType, T.MapType)
                    or (isinstance(vt.elementType, T.StructType)
                        and not is_variant_type(vt.elementType))):
                # InvalidPropertyType (MiscellaneousErrorAcceptance):
                # lists of maps/entities cannot be stored as a property
                # (heterogeneous variant lists are fine)
                raise CompileError(
                    "InvalidPropertyType: cannot store a list of maps "
                    "as a property")
            updates, rows, hit = self._update_set(
                key_name, F.col(key_col), val, rel_sym)
            self.df = self.df.withColumn(f"{sym}_{skey}", val)
        apply = (self._apply_node_update if kind == "node"
                 else self._apply_edge_update)
        apply(updates, skey, hit, additive=delta_ast is not None)
        self.counters["properties_set"] += rows

    def _set_property_nested(self, sym: str, kind: str, skey: str,
                             rest: list[str], value: A.Expr,
                             op: str) -> None:
        """Nested map-property SET (`n.a.b = v`, `n.a += {..}`) — struct
        surgery on the stored map value (storage PropertyStore nested
        update, nested_property_update.feature)."""
        if kind == "value" and len(rest) == 1 and op == "=":
            # SET map.vertex.prop = v where the map value holds a node:
            # the write goes to the actual vertex, and the frame's struct
            # copy reflects it ("Vertex inside map base property update")
            env = self._env()
            col = F.col(sym)
            t = env.typeof(col)
            if isinstance(t, T.StructType) and skey in t.names:
                member = col.getField(skey)
                mt = t[skey].dataType
                if isinstance(mt, T.StructType) and "id" in mt.names \
                        and "labels" in mt.names:
                    pcol = A.prop_col(rest[0])
                    val_c = compile_expr(self._lift(value), env)
                    updates, n_set, codes = self._update_set(
                        "id", member.getField("id"), val_c)
                    self._all_props_cache = None
                    self._apply_node_update(updates, pcol, codes)
                    fields = [
                        (val_c if f == pcol else member.getField(f)).alias(f)
                        for f in mt.names]
                    if pcol not in mt.names:
                        fields.append(val_c.alias(pcol))
                    new_member = F.struct(*fields)
                    self.df = self.df.withColumn(sym, F.struct(*[
                        (new_member if f == skey
                         else col.getField(f)).alias(f) for f in t.names]))
                    self.counters["properties_set"] += n_set
                    return
        if kind not in ("node", "rel"):
            raise CompileError(f"cannot SET a property on a {kind}")
        env = self._env()
        key_col = f"{sym}_id" if kind == "node" else f"{sym}_eid"
        key_name = "id" if kind == "node" else "eid"
        col_name = f"{sym}_{skey}"
        old = (F.col(col_name) if col_name in self.df.columns
               else F.lit(None))
        oldt = env.typeof(old)
        if op == "remove":
            val = _nested_remove(old, oldt, rest)
        else:
            val_c = compile_expr(self._lift(value), env)
            vt = env.typeof(val_c)
            val = _nested_value(old, oldt, rest, val_c, vt, op)
        updates, rows, hit = self._update_set(
            key_name, F.col(key_col), val, sym if kind == "rel" else None)
        self.df = self.df.withColumn(col_name, val)
        apply = (self._apply_node_update if kind == "node"
                 else self._apply_edge_update)
        apply(updates, skey, hit)
        self.counters["properties_set"] += rows

    def _update_set(self, key_name: str, key, val,
                    rel_sym: str | None = None, additive: bool = False
                    ) -> tuple[DataFrame, int, set | None]:
        """(update set, its row count, what it touches): one (key_name,
        __v, __hit) row per written id, additive deltas summed per id,
        evaluated once (_pin). A node set touches the label codes of its
        ids. An edge symbol whose frame binds its type adds __type, and the
        set touches those types; else None, every type."""
        cols = [key.alias(key_name), val.alias("__v")]
        touched = {}
        if key_name == "id":
            touched["hit"] = _label_code("id")
        elif rel_sym is not None and f"{rel_sym}_type" in self.df.columns:
            cols.append(F.col(f"{rel_sym}_type").alias("__type"))
            touched["hit"] = F.col("__type")
        pairs = self.df.select(*cols)
        if additive:
            keys = [c for c in pairs.columns if c != "__v"]
            pairs = pairs.groupBy(*keys).agg(F.sum("__v").alias("__v"))
        else:
            pairs = pairs.dropDuplicates([key_name])
        updates, n, got = _pin(pairs.withColumn("__hit", F.lit(True)),
                               **touched)
        return updates, n, got.get("hit")

    def _apply_node_update(self, updates: DataFrame, key: str, codes: set,
                           additive: bool = False) -> None:
        """Write `updates` (id, __v, __hit) into `key`. Only label tables
        whose id range intersects the update set are touched. Pure tables
        (engine-minted ids) prune by the id-derived label `codes` of the
        update set; mixed tables (user-supplied swaps, REMOVE-label moves
        keep foreign codes) can't be code-tested and get a semi-join probe
        instead — skipping them silently dropped SET writes."""
        for label in list(self.g.nodes):
            code = LABEL_CODES.get(label)
            if label not in self.g._mixed_id_labels and code is not None:
                if code not in codes:
                    continue
            elif self.g.node(label).join(updates.select("id"), "id",
                                         "left_semi").isEmpty():
                continue
            t = self.g.node(label)
            old, new = _reconcile_update(t, updates, key, additive)
            self.g.set_node_version(label, (
                _with_update(t, updates, "id")
                .withColumn(key, F.when(F.col("__hit"), new)
                            .otherwise(old))
                .drop("__v", "__hit")),
                keys_allocated=True, id_scheme_preserved=True)

    def _apply_edge_update(self, updates: DataFrame, key: str,
                           types: set | None,
                           additive: bool = False) -> None:
        """Write `updates` (eid, __v, __hit[, __type]) into `key` of the
        edge `types`, or of every edge table when None. A rewritten type
        loses its adjacency caches, so an untouched type must keep its
        version."""
        etypes = [et for et in self.g.edges if types is None or et in types]
        if "__type" in updates.columns:
            updates = updates.drop("__type")
        for etype in etypes:
            t = self.g.edges[etype]
            old, new = _reconcile_update(t, updates, key, additive)
            self.g.set_edge_version(etype, (
                _with_update(t, updates, "eid")
                .withColumn(key, F.when(F.col("__hit"), new)
                            .otherwise(old))
                .drop("__v", "__hit")), ids_allocated=True)

    def _set_properties(self, sym: str, value: A.Expr, replace: bool) -> None:
        """SetProperties = / += (operator.hpp:1539) from a map literal or
        another bound node/rel (`SET b = a` copies a's properties)."""
        if (isinstance(value, A.Var)
                and self.symbols.get(value.name) in ("node", "rel")):
            src = value.name
            meta = {f"{src}_id", f"{src}_labels", f"{src}_eid",
                    f"{src}_type", f"{src}_src", f"{src}_dst"}
            keys = [c[len(src) + 1:] for c in self.df.columns
                    if c.startswith(f"{src}_") and c not in meta]
            value = A.MapLiteral({
                A.prop_name(k): A.Property(A.Var(src), A.prop_name(k))
                for k in keys})
        if not isinstance(value, A.MapLiteral):
            raise CompileError("SET n = / += needs a map literal")
        if replace:
            # meta columns are not properties: without the edge set, SET
            # r = {...} treated eid/type/src/dst as user props to erase,
            # writing p__eid/p__src/... null columns into every edge table
            keep = ({"id", "labels", "key", "eid", "type", "src", "dst"}
                    | {A.prop_col(k) for k in value.items})
            cols = {c[len(sym) + 1:] for c in self.df.columns
                    if c.startswith(f"{sym}_")}
            for k in sorted(cols - keep):
                self._set_property(A.Property(A.Var(sym), A.prop_name(k)),
                                   A.Literal(None))
        for k, ve in value.items.items():
            self._set_property(A.Property(A.Var(sym), k), ve)

    def _remove(self, cl: A.RemoveClause) -> None:
        for item in cl.items:
            if (isinstance(item.subject, A.Var)
                    and item.subject.name in self.deleted):
                if self.periodic:
                    raise CompileError(
                        f"cannot REMOVE on deleted object "
                        f"`{item.subject.name}`")
                continue  # no-op on deleted, like SET
            if item.key is not None:
                # nested REMOVE (n.a.b) drops the key from the stored map;
                # top-level REMOVE erases the property (null == absent)
                op = "remove" if isinstance(item.subject, A.Property) else "="
                self._set_property(A.Property(item.subject, item.key),
                                   A.Literal(None), op=op)
            elif item.labels or item.dyn_labels:
                sym = item.subject.name
                env = self._env()
                st_labels = self._labels(item.labels)
                # (id, label) victim pairs: static labels cross all matched
                # ids; dynamic labels evaluate per row
                pairs = None
                if st_labels:
                    pairs = self.df.select(
                        F.col(f"{sym}_id").alias("id")).crossJoin(
                        self.g.spark.createDataFrame(
                            [(x,) for x in st_labels], "label string"))
                for dx in item.dyn_labels:
                    c = compile_expr(self._lift(dx), env).cast("string")
                    p = (self.df.select(F.col(f"{sym}_id").alias("id"),
                                        c.alias("label"))
                         .filter(F.col("label").isNotNull()))
                    pairs = p if pairs is None else pairs.unionByName(p)
                pairs = pairs.dropDuplicates().localCheckpoint(eager=True)
                if self.g.extra_labels is not None:
                    self.g.set_extra_labels(self.g.extra_labels.join(
                        pairs, on=["id", "label"], how="left_anti"))
                # static per-label table membership: move evicted rows into
                # the unlabeled table (the reference's remove-label just
                # shrinks the vertex's label set)
                hit_labels = [r[0] for r in
                              pairs.select("label").distinct().collect()]
                for lbl in hit_labels:
                    t = self.g.nodes.get(lbl)
                    if t is None or not lbl:
                        continue
                    victims = pairs.filter(F.col("label") == lbl).select("id")
                    moved = t.join(victims, on="id", how="left_semi")
                    if moved.isEmpty():
                        continue
                    self.g.set_node_version(
                        lbl, t.join(victims, on="id", how="left_anti"),
                        keys_allocated=True, id_scheme_preserved=True)
                    base = self.g.nodes.get("")
                    # moved rows keep their original label codes: route
                    # through set_node_version so "" is marked mixed and
                    # property updates probe it instead of code-pruning
                    self.g.set_node_version(
                        "", moved if base is None
                        else _union_missing(base, moved))
                rm = (F.array(*[F.lit(x) for x in st_labels]) if st_labels
                      else F.array().cast("array<string>"))
                for dx in item.dyn_labels:
                    c = compile_expr(self._lift(dx), env).cast("string")
                    rm = F.when(c.isNotNull(), F.array_append(rm, c)) \
                        .otherwise(rm)
                self.df = self.df.withColumn(
                    f"{sym}_labels", F.array_except(f"{sym}_labels", rm))

    # -- DELETE --------------------------------------------------------------
    def _delete_edges(self, eids: DataFrame) -> int:
        """Remove the edges named by `eids` (eid[, __type]); returns how
        many. Only the types named in __type are touched, or every type
        without one; each touched table is counted once."""
        typed = "__type" in eids.columns
        eids, _, got = _pin(
            eids.filter(F.col("eid").isNotNull()).dropDuplicates(["eid"]),
            **({"types": F.col("__type")} if typed else {}))
        etypes = [et for et in self.g.edges
                  if not typed or et in got["types"]]
        eids = eids.select("eid")
        n = 0
        for etype in etypes:
            t = self.g.edges[etype]
            gone = t.join(eids, on="eid", how="left_semi").count()
            kept = t.join(eids, on="eid", how="left_anti")
            if gone:
                n += gone
                self.g.set_edge_version(etype, kept, ids_allocated=True)
        return n

    def _delete(self, cl: A.Delete) -> None:
        """Delete (operator.cpp:4764): anti-join victims out of their tables.
        Plain DELETE errors on still-connected vertices; DETACH also removes
        incident edges — the reference's contract."""
        node_ids = None

        def _struct_kind(t) -> str | None:
            if isinstance(t, T.StructType):
                if "nodes" in t.names and "rels" in t.names:
                    return "path"
                if "eid" in t.names:
                    return "rel"
                if "id" in t.names:
                    return "node"
            return None

        def _delete_eids(eids) -> None:
            self.counters["relationships_deleted"] += \
                self._delete_edges(eids)

        for e in cl.exprs:
            if not isinstance(e, A.Var) or \
                    self.symbols.get(e.name) not in ("node", "rel", "path"):
                # DELETE <expr>: node/rel/path VALUES — list elements,
                # UNWIND-bound structs, map members (DeleteAcceptance TCK —
                # Delete on any TypedValue, operator.cpp:4764); the
                # compiled type names the kind
                col = compile_expr(e, self._env())
                env = self._env()
                t = env.typeof(col)
                k = _struct_kind(t)
                if k is None and isinstance(t, T.ArrayType):
                    ek = _struct_kind(t.elementType)
                    if ek == "node":
                        ids = self.df.select(F.explode(col).alias("x")) \
                            .select(F.col("x.id").alias("id"))
                        node_ids = (ids if node_ids is None
                                    else node_ids.unionByName(ids))
                        continue
                    if ek == "rel":
                        _delete_eids(self.df.select(
                            F.explode(col).alias("x"))
                            .select(F.col("x.eid").alias("eid")))
                        continue
                if k == "node":
                    ids = self.df.select(col.getField("id").alias("id")) \
                        .filter(F.col("id").isNotNull())
                    node_ids = (ids if node_ids is None
                                else node_ids.unionByName(ids))
                    continue
                if k == "rel":
                    _delete_eids(self.df.select(
                        col.getField("eid").alias("eid"))
                        .filter(F.col("eid").isNotNull()))
                    continue
                if k == "path":
                    _delete_eids(self.df.select(
                        F.explode(col.getField("rels")).alias("r"))
                        .select(F.col("r.eid").alias("eid")))
                    ids = self.df.select(
                        F.explode(col.getField("nodes")).alias("n")) \
                        .select(F.col("n.id").alias("id"))
                    node_ids = (ids if node_ids is None
                                else node_ids.unionByName(ids))
                    continue
                raise CompileError(
                    "DELETE expects node, relationship or path values")
            sym, kind = e.name, self.symbols.get(e.name)
            if kind == "rel":
                cols = [F.col(f"{sym}_eid").alias("eid")]
                if f"{sym}_type" in self.df.columns:
                    cols.append(F.col(f"{sym}_type").alias("__type"))
                _delete_eids(self.df.select(*cols))
                self.deleted.add(sym)
            elif kind == "node":
                ids = (self.df.select(F.col(f"{sym}_id").alias("id"))
                       .dropDuplicates())
                node_ids = ids if node_ids is None else node_ids.unionByName(ids)
                self.deleted.add(sym)
            elif kind == "path":
                # deleting a path deletes its relationships and nodes
                # (reference: Delete on TypedValue::Path, operator.cpp:4764)
                if self.periodic:
                    # paths deleted per-batch touch objects deleted by
                    # earlier batches (periodic_delete.feature expects error)
                    raise CompileError(
                        "cannot periodically DELETE a path")
                _delete_eids(self.df.select(
                    F.explode(F.col(f"{sym}_eids")).alias("eid")))
                ids = self.df.select(
                    F.explode(F.col(f"{sym}_nids")).alias("id"))
                node_ids = ids if node_ids is None else node_ids.unionByName(ids)
                self.deleted.add(sym)
            else:
                raise CompileError(f"cannot DELETE a {kind}")
        if node_ids is None:
            return
        node_ids, _, got = _pin(
            node_ids.filter(F.col("id").isNotNull()).dropDuplicates(["id"]),
            codes=_label_code("id"))
        codes = got["codes"]
        srcs = node_ids.select(F.col("id").alias("src"),
                               F.lit(True).alias("__s"))
        dsts = node_ids.select(F.col("id").alias("dst"),
                               F.lit(True).alias("__d"))
        incident = 0
        for etype, t in list(self.g.edges.items()):
            # one count of the edges with a victim at either end
            hit = (t.join(srcs, "src", "left").join(dsts, "dst", "left")
                   .filter(F.col("__s") | F.col("__d")).count())
            kept = (t.join(node_ids.withColumnRenamed("id", "src"),
                           on="src", how="left_anti")
                    .join(node_ids.withColumnRenamed("id", "dst"),
                          on="dst", how="left_anti"))
            if hit and not cl.detach:
                raise CompileError("cannot DELETE a vertex that still has "
                                   "edges (use DETACH DELETE)")
            if hit:
                incident += hit
                self.g.set_edge_version(etype, kept, ids_allocated=True)
        self.counters["relationships_deleted"] += incident
        deleted = 0
        for label, t in list(self.g.nodes.items()):
            # engine-minted ids name their label; only mixed-id tables
            # (see _apply_node_update) are probed by the count itself
            code = LABEL_CODES.get(label)
            if (label not in self.g._mixed_id_labels and code is not None
                    and code not in codes):
                continue
            gone = t.join(node_ids, on="id", how="left_semi").count()
            if not gone:
                continue
            deleted += gone
            # keys_allocated=True: deleting the max-key node must NOT rewind
            # the allocator — a later CREATE would mint the deleted node's id
            # and clients holding the old id would resolve to the new node
            # (storage gid counters are monotonic in the reference too)
            self.g.set_node_version(
                label, t.join(node_ids, on="id", how="left_anti"),
                keys_allocated=True, id_scheme_preserved=True)
        if self.g.extra_labels is not None:
            self.g.set_extra_labels(self.g.extra_labels.join(
                node_ids, on="id", how="left_anti"))
        self.counters["nodes_deleted"] += deleted

    # -- MERGE ---------------------------------------------------------------
    def _merge(self, cl: A.Merge) -> None:
        """Merge (operator.cpp:7194): MATCH-else-CREATE per input row,
        re-expressed as: left-join the pattern -> CREATE the distinct missing
        bindings -> re-join so every row binds."""
        part = cl.pattern
        # dynamic labels/types are write-only sugar — the reference rejects
        # them in MERGE (with.feature tests 26-27)
        for np in [part.start] + [n for _, n in part.chain]:
            if np.dyn_labels:
                raise CompileError(
                    "dynamic node labels are not allowed in MERGE")
        for r, _ in part.chain:
            if r.dyn_types:
                raise CompileError(
                    "dynamic edge types are not allowed in MERGE")
            if r.var_length or r.lo is not None or r.hi is not None:
                raise CompileError(
                    "CreatingVarLength: variable-length relationships "
                    "cannot be used in MERGE")
        # ON MATCH / ON CREATE SET targets must be bound (UndefinedVariable
        # at compile time, SemanticErrorAcceptance)
        bound = set(self.symbols) | {
            np.var for np in [part.start] + [n for _, n in part.chain]
            if np.var} | {r.var for r, _ in part.chain if r.var}
        for item in list(cl.on_match or []) + list(cl.on_create or []):
            subj = item.subject
            while isinstance(subj, A.Property):
                subj = subj.subject
            if isinstance(subj, A.Var) and subj.name not in bound:
                raise CompileError(
                    f"UndefinedVariable: {subj.name} in "
                    "ON MATCH/ON CREATE")
        for np in [part.start] + [n for _, n in part.chain]:
            if np.var and np.var in self.symbols \
                    and self.symbols.get(np.var) == "node" \
                    and (np.labels or np.props):
                raise CompileError(
                    f"VariableAlreadyBound: cannot add labels or "
                    f"properties to bound variable {np.var!r} in MERGE")
        if not part.chain:
            sym = self._merge_node(part.start, cl)
            if part.var:
                self.df = (self.df
                           .withColumn(f"{part.var}_length",
                                       F.lit(0).cast("long"))
                           .withColumn(f"{part.var}_nids",
                                       F.array(F.col(f"{sym}_id")))
                           .withColumn(f"{part.var}_eids",
                                       F.array().cast("array<long>"))
                           .withColumn(f"{part.var}_dirs",
                                       F.array().cast("array<boolean>")))
                self._materialize_path(part.var)
                self.symbols[part.var] = "path"
        elif (len(part.chain) == 1
              and part.var is None
              and part.chain[0][0].direction != "both"
              and not cl.pattern.chain[0][0].props
              and not part.chain[0][1].props
              and part.start.var in self.symbols
              and part.chain[0][1].var in self.symbols):
            self._merge_edge(part, cl)
        else:
            self._merge_general(part, cl)

    def _merge_general(self, part: A.PatternPart, cl: A.Merge) -> None:
        """Full-pattern MERGE: per input row, bind the whole pattern if it
        matches, else create it (Merge cursor, operator.cpp:7194, runs its
        match branch then its create branch per pulled row)."""
        if self.df is None:
            self.df = self._seed()
        frame = (self.df.withColumn("__mrow", F.monotonically_increasing_id())
                 .localCheckpoint(eager=True))
        env = self._env(frame)
        # null literal/expression properties are a merge error
        prop_exprs = list(part.start.props.values())
        for rel, node in part.chain:
            prop_exprs += list(rel.props.values()) + list(node.props.values())
        null_cond = None
        compilable = []
        for ve in prop_exprs:
            try:
                v = compile_expr(ve, env)
            except CompileError:
                continue
            compilable.append(ve)
            null_cond = v.isNull() if null_cond is None \
                else null_cond | v.isNull()
        if null_cond is not None and frame.filter(null_cond).count():
            raise CompileError("cannot MERGE with a null property value")

        # 1) match attempt over the whole pattern
        sub = self._sub_compiler("mm")
        sub.df = frame
        sub.symbols = dict(self.symbols)
        sub._pattern_part(part)
        matched = sub.df.localCheckpoint(eager=True)
        have_match = not matched.isEmpty()
        missing = frame.join(matched.select("__mrow").dropDuplicates(),
                             "__mrow", "left_anti")

        if cl.on_match and have_match:
            subm = self._sub_compiler("om2")
            subm.df = matched
            subm.symbols = dict(sub.symbols)
            subm.counters = self.counters
            subm._set(cl.on_match)
        if not missing.isEmpty():
            # one creation per distinct (bound anchors, property values)
            dd = missing
            keys = [f"{s}_id" for s in self._pattern_syms([part])
                    if s in self.symbols
                    and self.symbols.get(s) == "node"]
            env_m = self._env(dd)
            for i, ve in enumerate(compilable):
                dd = dd.withColumn(f"__mp{i}", compile_expr(ve, env_m))
                keys.append(f"__mp{i}")
            # undirected single-rel merges are order-insensitive: one create
            # per unordered endpoint pair (sequential rows would re-match)
            if (len(part.chain) == 1
                    and part.chain[0][0].direction == "both"
                    and part.start.var in self.symbols
                    and part.chain[0][1].var in self.symbols):
                a, b = part.start.var, part.chain[0][1].var
                dd = (dd.withColumn("__mlo", F.least(F.col(f"{a}_id"),
                                                     F.col(f"{b}_id")))
                      .withColumn("__mhi", F.greatest(F.col(f"{a}_id"),
                                                      F.col(f"{b}_id"))))
                keys = [k for k in keys
                        if k not in (f"{a}_id", f"{b}_id")] \
                    + ["__mlo", "__mhi"]
            # nothing distinguishes the rows (no bound anchors, no props):
            # the reference's per-row cursor creates ONE instance and every
            # later row matches it — batched, that is a single exemplar row
            dd = dd.dropDuplicates(keys) if keys else dd.limit(1)
            # undirected merge creates in the written (out) direction
            chain = [(A.RelPattern(r.var, r.types,
                                   "out" if r.direction == "both"
                                   else r.direction, r.props), n)
                     for r, n in part.chain]
            creator = self._sub_compiler("mc2")
            creator.df = dd
            creator.symbols = dict(self.symbols)
            creator.counters = self.counters
            creator._create(A.Create([A.PatternPart(None, part.start, chain)]))
            if cl.on_create:
                creator._set(cl.on_create)
            self._all_props_cache = None  # the creator added columns
        # rebind every input row against the new table versions
        sub2 = self._sub_compiler("mr")
        sub2.df = frame
        sub2.symbols = dict(self.symbols)
        sub2._pattern_part(part)
        self.df = sub2.df.drop("__mrow")
        for s, k in sub2.symbols.items():
            self.symbols.setdefault(s, k)
        # endpoint bookkeeping so startNode()/endNode() on the merged rel
        # can rebuild full node structs (MergeRelationshipAcceptance)
        self.rel_ends.update(getattr(sub2, "rel_ends", {}))

    def _merge_node(self, np: A.NodePattern, cl: A.Merge) -> None:
        sym = np.var or self._anon_sym("n")
        if sym in self.symbols:
            raise CompileError(f"MERGE on already-bound symbol {sym}")
        if np.labels_or:
            raise CompileError(
                "label disjunction (:A|B) is not allowed in CREATE/MERGE")
        labels = self._labels(np.labels)
        if labels != np.labels:
            import dataclasses as _dc
            np = _dc.replace(np, labels=labels)  # $param labels resolved
        if self.df is None:
            self.df = self._seed()
        if np.props:
            # pattern comprehensions in MERGE properties roll up against
            # the incoming frame first (RollUpApply below the Merge)
            import dataclasses as _dc
            np = _dc.replace(np, props={k: self._lift(ve)
                                        for k, ve in np.props.items()})
        frame = (self.df.withColumn("__mrow", F.monotonically_increasing_id())
                 .localCheckpoint(eager=True))
        if np.props:
            env0 = self._env(frame)
            null_cond = None
            for ve in np.props.values():
                try:
                    v = compile_expr(ve, env0)
                except CompileError:
                    continue   # comprehension props are lifted downstream
                null_cond = v.isNull() if null_cond is None \
                    else null_cond | v.isNull()
            if null_cond is not None and frame.filter(null_cond).count():
                raise CompileError("cannot MERGE with a null property value")

        def join_pattern(how: str) -> DataFrame:
            from memgraph_spark.functions.variant import (
                is_variant_type, to_variant, variant_eq_strict)
            p = prefix_columns(self._node_df(np.labels), sym)
            cond = F.lit(True)
            env = self._env(frame)
            for k, ve in np.props.items():
                col = f"{sym}_{A.prop_col(k)}"
                c = F.col(col) if col in p.columns else F.lit(None)
                v = compile_expr(ve, env)
                ct = (p.schema[col].dataType if col in p.columns else None)
                if is_variant_type(ct):
                    # mixed-type property column: strict variant equality
                    # against the typed probe value
                    vt_ = env.typeof(v)
                    probe = v if is_variant_type(vt_) else to_variant(v, vt_)
                    cond = cond & F.coalesce(
                        variant_eq_strict(c, probe), F.lit(False))
                else:
                    cond = cond & (c == v)
            return frame.join(p, cond, how)

        matched = join_pattern("left")
        missing = (matched.filter(F.col(f"{sym}_id").isNull())
                   .select(*frame.columns))
        n_missing = missing.count()
        # ON MATCH applies to the rows that bound BEFORE the create step, so
        # mixed match+create batches set only the pre-existing nodes
        # (operator.cpp:7194 runs the two cursors per input row; batched, the
        # split is by the null-ness of the joined id)
        wrote_match = False
        if cl.on_match:
            found = matched.filter(F.col(f"{sym}_id").isNotNull())
            if not found.isEmpty():
                sub = self._sub_compiler("om")
                sub.df = found
                sub.symbols = dict(self.symbols)
                sub.symbols[sym] = "node"
                sub._set(cl.on_match)
                wrote_match = True
        created_bound = None
        if n_missing:
            env_m = self._env(missing)
            probed = missing
            for k, ve in np.props.items():
                probed = probed.withColumn(f"__p_{k}",
                                           compile_expr(ve, env_m))
            # one creation per distinct property binding, keeping one full
            # outer row as context — ON CREATE may reference outer matched
            # symbols (MergeNodeAcceptance "properties from match")
            exemplar = (probed.dropDuplicates(
                            [f"__p_{k}" for k in np.props])
                        if np.props else probed.limit(1))
            creator = self._sub_compiler("mc")
            creator.df = exemplar.localCheckpoint(eager=True)
            creator.symbols = dict(self.symbols)
            creator._create_node(
                A.NodePattern(sym, np.labels,
                              {k: A.Var(f"__p_{k}") for k in np.props}), sym)
            # capture (input row -> created id) BEFORE ON CREATE SET runs:
            # the binding must not depend on property values a SET may change
            pkeys = [f"__p_{k}" for k in np.props]
            created_ids = creator.df.select(*pkeys, f"{sym}_id")
            created_bound = (probed.select("__mrow", *pkeys)
                             .join(created_ids, pkeys).select(
                                 "__mrow", f"{sym}_id")
                             if pkeys else
                             probed.select("__mrow").crossJoin(created_ids))
            created_bound = created_bound.localCheckpoint(eager=True)
            if cl.on_create:
                creator._set(cl.on_create)
            self._all_props_cache = None  # the creator added columns
        if n_missing or wrote_match:
            # rebind by the ids captured BEFORE any ON MATCH / ON CREATE SET
            # ran — re-running the property predicate against the updated
            # table would drop rows whenever a SET modifies a property the
            # merge pattern itself constrains (the node stays bound in the
            # reference; only its properties changed)
            bound = matched.filter(F.col(f"{sym}_id").isNotNull()) \
                .select("__mrow", f"{sym}_id")
            if created_bound is not None:
                bound = bound.unionByName(created_bound)
            fresh = prefix_columns(self._node_df(np.labels), sym)
            self.df = (frame.join(bound, "__mrow")
                       .join(fresh, f"{sym}_id")
                       .drop("__mrow"))
        else:
            self.df = matched.drop("__mrow")
        self.symbols[sym] = "node"
        return sym

    def _merge_edge(self, part: A.PatternPart, cl: A.Merge) -> None:
        rel, target = part.chain[0]
        a, b = part.start.var, target.var
        if len(rel.types) != 1 or rel.direction == "both":
            raise CompileError("MERGE relationship needs one type + direction")
        etype = rel.types[0]
        src, dst = (a, b) if rel.direction == "out" else (b, a)
        frame = self.df.localCheckpoint(eager=True)
        existing = self.g.edges.get(etype)
        if existing is not None:
            pairs = existing.select(F.col("src").alias("__s"),
                                    F.col("dst").alias("__d")).dropDuplicates()
            missing = frame.join(
                pairs, (F.col(f"{src}_id") == F.col("__s"))
                & (F.col(f"{dst}_id") == F.col("__d")), "left_anti")
        else:
            missing = frame
        n_missing = missing.count()
        # ON MATCH first, on the rows whose relationship already exists —
        # mixed batches set only those (see _merge_node note)
        if cl.on_match:
            found = (frame.join(missing.select(f"{src}_id", f"{dst}_id")
                                .dropDuplicates(),
                                [f"{src}_id", f"{dst}_id"], "left_anti")
                     if n_missing else frame)
            if not found.isEmpty():
                sub = self._sub_compiler("om")
                sub.df, sub.symbols = found, dict(self.symbols)
                bind_rel = A.RelPattern(rel.var or sub._anon_sym("r"),
                                        rel.types, rel.direction, rel.props)
                sub._expand_single(a, bind_rel, target, b)
                sub._set(cl.on_match)
        if n_missing:
            creator = self._sub_compiler("me")
            creator.df = missing.dropDuplicates([f"{src}_id", f"{dst}_id"])
            creator.symbols = dict(self.symbols)
            creator._create_edge(a, rel, b)
            if cl.on_create:
                creator._set(cl.on_create)
        # rebind against the (possibly new) edge version so the rel is visible
        self.df = frame
        self._expand_single(a, rel, target, b)

    def _sub_compiler(self, prefix: str):
        from memgraph_spark.plans.session import QueryCompiler
        sub = QueryCompiler(self.g, self.params, hops=self.hops, anon_prefix=prefix)
        sub.counters = self.counters
        return sub
