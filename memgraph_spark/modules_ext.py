"""MAGE utility modules, batch 2 (SURVEY §2.10): path, merge, nodes, search,
connectivity, distance_calculator, csv_utils, date, graph_util, schema.

Reference modules: src/mage/cpp/{path,merge,nodes,search,connectivity,
distance_calculator,csv_utils,graph_util}_module, query_modules/date.py,
query_modules/schema.cpp. Procedures here are (graph, *args) -> DataFrame
(the UDTF shape, registered via procedures.register); every graph-shaped body
is DataFrame ops — driver code only parses scalar config.
"""

from __future__ import annotations

import datetime as _dt
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.operators.expand import expand_variable
from memgraph_spark.procedures import register
from memgraph_spark.session import empty_frame


# -- shared traversal core ---------------------------------------------------

def _parse_rel_filter(graph, relationships) -> DataFrame:
    """APOC-style relationship filter list: 'TYPE>' out, '<TYPE' in, 'TYPE'
    both; empty list = every type, both directions. Returns the oriented
    (__from, __to, __eid, __fwd) table `expand_variable` walks
    (path_module/algorithm/path.cpp filter parsing)."""
    specs = []
    for raw in (relationships or []):
        s = str(raw).strip()
        if s.startswith("<"):
            specs.append((s[1:], "in"))
        elif s.endswith(">"):
            specs.append((s[:-1], "out"))
        else:
            specs.append((s, "both"))
    return reduce(DataFrame.unionByName,
                  [graph.eid_edges(etype or None, direction)
                   for etype, direction in specs or [(None, "both")]])


def _label_ids(graph, labels) -> DataFrame | None:
    """`id` frame of the nodes that pass the label filter: '+L' allowlist,
    '-L' denylist (plain 'L' counts as allow); None for no filter."""
    allow, deny = [], []
    for raw in (labels or []):
        s = str(raw).strip()
        if s.startswith("-"):
            deny.append(s[1:])
        elif s.startswith("+"):
            allow.append(s[1:])
        elif s:
            allow.append(s)
    if not (allow or deny):
        return None
    ok = F.lit(True)
    if allow:
        ok = ok & (F.size(F.array_intersect(
            F.col("labels"), F.array(*[F.lit(a) for a in allow]))) > 0)
    if deny:
        ok = ok & (F.size(F.array_intersect(
            F.col("labels"), F.array(*[F.lit(d) for d in deny]))) == 0)
    return graph.all_nodes([]).filter(ok).select("id")


def _expand(graph, start, relationships, labels, min_hops, max_hops):
    """path.expand / path.subgraph_* traversal: `expand_variable` from the
    start ids over the relationship filter's edges, every path continuing
    only through nodes that pass the label filter. Columns s_id, n_id,
    p_nids (path nodes after the start), p_eids."""
    ids = [int(x) for x in (start if isinstance(start, (list, tuple))
                            else [start])]
    starts = graph.spark.createDataFrame([(i,) for i in ids], "s_id long")
    return expand_variable(
        starts, graph, None, "s", "n", int(min_hops or 0),
        int(max_hops or 3), path_prefix="p",
        edges=_parse_rel_filter(graph, relationships),
        node_ids=_label_ids(graph, labels))


# -- path module (src/mage/cpp/path_module) ----------------------------------

def _path_expand(g, start, relationships=None, labels=None,
                 min_hops=0, max_hops=3):
    """path.expand(start, relationships, labels, min_hops, max_hops)
    YIELD result — the path as struct(nodes: [ids], rels: [eids])
    (path_module.cpp:41)."""
    paths = _expand(g, start, relationships, labels, min_hops, max_hops)
    return paths.select(F.struct(
        F.concat(F.array("s_id"), F.col("p_nids")).alias("nodes"),
        F.col("p_eids").alias("rels")).alias("result"))


def _path_subgraph_nodes(g, start, config=None):
    """path.subgraph_nodes(start, config) YIELD node (ids)
    (path_module.cpp:66). Config keys (APOC spelling): relationshipFilter,
    labelFilter, minHops/minLevel, maxHops/maxLevel."""
    c = dict(config or {})
    paths = _expand(
        g, start, c.get("relationshipFilter"), c.get("labelFilter"),
        c.get("minHops", c.get("minLevel", 0)),
        c.get("maxHops", c.get("maxLevel", 3)))
    return paths.select(F.col("n_id").alias("node")).dropDuplicates()


def _path_subgraph_all(g, start, config=None):
    """path.subgraph_all(start, config) YIELD nodes, rels — the induced
    subgraph on every reached node (path_module.cpp:75)."""
    nodes = _path_subgraph_nodes(g, start, config)
    edges = _parse_rel_filter(g, (config or {}).get("relationshipFilter"))
    sub = (edges.join(nodes.withColumnRenamed("node", "__from"), "__from",
                      "left_semi")
           .join(nodes.withColumnRenamed("node", "__to"), "__to",
                 "left_semi"))
    return (nodes.agg(F.collect_set("node").alias("nodes"))
            .crossJoin(sub.agg(F.collect_set("__eid").alias("rels"))))


def _path_create(g, start_node, rel_map=None):
    """path.create(start, {key: [eids]}) YIELD path — chains the given edge
    ids from the start node (path_module.cpp:57)."""
    sid = int(start_node)
    eids = []
    if isinstance(rel_map, dict):
        for v in rel_map.values():
            eids.extend(int(x) for x in (v or []))
    elif isinstance(rel_map, (list, tuple)):
        eids = [int(x) for x in rel_map]
    nodes, rels = [sid], []
    if eids:
        e = _parse_rel_filter(g, None)
        rows = {r["__eid"]: (r["__from"], r["__to"])
                for r in e.filter(F.col("__eid").isin(eids)).collect()}
        cur = sid
        for eid in eids:
            if eid not in rows:
                break
            s, d = rows[eid]
            nxt = d if s == cur else (s if d == cur else None)
            if nxt is None:
                break
            nodes.append(nxt)
            rels.append(eid)
            cur = nxt
    return g.spark.createDataFrame(
        [(nodes, rels)], "nodes array<long>, rels array<long>").select(
        F.struct("nodes", "rels").alias("path"))


# -- merge module (src/mage/cpp/merge_module) --------------------------------

def _merge_node(g, labels=None, ident_props=None, create_props=None,
                match_props=None):
    """merge.node(labels, identProps, createProps, matchProps) YIELD node —
    MERGE on ident props with ON CREATE/ON MATCH SET (merge_module.cpp:19)."""
    from memgraph_spark.plans import GraphSession
    labels = list(labels or ["__Node"])
    ident = dict(ident_props or {})
    oncreate = dict(create_props or {})
    onmatch = dict(match_props or {})
    params = {f"i_{k}": v for k, v in ident.items()}
    params.update({f"c_{k}": v for k, v in oncreate.items()})
    params.update({f"m_{k}": v for k, v in onmatch.items()})
    items = ", ".join(f"{k}: $i_{k}" for k in ident)
    q = f"MERGE (n:{':'.join(labels)}" + (f" {{{items}}}" if items else "") + ")"
    if oncreate:
        q += " ON CREATE SET " + ", ".join(
            f"n.{k} = $c_{k}" for k in oncreate)
    if onmatch:
        q += " ON MATCH SET " + ", ".join(f"n.{k} = $m_{k}" for k in onmatch)
    q += " RETURN id(n) AS node"
    rows = GraphSession(g).execute(q, params).collect()
    return g.spark.createDataFrame([(r.node,) for r in rows], "node long")


def _merge_relationship(g, start_node, rel_type, ident_props=None,
                        create_props=None, end_node=None, match_props=None):
    """merge.relationship(start, type, identProps, createProps, end,
    matchProps) YIELD relationship (eid) (merge_module.cpp:30)."""
    src, dst = int(start_node), int(end_node)
    ident = dict(ident_props or {})
    existing = g.edges.get(rel_type)
    if existing is not None:
        cond = (F.col("src") == src) & (F.col("dst") == dst)
        for k, v in ident.items():
            cond = cond & (F.col(k) == F.lit(v)) if k in existing.columns \
                else cond & F.lit(False)
        hit = existing.filter(cond)
        if "eid" in existing.columns and not hit.isEmpty():
            if match_props:
                updated = existing
                for k, v in dict(match_props).items():
                    base = F.col(k) if k in existing.columns else F.lit(None)
                    updated = updated.withColumn(
                        k, F.when(cond, F.lit(v)).otherwise(base))
                g.set_edge_version(rel_type, updated)
            return hit.select(F.col("eid").alias("relationship"))
    from memgraph_spark.procedures import PROCEDURES
    props = {**ident, **dict(create_props or {})}
    return PROCEDURES["create.relationship"](g, src, rel_type, props, dst)


# -- nodes module (src/mage/cpp/nodes_module) --------------------------------

def _nodes_link(g, nodes, rel_type):
    """nodes.link(nodes_list, type): chain consecutive nodes with `type`
    edges (nodes_module.cpp:21). Write procedure, empty yield."""
    from memgraph_spark.procedures import PROCEDURES
    ids = [int(x) for x in (nodes or [])]
    for a, b in zip(ids, ids[1:]):
        PROCEDURES["create.relationship"](g, a, rel_type, {}, b).collect()
    return g.spark.createDataFrame([(True,)], "ok boolean")


def _nodes_delete(g, nodes):
    """nodes.delete(node-or-list): DETACH DELETE by id (nodes_module.cpp:40)."""
    ids = [int(x) for x in (nodes if isinstance(nodes, (list, tuple))
                            else [nodes])]
    for lbl, df in list(g.nodes.items()):
        g.set_node_version(lbl, df.filter(~F.col("id").isin(ids)))
    for etype, e in list(g.edges.items()):
        g.set_edge_version(etype, e.filter(
            ~F.col("src").isin(ids) & ~F.col("dst").isin(ids)))
    return g.spark.createDataFrame([(True,)], "ok boolean")


def _nodes_relationship_types(g, nodes, types=None):
    """nodes.relationship_types(node-or-list, [filters]) YIELD
    relationship_types: per node, its in/out edge types
    (nodes_module.cpp:30). Filters use the '<T'/'T>'/'T' spelling."""
    ids = [int(x) for x in (nodes if isinstance(nodes, (list, tuple))
                            else [nodes])]
    idf = g.spark.createDataFrame([(i,) for i in ids], "node long")
    e = g.all_edges()
    out = (idf.join(e, idf["node"] == e["src"], "left")
           .groupBy("node").agg(F.collect_set("type").alias("out_types")))
    inn = (idf.join(e, idf["node"] == e["dst"], "left")
           .groupBy("node").agg(F.collect_set("type").alias("in_types")))
    both = out.join(inn, "node")
    specs = [str(s).strip() for s in (types or [])]
    if specs:
        keep_out = F.array(*[F.lit(s.rstrip(">")) for s in specs
                             if not s.startswith("<")])
        keep_in = F.array(*[F.lit(s.lstrip("<")) for s in specs
                            if not s.endswith(">")])
        both = both.select(
            "node",
            F.array_intersect("out_types", keep_out).alias("out_types"),
            F.array_intersect("in_types", keep_in).alias("in_types"))
    return both.select(
        "node",
        F.struct(F.col("in_types"), F.col("out_types"))
        .alias("relationship_types"))


def _nodes_relationships_exist(g, nodes, relationships):
    """nodes.relationships_exist(nodes, ['T>', '<T', …]) YIELD result:
    map relationship-spec -> bool per node (nodes_module.cpp:48)."""
    rt = _nodes_relationship_types(g, nodes, None)
    flat = rt.select(
        "node",
        F.col("relationship_types.in_types").alias("in_types"),
        F.col("relationship_types.out_types").alias("out_types"))
    checks = []
    for raw in (relationships or []):
        s = str(raw).strip()
        if s.startswith("<"):
            c = F.array_contains("in_types", s[1:])
        elif s.endswith(">"):
            c = F.array_contains("out_types", s[:-1])
        else:
            t = s
            c = (F.array_contains("in_types", t)
                 | F.array_contains("out_types", t))
        checks.append((s, c))
    result = F.map_from_arrays(
        F.array(*[F.lit(s) for s, _ in checks]),
        F.array(*[c for _, c in checks]))
    return flat.select("node", result.alias("result"))


# -- search module (src/mage/cpp/search_module) ------------------------------

_SEARCH_OPS = {
    "=": lambda c, v: c.cast("string") == v, "exact": lambda c, v: c.cast("string") == v,
    "<>": lambda c, v: c.cast("string") != v,
    "<": lambda c, v: c < v.cast("double"), "<=": lambda c, v: c <= v.cast("double"),
    ">": lambda c, v: c > v.cast("double"), ">=": lambda c, v: c >= v.cast("double"),
    "starts with": lambda c, v: c.cast("string").startswith(v),
    "ends with": lambda c, v: c.cast("string").endswith(v),
    "contains": lambda c, v: c.cast("string").contains(v),
    "=~": lambda c, v: c.cast("string").rlike(v),
}


def _search(g, label_properties, op, value, require_all):
    op = str(op).strip().lower()
    if op not in _SEARCH_OPS:
        raise ValueError(
            f"operator `{op}` invalid, it must be one of (case insensitive): "
            "[<=, =~, contains, <>, ends with, starts with, exact, <, =, >, >=].")
    cmp = _SEARCH_OPS[op]
    v = F.lit(value)
    out = None
    for label, props in dict(label_properties or {}).items():
        if label not in g.nodes:
            continue
        df = g.nodes[label]
        conds = [cmp(F.col(p), v) for p in (props or []) if p in df.columns]
        if not conds:
            continue
        pred = conds[0]
        for c in conds[1:]:
            pred = (pred & c) if require_all else (pred | c)
        hit = df.filter(pred).select(F.col("id").alias("node"))
        out = hit if out is None else out.unionByName(hit)
    if out is None:
        return empty_frame(g.spark, "node long")
    return out.dropDuplicates()


def _search_node(g, label_properties, op, value=None):
    """search.node({Label: [props]}, operator, value) YIELD node — any of
    the listed properties matches (search_module.cpp)."""
    return _search(g, label_properties, op, value, require_all=False)


def _search_node_all(g, label_properties, op, value=None):
    """search.node_all: every listed property must match."""
    return _search(g, label_properties, op, value, require_all=True)


# -- connectivity / distance_calculator / csv_utils --------------------------

def _connectivity_get(g):
    """connectivity.get() YIELD node_id, component_id — weak connectivity
    (src/mage/cpp/connectivity_module/connectivity_module.cpp:93)."""
    from memgraph_spark.procedures import PROCEDURES
    return PROCEDURES["weakly_connected_components.get"](g)


def _node_latlng(g, ids):
    nodes = g.all_nodes(["lat", "lng"])
    return nodes.filter(F.col("id").isin([int(i) for i in ids]))


def _dc_single(g, start, end, metrics="m"):
    """distance_calculator.single(start, end, 'm'|'km') YIELD distance —
    haversine over node lat/lng properties (distance_calculator.cpp:123)."""
    pts = {r.id: (r.lat, r.lng)
           for r in _node_latlng(g, [start, end]).collect()}
    a, b = pts.get(int(start)), pts.get(int(end))
    if not a or not b or a[0] is None or b[0] is None:
        raise ValueError("distance_calculator: nodes need lat/lng properties")
    from memgraph_spark.functions.spatial import SRID_WGS84, make_point, point_distance
    df = g.spark.range(1).select(
        point_distance(
            make_point(F.lit(float(a[1])), F.lit(float(a[0])), SRID_WGS84),
            make_point(F.lit(float(b[1])), F.lit(float(b[0])), SRID_WGS84),
        ).alias("distance"))
    if str(metrics).lower().startswith("k"):
        df = df.select((F.col("distance") / 1000.0).alias("distance"))
    return df


def _dc_multiple(g, starts, ends, metrics="m"):
    """distance_calculator.multiple(starts, ends, metrics) YIELD distances —
    pairwise (zip) distances (distance_calculator.cpp:136)."""
    from memgraph_spark.functions.spatial import SRID_WGS84, make_point, point_distance
    pairs = list(zip([int(x) for x in starts], [int(x) for x in ends]))
    pts = {r.id: (r.lat, r.lng)
           for r in _node_latlng(g, {i for p in pairs for i in p}).collect()}
    rows = [(float(pts[a][0]), float(pts[a][1]),
             float(pts[b][0]), float(pts[b][1])) for a, b in pairs]
    df = g.spark.createDataFrame(
        rows, "alat double, alng double, blat double, blng double")
    d = point_distance(make_point(F.col("alng"), F.col("alat"), SRID_WGS84),
                       make_point(F.col("blng"), F.col("blat"), SRID_WGS84))
    if str(metrics).lower().startswith("k"):
        d = d / 1000.0
    return df.agg(F.collect_list(d).alias("distances"))


def _csv_create(g, filepath, content="", is_append=False):
    """csv_utils.create_csv_file(path, content, append) YIELD filepath
    (csv_utils_module.cpp:20)."""
    mode = "a" if is_append else "w"
    with open(filepath, mode, encoding="utf-8") as f:
        f.write(str(content))
    return g.spark.createDataFrame([(str(filepath),)], "filepath string")


def _csv_delete(g, filepath):
    """csv_utils.delete_csv_file(path) (csv_utils_module.cpp:31)."""
    if os.path.exists(filepath):
        os.remove(filepath)
    return g.spark.createDataFrame([(True,)], "ok boolean")


# -- date module (query_modules/date.py) -------------------------------------

_UNIT_US = {"ms": 1000, "milliseconds": 1000, "s": 10**6, "seconds": 10**6,
            "sec": 10**6, "m": 60 * 10**6, "minutes": 60 * 10**6,
            "h": 3600 * 10**6, "hours": 3600 * 10**6,
            "d": 86400 * 10**6, "days": 86400 * 10**6,
            "us": 1, "microseconds": 1}


def _date_parse(g, time, unit="ms", format="%Y-%m-%d %H:%M:%S",
                timezone="UTC"):
    """date.parse(str, unit, format, tz) YIELD parsed — epoch offset in
    `unit` (query_modules/date.py:42)."""
    import zoneinfo
    dt = _dt.datetime.strptime(str(time), format)
    dt = dt.replace(tzinfo=zoneinfo.ZoneInfo(str(timezone)))
    micros = int(dt.timestamp() * 1_000_000)
    return g.spark.createDataFrame(
        [(micros // _UNIT_US[str(unit)],)], "parsed long")


def _date_format(g, time, unit="ms", format="%Y-%m-%d %H:%M:%S %Z",
                 timezone="UTC"):
    """date.format(int, unit, format, tz) YIELD formatted
    (query_modules/date.py:91)."""
    import zoneinfo
    micros = int(time) * _UNIT_US[str(unit)]
    dt = _dt.datetime.fromtimestamp(micros / 1_000_000,
                                    tz=zoneinfo.ZoneInfo(str(timezone)))
    return g.spark.createDataFrame(
        [(dt.strftime(format),)], "formatted string")


def _date_formats(g):
    """date.get_date_formats() YIELD formats (query_modules/date.py:272)."""
    fmts = ["%Y-%m-%d", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S",
            "%d-%m-%Y", "%d/%m/%Y", "%m/%d/%Y", "%H:%M:%S", "%Y%m%d"]
    return g.spark.createDataFrame([(fmts,)], "formats array<string>")


# -- graph_util module (src/mage/cpp/graph_util_module) ----------------------

def _reach(g, node, direction):
    from memgraph_spark.operators.expand import bfs
    src = g.spark.createDataFrame([(int(node),)], "id long")
    r = bfs(g, src, etype=None, direction=direction, max_hops=100)
    return r.filter(F.col("dist") > 0).select("id")


def _gu_ancestors(g, node):
    """graph_util.ancestors(node) YIELD ancestors — every node that can
    reach `node` (graph_util_module.cpp:21)."""
    return _reach(g, node, "in").agg(F.collect_set("id").alias("ancestors"))


def _gu_descendants(g, node):
    """graph_util.descendants(node) YIELD descendants
    (graph_util_module.cpp:24)."""
    return _reach(g, node, "out").agg(
        F.collect_set("id").alias("descendants"))


def _gu_connect_nodes(g, nodes):
    """graph_util.connect_nodes(nodes) YIELD connections — existing edges
    among the given node set (graph_util_module.cpp:23)."""
    ids = [int(x) for x in (nodes or [])]
    e = g.all_edges()
    hit = e.filter(F.col("src").isin(ids) & F.col("dst").isin(ids))
    return hit.select(F.struct("src", "dst", "type").alias("connections"))


def _gu_chain_nodes(g, nodes, edge_type):
    """graph_util.chain_nodes(nodes, type) YIELD connections — creates the
    consecutive chain (graph_util_module.cpp:22)."""
    _nodes_link(g, nodes, edge_type).collect()
    ids = [int(x) for x in (nodes or [])]
    rows = [((a, b, str(edge_type)),) for a, b in zip(ids, ids[1:])]
    return g.spark.createDataFrame(
        rows or [], "connections struct<src: long, dst: long, type: string>")


def _gu_topological_sort(g):
    """graph_util.topological_sort() YIELD sorted_nodes
    (graph_util_module.cpp:25)."""
    from memgraph_spark.algos import topological_layers
    layers = topological_layers(g)
    if layers is None:
        raise ValueError(
            "Graph has a cycle — topological sort is undefined")
    ordered = [r.id for r in layers.orderBy("layer", "id").collect()]
    return g.spark.createDataFrame(
        [(ordered,)], "sorted_nodes array<long>")


# -- schema module (query_modules/schema.cpp) --------------------------------

_SPARK_TO_CYPHER = {
    "bigint": "Int", "int": "Int", "smallint": "Int", "tinyint": "Int",
    "double": "Float", "float": "Float", "string": "String",
    "boolean": "Bool", "date": "Date", "timestamp": "ZonedDateTime",
    "timestamp_ntz": "LocalDateTime", "binary": "ByteString",
}


def _type_name(dt) -> str:
    s = dt.simpleString()
    if s.startswith("array"):
        return "List"
    if s.startswith(("map", "struct")):
        return "Map"
    return _SPARK_TO_CYPHER.get(s, s.capitalize())


def _schema_node_types(g):
    """schema.node_type_properties() YIELD nodeType, nodeLabels,
    propertyName, propertyTypes, mandatory (query_modules/schema.cpp:27).
    mandatory = the property is non-null on every row of the label table."""
    rows = []
    for label, df in sorted(g.nodes.items()):
        props = [c for c in df.columns if c != "id"]
        if not props:
            rows.append((f":`{label}`", [label], "", [], False))
            continue
        counts = df.agg(
            F.count("*").alias("__n"),
            *[F.count(c).alias(c) for c in props]).first()
        for c in props:
            rows.append((f":`{label}`", [label], c,
                         [_type_name(df.schema[c].dataType)],
                         counts[c] == counts["__n"] and counts["__n"] > 0))
    return g.spark.createDataFrame(
        rows, "nodeType string, nodeLabels array<string>, "
              "propertyName string, propertyTypes array<string>, "
              "mandatory boolean")


def _schema_rel_types(g):
    """schema.rel_type_properties() YIELD relType, propertyName,
    propertyTypes, mandatory (query_modules/schema.cpp:28)."""
    rows = []
    for etype, df in sorted(g.edges.items()):
        props = [c for c in df.columns if c not in ("src", "dst", "eid")]
        if not props:
            rows.append((f":`{etype}`", "", [], False))
            continue
        counts = df.agg(
            F.count("*").alias("__n"),
            *[F.count(c).alias(c) for c in props]).first()
        for c in props:
            rows.append((f":`{etype}`", c,
                         [_type_name(df.schema[c].dataType)],
                         counts[c] == counts["__n"] and counts["__n"] > 0))
    return g.spark.createDataFrame(
        rows, "relType string, propertyName string, "
              "propertyTypes array<string>, mandatory boolean")


def _schema_assert(g, indices=None, unique_constraints=None,
                   existence_constraints=None, drop_existing=True):
    """schema.assert(indices, unique, existence, dropExisting) YIELD action,
    key, keys, label, unique (query_modules/schema.cpp:29) — reconcile the
    declared index/constraint registries against the requested state."""
    if not hasattr(g, "index_registry"):
        g.index_registry = []
    reg = g.index_registry
    want = {(lbl, p) for lbl, props in dict(indices or {}).items()
            for p in (props or [None])}
    # normalize label/property entries (single props may be stored as
    # 1-tuples by the composite-index DDL) to (label, prop-or-None)
    have = {}
    for e in reg:
        if len(e) != 2:
            continue
        p = e[1]
        if isinstance(p, tuple):
            if len(p) != 1:
                continue  # composite indexes are not schema.assert-managed
            p = p[0]
        have[(e[0], p)] = e
    rows = []
    for lbl, p in sorted(want - set(have), key=str):
        reg.append((lbl, p))
        rows.append(("Created", p or "", [p] if p else [], lbl, False))
    if drop_existing:
        for lbl, p in sorted(set(have) - want, key=str):
            reg.remove(have[(lbl, p)])
            rows.append(("Dropped", p or "", [p] if p else [], lbl, False))
    return g.spark.createDataFrame(
        rows or [], "action string, key string, keys array<string>, "
                    "label string, unique boolean")


# -- registration ------------------------------------------------------------

register("path.expand", _path_expand)
register("path.subgraph_nodes", _path_subgraph_nodes)
register("path.subgraph_all", _path_subgraph_all)
register("path.create", _path_create)
register("merge.node", _merge_node)
register("merge.relationship", _merge_relationship)
register("nodes.link", _nodes_link)
register("nodes.delete", _nodes_delete)
register("nodes.relationship_types", _nodes_relationship_types)
register("nodes.relationships_exist", _nodes_relationships_exist)
register("search.node", _search_node)
register("search.node_all", _search_node_all)
register("connectivity.get", _connectivity_get)
register("distance_calculator.single", _dc_single)
register("distance_calculator.multiple", _dc_multiple)
register("csv_utils.create_csv_file", _csv_create)
register("csv_utils.delete_csv_file", _csv_delete)
register("date.parse", _date_parse)
register("date.format", _date_format)
register("date.get_date_formats", _date_formats)
register("graph_util.ancestors", _gu_ancestors)
register("graph_util.descendants", _gu_descendants)
register("graph_util.connect_nodes", _gu_connect_nodes)
register("graph_util.chain_nodes", _gu_chain_nodes)
register("graph_util.topological_sort", _gu_topological_sort)
register("schema.node_type_properties", _schema_node_types)
register("schema.rel_type_properties", _schema_rel_types)
register("schema.assert", _schema_assert)
