"""refactor.* graph-surgery procedures, batch 2 (reference
src/mage/cpp/refactor_module/refactor_module.cpp:20-195, algorithm in
algorithm/refactor.cpp). APOC-style write procedures: every mutation is a
table-version swap (set_node_version / set_edge_version) — the Spark
re-expression of the reference's in-place storage writes.

Node/relationship arguments are ids (our frame representation). Driver-side
loops run only over label/edge-type tables and the explicit id lists the
caller passes; the per-table updates are DataFrame expressions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from memgraph_spark.catalog import KEY_BITS, register_label
from memgraph_spark.procedures import register
from memgraph_spark.session import empty_frame

_INTERNAL = {"id", "src", "dst", "eid", "labels", "type"}


def _ensure_eids(g):
    """Guarantee every edge table carries a stable eid column."""
    for etype, df in list(g.edges.items()):
        if "eid" not in df.columns:
            g.set_edge_version(etype, df.withColumn(
                "eid", F.xxhash64(F.lit(etype), "src", "dst")))


def _edge_rows(g, eids):
    """Collect (etype, row) for the given edge ids (small explicit list)."""
    _ensure_eids(g)
    eids = [int(e) for e in eids]
    out = []
    for etype, df in g.edges.items():
        for r in df.filter(F.col("eid").isin(eids)).collect():
            out.append((etype, r))
    return out


def _node_label(g, nid):
    for label, df in g.nodes.items():
        if df.filter(F.col("id") == int(nid)).limit(1).count():
            return label
    return None


def _mint_ids(g, label, n):
    """Allocate n fresh node ids under label (same scheme as the CREATE
    write path: past the label's current max key, writes.py:110)."""
    register_label(label)
    base = 0
    if label in g.nodes:
        row = g.nodes[label].agg(
            F.max(F.col("id") % (1 << KEY_BITS))).first()
        base = (row[0] or 0) + 1
    code = register_label(label) * (1 << KEY_BITS)
    return [code + base + i for i in range(n)]


def _append_nodes(g, label, rows):
    """Append property dicts as new nodes under label; returns new ids."""
    if not rows:
        return []
    ids = _mint_ids(g, label, len(rows))
    payload = [{"id": i, **{k: v for k, v in r.items()
                            if k not in _INTERNAL}}
               for i, r in zip(ids, rows)]
    new_df = g.spark.createDataFrame(payload)
    if label in g.nodes:
        new_df = g.nodes[label].unionByName(new_df,
                                            allowMissingColumns=True)
    g.set_node_version(label, new_df)
    return ids


def _append_edges(g, etype, triples):
    """Append (src, dst, props) rows under etype; returns new eids."""
    if not triples:
        return []
    _ensure_eids(g)
    epoch = g.next_epoch()
    payload = []
    eids = []
    for i, (src, dst, props) in enumerate(triples):
        eid = hash((etype, epoch, i)) & 0x7FFFFFFFFFFFFFFF
        eids.append(eid)
        payload.append({"src": int(src), "dst": int(dst), "eid": eid,
                        **{k: v for k, v in (props or {}).items()
                           if k not in _INTERNAL}})
    new_df = g.spark.createDataFrame(payload)
    if etype in g.edges:
        new_df = g.edges[etype].unionByName(new_df,
                                            allowMissingColumns=True)
    g.set_edge_version(etype, new_df)
    return eids


def _delete_edges(g, eids):
    eids = [int(e) for e in eids]
    if not eids:
        return
    _ensure_eids(g)
    for etype, df in list(g.edges.items()):
        g.set_edge_version(etype, df.filter(~F.col("eid").isin(eids)))


def _delete_nodes(g, nids, detach=True):
    nids = [int(n) for n in nids]
    if not nids:
        return
    for label, df in list(g.nodes.items()):
        g.set_node_version(label, df.filter(~F.col("id").isin(nids)))
    if detach:
        for etype, df in list(g.edges.items()):
            g.set_edge_version(etype, df.filter(
                ~F.col("src").isin(nids) & ~F.col("dst").isin(nids)))
    g.forget()


def _props_of(row):
    return {k: v for k, v in row.asDict().items()
            if k not in _INTERNAL and v is not None}


def _retarget(g, eid, *, new_src=None, new_dst=None, swap=False):
    """Point an edge at a new endpoint (refactor.from/to/invert)."""
    _ensure_eids(g)
    eid = int(eid)
    for etype, df in list(g.edges.items()):
        hit = F.col("eid") == eid
        if not df.filter(hit).limit(1).count():
            continue
        if swap:
            upd = df.withColumns({
                "src": F.when(hit, F.col("dst")).otherwise(F.col("src")),
                "dst": F.when(hit, F.col("src")).otherwise(F.col("dst"))})
        elif new_src is not None:
            upd = df.withColumn("src", F.when(hit, F.lit(int(new_src)))
                                .otherwise(F.col("src")))
        else:
            upd = df.withColumn("dst", F.when(hit, F.lit(int(new_dst)))
                                .otherwise(F.col("dst")))
        g.set_edge_version(etype, upd)
        return True
    return False


# ---------------------------------------------------------------------------
# procedures
# ---------------------------------------------------------------------------

def _refactor_from(g, relationship, new_from):
    """refactor.from(relationship, newFrom) YIELD relationship
    (refactor_module.cpp:20)."""
    if not _retarget(g, relationship, new_src=new_from):
        raise ValueError(f"relationship {relationship} not found")
    return g.spark.createDataFrame([(int(relationship),)],
                                   "relationship long")


def _refactor_to(g, relationship, new_to):
    """refactor.to(relationship, newTo) YIELD relationship
    (refactor_module.cpp:29)."""
    if not _retarget(g, relationship, new_dst=new_to):
        raise ValueError(f"relationship {relationship} not found")
    return g.spark.createDataFrame([(int(relationship),)],
                                   "relationship long")


def _refactor_invert(g, relationship):
    """refactor.invert(relationship | list) YIELD input, output, error
    (refactor_module.cpp:114)."""
    rels = relationship if isinstance(relationship, (list, tuple)) \
        else [relationship]
    rows = []
    for r in rels:
        ok = _retarget(g, r, swap=True)
        rows.append((int(r), int(r) if ok else None,
                     None if ok else "relationship not found"))
    return g.spark.createDataFrame(
        rows, "input long, output long, error string")


def _refactor_rename_type_property(g, old_property, new_property,
                                   rel_type=None):
    """refactor.rename_type_property(old, new, [type]) YIELD
    relationships_changed (refactor_module.cpp:179)."""
    n = 0
    for etype, df in list(g.edges.items()):
        if rel_type and etype != rel_type:
            continue
        if old_property in df.columns:
            n += df.filter(F.col(old_property).isNotNull()).count()
            g.set_edge_version(etype, df.withColumnRenamed(
                old_property, new_property))
    return g.spark.createDataFrame([(n,)], "relationships_changed long")


def _refactor_normalize_as_boolean(g, entity, property_key, true_values,
                                   false_values):
    """refactor.normalize_as_boolean(nodes, key, trues, falses)
    (refactor_module.cpp:158) — property becomes true/false, or is removed
    when the value matches neither list."""
    nids = [int(n) for n in
            (entity if isinstance(entity, (list, tuple)) else [entity])]
    trues = list(true_values or [])
    falses = list(false_values or [])
    for label, df in list(g.nodes.items()):
        if property_key not in df.columns:
            continue
        hit = F.col("id").isin(nids)
        col = F.col(property_key)
        norm = (F.when(col.isin(trues), F.lit(True))
                .when(col.isin(falses), F.lit(False))
                .otherwise(F.lit(None)))
        # typed columns force one type per label table: targeted rows get
        # the normalized boolean, the rest a best-effort boolean cast
        g.set_node_version(label, df.withColumn(
            property_key, F.when(hit, norm).otherwise(col.cast("boolean"))))
    return empty_frame(g.spark, "success boolean")


def _refactor_collapse_node(g, nodes, rel_type):
    """refactor.collapse_node(nodes, type) YIELD id_collapsed,
    new_relationship (refactor_module.cpp:124) — a node with exactly one
    incoming and one outgoing neighbour is replaced by a single edge."""
    nids = [int(n) for n in
            (nodes if isinstance(nodes, (list, tuple)) else [nodes])]
    _ensure_eids(g)
    rows = []
    for nid in nids:
        ins, outs = [], []
        for etype, df in g.edges.items():
            ins += [(etype, r) for r in
                    df.filter(F.col("dst") == nid).collect()]
            outs += [(etype, r) for r in
                     df.filter(F.col("src") == nid).collect()]
        if len(ins) != 1 or len(outs) != 1:
            raise ValueError(
                f"collapse_node: node {nid} must have exactly 1 in and "
                f"1 out relationship (has {len(ins)}/{len(outs)})")
        props = {**_props_of(ins[0][1]), **_props_of(outs[0][1])}
        [new_eid] = _append_edges(
            g, rel_type, [(ins[0][1]["src"], outs[0][1]["dst"], props)])
        _delete_edges(g, [ins[0][1]["eid"], outs[0][1]["eid"]])
        _delete_nodes(g, [nid])
        rows.append((nid, new_eid))
    return g.spark.createDataFrame(
        rows, "id_collapsed long, new_relationship long")


def _refactor_extract_node(g, relationships, labels, out_type, in_type):
    """refactor.extract_node(rels, labels, outType, inType) YIELD input,
    output, error (refactor_module.cpp:145) — each relationship becomes a
    node: (from)-[outType]->(extracted)-[inType]->(to)."""
    rels = relationships if isinstance(relationships, (list, tuple)) \
        else [relationships]
    label = (list(labels) or ["Extracted"])[0]
    rows = []
    for etype, r in _edge_rows(g, rels):
        [nid] = _append_nodes(g, label, [_props_of(r)])
        _append_edges(g, out_type, [(r["src"], nid, {})])
        _append_edges(g, in_type, [(nid, r["dst"], {})])
        _delete_edges(g, [r["eid"]])
        rows.append((int(r["eid"]), nid, None))
    return g.spark.createDataFrame(rows, "input long, output long, "
                                   "error string")


def _refactor_delete_and_reconnect(g, nodes, relationships=None,
                                   config=None):
    """refactor.delete_and_reconnect(nodes, [rels, config]) YIELD nodes,
    relationships (refactor_module.cpp:134). Deleted nodes' in/out
    neighbour pairs are re-joined; relationshipSelectionStrategy
    incoming|outgoing|merge picks which side's type+properties survive
    (algorithm/refactor.cpp:543-578)."""
    config = dict(config or {})
    strategy = str(config.get("relationshipSelectionStrategy",
                              "incoming")).lower()
    nids = [int(n) for n in
            (nodes if isinstance(nodes, (list, tuple)) else [nodes])]
    _ensure_eids(g)
    new_rels = []
    for nid in nids:
        ins, outs = [], []
        for etype, df in g.edges.items():
            ins += [(etype, r) for r in df.filter(
                (F.col("dst") == nid) & ~F.col("src").isin(nids)).collect()]
            outs += [(etype, r) for r in df.filter(
                (F.col("src") == nid) & ~F.col("dst").isin(nids)).collect()]
        for it, ir in ins:
            for ot, orow in outs:
                if strategy == "outgoing":
                    etype, props = ot, _props_of(orow)
                elif strategy == "merge":
                    etype = it
                    props = {**_props_of(orow), **_props_of(ir)}
                else:
                    etype, props = it, _props_of(ir)
                new_rels += [(etype, ir["src"], orow["dst"], props)]
    created = []
    for etype, src, dst, props in new_rels:
        created += _append_edges(g, etype, [(src, dst, props)])
    _delete_nodes(g, nids)
    remaining = sorted(r["id"] for df in g.nodes.values()
                      for r in df.select("id").collect())
    return g.spark.createDataFrame(
        [(remaining, sorted(created))],
        "nodes array<long>, relationships array<long>")


def _refactor_categorize(g, original_prop_key, rel_type, is_outgoing,
                         label_name, new_prop_name_key, copy_props=None):
    """refactor.categorize(sourceKey, relType, outgoing, label, propKey,
    [copyProps]) YIELD status (refactor_module.cpp:38, algorithm
    refactor.cpp:348) — one category node per distinct property value,
    linked from every node carrying that value; the property (and
    copy_props) moves onto the category node."""
    copy_props = list(copy_props or [])
    # distinct (value, copy_props...) over all labels carrying the key
    values = {}
    members = []  # (node_id, value)
    for label, df in g.nodes.items():
        if original_prop_key not in df.columns:
            continue
        sel = df.filter(F.col(original_prop_key).isNotNull())
        cols = ["id", original_prop_key] + [c for c in copy_props
                                            if c in df.columns]
        for r in sel.select(*cols).collect():
            v = r[original_prop_key]
            values.setdefault(v, {c: r[c] for c in copy_props
                                  if c in r.asDict()})
            members.append((r["id"], v))
    cat_rows = [{new_prop_name_key: v, **extra}
                for v, extra in sorted(values.items())]
    cat_ids = _append_nodes(g, label_name, cat_rows)
    by_value = {row[new_prop_name_key]: cid
                for row, cid in zip(cat_rows, cat_ids)}
    triples = []
    for nid, v in members:
        cid = by_value[v]
        triples.append((nid, cid, {}) if is_outgoing else (cid, nid, {}))
    _append_edges(g, rel_type, triples)
    # the categorized property (and copied ones) leave the source nodes
    for label, df in list(g.nodes.items()):
        if label == label_name or original_prop_key not in df.columns:
            continue
        drop = [original_prop_key] + [c for c in copy_props
                                      if c in df.columns]
        g.set_node_version(label, df.drop(*drop))
    return g.spark.createDataFrame([("success",)], "status string")


def _clone_nodes_impl(g, nids, clone_rels, skip_props, standin=None):
    """Shared body of clone_nodes / clone_subgraph: returns
    (rows, old->new map). standin pairs reuse existing nodes as clones."""
    standin = dict(standin or {})
    skip = set(skip_props or [])
    mapping = {}
    rows = []
    for nid in nids:
        nid = int(nid)
        if nid in standin:
            mapping[nid] = int(standin[nid])
            continue
        label = _node_label(g, nid)
        if label is None:
            rows.append((nid, None, "node not found"))
            continue
        r = g.nodes[label].filter(F.col("id") == nid).first()
        props = {k: v for k, v in _props_of(r).items() if k not in skip}
        [new_id] = _append_nodes(g, label, [props])
        mapping[nid] = new_id
        rows.append((nid, new_id, None))
    if clone_rels:
        _ensure_eids(g)
        for etype, df in list(g.edges.items()):
            for r in df.filter(F.col("src").isin(list(mapping)) |
                               F.col("dst").isin(list(mapping))).collect():
                src = mapping.get(r["src"], r["src"])
                dst = mapping.get(r["dst"], r["dst"])
                props = {k: v for k, v in _props_of(r).items()
                         if k not in skip}
                _append_edges(g, etype, [(src, dst, props)])
    return rows, mapping


def _refactor_clone_nodes(g, nodes, clone_rels=False, skip_props=None):
    """refactor.clone_nodes(nodes, [withRelationships, skipProperties])
    YIELD input, output, error (refactor_module.cpp:55)."""
    nids = [int(n) for n in nodes]
    rows, _ = _clone_nodes_impl(g, nids, bool(clone_rels), skip_props)
    return g.spark.createDataFrame(rows, "input long, output long, "
                                   "error string")


def _refactor_clone_subgraph(g, nodes, rels=None, config=None):
    """refactor.clone_subgraph(nodes, [rels, config]) YIELD input, output,
    error (refactor_module.cpp:81). config.standinNodes = [[old, standin],
    …]; config.skipProperties."""
    config = dict(config or {})
    standin = {int(a): int(b)
               for a, b in (config.get("standinNodes") or [])}
    skip = config.get("skipProperties") or []
    nids = [int(n) for n in nodes]
    rows, mapping = _clone_nodes_impl(g, nids, False, skip, standin)
    _ensure_eids(g)
    eids = [int(e) for e in (rels or [])]
    edge_rows = _edge_rows(g, eids) if eids else [
        (etype, r) for etype, df in g.edges.items()
        for r in df.filter(F.col("src").isin(nids) &
                           F.col("dst").isin(nids)).collect()]
    for etype, r in edge_rows:
        if r["src"] in mapping and r["dst"] in mapping:
            props = {k: v for k, v in _props_of(r).items()
                     if k not in set(skip)}
            _append_edges(g, etype,
                          [(mapping[r["src"]], mapping[r["dst"]], props)])
    return g.spark.createDataFrame(rows, "input long, output long, "
                                   "error string")


def _refactor_clone_subgraph_from_paths(g, paths, config=None):
    """refactor.clone_subgraph_from_paths(paths, [config]) YIELD input,
    output, error (refactor_module.cpp:69) — paths are [n, r, n, r, …]
    id lists (our path representation)."""
    nodes, rels = [], []
    for p in paths or []:
        seq = list(p)
        nodes += seq[0::2]
        rels += seq[1::2]
    return _refactor_clone_subgraph(
        g, list(dict.fromkeys(nodes)),
        list(dict.fromkeys(rels)), config)


def _refactor_merge_nodes(g, nodes, config=None):
    """refactor.merge_nodes(nodes, [config]) YIELD node
    (refactor_module.cpp:190) — all nodes merge into the first: edges are
    redirected, properties combine per config.properties
    (discard | override | combine, algorithm/refactor.cpp:571-578)."""
    config = dict(config or {})
    strategy = str(config.get("properties", "combine")).lower()
    nids = [int(n) for n in nodes]
    if not nids:
        return empty_frame(g.spark, "node long")
    target, rest = nids[0], nids[1:]
    t_label = _node_label(g, target)
    t_row = g.nodes[t_label].filter(F.col("id") == target).first()
    merged = _props_of(t_row)
    for nid in rest:
        label = _node_label(g, nid)
        if label is None:
            continue
        props = _props_of(
            g.nodes[label].filter(F.col("id") == nid).first())
        if strategy == "discard":
            merged = {**props, **merged}  # existing target values win
        elif strategy == "override":
            merged = {**merged, **props}  # later nodes win
        else:  # combine: collect conflicting values into lists
            for k, v in props.items():
                if k in merged and merged[k] != v:
                    prev = merged[k] if isinstance(merged[k], list) \
                        else [merged[k]]
                    if v not in prev:
                        merged[k] = prev + [v]
                else:
                    merged[k] = v
    # redirect edges from the merged-away nodes
    _ensure_eids(g)
    for etype, df in list(g.edges.items()):
        upd = df.withColumns({
            "src": F.when(F.col("src").isin(rest), F.lit(target))
                   .otherwise(F.col("src")),
            "dst": F.when(F.col("dst").isin(rest), F.lit(target))
                   .otherwise(F.col("dst"))})
        g.set_edge_version(etype, upd)
    _delete_nodes(g, rest, detach=False)
    # rewrite the target row with merged properties; combine-strategy list
    # values widen the whole column to array (one type per label table)
    old = g.nodes[t_label].filter(F.col("id") != target)
    dtypes = dict(old.dtypes)
    for k, v in merged.items():
        if isinstance(v, list) and k in dtypes \
                and not dtypes[k].startswith("array"):
            old = old.withColumn(k, F.when(F.col(k).isNotNull(),
                                           F.array(F.col(k))))
    new_df = g.spark.createDataFrame([{"id": target, **merged}])
    g.set_node_version(t_label, old.unionByName(new_df,
                                                allowMissingColumns=True))
    g.forget()
    return g.spark.createDataFrame([(target,)], "node long")


register("refactor.from", _refactor_from)
register("refactor.to", _refactor_to)
register("refactor.invert", _refactor_invert)
register("refactor.rename_type_property", _refactor_rename_type_property)
register("refactor.normalize_as_boolean", _refactor_normalize_as_boolean)
register("refactor.collapse_node", _refactor_collapse_node)
register("refactor.extract_node", _refactor_extract_node)
register("refactor.delete_and_reconnect", _refactor_delete_and_reconnect)
register("refactor.categorize", _refactor_categorize)
register("refactor.clone_nodes", _refactor_clone_nodes)
register("refactor.clone_subgraph", _refactor_clone_subgraph)
register("refactor.clone_subgraph_from_paths",
         _refactor_clone_subgraph_from_paths)
register("refactor.merge_nodes", _refactor_merge_nodes)
