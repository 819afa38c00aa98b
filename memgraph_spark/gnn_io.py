"""GNN framework interchange: PyG / TF-GNN JSON export + import.

Parity: src/mage/python/gnn.py — `gnn.pyg_export` / `gnn.pyg_import` /
`gnn.tf_export` / `gnn.tf_import`. Both engines serialize the WHOLE
graph into one JSON string (the reference iterates ctx.graph.vertices on
a single thread), so the export is inherently driver-materializing; the
collect here is size-guarded like nxalg. Import creates nodes/edges by
bulk table-version swaps — one DataFrame append per label/type, not a
per-row loop."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GNN_IO_MAX_ELEMENTS = int(os.environ.get("GNN_IO_MAX_ELEMENTS", "2000000"))


def _collect_graph(graph):
    """[(id, [labels], {props})], [(src, dst, type, {props})] with the
    nxalg-style element guard."""
    n_nodes = sum(df.count() for df in graph.nodes.values())
    n_edges = sum(df.count() for df in graph.edges.values())
    if n_nodes + n_edges > GNN_IO_MAX_ELEMENTS:
        raise ValueError(
            f"gnn export: graph has {n_nodes + n_edges} elements > "
            f"GNN_IO_MAX_ELEMENTS={GNN_IO_MAX_ELEMENTS}; the JSON-string "
            "contract is driver-materializing by design (reference "
            "gnn.py collects ctx.graph the same way) — export a "
            "projection instead")
    vertices = []
    for label in sorted(graph.nodes):
        df = graph.nodes[label]
        props = [c for c in df.columns if c != "id"]
        for r in df.sort("id").collect():
            vertices.append((r["id"], [label],
                             {p: r[p] for p in props if r[p] is not None}))
    extra = {}
    if graph.extra_labels is not None:
        for r in graph.extra_labels.collect():
            extra.setdefault(r["id"], []).append(r["label"])
    for v in vertices:
        v[1].extend(extra.get(v[0], []))
    edges = []
    for etype in sorted(graph.edges):
        df = graph.edges[etype]
        props = [c for c in df.columns if c not in ("src", "dst", "eid")]
        for r in df.sort("src", "dst").collect():
            edges.append((r["src"], r["dst"], etype,
                          {p: r[p] for p in props if r[p] is not None}))
    return vertices, edges


def _features(items, prop_of, property_names):
    return {name: [prop_of(it).get(name) for it in items]
            for name in property_names}


def pyg_export(graph, node_property_names=None, edge_property_names=None,
               node_label_property=None) -> DataFrame:
    """gnn.pyg_export (gnn.py:452) YIELD json_data — PyG dict with
    edge_index/num_nodes/x/edge_attr/y + id mappings."""
    vertices, edges = _collect_graph(graph)
    id_to_idx = {v[0]: i for i, v in enumerate(vertices)}
    included = [e for e in edges
                if e[0] in id_to_idx and e[1] in id_to_idx]
    result = {
        "edge_index": [[id_to_idx[e[0]] for e in included],
                       [id_to_idx[e[1]] for e in included]],
        "num_nodes": len(vertices),
    }
    if node_property_names:
        result["x"] = _features(vertices, lambda v: v[2],
                                list(node_property_names))
    if edge_property_names:
        result["edge_attr"] = _features(included, lambda e: e[3],
                                        list(edge_property_names))
    if node_label_property:
        result["y"] = [v[2].get(node_label_property) for v in vertices]
    result["node_id_mapping"] = {str(k): v for k, v in id_to_idx.items()}
    result["idx_to_node_id"] = {str(v): k for k, v in id_to_idx.items()}
    result["labels"] = [v[1] for v in vertices]
    result["edge_types"] = [e[2] for e in included]
    return graph.spark.createDataFrame(
        [(json.dumps(result, default=str),)], "json_data string")


def tf_export(graph, node_property_names=None, edge_property_names=None,
              node_set_name: str = "node",
              edge_set_name: str = "edge") -> DataFrame:
    """gnn.tf_export (gnn.py:566) YIELD json_data — TF-GNN node/edge
    sets with adjacency source/target index lists."""
    vertices, edges = _collect_graph(graph)
    id_to_idx = {v[0]: i for i, v in enumerate(vertices)}
    included = [e for e in edges
                if e[0] in id_to_idx and e[1] in id_to_idx]
    node_set = {"sizes": [len(vertices)]}
    if node_property_names:
        node_set["features"] = _features(vertices, lambda v: v[2],
                                         list(node_property_names))
    edge_set = {
        "sizes": [len(included)],
        "adjacency": {
            "source": [id_to_idx[e[0]] for e in included],
            "target": [id_to_idx[e[1]] for e in included],
        },
    }
    if edge_property_names:
        edge_set["features"] = _features(included, lambda e: e[3],
                                         list(edge_property_names))
    result = {
        "node_sets": {node_set_name: node_set},
        "edge_sets": {edge_set_name: edge_set},
        "node_id_mapping": {str(k): v for k, v in id_to_idx.items()},
        "idx_to_node_id": {str(v): k for k, v in id_to_idx.items()},
        "labels": [v[1] for v in vertices],
        "edge_types": [e[2] for e in included],
    }
    return graph.spark.createDataFrame(
        [(json.dumps(result, default=str),)], "json_data string")


def _bulk_create(graph, node_rows, edge_rows):
    """Create nodes/edges via table-version swaps: one append per
    label/type. node_rows = [(labels, props)], edge_rows =
    [(src_idx, dst_idx, type, props)]; returns (nodes_created,
    edges_created, idx -> minted id)."""
    from memgraph_spark.catalog import node_id
    spark = graph.spark
    by_label: dict[str, list[int]] = {}
    for i, (labels, _p) in enumerate(node_rows):
        by_label.setdefault(labels[0] if labels else "__Node", []).append(i)
    idx_to_id = {}
    from memgraph_spark.catalog import KEY_BITS, register_label
    for label, idxs in by_label.items():
        base = graph.alloc_node_keys(label, len(idxs))
        names = sorted({k for i in idxs for k in node_rows[i][1]})
        rows = []
        for off, i in enumerate(idxs):
            props = node_rows[i][1]
            rows.append({"__key": base + off,
                         **{k: props.get(k) for k in names}})
        df = spark.createDataFrame(rows)
        df = df.select(node_id(label, F.col("__key")),
                       *[c for c in df.columns if c != "__key"])
        # minted ids are deterministic: base + offset under the label code
        for off, i in enumerate(idxs):
            idx_to_id[i] = (register_label(label) << KEY_BITS) + base + off
        if label in graph.nodes:
            old = graph.nodes[label]
            merged = old.unionByName(df, allowMissingColumns=True)
        else:
            merged = df
        graph.set_node_version(label, merged, keys_allocated=True,
                               id_scheme_preserved=True)
    by_type: dict[str, list] = {}
    for (s, d, etype, props) in edge_rows:
        by_type.setdefault(etype, []).append((s, d, props))
    for etype, rows in by_type.items():
        if not rows:
            continue
        epoch = graph.next_epoch()
        names = sorted({k for _s, _d, p in rows for k in p})
        unknown = sorted({e for s, d, _p in rows for e in (s, d)
                          if e not in idx_to_id})
        if unknown:
            # an edge_index entry outside [0, num_nodes) would otherwise
            # mint a dangling edge whose endpoint is the raw index
            # reinterpreted as a global node id
            raise ValueError(
                f"edge_index references node indexes outside "
                f"[0, {len(node_rows)}): {unknown[:5]}")
        recs = [{"src": idx_to_id[s], "dst": idx_to_id[d],
                 **{k: p.get(k) for k in names}}
                for s, d, p in rows]
        df = spark.createDataFrame(recs)
        df = df.withColumn("eid", F.xxhash64(
            F.lit(etype), F.lit(epoch), "src", "dst",
            F.monotonically_increasing_id()))
        if etype in graph.edges:
            df = graph.edges[etype].unionByName(df,
                                                allowMissingColumns=True)
        graph.set_edge_version(etype, df, ids_allocated=True)
    return len(node_rows), len(edge_rows), idx_to_id


def pyg_import(graph, json_data: str, default_node_label="PygNode",
               default_edge_type="PYG_EDGE", node_property_names=None,
               edge_property_names=None) -> DataFrame:
    """gnn.pyg_import (gnn.py write proc) YIELD nodes_created,
    edges_created, nodes_updated."""
    d = json.loads(json_data)
    edge_index = d.get("edge_index", [[], []])
    num_nodes = int(d.get("num_nodes", 0))
    labels = d.get("labels")
    x = d.get("x")
    y = d.get("y")
    etypes = d.get("edge_types")
    node_rows = []
    for i in range(num_nodes):
        lbls = (list(labels[i]) if labels and i < len(labels) and labels[i]
                else [default_node_label])
        props = {}
        if isinstance(x, dict):
            for name, vals in x.items():
                if i < len(vals) and vals[i] is not None:
                    props[name] = vals[i]
        if y is not None and i < len(y) and y[i] is not None:
            props["y"] = y[i]
        node_rows.append((lbls, props))
    edge_rows = []
    attr = d.get("edge_attr")
    for j, (s, t) in enumerate(zip(edge_index[0], edge_index[1])):
        etype = (etypes[j] if etypes and j < len(etypes)
                 else default_edge_type)
        props = {}
        if isinstance(attr, dict):
            for name, vals in attr.items():
                if j < len(vals) and vals[j] is not None:
                    props[name] = vals[j]
        edge_rows.append((int(s), int(t), etype, props))
    n, e, _ = _bulk_create(graph, node_rows, edge_rows)
    return graph.spark.createDataFrame(
        [(n, e, 0)],
        "nodes_created long, edges_created long, nodes_updated long")


def tf_import(graph, json_data: str, default_node_label="TfGnnNode",
              default_edge_type="TFGNN_EDGE") -> DataFrame:
    """gnn.tf_import (gnn.py:587) YIELD nodes_created, edges_created."""
    d = json.loads(json_data)
    labels = d.get("labels")
    etypes = d.get("edge_types")
    node_rows = []
    edge_rows = []
    n_total = 0
    for _name, ns in (d.get("node_sets") or {}).items():
        sizes = ns.get("sizes") or [0]
        feats = ns.get("features") or {}
        for i in range(int(sizes[0])):
            gi = n_total + i
            lbls = (list(labels[gi]) if labels and gi < len(labels)
                    and labels[gi] else [default_node_label])
            props = {name: vals[i] for name, vals in feats.items()
                     if i < len(vals) and vals[i] is not None}
            node_rows.append((lbls, props))
        n_total += int(sizes[0])
    j_total = 0
    for _name, es in (d.get("edge_sets") or {}).items():
        adj = es.get("adjacency") or {}
        feats = es.get("features") or {}
        src, tgt = adj.get("source") or [], adj.get("target") or []
        for j, (s, t) in enumerate(zip(src, tgt)):
            gj = j_total + j
            etype = (etypes[gj] if etypes and gj < len(etypes)
                     else default_edge_type)
            props = {name: vals[j] for name, vals in feats.items()
                     if j < len(vals) and vals[j] is not None}
            edge_rows.append((int(s), int(t), etype, props))
        j_total += len(src)
    n, e, _ = _bulk_create(graph, node_rows, edge_rows)
    return graph.spark.createDataFrame(
        [(n, e)], "nodes_created long, edges_created long")
