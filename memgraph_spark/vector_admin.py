"""Vector index DDL + info (VectorIndexQuery, ast.hpp:2386; usearch-backed
in the reference, ADRs/005_usearch.md; vector_search_module.cpp procedures).

Our "index" is metadata over the columnar layout: the embedding column IS
the storage; search is an exact top-k scan (llm/similarity.py holds the
LSH/IVF approximate scale paths). The registry tracks the reference's
config surface (dimension/capacity/metric/scalar_kind) and label modes
(single, OR `:A|B`, AND `:A&B`, wildcard `ON (prop)`), nodes and edges.
"""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.llm.similarity import dot, norm

_CFG_DEFAULTS = {"metric": "l2sq", "scalar_kind": "f32",
                 "resize_coefficient": 2, "capacity": 64}


def _registry(graph) -> dict:
    if not hasattr(graph, "vector_indexes"):
        graph.vector_indexes = {}
    return graph.vector_indexes


def _parse_config(text: str | None, params: dict | None) -> dict:
    if not text:
        return {}
    text = text.strip()
    m = re.fullmatch(r"\$(\w+)", text)
    if m:
        v = (params or {}).get(m.group(1))
        if not isinstance(v, dict):
            raise ValueError("vector index CONFIG must be a map")
        return dict(v)
    # JSON-ish map literal: bare or quoted keys, $param values
    def sub_param(mm):
        return json.dumps((params or {}).get(mm.group(1)))
    text = re.sub(r"\$(\w+)", sub_param, text)
    text = re.sub(r"([{,]\s*)([A-Za-z_]\w*)\s*:", r'\1"\2":', text)
    text = text.replace("'", '"')
    cfg = json.loads(text)
    if not isinstance(cfg, dict):
        raise ValueError("vector index CONFIG must be a map")
    return cfg


def _parse_label_spec(spec: str) -> tuple[str, list[str]]:
    """'': wildcard; ':A': single; ':A|B' / ':A|:B': OR; ':A&B': AND."""
    spec = spec.strip()
    if not spec:
        return "wildcard", []
    spec = spec.lstrip(":")
    if "|" in spec:
        return "or", [s.lstrip(":") for s in spec.split("|")]
    if "&" in spec:
        return "and", [s.lstrip(":") for s in spec.split("&")]
    return "single", [spec]


def create_vector_index(graph, name: str, spec: str, prop: str,
                        config_text: str | None, params: dict | None,
                        on_edges: bool = False) -> None:
    cfg = {**_CFG_DEFAULTS, **_parse_config(config_text, params)}
    if "dimension" not in cfg:
        raise ValueError("vector index CONFIG needs a dimension")
    combi, labels = _parse_label_spec(spec)
    if on_edges and combi == "and":
        raise ValueError(
            "an edge has exactly one type — AND edge index is impossible")
    _registry(graph)[name] = {
        "name": name, "combi": combi, "labels": labels, "property": prop,
        "dimension": int(cfg["dimension"]),
        # usearch rounds the reserved capacity up to a multiple of 64
        "capacity": max(64, 64 * math.ceil(int(cfg["capacity"]) / 64)),
        "metric": str(cfg["metric"]), "scalar_kind": str(cfg["scalar_kind"]),
        "on_edges": on_edges,
    }


def drop_vector_index(graph, name: str) -> bool:
    return _registry(graph).pop(name, None) is not None


def _label_display(idx: dict) -> str:
    if idx["combi"] == "wildcard":
        return "*"
    sep = "|" if idx["combi"] == "or" else "&"
    return ":" + sep.join(idx["labels"])


def _all_prop_names(graph) -> list[str]:
    names: set[str] = set()
    for df in graph.nodes.values():
        names.update(c for c in df.columns if c != "id")
    return sorted(names)


def indexed_nodes(graph, idx: dict) -> DataFrame:
    """Scan of the nodes an index covers: label mode + non-null property."""
    prop = idx["property"]
    nodes = graph.all_nodes(_all_prop_names(graph))
    if prop not in nodes.columns:
        return nodes.limit(0)
    combi, labels = idx["combi"], idx["labels"]
    cond = F.col(prop).isNotNull()
    if combi == "single" or combi == "and":
        for lbl in labels:
            cond = cond & F.array_contains("labels", lbl)
    elif combi == "or":
        any_ = F.lit(False)
        for lbl in labels:
            any_ = any_ | F.array_contains("labels", lbl)
        cond = cond & any_
    return nodes.filter(cond)


def indexed_edges(graph, idx: dict) -> DataFrame:
    prop = idx["property"]
    e = graph.all_edges([prop])
    cond = F.col(prop).isNotNull()
    if idx["combi"] in ("single", "and"):
        for t in idx["labels"]:
            cond = cond & (F.col("type") == t)
    elif idx["combi"] == "or":
        cond = cond & F.col("type").isin(idx["labels"])
    return e.filter(cond)


def index_size(graph, idx: dict) -> int:
    return (indexed_edges(graph, idx) if idx["on_edges"]
            else indexed_nodes(graph, idx)).count()


def index_type(idx: dict) -> str:
    return ("edge-type+property_vector" if idx["on_edges"]
            else "label+property_vector")


def show_vector_index_info(graph) -> DataFrame:
    rows = []
    for name in sorted(_registry(graph)):
        idx = _registry(graph)[name]
        rows.append((idx["capacity"], idx["dimension"], name,
                     _label_display(idx), idx["property"], idx["metric"],
                     index_size(graph, idx), idx["scalar_kind"],
                     index_type(idx)))
    return graph.spark.createDataFrame(
        rows or [], "capacity long, dimension long, index_name string, "
                    "label string, property string, metric string, "
                    "size long, scalar_kind string, index_type string")


def show_index_rows(graph) -> list[tuple]:
    """Vector entries for SHOW INDEX INFO: (type, label, property, count)."""
    return [(index_type(idx), _label_display(idx), idx["property"],
             index_size(graph, idx))
            for name, idx in sorted(_registry(graph).items())]


def validate_dimensions(graph, label: str, diff: DataFrame) -> None:
    """CREATE-time check: an array property covered by a vector index must
    match the index dimension (the reference's usearch add() rejects it)."""
    for idx in _registry(graph).values():
        if idx["on_edges"]:
            continue
        prop = idx["property"]
        if prop not in diff.columns:
            continue
        if idx["combi"] == "single" and label not in idx["labels"]:
            continue
        if idx["combi"] in ("and", "or") and label not in idx["labels"]:
            continue
        bad = diff.filter(F.col(prop).isNotNull()
                          & (F.size(F.col(prop)) != idx["dimension"])).count()
        if bad:
            raise ValueError(
                f"vector index {idx['name']} expects dimension "
                f"{idx['dimension']}")


def _metric_cols(idx: dict, vec_col, qv: list[float]):
    """(distance, similarity) columns of the index's exact metric (cos /
    l2sq) against the literal query vector `qv`."""
    q = F.array(*[F.lit(v) for v in qv])
    vec = F.transform(vec_col, lambda x: x.cast("double"))
    if idx["metric"] == "cos":
        dist = 1.0 - dot(vec, q) / (
            norm(vec) * F.sqrt(F.lit(sum(v * v for v in qv))))
        return dist, 1.0 - dist
    diff = F.zip_with(vec, q, lambda a, b: a - b)
    dist = dot(diff, diff)
    return dist, 1.0 / (1.0 + dist)


def search_edges(graph, index_name: str, k: int, query_vector) -> DataFrame:
    """vector_search.search_edges over a registered edge index — yields
    (edge struct, distance, similarity) (vector_search_module.cpp)."""
    idx = _registry(graph).get(index_name)
    if idx is None or not idx["on_edges"]:
        raise ValueError(f"unknown vector edge index {index_name}")
    qv = [float(v) for v in query_vector]
    props: set[str] = set()
    for t in graph.edges.values():
        # keep eid: it is the tie-break (usearch recency) in the top-k sort
        props.update(c for c in t.columns if c not in ("src", "dst"))
    prop = idx["property"]
    e = graph.all_edges(sorted(props))
    cond = F.col(prop).isNotNull()
    if idx["combi"] in ("single",):
        cond = cond & (F.col("type") == idx["labels"][0])
    elif idx["combi"] == "or":
        cond = cond & F.col("type").isin(idx["labels"])
    e = e.filter(cond)
    dist, sim = _metric_cols(idx, F.col(prop), qv)
    quant = {prop: F.transform(F.col(prop),
                               lambda x: x.cast("float").cast("double"))
             if idx["scalar_kind"] == "f32" else F.col(prop)}
    pc = [c for c in e.columns if c not in ("src", "dst", "type")]
    edge = F.struct(
        (F.col("eid") if "eid" in e.columns
         else F.xxhash64("src", "dst", "type")).alias("eid"),
        F.col("type"), F.col("src"), F.col("dst"),
        *[quant.get(c, F.col(c)).alias(c) for c in pc if c != "eid"])
    return (e.select(edge.alias("edge"), dist.alias("distance"),
                     sim.alias("similarity"))
            # ties: usearch returns the most-recently-inserted first —
            # edge ids are allocated sequentially, so highest eid wins
            .orderBy(F.col("distance"), F.col("edge.eid").desc())
            .limit(int(k)))


def search(graph, index_name: str, k: int, query_vector) -> DataFrame:
    """vector_search.search over a registered index: exact top-k scan with
    the index's metric (l2sq / cos); yields (node struct, distance,
    similarity) exactly like vector_search_module.cpp."""
    idx = _registry(graph).get(index_name)
    if idx is None:
        raise ValueError(f"unknown vector index {index_name}")
    qv = [float(v) for v in query_vector]  # non-numeric -> error, as in ref
    if len(qv) != idx["dimension"]:
        raise ValueError("query vector dimension mismatch")
    nodes = indexed_nodes(graph, idx)
    prop = idx["property"]
    dist, sim = _metric_cols(idx, F.col(prop), qv)
    prop_cols = [c for c in nodes.columns if c not in ("id", "labels")]
    # the index stores f32 (scalar_kind default): reads through the index
    # observe the quantized values, exactly like usearch dequantization
    quant = {prop: F.transform(F.col(prop),
                               lambda x: x.cast("float").cast("double"))
             if idx["scalar_kind"] == "f32" else F.col(prop)}
    node = F.struct(F.col("id"), F.col("labels"),
                    *[quant.get(c, F.col(c)).alias(c) for c in prop_cols])
    return (nodes.select(node.alias("node"), dist.alias("distance"),
                         sim.alias("similarity"))
            .orderBy("distance").limit(int(k)))
