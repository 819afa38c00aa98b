"""Graph-backed text search procedures (text_search.* over named indexes).

Reference: tantivy-backed text indexes (src/storage/v2/indices/text_index.cpp,
query_modules 'text_search' surface: search / search_all / regex_search /
aggregate and the *_edges variants; query syntax is tantivy's
`data.<prop>:<term>` atoms with AND/OR/parens).

Spark re-expression: the "index" is DDL metadata (graph.index_registry);
matching is a pure column predicate over the label's node table, so Catalyst
pushes it into the scan. A real tantivy inverted index becomes, at scale, a
tokenized posting-list table bucketed by term (see search/text_index.py for
the BM25 path over the documents corpus).
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from memgraph_spark.session import empty_frame


def resolve_index(g, name: str, edges: bool = False):
    tag = "text-edge" if edges else "text"
    for e in getattr(g, "index_registry", []):
        if len(e) == 4 and e[2] == tag and e[3] == name:
            props = list(e[1]) if e[1] else None
            return e[0], props
    raise ValueError(f"text index {name!r} does not exist")


def _string_view(df: DataFrame, col: str):
    """A string rendering of a property column (variant -> vs slot)."""
    t = df.schema[col].dataType
    if isinstance(t, T.StructType) and "vs" in t.names:
        return F.col(col).getField("vs")
    if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
        return F.lit(None).cast("string")
    return F.col(col).cast("string")


def _prop_cols(df: DataFrame, allowed: list[str] | None,
               meta: tuple[str, ...]) -> list[str]:
    from memgraph_spark.plans import cypher_ast as A
    cols = [c for c in df.columns if c not in meta]
    if allowed is not None:
        want = {A.prop_col(p) for p in allowed}
        cols = [c for c in cols if c in want]
    return cols


def _word_match(sv, term: str):
    pat = f"(?i)(^|\\W){re.escape(term)}(\\W|$)"
    return F.coalesce(sv.rlike(pat), F.lit(False))


# -- tantivy-ish query parser ------------------------------------------------

_TOK = re.compile(r"\(|\)|\s+|AND\b|OR\b|[^\s()]+")


def parse_query(q: str):
    """'(data.a:x OR data.b:y) AND data.c:z' -> nested tuples."""
    tokens = [t for t in _TOK.findall(q) if t.strip()]
    pos = [0]

    def peek():
        return tokens[pos[0]] if pos[0] < len(tokens) else None

    def eat():
        t = tokens[pos[0]]
        pos[0] += 1
        return t

    def atom():
        t = eat()
        if t == "(":
            e = or_expr()
            assert peek() == ")", q
            eat()
            return e
        m = re.fullmatch(r"data\.(\w+):(.*)", t)
        if m:
            return ("term", m.group(1), m.group(2))
        return ("term", None, t)

    def and_expr():
        e = atom()
        while peek() == "AND":
            eat()
            e = ("and", e, atom())
        return e

    def or_expr():
        e = and_expr()
        while peek() == "OR":
            eat()
            e = ("or", e, and_expr())
        return e

    e = or_expr()
    return e


def query_predicate(df: DataFrame, ast, allowed: list[str] | None,
                    meta: tuple[str, ...]):
    from memgraph_spark.plans import cypher_ast as A
    kind = ast[0]
    if kind == "and":
        return query_predicate(df, ast[1], allowed, meta) \
            & query_predicate(df, ast[2], allowed, meta)
    if kind == "or":
        return query_predicate(df, ast[1], allowed, meta) \
            | query_predicate(df, ast[2], allowed, meta)
    _, prop, term = ast
    if prop is not None:
        if allowed is not None and prop not in allowed:
            return F.lit(False)
        col = A.prop_col(prop)
        if col not in df.columns:
            return F.lit(False)
        return _word_match(_string_view(df, col), term)
    cols = _prop_cols(df, allowed, meta)
    out = F.lit(False)
    for c in cols:
        out = out | _word_match(_string_view(df, c), term)
    return out


# -- result shaping ----------------------------------------------------------

NODE_META = ("id", "labels", "key")
EDGE_META = ("src", "dst", "eid", "type")


def _node_df(g, label: str) -> DataFrame:
    df = g.nodes.get(label)
    if df is None:
        return None
    lbl = (F.array(F.lit(label)) if label
           else F.array().cast("array<string>"))
    return g.with_extra_labels(df.withColumn("labels", lbl))


def node_struct(df: DataFrame, alias: str = "node", extra: dict | None = None):
    props = [c for c in df.columns
             if c not in NODE_META and not c.startswith("__")]
    return df.select(F.struct(
        F.col("id"), F.col("labels"),
        *[F.col(c) for c in sorted(props)]).alias(alias),
        *[c.alias(n) for n, c in (extra or {}).items()])


def _edge_df(g, etype: str) -> DataFrame:
    return g.edges.get(etype)


def edge_struct(df: DataFrame, etype: str, alias: str = "edge",
                extra: dict | None = None):
    props = [c for c in df.columns
             if c not in EDGE_META and not c.startswith("__")]
    return df.select(F.struct(
        F.col("eid"), F.lit(etype).alias("type"), F.col("src"),
        F.col("dst"), *[F.col(c) for c in sorted(props)]).alias(alias),
        *[c.alias(n) for n, c in (extra or {}).items()])


# -- tantivy config map + fuzzy matching -------------------------------------

_CONFIG_KEYS = {"limit", "fuzzy_distance", "fuzzy_prefix",
                "fuzzy_transpositions"}


def parse_config(cfg, forbid_fuzzy: bool = False) -> dict:
    """Validate a text-search config map (text_search_module config
    handling: unknown keys and fuzzy_distance > 2 are errors; fuzzy
    options are rejected on regex_search)."""
    cfg = cfg or {}
    if not isinstance(cfg, dict):
        raise ValueError("text search config must be a map")
    for k in cfg:
        if k not in _CONFIG_KEYS:
            raise ValueError(f"unknown text search config key {k!r}")
    if forbid_fuzzy and any(k.startswith("fuzzy") for k in cfg):
        raise ValueError("fuzzy options are not supported here")
    d = int(cfg.get("fuzzy_distance", 0) or 0)
    if not 0 <= d <= 2:
        raise ValueError("fuzzy_distance must be between 0 and 2")
    return {"limit": cfg.get("limit"),
            "distance": d,
            "prefix": cfg.get("fuzzy_prefix"),
            "transpositions": bool(cfg.get("fuzzy_transpositions", True))}


def _osa(a: str, b: str, transpositions: bool = True) -> int:
    """Optimal-string-alignment distance (Damerau-Levenshtein without
    substring re-edits) — tantivy's fuzzy metric; transpositions count
    as one edit unless disabled."""
    la, lb = len(a), len(b)
    prev2, prev = None, list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (transpositions and i > 1 and j > 1
                    and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _fuzzy_word_udf(term: str, d: int, prefix: bool, transpositions: bool):
    """Vectorized predicate: does any word of the text fuzzy-match `term`?

    Arrow-batched pandas UDF — acceptable here because fuzzy search is a
    candidate-set feature; the bucketed n-gram join (search/text_index.py)
    is the 100 TB path."""
    from pyspark.sql.functions import pandas_udf
    t = term.lower()

    @pandas_udf("boolean")
    def fn(s: pd.Series) -> pd.Series:
        def hit(x):
            if x is None:
                return False
            for w in re.split(r"\W+", str(x).lower()):
                if not w:
                    continue
                cand = w[:len(t)] if prefix else w
                if _osa(t, cand, transpositions) <= d:
                    return True
            return False
        return s.map(hit)
    return fn


def _fuzzy_atom_pred(df, prop, term, props_allowed, meta, conf):
    from memgraph_spark.plans import cypher_ast as A
    udf = _fuzzy_word_udf(term, conf["distance"],
                          bool(conf.get("prefix")), conf["transpositions"])
    if prop is not None:
        col = A.prop_col(prop)
        if col not in df.columns:
            return F.lit(False)
        return F.coalesce(udf(_string_view(df, col)), F.lit(False))
    out = F.lit(False)
    for c in _prop_cols(df, props_allowed, meta):
        out = out | F.coalesce(udf(_string_view(df, c)), F.lit(False))
    return out


def _walk_atoms(ast):
    if ast[0] in ("and", "or"):
        yield from _walk_atoms(ast[1])
        yield from _walk_atoms(ast[2])
    else:
        yield ast


def _validate_qualified(q: str, ast) -> None:
    """search() requires every atom to be a data.<prop>:term field query
    (text_search.feature: unqualified or wrong-prefix queries error at
    parse time; search_all is the all-properties form)."""
    for _, prop, term in _walk_atoms(ast):
        if prop is None:
            raise ValueError(
                f"text_search.search query {q!r} must qualify every term "
                "with a data.<property>: prefix (use search_all for "
                "all-property matching)")


def _score_col(df, ast, props_allowed, meta, conf) -> "F.Column":
    """Relevance score: number of matched query atoms (a deterministic
    BM25 stand-in — tantivy scores a single-term hit ~1)."""
    score = F.lit(0.0)
    for atom in _walk_atoms(ast):
        _, prop, term = atom
        if conf["distance"] > 0:
            p = _fuzzy_atom_pred(df, prop, term, props_allowed, meta, conf)
        else:
            p = query_predicate(df, atom, props_allowed, meta)
        score = score + F.when(p, F.lit(1.0)).otherwise(F.lit(0.0))
    return score


# -- procedures --------------------------------------------------------------

def search(g, index_name: str, q: str, config=None,
           edges: bool = False) -> DataFrame:
    conf = parse_config(config)
    label, props = resolve_index(g, index_name, edges=edges)
    ast = parse_query(q)
    if config is not None:
        _validate_qualified(q, ast)
    meta = EDGE_META if edges else NODE_META
    df = _edge_df(g, label) if edges else _node_df(g, label)
    if df is None:
        return empty_frame(g.spark, "node string").select(
            F.lit(None).alias("node"))
    if conf["distance"] > 0:
        pred = _combine_pred(df, ast, props, meta, conf)
    else:
        pred = query_predicate(df, ast, props, meta)
    out = df.withColumn("__ts_score",
                        _score_col(df, ast, props, meta, conf)).filter(pred)
    if conf["limit"] is not None:
        out = out.limit(int(conf["limit"]))
    extra = {"score": F.col("__ts_score")}
    return (edge_struct(out, label, extra=extra) if edges
            else node_struct(out, extra=extra))


def _combine_pred(df, ast, props_allowed, meta, conf):
    kind = ast[0]
    if kind == "and":
        return _combine_pred(df, ast[1], props_allowed, meta, conf) \
            & _combine_pred(df, ast[2], props_allowed, meta, conf)
    if kind == "or":
        return _combine_pred(df, ast[1], props_allowed, meta, conf) \
            | _combine_pred(df, ast[2], props_allowed, meta, conf)
    _, prop, term = ast
    return _fuzzy_atom_pred(df, prop, term, props_allowed, meta, conf)


def search_all(g, index_name: str, term: str, config=None,
               edges: bool = False) -> DataFrame:
    conf = parse_config(config)
    label, props = resolve_index(g, index_name, edges=edges)
    ast = ("term", None, term)
    meta = EDGE_META if edges else NODE_META
    df = _edge_df(g, label) if edges else _node_df(g, label)
    if conf["distance"] > 0:
        pred = _fuzzy_atom_pred(df, None, term, props, meta, conf)
    else:
        pred = query_predicate(df, ast, props, meta)
    out = df.filter(pred)
    if conf["limit"] is not None:
        out = out.limit(int(conf["limit"]))
    return edge_struct(out, label) if edges else node_struct(out)


def fuzzy_phrase_search(g, index_name: str, q: str, config=None,
                        edges: bool = False) -> DataFrame:
    """text_search.fuzzy_phrase_search: ordered adjacent words, shared
    fuzzy budget across the whole input, last word matched as a prefix
    (tantivy phrase-prefix with fuzzy terms)."""
    conf = parse_config(config)
    if conf.get("prefix") is False:
        raise ValueError(
            "fuzzy_phrase_search always matches the last word as a "
            "prefix; fuzzy_prefix: false is not supported")
    m = re.fullmatch(r"data\.(\w+):(.+)", q.strip())
    if not m:
        raise ValueError(
            "fuzzy_phrase_search requires a single data.<property>: "
            "qualified phrase")
    prop, phrase = m.group(1), m.group(2)
    words = [w.lower() for w in re.split(r"\s+", phrase.strip()) if w]
    if not words:
        raise ValueError("fuzzy_phrase_search needs a non-empty phrase")
    label, props = resolve_index(g, index_name, edges=edges)
    if props is not None and prop not in props:
        raise ValueError(f"property {prop!r} is not covered by text "
                         f"index {index_name!r}")
    meta = EDGE_META if edges else NODE_META
    df = _edge_df(g, label) if edges else _node_df(g, label)
    from memgraph_spark.plans import cypher_ast as A
    col = A.prop_col(prop)
    if df is None or col not in df.columns:
        base = _node_df(g, label) if not edges else _edge_df(g, label)
        return (edge_struct(base.limit(0), label) if edges
                else node_struct(base.limit(0)))
    d, transp = conf["distance"], conf["transpositions"]
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def phrase_hit(s: pd.Series) -> pd.Series:
        def hit(x):
            if x is None:
                return False
            toks = [w for w in re.split(r"\W+", str(x).lower()) if w]
            n = len(words)
            if len(toks) < n:
                return False
            for i in range(len(toks) - n + 1):
                budget = 0
                for j, qw in enumerate(words):
                    tok = toks[i + j]
                    cand = tok[:len(qw)] if j == n - 1 else tok
                    budget += _osa(qw, cand, transp)
                    if budget > d:
                        break
                if budget <= d:
                    return True
            return False
        return s.map(hit)

    out = df.filter(F.coalesce(phrase_hit(_string_view(df, col)),
                               F.lit(False)))
    if conf["limit"] is not None:
        out = out.limit(int(conf["limit"]))
    return edge_struct(out, label) if edges else node_struct(out)


def regex_search(g, index_name: str, pattern: str, config=None,
                 edges: bool = False) -> DataFrame:
    parse_config(config, forbid_fuzzy=True)
    label, props = resolve_index(g, index_name, edges=edges)
    pat = f"(?i){pattern}"
    if edges:
        df = _edge_df(g, label)
        meta = EDGE_META
    else:
        df = _node_df(g, label)
        meta = NODE_META
    pred = F.lit(False)
    for c in _prop_cols(df, props, meta):
        pred = pred | F.coalesce(_string_view(df, c).rlike(pat),
                                 F.lit(False))
    out = df.filter(pred)
    return edge_struct(out, label) if edges else node_struct(out)


def aggregate(g, index_name: str, q: str, aggs_json: str,
              edges: bool = False) -> DataFrame:
    """tantivy-style aggregations over the matched set: value_count, sum,
    avg, min, max on a `data.<prop>` field."""
    from memgraph_spark.plans import cypher_ast as A
    label, props = resolve_index(g, index_name, edges=edges)
    if edges:
        df = _edge_df(g, label)
        meta = EDGE_META
    else:
        df = _node_df(g, label)
        meta = NODE_META
    matched = df.filter(query_predicate(df, parse_query(q), props, meta))
    spec = json.loads(aggs_json)
    aggs = []
    for out_name, body in spec.items():
        (op, params), = body.items()
        field = params["field"]
        field = field[5:] if field.startswith("data.") else field
        col = A.prop_col(field)
        c = (F.col(col) if col in matched.columns
             else F.lit(None))
        fn = {"value_count": F.count, "sum": F.sum, "avg": F.avg,
              "min": F.min, "max": F.max}[op]
        aggs.append(fn(c).cast("double").alias(out_name))
    row = matched.agg(*aggs).collect()[0]
    result = {k: {"value": row[k]} for k in spec}
    return g.spark.createDataFrame(
        [(json.dumps(result, separators=(",", ":")),)],
        "aggregation string")
