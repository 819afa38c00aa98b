"""Distributed no-torch GAT for node_classification (layer_type GAT,
single head).

Parity target: the reference's GAT path —
mage/node_classification/models/gat.py wraps PyG GATConv layers through
inductive_model.py with GATConv's defaults (heads=1,
add_self_loops=True, negative_slope=0.2). Single-head GATConv computes,
for each edge j -> i (self-loops included):

    u = h @ W                       (lin, no bias)
    e_ij = LeakyReLU(a_src . u_j + a_dst . u_i)
    alpha_ij = softmax_j(e_ij)      (per destination i)
    out_i = sum_j alpha_ij u_j + b

relu between layers, softmax cross-entropy on top. GATv2 swaps the
attention formula (algos/gatv2.py); GATJK stacks 3-head layers of these
heads with JumpingKnowledge (algos/gatjk.py).

Execution model and shared deviations: algos/nn_kernels.py. Per-edge
attention lives in an (src, dst, alpha) frame; edge x dim rows exist
only inside nn_kernels.scatter_sum.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos.nn_kernels import (
    bias_relu, edge_softmax, feature_nodes, np_rows, scatter_sum, self_loops,
    train_node_classifier, tree_sum)
from memgraph_spark.session import free_checkpoint

NEG_SLOPE = 0.2


def _dot(a, b):
    """JVM-side dot product of two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _map_u(h: DataFrame, W, a_src, a_dst) -> DataFrame:
    """(id, h) -> (id, u=h@W, ssrc=u.a_src, sdst=u.a_dst)."""
    import pandas as pd
    W_ = np.asarray(W, dtype=np.float64)
    asrc_ = np.asarray(a_src, dtype=np.float64)
    adst_ = np.asarray(a_dst, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            U = np_rows(pdf["h"]) @ W_
            yield pd.DataFrame({"id": pdf["id"], "u": list(U),
                                "ssrc": U @ asrc_, "sdst": U @ adst_})

    return h.mapInPandas(
        fn, "id long, u array<double>, ssrc double, sdst double")


def _attention(adj: DataFrame, uf: DataFrame) -> DataFrame:
    """(src, dst, pos_pre, alpha): per-edge softmax attention over each
    destination's in-neighbourhood. pos_pre carries LeakyReLU' for
    backward (1.0 where the pre-activation was positive, NEG_SLOPE
    elsewhere)."""
    pre = (adj
           .join(uf.select(F.col("id").alias("src"),
                           F.col("ssrc").alias("sj")), "src")
           .join(uf.select(F.col("id").alias("dst"),
                           F.col("sdst").alias("si")), "dst")
           .select("src", "dst", (F.col("sj") + F.col("si")).alias("pre")))
    pos = F.col("pre") > 0
    return edge_softmax(pre.select(
        "src", "dst",
        F.when(pos, F.lit(1.0)).otherwise(F.lit(NEG_SLOPE)).alias("pos_pre"),
        F.when(pos, F.col("pre"))
        .otherwise(F.col("pre") * NEG_SLOPE).alias("e")))


class GatState:
    """One layer's forward frames — h_in (its input), uf (the per-node
    transform), att (per-edge attention), out — and `frames`, the
    checkpoints to free once backward is done."""

    def __init__(self, h_in, uf, att, out):
        self.h_in, self.uf, self.att, self.out = h_in, uf, att, out
        self.frames = [uf, att]


def head_forward(h: DataFrame, adj: DataFrame, lay: dict) -> GatState:
    """One attention head over `adj`; out = (id, v) is the (lazy)
    alpha-weighted sum of u = h @ W over each destination's in-edges.
    uf and att are checkpointed: the attention/backward plans are deep
    enough that carrying full lineage into every downstream join blows
    driver heap on plan compilation."""
    uf = _map_u(h, lay["W"], lay["a_src"], lay["a_dst"]) \
        .localCheckpoint(eager=True)
    att = _attention(adj, uf).localCheckpoint(eager=True)
    out = scatter_sum(att, uf.select("id", F.col("u").alias("v")),
                      weight="alpha")
    return GatState(h, uf, att, out)


def _gat_forward_layer(h: DataFrame, adj_self: DataFrame, lay: dict,
                       dim_out: int, relu: bool) -> GatState:
    """One GATConv layer: out = (id, h) = head + b, relu'd between
    layers. `dim_out`, the output width, is implied by `lay` (unread)."""
    st = head_forward(h, adj_self, lay)
    st.out = bias_relu(st.out, lay["b"], relu).localCheckpoint(eager=True)
    st.frames.append(st.out)
    return st


def head_backward(st: GatState, g: DataFrame, lay: dict, need_dh: bool,
                  relu: bool = True):
    """(dW, da_src, da_dst, dh|None) of one head; g = (id, g) =
    dL/d(head output). dh carries relu' of the input when `relu` (the
    input went through relu); GATJK routes its ELU itself."""
    import pandas as pd
    W = np.asarray(lay["W"], dtype=np.float64)
    d_out = W.shape[1]
    # edge-level attention gradient: dalpha_ij = g_i . u_j
    edge = (st.att.join(g.select(F.col("id").alias("dst"), "g"), "dst")
            .join(st.uf.select(F.col("id").alias("src"), "u"), "src")
            .select("src", "dst", "alpha", "pos_pre",
                    _dot(F.col("g"), F.col("u")).alias("dal")))
    s_i = edge.groupBy("dst").agg(
        F.sum(F.col("alpha") * F.col("dal")).alias("S"))
    edge = (edge.join(s_i, "dst")
            .select("src", "dst", "alpha",
                    (F.col("alpha") * (F.col("dal") - F.col("S"))
                     * F.col("pos_pre")).alias("dpre"))) \
        .localCheckpoint(eager=True)
    # dU = value path (alpha-weighted scatter of g_i back to each source
    # j) + attention paths ds_src*a_src + ds_dst*a_dst
    val = scatter_sum(edge.select("src", "dst", "alpha"),
                      g.select("id", F.col("g").alias("v")),
                      "dst", "src", weight="alpha")
    zeros = F.array_repeat(F.lit(0.0), d_out)
    du_in = (st.uf.select("id", "u")
             .join(val, "id", "left")
             .join(edge.groupBy(F.col("src").alias("id"))
                   .agg(F.sum("dpre").alias("dss")), "id", "left")
             .join(edge.groupBy(F.col("dst").alias("id"))
                   .agg(F.sum("dpre").alias("dsd")), "id", "left")
             .select("id", "u", F.coalesce("v", zeros).alias("v"),
                     F.coalesce("dss", F.lit(0.0)).alias("dss"),
                     F.coalesce("dsd", F.lit(0.0)).alias("dsd")))
    asrc_ = np.asarray(lay["a_src"], dtype=np.float64)
    adst_ = np.asarray(lay["a_dst"], dtype=np.float64)

    def du_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            DU = (np_rows(pdf["v"])
                  + pdf["dss"].to_numpy()[:, None] * asrc_
                  + pdf["dsd"].to_numpy()[:, None] * adst_)
            yield pd.DataFrame({"id": pdf["id"], "g": list(DU),
                                "u": pdf["u"], "dss": pdf["dss"],
                                "dsd": pdf["dsd"]})

    du = du_in.mapInPandas(
        du_fn, "id long, g array<double>, u array<double>, dss double, "
               "dsd double").localCheckpoint(eager=True)
    hj = st.h_in.join(du, "id")
    # dW = sum_i outer(h_i, du_i); da_src = sum_j ds_src[j] u_j, etc.
    dW, da_src, da_dst = tree_sum(
        hj, ["h", "g", "u", "dss", "dsd"],
        lambda r: (np.outer(r["h"], r["g"]),
                   r["dss"] * np.asarray(r["u"]),
                   r["dsd"] * np.asarray(r["u"])),
        (np.zeros_like(W), np.zeros(d_out), np.zeros(d_out)))
    dh = None
    if need_dh:
        W_t = W.T

        def dh_fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                DH = np_rows(pdf["g"]) @ W_t
                if relu:
                    DH *= (np_rows(pdf["h"]) > 0.0)
                yield pd.DataFrame({"id": pdf["id"], "g": list(DH)})

        dh = hj.mapInPandas(dh_fn, "id long, g array<double>") \
            .localCheckpoint(eager=True)
    free_checkpoint(edge)
    free_checkpoint(du)
    return dW, da_src, da_dst, dh


def _gat_backward_layer(st: GatState, g: DataFrame, lay: dict,
                        d_in: int, d_out: int, need_dh: bool):
    """(dW, da_src, da_dst, db, dh|None) of one d_in -> d_out layer whose
    input went through relu; g = (id, g) = dL/d(layer output)."""
    (db,) = tree_sum(g, ["g"], lambda r: (r["g"],), (np.zeros(d_out),))
    dW, da_src, da_dst, dh = head_backward(st, g, lay, need_dh)
    return dW, da_src, da_dst, db, dh


def init_head(d_in: int, d_out: int, rng) -> dict:
    """Glorot-uniform W, a_src, a_dst (in that draw order — the numpy
    twins rebuild it from the seed) and a zero bias."""
    lim = np.sqrt(6.0 / (d_in + d_out))
    lim_a = np.sqrt(6.0 / (d_out + 1))
    return {"W": rng.uniform(-lim, lim, (d_in, d_out)),
            "a_src": rng.uniform(-lim_a, lim_a, d_out),
            "a_dst": rng.uniform(-lim_a, lim_a, d_out),
            "b": np.zeros(d_out)}


class GatEncoder:
    """Single-head GATConv stack over the self-loop-augmented adjacency,
    relu between layers — nn_kernels.train_node_classifier's encoder
    protocol. GATv2 overrides the three layer methods."""

    kind = "gat"
    meta: dict = {}

    def __init__(self, X, und, dims, rng):
        self.X = X
        self.adj = self_loops(und, X).persist()
        self.adj.count()
        self.params = {"layers": [self.init_layer(dims[i], dims[i + 1], rng)
                                  for i in range(len(dims) - 1)]}

    init_layer = staticmethod(init_head)

    @staticmethod
    def layer_forward(h, adj, lay, relu):
        return _gat_forward_layer(h, adj, lay, len(lay["b"]), relu)

    @staticmethod
    def layer_backward(st, g, lay, need_dh):
        dW, das, dad, db, dh = _gat_backward_layer(
            st, g, lay, *lay["W"].shape, need_dh)
        return {"W": dW, "a_src": das, "a_dst": dad, "b": db}, dh

    def forward(self):
        layers = self.params["layers"]
        states, cur = [], self.X
        for li, lay in enumerate(layers):
            states.append(self.layer_forward(cur, self.adj, lay,
                                             li < len(layers) - 1))
            cur = states[-1].out
        return cur, states

    def backward(self, states, g):
        layers = self.params["layers"]
        grads = [None] * len(layers)
        for li in range(len(layers) - 1, -1, -1):
            grads[li], dh = self.layer_backward(states[li], g, layers[li],
                                                li > 0)
            if dh is not None:
                states[li].frames.append(dh)
                g = dh
        return {"layers": grads}

    @staticmethod
    def free(states):
        for st in states:
            for fr in st.frames:
                free_checkpoint(fr)

    def close(self):
        self.adj.unpersist()

    @classmethod
    def embed(cls, X: DataFrame, und: DataFrame, layers) -> DataFrame:
        """(id, h): the trained stack over X — a checkpoint the caller
        frees."""
        adj = self_loops(und, X)
        cur = X
        for li, lay in enumerate(layers):
            st = cls.layer_forward(cur, adj, lay, li < len(layers) - 1)
            for fr in st.frames[:-1]:
                free_checkpoint(fr)
            if li > 0:
                free_checkpoint(cur)     # previous layer's checkpointed out
            cur = st.out
        return cur


def gat_train(graph, **kw):
    """Trains the single-head GAT stack; returns (epoch_rows, model).
    Keyword arguments as nn_kernels.train_node_classifier."""
    return train_node_classifier(graph, GatEncoder, **kw)


def gat_forward(graph, model) -> DataFrame:
    """(id, h=z_L): the trained stack over the whole graph."""
    X, _ = feature_nodes(graph, model["features_attr"], d0=model["d0"])
    return GatEncoder.embed(
        X, graph.adjacency(model["etype"], "both").select("src", "dst"),
        model["layers"])
