"""Distributed no-torch GATv2 for node_classification (layer_type GATv2,
single head).

Parity target: mage/node_classification/models/gatv2.py wrapping PyG
GATv2Conv through inductive_model.py (defaults: heads=1,
add_self_loops=True, negative_slope=0.2, share_weights=False). For each
edge j -> i (self-loops included):

    ul = h @ Wl          (source transform; also the value vector)
    ur = h @ Wr          (target transform)
    q_ij  = ul_j + ur_i
    e_ij  = a . LeakyReLU(q_ij)        <- the "dynamic attention" fix:
                                           a applies AFTER the
                                           non-linearity, unlike GAT
    alpha = softmax_j(e_ij)
    out_i = sum_j alpha_ij ul_j + b

relu between layers, softmax cross-entropy on top.

Execution model and shared deviations: algos/nn_kernels.py; the layer
stack is algos/gat.py's GatEncoder with these layer methods. GATv2's
attention logit needs the d-dimensional q_ij per edge: those edge-level
vector ops stay INSIDE array columns via JVM higher-order functions
(zip_with/aggregate/transform) — no edge x dim row explosion and no
Python in the edge path outside nn_kernels.scatter_sum.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos.gat import GatEncoder, GatState
from memgraph_spark.algos.nn_kernels import (
    bias_relu, edge_softmax, feature_nodes, np_rows, scatter_sum,
    train_node_classifier, tree_sum)
from memgraph_spark.session import free_checkpoint

NEG_SLOPE = 0.2


def _leaky(x):
    return F.when(x > 0, x).otherwise(x * NEG_SLOPE)


def _arr_lit(vec):
    return F.array(*[F.lit(float(v)) for v in vec])


def _map_uv(h: DataFrame, Wl, Wr) -> DataFrame:
    """(id, h) -> (id, ul=h@Wl, ur=h@Wr)."""
    import pandas as pd
    Wl_ = np.asarray(Wl, dtype=np.float64)
    Wr_ = np.asarray(Wr, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            H = np_rows(pdf["h"])
            yield pd.DataFrame({"id": pdf["id"], "ul": list(H @ Wl_),
                                "ur": list(H @ Wr_)})

    return h.mapInPandas(fn, "id long, ul array<double>, ur array<double>")


def _attention_v2(adj_self: DataFrame, uv: DataFrame, a) -> DataFrame:
    """(src, dst, alpha): per-destination softmax over
    e = a . LeakyReLU(ul_j + ur_i), all JVM-side."""
    al = _arr_lit(a)
    return edge_softmax(
        adj_self
        .join(uv.select(F.col("id").alias("src"),
                        F.col("ul").alias("ulj")), "src")
        .join(uv.select(F.col("id").alias("dst"),
                        F.col("ur").alias("uri")), "dst")
        .select("src", "dst",
                F.aggregate(
                    F.zip_with(
                        F.zip_with(F.col("ulj"), F.col("uri"),
                                   lambda x, y: x + y),
                        al, lambda q, av: _leaky(q) * av),
                    F.lit(0.0), lambda acc, x: acc + x).alias("e")))


def _forward_layer(h: DataFrame, adj_self: DataFrame, lay: dict,
                   relu: bool) -> GatState:
    uv = _map_uv(h, lay["Wl"], lay["Wr"]).localCheckpoint(eager=True)
    att = _attention_v2(adj_self, uv, lay["a"]).localCheckpoint(eager=True)
    agg = scatter_sum(att, uv.select("id", F.col("ul").alias("v")),
                      weight="alpha")
    st = GatState(h, uv, att,
                  bias_relu(agg, lay["b"], relu).localCheckpoint(eager=True))
    st.frames.append(st.out)
    return st


def _backward_layer(st: GatState, g: DataFrame, lay: dict, need_dh: bool):
    """({Wl, Wr, a, b} gradients, dh|None); g = dL/d(layer output)."""
    import pandas as pd
    al = _arr_lit(lay["a"])
    d_in, d_out = lay["Wl"].shape
    (db,) = tree_sum(g, ["g"], lambda r: (r["g"],), (np.zeros(d_out),))
    gsel = g.select(F.col("id").alias("dst"), "g")
    # edge frame with q-dependent terms, all JVM HOFs:
    #   dal   = g_i . ul_j                       (attention logit grad)
    #   lrq   = LeakyReLU(q_ij)                  (for da)
    #   dposq = leaky'(q_ij) (1.0 / NEG_SLOPE)   (for dq)
    edge = (st.att
            .join(st.uf.select(F.col("id").alias("src"),
                               F.col("ul").alias("ulj")), "src")
            .join(st.uf.select(F.col("id").alias("dst"),
                               F.col("ur").alias("uri")), "dst")
            .join(gsel, "dst")
            .select(
                "src", "dst", "alpha", "ulj",
                F.zip_with("ulj", "uri", lambda x, y: x + y).alias("q"),
                F.aggregate(F.zip_with(F.col("g"), F.col("ulj"),
                                       lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x)
                .alias("dal")))
    s_i = edge.groupBy("dst").agg(
        F.sum(F.col("alpha") * F.col("dal")).alias("S"))
    edge = (edge.join(s_i, "dst")
            .select("src", "dst", "alpha", "ulj", "q",
                    (F.col("alpha") * (F.col("dal") - F.col("S")))
                    .alias("de"))
            .select(
                "src", "dst", "alpha",
                # da contribution: de * LeakyReLU(q)
                F.transform("q", lambda q: _leaky(q) * F.col("de"))
                .alias("da_part"),
                # dq = de * a (.) leaky'(q)
                F.zip_with(
                    "q", al,
                    lambda q, av: F.col("de") * av
                    * F.when(q > 0, F.lit(1.0))
                    .otherwise(F.lit(NEG_SLOPE))).alias("dq"))
            ).localCheckpoint(eager=True)
    (da,) = tree_sum(edge, ["da_part"], lambda r: (r["da_part"],),
                     (np.zeros(d_out),))
    # dul[j] = sum_i (alpha_ij g_i + dq_ij);  dur[i] = sum_j dq_ij
    dul_val = scatter_sum(edge.select("src", "dst", "alpha"),
                          g.select("id", F.col("g").alias("v")),
                          "dst", "src", weight="alpha")
    dul_q = scatter_sum(edge.select("src", F.col("dq").alias("v")),
                        to_col="src")
    dur = scatter_sum(edge.select("dst", F.col("dq").alias("v")),
                      to_col="dst")
    zeros = F.array_repeat(F.lit(0.0), d_out)
    du = (st.uf.select("id")
          .join(dul_val.withColumnRenamed("v", "val"), "id", "left")
          .join(dul_q.withColumnRenamed("v", "dq"), "id", "left")
          .join(dur.withColumnRenamed("v", "dur"), "id", "left")
          .select("id",
                  F.zip_with(F.coalesce("val", zeros),
                             F.coalesce("dq", zeros),
                             lambda x, y: x + y).alias("dul"),
                  F.coalesce("dur", zeros).alias("dur"))
          ).localCheckpoint(eager=True)
    hj = st.h_in.join(du, "id").localCheckpoint(eager=True)
    dWl, dWr = tree_sum(
        hj, ["h", "dul", "dur"],
        lambda r: (np.outer(r["h"], r["dul"]), np.outer(r["h"], r["dur"])),
        (np.zeros((d_in, d_out)), np.zeros((d_in, d_out))))
    dh = None
    if need_dh:
        Wl_t = np.asarray(lay["Wl"], dtype=np.float64).T
        Wr_t = np.asarray(lay["Wr"], dtype=np.float64).T

        def dh_fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                DH = (np_rows(pdf["dul"]) @ Wl_t
                      + np_rows(pdf["dur"]) @ Wr_t)
                DH *= (np_rows(pdf["h"]) > 0.0)
                yield pd.DataFrame({"id": pdf["id"], "g": list(DH)})

        dh = hj.mapInPandas(dh_fn, "id long, g array<double>") \
            .localCheckpoint(eager=True)
    free_checkpoint(edge)
    free_checkpoint(du)
    free_checkpoint(hj)
    return {"Wl": dWl, "Wr": dWr, "a": da, "b": db}, dh


def _init_layer(d_in: int, d_out: int, rng) -> dict:
    """Glorot-uniform Wl, Wr, a (in that draw order) and a zero bias."""
    lim = np.sqrt(6.0 / (d_in + d_out))
    lim_a = np.sqrt(6.0 / (d_out + 1))
    return {"Wl": rng.uniform(-lim, lim, (d_in, d_out)),
            "Wr": rng.uniform(-lim, lim, (d_in, d_out)),
            "a": rng.uniform(-lim_a, lim_a, d_out),
            "b": np.zeros(d_out)}


class Gatv2Encoder(GatEncoder):
    """Single-head GATv2Conv stack over the self-loop-augmented
    adjacency, relu between layers."""

    kind = "gatv2"
    init_layer = staticmethod(_init_layer)
    layer_forward = staticmethod(_forward_layer)
    layer_backward = staticmethod(_backward_layer)


def gatv2_train(graph, **kw):
    """Trains the single-head GATv2 stack; returns (epoch_rows, model).
    Keyword arguments as nn_kernels.train_node_classifier."""
    return train_node_classifier(graph, Gatv2Encoder, **kw)


def gatv2_forward(graph, model) -> DataFrame:
    """(id, h=z_L): the trained stack over the whole graph."""
    X, _ = feature_nodes(graph, model["features_attr"], d0=model["d0"])
    return Gatv2Encoder.embed(
        X, graph.adjacency(model["etype"], "both").select("src", "dst"),
        model["layers"])
