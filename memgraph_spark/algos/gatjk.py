"""Distributed no-torch GATJK for node_classification (layer_type GATJK
— the reference's DEFAULT deep model).

Parity target: mage/node_classification/models/gatjk.py — a stack of
3-head GATConv layers (concat=True, add_self_loops=False), ELU
activation between layers, JumpingKnowledge("max") over the per-layer
outputs, and a final Linear projection to the classes. Reference
forward (gatjk.py:85): xs collects every post-activation layer output
plus the last conv's raw output; jump("max") takes the elementwise max
across layers; final_project maps to out_channels.

Each head is algos/gat.py's attention head (gat.head_forward /
head_backward); heads concatenate into the conv output, and backward
slices the gradient per head. The ELU (whose derivative is recoverable
from the post-activation value: 1 where x>0 else x+1) and the JK
max-mask routing are handled here. Execution model and shared
deviations: algos/nn_kernels.py. JK "max" requires equal hidden sizes
(torch errors on mismatched dims the same way); "cat"/"lstm" JK modes
stay torch-gated — and are UNREACHABLE from the reference's own
procedure surface: its set_model_parameters constructs GATJK with only
(in_channels, hidden_features_size, out_channels)
(node_classification.py:220-224), so jk_type is always the "max"
default implemented here.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos.gat import head_backward, head_forward, init_head
from memgraph_spark.algos.nn_kernels import (
    bias_relu, feature_nodes, np_rows, train_node_classifier, tree_sum)
from memgraph_spark.session import free_checkpoint

HEADS = 3


def _conv_forward(h: DataFrame, adj: DataFrame, conv: dict):
    """One multi-head GATConv: (raw (id, h) checkpoint, head states).
    Nodes with no in-edges get zeros (add_self_loops=False leaves them
    without attention rows; PyG sums an empty neighbourhood to 0)."""
    zeros = F.array_repeat(F.lit(0.0), len(conv["heads"][0]["b"]))
    states = [head_forward(h, adj, head) for head in conv["heads"]]
    out = h.select("id")
    for hi, st in enumerate(states):
        out = out.join(st.out.withColumnRenamed("v", f"__h{hi}"), "id",
                       "left")
    out = out.select("id", F.concat(*[F.coalesce(f"__h{hi}", zeros)
                                      for hi in range(len(states))])
                     .alias("v"))
    return bias_relu(out, conv["b"], False).localCheckpoint(eager=True), \
        states


def _elu(x):
    return np.where(x > 0, x, np.exp(np.minimum(x, 0.0)) - 1.0)


def _map_rows(frame: DataFrame, fn, schema: str) -> DataFrame:
    """Arrow-batched `fn(pdf) -> dict of columns` over the frame."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(fn(pdf))

    return frame.mapInPandas(run, schema)


def _stack_forward(X: DataFrame, adj: DataFrame, params: dict):
    """Conv stack -> JK max -> final linear. Returns (z, state): z =
    (id, h) logits over the jk checkpoint; state = (ck, xs, layers, jk)
    with ck every checkpoint made (jk last), xs the JK inputs and layers
    each conv's head states."""
    convs = params["convs"]
    L = len(convs)
    ck, xs, layers, cur = [], [], [], X
    for li, conv in enumerate(convs):
        raw, states = _conv_forward(cur, adj, conv)
        ck.append(raw)
        ck += [fr for st in states for fr in st.frames]
        layers.append(states)
        if li < L - 1:
            cur = _map_rows(raw, lambda pdf: {
                "id": pdf["id"], "h": list(_elu(np_rows(pdf["h"])))},
                "id long, h array<double>").localCheckpoint(eager=True)
            ck.append(cur)
            xs.append(cur)
        else:
            xs.append(raw)                   # last conv raw into JK
    jk_in = xs[0].withColumnRenamed("h", "__x0")
    for li in range(1, L):
        jk_in = jk_in.join(xs[li].withColumnRenamed("h", f"__x{li}"), "id")

    def jk_fn(pdf):
        stack = np.stack([np_rows(pdf[f"__x{li}"]) for li in range(L)])
        return {"id": pdf["id"], "jk": list(stack.max(axis=0)),
                "am": list(stack.argmax(axis=0).astype(np.float64))}

    jk = _map_rows(jk_in, jk_fn,
                   "id long, jk array<double>, am array<double>") \
        .localCheckpoint(eager=True)
    ck.append(jk)
    Wf = np.asarray(params["Wf"], dtype=np.float64)
    bf = np.asarray(params["bf"], dtype=np.float64)
    z = _map_rows(jk, lambda pdf: {
        "id": pdf["id"], "h": list(np_rows(pdf["jk"]) @ Wf + bf)},
        "id long, h array<double>")
    return z, (ck, xs, layers, jk)


class GatjkEncoder:
    """GATJK stack (multi-head GATConv layers, ELU, JK max, final
    linear) — nn_kernels.train_node_classifier's encoder protocol."""

    kind = "gatjk"

    def __init__(self, X, und, dims, rng, heads: int = HEADS):
        self.X = X
        hidden = list(dims[1:-1])
        self.meta = {"hidden_sizes": hidden, "heads": heads}
        self.adj = und        # the catalog's persisted adjacency index
        # conv l: in_dims[l] -> hidden * heads (concat); JK width = hw
        hw, k = hidden[-1] * heads, dims[-1]
        in_dims = [dims[0]] + [hw] * (len(hidden) - 1)
        convs = [{"heads": [init_head(d_in, hidden[li], rng)   # b unused
                            for _ in range(heads)],
                  "b": np.zeros(hidden[li] * heads)}
                 for li, d_in in enumerate(in_dims)]
        lim_f = np.sqrt(6.0 / (hw + k))
        self.params = {"convs": convs,
                       "Wf": rng.uniform(-lim_f, lim_f, (hw, k)),
                       "bf": np.zeros(k)}

    def forward(self):
        return _stack_forward(self.X, self.adj, self.params)

    def backward(self, state, G):
        ck, xs, layers, jk = state
        convs, Wf = self.params["convs"], self.params["Wf"]
        L = len(convs)
        # ---- final linear
        gj = jk.join(G, "id").localCheckpoint(eager=True)
        ck.append(gj)
        dWf, dbf = tree_sum(gj, ["jk", "g"],
                            lambda r: (np.outer(r["jk"], r["g"]), r["g"]),
                            (np.zeros_like(Wf), np.zeros(Wf.shape[1])))
        Wf_t = Wf.T.copy()

        def djk_fn(pdf):
            DJK = np_rows(pdf["g"]) @ Wf_t
            am = np_rows(pdf["am"]).astype(int)
            return {"id": pdf["id"],
                    **{f"d{li}": list(DJK * (am == li)) for li in range(L)}}

        dxs_all = _map_rows(gj, djk_fn, "id long, " + ", ".join(
            f"d{li} array<double>" for li in range(L))) \
            .localCheckpoint(eager=True)
        ck.append(dxs_all)
        # ---- convs, top down: JK gradient + the through-path from above
        grads = [None] * L
        g_above = None
        for li in range(L - 1, -1, -1):
            states = layers[li]
            heads = convs[li]["heads"]
            d_head = len(heads[0]["b"])
            zerosv = F.array_repeat(F.lit(0.0), d_head * len(heads))
            # base on the FULL node set: dxs_all carries labeled ids only
            # (the softmax gradient frame), but unlabeled nodes still
            # receive through-path gradient from the layer above
            gsum = (self.X.select("id")
                    .join(dxs_all.select(
                        "id", F.col(f"d{li}").alias("gj")), "id", "left")
                    .select("id", F.coalesce("gj", zerosv).alias("gj")))
            if g_above is not None:
                gsum = (gsum.join(g_above, "id", "left")
                        .select("id", F.zip_with(
                            "gj", F.coalesce("g", zerosv),
                            lambda x, y: x + y).alias("gj")))
            if li < L - 1:
                # xs[li] is post-ELU: d raw = d xs * ELU'(raw), where
                # ELU' = 1 if x>0 else x+1 from the post-activation x
                def elu_bw(pdf):
                    Xp = np_rows(pdf["h"])
                    return {"id": pdf["id"], "g": list(
                        np_rows(pdf["gj"]) * np.where(Xp > 0, 1.0, Xp + 1.0))}

                graw = _map_rows(xs[li].join(gsum, "id"), elu_bw,
                                 "id long, g array<double>")
            else:
                graw = gsum.withColumnRenamed("gj", "g")
            graw = graw.localCheckpoint(eager=True)
            ck.append(graw)
            # per-head backward; dh accumulates across heads
            head_grads, dh_acc = [], None
            for hi, (head, st) in enumerate(zip(heads, states)):
                g_h = graw.select(
                    "id", F.slice("g", hi * d_head + 1, d_head).alias("g"))
                dW, das, dad, dh = head_backward(st, g_h, head, li > 0,
                                                 relu=False)
                head_grads.append({"W": dW, "a_src": das, "a_dst": dad})
                if dh is not None:
                    ck.append(dh)
                    dh_acc = dh if dh_acc is None else (
                        dh_acc.withColumnRenamed("g", "g1")
                        .join(dh.withColumnRenamed("g", "g2"), "id")
                        .select("id", F.zip_with(
                            "g1", "g2", lambda x, y: x + y).alias("g")))
            # conv bias gradient = graw column sums
            (db,) = tree_sum(graw, ["g"], lambda r: (r["g"],),
                             (np.zeros(d_head * len(heads)),))
            grads[li] = {"heads": head_grads, "b": db}
            g_above = None
            if dh_acc is not None:
                g_above = dh_acc.localCheckpoint(eager=True)
                ck.append(g_above)
        return {"convs": grads, "Wf": dWf, "bf": dbf}

    @staticmethod
    def free(state):
        for fr in state[0]:
            free_checkpoint(fr)

    def close(self):
        pass


def gatjk_train(graph, hidden_sizes=None, heads: int = HEADS, **kw):
    """Trains the GATJK stack; returns (epoch_rows, model). Keyword
    arguments as nn_kernels.train_node_classifier."""
    hidden_sizes = list(hidden_sizes or [16, 16])
    if len(set(hidden_sizes)) != 1:
        raise ValueError(
            "GATJK with jk='max' needs equal hidden sizes (the torch "
            "JumpingKnowledge stacks equal-width layer outputs)")
    return train_node_classifier(
        graph, functools.partial(GatjkEncoder, heads=heads),
        hidden_sizes=hidden_sizes, **kw)


def gatjk_forward(graph, model) -> DataFrame:
    """(id, h=z): the trained GATJK stack over the whole graph."""
    X, _ = feature_nodes(graph, model["features_attr"], d0=model["d0"])
    z, (ck, _xs, _layers, _jk) = _stack_forward(
        X, graph.adjacency(model["etype"], "both").select("src", "dst"),
        model)
    for fr in ck[:-1]:                       # z reads only the jk checkpoint
        free_checkpoint(fr)
    return z
