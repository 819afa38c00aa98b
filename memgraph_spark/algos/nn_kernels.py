"""Kernels shared by the no-torch GNN trainers (algos/gat.py, gatv2.py,
gatjk.py, sage.py, linkpred_deep.py; Adam also serves tgn_deep.py).

Execution model (nothing large on the driver):
- per-node states are (id, array<double>) frames; matmuls run in
  Arrow-batched mapInPandas with the small weight matrices in the task
  closure (`np_rows` turns a batch's array column into a matrix);
- a layer's message passing has the shape of a Pregel superstep — one
  join plus one group-by over vertex state (Pregelix, PAPERS.md):
  `scatter_sum` posexplodes the vectors so the sum is algebraic
  (partial-aggregated, skew-immune) and edge x dim rows exist only
  inside it; `edge_softmax` normalises per-edge scores per destination;
- parameter gradients reduce with `tree_sum` (mapPartitions +
  treeAggregate): only parameter-sized arrays reach the driver.

`train_node_classifier` is the one epoch loop of node_classification's
deep path. Deviations from the torch reference shared by every encoder
(regularization, not layer algebra): no BatchNorm or dropout; full-batch
deterministic gradient descent with explicit L2 weight decay on weights
(none on biases); undirected (both-direction) neighbourhoods.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import checkpoint_with_metrics, free_checkpoint

EPOCH_SCHEMA = ("epoch int, loss double, val_loss double, "
                "train_log array<double>, val_log array<double>")


def np_rows(col):
    """Column of array<double> (pandas Series of lists) -> 2-D ndarray."""
    return np.array(col.to_list(), dtype=np.float64)


def self_loops(und: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst): the adjacency plus one (i, i) row per node in `nodes`."""
    return und.unionByName(nodes.select(F.col("id").alias("src"),
                                        F.col("id").alias("dst")))


def project(frame: DataFrame, col: str, M, out: str) -> DataFrame:
    """(id, col) -> (id, out = col @ M). Arrow-batched."""
    import pandas as pd
    M_ = np.asarray(M, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame({"id": pdf["id"],
                                    out: list(np_rows(pdf[col]) @ M_)})

    return frame.select("id", col).mapInPandas(
        fn, f"id long, {out} array<double>")


def bias_relu(frame: DataFrame, b, relu: bool) -> DataFrame:
    """(id, v) -> (id, h = v + b), relu'd when `relu`. Arrow-batched."""
    import pandas as pd
    b_ = np.asarray(b, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Z = np_rows(pdf["v"]) + b_
            if relu:
                np.maximum(Z, 0.0, out=Z)
            yield pd.DataFrame({"id": pdf["id"], "h": list(Z)})

    return frame.mapInPandas(fn, "id long, h array<double>")


def scatter_sum(edges: DataFrame, vec: DataFrame | None = None,
                from_col: str = "src", to_col: str = "dst",
                weight: str | None = None) -> DataFrame:
    """(id, v): per `to_col` value, the sum over `edges` rows of
    [weight *] the vector v of the `from_col` node in the (id, v) frame
    `vec`; with vec=None the rows carry `v` themselves. posexplode + sum
    per (id, pos), re-assembled in pos order."""
    if vec is not None:
        edges = edges.join(vec.withColumnRenamed("id", from_col), from_col)
    x = F.col("x") if weight is None else F.col(weight) * F.col("x")
    return (edges.select(F.col(to_col).alias("id"),
                         *([weight] if weight else []),
                         F.posexplode("v").alias("pos", "x"))
            .groupBy("id", "pos").agg(F.sum(x).alias("v"))
            .groupBy("id").agg(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("pos", "v"))),
                    lambda s: s.getField("v")).alias("v")))


def edge_softmax(e: DataFrame, key: str = "dst") -> DataFrame:
    """Replaces the score column `e` by `alpha`, its softmax over the rows
    sharing `key` (shifted by the per-key max, so exp never overflows)."""
    keep = [c for c in e.columns if c != "e"]
    mx = e.groupBy(key).agg(F.max("e").alias("__mx"))
    e = (e.join(mx, key)
         .select(*keep, F.exp(F.col("e") - F.col("__mx")).alias("__ex")))
    z = e.groupBy(key).agg(F.sum("__ex").alias("__z"))
    return (e.join(z, key)
            .select(*keep, (F.col("__ex") / F.col("__z")).alias("alpha")))


def tree_sum(frame: DataFrame, cols, row_fn, zero: tuple) -> tuple:
    """Sum of row_fn(row) — a tuple of arrays shaped like `zero` — over
    the rows of frame[cols]: one mapPartitions + treeAggregate job."""
    def part(rows):
        acc = [np.zeros_like(z) for z in zero]
        any_row = False
        for r in rows:
            any_row = True
            for a, t in zip(acc, row_fn(r)):
                a += t
        return iter([tuple(acc)]) if any_row else iter(())

    def add(a, b):
        return tuple(x + y for x, y in zip(a, b))

    return frame.select(*cols).rdd.mapPartitions(part) \
        .treeAggregate(tuple(zero), add, add)


def softmax_xent_grad(zframe: DataFrame, n_train: int) -> DataFrame:
    """(id, h=z_L, yi, train) -> (id, g, loss, hit, is_train): per-node
    cross-entropy gradient rows (g = (softmax - onehot)/n_train on train
    nodes, 0 elsewhere) plus per-node metrics."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Z = np_rows(pdf["h"])
            Z = Z - Z.max(axis=1, keepdims=True)
            E = np.exp(Z)
            P = E / E.sum(axis=1, keepdims=True)
            y = pdf["yi"].to_numpy()
            tr = pdf["train"].to_numpy().astype(bool)
            G = P.copy()
            G[np.arange(len(y)), y] -= 1.0
            G /= max(n_train, 1)
            G[~tr] = 0.0
            logp = np.log(np.clip(P[np.arange(len(y)), y], 1e-12, None))
            hit = (P.argmax(axis=1) == y).astype(np.float64)
            yield pd.DataFrame({"id": pdf["id"], "g": list(G),
                                "loss": -logp, "hit": hit,
                                "is_train": tr})

    return zframe.mapInPandas(
        fn, "id long, g array<double>, loss double, hit double, "
            "is_train boolean")


class Adam:
    """torch.optim.Adam parity (bias-corrected moments, eps 1e-8, L2
    weight decay added to the gradient) over a flat {name: ndarray}
    parameter dict, updated in place."""

    def __init__(self, params: dict, lr: float, weight_decay: float = 0.0):
        self.lr = float(lr)
        self.wd = float(weight_decay)
        self.m = {k: np.zeros_like(v) for k, v in params.items()}
        self.v = {k: np.zeros_like(v) for k, v in params.items()}
        self.t = 0

    def step(self, params: dict, grads: dict,
             b1: float = 0.9, b2: float = 0.999, eps: float = 1e-8):
        self.t += 1
        c1 = 1.0 - b1 ** self.t
        c2 = 1.0 - b2 ** self.t
        for k, g in grads.items():
            if self.wd:
                g = g + self.wd * params[k]
            m = self.m[k] = b1 * self.m[k] + (1 - b1) * g
            v = self.v[k] = b2 * self.v[k] + (1 - b2) * g * g
            params[k] -= self.lr * (m / c1) / (np.sqrt(v / c2) + eps)


def feature_nodes(graph, features_attr: str, label_attr: str | None = None,
                  d0: int | None = None):
    """(frame, d0): the (id, h[, y]) rows of nodes whose `features_attr`
    is an array of width d0. Without d0 it is the width of the first node
    carrying a non-empty array, and a graph without one raises."""
    feat = F.col(features_attr).cast("array<double>")
    label = [F.col(label_attr).cast("long").alias("y")] if label_attr else []
    nodes = (graph.all_nodes([features_attr] + ([label_attr] if label_attr
                                                else []))
             .select("id", feat.alias("h"), *label)
             .filter(F.col("h").isNotNull()))
    if d0 is None:
        probe = nodes.select(F.size("h").alias("d")).filter("d > 0").first()
        if probe is None:
            raise ValueError(
                f"node_classification.train: no node carries a non-empty "
                f"'{features_attr}' array property")
        d0 = int(probe["d"])
    return nodes.filter(F.size("h") == int(d0)), int(d0)


def class_split(nodes: DataFrame, label_attr: str, split_ratio: float):
    """(labeled, classes): the rows with a label, plus yi (the label's
    index in the sorted class list) and train (a stable id-hash split,
    the same across epochs and runs)."""
    labeled = nodes.filter(F.col("y").isNotNull())
    classes = [int(r["y"]) for r in
               labeled.select("y").distinct().orderBy("y").collect()]
    if not classes:
        raise ValueError(
            f"node_classification.train: no node carries the "
            f"'{label_attr}' property")
    cmap = F.create_map(*[F.lit(x) for i, c in enumerate(classes)
                          for x in (c, i)])
    return (labeled.withColumn("yi", cmap[F.col("y")].cast("int"))
            .withColumn("train", F.pmod(F.xxhash64("id"), 1000)
                        < int(split_ratio * 1000))), classes


def _sgd(params, grads, lr: float, wd: float):
    """In-place SGD over matching nested dicts/lists of arrays; weight
    decay applies to every entry but the biases (names starting 'b')."""
    if isinstance(grads, list):
        for p, g in zip(params, grads):
            _sgd(p, g, lr, wd)
        return
    for k, g in grads.items():
        if not isinstance(g, np.ndarray):
            _sgd(params[k], g, lr, wd)
        elif k.startswith("b"):
            params[k] -= lr * g
        else:
            params[k] -= lr * (g + wd * params[k])


def _tolist(x):
    if isinstance(x, dict):
        return {k: _tolist(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_tolist(v) for v in x]
    return x.tolist()


def train_node_classifier(graph, encoder, hidden_sizes=None,
                          num_epochs: int = 100, learning_rate: float = 0.1,
                          weight_decay: float = 5e-4,
                          split_ratio: float = 0.8,
                          features_attr: str = "features",
                          label_attr: str = "class",
                          etype: str | None = None, seed: int = 1):
    """Full-batch training of `encoder` with a softmax cross-entropy head;
    returns (epoch_rows, model dict). Rows follow node_classification's
    record shape (epoch, loss, val_loss, train_log=[acc], val_log=[acc]).

    `encoder(X, und, dims, rng)` is the layer definition over the feature
    frame X (id, h) and the undirected adjacency und (src, dst), for
    layer widths dims = [d0, *hidden_sizes, n_classes]; it draws its
    weights from rng and persists what it reuses across epochs. It has
      .params  the model's weight entries (nested dicts/lists of arrays)
      .kind, .meta  the model kind and its extra model entries
      .forward() -> (z, state)  logits (id, h) and what backward needs
      .backward(state, g) -> grads  g = dL/dz (id, g); grads mirror
               params (entries without a gradient are not updated)
      .free(state), .close()  release an epoch's / the encoder's frames
    """
    nodes, d0 = feature_nodes(graph, features_attr, label_attr)
    labeled, classes = class_split(nodes, label_attr, split_ratio)
    X = nodes.select("id", "h").persist()
    meta = labeled.select("id", "yi", "train").persist()
    n_train = int(meta.filter("train").count())
    und = graph.adjacency(etype, "both").select("src", "dst")
    dims = [d0] + list(hidden_sizes or [16, 16]) + [len(classes)]
    enc = encoder(X, und, dims, np.random.default_rng(seed))
    tr = F.col("is_train")
    rows = []
    for epoch in range(1, int(num_epochs) + 1):
        z, state = enc.forward()
        gframe, m = checkpoint_with_metrics(
            softmax_xent_grad(z.join(meta, "id")
                              .select("id", "h", "yi", "train"), n_train),
            lo=F.avg(F.when(tr, F.col("loss"))),
            vlo=F.avg(F.when(~tr, F.col("loss"))),
            acc=F.avg(F.when(tr, F.col("hit"))),
            vacc=F.avg(F.when(~tr, F.col("hit"))))
        rows.append((epoch, float(m["lo"] or 0.0), float(m["vlo"] or 0.0),
                     [float(m["acc"] or 0.0)], [float(m["vacc"] or 0.0)]))
        grads = enc.backward(state, gframe.select("id", "g"))
        _sgd(enc.params, grads, learning_rate, weight_decay)
        enc.free(state)
        free_checkpoint(gframe)
    enc.close()
    X.unpersist()
    meta.unpersist()
    model = {"kind": enc.kind, "classes": classes, **_tolist(enc.params),
             **enc.meta, "features_attr": features_attr,
             "label_attr": label_attr, "etype": etype, "d0": d0}
    return graph.spark.createDataFrame(rows, EPOCH_SCHEMA), model
