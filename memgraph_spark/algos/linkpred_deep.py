"""Deep link prediction without torch/dgl: a real GNN encoder + edge
predictor trained end-to-end with numpy weights + DataFrame message
passing.

Parity target: the reference's link_prediction module —
src/mage/python/link_prediction.py (defaults at :75-87:
layer_type=graph_attn, hidden_features_size=[128,128], optimizer=ADAM,
learning_rate=0.01, split_ratio=0.8, aggregator=pool,
predictor_type=mlp, num_neg_per_pos_edge=1, sigmoid last activation)
wired through mage/link_prediction/: GraphSAGE / GAT encoders
(models/graph_sage.py, models/gat.py — DGL SAGEConv / GATConv),
MLPPredictor = W2 @ relu(W1 @ [h_u || h_v]) (predictors/MLPPredictor.py)
or DotPredictor (predictors/DotPredictor.py), BCE loss over sigmoid
probabilities with one GlobalUniform negative per positive edge
(link_prediction_util.py:304,356), per-epoch loss/accuracy/auc/
precision/recall/f1 metrics (link_prediction_util.py evaluate()).

Execution model: algos/nn_kernels.py. The encoders are sage.SageEncoder
and gat.GatEncoder; pair scoring is Arrow-batched mapInPandas, predictor
gradients reduce through nn_kernels.tree_sum; the driver holds only the
weight dict and the nn_kernels.Adam moments.

Documented deviations (batching/regularization, not layer algebra):
- deterministic full-batch epochs instead of shuffled 512-edge
  minibatches over full-neighbour sampled blocks; consequently a train
  edge participates in message passing for its own prediction (the
  reference's as_edge_prediction_sampler excludes the supervision edge
  from its own message flow);
- graph_attn runs the single-head GATConv kernel (algos/gat.py) with
  relu between layers — the reference stacks heads [4,4] with
  mean-over-heads, ELU and residuals;
- no dropout (reference feat_drop/attn_drop 0.09164) — training is
  deterministic; L2 via weight_decay instead;
- negatives are drawn by a hash-mod join against a zipWithIndex node
  pool (no torch RNG): deterministic per (src, dst, epoch), uniform
  over the feature-bearing node set, excluding the pair's own
  endpoints (GlobalUniform also excludes only self edges);
- AUC comes from a bounded 8192-bin score histogram (within-bin ties
  get half credit — exact to <2e-4) instead of sklearn's exact ranks:
  a global rank would serialize through one partition at 100 TB.

The logistic-regression feature baseline (algos/gnn.py) remains ONLY as
the documented fallback behind layer_type='logistic'; the reference's
own layer types train here for real.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos.gat import GatEncoder
from memgraph_spark.algos.nn_kernels import (Adam, np_rows, scatter_sum,
                                             tree_sum)
from memgraph_spark.algos.sage import SageEncoder
from memgraph_spark.session import free_checkpoint

AUC_BINS = 8192

DEFAULTS = {
    "hidden_features_size": [128, 128],   # link_prediction.py:82
    "layer_type": "graph_attn",           # :84 Models.GRAPH_ATTN
    "num_epochs": 10,
    "optimizer": "ADAM",
    "learning_rate": 0.01,
    "split_ratio": 0.8,
    "node_features_property": "features",
    "aggregator": "pool",                 # :96 Aggregators.POOL_AGG
    "predictor_type": "mlp",              # :113 MLP_PREDICTOR
    "target_relation": None,
    "num_neg_per_pos_edge": 1,
    "weight_decay": 0.0,
    "seed": 0,                            # preprocess() rnd_seed = 0
}

_LAYER_TYPES = ("graph_attn", "graph_sage", "logistic")


def _validate(cfg: dict) -> dict:
    p = dict(DEFAULTS)
    for k, v in (cfg or {}).items():
        if k not in p and k not in ("attn_num_heads", "batch_size",
                                    "num_layers", "console_log_freq",
                                    "checkpoint_freq", "metrics",
                                    "tr_acc_patience", "device_type",
                                    "context_save_dir", "sampling_workers",
                                    "last_activation_function",
                                    "add_reverse_edges", "add_self_loops",
                                    "in_feats"):
            raise ValueError(f"link_prediction: unknown parameter {k!r}")
        p[k] = v
    lt = str(p["layer_type"]).lower()
    if lt not in _LAYER_TYPES:
        raise ValueError(
            f"link_prediction: layer_type {p['layer_type']!r} not in "
            f"{_LAYER_TYPES} (reference Models.GRAPH_ATTN/GRAPH_SAGE)")
    p["layer_type"] = lt
    pt = str(p["predictor_type"]).lower()
    if pt not in ("mlp", "dot"):
        raise ValueError(
            f"link_prediction: predictor_type {p['predictor_type']!r} "
            "not in ('mlp', 'dot')")
    p["predictor_type"] = pt
    ag = str(p["aggregator"]).lower()
    if lt == "graph_sage" and ag not in ("mean", "max", "pool", "gcn",
                                         "lstm"):
        raise NotImplementedError(
            f"link_prediction aggregator {ag!r}: mean/max/pool/gcn/lstm "
            "run without torch (the reference DGL SAGEConv "
            "aggregator_type values, link_prediction.py:55)")
    p["aggregator"] = ag
    opt = str(p["optimizer"]).upper()
    if opt not in ("ADAM", "SGD"):
        raise ValueError(f"link_prediction: optimizer {opt!r} not in "
                         "('ADAM', 'SGD')")
    p["optimizer"] = opt
    p["hidden_features_size"] = [int(x) for x in p["hidden_features_size"]]
    return p


def _neg_pool(X: DataFrame):
    """Dense (rk, node) index over the feature-bearing node set for
    hash-mod negative draws — zipWithIndex (per-partition offsets), no
    global sort, no single-partition Window. Returns (pool, n)."""
    pool = (X.select("id").rdd
            .map(lambda r: (r["id"],))
            .zipWithIndex()
            .map(lambda t: (int(t[0][0]), int(t[1])))
            .toDF("node long, rk long")
            .localCheckpoint(eager=True))
    return pool, pool.count()


def _draw_negatives(edges: DataFrame, pool: DataFrame, n: int,
                    epoch: int, k: int) -> DataFrame:
    """k corrupted (src, wneg) rows per (src, dst) edge: the destination
    is replaced by a hash-drawn pool node. Deterministic per
    (src, dst, epoch, i); a draw colliding with either endpoint falls
    back to the next pool slot (GlobalUniform excludes self edges)."""
    outs = []
    for i in range(int(k)):
        rk = F.pmod(F.xxhash64("src", "dst", F.lit(epoch), F.lit(i)),
                    F.lit(n))
        cand = (edges.withColumn("rk", rk)
                .withColumn("rk2", F.pmod(F.col("rk") + 1, F.lit(n))))
        cand = (cand
                .join(pool.withColumnsRenamed({"node": "w1"}), "rk")
                .join(pool.withColumnsRenamed({"node": "w2",
                                               "rk": "rk2"}), "rk2"))
        ok1 = (F.col("w1") != F.col("src")) & (F.col("w1") != F.col("dst"))
        outs.append(cand.select(
            "src", "dst", "split",
            F.when(ok1, F.col("w1")).otherwise(F.col("w2")).alias("wneg")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.filter((F.col("wneg") != F.col("src"))
                      & (F.col("wneg") != F.col("dst")))


def _score_pairs(pairs: DataFrame, W: dict, predictor: str,
                 d: int) -> DataFrame:
    """(u, v, y, split, zu, zv) -> + (s, p): predictor forward.
    mlp: s = relu([zu||zv] @ W1 + b1) @ w2 + b2 (MLPPredictor.py);
    dot: s = zu . zv (DotPredictor.py). p = sigmoid(s)."""
    import pandas as pd
    W1 = np.asarray(W["p_W1"]) if predictor == "mlp" else None
    b1 = np.asarray(W["p_b1"]) if predictor == "mlp" else None
    w2 = np.asarray(W["p_w2"]) if predictor == "mlp" else None
    b2 = float(W["p_b2"][0]) if predictor == "mlp" else 0.0

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ZU, ZV = np_rows(pdf["zu"]), np_rows(pdf["zv"])
            if predictor == "mlp":
                X = np.concatenate([ZU, ZV], axis=1)
                H1 = np.maximum(X @ W1 + b1, 0.0)
                S = H1 @ w2 + b2
            else:
                S = (ZU * ZV).sum(axis=1)
            P = 1.0 / (1.0 + np.exp(-np.clip(S, -50.0, 50.0)))
            out = pdf[["u", "v", "y", "split", "zu", "zv"]].copy()
            out["s"] = S
            out["p"] = P
            yield out

    return pairs.mapInPandas(
        fn, "u long, v long, y int, split string, zu array<double>, "
            "zv array<double>, s double, p double")


def _metrics(scored: DataFrame) -> dict:
    """Per-split loss/accuracy/precision/recall/f1 + exact-to-2e-4 AUC
    from a bounded AUC_BINS histogram (one aggregation + one bounded
    collect — never a global sort)."""
    pc = F.greatest(F.least(F.col("p"), F.lit(1.0 - 1e-12)),
                    F.lit(1e-12))
    bce = -(F.col("y") * F.log(pc)
            + (1 - F.col("y")) * F.log(1.0 - pc))
    pred = (F.col("p") > 0.5).cast("int")
    agg = (scored.groupBy("split").agg(
        F.avg(bce).alias("loss"),
        F.avg((pred == F.col("y")).cast("double")).alias("accuracy"),
        F.sum(((pred == 1) & (F.col("y") == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (F.col("y") == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (F.col("y") == 1)).cast("long")).alias("fn"),
        F.count("*").alias("n")).collect())
    bins = (scored.groupBy(
        "split", "y",
        F.least(F.floor(F.col("p") * AUC_BINS),
                F.lit(AUC_BINS - 1)).alias("b"))
        .agg(F.count("*").alias("c")).collect())
    hist: dict = {}
    for r in bins:
        hist.setdefault(r["split"], {}).setdefault(
            int(r["b"]), [0, 0])[int(r["y"])] = int(r["c"])
    out = {}
    for r in agg:
        sp = r["split"]
        tp, fp, fn = int(r["tp"]), int(r["fp"]), int(r["fn"])
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        # Mann-Whitney over the bounded histogram: positives get credit
        # for negatives in lower bins + half for same-bin ties
        pos_tot = neg_tot = 0
        auc_num = 0.0
        cum_neg = 0
        for b in sorted(hist.get(sp, {})):
            neg_c, pos_c = hist[sp][b]
            auc_num += pos_c * (cum_neg + 0.5 * neg_c)
            cum_neg += neg_c
            pos_tot += pos_c
            neg_tot += neg_c
        auc = auc_num / (pos_tot * neg_tot) if pos_tot and neg_tot else 0.5
        out[sp] = {"loss": float(r["loss"]),
                   "accuracy": float(r["accuracy"]),
                   "auc": float(auc), "precision": float(prec),
                   "recall": float(rec), "f1": float(f1),
                   "n": int(r["n"])}
    return out


def _predictor_backward(train_scored: DataFrame, W: dict, predictor: str,
                        d: int, n_pairs: int):
    """(node-gradient frame (id, g), predictor weight grads dict).
    err = dL/ds = (p - y) / n_pairs (BCE after sigmoid). The node frame
    carries TWO rows per pair (u and v shares); densified per node by an
    algebraic posexplode sum."""
    import pandas as pd
    W1 = np.asarray(W["p_W1"]) if predictor == "mlp" else None
    b1 = np.asarray(W["p_b1"]) if predictor == "mlp" else None
    w2 = np.asarray(W["p_w2"]) if predictor == "mlp" else None

    def node_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ZU, ZV = np_rows(pdf["zu"]), np_rows(pdf["zv"])
            err = ((pdf["p"] - pdf["y"]).to_numpy()
                   / max(n_pairs, 1))[:, None]
            if predictor == "mlp":
                X = np.concatenate([ZU, ZV], axis=1)
                H1 = np.maximum(X @ W1 + b1, 0.0)
                DH1 = err * w2 * (H1 > 0.0)
                DX = DH1 @ W1.T
                DU, DV = DX[:, :d], DX[:, d:]
            else:
                DU, DV = err * ZV, err * ZU
            yield pd.DataFrame({
                "id": np.concatenate([pdf["u"].to_numpy(),
                                      pdf["v"].to_numpy()]),
                "v": list(DU) + list(DV)})

    gz = scatter_sum(
        train_scored.mapInPandas(node_fn, "id long, v array<double>"),
        to_col="id").withColumnRenamed("v", "g")
    if predictor != "mlp":
        return gz, {}

    def row_grads(r):
        x = np.concatenate([r["zu"], r["zv"]])
        h1 = np.maximum(x @ W1 + b1, 0.0)
        err = (float(r["p"]) - float(r["y"])) / max(n_pairs, 1)
        dh1 = err * w2 * (h1 > 0.0)
        return np.outer(x, dh1), dh1, err * h1, err

    dW1, db1, dw2, db2 = tree_sum(
        train_scored, ["zu", "zv", "p", "y"], row_grads,
        (np.zeros_like(W1), np.zeros_like(b1), np.zeros_like(w2),
         np.zeros(1)))
    return gz, {"p_W1": dW1, "p_b1": db1, "p_w2": dw2, "p_b2": db2}


def _node_features(graph, prop: str):
    feat = F.col(prop).cast("array<double>")
    nodes = (graph.all_nodes([prop])
             .select("id", feat.alias("h"))
             .filter(F.col("h").isNotNull()))
    probe = nodes.select(F.size("h").alias("d")).filter("d > 0").first()
    if probe is None:
        raise ValueError(
            f"link_prediction: no node carries a non-empty "
            f"'{prop}' array property (node_features_property)")
    d0 = int(probe["d"])
    return nodes.filter(F.size("h") == d0), d0


def linkpred_train(graph, **cfg) -> DataFrame:
    """link_prediction.train parity (link_prediction.py:223): trains the
    configured GNN encoder + predictor on the target relation's edges
    (hash-split train/val) and stores the model on the graph. Returns
    one row per (epoch, split) with the reference's metric set:
    (epoch, split, loss, accuracy, auc, precision, recall, f1)."""
    p = _validate(cfg)
    if p["layer_type"] == "logistic":
        raise ValueError("linkpred_train is the deep path; the logistic "
                         "baseline is dispatched in procedures.py")
    X, d0 = _node_features(graph, p["node_features_property"])
    X = X.persist()
    etype = p["target_relation"]
    und = graph.adjacency(etype, "both").select("src", "dst")
    # supervision edges: the target relation's (src, dst), deterministic
    # split like preprocess() (random permutation by fixed seed -> here a
    # stable hash; same edge always lands in the same side)
    sup = (graph.edge(etype) if etype else graph.all_edges()) \
        .select("src", "dst").filter(F.col("src") != F.col("dst")) \
        .dropDuplicates()
    sup = sup.withColumn(
        "split", F.when(F.pmod(F.xxhash64("src", "dst"), 1000)
                        < int(float(p["split_ratio"]) * 1000),
                        F.lit("train")).otherwise(F.lit("val"))) \
        .persist()
    if sup.count() == 0:
        raise ValueError("link_prediction: no supervision edges for "
                         f"target_relation={etype!r}")
    pool, n_nodes = _neg_pool(X)

    dims = [d0] + p["hidden_features_size"]
    d_out = dims[-1]
    rng = np.random.default_rng(int(p["seed"]))
    # graph_attn: single-head GATConv layers with self-loops
    enc = (SageEncoder(X, und, dims, rng, p["aggregator"])
           if p["layer_type"] == "graph_sage"
           else GatEncoder(X, und, dims, rng))
    # predictor weights (MLPPredictor: Linear(2h, h), Linear(h, 1))
    W: dict = {}
    if p["predictor_type"] == "mlp":
        lim = np.sqrt(6.0 / (3 * d_out))
        W["p_W1"] = rng.uniform(-lim, lim, (2 * d_out, d_out))
        W["p_b1"] = np.zeros(d_out)
        lim2 = np.sqrt(6.0 / (d_out + 1))
        W["p_w2"] = rng.uniform(-lim2, lim2, d_out)
        W["p_b2"] = np.zeros(1)
    # one flat {name: array} view over predictor + encoder weights (the
    # same arrays, updated in place)
    params = dict(W)
    for li, lay in enumerate(enc.params["layers"]):
        for k2, v in lay.items():
            params[f"l{li}_{k2}"] = v
    opt = (Adam(params, float(p["learning_rate"]), float(p["weight_decay"]))
           if p["optimizer"] == "ADAM" else None)
    rows = []
    for epoch in range(1, int(p["num_epochs"]) + 1):
        # ---- encoder forward -> z (id, h) embeddings frame
        z, state = enc.forward()
        # GatEncoder's output is already its last layer's checkpoint (freed
        # with `state`); SageEncoder's is lazy
        own_z = isinstance(enc, SageEncoder)
        if own_z:
            z = z.localCheckpoint(eager=True)
        # ---- pairs: positives + hash-drawn negatives, embeddings joined
        negs = _draw_negatives(sup, pool, n_nodes, epoch,
                               int(p["num_neg_per_pos_edge"]))
        pos = sup.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                         F.lit(1).alias("y"), "split")
        neg = negs.select(F.col("src").alias("u"),
                          F.col("wneg").alias("v"),
                          F.lit(0).alias("y"), "split")
        pairs = (pos.unionByName(neg)
                 .join(z.select(F.col("id").alias("u"),
                                F.col("h").alias("zu")), "u")
                 .join(z.select(F.col("id").alias("v"),
                                F.col("h").alias("zv")), "v"))
        scored = _score_pairs(pairs, W, p["predictor_type"], d_out) \
            .persist()
        mets = _metrics(scored)
        for sp in ("train", "val"):
            if sp in mets:
                m = mets[sp]
                rows.append((epoch, sp, round(m["loss"], 6),
                             round(m["accuracy"], 6), round(m["auc"], 6),
                             round(m["precision"], 6),
                             round(m["recall"], 6), round(m["f1"], 6)))
        n_train_pairs = mets.get("train", {}).get("n", 0)
        # ---- backward: predictor -> node grads -> encoder
        train_scored = scored.filter(F.col("split") == "train")
        gz, grads = _predictor_backward(
            train_scored, W, p["predictor_type"], d_out, n_train_pairs)
        gz = gz.localCheckpoint(eager=True)
        for li, lay in enumerate(enc.backward(state, gz)["layers"]):
            for k2, g2 in lay.items():
                grads[f"l{li}_{k2}"] = g2
        # ---- update
        if opt is not None:
            opt.step(params, grads)
        else:
            lr, wd = float(p["learning_rate"]), float(p["weight_decay"])
            for k2, g2 in grads.items():
                params[k2] -= lr * (g2 + wd * params[k2])
        scored.unpersist()
        free_checkpoint(gz)
        if own_z:
            free_checkpoint(z)
        enc.free(state)
    model = {"kind": p["layer_type"], "predictor": p["predictor_type"],
             "aggregator": p["aggregator"], "dims": dims,
             "d0": d0, "etype": etype,
             "node_features_property": p["node_features_property"],
             "enc_layers": [{k2: np.asarray(v).tolist()
                             for k2, v in lay.items()}
                            for lay in enc.params["layers"]],
             "predictor_weights": {k2: np.asarray(v).tolist()
                                   for k2, v in W.items()}}
    graph._lp_deep_model = model
    graph._lp_results = list(rows)
    if cfg_dir := p.get("context_save_dir"):
        # reference checkpoints model+predictor every checkpoint_freq
        # epochs into context_save_dir (default /tmp/); we persist once
        # at end-of-train and only when the caller SET the directory
        linkpred_save(model, str(cfg_dir))
    for fr in (X, sup):
        fr.unpersist()
    free_checkpoint(pool)
    enc.close()
    return graph.spark.createDataFrame(
        rows, "epoch int, split string, loss double, accuracy double, "
              "auc double, precision double, recall double, f1 double")


def linkpred_forward(graph, model) -> DataFrame:
    """(id, h): trained-encoder embeddings over the whole graph (the
    reference's online_forward evaluates the full graph for predict)."""
    X, _d0 = _node_features(graph, model["node_features_property"])
    X = X.filter(F.size("h") == int(model["d0"]))
    und = graph.adjacency(model["etype"], "both").select("src", "dst")
    layers = [{k2: np.asarray(v) for k2, v in lay.items()}
              for lay in model["enc_layers"]]
    if model["kind"] == "graph_sage":
        return SageEncoder.embed(X, und, layers, model["aggregator"])
    return GatEncoder.embed(X, und, layers)


def linkpred_save(model: dict, save_dir: str) -> str:
    """Persist the trained model (weights are plain lists — JSON) the way
    the reference checkpoints model+predictor into context_save_dir
    (link_prediction.py checkpoint_freq/context_save_dir)."""
    import json
    import os
    path = os.path.join(save_dir, "linkpred_model.json")
    with open(path, "w") as f:
        json.dump(model, f)
    return path


def linkpred_load(graph, path: str) -> None:
    """link_prediction.load_model parity (link_prediction.py:594): loads
    the checkpointed model; a missing file raises the underlying error
    like the reference's torch.load."""
    import json
    import os
    if os.path.isdir(path):
        path = os.path.join(path, "linkpred_model.json")
    with open(path) as f:
        graph._lp_deep_model = json.load(f)


def linkpred_recommend(graph, src: int, dest_vertices, k: int) -> list:
    """link_prediction.recommend parity (link_prediction.py:414): scores
    (src, d) for every d in dest_vertices through the trained model and
    returns the top-k [(score, dest)] by score desc (ties by id). One
    full-graph forward; only the |dest_vertices|+1 embedding rows cross
    to the driver."""
    model = getattr(graph, "_lp_deep_model", None)
    if model is None:
        raise ValueError("No trained model available to the system. "
                         "Train or load it first.")
    dests = [int(d) for d in dest_vertices]
    want = set(dests) | {int(src)}
    z = linkpred_forward(graph, model)
    rows = {int(r["id"]): np.asarray(r["h"], dtype=np.float64)
            for r in z.filter(F.col("id").isin(list(want))).collect()}
    free_checkpoint(z)   # the gat forward returns a checkpointed frame
    a = rows.get(int(src))
    if a is None:
        raise ValueError(f"link_prediction.recommend: node {src} has no "
                         f"'{model['node_features_property']}' vector")
    Wp = model.get("predictor_weights", {})
    scored = []
    for d in dests:
        b = rows.get(d)
        if b is None:
            continue
        if model["predictor"] == "mlp":
            x = np.concatenate([a, b])
            h1 = np.maximum(x @ np.asarray(Wp["p_W1"])
                            + np.asarray(Wp["p_b1"]), 0.0)
            s = float(h1 @ np.asarray(Wp["p_w2"]) + Wp["p_b2"][0])
        else:
            s = float(a @ b)
        p = 1.0 / (1.0 + math.exp(-max(min(s, 50.0), -50.0)))
        scored.append((round(p, 6), d))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return scored[: int(k)]


def linkpred_predict_pair(graph, src: int, dest: int) -> float:
    """link_prediction.predict(src, dest) parity (link_prediction.py:328):
    probability score for one pair through the trained encoder +
    predictor. Raises when no deep model is stored."""
    model = getattr(graph, "_lp_deep_model", None)
    if model is None:
        raise ValueError("link_prediction: train a model before predict "
                         "(CALL link_prediction.train() first)")
    z = linkpred_forward(graph, model)
    rows = {int(r["id"]): np.asarray(r["h"], dtype=np.float64)
            for r in z.filter(F.col("id").isin([int(src), int(dest)]))
            .collect()}
    free_checkpoint(z)   # the gat forward returns a checkpointed frame
    a, b = rows.get(int(src)), rows.get(int(dest))
    if a is None or b is None:
        missing = src if a is None else dest
        raise ValueError(f"link_prediction.predict: node {missing} has "
                         f"no '{model['node_features_property']}' vector")
    if model["predictor"] == "mlp":
        Wp = model["predictor_weights"]
        x = np.concatenate([a, b])
        h1 = np.maximum(x @ np.asarray(Wp["p_W1"])
                        + np.asarray(Wp["p_b1"]), 0.0)
        s = float(h1 @ np.asarray(Wp["p_w2"]) + Wp["p_b2"][0])
    else:
        s = float(a @ b)
    return 1.0 / (1.0 + math.exp(-max(min(s, 50.0), -50.0)))
