"""Deep link prediction (algos/linkpred_deep.py — reference
src/mage/python/link_prediction.py): a LOCAL numpy twin of the identical
algebra (graph_sage-mean encoder + MLP predictor + BCE + Adam) must
reproduce the distributed trainer's loss trajectory and final weights to
1e-8; the default graph_attn config must train to high AUC on a toy
graph where the logistic feature baseline stays uninformative; the
procedure surface follows the reference protocol."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from memgraph_spark.catalog import PropertyGraph

pytestmark = pytest.mark.slow  # multi-epoch training; skipped by default (conftest)



def _cluster_graph(spark, n_per: int = 12, d: int = 4):
    """Two clusters wired as rings, features encoding (ring angle,
    cluster): edges connect adjacent angles within a cluster, so link
    status is LEARNABLE from the feature geometry (cos Δθ + cluster
    match), while the structural 2-hop features the logistic baseline
    uses (common neighbours etc.) stay uninformative — every node has
    degree 2 and every 2-hop pair has cn=1. A uniform negative inside
    the cluster now differs from a positive by its angle gap, so the
    deep model's AUC has no structural ceiling."""
    import math
    rows = []
    for i in range(2 * n_per):
        c = i // n_per
        th = 2 * math.pi * (i % n_per) / n_per
        f = [math.cos(th), math.sin(th), 1.0 - c, float(c)][:d]
        rows.append((i, f))
    nodes = spark.createDataFrame(rows, "id long, features array<double>")
    edges = [(i, (i + 1) % n_per) for i in range(n_per)]
    edges += [(n_per + i, n_per + (i + 1) % n_per) for i in range(n_per)]
    edf = (spark.createDataFrame(edges, "src long, dst long")
           .withColumn("eid", F.xxhash64("src", "dst")))
    return PropertyGraph(spark, nodes={"N": nodes}, edges={"E": edf})


def test_linkpred_sage_mlp_matches_local_numpy_twin(spark):
    """Distributed trainer == local numpy twin (same init, same split,
    same hash-drawn negatives, same Adam) to 1e-8 on loss trajectory and
    final weights. The twin collects the SPLIT and the per-epoch
    NEGATIVE draws from the same deterministic Spark machinery (they are
    pure functions of ids/epoch, not of weights), then does every model
    float locally."""
    import memgraph_spark.algos.linkpred_deep as LP
    g = _cluster_graph(spark, n_per=6)
    epochs, lr = 3, 0.05
    out = LP.linkpred_train(
        g, layer_type="graph_sage", aggregator="mean",
        predictor_type="mlp", hidden_features_size=[3, 3],
        num_epochs=epochs, learning_rate=lr, seed=0).collect()
    model = g._lp_deep_model
    losses = {(r.epoch): r.loss for r in out if r.split == "train"}

    # ---- shared deterministic machinery (id-hash split, neg draws) ----
    X, d0 = LP._node_features(g, "features")
    ids = sorted(r["id"] for r in X.select("id").collect())
    idx = {n: i for i, n in enumerate(ids)}
    feats = {r["id"]: np.array(r["h"]) for r in X.collect()}
    XM = np.stack([feats[n] for n in ids])
    und = {(r.src, r.dst) for r in
           g.adjacency(None, "both").select("src", "dst").collect()}
    nbrs: dict = {}
    for s, dd in und:
        nbrs.setdefault(s, []).append(dd)
    sup = (g.edge("E").select("src", "dst")
           .filter(F.col("src") != F.col("dst")).dropDuplicates()
           .withColumn("split",
                       F.when(F.pmod(F.xxhash64("src", "dst"), 1000)
                              < 800, "train").otherwise("val")))
    sup_rows = [(r.src, r.dst, r.split) for r in sup.collect()]
    pool, n_nodes = LP._neg_pool(X)
    neg_by_epoch = {}
    for ep in range(1, epochs + 1):
        neg_by_epoch[ep] = [
            (r.src, r.wneg, r.split) for r in
            LP._draw_negatives(sup, pool, n_nodes, ep, 1).collect()]

    # ---- local twin ---------------------------------------------------
    dims = [d0, 3, 3]
    rng = np.random.default_rng(0)
    layers = []
    for i in range(2):
        lim = np.sqrt(6.0 / (dims[i] + dims[i + 1]))
        layers.append({"Wr": rng.uniform(-lim, lim, (dims[i], dims[i + 1])),
                       "Wn": rng.uniform(-lim, lim, (dims[i], dims[i + 1])),
                       "b": np.zeros(dims[i + 1])})
    dh = dims[-1]
    lim = np.sqrt(6.0 / (3 * dh))
    W1 = rng.uniform(-lim, lim, (2 * dh, dh))
    b1 = np.zeros(dh)
    lim2 = np.sqrt(6.0 / (dh + 1))
    w2 = rng.uniform(-lim2, lim2, dh)
    b2 = np.zeros(1)
    params = {"l0_Wr": layers[0]["Wr"], "l0_Wn": layers[0]["Wn"],
              "l0_b": layers[0]["b"], "l1_Wr": layers[1]["Wr"],
              "l1_Wn": layers[1]["Wn"], "l1_b": layers[1]["b"],
              "p_W1": W1, "p_b1": b1, "p_w2": w2, "p_b2": b2}
    from memgraph_spark.algos.nn_kernels import Adam
    adam = Adam(params, lr)

    def mean_nbr(H):
        M = np.zeros_like(H)
        for n, i in idx.items():
            js = nbrs.get(n, [])
            if js:
                M[i] = H[[idx[j] for j in js]].mean(axis=0)
        return M

    twin_losses = {}
    for ep in range(1, epochs + 1):
        M0 = mean_nbr(XM)
        H1 = np.maximum(XM @ params["l0_Wr"] + M0 @ params["l0_Wn"]
                        + params["l0_b"], 0.0)
        M1 = mean_nbr(H1)
        Z = H1 @ params["l1_Wr"] + M1 @ params["l1_Wn"] + params["l1_b"]
        pairs = ([(u, v, 1, sp) for (u, v, sp) in sup_rows]
                 + [(u, w, 0, sp) for (u, w, sp) in neg_by_epoch[ep]])
        tr = [(u, v, y) for (u, v, y, sp) in pairs if sp == "train"]
        n_tr = len(tr)
        XP = np.stack([np.concatenate([Z[idx[u]], Z[idx[v]]])
                       for (u, v, _y) in tr])
        Y = np.array([y for (_u, _v, y) in tr], dtype=np.float64)
        H1p = np.maximum(XP @ params["p_W1"] + params["p_b1"], 0.0)
        S = H1p @ params["p_w2"] + params["p_b2"][0]
        P = 1.0 / (1.0 + np.exp(-np.clip(S, -50, 50)))
        pc = np.clip(P, 1e-12, 1 - 1e-12)
        twin_losses[ep] = float(
            -(Y * np.log(pc) + (1 - Y) * np.log(1 - pc)).mean())
        err = ((P - Y) / max(n_tr, 1))[:, None]
        DH1p = err * params["p_w2"] * (H1p > 0.0)
        grads = {"p_W1": XP.T @ DH1p, "p_b1": DH1p.sum(axis=0),
                 "p_w2": (err[:, 0][:, None] * H1p).sum(axis=0),
                 "p_b2": np.array([err.sum()])}
        DX = DH1p @ params["p_W1"].T
        GZ = np.zeros_like(Z)
        for r2, (u, v, _y) in enumerate(tr):
            GZ[idx[u]] += DX[r2, :dh]
            GZ[idx[v]] += DX[r2, dh:]
        grads["l1_Wr"] = H1.T @ GZ
        grads["l1_Wn"] = M1.T @ GZ
        grads["l1_b"] = GZ.sum(axis=0)
        DH1 = GZ @ params["l1_Wr"].T
        DM1 = GZ @ params["l1_Wn"].T
        for n, i in idx.items():
            js = nbrs.get(n, [])
            for j in js:
                DH1[idx[j]] += DM1[i] / len(js)
        DH1 *= (H1 > 0.0)
        grads["l0_Wr"] = XM.T @ DH1
        grads["l0_Wn"] = M0.T @ DH1
        grads["l0_b"] = DH1.sum(axis=0)
        adam.step(params, grads)
    from memgraph_spark.session import free_checkpoint
    free_checkpoint(pool)
    for ep in range(1, epochs + 1):
        # the trainer rounds reported metrics to 6 decimals; the weight
        # comparison below is the unrounded 1e-8 pin
        assert losses[ep] == pytest.approx(round(twin_losses[ep], 6),
                                           abs=1e-8), \
            f"epoch {ep}: {losses[ep]} vs twin {twin_losses[ep]}"
    assert np.allclose(np.array(model["enc_layers"][0]["Wr"]),
                       params["l0_Wr"], atol=1e-8)
    assert np.allclose(np.array(model["predictor_weights"]["p_W1"]),
                       params["p_W1"], atol=1e-8)


def test_linkpred_gat_gradients_match_finite_differences(spark):
    """graph_attn + dot predictor: the analytic gradient of the full
    distributed objective (BCE over this epoch's train pairs) matches
    central finite differences through the DISTRIBUTED forward, probing
    coordinates in every tensor kind (W, a_src, a_dst, b)."""
    import memgraph_spark.algos.linkpred_deep as LP
    g = _cluster_graph(spark, n_per=4)
    p = LP._validate({"layer_type": "graph_attn", "predictor_type": "dot",
                      "hidden_features_size": [3], "seed": 3})
    X, d0 = LP._node_features(g, "features")
    und = g.adjacency(None, "both").select("src", "dst")
    gat_adj = und.unionByName(
        X.select(F.col("id").alias("src"), F.col("id").alias("dst")))
    sup = (g.edge("E").select("src", "dst").dropDuplicates()
           .withColumn("split", F.lit("train")))
    pool, n_nodes = LP._neg_pool(X)
    dims = [d0, 3]
    rng = np.random.default_rng(3)
    lim = np.sqrt(6.0 / (dims[0] + dims[1]))
    lim_a = np.sqrt(6.0 / (dims[1] + 1))
    lay = {"W": rng.uniform(-lim, lim, (dims[0], dims[1])),
           "a_src": rng.uniform(-lim_a, lim_a, dims[1]),
           "a_dst": rng.uniform(-lim_a, lim_a, dims[1]),
           "b": np.zeros(dims[1])}
    negs = LP._draw_negatives(sup, pool, n_nodes, 1, 1)
    pos = sup.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                     F.lit(1).alias("y"), "split")
    neg = negs.select(F.col("src").alias("u"), F.col("wneg").alias("v"),
                      F.lit(0).alias("y"), "split")
    all_pairs = pos.unionByName(neg).localCheckpoint(eager=True)
    n_pairs = all_pairs.count()

    from memgraph_spark.algos.gat import (_gat_backward_layer,
                                          _gat_forward_layer)
    from memgraph_spark.session import free_checkpoint

    def forward_loss_and_state():
        st = _gat_forward_layer(X, gat_adj, lay, dims[1], relu=False)
        z = st.out
        pairs = (all_pairs
                 .join(z.select(F.col("id").alias("u"),
                                F.col("h").alias("zu")), "u")
                 .join(z.select(F.col("id").alias("v"),
                                F.col("h").alias("zv")), "v"))
        scored = LP._score_pairs(pairs, {}, "dot", dims[1])
        m = LP._metrics(scored)
        return m["train"]["loss"], st, scored

    loss0, st, scored = forward_loss_and_state()
    gz, _pg = LP._predictor_backward(scored, {}, "dot", dims[1], n_pairs)
    gz = gz.localCheckpoint(eager=True)
    dW, das, dad, db, _dh = _gat_backward_layer(
        st, gz, lay, dims[0], dims[1], need_dh=False)
    analytic = {"W": dW, "a_src": das, "a_dst": dad, "b": db}
    free_checkpoint(st.uf); free_checkpoint(st.att); free_checkpoint(st.out)
    free_checkpoint(gz)
    h = 1e-5
    rng2 = np.random.default_rng(9)
    for name, gmat in analytic.items():
        flat_w = lay[name].reshape(-1)
        flat_g = np.asarray(gmat).reshape(-1)
        for ix in rng2.choice(flat_w.size, size=min(2, flat_w.size),
                              replace=False):
            orig = flat_w[ix]
            flat_w[ix] = orig + h
            lp, st1, _ = forward_loss_and_state()
            free_checkpoint(st1.uf); free_checkpoint(st1.att)
            free_checkpoint(st1.out)
            flat_w[ix] = orig - h
            lm, st2, _ = forward_loss_and_state()
            free_checkpoint(st2.uf); free_checkpoint(st2.att)
            free_checkpoint(st2.out)
            flat_w[ix] = orig
            fd = (lp - lm) / (2 * h)
            assert flat_g[ix] == pytest.approx(fd, rel=5e-3, abs=5e-6), \
                f"{name}[{ix}]: analytic {flat_g[ix]} vs fd {fd}"
    free_checkpoint(pool)
    free_checkpoint(all_pairs)
    assert loss0 > 0.0


def test_linkpred_default_beats_logistic_baseline(spark):
    """Reference-default config (graph_attn + mlp + Adam) on the
    feature-separated ring graph: trains to high val AUC and orders an
    unseen intra-cluster pair above a cross-cluster pair. The logistic
    structural baseline is uninformative here (every node has degree 2,
    so cn/aa/jac/pa barely separate) — its pos-neg separability proxy
    stays far below the deep model's AUC."""
    import memgraph_spark.algos.linkpred_deep as LP
    from memgraph_spark.algos.gnn import link_prediction_train
    g = _cluster_graph(spark)
    out = LP.linkpred_train(
        g, hidden_features_size=[8, 8], num_epochs=15,
        learning_rate=0.05, seed=1).collect()
    tr = [r for r in out if r.split == "train"]
    va = [r for r in out if r.split == "val"]
    assert tr[-1].loss < tr[0].loss
    assert va[-1].auc > 0.85
    # round-trip: unseen intra-cluster pair beats a cross-cluster pair
    s_intra = LP.linkpred_predict_pair(g, 0, 2)
    s_cross = LP.linkpred_predict_pair(g, 0, 17)
    assert 0.0 <= s_cross <= 1.0 and 0.0 <= s_intra <= 1.0
    assert s_intra > s_cross
    base = link_prediction_train(g)
    assert va[-1].auc > float(base["auc_proxy"]) + 0.2


def test_linkpred_procedure_surface_and_gates(spark):
    """set_model_parameters/train/predict protocol (reference
    link_prediction.py): unknown params -> status false; graph_sage
    config trains through CALL; predict(src, dest) yields a probability;
    unknown aggregator names keep the gate (every reference
    aggregator_type — mean/max/pool/gcn/lstm — now trains)."""
    import memgraph_spark.algos.linkpred_deep as LP
    from memgraph_spark.plans import GraphSession
    g = _cluster_graph(spark, n_per=6)
    gs = GraphSession(g)
    r = gs.execute("CALL link_prediction.set_model_parameters("
                   "{bogus_param: 1}) YIELD status, message "
                   "RETURN status, message").collect()[0]
    assert r.status is False and "bogus_param" in r.message
    r = gs.execute("CALL link_prediction.set_model_parameters("
                   "{layer_type: 'graph_sage', aggregator: 'mean', "
                   "hidden_features_size: [4, 4], num_epochs: 3, "
                   "predictor_type: 'dot'}) "
                   "YIELD status, message RETURN status").collect()[0]
    assert r.status is True
    rows = gs.execute(
        "CALL link_prediction.train() "
        "YIELD epoch, split, loss, accuracy, auc, precision, recall, f1 "
        "RETURN epoch, split, loss, auc ORDER BY epoch, split").collect()
    assert {r2.split for r2 in rows} == {"train", "val"}
    assert max(r2.epoch for r2 in rows) == 3
    assert all(0.0 <= r2.auc <= 1.0 for r2 in rows)
    score = gs.execute("CALL link_prediction.predict(0, 2) YIELD score "
                       "RETURN score").collect()[0].score
    assert 0.0 <= score <= 1.0
    with pytest.raises(NotImplementedError, match="mean"):
        LP.linkpred_train(g, layer_type="graph_sage", aggregator="attn")


def test_linkpred_lstm_aggregator_trains(spark):
    """aggregator='lstm' end-to-end: the encoder math is pinned by
    test_sage.py's finite-difference + numpy-twin tests (linkpred
    reuses the same encoder_forward/encoder_backward); here the full
    train -> predict protocol must run with finite decreasing loss and
    a calibrated pair score."""
    import memgraph_spark.algos.linkpred_deep as LP
    g = _cluster_graph(spark, n_per=6)
    out = LP.linkpred_train(
        g, layer_type="graph_sage", aggregator="lstm",
        predictor_type="dot", hidden_features_size=[4],
        num_epochs=4, learning_rate=0.1, seed=0).collect()
    tr = [r.loss for r in out if r.split == "train"]
    assert len(tr) == 4 and all(np.isfinite(tr))
    assert tr[-1] < tr[0]
    assert g._lp_deep_model["aggregator"] == "lstm"
    assert "Wih" in g._lp_deep_model["enc_layers"][0]
    s = LP.linkpred_predict_pair(g, 0, 2)
    assert 0.0 <= s <= 1.0


def test_linkpred_recommend_results_save_load(spark, tmp_path):
    """recommend / get_training_results / load_model / reset_parameters
    protocol (reference link_prediction.py:414,573,594,613): checkpoint
    written when context_save_dir is set, restored by load_model after a
    reset; recommend ranks the intra-cluster destination first."""
    import memgraph_spark.algos.linkpred_deep as LP
    import memgraph_spark.procedures as P
    g = _cluster_graph(spark)
    out = LP.linkpred_train(
        g, layer_type="graph_sage", aggregator="mean",
        predictor_type="dot", hidden_features_size=[6], num_epochs=10,
        learning_rate=0.05, seed=1, context_save_dir=str(tmp_path))
    n_rows = out.count()
    got = P.PROCEDURES["link_prediction.get_training_results"](g)
    assert got.count() == n_rows
    recs = P.PROCEDURES["link_prediction.recommend"](
        g, 0, [2, 17, 19], 2).collect()
    assert len(recs) == 2
    assert recs[0].score >= recs[1].score
    assert recs[0].recommendation == 2        # intra-cluster beats cross
    assert (tmp_path / "linkpred_model.json").exists()
    s_before = LP.linkpred_predict_pair(g, 0, 2)
    r = P.PROCEDURES["link_prediction.reset_parameters"](g).collect()[0]
    assert r.status is True
    with pytest.raises(ValueError, match="train"):
        P.PROCEDURES["link_prediction.get_training_results"](g)
    with pytest.raises(ValueError, match="train"):
        LP.linkpred_predict_pair(g, 0, 2)
    P.PROCEDURES["link_prediction.load_model"](g, str(tmp_path))
    assert LP.linkpred_predict_pair(g, 0, 2) == pytest.approx(s_before,
                                                              abs=1e-9)
