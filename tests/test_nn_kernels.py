"""The shared GNN training kernels (algos/nn_kernels.py), each against
numpy on frames of at most 10 nodes, plus a one-epoch run of every deep
node-classification layer type on a 10-node graph. The multi-epoch
numpy twins of each encoder stay in the slow tier (test_gat.py,
test_gatv2.py, test_gatjk.py, test_sage.py, test_linkpred_deep.py)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from memgraph_spark.algos import nn_kernels as K
from memgraph_spark.catalog import PropertyGraph


def _vec_frame(spark, M):
    return spark.createDataFrame([(i, [float(x) for x in row])
                                  for i, row in enumerate(M)],
                                 "id long, v array<double>")


def test_np_rows():
    M = K.np_rows(pd.Series([[1.0, 2.0], [3.0, 4.5]]))
    assert M.dtype == np.float64 and M.tolist() == [[1.0, 2.0], [3.0, 4.5]]


def test_scatter_sum_matches_numpy(spark):
    rng = np.random.default_rng(3)
    V = rng.normal(size=(6, 3))
    edges = [(0, 1, 0.5), (2, 1, -1.0), (3, 1, 2.0), (1, 0, 1.5),
             (4, 5, 0.25), (4, 5, 0.75), (5, 5, 1.0)]
    ef = spark.createDataFrame(edges, "src long, dst long, w double")
    want = np.zeros_like(V)
    for s, d, w in edges:
        want[d] += w * V[s]
    got = {r["id"]: r["v"] for r in
           K.scatter_sum(ef, _vec_frame(spark, V), weight="w").collect()}
    assert sorted(got) == [0, 1, 5]          # only nodes with in-edges
    for i, v in got.items():
        assert np.allclose(v, want[i], atol=1e-12)
    # unweighted, reversed direction, vectors carried on the edge rows
    rows = ef.join(_vec_frame(spark, V).withColumnRenamed("id", "src"),
                   "src").select("src", "dst", "v")
    got = {r["id"]: r["v"] for r in
           K.scatter_sum(rows, to_col="src").collect()}
    want = {}
    for s, _d, _w in edges:
        want[s] = want.get(s, 0.0) + V[s]
    assert sorted(got) == sorted(want)
    for i, v in got.items():
        assert np.allclose(v, want[i], atol=1e-12)


def test_edge_softmax_matches_numpy(spark):
    rows = [(0, 1, 0.3, 7), (2, 1, -1.2, 8), (3, 1, 800.0, 9),
            (1, 0, 2.0, 1), (4, 2, -0.5, 2), (5, 2, -0.5, 3)]
    e = spark.createDataFrame(rows, "src long, dst long, e double, tag int")
    out = {(r["src"], r["dst"]): r for r in K.edge_softmax(e).collect()}
    assert set(K.edge_softmax(e).columns) == {"src", "dst", "tag", "alpha"}
    for dst in (0, 1, 2):
        grp = [r for r in rows if r[1] == dst]
        s = np.array([r[2] for r in grp])
        p = np.exp(s - s.max()) / np.exp(s - s.max()).sum()
        for r, want in zip(grp, p):
            got = out[(r[0], r[1])]
            assert got["alpha"] == pytest.approx(want, abs=1e-12)
            assert got["tag"] == r[3]


def test_tree_sum_matches_numpy(spark):
    rng = np.random.default_rng(5)
    H, G = rng.normal(size=(9, 3)), rng.normal(size=(9, 2))
    df = spark.createDataFrame(
        [(i, H[i].tolist(), G[i].tolist()) for i in range(9)],
        "id long, h array<double>, g array<double>").repartition(4)
    zero = (np.zeros((3, 2)), np.zeros(2))
    dW, db = K.tree_sum(df, ["h", "g"],
                        lambda r: (np.outer(r["h"], r["g"]), r["g"]), zero)
    assert np.allclose(dW, H.T @ G, atol=1e-12)
    assert np.allclose(db, G.sum(axis=0), atol=1e-12)
    dW0, db0 = K.tree_sum(df.filter("id < 0"), ["h", "g"],
                          lambda r: (np.outer(r["h"], r["g"]), r["g"]), zero)
    assert not dW0.any() and not db0.any()


def test_bias_relu(spark):
    M = np.array([[1.0, -2.0], [-0.5, 0.25]])
    b = np.array([0.5, 1.0])
    for relu in (False, True):
        got = {r["id"]: r["h"] for r in
               K.bias_relu(_vec_frame(spark, M), b, relu).collect()}
        want = np.maximum(M + b, 0.0) if relu else M + b
        for i in range(2):
            assert np.allclose(got[i], want[i])


def _xent_rows(spark, rows):
    df = spark.createDataFrame(
        rows, "id long, h array<double>, yi int, train boolean")
    return {r["id"]: r for r in K.softmax_xent_grad(df, 2).collect()}


def test_softmax_xent_grad_matches_numpy_and_finite_differences(spark):
    rng = np.random.default_rng(11)
    Z = rng.normal(size=(4, 3)) * 2.0
    y = [0, 2, 1, 2]
    train = [True, True, False, False]
    n_train, h = 2, 1e-5
    rows = [(i, Z[i].tolist(), y[i], train[i]) for i in range(4)]
    # every +-h perturbation of every logit rides the same frame: a node's
    # loss depends on its own logits only
    key = {}
    for i in range(4):
        for c in range(3):
            for sgn in (1, -1):
                zp = Z[i].copy()
                zp[c] += sgn * h
                key[(i, c, sgn)] = 100 + len(key)
                rows.append((key[(i, c, sgn)], zp.tolist(), y[i], train[i]))
    out = _xent_rows(spark, rows)
    P = np.exp(Z) / np.exp(Z).sum(axis=1, keepdims=True)
    for i in range(4):
        r = out[i]
        assert r["loss"] == pytest.approx(-math.log(P[i, y[i]]), abs=1e-12)
        assert r["hit"] == float(P[i].argmax() == y[i])
        assert r["is_train"] == train[i]
        want = (P[i] - np.eye(3)[y[i]]) / n_train if train[i] else 0 * P[i]
        assert np.allclose(r["g"], want, atol=1e-12)
        for c in range(3):
            # L = sum over train nodes of loss_i / n_train
            fd = ((out[key[(i, c, 1)]]["loss"] - out[key[(i, c, -1)]]["loss"])
                  / (2 * h) / n_train) if train[i] else 0.0
            assert r["g"][c] == pytest.approx(fd, abs=1e-7)


def test_adam_matches_two_hand_computed_steps():
    w0 = np.array([1.0, -2.0])
    g1, g2 = np.array([0.5, 0.5]), np.array([-1.0, 0.25])
    lr, wd, b1, b2, eps = 0.1, 0.01, 0.9, 0.999, 1e-8
    params = {"w": w0.copy()}
    opt = K.Adam(params, lr, weight_decay=wd)
    opt.step(params, {"w": g1})
    e1 = g1 + wd * w0
    m1, v1 = (1 - b1) * e1, (1 - b2) * e1 * e1
    w1 = w0 - lr * (m1 / (1 - b1)) / (np.sqrt(v1 / (1 - b2)) + eps)
    assert np.allclose(params["w"], w1, rtol=0, atol=1e-15)
    # Adam's first step moves each weight by lr against its gradient sign
    assert np.allclose(w0 - w1, lr * np.sign(e1), atol=1e-6)
    opt.step(params, {"w": g2})
    e2 = g2 + wd * w1
    m2, v2 = b1 * m1 + (1 - b1) * e2, b2 * v1 + (1 - b2) * e2 * e2
    w2 = w1 - lr * (m2 / (1 - b1 ** 2)) / (np.sqrt(v2 / (1 - b2 ** 2)) + eps)
    assert np.allclose(params["w"], w2, rtol=0, atol=1e-15)
    assert opt.t == 2


def _tiny_graph(spark, labels=True, features=True):
    """Two 5-node rings joined by one edge; feature 0 marks ring 0."""
    rows = []
    for i in range(10):
        c = i // 5
        rows.append((i, [1.0 - c, float(c) + 0.1 * (i % 5)] if features
                     else None, c if labels else None))
    nodes = spark.createDataFrame(
        rows, "id long, features array<double>, class long")
    edges = [(i, (i + 1) % 5) for i in range(5)]
    edges += [(5 + i, 5 + (i + 1) % 5) for i in range(5)] + [(0, 5)]
    edf = (spark.createDataFrame(edges, "src long, dst long")
           .withColumn("eid", F.xxhash64("src", "dst")))
    return PropertyGraph(spark, nodes={"N": nodes}, edges={"E": edf})


def test_train_input_errors(spark):
    # the deep and the baseline trainer raise through the same loaders
    with pytest.raises(ValueError, match="non-empty 'features'"):
        K.train_node_classifier(_tiny_graph(spark, features=False), None)
    with pytest.raises(ValueError, match="carries the 'class'"):
        K.train_node_classifier(_tiny_graph(spark, labels=False), None)


@pytest.mark.parametrize("layer_type", ["SAGE", "GAT", "GATV2", "GATJK"])
def test_deep_layer_trains_one_epoch_and_predicts(spark, layer_type):
    from memgraph_spark.algos.gnn import (node_classification_predict,
                                          node_classification_train)
    g = _tiny_graph(spark)
    out = node_classification_train(g, deep=True, layer_type=layer_type,
                                    num_epochs=1, hidden_sizes=[2])
    assert out.schema.simpleString() == (
        "struct<epoch:int,loss:double,val_loss:double,"
        "train_log:array<double>,val_log:array<double>>")
    (row,) = out.collect()
    assert row.epoch == 1 and math.isfinite(row.loss) and row.loss > 0.0
    assert 0.0 <= row.train_log[0] <= 1.0
    p = node_classification_predict(g, 3).collect()[0]
    assert p.status == "Prediction complete."
    assert p.predicted_class in (0, 1)
