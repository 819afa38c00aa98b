"""Deep TGN numpy core (algos/tgn_deep.py): gradient correctness via
finite differences over every weight tensor, across the reference's e2e
config matrix (graph_sum/graph_attn x identity/mlp x mean/last x
gru/rnn x self_supervised/supervised — tests/mage/e2e/tgn_test/*), plus
training-dynamics smoke (loss decreases) on a toy temporal stream."""

from __future__ import annotations

import numpy as np
import pytest

from memgraph_spark.algos.tgn_deep import TGNDeep, _feat

pytestmark = pytest.mark.slow  # multi-epoch training; skipped by default (conftest)



def _toy_stream(n_edges=12, n_nodes=8, seed=3):
    rng = np.random.default_rng(seed)
    edges = []
    for i in range(n_edges):
        s, d = rng.choice(n_nodes, 2, replace=False)
        edges.append((int(s), int(d), float(i + 1), i))
    return edges


def _state_for(core, edges):
    """Driver-side stand-ins for the frames the Spark layer maintains:
    memory dict, per-node interaction history, pending messages from a
    'previous batch'."""
    memory, neighbors = {}, {}
    rng = np.random.default_rng(11)
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges} | {0})
    for n in nodes:
        memory[n] = (rng.normal(0, 0.3, core.M), 0.0)
        neighbors[n] = []
    for (s, d, t, e) in edges:
        neighbors[s].append((d, e, t))
        neighbors[d].append((s, e, t))
    pending = []
    for (s, d, t, e) in edges[:4]:
        ef = _feat("edge", e, core.EF, core.seed)
        pending.append((s, np.concatenate(
            [memory[s][0], memory[d][0], [t], ef]), t))
        pending.append((d, np.concatenate(
            [memory[d][0], memory[s][0], [t], ef]), t))
    labels = {n: float(n % 2) for n in nodes}
    return memory, neighbors, pending, labels


CONFIGS = [
    dict(layer_type="graph_sum", memory_updater_type="gru",
         message_aggregator_type="last",
         edge_message_function_type="identity",
         learning_type="self_supervised"),
    dict(layer_type="graph_attn", memory_updater_type="gru",
         message_aggregator_type="last",
         edge_message_function_type="identity",
         learning_type="self_supervised"),
    dict(layer_type="graph_sum", memory_updater_type="rnn",
         message_aggregator_type="mean",
         edge_message_function_type="mlp",
         learning_type="self_supervised"),
    dict(layer_type="graph_attn", memory_updater_type="rnn",
         message_aggregator_type="mean",
         edge_message_function_type="identity",
         learning_type="supervised"),
    dict(layer_type="graph_sum", memory_updater_type="gru",
         message_aggregator_type="mean",
         edge_message_function_type="mlp",
         learning_type="supervised"),
]


@pytest.mark.parametrize("cfg", CONFIGS, ids=lambda c: "-".join(
    [c["layer_type"], c["memory_updater_type"],
     c["message_aggregator_type"], c["edge_message_function_type"],
     c["learning_type"]]))
def test_gradients_match_finite_differences(cfg):
    core = TGNDeep({**cfg, "memory_dimension": 5, "time_dimension": 3,
                    "num_node_features": 2, "num_edge_features": 2,
                    "num_of_layers": 2, "num_neighbors": 3,
                    "message_dimension": 6, "seed": 7})
    edges = _toy_stream()
    memory, neighbors, pending, labels = _state_for(core, edges)
    batch = edges[4:9]
    compiled = core.compile_batch(batch, memory, neighbors, pending,
                                  labels=labels)
    _loss, _p, _m, _e, grads = core.run_compiled(
        compiled, train=True, update_weights=False)
    h = 1e-6
    rng = np.random.default_rng(5)
    checked = 0
    for name, g in grads.items():
        flat = g.reshape(-1)
        # probe up to 4 random coordinates per tensor
        idxs = rng.choice(flat.size, size=min(4, flat.size),
                          replace=False)
        for ix in idxs:
            w = core.W[name].reshape(-1)
            orig = w[ix]
            w[ix] = orig + h
            lp = core.loss_only(compiled)
            w[ix] = orig - h
            lm = core.loss_only(compiled)
            w[ix] = orig
            fd = (lp - lm) / (2 * h)
            an = flat[ix]
            assert an == pytest.approx(fd, rel=5e-3, abs=5e-6), (
                f"{name}[{ix}]: analytic {an} vs fd {fd}")
            checked += 1
    assert checked >= 20


def test_self_supervised_loss_decreases():
    core = TGNDeep(dict(
        layer_type="graph_sum", memory_updater_type="gru",
        message_aggregator_type="last",
        edge_message_function_type="identity",
        learning_type="self_supervised", memory_dimension=6,
        time_dimension=4, num_node_features=2, num_edge_features=2,
        num_of_layers=1, num_neighbors=3, learning_rate=0.01, seed=2))
    edges = _toy_stream(n_edges=20)
    memory, neighbors, pending, _labels = _state_for(core, edges)
    batch = edges[8:16]
    losses = []
    for _ in range(30):
        compiled = core.compile_batch(batch, memory, neighbors, pending)
        loss, prec, new_mem, emb, _g = core.run_compiled(compiled,
                                                         train=True)
        losses.append(loss)
        assert 0.0 <= prec <= 1.0
    assert losses[-1] < losses[0]
    assert np.isfinite(losses).all()


def test_memory_updates_and_messages_round_trip():
    core = TGNDeep(dict(
        layer_type="graph_attn", memory_updater_type="gru",
        message_aggregator_type="mean",
        edge_message_function_type="identity",
        learning_type="self_supervised", memory_dimension=4,
        time_dimension=2, num_node_features=2, num_edge_features=2,
        num_of_layers=1, num_neighbors=2, seed=9))
    edges = _toy_stream(n_edges=10)
    memory, neighbors, pending, _labels = _state_for(core, edges)
    batch = edges[5:8]
    compiled = core.compile_batch(batch, memory, neighbors, pending)
    _l, _p, new_mem, emb, _g = core.run_compiled(compiled, train=True)
    # every node with a pending message got a memory update
    assert set(new_mem) == {n for n, _r, _t in pending}
    for v in new_mem.values():
        assert v.shape == (core.M,) and np.isfinite(v).all()
    # embeddings land for every batch endpoint, dim = memory+node feats
    assert set(emb) == ({e[0] for e in batch} | {e[1] for e in batch})
    for v in emb.values():
        assert v.shape == (core.emb,)
    msgs = core.make_raw_messages(compiled, new_mem)
    assert len(msgs) == 2 * len(batch)
    for (_n, raw, _t) in msgs:
        assert raw.shape == (core.raw_dim,)


def test_unsupported_configs_raise():
    with pytest.raises(ValueError, match="layer_type"):
        TGNDeep({"layer_type": "nope"})
    with pytest.raises(ValueError, match="memory_updater_type"):
        TGNDeep({"memory_updater_type": "ema"})
    with pytest.raises(ValueError, match="message_aggregator_type"):
        TGNDeep({"message_aggregator_type": "sum"})


# --------------------------------------------------------------------
# Spark integration (algos/tgn_baseline.py deep dispatch): distributed
# state frames + the reference's procedure protocol
# --------------------------------------------------------------------

def _graph(spark, n=16):
    from pyspark.sql import functions as F
    from memgraph_spark.catalog import PropertyGraph
    nodes = spark.range(n).select(
        F.col("id"), (F.col("id") % 2).cast("double").alias("label"))
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    return PropertyGraph(spark, nodes={"V": nodes}, edges={"E": edges})


def _stream(reps=4):
    edges, t = [], 0.0
    for _ in range(reps):
        for a, b in [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]:
            edges.append((a, b, t)); t += 1.0
        for a, b in [(8, 9), (9, 10), (10, 11), (11, 8), (8, 10)]:
            edges.append((a, b, t)); t += 1.0
    return edges


def test_deep_update_trains_and_embeds(spark):
    """Reference e2e shape (graph_attn/identity/last/gru,
    self_supervised — test_online_self_supervised_small_batch_...):
    streamed updates train full batches, embeddings land with
    dim = memory+node_features, link scores are probabilities."""
    import memgraph_spark.algos.tgn_baseline as TB
    g = _graph(spark)
    TB.tgn_set_params(g, {
        "batch_size": 10, "num_of_layers": 2, "layer_type": "graph_attn",
        "memory_dimension": 8, "time_dimension": 4,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 3, "edge_message_function_type": "identity",
        "message_aggregator_type": "last", "memory_updater_type": "gru",
        "num_attention_heads": 1, "learning_type": "self_supervised",
        "learning_rate": 0.01})
    TB.tgn_update(g, _stream())
    st = g._tgn_state
    assert st["deep"] is not None and st["batch"] == 4
    res = TB.tgn_get_results(g).collect()
    assert len(res) == 4
    assert all(0.0 <= r.precision <= 1.0 for r in res)
    emb = {r.node: r.embedding for r in TB.tgn_get(g).collect()}
    assert set(emb) == {0, 1, 2, 3, 8, 9, 10, 11}
    assert all(len(v) == 8 + 2 for v in emb.values())
    p = TB.tgn_predict_link_score(g, 0, 2).collect()[0].prediction
    assert 0.0 <= p <= 1.0
    TB.tgn_reset(g)


def test_deep_train_and_eval_replays_epochs(spark):
    """train_and_eval parity (tgn.py:863 / train_eval_epochs): per
    epoch the memory/messages reset but weights persist; record shape
    matches the reference; training loss trends down across epochs."""
    import memgraph_spark.algos.tgn_baseline as TB
    g = _graph(spark)
    TB.tgn_set_params(g, {
        "batch_size": 10, "num_of_layers": 1, "layer_type": "graph_sum",
        "memory_dimension": 6, "time_dimension": 4,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 3, "edge_message_function_type": "identity",
        "message_aggregator_type": "mean", "memory_updater_type": "rnn",
        "learning_type": "self_supervised", "learning_rate": 0.02})
    edges = _stream(4)
    TB.tgn_update(g, edges[:30])
    TB.tgn_set_eval(g)
    TB.tgn_update(g, edges[30:])
    rows = TB.tgn_train_and_eval(g, 2).collect()
    kinds = {(r.epoch_num, r.batch_type) for r in rows}
    assert (1, "train") in kinds and (2, "train") in kinds
    assert (1, "eval") in kinds and (2, "eval") in kinds
    assert all(0.0 <= r.precision <= 1.0 for r in rows)
    # weights persisted across epochs: the trainer saw every batch
    assert g._tgn_state["deep"].adam.t > 0
    TB.tgn_reset(g)


def test_deep_supervised_labels_from_node_property(spark):
    import memgraph_spark.algos.tgn_baseline as TB
    g = _graph(spark)
    TB.tgn_set_params(g, {
        "batch_size": 10, "num_of_layers": 1, "layer_type": "graph_sum",
        "memory_dimension": 6, "time_dimension": 4,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 3, "edge_message_function_type": "identity",
        "message_aggregator_type": "last", "memory_updater_type": "gru",
        "learning_type": "supervised", "learning_rate": 0.02})
    TB.tgn_update(g, _stream(2))
    res = TB.tgn_get_results(g).collect()
    assert len(res) == 2
    assert all(0.0 <= r.precision <= 1.0 for r in res)
    with pytest.raises(ValueError, match="self_supervised"):
        TB.tgn_predict_link_score(g, 0, 2)
    TB.tgn_reset(g)


def test_deep_procedure_surface(spark):
    """CALL tgn.set_params / update / get through the Cypher frontend
    with a reference e2e config."""
    from memgraph_spark.plans import GraphSession
    g = _graph(spark)
    gs = GraphSession(g)
    gs.execute(
        "CALL tgn.set_params({batch_size: 10, num_of_layers: 1, "
        "layer_type: 'graph_sum', memory_dimension: 6, "
        "time_dimension: 4, num_node_features: 2, "
        "num_edge_features: 2, num_neighbors: 3, "
        "edge_message_function_type: 'identity', "
        "message_aggregator_type: 'last', "
        "memory_updater_type: 'gru'}) YIELD message RETURN message"
    ).collect()
    import memgraph_spark.algos.tgn_baseline as TB
    TB.tgn_update(g, _stream(2))
    rows = gs.execute(
        "CALL tgn.get() YIELD node, embedding "
        "RETURN node, size(embedding) AS d ORDER BY node").collect()
    assert [r.node for r in rows] == [0, 1, 2, 3, 8, 9, 10, 11]
    assert all(r.d == 6 + 2 for r in rows)
    TB.tgn_reset(g)


def test_reference_unimplemented_stubs_registered(spark):
    """revert_from_database / save_tgn_params raise NotImplementedError
    in the REFERENCE itself (tgn.py:956,965) — registered here with the
    same behavior for exact surface parity."""
    from memgraph_spark import procedures as P
    g = _graph(spark)
    for name in ("tgn.revert_from_database", "tgn.save_tgn_params"):
        assert name in P.PROCEDURES
        with pytest.raises(NotImplementedError, match="reference"):
            P.PROCEDURES[name](g)


def test_deep_memory_fetch_covers_full_computation_graph(spark,
                                                         monkeypatch):
    """Round-6 review finding: the memory fetch omitted the final
    sampled frontier, so deepest-hop neighbors entered the embedding
    layers with zero memory. Contract: every node in the compiled
    computation graphs' base layer must be covered by the batch's
    memory fetch."""
    import memgraph_spark.algos.tgn_baseline as TB
    g = _graph(spark)
    TB.tgn_set_params(g, {
        "batch_size": 10, "num_of_layers": 2, "layer_type": "graph_sum",
        "memory_dimension": 4, "time_dimension": 2,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 3, "edge_message_function_type": "identity",
        "message_aggregator_type": "last", "memory_updater_type": "gru",
        "learning_type": "self_supervised"})
    fetched = []
    orig_fs = TB._fetch_state

    def fs(gr, ids, want_labels=False):
        fetched.append(set(ids))
        return orig_fs(gr, ids, want_labels=want_labels)

    monkeypatch.setattr(TB, "_fetch_state", fs)
    core = g._tgn_state["deep"]
    compiled_caps = []
    orig_cb = core.compile_batch

    def cap(*a, **k):
        c = orig_cb(*a, **k)
        compiled_caps.append(c)
        return c

    monkeypatch.setattr(core, "compile_batch", cap)
    TB.tgn_update(g, _stream(3))        # 30 edges -> 3 batches
    assert len(compiled_caps) == 3 and len(fetched) == 3
    deep_layers_seen = 0
    for c, ids in zip(compiled_caps, fetched):
        for gr in c["graphs"].values():
            base = {v for (v, _t) in gr["layers"][0]}
            assert base <= ids, f"unfetched memory for {base - ids}"
            if len(gr["layers"][0]) > len(gr["layers"][-1]):
                deep_layers_seen += 1
    assert deep_layers_seen > 0     # later batches really sampled hops
    TB.tgn_reset(g)


def test_deep_supervised_missing_label_column_raises(spark):
    """A missing label COLUMN is a configuration error, not all-zero
    labels (round-6 review finding: silent {} inflated precision)."""
    import memgraph_spark.algos.tgn_baseline as TB
    from memgraph_spark.catalog import PropertyGraph
    nodes = spark.range(8).select("id")          # no 'label' column
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    g = PropertyGraph(spark, nodes={"V": nodes}, edges={"E": edges})
    TB.tgn_set_params(g, {
        "batch_size": 4, "num_of_layers": 1, "layer_type": "graph_sum",
        "memory_dimension": 4, "time_dimension": 2,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 2, "memory_updater_type": "gru",
        "learning_type": "supervised"})
    with pytest.raises(ValueError, match="label"):
        TB.tgn_update(g, [(0, 1, 1.0), (1, 2, 2.0),
                          (2, 3, 3.0), (3, 4, 4.0)])
    TB.tgn_reset(g)


def test_deep_batch_job_count(spark, monkeypatch):
    """Pins the per-batch driver-job budget (VERDICT r6 item 6): the
    memory+labels fold means ONE _fetch_state collect per batch, at most
    L history-fetch rounds (skipped when the frontier is all known), and
    a loose statusTracker ceiling on total Spark jobs per batch so a
    per-edge-job regression can't land silently."""
    import memgraph_spark.algos.tgn_baseline as TB
    g = _graph(spark)
    TB.tgn_set_params(g, {
        "batch_size": 10, "num_of_layers": 2, "layer_type": "graph_sum",
        "memory_dimension": 4, "time_dimension": 2,
        "num_node_features": 2, "num_edge_features": 2,
        "num_neighbors": 3, "edge_message_function_type": "identity",
        "message_aggregator_type": "last", "memory_updater_type": "gru",
        "learning_type": "self_supervised"})
    calls = {"state": 0, "hist": 0}
    orig_fs, orig_fn = TB._fetch_state, TB._fetch_neighbors

    def fs(gr, ids, want_labels=False):
        calls["state"] += 1
        return orig_fs(gr, ids, want_labels=want_labels)

    def fn(gr, ids, max_seq=None):
        calls["hist"] += 1
        return orig_fn(gr, ids, max_seq=max_seq)

    monkeypatch.setattr(TB, "_fetch_state", fs)
    monkeypatch.setattr(TB, "_fetch_neighbors", fn)
    TB.tgn_update(g, _stream(2))          # 20 edges -> 2 batches
    st = g._tgn_state
    L = st["deep"].L
    assert calls["state"] == 2            # exactly one state fetch/batch
    assert calls["hist"] <= 2 * L         # at most L history rounds/batch
    # statusTracker ceiling on one directly-driven batch (AQE can split
    # an action into several jobs, so the bound is per-action x cushion)
    sc = spark.sparkContext
    rows4 = [(s, d, float(100 + i), st["edge_count"] + i)
             for i, (s, d) in enumerate([(0, 3), (1, 2), (8, 11), (9, 10),
                                         (0, 2), (3, 1), (10, 8), (11, 9),
                                         (2, 0), (1, 3)])]
    sc.setJobGroup("tgn-batch-probe", "job-count probe")
    try:
        TB._process_batch_deep(g, rows4, train=True)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("tgn-batch-probe")
    actions = L + 3                       # L fetches + state + 2 writebacks
    assert 0 < len(jobs) <= 4 * actions, len(jobs)
    TB.tgn_reset(g)
