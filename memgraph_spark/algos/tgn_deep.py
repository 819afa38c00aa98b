"""Deep TGN (temporal graph network) without torch.

Parity target: the reference's real TGN implementation —
`src/mage/python/mage/tgn/definitions/{tgn,layers,memory_updater,
message_function,message_aggregator,time_encoding}.py` and the batch
flow in `src/mage/python/tgn.py` (process_batch_self_supervised /
process_batch_supervised / train_eval_epochs). The reference gates all
of it behind `import torch`; this module trains the SAME algebra with
numpy, so every reference e2e config (graph_sum/graph_attn ×
identity/mlp × mean/last × gru/rnn × self_supervised/supervised,
`tests/mage/e2e/tgn_test/*`) runs in torch-less environments.

Per-batch computation (mirroring instances.py TGNEdgesSelfSupervised
.forward):
  1. process previous batch's raw messages: message function
     (identity concat / 2-layer MLP) -> per-node aggregation
     (mean / last) -> GRU or RNN cell memory update. Gradients flow
     from the loss through the updated memory into the cell and
     message-function weights (the stored memory snapshots inside raw
     messages are detached, exactly like RawMessage.detach_memory).
  2. build the temporal computation graph for [sources ++ dests] (and
     the negative pairs in self-supervised mode): per (node, t), sample
     up to num_neighbors interactions with strictly earlier timestamps
     (tgn.py _form_computation_graph; zero-padded like
     temporal_neighborhood.py get_neighborhood).
  3. features = memory ++ node_features; run num_of_layers of
     GraphSumEmbedding (linear1+relu over summed neighbor||edge||time
     rows, linear2 over self||aggregate — layers.py:97-148) or
     GraphAttentionEmbedding (batch_first multi-head attention with
     kdim = num_neighbors*key_dim over the N batch positions plus the
     MLP head — layers.py:207-301, faithfully including the cross-node
     attention that shape implies).
  4. self-supervised: MLP([2*emb, emb, 1]) link scorer on
     src_emb||dst_emb for positive and sampled-negative pairs, BCE on
     sigmoid scores (tgn.py:459-563); supervised: MLP([emb, 64, 1])
     per-node label scorer (tgn.py:563-641). precision = np.rint match
     fraction, the reference's metric.
  5. Adam step over every weight (torch.optim.Adam parity: bias
     correction, eps inside the sqrt denominator, L2 weight_decay added
     to the gradient).

Distribution model: the reference runs the whole TGN on the driver in
Python dicts (memory_container, message_container, neighborhood — all
`Dict[int, ...]`). Here the unbounded state lives in DataFrames owned
by algos/tgn_baseline.py — the edge-stream history frame (temporal
neighborhood queries are joins against it; the neighbor sampler is a
PURE function of (seed, batch, node, t) so the Spark layer pre-expands
exactly the sampled frontier — ~4*batch_size*(1 + nn + ... + nn^(L-1))
node histories per batch, each capped at max_neighborhood rows) and the
memory frame (fetch/write-back per batch). The driver holds weights,
Adam moments, and one batch's worth of messages/samples — bounded
regardless of stream length.

Documented deviations (semantics-affecting reference quirks we do NOT
reproduce, each cited):
- raw_message_store.py:28 `update_messages` only ever EXTENDS and the
  store is cleared per-epoch, so every batch reprocesses every message
  since epoch start (O(stream) per batch). We process each raw message
  once and clear it (the TGN paper's semantics, and the only
  scale-sound choice).
- memory.py:14-44: `last_node_update` is never written, so the
  reference's raw-message delta_time degenerates to the raw event
  timestamp. We maintain last-update properly (delta = t - last_ts).
- tgn.py:399-403 `sample_negative` builds BOTH negative pools from
  `src` (the `all_dest` comprehension reuses src); we sample sources
  from the seen-source pool and destinations from the seen-destination
  pool.
- tgn.py:642-654 samples features uniform(0,1) anew for featureless
  nodes/edges (non-deterministic); we derive them deterministically
  from the node/edge id so replays converge.
- neighbor sampling uses a seeded RNG (the reference's np.random is
  unseeded).
"""

from __future__ import annotations

import math

import numpy as np

from memgraph_spark.algos.nn_kernels import Adam

SUPPORTED_LAYERS = ("graph_sum", "graph_attn")
SUPPORTED_UPDATERS = ("gru", "rnn")
SUPPORTED_AGGREGATORS = ("mean", "last")
SUPPORTED_MESSAGE_FNS = ("identity", "mlp")
SUPPORTED_LEARNING = ("self_supervised", "supervised")


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60.0, 60.0)))


def _mix(*parts) -> int:
    """Process-stable integer hash (python's str hash is salted per
    process, so it can NOT back a 'deterministic across runs' claim)."""
    import zlib
    h = 2166136261
    for p in parts:
        h = zlib.crc32(repr(p).encode(), h)
    return h & 0x7FFFFFFF


def _feat(kind: str, idx: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic stand-in feature for a featureless node/edge:
    uniform(0,1) like the reference's create_torch_tensor (tgn.py:642),
    but derived from the id so replay epochs (and re-runs) see the same
    features."""
    if dim <= 0:
        return np.zeros(0)
    rng = np.random.default_rng(_mix(kind, int(idx), int(seed)))
    return rng.uniform(0.0, 1.0, dim)


def _xavier_normal(rng, shape):
    std = math.sqrt(2.0 / (shape[0] + shape[1]))
    return rng.normal(0.0, std, shape)


def _xavier_uniform(rng, shape):
    a = math.sqrt(6.0 / (shape[0] + shape[1]))
    return rng.uniform(-a, a, shape)


def _cell_uniform(rng, shape, hidden):
    a = 1.0 / math.sqrt(hidden)
    return rng.uniform(-a, a, shape)


class TGNDeep:
    """Driver-side weight/optimizer state + per-batch numpy compute.

    All persistent per-NODE state (memory, last update, embeddings,
    stream history) is handed in and out of each batch as plain dicts /
    arrays by the caller (algos/tgn_baseline.py), which keeps it in
    DataFrames between batches."""

    def __init__(self, params: dict):
        p = params
        self.layer_type = str(p.get("layer_type", "graph_attn"))
        self.updater = str(p.get("memory_updater_type", "gru"))
        self.aggregator = str(p.get("message_aggregator_type", "last"))
        self.message_fn = str(p.get("edge_message_function_type",
                                    "identity"))
        self.learning = str(p.get("learning_type", "self_supervised"))
        for val, ok, name in (
                (self.layer_type, SUPPORTED_LAYERS, "layer_type"),
                (self.updater, SUPPORTED_UPDATERS, "memory_updater_type"),
                (self.aggregator, SUPPORTED_AGGREGATORS,
                 "message_aggregator_type"),
                (self.message_fn, SUPPORTED_MESSAGE_FNS,
                 "edge_message_function_type"),
                (self.learning, SUPPORTED_LEARNING, "learning_type")):
            if val not in ok:
                raise ValueError(f"tgn: unsupported {name} {val!r} "
                                 f"(supported: {', '.join(ok)})")
        self.M = int(p.get("memory_dimension", 16))
        self.TD = int(p.get("time_dimension", 8))
        self.NF = int(p.get("num_node_features", 4))
        self.EF = int(p.get("num_edge_features", 2))
        self.L = int(p.get("num_of_layers", 2))
        self.nn = int(p.get("num_neighbors", 5))
        self.heads = int(p.get("num_attention_heads", 1))
        self.seed = int(p.get("seed", 1))
        self.emb = self.M + self.NF
        self.raw_dim = 2 * self.M + 1 + self.EF
        self.msg_dim = (self.raw_dim if self.message_fn == "identity"
                        else int(p.get("message_dimension", self.raw_dim)))
        qd = self.emb + self.TD
        if self.layer_type == "graph_attn" and qd % self.heads:
            raise ValueError(
                f"tgn: num_attention_heads={self.heads} must divide the "
                f"query dim {qd} (= memory+node_features+time dims)")
        self.rng = np.random.default_rng(self.seed)
        self.W = self._init_weights()
        self.adam = Adam(self.W, float(p.get("learning_rate", 1e-4)),
                         float(p.get("weight_decay", 5e-5)))
        self.batch_counter = 0
        self.losses: list[float] = []

    # ------------------------------------------------------------ init

    def _init_weights(self) -> dict:
        rng, W = self.rng, {}
        M, TD, EF, emb = self.M, self.TD, self.EF, self.emb
        # time encoder (time_encoding.py: w = 1/10^linspace(0,9,D), b=0)
        W["te_w"] = (1.0 / 10 ** np.linspace(0, 9, TD))
        W["te_b"] = np.zeros(TD)
        # memory updater cell (torch GRUCell/RNNCell packed layout)
        gates = 3 if self.updater == "gru" else 1
        W["cell_Wih"] = _cell_uniform(rng, (gates * M, self.msg_dim), M)
        W["cell_Whh"] = _cell_uniform(rng, (gates * M, M), M)
        W["cell_bih"] = _cell_uniform(rng, (gates * M,), M)
        W["cell_bhh"] = _cell_uniform(rng, (gates * M,), M)
        if self.message_fn == "mlp":
            h = self.raw_dim // 2
            W["mf_W1"] = _xavier_normal(rng, (h, self.raw_dim))
            W["mf_b1"] = np.zeros(h)
            W["mf_W2"] = _xavier_normal(rng, (self.msg_dim, h))
            W["mf_b2"] = np.zeros(self.msg_dim)
        for k in range(self.L):
            if self.layer_type == "graph_sum":
                W[f"l{k}_W1"] = _xavier_uniform(rng, (emb, emb + TD + EF))
                W[f"l{k}_b1"] = np.zeros(emb)
                W[f"l{k}_W2"] = _xavier_uniform(rng, (emb, 2 * emb))
                W[f"l{k}_b2"] = np.zeros(emb)
            else:
                qd = emb + TD
                kd = self.nn * (emb + EF + TD)
                W[f"l{k}_WQ"] = _xavier_uniform(rng, (qd, qd))
                W[f"l{k}_WK"] = _xavier_uniform(rng, (qd, kd))
                W[f"l{k}_WV"] = _xavier_uniform(rng, (qd, kd))
                W[f"l{k}_bQ"] = np.zeros(qd)
                W[f"l{k}_bK"] = np.zeros(qd)
                W[f"l{k}_bV"] = np.zeros(qd)
                W[f"l{k}_WO"] = _xavier_uniform(rng, (qd, qd))
                W[f"l{k}_bO"] = np.zeros(qd)
                W[f"l{k}_mW1"] = _xavier_normal(rng, (emb, qd + emb))
                W[f"l{k}_mb1"] = np.zeros(emb)
                W[f"l{k}_mW2"] = _xavier_normal(rng, (emb, emb))
                W[f"l{k}_mb2"] = np.zeros(emb)
        if self.learning == "self_supervised":
            din = 2 * emb
            W["sc_W1"] = _xavier_normal(rng, (din // 2, din))
            W["sc_b1"] = np.zeros(din // 2)
            W["sc_W2"] = _xavier_normal(rng, (1, din // 2))
            W["sc_b2"] = np.zeros(1)
        else:
            W["sc_W1"] = _xavier_normal(rng, (64, emb))
            W["sc_b1"] = np.zeros(64)
            W["sc_W2"] = _xavier_normal(rng, (1, 64))
            W["sc_b2"] = np.zeros(1)
        return W

    # ----------------------------------------------------- compilation

    def sample_neighborhood(self, node, t, neighbors: dict) -> list:
        """Sample up to num_neighbors interactions of `node` with
        timestamps strictly before `t`, zero-padded to num_neighbors
        (temporal_neighborhood.py get_neighborhood semantics). PURE:
        the RNG is keyed on (seed, batch_counter, node, t), so any
        caller — the compile step or the Spark layer's frontier
        pre-expansion — gets identical picks for the same batch."""
        hist = neighbors.get(int(node), [])
        earlier = [h for h in hist if h[2] < t]
        if earlier:
            rng = np.random.default_rng(
                _mix(self.seed, self.batch_counter, int(node), float(t)))
            take = rng.choice(len(earlier),
                              size=min(self.nn, len(earlier)),
                              replace=False)
            picked = [earlier[i] for i in take]
        else:
            picked = []
        while len(picked) < self.nn:         # zero-pad (reference)
            picked.append((0, 0, 0.0))
        return picked

    def sample_negatives(self, bs: int, src_pool, dst_pool):
        """Negative pairs for a self-supervised batch, sampled BEFORE
        state fetch so the caller can fetch their memory/history too.
        Pools are the seen source/destination ids (tgn.py:393-403 —
        with the all_dest-from-src quirk corrected)."""
        rng = np.random.default_rng(self.seed * 7_919
                                    + self.batch_counter)
        src_pool = sorted(src_pool) or [0]
        dst_pool = sorted(dst_pool) or [0]
        return (rng.choice(src_pool, bs, replace=True),
                rng.choice(dst_pool, bs, replace=True))

    def compile_batch(self, edges, memory: dict, neighbors: dict,
                      pending: list, labels: dict | None = None,
                      negatives=None):
        """Freeze everything weight-independent about one batch so the
        forward/backward pass is a pure function of the weights (this
        is also what makes finite-difference gradient checks possible).

        edges: [(src, dst, ts, eidx)] — the batch, in stream order.
        memory: {node: (np.ndarray(M), last_ts)} for every node the
            batch can touch (missing nodes get zero memory, reference
            Memory.get_node_memory semantics).
        neighbors: {node: [(nbr, eidx, ts), ...]} interaction history
            per touched node (ts ascending).
        pending: previous batch's raw messages
            [(node, raw_vec np.ndarray(raw_dim), ts)].
        labels: {node: float} for supervised mode.
        """
        srcs = np.array([e[0] for e in edges], dtype=np.int64)
        dsts = np.array([e[1] for e in edges], dtype=np.int64)
        tss = np.array([e[2] for e in edges], dtype=np.float64)
        eidx = np.array([e[3] for e in edges], dtype=np.int64)
        bs = len(edges)

        def memvec(node):
            ent = memory.get(int(node))
            return ent[0] if ent is not None else np.zeros(self.M)

        # ---- step-1 inputs: per-node aggregation plan over `pending`
        upd_nodes = sorted({int(n) for n, _r, _t in pending})
        upd_index = {n: i for i, n in enumerate(upd_nodes)}
        msg_rows, msg_node = [], []
        for n, raw, _t in pending:
            msg_rows.append(raw)
            msg_node.append(upd_index[int(n)])
        plan = {"nodes": upd_nodes,
                "raw": (np.array(msg_rows) if msg_rows
                        else np.zeros((0, self.raw_dim))),
                "row_node": np.array(msg_node, dtype=np.int64),
                "mem_old": (np.array([memvec(n) for n in upd_nodes])
                            if upd_nodes else np.zeros((0, self.M)))}
        if self.aggregator == "last":
            last_row = {}
            for i, n in enumerate(plan["row_node"]):
                last_row[int(n)] = i          # stream order: latest wins
            plan["last_row"] = np.array(
                [last_row[i] for i in range(len(upd_nodes))],
                dtype=np.int64) if upd_nodes else np.zeros(0, np.int64)

        # ---- computation graphs (sampling is the PURE per-(node, t)
        # function self.sample_neighborhood, so the Spark layer can
        # pre-expand exactly the sampled frontier and fetch memory for
        # it — same picks here and there by construction)
        def sample(node, t):
            return self.sample_neighborhood(node, t, neighbors)

        def build_graph(nodes0, ts0):
            cache = {}
            layers = [list(zip(map(int, nodes0), map(float, ts0)))]
            for _ in range(self.L):
                cur = list(layers[-1])
                ext = []
                for (v, t) in layers[-1]:
                    if (v, t) not in cache:
                        cache[(v, t)] = sample(v, t)
                    ext.extend([(int(ni), float(ti))
                                for (ni, _e, ti) in cache[(v, t)]])
                layers.append(sorted(set(cur + ext)))
            layers.reverse()
            mappings = [{p: i for i, p in enumerate(arr)}
                        for arr in layers]
            base = layers[0]
            for (v, t) in base:
                if (v, t) not in cache:
                    cache[(v, t)] = sample(v, t)
            nbr_pairs = [[(int(ni), float(ti))
                          for (ni, _e, ti) in cache[p]] for p in base]
            dts = np.array([[p[1] - ti for (_ni, _e, ti) in cache[p]]
                            for p in base])
            efeats = np.array(
                [[_feat("edge", e, self.EF, self.seed)
                  for (_ni, e, _ti) in cache[p]] for p in base]
            ).reshape(len(base), self.nn, self.EF)
            nfeat = np.array([_feat("node", v, self.NF, self.seed)
                              for (v, _t) in base]
                             ).reshape(len(base), self.NF)
            mem_rows = np.array([memvec(v) for (v, _t) in base]
                                ).reshape(len(base), self.M)
            # per-layer index plans
            steps = []
            for k in range(self.L):
                nodes_k1 = layers[k + 1]
                g_idx = np.array([mappings[0][p] for p in nodes_k1])
                self_idx = np.array([mappings[k][p] for p in nodes_k1])
                nbr_idx = np.array(
                    [[mappings[k][q] for q in nbr_pairs[g]]
                     for g in g_idx])
                steps.append({"g": g_idx, "self": self_idx,
                              "nbr": nbr_idx})
            upd_rows = np.array(
                [upd_index.get(v, -1) for (v, _t) in base],
                dtype=np.int64)
            return {"layers": layers, "steps": steps, "dts": dts,
                    "efeats": efeats, "nfeat": nfeat,
                    "mem_rows": mem_rows, "upd_rows": upd_rows}

        graphs = {"pos": build_graph(np.concatenate([srcs, dsts]),
                                     np.concatenate([tss, tss]))}
        neg = None
        if self.learning == "self_supervised":
            if negatives is not None:
                nsrc, ndst = negatives
            else:
                nsrc, ndst = self.sample_negatives(
                    bs, {int(s) for s in srcs},
                    {int(d) for d in dsts})
            nsrc = np.asarray(nsrc, dtype=np.int64)
            ndst = np.asarray(ndst, dtype=np.int64)
            graphs["neg"] = build_graph(np.concatenate([nsrc, ndst]),
                                        np.concatenate([tss, tss]))
            neg = (nsrc, ndst)
        lab = None
        if self.learning == "supervised":
            labels = labels or {}
            lab = np.array(
                [float(labels.get(int(s), 0.0)) for s in srcs]
                + [float(labels.get(int(d), 0.0)) for d in dsts])
        self.batch_counter += 1
        return {"edges": edges, "srcs": srcs, "dsts": dsts, "tss": tss,
                "eidx": eidx, "bs": bs, "plan": plan, "graphs": graphs,
                "neg": neg, "labels": lab, "memory": memory}

    # --------------------------------------------------------- forward

    def _time_enc(self, dt):
        pre = dt[..., None] * self.W["te_w"] + self.W["te_b"]
        return np.cos(pre), pre

    def _cell_forward(self, x, h):
        W, M = self.W, self.M
        if self.updater == "rnn":
            pre = (x @ W["cell_Wih"].T + W["cell_bih"]
                   + h @ W["cell_Whh"].T + W["cell_bhh"])
            hn = np.tanh(pre)
            return hn, {"x": x, "h": h, "hn": hn}
        gi = x @ W["cell_Wih"].T + W["cell_bih"]
        gh = h @ W["cell_Whh"].T + W["cell_bhh"]
        r = _sigmoid(gi[:, :M] + gh[:, :M])
        z = _sigmoid(gi[:, M:2 * M] + gh[:, M:2 * M])
        hn_term = gh[:, 2 * M:]
        n = np.tanh(gi[:, 2 * M:] + r * hn_term)
        out = (1 - z) * n + z * h
        return out, {"x": x, "h": h, "r": r, "z": z, "n": n,
                     "hn_term": hn_term}

    def _cell_backward(self, cache, gout, grads):
        W, M = self.W, self.M
        x, h = cache["x"], cache["h"]
        if self.updater == "rnn":
            dpre = gout * (1 - cache["hn"] ** 2)
            grads["cell_Wih"] += dpre.T @ x
            grads["cell_Whh"] += dpre.T @ h
            grads["cell_bih"] += dpre.sum(0)
            grads["cell_bhh"] += dpre.sum(0)
            return dpre @ W["cell_Wih"]
        r, z, n, hn_term = (cache["r"], cache["z"], cache["n"],
                            cache["hn_term"])
        dn = gout * (1 - z)
        dz = gout * (h - n)
        dnpre = dn * (1 - n ** 2)
        dr = dnpre * hn_term
        dzpre = dz * z * (1 - z)
        drpre = dr * r * (1 - r)
        dgi = np.concatenate([drpre, dzpre, dnpre], axis=1)
        dgh = np.concatenate([drpre, dzpre, dnpre * r], axis=1)
        grads["cell_Wih"] += dgi.T @ x
        grads["cell_bih"] += dgi.sum(0)
        grads["cell_Whh"] += dgh.T @ h
        grads["cell_bhh"] += dgh.sum(0)
        return dgi @ W["cell_Wih"]

    def _message_forward(self, plan):
        """raw rows -> message fn -> per-node aggregate -> cell."""
        W = self.W
        raw = plan["raw"]
        cache = {"plan": plan}
        if self.message_fn == "mlp" and len(raw):
            a1 = raw @ W["mf_W1"].T + W["mf_b1"]
            h1 = np.maximum(a1, 0.0)
            msg = h1 @ W["mf_W2"].T + W["mf_b2"]
            cache["mf_h1"] = h1
        else:
            msg = raw
        n_upd = len(plan["nodes"])
        agg = np.zeros((n_upd, self.msg_dim))
        if n_upd:
            if self.aggregator == "last":
                agg = msg[plan["last_row"]]
            else:
                cnt = np.zeros(n_upd)
                np.add.at(agg, plan["row_node"], msg)
                np.add.at(cnt, plan["row_node"], 1.0)
                agg = agg / np.maximum(cnt, 1.0)[:, None]
                cache["cnt"] = cnt
        cache["msg"] = msg
        new_mem, cell_cache = self._cell_forward(agg, plan["mem_old"])
        cache["cell"] = cell_cache
        return new_mem, cache

    def _message_backward(self, cache, dmem, grads):
        plan = cache["plan"]
        if not len(plan["nodes"]):
            return
        dagg = self._cell_backward(cache["cell"], dmem, grads)
        msg = cache["msg"]
        dmsg = np.zeros_like(msg)
        if self.aggregator == "last":
            np.add.at(dmsg, plan["last_row"], dagg)
        else:
            per = dagg / np.maximum(cache["cnt"], 1.0)[:, None]
            dmsg = per[plan["row_node"]]
        if self.message_fn == "mlp" and len(msg):
            W = self.W
            h1 = cache["mf_h1"]
            grads["mf_W2"] += dmsg.T @ h1
            grads["mf_b2"] += dmsg.sum(0)
            dh1 = (dmsg @ W["mf_W2"]) * (h1 > 0)
            grads["mf_W1"] += dh1.T @ plan["raw"]
            grads["mf_b1"] += dh1.sum(0)
        # raw components (memory snapshots) are detached — stop here.

    def _layers_forward(self, g, new_mem):
        """Embedding layers over one compiled graph. Memory rows of
        nodes updated this batch come from `new_mem` (gradient path);
        others from the frozen snapshot."""
        W, emb, TD = self.W, self.emb, self.TD
        mem = g["mem_rows"].copy()
        upd = g["upd_rows"] >= 0
        if upd.any() and len(new_mem):
            mem[upd] = new_mem[g["upd_rows"][upd]]
        X = np.concatenate([mem, g["nfeat"]], axis=1)
        tenc, tpre = self._time_enc(g["dts"])        # (N0, nn, TD)
        cache = {"X0": X, "tpre": tpre, "tenc": tenc, "outs": [X],
                 "steps": []}
        out = X
        for k in range(self.L):
            st = g["steps"][k]
            nbr_feats = out[st["nbr"]]               # (N, nn, emb)
            e_k = g["efeats"][st["g"]]               # (N, nn, EF)
            t_k = tenc[st["g"]]                      # (N, nn, TD)
            concat = np.concatenate([nbr_feats, e_k, t_k], axis=2)
            sc = {"st": st}
            if self.layer_type == "graph_sum":
                s = concat.sum(axis=1)               # (N, emb+EF+TD)
                a1 = s @ W[f"l{k}_W1"].T + W[f"l{k}_b1"]
                rel = np.maximum(a1, 0.0)
                selff = out[st["self"]]
                cat2 = np.concatenate([selff, rel], axis=1)
                nxt = cat2 @ W[f"l{k}_W2"].T + W[f"l{k}_b2"]
                sc.update({"s": s, "a1": a1, "selff": selff,
                           "cat2": cat2})
            else:
                N = len(st["g"])
                qd = emb + TD
                kin = concat.reshape(N, -1)          # (N, nn*kdim)
                zeros_t, _ = self._time_enc(np.zeros(1))
                selff = out[st["self"]]
                qin = np.concatenate(
                    [selff, np.repeat(zeros_t, N, axis=0)], axis=1)
                Q = qin @ W[f"l{k}_WQ"].T + W[f"l{k}_bQ"]
                K = kin @ W[f"l{k}_WK"].T + W[f"l{k}_bK"]
                V = kin @ W[f"l{k}_WV"].T + W[f"l{k}_bV"]
                H, dh = self.heads, qd // self.heads
                attn_out = np.zeros((N, qd))
                heads_cache = []
                for hh in range(H):
                    sl = slice(hh * dh, (hh + 1) * dh)
                    S = (Q[:, sl] @ K[:, sl].T) / math.sqrt(dh)
                    S = S - S.max(axis=1, keepdims=True)
                    P = np.exp(S)
                    P = P / P.sum(axis=1, keepdims=True)
                    attn_out[:, sl] = P @ V[:, sl]
                    heads_cache.append(P)
                O = attn_out @ W[f"l{k}_WO"].T + W[f"l{k}_bO"]
                cat2 = np.concatenate([selff, O], axis=1)
                a1 = cat2 @ W[f"l{k}_mW1"].T + W[f"l{k}_mb1"]
                rel = np.maximum(a1, 0.0)
                nxt = rel @ W[f"l{k}_mW2"].T + W[f"l{k}_mb2"]
                sc.update({"kin": kin, "qin": qin, "Q": Q, "K": K,
                           "V": V, "P": heads_cache,
                           "attn_out": attn_out, "selff": selff,
                           "cat2": cat2, "a1": a1, "rel": rel})
            cache["steps"].append(sc)
            cache["outs"].append(nxt)
            out = nxt
        return out, cache

    def _layers_backward(self, g, cache, dout, grads):
        """Returns (dmem_for_updated_rows (n_upd, M) accumulation,
        d time-encoder params accumulated into grads)."""
        W, emb, TD, EF = self.W, self.emb, self.TD, self.EF
        douts = [np.zeros_like(o) for o in cache["outs"]]
        douts[-1] = dout
        dtenc = np.zeros_like(cache["tenc"])
        for k in reversed(range(self.L)):
            st = g["steps"][k]
            sc = cache["steps"][k]
            gk = douts[k + 1]
            if self.layer_type == "graph_sum":
                grads[f"l{k}_W2"] += gk.T @ sc["cat2"]
                grads[f"l{k}_b2"] += gk.sum(0)
                dcat2 = gk @ W[f"l{k}_W2"]
                dself = dcat2[:, :emb]
                drel = dcat2[:, emb:]
                da1 = drel * (sc["a1"] > 0)
                grads[f"l{k}_W1"] += da1.T @ sc["s"]
                grads[f"l{k}_b1"] += da1.sum(0)
                ds = da1 @ W[f"l{k}_W1"]             # (N, emb+EF+TD)
                dconcat = np.repeat(ds[:, None, :], self.nn, axis=1)
                dnbr = dconcat[:, :, :emb]
                dt_k = dconcat[:, :, emb + EF:]
            else:
                qd = emb + TD
                grads[f"l{k}_mW2"] += gk.T @ sc["rel"]
                grads[f"l{k}_mb2"] += gk.sum(0)
                drel = gk @ W[f"l{k}_mW2"]
                da1 = drel * (sc["a1"] > 0)
                grads[f"l{k}_mW1"] += da1.T @ sc["cat2"]
                grads[f"l{k}_mb1"] += da1.sum(0)
                dcat2 = da1 @ W[f"l{k}_mW1"]
                dself = dcat2[:, :emb]
                dO = dcat2[:, emb:]
                grads[f"l{k}_WO"] += dO.T @ sc["attn_out"]
                grads[f"l{k}_bO"] += dO.sum(0)
                dattn = dO @ W[f"l{k}_WO"]
                H, dh = self.heads, qd // self.heads
                dQ = np.zeros_like(sc["Q"])
                dK = np.zeros_like(sc["K"])
                dV = np.zeros_like(sc["V"])
                for hh in range(H):
                    sl = slice(hh * dh, (hh + 1) * dh)
                    P = sc["P"][hh]
                    dPo = dattn[:, sl]
                    dV[:, sl] += P.T @ dPo
                    dP = dPo @ sc["V"][:, sl].T
                    dS = P * (dP - (dP * P).sum(axis=1, keepdims=True))
                    dS = dS / math.sqrt(dh)
                    dQ[:, sl] += dS @ sc["K"][:, sl]
                    dK[:, sl] += dS.T @ sc["Q"][:, sl]
                grads[f"l{k}_WQ"] += dQ.T @ sc["qin"]
                grads[f"l{k}_bQ"] += dQ.sum(0)
                grads[f"l{k}_WK"] += dK.T @ sc["kin"]
                grads[f"l{k}_bK"] += dK.sum(0)
                grads[f"l{k}_WV"] += dV.T @ sc["kin"]
                grads[f"l{k}_bV"] += dV.sum(0)
                dqin = dQ @ W[f"l{k}_WQ"]
                dself = dself + dqin[:, :emb]
                # zeros-time-encoding query part
                zp = self.W["te_b"]                  # pre = 0*w + b
                dzt = dqin[:, emb:]
                grads["te_b"] += (-np.sin(zp) * dzt).sum(0)
                dkin = (dK @ W[f"l{k}_WK"]
                        + dV @ W[f"l{k}_WV"])        # (N, nn*kdim)
                dconcat = dkin.reshape(len(st["g"]), self.nn, -1)
                dnbr = dconcat[:, :, :emb]
                dt_k = dconcat[:, :, emb + EF:]
            np.add.at(douts[k], st["self"], dself)
            np.add.at(douts[k], st["nbr"].reshape(-1),
                      dnbr.reshape(-1, emb))
            np.add.at(dtenc, st["g"], dt_k)
        # time encoder gradient from all neighbor encodings
        dpre = -np.sin(cache["tpre"]) * dtenc
        grads["te_w"] += (dpre * g["dts"][..., None]).sum(axis=(0, 1))
        grads["te_b"] += dpre.sum(axis=(0, 1))
        dX0 = douts[0]
        dmem_rows = dX0[:, :self.M]
        upd = g["upd_rows"] >= 0
        n_upd = int(g["upd_rows"].max()) + 1 if upd.any() else 0
        dnew_mem = np.zeros((n_upd, self.M))
        if upd.any():
            np.add.at(dnew_mem, g["upd_rows"][upd], dmem_rows[upd])
        return dnew_mem

    def _score_forward(self, x):
        W = self.W
        a1 = x @ W["sc_W1"].T + W["sc_b1"]
        h1 = np.maximum(a1, 0.0)
        z = (h1 @ W["sc_W2"].T + W["sc_b2"]).reshape(-1)
        return z, {"x": x, "a1": a1, "h1": h1}

    def _score_backward(self, cache, dz, grads):
        W = self.W
        dz = dz.reshape(-1, 1)
        grads["sc_W2"] += dz.T @ cache["h1"]
        grads["sc_b2"] += dz.sum(0)
        dh1 = (dz @ W["sc_W2"]) * (cache["a1"] > 0)
        grads["sc_W1"] += dh1.T @ cache["x"]
        grads["sc_b1"] += dh1.sum(0)
        return dh1 @ W["sc_W1"]

    # ------------------------------------------------------- run batch

    def run_compiled(self, compiled, train: bool = True,
                     update_weights: bool = True):
        """Pure forward(+backward) over a compiled batch. Returns
        (loss, precision, new_memory_dict, embeddings_dict, grads)."""
        bs = compiled["bs"]
        plan = compiled["plan"]
        grads = {k: np.zeros_like(v) for k, v in self.W.items()}
        new_mem, msg_cache = self._message_forward(plan)
        gpos = compiled["graphs"]["pos"]
        emb_pos, cache_pos = self._layers_forward(gpos, new_mem)
        if self.learning == "self_supervised":
            gneg = compiled["graphs"]["neg"]
            emb_neg, cache_neg = self._layers_forward(gneg, new_mem)
            # embeddings rows: [sources ++ dests] then [neg ++ negdst]
            src_e, dst_e = emb_pos[:bs], emb_pos[bs:]
            nsrc_e, ndst_e = emb_neg[:bs], emb_neg[bs:]
            x = np.concatenate([
                np.concatenate([src_e, nsrc_e], axis=0),
                np.concatenate([dst_e, ndst_e], axis=0)], axis=1)
            z, sc_cache = self._score_forward(x)
            prob = _sigmoid(z)
            pos_p, neg_p = prob[:bs], prob[bs:]
            eps = 1e-12
            loss = (-np.log(pos_p + eps).mean()
                    - np.log(1 - neg_p + eps).mean())
            truth = np.concatenate([np.ones(bs), np.zeros(bs)])
            precision = float(
                (np.rint(truth) == np.rint(prob)).mean())
            if train:
                dz = np.concatenate([(pos_p - 1.0) / bs, neg_p / bs])
                dx = self._score_backward(sc_cache, dz, grads)
                demb_pos = np.concatenate(
                    [dx[:bs, :self.emb], dx[:bs, self.emb:]], axis=0)
                demb_neg = np.concatenate(
                    [dx[bs:, :self.emb], dx[bs:, self.emb:]], axis=0)
                dnm = self._layers_backward(gpos, cache_pos, demb_pos,
                                            grads)
                dnm2 = self._layers_backward(gneg, cache_neg, demb_neg,
                                             grads)
                n = max(len(dnm), len(dnm2), len(plan["nodes"]))
                dmem = np.zeros((n, self.M))
                if len(dnm):
                    dmem[:len(dnm)] += dnm
                if len(dnm2):
                    dmem[:len(dnm2)] += dnm2
                self._message_backward(msg_cache, dmem[:len(
                    plan["nodes"])], grads)
        else:
            z, sc_cache = self._score_forward(emb_pos)
            prob = _sigmoid(z)
            truth = compiled["labels"]
            precision = float(
                (np.rint(truth) == np.rint(prob)).mean())
            eps = 1e-12
            loss = float(-(truth * np.log(prob + eps)
                           + (1 - truth) * np.log(1 - prob + eps)
                           ).mean())
            if train:
                dz = (prob - truth) / len(truth)
                demb = self._score_backward(sc_cache, dz, grads)
                dnm = self._layers_backward(gpos, cache_pos, demb,
                                            grads)
                dmem = np.zeros((len(plan["nodes"]), self.M))
                if len(dnm):
                    dmem[:len(dnm)] += dnm[:len(dmem)]
                self._message_backward(msg_cache, dmem, grads)
        if train and update_weights:
            self.adam.step(self.W, grads)
            self.losses.append(float(loss))
        # persistent state deltas
        new_memory = {int(n): new_mem[i]
                      for i, n in enumerate(plan["nodes"])}
        embeddings = {}
        srcs, dsts = compiled["srcs"], compiled["dsts"]
        for i, s in enumerate(srcs):
            embeddings[int(s)] = emb_pos[i]
        for i, d in enumerate(dsts):
            embeddings[int(d)] = emb_pos[bs + i]
        return float(loss), precision, new_memory, embeddings, grads

    def make_raw_messages(self, compiled, new_memory: dict):
        """Raw messages for THIS batch's interactions, consumed by the
        next batch's memory update (tgn.py _create_raw_messages): for
        each edge (i, j, t): m_i = (s_i, s_j, dt_i, e_ij) and
        m_j = (s_j, s_i, dt_j, e_ij), with memory snapshots taken after
        this batch's update (detached)."""
        memory = compiled["memory"]

        def snap(node):
            if int(node) in new_memory:
                return new_memory[int(node)].copy()
            ent = memory.get(int(node))
            return (ent[0].copy() if ent is not None
                    else np.zeros(self.M))

        def last(node):
            ent = memory.get(int(node))
            return ent[1] if ent is not None else 0.0

        out = []
        for (s, d, t, e) in compiled["edges"]:
            ef = _feat("edge", e, self.EF, self.seed)
            out.append((int(s), np.concatenate(
                [snap(s), snap(d), [t - last(s)], ef]), float(t)))
            out.append((int(d), np.concatenate(
                [snap(d), snap(s), [t - last(d)], ef]), float(t)))
        return out

    # --------------------------------------------- finite-diff support

    def loss_only(self, compiled) -> float:
        """Forward-only loss on a compiled batch (used by gradient
        checks: perturb self.W between calls)."""
        loss, _p, _m, _e, _g = self.run_compiled(
            compiled, train=False, update_weights=False)
        return loss

    def epoch_reset(self):
        """Per-epoch state reset (train_eval_epochs tgn.py:783-786):
        memory/neighborhood/messages clear, weights persist. The caller
        owns the frames; this clears only the driver-side counters."""
        self.batch_counter = 0
        self.losses = []
