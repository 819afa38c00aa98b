"""Distributed no-torch GraphSAGE for node_classification (layer_type
SAGE, aggr mean / max / pool / gcn / lstm).

Parity target: the reference's deep path —
src/mage/python/mage/node_classification/models/sage.py wrapping PyG
SAGEConv layers inside inductive_model.py. PyG SAGEConv with mean
aggregation computes  z_i = h_i @ Wr + mean_{j in N(i)} h_j @ Wn + b
(aggr='max' swaps the mean for an elementwise max over neighbour
features, backward routed to the argmax contributor),
with relu between layers and softmax cross-entropy on top
(train_model.py). The reference gates this behind `import torch`; this
module trains the SAME layer algebra with numpy + DataFrames, so SAGE
runs in environments without torch. GAT/GATv2/GATJK (attention layers,
algos/gat.py / gatv2.py / gatjk.py) train without torch the same way.

The link-prediction module's SAGEConv is DGL's
(src/mage/python/mage/link_prediction/models/graph_sage.py), whose
aggregator_type names lstm/gcn/mean/pool (link_prediction.py:55). The
three extra aggregators implemented here follow the DGL algebra:

- gcn:  z_i = ((sum_{j in N(i)} h_j + h_i) / (deg_i + 1)) @ Wn + b —
  i.e. the MEAN aggregation over the self-loop-augmented adjacency with
  NO separate root weight (DGL SAGEConv drops fc_self for 'gcn'). The
  implementation literally reuses the mean path on adj+self-loops with
  Wr pinned at zero (never updated), so forward and backward come for
  free from the proven machinery.
- pool: z_i = h_i @ Wr + (max_{j in N(i)} relu(h_j @ Wp + bp)) @ Wn + b
  (DGL 'pool': a learned per-neighbour linear+relu before the
  elementwise max; Wp is square d_in x d_in like DGL's fc_pool). The
  max backward routes through the same argmax machinery as aggr='max',
  then continues through relu'(q) and Wp to the contributing
  neighbour's state.
- lstm: m_i = the final hidden state of an LSTM (torch nn.LSTM cell
  algebra, gate order i|f|g|o, hidden size = the layer's input dim,
  h_0 = c_0 = 0) run over the neighbours' states as a sequence, then
  z_i = h_i @ Wr + m_i @ Wn + b (DGL keeps fc_self for 'lstm').
  DGL feeds neighbours in whatever order the graph's edge storage
  yields — incidental and nondeterministic under parallel loading —
  so this implementation PINS the sequence order to ascending
  neighbour id (a documented deterministic deviation, the same move
  as the max aggregator's largest-id tie-break). Params per layer:
  Wih (d_in x 4d), Whh (d x 4d), bih, bhh (4d), torch nn.LSTM init
  U(-1/sqrt(d), 1/sqrt(d)); bih/bhh gradients coincide (they always
  do) and both are updated, matching torch SGD. Sequences live in
  per-node rows (array_sort(collect_list(struct(j, h)))) and the
  packed forward/BPTT runs vectorized numpy inside Arrow-batched
  mapInPandas, chunked by total timesteps so worker memory stays
  bounded under power-law degree skew; a supernode's O(deg) BPTT tape
  is the inherent cost of the sequence semantics (DGL pays the same).

Execution model and shared deviations: algos/nn_kernels.py. The
mean-neighbour aggregation is posexplode + avg (algebraic, like
nn_kernels.scatter_sum); the neighbour half of backprop is the
transpose of the forward mean: each node scatters g_i @ Wn^T / deg_i to
its neighbours through the same adjacency join.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.algos.nn_kernels import (
    feature_nodes, np_rows, project, scatter_sum, self_loops,
    train_node_classifier, tree_sum)
from memgraph_spark.session import free_checkpoint


def _mean_neighbor(adj: DataFrame, h: DataFrame, dim: int) -> DataFrame:
    """(id, m): mean of neighbours' h over the (src, dst) adjacency,
    zeros for isolated nodes (PyG SAGEConv aggregates an empty
    neighbourhood to 0)."""
    nb = (adj.join(h.select(F.col("id").alias("dst"),
                            F.col("h").alias("nh")), "dst")
          .select(F.col("src").alias("id"),
                  F.posexplode("nh").alias("pos", "v"))
          .groupBy("id", "pos").agg(F.avg("v").alias("v"))
          .groupBy("id").agg(
              F.transform(F.array_sort(F.collect_list(
                  F.struct("pos", "v"))),
                  lambda s: s.getField("v")).alias("m")))
    zeros = F.array_repeat(F.lit(0.0), dim)
    return (h.select("id").join(nb, "id", "left")
            .select("id", F.coalesce("m", zeros).alias("m")))


def _max_neighbor(adj: DataFrame, h: DataFrame, dim: int, cache=None):
    """(m_frame, arg_frame) for PyG SAGEConv aggr='max': m = elementwise
    max over neighbours' h (zeros for isolated nodes, matching the mean
    path's empty-neighbourhood choice); arg_frame = (id, pos, am) names
    the contributing neighbour per position — max-pooling backprop
    routes the gradient to exactly that contributor. Ties break to the
    largest neighbour id (deterministic on both the distributed and the
    local-twin side).

    Training callers pass `cache` (a list collecting frames to unpersist)
    so the per-(id, pos) aggregate is persisted and computed ONCE — both
    m (forward) and arg (backward routing) derive from it; without the
    cache the backward's arg materialization would re-run the whole
    neighbour aggregation a second time per layer per epoch. Forward-only
    callers (predict) omit it: they never touch arg."""
    nb = (adj.join(h.select(F.col("id").alias("dst"),
                            F.col("h").alias("nh")), "dst")
          .select(F.col("src").alias("id"), F.col("dst").alias("j"),
                  F.posexplode("nh").alias("pos", "v"))
          .groupBy("id", "pos")
          .agg(F.max("v").alias("v"),
               F.max_by("j", F.struct("v", "j")).alias("am")))
    if cache is not None:
        nb = nb.persist()
        cache.append(nb)
    m = (nb.groupBy("id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s.getField("v")).alias("m")))
    zeros = F.array_repeat(F.lit(0.0), dim)
    m = (h.select("id").join(m, "id", "left")
         .select("id", F.coalesce("m", zeros).alias("m")))
    return m, nb.select("id", "pos", "am")


def _lstm_seq(adj: DataFrame, h: DataFrame) -> DataFrame:
    """(id, js array<long>, vs array<array<double>>): each node's
    neighbour states as a sequence in ascending-neighbour-id order (the
    pinned deterministic order — see module docstring). js names the
    contributors so backward can scatter per-timestep input gradients;
    only nodes with >=1 neighbour appear (isolated nodes aggregate to
    zeros downstream, matching the mean/max empty-neighbourhood
    choice)."""
    pairs = (adj.join(h.select(F.col("id").alias("dst"),
                               F.col("h").alias("nh")), "dst")
             .select(F.col("src").alias("id"), F.col("dst").alias("j"),
                     F.col("nh")))
    return (pairs.groupBy("id")
            .agg(F.array_sort(F.collect_list(
                F.struct(F.col("j"), F.col("nh").alias("v")))).alias("s"))
            .select("id",
                    F.transform("s", lambda e: e.getField("j"))
                    .alias("js"),
                    F.transform("s", lambda e: e.getField("v"))
                    .alias("vs")))


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _np_lstm(flat, lens, Wih, Whh, b, dm=None):
    """Packed-sequence LSTM (torch nn.LSTM cell algebra, gate order
    i|f|g|o, h_0 = c_0 = 0) over ragged sequences, vectorized across
    sequences per timestep via offset gathers (torch PackedSequence's
    layout, rebuilt in numpy).

    flat: (sum(lens), d_in) row-concatenated sequences; lens: (B,).
    Returns the final hidden states (B, d). With dm = dL/d(h_T) per
    sequence (B, d), runs BPTT and returns
    (final_h, dWih, dWhh, db, dflat) where dflat aligns with `flat`
    rows and db is the shared b_ih/b_hh gradient (their gradients
    always coincide). Finite-difference-checked in
    tests/test_sage.py::test_lstm_bptt_matches_finite_differences."""
    d = Whh.shape[0]
    B = len(lens)
    lens = np.asarray(lens, dtype=np.int64)
    if B == 0:
        z = np.zeros((0, d))
        if dm is None:
            return z
        return (z, np.zeros_like(Wih), np.zeros_like(Whh),
                np.zeros_like(b), np.zeros_like(flat))
    order = np.argsort(-lens, kind="stable")
    inv = np.empty(B, dtype=np.int64)
    inv[order] = np.arange(B)
    sl = lens[order]
    offs = np.zeros(B, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    offs_o = offs[order]
    maxT = int(sl[0])
    H = np.zeros((B, d))
    C = np.zeros((B, d))
    tape = [] if dm is not None else None
    for t in range(maxT):
        a = int(np.searchsorted(-sl, -(t + 1), side="right"))
        rows = offs_o[:a] + t
        Xt = flat[rows]
        hp = H[:a].copy()
        cp = C[:a].copy()
        A = Xt @ Wih + hp @ Whh + b
        ig = _sigmoid(A[:, :d])
        fg = _sigmoid(A[:, d:2 * d])
        gg = np.tanh(A[:, 2 * d:3 * d])
        og = _sigmoid(A[:, 3 * d:])
        C[:a] = fg * cp + ig * gg
        tc = np.tanh(C[:a])
        H[:a] = og * tc
        if tape is not None:
            tape.append((a, rows, hp, cp, ig, fg, gg, og, tc))
    if dm is None:
        return H[inv]
    dmo = np.asarray(dm, dtype=np.float64)[order]
    dH = np.zeros((B, d))
    dC = np.zeros((B, d))
    dWih = np.zeros_like(Wih)
    dWhh = np.zeros_like(Whh)
    db = np.zeros_like(b)
    dflat = np.zeros_like(flat)
    prev_a = 0
    for t in range(maxT - 1, -1, -1):
        a, rows, hp, cp, ig, fg, gg, og, tc = tape[t]
        if prev_a < a:
            # sequences of length exactly t+1 end here: their dL/d(h_T)
            # enters the recurrence at this step
            dH[prev_a:a] = dmo[prev_a:a]
        dh = dH[:a]
        dc = dC[:a] + dh * og * (1.0 - tc * tc)
        do = dh * tc
        di = dc * gg
        dg = dc * ig
        df = dc * cp
        dA = np.concatenate(
            [di * ig * (1.0 - ig), df * fg * (1.0 - fg),
             dg * (1.0 - gg * gg), do * og * (1.0 - og)], axis=1)
        dWih += flat[rows].T @ dA
        dWhh += hp.T @ dA
        db += dA.sum(axis=0)
        dflat[rows] = dA @ Wih.T
        dH[:a] = dA @ Whh.T
        dC[:a] = dc * fg
        prev_a = a
    return H[inv], dWih, dWhh, db, dflat


def _seq_mat(x):
    """One vs cell (sequence of d-vectors) -> (T, d) float ndarray."""
    return np.stack([np.asarray(e, dtype=np.float64) for e in x])


def _lstm_cap(d: int) -> int:
    """Per-chunk timestep budget: bounds a worker's packed tape at
    ~9 x cap x d floats (~110 MB) regardless of how the arrow batch
    mixes degrees."""
    return max(4096, 1_500_000 // max(d, 1))


def _lstm_chunks(lens, cap):
    """(start, end) row ranges whose total timesteps stay <= cap (every
    range holds >= 1 row — a single sequence longer than cap forms its
    own range: BPTT can't split a sequence)."""
    n = len(lens)
    start = 0
    while start < n:
        end = start + 1
        tot = int(lens[start])
        while end < n and tot + int(lens[end]) <= cap:
            tot += int(lens[end])
            end += 1
        yield start, end
        start = end


def _lstm_forward(seq: DataFrame, h: DataFrame, lay, d: int) -> DataFrame:
    """(id, m): the lstm aggregation for every node in `h` — the final
    LSTM hidden state over the node's neighbour sequence, zeros for
    isolated nodes. Arrow-batched; chunked by total timesteps so the
    worker never holds more than ~cap states at once."""
    import pandas as pd
    Wih_ = np.asarray(lay["Wih"], dtype=np.float64)
    Whh_ = np.asarray(lay["Whh"], dtype=np.float64)
    b_ = (np.asarray(lay["bih"], dtype=np.float64)
          + np.asarray(lay["bhh"], dtype=np.float64))
    cap = _lstm_cap(d)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens_all = pdf["vs"].map(len).to_numpy()
            for s, e in _lstm_chunks(lens_all, cap):
                vs = pdf["vs"].iloc[s:e]
                flat = np.concatenate([_seq_mat(v) for v in vs], axis=0)
                M = _np_lstm(flat, lens_all[s:e], Wih_, Whh_, b_)
                yield pd.DataFrame({"id": pdf["id"].iloc[s:e],
                                    "m": list(M)})

    mrows = seq.select("id", "vs").mapInPandas(fn, "id long, m array<double>")
    zeros = F.array_repeat(F.lit(0.0), d)
    return (h.select("id").join(mrows, "id", "left")
            .select("id", F.coalesce("m", zeros).alias("m")))


def _pool_q(h: DataFrame, Wp, bp) -> DataFrame:
    """(id, q = relu(h @ Wp + bp)): the learned per-neighbour transform
    the 'pool' aggregator maxes over (DGL SAGEConv fc_pool). relu' for
    backward is recoverable as (q > 0)."""
    import pandas as pd
    Wp_ = np.asarray(Wp, dtype=np.float64)
    bp_ = np.asarray(bp, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np_rows(pdf["h"]) @ Wp_ + bp_
            np.maximum(Q, 0.0, out=Q)
            yield pd.DataFrame({"id": pdf["id"], "q": list(Q)})

    return h.mapInPandas(fn, "id long, q array<double>")


def _route_argmax(msgs: DataFrame, arg: DataFrame, d: int) -> DataFrame:
    """(id, nbr): scatter per-(node, pos) gradient messages to the argmax
    contributor named by `arg` (id, pos, am), densified to d-vectors —
    the shared backward router of the 'max' and 'pool' aggregators."""
    return (msgs.select("id", F.posexplode("msg").alias("pos", "v"))
            .join(arg, ["id", "pos"])
            .groupBy(F.col("am").alias("id"), F.col("pos"))
            .agg(F.sum("v").alias("v"))
            .groupBy("id").agg(
                F.map_from_entries(F.collect_list(
                    F.struct("pos", "v"))).alias("mp"))
            .select("id", F.transform(
                F.sequence(F.lit(0), F.lit(d - 1)),
                lambda i: F.coalesce(
                    F.element_at("mp", i.cast("int")), F.lit(0.0)))
                .alias("nbr")))


def _sage_layer(joined: DataFrame, Wr, Wn, b, relu: bool) -> DataFrame:
    """(id, h, m) -> (id, h=z) with z = h@Wr + m@Wn + b, relu'd between
    layers. Arrow-batched."""
    import pandas as pd
    Wr_, Wn_, b_ = (np.asarray(Wr, dtype=np.float64),
                    np.asarray(Wn, dtype=np.float64),
                    np.asarray(b, dtype=np.float64))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Z = np_rows(pdf["h"]) @ Wr_ + np_rows(pdf["m"]) @ Wn_ + b_
            if relu:
                np.maximum(Z, 0.0, out=Z)
            yield pd.DataFrame({"id": pdf["id"], "h": list(Z)})

    return joined.mapInPandas(fn, "id long, h array<double>")


def _dh_tail(gframe: DataFrame, hprev: DataFrame, nbr: DataFrame,
             Wr_t, d_prev: int, mask_relu: bool = True) -> DataFrame:
    """dh = (g @ Wr^T + nbr) [* relu'(h_prev)]: the shared closing step
    of every aggregation backward — the own-path gradient joined with
    the scattered neighbour gradient `nbr` (id, nbr), zeros for nodes
    absent from either side."""
    import pandas as pd
    own = project(gframe, "g", Wr_t, "own")
    zeros = F.array_repeat(F.lit(0.0), d_prev)
    joined = (hprev.join(own, "id", "left").join(nbr, "id", "left")
              .select("id", "h",
                      F.coalesce("own", zeros).alias("own"),
                      F.coalesce("nbr", zeros).alias("nbr")))

    def mask_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            G = np_rows(pdf["own"]) + np_rows(pdf["nbr"])
            if mask_relu:
                G *= (np_rows(pdf["h"]) > 0.0)        # relu'
            yield pd.DataFrame({"id": pdf["id"], "g": list(G)})

    return joined.mapInPandas(mask_fn, "id long, g array<double>")


def _backprop_to_prev(gframe: DataFrame, hprev: DataFrame,
                      adj: DataFrame, deg: DataFrame, Wr, Wn,
                      d_prev: int, arg: DataFrame | None = None
                      ) -> DataFrame:
    """dH_prev = (G @ Wr^T + scatter(G @ Wn^T)) * relu'(H_prev).

    mean (arg is None): the scatter is the transpose of the forward
    mean — node i contributed 1/deg_i of each neighbour j's state to
    its own m_i, so j receives (g_i @ Wn^T)/deg_i from every i it
    neighbours.

    max (arg = the forward's (id, pos, am) argmax frame): max-pooling
    is locally an indicator — only the contributing neighbour am(i,pos)
    receives (g_i @ Wn^T)[pos]; everyone else gets zero."""
    import pandas as pd
    Wr_t = np.asarray(Wr, dtype=np.float64).T
    Wn_t = np.asarray(Wn, dtype=np.float64).T

    if arg is None:
        def msg_fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                M = (np_rows(pdf["g"]) @ Wn_t) \
                    / pdf["deg"].to_numpy()[:, None]
                yield pd.DataFrame({"id": pdf["id"], "v": list(M)})

        msgs = gframe.join(deg, "id").mapInPandas(
            msg_fn, "id long, v array<double>")
        # scatter: i's message reaches every j adjacent to i (adj is
        # (src=i, dst=j) oriented)
        nbr = scatter_sum(adj, msgs).withColumnRenamed("v", "nbr")
    else:
        msgs = project(gframe, "g", Wn_t, "msg")
        # route (i, pos) to its argmax contributor; positions a node
        # never won arrive sparse, so densify through a pos->v map
        nbr = _route_argmax(msgs, arg, d_prev)
    return _dh_tail(gframe, hprev, nbr, Wr_t, d_prev)


def _backprop_pool(gframe: DataFrame, hprev: DataFrame, q: DataFrame,
                   arg: DataFrame, Wr, Wn, Wp, d_prev: int,
                   need_dh: bool, mask_relu: bool):
    """Backward through one 'pool' layer's aggregation. Returns
    (dh_frame | None, dWp, dbp, dq_checkpoint | None) — the caller frees
    the dq checkpoint once dh is materialized:

      dM_i  = g_i @ Wn^T                      (max output gradient)
      gq_j  = route dM_i[pos] to argmax j     (same router as aggr=max)
      dq_j  = gq_j * relu'(q_j)               (through the pool relu)
      dWp   = sum_j outer(h_j, dq_j),  dbp = sum_j dq_j
      dh_j  = g_j @ Wr^T + dq_j @ Wp^T [* relu'(h_j) when hprev is a
              hidden state]

    dWp/dbp reduce via nn_kernels.tree_sum; everything row-shaped stays
    in frames."""
    import pandas as pd
    Wr_t = np.asarray(Wr, dtype=np.float64).T
    Wn_t = np.asarray(Wn, dtype=np.float64).T
    routed = _route_argmax(project(gframe, "g", Wn_t, "msg"), arg, d_prev)
    # dq rows: only nodes that won at least one position contribute
    dq_join = (routed.join(q, "id").join(hprev, "id"))

    def dq_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            DQ = np_rows(pdf["nbr"]) * (np_rows(pdf["q"]) > 0.0)
            yield pd.DataFrame({"id": pdf["id"], "h": pdf["h"],
                                "dq": list(DQ)})

    dq = dq_join.mapInPandas(
        dq_fn, "id long, h array<double>, dq array<double>")
    dq = dq.localCheckpoint(eager=True)

    dWp, dbp = tree_sum(dq, ["h", "dq"],
                        lambda r: (np.outer(r["h"], r["dq"]), r["dq"]),
                        (np.zeros((d_prev, d_prev)), np.zeros(d_prev)))
    if not need_dh:
        free_checkpoint(dq)
        return None, dWp, dbp, None

    nbr = project(dq, "dq", np.asarray(Wp, dtype=np.float64).T, "nbr")
    out = _dh_tail(gframe, hprev, nbr, Wr_t, d_prev, mask_relu)
    return out, dWp, dbp, dq


def _backprop_lstm(gframe: DataFrame, hprev: DataFrame, seq: DataFrame,
                   lay, Wr, d_prev: int, need_dh: bool, mask_relu: bool,
                   cleanup: list):
    """Backward through one 'lstm' layer's aggregation. Returns
    (dh_frame | None, (dWih, dWhh, db)) with db the shared b_ih/b_hh
    gradient:

      dM_i  = g_i @ Wn^T                        (LSTM output gradient)
      BPTT over node i's neighbour sequence     (_np_lstm, recomputing
            the forward tape — checkpoint-free recompute, the standard
            BPTT memory/compute trade)
      dx_t  -> neighbour j_t's dh               (scattered per id)
      dh_j  = g_j @ Wr^T + sum_t dx_t [* relu'(h_j) on hidden layers]

    One mapInPandas pass emits BOTH gradient kinds: per worker chunk, a
    p=true sentinel row carrying the chunk's flattened
    (dWih | dWhh | db) sums plus p=false rows with the chunk's
    PRE-AGGREGATED per-neighbour input gradients (a map-side combine —
    row count is bounded by the chunk's distinct neighbour count, not
    its timestep count). The frame is persisted (appended to `cleanup`)
    because the param reduction and the dh scatter both consume it;
    param sums reduce through nn_kernels.tree_sum."""
    import pandas as pd
    Wn_t = np.asarray(lay["Wn"], dtype=np.float64).T
    Wr_t = np.asarray(Wr, dtype=np.float64).T
    Wih_ = np.asarray(lay["Wih"], dtype=np.float64)
    Whh_ = np.asarray(lay["Whh"], dtype=np.float64)
    b_ = (np.asarray(lay["bih"], dtype=np.float64)
          + np.asarray(lay["bhh"], dtype=np.float64))
    d = Whh_.shape[0]
    d_in = Wih_.shape[0]
    n_par = d_in * 4 * d + d * 4 * d + 4 * d
    cap = _lstm_cap(d)

    bjoin = seq.join(project(gframe, "g", Wn_t, "msg"), "id")

    def bptt_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens_all = pdf["vs"].map(len).to_numpy()
            for s, e in _lstm_chunks(lens_all, cap):
                vs = pdf["vs"].iloc[s:e]
                flat = np.concatenate([_seq_mat(v) for v in vs], axis=0)
                dm = np_rows(pdf["msg"].iloc[s:e])
                _, dWih, dWhh, db, dflat = _np_lstm(
                    flat, lens_all[s:e], Wih_, Whh_, b_, dm=dm)
                flatp = np.concatenate(
                    [dWih.ravel(), dWhh.ravel(), db])
                ids = [-1]
                vals = [flatp]
                ps = [True]
                if need_dh:
                    jflat = np.concatenate(
                        [np.asarray(j, dtype=np.int64)
                         for j in pdf["js"].iloc[s:e]])
                    uj, inv_idx = np.unique(jflat, return_inverse=True)
                    acc = np.zeros((len(uj), d_prev))
                    np.add.at(acc, inv_idx, dflat)
                    ids += uj.tolist()
                    vals += list(acc)
                    ps += [False] * len(uj)
                yield pd.DataFrame({"id": ids, "v": [x.tolist()
                                                     for x in vals],
                                    "p": ps})

    out = bjoin.mapInPandas(
        bptt_fn, "id long, v array<double>, p boolean")
    if need_dh:
        # both the param reduction and the dh scatter consume it
        out = out.persist()
        cleanup.append(out)
    (flat_sum,) = tree_sum(out.filter("p"), ["v"], lambda r: (r["v"],),
                           (np.zeros(n_par),))
    cut1 = d_in * 4 * d
    cut2 = cut1 + d * 4 * d
    dWih = flat_sum[:cut1].reshape(d_in, 4 * d)
    dWhh = flat_sum[cut1:cut2].reshape(d, 4 * d)
    db = flat_sum[cut2:]
    if not need_dh:
        return None, (dWih, dWhh, db)

    nbr = scatter_sum(out.filter(~F.col("p")), to_col="id") \
        .withColumnRenamed("v", "nbr")
    return _dh_tail(gframe, hprev, nbr, Wr_t, d_prev, mask_relu), \
        (dWih, dWhh, db)




def init_sage_layers(dims, aggregator, rng):
    """Per-layer weight dicts for the SAGE stack; rng draw ORDER is part
    of the model contract the numpy twin tests replicate: Wr (non-gcn),
    Wn, then Wp (pool) or Wih, Whh, bih, bhh (lstm). gcn has no root
    weight (DGL drops fc_self): Wr stays an all-zero matrix and is
    never updated, so the shared forward/backward algebra degrades to
    the gcn formula. lstm params follow torch nn.LSTM init — every
    tensor U(-k, k), k = 1/sqrt(hidden) with hidden = the layer's input
    dim (DGL: nn.LSTM(in_feats, in_feats))."""
    layers = []
    for i in range(len(dims) - 1):
        lim = np.sqrt(6.0 / (dims[i] + dims[i + 1]))   # Glorot uniform
        lay = {
            "Wr": (np.zeros((dims[i], dims[i + 1])) if aggregator == "gcn"
                   else rng.uniform(-lim, lim, (dims[i], dims[i + 1]))),
            "Wn": rng.uniform(-lim, lim, (dims[i], dims[i + 1])),
            "b": np.zeros(dims[i + 1])}
        if aggregator == "pool":
            limp = np.sqrt(6.0 / (dims[i] + dims[i]))
            lay["Wp"] = rng.uniform(-limp, limp, (dims[i], dims[i]))
            lay["bp"] = np.zeros(dims[i])
        elif aggregator == "lstm":
            k = 1.0 / np.sqrt(dims[i])
            lay["Wih"] = rng.uniform(-k, k, (dims[i], 4 * dims[i]))
            lay["Whh"] = rng.uniform(-k, k, (dims[i], 4 * dims[i]))
            lay["bih"] = rng.uniform(-k, k, 4 * dims[i])
            lay["bhh"] = rng.uniform(-k, k, 4 * dims[i])
        layers.append(lay)
    return layers


class SageEncoder:
    """SAGEConv stack, relu between layers —
    nn_kernels.train_node_classifier's encoder protocol, and the
    graph_sage encoder of algos/linkpred_deep.py. `aggregator` is the
    SAGEConv aggregation: 'mean' or 'max' (PyG aggr) plus 'pool', 'gcn'
    and 'lstm' (DGL aggregator_type — see the module docstring)."""

    kind = "sage"

    def __init__(self, X, und, dims, rng, aggregator: str = "mean"):
        self.X, self.dims, self.aggregator = X, dims, aggregator
        self.meta = {"aggregator": aggregator}
        self.cache = []                  # frames kept across epochs
        self.adj = und
        if aggregator == "gcn":
            # gcn = mean over the self-loop-augmented adjacency, Wr pinned 0
            self.adj = self_loops(und, X).dropDuplicates().persist()
            self.cache.append(self.adj)
        self.deg = (self.adj.groupBy(F.col("src").alias("id"))
                    .agg(F.count("*").cast("double").alias("deg")))
        self.X0 = self.A0 = self.S0 = None
        if aggregator == "lstm":
            # the layer-0 SEQUENCE is weight-independent (raw X in pinned
            # order) => built once; the aggregation itself re-runs per
            # epoch through the learned LSTM
            self.S0 = _lstm_seq(self.adj, X).persist()
            self.S0.count()
            self.cache.append(self.S0)
        elif aggregator != "pool":
            # layer-0 neighbour input is weight-independent for
            # mean/max/gcn => computed ONCE; pool's layer-0 input goes
            # through the learned fc_pool, so it refreshes per epoch
            if aggregator == "max":
                M0, self.A0 = _max_neighbor(self.adj, X, dims[0],
                                            cache=self.cache)
                self.A0.count()
            else:
                M0 = _mean_neighbor(self.adj, X, dims[0]).persist()
            self.X0 = X.join(M0, "id").persist()
            self.X0.count()
            self.cache.append(self.X0)
            if aggregator != "max":
                M0.unpersist()           # only needed to build X0
        self.params = {"layers": init_sage_layers(dims, aggregator, rng)}

    def forward(self):
        """Persists each layer's (id, h, m) input frame plus the
        aggregation routing state backward needs; for lstm `args`
        carries each layer's sequence frame (backward re-walks it in
        BPTT)."""
        layers, dims, adj = self.params["layers"], self.dims, self.adj
        use_pool = self.aggregator == "pool"
        use_max = self.aggregator == "max"
        use_lstm = self.aggregator == "lstm"
        cleanup = []
        if use_lstm:
            m0 = _lstm_forward(self.S0, self.X, layers[0], dims[0])
            cur = self.X.join(m0, "id").persist()
            cur.count()
            cleanup.append(cur)
            inputs, args, qs = [cur], [self.S0], [None]
        elif use_pool:
            # persist the h-named frame; the q-named view for backward is
            # a lazy rename OVER the cache (a post-persist rename would be
            # a different plan and recompute)
            qh0 = (_pool_q(self.X, layers[0]["Wp"], layers[0]["bp"])
                   .withColumnRenamed("q", "h").persist())
            m0, a0 = _max_neighbor(adj, qh0, dims[0], cache=cleanup)
            cur = self.X.join(m0, "id").persist()
            cur.count()
            cleanup += [qh0, cur]
            inputs, args = [cur], [a0]
            qs = [qh0.withColumnRenamed("h", "q")]
        else:
            inputs, args, qs = [self.X0], [self.A0], [None]
            cur = self.X0
        for li, lay in enumerate(layers[:-1]):
            h_next = _sage_layer(cur, lay["Wr"], lay["Wn"], lay["b"],
                                 relu=True)
            if use_pool:
                nxt_lay = layers[li + 1]
                h_next = h_next.persist()
                cleanup.append(h_next)
                qh = (_pool_q(h_next, nxt_lay["Wp"], nxt_lay["bp"])
                      .withColumnRenamed("q", "h").persist())
                m_next, a_next = _max_neighbor(adj, qh, dims[li + 1],
                                               cache=cleanup)
                cleanup.append(qh)
                args.append(a_next)
                qs.append(qh.withColumnRenamed("h", "q"))
            elif use_max:
                m_next, a_next = _max_neighbor(adj, h_next, dims[li + 1],
                                               cache=cleanup)
                args.append(a_next)
                qs.append(None)
            elif use_lstm:
                # h_next feeds three consumers (the seq shuffle, the
                # forward's id base, the cur join) — persist like pool does
                h_next = h_next.persist()
                cleanup.append(h_next)
                seq_next = _lstm_seq(adj, h_next).persist()
                cleanup.append(seq_next)
                m_next = _lstm_forward(seq_next, h_next, layers[li + 1],
                                       dims[li + 1])
                args.append(seq_next)
                qs.append(None)
            else:
                m_next = _mean_neighbor(adj, h_next, dims[li + 1])
                args.append(None)
                qs.append(None)
            cur = h_next.join(m_next, "id").persist()
            cur.count()
            cleanup.append(cur)
            inputs.append(cur)
        last = layers[-1]
        z = _sage_layer(cur, last["Wr"], last["Wn"], last["b"], relu=False)
        return z, (inputs, args, qs, cleanup)

    def backward(self, state, g):
        inputs, args, qs, cleanup = state
        layers, dims, agg = self.params["layers"], self.dims, self.aggregator
        grads = [None] * len(layers)
        for li in range(len(layers) - 1, -1, -1):
            lay = layers[li]
            hprev = inputs[li].select("id", "h")
            dWr, dWn, db = tree_sum(
                inputs[li].join(g, "id"), ["h", "m", "g"],
                lambda r: (np.outer(r["h"], r["g"]),
                           np.outer(r["m"], r["g"]), r["g"]),
                (np.zeros((dims[li], dims[li + 1])),
                 np.zeros((dims[li], dims[li + 1])), np.zeros(dims[li + 1])))
            grads[li] = {"Wn": dWn, "b": db}
            if agg != "gcn":             # gcn has no root weight
                grads[li]["Wr"] = dWr
            dh = None
            if agg == "lstm":
                dh, (dWih, dWhh, dbl) = _backprop_lstm(
                    g, hprev, args[li], lay, lay["Wr"], dims[li],
                    need_dh=li > 0, mask_relu=li > 0, cleanup=cleanup)
                # b_ih and b_hh gradients coincide; both update (torch)
                grads[li].update(Wih=dWih, Whh=dWhh, bih=dbl, bhh=dbl)
            elif agg == "pool":
                dh, dWp, dbp, dqh = _backprop_pool(
                    g, hprev, qs[li], args[li], lay["Wr"], lay["Wn"],
                    lay["Wp"], dims[li], need_dh=li > 0, mask_relu=li > 0)
                grads[li].update(Wp=dWp, bp=dbp)
            elif li > 0:
                dh = _backprop_to_prev(g, hprev, adj=self.adj, deg=self.deg,
                                       Wr=lay["Wr"], Wn=lay["Wn"],
                                       d_prev=dims[li], arg=args[li])
            if li > 0:
                dh = dh.persist()
                dh.count()
                cleanup.append(dh)
                if agg == "pool":
                    free_checkpoint(dqh)
                g = dh
        return {"layers": grads}

    @staticmethod
    def free(state):
        for fr in state[3]:
            fr.unpersist()

    def close(self):
        for fr in self.cache:
            fr.unpersist()

    @staticmethod
    def embed(X: DataFrame, und: DataFrame, layers,
              aggregator: str) -> DataFrame:
        """(id, h): the trained stack over X — the reference's predict
        also evaluates model(x, edge_index) on the full graph
        (train_model.py)."""
        adj = (self_loops(und, X).dropDuplicates() if aggregator == "gcn"
               else und)
        cur = X
        for li, lay in enumerate(layers):
            d = len(lay["Wn"])           # the layer's input width
            if aggregator == "max":
                m, _arg = _max_neighbor(adj, cur, d)
            elif aggregator == "pool":
                qh = (_pool_q(cur, lay["Wp"], lay["bp"])
                      .withColumnRenamed("q", "h"))
                m, _arg = _max_neighbor(adj, qh, d)
            elif aggregator == "lstm":
                m = _lstm_forward(_lstm_seq(adj, cur), cur, lay, d)
            else:                        # mean and gcn (self-loop adj)
                m = _mean_neighbor(adj, cur, d)
            cur = _sage_layer(cur.join(m, "id"), lay["Wr"], lay["Wn"],
                              lay["b"], relu=(li < len(layers) - 1))
        return cur


def sage_train(graph, aggregator: str = "mean", **kw):
    """Trains the SAGE stack; returns (epoch_rows, model dict) — keyword
    arguments as nn_kernels.train_node_classifier. The model carries
    per-layer (Wr, Wn, b [, Wp, bp for pool | Wih, Whh, bih, bhh for
    lstm]) for predict. lstm's neighbour order is pinned to ascending
    id, a documented deterministic deviation from the torch path's
    incidental edge-storage order."""
    aggregator = str(aggregator).lower()
    if aggregator not in ("mean", "max", "pool", "gcn", "lstm"):
        raise NotImplementedError(
            f"SAGE aggregator {aggregator!r}: mean/max/pool/gcn/lstm "
            "run without torch (the reference SAGEConv aggregators)")
    return train_node_classifier(
        graph, functools.partial(SageEncoder, aggregator=aggregator), **kw)


def sage_forward(graph, model) -> DataFrame:
    """(id, h=z_L): run the trained stack over the whole graph."""
    X, _ = feature_nodes(graph, model["features_attr"], d0=model["d0"])
    return SageEncoder.embed(
        X, graph.adjacency(model["etype"], "both").select("src", "dst"),
        model["layers"], model.get("aggregator", "mean"))
