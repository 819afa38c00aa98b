"""Temporal graph network surface — no torch needed.

Parity target: src/mage/python/tgn.py (set_params / update / get /
predict_link_score / train_and_eval / get_results / set_eval / reset).

Two engines behind the same protocol:

- **deep** (memory_updater_type 'gru' or 'rnn' — every reference e2e
  config): the REAL TGN algebra in numpy — GRU/RNN memory updaters,
  identity/MLP message functions, mean/last aggregation,
  graph-sum/graph-attention embedding layers, self-supervised link
  prediction or supervised label prediction with Adam — implemented in
  algos/tgn_deep.py. This module owns the distributed state: the edge
  stream history and node memory/embedding frames; each batch fetches
  the bounded touched-node slice, runs the numpy forward/backward, and
  writes the updated rows back.
- **baseline** (memory_updater_type 'ema', this module's default): the
  learning-free time-decay family the TGN paper compares against:

- **memory**: per-node vector, exponentially decayed by interaction gap
  and EMA-updated with the batch message (the no-torch analog of the
  GRU updater);
- **message**: mean over the batch's neighbours of (decayed neighbour
  memory + a deterministic hash basis of the neighbour id) — identity
  message function + mean aggregator, so co-interacting nodes converge
  to nearby memories;
- **embedding**: memory + mean of neighbour memories (one graph-sum
  layer, attention-free);
- **link score**: sigmoid(dot(emb_src, emb_dst)).

Every batch step is DataFrame joins/aggregations over the memory frame —
the driver holds parameters and the batch loop counter only, so the
memory table scales with |V| across a cluster. Batch-loop semantics
mirror the reference: `update` buffers stream edges and trains a batch
whenever `batch_size` accumulate; `set_eval` splits the stream;
`train_and_eval` replays the buffered stream for N epochs.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame

DEFAULTS = {
    "batch_size": 64,
    "memory_dimension": 16,
    "time_dimension": 1,
    "decay": 0.001,            # memory decay per time unit
    "alpha": 0.5,              # EMA weight of the new message
    "num_neighbors": 10,
    "layer_type": "graph_sum",
    "memory_updater_type": "ema",
    "message_aggregator_type": "mean",
    "edge_message_function_type": "identity",
}


def _state(graph) -> dict:
    if not hasattr(graph, "_tgn_state"):
        graph._tgn_state = {
            "params": dict(DEFAULTS), "buffer": [], "edges_df": None,
            "memory": None, "results": [], "mode": "train",
            "split_idx": None, "edge_count": 0, "epoch": 0, "batch": 0,
            # deep-path state: the numpy trainer, last batch's raw
            # messages, the embeddings frame, and the negative-sample
            # pools (seen source/dest ids, reference tgn.py:393-403)
            "deep": None, "pending": [], "deep_emb": None,
            "seen_src": set(), "seen_dst": set(),
        }
    return graph._tgn_state


def _append_stream(graph, rows: list, base: int) -> None:
    """Append batch rows to the DISTRIBUTED stream history (seq, src,
    dst, ts) starting at sequence `base`. The driver never holds more
    than one batch of rows at a time — the history itself lives as a
    checkpointed frame that scales with the cluster, not the driver
    heap."""
    st = _state(graph)
    df = graph.spark.createDataFrame(
        [(base + i, s, d, t) for i, (s, d, t) in enumerate(rows)],
        "seq long, src long, dst long, ts double")
    from memgraph_spark.session import free_checkpoint
    if st["edges_df"] is None:
        st["edges_df"] = df.localCheckpoint(eager=True)
    else:
        merged = st["edges_df"].unionByName(df).localCheckpoint(eager=True)
        free_checkpoint(st["edges_df"])
        st["edges_df"] = merged


def _flush_unprocessed(graph) -> None:
    """Move still-buffered (untrained) rows into the history frame so
    replay and readout see the full ingested stream."""
    st = _state(graph)
    if st["buffer"]:
        rows, st["buffer"] = st["buffer"], []
        _append_stream(graph, rows, st["edge_count"] - len(rows))


def _batch_rows(graph, lo: int, hi: int) -> list:
    """Fetch one replay batch [lo, hi) from the distributed history —
    at most batch_size rows cross to the driver. Rows are
    (src, dst, ts, seq); seq doubles as the edge index (eidx)."""
    st = _state(graph)
    if st["edges_df"] is None:
        return []
    return [(r["src"], r["dst"], r["ts"], r["seq"]) for r in
            st["edges_df"].filter((F.col("seq") >= lo)
                                  & (F.col("seq") < hi))
            .orderBy("seq").collect()]


def tgn_set_params(graph, params: dict | None = None) -> DataFrame:
    """tgn.set_params(params) — initializes the module (tgn.py
    set_params); unknown keys are stored verbatim (the reference also
    accepts the full config map).

    memory_updater_type 'gru'/'rnn' (every reference e2e config)
    instantiates the real numpy TGN trainer (algos/tgn_deep.py);
    'ema' keeps this module's learning-free baseline. 'graph_attn'
    layers require the deep path (the baseline has no attention)."""
    st = _state(graph)
    p = {**st["params"], **(params or {})}
    upd = str(p.get("memory_updater_type"))
    if upd in ("gru", "rnn"):
        from memgraph_spark.algos.tgn_deep import TGNDeep
        st["deep"] = TGNDeep(p)
    elif str(p.get("layer_type")) == "graph_attn":
        raise ValueError(
            "tgn: layer_type 'graph_attn' runs on the deep path — set "
            "memory_updater_type to 'gru' or 'rnn'")
    elif upd != "ema":
        raise ValueError(
            f"tgn: unsupported memory_updater_type {upd!r} "
            "(supported: gru, rnn, ema)")
    else:
        st["deep"] = None
    st["params"] = p
    from memgraph_spark.session import free_checkpoint
    for key in ("memory", "deep_emb"):     # reconfigure = fresh state;
        if st.get(key) is not None:        # free the old checkpoints
            free_checkpoint(st[key])
            st[key] = None
    st["pending"] = []
    st["seen_src"], st["seen_dst"] = set(), set()
    return graph.spark.createDataFrame(
        [("TGN initialized.",)], "message string")


def _ensure_memory(graph) -> DataFrame:
    st = _state(graph)
    if st["memory"] is None:
        d = int(st["params"]["memory_dimension"])
        ids = graph.all_nodes().select("id")
        st["memory"] = (ids.withColumn(
            "mem", F.array_repeat(F.lit(0.0), d))
            .withColumn("last_ts", F.lit(0.0))
            .localCheckpoint(eager=True))
    return st["memory"]


def _hash_basis(col, d: int):
    """Deterministic unit-ish vector for a node id: one-hot at
    xxhash64(id) % d with sign from the next bit — gives distinct nodes
    distinguishable messages without any learned feature."""
    h = F.abs(F.xxhash64(col))
    pos = (h % d).cast("int")
    sign = F.when((h % (2 * d)) >= d, F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.transform(F.sequence(F.lit(0), F.lit(d - 1)),
                       lambda i: F.when(i == pos, sign)
                       .otherwise(F.lit(0.0)))


def _process_batch(graph, batch_rows: list) -> None:
    """One TGN batch step over `batch_rows` = [(src, dst, ts), ...]:
    decay -> message (mean over batch partners) -> EMA memory update.
    One groupBy + two joins; only the batch literal leaves the driver."""
    if not batch_rows:
        return
    st = _state(graph)
    p = st["params"]
    d = int(p["memory_dimension"])
    alpha, decay = float(p["alpha"]), float(p["decay"])
    mem = _ensure_memory(graph)
    spark = graph.spark
    batch = spark.createDataFrame(batch_rows, "src long, dst long, ts double")
    # interactions touch both directions: each endpoint receives a message
    inter = (batch.select(F.col("src").alias("id"),
                          F.col("dst").alias("nbr"), "ts")
             .unionAll(batch.select(F.col("dst").alias("id"),
                                    F.col("src").alias("nbr"), "ts")))
    nbr_mem = mem.select(F.col("id").alias("nbr"),
                         F.col("mem").alias("nbr_mem"))
    contrib = (inter.join(nbr_mem, "nbr", "left")
               .select("id", "ts",
                       F.zip_with(
                           F.coalesce("nbr_mem",
                                      F.array_repeat(F.lit(0.0), d)),
                           _hash_basis(F.col("nbr"), d),
                           lambda a, b: a + b).alias("msg")))
    msgs = (contrib
            .select("id", "ts", F.posexplode("msg").alias("pos", "v"))
            .groupBy("id", "pos")
            .agg(F.avg("v").alias("v"), F.max("ts").alias("ts"))
            .groupBy("id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s.getField("v")).alias("msg"),
                F.max("ts").alias("msg_ts")))
    decay_f = F.exp(-F.lit(decay) *
                    F.greatest(F.col("msg_ts") - F.col("last_ts"),
                               F.lit(0.0)))
    new_mem = (mem.join(msgs, "id", "left")
               .select(
                   "id",
                   F.when(F.col("msg").isNull(), F.col("mem"))
                   .otherwise(F.zip_with(
                       F.transform("mem", lambda m: m * decay_f
                                   * F.lit(1.0 - alpha)),
                       F.transform("msg", lambda m: m * F.lit(alpha)),
                       lambda a, b: a + b)).alias("mem"),
                   F.coalesce("msg_ts", "last_ts").alias("last_ts")))
    from memgraph_spark.session import free_checkpoint
    new_mem = new_mem.localCheckpoint(eager=True)
    free_checkpoint(st["memory"])
    st["memory"] = new_mem


# --------------------------------------------------------------------
# deep path (algos/tgn_deep.py): distributed state <-> bounded batches
# --------------------------------------------------------------------

def _fetch_neighbors(graph, node_ids: set,
                     max_seq: int | None = None) -> dict:
    """Interaction history per node from the DISTRIBUTED stream frame:
    {node: [(partner, eidx, ts), ...]} (ts ascending), capped at the
    most recent `max_neighborhood` interactions per node (the reference
    keeps the full history in a driver dict and carries a TODO to cap
    at the latest 128 — tgn.py:424; we make the cap real)."""
    st = _state(graph)
    if st["edges_df"] is None or not node_ids:
        return {n: [] for n in node_ids}
    cap = int(st["params"].get("max_neighborhood", 128))
    spark = graph.spark
    ids = spark.createDataFrame([(int(n),) for n in node_ids],
                                "id long")
    e = st["edges_df"]
    if max_seq is not None:
        # replay: only the stream prefix before this batch existed when
        # the reference's per-epoch neighborhood saw it (tgn.py:785)
        e = e.filter(F.col("seq") < int(max_seq))
    und = (e.select(F.col("src").alias("id"), F.col("dst").alias("nbr"),
                    F.col("seq").alias("eidx"), "ts")
           .unionAll(e.select(F.col("dst").alias("id"),
                              F.col("src").alias("nbr"),
                              F.col("seq").alias("eidx"), "ts")))
    w = Window.partitionBy("id").orderBy(F.col("ts").desc(),
                                         F.col("eidx").desc())
    rows = (und.join(ids, "id")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .select("id", "nbr", "eidx", "ts").collect())
    out: dict = {int(n): [] for n in node_ids}
    for r in rows:
        out[int(r["id"])].append((int(r["nbr"]), int(r["eidx"]),
                                  float(r["ts"])))
    for v in out.values():
        v.sort(key=lambda x: (x[2], x[1]))
    return out


def _fetch_state(graph, node_ids: set, want_labels: bool = False):
    """(memory dict, labels dict|None) in ONE driver job: the bounded id
    frame left-joins the memory frame and — for supervised configs — the
    node-label column, so the per-batch memory fetch and label fetch
    share a single collect (VERDICT r6 item 6 fold; they were two jobs).
    A missing label COLUMN is a configuration error and raises (a
    metadata check, no job) — silently training toward all-zero labels
    would report inflated precision; a per-node null falls back to 0."""
    import numpy as np
    if not node_ids:
        return {}, ({} if want_labels else None)
    st = _state(graph)
    mem = _ensure_memory(graph)
    ids = graph.spark.createDataFrame(
        [(int(n),) for n in node_ids], "id long")
    joined = ids.join(mem, "id", "left")
    if want_labels:
        prop = str(st["params"].get("node_label_property", "label"))
        nodes = graph.all_nodes([prop])
        if prop not in nodes.columns or not any(
                prop in t.columns for t in graph.nodes.values()):
            raise ValueError(
                f"tgn: supervised learning needs node label property "
                f"{prop!r}, but no node table carries that column (set "
                "node_label_property in set_params)")
        joined = joined.join(
            nodes.select("id", F.col(prop).alias("__y")), "id", "left")
    memory: dict = {}
    labels: dict | None = {} if want_labels else None
    for r in joined.collect():
        if r["mem"] is not None:
            memory[int(r["id"])] = (np.array(r["mem"], dtype=np.float64),
                                    float(r["last_ts"]))
        if want_labels and r["__y"] is not None:
            labels[int(r["id"])] = float(r["__y"])
    return memory, labels


def _writeback_memory(graph, new_mem: dict, last_upd: dict) -> None:
    """Upsert updated memory rows / last-update timestamps into the
    memory frame (full outer join so stream-only ids survive)."""
    st = _state(graph)
    if not new_mem and not last_upd:
        return
    mem = _ensure_memory(graph)
    d = int(st["params"]["memory_dimension"])
    ids = sorted(set(new_mem) | set(last_upd))
    upd = graph.spark.createDataFrame(
        [(int(i),
          ([float(x) for x in new_mem[i]] if i in new_mem else None),
          (float(last_upd[i]) if i in last_upd else None))
         for i in ids],
        "id long, nmem array<double>, nts double")
    merged = (mem.join(upd, "id", "full")
              .select("id",
                      F.coalesce("nmem", "mem",
                                 F.array_repeat(F.lit(0.0), d))
                      .alias("mem"),
                      F.coalesce("nts", "last_ts", F.lit(0.0))
                      .alias("last_ts")))
    from memgraph_spark.session import free_checkpoint
    merged = merged.localCheckpoint(eager=True)
    free_checkpoint(st["memory"])
    st["memory"] = merged


def _writeback_embeddings(graph, emb: dict) -> None:
    st = _state(graph)
    if not emb:
        return
    upd = graph.spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in emb.items()],
        "id long, nemb array<double>")
    from memgraph_spark.session import free_checkpoint
    if st["deep_emb"] is None:
        st["deep_emb"] = upd.select(
            "id", F.col("nemb").alias("emb")).localCheckpoint(eager=True)
        return
    merged = (st["deep_emb"].join(upd, "id", "full")
              .select("id", F.coalesce("nemb", "emb").alias("emb"))
              .localCheckpoint(eager=True))
    free_checkpoint(st["deep_emb"])
    st["deep_emb"] = merged


def _process_batch_deep(graph, rows4: list, train: bool) -> float:
    """One deep-TGN batch: sample negatives, fetch the touched slice of
    the distributed state (L rounds of neighborhood expansion + memory
    rows), run the numpy forward/backward (algos/tgn_deep.py), write
    the updated memory/embeddings back, and stage this batch's raw
    messages for the next batch. Returns the reference's precision
    metric for the batch.

    Driver-job budget per batch (pinned by
    tests/test_tgn_deep.py::test_deep_batch_job_count, measured by
    benchx's tgn section): at most L history fetches + 1 state fetch
    (memory and supervised labels fold into ONE collect) + 2 write-back
    checkpoints. The L history rounds are the floor for exact sampled
    expansion: level-k frontier is a pure function of level-(k-1)
    HISTORIES, which no single job can know in advance without
    over-fetching the full 128^k candidate closure; rounds that discover
    no new nodes skip their fetch entirely."""
    st = _state(graph)
    core = st["deep"]
    edges = [(int(s), int(d), float(t), int(e))
             for (s, d, t, e) in rows4]
    if not edges:
        return 0.0
    batch_src = {e[0] for e in edges}
    batch_dst = {e[1] for e in edges}
    negs = None
    level0 = batch_src | batch_dst
    if core.learning == "self_supervised":
        negs = core.sample_negatives(
            len(edges), st["seen_src"] | batch_src,
            st["seen_dst"] | batch_dst)
        level0 = level0 | {int(n) for n in negs[0]} \
            | {int(n) for n in negs[1]}
    level0 = level0 | {0}                      # zero-padding target
    min_seq = min(e[3] for e in edges)
    # frontier expansion walks only the SAMPLED neighbors (the core's
    # sampler is a pure function of (seed, batch_counter, node, t), so
    # the picks here are exactly the ones compile_batch re-derives):
    # per depth the pair count grows by x num_neighbors, not by the
    # 128-interaction history cap
    neighbors: dict = {}
    ts0 = [float(e[2]) for e in edges]
    pairs = {(int(n), t) for n, t in
             zip([e[0] for e in edges] + [e[1] for e in edges],
                 ts0 + ts0)}
    if negs is not None:
        pairs |= {(int(n), t) for n, t in zip(negs[0], ts0)}
        pairs |= {(int(n), t) for n, t in zip(negs[1], ts0)}
    all_nodes = {n for (n, _t) in pairs} | level0
    for _ in range(core.L):
        fetch = {n for (n, _t) in pairs} - set(neighbors)
        if fetch:
            neighbors.update(
                _fetch_neighbors(graph, fetch, max_seq=min_seq))
        pairs = {(int(ni), float(ti))
                 for (n, t) in pairs
                 for (ni, _e, ti) in core.sample_neighborhood(
                     n, t, neighbors)}
        all_nodes |= {n for (n, _t) in pairs}
    mem_ids = (all_nodes
               | {int(n) for (n, _r, _t) in st["pending"]})
    memory, labels = _fetch_state(
        graph, mem_ids, want_labels=core.learning == "supervised")
    compiled = core.compile_batch(edges, memory, neighbors,
                                  st["pending"], labels=labels,
                                  negatives=negs)
    _loss, prec, new_mem, emb, _g = core.run_compiled(compiled,
                                                      train=train)
    st["pending"] = core.make_raw_messages(compiled, new_mem)
    last_upd: dict = {}
    for (s, d, t, _e) in edges:
        last_upd[s] = max(last_upd.get(s, 0.0), t)
        last_upd[d] = max(last_upd.get(d, 0.0), t)
    _writeback_memory(graph, new_mem, last_upd)
    _writeback_embeddings(graph, emb)
    st["seen_src"] |= batch_src
    st["seen_dst"] |= batch_dst
    return prec


def tgn_update(graph, edges) -> DataFrame:
    """tgn.update(edges) — buffer stream edges; train a batch whenever
    batch_size accumulate (tgn.py update). `edges` rows are (src, dst[,
    ts]) tuples/lists; ts defaults to arrival order."""
    st = _state(graph)
    p = st["params"]
    for e in edges or []:
        row = list(e) if not isinstance(e, (int, float)) else [e]
        src, dst = int(row[0]), int(row[1])
        ts = float(row[2]) if len(row) > 2 else float(st["edge_count"])
        st["buffer"].append((src, dst, ts))
        st["edge_count"] += 1
    while len(st["buffer"]) >= int(p["batch_size"]):
        batch = st["buffer"][:int(p["batch_size"])]
        st["buffer"] = st["buffer"][int(p["batch_size"]):]
        base = st["edge_count"] - len(st["buffer"]) - len(batch)
        t0 = time.perf_counter()
        prec = None
        if st["deep"] is not None:
            # the stream is appended AFTER the deep step: the reference
            # updates the temporal neighborhood only at the end of
            # forward() (_process_current_batch), so a batch's own
            # edges are not sample-able during its own embedding pass
            rows4 = [(s, d, t, base + i)
                     for i, (s, d, t) in enumerate(batch)]
            prec = _process_batch_deep(graph, rows4,
                                       train=st["mode"] == "train")
        else:
            _process_batch(graph, batch)
        _append_stream(graph, batch, base)
        st["batch"] += 1
        st["results"].append(
            (st["epoch"], st["batch"],
             round(time.perf_counter() - t0, 3), prec, st["mode"]))
    # zero-COLUMN frame: the reference update() returns mgp.Record() (one
    # empty record), so in-query CALLs keep the frame's cardinality via
    # session.py's void_like pass-through; a 0-row typed frame would
    # annihilate every frame row through the per-row join
    from pyspark.sql import types as T
    return empty_frame(graph.spark, T.StructType([]))


def tgn_get(graph) -> DataFrame:
    """tgn.get() YIELD node, embedding. Deep path: the last computed
    TGN embedding per node (reference all_embeddings, tgn.py:980 —
    kept as a distributed frame here). Baseline: memory + mean
    neighbour memory (one graph-sum layer) for every node seen."""
    st = _state(graph)
    if st["deep"] is not None:
        if st["deep_emb"] is None:
            return empty_frame(
                graph.spark, "node long, embedding array<double>")
        return st["deep_emb"].select(
            F.col("id").alias("node"),
            F.transform("emb", lambda x: F.round(x, 6))
            .alias("embedding"))
    mem = _ensure_memory(graph)
    d = int(st["params"]["memory_dimension"])
    _flush_unprocessed(graph)
    if st["edges_df"] is not None:
        seen = st["edges_df"]
        und = (seen.select("src", "dst")
               .unionAll(seen.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))))
        nbr = (und.join(mem.select(F.col("id").alias("dst"),
                                   F.col("mem").alias("nm")), "dst")
               .select(F.col("src").alias("id"),
                       F.posexplode("nm").alias("pos", "v"))
               .groupBy("id", "pos").agg(F.avg("v").alias("v"))
               .groupBy("id").agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "v"))),
                   lambda s: s.getField("v")).alias("nbr_mean")))
    else:
        nbr = mem.select("id").limit(0).withColumn(
            "nbr_mean", F.array_repeat(F.lit(0.0), d))
    return (mem.join(nbr, "id", "left")
            .select(F.col("id").alias("node"),
                    F.zip_with(
                        "mem",
                        F.coalesce("nbr_mean",
                                   F.array_repeat(F.lit(0.0), d)),
                        lambda a, b: F.round(a + F.lit(0.5) * b, 6))
                    .alias("embedding")))


def tgn_predict_link_score(graph, src, dest) -> DataFrame:
    """tgn.predict_link_score(src, dest) YIELD prediction (tgn.py:835).
    Deep path: the trained MLP link scorer on emb_src || emb_dest
    (get_link_score, tgn.py:286); baseline:
    sigmoid(dot(emb_src, emb_dest))."""
    st = _state(graph)
    if st["deep"] is not None:
        import numpy as np
        core = st["deep"]
        if core.learning != "self_supervised":
            raise ValueError(
                "predict_link_score needs learning_type "
                "'self_supervised' (the supervised scorer predicts "
                "node labels, not links — tgn.py:286)")
        rows = {r["node"]: r["embedding"] for r in
                tgn_get(graph)
                .filter(F.col("node").isin([int(src), int(dest)]))
                .collect()}
        a, b = rows.get(int(src)), rows.get(int(dest))
        if a is None or b is None:
            raise ValueError("predict_link_score: unseen vertex "
                             f"{src if a is None else dest}")
        from memgraph_spark.algos.tgn_deep import _sigmoid
        z, _c = core._score_forward(
            np.concatenate([a, b])[None, :])
        return graph.spark.createDataFrame(
            [(round(float(_sigmoid(np.asarray(z))[0]), 6),)],
            "prediction double")
    emb = tgn_get(graph)
    rows = {r["node"]: r["embedding"] for r in
            emb.filter(F.col("node").isin([int(src), int(dest)]))
            .collect()}
    a = rows.get(int(src))
    b = rows.get(int(dest))
    if a is None or b is None:
        raise ValueError("predict_link_score: unseen vertex "
                         f"{src if a is None else dest}")
    z = sum(x * y for x, y in zip(a, b))
    return graph.spark.createDataFrame(
        [(round(1.0 / (1.0 + math.exp(-max(min(z, 50.0), -50.0))), 6),)],
        "prediction double")


def tgn_set_eval(graph) -> DataFrame:
    """tgn.set_eval() — records the train/eval split point in the edge
    stream (tgn.py set_eval)."""
    st = _state(graph)
    st["split_idx"] = st["edge_count"]
    st["mode"] = "eval"
    return graph.spark.createDataFrame(
        [("TGN mode changed to 'eval'.",)], "message string")


def _neg_pool(graph, emb):
    """Dense (rk, node) index over the embedding frame's node set for
    hash-mod negative draws — built ONCE per eval phase (VERDICT r6 item
    3). zipWithIndex assigns the dense rank with per-partition offsets
    (one count job + local enumeration), so no global sort and no
    single-partition Window anywhere in the eval plan. Returns
    (pool_frame, n); caller frees the checkpoint."""
    pool = (emb.select("node").rdd
            .map(lambda r: (r["node"],))
            .zipWithIndex()
            .map(lambda t: (int(t[0][0]), int(t[1])))
            .toDF("node long, rk long")
            .localCheckpoint(eager=True))
    return pool, pool.count()


def _precision_frame(graph, batch_rows: list, emb, pool, n: int):
    """Scored (pos_score, neg_score) frame for a batch: the corrupted
    partner w is drawn by xxhash64(src,dst,ts) % n against the dense
    (rk, node) pool — joins only, no Window (tests pin the plan shape)."""
    spark = graph.spark
    batch = spark.createDataFrame(batch_rows, "src long, dst long, ts double")
    neg = (batch.withColumn(
        "rk", (F.abs(F.xxhash64("src", "dst", "ts")) % n))
        .join(pool, "rk")
        .select("src", "dst", F.col("node").alias("wneg")))
    e = emb.select(F.col("node"), F.col("embedding"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    return (neg
            .join(e.select(F.col("node").alias("src"),
                           F.col("embedding").alias("ea")), "src")
            .join(e.select(F.col("node").alias("dst"),
                           F.col("embedding").alias("eb")), "dst")
            .withColumn("pos_score", dot)
            .drop("eb")
            .join(e.select(F.col("node").alias("wneg"),
                           F.col("embedding").alias("eb")), "wneg")
            .withColumn("neg_score", dot))


def _eval_precision(graph, batch_rows: list, emb=None, pool=None,
                    n: int | None = None) -> float:
    """Ranking precision on a batch: fraction of true edges (u, v) whose
    score beats the corrupted pair (u, w) with a deterministic
    hash-sampled w. Callers that score many batches against a FROZEN
    state (the eval phase: memory stops advancing after the last train
    batch) pass a precomputed `emb`/`pool` so the O(E) neighbour-mean
    embedding aggregation and the node pool build run once per epoch,
    not once per batch."""
    if emb is None:
        emb = tgn_get(graph)
    own_pool = pool is None
    if own_pool:
        pool, n = _neg_pool(graph, emb)
    try:
        if not n:
            return 0.0
        scored = _precision_frame(graph, batch_rows, emb, pool, n)
        r = scored.agg(F.avg((F.col("pos_score") > F.col("neg_score"))
                             .cast("double")).alias("p")).first()
        return round(float(r["p"] or 0.0), 4)
    finally:
        if own_pool:
            from memgraph_spark.session import free_checkpoint
            free_checkpoint(pool)


def tgn_train_and_eval(graph, num_epochs: int = 1) -> DataFrame:
    """tgn.train_and_eval(num_epochs) — replays the buffered edge stream
    (train part re-trains the memory, eval part scores ranking
    precision); yields (epoch_num, batch_num, batch_process_time,
    precision, batch_type) like tgn.py:863. Requires a prior set_eval."""
    st = _state(graph)
    if st["split_idx"] is None:
        raise ValueError("set_eval must be called before train_and_eval "
                         "(no train/eval split recorded)")
    p = st["params"]
    bs = int(p["batch_size"])
    _flush_unprocessed(graph)
    split, total = st["split_idx"], st["edge_count"]
    deep = st["deep"] is not None
    from memgraph_spark.session import free_checkpoint
    rows = []
    for epoch in range(1, int(num_epochs) + 1):
        st["epoch"] = epoch
        if deep:
            # per-epoch clean state (train_eval_epochs, tgn.py:783-786):
            # memory, messages, embeddings and negative pools reset;
            # the learned weights persist across epochs
            st["deep"].epoch_reset()
            st["pending"] = []
            st["seen_src"], st["seen_dst"] = set(), set()
            for key in ("memory", "deep_emb"):
                if st.get(key) is not None:
                    free_checkpoint(st[key])
                    st[key] = None
        batch_no = 0
        for lo in range(0, split, bs):
            rows4 = _batch_rows(graph, lo, min(lo + bs, split))
            t0 = time.perf_counter()
            if deep:
                prec = _process_batch_deep(graph, rows4, train=True)
            else:
                batch = [(s, d, t) for (s, d, t, _q) in rows4]
                _process_batch(graph, batch)
                prec = _eval_precision(graph, batch)
            batch_no += 1
            rows.append((epoch, batch_no,
                         round(time.perf_counter() - t0, 3), prec,
                         "train"))
        # EMA eval phase: memory is frozen after the last train batch, so
        # the O(E) neighbour-mean embedding frame and the negative pool
        # are computed ONCE per epoch and shared by every eval batch
        # (VERDICT r6 item 3); the deep path keeps per-batch state
        # because its memory/messages still advance in eval mode.
        emb_eval = pool_eval = None
        n_eval = 0
        if not deep and split < total:
            emb_eval = tgn_get(graph).localCheckpoint(eager=True)
            pool_eval, n_eval = _neg_pool(graph, emb_eval)
        for lo in range(split, total, bs):
            rows4 = _batch_rows(graph, lo, min(lo + bs, total))
            if not rows4:
                continue
            t0 = time.perf_counter()
            if deep:
                # eval: forward only (no weight update); memory and
                # messages still advance, mirroring TGNMode.Eval
                prec = _process_batch_deep(graph, rows4, train=False)
            else:
                prec = _eval_precision(
                    graph, [(s, d, t) for (s, d, t, _q) in rows4],
                    emb=emb_eval, pool=pool_eval, n=n_eval)
            batch_no += 1
            rows.append((epoch, batch_no,
                         round(time.perf_counter() - t0, 3), prec,
                         "eval"))
        if emb_eval is not None:
            free_checkpoint(emb_eval)
            free_checkpoint(pool_eval)
    st["results"].extend(rows)
    return graph.spark.createDataFrame(
        rows, "epoch_num int, batch_num int, batch_process_time double, "
              "precision double, batch_type string")


def tgn_get_results(graph) -> DataFrame:
    st = _state(graph)
    return graph.spark.createDataFrame(
        [r for r in st["results"] if r[3] is not None] or [],
        "epoch_num int, batch_num int, batch_process_time double, "
        "precision double, batch_type string")


def tgn_reset(graph) -> DataFrame:
    if hasattr(graph, "_tgn_state"):
        from memgraph_spark.session import free_checkpoint
        st = graph._tgn_state
        for key in ("edges_df", "memory", "deep_emb"):
            if st.get(key) is not None:
                free_checkpoint(st[key])
        del graph._tgn_state
    return graph.spark.createDataFrame(
        [("Reset was successful.",)], "message string")
