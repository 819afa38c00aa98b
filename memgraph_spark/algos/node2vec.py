"""node2vec: distributed second-order biased random walks + SGNS embeddings.

Parity: the reference's node2vec module
(src/mage/cpp/node2vec_module/node2vec_module.cpp — args registered at
:275-297; walks in algorithm/second_order_random_walk.hpp, embeddings via a
word2vec skip-gram trainer).

Spark re-expression: the walk simulation — the part that scales with graph
size — is fully distributed. Every walk advances one step per round via a
join against the persisted adjacency; the p/q second-order bias needs to
know whether candidate `nxt` neighbours `prev`, which is one more join on
(prev, nxt). Weighted sampling per walk uses the exponential-race trick
(min of -log(u)/w is a draw proportional to w), picked with min_by — one
groupBy per step, no Python in the loop.

The SGNS trainer has two paths:

- small corpora (<= DRIVER_CORPUS_FENCE walks) mirror the reference's
  single-node gensim step: the walk corpus is collected and trained with a
  numpy skip-gram-negative-sampling loop — bit-for-bit deterministic.
- larger corpora stay distributed: per-epoch model averaging (the Spark
  MLlib Word2Vec scheme). The walk corpus is partitioned, each partition
  trains a local copy of the broadcast weight matrices with the same numpy
  inner loop, and the driver merges per-row weight deltas averaged over the
  partitions that touched each row. Only the O(V x dims) parameter matrices
  ever live on the driver — the corpus (the dimension that scales with
  graph size) is never collected.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame


def node2vec_walks(
    graph,
    p: float = 2.0,
    q: float = 0.5,
    num_walks: int = 4,
    walk_length: int = 5,
    etype: str | None = None,
    is_directed: bool = False,
    seed: int = 1,
    weighted_adj: DataFrame | None = None,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """Returns (start, rep, step, node) — one row per visited position;
    group by (start, rep) and sort by step to recover each walk.

    `weighted_adj` overrides the adjacency with a traversal-oriented
    (src, dst, w) frame whose `w` multiplies the p/q bias in the
    per-step exponential race — StreamWalk-style temporal decay
    (node2vec_online's half_life). The unweighted plan is untouched when
    it is None, so existing callers keep bit-identical seeded draws.
    `start_nodes` overrides the walk-start set (an `id` column) — e.g.
    full-history endpoints whose live edges were cut off, which must keep
    their length-1 walk so they stay in the vocabulary."""
    direction = "out" if is_directed else "both"
    if weighted_adj is not None:
        adj = weighted_adj.select("src", "dst", F.col("w").alias("__ew"))
    else:
        adj = graph.adjacency(etype, direction)
    if start_nodes is not None:
        nodes = start_nodes.select("id").dropDuplicates()
    else:
        nodes = (adj.select(F.col("src").alias("id"))
                 .unionAll(adj.select(F.col("dst").alias("id")))
                 .dropDuplicates())
    reps = graph.spark.range(num_walks).select(F.col("id").cast("int").alias("rep"))
    state = (nodes.crossJoin(reps)
             .select(F.col("id").alias("start"), "rep",
                     F.lit(None).cast("long").alias("prev"),
                     F.col("id").alias("cur"))
             .localCheckpoint(eager=True))
    trace = [state.select("start", "rep", F.lit(0).alias("step"),
                          F.col("cur").alias("node"))]
    nbr = adj.select(F.col("src").alias("prev"), F.col("dst").alias("nxt"),
                     F.lit(1).alias("is_nbr"))
    if weighted_adj is not None:
        # weighted frames may repeat (src, dst) — one row per arrival —
        # and nbr is an existence flag, so dedup to avoid candidate
        # multiplication; the unweighted adjacency is already deduped and
        # must keep its exact plan (seeded rand draws are layout-sensitive)
        nbr = nbr.dropDuplicates()
    for step in range(1, walk_length):
        cand_cols = ["start", "rep", "prev", "cur",
                     F.col("dst").alias("nxt")]
        if weighted_adj is not None:
            cand_cols.append("__ew")
        cand = (state.join(adj, state["cur"] == adj["src"])
                .select(*cand_cols)
                .join(nbr, ["prev", "nxt"], "left"))
        w = (F.when(F.col("prev").isNull(), F.lit(1.0))            # first hop
             .when(F.col("nxt") == F.col("prev"), F.lit(1.0 / p))  # return
             .when(F.col("is_nbr") == 1, F.lit(1.0))               # stay close
             .otherwise(F.lit(1.0 / q)))                           # explore
        if weighted_adj is not None:
            w = w * F.col("__ew")
        race = -F.log(F.rand(seed + step) + F.lit(1e-12)) / w
        state = (cand.withColumn("r", race)
                 .groupBy("start", "rep")
                 .agg(F.min_by("nxt", "r").alias("cur"),
                      F.any_value("cur").alias("prev"))
                 .select("start", "rep", "prev", "cur")
                 .localCheckpoint(eager=True))
        if state.isEmpty():
            break
        trace.append(state.select("start", "rep", F.lit(step).alias("step"),
                                  F.col("cur").alias("node")))
    out = trace[0]
    for t in trace[1:]:
        out = out.unionByName(t)
    return out


def _train_walk(W, C, ids, window, negative, probs, rng, lr):
    """One SGNS pass over a single walk (shared by both trainer paths)."""
    V = len(probs)
    for i, c in enumerate(ids):
        lo, hi = max(0, i - window), min(len(ids), i + window + 1)
        for j in range(lo, hi):
            if j == i:
                continue
            o = ids[j]
            negs = rng.choice(V, size=negative, p=probs)
            targets = np.concatenate(([o], negs))
            labels = np.zeros(len(targets))
            labels[0] = 1.0
            vecs = C[targets]                      # (k+1, d)
            scores = 1.0 / (1.0 + np.exp(-vecs @ W[c]))
            g = (labels - scores) * lr             # (k+1,)
            C[targets] += np.outer(g, W[c])
            W[c] += g @ vecs


def _sgns_train(corpus, dims, window, epochs, negative, alpha, min_alpha, seed):
    """Numpy skip-gram negative sampling over the collected walk corpus
    (the reference delegates this exact step to single-node gensim)."""
    vocab = sorted({n for walk in corpus for n in walk})
    idx = {n: i for i, n in enumerate(vocab)}
    V = len(vocab)
    rng = np.random.default_rng(seed)
    W = (rng.random((V, dims)) - 0.5) / dims     # input vectors
    C = np.zeros((V, dims))                      # context vectors
    # unigram^0.75 negative-sampling table
    counts = np.zeros(V)
    for walk in corpus:
        for n in walk:
            counts[idx[n]] += 1
    probs = counts ** 0.75
    probs /= probs.sum()
    steps = max(1, epochs * len(corpus))
    t = 0
    for epoch in range(epochs):
        for walk in corpus:
            lr = max(min_alpha, alpha * (1 - t / steps))
            t += 1
            _train_walk(W, C, [idx[n] for n in walk], window, negative,
                        probs, rng, lr)
    return vocab, W


# Walk-count fence between the driver-exact SGNS (gensim-parity, fully
# deterministic) and the distributed model-averaging trainer.
DRIVER_CORPUS_FENCE = 50_000


def _sgns_train_distributed(seqs, dims, window, epochs, negative, alpha,
                            min_alpha, seed, n_parts=None):
    """Distributed SGNS via per-epoch model averaging (the Spark MLlib
    Word2Vec scheme: broadcast parameters -> per-partition local training
    -> merge per-row deltas averaged over the partitions that touched the
    row). `seqs` is a DataFrame with an array<long> `seq` column; it is
    partitioned once and reused across epochs — never collected. Driver
    memory is O(V x dims) for the parameter matrices, the same envelope as
    MLlib Word2Vec; the corpus side scales out."""
    spark = seqs.sparkSession
    sc = spark.sparkContext
    vocab_rows = (seqs.select(F.explode("seq").alias("node"))
                  .groupBy("node").count().orderBy("node").collect())
    vocab = [r["node"] for r in vocab_rows]
    if not vocab:
        return [], np.zeros((0, dims))
    idx = {n: i for i, n in enumerate(vocab)}
    V = len(vocab)
    counts = np.array([r["count"] for r in vocab_rows], dtype=float)
    probs = counts ** 0.75
    probs /= probs.sum()
    rng = np.random.default_rng(seed)
    W = (rng.random((V, dims)) - 0.5) / dims
    C = np.zeros((V, dims))

    if n_parts is None:
        n_parts = max(2, sc.defaultParallelism)
    b_idx = sc.broadcast(idx)
    b_probs = sc.broadcast(probs)
    # stable partition assignment -> deterministic per-partition rng streams
    walks_rdd = (seqs.select("seq").rdd
                 .map(lambda r: list(r["seq"]))
                 .sortBy(lambda w: tuple(w), numPartitions=n_parts)
                 .persist())
    n_walks = walks_rdd.count()
    steps = max(1, epochs * max(1, n_walks // n_parts))

    for epoch in range(epochs):
        b_W = sc.broadcast(W)
        b_C = sc.broadcast(C)

        def train_part(pid, it, _epoch=epoch, _steps=steps):
            Wl = b_W.value.copy()
            Cl = b_C.value.copy()
            local_idx = b_idx.value
            local_probs = b_probs.value
            prng = np.random.default_rng(
                (seed * 1_000_003 + _epoch * 7919 + pid * 104_729) % (2**63))
            touched = np.zeros(len(local_probs), dtype=np.int64)
            t = _epoch * max(1, _steps // max(1, epochs))
            n_local = 0
            for walk in it:
                lr = max(min_alpha, alpha * (1 - t / _steps))
                t += 1
                n_local += 1
                ids = [local_idx[n] for n in walk]
                _train_walk(Wl, Cl, ids, window, negative, local_probs,
                            prng, lr)
                for i in ids:
                    touched[i] = 1
            if n_local == 0:
                return iter(())
            return iter([(Wl - b_W.value, Cl - b_C.value, touched)])

        zero = (np.zeros((V, dims)), np.zeros((V, dims)),
                np.zeros(V, dtype=np.int64))
        dW, dC, tch = walks_rdd.mapPartitionsWithIndex(train_part).treeAggregate(
            zero,
            lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
            lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
        )
        scale = 1.0 / np.maximum(tch, 1)
        W = W + dW * scale[:, None]
        C = C + dC * scale[:, None]
        b_W.destroy()
        b_C.destroy()
    walks_rdd.unpersist()
    return vocab, W


def node2vec_embeddings(
    graph,
    is_directed: bool = False,
    p: float = 2.0,
    q: float = 0.5,
    num_walks: int = 4,
    walk_length: int = 5,
    vector_size: int = 100,
    alpha: float = 0.025,
    window: int = 5,
    negative: int = 5,
    epochs: int = 5,
    min_alpha: float = 0.0001,
    seed: int = 1,
    etype: str | None = None,
    distributed: bool | None = None,
    weighted_adj: DataFrame | None = None,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """node2vec.get_embeddings parity: returns (node, embedding) rows
    (the reference packs them into two parallel lists — same content).

    `distributed=None` auto-routes: corpora up to DRIVER_CORPUS_FENCE walks
    use the driver-exact trainer (gensim parity), larger ones the
    model-averaging distributed trainer. `weighted_adj`/`start_nodes`
    pass through to node2vec_walks (temporal decay for node2vec_online)."""
    walks = node2vec_walks(graph, p, q, num_walks, walk_length, etype,
                           is_directed, seed, weighted_adj=weighted_adj,
                           start_nodes=start_nodes)
    seqs = (walks.groupBy("start", "rep")
            .agg(F.transform(F.sort_array(F.collect_list(F.struct("step", "node"))),
                             lambda s: s["node"]).alias("seq")))
    if distributed is None:
        distributed = seqs.count() > DRIVER_CORPUS_FENCE
    if distributed:
        vocab, W = _sgns_train_distributed(seqs, vector_size, window, epochs,
                                           negative, alpha, min_alpha, seed)
    else:
        corpus = [r.seq for r in seqs.collect()]
        if not corpus:
            return empty_frame(
                graph.spark, "node long, embedding array<double>")
        vocab, W = _sgns_train(corpus, vector_size, window, epochs, negative,
                               alpha, min_alpha, seed)
    if not len(vocab):
        return empty_frame(graph.spark, "node long, embedding array<double>")
    rows = [(int(n), [float(x) for x in W[i]]) for i, n in enumerate(vocab)]
    return graph.spark.createDataFrame(rows, "node long, embedding array<double>")
