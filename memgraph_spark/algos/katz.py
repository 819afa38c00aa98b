"""Katz centrality as iterative message passing.

Parity: the reference's katz_centrality module
(src/mage/cpp/katz_centrality_module/katz_centrality_module.cpp:61-70 —
alpha=0.2, epsilon=1e-2, YIELD node, rank).

Spark re-expression: the truncated Katz series x = sum_k alpha^k (A^T)^k 1
via the fixpoint x <- alpha * A^T (x + 1). Shuffle shape per round: the edge
list is hash-partitioned on dst ONCE and cached; the (small) rank frame is
broadcast into the edge join, so the per-dst aggregation reuses the cached
partitioning and a round runs without re-shuffling the edges. Past the
broadcast threshold the rank frame shuffles by src instead — the edges still
never move. The rounds run on `session.supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import supersteps


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.2,
    epsilon: float = 1e-2,
    max_iter: int = 50,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Returns (id, rank). Converges when the max per-node change < epsilon
    (guaranteed for alpha below 1/lambda_max; bounded by max_iter)."""
    from memgraph_spark.operators.expand import (BROADCAST_FRONTIER_ROWS,
                                                 _maybe_broadcast)
    raw = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    layout = []  # the edge list, partitioned on the first round

    def step(x, trace):
        n = trace[0]["n"]
        if not layout:
            # Partition the edge list ONCE by the key the rounds' joins
            # need: a broadcast rank frame makes the join map-side and the
            # per-dst aggregation reuses a dst layout; past the broadcast
            # threshold the join needs a src layout (the rank side shuffles,
            # the edges stay put). Column-only repartition lets AQE coalesce.
            layout.append(raw.repartition(
                "dst" if n <= BROADCAST_FRONTIER_ROWS else "src").persist())
        e = layout[0]
        lhs = _maybe_broadcast(x, n)
        msgs = (lhs.join(e, x["id"] == e["src"])
                .select(F.col("dst").alias("id"),
                        (F.lit(alpha) * (F.col("rank") + 1.0)).alias("m"))
                .groupBy("id").agg(F.sum("m").alias("recv")))
        return (x.select("id", F.col("rank").alias("prev"))
                .join(msgs, "id", "left")
                .select("id", F.coalesce("recv", F.lit(0.0)).alias("rank"),
                        "prev"))

    # trace[0] (rank == prev) observes diff 0; an empty graph has n == 0
    x, _ = supersteps(
        raw.select(F.col("src").alias("id"))
        .unionAll(raw.select(F.col("dst").alias("id")))
        .dropDuplicates()
        .select("id", F.lit(0.0).alias("rank"), F.lit(0.0).alias("prev")),
        step,
        lambda t: t[0]["n"] == 0 or (len(t) > 1 and t[-1]["diff"] < epsilon),
        max_iter,
        n=F.count(F.lit(1)), diff=F.max(F.abs(F.col("rank") - F.col("prev"))))
    for e in layout:
        e.unpersist()
    return x.select("id", "rank")
