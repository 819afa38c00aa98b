"""PageRank as iterative DataFrame message passing.

Parity: the reference's pagerank module (src/mage/cpp/pagerank_module/,
power-iteration over the in-memory graph). Spark re-expression: per round,
rank mass flows src->dst through one groupBy(dst) shuffle; dangling mass is
redistributed uniformly. Out-degrees and the edge list are computed once and
persisted; each round's plan is O(1) deep thanks to localCheckpoint.

Per-round job budget: the checkpointed rank frame carries (deg, prev) so the
dangling-mass probe and the L1-delta convergence probe are ONE aggregate
scan over the cached blocks — no extra joins. The rounds run on
`session.supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import persist_if_needed, supersteps


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1.0e-6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Returns (id, rank); ranks sum to 1. `edges` is any (src, dst) DataFrame.

    Convergence: stops when L1 rank delta < tol (folded into the dangling
    probe) or after max_iter rounds. Partition strategy: ranks and edges are
    both hash-partitioned on the vertex id by the groupBy, so consecutive
    rounds reuse the exchange (AQE coalesces the small rank side).
    """
    e, release_e = persist_if_needed(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")))
    vertices, release_v = persist_if_needed(
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    n = vertices.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))

    # rank frame schema: (id, rank, prev, deg) — deg null marks dangling

    def step(ranks, trace):
        msgs = (
            ranks.filter(F.col("deg").isNotNull())
            .join(e, ranks["id"] == e["src"], "inner")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("m"))
            .groupBy("id").agg(F.sum("m").alias("recv"))
        )
        return (
            ranks.select("id", F.col("rank").alias("prev"), "deg")
            .join(msgs, "id", "left")
            .select(
                "id",
                (F.lit((1 - damping) / n)
                 + F.lit(damping) * (F.coalesce(F.col("recv"), F.lit(0.0))
                                     + F.lit(trace[-1]["dangling"] / n))).alias("rank"),
                "prev", "deg",
            ))

    # the dangling-mass + convergence-delta probe rides each checkpoint's
    # materialization job via observe; an empty graph observes delta None
    ranks, _ = supersteps(
        vertices.join(out_deg, vertices["id"] == out_deg["src"], "left")
        .select(vertices["id"], F.lit(1.0 / max(n, 1)).alias("rank"),
                F.lit(0.0).alias("prev"), "deg"),
        step,
        lambda t: t[-1]["delta"] is None
        or (tol is not None and t[-1]["delta"] < tol),
        max_iter,
        dangling=F.coalesce(
            F.sum(F.when(F.col("deg").isNull(), F.col("rank"))), F.lit(0.0)),
        delta=F.sum(F.abs(F.col("rank") - F.col("prev"))))
    release_e(); release_v()
    return ranks.select("id", "rank")
