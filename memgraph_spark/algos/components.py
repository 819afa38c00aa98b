"""Connected components + label propagation.

Parity: query_modules/wcc.py and the reference's community_detection modules
(src/mage/cpp/community_detection_module — Louvain/Leiden). WCC here is the
classic min-label propagation to fixpoint (large-star/small-star simplified);
label_propagation is synchronous LPA with a deterministic tie-break, the
scalable stand-in for Louvain-style community detection.

Each round's checkpoint carries the previous label so the fixpoint test is a
cheap aggregate over the cached blocks (no extra join job); the rounds run
on `session.supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import supersteps


def weakly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Returns (id, component) where component = min vertex id reachable via
    undirected paths. Per round each vertex adopts the min label among itself
    and its neighbors; converges in O(diameter) rounds (use doubling/star
    contraction if diameters grow past ~20 at scale)."""
    # hash(a) layout for the per-round propagation join: repartition("a")
    # BEFORE the dedup costs nothing extra (HashPartitioning(a) satisfies
    # the dedup aggregate's ClusteredDistribution(a, b), so the dedup rides
    # the same single exchange) and every round's join on a reuses the
    # cached layout instead of re-shuffling the O(E) edge frame.
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionAll(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
    )
    und = und.repartition("a").dropDuplicates().persist()

    def _prop(frame):
        # fresh aliases (new expr ids) so two lazy steps sharing lineage
        # can't resolve the join ambiguously
        lhs = frame.select(F.col("id").alias("__pid"),
                           F.col("component").alias("__pc"))
        nbr = (lhs.join(und, F.col("__pid") == und["a"], "inner")
               .groupBy(F.col("b").alias("id"))
               .agg(F.min("__pc").alias("nbr")))
        return (frame.select("id", F.col("component").alias("prev"))
                .join(nbr, "id", "left")
                .select("id",
                        F.least(F.col("prev"),
                                F.coalesce(F.col("nbr"),
                                           F.col("prev"))).alias("component"),
                        "prev"))

    # Two-propagations-per-checkpoint batching: the intermediate label
    # frame stays lazy; AQE's stage cache computes its exchanges once even
    # though the second step's plan embeds them twice, so per-round shuffle
    # volume is unchanged while the driver round count halves. Min-label
    # propagation is idempotent at the fixpoint, so stopping on the second
    # sub-step's changed-count yields byte-identical labels. Round r has
    # done 2(r-1) propagations; an odd max_iter ends on a single one.
    def step(frame, trace):
        two = max_iter - 2 * (len(trace) - 1) >= 2
        return _prop(_prop(frame)) if two else _prop(frame)

    # trace[0] (prev null) observes changed 0
    labels, _ = supersteps(
        und.select(F.col("a").alias("id"))
        .dropDuplicates()
        .withColumn("component", F.col("id"))
        .withColumn("prev", F.lit(None).cast("long")),
        step, lambda t: len(t) > 1 and t[-1]["changed"] == 0,
        (max_iter + 1) // 2,
        changed=F.count(F.when(F.col("component") != F.col("prev"), 1)))
    und.unpersist()
    return labels.select("id", "component")


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Synchronous LPA: each vertex adopts the most frequent label among its
    neighbors (ties -> smallest label, fully deterministic). Returns
    (id, label)."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionAll(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
    )
    # same hash(a) layout rationale as weakly_connected_components: the
    # per-round vote join is on a, and the dedup rides the one exchange
    und = und.repartition("a").dropDuplicates().persist()

    def step(labels, trace):
        votes = (
            labels.join(und, labels["id"] == und["a"], "inner")
            .groupBy(F.col("b").alias("id"), F.col("label"))
            .agg(F.count("*").alias("n"))
        )
        # argmax by (n desc, label asc) via max over packed struct
        best = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("s"))
            .select("id", (-F.col("s.neg")).alias("new_label"))
        )
        return (labels.select("id", F.col("label").alias("prev"))
                .join(best, "id", "left")
                .select("id", F.coalesce(F.col("new_label"), F.col("prev")).alias("label"),
                        "prev"))

    # trace[0] (prev null) observes changed 0
    labels, _ = supersteps(
        und.select(F.col("a").alias("id")).dropDuplicates()
        .withColumn("label", F.col("id"))
        .withColumn("prev", F.lit(None).cast("long")),
        step, lambda t: len(t) > 1 and t[-1]["changed"] == 0, max_iter,
        changed=F.count(F.when(F.col("label") != F.col("prev"), 1)))
    und.unpersist()
    return labels.select("id", "label")
