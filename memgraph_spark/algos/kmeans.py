"""K-means clustering over an embedding column, fully JVM-side.

Parity: the reference's kmeans module (src/mage/python/kmeans.py —
`kmeans.get_clusters(n_clusters, embedding_property, ...)` YIELD node,
cluster_id; delegates to single-node sklearn).

Spark re-expression: Lloyd's algorithm where the k x d centroid matrix is a
broadcast array literal. Assignment is argmin over per-centroid squared
distances computed with transform/zip_with/aggregate (whole-stage codegen,
no Python in the loop); the update step is a posexplode + groupBy(cid, pos)
avg — k*d rows back to the driver per round, independent of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans(
    df: DataFrame,
    n_clusters: int,
    max_iter: int = 10,
    tol: float = 1e-4,
    seed: int = 1998,
    id_col: str = "id",
    vec_col: str = "embedding",
    return_model: bool = False,
    train_rows: int | None = None,
):
    """Returns (id, cluster_id) — or ((id, cluster_id), centroids) when
    `return_model` (the IVF coarse quantizer needs the centroid matrix).
    Init: deterministic pseudo-random k rows (hash-ordered sample — the
    distributed analogue of seeded init).

    `train_rows` bounds the Lloyd iterations to the first `train_rows`
    rows of the SAME hash order the init uses (a deterministic sample) —
    the standard quantizer-training bound (cost O(train_rows * k * d)
    per iteration instead of O(n * k * d)); the returned assignment
    still covers every input row. train_rows=None keeps full-corpus
    training, bit-identical to before the parameter existed (the init
    rows are the first k of the same ordering either way); train_rows
    below n_clusters raises ValueError."""
    if train_rows is not None and int(train_rows) < int(n_clusters):
        raise ValueError(
            f"kmeans: train_rows={train_rows} is below n_clusters="
            f"{n_clusters}; the init draws its centroids from the training "
            "rows")
    pts = df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v")) \
        .filter(F.col("v").isNotNull()).persist()
    k = int(n_clusters)
    tr = pts
    if train_rows is not None:
        tr = (pts.orderBy(F.xxhash64(F.col("id") + F.lit(seed)))
              .limit(int(train_rows)).localCheckpoint(eager=True))
    init = tr.orderBy(F.xxhash64(F.col("id") + F.lit(seed))).limit(k).collect()
    centroids = [list(r.v) for r in init]

    def _assign(frame):
        # one F.expr parse instead of k*d F.lit calls: each Column op is a
        # py4j round trip (~ms of driver latency), so the nested literal
        # cost k*d calls PER ITERATION (16x64 = 1024 at the IVF defaults —
        # measured as the dominant cost of the whole ivf query). repr()
        # doubles round-trip exactly; the D suffix keeps Spark SQL from
        # parsing them as decimals, so the expression tree is the same
        # double-typed literal array as before, bit for bit.
        cents = F.expr("array({})".format(",".join(
            "array({})".format(",".join(
                f"{float(x)!r}D" for x in c)) for c in centroids)))
        dists = F.transform(
            cents,
            lambda c: F.aggregate(F.zip_with(c, F.col("v"),
                                             lambda a, b: (a - b) * (a - b)),
                                  F.lit(0.0), lambda acc, x: acc + x))
        return frame.withColumn(
            "cid", (F.array_position(dists, F.array_min(dists)) - 1).cast("int"))

    for _ in range(max_iter):
        assigned = _assign(tr)
        rows = (assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos").agg(F.avg("x").alias("m")).collect())
        new = [list(c) for c in centroids]
        for r in rows:
            new[r.cid][r.pos] = r.m
        shift = max(sum((a - b) ** 2 for a, b in zip(c0, c1)) ** 0.5
                    for c0, c1 in zip(centroids, new))
        centroids = new
        if shift < tol:
            break
    out = _assign(pts).select("id", F.col("cid").alias("cluster_id"))
    if tr is not pts:
        from memgraph_spark.session import free_checkpoint
        free_checkpoint(tr)
    if return_model:
        out = out.localCheckpoint(eager=True)
        pts.unpersist()
        return out, centroids
    pts.unpersist()
    return out
