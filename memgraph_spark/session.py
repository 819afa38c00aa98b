"""SparkSession factory tuned for the test/bench environment.

local[N] single-JVM mode for tests; on a real cluster the same code runs
unchanged — all parallelism is expressed via DataFrame partitioning, never
driver-side loops over collect().
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_frame(spark: SparkSession, schema):
    """Zero-row DataFrame of `schema` (a StructType or DDL string) whose
    consumption runs no Spark job.

    `createDataFrame([], schema)` alone is an RDD of defaultParallelism
    empty partitions: `toLocalIterator()` starts a job per partition and
    `collect()` one job. `limit(0)` lets Catalyst's OptimizeLimitZero fold
    the plan to an empty local relation, and an empty union branch folds
    away the same way. Every empty result is built here."""
    return spark.createDataFrame([], schema).limit(0)


def _relation(spark: SparkSession, jrows, jschema) -> DataFrame:
    """A LocalRelation over a JVM `List<Row>`: exact size statistics (a
    join against it plans as a broadcast), and filters and projections over
    it fold at optimization time."""
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema),
                     spark)


def is_local(df: DataFrame) -> bool:
    """Whether Catalyst folds `df` to a LocalRelation (collecting it then
    runs no Spark job)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getName().endswith(".LocalRelation")


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """DataFrame over driver-side rows whose consumption runs no Spark job.

    `createDataFrame(rows, schema)` is an RDD without size statistics; its
    partitions survive every filter. Here the rows travel as one JSON
    literal, which Catalyst parses into a one-row local relation without a
    job, and become a LocalRelation of their own. Values must be
    JSON-representable: booleans, integers, floats, strings, lists."""
    names = schema.names
    text = json.dumps([dict(zip(names, r)) for r in rows])
    packed = spark.sql("VALUES (1) AS t(__one)").select(
        F.from_json(F.lit(text), T.ArrayType(schema)).alias("rows"))
    jrows = packed._jdf.collectAsList().get(0).getList(0)
    return _relation(spark, jrows,
                     packed._jdf.schema().fields()[0].dataType().elementType())


def collect_local(df: DataFrame) -> tuple[DataFrame, int]:
    """(LocalRelation copy of every row of `df`, their count): one Spark
    job, none for a frame that already folds to a local relation. For
    frames known to be small."""
    jrows = df._jdf.collectAsList()
    return _relation(df.sparkSession, jrows, df._jdf.schema()), jrows.size()


def pin_small(df: DataFrame, limit: int) -> tuple[DataFrame, int | None]:
    """`df` evaluated once: (a LocalRelation copy, its row count) when it
    has at most `limit` rows, else (a local checkpoint of it, None).

    One Spark job evaluates `df` into the blocks of a lazy localCheckpoint
    while at most `limit + 1` of its rows go to the driver in a single
    collect_list; the blocks are freed once the copy is taken. So a larger
    frame is never evaluated twice: a later job over the checkpoint reads
    its blocks. A frame that already folds to a local relation is copied
    without a job."""
    if is_local(df):
        return collect_local(df)
    ck = df.localCheckpoint(eager=False)
    jrows = (ck.limit(limit + 1)
             .agg(F.collect_list(F.struct("*")).alias("rows"))
             ._jdf.collectAsList().get(0).getList(0))
    if jrows.size() > limit:
        return ck, None
    free_checkpoint(ck)
    return _relation(df.sparkSession, jrows, df._jdf.schema()), jrows.size()


def observe_metrics(df: DataFrame, **aggs) -> dict:
    """The aggregate metrics (name -> aggregate Column) of `df`, computed
    in one Spark job with no shuffle: `df` is observed while it is
    written to the no-op sink."""
    from pyspark.sql import Observation
    obs = Observation()
    df.observe(obs, *[c.alias(n) for n, c in aggs.items()]) \
        .write.format("noop").mode("overwrite").save()
    return obs.get


def free_checkpoint(df) -> None:
    """Release the cached blocks behind an eager localCheckpoint DataFrame.

    Iterative operators (BFS / Bellman-Ford / PageRank / Katz / label
    propagation ...) localCheckpoint every round to cut lineage. Spark only
    frees those blocks when the RDD is garbage-collected on the driver, so a
    10-round loop retains 10 generations of frontier blocks — enough storage
    pressure to evict the shared adjacency cache and stall every later
    query. Call this on round N-1's checkpoint once round N's checkpoint is
    materialized. The DataFrame must not be used afterwards.

    A union of checkpoints (a BFS visited set) frees every branch. No-op
    for any other frame (a plan node that is neither a LogicalRDD nor a
    Union of them).
    """
    try:
        plans, rdds = [df._jdf.queryExecution().analyzed()], []
        while plans:
            plan = plans.pop()
            name = plan.getClass().getName()
            if name.endswith(".LogicalRDD"):
                rdds.append(plan.rdd())
            elif name.endswith(".Union"):
                kids = plan.children()
                for i in range(kids.size()):
                    kid = kids.apply(i)
                    # unionByName aligns each later branch with a Project
                    if kid.getClass().getName().endswith(".Project"):
                        kid = kid.child()
                    plans.append(kid)
            else:
                return
        for rdd in rdds:
            rdd.unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block is a perf bug, not a correctness one


def checkpoint_with_metrics(df, **aggs):
    """Eager localCheckpoint returning (checkpointed_df, metrics) where the
    metrics (name -> aggregate Column) are computed DURING the checkpoint's
    materialization job via Dataset.observe — the row count / convergence
    probe that iterative loops need each round comes for free instead of as
    a second job over the cached blocks."""
    from pyspark.sql import Observation
    obs = Observation()
    ck = df.observe(obs, *[c.alias(n) for n, c in aggs.items()]) \
           .localCheckpoint(eager=True)
    return ck, obs.get


def supersteps(init, step, halt, max_rounds, **metrics):
    """Drive a replace-the-state fixpoint loop; returns (frame, trace).

    `init` and every `step(x, trace)` are checkpointed with `metrics`
    observed on the checkpoint job; `trace` is the list of per-round metric
    dicts, trace[0] from `init`. Rounds run while `halt(trace)` is false
    and at most `max_rounds` of them (None = unbounded). A round's
    checkpoint is freed once the next one has materialized; the caller owns
    the final frame."""
    x, m = checkpoint_with_metrics(init, **metrics)
    trace = [m]
    while (max_rounds is None or len(trace) <= max_rounds) and not halt(trace):
        nxt, m = checkpoint_with_metrics(step(x, trace), **metrics)
        free_checkpoint(x)
        x = nxt
        trace.append(m)
    return x, trace


# runaway backstop for frontier loops whose pattern gives no bound (`*`):
# not a semantic cap — every such loop stops at the first round without
# rows, and edge uniqueness bounds a walk by |E|
MAX_ROUNDS = 10_000


def frontier(init, step, halt=None, max_rounds=None, **metrics):
    """Drive an accumulating frontier loop; returns (rounds, trace).

    `init` and every `step(rounds, trace)` are checkpointed with the row
    count `n` and `metrics` observed on the checkpoint job; rounds[i] is
    the i-th checkpoint (rounds[0] from `init`) and trace[i] its metric
    dict. Rounds run until one has no rows (it is freed and not kept),
    `halt(trace)` holds, or `max_rounds` steps have run (None = unbounded).
    Every kept round stays alive: the caller owns them, and
    `free_checkpoint` on their union frees every branch."""
    metrics = {"n": F.count(F.lit(1)), **metrics}
    x, m = checkpoint_with_metrics(init, **metrics)
    rounds, trace = [x], [m]
    while (m["n"] and (max_rounds is None or len(rounds) <= max_rounds)
           and not (halt and halt(trace))):
        x, m = checkpoint_with_metrics(step(rounds, trace), **metrics)
        if not m["n"]:
            free_checkpoint(x)
            break
        rounds.append(x)
        trace.append(m)
    return rounds, trace


def union_rounds(rounds: list) -> DataFrame:
    """unionByName of a frontier's rounds with the partition count
    rebounded: a union's partitions add up over rounds (rounds × P), and
    downstream joins would fan out one task per partition."""
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    p = int(out.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if len(rounds) > 1 and out.rdd.getNumPartitions() > p:
        out = out.coalesce(p)
    return out


def persist_if_needed(df):
    """Persist `df` unless an equivalent plan is already cached.

    Spark's CacheManager matches cached entries by plan equivalence
    (sameResult), so persisting a no-op projection of an already-cached
    frame reuses the existing entry — and unpersisting it REMOVES that
    shared entry. An algorithm that persists its input edge list and
    unpersists it on exit would silently kill the catalog's shared
    adjacency cache whenever the input derives from it. Returns
    (df, release) where release() unpersists only if this call persisted.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df, (lambda: None)
    p = df.persist()
    return p, (lambda: p.unpersist())


def default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: a fixed 16g
    heap lets two concurrent JVMs outgrow a smaller machine."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{max(1, min(16 << 10, phys // 2 >> 20))}m"


def get_spark(app_name: str = "memgraph-spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local cores; AQE coalesces small post-shuffle partitions anyway
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep Spark's default parallelismFirst=true: AQE coalesces small
        # shuffles down to minPartitionSize while never starving cores.
        # `false` (advisory-byte sizing) was tried for a round and REVERTED
        # on measurement: it coalesces the 10-200 MB shuffles of 10x-data
        # suites to 1-3 partitions and serializes real compute (pokec hot
        # passes 1.4-2.4x slower, sf1 total ~4x) while a pinned-worktree
        # A/B showed no clean win on the sf0.1 iterative loops either —
        # a local-only tune and a scale-killer.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # pyspark wraps every DataFrame/Column call to capture its Python
        # call site: a dozen py4j round trips and a stack walk, so F.col
        # costs ~2 ms instead of ~0.6 ms, and iterative loops build frames
        # on the driver every round. Off, an AnalysisException keeps its
        # condition and message and only loses the Python file:line
        # fragment of its DataFrame context
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
