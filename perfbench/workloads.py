"""Workload runners: analytic (queries) and bolt_rw (Bolt statements).

Every run follows the same shape:

1. cold set-up: build the graph catalog and count every table;
2. the first execution of every operation, timed but not measured: the
   correctness pass of analytic, one warm-up block of bolt_rw;
3. measured passes until the run's seconds are used up (at least
   MIN_QUERY_PASSES or MIN_BOLT_BLOCKS of them);
4. further set-ups on the warm JVM, for the median set-up time.

A pass runs every operation of the workload once: each query built and
run to `.count()`, or one Bolt statement of every class. In a traced run
the measured passes alternate between light passes (timings and job
counts only) and full passes (spans around every layer call as well).
"""

from __future__ import annotations

import gc
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from boltload import (BoltClient, FINAL_CHECKS, STATEMENTS, GraphModel,
                      statement_blocks)
from spans import JobCounter, Tracer

MIN_QUERY_PASSES = 3
# a Bolt pass is a block of five statements (~7 s); blocks agree closely
# within a run, so two are measured after one warm-up block
MIN_BOLT_BLOCKS = 2
WARMUP_BOLT_BLOCKS = 1
SETUP_REPEATS = 3  # the cold set-up plus two on the warm JVM

# one pass of the analytic workload, in run order: Catalyst joins over the
# catalog's scans, BM25 search through a compiled Cypher CALL, exact kNN,
# and one of the iterative superstep loops
ANALYTIC_QUERIES = ("region_revenue", "cy_text_bm25", "algo_knn",
                    "weighted_shortest")


@dataclass
class OpSample:
    build_s: float
    action_s: float
    jobs_build: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


@dataclass
class PassRecord:
    kind: str  # "warmup", "measure", "light" or "full"
    wall_s: float
    ops: dict[str, OpSample]
    span_first: int = 0
    span_last: int = 0


@dataclass
class Run:
    """State shared by one benchmark run."""
    spark: object
    data_dir: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer | None = None
    df_class: type | None = None  # DataFrame class whose actions are traced
    jobs: JobCounter | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    passes: list[PassRecord] = field(default_factory=list)
    check_s: float = 0.0
    # per query: (engine seconds, oracle seconds) of the correctness pass
    check_split: dict = field(default_factory=dict)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def span(self, name: str, layer: str):
        """A span around a benchmark step (recorded in full passes only)."""
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def collect_garbage(self) -> None:
        """Full GC in both processes, so a pass does not pay for the
        garbage of the one before it."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def measure(self, one_pass, min_passes: int) -> None:
        """Measured passes until `seconds` are used, at least
        `min_passes`."""
        if self.tracer is not None and self.df_class is not None:
            # installed only now, after the untimed passes have imported
            # every module the workload loads lazily
            self.tracer.install(self.df_class)
            self.df_class = None
        t0 = time.perf_counter()
        n = 0
        while n < min_passes or time.perf_counter() - t0 < self.seconds:
            self.collect_garbage()
            kind = ("light", "full")[n % 2] if self.trace else "measure"
            if self.tracer is not None:
                self.tracer.enabled = kind == "full"
            first = len(self.tracer.spans) if self.tracer else 0
            rec = one_pass(kind, f"p{len(self.passes)}")
            if self.tracer is not None:
                self.tracer.enabled = False
                rec.span_first, rec.span_last = first, len(self.tracer.spans)
            self.passes.append(rec)
            n += 1


def touch_graph(spark, data_dir: str, cached: bool):
    """One set-up: build the graph catalog over the parquet tables and run
    one count over every table. `cached` goes through the session graph
    cache the queries use; otherwise a fresh, uncached graph is built."""
    from memgraph_spark.catalog import graph_for, load_tpch_graph
    g = graph_for(spark, data_dir) if cached else load_tpch_graph(spark,
                                                                  data_dir)
    for t in g.tables.values():
        t.count()
    return g


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# analytic
# ---------------------------------------------------------------------------

def run_queries(run: Run, names: tuple[str, ...]) -> None:
    from memgraph_spark import queries as Q
    from tests.oracle import compare, duckdb_conn

    spark = run.spark
    _, t = _timed(lambda: touch_graph(spark, run.data_dir, cached=True))
    run.setups.append(t)

    # correctness: the first execution of each query, against its oracle
    con = duckdb_conn(run.data_dir)
    expected_rows: dict[str, int] = {}
    t0 = time.perf_counter()
    try:
        for name in names:
            t_q = time.perf_counter()
            result = _Collected(Q.QUERIES[name](spark, run.data_dir))
            t_o = time.perf_counter()
            problems = compare(result, con, Q.ORACLES[name])
            run.check_split[name] = (t_o - t_q, time.perf_counter() - t_o)
            expected_rows[name] = len(result.rows)
            run.record(not problems, f"{name}: {problems}")
    finally:
        con.close()
    run.check_s = time.perf_counter() - t0

    def one_pass(kind: str, pid: str) -> PassRecord:
        ops = {}
        t_pass = time.perf_counter()
        for name in names:
            ops[name] = _query_op(run, Q.QUERIES[name], name, pid,
                                  expected_rows[name])
        return PassRecord(kind, time.perf_counter() - t_pass, ops)

    run.measure(one_pass, MIN_QUERY_PASSES)
    for _ in range(SETUP_REPEATS - 1):
        _, t = _timed(lambda: touch_graph(spark, run.data_dir, cached=False))
        run.setups.append(t)


class _Collected:
    """A query result collected once, for `tests.oracle.compare`; when the
    comparison passes, its row count is the oracle's too."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


def _query_op(run: Run, query, name: str, pid: str,
              expected_rows: int) -> OpSample:
    jc = run.jobs
    op = f"{pid}:{name}"
    if run.tracer is not None:
        run.tracer.op = op
    if jc is not None:
        jc.set_group(op + ":build")
    t0 = time.perf_counter()
    with run.span(f"build:{name}", "queries"):
        df = query(run.spark, run.data_dir)
    t1 = time.perf_counter()
    if jc is not None:
        jc.set_group(op + ":action")
    with run.span(f"action:{name}", "bench"):
        n = df.count()
    t2 = time.perf_counter()
    run.record(n == expected_rows,
               f"{op}: count {n}, oracle has {expected_rows} rows")
    sample = OpSample(t1 - t0, t2 - t1)
    if jc is not None:
        jc.set_group(None)
        jb, ja = jc.jobs(op + ":build"), jc.jobs(op + ":action")
        sample.jobs_build, sample.jobs = len(jb), len(jb) + len(ja)
        sample.stages, sample.tasks, sample.failed_tasks = \
            jc.stage_task_counts(jb | ja)
    return sample


# ---------------------------------------------------------------------------
# bolt_rw
# ---------------------------------------------------------------------------

def _bolt_setup(spark, data_dir: str, cached: bool):
    from memgraph_spark.server import BoltServer
    g = touch_graph(spark, data_dir, cached)
    server = BoltServer(g, port=0).start()
    try:
        client = BoltClient(server.host, server.port)
    except Exception:
        server.stop()
        raise
    return server, client


def run_bolt(run: Run) -> None:
    spark = run.spark
    (server, client), t = _timed(lambda: _bolt_setup(spark, run.data_dir,
                                                     cached=True))
    run.setups.append(t)
    model = GraphModel.load(run.data_dir)
    # enough blocks for any run length; the run executes a prefix
    blocks = iter(statement_blocks(run.seed, len(model.names),
                                   model.n_edges, 10_000))
    jc = run.jobs
    try:
        def one_pass(kind: str, pid: str) -> PassRecord:
            ops = {}
            t_pass = time.perf_counter()
            for st in next(blocks):
                ops[st.cls] = _bolt_op(run, client, model, st,
                                       f"{pid}:{st.cls}")
            return PassRecord(kind, time.perf_counter() - t_pass, ops)

        if jc is not None:
            # the client's own thread stays in a group of its own, so the
            # ungrouped jobs are exactly the server thread's
            jc.set_group("perfbench:client")
        for i in range(WARMUP_BOLT_BLOCKS):
            run.passes.append(one_pass("warmup", f"w{i}"))
        run.measure(one_pass, MIN_BOLT_BLOCKS)

        # final state, untimed
        want = model.final_expectations()
        for whats, query in FINAL_CHECKS.items():
            records, _, _, failure = client.run(query, {})
            got = (records[0] if len(records) == 1 and not failure
                   else [None] * len(whats))
            for what, value in zip(whats, got):
                exp = want[what]
                ok = (value is not None
                      and abs(value - exp) <= 1e-9 * abs(exp) + 1e-6)
                run.record(ok, f"final {what}: got {value}, expected {exp}"
                               + (f" ({failure})" if failure else ""))
    finally:
        client.close()
        server.stop()
    for _ in range(SETUP_REPEATS - 1):
        (server, client), t = _timed(lambda: _bolt_setup(
            spark, run.data_dir, cached=False))
        run.setups.append(t)
        client.close()
        server.stop()


def _bolt_op(run: Run, client: BoltClient, model: GraphModel, st,
             op: str) -> OpSample:
    jc = run.jobs
    if run.tracer is not None:
        run.tracer.op = op
    before = jc.jobs(None) if jc is not None else set()
    after_run: set[int] = set()
    on_run = (lambda: after_run.update(jc.jobs(None))) if jc else None
    with run.span(f"statement:{st.cls}", "bench"):
        records, run_s, pull_s, failure = client.run(
            STATEMENTS[st.cls], st.params, on_run)
    if failure is None:
        model.apply(st)
        mismatch = model.check(st, records)
    else:
        mismatch = f"{st.cls} failed: {failure}"
    run.record(mismatch is None, f"{op}: {mismatch}")
    sample = OpSample(run_s, pull_s)
    if jc is not None:
        new = jc.jobs(None) - before
        sample.jobs, sample.jobs_build = len(new), len(after_run - before)
        sample.stages, sample.tasks, sample.failed_tasks = \
            jc.stage_task_counts(new)
    return sample
