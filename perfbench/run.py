"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytic,bolt_rw} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the seed's tables under
`.perfbench/` in the checkout, starts a local Spark session on every core
of the machine, runs the workload (see workloads.py) and prints, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics; BENCHMARK.json lists both. The line before it carries
the run context (cores, master, load, CPU steal, seed, source fingerprint)
and the per-operation detail. A traced run also writes its spans to
`.perfbench/trace-<workload>-seed<N>.json`.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from stats import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01
WORKLOADS = ("analytic", "bolt_rw")
# the driver JVM's heap, fixed: with the engine's default ceiling (16g) the
# heap, and so resident memory, grows with GC timing; a run on scale-0.01
# tables keeps ~120 MB live
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "driver.startup_s": "s",
    "catalog.load_s": "s",
    "driver.warmup_s": "s",
    "warmup.first_pass_s": "s",
    "pass.first_over_last": "ratio",
    "pass.build_s": "s",
    "pass.action_s": "s",
    "pass.jobs": "count",
    "pass.jobs_in_build": "count",
    "pass.stages": "count",
    "pass.tasks": "count",
    "pass.failed_tasks": "count",
    **{f"self.{layer}_s": "s" for layer in (
        "queries", "catalog", "plans", "operators", "algos", "llm",
        "search", "server", "spark", "bench")},
    "plans.parse_ms": "ms",
    "plans.execute_ms": "ms",
    "server.pack_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "trace.spans_per_pass": "count",
    "mem.jvm_hwm_mb": "MB",
    "mem.py_hwm_mb": "MB",
    "mem.jvm_heap_live_mb": "MB",
}


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "memgraph_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")))


def _source_fingerprint() -> str:
    """sha256 over the engine's Python sources (the checkout may not be a
    git repository, so the commit is identified by content)."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, "memgraph_spark")
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """The machine-wide `cpu` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between: a
    noisy neighbour shows here."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def _pin_environment(cores: int) -> None:
    """Every run: Spark on all the machine's cores with a fixed driver heap,
    and every scratch file (Spark block manager, JVM and Python temp
    files) inside the checkout."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={WORK}/warehouse"),
        # a heap committed from the start: its size, and so GC behaviour
        # and resident memory, do not depend on when the JVM grows it; no
        # perf-data file under the system temp directory
        "--driver-java-options",
        shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(run, rss_mb: float) -> dict:
    """pass_s is the sum over the workload's operations of each one's
    median time, so one slow pass moves it less than a pass median would."""
    measured = [p for p in run.passes if p.kind == "measure"]
    names = list(measured[0].ops)
    per_op = {n: [p.ops[n].build_s + p.ops[n].action_s for p in measured]
              for n in names}
    return {
        "setup_s": median(run.setups),
        "pass_s": sum(median(v) for v in per_op.values()),
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(run, mem: dict, startup_s: float) -> dict:
    tracer = run.tracer
    light = [p for p in run.passes if p.kind == "light"]
    full = [p for p in run.passes if p.kind == "full"]
    warm = [p for p in run.passes if p.kind == "warmup"]
    measured = [p for p in run.passes if p.kind != "warmup"]
    names = list(light[0].ops)

    def op_sum(passes, attr):
        return sum(median([getattr(p.ops[n], attr) for p in passes])
                   for n in names)

    def pass_sum(passes, attr):
        return median([sum(getattr(s, attr) for s in p.ops.values())
                       for p in passes])

    out = {
        "driver.startup_s": startup_s,
        "catalog.load_s": run.setups[0],
        "driver.warmup_s": run.check_s + sum(p.wall_s for p in warm),
        "warmup.first_pass_s": warm[0].wall_s if warm else run.check_s,
        "pass.first_over_last": measured[0].wall_s / measured[-1].wall_s,
        "pass.build_s": op_sum(light, "build_s"),
        "pass.action_s": op_sum(light, "action_s"),
        "pass.jobs": pass_sum(light, "jobs"),
        "pass.jobs_in_build": pass_sum(light, "jobs_build"),
        "pass.stages": pass_sum(light, "stages"),
        "pass.tasks": pass_sum(light, "tasks"),
        "pass.failed_tasks": pass_sum(light, "failed_tasks"),
    }
    per_pass = []
    for p in full:
        st = tracer.self_times(p.span_first, p.span_last)
        spans = tracer.spans[p.span_first:p.span_last]
        st["parse"] = sum(s.end - s.start for s in spans
                          if s.name == "parser.parse")
        st["execute"] = sum(s.end - s.start for s in spans
                            if s.name == "GraphSession.execute")
        st["pack"] = sum(s.end - s.start for s in spans
                         if s.name == "packstream.pack"
                         and s.thread != tracer.main_thread)
        st["spans"] = len(spans)
        per_pass.append(st)
    for layer in ("queries", "catalog", "plans", "operators", "algos",
                  "llm", "search", "server", "spark", "bench"):
        out[f"self.{layer}_s"] = median([st.get(layer, 0.0)
                                         for st in per_pass])
    out["plans.parse_ms"] = median([st["parse"] for st in per_pass]) * 1e3
    out["plans.execute_ms"] = median([st["execute"] for st in per_pass]) * 1e3
    out["server.pack_ms"] = median([st["pack"] for st in per_pass]) * 1e3
    out["trace.overhead_ratio"] = (median([p.wall_s for p in full])
                                   / median([p.wall_s for p in light]))
    out["trace.spans_per_pass"] = median([st["spans"] for st in per_pass])
    out.update(mem)
    return out


def op_detail(run) -> dict:
    """Per-operation medians over the measured passes (light ones when
    traced): time split, jobs."""
    kinds = ("measure", "light")
    passes = [p for p in run.passes if p.kind in kinds]
    out = {}
    for n in passes[0].ops:
        s = [p.ops[n] for p in passes]
        out[n] = {"build_s": round(median([x.build_s for x in s]), 4),
                  "action_s": round(median([x.action_s for x in s]), 4),
                  "jobs": median([x.jobs for x in s]),
                  "jobs_in_build": median([x.jobs_build for x in s])}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash order for every run: the engine builds plans by
        # iterating sets and dicts, and a run must not draw a different
        # plan shape by chance
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, __file__, *sys.argv[1:]])
    if not _program_present():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    _pin_environment(cores)
    sys.path.insert(0, ROOT)
    import datagen
    from spans import JobCounter, Tracer
    from workloads import ANALYTIC_QUERIES, Run, run_bolt, run_queries

    load_start, ticks_start = os.getloadavg(), _cpu_ticks()
    data_dir = datagen.ensure(os.path.join(WORK, "data"), args.seed, SF)
    from memgraph_spark import queries  # noqa: F401 - loads every layer
    from memgraph_spark.server import bolt  # noqa: F401
    from memgraph_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cores)
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        startup_s = time.perf_counter() - T_START
        run = Run(spark, data_dir, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            run.tracer = Tracer()
            run.df_class = type(spark.range(1))
            run.jobs = JobCounter(sc)
        if args.workload == "bolt_rw":
            run_bolt(run)
        else:
            run_queries(run, ANALYTIC_QUERIES)

        jvm = sc._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        mem = {"mem.jvm_hwm_mb": _hwm_mb(jvm_pid),
               "mem.py_hwm_mb": _hwm_mb("self")}
        jvm.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        mem["mem.jvm_heap_live_mb"] = (rt.totalMemory()
                                       - rt.freeMemory()) / 2**20

        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "sf": SF,
            "cores": cores, "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "load_avg_start": [round(x, 2) for x in load_start],
            "load_avg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": round(_steal_share(ticks_start,
                                                  _cpu_ticks()), 4),
            "commit": _source_fingerprint(),
            "setups_s": [round(x, 3) for x in run.setups],
            "warmup_passes_s": [round(p.wall_s, 3) for p in run.passes
                                if p.kind == "warmup"],
            "measured_passes_s": [round(p.wall_s, 3) for p in run.passes
                                  if p.kind != "warmup"],
            "measured_pass_kinds": "".join(p.kind[0] for p in run.passes
                                           if p.kind != "warmup"),
            "correctness_pass_s": round(run.check_s, 3),
            "correctness_split_s": {k: [round(x, 3) for x in v]
                                    for k, v in run.check_split.items()},
            "problems": run.problems,
            "ops": op_detail(run),
        }
        if args.trace:
            metrics = layer_metrics(run, mem, startup_s)
            units = LAYER_UNITS
            path = os.path.join(
                WORK, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"context": context, "spans": run.tracer.dump()},
                          f)
            context["trace_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = e2e_metrics(
                run, mem["mem.jvm_hwm_mb"] + mem["mem.py_hwm_mb"])
            units = E2E_UNITS
    finally:
        _stop_spark(spark)

    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
