"""Benchmark harness (mgbench-style, SURVEY §6): runs the headline query set
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a count() action (full pipeline materialization,
no driver-side result transfer) after a warm-up of the input scans.

Noise control: the VM shows +-50% single-run variance, so the measured
numbers are PER-QUERY MEDIANS over $SPARK_GRAFT_BENCH_RUNS hot passes
(default 3) after one unmeasured warm-up; `value` is the sum of medians.
`per_run_totals` carries each pass's wall time for spread inspection.
For a per-query build/action/job split run `python3 perfbench/run.py`;
compare medians from one session, never single passes across days.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from memgraph_spark import queries as Q  # noqa: E402
from memgraph_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "scan_filter_orderby",
    "expand_one_hop",
    "expand_two_hop",
    "region_revenue",
    "optional_match",
    "pattern_anti",
    "agg_distinct",
    "window_topk",
    "unwind_tokens",
    "bfs_reach",
    "var_expand",
    "weighted_shortest",
    "project_subgraph",
    "events_window",
    # Cypher-frontend compiled plans (parse -> AST -> DataFrame)
    "cy_expand_agg",
    "cy_two_hop",
    "cy_with_having",
    "cy_text_bm25",
    # iterative / algorithm operators (round-over-round tail tracking)
    "algo_wcc",
    "algo_knn",
    "algo_topo_layers",
    "algo_katz",
]


def _gc(spark) -> None:
    """Release the previous pass's dead checkpoint blocks (keeps shared
    persisted caches hot — only unreferenced per-round checkpoints go)."""
    import gc
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def run_suite(spark, sf_dir: str, runs: int = 3):
    """One warm-up pass + `runs` measured hot passes.
    Returns (medians, per_run_totals, raw, load_avgs) — load_avgs records
    os.getloadavg()[0] at the start of each measured pass (plus index 0 =
    pre-warm-up, i.e. ambient machine load before we add our own). The VM
    this runs on shows +-50% cross-day variance from noisy neighbours;
    the load trail makes adjudication mechanical: a pass whose AMBIENT
    (pre-suite) load exceeds ~2 with no local processes is a polluted
    window (round-4 A/B saw load 6+ account for a uniform 1.4x
    inflation). Mid-suite samples include our own just-finished pass, so
    only the first sample gates quietness."""
    load_avgs = [round(os.getloadavg()[0], 2)]
    # warm the JVM + file metadata (not the query plans themselves)
    for t in Q.graph_for(spark, sf_dir).tables.values():
        t.count()
    names = [n for n in HEADLINE if n in Q.QUERIES]
    # warm-up pass: mgbench measures hot latency over >=10 iterations with
    # cached plans (tests/mgbench/README.md:213); one unmeasured run per
    # query plays the same role (JIT/codegen + session caches)
    for name in names:
        Q.QUERIES[name](spark, sf_dir).count()
    raw: dict[str, list[float]] = {n: [] for n in names}
    totals: list[float] = []
    for _ in range(runs):
        _gc(spark)
        load_avgs.append(round(os.getloadavg()[0], 2))
        t_all = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            Q.QUERIES[name](spark, sf_dir).count()
            raw[name].append(round(time.perf_counter() - t0, 3))
        totals.append(round(time.perf_counter() - t_all, 3))
    medians = {n: round(statistics.median(v), 3) for n, v in raw.items()}
    return medians, totals, raw, load_avgs


def wait_for_quiet_window(threshold: float = 2.0, max_attempts: int = 6,
                          sleep_s: float = 60.0) -> dict:
    """Mechanical quiet-window guard (repo bench-noise protocol): the
    headline is only comparable when the AMBIENT load (before we add our
    own work) is ~<=2 — round-4 A/B showed load 6+ inflating every query a
    uniform ~1.4x. Both the 1- and the 5-minute averages must be under the
    threshold: the 1-minute value alone reads quiet in a short lull of a
    busy period. Poll up to `max_attempts` times, sleeping `sleep_s`
    between polls, and record the trail of [1-min, 5-min] pairs so the
    artifact shows whether the window was clean. Never aborts — after the
    last attempt the bench runs anyway (the driver needs a number) with
    `quiet` False flagging the pollution."""
    trail = []
    for _ in range(max_attempts):
        loads = [round(x, 2) for x in os.getloadavg()[:2]]
        trail.append(loads)
        if max(loads) <= threshold:
            return {"ambient_trail": trail, "quiet": True,
                    "threshold": threshold}
        time.sleep(sleep_s)
    return {"ambient_trail": trail, "quiet": False, "threshold": threshold}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    guard = wait_for_quiet_window(
        threshold=float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0")),
        max_attempts=int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_TRIES", "6")),
        sleep_s=float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_SLEEP", "60")))
    spark = get_spark("memgraph-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    medians, totals, _raw, load_avgs = run_suite(spark, sf_dir, runs)
    out = {
        "metric": "headline_suite_total",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": medians,
        "runs": runs,
        "per_run_totals": totals,
        "load_avg": load_avgs,
        "load_guard": guard,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # extended sections (VERDICT r3 items 1-2, r4 items 8-9): supernode
    # skew vs a flat twin, a single sf1 pass, dst-hot-key salting, and the
    # Pokec-shaped social workload. Datasets are generated once into
    # .benchdata and reused; failures degrade to an "error" note so the
    # headline metric always lands.
    #
    # The full sections go to a SIDE FILE (BENCHX.json next to this
    # script, or $SPARK_GRAFT_BENCHX_OUT): the round driver parses the
    # final stdout JSON from a 2000-char tail window, and round 5's
    # inline sections pushed the line past it — the headline went
    # unparsed (BENCH_r05.json "parsed": null). Only one-number
    # summaries ride the stdout line now.
    if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "1") != "0":
        from memgraph_spark import benchx
        ext: dict = {}
        try:
            ext["skew"] = benchx.run_skew_bench(spark)
            r = {k: v for k, v in ext["skew"].get("ratio", {}).items()
                 if v is not None}
            out["skew_max_time_ratio"] = max(r.values()) if r else None
        except Exception as exc:  # noqa: BLE001 - bench must not die
            ext["skew"] = {"error": f"{type(exc).__name__}: {exc}"}
            out["skew_max_time_ratio"] = "error"
        try:
            ext["sf1"] = benchx.run_sf1_bench(spark, sf_dir)
            out["sf1_total"] = ext["sf1"].get("total")
        except Exception as exc:  # noqa: BLE001
            ext["sf1"] = {"error": f"{type(exc).__name__}: {exc}"}
            out["sf1_total"] = "error"
        try:
            ext["dsthot"] = benchx.run_dsthot_bench(spark)
            out["dsthot_salted_vs_flat"] = ext["dsthot"].get(
                "salted_vs_flat_ratio")
        except Exception as exc:  # noqa: BLE001
            ext["dsthot"] = {"error": f"{type(exc).__name__}: {exc}"}
            out["dsthot_salted_vs_flat"] = "error"
        try:
            ext["tgn"] = benchx.run_tgn_bench(spark)
            out["tgn_batches_per_sec"] = ext["tgn"].get("batches_per_sec")
        except Exception as exc:  # noqa: BLE001
            ext["tgn"] = {"error": f"{type(exc).__name__}: {exc}"}
            out["tgn_batches_per_sec"] = "error"
        try:
            ext["pokec"] = benchx.run_pokec_bench(spark)
            orc = ext["pokec"].get("oracle", {})
            out["pokec_total"] = round(
                sum(ext["pokec"].get("times", {}).values()), 3)
            out["pokec_oracle_ok"] = (f"{sum(bool(v) for v in orc.values())}"
                                      f"/{len(orc)}")
        except Exception as exc:  # noqa: BLE001
            ext["pokec"] = {"error": f"{type(exc).__name__}: {exc}"}
            out["pokec_total"] = "error"
            out["pokec_oracle_ok"] = "error"
        ext_path = os.environ.get(
            "SPARK_GRAFT_BENCHX_OUT",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCHX.json"))
        try:
            with open(ext_path, "w") as f:
                json.dump(ext, f, indent=1)
            out["extended"] = os.path.basename(ext_path)
        except OSError as exc:
            out["extended"] = f"unwritable: {exc}"
    line = json.dumps(out)
    if len(line) > 1900:
        # never let the stdout line outgrow the driver's tail window:
        # drop the biggest optional fields first, queries last
        for k in ("per_run_totals", "load_avg", "load_guard", "queries"):
            out.pop(k, None)
            line = json.dumps(out)
            if len(line) <= 1900:
                break
    print(line)


if __name__ == "__main__":
    main()
