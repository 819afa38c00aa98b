"""Run the reference's gql_behave corpus against our engine and report.

Usage:
  python corpus_report.py                     # both suites, writes CORPUS.md
  python corpus_report.py aggregations        # only matching feature files
  python corpus_report.py -v match.feature    # verbose: print each failure
  python corpus_report.py --changed-features  # only features whose clause
      area maps to memgraph_spark files changed since the last FULL
      snapshot (recorded in corpus_snapshot_meta.json at full-run
      completion). Regressions surface within a round instead of at
      snapshot time; falls back to the full run when there is no snapshot
      or a changed file has no feature mapping (parser/core changes).
      Targeted runs print summary lines only — fold them into the snapshot
      with merge_corpus.py.

CORPUS.md is REGENERATED wholesale on full runs; persistent prose lives in
the DEVIATIONS constant below, never hand-edited into CORPUS.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tests"))

from gql_corpus import (  # noqa: E402
    CORPUS_ROOT, corpus_files, graphs_dir_for, parse_feature, run_scenario,
)
from memgraph_spark.session import get_spark  # noqa: E402

SUITES = ["memgraph_V1", "openCypher_M09", "stackoverflow_answers",
          "unstable"]

# clause-area map for --changed-features: engine module (path substring) ->
# lowercase substrings matched against feature FILE names. A changed file
# matching no entry forces a full run (conservative).
MODULE_FEATURES = {
    "plans/writes.py": ["creat", "delete", "merge", "set", "remove",
                        "update", "foreach", "periodic"],
    "plans/exprs.py": ["function", "expression", "aggregation", "list",
                       "map", "case", "string", "literal", "ternary",
                       "null", "comparison", "typeconversion", "temporal",
                       "operator", "startswith", "precedence", "quantifi"],
    "plans/traversal.py": ["match", "varlength", "hops", "shortest", "path",
                           "triadic", "selfrelationship", "wsp", "caching"],
    "operators/expand.py": ["match", "varlength", "shortest", "triadic",
                            "selfrelationship", "wsp"],
    "operators/kshortest.py": ["shortest", "wsp"],
    "operators/joins.py": ["match", "optional", "cartesian", "exists"],
    "operators/aggregate.py": ["aggregation", "with", "return"],
    "plans/session.py": ["with", "return", "union", "unwind", "optional",
                         "orderby", "skiplimit", "where", "subquer", "call",
                         "procedure", "pattern_comprehension",
                         "patterncomprehension", "match", "caching",
                         "aggregation", "functions"],
    "functions/spatial.py": ["spatial", "point"],
    "functions/": ["function", "temporal", "string"],
    "search/": ["text", "vector"],
    "procedures.py": ["procedure", "call"],
    "admin.py": ["index", "constraint", "memgraph", "database", "vector",
                 "text", "stream", "server", "ttl", "enum"],
    "tests/gql_corpus.py": None,  # runner change: full run
    "plans/parser.py": None,      # grammar change: full run
    # modules with no openCypher/TCK corpus surface: changes there never
    # require a corpus re-run (algorithms, LLM ops, wire servers, bench
    # harnesses, streaming sources are covered by pytest, not gherkin)
    "catalog.py": ["match", "caching"],
    "schema.py": ["index", "constraint"],
    "algos/": [],
    "llm/": [],
    "server/": [],
    "streaming/": [],
    "search/text_index.py": ["text"],
    "benchx.py": [],
    "queries": [],                # queries.py / queries_*.py (bench defs)
    "memgraph_spark/session.py": [],   # perf utils (checkpoint helpers)
    "modules_ext": [],
    "refactor_ext.py": ["procedure", "call"],
}


def changed_feature_patterns() -> set[str] | None:
    """Feature-name substrings to re-run, from files changed since the last
    full snapshot. None = run everything."""
    try:
        base = json.load(open("corpus_snapshot_meta.json"))["commit"]
    except Exception:  # noqa: BLE001 — no snapshot yet
        return None
    diff = subprocess.run(["git", "diff", "--name-only", base],
                          capture_output=True, text=True)
    if diff.returncode != 0:
        return None
    pats: set[str] = set()
    for f in diff.stdout.split():
        if not (f.startswith("memgraph_spark/") or f == "tests/gql_corpus.py"):
            continue
        hit = False
        for prefix, feats in MODULE_FEATURES.items():
            if prefix in f:
                if feats is None:
                    return None  # core change: everything may be affected
                pats.update(feats)
                hit = True
        if not hit:
            return None  # unmapped engine file: be conservative
    return pats


def main() -> None:
    if not os.path.isdir(CORPUS_ROOT):
        sys.exit(f"corpus_report: corpus root {CORPUS_ROOT} is missing; "
                 "nothing was run — corpus_results.json is the pinned "
                 "snapshot")
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    verbose = "-v" in sys.argv
    pattern = args[0] if args else None
    # --shard=K/N: run every Nth feature (round-robin by position) and write
    # corpus_results.shardK_N.json — N parallel processes cover the full
    # corpus in ~1/N wall-clock; fold the shard jsons + regenerate CORPUS.md
    # with `python merge_corpus.py corpus_results.shard*_N.json`
    shard = None
    for a in sys.argv[1:]:
        if a.startswith("--shard="):
            k, n = a.split("=", 1)[1].split("/")
            shard = (int(k), int(n))
    changed_pats: set[str] | None = None
    if "--changed-features" in sys.argv:
        changed_pats = changed_feature_patterns()
        if changed_pats is not None:
            if not changed_pats:
                print("no engine files changed since the last snapshot; "
                      "nothing to re-run")
                return
            print(f"re-running features matching: {sorted(changed_pats)}")
            pattern = pattern or "__changed__"  # suppress snapshot writes

    spark = get_spark("gql-corpus", os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("OFF")

    results: dict[str, dict] = {}
    t0 = time.time()
    feature_idx = -1
    for suite in SUITES:
        gdir = graphs_dir_for(suite)
        for path in corpus_files(suite):
            fname = os.path.basename(path)
            feature_idx += 1
            if shard is not None and feature_idx % shard[1] != shard[0]:
                continue
            if changed_pats is not None:
                if not any(p in fname.lower() for p in changed_pats):
                    continue
            elif pattern and pattern not in fname:
                continue
            scenarios = parse_feature(path)
            from gql_corpus import reset_persistent
            reset_persistent()  # enums persist across scenarios, not files
            stats = {"pass": 0, "fail": 0, "error": 0, "skip": 0,
                     "timeout": 0, "failures": []}
            for sc in scenarios:
                r = run_scenario(spark, sc, gdir)
                stats[r.status] += 1
                if r.status in ("fail", "error", "timeout"):
                    stats["failures"].append(
                        {"scenario": sc.name, "status": r.status,
                         "detail": r.detail})
                    if verbose:
                        print(f"  {r.status}: {sc.name}\n    {r.detail}")
            results[f"{suite}/{fname}"] = stats
            total = sum(stats[k] for k in
                        ("pass", "fail", "error", "skip", "timeout"))
            print(f"{suite}/{fname}: {stats['pass']}/{total} pass "
                  f"({stats['fail']} fail, {stats['error']} error, "
                  f"{stats['skip']} skip, {stats['timeout']} timeout) "
                  f"[{time.time() - t0:.0f}s]", flush=True)
            # flush incrementally to a side file so a killed run keeps its
            # progress WITHOUT clobbering the last complete snapshot (the
            # driver commits whatever is on disk at round end)
            if shard is not None:
                with open(f"corpus_results.shard{shard[0]}_{shard[1]}.json",
                          "w") as f:
                    json.dump(results, f, indent=1)
            elif not pattern:
                with open("corpus_results.partial.json", "w") as f:
                    json.dump(results, f, indent=1)

    agg = {k: sum(r[k] for r in results.values())
           for k in ("pass", "fail", "error", "skip", "timeout")}
    runnable = agg["pass"] + agg["fail"] + agg["error"] + agg["timeout"]
    print(f"\nTOTAL: {agg['pass']}/{runnable} runnable pass "
          f"({agg['skip']} skipped as out-of-scope), "
          f"{time.time() - t0:.0f}s")

    if shard is not None:
        return  # shard json already on disk; merge_corpus.py folds + writes
    if not pattern:
        with open("corpus_results.json", "w") as f:
            json.dump(results, f, indent=1)
        write_md(results, agg, runnable)
        head = subprocess.run(["git", "rev-parse", "HEAD"],
                              capture_output=True, text=True)
        if head.returncode == 0:
            with open("corpus_snapshot_meta.json", "w") as f:
                json.dump({"commit": head.stdout.strip(),
                           "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                                     time.gmtime())}, f)
        import contextlib
        with contextlib.suppress(OSError):
            os.remove("corpus_results.partial.json")


DEVIATIONS = """\
Known reference-parity deviations from the openCypher_M09 TCK (the
reference's own CI marks the M09 suite `must_pass: false` in
`tests/gql_behave/tests/config.yaml` for exactly these):

- `Aggregation.feature` "`min()`/`max()` over mixed values" (2): the TCK
  expects openCypher orderability across type classes; the reference raises
  on incomparable operand types in the aggregate update loop
  (`src/query/plan/operator.cpp` Aggregate cursor;
  `memgraph_V1/aggregations.feature` Min/Max test 01 pins the *error* as the
  required behaviour). We match the reference and raise.
- `PatternComprehension.feature` "Returning a pattern comprehension" /
  "Using a pattern comprehension in a WITH" (2): the TCK baked Neo4j's
  newest-first relationship iteration order into the expected list; the
  reference (and we) iterate edges in insertion order, which
  `memgraph_V1/pattern_comprehensions.feature` pins as must-pass — the two
  orders cannot both be satisfied.
- `SemanticErrorAcceptance.feature` "Failing for `size()` on paths" (1):
  the TCK expects an error; the reference deliberately supports
  `size(path)` = edge count
  (`src/query/interpret/awesome_memgraph_functions.cpp:529-544`). We match
  the reference and return the edge count."""


def write_md(results: dict, agg: dict, runnable: int) -> None:
    lines = [
        "# CORPUS — gql_behave corpus pass rates",
        "",
        "The reference's behaviour corpus (`tests/gql_behave/tests/"
        "{memgraph_V1,openCypher_M09}`) executed against our engine by "
        "`corpus_report.py` (runner: `tests/gql_corpus.py`).",
        "",
        f"**{agg['pass']}/{runnable} runnable scenarios pass** "
        f"({agg['skip']} skipped: steps outside the engine's surface — "
        "TCK test procedures are now shimmed and run, not skipped).",
        "",
        DEVIATIONS,
        "",
        "| feature file | pass | fail | error | timeout | skip |",
        "|---|---|---|---|---|---|",
    ]
    for name, s in sorted(results.items()):
        lines.append(f"| {name} | {s['pass']} | {s['fail']} | {s['error']} "
                     f"| {s['timeout']} | {s['skip']} |")
    with open("CORPUS.md", "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
