"""Tests for the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

import boltload
import datagen
import run
import spans
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# -- percentiles -------------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 distinct samples
    assert stats.tail_percentile(xs) == (90.0, 90)
    assert sum(1 for x in xs if x > 90) == 10


def test_tail_percentile_picks_highest_qualifying():
    xs = list(range(1000))
    p, v = stats.tail_percentile(xs)
    assert p == 99.0 and sum(1 for x in xs if x > v) >= 10
    # 99.9 would leave only one sample beyond it
    assert sum(1 for x in xs if x > stats.percentile(xs, 99.9)) < 10


def test_tail_percentile_too_few_samples():
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(20))) == (50.0, 9)


def test_tail_percentile_counts_ties_as_not_beyond():
    xs = [1.0] * 50 + [2.0] * 9
    assert stats.tail_percentile(xs) is None


def test_percentile_nearest_rank_and_iqr():
    assert stats.percentile([5, 1, 3], 50) == 3
    assert stats.percentile([1, 2, 3, 4], 100) == 4
    assert stats.iqr_share([1.0] * 10) == 0.0
    with pytest.raises(ValueError):
        stats.median([])


# -- Bolt statement list -----------------------------------------------------

def test_same_seed_same_statement_list():
    a = boltload.statement_blocks(7, 1500, 15000, 50)
    b = boltload.statement_blocks(7, 1500, 15000, 50)
    assert a == b
    assert a != boltload.statement_blocks(8, 1500, 15000, 50)


def test_every_block_runs_each_class_once_within_key_ranges():
    blocks = boltload.statement_blocks(3, 1500, 15000, 40)
    created = set()
    for block in blocks:
        assert sorted(st.cls for st in block) == sorted(boltload.CLASSES)
        for st in block:
            if st.cls == "create":
                created.add(st.params["k"])
            else:
                assert 0 <= st.params["k"] < 1500
            if st.cls == "create_edge":
                assert 0 <= st.params["o"] < 15000
    assert len(created) == 40  # created keys never repeat


def test_graph_model_tracks_writes():
    m = boltload.GraphModel(["c0", "c1"], [1.0, 2.0], [3, 0], 3,
                            acctbal_sum0=3.0)
    st = boltload.Statement
    m.apply(st("set", {"k": 1}))
    m.apply(st("create_edge", {"k": 1, "o": 5}))
    m.apply(st("create", {"k": 10**9, "name": "x"}))
    assert m.check(st("point", {"k": 1}), [["c1", 3.0]]) is None
    assert m.check(st("point", {"k": 1}), [["c1", 2.0]]) is not None
    assert m.check(st("point", {"k": 1}), []) is not None
    assert m.check(st("expand", {"k": 1}), [[1]]) is None
    assert m.check(st("expand", {"k": 0}), [[2]]) is not None
    assert m.final_expectations() == {
        "created_nodes": 1, "placed_edges": 4, "acctbal_sum": 4.0}


# -- generated data ----------------------------------------------------------

def test_same_seed_same_tables():
    a = datagen.generate(5, 0.001)
    b = datagen.generate(5, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(datagen.generate(6, 0.001)["orders"])


def test_foreign_keys_resolve():
    t = datagen.generate(1, 0.001)
    n_cust = t["customer"].num_rows
    assert max(t["orders"].column("o_custkey").to_pylist()) < n_cust
    n_ord = t["orders"].num_rows
    assert max(t["lineitem"].column("l_orderkey").to_pylist()) < n_ord
    assert max(t["lineitem"].column("l_partkey").to_pylist()) \
        < t["part"].num_rows


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_children_and_links_server_thread():
    tr = spans.Tracer()
    main, other = tr.main_thread, tr.main_thread + 1
    tr.spans = [
        spans.Span("statement", "bench", 0.0, 10.0, -1, main, "op1"),
        spans.Span("execute", "plans", 1.0, 5.0, -1, other, "op1"),
        spans.Span("count", "spark", 2.0, 4.0, 1, other, "op1"),
        spans.Span("pack", "server", 6.0, 7.0, -1, other, "op1"),
        spans.Span("pack", "server", 0.0, 0.5, 0, main, "op1"),
    ]
    st = tr.self_times(0, len(tr.spans))
    assert st == pytest.approx({"bench": 10.0 - 4.0 - 1.0 - 0.5 + 0.5,
                                "plans": 2.0, "spark": 2.0, "server": 1.0})


def test_wrapper_records_outermost_call_only():
    tr = spans.Tracer()

    def fact(n):
        return 1 if n <= 1 else n * wrapped(n - 1)

    wrapped = tr.wrap(fact, "fact", "algos")
    assert wrapped(5) == 120 and tr.spans == []  # disabled: no spans
    tr.enabled = True
    assert wrapped(5) == 120
    assert [s.name for s in tr.spans] == ["fact"]
    assert tr.wrap(fact, "fact", "algos") is wrapped


def test_wrapper_pickles_as_the_original():
    import pickle
    tr = spans.Tracer()
    w = tr.wrap(stats.median, "median", "algos")
    assert pickle.loads(pickle.dumps(w)) is stats.median


def test_spans_from_threads_nest_per_thread():
    tr = spans.Tracer()
    tr.enabled = True
    done = threading.Event()

    def worker():
        with tr.span("server", "server"):
            done.wait(5)

    with tr.span("client", "bench"):
        t = threading.Thread(target=worker)
        t.start()
        done.set()
        t.join(5)
    assert not t.is_alive()
    client = next(s for s in tr.spans if s.name == "client")
    server = next(s for s in tr.spans if s.name == "server")
    assert client.parent == -1 and server.parent == -1
    assert server.thread != client.thread


# -- the benchmark's declaration ---------------------------------------------

def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_units_and_workloads_match_benchmark_json():
    b = _declared()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.LAYER_UNITS


def test_emitted_metrics_cover_the_declared_sets():
    from workloads import OpSample, PassRecord, Run
    r = Run(spark=None, data_dir="", seed=0, seconds=1, trace=False)
    r.setups = [3.0, 1.0, 1.2]
    r.passes = [PassRecord("measure", 1.0,
                           {"q1": OpSample(0.2, 0.3), "q2": OpSample(0.1, 0.4)})
                for _ in range(3)]
    e2e = run.e2e_metrics(r, 100.0)
    assert set(e2e) == set(run.E2E_UNITS)
    assert e2e["pass_s"] == pytest.approx(1.0)
    assert e2e["setup_s"] == 1.2

    r.trace = True
    r.passes = ([PassRecord("warmup", 2.0, {"q1": OpSample(1.0, 1.0)})]
                + [PassRecord(k, 1.0, {"q1": OpSample(0.4, 0.6, 1, 2, 2, 8)})
                   for k in ("light", "full", "light")])
    r.tracer = spans.Tracer()
    mem = {"mem.jvm_hwm_mb": 1.0, "mem.py_hwm_mb": 1.0,
           "mem.jvm_heap_live_mb": 1.0}
    layer = run.layer_metrics(r, mem, 5.0)
    assert set(layer) == set(run.LAYER_UNITS)


def test_benchmark_json_contract():
    b = _declared()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
