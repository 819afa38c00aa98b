"""benchx harness invariants: deterministic generation, degree stats,
sf1 key-shift integrity (small-config smoke; the real sizes run in
bench.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import memgraph_spark.benchx as BX


@pytest.fixture()
def small(monkeypatch, tmp_path):
    monkeypatch.setattr(BX, "SKEW_N", 200)
    monkeypatch.setattr(BX, "SKEW_E", 2000)
    monkeypatch.setattr(BX, "SKEW_SUPER", 100)
    monkeypatch.setattr(BX, "PARTS", 4)
    return str(tmp_path)


def test_edge_frame_deterministic(spark, small):
    a = BX._edge_frame(spark, skewed=True).orderBy("src", "dst", "w")
    b = BX._edge_frame(spark, skewed=True).orderBy("src", "dst", "w")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_skew_graph_has_supernode(spark, small):
    skew_path, flat_path = BX.ensure_skew_graphs(spark, small)
    ds = BX.degree_stats(spark, skew_path)
    assert ds["max_degree"] > 10 * ds["median_degree"]
    df = BX.degree_stats(spark, flat_path)
    assert df["max_degree"] < 10 * max(df["median_degree"], 1)
    # cached: second call must not regenerate (mtime unchanged)
    marker = os.path.join(skew_path, "_DONE")
    t0 = os.path.getmtime(marker)
    BX.ensure_skew_graphs(spark, small)
    assert os.path.getmtime(marker) == t0


def test_sf1_key_shift_integrity(spark, small, monkeypatch):
    monkeypatch.setattr(BX, "_COPIES", 3)
    path = BX.ensure_sf1(spark, "/root/testdata/sf0.001", small)
    orders = spark.read.parquet(f"{path}/orders.parquet")
    lineitem = spark.read.parquet(f"{path}/lineitem.parquet")
    customer = spark.read.parquet(f"{path}/customer.parquet")
    base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert orders.count() == 3 * base.count()
    # referential integrity survives the shift: every FK resolves
    dangling_cust = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"],
        "left_anti").count()
    dangling_ord = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"],
        "left_anti").count()
    assert (dangling_cust, dangling_ord) == (0, 0)
    # keys are disjoint across copies
    assert orders.select("o_orderkey").distinct().count() == orders.count()


def test_quiet_window_gates_on_the_five_minute_load(monkeypatch):
    import bench
    loads = iter([(0.5, 3.0, 3.0), (2.5, 1.0, 3.0), (1.0, 1.5, 3.0)])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(loads))
    guard = bench.wait_for_quiet_window(threshold=2.0, max_attempts=3,
                                        sleep_s=0)
    assert guard == {"ambient_trail": [[0.5, 3.0], [2.5, 1.0], [1.0, 1.5]],
                     "quiet": True, "threshold": 2.0}
