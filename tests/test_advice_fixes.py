"""Regression tests for the round-1 advisor findings: edge-id allocator
seeding, Bolt basic auth, EXISTS-subquery SKIP/LIMIT semantics, snapshot
recovery counter reseeding, and zoned-datetime PackStream encoding."""

import datetime as dt

import pytest

from memgraph_spark.catalog import PropertyGraph
from memgraph_spark.plans import GraphSession
from memgraph_spark.server import packstream as ps


@pytest.fixture()
def graph(spark):
    return PropertyGraph(
        spark,
        nodes={"P": spark.createDataFrame(
            [(1, "ana"), (2, "bob")], "id long, name string")},
        edges={"KNOWS": spark.createDataFrame(
            [(1, 2, 5)], "src long, dst long, eid long")})


def test_created_edge_ids_seeded_past_existing(graph):
    """User-supplied edge tables carry arbitrary eids (here 5); freshly
    minted edge ids must not collide with them — eid is the global join
    key for edge SET/DELETE."""
    gs = GraphSession(graph)
    gs.execute("CREATE (:Q {k: 1})-[:REL]->(:Q {k: 2})")
    new_eids = {r[0] for r in graph.edges["REL"].select("eid").collect()}
    assert new_eids and min(new_eids) > 5
    # a second CREATE keeps advancing, never reuses
    gs.execute("CREATE (:Q {k: 3})-[:REL]->(:Q {k: 4})")
    all_eids = [r[0] for r in graph.edges["REL"].select("eid").collect()]
    assert len(all_eids) == len(set(all_eids))
    assert 5 not in all_eids


def test_edge_delete_by_eid_spares_unrelated(graph):
    """DELETE of a created edge must not remove the pre-existing eid-5
    KNOWS edge through an eid collision."""
    gs = GraphSession(graph)
    gs.execute("CREATE (:Q {k: 1})-[:REL]->(:Q {k: 2})")
    gs.execute("MATCH (:Q {k: 1})-[r:REL]->() DELETE r")
    assert graph.edges["KNOWS"].count() == 1


def test_exists_subquery_honours_limit_and_skip(graph):
    gs = GraphSession(graph)
    n = gs.execute(
        "MATCH (p:P) WHERE EXISTS { MATCH (p) RETURN p LIMIT 0 } "
        "RETURN count(*) AS n").first()[0]
    assert n == 0
    n = gs.execute(
        "MATCH (p:P) WHERE EXISTS { MATCH (p) RETURN p SKIP 5 } "
        "RETURN count(*) AS n").first()[0]
    assert n == 0
    n = gs.execute(
        "MATCH (p:P) WHERE EXISTS { MATCH (p) RETURN p LIMIT 1 } "
        "RETURN count(*) AS n").first()[0]
    assert n == 2


def test_recover_snapshot_reseeds_allocators(spark, graph, tmp_path,
                                             monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_DIR", str(tmp_path))
    gs = GraphSession(graph)
    gs.execute("CREATE SNAPSHOT")
    path = gs.execute("SHOW SNAPSHOTS").collect()[-1][0]
    # make the counters stale on purpose
    graph._key_seq, graph._eid_seq = {"P": 0}, 0
    gs.execute(f"RECOVER SNAPSHOT '{path}'")
    assert getattr(graph, "_eid_seq", None) is None
    assert graph._key_seq == {}
    # next allocations re-derive from the recovered tables
    assert graph.alloc_edge_ids(1) == 6
    assert graph.alloc_node_keys("P", 1) >= 3


def test_packstream_zoned_datetime_keeps_offset():
    aware = dt.datetime(2024, 3, 1, 12, 30, 15, 250000,
                        tzinfo=dt.timezone(dt.timedelta(hours=1)))
    out = ps.unpack(ps.pack(aware))
    assert isinstance(out, ps.Structure) and out.tag == 0x49
    epoch, nanos, offset = out.fields
    assert offset == 3600
    assert nanos == 250000000
    # tag 'I' (Bolt 5.x / utc-patched DateTime) carries UTC epoch seconds;
    # the legacy local-adjusted encoding belongs to tag 'F' only
    assert epoch == int(aware.timestamp())
    # naive values still take the LocalDateTime path
    naive = ps.unpack(ps.pack(aware.replace(tzinfo=None)))
    assert naive.tag == 0x64


def test_bolt_rejects_bad_credentials(spark):
    from memgraph_spark import admin
    from memgraph_spark.server import BoltServer
    from memgraph_spark.server.bolt import (
        FAILURE, HELLO, LOGON, MAGIC, RUN, SUCCESS, read_message,
        write_message)
    import socket

    g = PropertyGraph(spark, nodes={"P": spark.createDataFrame(
        [(1, "ana")], "id long, name string")}, edges={})
    srv = BoltServer(g, port=0).start()
    admin._AUTH["users"]["alice"] = "pw"
    try:
        def connect():
            s = socket.create_connection((srv.host, srv.port), timeout=30)
            s.sendall(MAGIC + bytes([0, 0, 4, 5]) + bytes(12))
            assert s.recv(4)[3] == 5
            write_message(s, HELLO, {"user_agent": "t/1"})
            assert read_message(s).tag == SUCCESS
            return s

        s = connect()
        write_message(s, LOGON, {"scheme": "basic", "principal": "alice",
                                 "credentials": "wrong"})
        assert read_message(s).tag == FAILURE
        s.close()

        s = connect()  # RUN without LOGON must be rejected
        write_message(s, RUN, "MATCH (p:P) RETURN p.name", {}, {})
        assert read_message(s).tag == FAILURE
        s.close()

        s = connect()
        write_message(s, LOGON, {"scheme": "basic", "principal": "alice",
                                 "credentials": "pw"})
        assert read_message(s).tag == SUCCESS
        write_message(s, RUN, "MATCH (p:P) RETURN p.name AS name", {}, {})
        assert read_message(s).tag == SUCCESS
        s.close()
    finally:
        admin._AUTH["users"].pop("alice", None)
        srv.stop()


def test_kmeans_refuses_train_rows_below_n_clusters(spark):
    """train_rows < n_clusters used to return fewer than k centroids: the
    init drew limit(k) from a smaller training sample."""
    from memgraph_spark.algos.kmeans import kmeans
    df = spark.createDataFrame([(i, [float(i), 0.0]) for i in range(6)],
                               "id long, embedding array<double>")
    with pytest.raises(ValueError, match="train_rows=2 is below"):
        kmeans(df, 3, train_rows=2)
    _assign, cents = kmeans(df, 3, train_rows=3, return_model=True)
    assert len(cents) == 3


@pytest.mark.parametrize("bits", [0, 65])
def test_simhash_bits_checked(spark, bits):
    """simhash() refuses a bit width outside [1, 64] before building."""
    from pyspark.sql import functions as F

    from memgraph_spark.llm.dedup import simhash
    with pytest.raises(ValueError, match=r"bits must be in \[1, 64\]"):
        simhash(F.col("text"), bits)


def _lsh_corpus(spark, n, dim, seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, dim))
    vecs = centers[rng.integers(0, 4, n)] + 0.3 * rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")


@pytest.mark.parametrize("n_rows", [None, 100])
def test_lsh_refuses_fewer_planes_than_bands(spark, n_rows):
    """n_planes < bands leaves 0 hyperplanes per band: with n_rows the
    band growth took log(0) (math domain error), without it the worker's
    matmul failed on an empty plane array."""
    from memgraph_spark.llm.similarity import lsh_candidate_pairs
    df = _lsh_corpus(spark, 20, 4, 3)
    with pytest.raises(ValueError, match="bands <= n_planes"):
        lsh_candidate_pairs(df, n_planes=2, bands=4, n_rows=n_rows).collect()


def test_lsh_n_rows_never_narrows_a_wide_tuning(spark):
    """The 24-bit cap bounds only the adaptive growth: n_planes=128,
    bands=4 (32 bits per band) used to shrink to 24 bits once n_rows was
    passed. On a small corpus n_rows must be a no-op for that tuning."""
    from memgraph_spark.llm.similarity import lsh_candidate_pairs
    df = _lsh_corpus(spark, 60, 8, 5).localCheckpoint(eager=True)

    def pairs(**kw):
        return {(r.id_a, r.id_b) for r in lsh_candidate_pairs(
            df, n_planes=128, bands=4, **kw).collect()}

    fixed = pairs()
    assert fixed                      # the tight clusters share buckets
    assert pairs(n_rows=60) == fixed
    assert pairs(n_rows=10**9) == fixed


def test_default_driver_memory_is_half_of_physical_capped_at_16g():
    import os

    from memgraph_spark.session import default_driver_memory
    mb = int(default_driver_memory().removesuffix("m"))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert 1 <= mb <= 16 << 10
    assert mb == min(16 << 10, phys_mb // 2)
