"""The bolt_rw workload: one client in a closed loop over the Bolt wire.

The statement list is fixed by the seed. It is a sequence of blocks; each
block holds one statement of every class (two read classes, three write
classes) in a seed-shuffled order, with keys drawn uniformly over the
loaded customers and orders. A local model of the graph (built from the
generated tables) predicts every read's answer, so each statement is
checked as it completes.
"""

from __future__ import annotations

import random
import socket
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

READ_CLASSES = ("point", "expand")
WRITE_CLASSES = ("create", "create_edge", "set")
CLASSES = READ_CLASSES + WRITE_CLASSES
BENCH_SEGMENT = "PERFBENCH"
CREATED_KEY_BASE = 1_000_000_000

STATEMENTS = {
    "point": "MATCH (c:Customer {key: $k}) "
             "RETURN c.name AS name, c.acctbal AS acctbal",
    "expand": "MATCH (c:Customer {key: $k})-[:PLACED]->(o:Order) "
              "RETURN count(o) AS n_orders",
    "create": "CREATE (:Customer {key: $k, name: $name, acctbal: 0.0, "
              "mktsegment: '" + BENCH_SEGMENT + "'})",
    "create_edge": "MATCH (c:Customer {key: $k}), (o:Order {key: $o}) "
                   "CREATE (c)-[:PLACED]->(o)",
    "set": "MATCH (c:Customer {key: $k}) SET c.acctbal = c.acctbal + 1.0",
}
# the final state, read back once the measured passes are done
FINAL_CHECKS = {
    ("created_nodes", "acctbal_sum"):
        "MATCH (c:Customer) RETURN "
        "sum(CASE WHEN c.mktsegment = '" + BENCH_SEGMENT + "' THEN 1 ELSE 0 END)"
        " AS created, "
        "sum(CASE WHEN c.mktsegment = '" + BENCH_SEGMENT + "' THEN 0.0 "
        "ELSE c.acctbal END) AS acctbal",
    ("placed_edges",):
        "MATCH (:Customer)-[r:PLACED]->(:Order) RETURN count(r) AS n",
}


@dataclass
class Statement:
    cls: str
    params: dict


def statement_blocks(seed: int, n_cust: int, n_ord: int,
                     n_blocks: int) -> list[list[Statement]]:
    """The seed's fixed statement list, as blocks of one statement per
    class."""
    rng = random.Random(seed)
    blocks = []
    created = 0
    for _ in range(n_blocks):
        order = list(CLASSES)
        rng.shuffle(order)
        block = []
        for cls in order:
            if cls == "create":
                k = CREATED_KEY_BASE + created
                created += 1
                params = {"k": k, "name": f"Bench#{k}"}
            elif cls == "create_edge":
                params = {"k": rng.randrange(n_cust),
                          "o": rng.randrange(n_ord)}
            else:
                params = {"k": rng.randrange(n_cust)}
            block.append(Statement(cls, params))
        blocks.append(block)
    return blocks


@dataclass
class GraphModel:
    """Expected state of the customers and their PLACED edges."""
    names: list[str]
    acctbal: list[float]
    n_orders: list[int]
    n_edges: int
    created: int = 0
    set_count: int = 0
    acctbal_sum0: float = 0.0

    @classmethod
    def load(cls, data_dir: str) -> "GraphModel":
        cust = pq.read_table(f"{data_dir}/customer.parquet",
                             columns=["c_name", "c_acctbal"])
        okeys = pq.read_table(f"{data_dir}/orders.parquet",
                              columns=["o_custkey"]).column(0).to_pylist()
        n_orders = [0] * cust.num_rows
        for k in okeys:
            n_orders[k] += 1
        acct = cust.column("c_acctbal").to_pylist()
        return cls(cust.column("c_name").to_pylist(), acct, n_orders,
                   len(okeys), acctbal_sum0=sum(acct))

    def apply(self, st: Statement) -> None:
        if st.cls == "create":
            self.created += 1
        elif st.cls == "create_edge":
            self.n_orders[st.params["k"]] += 1
            self.n_edges += 1
        elif st.cls == "set":
            self.acctbal[st.params["k"]] += 1.0
            self.set_count += 1

    def check(self, st: Statement, records: list) -> str | None:
        """Mismatch description for a completed statement, or None."""
        k = st.params["k"]
        if st.cls == "point":
            if len(records) != 1:
                return f"point k={k}: {len(records)} rows, expected 1"
            name, bal = records[0]
            if name != self.names[k] or abs(bal - self.acctbal[k]) > 1e-6:
                return (f"point k={k}: got ({name}, {bal}), expected "
                        f"({self.names[k]}, {self.acctbal[k]})")
        elif st.cls == "expand":
            got = records[0][0] if len(records) == 1 else None
            if got != self.n_orders[k]:
                return f"expand k={k}: n_orders {got}, expected {self.n_orders[k]}"
        elif records:
            return f"{st.cls}: {len(records)} rows, expected none"
        return None

    def final_expectations(self) -> dict:
        return {"created_nodes": self.created,
                "placed_edges": self.n_edges,
                "acctbal_sum": self.acctbal_sum0 + self.set_count}


class BoltClient:
    """Minimal Bolt 5 client speaking the engine's own PackStream codec."""

    def __init__(self, host: str, port: int) -> None:
        from memgraph_spark.server import bolt
        self.b = bolt
        # bound now, so a tracer installed later leaves the client's socket
        # reads and writes untraced
        self.read, self.write = bolt.read_message, bolt.write_message
        self.sock = socket.create_connection((host, port), timeout=120)
        self.sock.sendall(bolt.MAGIC + bytes([0, 4, 4, 5]) + bytes(12))
        self.version = tuple(self.sock.recv(4)[2:][::-1])
        for tag, meta in ((bolt.HELLO, {"user_agent": "perfbench/1"}),
                          (bolt.LOGON, {"scheme": "none"})):
            self.write(self.sock, tag, meta)
            resp = self.read(self.sock)
            if resp.tag != bolt.SUCCESS:
                raise RuntimeError(f"bolt handshake failed: {resp.fields}")

    def run(self, query: str, params: dict, on_run=None):
        """RUN + PULL all. Returns (records, run_s, pull_s, failure).
        `on_run` is called between RUN's SUCCESS and the PULL."""
        b = self.b
        t0 = time.perf_counter()
        self.write(self.sock, b.RUN, query, params, {})
        resp = self.read(self.sock)
        t1 = time.perf_counter()
        if resp.tag != b.SUCCESS:
            self._reset()
            return [], t1 - t0, 0.0, str(resp.fields)
        if on_run is not None:
            on_run()
            t1 = time.perf_counter()
        self.write(self.sock, b.PULL, {"n": -1})
        records = []
        while True:
            msg = self.read(self.sock)
            if msg.tag == b.RECORD:
                records.append(msg.fields[0])
                continue
            break
        t2 = time.perf_counter()
        if msg.tag != b.SUCCESS:
            self._reset()
            return records, t1 - t0, t2 - t1, str(msg.fields)
        return records, t1 - t0, t2 - t1, None

    def _reset(self) -> None:
        self.write(self.sock, self.b.RESET)
        self.read(self.sock)

    def close(self) -> None:
        try:
            self.write(self.sock, self.b.GOODBYE)
        except OSError:
            pass
        self.sock.close()
