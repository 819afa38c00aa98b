"""Administrative statements: index DDL, constraints, ANALYZE GRAPH, SHOW.

Parity: the reference's non-Cypher query classes — IndexQuery / DropIndex,
ConstraintQuery (src/query/frontend/ast/ast.hpp:2263+, Constraint::Type
:3145), AnalyzeGraphQuery, StorageInfoQuery, SHOW SCHEMA INFO
(src/storage/v2/schema_info.cpp). These route around the Cypher clause
grammar in the reference too (separate query types in MemgraphCypher.g4),
so GraphSession dispatches them before the Cypher parser.

Spark mapping: an "index" is metadata only — the columnar layout plus
Catalyst parquet pushdown already provides what the reference's skip-list
index provides, so CREATE INDEX records intent (and SHOW INDEX INFO reports
it with live counts); ANALYZE GRAPH materializes the per-label/property
statistics the reference stores in label_property_index_stats.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame


def _norm(q: str) -> str:
    return re.sub(r"\s+", " ", q.strip().rstrip(";").strip())


# process-wide registries (the reference keeps these in the system database
# `.mgdb`, shared across sessions: src/dbms/, src/auth/)
_DATABASES: dict = {}       # name -> PropertyGraph
_AUTH = {"users": {}, "roles": {}, "user_roles": {}, "grants": {}}


def _try_multidb_auth(graph, q, u, spark, session):
    """MultiDatabaseQuery + AuthQuery statement surface (ast.hpp
    MultiDatabaseQuery / AuthQuery; dbms in src/dbms/dbms_handler.hpp,
    auth in src/auth/). Registries are process-wide like the reference's
    system database; community-edition parity = store + report (enforcement
    is the enterprise layer)."""
    import re as _re

    def status(msg):
        return spark.createDataFrame([(msg,)], "status string")

    # ---- multi-tenancy -----------------------------------------------------
    if "memgraph" not in _DATABASES:
        _DATABASES["memgraph"] = None  # placeholder for the session default

    m = _re.match(r"CREATE DATABASE (\w+)$", q, _re.I)
    if m:
        name = m.group(1)
        if name in _DATABASES:
            raise ValueError(f"database {name} already exists")
        from memgraph_spark.catalog import PropertyGraph
        _DATABASES[name] = PropertyGraph(spark)
        return status(f"Successfully created database {name}")
    m = _re.match(r"DROP DATABASE (\w+)$", q, _re.I)
    if m:
        name = m.group(1)
        if name == "memgraph":
            raise ValueError("cannot drop the default database")
        if name not in _DATABASES:
            raise ValueError(f"database {name} does not exist")
        if session is not None and getattr(session, "db_name",
                                           "memgraph") == name:
            raise ValueError(f"database {name} is in use")
        del _DATABASES[name]
        return status(f"Successfully deleted database {name}")
    m = _re.match(r"USE DATABASE (\w+)$", q, _re.I)
    if m:
        name = m.group(1)
        if name not in _DATABASES:
            raise ValueError(f"database {name} does not exist")
        if session is not None:
            if getattr(session, "db_name", "memgraph") == "memgraph":
                _DATABASES["memgraph"] = session.graph
            session.graph = (_DATABASES[name] if name != "memgraph"
                             else _DATABASES["memgraph"] or session.graph)
            session.db_name = name
        return status(f"Using {name}")
    if u == "SHOW DATABASE":
        name = getattr(session, "db_name", "memgraph") if session else \
            "memgraph"
        return spark.createDataFrame([(name,)], "name string")
    if u == "SHOW DATABASES":
        current = getattr(session, "db_name", "memgraph") if session else \
            "memgraph"
        rows = [(n, n == current) for n in sorted(_DATABASES)]
        return spark.createDataFrame(rows, "name string, current boolean")

    # ---- auth --------------------------------------------------------------
    m = _re.match(r"CREATE USER (\w+)(?: IDENTIFIED BY '([^']*)')?$", q, _re.I)
    if m:
        _AUTH["users"][m.group(1)] = m.group(2) or ""
        return status(f"created user {m.group(1)}")
    m = _re.match(r"DROP USER (\w+)$", q, _re.I)
    if m:
        _AUTH["users"].pop(m.group(1), None)
        _AUTH["user_roles"].pop(m.group(1), None)
        _AUTH["grants"].pop(m.group(1), None)
        return status(f"dropped user {m.group(1)}")
    m = _re.match(r"SET PASSWORD FOR (\w+) TO '([^']*)'$", q, _re.I)
    if m:
        if m.group(1) not in _AUTH["users"]:
            raise ValueError(f"user {m.group(1)} does not exist")
        _AUTH["users"][m.group(1)] = m.group(2)
        return status("password updated")
    m = _re.match(r"CREATE ROLE (\w+)$", q, _re.I)
    if m:
        _AUTH["roles"][m.group(1)] = True
        return status(f"created role {m.group(1)}")
    m = _re.match(r"DROP ROLE (\w+)$", q, _re.I)
    if m:
        _AUTH["roles"].pop(m.group(1), None)
        return status(f"dropped role {m.group(1)}")
    m = _re.match(r"SET ROLE FOR (\w+) TO (\w+)$", q, _re.I)
    if m:
        user, role = m.group(1), m.group(2)
        if role not in _AUTH["roles"]:
            raise ValueError(f"role {role} does not exist")
        _AUTH["user_roles"][user] = role
        return status(f"role of {user} set to {role}")
    m = _re.match(r"CLEAR ROLE FOR (\w+)$", q, _re.I)
    if m:
        _AUTH["user_roles"].pop(m.group(1), None)
        return status("role cleared")
    m = _re.match(r"(GRANT|DENY|REVOKE) ([\w, ]+?) (?:TO|FROM) (\w+)$",
                  q, _re.I)
    if m and m.group(2).strip().upper() != "DATABASE":
        verb = m.group(1).upper()
        privs = [p.strip().upper() for p in m.group(2).split(",")]
        unknown = [p for p in privs if p not in _PRIVILEGES]
        if unknown:
            return None  # not an auth statement (e.g. Cypher-ish text)
        grants = _AUTH["grants"].setdefault(m.group(3), {})
        for p in privs:
            if verb == "REVOKE":
                grants.pop(p, None)
            else:
                grants[p] = ("GRANT" if verb == "GRANT" else "DENY")
        return status(f"{verb.lower()} ok")
    if u == "SHOW USERS":
        return spark.createDataFrame(
            [(n,) for n in sorted(_AUTH["users"])], "user string")
    if u == "SHOW ROLES":
        return spark.createDataFrame(
            [(n,) for n in sorted(_AUTH["roles"])], "role string")
    m = _re.match(r"SHOW ROLE FOR (\w+)$", q, _re.I)
    if m:
        role = _AUTH["user_roles"].get(m.group(1))
        return spark.createDataFrame(
            [(role if role else "null",)], "role string")
    m = _re.match(r"SHOW USERS FOR (\w+)$", q, _re.I)
    if m:
        users = sorted(u_ for u_, r in _AUTH["user_roles"].items()
                       if r == m.group(1))
        return spark.createDataFrame([(x,) for x in users], "users string")
    m = _re.match(r"SHOW PRIVILEGES FOR (\w+)$", q, _re.I)
    if m:
        who = m.group(1)
        grants = dict(_AUTH["grants"].get(who, {}))
        role = _AUTH["user_roles"].get(who)
        if role:
            for p, v in _AUTH["grants"].get(role, {}).items():
                grants.setdefault(p, v)
        rows = [(p, v, "USER" if p in _AUTH["grants"].get(who, {})
                 else "ROLE") for p, v in sorted(grants.items())]
        return spark.createDataFrame(
            rows, "privilege string, effective string, description string")
    return None

# AuthQuery privileges (ast.hpp AuthQuery::Privilege)
_PRIVILEGES = {
    "CREATE", "DELETE", "MATCH", "MERGE", "SET", "REMOVE", "INDEX",
    "STATS", "AUTH", "CONSTRAINT", "DUMP", "REPLICATION", "DURABILITY",
    "READ_FILE", "FREE_MEMORY", "TRIGGER", "CONFIG", "STREAM",
    "MODULE_READ", "MODULE_WRITE", "WEBSOCKET", "TRANSACTION_MANAGEMENT",
    "STORAGE_MODE", "MULTI_DATABASE_EDIT", "MULTI_DATABASE_USE",
    "COORDINATOR", "IMPERSONATE_USER", "ALL",
}


def _try_operational(graph, q, u, spark):
    """Operational statements: StorageModeQuery, ReplicationQuery,
    snapshot durability (CREATE/RECOVER/SHOW SNAPSHOT[S]), transaction
    queue, data-directory lock (ast.hpp StorageModeQuery / ReplicationQuery
    / SnapshotQuery / TransactionQueueQuery / LockPathQuery).

    Replication is a registry (WAL shipping is the lake/cluster manager's
    job on Spark — SURVEY §1.2); snapshots are REAL: every node/edge table
    is written to parquet under the snapshot directory and can be recovered,
    which is exactly the reference's durability snapshot re-expressed as
    columnar files (src/storage/v2/durability/snapshot.cpp).
    """
    import json
    import os
    import re as _re

    def status(msg):
        return spark.createDataFrame([(msg,)], "status string")

    m = _re.match(r"STORAGE MODE (IN_MEMORY_ANALYTICAL|"
                  r"IN_MEMORY_TRANSACTIONAL|ON_DISK_TRANSACTIONAL)$", q, _re.I)
    if m:
        graph.storage_mode = m.group(1).upper()
        return status(f"storage mode set to {graph.storage_mode}")

    m = _re.match(r"SET REPLICATION ROLE TO (MAIN|REPLICA)"
                  r"(?: WITH PORT (\d+))?$", q, _re.I)
    if m:
        graph.replication_role = m.group(1).upper()
        return status(f"replication role set to {graph.replication_role}")
    if u == "SHOW REPLICATION ROLE":
        return spark.createDataFrame(
            [(getattr(graph, "replication_role", "MAIN"),)],
            "replication_role string")
    m = _re.match(r"REGISTER REPLICA (\w+) (SYNC|ASYNC|STRICT_SYNC) "
                  r"TO '([^']+)'$", q, _re.I)
    if m:
        if not hasattr(graph, "replicas"):
            graph.replicas = {}
        graph.replicas[m.group(1)] = (m.group(2).upper(), m.group(3))
        return status(f"registered replica {m.group(1)}")
    m = _re.match(r"DROP REPLICA (\w+)$", q, _re.I)
    if m:
        getattr(graph, "replicas", {}).pop(m.group(1), None)
        return status(f"dropped replica {m.group(1)}")
    if u == "SHOW REPLICAS":
        rows = [(n, addr, mode, "ready")
                for n, (mode, addr) in
                sorted(getattr(graph, "replicas", {}).items())]
        return spark.createDataFrame(
            rows, "name string, socket_address string, sync_mode string, "
            "state string")

    snap_root = os.environ.get("SPARK_GRAFT_SNAPSHOT_DIR",
                               "/tmp/memgraph_spark_snapshots")
    if u == "CREATE SNAPSHOT":
        graph.snapshot_seq = getattr(graph, "snapshot_seq", 0) + 1
        path = os.path.join(snap_root, f"snapshot_{id(graph)}_"
                            f"{graph.snapshot_seq}")
        manifest = {"nodes": [], "edges": []}
        for label, df in graph.nodes.items():
            df.write.mode("overwrite").parquet(
                os.path.join(path, "nodes", label))
            manifest["nodes"].append(label)
        for etype, df in graph.edges.items():
            df.write.mode("overwrite").parquet(
                os.path.join(path, "edges", etype))
            manifest["edges"].append(etype)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        return spark.createDataFrame([(path,)], "path string")
    if u == "SHOW SNAPSHOTS":
        rows = []
        if os.path.isdir(snap_root):
            for name in sorted(os.listdir(snap_root)):
                mf = os.path.join(snap_root, name, "manifest.json")
                if os.path.exists(mf):
                    rows.append((os.path.join(snap_root, name),))
        return spark.createDataFrame(rows or [], "path string")
    m = _re.match(r"RECOVER SNAPSHOT '([^']+)'(?: FORCE)?$", q, _re.I)
    if m:
        path = m.group(1)
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        graph.nodes = {lbl: spark.read.parquet(
            os.path.join(path, "nodes", lbl)) for lbl in manifest["nodes"]}
        graph.edges = {et: spark.read.parquet(
            os.path.join(path, "edges", et)) for et in manifest["edges"]}
        # recovered tables carry arbitrary ids — the in-memory allocators
        # must re-derive their bases from the data, or subsequent CREATE
        # would mint duplicate node keys / edge ids
        graph._key_seq = {}
        graph._eid_seq = None
        graph.forget()
        return status(f"recovered from {path}")

    m = _re.match(r"TERMINATE TRANSACTIONS (.+)$", q, _re.I)
    if m:
        return empty_frame(spark, "transaction_id string, killed boolean")
    if u == "LOCK DATA DIRECTORY":
        graph.data_dir_locked = True
        return status("locked")
    if u == "UNLOCK DATA DIRECTORY":
        graph.data_dir_locked = False
        return status("unlocked")
    if u == "DATA DIRECTORY LOCK STATUS":
        return spark.createDataFrame(
            [("locked" if getattr(graph, "data_dir_locked", False)
              else "unlocked",)], "status string")
    return None


def _try_descriptions(graph, q, u, spark):
    """Server-side descriptions (descriptions.feature): SET/DELETE
    DESCRIPTION ON LABEL [PROPERTY] / EDGE TYPE [PROPERTY] / DATABASE /
    PROPERTY, plus SHOW DESCRIPTIONS. The `label` result column is
    heterogeneous (label-list vs type/db name), so it is a variant struct.
    """
    import re as _re

    if not hasattr(graph, "descriptions"):
        # key: (kind, subject tuple|string, property|None) -> description
        graph.descriptions = {}

    def empty():
        return empty_frame(spark, "status string")

    _pat = r"\(((?::\w+)+)\)-\[:(\w+)\]->\(((?::\w+)+)\)"
    targets = (
        ("edge type pattern property",
         rf"EDGE TYPE PROPERTY {_pat}\((\w+)\)"),
        ("edge type pattern", rf"EDGE TYPE {_pat}"),
        ("label property",
         r"LABEL PROPERTY ((?::\w+)+)\((\w+)\)"),
        ("label", r"LABEL ((?::\w+)+)"),
        ("edge type property",
         r"EDGE TYPE PROPERTY :(\w+)\((\w+)\)"),
        ("edge type", r"EDGE TYPE :(\w+)"),
        ("database", r"DATABASE (\w+)"),
        ("property", r"PROPERTY (\w+)"),
    )
    for verb in ("SET", "DELETE"):
        pre = rf"{verb} DESCRIPTION ON "
        suf = r' "([^"]*)"$' if verb == "SET" else r"$"
        for kind, pat in targets:
            m = _re.match(pre + pat + suf, q, _re.I)
            if not m:
                continue
            if kind.startswith("edge type pattern"):
                # (:A:B)-[:T]->(:C): the edge type plus endpoint label sets
                start = tuple(m.group(1).lstrip(":").split(":"))
                end = tuple(m.group(3).lstrip(":").split(":"))
                subject = (m.group(2), start, end)
                prop = m.group(4) if "property" in kind else None
                desc = m.group(5 if prop else 4) if verb == "SET" else None
                kind = ("edge type property" if "property" in kind
                        else "edge type")
            elif kind.startswith("label"):
                subject = tuple(m.group(1).lstrip(":").split(":"))
                prop = m.group(2) if "property" in kind else None
                desc = m.group(3 if prop else 2) if verb == "SET" else None
            elif kind in ("edge type property",):
                subject, prop = m.group(1), m.group(2)
                desc = m.group(3) if verb == "SET" else None
            else:
                subject, prop = m.group(1), None
                desc = m.group(2) if verb == "SET" else None
            if kind == "database" and subject != "memgraph":
                raise ValueError(f"unknown database {subject}")
            if kind == "property":
                subject, prop = None, subject
            key = (kind, subject, prop)
            if verb == "SET":
                graph.descriptions[key] = desc
            else:
                graph.descriptions.pop(key, None)
            return empty()

    if u == "SHOW DESCRIPTIONS":
        rows = []
        for (kind, subject, prop), desc in sorted(
                graph.descriptions.items(),
                key=lambda kv: (kv[0][0], str(kv[0][1]), str(kv[0][2]))):
            start = end = None
            if isinstance(subject, tuple) and len(subject) == 3 \
                    and isinstance(subject[1], tuple):
                # edge-type pattern: (type, start_labels, end_labels)
                label = (None, None, None, subject[0], None, None)
                start, end = list(subject[1]), list(subject[2])
            elif isinstance(subject, tuple):  # label combo -> va slot
                label = (None, None, None, None, list(subject), None)
            elif subject is None:
                label = None
            else:                             # type / db name -> vs slot
                label = (None, None, None, subject, None, None)
            rows.append((kind, label, start, end, prop, desc))
        return spark.createDataFrame(
            rows,
            "type string, "
            "label struct<vb boolean, vi bigint, vd double, vs string, "
            "va array<string>, vj string>, "
            "start_node_labels array<string>, "
            "end_node_labels array<string>, "
            "property string, description string")
    return None


# server-side parameters (ast.hpp ParameterQuery / SHOW PARAMETERS,
# server_side_parameters.feature): global scope + per-database scope;
# query $params resolve global < database < client
_SERVER_PARAMS: dict = {"global": {}, "db": {}}


def reset_global_state() -> None:
    """Forget cross-session server state (databases, auth, server-side
    parameters) — what a fresh server start would do. The corpus runner
    calls this per scenario ('Given an empty graph' implies a clean
    instance in the reference's behave harness)."""
    _DATABASES.clear()
    for k in _AUTH:
        _AUTH[k].clear()
    _SERVER_PARAMS["global"].clear()
    _SERVER_PARAMS["db"].clear()


def server_params(db_name: str = "memgraph") -> dict:
    out = dict(_SERVER_PARAMS["global"])
    out.update(_SERVER_PARAMS["db"].get(db_name or "memgraph", {}))
    return out


def _eval_param_literal(e, params: dict):
    from memgraph_spark.plans import cypher_ast as A
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Param):
        return (params or {})[e.name]
    if isinstance(e, A.ListLiteral):
        return [_eval_param_literal(x, params) for x in e.items]
    if isinstance(e, A.MapLiteral):
        return {k: _eval_param_literal(v, params)
                for k, v in e.items.items()}
    if isinstance(e, A.UnaryOp) and e.op == "-":
        return -_eval_param_literal(e.operand, params)
    raise ValueError("parameter value must be a literal expression")


def _try_server_params(q: str, u: str, spark, params, session):
    import json as _json

    db = getattr(session, "db_name", "memgraph") if session else "memgraph"
    m = re.match(r"SET (GLOBAL )?PARAMETER (\w+) *= *(.+)$", q,
                 re.I | re.S)
    if m:
        from memgraph_spark.plans.parser import Parser
        val = _eval_param_literal(Parser(m.group(3).strip()).expr(), params)
        if m.group(1):
            _SERVER_PARAMS["global"][m.group(2)] = val
        else:
            _SERVER_PARAMS["db"].setdefault(db, {})[m.group(2)] = val
        return empty_frame(spark, "status string")
    m = re.match(r"UNSET (GLOBAL )?PARAMETER (\w+)$", q, re.I)
    if m:
        scope = (_SERVER_PARAMS["global"] if m.group(1)
                 else _SERVER_PARAMS["db"].get(db, {}))
        scope.pop(m.group(2), None)
        return empty_frame(spark, "status string")
    if u == "SHOW PARAMETERS":
        rows = [(k, _json.dumps(v, separators=(",", ":")), "global")
                for k, v in sorted(_SERVER_PARAMS["global"].items())]
        rows += [(k, _json.dumps(v, separators=(",", ":")), "database")
                 for k, v in sorted(_SERVER_PARAMS["db"]
                                    .get(db, {}).items())]
        return spark.createDataFrame(
            rows or [], "name string, value string, scope string")
    return None


_MAP_PAIR = re.compile(
    r"\s*('[^']*'|\"[^\"]*\"|[^:,\s][^:,]*?)\s*:\s*"
    r"('[^']*'|\"[^\"]*\"|[^,]*?)\s*(?:,|$)")


def _parse_map_body(body: str) -> dict:
    """Quote-aware {k: v, ...} map-literal body parser: quoted keys/values
    may contain ',' and ':' (kafka sasl.jaas.config, bootstrap lists) —
    a bare str.split on ',' / ':' corrupts those pairs."""
    entries: dict = {}
    i, n = 0, len(body)
    while i < n:
        m = _MAP_PAIR.match(body, i)
        if not m or m.end() == i:
            break
        k, v = m.group(1).strip(), m.group(2).strip()
        entries[k.strip("'\"")] = v.strip("'\"")
        i = m.end()
    return entries


def _parse_stream_config(rest: str) -> dict:
    """CREATE STREAM config clauses in any order -> dict (grammar:
    kafkaCreateStreamConfig / pulsarCreateStreamConfig repeat freely,
    MemgraphCypher.g4:754-770). Quoted literals are unwrapped; CONFIGS /
    CREDENTIALS map literals become {key: value} dicts."""
    cfg: dict = {}
    pat = re.compile(
        r"(TOPICS|CONSUMER_GROUP|BOOTSTRAP_SERVERS|CONFIGS|CREDENTIALS|"
        r"SERVICE_URL|TRANSFORM|BATCH_INTERVAL|BATCH_SIZE|PATH|FORMAT)\s+"
        r"('[^']*'|\"[^\"]*\"|\{[^}]*\}|[\w./:,+-]+)", re.I)
    for key, raw in pat.findall(rest):
        key, val = key.lower(), raw.strip()
        if val[:1] in ("'", '"'):
            cfg[key] = val[1:-1]
        elif val.startswith("{"):
            cfg[key] = _parse_map_body(val[1:-1])
        else:
            cfg[key] = val
    return cfg


def try_admin(graph, query: str, params: dict | None = None,
              session=None) -> DataFrame | None:
    """Returns a result DataFrame when `query` is an admin statement,
    else None (the caller then compiles it as Cypher)."""
    q = _norm(query)
    u = q.upper()
    spark = graph.spark

    out = _try_multidb_auth(graph, q, u, spark, session)
    if out is not None:
        return out
    if not hasattr(graph, "index_registry"):
        graph.index_registry = []          # [(label, prop | None)]
    if not hasattr(graph, "constraint_registry"):
        from memgraph_spark.schema import ConstraintSet
        graph.constraint_registry = ConstraintSet(graph)

    out = _try_server_params(q, u, spark, params, session)
    if out is not None:
        return out

    # SET DATABASE SETTING 'k' TO 'v' (SettingQuery, ast.hpp) — runtime
    # settings registry; traversal reads hops_limit_partial_results
    m = re.match(r"SET DATABASE SETTING '([^']+)' TO '([^']*)'$", q, re.I)
    if m:
        if not hasattr(graph, "settings"):
            graph.settings = {}
        graph.settings[m.group(1)] = m.group(2)
        return empty_frame(spark, "status string")
    m = re.match(r"SHOW DATABASE SETTING '([^']+)'$", q, re.I)
    if m:
        v = getattr(graph, "settings", {}).get(m.group(1), "")
        return spark.createDataFrame([(m.group(1), v)],
                                     "setting_name string, "
                                     "setting_value string")

    # text / vector index DDL (ast.hpp TextIndexQuery :2320 /
    # VectorIndexQuery :2386) — named indexes over a label's text/embedding
    # column; the physical "index" is the tokenized/embedding table layout
    m = re.match(r"CREATE TEXT (EDGE )?INDEX (\w+) ON :(\w+)"
                 r"(?: ?\(([^)]*)\))?$", q, re.I)
    if m:
        props = tuple(p.strip() for p in m.group(4).split(",")) \
            if m.group(4) else None
        tag = "text-edge" if m.group(1) else "text"
        graph.index_registry.append((m.group(3), props, tag, m.group(2)))
        return empty_frame(spark, "status string")

    # point index DDL (PointIndexQuery — the physical "index" is the
    # pruning-friendly struct column layout; functions/spatial.py)
    m = re.match(r"CREATE POINT INDEX ON :(\w+) ?\((\w+)\)$", q, re.I)
    if m:
        entry = (m.group(1), (m.group(2),), "point", None)
        if entry not in graph.index_registry:
            graph.index_registry.append(entry)
        return empty_frame(spark, "status string")
    m = re.match(r"DROP POINT INDEX ON :(\w+) ?\((\w+)\)$", q, re.I)
    if m:
        graph.index_registry = [
            e for e in graph.index_registry
            if not (len(e) >= 3 and e[2] == "point" and e[0] == m.group(1)
                    and tuple(e[1] or ()) == (m.group(2),))]
        return empty_frame(spark, "status string")

    m = re.match(r"CREATE VECTOR (EDGE )?INDEX (\w+) ON "
                 r"((?::[\w|:&]+)?) ?\((\w+)\)"
                 r"(?: WITH CONFIG (.*))?$", q, re.I)
    if m:
        from memgraph_spark import vector_admin
        vector_admin.create_vector_index(
            graph, m.group(2), m.group(3) or "", m.group(4), m.group(5),
            params, on_edges=bool(m.group(1)))
        return empty_frame(spark, "status string")

    if u == "SHOW VECTOR INDEX INFO":
        from memgraph_spark import vector_admin
        return vector_admin.show_vector_index_info(graph)

    if u == "FREE MEMORY":
        # usearch/jemalloc release in the reference; no-op here
        return empty_frame(spark, "status string")

    if u == "DUMP DATABASE":
        # DumpQuery (src/query/dump.cpp): the graph as a stream of Cypher
        # statements that re-parse through our own frontend
        from memgraph_spark.schema import dump_database
        return spark.createDataFrame(
            [(s,) for s in dump_database(graph)], "QUERY string")

    out = _try_operational(graph, q, u, spark)
    if out is not None:
        return out

    out = _try_descriptions(graph, q, u, spark)
    if out is not None:
        return out

    m = re.match(r"DROP (TEXT|VECTOR) INDEX (\w+)$", q, re.I)
    if m:
        if m.group(1).upper() == "VECTOR":
            from memgraph_spark import vector_admin
            vector_admin.drop_vector_index(graph, m.group(2))
        # DROP TEXT INDEX drops node AND edge text indexes by name
        tags = ({"text", "text-edge"} if m.group(1).upper() == "TEXT"
                else {m.group(1).lower()})
        graph.index_registry = [
            e for e in graph.index_registry
            if not (len(e) == 4 and e[3] == m.group(2) and e[2] in tags)]
        return empty_frame(spark, "status string")

    # edge-property indexes (EdgeIndexQuery): typed and global
    m = re.match(r"CREATE EDGE INDEX ON :(\w+) ?\(([^)]*)\)$", q, re.I)
    if m:
        entry = (m.group(1), tuple(p.strip() for p in m.group(2).split(",")),
                 "edge", None)
        if entry not in graph.index_registry:
            graph.index_registry.append(entry)
        return empty_frame(spark, "status string")
    m = re.match(r"CREATE GLOBAL EDGE INDEX ON :?\((\w+)\)$", q, re.I)
    if m:
        entry = (None, (m.group(1),), "edge-global", None)
        if entry not in graph.index_registry:
            graph.index_registry.append(entry)
        return empty_frame(spark, "status string")

    m = re.match(r"CREATE INDEX ON :(\w+)(?: ?\(([^)]*)\))?"
                 r"(?: WITH CONFIG (.*))?$", q, re.I)
    if m:
        label, props_txt, cfg_txt = m.group(1), m.group(2), m.group(3)
        order = "ASC"
        if cfg_txt:
            if not props_txt:
                raise ValueError(
                    "CONFIG is only valid on a label+property index")
            from memgraph_spark.vector_admin import _parse_config
            cfg = _parse_config(cfg_txt, params)
            if set(cfg) - {"order"}:
                raise ValueError(
                    f"unknown index CONFIG keys {sorted(set(cfg) - {'order'})}")
            order = str(cfg.get("order", "ASC")).upper()
            if order not in ("ASC", "DESC"):
                raise ValueError(f"invalid index order {order}")
        if props_txt:
            props = tuple(p.strip() for p in props_txt.split(","))
            if len(set(props)) != len(props):
                raise ValueError("composite index has duplicate keys")
            for x in props:     # nested-path prefix conflicts are rejected
                for y in props:
                    if x != y and y.startswith(x + "."):
                        raise ValueError(
                            f"composite index key {y} nests under {x}")
            entry = ((label, props) if order == "ASC"
                     else (label, props, "order", "DESC"))
        else:
            entry = (label, None)
        if entry not in graph.index_registry:
            graph.index_registry.append(entry)
        return empty_frame(spark, "status string")

    m = re.match(r"DROP INDEX ON :(\w+)(?: ?\(([^)]*)\))?"
                 r"(?: WITH CONFIG (.*))?$", q, re.I)
    if m:
        label, props_txt, cfg_txt = m.group(1), m.group(2), m.group(3)
        order = None
        if cfg_txt:
            if not props_txt:
                raise ValueError(
                    "CONFIG is only valid on a label+property index")
            from memgraph_spark.vector_admin import _parse_config
            cfg = _parse_config(cfg_txt, params)
            if set(cfg) - {"order"}:
                raise ValueError(
                    f"unknown index CONFIG keys {sorted(set(cfg) - {'order'})}")
            order = str(cfg.get("order", "ASC")).upper()
            if order not in ("ASC", "DESC"):
                raise ValueError(f"invalid index order {order}")
        if props_txt:
            props = tuple(p.strip() for p in props_txt.split(","))
            victims = [(label, props), (label, props, "order", "DESC")]
            if order == "ASC":
                victims = [(label, props)]
            elif order == "DESC":
                victims = [(label, props, "order", "DESC")]
        else:
            victims = [(label, None)]
        for v in victims:
            if v in graph.index_registry:
                graph.index_registry.remove(v)
        return empty_frame(spark, "status string")

    if u == "SHOW INDEX INFO":
        def vs(sv):   # string slot of the variant property column
            return (None, None, None, sv, None)

        def va(lst):  # list slot
            return (None, None, None, None, list(lst))
        rows = []
        for entry in graph.index_registry:
            label, prop = entry[0], entry[1]
            tag = entry[2] if len(entry) >= 3 else None
            n = (graph.label_count(label)
                 if label in graph.nodes else 0)
            if tag in ("text", "text-edge"):
                props = list(prop) if isinstance(prop, (tuple, list)) \
                    else ([prop] if prop else [])
                kind = ("label_text" if tag == "text" else "edge-type_text")
                if tag == "text-edge":
                    e = graph.edges.get(label)
                    n = e.count() if e is not None else 0
                rows.append((f"{kind} (name: {entry[3]})", label,
                             va(props), n))
            elif tag == "vector":
                rows.append(("label+property_vector", label, vs(prop), n))
            elif tag == "edge":
                e = graph.edges.get(label)
                rows.append(("edge-type+property", label, vs(prop[0]),
                             e.count() if e is not None else 0))
            elif tag == "edge-global":
                total = sum(t.filter(F.col(prop[0]).isNotNull()).count()
                            for t in graph.edges.values()
                            if prop[0] in t.columns)
                rows.append(("edge-property", None, vs(prop[0]), total))
            elif tag == "point":
                t = graph.nodes.get(label)
                pcol = prop[0]
                n = (t.filter(F.col(pcol).isNotNull()).count()
                     if t is not None and pcol in t.columns else 0)
                rows.append(("point", label, vs(pcol), n))
            elif tag == "order":
                rows.append(("label+property (DESC)", label, va(prop), n))
            elif prop is None:
                rows.append(("label", label, None, n))
            else:
                props = prop if isinstance(prop, tuple) else (prop,)
                rows.append(("label+property", label, va(props), n))
        from memgraph_spark import vector_admin
        for kind, lbl, p, cnt in vector_admin.show_index_rows(graph):
            rows.append((kind, lbl, vs(p), cnt))
        return spark.createDataFrame(
            rows or [],
            "index_type string, label string, "
            "property struct<vb: boolean, vi: bigint, vd: double, "
            "vs: string, va: array<string>>, count long") \
            .withColumnRenamed("index_type", "index type")

    m = re.match(r"CREATE CONSTRAINT ON \(\w+:(\w+)\) ASSERT "
                 r"(?:EXISTS ?\(\w+\.(\w+)\)|\w+\.(\w+) IS UNIQUE)$", q, re.I)
    if m:
        label = m.group(1)
        if m.group(2):  # existence
            graph.constraint_registry.create_existence(label, m.group(2))
        else:
            graph.constraint_registry.create_unique(label, m.group(3))
        c = graph.constraint_registry.show()[-1]
        n_bad = graph.constraint_registry.violations(c).count()
        if n_bad:  # the reference refuses to create a violated constraint
            graph.constraint_registry._constraints.pop()
            raise ValueError(
                f"constraint violated by {n_bad} existing nodes")
        return empty_frame(spark, "status string")

    m = re.match(r"DROP CONSTRAINT ON \(\w+:(\w+)\) ASSERT "
                 r"(?:EXISTS ?\(\w+\.(\w+)\)|\w+\.(\w+) IS UNIQUE)$", q, re.I)
    if m:
        label, prop = m.group(1), m.group(2) or m.group(3)
        kind = "exists" if m.group(2) else "unique"
        graph.constraint_registry._constraints = [
            c for c in graph.constraint_registry.show()
            if not (c.kind == kind and c.label == label
                    and prop in c.properties)]
        return empty_frame(spark, "status string")

    if u == "SHOW CONSTRAINT INFO":
        rows = [(c.kind, c.label, list(c.properties))
                for c in graph.constraint_registry.show()]
        return spark.createDataFrame(
            rows or [], "constraint_type string, label string, "
                        "properties array<string>")

    if u == "SHOW STORAGE INFO":
        n_nodes = graph.total_node_count()
        n_edges = sum(graph.edge(t).count() for t in graph.edges)
        rows = [("vertex_count", str(n_nodes)),
                ("edge_count", str(n_edges)),
                ("label_count", str(len(graph.nodes))),
                ("edge_type_count", str(len(graph.edges))),
                ("storage_mode", getattr(graph, "storage_mode",
                                         "IN_MEMORY_ANALYTICAL"))]
        return spark.createDataFrame(rows, "storage_info string, value string")

    if u == "SHOW TRANSACTIONS":
        # IN_MEMORY_ANALYTICAL semantics: no interactive transactions — the
        # only "transaction" is the current batch job itself
        return empty_frame(spark, "username string, transaction_id string, "
                                  "query array<string>")

    if u == "SHOW SCHEMA INFO":
        from memgraph_spark.schema import schema_info
        return schema_info(graph)

    # -- enums (CreateEnumQuery / AlterEnum* / ShowEnumsQuery,
    # -- MemgraphCypher.g4:940-948; values intern as `Type::Value` strings) --
    if not hasattr(graph, "enum_registry"):
        graph.enum_registry = {}           # name -> list[str] (ordered)

    m = re.match(r"CREATE ENUM (\w+) VALUES \{ ?([\w, ]+?) ?\}$", q, re.I)
    if m:
        name, vals = m.group(1), [v.strip() for v in m.group(2).split(",")]
        if name in graph.enum_registry:
            raise ValueError(f"enum {name} already exists")
        if len(set(vals)) != len(vals):
            raise ValueError(f"duplicate enum values in {name}")
        graph.enum_registry[name] = vals
        return empty_frame(spark, "status string")

    m = re.match(r"ALTER ENUM (\w+) ADD VALUE (\w+)$", q, re.I)
    if m:
        name, val = m.group(1), m.group(2)
        vals = graph.enum_registry.get(name)
        if vals is None:
            raise ValueError(f"unknown enum {name}")
        if val in vals:
            raise ValueError(f"enum value {name}::{val} already exists")
        vals.append(val)
        return empty_frame(spark, "status string")

    m = re.match(r"ALTER ENUM (\w+) UPDATE VALUE (\w+) TO (\w+)$", q, re.I)
    if m:
        name, old, new = m.groups()
        vals = graph.enum_registry.get(name)
        if vals is None:
            raise ValueError(f"unknown enum {name}")
        if old not in vals:
            raise ValueError(f"unknown enum value {name}::{old}")
        if new in vals:
            raise ValueError(f"enum value {name}::{new} already exists")
        vals[vals.index(old)] = new
        # rewrite stored property values to the renamed constant (enum
        # values are STRUCT<__type,__value> columns)
        old_s, new_s = f"{name}::{old}", f"{name}::{new}"
        from pyspark.sql import types as _T

        def _rewrite(df):
            changed = False
            for f in df.schema.fields:
                if isinstance(f.dataType, _T.StructType) \
                        and set(f.dataType.names) == {"__type", "__value"}:
                    v = F.col(f.name).getField("__value")
                    df = df.withColumn(f.name, F.when(
                        v == old_s,
                        F.struct(F.lit("mg_enum").alias("__type"),
                                 F.lit(new_s).alias("__value")))
                        .otherwise(F.col(f.name)))
                    changed = True
                elif isinstance(f.dataType, _T.StringType):
                    df = df.replace(old_s, new_s, subset=[f.name])
                    changed = True
            return df if changed else None

        for lbl, df in list(graph.nodes.items()):
            out = _rewrite(df)
            if out is not None:
                graph.set_node_version(lbl, out)
        for et, df in list(graph.edges.items()):
            out = _rewrite(df)
            if out is not None:
                graph.set_edge_version(et, out)
        return empty_frame(spark, "status string")

    if re.match(r"ALTER ENUM (\w+) REMOVE VALUE (\w+)$", q, re.I) \
            or re.match(r"DROP ENUM (\w+)$", q, re.I):
        # parity: NotYetImplemented in the reference too (interpreter.cpp:10891)
        raise NotImplementedError("Alter enum remove value / Drop enum")

    if u == "SHOW ENUMS":
        rows = [(k, v) for k, v in sorted(graph.enum_registry.items())]
        return spark.createDataFrame(
            rows, "`Enum Name` string, `Enum Values` array<string>")

    # -- streams (CREATE/START/STOP/DROP/CHECK STREAM, SHOW STREAMS —
    # -- src/query/stream/streams.hpp:123-183) ---------------------------
    def _streams():
        if not hasattr(graph, "streams_registry"):
            from memgraph_spark.streaming import Streams
            graph.streams_registry = Streams(graph)
        return graph.streams_registry

    m = re.match(r"CREATE (KAFKA|PULSAR|FILE) STREAM (\w+)\s+(.*)$",
                 q, re.I | re.S)
    if m:
        # config clauses may appear in ANY order (grammar: repeated
        # alternatives, MemgraphCypher.g4:752-770 — kafkaCreateStream /
        # pulsarCreateStream both iterate their config rule)
        from memgraph_spark.streaming import TRANSFORMATIONS
        kind, name, rest = m.group(1).upper(), m.group(2), m.group(3)
        cfg = _parse_stream_config(rest)
        transform = cfg.get("transform")
        if not transform:
            raise ValueError("CREATE STREAM requires TRANSFORM")
        fn = TRANSFORMATIONS.get(transform.lower())
        if fn is None:
            raise ValueError(f"unknown transformation {transform} "
                             "(register_transformation first)")
        topics = cfg.get("topics")
        if kind == "KAFKA":
            reader = (spark.readStream.format("kafka")
                      .option("kafka.bootstrap.servers",
                              cfg.get("bootstrap_servers", "localhost:9092"))
                      .option("subscribe", topics or name))
            if "consumer_group" in cfg:
                reader = reader.option("kafka.group.id",
                                       cfg["consumer_group"])
            for k, v in {**cfg.get("configs", {}),
                         **cfg.get("credentials", {})}.items():
                reader = reader.option(f"kafka.{k}", v)
            try:
                source = reader.load()
            except Exception as exc:
                raise ValueError(
                    "kafka connector unavailable in this environment; "
                    "use CREATE FILE STREAM for file-backed sources") from exc
        elif kind == "PULSAR":
            # reference: CREATE PULSAR STREAM … TOPICS … SERVICE_URL …
            # (ast.hpp StreamQuery service_url_;
            # src/integrations/pulsar/consumer.hpp) — env-gated like Kafka
            reader = (spark.readStream.format("pulsar")
                      .option("service.url",
                              cfg.get("service_url",
                                      "pulsar://localhost:6650"))
                      .option("topics", topics or name))
            try:
                source = reader.load()
            except Exception as exc:
                raise ValueError(
                    "pulsar connector unavailable in this environment; "
                    "use CREATE FILE STREAM for file-backed sources") from exc
        else:
            path, fmt = cfg.get("path"), cfg.get("format", "json")
            if not path:
                raise ValueError("CREATE FILE STREAM requires PATH and FORMAT")
            src = spark.readStream.format(fmt.lower())
            batch = spark.read.format(fmt.lower()).load(path)
            source = src.schema(batch.schema).load(path)
        _streams().create(
            name, source, fn,
            batch_interval_ms=int(cfg.get("batch_interval", 100)),
            batch_size=int(cfg["batch_size"]) if "batch_size" in cfg else None,
            kind=kind, transform_name=transform)
        return empty_frame(spark, "status string")

    m = re.match(r"(START|STOP) ALL STREAMS$", q, re.I)
    if m:
        reg = _streams()
        for name in reg.names():
            if m.group(1).upper() == "START":
                reg.start(name)
            else:
                reg.stop(name)
        return empty_frame(spark, "status string")

    m = re.match(r"(START|STOP|DROP|CHECK) STREAM (\w+)"
                 r"(?: BATCH_LIMIT (\d+))?(?: TIMEOUT (\d+))?$", q, re.I)
    if m:
        op, name = m.group(1).upper(), m.group(2)
        reg = _streams()
        if op == "START":
            if m.group(3):  # BATCH_LIMIT: drain-now semantics
                reg.start_with_limit(
                    name, timeout_s=int(m.group(4)) / 1000 if m.group(4)
                    else 60.0)
            else:
                reg.start(name)
        elif op == "STOP":
            reg.stop(name)
        elif op == "DROP":
            reg.drop(name)
        else:
            info = reg.check(name)
            return spark.createDataFrame(
                [(info["name"], info["batches_run"],
                  "; ".join(info["errors"]))],
                "name string, batches_run long, errors string")
        return empty_frame(spark, "status string")

    if u == "SHOW STREAMS":
        # reference header (interpreter.cpp:3246): name, type,
        # batch_interval, batch_size, transformation_name, owner,
        # "is running" (we keep identifier-safe is_running + batches_run)
        rows = [(s["name"], s["type"], s["batch_interval"], s["batch_size"],
                 s["transformation_name"], s["owner"], s["is_running"],
                 s["batches_run"]) for s in _streams().show()]
        return spark.createDataFrame(
            rows or [], "name string, type string, batch_interval long, "
                        "batch_size long, transformation_name string, "
                        "owner string, is_running boolean, batches_run long")

    # -- triggers (CREATE/DROP TRIGGER, SHOW TRIGGERS — ast.hpp TriggerQuery)
    def _triggers():
        if not hasattr(graph, "trigger_session"):
            from memgraph_spark.streaming import TriggeredSession
            graph.trigger_session = TriggeredSession(graph)
        return graph.trigger_session

    m = re.match(r"CREATE TRIGGER (\w+) ON (?:\(\) |--> )?"
                 r"(CREATE|UPDATE|DELETE|ANY)?\s*"
                 r"(?:BEFORE|AFTER)? ?COMMIT EXECUTE (.+)$", q,
                 re.I | re.S)
    if m:
        name, event, stmt = m.group(1), m.group(2) or "ANY", m.group(3)
        _triggers().create_trigger(name, event, stmt)
        return empty_frame(spark, "status string")

    m = re.match(r"DROP TRIGGER (\w+)$", q, re.I)
    if m:
        _triggers().drop_trigger(m.group(1))
        return empty_frame(spark, "status string")

    if u == "SHOW TRIGGERS":
        rows = [(t["name"], t["event"], t["fired"])
                for t in _triggers().show_triggers()]
        return spark.createDataFrame(
            rows or [], "trigger_name string, event_type string, fired long")

    if u == "ANALYZE GRAPH DELETE STATISTICS":
        analyzed = getattr(graph, "_analyzed_stats", set())
        live = {(e[0], e[1]) for e in graph.index_registry
                if len(e) == 2 and e[1] is not None}
        rows = [(lbl, list(props)) for (lbl, props) in analyzed
                if (lbl, props) in live]
        graph._analyzed_stats = set()
        return spark.createDataFrame(
            rows or [], "label string, property array<string>")

    m = re.match(r"ANALYZE GRAPH(?: ON LABELS ((?::\w+(?:, ?)?)+))?$", q, re.I)
    if m:
        labels = ([s.strip().lstrip(":") for s in m.group(1).split(",")]
                  if m.group(1) else None)

        def _label_degree(lbl: str) -> float:
            from memgraph_spark.catalog import KEY_BITS, LABEL_CODES
            code = LABEL_CODES.get(lbl)
            n = graph.label_count(lbl)
            if code is None or not n:
                return 0.0
            lo, hi = code << KEY_BITS, ((code + 1) << KEY_BITS) - 1
            deg = 0
            for t in graph.edges.values():
                deg += t.filter(F.col("src").between(lo, hi)).count()
                deg += t.filter(F.col("dst").between(lo, hi)).count()
            return deg / n

        def _prefix_stats(lbl: str, props: tuple) -> tuple:
            """(label, [props], n, groups, avg group, chi-squared, avg deg)
            — label_property_index_stats.hpp:21 fields."""
            if lbl not in graph.nodes:
                return (lbl, list(props), 0, 0, 0.0, 0.0, 0.0)
            df = graph.nodes[lbl]
            cols = [p for p in props if p in df.columns]
            if len(cols) != len(props):
                return (lbl, list(props), 0, 0, 0.0, 0.0, 0.0)
            nn = df
            for p in cols:
                nn = nn.filter(F.col(p).isNotNull())
            counts = [r[0] for r in nn.groupBy(*cols).count()
                      .select("count").collect()]
            n = sum(counts)
            groups = len(counts)
            avg = (n / groups) if groups else 0.0
            exp = avg
            chi = (sum((c - exp) ** 2 / exp for c in counts)
                   if exp else 0.0)
            return (lbl, list(props), n, groups, round(float(avg), 2),
                    round(float(chi), 6), round(_label_degree(lbl), 2))

        rows = []
        if not hasattr(graph, "_analyzed_stats"):
            graph._analyzed_stats = set()
        if graph.edges:
            # degree stats feed hot-key aggregation routing
            # (operators.aggregate.rollup_collect) — measured here because
            # ANALYZE is the explicit stats opt-in, like the reference
            graph.measure_degree_hint(None)
        indexed = [(e[0], e[1] if isinstance(e[1], tuple) else (e[1],))
                   for e in graph.index_registry
                   if len(e) == 2 and e[1] is not None
                   and (labels is None or e[0] in labels)]
        if indexed:
            # stats per composite prefix (the reference stores one stats
            # entry for every index prefix — indices.feature)
            for lbl, props in indexed:
                graph._analyzed_stats.add((lbl, props))
                for plen in range(1, len(props) + 1):
                    rows.append(_prefix_stats(lbl, props[:plen]))
        else:
            # no declared indexes: analyze every property of the requested
            # labels (our extension — useful stats without DDL)
            for lbl in (labels or list(graph.nodes)):
                if lbl not in graph.nodes:
                    continue
                df = graph.nodes[lbl]
                for prop in [c for c in df.columns if c != "id"]:
                    rows.append(_prefix_stats(lbl, (prop,)))
        return spark.createDataFrame(
            rows or [],
            "label string, property array<string>, "
            "num_estimation_nodes long, num_groups long, "
            "avg_group_size double, chi_squared double, avg_degree double") \
            .withColumnsRenamed({
                "num_estimation_nodes": "num estimation nodes",
                "num_groups": "num groups",
                "avg_group_size": "avg group size",
                "chi_squared": "chi-squared value",
                "avg_degree": "avg degree"})

    return None
