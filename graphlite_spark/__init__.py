"""graphlite-spark: a PySpark-native engine with GraphLite's query surface.

Public API mirrors the reference Python SDK
(`/root/reference/sdk-python/src/graphlite_sdk/connection.py:38-150`):

    from graphlite_spark import GraphLiteSpark
    db = GraphLiteSpark(spark)                  # in-memory catalog
    db = GraphLiteSpark.open(spark, "/path")    # parquet-persisted catalog
    db.register_graph(graph)                    # a PropertyGraph
    df = db.query("MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN ...")
    db.execute("INSERT (:Person {name: 'Ada'})")
    db.execute("CREATE GRAPH /app/social")

Queries compile to lazy DataFrames; Catalyst owns physical execution.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .catalog import CatalogError, GraphCatalog
from .graph import EdgeType, PropertyGraph
from .operators.common import local_frame
from .session import get_spark

__all__ = [
    "GraphLiteSpark",
    "PropertyGraph",
    "EdgeType",
    "GraphCatalog",
    "get_spark",
]

__version__ = "0.2.0"


class GraphLiteSpark:
    """Engine facade: catalog + session state + GQL entry points.

    Statement routing mirrors the reference coordinator
    (query_coordinator.rs / executor.rs:703-974): queries return
    DataFrames; DML/DDL return a status dict.
    """

    # plan-cache capacity (reference PlanCache max_entries,
    # cache/plan_cache.rs:111); result-cache persists ride plan-cache
    # entries and are unpersisted on eviction
    PLAN_CACHE_MAX = 256

    def __init__(self, spark: SparkSession, catalog_root: Optional[str] = None):
        self.spark = spark
        self.catalog = GraphCatalog(spark, catalog_root)
        self._current_graph: Optional[str] = None
        self._txn_snapshot: Optional[dict] = None
        self._txn_isolation: str = "READ COMMITTED"  # isolation.rs default
        self._txn_readonly: bool = False
        self._procedures: dict[str, str] = {}
        self._graph_types: dict[str, object] = {}
        # RBAC metadata (catalog-level, no enforcement on local mode —
        # the reference's security/ module gates sessions the same way)
        self._users: dict[str, dict] = {"admin": {"roles": ["admin"]}}
        self._roles: dict[str, dict] = {"admin": {"grants": ["ALL"]}}
        # model registry metadata (the reference routes gql.*_model
        # procedures but ships no model runtime; here models are catalog
        # entries a pipeline can resolve to UDFs/embedding tables)
        self._models: dict[str, dict] = {}
        # session state (ast.rs:991-1063 SESSION SET/RESET/CLOSE)
        self._session_params: dict[str, Any] = {}
        self._schema_default: str = "default"  # AT statement overrides
        self._default_tz: str = spark.conf.get("spark.sql.session.timeZone")
        self._closed: bool = False
        # plan cache: query-text-keyed compiled DataFrames, the analogue
        # of the reference's PlanCache (cache/plan_cache.rs:111) with
        # write-triggered invalidation (cache/invalidation.rs). Safe
        # because DataFrames are immutable plans; anything that can swap
        # a graph's tables (DML/DDL through execute(), register_graph)
        # clears it.
        self._plan_cache: "dict[tuple, DataFrame]" = {}
        self._plan_cache_hits = 0
        self._plan_cache_misses = 0
        # result cache (cache/result_cache.rs QueryCacheKey: query hash +
        # params + graph version): Spark-first, a cached plan is
        # .persist()ed so re-execution serves materialized blocks from
        # the block manager instead of recomputing — same invalidation
        # path as the plan cache (any write clears + unpersists).
        self._result_cache_on = False
        # plan-cache-key -> persisted DataFrame; unpersisted on plan-
        # cache eviction (LRU) so evicted plans don't leak storage-
        # memory blocks — the analogue of the reference result cache's
        # max_entries LRU eviction (cache/result_cache.rs:151-164)
        self._persisted: "dict[tuple, DataFrame]" = {}

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "GraphLiteSpark":
        """Open (or create) a parquet-persisted catalog — the analogue of
        GraphLite.open(db_path) in the reference SDK."""
        return cls(spark, catalog_root=path)

    # -- catalog ----------------------------------------------------------
    def register_graph(self, graph: PropertyGraph, name: str | None = None,
                       set_current: bool = True) -> None:
        self.clear_plan_cache()
        path = f"/default/{name or graph.name}"
        if not self.catalog.has_graph(path):
            self.catalog.create_graph(path, graph)
        else:
            schema, gname = self.catalog.split_path(path)
            self.catalog.schemas[schema][gname] = graph
        if set_current or self._current_graph is None:
            self._current_graph = path

    def graph(self, name: str | None = None) -> PropertyGraph:
        path = name or self._current_graph
        if path is None:
            raise CatalogError("no current graph; SESSION SET GRAPH first")
        return self.catalog.get_graph(path)

    def list_graphs(self) -> list[str]:
        return self.catalog.list_graphs()

    def use_graph(self, name: str) -> None:
        self.catalog.get_graph(name)  # validate
        self._current_graph = name

    def session(self, user: str = "default"):
        """SDK-style session (sdk-python connection.py:38-150 shape)."""
        from .sdk import Session

        return Session(self, user)

    # -- queries ----------------------------------------------------------
    def query(self, gql: str, params: dict[str, Any] | None = None,
              graph: str | None = None) -> DataFrame:
        """Compile a read query to a DataFrame (lazy)."""
        from .gql.compiler import QueryCompiler
        from .gql.parser import parse

        self._check_open()
        params = {**self._session_params, **(params or {})}
        try:
            key = (gql, graph, self._current_graph, self._schema_default,
                   tuple(sorted((k, repr(v)) for k, v in params.items())))
        except Exception:
            key = None
        if key is not None and key in self._plan_cache:
            self._plan_cache_hits += 1
            # true LRU: a hit refreshes recency (dicts evict in insertion
            # order, so without this a hot persisted result could be
            # unpersisted while a stale one stays pinned)
            self._plan_cache[key] = self._plan_cache.pop(key)
            if key in self._persisted:
                self._persisted[key] = self._persisted.pop(key)
            return self._plan_cache[key]
        self._plan_cache_misses += 1
        ast = parse(gql)
        # SELECT ... FROM <graph> overrides the session graph (ast.rs:42-80)
        graph = getattr(ast, "from_graph", None) or graph
        if graph is not None:
            graph = self._qualify(graph)
        df = QueryCompiler(self.graph(graph), params).compile(ast)
        if key is not None:
            # result cache only materializes plan-cache-able queries:
            # an unhashable-params query can never be served from the
            # cache, so persisting it would only pin dead blocks
            if self._result_cache_on:
                df = df.persist()
                self._persisted[key] = df
            if len(self._plan_cache) >= self.PLAN_CACHE_MAX:  # drop oldest
                evicted = next(iter(self._plan_cache))
                self._plan_cache.pop(evicted)
                ev_df = self._persisted.pop(evicted, None)
                if ev_df is not None:
                    try:
                        ev_df.unpersist()
                    except Exception:
                        pass
            self._plan_cache[key] = df
        return df

    # -- validation / analysis (query_coordinator.rs:604-781) -------------
    def validate(self, gql: str) -> None:
        """Parse-only validation: raises ParseError without executing
        (query_coordinator.rs:604 validate_query)."""
        from .gql import statements as S

        for part in S.split_next_chain(gql):
            S.parse_statement(part)

    def is_valid(self, gql: str) -> bool:
        """query_coordinator.rs:634 is_valid_query."""
        try:
            self.validate(gql)
            return True
        except Exception:
            return False

    def analyze(self, gql: str) -> dict:
        """Statement-type classification without execution
        (query_coordinator.rs:660 analyze_query). Returns
        {'query_type': ..., 'read_only': bool, 'statements': n}."""
        from .gql import statements as S

        parts = S.split_next_chain(gql)
        stmt = S.parse_statement(parts[0])
        cls = type(stmt).__name__
        name = cls[:-4] if cls.endswith("Stmt") else cls
        if isinstance(stmt, S.MatchMutateStmt):
            name = "Match" + stmt.action.replace("_", " ").title().replace(" ", "")
        elif isinstance(stmt, S.UserRoleStmt):
            name = f"{stmt.action.capitalize()}{stmt.kind.capitalize()}"
        # the reference's analyze_query also treats SESSION SET / RESET
        # as read-only (query_coordinator.rs:745-753) — session state
        # changes are not graph writes
        read_only = isinstance(
            stmt, (S.QueryStmt, S.CallStmt, S.ExplainStmt,
                   S.SessionSetStmt, S.SessionResetStmt),
        )
        return {"query_type": name, "read_only": read_only,
                "statements": len(parts)}

    def clear_plan_cache(self) -> None:
        """Drop cached compiled plans (gql.clear_cache analogue) and
        unpersist result-cache materializations. Called automatically on
        any write-path statement; call manually after mutating a
        registered PropertyGraph directly."""
        self._plan_cache.clear()
        for df in self._persisted.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()

    def execute(self, gql: str, params: dict[str, Any] | None = None):
        """Execute any statement. Queries/CALL return a DataFrame; DML/DDL
        return {'status': ..., 'rows_affected': n}."""
        from . import dml
        from .gql import statements as S

        parts = S.split_next_chain(gql)
        if len(parts) > 1:
            # NEXT chaining (ast.rs:1082-1105): run each statement in
            # order, surface the last result
            out = None
            for p in parts:
                out = self.execute(p, params)
            return out
        stmt = S.parse_statement(gql)
        if isinstance(stmt, S.SessionCloseStmt):
            self._closed = True
            return {"status": "session closed", "rows_affected": 0}
        self._check_open()
        # write-triggered plan-cache invalidation (cache/invalidation.rs):
        # anything that can change graph tables or catalog bindings drops
        # the cache; pure reads and session/param statements keep it (the
        # cache key carries current graph, schema default, and params)
        if not isinstance(
            stmt,
            (S.QueryStmt, S.ExplainStmt, S.CallStmt, S.DeclareStmt, S.AtStmt),
        ):
            # (SESSION SET stays out of the keep-list: TIME ZONE changes
            # execution semantics the cache key doesn't carry)
            self.clear_plan_cache()
        params = {**self._session_params, **(params or {})}
        if isinstance(stmt, S.IndexStmt):
            return self._index(stmt)
        if isinstance(stmt, S.ExplainStmt):
            # the reference exposes its optimizer trace
            # (plan/optimizer.rs:165-435); ours is the Catalyst plan
            df = self.query(stmt.query_text, params)
            return df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(stmt.mode)
            )
        if isinstance(stmt, S.QueryStmt):
            # one read path: honours SELECT ... FROM <graph> and the plan cache
            return self.query(gql, params)
        if isinstance(stmt, S.InsertStmt):
            self._check_writable()
            warnings: list[str] = []
            n = dml.execute_insert(self.graph(), stmt, params, warnings)
            out = {"status": "ok", "rows_affected": n}
            if warnings:
                out["warnings"] = warnings
            return out
        if isinstance(stmt, S.MatchMutateStmt):
            self._check_writable()
            n = dml.execute_mutate(self.graph(), stmt, params)
            return {"status": "ok", "rows_affected": n}
        if isinstance(stmt, S.CreateSchemaStmt):
            self.catalog.create_schema(stmt.name, stmt.if_not_exists)
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.DropSchemaStmt):
            self.catalog.drop_schema(stmt.name, stmt.if_exists)
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.CreateGraphStmt):
            if stmt.as_query is not None:
                g = self.catalog.create_graph(
                    self._qualify(stmt.path),
                    self._subgraph_from_query(stmt.as_query),
                    stmt.if_not_exists,
                )
                return {"status": "ok", "rows_affected": 0}
            g = self.catalog.create_graph(self._qualify(stmt.path), None, stmt.if_not_exists)
            if stmt.typed:
                gt = self._graph_types.get(stmt.typed.lower())
                if gt is None:
                    raise KeyError(f"no graph type {stmt.typed!r}")
                g.graph_type = gt
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.CreateGraphTypeStmt):
            from .graphtypes import parse_graph_type_body

            self._graph_types[stmt.name.lower()] = parse_graph_type_body(
                stmt.body, stmt.name
            )
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.DropGraphTypeStmt):
            if stmt.name.lower() not in self._graph_types and not stmt.if_exists:
                raise KeyError(f"no graph type {stmt.name!r}")
            self._graph_types.pop(stmt.name.lower(), None)
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.DropGraphStmt):
            dpath = self._qualify(stmt.path)
            self.catalog.drop_graph(dpath, stmt.if_exists)
            if self._current_graph is not None:
                s, g = self.catalog.split_path(dpath)
                if self._current_graph in (dpath, f"/{s}/{g}"):
                    self._current_graph = None
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.DeclareStmt):
            self._session_params[stmt.name] = stmt.value
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.AtStmt):
            saved = self._schema_default
            self._schema_default = stmt.path.strip("/").split("/")[0]
            try:
                return self.execute(stmt.body, params)
            finally:
                self._schema_default = saved
        if isinstance(stmt, S.UserRoleStmt):
            store = self._users if stmt.kind == "USER" else self._roles
            if stmt.action == "CREATE":
                if stmt.name in store:
                    raise KeyError(f"{stmt.kind.lower()} {stmt.name!r} exists")
                store[stmt.name] = (
                    {"roles": [], "password": stmt.password}
                    if stmt.kind == "USER"
                    else {"grants": []}
                )
            else:
                if stmt.name not in store and not stmt.if_exists:
                    raise KeyError(f"no {stmt.kind.lower()} {stmt.name!r}")
                store.pop(stmt.name, None)
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.GrantRevokeStmt):
            grant = stmt.what + (f" ON {stmt.target}" if stmt.target else "")
            if stmt.to in self._roles:
                seq = self._roles[stmt.to]["grants"]
            elif stmt.to in self._users:
                # GRANT <role> TO <user> is role membership; privileges
                # (with or without ON target) collect under "grants"
                if stmt.what in self._roles and not stmt.target:
                    seq = self._users[stmt.to]["roles"]
                else:
                    seq = self._users[stmt.to].setdefault("grants", [])
            else:
                raise KeyError(f"no user or role {stmt.to!r}")
            if stmt.action == "GRANT":
                if grant not in seq:
                    seq.append(grant)
            elif grant in seq:
                seq.remove(grant)
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.TruncateGraphStmt):
            path = self._qualify(stmt.path)
            g = self.catalog.get_graph(path)
            # keep every label/edge-type schema, drop the rows: limit(0)
            # is a metadata-only plan, no scan of the old data
            g.nodes = {lbl: df.limit(0) for lbl, df in g.nodes.items()}
            from .graph import EdgeType as ET

            g.edges = {
                k: ET(k, v.df.limit(0), v.src_label, v.dst_label)
                for k, v in g.edges.items()
            }
            status = "truncated" if stmt.kind == "TRUNCATE" else "cleared"
            return {"status": status, "rows_affected": 0}
        if isinstance(stmt, S.SessionSetStmt):
            if stmt.kind == "GRAPH":
                self.use_graph(self._qualify(stmt.value))
            elif stmt.kind == "TIME_ZONE":
                self.spark.conf.set("spark.sql.session.timeZone", stmt.value)
            elif stmt.kind == "PARAM":
                self._session_params[stmt.name] = stmt.value
            elif stmt.kind == "RESULT_CACHE":
                self._result_cache_on = bool(stmt.value)
                if not stmt.value:
                    for df in self._persisted.values():
                        try:
                            df.unpersist()
                        except Exception:
                            pass
                    self._persisted.clear()
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.SessionResetStmt):
            if stmt.what in ("ALL", "PARAMETERS"):
                self._session_params.clear()
            if stmt.what in ("ALL", "TIME_ZONE"):
                self.spark.conf.set("spark.sql.session.timeZone", self._default_tz)
            if stmt.what in ("GRAPH", "SCHEMA"):
                # back to the no-current-graph state a fresh session has
                # (RESET ALL keeps the graph: parameters/tz are session
                # state, the graph binding is the working context)
                self._current_graph = None
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.CallStmt):
            return self._call(stmt, params)
        if isinstance(stmt, S.TxnStmt):
            return self._txn(stmt)
        if isinstance(stmt, S.CreateProcedureStmt):
            self._procedures[stmt.name.lower()] = stmt.body
            return {"status": "ok", "rows_affected": 0}
        if isinstance(stmt, S.DropProcedureStmt):
            if stmt.name.lower() not in self._procedures and not stmt.if_exists:
                raise KeyError(f"no procedure {stmt.name!r}")
            self._procedures.pop(stmt.name.lower(), None)
            return {"status": "ok", "rows_affected": 0}
        raise NotImplementedError(type(stmt).__name__)

    def explain(self, gql: str, params: dict[str, Any] | None = None) -> str:
        df = self.query(gql, params)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    def _subgraph_from_query(self, ast) -> PropertyGraph:
        """Materialize the induced subgraph of a CREATE GRAPH AS query:
        node tables restricted to the matched ids, edge tables restricted
        to edges whose BOTH endpoints survive. Id sets are tiny relative
        to the source tables, so the semi joins broadcast under AQE."""
        from .gql.compiler import QueryCompiler

        src = self.graph()
        label_ids = QueryCompiler(src, None).compile_subgraph(ast)
        sub = PropertyGraph(self.spark, name="subgraph")
        for label, ids in label_ids.items():
            sub.add_nodes(
                label,
                src.nodes_for_label(label).join(ids, on="_id", how="left_semi"),
                "_id",
            )
        from pyspark.sql import functions as F

        for et in src.edges.values():
            if et.src_label not in label_ids or et.dst_label not in label_ids:
                continue
            edf = (
                et.df.join(
                    label_ids[et.src_label].select(F.col("_id").alias("_src")),
                    on="_src",
                    how="left_semi",
                )
                .join(
                    label_ids[et.dst_label].select(F.col("_id").alias("_dst")),
                    on="_dst",
                    how="left_semi",
                )
            )
            sub.add_edges(et.name, edf, "_src", "_dst", et.src_label, et.dst_label)
        return sub

    def _index(self, stmt):
        """Index DDL → physical-layout hints (SURVEY §2.9 index DDL):
        AdjacencyList = repartition edge table by _src + cache (the
        in-memory analogue of bucketing); ReachabilityIndex = materialize
        + cache the bounded BFS closure. PathIndex/PatternIndex record
        metadata only (roadmap-stubbed in the reference as well)."""
        self._indexes = getattr(self, "_indexes", {})
        if stmt.action == "DROP":
            idx = self._indexes.pop(stmt.name.lower(), None)
            if idx and idx.get("df") is not None:
                idx["df"].unpersist()
            return {"status": "ok", "rows_affected": 0}
        g = self.graph()
        kind = stmt.kind.replace("_", "")
        entry = {"name": stmt.name, "kind": stmt.kind, "target": stmt.target, "df": None}
        if stmt.target and stmt.target in g.edges:
            et = g.edges[stmt.target]
            if kind in ("ADJACENCYLIST", "ADJACENCY"):
                et.df = et.df.repartition("_src").cache()
                entry["df"] = et.df
            elif kind in ("REACHABILITYINDEX", "REACHABILITY"):
                from .operators.paths import bfs_distances
                from pyspark.sql import functions as F

                srcs = et.df.select(F.col("_src").alias("node")).distinct()
                closure = bfs_distances(et.df, srcs, max_hops=8).cache()
                closure.count()
                entry["df"] = closure
        self._indexes[stmt.name.lower()] = entry
        return {"status": "ok", "rows_affected": 0}

    def _qualify(self, name: str) -> str:
        """Bare graph names resolve under the current default schema
        (AT statements swap it for one nested statement)."""
        return name if name.startswith("/") else f"/{self._schema_default}/{name}"

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("session is closed (SESSION CLOSE was executed)")

    def _check_writable(self) -> None:
        if self._txn_readonly:
            raise PermissionError(
                "DML is not allowed in a READ ONLY transaction"
            )

    # -- transactions (optimistic copy-on-write; see dml.py docstring) ------
    def _txn(self, stmt):
        kind = stmt.kind
        if kind == "START":
            # isolation levels (txn/isolation.rs): in this single-writer
            # embedded engine there are no concurrent transactions, so
            # every level ≥ READ COMMITTED is satisfied by the snapshot
            # model; the level is recorded and surfaced, and READ ONLY
            # access mode is enforced against DML.
            self._txn_isolation = stmt.isolation or "READ COMMITTED"
            self._txn_readonly = stmt.access_mode == "READ ONLY"
            self._txn_snapshot = {
                path: (
                    dict(self.catalog.get_graph(path).nodes),
                    {k: replace(v) for k, v in
                     self.catalog.get_graph(path).edges.items()},
                )
                for path in self.catalog.list_graphs()
            }
            return {
                "status": f"transaction started ({self._txn_isolation}"
                + (", READ ONLY)" if self._txn_readonly else ")"),
                "rows_affected": 0,
            }
        if kind == "COMMIT":
            self._txn_snapshot = None
            self._txn_readonly = False
            return {"status": "committed", "rows_affected": 0}
        if kind == "ROLLBACK":
            if self._txn_snapshot is None:
                return {"status": "no transaction", "rows_affected": 0}
            for path, (nodes, edges) in self._txn_snapshot.items():
                if not self.catalog.has_graph(path):
                    continue
                g = self.catalog.get_graph(path)
                g.nodes = dict(nodes)
                g.edges = dict(edges)
            self._txn_snapshot = None
            self._txn_readonly = False
            return {"status": "rolled back", "rows_affected": 0}
        raise ValueError(kind)

    # -- system procedures (catalog/system_procedures.rs:77-91) -------------
    def _call(self, stmt, params) -> DataFrame:
        from pyspark.sql import Row

        name = stmt.proc.lower()
        schema = None  # of ``rows``; inferred from them when None
        if name in self._procedures:
            out = self.execute(self._procedures[name], params)
            if stmt.yield_cols and hasattr(out, "select"):
                out = out.select(*stmt.yield_cols)
            return out
        if name == "gql.list_schemas":
            # YIELD columns per system_procedures.rs:7 (schema_name,
            # schema_path, created_at, modified_at)
            rows = [
                Row(schema_name=s, schema_path=f"/{s}",
                    created_at=self.catalog.schema_meta(s)["created_at"],
                    modified_at=self.catalog.schema_meta(s)["modified_at"])
                for s in self.catalog.list_schemas()
            ]
        elif name == "gql.list_graphs":
            rows = [
                Row(graph_name=g.rstrip("/").split("/")[-1],
                    schema_name=self.catalog.split_path(g)[0],
                    graph_path=g)
                for g in self.catalog.list_graphs()
            ]
        elif name == "gql.list_functions":
            from .functions.registry import _SCALARS, AGGREGATES

            rows = [Row(name=n, kind="aggregate") for n in sorted(AGGREGATES)] + [
                Row(name=n, kind="scalar") for n in sorted(_SCALARS) if not n.startswith("_")
            ]
        elif name == "gql.list_indexes":
            idx = getattr(self, "_indexes", {})
            rows = [Row(name=d["name"], kind=d["kind"], target=str(d["target"]))
                    for d in idx.values()]
            if not rows:
                return local_frame(
                    self.spark, [], "name string, kind string, target string")
        elif name == "gql.list_graph_types":
            rows = [Row(graph_type_name=n, schema_name="default")
                    for n in sorted(self._graph_types)]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "graph_type_name string, schema_name string")
        elif name == "gql.list_users":
            rows = [Row(user_name=u, roles=",".join(d["roles"]))
                    for u, d in sorted(self._users.items())]
        elif name == "gql.list_roles":
            rows = [Row(role_name=r, grants=",".join(d["grants"]))
                    for r, d in sorted(self._roles.items())]
        elif name == "gql.authenticate_user":
            user = stmt.args[0].value if stmt.args else "default"
            rows = [Row(user_name=user, authenticated=user in self._users)]
        elif name == "gql.show_session":
            # YIELD session_id, user_name, schema_name, graph_name
            # (system_procedures.rs:13)
            rows = [Row(
                session_id=self.spark.sparkContext.applicationId,
                user_name="default",
                schema_name=self._schema_default,
                graph_name=str(self._current_graph),
            )]
        elif name == "gql.cache_stats":
            # YIELD cache_type, entries, hit_rate, memory_bytes
            # (system_procedures.rs:14); hit_rate tracked for the plan
            # cache, RDD cache entries from the Spark context
            total = self._plan_cache_hits + self._plan_cache_misses
            rows = [
                Row(cache_type="plan_cache", entries=len(self._plan_cache),
                    hit_rate=(self._plan_cache_hits / total) if total else 0.0,
                    memory_bytes=0),
                Row(cache_type="result_cache",
                    entries=len(self._persisted),
                    hit_rate=1.0 if self._result_cache_on else 0.0,
                    memory_bytes=0),
                Row(cache_type="rdd_cache",
                    entries=len(self.spark.sparkContext._jsc.getPersistentRDDs()),
                    hit_rate=0.0, memory_bytes=0),
            ]
        elif name == "gql.clear_cache":
            # system_procedures.rs:901-966: returns (status, cleared_caches)
            n = len(self.spark.sparkContext._jsc.getPersistentRDDs())
            n += 1 if self._plan_cache else 0
            self.clear_plan_cache()
            self.spark.catalog.clearCache()
            rows = [Row(status="ok", cleared_caches=n)]
        elif name == "gql.current_graph":
            rows = [Row(graph=str(self._current_graph))]
        elif name == "gql.current_schema":
            cur = self._current_graph or "/default/"
            rows = [Row(schema=self.catalog.split_path(cur)[0])]
        elif name == "gql.describe_schema":
            target = (stmt.args[0].value if stmt.args
                      else self.catalog.split_path(self._current_graph or "/default/")[0])
            rows = [
                (target, g.split("/")[-1])
                for g in self.catalog.list_graphs()
                if self.catalog.split_path(g)[0] == target
            ] or [(target, None)]
            schema = "schema string, graph string"
        elif name == "gql.get_schema_statistics":
            from collections import Counter

            c = Counter(self.catalog.split_path(g)[0] for g in self.catalog.list_graphs())
            rows = [Row(schema=s, n_graphs=n) for s, n in sorted(c.items())]
        elif name == "gql.describe_graph":
            g = self.graph(stmt.args[0].value if stmt.args else None)
            rows = [
                Row(kind="node", label=lbl, properties=",".join(
                    c for c in g.nodes_for_label(lbl).columns if c != "_id"))
                for lbl in g.node_labels()
            ] + [
                Row(kind="edge", label=et.name,
                    properties=f"{et.src_label}->{et.dst_label}")
                for et in g.edges.values()
            ]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "kind string, label string, properties string")
        elif name == "gql.list_node_types":
            g = self.graph()
            rows = [Row(node_type=lbl) for lbl in g.node_labels()]
            if not rows:
                return local_frame(self.spark, [], "node_type string")
        elif name == "gql.describe_node_type":
            g = self.graph()
            lbl = stmt.args[0].value if stmt.args else ""
            ndf = g.nodes_for_label(lbl)
            rows = [Row(node_type=lbl, property=c, dtype=t)
                    for c, t in ndf.dtypes if c != "_id"]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "node_type string, property string, dtype string")
        elif name == "gql.list_edge_types":
            # introspection/queries.rs:94 ListEdgeTypes (roadmap-stubbed
            # there; answered from the live graph here)
            g = self.graph()
            rows = [
                Row(edge_type=t, src_label=g.edge_type(t).src_label,
                    dst_label=g.edge_type(t).dst_label)
                for t in g.edge_labels()
            ]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "edge_type string, src_label string, dst_label string")
        elif name == "gql.describe_edge_type":
            g = self.graph()
            t = stmt.args[0].value if stmt.args else ""
            et = g.edge_type(t)
            rows = [Row(edge_type=t, property=c, dtype=ty)
                    for c, ty in et.df.dtypes if c not in ("_src", "_dst")]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "edge_type string, property string, dtype string")
        elif name == "gql.describe_graph_type":
            # introspection/queries.rs:89 DescribeGraphType: one row per
            # declared element with its endpoint labels and property list
            tname = stmt.args[0].value if stmt.args else ""
            spec = self._graph_types.get(tname)
            if spec is None:
                raise CatalogError(f"unknown graph type {tname!r}")
            rows = [
                Row(graph_type=tname, kind="node", label=lbl,
                    src_label=None, dst_label=None,
                    properties=", ".join(f"{k} {v}" for k, v in sorted(ns.properties.items())))
                for lbl, ns in sorted(spec.nodes.items())
            ] + [
                Row(graph_type=tname, kind="edge", label=t,
                    src_label=es.src_label, dst_label=es.dst_label,
                    properties=", ".join(f"{k} {v}" for k, v in sorted(es.properties.items())))
                for t, es in sorted(spec.edges.items())
            ]
            if not rows:
                return local_frame(
                    self.spark, [],
                    "graph_type string, kind string, label string, "
                    "src_label string, dst_label string, properties string")
        elif name == "gql.graph_stats":
            # ONE Spark job: union every label table projected to two
            # literal columns (the scans are column-pruned to nothing),
            # then a single partial-aggregating groupBy — instead of N
            # serial driver-launched .count() jobs on an N-label graph.
            from pyspark.sql import functions as F

            g = self.graph(stmt.args[0].value if stmt.args else None)
            parts = [
                df.select(F.lit("node").alias("kind"), F.lit(lbl).alias("label"))
                for lbl, df in sorted(g.nodes.items())
            ] + [
                et.df.select(F.lit("edge").alias("kind"), F.lit(t).alias("label"))
                for t, et in sorted(g.edges.items())
            ]
            if not parts:
                return local_frame(
                    self.spark, [], "kind string, label string, n long")
            u = parts[0]
            for part in parts[1:]:
                u = u.unionByName(part)
            counts = u.groupBy("kind", "label").agg(F.count(F.lit(1)).alias("n"))
            # left-join against the catalog's label list so EMPTY tables
            # still report n=0 (a groupBy emits no group for them)
            labels = local_frame(
                self.spark,
                [("node", lbl) for lbl in sorted(g.nodes)]
                + [("edge", t) for t in sorted(g.edges)],
                "kind string, label string",
            )
            return (
                labels.join(counts, ["kind", "label"], "left")
                .select("kind", "label",
                        F.coalesce("n", F.lit(0)).alias("n"))
                # node rows before edge rows, labels alphabetical — the
                # same presentation order the reference's introspection
                # queries emit
                .orderBy(F.desc("kind"), "label")
            )
        elif name == "gql.sample_data":
            g = self.graph()
            lbl = stmt.args[0].value if stmt.args else g.node_labels()[0]
            k = int(stmt.args[1].value) if len(stmt.args) > 1 else 5
            df = g.nodes_for_label(lbl).limit(k)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.get_version_history":
            rows = [Row(version=__version__, note="graphlite-spark engine")]
        elif name == "gql.list_text_indexes":
            idx = getattr(self, "_indexes", {})
            rows = [Row(name=d["name"], target=str(d["target"]))
                    for d in idx.values() if d["kind"] == "TEXT"]
            if not rows:
                return local_frame(
                    self.spark, [], "name string, target string")
        elif name == "gql.describe_text_index":
            idx = getattr(self, "_indexes", {})
            tgt = stmt.args[0].value if stmt.args else None
            rows = [Row(name=d["name"], kind=d["kind"], target=str(d["target"]))
                    for d in idx.values()
                    if d["kind"] == "TEXT" and (tgt is None or d["name"] == tgt)]
            if not rows:
                return local_frame(
                    self.spark, [], "name string, kind string, target string")
        elif name == "gql.register_model":
            mname = stmt.args[0].value
            uri = stmt.args[1].value if len(stmt.args) > 1 else ""
            self._models[mname] = {"uri": uri, "loaded": False}
            rows = [Row(model=mname, status="registered")]
        elif name == "gql.delete_model":
            mname = stmt.args[0].value
            existed = self._models.pop(mname, None) is not None
            rows = [Row(model=mname, status="deleted" if existed else "not found")]
        elif name in ("gql.load_model", "gql.unload_model"):
            mname = stmt.args[0].value
            if mname not in self._models:
                raise KeyError(f"no model {mname!r}; register it first")
            self._models[mname]["loaded"] = name == "gql.load_model"
            rows = [Row(model=mname,
                        status="loaded" if name == "gql.load_model" else "unloaded")]
        elif name == "gql.list_models":
            rows = [Row(model=m, uri=d["uri"], loaded=d["loaded"])
                    for m, d in sorted(self._models.items())]
            if not rows:
                return local_frame(
                    self.spark, [], "model string, uri string, loaded boolean")
        elif name in ("gql.describe_model", "gql.model_stats"):
            mname = stmt.args[0].value if stmt.args else ""
            if mname not in self._models:
                raise KeyError(f"no model {mname!r}; have {sorted(self._models)}")
            d = self._models[mname]
            rows = [Row(model=mname, uri=d["uri"], loaded=d["loaded"])]
        elif name == "gql.bm25_search":
            # text search over a node label's string property — the CALL
            # surface the reference's text-index path gestures at
            # (plan/optimizer.rs:510-751) with real BM25 scoring
            from .operators.text import bm25_search

            label = stmt.args[0].value
            prop = stmt.args[1].value
            terms = str(stmt.args[2].value).split()
            k = int(stmt.args[3].value) if len(stmt.args) > 3 else 10
            ndf = self.graph().nodes_for_label(label)
            df = bm25_search(ndf, terms, text_col=prop, id_col="_id", k=k)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.gopher_filters":
            # the curation tier reachable from GQL (VERDICT r9 #6): the
            # Gopher rule-set flags over a node label's text property —
            # a GQL user audits/filters document nodes without leaving
            # the session graph
            from .operators.text import gopher_quality_filters

            label = stmt.args[0].value
            prop = stmt.args[1].value
            min_words = (int(stmt.args[2].value)
                         if len(stmt.args) > 2 else 50)
            min_stop = (int(stmt.args[3].value)
                        if len(stmt.args) > 3 else 2)
            ndf = self.graph().nodes_for_label(label)
            df = gopher_quality_filters(
                ndf, text_col=prop, id_col="_id",
                min_words=min_words, min_stop_words=min_stop)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.lang_id":
            # heuristic 13-language n-gram lang-id over a node label's
            # text property (operators/text.py lang_id)
            from .operators.text import lang_id

            label = stmt.args[0].value
            prop = stmt.args[1].value
            n = int(stmt.args[2].value) if len(stmt.args) > 2 else 3
            ndf = self.graph().nodes_for_label(label)
            df = lang_id(ndf, text_col=prop, id_col="_id", n=n)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.dedup":
            # (_id, canonical_id) over a node label's text property:
            # mode 'exact' = content-hash groups (min id canonical);
            # mode 'near' = MinHash-LSH verified pairs collapsed
            # through the transitive closure (dedup_clusters).
            # Survivors = WHERE _id = canonical_id.
            from pyspark.sql import functions as F

            from .operators.dedup import dedup_clusters, minhash_lsh_pairs

            label = stmt.args[0].value
            prop = stmt.args[1].value
            mode = (str(stmt.args[2].value).lower()
                    if len(stmt.args) > 2 else "exact")
            ndf = self.graph().nodes_for_label(label)
            if mode == "exact":
                key = F.xxhash64(F.lower(F.trim(F.col(prop))))
                canon = (ndf.select(F.col("_id"), key.alias("_h"))
                         .groupBy("_h")
                         .agg(F.min("_id").alias("canonical_id")))
                df = (ndf.select("_id", key.alias("_h"))
                      .join(canon, "_h")
                      .select("_id", "canonical_id"))
            elif mode == "near":
                thr = (float(stmt.args[3].value)
                       if len(stmt.args) > 3 else 0.8)
                pairs = minhash_lsh_pairs(ndf, text_col=prop,
                                          id_col="_id", threshold=thr)
                df = dedup_clusters(ndf, pairs, id_col="_id")
            else:
                raise ValueError(
                    f"gql.dedup mode must be 'exact' or 'near', "
                    f"got {mode!r}")
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.index_versions":
            # retained time-travel generations of a persisted index
            # (dedup/BM25/ANN/profile/tokenizer families all share the
            # manifest layer): CALL gql.index_versions('/path/to/idx')
            from .operators.index_store import versions

            rows = versions(self.spark, str(stmt.args[0].value))
            df = local_frame(
                self.spark,
                [(int(r["seq"]),
                  int(r["version"]) if r["version"] is not None else None,
                  int(r["hwm"]) if r["hwm"] is not None else None,
                  (int(r["delta_floor"])
                   if r["delta_floor"] is not None else None))
                 for r in rows],
                "seq long, version long, hwm long, delta_floor long")
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.index_describe":
            # scan-free per-tier ops summary of a persisted index:
            # CALL gql.index_describe('/path/to/idx')
            from .operators.index_store import describe_index

            d = describe_index(self.spark, str(stmt.args[0].value))
            df = local_frame(
                self.spark,
                [(t,
                  info.get("base_dir"),
                  info.get("base_bytes"),
                  info.get("base_files"),
                  info.get("delta_bytes"),
                  len(info.get("delta_epochs", [])),
                  int(d["seq"]),
                  int(d["version"]) if d["version"] is not None else None,
                  int(d["hwm"]) if d["hwm"] is not None else None,
                  (int(d["delta_floor"])
                   if d["delta_floor"] is not None else None))
                 for t, info in sorted(d["tiers"].items())],
                "tier string, base_dir string, base_bytes long, "
                "base_files long, delta_bytes long, delta_epochs long, "
                "seq long, version long, hwm long, delta_floor long")
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.index_changes":
            # changelog (CDC) rows a tier gained between two manifest
            # commits: CALL gql.index_changes('/path', 'exact', 2[, 3])
            from .operators.index_store import tier_changes

            path = str(stmt.args[0].value)
            tier = str(stmt.args[1].value)
            from_seq = int(stmt.args[2].value)
            to_seq = (int(stmt.args[3].value)
                      if len(stmt.args) > 3 else None)
            df = tier_changes(self.spark, path, tier, from_seq,
                              to_seq=to_seq)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.index_sync":
            # incrementally replicate a maintained index by shipping
            # its changelog: CALL gql.index_sync('/src', '/dst')
            from .operators.index_store import sync_index

            out = sync_index(self.spark, str(stmt.args[0].value),
                             str(stmt.args[1].value))
            df = local_frame(
                self.spark,
                [(bool(out["bootstrapped"]),
                  len(out["applied"]),
                  int(out["hwm"]) if out["hwm"] is not None else None)],
                "bootstrapped boolean, applied long, hwm long")
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.weighted_shortest_path":
            # weighted SSSP over one edge type's weight property
            from .operators.paths import weighted_sssp

            edge_label = stmt.args[0].value
            weight_prop = stmt.args[1].value
            source = stmt.args[2].value
            et = self.graph().edge_type(edge_label)
            src_df = local_frame(self.spark, [(int(source),)], "node: long")
            df = weighted_sssp(et.df, src_df, weight_col=weight_prop)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name == "gql.profile":
            # Deequ-style column profile over a label's node table
            # (operators/analytics.table_profile): CALL gql.profile(
            # 'Customer'[, 'col1', 'col2', ...])
            from .operators.analytics import table_profile

            if not stmt.args:
                raise ValueError("gql.profile needs (label[, cols...])")
            label = stmt.args[0].value
            nodes = self.graph().nodes_for_label(label)
            cols = [a.value for a in stmt.args[1:]] or None
            if cols:
                missing = [c for c in cols if c not in nodes.columns]
                if missing:
                    raise KeyError(
                        f"unknown properties {missing!r} on label "
                        f"{label!r}")
            df = table_profile(nodes, cols=cols)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name in ("gql.hll_distinct", "gql.dd_quantiles"):
            # sketch procedures over a node property (operators/
            # sketches.py): approximate distinct / quantiles that stay
            # mergeable and deterministic on any partitioning
            from pyspark.sql import functions as F

            from .operators import sketches as SK

            if len(stmt.args) < 2:
                raise ValueError(f"{name} needs (label, property, ...)")
            label = stmt.args[0].value
            prop = stmt.args[1].value
            nodes = self.graph().nodes_for_label(label)
            if prop not in nodes.columns:
                raise KeyError(
                    f"unknown property {prop!r} on label {label!r}")
            if name == "gql.hll_distinct":
                p = int(stmt.args[2].value) if len(stmt.args) > 2 else 12
                dtype = dict(nodes.dtypes)[prop]
                key = nodes.select(
                    (F.col(prop) if dtype in ("bigint", "int", "smallint",
                                              "tinyint")
                     else F.xxhash64(prop)).alias("_k"))
                df = SK.hll_count_distinct(key, "_k", p=p)
            else:
                qs = ([float(a.value) for a in stmt.args[2:]]
                      or [0.5, 0.9, 0.99])
                sketch = SK.dd_sketch(
                    nodes.select(F.col(prop).cast("double").alias("_v")),
                    "_v", alpha=0.01, on_nonpositive="drop")
                df = SK.dd_quantile(sketch, qs, alpha=0.01).orderBy("q")
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            return df
        elif name in ("gql.pagerank", "gql.connected_components",
                      "gql.k_truss", "gql.truss_decomposition",
                      "gql.core_decomposition",
                      "gql.betweenness_sampled",
                      "gql.closeness_sampled", "gql.leiden",
                      "gql.eccentricity_sampled",
                      "gql.random_walks", "gql.node2vec_walks",
                      "gql.katz_centrality", "gql.assortativity",
                      "gql.hits", "gql.link_prediction",
                      "gql.clustering_coefficient",
                      "gql.transitivity",
                      "gql.shortest_path_pair",
                      "gql.maximal_independent_set",
                      "gql.maximal_matching",
                      "gql.greedy_coloring"):
            # distributed graph analytics over the session graph's full
            # edge union (GraphIndexScan companions, operators/paths.py)
            from pyspark.sql import functions as F

            from .operators import paths as P

            g = self.graph()
            e_parts = [et.df.select("_src", "_dst")
                       for et in g.edges.values()]
            n_parts = [g.nodes_for_label(lbl).select("_id")
                       for lbl in g.node_labels()]
            # a graph can mix long-keyed registered tables with
            # string content-hash ids from pure-GQL inserts; under
            # ANSI union coercion the string side would be CAST to
            # BIGINT and blow up mid-stage — when id dtypes disagree
            # anywhere, run the analytics on the STRING id domain
            # (every operator here joins/compares ids only;
            # random_walks folds non-numeric ids through xxhash64)
            id_types = {t for p in e_parts + n_parts for _, t in p.dtypes}
            if len(id_types) > 1:
                e_parts = [p.select(F.col("_src").cast("string").alias("_src"),
                                    F.col("_dst").cast("string").alias("_dst"))
                           for p in e_parts]
                n_parts = [p.select(F.col("_id").cast("string").alias("_id"))
                           for p in n_parts]
            e = n = None
            for part in e_parts:
                e = part if e is None else e.unionByName(part)
            for part in n_parts:
                n = part if n is None else n.unionByName(part)
            if e is None:
                e = local_frame(self.spark, [], "_src long, _dst long")
            if n is None:
                n = local_frame(self.spark, [], "_id long")
            if name == "gql.pagerank":
                iters = int(stmt.args[0].value) if stmt.args else 10
                df = P.pagerank(e, n, num_iter=iters)
            elif name == "gql.k_truss":
                k = int(stmt.args[0].value) if stmt.args else 3
                df = P.k_truss(e, k)
            elif name == "gql.truss_decomposition":
                df = P.truss_decomposition(e)
            elif name == "gql.core_decomposition":
                df = P.core_decomposition(e)
            elif name == "gql.betweenness_sampled":
                p = float(stmt.args[0].value) if stmt.args else 0.25
                h = int(stmt.args[1].value) if len(stmt.args) > 1 else 8
                df = P.betweenness_sampled(
                    e, n.withColumnRenamed("_id", "node"), p=p,
                    max_hops=h)
            elif name == "gql.leiden":
                lv = int(stmt.args[0].value) if stmt.args else 3
                mr = int(stmt.args[1].value) if len(stmt.args) > 1 else 20
                res = (float(stmt.args[2].value)
                       if len(stmt.args) > 2 else 1.0)
                df = P.leiden_communities(e, n, max_levels=lv,
                                          max_rounds=mr,
                                          resolution=res)
            elif name == "gql.closeness_sampled":
                p = float(stmt.args[0].value) if stmt.args else 0.25
                h = int(stmt.args[1].value) if len(stmt.args) > 1 else 8
                df = P.closeness_sampled(
                    e, n.withColumnRenamed("_id", "node"), p=p,
                    max_hops=h, harmonic=True)
            elif name == "gql.eccentricity_sampled":
                p = float(stmt.args[0].value) if stmt.args else 0.25
                h = int(stmt.args[1].value) if len(stmt.args) > 1 else 8
                df = P.eccentricity_sampled(
                    e, n.withColumnRenamed("_id", "node"), p=p,
                    max_hops=h)
            elif name == "gql.random_walks":
                nw = int(stmt.args[0].value) if stmt.args else 1
                ln = int(stmt.args[1].value) if len(stmt.args) > 1 else 10
                df = P.random_walks(e, n_walks=nw, length=ln)
            elif name == "gql.node2vec_walks":
                nw = int(stmt.args[0].value) if stmt.args else 1
                ln = int(stmt.args[1].value) if len(stmt.args) > 1 else 10
                pp = stmt.args[2].value if len(stmt.args) > 2 else 1
                qq = stmt.args[3].value if len(stmt.args) > 3 else 1
                df = P.node2vec_walks(e, n_walks=nw, length=ln,
                                      p=pp, q=qq)
            elif name == "gql.hits":
                iters = int(stmt.args[0].value) if stmt.args else 10
                df = P.hits(e, n, num_iter=iters)
            elif name == "gql.katz_centrality":
                alpha = float(stmt.args[0].value) if stmt.args else 0.1
                beta = (float(stmt.args[1].value)
                        if len(stmt.args) > 1 else 1.0)
                iters = (int(stmt.args[2].value)
                         if len(stmt.args) > 2 else 10)
                df = P.katz_centrality(e, n, alpha=alpha, beta=beta,
                                       num_iter=iters)
            elif name == "gql.assortativity":
                df = P.degree_assortativity(e)
            elif name == "gql.link_prediction":
                cap = int(stmt.args[0].value) if stmt.args else None
                df = P.link_prediction(e, max_center_degree=cap)
            elif name == "gql.clustering_coefficient":
                df = P.clustering_coefficient(e)
            elif name == "gql.transitivity":
                df = P.transitivity(e)
            elif name == "gql.maximal_independent_set":
                salt = int(stmt.args[0].value) if stmt.args else 0
                df = P.maximal_independent_set(e, n, salt=salt)
            elif name == "gql.maximal_matching":
                salt = int(stmt.args[0].value) if stmt.args else 0
                df = P.maximal_matching(e, salt=salt)
            elif name == "gql.greedy_coloring":
                salt = int(stmt.args[0].value) if stmt.args else 0
                df = P.greedy_coloring(e, n, salt=salt)
            elif name == "gql.shortest_path_pair":
                if len(stmt.args) < 2:
                    raise ValueError(
                        "gql.shortest_path_pair needs (src, dst[, "
                        "max_hops])")
                hops = (int(stmt.args[2].value) if len(stmt.args) > 2
                        else 20)
                src_v, dst_v = stmt.args[0].value, stmt.args[1].value
                if len(id_types) > 1 or "string" in id_types:
                    src_v, dst_v, id_t = str(src_v), str(dst_v), "string"
                else:
                    src_v, dst_v, id_t = int(src_v), int(dst_v), "long"
                src_df = local_frame(self.spark, [(src_v,)], f"node: {id_t}")
                dst_df = local_frame(self.spark, [(dst_v,)], f"node: {id_t}")
                df = P.shortest_path_pair(e, src_df, dst_df,
                                          max_hops=hops)
            else:
                df = P.connected_components(e, n)
            if stmt.yield_cols:
                df = df.select(*stmt.yield_cols)
            if stmt.where is not None:
                from .gql.compiler import Binding, ExprCompiler, Frame

                frame = Frame(df, {c: Binding("value") for c in df.columns})
                df = df.filter(ExprCompiler(frame).compile(stmt.where))
            return df
        else:
            raise NotImplementedError(f"procedure {stmt.proc}")
        df = local_frame(self.spark, rows, schema)
        if stmt.yield_cols:
            df = df.select(*stmt.yield_cols)
        if stmt.where is not None:
            from .gql.compiler import Binding, ExprCompiler, Frame

            frame = Frame(df, {c: Binding("value") for c in df.columns})
            df = df.filter(ExprCompiler(frame).compile(stmt.where))
        return df
