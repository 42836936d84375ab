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

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .catalog import CatalogError, GraphCatalog
from .graph import EdgeType, PropertyGraph
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
        self._txn_snapshot: Optional[dict] = None  # path -> held version
        self._txn_isolation: str = "READ COMMITTED"  # isolation.rs default
        self._txn_readonly: bool = False
        self._procedures: dict[str, str] = {}
        self._graph_types: dict[str, object] = {}
        self._indexes: dict[str, dict] = {}
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
            g.publish({k: t.over(t.view.limit(0)) for k, t in g.tables.items()})
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
        if stmt.action == "DROP":
            idx = self._indexes.pop(stmt.name.lower(), None)
            if idx and idx.get("df") is not None:
                idx["df"].unpersist()
            return {"status": "ok", "rows_affected": 0}
        g = self.graph()
        kind = stmt.kind.replace("_", "")
        entry = {"name": stmt.name, "kind": stmt.kind, "target": stmt.target, "df": None}
        et = g.tables.get((True, stmt.target))
        if et is not None:
            if kind in ("ADJACENCYLIST", "ADJACENCY"):
                et = et.over(et.view.repartition("_src").cache())
                g.publish({(True, et.name): et})
                entry["df"] = et.view
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

    # -- transactions: a held version of every graph, assigned back on
    #    ROLLBACK (see graph.py and dml.py docstrings) -------------------
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
            # a version is immutable: holding its mapping copies nothing
            self._txn_snapshot = {
                path: self.catalog.get_graph(path).tables
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
            for path, tables in self._txn_snapshot.items():
                if self.catalog.has_graph(path):
                    self.catalog.get_graph(path).tables = tables
            self._txn_snapshot = None
            self._txn_readonly = False
            return {"status": "rolled back", "rows_affected": 0}
        raise ValueError(kind)

    # -- system procedures (catalog/system_procedures.rs:77-91) -------------
    def _call(self, stmt, params) -> DataFrame:
        from .procedures import call

        return call(self, stmt, params)
