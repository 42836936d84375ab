"""SDK-style session surface, mirroring the reference Python SDK.

Reference shapes (GraphLite `sdk-python/src/graphlite_sdk/
connection.py:38-150`, `query.py:28-146`):

    db.session(user) -> Session
    session.query(gql) / session.execute(stmt)
    with session.transaction(): ...
    session.query_builder().match_pattern(...).where_clause(...).limit(...)

Sessions carry per-user state (current graph, parameters); the fluent
builder assembles GQL text exactly like the reference's QueryBuilder.
"""

from __future__ import annotations

from typing import Any, Optional


class Session:
    def __init__(self, db, user: str = "default"):
        self.db = db
        self.user = user
        self._graph: Optional[str] = None
        self.parameters: dict[str, Any] = {}

    # -- state ---------------------------------------------------------------
    def use_graph(self, path: str) -> "Session":
        self.db.catalog.get_graph(path)
        self._graph = path
        return self

    def set_parameter(self, name: str, value: Any) -> "Session":
        self.parameters[name] = value
        return self

    # -- execution -------------------------------------------------------------
    def query(self, gql: str, params: dict[str, Any] | None = None):
        merged = {**self.parameters, **(params or {})}
        return self.db.query(gql, params=merged or None, graph=self._graph)

    def execute(self, gql: str, params: dict[str, Any] | None = None):
        merged = {**self.parameters, **(params or {})}
        prev = self.db._current_graph
        mine = self.db._current_graph = self._graph or prev
        try:
            return self.db.execute(gql, params=merged or None)
        finally:
            # a statement that set the graph (SESSION SET GRAPH, DROP
            # GRAPH of it) sets this session's, not the engine's
            if self.db._current_graph != mine:
                self._graph = self.db._current_graph
            self.db._current_graph = prev

    def transaction(self) -> "Transaction":
        return Transaction(self)

    def query_builder(self) -> "QueryBuilder":
        return QueryBuilder(self)


class Transaction:
    """Context manager: commit on clean exit, rollback on exception
    (connection.py transaction() semantics)."""

    def __init__(self, session: Session):
        self.session = session

    def __enter__(self) -> Session:
        self.session.execute("START TRANSACTION")
        return self.session

    def __exit__(self, exc_type, exc, tb) -> bool:
        self.session.execute("ROLLBACK" if exc_type else "COMMIT")
        return False


class QueryBuilder:
    """Fluent GQL assembly (query.py:28-146 method-for-method)."""

    def __init__(self, session: Session):
        self.session = session
        self._match: list[str] = []
        self._where: list[str] = []
        self._with: list[str] = []
        self._return: Optional[str] = None
        self._order_by: Optional[str] = None
        self._skip: Optional[int] = None
        self._limit: Optional[int] = None

    def match_pattern(self, pattern: str) -> "QueryBuilder":
        self._match.append(pattern)
        return self

    def where_clause(self, cond: str) -> "QueryBuilder":
        self._where.append(cond)
        return self

    def with_clause(self, items: str) -> "QueryBuilder":
        self._with.append(items)
        return self

    def return_clause(self, items: str) -> "QueryBuilder":
        self._return = items
        return self

    def order_by(self, items: str) -> "QueryBuilder":
        self._order_by = items
        return self

    def skip(self, n: int) -> "QueryBuilder":
        self._skip = n
        return self

    def limit(self, n: int) -> "QueryBuilder":
        self._limit = n
        return self

    def build(self) -> str:
        if not self._return:
            raise ValueError("query builder needs a return_clause")
        parts = []
        if self._match:
            parts.append("MATCH " + ", ".join(self._match))
        if self._where:
            parts.append("WHERE " + " AND ".join(f"({w})" for w in self._where))
        for w in self._with:
            parts.append("WITH " + w)
        parts.append("RETURN " + self._return)
        if self._order_by:
            parts.append("ORDER BY " + self._order_by)
        if self._skip is not None:
            parts.append(f"SKIP {self._skip}")
        if self._limit is not None:
            parts.append(f"LIMIT {self._limit}")
        return "\n".join(parts)

    def execute(self):
        return self.session.query(self.build())
