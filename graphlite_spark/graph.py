"""Property-graph data model on Spark DataFrames.

The reference engine models a graph as node/edge maps plus adjacency
indexes (GraphLite `graphlite/src/storage/graph_cache.rs:16-38`,
`storage/types.rs:68-134`). Spark-first, we instead store:

- one *typed* DataFrame per node label  (``_id`` + typed property columns)
- one *typed* DataFrame per edge label  (``_src``, ``_dst`` + properties)

This "shredded" layout is the scalable analogue of GraphLite's
label->ids indexes: a label scan is a single table scan (partition
pruning is free), properties stay strongly typed (predicate pushdown +
column pruning reach the parquet scan), and adjacency "indexes" are
simply the edge tables themselves, joinable on ``_src``/``_dst`` with
whatever strategy Catalyst picks (broadcast / shuffled-hash / SMJ).

Nodes with multiple labels appear in each label's table with the same
``_id``; ids must be unique graph-wide so entity-identity semantics
(DISTINCT / set ops, SURVEY §2.7) hold.

Declared keys, in the SQL/PGQ vocabulary (SQL:2023 Part 16). A node
label may name its ``KEY`` column and the encoding of its ids,
``_id = ns·10¹² + key`` (``add_nodes(label, df, key=, ns=)``); like
``_id``, the key is unique and non-null. An edge may be declared over
raw key columns of a table (``add_edges(..., by_key=True)``): ``SOURCE
KEY (src_col) REFERENCES`` the source label's key and ``DESTINATION KEY
(dst_col) REFERENCES`` the destination's; ``_src``/``_dst`` are encoded
from them. The compiler then filters and joins on the raw keys, so a key
predicate reaches the parquet scan, and where an edge is drawn from its
endpoint's own table on that node's key (TPC-H's PLACED rows are the
Order rows) it reads the node's properties from the edge row, no join.

A declaration holds only for the table it was declared on. A write
that publishes a new table for the label or the edge (``dml.commit``)
drops every raw-key and same-row use that depends on it, and reads fall
back to ``_id`` joins: ``node_key``/``edge_keys`` compare the current
table with the declared one by identity. A graph that declares no keys
compiles on ``_id`` alone.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ID = "_id"
SRC = "_src"
DST = "_dst"
NS = 10**12  # a keyed label's ids are ns * NS + key


@dataclass(frozen=True, eq=False)
class NodeKey:
    """``KEY (column)`` of a label whose ids encode it: ``_id = ns·NS +
    column``. ``table`` is the table as declared; ``df``, the node table
    (``table`` plus ``_id``) the declaration holds for."""

    column: str
    ns: int
    dtype: str
    table: DataFrame
    df: DataFrame | None = None

    def encode(self, key: Column) -> Column:
        return F.lit(self.ns * NS) + key.cast("long")


@dataclass(frozen=True, eq=False)
class EdgeKeys:
    """``SOURCE KEY (src) REFERENCES source`` and ``DESTINATION KEY (dst)
    REFERENCES destination``: raw key columns of ``table``, from which
    the edge table ``df`` the declaration holds for was encoded."""

    table: DataFrame
    src: str
    dst: str
    source: NodeKey
    destination: NodeKey
    df: DataFrame | None = None


@dataclass
class EdgeType:
    """A typed edge table: ``df`` has ``_src``/``_dst`` plus property columns.

    ``src_label``/``dst_label`` give the compiler the endpoint node tables
    (GraphLite edges carry exactly one label, storage/types.rs:128-134).
    ``keys`` is set when the edge was declared over raw key columns.
    """

    name: str
    df: DataFrame
    src_label: str
    dst_label: str
    keys: EdgeKeys | None = None

    @property
    def properties(self) -> list[str]:
        return [c for c in self.df.columns if c not in (SRC, DST)]


@dataclass
class PropertyGraph:
    """A graph = {label: nodes_df} + {edge_label: EdgeType}."""

    spark: SparkSession
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: dict[str, EdgeType] = field(default_factory=dict)
    name: str = "graph"
    graph_type: object | None = None  # GraphTypeSpec when typed (ast.rs:749-812)
    node_keys: dict[str, NodeKey] = field(default_factory=dict)

    # -- construction -----------------------------------------------------
    def add_nodes(self, label: str, df: DataFrame, id_col: str | None = None,
                  *, key: str | None = None,
                  ns: int | None = None) -> "PropertyGraph":
        """Register a node table. ``id_col`` is renamed to ``_id`` (kept as a
        property too, so GQL can reference it by its natural name). Or
        declare the label's ``key`` and id namespace ``ns``: ``_id`` is
        then ``ns·NS + key``."""
        if (id_col is None) == (key is None) or (key is None) != (ns is None):
            raise ValueError("add_nodes takes id_col, or key and ns")
        self.node_keys.pop(label, None)
        if key is not None:
            nk = NodeKey(key, ns, dict(df.dtypes)[key], df)
            df = df.withColumn(ID, nk.encode(F.col(key)))
            self.node_keys[label] = replace(nk, df=df)
        elif id_col != ID:
            df = df.withColumn(ID, F.col(id_col))
        self.nodes[label] = df
        return self

    def add_edges(
        self,
        name: str,
        df: DataFrame,
        src_col: str,
        dst_col: str,
        src_label: str,
        dst_label: str,
        *,
        by_key: bool = False,
        properties: list[str] | None = None,
    ) -> "PropertyGraph":
        """Register an edge table whose ``src_col``/``dst_col`` hold its
        endpoint ids. With ``by_key`` they are raw keys referencing the
        endpoint labels' declared keys, and the edge keeps ``properties``
        (default: every column of ``df``)."""
        keys = None
        if by_key:
            keys = EdgeKeys(df, src_col, dst_col, self.node_keys[src_label],
                            self.node_keys[dst_label])
            df = df.select(
                keys.source.encode(F.col(src_col)).alias(SRC),
                keys.destination.encode(F.col(dst_col)).alias(DST),
                *(df.columns if properties is None else properties))
            keys = replace(keys, df=df)
        else:
            if src_col != SRC:
                df = df.withColumn(SRC, F.col(src_col))
            if dst_col != DST:
                df = df.withColumn(DST, F.col(dst_col))
        self.edges[name] = EdgeType(name, df, src_label, dst_label, keys)
        return self

    # -- declared keys, while the tables they were declared on stand ------
    def node_key(self, label: str | None) -> NodeKey | None:
        k = self.node_keys.get(label)
        return k if k is not None and self.nodes.get(label) is k.df else None

    @staticmethod
    def edge_keys(et: EdgeType) -> EdgeKeys | None:
        k = et.keys
        return k if k is not None and et.df is k.df else None

    def endpoint_key(self, et: EdgeType, side: str) -> tuple[NodeKey, str] | None:
        """The ``side`` (``_src``/``_dst``) endpoint's key and the column of
        the edge's table that holds it, while both declarations stand."""
        k = self.edge_keys(et)
        if k is None:
            return None
        label, nk, col = ((et.src_label, k.source, k.src) if side == SRC
                          else (et.dst_label, k.destination, k.dst))
        return (nk, col) if self.node_key(label) is nk else None

    # -- lookups used by the compiler -------------------------------------
    def node_labels(self) -> list[str]:
        return sorted(self.nodes)

    def edge_labels(self) -> list[str]:
        return sorted(self.edges)

    def nodes_for_label(self, label: str) -> DataFrame:
        if label not in self.nodes:
            raise KeyError(f"unknown node label {label!r}; have {self.node_labels()}")
        return self.nodes[label]

    def edge_type(self, name: str) -> EdgeType:
        if name not in self.edges:
            raise KeyError(f"unknown edge label {name!r}; have {self.edge_labels()}")
        return self.edges[name]

    def edge_types_between(
        self, src_label: str | None, dst_label: str | None
    ) -> list[EdgeType]:
        """All edge types compatible with the given endpoint labels (either
        side may be None = unconstrained). Used when a pattern omits the
        edge label."""
        out = []
        for et in self.edges.values():
            if src_label is not None and et.src_label != src_label:
                continue
            if dst_label is not None and et.dst_label != dst_label:
                continue
            out.append(et)
        return out

    def all_nodes(self, columns: list[str] | None = None) -> DataFrame:
        """Union of every label table on (id, label [, requested props]).

        A label-free scan is inherently a multi-table union in the shredded
        layout; only columns common to all tables (or requested) survive.
        """
        parts = []
        for label, df in sorted(self.nodes.items()):
            cols = [F.col(ID), F.lit(label).alias("_label")]
            for c in columns or []:
                cols.append(
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                )
            parts.append(df.select(*cols))
        if not parts:
            raise ValueError("graph has no node tables")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
