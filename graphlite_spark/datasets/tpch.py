"""Map the driver's TPC-H-ish parquet tables onto a property graph.

Node labels keep their natural keys as ``_id`` and original column
names as properties, so every GQL query over the graph has an obvious
ANSI-SQL oracle over the raw tables.

Graph schema:

    (Customer)-[:PLACED]->(Order)
    (Order)-[:LINE {l_*}]->(Part)          # one edge per lineitem row
    (Supplier)-[:SUPPLIES {l_*}]->(Part)   # lineitem, keyed by suppkey
    (Customer)-[:FROM_NATION]->(Nation)
    (Supplier)-[:IN_NATION]->(Nation)
    (Nation)-[:IN_REGION]->(Region)

Node ids are made globally unique by namespacing: each label declares
its natural key, and its ``_id`` is ``label_prefix * 10^12 + key`` —
cheap, collision free at any realistic scale, and keeps ids as longs
for fast joins. Every edge is declared over the raw key columns of its
table (``by_key``), so a key predicate reaches the parquet scan and
PLACED, PERFORMED, FROM_NATION, IN_NATION and IN_REGION read their
Order/Event/Customer/Supplier/Nation endpoint from their own row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import PropertyGraph

_LABEL_NS = {
    "Region": 1,
    "Nation": 2,
    "Customer": 3,
    "Supplier": 4,
    "Part": 5,
    "Order": 6,
    "Event": 7,
    "User": 8,
    "Document": 9,
}


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    long (spark.sql.legacy.parquet.nanosAsLong=true); we convert to
    microsecond timestamps at load so the engine sees TimestampType."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path.removeprefix("file:"))
    out = []
    for f in schema:
        t = f.type
        if str(t).startswith("timestamp[ns"):
            out.append(f.name)
    return out


_DISTRIBUTE_MIN_ROWS = 100_000


def load_table(
    spark: SparkSession, sf_dir: str, name: str, distribute: bool = False
) -> DataFrame:
    """Read one table; optionally redistribute an under-parallel file.

    Parquet splits at row-group granularity and the driver's testdata is
    one row group per file, so every scan starts as a single task.
    ``distribute=True`` inserts one round-robin repartition to the
    session's core count (gated on table size so small tables keep their
    bare pruned-scan plans). Measured A/B at sf0.1 (600k-row lineitem):
    the extra exchange LOSES for scan→aggregate shapes (agg_q1 0.91s →
    1.21s; q5 star join 0.97s → 1.59s) because Catalyst's map-side
    partial aggregation inside the scan stage already collapses the data
    before any shuffle — so the default stays False. Turn it on only
    when the per-row downstream work is heavy enough to dwarf an
    exchange (e.g. Pandas-UDF feature extraction over a single-file
    input); a real 100 TB table arrives as thousands of row groups and
    never needs it.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    for c in _ns_timestamp_cols(path):
        df = df.withColumn(c, F.timestamp_micros((F.col(c) / 1000).cast("long")))
    if distribute:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path.removeprefix("file:")).metadata
        para = spark.sparkContext.defaultParallelism
        if meta.num_rows >= _DISTRIBUTE_MIN_ROWS and meta.num_row_groups < para:
            df = df.repartition(para)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: load_table(spark, sf_dir, n) for n in names}


def tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    t = load_tables(spark, sf_dir)
    g = PropertyGraph(spark, name="tpch")

    def nodes(label: str, df: DataFrame, key: str) -> None:
        g.add_nodes(label, df, key=key, ns=_LABEL_NS[label])

    def edge(name, df, src_key, dst_key, src_label, dst_label, props=()):
        g.add_edges(name, df, src_key, dst_key, src_label, dst_label,
                    by_key=True, properties=list(props))

    nodes("Region", t["region"], "r_regionkey")
    nodes("Nation", t["nation"], "n_nationkey")
    nodes("Customer", t["customer"], "c_custkey")
    nodes("Supplier", t["supplier"], "s_suppkey")
    nodes("Part", t["part"], "p_partkey")
    nodes("Order", t["orders"], "o_orderkey")

    edge("PLACED", t["orders"], "o_custkey", "o_orderkey", "Customer", "Order")
    li_props = t["lineitem"].columns
    edge("LINE", t["lineitem"], "l_orderkey", "l_partkey", "Order", "Part",
         li_props)
    edge("SUPPLIES", t["lineitem"], "l_suppkey", "l_partkey", "Supplier",
         "Part", li_props)
    edge("FROM_NATION", t["customer"], "c_custkey", "c_nationkey",
         "Customer", "Nation")
    edge("IN_NATION", t["supplier"], "s_suppkey", "s_nationkey",
         "Supplier", "Nation")
    edge("IN_REGION", t["nation"], "n_nationkey", "n_regionkey",
         "Nation", "Region")

    # Event/User subgraph from the events table — gives the graph a
    # self-referencing edge type (Event-FOLLOWS->Event: each user's events
    # in ts order) so variable-length path operators have a real workload.
    from pyspark.sql import Window

    ev = t["events"]
    nodes("Event", ev, "event_id")
    nodes("User", ev.select("user_id").distinct(), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    follows = (
        ev.withColumn("_next", F.lead("event_id").over(w))
        .filter(F.col("_next").isNotNull())
        .select("event_id", "_next")
    )
    edge("FOLLOWS", follows, "event_id", "_next", "Event", "Event")
    nodes("Document", t["documents"], "doc_id")
    edge("PERFORMED", ev, "user_id", "event_id", "User", "Event")
    return g
