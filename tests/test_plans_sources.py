"""Plan-quality assertions + source readers."""

from __future__ import annotations

import pytest

from tests.test_cli import DATA


def test_q1_plan_is_single_pruned_scan(spark):
    """The elision + pushdown contract: an edge-only aggregation reads one
    table, prunes to the referenced columns, pushes the filter."""
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    df = db.query(
        "MATCH (o:Order)-[l:LINE]->(p:Part) WHERE l.l_quantity > 10 "
        "RETURN l.l_returnflag AS rf, count(*) AS n"
    )
    s = summarize(df)
    assert s.joins == 0, s.text
    li_scans = [x for x in s.scans if "lineitem" in (x["location"] or "")]
    assert len(li_scans) == 1
    assert any("l_quantity" in f for f in li_scans[0]["pushed_filters"]), li_scans
    assert len(li_scans[0]["columns"]) <= 2, li_scans


def test_expand_pushes_node_filter_to_scan(spark):
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    df = db.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_acctbal > 9000 "
        "RETURN c.c_custkey AS k, o.o_orderkey AS ok"
    )
    s = summarize(df)
    cust = [x for x in s.scans if "customer" in (x["location"] or "")]
    assert cust and any("c_acctbal" in f for f in cust[0]["pushed_filters"]), s.text


def test_key_derivation_elides_node_scan(spark):
    """A var referenced only via its natural key joins no node table: the
    edge declares the raw key columns of its table (``add_edges(...,
    by_key=True)``) and the key is read from the edge row."""
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    # s only via s.s_suppkey -> the supplier NODE table must not be
    # scanned; the IN_NATION edge (built from supplier.parquet) reads
    # only the two endpoint-key columns
    df = db.query(
        "MATCH (s:Supplier)-[:IN_NATION]->(n:Nation) "
        "RETURN s.s_suppkey AS sk, n.n_name AS nation ORDER BY sk LIMIT 5"
    )
    s = summarize(df)
    # formatted plans list each join node twice (tree + detail section):
    # one physical join -> 2 matches. Only the Nation join remains.
    assert s.joins == 2, s.text
    sup = [x for x in s.scans if "supplier" in (x["location"] or "")]
    assert len(sup) == 1, s.text
    assert set(sup[0]["columns"]) <= {"s_suppkey", "s_nationkey"}, sup
    rows = df.collect()
    assert [r.sk for r in rows] == [0, 1, 2, 3, 4]
    # the key read from the edge keeps its column type (int64 here)
    assert dict(df.dtypes)["sk"] == "bigint"


def test_key_derivation_entity_use_still_materializes(spark):
    """A var read beyond its key is read from its own table. IN_NATION is
    drawn from the supplier table on the supplier key, so s_name comes
    from the edge row: one supplier scan, and only the Nation join is
    left (it joined the supplier node table before keys were declared)."""
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    df = db.query(
        "MATCH (s:Supplier)-[:IN_NATION]->(n:Nation) "
        "WHERE n.n_name IS NOT NULL RETURN s.s_name AS name ORDER BY name LIMIT 3"
    )
    s = summarize(df)
    # one physical join (nation), listed twice
    assert s.joins == 2, s.text
    sup = [x for x in s.scans if "supplier" in (x["location"] or "")]
    assert len(sup) == 1, s.text
    want = sorted(r.s_name for r in spark.read.parquet(
        f"{DATA}/supplier.parquet").collect())[:3]
    assert [r.name for r in df.collect()] == want


@pytest.fixture(scope="module")
def tpch_db(spark):
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, DATA))
    return db


def _duck_rows(sql, params):
    from perfbench.oracles import DuckOracle

    duck = DuckOracle(DATA)
    try:
        return duck.rows(sql, params)
    finally:
        duck.close()


def _pushes(scan, pred):
    # summarize() splits PushedFilters on commas, inside filters too
    return pred in ",".join(scan["pushed_filters"])


_HOP1_REVERSED = (
    "MATCH (o:Order)<-[:PLACED]-(c:Customer) WHERE c.c_custkey = $k "
    "RETURN o.o_orderkey AS orderkey, o.o_totalprice AS totalprice"
)


@pytest.mark.parametrize("gql", ["hop1", "reversed"])
def test_hop1_key_reaches_the_single_orders_scan(tpch_db, gql):
    """PLACED is drawn from the orders table on the Order key: hop1 reads
    Order from the PLACED row (no join back, no broadcast), and the
    customer key becomes ``o_custkey = k`` in the parquet scan."""
    from perfbench.oracles import rows_match
    from perfbench.workloads import READ_SHAPES
    from graphlite_spark.plans.inspect import summarize

    text, sql = READ_SHAPES["hop1"]
    df = tpch_db.query(_HOP1_REVERSED if gql == "reversed" else text,
                       {"k": 7})
    s = summarize(df)
    assert len(s.scans) == 1 and "orders" in s.scans[0]["location"], s.text
    assert _pushes(s.scans[0], "EqualTo(o_custkey,7)"), s.text
    assert s.joins == 0 and "BroadcastExchange" not in s.text, s.text
    want_cols, want = _duck_rows(sql, {"k": 7})
    assert want
    assert rows_match(df.columns, [tuple(r) for r in df.collect()],
                      want_cols, want) is None


def test_hop2_key_reaches_orders_scan(tpch_db):
    """hop2 joins LINE on the raw ``l_orderkey = o_orderkey``; the key
    filter is pushed into the orders scan."""
    from perfbench.oracles import rows_match
    from perfbench.workloads import READ_SHAPES
    from graphlite_spark.plans.inspect import summarize

    text, sql = READ_SHAPES["hop2"]
    df = tpch_db.query(text, {"k": 7})
    s = summarize(df)
    orders = [x for x in s.scans if "orders" in x["location"]]
    assert len(orders) == 1 and len(s.scans) == 2, s.text
    assert _pushes(orders[0], "EqualTo(o_custkey,7)"), s.text
    want_cols, want = _duck_rows(sql, {"k": 7})
    assert want
    assert rows_match(df.columns, [tuple(r) for r in df.collect()],
                      want_cols, want) is None


def test_entity_read_from_edge_row_keeps_id_identity(tpch_db):
    """``RETURN o`` of an Order read from its PLACED row still carries the
    graph id, and joins another pattern's o on it (OPTIONAL MATCH joins
    frames on ``_id``)."""
    rows = tpch_db.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = 7 "
        "RETURN DISTINCT o, id(o) AS i").collect()
    assert rows
    assert all(r.i == r.o._id == 6 * 10**12 + r.o.o_orderkey for r in rows)
    _cols, want = _duck_rows(
        "SELECT count(*) FROM orders WHERE o_custkey = $k", {"k": 7})
    assert len(rows) == want[0][0]
    got = tpch_db.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = 7 "
        "OPTIONAL MATCH (o)-[:LINE]->(p:Part) "
        "RETURN count(*) AS n, count(p) AS np").collect()[0]
    _cols, want = _duck_rows(
        "SELECT count(*), count(l.l_partkey) FROM orders o LEFT JOIN "
        "lineitem l ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = $k",
        {"k": 7})
    assert (got.n, got.np) == tuple(want[0])


def test_placed_shows_the_same_properties(tpch_db):
    """PLACED shares the orders table with Order, but shows no property
    beyond its endpoints, as when it was a projection of its own."""
    rows = tpch_db.execute("CALL gql.describe_graph()").collect()
    assert ("edge", "PLACED", "Customer->Order") in [tuple(r) for r in rows]
    assert ("node", "Order", "o_orderkey,o_custkey,o_orderstatus,"
            "o_totalprice,o_orderdate,o_orderpriority") in [
        tuple(r) for r in rows]
    assert tpch_db.execute(
        "CALL gql.describe_edge_type('PLACED')").collect() == []
    df = tpch_db.query(
        "MATCH (c:Customer)-[e:PLACED]->(o:Order) WHERE c.c_custkey = 7 "
        "RETURN e, keys(e) AS ks ORDER BY e._dst LIMIT 2")
    assert df.dtypes[0] == ("e", "struct<_dst:bigint,_src:bigint>")
    assert [tuple(r) for r in df.collect()] == [
        ((6000000000011, 3000000000007), ["_dst", "_src"]),
        ((6000000000022, 3000000000007), ["_dst", "_src"]),
    ]


def test_interior_shared_var_avoids_rescan(spark):
    """A var shared mid-pattern splits the pattern at the bound node and
    expands both directions on the current frame — no second nation
    scan, no frame-to-frame join (_split_at_bound)."""
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    df = db.query(
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation), "
        "(s:Supplier)-[:IN_NATION]->(n)-[:IN_REGION]->(r:Region) "
        "RETURN r.r_name AS region, count(*) AS n_pairs ORDER BY region"
    )
    s = summarize(df)
    # n is structural: its node table is elided entirely; the single
    # nation.parquet scan is the IN_REGION edge table
    nation_scans = [x for x in s.scans if "nation" in (x["location"] or "")]
    assert len(nation_scans) == 1, s.text
    got = [(r.region, r.n_pairs) for r in df.collect()]
    assert got == [
        ("AFRICA", 14), ("AMERICA", 5), ("ASIA", 4),
        ("EUROPE", 21), ("MIDDLE EAST", 18),
    ]


def test_correlated_not_exists_is_single_anti_join(spark):
    """Decorrelation contract: a NOT EXISTS whose body references outer
    variables compiles to ONE anti-join with the correlated predicate as
    the join condition — no nested-loop join, no per-row re-execution."""
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph
    from graphlite_spark.plans.inspect import summarize

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, "/root/testdata/sf0.001"))
    df = db.query(
        "MATCH (s:Supplier)-[l:SUPPLIES]->(:Part) "
        "WHERE NOT EXISTS {(s2:Supplier)-[l2:SUPPLIES]->(:Part) "
        "WHERE l2.l_orderkey = l.l_orderkey AND s2.s_suppkey <> s.s_suppkey} "
        "RETURN s.s_name AS s_name, count(*) AS n"
    )
    s = summarize(df)
    assert s.nested_loop_joins == 0, s.text
    assert "LeftAnti" in s.text, s.text
    # both pattern scans elide their part/supplier node tables: only the
    # lineitem edge table (and the supplier node for s_name) is read
    li = [x for x in s.scans if "lineitem" in (x["location"] or "")]
    assert len(li) == 2, s.text


def test_edge_list_reader(spark, tmp_path):
    from graphlite_spark.sources.readers import edge_list

    p = tmp_path / "edges.txt"
    p.write_text("# comment\n1\t2\n2\t3\n3\t1\n")
    df = edge_list(spark, str(p))
    assert sorted((r._src, r._dst) for r in df.collect()) == [(1, 2), (2, 3), (3, 1)]


def test_documents_source_jsonl(spark, tmp_path):
    from graphlite_spark.sources.readers import documents_source

    p = tmp_path / "docs.jsonl"
    p.write_text('{"body": "hello world"}\n{"body": "hello world"}\n{"body": "other"}\n')
    df = documents_source(spark, str(p), fmt="json", text_col="body")
    assert set(df.columns) >= {"doc_id", "text"}
    got = df.select("doc_id", "text").collect()
    ids = {r.text: r.doc_id for r in got}
    assert len(ids) == 2  # same text → same content-derived id


def test_load_nodes_edges_roundtrip(spark, tmp_path):
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from graphlite_spark.sources.readers import load_edges, load_nodes

    nodes_p = str(tmp_path / "n.parquet")
    edges_p = str(tmp_path / "e.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "nid: long, name: string"
    ).write.parquet(nodes_p)
    spark.createDataFrame(
        [(1, 2), (2, 3)], "s: long, d: long"
    ).write.parquet(edges_p)

    g = PropertyGraph(spark, name="g")
    load_nodes(g, "N", nodes_p, "nid")
    load_edges(g, "E", edges_p, "s", "d", "N", "N")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    got = db.query(
        "MATCH (a:N)-[:E]->(b:N) RETURN a.name AS a, b.name AS b ORDER BY a"
    ).collect()
    assert [(r.a, r.b) for r in got] == [("a", "b"), ("b", "c")]


def test_bucketed_expand_join_avoids_shuffle(spark):
    """The scale layout: node table bucketed by _id, edge table by _src,
    same bucket count — the expand join runs with at most one Exchange
    (the unbucketed probe side), not two."""
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from graphlite_spark.plans.inspect import summarize

    nodes = spark.createDataFrame(
        [(i, f"u{i}") for i in range(1000)], "uid: long, name: string"
    )
    edges = spark.createDataFrame(
        [(i, (i * 7) % 1000) for i in range(5000)], "src: long, dst: long"
    )
    g = PropertyGraph(spark, name="buck")
    g.add_nodes("U", nodes, "uid")
    g.add_edges("F", edges, "src", "dst", "U", "U")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    db.catalog.save_graph_bucketed("/default/buck", buckets=4)
    gb = db.catalog.load_graph_bucketed("/default/buck")
    db.register_graph(gb, "buck_b")

    df = db.query(
        "MATCH (a:U)-[:F]->(b:U) RETURN a.name AS an, b.name AS bn",
        graph="/default/buck_b",
    )
    s = summarize(df)
    # both joins hit bucketed tables on the bucket key; allow the AQE
    # top-level exchange but no full two-sided shuffle per join
    assert s.exchanges <= 2, s.text


def test_result_formats(spark):
    import json as _json

    from graphlite_spark.sources.sinks import format_rows, write_results

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, name: string")
    t = format_rows(df.orderBy("id"), "table")
    assert "| id" in t and "| 1" in t.replace("  ", " ")
    j = _json.loads(format_rows(df.orderBy("id"), "json"))
    assert j == [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]
    c = format_rows(df.orderBy("id"), "csv")
    assert c.splitlines()[0] == "id,name" and "1,a" in c


def test_write_results_roundtrip(spark, tmp_path):
    from graphlite_spark.sources.sinks import write_results

    df = spark.createDataFrame([(1, "a")], "id: long, name: string")
    out = str(tmp_path / "res")
    write_results(df, out, fmt="parquet")
    assert spark.read.parquet(out).count() == 1


def test_write_parquet_sized(spark, tmp_path):
    import glob

    from graphlite_spark.sources.sinks import write_parquet_sized

    df = spark.range(0, 10000).selectExpr(
        "id", "id % 7 AS k", "repeat('x', 100) AS pad")
    out = str(tmp_path / "sized")
    n = write_parquet_sized(df, out, target_mb=1)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n >= 1
    back = spark.read.parquet(out)
    assert back.count() == 10000

    # hive partitioning + in-partition sort still round-trips
    out2 = str(tmp_path / "sized2")
    write_parquet_sized(df, out2, target_mb=1, partition_by=["k"],
                        sort_by=["id"])
    back2 = spark.read.parquet(out2)
    assert back2.count() == 10000
    assert set(back2.select("k").distinct().toPandas()["k"]) == set(range(7))

    import pytest

    with pytest.raises(ValueError):
        write_parquet_sized(df, out, target_mb=0)


def test_bloom_join_hash_chains_stay_below_the_bnlj(spark):
    """Pin the r8 codegen repair: the KM mix32 hash projections live
    on the PROBE branch below the BroadcastNestedLoopJoin, so
    bnlj_doConsume holds only the k bit tests and compiles inside
    janino's 64 KB method limit (the old shape fused the chains into
    the join consume and silently fell back to interpreted eval)."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.sketches import bloom_filter_join

    big = spark.range(2000).select(F.col("id").alias("k"))
    keys = spark.range(0, 2000, 7).select(F.col("id").alias("k"))
    out = bloom_filter_join(big, keys, "k", num_bits=1 << 12, k=3)
    out.write.mode("overwrite").format("noop").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    bnlj_idx = next(i for i, ln in enumerate(lines)
                    if "BroadcastNestedLoopJoin" in ln)
    # in the physical tree string, children print BELOW their parent;
    # every _qp hash column must first materialize below the join
    qp_idx = next(i for i, ln in enumerate(lines)
                  if "_qp0" in ln and "Project" in ln)
    assert qp_idx > bnlj_idx, (
        "KM hash projection sits above the join again:\n" + plan[:2000])
    # and the answer is still the bloom superset semantics: every true
    # member survives (no false negatives)
    got = {r.k for r in out.collect()}
    assert {r.k for r in keys.collect()} <= got


def test_asof_delta_clamp_compiles_to_partition_filter(spark, tmp_path):
    """Time-travel reads prune later epochs at the DIRECTORY level:
    the snapshot's hwm clamp must appear as a PartitionFilters entry
    on the delta scan (a post-scan Filter would read epoch 2's files
    first)."""
    from graphlite_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_ingest_batch,
    )
    from graphlite_spark.operators.index_store import read_tier

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha bravo common words here")],
        "doc_id long, text string")
    build_dedup_index(docs, path, n=3, num_hashes=64, bands=16)
    dedup_index_ingest_batch(spark.createDataFrame(
        [(10, "fresh epoch one content okay")],
        "doc_id long, text string"), path, batch_id=1, near=False)
    dedup_index_ingest_batch(spark.createDataFrame(
        [(20, "brand new second epoch text")],
        "doc_id long, text string"), path, batch_id=2, near=False)
    df = read_tier(spark, path, "exact", as_of_seq=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_batch_id" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_salted_span_join_keys_on_gram_and_salt(spark):
    """The salted path's semi-join must key on (_k, _salt) — the
    whole point is that the hot gram's rows hash to `salt` partitions
    instead of one."""
    from graphlite_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [(1, "permission is hereby granted free of charge"),
         (2, "permission is hereby granted free of charge")],
        "doc_id long, text string")
    plan = span_dedup(docs, k=4, skew="salted")._jdf \
        .queryExecution().analyzed().toString()
    assert "_salt" in plan
