"""The single DML commit path: lineage cut once per touched table, and
statement atomicity, on the write_mix base graph of the benchmark
(perfbench.workloads.base_social) checked against its write model."""

from __future__ import annotations

import numpy as np
import pytest


def _social_db(spark, seed: int):
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from perfbench import oracles, workloads as W
    from perfbench.harness import SOCIAL_EDGES, SOCIAL_PERSONS

    persons, edges = W.base_social(seed, SOCIAL_PERSONS, SOCIAL_EDGES)
    g = PropertyGraph(spark, name="social")
    g.add_nodes("Person", spark.createDataFrame(
        persons, "pid long, name string, age long"), "pid")
    g.add_edges("KNOWS", spark.createDataFrame(
        edges, "_src long, _dst long, since long"),
        "_src", "_dst", "Person", "Person")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    return db, oracles.WriteModel(persons, edges), edges


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().logical().toString().splitlines())


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_long_set_history_keeps_plans_flat(spark):
    db, model, _ = _social_db(spark, 3)
    rng = np.random.default_rng(3)
    first = None
    for _ in range(40):
        alive = model.alive_pids()
        p = alive[int(rng.integers(len(alive)))]
        age = int(rng.integers(18, 80))
        model.set_age(p, age)
        r = db.execute(f"MATCH (p:Person {{pid: {p}}}) SET p.age = {age}")
        assert r["rows_affected"] == 1
        assert _rows(db.query(
            f"MATCH (p:Person {{pid: {p}}}) RETURN p.age AS age")) == \
            [(model.age(p),)]
        # checked per SET: an uncut history doubles the plan every time
        lines = _plan_lines(db.graph().nodes_for_label("Person"))
        first = first or lines
        assert lines <= 2 * first

    victim = model.alive_pids()[17]
    model.detach_delete(victim)
    r = db.execute(f"MATCH (p:Person {{pid: {victim}}}) DETACH DELETE p")
    assert r["rows_affected"] == 1
    assert _rows(db.query(
        f"MATCH (p:Person {{pid: {victim}}}) RETURN count(*) AS n")) == [(0,)]
    assert dict(_rows(db.query(
        "MATCH (p:Person) RETURN p.pid AS pid, p.age AS age"))) == model.ages
    knows = db.query("MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n")
    assert _rows(knows) == [(model.counts()["KNOWS"],)]


def test_failing_statement_changes_no_table(spark):
    from graphlite_spark.dml import DmlError

    db, _, edges = _social_db(spark, 4)
    g = db.graph()

    def tables():
        return {("node", k): v for k, v in g.nodes.items()} | \
            {("edge", k): v.df for k, v in g.edges.items()}

    before = {k: (df, df.count()) for k, df in tables().items()}

    def unchanged():
        after = tables()
        assert after.keys() == before.keys()
        for k, (df, n) in before.items():
            assert after[k] is df and after[k].count() == n, k

    # the second pattern fails after the first one's Person row is staged
    with pytest.raises(DmlError, match="needs a label"):
        db.execute("INSERT (:Person {pid: 95001, name: 'n95001', age: 30}), "
                   "({pid: 95002})")
    unchanged()
    # a node with edges: a plain DELETE must refuse, after staging both
    # the edge and the node table rewrites
    with pytest.raises(DmlError, match="incident edges exist"):
        db.execute(f"MATCH (p:Person {{pid: {edges[0][0]}}}) DELETE p")
    unchanged()


def test_mutations_through_repeating_matches_touch_each_row_once(spark):
    # a var-length cycle binds only p yet yields one row per path: the
    # matched ids repeat, and no write may multiply or double-count rows
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/cycles")
    db.execute("SESSION SET GRAPH /default/cycles")
    for k in (1, 2, 3):
        db.execute(f"INSERT (:P {{k: {k}}})")
    for a, b in ((1, 2), (2, 1), (1, 1), (2, 3)):
        db.execute(f"MATCH (a:P {{k: {a}}}), (b:P {{k: {b}}}) "
                   "INSERT (a)-[:R]->(b)")
    cyc = "MATCH (p:P)-[:R*1..3]->(p) "
    assert db.execute(cyc + "SET p.x = p.k * 10")["rows_affected"] == 2
    assert db.execute(cyc + "REMOVE p.k")["rows_affected"] == 2
    assert sorted(_rows(db.query("MATCH (p:P) RETURN p.x AS x, p.k AS k")),
                  key=str) == [(10, None), (20, None), (None, 3)]
    assert db.execute(cyc + "DETACH DELETE p")["rows_affected"] == 2
    assert _rows(db.query("MATCH (p:P) RETURN p.k AS k, p.x AS x")) == \
        [(3, None)]
    assert _rows(db.query("MATCH ()-[r:R]->() RETURN count(*) AS n")) == [(0,)]


def _tpch_db(spark):
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph

    from tests.test_cli import DATA

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, DATA))
    return db


_ORDERS_OF_85 = ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                 "WHERE c.c_custkey = 85 RETURN o.o_orderkey AS k")


def test_set_key_drops_its_declaration(spark):
    # order 0 belongs to customer 85. A SET publishes a new Order table,
    # so Order's declared key no longer holds: the key is read from the
    # Order table, not from PLACED's raw o_orderkey, with or without
    # another Order property in the RETURN
    db = _tpch_db(spark)
    before = sorted(_rows(db.query(_ORDERS_OF_85)))
    assert (0,) in before
    db.execute("MATCH (o:Order {o_orderkey: 0}) SET o.o_orderkey = 424242")
    want = sorted([k for k in before if k != (0,)] + [(424242,)])
    assert sorted(_rows(db.query(_ORDERS_OF_85))) == want
    with_price = _rows(db.query(_ORDERS_OF_85 + ", o.o_totalprice AS t"))
    assert sorted((k,) for k, _t in with_price) == want


def test_inserted_nodes_and_edges_fall_back_to_ids(spark):
    # an INSERTed customer gets a content-hash id, and a MATCH-INSERTed
    # PLACED edge points at it: neither table is the declared one, so
    # reads join on _id and find both customers of the order
    db = _tpch_db(spark)
    db.execute("MATCH (o:Order {o_orderkey: 0}) SET o.o_orderkey = 424242")
    db.execute("INSERT (:Customer {c_custkey: 999999, c_name: 'new'})")
    db.execute("MATCH (c:Customer {c_custkey: 999999}), "
               "(o:Order {o_orderkey: 424242}) INSERT (c)-[:PLACED]->(o)")
    assert sorted(_rows(db.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE o.o_orderkey = 424242 RETURN c.c_custkey AS k"))) == \
        [(85,), (999999,)]
    assert sorted(_rows(db.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE c.c_custkey = 999999 RETURN o.o_orderkey AS k"))) == \
        [(424242,)]
