"""The single DML commit path: lineage cut once per touched table, and
statement atomicity, on the write_mix base graph of the benchmark
(perfbench.workloads.base_social) checked against its write model."""

from __future__ import annotations

import functools

import numpy as np
import pytest


def _social_db(spark, seed: int, local: bool = False):
    """The benchmark's social graph; with ``local``, its tables are local
    relations, as the benchmark builds them (from pandas)."""
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from graphlite_spark.operators.common import local_frame
    from perfbench import oracles, workloads as W
    from perfbench.harness import SOCIAL_EDGES, SOCIAL_PERSONS

    persons, edges = W.base_social(seed, SOCIAL_PERSONS, SOCIAL_EDGES)
    frame = functools.partial(local_frame, spark) if local \
        else spark.createDataFrame
    g = PropertyGraph(spark, name="social")
    g.add_nodes("Person", frame(
        persons, "pid long, name string, age long"), "pid")
    g.add_edges("KNOWS", frame(
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
    # a node with edges: a plain DELETE must refuse
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


def test_a_value_only_spark_can_widen_folds_the_table(spark):
    # no driver-side type holds [1.5] next to [1, 2]: the table is
    # rewritten as its view plus the row, Spark widens the column, and
    # the table folds. A value no widening holds fails the statement,
    # which changes no table
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/widen")
    db.execute("SESSION SET GRAPH /default/widen")
    db.execute("INSERT (:P {name: 'a', v: [1, 2]})")
    assert db.execute("INSERT (:P {name: 'b', v: [1.5]})")["rows_affected"] == 1
    t = db.graph().table("P", False)
    assert t.base is t.view and not t.rows
    assert dict(t.view.dtypes)["v"] == "array<double>"
    assert _rows(db.query("MATCH (p:P) RETURN p.name AS n, p.v AS v "
                          "ORDER BY n")) == [("a", [1.0, 2.0]), ("b", [1.5])]
    db.execute("INSERT (:Q {name: 'a', v: 1})")
    view = db.graph().nodes["Q"]
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        db.execute("INSERT (:Q {name: 'b', v: 'x'})")
    assert db.graph().nodes["Q"] is view


@pytest.mark.parametrize("case", [
    test_failing_statement_changes_no_table,
    test_a_value_only_spark_can_widen_folds_the_table,
    test_mutations_through_repeating_matches_touch_each_row_once,
    test_set_key_drops_its_declaration,
    test_inserted_nodes_and_edges_fall_back_to_ids,
], ids=lambda f: f.__name__)
def test_commit_past_the_fold_cap(case, spark, monkeypatch):
    # FOLD_AT = 0: every match of a row or more takes the DataFrame
    # rewrite (a plain DELETE's refusal, its semi-join probe) and folds
    from graphlite_spark import dml

    monkeypatch.setattr(dml, "FOLD_AT", 0)
    case(spark)


# -- delta-main tables ------------------------------------------------------

def _person_table(db):
    return db.graph().table("Person", False)


def _check_unit(db, unit):
    from perfbench import oracles

    got = [db.execute(s) for s in unit.statements]
    affected = [o["rows_affected"] for o in got]
    assert [a for a in unit.affected if a is not None] == \
        [n for a, n in zip(unit.affected, affected) if a is not None], unit
    read = db.execute if unit.check_gql.startswith("CALL ") else db.query
    rows = _rows(read(unit.check_gql))
    assert oracles.values_match(rows, unit.check_rows) is None, unit


def _check_state(db, model):
    assert dict(_rows(db.query(
        "MATCH (p:Person) RETURN p.pid AS pid, p.age AS age"))) == model.ages
    assert sorted(_rows(db.query(
        "MATCH (a:Person)-[k:KNOWS]->(b:Person) "
        "RETURN a.pid AS a, b.pid AS b, k.since AS s"))) == \
        sorted(model.edges.elements())


def test_write_history_with_folds_in_the_middle(spark, monkeypatch):
    # the benchmark's write rounds, with a cap so small that Person and
    # KNOWS fold every few statements: before, between and after the
    # folds, every answer is the write model's
    from graphlite_spark import dml
    from perfbench import workloads as W

    monkeypatch.setattr(dml, "FOLD_AT", 5)
    db, model, _ = _social_db(spark, 5)
    bases = {id(_person_table(db).base)}
    for r in range(2):
        for unit in W.write_round(5, r, model):
            _check_unit(db, unit)
            bases.add(id(_person_table(db).base))
    assert len(bases) > 2
    _check_state(db, model)


def test_set_matching_every_person_folds_through_a_join(spark):
    # a match past FOLD_AT rewrites the table with a planner-chosen join
    # and folds it; the next small write appends to the new base
    db, model, _ = _social_db(spark, 6)
    base = _person_table(db).base
    r = db.execute("MATCH (p:Person) SET p.age = p.age + 1")
    assert r["rows_affected"] == len(model.ages)
    for p in model.alive_pids():
        model.set_age(p, model.age(p) + 1)
    folded = _person_table(db)
    assert folded.base is not base and not folded.rows and not folded.dead
    p = model.alive_pids()[3]
    model.set_age(p, 99)
    assert db.execute(f"MATCH (p:Person {{pid: {p}}}) SET p.age = 99")[
        "rows_affected"] == 1
    assert _person_table(db).base is folded.base
    _check_state(db, model)


def test_set_on_a_delta_row_and_its_rollback(spark):
    db, model, _ = _social_db(spark, 7)
    db.execute("INSERT (:Person {pid: 96001, name: 'n96001', age: 20})")
    model.insert_person(96001, 20)
    assert db.execute("MATCH (p:Person {pid: 96001}) SET p.age = 21")[
        "rows_affected"] == 1
    model.set_age(96001, 21)
    t = _person_table(db)
    assert [r["age"] for r in t.rows if r["pid"] == 96001] == [21]
    db.execute("START TRANSACTION")
    assert db.execute("MATCH (p:Person {pid: 96001}) SET p.age = 22")[
        "rows_affected"] == 1
    assert _rows(db.query(
        "MATCH (p:Person {pid: 96001}) RETURN p.age AS a")) == [(22,)]
    db.execute("ROLLBACK")
    # the triple comes back with its view: the next write appends to it
    assert _person_table(db) is t
    _check_state(db, model)
    db.execute("MATCH (p:Person {pid: 96001}) SET p.age = 23")
    model.set_age(96001, 23)
    assert _person_table(db).base is t.base
    _check_state(db, model)


_PAIR = ("(:Person {pid: 97001, name: 'n97001', age: 30})"
         "-[:KNOWS {since: 2001}]->"
         "(:Person {pid: 97002, name: 'n97002', age: 31})")


def test_duplicate_insert_sees_delta_rows_and_not_tombstoned_ones(
        spark, monkeypatch):
    from graphlite_spark import dml

    db, model, _ = _social_db(spark, 8)
    g = db.graph()
    assert db.execute("INSERT " + _PAIR)["rows_affected"] == 3
    # the rows are appended, not in the base: the probe reads the view
    assert len(g.table("Person", False).rows) == 2
    again = db.execute("INSERT " + _PAIR)
    assert again["rows_affected"] == 0 and len(again["warnings"]) == 3
    # fold Person and KNOWS, then tombstone the new edge and one new node
    victim = model.alive_pids()[0]
    with monkeypatch.context() as m:
        m.setattr(dml, "FOLD_AT", 0)
        db.execute(f"MATCH (p:Person {{pid: {victim}}}) DETACH DELETE p")
    for t in (g.table("Person", False), g.table("KNOWS", True)):
        assert not t.rows and not t.dead
    db.execute("MATCH (:Person {pid: 97001})-[k:KNOWS]->(:Person {pid: 97002}) "
               "DELETE k")
    db.execute("MATCH (p:Person {pid: 97002}) DELETE p")
    r = db.execute("INSERT " + _PAIR)
    assert r["rows_affected"] == 2 and len(r["warnings"]) == 1
    model.detach_delete(victim)
    model.insert_person(97001, 30)
    model.insert_person(97002, 31)
    model.insert_edge(97001, 97002, 2001)
    _check_state(db, model)


def test_detach_delete_then_reinsert_does_not_resurrect_edges(
        spark, monkeypatch):
    # the re-INSERTed node has the same content-hash id as the deleted
    # one: its base KNOWS edges stay masked until KNOWS folds
    from graphlite_spark import dml

    db, model, _ = _social_db(spark, 9)
    with monkeypatch.context() as m:
        m.setattr(dml, "FOLD_AT", 0)
        db.execute("INSERT " + _PAIR)
    g = db.graph()
    assert not g.table("KNOWS", True).rows
    other = model.alive_pids()[0]
    db.execute(f"MATCH (a:Person {{pid: {other}}}), (b:Person {{pid: 97001}}) "
               "INSERT (a)-[:KNOWS {since: 1999}]->(b)")
    assert db.execute("MATCH (p:Person {pid: 97001}) DETACH DELETE p")[
        "rows_affected"] == 1
    assert db.execute("INSERT (:Person {pid: 97001, name: 'n97001', age: 30})")[
        "rows_affected"] == 1
    assert _rows(db.query("MATCH (:Person {pid: 97001})-[k:KNOWS]-() "
                          "RETURN count(*) AS n")) == [(0,)]
    model.insert_person(97002, 31)
    model.insert_person(97001, 30)
    _check_state(db, model)


# Spark jobs per write kind on the benchmark's graph, whose tables are
# local relations: a match or an INSERT's duplicate probe over them runs
# on the driver, and only a join's broadcast stages (and the MATCH-INSERT
# cross join's) run jobs. No kind checkpoints a table. Over parquet
# tables, tools/write_scaling.py reports the same kinds at 1 / 1 / 2 / 4
# / 1 jobs.
WRITE_JOBS = {"insert_pattern": 0, "match_set": 0, "match_insert_edge": 2,
              "delete_edge": 5, "detach_delete": 0}


def test_write_kinds_job_budget(spark, monkeypatch):
    from graphlite_spark import dml
    from perfbench import workloads as W

    cuts = []
    monkeypatch.setattr(dml, "_ck_cut_stats",
                        lambda df: cuts.append(df) or df.localCheckpoint())
    db, model, _ = _social_db(spark, 10, local=True)
    sc = spark.sparkContext
    jobs = {}
    for r in range(2):
        for unit in W.write_round(10, r, model):
            group = f"dml-budget-{r}-{unit.kind}"
            sc.setJobGroup(group, group)
            try:
                for s in unit.statements:
                    db.execute(s)
            finally:
                sc.setJobGroup("dml-budget-idle", "")
            jobs[unit.kind] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {k: jobs[k] for k in WRITE_JOBS} == WRITE_JOBS
    assert cuts == []
    _check_state(db, model)
