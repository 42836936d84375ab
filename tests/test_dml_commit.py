"""The single DML commit path: lineage cut once per touched table, and
statement atomicity, on the write_mix base graph of the benchmark
(perfbench.workloads.base_social) checked against its write model."""

from __future__ import annotations

import functools
import itertools

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


def test_a_held_version_is_never_changed(spark):
    # a version is one immutable mapping of frozen records: a statement
    # publishes a new mapping, and one that fails publishes none
    from graphlite_spark.dml import DmlError

    db, _, edges = _social_db(spark, 11)
    g = db.graph()
    held = g.tables
    records = dict(held)
    views = {k: t.view for k, t in held.items()}
    with pytest.raises(TypeError):
        held[(False, "Person")] = None
    assert db.execute("INSERT " + _PAIR)["rows_affected"] == 3
    assert g.tables is not held
    assert dict(held) == records
    assert {k: t.view for k, t in held.items()} == views
    assert all(not t.rows and not t.dead for t in held.values())
    held = g.tables
    with pytest.raises(DmlError, match="incident edges exist"):
        db.execute(f"MATCH (p:Person {{pid: {edges[0][0]}}}) DELETE p")
    assert g.tables is held


@pytest.mark.parametrize("stmt", [
    "TRUNCATE GRAPH /default/social",
    "CREATE INDEX knows_adj ON KNOWS TYPE AdjacencyList",
], ids=["truncate", "adjacency_index"])
def test_rollback_restores_views_replaced_outside_dml(spark, stmt):
    db, model, _ = _social_db(spark, 12)
    g = db.graph()
    views = {k: t.view for k, t in g.tables.items()}
    db.execute("START TRANSACTION")
    held = g.tables
    db.execute(stmt)
    assert g.tables[(True, "KNOWS")].view is not views[(True, "KNOWS")]
    db.execute("ROLLBACK")
    assert g.tables is held
    assert {k: t.view for k, t in g.tables.items()} == views
    _check_state(db, model)


def test_keyed_label_compiles_on_raw_keys_after_an_unrelated_write(spark):
    # a write publishes records for the tables it touches only: every
    # other record keeps its declaration, so hop1 still reads Order from
    # the PLACED row with the customer key pushed into the orders scan
    from graphlite_spark.plans.inspect import summarize
    from perfbench.workloads import READ_SHAPES

    db = _tpch_db(spark)
    g = db.graph()
    order, placed = g.table("Order", False), g.table("PLACED", True)
    db.execute("INSERT (:Region {r_regionkey: 77, r_name: 'NEW'})")
    assert g.table("Region", False).key is None
    assert g.table("Order", False) is order and order.key is not None
    assert g.table("PLACED", True) is placed and placed.key is not None
    s = summarize(db.query(READ_SHAPES["hop1"][0], {"k": 7}))
    assert len(s.scans) == 1 and "orders" in s.scans[0]["location"], s.text
    assert "EqualTo(o_custkey,7)" in ",".join(s.scans[0]["pushed_filters"])
    assert s.joins == 0, s.text


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


def test_insert_of_a_new_label_with_clashing_values_is_refused(spark):
    # the rows of a label the graph doesn't have yet share no type for
    # v: there is no stored table for Spark to coerce them into
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.dml import DmlError

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/clash")
    db.execute("SESSION SET GRAPH /default/clash")
    before = db.graph().tables
    with pytest.raises(DmlError, match=r"New\b.*'v'"):
        db.execute("INSERT (:New {v: 1}), (:New {v: 'x'})")
    assert db.graph().tables is before


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
    monkeypatch.setattr(dml, "checkpoint_reset_stats",
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


def _bfs_path(pairs, a, b) -> list[int]:
    """One shortest directed path a .. b over ``pairs``."""
    out: dict[int, list[int]] = {}
    for s, d in pairs:
        out.setdefault(s, []).append(d)
    parent, frontier = {a: None}, [a]
    while b not in parent:
        nxt = []
        for x in frontier:
            for y in out.get(x, ()):
                if y not in parent:
                    parent[y] = x
                    nxt.append(y)
        frontier = nxt
    path = [b]
    while path[-1] != a:
        path.append(parent[path[-1]])
    return path[::-1]


def _knows(db):
    return db.graph().table("KNOWS", True)


def _call_jobs(spark, db, gql: str) -> tuple[list, int]:
    """A CALL's answer and the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"spp-jobs-{next(_CALLS)}"
    sc.setJobGroup(group, group)
    try:
        rows = [r.dist for r in db.execute(gql).collect()]
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("spp-idle", "")


_CALLS = itertools.count()


def _spp_write_history(spark) -> list:
    """The DETACH DELETE of a path's middle node, a shortcut INSERT and
    a new person, with ``CALL gql.shortest_path_pair`` checked against
    the write model's BFS after each; returns the KNOWS base each call
    read. A call on a base no call read before runs at most its one
    collect, a later call on the same base no Spark job."""
    from perfbench.oracles import bfs_distance

    db, model, _ = _social_db(spark, 12, local=True)
    bases = []

    def hops(a, b, want_pid=None):
        got, jobs = _call_jobs(
            spark, db, f"CALL gql.shortest_path_pair({a}, {b}, 20)")
        base = _knows(db).base
        assert jobs <= (0 if any(base is x for x in bases) else 1)
        bases.append(base)
        d = bfs_distance(model.edge_pairs(), a, want_pid or b, 20)
        assert got == ([] if d is None else [d])
        return got

    a = model.alive_pids()[5]
    dist = {b: bfs_distance(model.edge_pairs(), a, b, 20)
            for b in model.alive_pids()}
    far = max((b for b, d in dist.items() if d is not None), key=dist.get)
    path = _bfs_path(model.edge_pairs(), a, far)
    assert len(path) >= 5 and hops(a, far) == [len(path) - 1]
    mid = path[len(path) // 2]
    db.execute(f"MATCH (p:Person {{pid: {mid}}}) DETACH DELETE p")
    model.detach_delete(mid)
    db.execute(f"MATCH (x:Person {{pid: {a}}}), (y:Person {{pid: {path[-2]}}}) "
               "INSERT (x)-[:KNOWS {since: 2001}]->(y)")
    model.insert_edge(a, path[-2], 2001)
    assert hops(a, far) == [2]
    assert hops(a, mid) == []
    db.execute("INSERT (:Person {pid: 97001, name: 'n97001', age: 30})")
    db.execute(f"MATCH (x:Person {{pid: {far}}}), (y:Person {{pid: 97001}}) "
               "INSERT (x)-[:KNOWS {since: 2002}]->(y)")
    model.insert_person(97001, 30)
    model.insert_edge(far, 97001, 2002)
    new_id = db.query("MATCH (p:Person {pid: 97001}) RETURN id(p) AS i"
                      ).collect()[0].i
    assert abs(new_id) > 2 ** 53  # a double would round it
    assert hops(a, new_id, 97001) == [3]
    _check_state(db, model)
    return bases


def test_shortest_path_pair_reads_its_writes(spark):
    # through the delta-main view: the DETACH DELETE of a path's middle
    # node masks its rows with tombstones, the shortcut and the new
    # person are appended rows; the new person's id is its content hash.
    # No write folds KNOWS, so every call reads the one base
    bases = _spp_write_history(spark)
    assert all(b is bases[0] for b in bases)


def test_shortest_path_pair_reads_its_writes_across_folds(
        spark, monkeypatch):
    # the same history with KNOWS folding mid-history: a call after a
    # fold reads the new base once, and answers from it
    from graphlite_spark import dml

    monkeypatch.setattr(dml, "FOLD_AT", 2)
    bases = _spp_write_history(spark)
    assert len({id(b) for b in bases}) >= 2


def test_rollback_answers_from_the_held_base(spark, monkeypatch):
    # a fold inside a transaction gives KNOWS a new base; ROLLBACK puts
    # back the held version's record, whose base the driver still holds
    from graphlite_spark import dml
    from perfbench.oracles import bfs_distance

    monkeypatch.setattr(dml, "FOLD_AT", 0)
    db, model, _ = _social_db(spark, 12, local=True)
    a = model.alive_pids()[5]
    dist = {b: bfs_distance(model.edge_pairs(), a, b, 20)
            for b in model.alive_pids()}
    far = max((b for b, d in dist.items() if d is not None), key=dist.get)
    path = _bfs_path(model.edge_pairs(), a, far)
    call = f"CALL gql.shortest_path_pair({a}, {far}, 20)"
    before, _ = _call_jobs(spark, db, call)
    assert before == [len(path) - 1]
    held = _knows(db)
    db.execute("START TRANSACTION")
    db.execute(f"MATCH (x:Person {{pid: {a}}}), (y:Person {{pid: {path[-2]}}}) "
               "INSERT (x)-[:KNOWS {since: 2001}]->(y)")
    assert _knows(db).base is not held.base
    assert _call_jobs(spark, db, call)[0] == [2]
    db.execute("ROLLBACK")
    assert _knows(db) is held
    assert _call_jobs(spark, db, call) == (before, 0)


def test_shortest_path_pair_on_mixed_long_and_string_ids(spark, path_regime):
    # a label a pure-GQL INSERT creates has string content-hash ids, so
    # the graph's ids mix types: the search runs on their string domain,
    # and a long endpoint is named by its digits
    db, model, _ = _social_db(spark, 12, local=True)
    db.execute("INSERT (:Tag {name: 't1'})-[:TAGGED]->(:Tag {name: 't2'})")
    db.execute("INSERT (:Tag {name: 't3'})")
    t1, t2, t3 = [db.query(f"MATCH (t:Tag {{name: '{n}'}}) RETURN id(t) AS i"
                           ).collect()[0].i for n in ("t1", "t2", "t3")]
    assert all(isinstance(t, str) for t in (t1, t2, t3))
    a, b = next(iter(model.edges.elements()))[:2]

    def hops(x, y):
        return [r.dist for r in db.execute(
            f"CALL gql.shortest_path_pair({x}, {y}, 5)").collect()]

    assert hops(f"'{t1}'", f"'{t2}'") == [1]
    assert hops(f"'{t2}'", f"'{t1}'") == []
    assert hops(f"'{t3}'", f"'{t3}'") == [0]
    assert hops(a, b) == hops(f"'{a}'", f"'{b}'") == [1]
    assert hops(a, f"'{t1}'") == []
    assert db.execute("CALL gql.shortest_path_pair(1, 2) YIELD dist"
                      ).columns == ["dist"]


def test_version_adjacency_matches_the_view(spark):
    # the driver's adjacency of a written version (base pairs minus
    # tombstones, plus appended rows) answers as the edge view does,
    # directed and undirected
    from graphlite_spark.operators import paths
    from perfbench import workloads as W

    db, model, _ = _social_db(spark, 7, local=True)
    for r in range(2):
        for unit in W.write_round(7, r, model):
            for s in unit.statements:
                db.execute(s)
    version = db.graph().tables
    knows = version[(True, "KNOWS")]
    assert knows.dead and knows.rows
    view = paths.edge_union(version)
    rng = np.random.default_rng(7)
    alive = model.alive_pids()
    found = 0
    for directed in (True, False):
        for _ in range(4):
            a, b = (alive[int(i)] for i in rng.integers(len(alive), size=2))
            got = paths.shortest_path_pair(version, a, b, max_hops=6,
                                           directed=directed)
            want = paths.shortest_path_pair(view, a, b, max_hops=6,
                                            directed=directed)
            assert got == [tuple(r) for r in want.collect()]
            found += bool(got)
    assert found >= 4
