"""SDK session / transaction / query-builder surface (sdk-python parity)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def db(spark):
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE GRAPH /default/sdk")
    d.execute("SESSION SET GRAPH /default/sdk")
    d.execute("INSERT (:City {name: 'Paris', pop: 2}), (:City {name: 'Rome', pop: 3})")
    return d


def test_session_query_and_params(db):
    s = db.session("alice")
    s.set_parameter("minpop", 2)
    got = s.query(
        "MATCH (c:City) WHERE c.pop > $minpop RETURN c.name AS name"
    ).collect()
    assert [r.name for r in got] == ["Rome"]


def test_session_graph_isolation(db):
    db.execute("CREATE GRAPH /default/other2")
    s = db.session().use_graph("/default/other2")
    s.execute("INSERT (:City {name: 'Oslo'})")
    # session graph got the insert, db current graph did not
    assert s.query("MATCH (c:City) RETURN count(*) AS n").collect()[0].n == 1
    assert db.query("MATCH (c:City) RETURN count(*) AS n").collect()[0].n == 2


def test_session_set_graph_sets_the_sessions_graph(db):
    # SESSION SET GRAPH through a session moves that session, not the
    # engine's current graph
    db.execute("CREATE GRAPH /default/g2")
    db.execute("INSERT (:P {k: 1})")
    db.execute("SESSION SET GRAPH /default/g2")
    db.execute("INSERT (:P {k: 1}), (:P {k: 2})")
    db.execute("SESSION SET GRAPH /default/sdk")
    s = db.session()
    s.execute("SESSION SET GRAPH /default/g2")
    assert s.query("MATCH (p:P) RETURN count(*) AS n").collect()[0].n == 2
    assert s.execute("MATCH (p:P) RETURN count(*) AS n").collect()[0].n == 2
    assert db.query("MATCH (p:P) RETURN count(*) AS n").collect()[0].n == 1
    assert db._current_graph == "/default/sdk"


def test_transaction_context_manager_rollback(db):
    s = db.session()
    with pytest.raises(RuntimeError):
        with s.transaction():
            s.execute("INSERT (:City {name: 'Berlin'})")
            raise RuntimeError("boom")
    assert s.query("MATCH (c:City) RETURN count(*) AS n").collect()[0].n == 2


def test_transaction_context_manager_commit(db):
    s = db.session()
    with s.transaction():
        s.execute("INSERT (:City {name: 'Berlin'})")
    assert s.query("MATCH (c:City) RETURN count(*) AS n").collect()[0].n == 3


def test_query_builder(db):
    s = db.session()
    q = (
        s.query_builder()
        .match_pattern("(c:City)")
        .where_clause("c.pop >= 2")
        .return_clause("c.name AS name, c.pop AS pop")
        .order_by("pop DESC")
        .limit(1)
    )
    text = q.build()
    assert "MATCH (c:City)" in text and "LIMIT 1" in text
    got = q.execute().collect()
    assert [(r.name, r.pop) for r in got] == [("Rome", 3)]


def test_graph_union(db):
    db.execute("CREATE GRAPH /default/g2")
    s = db.session().use_graph("/default/g2")
    s.execute("INSERT (:City {name: 'Paris', pop: 2}), (:City {name: 'Lima', pop: 9})")
    u = db.catalog.graph_union(["/default/sdk", "/default/g2"], name="u")
    db.register_graph(u, "u")
    got = db.query(
        "MATCH (c:City) RETURN c.name AS name ORDER BY name", graph="/default/u"
    ).collect()
    # Paris dedups by content-hash identity
    assert [r.name for r in got] == ["Lima", "Paris", "Rome"]


def test_plan_cache_hit_and_invalidation(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, name: string")
    g = PropertyGraph(spark, name="pc")
    g.add_nodes("N", nodes, "id")
    db = GraphLiteSpark(spark)
    db.register_graph(g)

    q = "MATCH (n:N) RETURN count(*) AS n"
    d1 = db.query(q)
    d2 = db.query(q)
    assert d1 is d2  # plan-cache hit returns the identical DataFrame
    assert d1.collect()[0][0] == 2

    # params are part of the key
    p1 = db.query("MATCH (n:N) WHERE n.id = $i RETURN count(*) AS n", {"i": 1})
    p2 = db.query("MATCH (n:N) WHERE n.id = $i RETURN count(*) AS n", {"i": 2})
    assert p1 is not p2

    # a write invalidates: the recompiled plan sees the new row
    db.execute("INSERT (:N {id: 3, name: 'c'})")
    d3 = db.query(q)
    assert d3 is not d1
    assert d3.collect()[0][0] == 3


def test_validate_is_valid_analyze(spark):
    # query_coordinator.rs:604-781 validate/is_valid/analyze surface
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.gql.parser import ParseError

    db = GraphLiteSpark(spark)
    db.validate("MATCH (n:X) RETURN n.a AS a")  # no graph needed
    assert db.is_valid("MATCH (n:X) RETURN count(*) AS n")
    assert not db.is_valid("MATCH (n:X RETURN 1")
    with pytest.raises(ParseError):
        db.validate("MATCH (n:X RETURN 1")
    a = db.analyze("MATCH (n:X) RETURN n.a AS a")
    assert a == {"query_type": "Query", "read_only": True, "statements": 1}
    a = db.analyze("INSERT (:P {k: 1})")
    assert a["query_type"] == "Insert" and not a["read_only"]
    a = db.analyze("MATCH (p:P) SET p.k = 2")
    assert a["query_type"] == "MatchSet" and not a["read_only"]
    a = db.analyze("CREATE USER bob")
    assert a["query_type"] == "CreateUser"
    a = db.analyze("MATCH (p:P) RETURN p.k AS k NEXT MATCH (q:P) RETURN q.k AS k")
    assert a["statements"] == 2
    # session statements are read-only (query_coordinator.rs:745-753)
    assert db.analyze("SESSION SET GRAPH /default/g")["read_only"]
    assert db.analyze("SESSION RESET ALL")["read_only"]
