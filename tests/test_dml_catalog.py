"""DML / DDL / session / CALL / transaction tests (reference: dml_tests.rs,
ddl_shared_tests.rs, transactional_set_test.rs, rollback_batch_test.rs)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def db(spark):
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE GRAPH /default/g")
    d.execute("SESSION SET GRAPH /default/g")
    return d


def test_insert_and_match(db):
    r = db.execute("INSERT (:Person {name: 'Ada', age: 36})")
    assert r["rows_affected"] == 1
    db.execute("INSERT (:Person {name: 'Bob', age: 41})")
    got = db.query("MATCH (p:Person) RETURN p.name AS name ORDER BY name").collect()
    assert [x.name for x in got] == ["Ada", "Bob"]


def test_insert_edge_pattern(db):
    db.execute(
        "INSERT (:Person {name: 'Ada'})-[:KNOWS {since: 1840}]->(:Person {name: 'Bob'})"
    )
    got = db.query(
        "MATCH (a:Person)-[k:KNOWS]->(b:Person) "
        "RETURN a.name AS a, b.name AS b, k.since AS since"
    ).collect()
    assert [(r.a, r.b, r.since) for r in got] == [("Ada", "Bob", 1840)]


def test_content_hash_ids_are_deterministic(db):
    from graphlite_spark.catalog import content_hash_id

    a = content_hash_id(["Person"], {"name": "Ada", "age": 36})
    b = content_hash_id(["Person"], {"age": 36, "name": "Ada"})
    assert a == b  # property order independent
    assert a != content_hash_id(["Person"], {"name": "Bob"})


def test_match_set_property(db):
    db.execute("INSERT (:Person {name: 'Ada', age: 36})")
    db.execute("INSERT (:Person {name: 'Bob', age: 41})")
    n = db.execute("MATCH (p:Person) WHERE p.name = 'Ada' SET p.age = 37")
    assert n["rows_affected"] == 1
    got = {r.name: r.age for r in
           db.query("MATCH (p:Person) RETURN p.name AS name, p.age AS age").collect()}
    assert got == {"Ada": 37, "Bob": 41}


def test_match_set_new_property(db):
    db.execute("INSERT (:Person {name: 'Ada'})")
    db.execute("MATCH (p:Person) SET p.title = 'Countess'")
    got = db.query("MATCH (p:Person) RETURN p.title AS t").collect()
    assert got[0].t == "Countess"


def test_match_remove(db):
    db.execute("INSERT (:Person {name: 'Ada', age: 36})")
    db.execute("MATCH (p:Person) REMOVE p.age")
    got = db.query("MATCH (p:Person) RETURN p.age IS NULL AS gone").collect()
    assert got[0].gone is True


def test_delete_requires_detach(db):
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    with pytest.raises(Exception, match="DETACH"):
        db.execute("MATCH (p:Person {name: 'Ada'}) DELETE p")
    db.execute("MATCH (p:Person {name: 'Ada'}) DETACH DELETE p")
    got = db.query("MATCH (p:Person) RETURN count(*) AS n").collect()
    assert got[0].n == 1
    got = db.query("MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n").collect()
    assert got[0].n == 0


def test_delete_edges_only(db):
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    db.execute("MATCH (:Person)-[k:KNOWS]->(:Person) DELETE k")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 2
    assert db.query(
        "MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n"
    ).collect()[0].n == 0


def test_schema_graph_ddl(spark):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE SCHEMA app")
    db.execute("CREATE GRAPH /app/social")
    assert "/app/social" in db.list_graphs()
    db.execute("SESSION SET GRAPH /app/social")
    db.execute("INSERT (:User {handle: 'x'})")
    assert db.query("MATCH (u:User) RETURN count(*) AS n").collect()[0].n == 1
    db.execute("DROP GRAPH /app/social")
    assert "/app/social" not in db.list_graphs()
    db.execute("DROP SCHEMA app")


def test_call_procedures(db):
    schemas = [r.schema_name for r in db.execute("CALL gql.list_schemas()").collect()]
    assert "default" in schemas
    graphs = [r.graph_path for r in db.execute("CALL gql.list_graphs()").collect()]
    assert "/default/g" in graphs
    fns = db.execute("CALL gql.list_functions() YIELD name WHERE name = 'UPPER'")
    assert fns.count() == 1
    sess = db.execute("CALL gql.show_session()").collect()[0]
    assert sess.graph_name == "/default/g"


def test_call_catalog_and_model_procedures(db):
    """The full gql.* procedure namespace (executor.rs:2799-2846 routes
    these; describe/stats/model procedures have no reference runtime and
    are implemented here for real)."""
    db.execute("INSERT (:Person {name: 'Ada', age: 36})")
    assert db.execute("CALL gql.current_graph()").first().graph == "/default/g"
    assert db.execute("CALL gql.current_schema()").first().schema == "default"
    assert db.execute("CALL gql.get_schema_statistics()").count() >= 1
    desc = db.execute("CALL gql.describe_graph()").collect()
    assert any(r.kind == "node" and r.label == "Person" for r in desc)
    nt = [r.node_type for r in db.execute("CALL gql.list_node_types()").collect()]
    assert nt == ["Person"]
    props = db.execute("CALL gql.describe_node_type('Person')").collect()
    assert {r.property for r in props} >= {"name", "age"}
    stats = db.execute("CALL gql.graph_stats()").collect()
    assert [(r.kind, r.label, r.n) for r in stats] == [("node", "Person", 1)]
    assert db.execute("CALL gql.sample_data('Person', 1)").count() == 1
    cc = db.execute("CALL gql.clear_cache()").first()
    assert cc.status == "ok"
    assert db.execute("CALL gql.get_version_history()").count() == 1
    # model registry lifecycle
    db.execute("CALL gql.register_model('m1', 'file:///models/m1')")
    assert db.execute("CALL gql.list_models()").first().loaded is False
    db.execute("CALL gql.load_model('m1')")
    assert db.execute("CALL gql.describe_model('m1')").first().loaded is True
    db.execute("CALL gql.unload_model('m1')")
    assert db.execute("CALL gql.model_stats('m1')").first().loaded is False
    db.execute("CALL gql.delete_model('m1')")
    assert db.execute("CALL gql.list_models()").count() == 0
    assert db.execute("CALL gql.list_text_indexes()").count() == 0


def test_describe_schema_answers_on_an_empty_schema(spark):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    df = db.execute("CALL gql.describe_schema('nothing_here')")
    assert df.dtypes == [("schema", "string"), ("graph", "string")]
    assert [tuple(r) for r in df.collect()] == [("nothing_here", None)]
    db.execute("CREATE GRAPH /default/one")
    assert [tuple(r) for r in db.execute(
        "CALL gql.describe_schema('default') YIELD graph").collect()] == \
        [("one",)]


def test_transaction_rollback(db):
    db.execute("INSERT (:Person {name: 'Ada'})")
    db.execute("START TRANSACTION")
    db.execute("INSERT (:Person {name: 'Eve'})")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 2
    db.execute("ROLLBACK")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 1


def test_transaction_commit(db):
    db.execute("START TRANSACTION")
    db.execute("INSERT (:Person {name: 'Eve'})")
    db.execute("COMMIT")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 1


def test_catalog_persistence(spark, tmp_path):
    from graphlite_spark import GraphLiteSpark

    root = str(tmp_path / "cat")
    db = GraphLiteSpark.open(spark, root)
    db.execute("CREATE GRAPH /default/people")
    db.execute("SESSION SET GRAPH /default/people")
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    db.catalog.save_graph("/default/people")

    db2 = GraphLiteSpark.open(spark, root)
    db2.execute("SESSION SET GRAPH /default/people")
    got = db2.query(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    ).collect()
    assert [(r.a, r.b) for r in got] == [("Ada", "Bob")]


def test_match_insert_connects_matched_nodes(db):
    db.execute("INSERT (:Person {name: 'Ada'})")
    db.execute("INSERT (:Person {name: 'Bob'})")
    n = db.execute(
        "MATCH (a:Person {name: 'Ada'}), (b:Person {name: 'Bob'}) "
        "INSERT (a)-[:KNOWS {since: 1840}]->(b)"
    )
    assert n["rows_affected"] == 1
    got = db.query(
        "MATCH (a:Person)-[k:KNOWS]->(b:Person) "
        "RETURN a.name AS a, b.name AS b, k.since AS s"
    ).collect()
    assert [(r.a, r.b, r.s) for r in got] == [("Ada", "Bob", 1840)]


def test_match_insert_of_a_new_type_matching_nothing(db):
    # the new edge type is created empty, with its endpoint and property
    # columns: reads of it, and of every edge type, answer
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    n = db.execute("MATCH (a:Person {name: 'Zed'}), (b:Person) "
                   "INSERT (a)-[:LIKES {w: 1}]->(b)")
    assert n["rows_affected"] == 0
    assert sorted(db.graph().edge_type("LIKES").df.columns) == \
        ["_dst", "_src", "w"]
    assert db.query("MATCH ()-[e:LIKES]->() RETURN count(*) AS n"
                    ).collect()[0].n == 0
    assert db.query("MATCH ()-[e]->() RETURN count(*) AS n").collect()[0].n == 1


def test_insert_null_property_is_absent(db):
    from graphlite_spark.catalog import content_hash_id

    db.execute("INSERT (:P {name: 'a', age: 3})")
    assert db.execute("INSERT (:P {name: 'b', age: NULL})")[
        "rows_affected"] == 1
    got = db.query("MATCH (p:P) RETURN p.name AS n, p.age AS a "
                   "ORDER BY n").collect()
    assert [(r.n, r.a) for r in got] == [("a", 3), ("b", None)]
    # same content as the property left out: one node, same id
    b_id = content_hash_id(["P"], {"name": "b"})
    assert db.graph().nodes_for_label("P").where(
        f"_id = '{b_id}'").count() == 1
    assert db.execute("INSERT (:P {name: 'b'})")["rows_affected"] == 0
    # a label whose only property is NULL
    assert db.execute("INSERT (:Q {name: NULL})")["rows_affected"] == 1
    assert db.query("MATCH (q:Q) RETURN q.name AS n").collect()[0].n is None


def test_insert_edge_and_match_insert_null_property(db):
    n = db.execute("INSERT (:P {name: 'f'})-[:R {w: NULL}]->(:P {name: 'g'})")
    assert n["rows_affected"] == 3
    n = db.execute("MATCH (a:P {name: 'g'}) "
                   "INSERT (a)-[:R {w: 2}]->(:P {name: 'h', age: NULL})")
    assert n["rows_affected"] == 2
    got = db.query("MATCH (a:P)-[r:R]->(b:P) "
                   "RETURN a.name AS a, r.w AS w, b.name AS b, b.age AS age "
                   "ORDER BY a").collect()
    assert [tuple(r) for r in got] == [("f", None, "g", None),
                                      ("g", 2, "h", None)]


def test_insert_empty_list_property_is_refused(db):
    from graphlite_spark.dml import DmlError

    with pytest.raises(DmlError, match="'tags'"):
        db.execute("INSERT (:P {name: 'x', tags: []})")
    assert "P" not in db.graph().nodes


def test_select_from_graph(spark):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/selftest")
    db.execute("SESSION SET GRAPH /default/selftest")
    db.execute("INSERT (:Item {sku: 'a', price: 10})")
    db.execute("INSERT (:Item {sku: 'b', price: 20})")
    db.execute("CREATE GRAPH /default/other")
    db.execute("SESSION SET GRAPH /default/other")
    # SELECT ... FROM overrides the session graph
    got = db.query(
        "SELECT i.sku AS sku, i.price AS price FROM /default/selftest "
        "MATCH (i:Item) WHERE i.price > 5 ORDER BY sku"
    ).collect()
    assert [(r.sku, r.price) for r in got] == [("a", 10), ("b", 20)]


def test_execute_read_takes_query_path(spark):
    """execute() on a read is query(): it reuses the plan cache and honours
    SELECT ... FROM <graph> over the session graph."""
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/reads_a")
    db.execute("SESSION SET GRAPH /default/reads_a")
    db.execute("INSERT (:Item {sku: 'a'})")
    db.execute("CREATE GRAPH /default/reads_z")
    db.execute("SESSION SET GRAPH /default/reads_z")
    db.execute("INSERT (:Item {sku: 'z'})")

    q = "MATCH (i:Item) RETURN i.sku AS sku"
    first = db.execute(q)
    assert db.execute(q) is first
    stats = {r.cache_type: r for r in db.execute("CALL gql.cache_stats()").collect()}
    assert stats["plan_cache"].entries == 1
    assert stats["plan_cache"].hit_rate == 0.5  # one miss, then one hit

    q = "SELECT i.sku AS sku FROM /default/reads_a MATCH (i:Item)"
    assert [r.sku for r in db.query(q).collect()] == ["a"]
    assert [r.sku for r in db.execute(q).collect()] == ["a"]


def test_select_from_match_extension(db):
    """Reference extension (parser.rs:1024-1032, dql_tests.rs:236):
    FROM MATCH ... runs against the session graph; SELECT without any
    MATCH implicitly matches every node as n (executor.rs:3161-3177)."""
    db.execute("CREATE GRAPH IF NOT EXISTS /default/selmatch")
    db.execute("SESSION SET GRAPH /default/selmatch")
    db.execute("INSERT (:Item {sku: 'a', price: 10})")
    db.execute("INSERT (:Item {sku: 'b', price: 20})")
    got = db.query(
        "SELECT i.sku AS sku FROM MATCH (i:Item) WHERE i.price > 15"
    ).collect()
    assert [r.sku for r in got] == ["b"]
    # implicit MATCH (n): one row per node in the graph
    assert db.query("SELECT count(*) AS n").first().n == 2
    # SELECT ALL parses as the (default) bag semantics
    assert db.query(
        "SELECT ALL i.price AS p FROM MATCH (i:Item) ORDER BY p"
    ).count() == 2


def test_quantified_comparison(db):
    got = db.query(
        "UNWIND [[1,2,3],[4,5,6]] AS xs "
        "RETURN xs[1] AS first, 0 < ALL(xs) AS all_pos, 5 = ANY(xs) AS has5"
    ).collect()
    rows = sorted([(r.first, r.all_pos, r.has5) for r in got])
    assert rows == [(1, True, False), (4, True, True)]


def test_stored_procedure(db):
    db.execute("INSERT (:Person {name: 'Ada'})")
    db.execute(
        "CREATE PROCEDURE top_people() "
        "MATCH (p:Person) RETURN p.name AS name ORDER BY name LIMIT 5"
    )
    got = db.execute("CALL top_people()").collect()
    assert [r.name for r in got] == ["Ada"]
    db.execute("DROP PROCEDURE top_people")
    import pytest as _pytest

    with _pytest.raises(Exception):
        db.execute("CALL top_people()")


def test_graph_type_enforcement(spark):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute(
        "CREATE GRAPH TYPE social_t { "
        "(Person {name STRING, age INTEGER}), "
        "(Person)-[KNOWS {since INTEGER}]->(Person) }"
    )
    db.execute("CREATE GRAPH /default/typed TYPED social_t")
    db.execute("SESSION SET GRAPH /default/typed")
    db.execute("INSERT (:Person {name: 'Ada', age: 36})")  # valid
    with pytest.raises(Exception, match="not in graph type"):
        db.execute("INSERT (:Robot {model: 'T800'})")
    with pytest.raises(Exception, match="undeclared property"):
        db.execute("INSERT (:Person {name: 'Bob', height: 180})")
    with pytest.raises(Exception, match="expects INTEGER"):
        db.execute("INSERT (:Person {name: 'Eve', age: 'old'})")
    db.execute(
        "MATCH (a:Person), (b:Person) INSERT (a)-[:KNOWS {since: 1840}]->(b)"
    )
    types = [r.graph_type_name for r in db.execute("CALL gql.list_graph_types()").collect()]
    assert types == ["social_t"]
    # introspection over the declared type and the live graph
    desc = {(r.kind, r.label): r for r in
            db.execute("CALL gql.describe_graph_type('social_t')").collect()}
    assert desc[("node", "Person")].properties == "age INTEGER, name STRING"
    assert desc[("edge", "KNOWS")].src_label == "Person"
    ets = {r.edge_type: (r.src_label, r.dst_label) for r in
           db.execute("CALL gql.list_edge_types()").collect()}
    assert ets["KNOWS"] == ("Person", "Person")
    props = {r.property for r in
             db.execute("CALL gql.describe_edge_type('KNOWS')").collect()}
    assert "since" in props
    db.execute("DROP GRAPH TYPE social_t")


def test_rbac_procedures(spark):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    users = {r.user_name for r in db.execute("CALL gql.list_users()").collect()}
    assert "admin" in users
    roles = {r.role_name for r in db.execute("CALL gql.list_roles()").collect()}
    assert "admin" in roles
    auth = db.execute("CALL gql.authenticate_user('admin')").collect()[0]
    assert auth.authenticated is True


def test_explain_statement(db):
    db.execute("INSERT (:Person {name: 'Ada'})")
    plan = db.execute("EXPLAIN MATCH (p:Person) RETURN p.name AS name")
    assert isinstance(plan, str) and "Physical Plan" in plan


def test_index_ddl(db):
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    db.execute("CREATE INDEX adj1 ON KNOWS TYPE AdjacencyList")
    idx = db.execute("CALL gql.list_indexes()").collect()
    assert [(r.name, r.kind) for r in idx] == [("adj1", "ADJACENCYLIST")]
    # queries still correct on the repartitioned+cached edge table
    got = db.query(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    ).collect()
    assert [(r.a, r.b) for r in got] == [("Ada", "Bob")]
    db.execute("CREATE INDEX reach1 ON KNOWS TYPE ReachabilityIndex")
    db.execute("DROP INDEX adj1")
    db.execute("DROP INDEX reach1")
    assert db.execute("CALL gql.list_indexes()").count() == 0


# ---------------------------------------------------------------------------
# CREATE GRAPH AS (induced subgraph; parse-only in the reference)


def test_create_graph_as_induced_subgraph(db):
    db.execute("INSERT (:Person {name: 'Ada', age: 36})-[:KNOWS {since: 1840}]->"
               "(:Person {name: 'Bob', age: 41})")
    db.execute("INSERT (:Person {name: 'Cat', age: 9})-[:KNOWS {since: 2020}]->"
               "(:Person {name: 'Dan', age: 8})")
    db.execute(
        "CREATE GRAPH /default/adults AS "
        "MATCH (p:Person) WHERE p.age > 18 RETURN p"
    )
    db.execute("SESSION SET GRAPH /default/adults")
    names = [r.n for r in db.query(
        "MATCH (p:Person) RETURN p.name AS n ORDER BY n").collect()]
    assert names == ["Ada", "Bob"]
    # induced edge survives (both endpoints kept)
    pairs = [(r.a, r.b) for r in db.query(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    ).collect()]
    assert pairs == [("Ada", "Bob")]


def test_create_graph_as_drops_cross_edges(db):
    db.execute("INSERT (:Person {name: 'Ada', age: 36})-[:KNOWS {since: 1}]->"
               "(:Person {name: 'Kid', age: 5})")
    db.execute(
        "CREATE GRAPH /default/adults2 AS "
        "MATCH (p:Person) WHERE p.age > 18 RETURN p"
    )
    db.execute("SESSION SET GRAPH /default/adults2")
    assert db.query("MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n"
                    ).first().n == 0


def test_create_graph_as_pattern_and_anonymous(db):
    db.execute("INSERT (:Person {name: 'Ada', age: 36})-[:KNOWS {since: 1}]->"
               "(:Person {name: 'Bob', age: 41})")
    db.execute("INSERT (:Person {name: 'Loner', age: 50})")
    # only the named var p is captured; the anonymous endpoint is a filter
    db.execute(
        "CREATE GRAPH /default/connected AS "
        "MATCH (p:Person)-[:KNOWS]->(:Person) RETURN p"
    )
    db.execute("SESSION SET GRAPH /default/connected")
    names = [r.n for r in db.query(
        "MATCH (p:Person) RETURN p.name AS n ORDER BY n").collect()]
    assert names == ["Ada"]


def test_create_graph_as_rejects_no_match(db):
    import pytest as _pytest
    from graphlite_spark.gql.compiler import CompileError

    with _pytest.raises(CompileError):
        db.execute("CREATE GRAPH /default/bad AS UNWIND [1,2] AS x RETURN x AS x")


# ---------------------------------------------------------------------------
# transaction characteristics (txn/isolation.rs)


def test_txn_isolation_level_recorded(db):
    r = db.execute("START TRANSACTION ISOLATION LEVEL SERIALIZABLE")
    assert "SERIALIZABLE" in r["status"]
    db.execute("COMMIT")
    r = db.execute("START TRANSACTION ISOLATION LEVEL REPEATABLE READ READ WRITE")
    assert "REPEATABLE READ" in r["status"]
    db.execute("ROLLBACK")
    r = db.execute("START TRANSACTION")
    assert "READ COMMITTED" in r["status"]  # default, isolation.rs::default
    db.execute("COMMIT")


def test_txn_read_only_blocks_dml(db):
    import pytest as _pytest

    db.execute("START TRANSACTION READ ONLY")
    with _pytest.raises(PermissionError):
        db.execute("INSERT (:Person {name: 'X'})")
    db.execute("ROLLBACK")
    # writable again after rollback
    assert db.execute("INSERT (:Person {name: 'Y'})")["rows_affected"] == 1


def test_txn_isolation_parse_errors(db):
    from graphlite_spark.gql.statements import ParseError

    import pytest as _pytest

    with _pytest.raises(ParseError):
        db.execute("START TRANSACTION ISOLATION SERIALIZABLE")
    with _pytest.raises(ParseError):
        db.execute("START TRANSACTION ISOLATION LEVEL READ SOMETIMES")


def test_call_graph_analytics(db):
    db.execute("INSERT (:Person {name: 'A'})-[:KNOWS]->(:Person {name: 'B'})")
    db.execute("INSERT (:Person {name: 'C'})")
    cc = db.execute("CALL gql.connected_components()").collect()
    comps = {}
    for r in cc:
        comps.setdefault(r.comp, set()).add(r.node)
    sizes = sorted(len(v) for v in comps.values())
    assert sizes == [1, 2]
    pr = db.execute("CALL gql.pagerank()").collect()
    assert len(pr) == 3
    assert abs(sum(r.rank for r in pr) - 1.0) < 1e-9
    # B receives A's rank: strictly higher than the isolated node
    by_node = {r.node: r.rank for r in pr}
    ranks = sorted(by_node.values())
    assert ranks[-1] > ranks[0]


@pytest.mark.full_tier
def test_call_truss_and_core_procedures(db):
    # a 4-clique of Persons plus a pendant edge: the truss/core/
    # sampled-betweenness surface reachable from GQL (CALL gql.*)
    import itertools

    names = ["P1", "P2", "P3", "P4", "P5"]
    for n in names:
        db.execute(f"INSERT (:Person {{name: '{n}'}})")
    for a, b in list(itertools.combinations(names[:4], 2)) + \
            [("P4", "P5")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    kt = db.execute("CALL gql.k_truss(4)").collect()
    assert len(kt) == 6  # exactly the 4-clique's edges survive
    td = {(r._src, r._dst): r.trussness
          for r in db.execute("CALL gql.truss_decomposition()").collect()}
    assert sorted(td.values()) == [2, 4, 4, 4, 4, 4, 4]
    cd = db.execute("CALL gql.core_decomposition()").collect()
    assert max(r.coreness for r in cd) == 3  # clique members
    bs = db.execute("CALL gql.betweenness_sampled(0.9, 4)").collect()
    assert all(r.betweenness >= 0 for r in bs)
    rw = db.execute("CALL gql.random_walks(2, 3)").collect()
    # every walk starts at its start node and advances along edges
    assert {r.step for r in rw} <= {0, 1, 2, 3}
    assert all(r.node == r.start for r in rw if r.step == 0)
    n2 = db.execute("CALL gql.node2vec_walks(2, 3, 1, 1)").collect()
    # p=q=1 degenerates to the uniform sampler — identical rows
    assert sorted((r.start, r.walk_id, r.step, r.node) for r in n2) \
        == sorted((r.start, r.walk_id, r.step, r.node) for r in rw)
    # leiden over the same graph (string content-hash ids — the
    # id-type-generic path): the synchronous-dynamics optimum here is
    # {3-clique}, {P4, P5} — same split louvain finds on numeric ids
    # for this topology — and both communities are connected
    es = db.execute("CALL gql.eccentricity_sampled(0.9, 4)").collect()
    assert len(es) == 5 and all(r.eccentricity >= 0 for r in es)
    le = db.execute("CALL gql.leiden(2, 30)").collect()
    assert len(le) == 5
    comm = {}
    for r in le:
        comm.setdefault(r.community, set()).add(r.node)
    assert sorted(len(v) for v in comm.values()) == [2, 3]
    # the resolution arg threads through: a tiny gamma coarsens the
    # same graph into fewer communities
    lo = db.execute("CALL gql.leiden(2, 30, 0.1)").collect()
    comm_lo = {}
    for r in lo:
        comm_lo.setdefault(r.community, set()).add(r.node)
    assert len(comm_lo) <= len(comm)


def test_truncate_and_clear_graph(db):
    """TRUNCATE/CLEAR GRAPH (ast.rs:625-644): data gone, schema kept."""
    db.execute("INSERT (:Person {name: 'Ada'})-[:KNOWS]->(:Person {name: 'Bob'})")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 2
    r = db.execute("TRUNCATE GRAPH /default/g")
    assert r["status"] == "truncated"
    # label/edge-type schemas survive -> queries still compile, zero rows
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 0
    assert (
        db.query("MATCH (:Person)-[:KNOWS]->(:Person) RETURN count(*) AS n")
        .collect()[0].n == 0
    )
    db.execute("INSERT (:Person {name: 'Eve'})")
    db.execute("CLEAR GRAPH /default/g")
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 0


def test_session_parameters(db):
    """SESSION SET $param persists across queries; explicit params win."""
    db.execute("INSERT (:Item {v: 1}), (:Item {v: 5}), (:Item {v: 9})")
    db.execute("SESSION SET $cut = 4")
    got = db.query("MATCH (i:Item) WHERE i.v > $cut RETURN i.v AS v ORDER BY v").collect()
    assert [r.v for r in got] == [5, 9]
    # per-call params override the session value
    got = db.query(
        "MATCH (i:Item) WHERE i.v > $cut RETURN i.v AS v ORDER BY v",
        params={"cut": 8},
    ).collect()
    assert [r.v for r in got] == [9]
    db.execute("SESSION RESET PARAMETERS")
    with pytest.raises(Exception):
        db.query("MATCH (i:Item) WHERE i.v > $cut RETURN i.v AS v").collect()


def test_session_time_zone(db, spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    db.execute("SESSION SET TIME ZONE 'America/New_York'")
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    db.execute("SESSION RESET TIME ZONE")
    assert spark.conf.get("spark.sql.session.timeZone") == old


def test_session_reset_graph_and_close(spark):
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE GRAPH /default/h")
    d.execute("SESSION SET GRAPH /default/h")
    d.execute("INSERT (:X {a: 1})")
    d.execute("SESSION RESET GRAPH")
    with pytest.raises(Exception, match="no current graph"):
        d.query("MATCH (x:X) RETURN count(*) AS n")
    d.execute("SESSION SET GRAPH /default/h")
    assert d.query("MATCH (x:X) RETURN count(*) AS n").collect()[0].n == 1
    d.execute("SESSION CLOSE")
    with pytest.raises(RuntimeError, match="closed"):
        d.query("MATCH (x:X) RETURN count(*) AS n")


def test_user_role_grant_revoke(spark):
    """CREATE/DROP USER/ROLE + GRANT/REVOKE (ast.rs:625-644 security DDL;
    metadata-level like the reference's security/ module)."""
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE USER ada PASSWORD 'lovelace'")
    d.execute("CREATE ROLE analyst")
    d.execute("GRANT SELECT ON GRAPH /default/g TO analyst")
    d.execute("GRANT analyst TO ada")
    users = {r.user_name: r.roles for r in d.execute("CALL gql.list_users()").collect()}
    assert users["ada"] == "analyst"
    roles = {r.role_name: r.grants for r in d.execute("CALL gql.list_roles()").collect()}
    assert roles["analyst"] == "SELECT ON /default/g"
    d.execute("REVOKE analyst FROM ada")
    users = {r.user_name: r.roles for r in d.execute("CALL gql.list_users()").collect()}
    assert users["ada"] == ""
    with pytest.raises(KeyError):
        d.execute("CREATE ROLE analyst")
    d.execute("DROP ROLE analyst")
    d.execute("DROP USER ada")
    with pytest.raises(KeyError):
        d.execute("DROP USER ada")
    d.execute("DROP USER IF EXISTS ada")


def test_declare_statement(db):
    """DECLARE name = literal (ast.rs:228-265): session value binding."""
    db.execute("INSERT (:N {v: 2}), (:N {v: 6})")
    db.execute("DECLARE lo = 3")
    got = db.query("MATCH (n:N) WHERE n.v > $lo RETURN n.v AS v").collect()
    assert [r.v for r in got] == [6]


def test_at_statement_schema_context(spark):
    """AT /schema <stmt>: bare graph names resolve in that schema."""
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE SCHEMA /app")
    d.execute("AT /app CREATE GRAPH social")
    assert "/app/social" in d.list_graphs()
    d.execute("SESSION SET GRAPH /app/social")
    d.execute("INSERT (:P {name: 'Ada'})")
    # the same bare name outside AT would land in /default
    d.execute("AT /app TRUNCATE GRAPH social")
    assert d.query("MATCH (p:P) RETURN count(*) AS n").collect()[0].n == 0


def test_next_chained_statements(db):
    """Top-level NEXT chaining (ast.rs:1082-1105): sequential execution,
    last result surfaces; also the CREATE PROCEDURE body path."""
    out = db.execute(
        "INSERT (:Ch {v: 1}) NEXT INSERT (:Ch {v: 2}) "
        "NEXT MATCH (c:Ch) RETURN count(*) AS n"
    )
    assert out.collect()[0].n == 2
    db.execute(
        "CREATE PROCEDURE app.add_and_count() "
        "INSERT (:Ch {v: 3}) NEXT MATCH (c:Ch) RETURN count(*) AS n"
    )
    assert db.execute("CALL app.add_and_count()").collect()[0].n == 3


def test_call_weighted_shortest_path(db):
    db.execute("INSERT (:W {id: 1})")  # graph exists; edges drive the walk
    # build a weighted chain via the python surface for precision
    import pyspark.sql.functions as F

    spark = db.spark
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id: long")
    edges = spark.createDataFrame(
        [(0, 1, 4.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 2.0)],
        "src long, dst long, cost double",
    )
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    g = PropertyGraph(spark, name="wg")
    g.add_nodes("N", nodes, "id")
    g.add_edges("ROAD", edges, "src", "dst", "N", "N")
    d = GraphLiteSpark(spark)
    d.register_graph(g)
    got = {r.node: r.dist for r in
           d.execute("CALL gql.weighted_shortest_path('ROAD', 'cost', 0)").collect()}
    assert got == {0: 0.0, 2: 1.0, 1: 2.0, 3: 4.0}


def test_call_bm25_search(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    docs = spark.createDataFrame(
        [(1, "spark joins fast"), (2, "slow scans"), (3, "spark spark spark")],
        "id: long, body: string",
    )
    g = PropertyGraph(spark, name="lib")
    g.add_nodes("Doc", docs, "id")
    d = GraphLiteSpark(spark)
    d.register_graph(g)
    rows = d.execute("CALL gql.bm25_search('Doc', 'body', 'spark', 2)").collect()
    assert [r._id for r in rows] == [3, 1]  # tf=3 doc first
    assert rows[0].score > rows[1].score


def test_result_cache_toggle_and_invalidation(spark):
    # cache/result_cache.rs analogue: SESSION SET RESULT_CACHE ON
    # persists compiled plans; any write unpersists + invalidates
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/rcache")
    db.execute("SESSION SET GRAPH /default/rcache")
    db.execute("INSERT (:P {k: 1})")
    db.execute("SESSION SET RESULT_CACHE ON")
    df = db.query("MATCH (p:P) RETURN count(*) AS n")
    assert df.storageLevel.useMemory
    assert df.collect()[0][0] == 1
    stats = {r.cache_type: r.entries
             for r in db.execute("CALL gql.cache_stats()").collect()}
    assert stats["result_cache"] >= 1
    db.execute("INSERT (:P {k: 2})")  # write -> invalidate + unpersist
    assert not df.storageLevel.useMemory
    assert db.query("MATCH (p:P) RETURN count(*) AS n").collect()[0][0] == 2
    db.execute("SESSION SET RESULT_CACHE OFF")
    df3 = db.query("MATCH (p:P) RETURN count(*) AS n2")
    assert not df3.storageLevel.useMemory


def test_result_cache_unpersists_on_plan_cache_eviction(spark, monkeypatch):
    # cache/result_cache.rs:151-164 LRU analogue: when the plan cache
    # evicts an entry, its persisted blocks must leave the block manager
    # (a long read-only session must not grow storage memory unbounded)
    from graphlite_spark import GraphLiteSpark

    monkeypatch.setattr(GraphLiteSpark, "PLAN_CACHE_MAX", 2)
    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/rcevict")
    db.execute("SESSION SET GRAPH /default/rcevict")
    db.execute("INSERT (:P {k: 1})")
    db.execute("SESSION SET RESULT_CACHE ON")
    # NB: the three queries must not be same-result plans — Spark's
    # cache manager canonicalizes away aliases, so alias-only variants
    # would share one cache entry
    d1 = db.query("MATCH (p:P) WHERE p.k > 0 RETURN count(*) AS n1")
    d2 = db.query("MATCH (p:P) WHERE p.k > -1 RETURN count(*) AS n2")
    assert d1.storageLevel.useMemory and d2.storageLevel.useMemory
    d3 = db.query("MATCH (p:P) WHERE p.k > -2 RETURN count(*) AS n3")  # evicts d1
    assert not d1.storageLevel.useMemory  # unpersisted on eviction
    assert d2.storageLevel.useMemory and d3.storageLevel.useMemory
    assert len(db._persisted) == 2
    db.execute("SESSION SET RESULT_CACHE OFF")


def test_duplicate_insert_dedup_and_warning(spark):
    # duplicate_insert_test.rs / duplicate_edge_warning_test.rs: identical
    # content re-INSERT is skipped (content-hash identity), warns, and
    # reports rows_affected 0
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/dupwarn")
    db.execute("SESSION SET GRAPH /default/dupwarn")
    r1 = db.execute("INSERT (:Person {name: 'Charlie', age: 35})")
    assert r1 == {"status": "ok", "rows_affected": 1}
    r2 = db.execute("INSERT (:Person {name: 'Charlie', age: 35})")
    assert r2["rows_affected"] == 0
    assert "Duplicate node detected" in r2["warnings"][0]
    assert db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0][0] == 1

    e1 = db.execute("INSERT (:A {k: 1})-[:R {w: 2}]->(:A {k: 2})")
    assert e1["rows_affected"] == 3
    e2 = db.execute("INSERT (:A {k: 1})-[:R {w: 2}]->(:A {k: 2})")
    assert e2["rows_affected"] == 0
    assert any("Duplicate edge detected" in w for w in e2["warnings"])
    # same endpoints, different props = a different edge
    e3 = db.execute("INSERT (:A {k: 1})-[:R {w: 9}]->(:A {k: 2})")
    assert e3["rows_affected"] == 1
    assert db.query(
        "MATCH (:A)-[r:R]->(:A) RETURN count(*) AS n").collect()[0][0] == 2
    # an edge matching all STORED columns but carrying a brand-new property
    # is NOT a duplicate — its content hash differs (value.rs identity
    # covers every property, including ones the table hasn't seen yet)
    e4 = db.execute("INSERT (:A {k: 1})-[:R {w: 2, tag: 'x'}]->(:A {k: 2})")
    assert e4["rows_affected"] == 1
    assert db.query(
        "MATCH (:A)-[r:R]->(:A) RETURN count(*) AS n").collect()[0][0] == 3


def test_graph_stats_reports_empty_labels(spark):
    # the single-job union+groupBy emits no group for an empty table;
    # the label list left-join must restore the n=0 row
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    g = PropertyGraph(spark, name="gstat")
    g.add_nodes("Full", spark.createDataFrame([(1,), (2,)], "id: long"), "id")
    g.add_nodes("Empty", spark.createDataFrame([], "id: long"), "id")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    rows = db.execute("CALL gql.graph_stats()").collect()
    assert [(r.kind, r.label, r.n) for r in rows] == [
        ("node", "Empty", 0), ("node", "Full", 2)]


@pytest.mark.full_tier
def test_call_linkpred_clustering_hits_procedures(db):
    # 4-clique P1..P4 plus pendant P4-P5: closed-form clustering /
    # transitivity / link-prediction values reachable from GQL
    import itertools
    import math

    names = ["P1", "P2", "P3", "P4", "P5"]
    for n in names:
        db.execute(f"INSERT (:Person {{name: '{n}'}})")
    for a, b in list(itertools.combinations(names[:4], 2)) + \
            [("P4", "P5")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    cc = db.execute("CALL gql.clustering_coefficient()").collect()
    # K4 corners: P1-P3 lcc=1.0 (deg 3, T=3); P4 deg 4, T=3 -> 0.5;
    # pendant P5 deg 1 -> 0.0
    assert sorted(r.clustering for r in cc) == [0.0, 0.5, 1.0, 1.0, 1.0]
    t = db.execute("CALL gql.transitivity()").collect()[0]
    assert (t.n_triangles, t.n_wedges, t.transitivity) == (4, 15, 0.8)
    lp = db.execute("CALL gql.link_prediction()").collect()
    # unlinked distance-2 pairs: (Pi, P5) for i=1..3, all via center P4
    assert len(lp) == 3
    assert all(r.common_neighbors == 1 for r in lp)
    assert all(r.adamic_adar == round(1 / math.log(4), 4) for r in lp)
    assert all(r.preferential_attachment == 3 for r in lp)
    ht = db.execute("CALL gql.hits(5)").collect()
    assert len(ht) == 5
    # L2-normalized halves: both score vectors have unit norm
    assert abs(sum(r.hub ** 2 for r in ht) - 1.0) < 1e-9
    assert abs(sum(r.authority ** 2 for r in ht) - 1.0) < 1e-9


def test_call_procedures_mixed_id_domains(spark):
    # a registered long-keyed graph that then receives pure-GQL inserts
    # mixes BIGINT table ids with string content-hash ids; the analytics
    # procedures' edge/node union must harmonize to the string domain
    # instead of letting ANSI coercion CAST the hashes to BIGINT
    # (crashed mid-stage before the fix)
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    db = GraphLiteSpark(spark)
    g = PropertyGraph(spark, name="mixed")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id: long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src: long, dst: long")
    g.add_nodes("Item", nodes, "id")
    g.add_edges("LINKS", edges, "src", "dst", "Item", "Item")
    db.register_graph(g)
    db.execute("INSERT (:Person {name: 'A'})")
    db.execute("INSERT (:Person {name: 'B'})")
    db.execute(
        "MATCH (x:Person {name: 'A'}), (y:Person {name: 'B'}) "
        "INSERT (x)-[:KNOWS]->(y)")
    # chain 0-1-2 plus the Person pair: two components, sizes 2 and 3
    cc = db.execute("CALL gql.connected_components()").collect()
    comps = {}
    for r in cc:
        comps.setdefault(r.comp, set()).add(r.node)
    assert sorted(len(v) for v in comps.values()) == [2, 3]
    t = db.execute("CALL gql.transitivity()").collect()[0]
    assert (t.n_triangles, t.n_wedges, t.transitivity) == (0, 1, 0.0)
    lp = db.execute("CALL gql.link_prediction()").collect()
    assert len(lp) == 1 and lp[0].common_neighbors == 1
    assert {lp[0].node_u, lp[0].node_v} == {"0", "2"}
    ht = db.execute("CALL gql.hits(2)").collect()
    assert len(ht) == 5


@pytest.mark.full_tier
def test_call_sketch_procedures(db):
    # 40 Persons with distinct ages: HLL at p=12 resolves small
    # cardinalities exactly (linear counting), DDSketch medians are
    # within the 1% relative-error guarantee
    for i in range(40):
        db.execute(f"INSERT (:Person {{name: 'S{i}', age: {20 + i}}})")
    est = db.execute(
        "CALL gql.hll_distinct('Person', 'age')").collect()[0].estimate
    assert abs(est - 40) < 2
    # string property folds through xxhash64 before sketching
    est_s = db.execute(
        "CALL gql.hll_distinct('Person', 'name', 12)").collect()[0].estimate
    assert abs(est_s - 40) < 2
    rows = db.execute(
        "CALL gql.dd_quantiles('Person', 'age', 0.5)").collect()
    assert len(rows) == 1
    true_median = sorted(20 + i for i in range(40))[int(0.5 * 39)]
    assert abs(rows[0].estimate - true_median) / true_median <= 0.01
    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown property"):
        db.execute("CALL gql.hll_distinct('Person', 'nope')")


def test_call_shortest_path_pair(db):
    # directed chain A -> B -> C -> D plus a shortcut A -> C
    for n in ["A", "B", "C", "D"]:
        db.execute(f"INSERT (:Person {{name: '{n}'}})")
    for a, b in [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    ids = {r.name: r.i for r in db.query(
        "MATCH (p:Person) RETURN p.name AS name, id(p) AS i").collect()}
    d = db.execute(
        f"CALL gql.shortest_path_pair('{ids['A']}', '{ids['D']}')"
    ).collect()
    assert len(d) == 1 and d[0].dist == 2  # A -> C -> D via the shortcut
    # unreachable in the directed graph -> empty
    d2 = db.execute(
        f"CALL gql.shortest_path_pair('{ids['D']}', '{ids['A']}', 6)"
    ).collect()
    assert d2 == []


def test_call_maximal_independent_set(db):
    # triangle A-B-C plus pendant C-D: MIS is {D, one of A/B/C}
    for n in ["A", "B", "C", "D"]:
        db.execute(f"INSERT (:Person {{name: '{n}'}})")
    for a, b in [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    got = {r.node for r in
           db.execute("CALL gql.maximal_independent_set()").collect()}
    names = {r.i: r.name for r in db.query(
        "MATCH (p:Person) RETURN p.name AS name, id(p) AS i").collect()}
    picked = {names[n] for n in got}
    assert "D" in picked or "C" in picked
    # independence: C and D never both in (edge), A/B not both in, etc.
    es = {("A", "B"), ("B", "C"), ("A", "C"), ("C", "D")}
    assert not any((a, b) in es or (b, a) in es
                   for a in picked for b in picked)
    # maximality: every excluded vertex has a neighbor inside
    for v in set("ABCD") - picked:
        assert any((v, u) in es or (u, v) in es for u in picked), v


def test_call_maximal_matching(db):
    # path A - B - C - D: a maximal matching has exactly 2 edges
    # (or 1 if it picks the middle edge)
    for n in ["A", "B", "C", "D"]:
        db.execute(f"INSERT (:Person {{name: '{n}'}})")
    for a, b in [("A", "B"), ("B", "C"), ("C", "D")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    got = [(r.node_u, r.node_v) for r in
           db.execute("CALL gql.maximal_matching()").collect()]
    seen = [n for uv in got for n in uv]
    assert len(seen) == len(set(seen))  # a matching
    assert len(got) in (1, 2)           # middle-edge or outer pair


def test_call_greedy_coloring(db):
    # 5-cycle needs 3 colors; coloring is proper and total
    for i in range(5):
        db.execute(f"INSERT (:Person {{name: 'C{i}'}})")
    for i in range(5):
        db.execute(
            "MATCH (x:Person {name: 'C%d'}), (y:Person {name: 'C%d'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (i, (i + 1) % 5))
    got = {r.node: r.color for r in
           db.execute("CALL gql.greedy_coloring()").collect()}
    assert len(got) == 5
    ids = {r.name: r.i for r in db.query(
        "MATCH (p:Person) RETURN p.name AS name, id(p) AS i").collect()}
    for i in range(5):
        assert got[ids[f"C{i}"]] != got[ids[f"C{(i + 1) % 5}"]]
    assert len(set(got.values())) >= 3  # odd cycle is not 2-colorable


def test_call_profile_procedure(db):
    for i in range(10):
        db.execute(f"INSERT (:Person {{name: 'Q{i}', age: {30 + i}}})")
    rows = {r.column: r for r in
            db.execute("CALL gql.profile('Person', 'age')").collect()}
    assert set(rows) == {"age"}
    r = rows["age"]
    assert r.n_rows == 10 and r.n_null == 0
    assert (r.min_value, r.max_value) == ("30", "39")
    assert r.mean == 34.5
    assert abs(r.approx_distinct - 10) < 1
    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown properties"):
        db.execute("CALL gql.profile('Person', 'nope')")
    with _pytest.raises(ValueError):
        db.execute("CALL gql.profile()")


def test_call_katz_and_assortativity(db):
    # chain A -> B -> C
    for nm in ["A", "B", "C"]:
        db.execute(f"INSERT (:Person {{name: '{nm}'}})")
    for a, b in [("A", "B"), ("B", "C")]:
        db.execute(
            "MATCH (x:Person {name: '%s'}), (y:Person {name: '%s'}) "
            "INSERT (x)-[:KNOWS]->(y)" % (a, b))
    kz = {r.node: r.katz for r in db.execute(
        "CALL gql.katz_centrality(0.5, 1.0, 3)").collect()}
    assert sorted(kz.values()) == [1.0, 1.5, 1.75]
    r = db.execute("CALL gql.assortativity()").collect()[0]
    assert r.n_edges == 2 and r.assortativity is not None


# The DML contract once more with FOLD_AT = 0: a match of one row or more
# rewrites the tables it touches as DataFrames, and every staged table
# folds, so the same assertions pin the path past the cap
_PAST_THE_FOLD_CAP = [
    test_insert_and_match, test_insert_edge_pattern, test_match_set_property,
    test_match_set_new_property, test_match_remove, test_delete_requires_detach,
    test_delete_edges_only, test_transaction_rollback,
    test_match_insert_connects_matched_nodes,
    test_match_insert_of_a_new_type_matching_nothing,
    test_insert_null_property_is_absent,
    test_insert_edge_and_match_insert_null_property,
    test_truncate_and_clear_graph, test_duplicate_insert_dedup_and_warning,
]


@pytest.mark.parametrize("case", _PAST_THE_FOLD_CAP, ids=lambda f: f.__name__)
def test_dml_past_the_fold_cap(case, request, monkeypatch):
    import inspect

    from graphlite_spark import dml

    monkeypatch.setattr(dml, "FOLD_AT", 0)
    case(*[request.getfixturevalue(p)
           for p in inspect.signature(case).parameters])
