"""The CALL surface as one procedure table (graphlite_spark/procedures.py):
argument binding and checking, declared result schemas, YIELD and
WHERE on every procedure, and ``gql.list_procedures``."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def db(spark):
    """Four people on a KNOWS chain 1->2->3->4, with a text property."""
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from graphlite_spark.operators.common import local_frame

    people = local_frame(
        spark,
        [(1, "hello world"), (2, "hello spark"), (3, "graph engine"),
         (4, "query plan")],
        "pid long, txt string")
    knows = local_frame(spark, [(1, 2), (2, 3), (3, 4)], "a long, b long")
    g = PropertyGraph(spark, name="chain")
    g.add_nodes("Person", people, "pid")
    g.add_edges("KNOWS", knows, "a", "b", "Person", "Person")
    d = GraphLiteSpark(spark)
    d.register_graph(g)
    return d


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- $param arguments ------------------------------------------------------
def test_param_arguments_bind_like_literals(db, path_regime):
    df = db.execute("CALL gql.shortest_path_pair(1, 3)")
    lit = _rows(df)
    assert [r.dist for r in df.collect()] == [2]
    assert _rows(db.execute("CALL gql.shortest_path_pair($a, $b)",
                            {"a": 1, "b": 3})) == lit
    assert _rows(db.execute("CALL gql.pagerank($n)", {"n": 2})) == \
        _rows(db.execute("CALL gql.pagerank(2)"))


def test_missing_parameter_is_named(db):
    with pytest.raises(ValueError, match=r"\$b"):
        db.execute("CALL gql.shortest_path_pair($a, $b)", {"a": 1})


# -- WHERE on every procedure ----------------------------------------------
def test_where_filters_an_operator_procedure(db):
    df = db.execute("CALL gql.bm25_search('Person', 'txt', 'hello') "
                    "WHERE _id = 1")
    assert [r._id for r in df.collect()] == [1]


def test_where_filters_sample_data(db):
    df = db.execute("CALL gql.sample_data('Person', 2) WHERE pid = 1")
    assert [r.pid for r in df.collect()] == [1]


def test_yield_and_where_apply_to_a_user_procedure(db):
    db.execute("CREATE PROCEDURE people() "
               "MATCH (p:Person) RETURN p.pid AS pid, p.txt AS txt")
    try:
        df = db.execute("CALL people() YIELD pid WHERE pid > 2")
        assert df.columns == ["pid"]
        assert _rows(df) == [(3,), (4,)]
    finally:
        db.execute("DROP PROCEDURE people")


# -- declared result schemas -------------------------------------------------
def test_empty_catalog_answers_typed_empty_frames(spark):
    from graphlite_spark import GraphLiteSpark

    fresh = GraphLiteSpark(spark)
    graphs = fresh.execute("CALL gql.list_graphs()")
    assert graphs.collect() == []
    assert graphs.dtypes == [("graph_name", "string"),
                             ("schema_name", "string"),
                             ("graph_path", "string")]
    stats = fresh.execute("CALL gql.get_schema_statistics()")
    assert stats.collect() == []
    assert stats.dtypes == [("schema", "string"), ("n_graphs", "bigint")]


def test_no_graph_set_answers_null(spark):
    from graphlite_spark import GraphLiteSpark

    fresh = GraphLiteSpark(spark)
    assert fresh.execute("CALL gql.current_graph()").collect()[0].graph is None
    assert fresh.execute(
        "CALL gql.show_session()").collect()[0].graph_name is None


@pytest.fixture(scope="module")
def catalog_db(spark):
    """An engine where every row-built procedure has a non-empty answer."""
    from graphlite_spark import GraphLiteSpark

    d = GraphLiteSpark(spark)
    d.execute("CREATE GRAPH TYPE social_t { (Person {name STRING, "
              "age INTEGER}), (Person)-[KNOWS {since INTEGER}]->(Person) }")
    d.execute("CREATE GRAPH /default/g")
    d.execute("SESSION SET GRAPH /default/g")
    d.execute("INSERT (:Person {name: 'Ada', age: 36})-[:KNOWS {since: 1840}]"
              "->(:Person {name: 'Bob', age: 41})")
    d.execute("CREATE INDEX adj ON KNOWS TYPE AdjacencyList")
    d.execute("CREATE INDEX txt ON KNOWS TYPE TEXT")
    d.execute("CALL gql.register_model('m', 'u')")
    d.query("MATCH (p:Person) RETURN p.name AS n").collect()
    return d


_S, _L, _D, _B = "string", "bigint", "double", "boolean"
# Column names and types of each row-built procedure's non-empty answer,
# as they were when the types were inferred from the rows: a declared
# schema must not change them.
ROW_BUILT = [
    ("gql.list_schemas()", [("schema_name", _S), ("schema_path", _S),
                            ("created_at", _S), ("modified_at", _S)]),
    ("gql.list_graphs()", [("graph_name", _S), ("schema_name", _S),
                           ("graph_path", _S)]),
    ("gql.list_functions()", [("name", _S), ("kind", _S)]),
    ("gql.list_indexes()", [("name", _S), ("kind", _S), ("target", _S)]),
    ("gql.list_graph_types()", [("graph_type_name", _S),
                                ("schema_name", _S)]),
    ("gql.list_users()", [("user_name", _S), ("roles", _S)]),
    ("gql.list_roles()", [("role_name", _S), ("grants", _S)]),
    ("gql.authenticate_user('admin')", [("user_name", _S),
                                        ("authenticated", _B)]),
    ("gql.show_session()", [("session_id", _S), ("user_name", _S),
                            ("schema_name", _S), ("graph_name", _S)]),
    ("gql.cache_stats()", [("cache_type", _S), ("entries", _L),
                           ("hit_rate", _D), ("memory_bytes", _L)]),
    ("gql.current_graph()", [("graph", _S)]),
    ("gql.current_schema()", [("schema", _S)]),
    ("gql.describe_schema()", [("schema", _S), ("graph", _S)]),
    ("gql.get_schema_statistics()", [("schema", _S), ("n_graphs", _L)]),
    ("gql.describe_graph()", [("kind", _S), ("label", _S),
                              ("properties", _S)]),
    ("gql.list_node_types()", [("node_type", _S)]),
    ("gql.describe_node_type('Person')", [("node_type", _S),
                                          ("property", _S), ("dtype", _S)]),
    ("gql.list_edge_types()", [("edge_type", _S), ("src_label", _S),
                               ("dst_label", _S)]),
    ("gql.describe_edge_type('KNOWS')", [("edge_type", _S),
                                         ("property", _S), ("dtype", _S)]),
    ("gql.describe_graph_type('social_t')", [
        ("graph_type", _S), ("kind", _S), ("label", _S), ("src_label", _S),
        ("dst_label", _S), ("properties", _S)]),
    ("gql.graph_stats()", [("kind", _S), ("label", _S), ("n", _L)]),
    ("gql.get_version_history()", [("version", _S), ("note", _S)]),
    ("gql.list_text_indexes()", [("name", _S), ("target", _S)]),
    ("gql.describe_text_index('txt')", [("name", _S), ("kind", _S),
                                        ("target", _S)]),
    ("gql.register_model('m', 'u')", [("model", _S), ("status", _S)]),
    ("gql.load_model('m')", [("model", _S), ("status", _S)]),
    ("gql.unload_model('m')", [("model", _S), ("status", _S)]),
    ("gql.delete_model('nope')", [("model", _S), ("status", _S)]),
    ("gql.list_models()", [("model", _S), ("uri", _S), ("loaded", _B)]),
    ("gql.describe_model('m')", [("model", _S), ("uri", _S),
                                 ("loaded", _B)]),
    ("gql.model_stats('m')", [("model", _S), ("uri", _S), ("loaded", _B)]),
    ("gql.clear_cache()", [("status", _S), ("cleared_caches", _L)]),
]


@pytest.mark.parametrize("call, dtypes", ROW_BUILT,
                         ids=[c for c, _ in ROW_BUILT])
def test_row_built_procedure_keeps_its_types(catalog_db, call, dtypes):
    df = catalog_db.execute("CALL " + call)
    assert df.count() > 0
    assert df.dtypes == dtypes


# -- argument errors -----------------------------------------------------------
@pytest.mark.parametrize("stmt, exc, fragments", [
    ("CALL gql.pagerank('ten')", ValueError,
     ["gql.pagerank", "argument num_iter", "long"]),
    ("CALL gql.register_model()", ValueError,
     ["gql.register_model", "argument model"]),
    ("CALL gql.k_truss(3, 4, 5)", ValueError, ["gql.k_truss", "k long"]),
    ("CALL gql.lang_id('Person', 'txt', 1 + 2)", ValueError,
     ["gql.lang_id", "argument n"]),
    # contracts kept from the hand-written procedures (gql.profile(),
    # a bad dedup mode and an unknown property: test_dml_catalog.py and
    # test_call_curation.py)
    ("CALL gql.describe_model('nope')", KeyError, ["nope"]),
    ("CALL gql.no_such_procedure()", NotImplementedError,
     ["gql.no_such_procedure"]),
], ids=["mistyped", "missing", "extra", "not_a_literal", "unknown_model",
        "unknown_proc"])
def test_argument_errors_name_procedure_and_parameter(db, stmt, exc,
                                                       fragments):
    with pytest.raises(exc) as info:
        db.execute(stmt)
    for f in fragments:
        assert f in str(info.value)


def test_negative_literal_argument(db):
    # a negated literal binds as its value: salt -1 is a valid salt
    assert db.execute("CALL gql.maximal_matching(-1)").count() >= 1


# -- gql.list_procedures ---------------------------------------------------------
def test_list_procedures_lists_the_table_and_user_procedures(db):
    from graphlite_spark.procedures import PROCEDURES

    def listed():
        return {r.name: r for r in
                db.execute("CALL gql.list_procedures()").collect()}

    got = listed()
    assert set(got) == set(PROCEDURES)
    assert got["gql.k_truss"].parameters == "k long = 3"
    assert got["gql.list_graphs"].result == \
        "graph_name string, schema_name string, graph_path string"
    assert got["gql.shortest_path_pair"].result == "dist long"
    db.execute("CREATE PROCEDURE app.my_proc() MATCH (p:Person) RETURN p.pid")
    assert set(listed()) == set(PROCEDURES) | {"app.my_proc"}
    db.execute("DROP PROCEDURE app.my_proc")
    assert set(listed()) == set(PROCEDURES)
