"""Driver-built rows enter Spark as local relations (``local_frame``):
the same types and values ``createDataFrame`` gives, a ``LocalTableScan``
plan, and no list -> Python-RDD conversion behind an INSERT, a path call
or a procedure result."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row, SparkSession


@pytest.mark.parametrize("rows,schema", [
    ([{"big": 2**40, "neg": -7, "f": 2.5, "s": "o'clock", "b": True,
       "ints": [1, 2, 3], "d": datetime.date(2024, 2, 29),
       "ts": datetime.datetime(2024, 2, 29, 13, 14, 15, 16)}], None),
    ([Row(name="a", n=1), Row(name=None, n=2)], None),
    ([(1, "x'y", 0.5), (None, None, None)], "k long, s string, w double"),
    ([], "node: long, dist: long"),
])
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    from graphlite_spark.operators.common import local_frame

    ref = spark.createDataFrame(rows, schema) if schema \
        else spark.createDataFrame(rows)
    got = local_frame(spark, rows, schema)
    assert got.dtypes == ref.dtypes
    assert got.collect() == ref.collect()
    assert "LocalTableScan" in \
        got._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_python_rdd(monkeypatch):
    """Counts calls of the list -> Python-RDD conversion of
    ``createDataFrame``."""
    calls = []
    orig = SparkSession._createFromLocal

    def spy(self, *a, **kw):
        calls.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkSession, "_createFromLocal", spy)
    return calls


def test_writes_paths_and_procedures_build_no_python_rdd(spark,
                                                         no_python_rdd):
    from graphlite_spark import GraphLiteSpark

    db = GraphLiteSpark(spark)
    db.execute("CREATE GRAPH /default/lf")
    db.execute("SESSION SET GRAPH /default/lf")

    def rows(q):
        return sorted(tuple(r) for r in db.query(q).collect())

    assert db.execute("INSERT (:P {name: 'a', k: 1})-[:R {w: 2.5}]->"
                      "(:P {name: 'b', k: 2})")["rows_affected"] == 3
    assert db.execute("MATCH (a:P {name: 'b'}) "
                      "INSERT (a)-[:R {w: 1.0}]->(:P {name: 'c', k: 3})"
                      )["rows_affected"] == 2
    db.execute("START TRANSACTION")
    db.execute("INSERT (:P {name: 'z', k: 9})")
    db.execute("COMMIT")
    assert rows("MATCH (a:P)-[r:R]->(b:P) RETURN a.name, r.w, b.name") == [
        ("a", 2.5, "b"), ("b", 1.0, "c")]
    assert rows("MATCH (p:P) RETURN p.name, p.k") == [
        ("a", 1), ("b", 2), ("c", 3), ("z", 9)]

    ids = {r.name: r._id for r in
           db.graph().nodes_for_label("P").select("name", "_id").collect()}

    def hops(s, t):
        got = db.execute(f"CALL gql.shortest_path_pair("
                         f"'{ids[s]}', '{ids[t]}')").collect()
        return [r.dist for r in got]

    assert hops("a", "c") == [2]
    assert hops("c", "a") == []     # edges are directed: unreachable
    assert hops("b", "b") == [0]
    names = db.execute("CALL gql.list_functions()").collect()
    assert {r.kind for r in names} == {"aggregate", "scalar"}
    assert ("COUNT", "aggregate") in {(r.name, r.kind) for r in names}
    assert no_python_rdd == []
