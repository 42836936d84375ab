"""Compile budget of the benchmark's read shapes (perfbench
``interactive_reads``): the Datasets one compile builds. Each one is an
eager Catalyst analysis plus its JVM round trips, so a read should build
one per table entering the pattern, plus its filter, joins and
projection."""

from __future__ import annotations

import pytest
from pyspark.sql.classic import dataframe as classic

from perfbench.oracles import DuckOracle, rows_match
from perfbench.workloads import READ_SHAPES
from tests.test_cli import DATA

# Datasets per compile; each table enters the frame through one select
# (when every table entered through a rename select and each elided
# endpoint id or derived key was a withColumn: 3 / 7 / 11 / 8). hop1 and
# the aggregate read Order from the PLACED row: one table, no join
# (5 / 5 while Order was joined back to the PLACED edge)
BUDGET = {"point": 3, "hop1": 3, "hop2": 5, "neighbourhood_agg": 3}
KEY = 7  # a customer with orders at this scale


@pytest.fixture(scope="module")
def tpch(spark):
    from graphlite_spark.datasets.tpch import tpch_graph

    return tpch_graph(spark, DATA)


@pytest.mark.parametrize("shape", sorted(BUDGET))
def test_read_shape_compile_budget(tpch, monkeypatch, shape):
    from graphlite_spark.gql.compiler import QueryCompiler
    from graphlite_spark.gql.parser import parse

    gql, sql = READ_SHAPES[shape]
    ast = parse(gql)
    built = 0
    init = classic.DataFrame.__init__

    def counting(self, *args, **kwargs):
        nonlocal built
        # DataFrame.__new__ runs __init__, then Python runs it again
        if "_jdf" not in self.__dict__:
            built += 1
        init(self, *args, **kwargs)

    monkeypatch.setattr(classic.DataFrame, "__init__", counting)
    df = QueryCompiler(tpch, {"k": KEY}).compile(ast)
    monkeypatch.undo()
    assert built == BUDGET[shape]

    duck = DuckOracle(DATA)
    try:
        want_cols, want = duck.rows(sql, {"k": KEY})
    finally:
        duck.close()
    assert want
    assert rows_match(df.columns, [tuple(r) for r in df.collect()],
                      want_cols, want) is None


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
