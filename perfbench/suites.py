"""The two workloads, each driven through the public API only:
``GraphLiteSpark.query`` / ``execute`` and ``CALL gql.*``.

Each function generates its inputs from the seed, sets up through the
harness (session, graph build, first answer, warm-up), settles the JVM
with untimed operations, runs one closed-loop client for the run's
seconds, checks every answer against its oracle outside the timed
operations and returns the result object ``run.py`` prints.
"""

from __future__ import annotations

import itertools
import os

from . import datagen, oracles, workloads as W
from .harness import READ_SCALE, SOCIAL_EDGES, SOCIAL_PERSONS, Clock, Harness

# Untimed operations between set-up and measurement. The JVM compiles
# Spark's and Catalyst's hot code for minutes after it starts, so latency
# falls run-long unless the run starts warm; a fixed count, not a fixed
# time, so a slow machine is as warm as a fast one when the clock starts.
SETTLE_READS = 48
SETTLE_ROUNDS = 1


def _tpch_db(spark, data_dir: str):
    from graphlite_spark import GraphLiteSpark
    from graphlite_spark.datasets.tpch import tpch_graph

    db = GraphLiteSpark(spark)
    db.register_graph(tpch_graph(spark, data_dir))
    return db


def _tpch_ready(db) -> None:
    db.query("MATCH (c:Customer) RETURN count(*) AS n").collect()


def _fresh_engine(db):
    """A new engine over the same graph: empty plan cache, zeroed
    cache counters, so warm-up leaves no trace in the measurement."""
    from graphlite_spark import GraphLiteSpark

    fresh = GraphLiteSpark(db.spark)
    fresh.register_graph(db.graph())
    return fresh


# -- interactive_reads ------------------------------------------------------------

def interactive_reads(h: Harness) -> dict:
    data = datagen.write_tables(os.path.join(h.work, "data"), h.seed, READ_SCALE)
    n_keys = datagen.sizes(READ_SCALE)["customer"]

    def warm(db):
        for i, shape in enumerate(sorted(W.READ_SHAPES)):
            db.query(W.READ_SHAPES[shape][0], {"k": i}).collect()

    setup_db = h.run_setup(lambda s: _tpch_db(s, data), _tpch_ready, warm)
    for rop in W.read_stream(h.seed, n_keys, SETTLE_READS, part=2):
        setup_db.query(rop.gql, rop.params).collect()
    db = _fresh_engine(setup_db)
    stream = W.read_stream(h.seed, n_keys, 4_000)
    done = []
    asked = set()
    clock = Clock(h.seconds)
    for rop in stream:
        if not clock.more():
            break

        def body(traced, op, rop=rop):
            df = db.query(rop.gql, rop.params)
            return df, h.collect(df, traced)

        # a repeated pair is a plan-cache hit: its own class for tracing
        klass = (rop.shape, rop.key in asked)
        asked.add(rop.key)
        done.append((rop,) + h.run_op(rop.shape, body, klass=klass))

    duck = oracles.DuckOracle(data)
    want: dict = {}
    for rop, op, res in done:
        if res is None:
            continue
        if rop.key not in want:
            want[rop.key] = duck.rows(W.READ_SHAPES[rop.shape][1], rop.params)
        df, rows = res
        h.check(op, f"{rop.shape} {rop.params}",
                oracles.rows_match(df.columns, rows, *want[rop.key]))
    duck.close()
    return h.result(db)


# -- write_mix ------------------------------------------------------------------------

def write_mix(h: Harness) -> dict:
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    persons, edges = W.base_social(h.seed, SOCIAL_PERSONS, SOCIAL_EDGES)
    base_model = oracles.WriteModel(persons, edges)

    def build(spark):
        import pandas as pd

        nodes = spark.createDataFrame(pd.DataFrame(
            persons, columns=["pid", "name", "age"]).assign(_id=lambda d: d.pid))
        knows = spark.createDataFrame(pd.DataFrame(
            edges, columns=["_src", "_dst", "since"]))
        return nodes, knows

    def fresh_graph(base):
        g = PropertyGraph(h.spark, name="social")
        g.add_nodes("Person", base[0], "_id")
        g.add_edges("KNOWS", base[1], "_src", "_dst", "Person", "Person")
        return g

    def ready(base):
        db = GraphLiteSpark(h.spark)
        db.register_graph(fresh_graph(base))
        db.query("MATCH (p:Person) RETURN count(*) AS n").collect()

    def untimed_round(base, round_no):
        """One round on a graph of its own, timed by no operation."""
        db = GraphLiteSpark(h.spark)
        db.register_graph(fresh_graph(base))
        for unit in W.write_round(h.seed, round_no, base_model.copy()):
            for s in unit.statements:
                db.execute(s)
            _read(db, unit.check_gql).collect()

    base = h.run_setup(build, ready, lambda b: untimed_round(b, 10_000))
    for i in range(SETTLE_ROUNDS):
        untimed_round(base, 10_001 + i)
    # one graph per run: its write history grows round after round
    db = GraphLiteSpark(h.spark)
    db.register_graph(fresh_graph(base))
    model = base_model.copy()

    def play(unit):
        def body(traced, op):
            out = []
            if unit.statements:
                with h.phase(op, "write"):
                    out = [db.execute(s) for s in unit.statements]
            with h.phase(op, "read"):
                rows = h.collect(_read(db, unit.check_gql), traced)
            return out, rows

        op, res = h.run_op(unit.kind, body)
        if res is not None:
            out, rows = res
            got = [o.get("rows_affected") if isinstance(o, dict) else None
                   for o in out]
            exp = [a if a is not None else g for a, g in zip(unit.affected, got)]
            h.check(op, f"rows_affected of {unit.statements}",
                    None if got == exp else f"{got} != {exp}")
            h.check(op, unit.check_gql,
                    oracles.values_match(rows, unit.check_rows))

    # the clock counts units, so a run may stop inside a round; every kind
    # weighs the same in op_latency_rel, as in a round
    h.equal_class_weights = True
    units = (u for r in itertools.count()
             for u in W.write_round(h.seed, r, model))
    # a traced run needs two rounds to see each kind traced and untraced
    clock = Clock(h.seconds, min_units=2 * len(W.ROUND) if h.trace else 1)
    while clock.more():
        play(next(units))
    counts = {
        "Person": db.query("MATCH (p:Person) RETURN count(*) AS n").collect()[0][0],
        "KNOWS": db.query("MATCH (:Person)-[k:KNOWS]->(:Person) "
                          "RETURN count(*) AS n").collect()[0][0],
    }
    if counts != model.counts():
        h.check(h.ops[-1], "final counts", f"{counts} != {model.counts()}")
    if h.trace:
        g = db.graph()
        h.table_partitions = (
            g.nodes_for_label("Person").rdd.getNumPartitions()
            + g.edge_type("KNOWS").df.rdd.getNumPartitions())
    return h.result(db)


def _read(db, gql: str):
    """A read-your-write query, or a graph procedure ``CALL``."""
    return db.execute(gql) if gql.startswith("CALL ") else db.query(gql)


WORKLOADS = {
    "interactive_reads": interactive_reads,
    "write_mix": write_mix,
}
