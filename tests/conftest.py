"""Shared fixtures: a SparkSession plus the reference's two test graphs.

Mirrors GraphLite's TestFixture datasets
(graphlite/tests/testutils/test_fixture.rs:93-190):
- simple: 20 TestNode{id,name,value} + 9 CONNECTS_TO{weight} chain edges
- fraud:  50 Account, 20 Merchant, 100 Transaction edges, 50 Purchase edges
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from graphlite_spark.session import get_spark

    s = get_spark(app_name="graphlite-spark-tests", master="local[4]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


# ---------------------------------------------------------------------------
# Two-tier suite (round-12; VERDICT r11 ask #1b): the full suite takes
# ~52 min solo, which outlives the round driver's verify window — round
# 11 shipped with `tests_ok: false` from a TIMEOUT despite 550/550
# passing, so the test gate was unverifiable. The DEFAULT run skips the
# multi-minute end-to-end tests, marked ``@pytest.mark.full_tier``
# (each >= ~30 s in the round-open profiling run, together ~45% of
# suite wall time): adversarial-structure / brute-force parity stress
# (multi-minute round loops on purpose), end-to-end index/streaming
# replay loops (crash injection replays one epoch per cut point; the
# fast fencing/replay tests cover the same invariants one epoch deep),
# CALL-surface sweeps (each procedure's operator is covered by its own
# fast test) and the exhaustive DuckDB differential sweeps. Their
# SEMANTICS are independently pinned by the 294-query oracle gate or
# by the fast tests. Set SPARK_GRAFT_FULL_TESTS=1 to run everything
# (the round-close verification does, and records the result in
# OPTIMIZATION notes).
# ---------------------------------------------------------------------------


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_tier: multi-minute test, skipped unless SPARK_GRAFT_FULL_TESTS=1")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="full-tier test (multi-minute); set SPARK_GRAFT_FULL_TESTS=1")
    for item in items:
        if item.get_closest_marker("full_tier"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def simple_db(spark):
    """20-node chain graph (test_fixture.rs:93-115)."""
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame(
        [(i, f"node{i}", i * 10) for i in range(20)],
        "id: long, name: string, value: long",
    )
    edges = spark.createDataFrame(
        [(i, i + 1, float(i)) for i in range(9)],
        "src: long, dst: long, weight: double",
    )
    g = PropertyGraph(spark, name="simple")
    g.add_nodes("TestNode", nodes, "id")
    g.add_edges("CONNECTS_TO", edges, "src", "dst", "TestNode", "TestNode")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    return db


@pytest.fixture(scope="session")
def fraud_db(spark):
    """Fraud graph (test_fixture.rs:135-190): 50 accounts, 20 merchants,
    100 account->account Transaction edges, 50 account->merchant Purchase
    edges — deterministic synthesis (seeded by index arithmetic)."""
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    accounts = spark.createDataFrame(
        [
            (
                i,
                f"ACC{i:04d}",
                f"Account Holder {i}",
                1000.0 + i * 137.5,
                "active" if i % 5 else "frozen",
                "checking" if i % 2 else "savings",
                (i * 7) % 100 / 100.0,
            )
            for i in range(50)
        ],
        "account_id: long, account_number: string, name: string, balance: double,"
        " account_status: string, account_type: string, risk_score: double",
    )
    merchants = spark.createDataFrame(
        [(100 + i, f"Merchant {i}", ["retail", "food", "travel", "online"][i % 4])
         for i in range(20)],
        "merchant_id: long, name: string, category: string",
    )
    transactions = spark.createDataFrame(
        [
            (i % 50, (i * 13) % 50, 50.0 + (i * 37) % 1000, f"2024-01-{1 + i % 28:02d}")
            for i in range(100)
            if i % 50 != (i * 13) % 50
        ],
        "src: long, dst: long, amount: double, ts: string",
    )
    purchases = spark.createDataFrame(
        [
            (i, 100 + (i * 3) % 20, 10.0 + (i * 11) % 500, f"2024-02-{1 + i % 28:02d}")
            for i in range(50)
        ],
        "src: long, dst: long, amount: double, ts: string",
    )
    g = PropertyGraph(spark, name="fraud")
    g.add_nodes("Account", accounts, "account_id")
    g.add_nodes("Merchant", merchants, "merchant_id")
    g.add_edges("Transaction", transactions, "src", "dst", "Account", "Account")
    g.add_edges("Purchase", purchases, "src", "dst", "Account", "Merchant")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    return db
