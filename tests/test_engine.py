"""Behavior tests through the public API on the reference's fixture graphs.

Ported from the reference's integration-test strategy
(graphlite/tests/dql_tests.rs, aggregation_tests.rs,
set_operations_tests.rs, match_with_tests.rs — driven via public API
only, asserting on result rows)."""

from __future__ import annotations


def rows(df):
    return [tuple(r) for r in df.collect()]


def one(df):
    r = rows(df)
    assert len(r) == 1
    return r[0]


# --- MATCH / WHERE / RETURN (dql_tests.rs:14-145) --------------------------


def test_match_all_nodes(simple_db):
    assert one(simple_db.query("MATCH (n:TestNode) RETURN count(*) AS n")) == (20,)


def test_match_where_comparison(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.value >= 150 RETURN n.name AS name ORDER BY name"
    ))
    assert got == [("node15",), ("node16",), ("node17",), ("node18",), ("node19",)]


def test_match_inline_props(simple_db):
    assert one(simple_db.query(
        "MATCH (n:TestNode {name: 'node7'}) RETURN n.value AS v")) == (70,)


def test_expand_with_edge_props(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode)-[e:CONNECTS_TO]->(b:TestNode) "
        "WHERE e.weight > 6 RETURN a.id AS a, b.id AS b, e.weight AS w ORDER BY a"
    ))
    assert got == [(7, 8, 7.0), (8, 9, 8.0)]


def test_expand_incoming(simple_db):
    got = rows(simple_db.query(
        "MATCH (b:TestNode)<-[:CONNECTS_TO]-(a:TestNode) "
        "WHERE b.id = 5 RETURN a.id AS a"
    ))
    assert got == [(4,)]


def test_expand_undirected(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode {id: 5})-[:CONNECTS_TO]-(m) RETURN m.id AS m ORDER BY m"
    ))
    assert got == [(4,), (6,)]


def test_missing_property_is_null(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode {id: 1}) RETURN n.nope IS NULL AS missing"))
    assert got == (True,)


def test_quantified_comparison_reads_its_properties(simple_db):
    """A property read only inside `> ALL([...])` is part of the query's
    footprint: the scan keeps it, and the target's node-table join is
    not elided."""
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.value > ALL([100, 150]) "
        "RETURN n.name AS name ORDER BY name"))
    assert got == [("node16",), ("node17",), ("node18",), ("node19",)]
    got = rows(simple_db.query(
        "MATCH (a:TestNode)-[:CONNECTS_TO]->(b:TestNode) "
        "WHERE b.value > ALL([50]) RETURN a.name AS name ORDER BY name"))
    assert got == [("node5",), ("node6",), ("node7",), ("node8",)]


def test_order_by_desc_limit_offset(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) RETURN n.id AS id ORDER BY id DESC LIMIT 3 OFFSET 2"))
    assert got == [(17,), (16,), (15,)]


# --- aggregates (aggregation_tests.rs) --------------------------------------


def test_aggregates_basic(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode) RETURN count(*) AS c, SUM(n.value) AS s, "
        "AVG(n.value) AS a, MIN(n.value) AS mn, MAX(n.value) AS mx"))
    assert got == (20, 1900, 95.0, 0, 190)


def test_group_by_having(fraud_db):
    got = rows(fraud_db.query(
        "MATCH (a:Account) RETURN a.account_type AS t, count(*) AS n "
        "HAVING count(*) >= 25 ORDER BY t"))
    assert got == [("checking", 25), ("savings", 25)]


def test_count_distinct(fraud_db):
    got = one(fraud_db.query(
        "MATCH (a:Account)-[:Purchase]->(m:Merchant) "
        "RETURN count(DISTINCT m.category) AS n"))
    assert got == (4,)


def test_collect(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 3 "
        "RETURN LIST_LENGTH(COLLECT(n.name)) AS n"))
    assert got == (3,)


# --- pipelines / UNWIND / set ops -------------------------------------------


def test_with_aggregation_pipeline(fraud_db):
    got = rows(fraud_db.query(
        "MATCH (a:Account)-[t:Transaction]->(b:Account) "
        "WITH a.account_id AS src, count(*) AS n WHERE n >= 2 "
        "RETURN src AS src, n AS n ORDER BY n DESC, src LIMIT 5"))
    assert all(n >= 2 for _, n in got)
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))


def test_unwind(simple_db):
    got = rows(simple_db.query("UNWIND [3, 1, 2] AS x RETURN x AS x ORDER BY x"))
    assert got == [(1,), (2,), (3,)]


def test_union_and_distinct(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 3 RETURN n.id AS id "
        "UNION MATCH (n:TestNode) WHERE n.id < 2 RETURN n.id AS id"))
    assert sorted(got) == [(0,), (1,), (2,)]


def test_except_all(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 5 RETURN n.id AS id "
        "EXCEPT MATCH (n:TestNode) WHERE n.id < 2 RETURN n.id AS id"))
    assert sorted(got) == [(2,), (3,), (4,)]


# --- subqueries / optional ---------------------------------------------------


def test_exists_semi_join(simple_db):
    # nodes with an outgoing edge: ids 0..8
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE EXISTS {(n)-[:CONNECTS_TO]->(m:TestNode)} "
        "RETURN count(*) AS n"))
    assert got == (9,)


def test_not_exists_anti_join(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE NOT EXISTS {(n)-[:CONNECTS_TO]->(m:TestNode)} "
        "RETURN count(*) AS n"))
    assert got == (11,)


def test_correlated_exists(simple_db):
    # EXISTS body references the OUTER edge's property (decorrelated into
    # a semi-join condition): edges with some strictly-heavier edge.
    # Weights are 0..8 -> all but the heaviest qualify.
    got = one(simple_db.query(
        "MATCH (a:TestNode)-[e:CONNECTS_TO]->(b:TestNode) "
        "WHERE EXISTS {(x:TestNode)-[e2:CONNECTS_TO]->(y:TestNode) "
        "WHERE e2.weight > e.weight} "
        "RETURN count(*) AS n"))
    assert got == (8,)


def test_correlated_not_exists(simple_db):
    # NOT EXISTS with a mixed body: one sub-local conjunct (pre-filter)
    # and one correlated conjunct (anti-join condition). Nodes with no
    # lighter-weighted outgoing edge than their id: edge i->i+1 has
    # weight i, so "exists e2.weight < n.id from n" only for... none
    # (each node has exactly one outgoing edge, weight == id). With the
    # sub-local filter weight >= 5, nodes 0..4 have no qualifying edge.
    got = one(simple_db.query(
        "MATCH (n:TestNode) "
        "WHERE NOT EXISTS {(m:TestNode)-[e2:CONNECTS_TO]->(y:TestNode) "
        "WHERE e2.weight >= 5 AND m.id = n.id} "
        "RETURN count(*) AS n"))
    # nodes 5..8 have an outgoing edge with weight>=5 -> excluded; 16 remain
    assert got == (16,)


def test_optional_match_null_padding(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) OPTIONAL MATCH (n)-[:CONNECTS_TO]->(m:TestNode) "
        "RETURN n.id AS id, m.id AS next ORDER BY id"))
    assert len(got) == 20
    assert got[0] == (0, 1) and got[19] == (19, None)


def test_count_entity_skips_optional_miss(simple_db):
    # count(m) over an OPTIONAL MATCH miss must be 0, not 1 (the struct
    # encoding of an entity is non-null even when unmatched — regression
    # caught by the sf0.1 oracle run on q13_customer_distribution)
    got = rows(simple_db.query(
        "MATCH (n:TestNode) OPTIONAL MATCH (n)-[:CONNECTS_TO]->(m:TestNode) "
        "WITH n.id AS id, count(m) AS c "
        "RETURN c AS c, count(*) AS cnt ORDER BY c"))
    assert got == [(0, 11), (1, 9)]


# --- variable-length paths ----------------------------------------------------


def test_varlen_exact(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode {id: 0})-[:CONNECTS_TO]{3}->(b:TestNode) "
        "RETURN b.id AS b"))
    assert got == [(3,)]


def test_varlen_range(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode {id: 2})-[:CONNECTS_TO]{1,3}->(b:TestNode) "
        "RETURN b.id AS b ORDER BY b"))
    assert got == [(3,), (4,), (5,)]


def test_path_variable_array_and_join(simple_db):
    # p projects as the raw array-of-ids (engine-native form) …
    got = rows(simple_db.query(
        "MATCH p = (a:TestNode {id: 0})-[:CONNECTS_TO]->(b:TestNode) "
        "RETURN p AS p, SIZE(p) AS n"))
    assert len(got) == 1
    ids, n = got[0]
    assert n == 2 and len(list(ids)) == 2
    # … and LIST_JOIN(p, sep) yields the driver-canonicalizable scalar form
    joined = rows(simple_db.query(
        "MATCH p = (a:TestNode {id: 0})-[:CONNECTS_TO]->(b:TestNode) "
        "RETURN LIST_JOIN(p, ',') AS p"))
    assert joined[0][0] == ",".join(str(i) for i in ids)


def test_varlen_zero_allows_self(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode {id: 2})-[:CONNECTS_TO]{0,1}->(b:TestNode) "
        "RETURN b.id AS b ORDER BY b"))
    assert got == [(2,), (3,)]


# --- expressions ---------------------------------------------------------------


def test_case_and_cast(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 4 "
        "RETURN n.id AS id, CASE WHEN n.value >= 20 THEN 'hi' ELSE 'lo' END AS b, "
        "CAST(n.id AS STRING) AS s ORDER BY id"))
    assert got == [(0, "lo", "0"), (1, "lo", "1"), (2, "hi", "2"), (3, "hi", "3")]


def test_string_predicates(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.name STARTS WITH 'node1' "
        "AND n.name ENDS WITH '9' AND n.name CONTAINS 'de' RETURN count(*) AS n"))
    assert got == (1,)  # node19


def test_regex_and_like(simple_db):
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.name =~ 'node1[0-2]' RETURN count(*) AS n"))
    assert got == (3,)
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.name LIKE 'node1_' RETURN count(*) AS n"))
    assert got == (10,)


def test_arith_and_mod(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id % 7 = 0 AND n.id > 0 "
        "RETURN n.id AS id, n.value / 2 AS half ORDER BY id"))
    assert got == [(7, 35.0), (14, 70.0)]


def test_entity_identity_comparison(fraud_db):
    # self-transactions were excluded at fixture build: a <> b always holds
    got = one(fraud_db.query(
        "MATCH (a:Account)-[:Transaction]->(b:Account) "
        "WHERE a = b RETURN count(*) AS n"))
    assert got == (0,)


def test_id_labels_type_functions(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode {id: 0})-[e:CONNECTS_TO]->(b) "
        "RETURN ID(a) AS ida, TYPE(e) AS t, LABELS(a)[1] AS lbl"))
    assert got == [(0, "CONNECTS_TO", "TestNode")]


def test_inferred_labels_and_current_time(simple_db):
    got = rows(simple_db.query(
        "MATCH (a:TestNode {id: 0}) "
        "RETURN INFERRED_LABELS(a)[1] AS lbl, CURRENT_TIME() AS t"))
    assert got[0][0] == "TestNode"
    import re
    assert re.fullmatch(r"\d{2}:\d{2}:\d{2}", got[0][1])


def test_three_valued_logic(simple_db):
    # NULL comparisons propagate, IS NULL catches them
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.nope > 5 RETURN count(*) AS n"))
    assert got == (0,)
    got = one(simple_db.query(
        "MATCH (n:TestNode) WHERE n.nope IS NULL RETURN count(*) AS n"))
    assert got == (20,)


def test_is_predicate_null_subject(simple_db):
    # executor.rs:8781-8868: a null subject (OPTIONAL MATCH miss) makes the
    # base result false; the negated form therefore holds. The chain
    # fixture has 9 CONNECTS_TO edges over 20 nodes -> 11 miss rows.
    got = one(simple_db.query(
        "MATCH (n:TestNode) OPTIONAL MATCH (n)-[:CONNECTS_TO]->(m:TestNode) "
        "FILTER m IS :TestNode RETURN count(*) AS c"))
    assert got == (9,)
    got = one(simple_db.query(
        "MATCH (n:TestNode) OPTIONAL MATCH (n)-[:CONNECTS_TO]->(m:TestNode) "
        "FILTER m IS NOT :TestNode RETURN count(*) AS c"))
    assert got == (11,)


def test_bitemporal_temporal_value(simple_db):
    # value.rs:19-62 TemporalValue mapped to a struct column: accessors,
    # half-open validity interval, open-ended valid_to, is_current
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id = 3 "
        "LET tv = TEMPORAL(n.value, DATETIME('2024-01-01 00:00:00')) "
        "RETURN VALUE_OF(tv) AS v, VALID_TO(tv) IS NULL AS open_ended, "
        "IS_VALID_AT(tv, DATETIME('2025-01-01 00:00:00')) AS valid_later, "
        "IS_VALID_AT(tv, DATETIME('2023-01-01 00:00:00')) AS valid_before, "
        "IS_CURRENT(tv) AS cur"))
    assert len(got) == 1
    v, open_ended, valid_later, valid_before, cur = got[0]
    assert int(v) == 30 and open_ended and valid_later and not valid_before and cur
    # bounded interval: valid_to is exclusive; transaction time round-trips
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.id = 3 "
        "LET tv = TEMPORAL(n.value, DATETIME('2024-01-01 00:00:00'),"
        " DATETIME('2024-02-01 00:00:00'), DATETIME('2024-03-01 00:00:00')) "
        "RETURN IS_VALID_AT(tv, DATETIME('2024-02-01 00:00:00')) AS at_end, "
        "IS_VALID_AT(tv, DATETIME('2024-01-15 00:00:00')) AS inside, "
        "TRANSACTION_TIME(tv) = DATETIME('2024-03-01 00:00:00') AS tx_ok"))
    assert got == [(False, True, True)]


def test_multiple_patterns_shared_var(fraud_db):
    got = one(fraud_db.query(
        "MATCH (a:Account)-[:Transaction]->(b:Account), "
        "(a)-[:Purchase]->(m:Merchant) "
        "WHERE m.category = 'travel' RETURN count(*) AS n"))
    exp = one(fraud_db.query(
        "MATCH (a:Account)-[:Transaction]->(b:Account) "
        "MATCH (a)-[:Purchase]->(m:Merchant) "
        "WHERE m.category = 'travel' RETURN count(*) AS n"))
    assert got == exp and got[0] > 0


# --- path modes on a cyclic graph (ast.rs:276-287 WALK/TRAIL/SIMPLE/ACYCLIC) --


import pytest


@pytest.fixture(scope="module")
def cycle_db(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame([(i,) for i in range(3)], "id: long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src: long, dst: long"
    )
    g = PropertyGraph(spark, name="cycle")
    g.add_nodes("V", nodes, "id")
    g.add_edges("E", edges, "src", "dst", "V", "V")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    return db


def test_walk_mode_revisits(cycle_db):
    # 0→1→2→0→1: 4 hops revisit nodes; WALK allows it
    got = cycle_db.query(
        "MATCH (a:V {id: 0})-[:E]{4}->(b:V) RETURN b.id AS b"
    ).collect()
    assert [r.b for r in got] == [1]


def test_acyclic_mode_stops_at_cycle(cycle_db):
    got = cycle_db.query(
        "MATCH ACYCLIC (a:V {id: 0})-[:E]{1,6}->(b:V) RETURN b.id AS b ORDER BY b"
    ).collect()
    # 0→1, 0→1→2 only; 0→1→2→0 revisits the start
    assert [r.b for r in got] == [1, 2]


def test_trail_mode_edge_distinct(cycle_db):
    # TRAIL bans repeated EDGES only: 0→1→2→0 closes the cycle (vertex 0
    # repeats, no edge repeats) so it IS a trail — unlike ACYCLIC above.
    # Length 4+ would reuse edge 0→1, so exactly three trails exist.
    got = cycle_db.query(
        "MATCH TRAIL (a:V {id: 0})-[:E]{1,6}->(b:V) RETURN b.id AS b ORDER BY b"
    ).collect()
    assert [r.b for r in got] == [0, 1, 2]


def test_rebound_var_enforces_identity(cycle_db):
    """A repeated node variable means the SAME node (id-equality filter),
    not a silent rebind. The 3-cycle closes at every rotation."""
    got = cycle_db.query(
        "MATCH (a:V)-[:E]->(b:V)-[:E]->(c:V)-[:E]->(a) "
        "RETURN a.id AS a ORDER BY a"
    ).collect()
    assert [r.a for r in got] == [0, 1, 2]
    # 2-cycles don't exist in a 3-cycle graph
    assert cycle_db.query(
        "MATCH (a:V)-[:E]->(b:V)-[:E]->(a) RETURN count(*) AS n"
    ).first().n == 0
    # neither do self-loops (elided-anchor path)
    assert cycle_db.query(
        "MATCH (a:V)-[:E]->(a) RETURN count(*) AS n"
    ).first().n == 0


def test_rebound_var_across_patterns(cycle_db):
    # second pattern closes the cycle through already-bound a and b
    got = cycle_db.query(
        "MATCH (a:V)-[:E]->(b:V), (b)-[:E]->(c:V)-[:E]->(a) "
        "RETURN a.id AS a, c.id AS c ORDER BY a"
    ).collect()
    assert [(r.a, r.c) for r in got] == [(0, 2), (1, 0), (2, 1)]


def test_rebound_var_varlen_cycle(cycle_db):
    # exactly length-3 walks return to the start in a 3-cycle
    got = cycle_db.query(
        "MATCH (a:V)-[:E]->(b:V), (b)-[:E]{2,2}->(a) RETURN a.id AS a ORDER BY a"
    ).collect()
    assert [r.a for r in got] == [0, 1, 2]
    assert cycle_db.query(
        "MATCH (a:V)-[:E]->(b:V), (b)-[:E]{1,1}->(a) RETURN count(*) AS n"
    ).first().n == 0


def test_in_subquery_direct(simple_db):
    # chain edges i->i+1 (i in 0..8); a.value >= 50 → a.id >= 5 → targets 6..9
    got = simple_db.query(
        "MATCH (n:TestNode) WHERE n.id IN ("
        " MATCH (a:TestNode)-[:CONNECTS_TO]->(b:TestNode)"
        " WHERE a.value >= 50 RETURN b.id AS t"
        ") RETURN n.id AS i ORDER BY i"
    ).collect()
    assert [r.i for r in got] == [6, 7, 8, 9]


def test_not_in_subquery_anti(simple_db):
    # edge targets are 1..9; ids below 5 outside that set: just 0
    got = simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 5 AND n.id NOT IN ("
        " MATCH (a:TestNode)-[:CONNECTS_TO]->(b:TestNode) RETURN b.id AS t"
        ") RETURN n.id AS i ORDER BY i"
    ).collect()
    assert [r.i for r in got] == [0]


def test_quantified_subquery_all(simple_db):
    # value > ALL(targets' values): targets 1..9 have values 10..90
    got = simple_db.query(
        "MATCH (n:TestNode) WHERE n.value > ALL ("
        " MATCH (a:TestNode)-[:CONNECTS_TO]->(b:TestNode) RETURN b.value AS v"
        ") RETURN n.id AS i ORDER BY i"
    ).collect()
    assert [r.i for r in got] == [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]


def test_quantified_subquery_eq_any_is_semi_join(simple_db):
    got = simple_db.query(
        "MATCH (n:TestNode) WHERE n.id = ANY ("
        " MATCH (a:TestNode)-[:CONNECTS_TO]->(b:TestNode)"
        " WHERE a.id < 3 RETURN b.id AS t"
        ") RETURN n.id AS i ORDER BY i"
    ).collect()
    assert [r.i for r in got] == [1, 2, 3]


def test_quantified_subquery_in_return_position(simple_db):
    got = simple_db.query(
        "MATCH (n:TestNode) WHERE n.id < 3"
        " RETURN n.id AS i, n.value <= ANY ("
        " MATCH (m:TestNode) WHERE m.id < 2 RETURN m.value AS v"
        ") AS ok ORDER BY i"
    ).collect()
    # max subquery value = 10; values 0,10,20 → True, True, False
    assert [(r.i, r.ok) for r in got] == [(0, True), (1, True), (2, False)]


def test_for_statement_as_unwind(simple_db):
    got = simple_db.query(
        "FOR x IN [5, 6, 7] RETURN x * 10 AS y ORDER BY y"
    ).collect()
    assert [r.y for r in got] == [50, 60, 70]


def test_scalar_subquery(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) "
        "WHERE n.value > VALUE { MATCH (m:TestNode) RETURN AVG(m.value) AS a } "
        "RETURN count(*) AS n"))
    assert got == [(10,)]  # values 100..190 above the mean 95


def test_function_registry_smoke(simple_db):
    """Every registered scalar/aggregate is exercised through the engine
    (execution, not just registration)."""
    df = simple_db.query("""
        MATCH (n:TestNode) WHERE n.id = 5
        RETURN UPPER(n.name) AS f1, LOWER(n.name) AS f2, TRIM('  x ') AS f3,
               LTRIM('  x') AS f4, RTRIM('x  ') AS f5,
               SUBSTRING(n.name, 1, 4) AS f6, REPLACE(n.name, 'node', 'N') AS f7,
               REVERSE(n.name) AS f8, LENGTH(n.name) AS f9,
               CHAR_LENGTH(n.name) AS f10, CONCAT(n.name, '!') AS f11,
               SPLIT(n.name, 'o')[1] AS f12, LEFT(n.name, 3) AS f13,
               RIGHT(n.name, 2) AS f14,
               ROUND(1.23456, 2) AS g1, ABS(-3) AS g2, CEIL(1.2) AS g3,
               CEILING(1.2) AS g4, FLOOR(1.8) AS g5, SQRT(16.0) AS g6,
               POWER(2, 10) AS g7, POW(3, 2) AS g8, LOG(2.718281828) AS g9,
               LOG10(100.0) AS g10, LOG2(8.0) AS g11, EXP(0.0) AS g12,
               SIN(0.0) AS g13, COS(0.0) AS g14, TAN(0.0) AS g15,
               ASIN(0.0) AS g16, ACOS(1.0) AS g17, ATAN(0.0) AS g18,
               PI() AS g19, SIGN(-5) AS g20, MOD(10, 3) AS g21,
               DATETIME('2024-03-05 10:30:00') AS t1,
               DATE('2024-03-05') AS t2,
               YEAR(DATETIME('2024-03-05')) AS t3,
               MONTH(DATETIME('2024-03-05')) AS t4,
               DAY(DATETIME('2024-03-05')) AS t5,
               EXTRACT(HOUR FROM DATETIME('2024-03-05 10:30:00')) AS t6,
               DATE_ADD(DATE('2024-03-05'), 10) AS t7,
               DATE_SUB(DATE('2024-03-05'), 10) AS t8,
               DATE_TRUNC('month', DATETIME('2024-03-05')) AS t9,
               AT_TIME_ZONE(DATETIME('2024-03-05 10:00:00'), 'UTC') AS t10,
               COALESCE(NULL, 7) AS n1, NULLIF(3, 3) IS NULL AS n2,
               IFNULL(NULL, 'd') AS n3,
               LIST_CONTAINS([1,2,3], 2) AS l1, LIST_SLICE([1,2,3,4], 2, 2)[1] AS l2,
               LIST_APPEND([1,2], 3)[3] AS l3, LIST_PREPEND([2,3], 1)[1] AS l4,
               LIST_LENGTH([1,2,3]) AS l5, LIST_REVERSE([1,2,3])[1] AS l6,
               LIST_SORT([3,1,2])[1] AS l7, RANGE(1, 3)[2] AS l8,
               SIZE([1,2]) AS l9, SIZE('abc') AS l10,
               ALL_DIFFERENT(1, 2, 3) AS p1, SAME(4, 4) AS p2,
               PROPERTY_EXISTS(n.name) AS p3,
               TIME_WINDOW(DATETIME('2024-01-01'), DATETIME('2024-02-01')).start AS w1,
               TEXT_SCORE('a b a', 'a') AS x1
    """)
    row = df.collect()[0]
    assert row.f1 == "NODE5" and row.g6 == 4.0 and row.g21 == 1
    assert row.t3 == 2024 and row.n1 == 7 and row.n2 is True
    assert row.l5 == 3 and row.l7 == 1 and row.l8 == 2
    assert row.p1 is True and row.p2 is True and row.p3 is True
    assert abs(row.g9 - 1.0) < 1e-6 and row.x1 > 0


def test_aggregate_registry_smoke(simple_db):
    df = simple_db.query("""
        MATCH (n:TestNode)
        RETURN STDDEV(n.value) AS sd, VARIANCE(n.value) AS vr,
               PERCENTILE(n.value, 0.5) AS med,
               COLLECT(DISTINCT n.id % 2)[1] AS cd
    """)
    row = df.collect()[0]
    assert row.sd > 0 and row.vr > 0 and 80 <= row.med <= 110


def test_varlen_edge_props_constrain_steps(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id: long")
    edges = spark.createDataFrame(
        [(0, 1, "ok"), (1, 2, "ok"), (2, 3, "bad"), (3, 4, "ok")],
        "src: long, dst: long, kind: string",
    )
    g = PropertyGraph(spark, name="vp")
    g.add_nodes("V", nodes, "id")
    g.add_edges("E", edges, "src", "dst", "V", "V")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    got = rows(db.query(
        "MATCH (a:V {id: 0})-[:E {kind: 'ok'}]{1,4}->(b:V) RETURN b.id AS b ORDER BY b"
    ))
    assert got == [(1,), (2,)]  # chain breaks at the 'bad' edge
    import pytest as _p

    with _p.raises(Exception, match="edge variable"):
        db.query("MATCH (a:V)-[e:E]{1,2}->(b:V) RETURN b.id AS b")


# --- grouping sets (beyond-reference) ---------------------------------------


def test_group_by_rollup(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) RETURN MOD(n.id, 2) AS par, count(*) AS c "
        "GROUP BY ROLLUP (MOD(n.id, 2)) ORDER BY par NULLS FIRST"))
    assert got == [(None, 20), (0, 10), (1, 10)]


def test_group_by_cube(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) "
        "RETURN MOD(n.id, 2) AS par, n.id < 10 AS low, count(*) AS c "
        "GROUP BY CUBE (MOD(n.id, 2), n.id < 10) "
        "ORDER BY par NULLS FIRST, low NULLS FIRST"))
    # 4 base cells + 2 par subtotals + 2 low subtotals + grand total
    assert len(got) == 9
    assert (None, None, 20) in got and (0, True, 5) in got


# --- extended IS predicates (ast.rs:1599-1611; executor.rs:8781-8898) -------


def test_is_source_destination_of(fraud_db):
    # every matched (a)-[t]->(b) has a as source and b as destination
    # fixture has 96 transactions (self-loops excluded at synthesis)
    got = rows(fraud_db.query(
        "MATCH (a:Account)-[t:Transaction]->(b:Account) "
        "WHERE a IS SOURCE OF t AND b IS DESTINATION OF t "
        "RETURN count(*) AS n"))
    assert got == [(96,)]
    # a IS DESTINATION OF t while bound as source <=> self-loop edges
    got = rows(fraud_db.query(
        "MATCH (a:Account)-[t:Transaction]->(b:Account) "
        "WHERE a IS DESTINATION OF t RETURN count(*) AS n"))
    assert got == [(0,)]


def test_is_directed(fraud_db):
    got = rows(fraud_db.query(
        "MATCH (a:Account)-[t:Transaction]->(b:Account) "
        "WHERE t IS DIRECTED AND a IS NOT DIRECTED RETURN count(*) AS n"))
    assert got == [(96,)]


def test_is_label_predicate(fraud_db):
    got = rows(fraud_db.query(
        "MATCH (x:Account|Merchant) WHERE x IS :Merchant "
        "RETURN count(*) AS n"))
    assert got == [(20,)]
    got = rows(fraud_db.query(
        "MATCH (x:Account|Merchant) WHERE x IS :% "
        "RETURN count(*) AS n"))
    assert got == [(70,)]
    got = rows(fraud_db.query(
        "MATCH (x:Account) WHERE x IS NOT :Merchant|Account "
        "RETURN count(*) AS n"))
    assert got == [(0,)]


def test_is_typed_and_normalized(simple_db):
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.value IS TYPED INTEGER "
        "AND n.name IS TYPED STRING AND NOT n.value IS TYPED BOOLEAN "
        "RETURN count(*) AS n"))
    assert got == [(20,)]
    # all fixture names are NFC; numbers are never normalized
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WHERE n.name IS NORMALIZED "
        "AND n.value IS NOT NORMALIZED RETURN count(*) AS n"))
    assert got == [(20,)]


def test_is_normalized_non_nfc(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph

    # NFD "é" (e + combining acute) is not NFC-normalized; NFC "é" is
    nodes = spark.createDataFrame(
        [(1, "café"), (2, "café")], "id: long, name: string")
    g = PropertyGraph(spark, name="nfc")
    g.add_nodes("Doc", nodes, "id")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    got = rows(db.query(
        "MATCH (d:Doc) WHERE d.name IS NORMALIZED RETURN d.id AS id"))
    assert got == [(1,)]


def test_unaliased_projection_dotted_names(simple_db):
    # json_format_tests.rs: result.variables are the formatted expression
    # texts — RETURN p.name yields column "p.name"
    df = simple_db.query(
        "MATCH (n:TestNode) RETURN n.name, n.value ORDER BY n.value DESC LIMIT 2")
    assert df.columns == ["n.name", "n.value"]
    assert [tuple(r) for r in df.collect()] == [("node19", 190), ("node18", 180)]
    # dotted outputs stay referenceable through WITH pipelines
    got = rows(simple_db.query(
        "MATCH (n:TestNode) WITH n.value WHERE n.value >= 150 "
        "RETURN count(*) AS c"))
    assert got == [(5,)]
