"""Differential expression testing: random typed expression trees run
through the GQL engine (RETURN items over a node table) and through
DuckDB (SELECT over the same rows), values compared row by row.

This generalizes the curated oracle suite in __spark_entry__: instead of
hand-picked queries, hypothesis searches the expression grammar for
disagreements between our compiler/function registry and a reference SQL
engine. Mirrors the reference's expression-evaluation unit tests
(graphlite/src/exec/executor.rs:5172-5446 operator semantics,
functions/*.rs) but checks against an independent implementation.

Grammar notes (deliberate exclusions):
- no division by data-dependent values (ANSI mode raises; denominators
  are ABS(x)+1 by construction)
- literal magnitudes and tree depth are capped so int64 arithmetic
  cannot overflow under ANSI
- no ROUND (banker's vs half-away on exact .5 ties), no LOG (log10 vs
  ln naming divergence across engines)
"""

from __future__ import annotations

import math

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

ROWS = [
    # (id, i, d, s)
    (0, 0, 0.0, ""),
    (1, 7, 2.5, "hello"),
    (2, -3, -1.25, "Spark SQL"),
    (3, 50, 123.456, "  padded  "),
    (4, -50, -0.001, "MiXeD CaSe"),
    (5, 11, 3.14159, "a,b,c"),
    (6, 2, -42.0, "hello"),
    (7, 29, 1e6, "x"),
]


@pytest.fixture(scope="module")
def diff_env(spark):
    import duckdb

    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame(ROWS, "id: long, i: long, d: double, s: string")
    g = PropertyGraph(spark, name="diff")
    g.add_nodes("T", nodes, "id")
    db = GraphLiteSpark(spark)
    db.register_graph(g)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, i BIGINT, d DOUBLE, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ROWS)
    return db, con


# --- expression grammar ------------------------------------------------------
# every strategy yields a template string with {p} where the GQL variable
# prefix goes: "({p}i + 3)" -> GQL "(n.i + 3)" / SQL "(i + 3)"

_int_leaf = st.sampled_from(["{p}i", "{p}id", "0", "1", "2", "7", "-3", "11", "-12"])
_str_leaf = st.sampled_from(["{p}s", "'abc'", "''", "'Hello World'", "','"])

_int_expr = st.recursive(
    _int_leaf,
    lambda kids: st.one_of(
        st.tuples(kids, st.sampled_from(["+", "-", "*"]), kids).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        kids.map(lambda a: f"ABS({a})"),
        kids.map(lambda a: f"SIGN({a})"),
        st.tuples(kids, kids).map(lambda t: f"MOD({t[0]}, (ABS({t[1]}) + 1))"),
    ),
    max_leaves=4,
)

_float_expr = st.one_of(
    st.sampled_from(["{p}d", "1.5", "-0.25"]),
    st.tuples(_int_expr, _int_expr).map(
        lambda t: f"({t[0]} / (ABS({t[1]}) + 1.0))"
    ),
    st.sampled_from(["{p}d", "{p}i"]).map(lambda a: f"SQRT(ABS({a}))"),
    st.tuples(st.sampled_from(["{p}d"]), _int_expr).map(
        lambda t: f"({t[0]} * {t[1]})"
    ),
    st.sampled_from(["{p}d", "{p}i"]).map(lambda a: f"FLOOR({a})"),
    st.sampled_from(["{p}d", "{p}i"]).map(lambda a: f"CEIL({a})"),
)

_str_expr = st.recursive(
    _str_leaf,
    lambda kids: st.one_of(
        kids.map(lambda a: f"UPPER({a})"),
        kids.map(lambda a: f"LOWER({a})"),
        kids.map(lambda a: f"REVERSE({a})"),
        kids.map(lambda a: f"TRIM({a})"),
        st.tuples(kids, kids).map(lambda t: f"({t[0]} || {t[1]})"),
        st.tuples(kids, st.integers(1, 5), st.integers(0, 6)).map(
            lambda t: f"SUBSTRING({t[0]}, {t[1]}, {t[2]})"
        ),
        kids.map(lambda a: f"REPLACE({a}, 'l', 'L')"),
    ),
    max_leaves=3,
)

_bool_expr = st.one_of(
    st.tuples(_int_expr, st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]), _int_expr).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    ),
    st.tuples(_str_expr, st.sampled_from(["=", "<>", "<", ">"]), _str_expr).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    ),
    st.tuples(_str_expr, st.sampled_from(["%l%", "h%", "%o", "%a%e%", "x_"])).map(
        lambda t: f"({t[0]} LIKE '{t[1]}')"
    ),
)

_case_expr = st.tuples(_bool_expr, _int_expr, _int_expr).map(
    lambda t: f"(CASE WHEN {t[0]} THEN {t[1]} ELSE {t[2]} END)"
)

_any_expr = st.one_of(_int_expr, _float_expr, _str_expr, _case_expr, _bool_expr)


def _eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.full_tier
@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_any_expr, min_size=1, max_size=8, unique=True))
def test_expressions_match_duckdb(diff_env, exprs):
    db, con = diff_env
    items = ", ".join(
        f"{e.format(p='n.')} AS v{k}" for k, e in enumerate(exprs)
    )
    gql = f"MATCH (n:T) RETURN n.id AS id, {items} ORDER BY id"
    sql_items = ", ".join(f"{e.format(p='')} AS v{k}" for k, e in enumerate(exprs))
    sql = f"SELECT id, {sql_items} FROM t ORDER BY id"

    ours = [tuple(r) for r in db.query(gql).collect()]
    theirs = con.execute(sql).fetchall()
    assert len(ours) == len(theirs)
    for ro, rt in zip(ours, theirs):
        for e, vo, vt in zip(["id"] + exprs, ro, rt):
            assert _eq(vo, vt), (
                f"expression {e!r} diverged: spark={vo!r} duckdb={vt!r}\n"
                f"spark row={ro}\nduck row={rt}"
            )


# --- aggregation differential -------------------------------------------------

_group_key = st.sampled_from(
    ["MOD(ABS({p}i), 3)", "MOD(ABS({p}i), 2)", "SIGN({p}i)", "SUBSTRING({p}s, 1, 1)"]
)

_agg_item = st.one_of(
    st.just("COUNT(*)"),
    _int_expr.map(lambda a: f"SUM({a})"),
    _int_expr.map(lambda a: f"MIN({a})"),
    _int_expr.map(lambda a: f"MAX({a})"),
    _int_expr.map(lambda a: f"COUNT(DISTINCT {a})"),
    _int_expr.map(lambda a: f"AVG({a})"),
    _str_expr.map(lambda a: f"MIN({a})"),
    _str_expr.map(lambda a: f"MAX({a})"),
)


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_group_key, st.lists(_agg_item, min_size=1, max_size=5, unique=True))
def test_aggregations_match_duckdb(diff_env, key, aggs):
    db, con = diff_env
    gql_items = ", ".join(f"{a.format(p='n.')} AS v{k}" for k, a in enumerate(aggs))
    gql = (
        f"MATCH (n:T) RETURN {key.format(p='n.')} AS g, {gql_items} ORDER BY g"
    )
    sql_items = ", ".join(f"{a.format(p='')} AS v{k}" for k, a in enumerate(aggs))
    sql = f"SELECT {key.format(p='')} AS g, {sql_items} FROM t GROUP BY g ORDER BY g"

    ours = [tuple(r) for r in db.query(gql).collect()]
    theirs = con.execute(sql).fetchall()
    assert len(ours) == len(theirs), f"{gql}\n{ours}\n{theirs}"
    for ro, rt in zip(ours, theirs):
        for e, vo, vt in zip(["g"] + aggs, ro, rt):
            assert _eq(vo, vt), (
                f"aggregate {e!r} diverged: spark={vo!r} duckdb={vt!r}\n"
                f"group row spark={ro} duck={rt}\nquery: {gql}"
            )


# --- pattern/join differential -----------------------------------------------
# random chain patterns (1-3 hops, random per-hop direction, random node/
# edge predicates) through the pattern compiler vs the mechanically
# derived DuckDB join. This searches the join-DAG compiler (SURVEY §2.1
# rows 1-3, 7) the way the suites above search expressions/aggregation.

PERSONS = [(i, i % 3, float((i * i) % 7)) for i in range(12)]
# deterministic edge soup with cycles, fan-in/fan-out; no self loops
KNOWS = [
    (s, d, float((s * 3 + d) % 5))
    for s in range(12)
    for d in range(12)
    if s != d and (s * 7 + d * 5) % 11 < 2
]


@pytest.fixture(scope="module")
def pattern_env(spark):
    import duckdb

    from graphlite_spark import GraphLiteSpark, PropertyGraph

    nodes = spark.createDataFrame(PERSONS, "id: long, grp: long, val: double")
    edges = spark.createDataFrame(KNOWS, "src: long, dst: long, w: double")
    g = PropertyGraph(spark, name="patterns")
    g.add_nodes("Person", nodes, "id")
    g.add_edges("KNOWS", edges, "src", "dst", "Person", "Person")
    db = GraphLiteSpark(spark)
    db.register_graph(g)

    con = duckdb.connect()
    con.execute("CREATE TABLE person (id BIGINT, grp BIGINT, val DOUBLE)")
    con.executemany("INSERT INTO person VALUES (?, ?, ?)", PERSONS)
    con.execute("CREATE TABLE knows (src BIGINT, dst BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO knows VALUES (?, ?, ?)", KNOWS)
    return db, con


_hop_dir = st.sampled_from(["->", "<-", "-"])
_node_pred = st.sampled_from(
    ["{v}.val > 2", "{v}.val <= 4", "{v}.grp = 1", "{v}.grp <> 0", "{v}.id < 9"]
)
_edge_pred = st.sampled_from(["{v}.w >= 1", "{v}.w < 3", "{v}.w <> 2"])


@pytest.mark.full_tier
@settings(
    max_examples=50,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_hop_dir, min_size=1, max_size=3),
    st.lists(st.tuples(st.integers(0, 3), _node_pred), max_size=2),
    st.lists(st.tuples(st.integers(0, 2), _edge_pred), max_size=1),
)
def test_patterns_match_duckdb(pattern_env, dirs, npreds, epreds):
    _check_pattern(pattern_env, dirs, npreds, epreds)


def _check_pattern(pattern_env, dirs, npreds, epreds, typed=True, close=False):
    """One chain pattern of the grammar above against its DuckDB join.
    ``typed=False`` leaves the edge labels off (the compiler then picks
    every edge type between the endpoints); ``close`` re-binds the last
    node to ``n0``, a cycle."""
    db, con = pattern_env
    k = len(dirs)
    node = [f"n{i}" for i in range(k)] + ["n0" if close else f"n{k}"]

    pat = "(n0:Person)"
    for i, d in enumerate(dirs):
        t = ":KNOWS" if typed else ""
        arrow = {"->": f"-[e{i}{t}]->", "<-": f"<-[e{i}{t}]-", "-": f"-[e{i}{t}]-"}[d]
        pat += f"{arrow}({node[i + 1] if close and i == k - 1 else f'n{i + 1}:Person'})"
    conds_gql = [p.format(v=node[min(i, k)]) for i, p in npreds]
    conds_gql += [p.format(v=f"e{min(i, k - 1)}") for i, p in epreds]
    where = f" WHERE {' AND '.join(conds_gql)}" if conds_gql else ""
    gql = (
        f"MATCH {pat}{where} "
        f"RETURN n0.id AS a, {node[k]}.id AS b ORDER BY a, b"
    )

    frm = ["person p0"]
    conds_sql = [f"p{k}.id = p0.id"] if close else []
    for i, d in enumerate(dirs):
        frm += [f"knows k{i}", f"person p{i + 1}"]
        if d == "->":
            conds_sql.append(f"k{i}.src = p{i}.id AND k{i}.dst = p{i + 1}.id")
        elif d == "<-":
            conds_sql.append(f"k{i}.dst = p{i}.id AND k{i}.src = p{i + 1}.id")
        else:
            conds_sql.append(
                f"((k{i}.src = p{i}.id AND k{i}.dst = p{i + 1}.id)"
                f" OR (k{i}.dst = p{i}.id AND k{i}.src = p{i + 1}.id))"
            )
    conds_sql += [p.format(v=f"p{min(i, k)}") for i, p in npreds]
    conds_sql += [p.format(v=f"k{min(i, k - 1)}") for i, p in epreds]
    sql = (
        f"SELECT p0.id AS a, p{k}.id AS b FROM {', '.join(frm)} "
        f"WHERE {' AND '.join(conds_sql)} ORDER BY a, b"
    )

    ours = sorted((r.a, r.b) for r in db.query(gql).collect())
    theirs = sorted((a, b) for a, b in con.execute(sql).fetchall())
    assert ours == theirs, f"pattern diverged\nGQL: {gql}\nSQL: {sql}\nspark={ours[:20]}\nduck={theirs[:20]}"


# fixed shapes from the sweep's grammar, run in the default tier: each
# hop direction, 2 and 3 hops, node and edge predicates, a re-bound
# target (cycle) and unlabelled edges
@pytest.mark.parametrize("dirs,npreds,epreds,typed,close", [
    (["->"], [], [], True, False),
    (["<-"], [(1, "{v}.val > 2")], [], True, False),
    (["-"], [], [(0, "{v}.w >= 1")], True, False),
    (["->", "<-"], [(0, "{v}.grp = 1")], [(1, "{v}.w < 3")], True, False),
    (["->", "->", "-"], [(3, "{v}.id < 9"), (1, "{v}.grp <> 0")], [(2, "{v}.w <> 2")], True, False),
    (["->", "->"], [(1, "{v}.val <= 4")], [], True, True),
    (["-"], [(1, "{v}.grp = 1")], [], False, False),
    (["->", "<-"], [], [(0, "{v}.w < 3")], False, False),
])
def test_pattern_shapes_match_duckdb(pattern_env, dirs, npreds, epreds, typed, close):
    _check_pattern(pattern_env, dirs, npreds, epreds, typed, close)


# --- WITH-pipeline differential ----------------------------------------------
# random MATCH → WITH(group+agg) → WHERE → RETURN pipelines vs the
# mechanically equivalent DuckDB subquery. The reference runs WITH
# segments through a dedicated interpreter (with_clause_processor.rs,
# 1,366 LoC); here each segment is DataFrame chaining — this suite
# searches that translation the way the pattern suite searches joins.

_num_agg = st.one_of(
    st.just("COUNT(*)"),
    _int_expr.map(lambda a: f"SUM({a})"),
    _int_expr.map(lambda a: f"MIN({a})"),
    _int_expr.map(lambda a: f"MAX({a})"),
    _int_expr.map(lambda a: f"COUNT(DISTINCT {a})"),
)

_post_cond = st.sampled_from(
    ["a >= 2", "a < 100", "a <> 3", "a > -50", "a <= 25"]
)


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_group_key, _num_agg, st.one_of(st.none(), _post_cond), st.booleans())
def test_with_pipelines_match_duckdb(diff_env, key, agg, cond, reagg):
    db, con = diff_env
    gql_where = f" WHERE {cond}" if cond else ""
    if reagg:
        # second aggregation stage over the filtered groups
        gql = (
            f"MATCH (n:T) WITH {key.format(p='n.')} AS g, {agg.format(p='n.')} AS a"
            f"{gql_where} RETURN COUNT(*) AS c, SUM(a) AS s"
        )
        sql = (
            f"SELECT COUNT(*) AS c, SUM(a) AS s FROM ("
            f"SELECT {key.format(p='')} AS g, {agg.format(p='')} AS a "
            f"FROM t GROUP BY g) sub"
            + (f" WHERE {cond}" if cond else "")
        )
    else:
        gql = (
            f"MATCH (n:T) WITH {key.format(p='n.')} AS g, {agg.format(p='n.')} AS a"
            f"{gql_where} RETURN g AS g, a AS a ORDER BY g"
        )
        sql = (
            f"SELECT g, a FROM (SELECT {key.format(p='')} AS g, "
            f"{agg.format(p='')} AS a FROM t GROUP BY g) sub"
            + (f" WHERE {cond}" if cond else "")
            + " ORDER BY g"
        )
    ours = [tuple(r) for r in db.query(gql).collect()]
    theirs = con.execute(sql).fetchall()
    assert len(ours) == len(theirs), f"{gql}\n{sql}\n{ours}\n{theirs}"
    for ro, rt in zip(ours, theirs):
        for vo, vt in zip(ro, rt):
            assert _eq(vo, vt), f"pipeline diverged\nGQL: {gql}\nSQL: {sql}\nspark={ro} duck={rt}"
