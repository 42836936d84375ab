"""Seeded operation streams for each workload.

Everything the program under test receives is generated here from the
seed: GQL text, parameters and write statements. The generators are
pure functions of their arguments, so the same seed always yields the
same bytes (``stream_digest`` hashes a stream for the tests).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np

from .oracles import WriteModel, bfs_distance

# -- interactive_reads --------------------------------------------------------

# shape -> (GQL over the TPC-H graph, DuckDB twin over the raw tables)
READ_SHAPES: dict[str, tuple[str, str]] = {
    "point": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k "
        "RETURN c.c_name AS name, c.c_acctbal AS acctbal",
        "SELECT c_name AS name, c_acctbal AS acctbal "
        "FROM customer WHERE c_custkey = $k",
    ),
    "hop1": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS orderkey, o.o_totalprice AS totalprice",
        "SELECT o_orderkey AS orderkey, o_totalprice AS totalprice "
        "FROM orders WHERE o_custkey = $k",
    ),
    "hop2": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:LINE]->(p:Part) "
        "WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS orderkey, p.p_partkey AS partkey, "
        "l.l_quantity AS qty",
        "SELECT o.o_orderkey AS orderkey, p.p_partkey AS partkey, "
        "l.l_quantity AS qty FROM orders o "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = $k",
    ),
    "neighbourhood_agg": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $k "
        "RETURN count(*) AS n_orders, "
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total",
        "SELECT count(*) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders WHERE o_custkey = $k",
    ),
}

ZIPF_S = 1.1
REPEAT_EVERY = 4  # every 4th cycle of shapes repeats earlier pairs


@dataclass(frozen=True)
class ReadOp:
    shape: str
    params: dict

    @property
    def gql(self) -> str:
        return READ_SHAPES[self.shape][0]

    @property
    def key(self) -> tuple:
        return (self.shape, tuple(sorted(self.params.items())))


def read_stream(seed: int, n_keys: int, count: int,
                part: int = 1) -> list[ReadOp]:
    """``count`` reads cycling through the shapes in a fixed order. Every
    ``REPEAT_EVERY``-th cycle re-asks earlier (shape, key) pairs, picked
    Zipf(``ZIPF_S``) by order of first use, so they hit the plan cache;
    every other read is a first-time pair, a miss. The hit share and the
    shape mix are then the same for every seed; the seed picks the keys.
    Streams of another ``part`` (the untimed settling reads) draw their
    keys independently."""
    rng = np.random.default_rng([seed, part])
    fresh = {s: iter(rng.permutation(n_keys)) for s in sorted(READ_SHAPES)}
    shapes = sorted(READ_SHAPES)
    seen: dict[str, list[int]] = {s: [] for s in shapes}
    ops = []
    for i in range(count):
        shape = shapes[i % len(shapes)]
        used = seen[shape]
        if (i // len(shapes)) % REPEAT_EVERY == REPEAT_EVERY - 1:
            w = 1.0 / np.arange(1, len(used) + 1) ** ZIPF_S
            key = used[int(rng.choice(len(used), p=w / w.sum()))]
        else:
            key = int(next(fresh[shape]))
            used.append(key)
        ops.append(ReadOp(shape, {"k": key}))
    return ops


# -- write_mix ----------------------------------------------------------------

# the write kinds, each with the same weight: the proportions are a
# construction, not observed traffic
WRITE_KINDS = (
    "insert_pattern", "match_set", "match_insert_edge", "delete_edge",
    "detach_delete", "txn_commit", "txn_rollback",
)
# one round: every write kind once, then one graph procedure over what
# the writes left (a directed shortest path between two persons, as in
# the social-network benchmarks' "shortest path" query), in a fixed
# order that is the same in every round and for every seed (latency
# grows with the graph's write history, so the order is fixed); the
# seed picks the keys and values
ROUND = WRITE_KINDS + ("shortest_path_pair",)
SPP_MAX_HOPS = 20


@dataclass
class WriteUnit:
    """One closed-loop write: the statements, the rows_affected each must
    report (None: not checked), and the read-your-write query with the
    rows it must return."""

    kind: str
    statements: list[str]
    affected: list
    check_gql: str
    check_rows: list[tuple]


def base_social(seed: int, n_persons: int, n_edges: int):
    """Base Person/KNOWS graph as plain arrays (pid, name, age) and
    (src, dst, since), no self loops."""
    rng = np.random.default_rng([seed, 4])
    ages = rng.integers(18, 80, n_persons)
    src = rng.integers(0, n_persons, n_edges)
    dst = (src + rng.integers(1, n_persons, n_edges)) % n_persons
    since = rng.integers(1990, 2024, n_edges)
    persons = [(i, f"p{i}", int(a)) for i, a in enumerate(ages)]
    edges = [(int(s), int(d), int(y)) for s, d, y in zip(src, dst, since)]
    return persons, edges


def _person_lit(pid: int, age: int) -> str:
    return f"{{pid: {pid}, name: 'n{pid}', age: {age}}}"


def write_round(seed: int, round_no: int, model: WriteModel):
    """The write units of one round over ``model`` (the graph as the
    units before left it), each applied to the model as it is generated:
    a run that stops inside a round leaves the model where the graph
    is."""
    rng = np.random.default_rng([seed, 5, round_no])
    for kind in ROUND:
        yield _write_unit(kind, rng, model)


def _pick(rng, seq):
    return seq[int(rng.integers(0, len(seq)))]


def _write_unit(kind: str, rng, m: WriteModel) -> WriteUnit:
    alive = m.alive_pids()
    if kind == "insert_pattern":
        a, b = m.fresh_pid(), m.fresh_pid()
        age_a, age_b = (int(x) for x in rng.integers(18, 80, 2))
        since = int(rng.integers(1990, 2024))
        m.insert_person(a, age_a)
        m.insert_person(b, age_b)
        m.insert_edge(a, b, since)
        return WriteUnit(
            kind,
            [f"INSERT (:Person {_person_lit(a, age_a)})"
             f"-[:KNOWS {{since: {since}}}]->(:Person {_person_lit(b, age_b)})"],
            [3],
            f"MATCH (a:Person {{pid: {a}}})-[k:KNOWS]->(b:Person {{pid: {b}}}) "
            "RETURN a.name AS a_name, b.age AS b_age, k.since AS since",
            [(f"n{a}", age_b, since)],
        )
    if kind == "match_set":
        p = _pick(rng, alive)
        age = int(rng.integers(18, 80))
        m.set_age(p, age)
        return WriteUnit(
            kind,
            [f"MATCH (p:Person {{pid: {p}}}) SET p.age = {age}"],
            [1],
            f"MATCH (p:Person {{pid: {p}}}) RETURN p.age AS age",
            [(age,)],
        )
    if kind == "match_insert_edge":
        a = _pick(rng, alive)
        b = _pick(rng, [p for p in alive if p != a])
        since = int(rng.integers(1990, 2024))
        m.insert_edge(a, b, since)
        return WriteUnit(
            kind,
            [f"MATCH (a:Person {{pid: {a}}}), (b:Person {{pid: {b}}}) "
             f"INSERT (a)-[:KNOWS {{since: {since}}}]->(b)"],
            [1],
            _pair_count(a, b),
            [(m.edge_count(a, b),)],
        )
    if kind == "delete_edge":
        a, b = _pick(rng, m.edge_pairs())
        m.delete_edges(a, b)
        return WriteUnit(
            kind,
            [f"MATCH (a:Person {{pid: {a}}})-[k:KNOWS]->(b:Person {{pid: {b}}}) "
             "DELETE k"],
            [1],
            _pair_count(a, b),
            [(0,)],
        )
    if kind == "detach_delete":
        p = _pick(rng, alive)
        m.detach_delete(p)
        return WriteUnit(
            kind,
            [f"MATCH (p:Person {{pid: {p}}}) DETACH DELETE p"],
            [1],
            f"MATCH (p:Person {{pid: {p}}}) RETURN count(*) AS n",
            [(0,)],
        )
    if kind == "txn_commit":
        a = m.fresh_pid()
        age = int(rng.integers(18, 80))
        m.insert_person(a, age)
        return WriteUnit(
            kind,
            ["START TRANSACTION", f"INSERT (:Person {_person_lit(a, age)})",
             "COMMIT"],
            [None, 1, None],
            f"MATCH (p:Person {{pid: {a}}}) RETURN p.name AS name, p.age AS age",
            [(f"n{a}", age)],
        )
    if kind == "txn_rollback":
        p = _pick(rng, alive)
        age = int(rng.integers(18, 80))
        return WriteUnit(
            kind,
            ["START TRANSACTION",
             f"MATCH (p:Person {{pid: {p}}}) SET p.age = {age}",
             "ROLLBACK"],
            [None, 1, None],
            f"MATCH (p:Person {{pid: {p}}}) RETURN p.age AS age",
            [(m.age(p),)],
        )
    if kind == "shortest_path_pair":
        # a person and one two KNOWS hops out: a short search, as a
        # "how do I know them" query is
        pairs = [k[:2] for k in m.edges]
        out: dict[int, list[int]] = {}
        for s, d in pairs:
            out.setdefault(s, []).append(d)
        a = _pick(rng, sorted(out))
        b = _pick(rng, sorted({c for x in out[a] for c in out.get(x, ())} - {a}
                              or set(out[a])))
        d = bfs_distance(pairs, a, b, SPP_MAX_HOPS)
        return WriteUnit(
            kind, [], [],
            f"CALL gql.shortest_path_pair({a}, {b}, {SPP_MAX_HOPS})",
            [] if d is None else [(d,)],
        )
    raise ValueError(kind)


def _pair_count(a: int, b: int) -> str:
    return (f"MATCH (a:Person {{pid: {a}}})-[k:KNOWS]->(b:Person {{pid: {b}}}) "
            "RETURN count(*) AS n")


def stream_digest(items) -> str:
    """sha256 over a JSON rendering of a generated stream."""
    def enc(x):
        if isinstance(x, ReadOp):
            return [x.shape, x.params]
        if isinstance(x, WriteUnit):
            return [x.kind, x.statements, x.affected, x.check_gql,
                    [list(r) for r in x.check_rows]]
        return x

    blob = json.dumps([enc(x) for x in items], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()
