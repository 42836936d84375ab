"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import re

import pytest

from perfbench import datagen, oracles, workloads as W
from perfbench.harness import Harness, Op, typical_latency
from tools.oracle_check import TABLES


# -- the seed fixes every input ------------------------------------------------

def test_read_stream_is_byte_identical_per_seed():
    a = W.stream_digest(W.read_stream(7, 1500, 500))
    assert a == W.stream_digest(W.read_stream(7, 1500, 500))
    assert a != W.stream_digest(W.read_stream(8, 1500, 500))


def test_read_stream_has_a_fixed_hit_share_and_shape_mix():
    ops = W.read_stream(7, 1500, 64)
    repeats = sum(op.key in {o.key for o in ops[:i]} for i, op in enumerate(ops))
    assert repeats == 64 // W.REPEAT_EVERY
    shapes = [op.shape for op in ops]
    assert all(shapes.count(s) == 16 for s in W.READ_SHAPES)


def _rounds(seed):
    persons, edges = W.base_social(seed, 200, 800)
    model = oracles.WriteModel(persons, edges)
    return [u for r in range(3) for u in W.write_round(seed, r, model)]


def test_write_stream_is_byte_identical_per_seed():
    assert W.stream_digest(_rounds(3)) == W.stream_digest(_rounds(3))
    assert W.stream_digest(_rounds(3)) != W.stream_digest(_rounds(4))


def test_write_round_has_the_fixed_sequence():
    persons, edges = W.base_social(5, 200, 800)
    units = list(W.write_round(5, 0, oracles.WriteModel(persons, edges)))
    assert tuple(u.kind for u in units) == W.ROUND
    assert W.ROUND == W.WRITE_KINDS + ("shortest_path_pair",)


def test_shortest_path_sees_the_round_s_writes():
    persons, edges = W.base_social(5, 200, 800)
    m = oracles.WriteModel(persons, edges)
    spp = list(W.write_round(5, 0, m))[-1]
    src, dst, hops = (int(x) for x in re.findall(r"\d+", spp.check_gql))
    assert spp.statements == []
    assert spp.check_rows == [(oracles.bfs_distance(
        [k[:2] for k in m.edges], src, dst, hops),)]


def test_tables_are_identical_per_seed():
    a, b = datagen.make_tables(9, 0.0005), datagen.make_tables(9, 0.0005)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["lineitem"].equals(datagen.make_tables(10, 0.0005)["lineitem"])


# -- every comparator catches a planted wrong row ------------------------------

@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    d = datagen.write_tables(str(tmp_path_factory.mktemp("data")), 1, 0.0005)
    o = oracles.DuckOracle(d)
    yield o
    o.close()


@pytest.mark.parametrize("shape", sorted(W.READ_SHAPES))
def test_read_oracle_catches_a_planted_row(duck, shape):
    cols, rows = duck.rows(W.READ_SHAPES[shape][1], {"k": 3})
    assert rows
    assert oracles.rows_match(cols, list(rows), cols, rows) is None
    bad = [tuple(r) for r in rows]
    bad[0] = bad[0][:-1] + ((bad[0][-1] or 0) + 1,)
    assert oracles.rows_match(cols, bad, cols, rows) is not None
    assert oracles.rows_match(cols, rows + [rows[0]], cols, rows) is not None


def test_row_oracle_matches_columns_by_name(duck):
    cols, rows = duck.rows(
        "SELECT o_custkey AS c, count(*) AS n FROM orders GROUP BY 1")
    assert oracles.rows_match(list(reversed(cols)),
                              [tuple(reversed(r)) for r in rows], cols, rows) is None
    bad = list(rows)
    bad[-1] = (bad[-1][0], bad[-1][1] + 1)
    assert oracles.rows_match(cols, bad, cols, rows) is not None


def test_write_model_catches_a_planted_row():
    persons, edges = W.base_social(2, 50, 100)
    m = oracles.WriteModel(persons, edges)
    for u in W.write_round(2, 0, m):
        assert oracles.values_match(list(u.check_rows), u.check_rows) is None
        if u.check_rows:
            planted = [tuple(r) for r in u.check_rows]
            planted[0] = planted[0][:-1] + (-1,)
            assert oracles.values_match(planted, u.check_rows) is not None
    # a 2-node INSERT, a committed 1-node INSERT, a DETACH DELETE
    assert m.counts()["Person"] == 50 + 2 + 1 - 1


def test_bfs_oracle_catches_a_wrong_distance():
    edges = [(1, 2), (2, 3), (3, 4), (1, 5)]
    assert oracles.bfs_distance(edges, 1, 4, 20) == 3
    assert oracles.bfs_distance(edges, 4, 1, 20) is None
    assert oracles.values_match([(2,)], [(3,)]) is not None


# -- failed operations are counted, not fatal ----------------------------------

def _raise(traced, op):
    raise RuntimeError("planted failure")


def test_a_raised_statement_counts_as_failed(tmp_path):
    h = Harness(str(tmp_path), "interactive_reads", 1, 1.0, trace=False)
    h.setup["setup_s"].append(1.0)
    h.run_op("point", lambda traced, op: "ok")
    op, res = h.run_op("point", _raise)
    assert res is None and not op.ok
    h.run_op("point", lambda traced, op: "ok")
    out = h.result(db=None)
    assert (out["attempted"], out["failed"], out["correct"]) == (3, 1, False)
    assert set(out["metrics"]) == {"setup_s", "op_latency_rel"}


def test_a_wrong_answer_counts_as_failed(tmp_path):
    h = Harness(str(tmp_path), "interactive_reads", 1, 1.0, trace=False)
    h.setup["setup_s"].append(1.0)
    op, _ = h.run_op("point", lambda traced, op: "ok")
    h.check(op, "planted", "row count 1 != 2")
    out = h.result(db=None)
    assert (out["attempted"], out["failed"], out["correct"]) == (1, 1, False)


def test_a_traced_run_alternates_each_class(tmp_path):
    h = Harness(str(tmp_path), "write_mix", 1, 1.0, trace=True)
    turns = [(k, h.traced_turn(k)) for k in "abab" * 2]
    assert [t for k, t in turns if k == "a"] == [True, False, True, False]
    assert [t for k, t in turns if k == "b"] == [False, True, False, True]
    assert not Harness(str(tmp_path), "write_mix", 1, 1.0,
                       trace=False).traced_turn("a")


def test_typical_latency_weighs_class_medians_by_share():
    ops = [Op("a", s, True, False, klass="a") for s in (1.0, 2.0, 9.0)]
    ops.append(Op("b", 5.0, True, False, klass="b"))
    # a: median 2.0 over 3 operations, b: 5.0 over 1
    assert typical_latency(ops) == pytest.approx((3 * 2.0 + 5.0) / 4)


def test_overhead_ratio_is_traced_over_untraced_latency(tmp_path):
    h = Harness(str(tmp_path), "write_mix", 1, 1.0, trace=True)
    for klass, secs in (("a", 1.1), ("a", 1.0), ("b", 2.0), ("b", 2.2),
                        ("c", 9.0)):  # c ran traced only: left out
        h.ops.append(Op(klass, secs, True, h.traced_turn(klass), klass=klass))
    # a: traced 1.1, untraced 1.0; b: untraced 2.0, traced 2.2
    assert h.overhead_ratio() == pytest.approx((1.1 + 2.2) / (1.0 + 2.0))
