"""Per-kind write latency and Spark jobs at a chosen graph size.

Runs the benchmark's write_mix rounds (``perfbench.workloads``: the
seven write kinds, each followed by its read-your-write query, then one
``shortest_path_pair`` CALL) on a Person/KNOWS graph of ``--persons``
persons and four KNOWS edges per person, stored as parquet, and prints
for each kind the median latency of its statements, the median number
of Spark jobs they ran, and the median latency of the read-your-write
query after them, collected. ``shortest_path_pair`` is timed over its
CALL, which is its own read; its endpoints are named by the persons'
node ids, looked up by pid before the clock starts (an INSERTed
person's id is its content hash, not its pid). The first CALL on a
KNOWS base reads the base into the driver, once per base: those CALLs
have a row of their own, counted in every round, and the kind's row
holds the later ones. Every answer is checked against
``perfbench.oracles.WriteModel``; the run fails if one differs.

The first round settles the JVM and is not reported, but for a first
CALL on a base. The session is ``local[1]`` with one shuffle partition,
as in perfbench.

Usage: python tools/write_scaling.py --persons 2000|20000|200000
       [--rounds 5] [--seed 1]
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EDGES_PER_PERSON = 4
FIRST_CALL = "shortest_path_pair, first on its base"


def by_node_id(db, call: str) -> str:
    """``call``, a ``CALL gql.shortest_path_pair(a, b, hops)`` naming
    persons by pid, with each pid replaced by that person's node id."""
    a, b, hops = re.fullmatch(
        r"CALL gql\.shortest_path_pair\((\d+), (\d+), (\d+)\)", call).groups()
    ids = [db.query(f"MATCH (p:Person {{pid: {pid}}}) RETURN id(p) AS i")
           .collect()[0].i for pid in (a, b)]
    return f"CALL gql.shortest_path_pair({ids[0]}, {ids[1]}, {hops})"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--persons", type=int, default=2000)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import pandas as pd

    from graphlite_spark import GraphLiteSpark, PropertyGraph, get_spark
    from perfbench import oracles, workloads as W

    spark = get_spark(app_name="write_scaling", master="local[1]",
                      shuffle_partitions=1,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    persons, edges = W.base_social(args.seed, args.persons,
                                   EDGES_PER_PERSON * args.persons)
    model = oracles.WriteModel(persons, edges)
    with tempfile.TemporaryDirectory(prefix="write_scaling-") as work:
        pd.DataFrame(persons, columns=["pid", "name", "age"]).to_parquet(
            f"{work}/person.parquet")
        pd.DataFrame(edges, columns=["_src", "_dst", "since"]).to_parquet(
            f"{work}/knows.parquet")
        g = PropertyGraph(spark, name="social")
        g.add_nodes("Person", spark.read.parquet(f"{work}/person.parquet"), "pid")
        g.add_edges("KNOWS", spark.read.parquet(f"{work}/knows.parquet"),
                    "_src", "_dst", "Person", "Person")
        db = GraphLiteSpark(spark)
        db.register_graph(g)

        seen: dict[str, list[tuple[float, int, float | None]]] = {}
        read_bases, failures = [], []
        for r in range(args.rounds):
            for unit in W.write_round(args.seed, r, model):
                sc.setJobGroup("write_scaling-check", "endpoint lookups")
                call = kind = None
                if unit.kind == "shortest_path_pair":
                    call = by_node_id(db, unit.check_gql)
                    base = db.graph().table("KNOWS", True).base
                    if not any(base is b for b in read_bases):
                        read_bases.append(base)
                        kind = FIRST_CALL
                group = f"write_scaling-{r}-{unit.kind}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                if unit.statements:
                    got = [db.execute(s) for s in unit.statements]
                    rows = None
                else:
                    rows = [tuple(x) for x in db.execute(call).collect()]
                    got = []
                ms = 1e3 * (time.perf_counter() - t0)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setJobGroup("write_scaling-check", "answer checks")
                read_ms = None
                if rows is None:
                    t0 = time.perf_counter()
                    rows = [tuple(x) for x in db.query(unit.check_gql).collect()]
                    read_ms = 1e3 * (time.perf_counter() - t0)
                affected = [o.get("rows_affected") for o in got]
                want = [a if a is not None else g for a, g in
                        zip(unit.affected, affected)]
                problem = oracles.values_match(rows, unit.check_rows) or (
                    None if affected == want else f"rows_affected {affected}")
                if problem:
                    failures.append(f"round {r} {unit.kind}: {problem}")
                if r > 0 or kind:
                    seen.setdefault(kind or unit.kind, []).append(
                        (ms, jobs, read_ms))
        spark.stop()

    print(f"persons={args.persons} knows={EDGES_PER_PERSON * args.persons} "
          f"rounds={args.rounds - 1} (after one settling round)")
    print("| kind | median ms | median Spark jobs | median read ms |")
    print("| --- | ---: | ---: | ---: |")
    for kind in (*W.ROUND, FIRST_CALL):
        if kind not in seen:
            continue
        ms = statistics.median(m for m, _, _ in seen[kind])
        jobs = statistics.median(j for _, j, _ in seen[kind])
        reads = [r for _, _, r in seen[kind] if r is not None]
        read = f"{statistics.median(reads):,.0f}" if reads else "-"
        if kind == FIRST_CALL:
            kind += f" (n={len(seen[kind])})"
        print(f"| {kind} | {ms:,.0f} | {jobs:g} | {read} |")
    if failures:
        print("answer check failures:", *failures, sep="\n  ")
        sys.exit(1)


if __name__ == "__main__":
    main()
