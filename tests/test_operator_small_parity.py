"""Default-tier parity of graph operators whose exhaustive tests are full
tier only: each runs once on a seeded 12-node graph and is checked
against a brute force written here."""

from __future__ import annotations

import heapq
import random
from collections import defaultdict, deque

N = 12


def _edges(seed: int, m: int, dag: bool = False) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    out = set()
    while len(out) < m:
        a, b = rng.randrange(N), rng.randrange(N)
        if a != b:
            out.add((min(a, b), max(a, b)) if dag else (a, b))
    return sorted(out)


def test_weighted_sssp_matches_dijkstra(spark):
    from graphlite_spark import GraphLiteSpark, PropertyGraph
    from graphlite_spark.operators.paths import weighted_sssp

    rng = random.Random(3)
    wedges = [(a, b, float(rng.randint(1, 9))) for a, b in _edges(3, 26)]

    def dijkstra(src, directed):
        adj = defaultdict(list)
        for a, b, w in wedges:
            adj[a].append((b, w))
            if not directed:
                adj[b].append((a, w))
        dist, heap = {}, [(0.0, src)]
        while heap:
            d, v = heapq.heappop(heap)
            if v not in dist:
                dist[v] = d
                for w_, c in adj[v]:
                    heapq.heappush(heap, (d + c, w_))
        return dist

    e = spark.createDataFrame(wedges, "_src long, _dst long, weight double")
    for directed in (True, False):
        src = spark.createDataFrame([(0,)], "node long")
        got = {r.node: r.dist for r in
               weighted_sssp(e, src, directed=directed).collect()}
        assert got == dijkstra(0, directed), directed

    # the CALL builds its source row on the driver
    g = PropertyGraph(spark, name="wsssp")
    g.add_nodes("V", spark.createDataFrame([(i,) for i in range(N)],
                                           "id long"), "id")
    g.add_edges("E", e, "_src", "_dst", "V", "V")
    db = GraphLiteSpark(spark)
    db.register_graph(g)
    got = {r.node: r.dist for r in db.execute(
        "CALL gql.weighted_shortest_path('E', 'weight', 5)").collect()}
    assert got == dijkstra(5, True)


def _peel(es: set, k: int) -> set:
    es = set(es)
    while True:
        adj = defaultdict(set)
        for x, y in es:
            adj[x].add(y)
            adj[y].add(x)
        drop = {e for e in es if len(adj[e[0]] & adj[e[1]]) < k - 2}
        if not drop:
            return es
        es -= drop


def test_k_truss_and_truss_decomposition_match_peeling(spark):
    from graphlite_spark.operators.paths import k_truss, truss_decomposition

    edges = _edges(11, 34)
    canon = {tuple(sorted(e)) for e in edges}
    e = spark.createDataFrame(edges, "_src long, _dst long")
    for k in (3, 4):
        got = {(r._src, r._dst) for r in k_truss(e, k).collect()}
        assert got == _peel(canon, k), k

    trussness, cur, k = {}, canon, 3
    while cur:
        nxt = _peel(cur, k)
        trussness.update({x: k - 1 for x in cur - nxt})
        cur, k = nxt, k + 1
    got = {(r._src, r._dst): r.trussness
           for r in truss_decomposition(e).collect()}
    assert got == trussness


def test_dag_layers_match_longest_path(spark):
    from graphlite_spark.operators.paths import dag_layers

    edges = _edges(7, 20, dag=True)
    layer = {v: 0 for v in range(N)}
    for v in range(N):  # ids are a topological order: a < b on every edge
        for a, b in edges:
            if b == v:
                layer[v] = max(layer[v], layer[a] + 1)
    got = dag_layers(spark.createDataFrame(edges, "_src long, _dst long"),
                     spark.createDataFrame([(v,) for v in range(N)],
                                           "id long"), batch=2).collect()
    assert {r.node: r.layer for r in got} == layer


def test_betweenness_matches_brandes(spark):
    from graphlite_spark.operators.paths import betweenness_centrality

    edges, hops = _edges(5, 24), 4
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
    bc = defaultdict(float)
    for s in range(N):
        dist, sigma, preds, order = {s: 0}, {s: 1.0}, defaultdict(list), []
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            if dist[v] >= hops:
                continue
            for w in adj[v]:
                if w not in dist:
                    dist[w], sigma[w] = dist[v] + 1, 0.0
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]

    got = {r.node: r.betweenness for r in betweenness_centrality(
        spark.createDataFrame(edges, "_src long, _dst long"),
        spark.createDataFrame([(v,) for v in range(N)], "id long"),
        max_hops=hops).collect()}
    for v in set(got) | set(bc):
        assert abs(got.get(v, 0.0) - bc.get(v, 0.0)) < 1e-6, v
