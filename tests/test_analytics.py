"""Window/analytic operators (operators/analytics.py).

Beyond-reference surface: the reference has no window functions
(SURVEY.md §2.5 — nothing in functions/mod.rs:39-259); these are the
partitioned analytics a training-data pipeline leans on. Each test pins
exact expected rows on a small frame; the sf0.01 oracle equivalents
live in __spark_entry__ (window_* keys).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphlite_spark.operators.analytics import (
    lag_delta,
    moving_average,
    ntile_buckets,
    rank_in_group,
    running_total,
    top_n_per_group,
)


@pytest.fixture(scope="module")
def sales(spark):
    # (key, seq, amount) — two groups, deterministic total order on seq
    return spark.createDataFrame(
        [
            ("a", 1, 10.0),
            ("a", 2, 30.0),
            ("a", 3, 20.0),
            ("b", 1, 5.0),
            ("b", 2, 5.0),
        ],
        "k string, seq int, amt double",
    )


def test_top_n_per_group(sales):
    rows = top_n_per_group(sales, ["k"], [F.col("amt").desc(), "seq"], 1).collect()
    got = {(r.k, r.seq, r.rn) for r in rows}
    assert got == {("a", 2, 1), ("b", 1, 1)}  # b ties on amt -> seq breaks


def test_rank_in_group_dense(sales):
    rows = rank_in_group(sales, ["k"], [F.col("amt").desc()], method="dense_rank").collect()
    got = {(r.k, r.seq): r.rnk for r in rows}
    assert got[("a", 2)] == 1 and got[("a", 3)] == 2 and got[("a", 1)] == 3
    assert got[("b", 1)] == 1 and got[("b", 2)] == 1  # tie shares dense rank


def test_rank_method_validated(sales):
    with pytest.raises(ValueError, match="unknown rank method"):
        rank_in_group(sales, ["k"], ["seq"], method="nope")


def test_running_total(sales):
    rows = running_total(sales, ["k"], ["seq"], "amt").collect()
    got = {(r.k, r.seq): r.running_total for r in rows}
    assert got == {
        ("a", 1): 10.0, ("a", 2): 40.0, ("a", 3): 60.0,
        ("b", 1): 5.0, ("b", 2): 10.0,
    }


def test_lag_delta(sales):
    rows = lag_delta(sales, ["k"], ["seq"], "amt").collect()
    got = {(r.k, r.seq): (r.prev_value, r.delta) for r in rows}
    assert got[("a", 1)] == (None, None)  # no predecessor
    assert got[("a", 2)] == (10.0, 20.0)
    assert got[("a", 3)] == (30.0, -10.0)


def test_moving_average(sales):
    rows = moving_average(sales, ["k"], ["seq"], "amt", window_rows=2).collect()
    got = {(r.k, r.seq): r.moving_avg for r in rows}
    assert got[("a", 1)] == 10.0  # partial frame at the start
    assert got[("a", 2)] == 20.0
    assert got[("a", 3)] == 25.0
    with pytest.raises(ValueError, match="window_rows"):
        moving_average(sales, ["k"], ["seq"], "amt", window_rows=0)


def test_ntile(spark):
    df = spark.createDataFrame([("g", i) for i in range(1, 8)], "k string, v int")
    rows = ntile_buckets(df, ["k"], ["v"], 3).collect()
    got = {r.v: r.bucket for r in rows}
    # 7 rows / 3 buckets -> sizes 3,2,2 (SQL-standard: leading buckets larger)
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}


def test_stats_aggregates_gql(simple_db):
    """STDDEV/VARIANCE/MEDIAN/PERCENTILE_CONT/CORR through the engine
    path (functions/registry.py AGGREGATES, beyond-reference)."""
    rows = simple_db.query(
        """
        MATCH (n:TestNode)
        RETURN ROUND(STDDEV(n.value), 6) AS sd,
               MEDIAN(n.value) AS med,
               PERCENTILE_CONT(n.value, 0.5) AS p50,
               ROUND(CORR(n.value, n.id), 6) AS c
        """
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # values = 0,10,...,190: median 95, perfectly correlated with id
    assert r.med == 95.0 and r.p50 == 95.0
    assert r.c == 1.0
    assert r.sd == pytest.approx(59.160798, abs=1e-6)


@pytest.mark.full_tier
def test_weighted_sssp(spark):
    """Hand-checked Bellman-Ford: the 2-hop detour beats the direct edge."""
    from graphlite_spark.operators.paths import weighted_sssp

    edges = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0), (2, 4, 1.0)],
        "_src long, _dst long, weight double",
    )
    src = spark.createDataFrame([(1,)], "node: long")
    got = {r.node: r.dist for r in weighted_sssp(edges, src).collect()}
    assert got == {1: 0.0, 3: 1.0, 2: 2.0, 4: 3.0}
    # bounded to one round: only direct edges
    got1 = {r.node: r.dist for r in weighted_sssp(edges, src, max_iters=1).collect()}
    assert got1 == {1: 0.0, 2: 5.0, 3: 1.0}
    # undirected: 4 reaches everything backwards
    gotu = {r.node: r.dist for r in weighted_sssp(
        spark.createDataFrame([(1, 2, 2.0), (2, 3, 2.0)], "_src long, _dst long, weight double"),
        spark.createDataFrame([(3,)], "node: long"), directed=False).collect()}
    assert gotu == {3: 0.0, 2: 2.0, 1: 4.0}


def test_k_core(spark):
    """Hand-checked peel: triangle+tail graph, 2-core drops the tail."""
    from graphlite_spark.operators.paths import k_core

    edges = spark.createDataFrame(
        # triangle 1-2-3 plus a tail 3-4-5
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "_src long, _dst long",
    )
    got = {r.node: r.degree for r in k_core(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}  # tail peeled (5 first, then 4)
    # k=1 keeps everything with an edge
    got1 = {r.node: r.degree for r in k_core(edges, k=1).collect()}
    assert got1 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}
    # bounded to a single round: only node 5 (deg 1) is gone; 4 survives
    gotb = {r.node: r.degree for r in k_core(edges, k=2, max_iters=1).collect()}
    assert gotb == {1: 2, 2: 2, 3: 3, 4: 1}


def test_label_propagation_two_cliques(spark):
    from graphlite_spark.operators.paths import label_propagation

    # two triangles bridged by one edge: LPA keeps them as two
    # communities (labeled by each clique's min id) where CC would merge
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)],
        "src: long, dst: long",
    ).selectExpr("src AS _src", "dst AS _dst")
    nodes = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 10, 11, 12)], "id: long"
    )
    got = {r.node: r.label for r in
           label_propagation(edges, nodes, num_iter=5).collect()}
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == got[12]
    assert got[10] != got[0]


def test_is_reachable_and_building_blocks(spark):
    # direct coverage for the public helpers used transitively elsewhere
    from pyspark.sql import functions as F

    from graphlite_spark import PropertyGraph
    from graphlite_spark.operators.dedup import (
        minhash_signatures, shingle_array, simhash64,
    )
    from graphlite_spark.operators.paths import is_reachable
    from graphlite_spark.operators.similarity import hyperplane_signature

    g = PropertyGraph(spark, name="reach")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id: long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "s: long, d: long")
    g.add_nodes("V", nodes, "id")
    g.add_edges("E", edges, "s", "d", "V", "V")
    src = spark.createDataFrame([(0,), (3,)], "id: long")
    tgt = spark.createDataFrame([(2,), (4,), (5,)], "id: long")
    got = {(r.root, r.node): r.dist
           for r in is_reachable(g, "E", src, tgt, max_hops=5).collect()}
    assert got == {(0, 2): 2, (3, 4): 1}  # 5 unreachable, 1 not a target

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id: long, text: string")
    sh = {r.doc_id: sorted(r._shingles)
          for r in shingle_array(docs, n=2, words=True).collect()}
    assert sh[1] == ["a b", "b c", "c d"] and sh[1] == sh[2] != sh[3]
    sig = {r.doc_id: list(r.signature)
           for r in minhash_signatures(docs, n=2, words=True).collect()}
    assert sig[1] == sig[2] != sig[3] and len(sig[1]) == 64
    sims = {r.doc_id: r.simhash for r in simhash64(docs, n=2, words=True).collect()}
    assert sims[1] == sims[2] != sims[3]
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [-1.0, 0.0])],
        "vec_id: long, embedding: array<double>")
    b = {r.vec_id: r.b for r in vecs.select(
        "vec_id", hyperplane_signature(F.col("embedding"), 2, 8).alias("b")
    ).collect()}
    assert b[1] == b[2]            # near-identical vectors share buckets
    assert b[1] == b[3] ^ 0xFF     # opposite vector flips every plane


def test_closeness_centrality_chain(spark):
    # chain 0->1->2->3: closeness(v) = reach/(sum dist); isolated tail = 0
    from graphlite_spark.operators.paths import closeness_centrality

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "_src: long, _dst: long")
    src = spark.createDataFrame([(i,) for i in range(4)], "id: long")
    got = {r.node: (r.n_reachable, r.closeness)
           for r in closeness_centrality(edges, src, max_hops=10).collect()}
    assert got[0] == (4, round(3 / 6, 6))   # dists 0+1+2+3
    assert got[1] == (3, round(2 / 3, 6))
    assert got[2] == (2, 1.0)
    assert got[3] == (1, 0.0)               # reaches nothing
    harm = {r.node: r.closeness
            for r in closeness_centrality(edges, src, max_hops=10,
                                          harmonic=True).collect()}
    assert harm[0] == round(1 + 1 / 2 + 1 / 3, 6)
    assert harm[3] == 0.0


@pytest.mark.full_tier
def test_betweenness_brute_force_parity(spark):
    # Brandes via two hop-batched passes must equal a per-source
    # python BFS + dependency accumulation on every structural shape:
    # chains, a multi-shortest-path diamond (sigma=2), directed
    # cycles, and a random dense graph; bounded horizons and sampled
    # sources included.
    from collections import defaultdict, deque

    from graphlite_spark.operators.paths import betweenness_centrality

    def brute(edges, sources, max_hops):
        adj = defaultdict(list)
        for a, b in edges:
            adj[a].append(b)
        bc = defaultdict(float)
        for s in sources:
            dist = {s: 0}
            sigma = {s: 1.0}
            order = [s]
            preds = defaultdict(list)
            dq = deque([s])
            while dq:
                v = dq.popleft()
                if dist[v] >= max_hops:
                    continue
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0.0
                        dq.append(w)
                        order.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
                        preds[w].append(v)
            delta = defaultdict(float)
            for w in reversed(order):
                for v in preds[w]:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
                if w != s:
                    bc[w] += delta[w]
        return dict(bc)

    import random

    rng = random.Random(5)
    rnd = [(a, b) for a, b in
           {(rng.randrange(12), rng.randrange(12)) for _ in range(30)}
           if a != b]
    cases = [
        ([(i, i + 1) for i in range(6)], list(range(7)), 10),
        ([(i, i + 1) for i in range(6)], [0, 2], 3),
        ([(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], list(range(5)), 10),
        ([(i, (i + 1) % 6) for i in range(6)], list(range(6)), 10),
        ([(i, (i + 1) % 6) for i in range(6)], [0, 3], 4),
        (rnd, list(range(12)), 5),
    ]
    for edges, sources, h in cases:
        edf = spark.createDataFrame(edges, "_src long, _dst long")
        sdf = spark.createDataFrame([(s,) for s in sources], "id long")
        got = {r.node: r.betweenness for r in
               betweenness_centrality(edf, sdf, max_hops=h).collect()}
        exp = brute(edges, sources, h)
        for k in set(got) | set(exp):
            assert abs(got.get(k, 0.0) - exp.get(k, 0.0)) < 1e-6, (
                edges, sources, h, k)


def test_random_walks_replica_parity(spark):
    # the walk rule against a pure-python replica (same Knuth bucket
    # over sorted neighbors), dead-end termination, undirected mode,
    # and the bound guards
    import pytest

    from graphlite_spark.operators.paths import random_walks

    edges = [(k, (k + i) % 12) for k in range(12) for i in (1, 2)]
    edf = spark.createDataFrame(edges, "_src long, _dst long")
    out = random_walks(edf, n_walks=2, length=5, salt=3).collect()
    assert len(out) == 12 * 2 * 6  # no dead ends on the 2-regular ring

    KN, M32 = 2654435761, 1 << 32
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
    nbrs = {k: sorted(v) for k, v in nbrs.items()}

    def walk(s, w, L, salt):
        cur, path = s, [s]
        for t in range(1, L + 1):
            if cur not in nbrs:
                break
            seed = (cur % 1000003) * 131071 + w * 1031 + t
            h = ((seed % M32 + salt) % M32) * KN % M32
            cur = nbrs[cur][h % len(nbrs[cur])]
            path.append(cur)
        return path

    got = {}
    for r in out:
        got.setdefault((r.start, r.walk_id), {})[r.step] = r.node
    for (s, w), steps in got.items():
        assert [steps[i] for i in range(len(steps))] == walk(s, w, 5, 3)
    # the seeds genuinely vary: not all walks identical
    assert len({tuple(sorted(v.items())) for v in got.values()}) > 4

    # dead ends keep the prefix; undirected mode walks back too
    dead = random_walks(
        spark.createDataFrame([(0, 100)], "_src long, _dst long"),
        n_walks=1, length=4).collect()
    assert sorted((r.step, r.node) for r in dead) == [(0, 0), (1, 100)]
    und = random_walks(
        spark.createDataFrame([(0, 1)], "_src long, _dst long"),
        n_walks=1, length=3, directed=False).collect()
    assert len(und) == 8  # both starts walk the full length

    with pytest.raises(ValueError, match="n_walks"):
        random_walks(edf, n_walks=0)
    with pytest.raises(ValueError, match="length"):
        random_walks(edf, length=0)


@pytest.mark.full_tier
def test_k_truss_brute_force_parity(spark):
    # distributed peeling must equal the sequential fixpoint on every
    # structural shape: clique+pendant path, triangles sharing an
    # edge, and a random multigraph — for every k
    import itertools
    import random

    import pytest

    from graphlite_spark.operators.paths import k_truss

    def brute(edges, k):
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        changed = True
        while changed:
            changed = False
            adj = {}
            for x, y in es:
                adj.setdefault(x, set()).add(y)
                adj.setdefault(y, set()).add(x)
            drop = {e for e in es if len(adj[e[0]] & adj[e[1]]) < k - 2}
            if drop:
                es -= drop
                changed = True
        return es

    rng = random.Random(9)
    cases = [
        list(itertools.combinations(range(5), 2)) + [(4, 10), (10, 11)],
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)],  # 2 tris share an edge
        [(rng.randrange(14), rng.randrange(14)) for _ in range(40)],
    ]
    for edges in cases:
        edf = spark.createDataFrame(edges, "_src long, _dst long")
        for k in (2, 3, 4, 5):
            got = {(r._src, r._dst) for r in k_truss(edf, k).collect()}
            assert got == brute(edges, k), (edges[:6], k)
    # an s-clique is exactly an s-truss: the 5-truss of clique5+path
    # is the clique's 10 edges; the 6-truss is empty
    edf = spark.createDataFrame(cases[0], "_src long, _dst long")
    assert k_truss(edf, 5).count() == 10
    assert k_truss(edf, 6).count() == 0
    with pytest.raises(ValueError, match="k must be"):
        k_truss(edf, 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        # a long chain of edge-sharing triangles peels one triangle
        # per round: max_iters=1 cannot reach the fixpoint
        chain = [(i, i + 1) for i in range(8)] + \
            [(i, i + 2) for i in range(7)]
        k_truss(spark.createDataFrame(chain, "_src long, _dst long"),
                4, max_iters=1)


@pytest.mark.full_tier
def test_truss_decomposition_brute_force_parity(spark):
    import itertools
    import random

    import pytest

    from graphlite_spark.operators.paths import truss_decomposition

    def brute(edges):
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        tn, k = {}, 3
        while es:
            cur, changed = set(es), True
            while changed:
                changed = False
                adj = {}
                for x, y in cur:
                    adj.setdefault(x, set()).add(y)
                    adj.setdefault(y, set()).add(x)
                drop = {e for e in cur
                        if len(adj[e[0]] & adj[e[1]]) < k - 2}
                if drop:
                    cur -= drop
                    changed = True
            for e in es - cur:
                tn[e] = k - 1
            es, k = cur, k + 1
        return tn

    rng = random.Random(4)
    cases = [
        list(itertools.combinations(range(5), 2)) + [(4, 10), (10, 11)],
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)],
        [(rng.randrange(12), rng.randrange(12)) for _ in range(36)],
    ]
    for edges in cases:
        edf = spark.createDataFrame(edges, "_src long, _dst long")
        got = {(r._src, r._dst): r.trussness
               for r in truss_decomposition(edf).collect()}
        assert got == brute(edges), edges[:6]
    # clique-5 edges are exactly 5-trussness; pendant edges 2
    g = {(r._src, r._dst): r.trussness for r in truss_decomposition(
        spark.createDataFrame(cases[0], "_src long, _dst long")
    ).collect()}
    assert g[(0, 1)] == 5 and g[(4, 10)] == 2 and g[(10, 11)] == 2
    with pytest.raises(ValueError, match="max_trussness"):
        truss_decomposition(
            spark.createDataFrame(cases[0], "_src long, _dst long"),
            max_trussness=1)
    with pytest.raises(RuntimeError, match="max_trussness"):
        truss_decomposition(
            spark.createDataFrame(cases[0], "_src long, _dst long"),
            max_trussness=3)
    # max_trussness=2 is SUFFICIENT for a triangle-free graph (every
    # edge has trussness 2) — was an unconditional raise before the
    # r8 review pass
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                 "_src long, _dst long")
    g2 = {(r._src, r._dst): r.trussness
          for r in truss_decomposition(path, max_trussness=2).collect()}
    assert g2 == {(0, 1): 2, (1, 2): 2, (2, 3): 2}


@pytest.mark.full_tier
def test_betweenness_sampled_estimator(spark):
    # Brandes-Pich sampled estimate: deterministic Knuth-hash source
    # sample, |V|/|S| scaling, and a pinned relative error vs the
    # all-sources exact run on a chain forest (40 chains x 25 nodes)
    import pytest
    from pyspark.sql import functions as F

    from graphlite_spark.operators.paths import (
        betweenness_centrality,
        betweenness_sampled,
    )

    edges = [(c * 100 + i, c * 100 + i + 1)
             for c in range(40) for i in range(24)]
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    edf = spark.createDataFrame(edges, "_src long, _dst long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")

    exact = {r.node: r.betweenness for r in
             betweenness_centrality(edf, ndf, max_hops=8).collect()}
    est = {r.node: r.betweenness for r in
           betweenness_sampled(edf, ndf, p=0.3, salt=3,
                               max_hops=8).collect()}
    # replicate the sampling rule to check the scale factor exactly
    kept = [n for n in nodes
            if ((n + 3) * 2654435761) % 4294967296 < int(0.3 * 2 ** 32)]
    assert 0 < len(kept) < len(nodes)
    scale = len(nodes) / len(kept)
    sub = {r.node: r.betweenness for r in betweenness_centrality(
        edf, spark.createDataFrame([(n,) for n in kept], "node long"),
        max_hops=8).collect()}
    for n, v in est.items():
        assert abs(v - round(sub[n] * scale, 6)) < 1e-6
    # pinned estimator quality on this corpus: total mass within 15%
    tot_exact = sum(exact.values())
    tot_est = sum(est.values())
    assert abs(tot_est - tot_exact) / tot_exact < 0.15, (
        tot_exact, tot_est)

    with pytest.raises(ValueError, match="p must be"):
        betweenness_sampled(edf, ndf, p=0.0)
    with pytest.raises(ValueError, match="sampled 0"):
        betweenness_sampled(edf, ndf, p=1e-9, salt=1)

    # 64-bit node ids (xxhash64-scale) must not ANSI-overflow the
    # sampling hash: the 16/16-split multiply handles any long
    big = 7_000_000_000_000
    bedges = [(big + a, big + b) for a, b in edges[:48]]
    bnodes = sorted({a for a, _ in bedges} | {b for _, b in bedges})
    bout = betweenness_sampled(
        spark.createDataFrame(bedges, "_src long, _dst long"),
        spark.createDataFrame([(n,) for n in bnodes], "node long"),
        p=0.5, salt=3, max_hops=8)
    assert bout.count() > 0


@pytest.mark.full_tier
def test_shortest_path_pair_bidirectional(spark):
    from graphlite_spark.operators.paths import bfs_distances, shortest_path_pair

    # 12-chain with a branch: 0->..->11, plus 3->20->21
    chain = [(i, i + 1) for i in range(11)] + [(3, 20), (20, 21)]
    e = spark.createDataFrame(chain, "_src: long, _dst: long")

    def d(s, t, **kw):
        rows = shortest_path_pair(e, s, t, **kw).collect()
        return rows[0]["dist"] if rows else None

    assert d(0, 11, max_hops=15) == 11
    assert d(0, 21, max_hops=15) == 5
    assert d(5, 5) == 0
    assert d(0, 11, max_hops=5) is None        # beyond horizon
    assert d(11, 0, max_hops=15) is None       # directed: no back path
    assert d(11, 0, max_hops=15, directed=False) == 11
    assert d(21, 9, directed=False) == 8       # 21-20-3-4..9

    # frame-typed endpoints (no driver round-trip needed by callers)
    from pyspark.sql import functions as F
    s_f = spark.createDataFrame([(0,)], "n: long")
    t_f = spark.createDataFrame([(11,)], "n: long")
    rows = shortest_path_pair(e, s_f, t_f, max_hops=15).collect()
    assert rows[0]["dist"] == 11

    # parity vs single-source BFS on a random-ish dense graph
    import random
    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(70)})
    e2 = spark.createDataFrame(edges, "_src: long, _dst: long")
    src = spark.createDataFrame([(0,)], "node: long")
    ref = {r["node"]: r["dist"]
           for r in bfs_distances(e2, src, max_hops=10).collect()}
    for t in [5, 13, 29, 17]:
        got = d2 = None
        rows = shortest_path_pair(e2, 0, t, max_hops=10).collect()
        got = rows[0]["dist"] if rows else None
        assert got == ref.get(t), (t, got, ref.get(t))


def test_maximal_independent_set(spark):
    from graphlite_spark.operators.paths import maximal_independent_set

    # clique(4) + chain(5) + isolated node, plus a duplicate/reversed
    # edge to exercise canonicalization
    import itertools
    clique = list(itertools.combinations(range(4), 2))
    chain = [(10 + i, 11 + i) for i in range(4)]
    edges = clique + chain + [(1, 0), (20, 20)]
    e = spark.createDataFrame(edges, "_src: long, _dst: long")
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(4)) + list(range(10, 15)) + [20, 30]],
        "node: long")
    got = sorted(r["node"] for r in
                 maximal_independent_set(e, nodes, salt=1).collect())

    # pure-python Luby replica with the same priorities
    from tests.test_sketches import py_mix32
    adj: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    und = {r[0] for r in nodes.collect()}
    mis: set = set()
    while any(adj.get(u) and (adj[u] & und) for u in und):
        pri = {u: (py_mix32(u, 1), u) for u in und}
        winners = {u for u in und if adj.get(u) and (adj[u] & und)
                   and all(pri[u] < pri[v] for v in adj[u] & und)}
        knocked = {v for w in winners for v in adj[w] & und}
        mis |= winners
        und -= winners | knocked
    mis |= und  # isolated leftovers
    assert got == sorted(mis)

    # structural properties: independence + maximality
    es = {(a, b) for a, b in edges if a != b}
    es |= {(b, a) for a, b in es}
    s = set(got)
    assert not any((a, b) in es for a in s for b in s)
    allnodes = {r[0] for r in nodes.collect()}
    for v in allnodes - s:
        assert any((v, u) in es for u in s), v

    # bound raises
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="not done"):
        maximal_independent_set(e, nodes, max_rounds=0)


def test_maximal_matching(spark):
    from graphlite_spark.operators.paths import maximal_matching
    from tests.test_sketches import py_mix32

    import itertools
    M32 = 1 << 32
    clique = list(itertools.combinations(range(5), 2))
    chain = [(10 + i, 11 + i) for i in range(5)]
    edges = clique + chain + [(2, 1), (30, 30)]
    e = spark.createDataFrame(edges, "_src: long, _dst: long")
    got = sorted((r["node_u"], r["node_v"]) for r in
                 maximal_matching(e, salt=2).collect())

    # pure-python replica with identical priorities and rounds
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    pri = {(a, b): (py_mix32((py_mix32(a, 2) + b) % M32, 2), a, b)
           for a, b in canon}
    live = set(canon)
    matched = []
    while live:
        cand = {}
        for a, b in live:
            for n in (a, b):
                if n not in cand or pri[(a, b)] < pri[cand[n]]:
                    cand[n] = (a, b)
        hits = [eb for eb in live if cand[eb[0]] == eb and cand[eb[1]] == eb]
        matched += hits
        used = {n for eb in hits for n in eb}
        live = {eb for eb in live if eb[0] not in used and eb[1] not in used}
    assert got == sorted(matched)

    # matching property: no node appears twice; maximality: every
    # original edge has a matched endpoint
    seen = [n for uv in got for n in uv]
    assert len(seen) == len(set(seen))
    ms = set(seen)
    for a, b in canon:
        assert a in ms or b in ms, (a, b)

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="not done"):
        maximal_matching(e, max_rounds=0)
    # empty graph -> empty typed frame
    empty = spark.createDataFrame([], "_src: long, _dst: long")
    assert maximal_matching(empty).count() == 0


def test_maximal_matching_weighted_preis(spark):
    from graphlite_spark.operators.paths import maximal_matching

    # path a-b-c-d with weights 1, 10, 1: locally-heaviest matches
    # ONLY b-c (weight 10) then a/d are isolated -> maximal
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 10.0), (2, 3, 1.0)],
        "_src: long, _dst: long, w: double")
    got = [(r["node_u"], r["node_v"], r["weight"]) for r in
           maximal_matching(e, weight_col="w").collect()]
    assert got == [(1, 2, 10.0)]

    # even weights: w(a-b)=5, w(b-c)=3, w(c-d)=5 -> outer pair wins
    e2 = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 3.0), (2, 3, 5.0)],
        "_src: long, _dst: long, w: double")
    got2 = sorted((r["node_u"], r["node_v"]) for r in
                  maximal_matching(e2, weight_col="w").collect())
    assert got2 == [(0, 1), (2, 3)]

    # parallel edges keep the max weight; Preis half-approx sanity on
    # a star + rim: center-heavy edge matched first
    e3 = spark.createDataFrame(
        [(0, 1, 2.0), (0, 1, 7.0), (1, 2, 4.0)],
        "_src: long, _dst: long, w: double")
    got3 = [(r["node_u"], r["node_v"], r["weight"]) for r in
            maximal_matching(e3, weight_col="w").collect()]
    assert got3 == [(0, 1, 7.0)]


def test_greedy_coloring(spark):
    from graphlite_spark.operators.paths import (greedy_coloring,
                                                 maximal_independent_set)

    import itertools
    clique = list(itertools.combinations(range(4), 2))
    chain = [(10 + i, 11 + i) for i in range(6)]
    edges = clique + chain
    e = spark.createDataFrame(edges, "_src: long, _dst: long")
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(4)) + list(range(10, 17)) + [50]],
        "node: long")
    got = {r["node"]: r["color"] for r in
           greedy_coloring(e, nodes, salt=3).collect()}
    # total
    assert set(got) == {r[0] for r in nodes.collect()}
    # proper
    for a, b in edges:
        assert got[a] != got[b], (a, b)
    # clique forces exactly 4 colors there; chain stays small
    assert {got[i] for i in range(4)} == set(range(4))
    assert max(got[i] for i in list(range(10, 17))) <= 2
    assert got[50] == 0  # isolated -> first wave
    # wave 0 IS the MIS of the whole graph with the same salt
    mis0 = {r["node"] for r in
            maximal_independent_set(e, nodes, salt=3).collect()}
    assert {n for n, c in got.items() if c == 0} == mis0

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="not done"):
        greedy_coloring(e, nodes, max_colors=2)


def test_is_bipartite(spark):
    from graphlite_spark.operators.paths import is_bipartite

    # even 6-cycle (bipartite), odd 5-cycle (not), a chain (bipartite),
    # a triangle with a tail (not), and an isolated node (trivially is)
    even = [(i, (i + 1) % 6) for i in range(6)]
    odd = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    chain = [(20 + i, 21 + i) for i in range(4)]
    tri = [(30, 31), (31, 32), (32, 30), (32, 33)]
    e = spark.createDataFrame(even + odd + chain + tri,
                              "_src: long, _dst: long")
    nodes = spark.createDataFrame(
        [(i,) for i in (list(range(6)) + list(range(10, 15))
                        + list(range(20, 25)) + list(range(30, 34))
                        + [99])],
        "node: long")
    got = {r["comp"]: (r["bipartite"], r["n_nodes"])
           for r in is_bipartite(e, nodes).collect()}
    assert got[0] == (True, 6)
    assert got[10] == (False, 5)
    assert got[20] == (True, 5)
    assert got[30] == (False, 4)
    assert got[99] == (True, 1)


def test_node2vec_walks_python_replay_and_uniform_equivalence(spark):
    """The biased sampler replayed step-for-step in pure Python
    (sorted neighbors, integer cumulative weights, Knuth bucket mod
    total) matches the distributed walks EXACTLY — dead ends, bias
    cases and all; p=q=1 degenerates to random_walks bit-for-bit."""
    from fractions import Fraction

    from graphlite_spark.operators.paths import node2vec_walks, random_walks

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 0), (3, 0),
             (2, 5), (5, 6)]  # 6 is a dead end
    df = spark.createDataFrame(edges, "_src long, _dst long")
    p_s, q_s, salt, n_walks, length = "4", "1/4", 7, 3, 8
    out = node2vec_walks(df, n_walks=n_walks, length=length, p=p_s,
                         q=q_s, salt=salt)
    got = {}
    for r in out.collect():
        got.setdefault((r.start, r.walk_id), {})[r.step] = r.node
    walks = {k: [v[i] for i in range(len(v))] for k, v in got.items()}

    # pure-python replay
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    adj = {k: sorted(v) for k, v in adj.items()}
    P, Q = Fraction(p_s), Fraction(q_s)
    w_ret, w_in, w_out = 1 / P, Fraction(1), 1 / Q
    import math
    sc = math.lcm(w_ret.denominator, w_out.denominator)
    WR, WI, WO = int(w_ret * sc), int(sc), int(w_out * sc)

    def bucket(key):
        return ((key % 2**32 + salt) % 2**32) * 2654435761 % 2**32

    expected = {}
    for start in sorted(adj):
        for wid in range(n_walks):
            walk, cur, prev = [start], start, None
            for t in range(1, length + 1):
                nb = adj.get(cur)
                if not nb:
                    break
                if prev is None:
                    wts = [1] * len(nb)
                else:
                    pn = set(adj.get(prev, []))
                    wts = [WR if x == prev else WI if x in pn else WO
                           for x in nb]
                seed = (cur % 1000003) * 131071 + wid * 1031 + t
                r = bucket(seed) % sum(wts)
                for x, w in zip(nb, wts):
                    if w > r:
                        nxt = x
                        break
                    r -= w
                walk.append(nxt)
                prev, cur = cur, nxt
            expected[(start, wid)] = walk
    assert walks == expected
    # the dead end terminated at least one walk early
    assert any(len(w) < length + 1 for w in expected.values())
    # bias sanity: at least one step where prev mattered produced a
    # different node than the uniform sampler
    uni = {}
    for r in random_walks(df, n_walks=n_walks, length=length,
                          salt=salt).collect():
        uni.setdefault((r.start, r.walk_id), {})[r.step] = r.node
    uni = {k: [v[i] for i in range(len(v))] for k, v in uni.items()}
    assert uni != walks

    # p=q=1 == uniform random_walks exactly
    same = {}
    for r in node2vec_walks(df, n_walks=2, length=6, p=1, q=1,
                            salt=salt).collect():
        same.setdefault((r.start, r.walk_id), {})[r.step] = r.node
    same = {k: [v[i] for i in range(len(v))] for k, v in same.items()}
    uni2 = {}
    for r in random_walks(df, n_walks=2, length=6, salt=salt).collect():
        uni2.setdefault((r.start, r.walk_id), {})[r.step] = r.node
    uni2 = {k: [v[i] for i in range(len(v))] for k, v in uni2.items()}
    assert same == uni2

    with pytest.raises(ValueError):
        node2vec_walks(df, p=0)
    with pytest.raises(ValueError):
        node2vec_walks(df, p="1/3000000")


def test_eccentricity_and_diameter(spark):
    from graphlite_spark.operators.paths import eccentricity, graph_diameter

    # chain 0->1->2->3 and a separate pair 10->11
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "_src long, _dst long")
    n = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 10, 11)],
                              "node long")
    ecc = {r.node: (r.eccentricity, r.n_reachable)
           for r in eccentricity(e, n).collect()}
    assert ecc == {0: (3, 4), 1: (2, 3), 2: (1, 2), 3: (0, 1),
                   10: (1, 2), 11: (0, 1)}
    assert graph_diameter(e, n).collect()[0].diameter == 3
    # undirected: the pair has diameter 1, chain 3
    ecc_u = {r.node: r.eccentricity
             for r in eccentricity(e, n, directed=False).collect()}
    assert ecc_u == {0: 3, 1: 2, 2: 2, 3: 3, 10: 1, 11: 1}


def test_feature_propagation_closed_form(spark):
    """Chain 0->1->2 with include_self: r1(v) = mean(e(v), e(v-1));
    two rounds nest; isolated node keeps its vector; include_self=False
    leaves no-message nodes unchanged."""
    from graphlite_spark.operators.paths import feature_propagation

    nodes = spark.createDataFrame(
        [(0, [0.0, 8.0]), (1, [2.0, 0.0]), (2, [4.0, 4.0]),
         (9, [7.0, 7.0])],
        "vec_id long, embedding array<double>")
    e = spark.createDataFrame([(0, 1), (1, 2)], "_src long, _dst long")

    r1 = {r.vec_id: r.embedding
          for r in feature_propagation(nodes, e, rounds=1).collect()}
    assert r1[0] == [0.0, 8.0]            # no in-neighbors: self mean
    assert r1[1] == [1.0, 4.0]            # mean(self, 0)
    assert r1[2] == [3.0, 2.0]            # mean(self, 1)
    assert r1[9] == [7.0, 7.0]            # isolated

    r2 = {r.vec_id: r.embedding
          for r in feature_propagation(nodes, e, rounds=2).collect()}
    assert r2[1] == [0.5, 6.0]            # mean(r1(1), r1(0))
    assert r2[2] == [2.0, 3.0]            # mean(r1(2), r1(1))

    ns = {r.vec_id: r.embedding
          for r in feature_propagation(nodes, e, rounds=1,
                                       include_self=False).collect()}
    assert ns[0] == [0.0, 8.0]            # no messages: unchanged
    assert ns[1] == [0.0, 8.0]            # exactly neighbor 0's vector
    assert ns[9] == [7.0, 7.0]

    import pytest as _pt
    with _pt.raises(ValueError):
        feature_propagation(nodes, e, rounds=0)


def test_table_profile(spark):
    from graphlite_spark.operators.analytics import table_profile

    rows = [(1, 10.0, "a"), (2, None, "b"), (3, 10.0, None),
            (4, 30.0, "a"), (5, 20.0, "c")]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    prof = {r.column: r for r in table_profile(df, p=10).collect()}
    assert set(prof) == {"id", "v", "s"}
    r = prof["id"]
    assert (r.n_rows, r.n_null, r.null_rate) == (5, 0, 0.0)
    assert (r.min_value, r.max_value) == ("1", "5")
    assert r.mean == 3.0
    # 5 distinct small ints: HLL exact at this range
    assert abs(r.approx_distinct - 5) < 0.6
    v = prof["v"]
    assert (v.n_null, v.null_rate) == (1, 0.2)
    assert v.min_value == "10.0" and v.max_value == "30.0"
    assert v.mean == 17.5
    assert abs(v.approx_distinct - 3) < 0.5  # xxhash64-folded doubles
    s = prof["s"]
    assert s.n_null == 1 and s.mean is None and s.stddev is None
    assert (s.min_value, s.max_value) == ("a", "c")
    assert abs(s.approx_distinct - 3) < 0.5


def test_anomaly_zscore(spark):
    from graphlite_spark.operators.analytics import anomaly_zscore

    rows = [(1, i, 10.0) for i in range(8)] + [(1, 8, 100.0), (1, 9, 10.0)]
    rows += [(2, 0, 5.0), (2, 1, 6.0)]  # too little history to flag
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = {(r.k, r.t): r for r in anomaly_zscore(
        df, "v", ["k"], ["t"], window=5, threshold=3.0).collect()}
    assert out[(1, 0)].zscore is None          # empty baseline
    assert out[(1, 1)].zscore is None          # 1-row baseline
    assert out[(1, 2)].zscore is None          # zero variance
    assert out[(1, 8)].zscore is None          # baseline all-10s: std 0
    # after the spike enters the baseline, the return to 10 is NOT
    # anomalous (std now huge)
    assert out[(1, 9)].is_anomaly is False and out[(1, 9)].zscore is not None
    assert out[(2, 1)].is_anomaly is False

    # a real spike over a varied baseline flags
    rows2 = [(3, i, float(10 + (i % 3))) for i in range(6)] + [(3, 6, 50.0)]
    df2 = spark.createDataFrame(rows2, "k long, t long, v double")
    got = {r.t: r for r in anomaly_zscore(
        df2, "v", ["k"], ["t"], window=5, threshold=3.0).collect()}
    assert got[6].is_anomaly is True and got[6].zscore > 3

    with pytest.raises(ValueError):
        anomaly_zscore(df, "v", ["k"], ["t"], window=1)


def test_katz_centrality_chain_closed_form(spark):
    from graphlite_spark.operators.paths import katz_centrality

    # chain 0 -> 1 -> 2 -> 3: after t iters,
    # x(v) = beta * sum_{j=0..min(pos,t)} alpha^j
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                              "_src long, _dst long")
    n = spark.createDataFrame([(i,) for i in range(4)], "node long")
    a, b = 0.5, 2.0
    got = {r.node: r.katz
           for r in katz_centrality(e, n, alpha=a, beta=b,
                                    num_iter=3).collect()}
    want = {v: round(b * sum(a ** j for j in range(min(v, 3) + 1)), 6)
            for v in range(4)}
    assert got == want

    import pytest as _pt
    with _pt.raises(ValueError):
        katz_centrality(e, n, num_iter=0)


def test_degree_assortativity(spark):
    import math

    from graphlite_spark.operators.paths import degree_assortativity

    # star 0-{1,2,3}: every undirected edge pairs degree 3 with
    # degree 1 -> x constant per orientation pairing... both
    # orientations included, so pairs are (3,1) x3 and (1,3) x3:
    # perfectly anti-correlated -> r = -1
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)],
                                 "_src long, _dst long")
    r = degree_assortativity(star).collect()[0]
    assert r.n_edges == 3 and r.assortativity == -1.0

    # 4-cycle: all degrees 2 -> corr undefined (zero variance): NULL
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)],
                                "_src long, _dst long")
    r2 = degree_assortativity(cyc).collect()[0]
    assert r2.assortativity is None and r2.n_edges == 4

    # directed: 0->1, 0->2, 1->2: pairs (outdeg(src), indeg(dst)) =
    # (2,1), (2,2), (1,2) -> pearson of x=[2,2,1], y=[1,2,2] = -0.5
    d = spark.createDataFrame([(0, 1), (0, 2), (1, 2)],
                              "_src long, _dst long")
    r3 = degree_assortativity(d, directed=True).collect()[0]
    assert r3.assortativity == -0.5 and r3.n_edges == 3


def test_closeness_sampled_p1_equals_exact_and_rel_err_pinned(spark):
    """p=1.0 reproduces the exact operator EXACTLY (same truncation
    bound, scale ratio 1, self-inclusive reach count); at p=0.25 the
    Eppstein-Wang estimate's aggregate error on the sf0.001 chains is
    deterministic (hash sampling) and pinned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphlite_spark.datasets.tpch import load_table
    from graphlite_spark.operators.paths import (closeness_centrality,
                                                 closeness_sampled)

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(F.col("event_id").alias("_src"),
                  F.lead("event_id").over(w).alias("_dst"))
        .filter(F.col("_dst").isNotNull())
        .localCheckpoint(eager=False)
    )
    nodes = ev.select(F.col("event_id").alias("node"))

    for harmonic in (True, False):
        exact = {
            r["node"]: (r["n_reachable"], r["closeness"])
            for r in closeness_centrality(
                edges, nodes, max_hops=8, directed=True,
                harmonic=harmonic).collect()
        }
        full = {
            r["node"]: (r["n_reachable"], r["closeness"])
            for r in closeness_sampled(
                edges, nodes, p=1.0, salt=7, max_hops=8, directed=True,
                harmonic=harmonic).collect()
        }
        assert full == exact, f"p=1.0 parity broke (harmonic={harmonic})"

    # 25% sample: deterministic given salt -> the aggregate ratio is a
    # pinned measurement, not a tolerance guess; 1/sqrt(|S|) scaling
    exact_sum = sum(v for _, v in (
        (r["node"], r["closeness"]) for r in closeness_centrality(
            edges, nodes, max_hops=8, directed=True,
            harmonic=True).collect()))
    est_sum = sum(r["closeness"] for r in closeness_sampled(
        edges, nodes, p=0.25, salt=7, max_hops=8, directed=True,
        harmonic=True).collect())
    ratio = est_sum / exact_sum
    assert 0.85 < ratio < 1.15, f"aggregate ratio {ratio}"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="p must be"):
        closeness_sampled(edges, nodes, p=0.0)


def test_leiden_splits_louvains_disconnected_community(spark):
    """The Leiden paper's defect, planted (Fig. 2 shape): bridge node 3
    holds triangles {4,5,6} and {7,8,9} together just long enough for
    them to adopt its label, then defects to the heavy pair {1,2} —
    Louvain leaves {4..9} as ONE community with no internal edge
    between the triangles (provably disconnected), Leiden's refinement
    splits it. Also pins the refinement invariant: every Leiden
    community induces a connected subgraph."""
    from graphlite_spark.operators.paths import (
        connected_components,
        leiden_communities,
        louvain_communities,
    )

    edges = [(1, 2, 8.0), (3, 1, 25.0)]
    for grp in ([4, 5, 6], [7, 8, 9]):
        for i in range(3):
            for j in range(i + 1, 3):
                edges.append((grp[i], grp[j], 1.0))
        for x in grp:
            edges.append((3, x, 3.0))
    e = spark.createDataFrame(edges, "_src long, _dst long, w double")
    n = spark.createDataFrame([(i,) for i in range(1, 10)], "node long")

    lv = {r.node: r.community
          for r in louvain_communities(e, n, weight_col="w").collect()}
    ld = {r.node: r.community
          for r in leiden_communities(e, n, weight_col="w").collect()}
    # Louvain: the abandoned community {4..9} keeps one label...
    assert lv == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4,
                  7: 4, 8: 4, 9: 4}
    # ...and is provably disconnected: its induced subgraph has no
    # edge between {4,5,6} and {7,8,9} (bridge 3 lives elsewhere)
    bad = [s for s, d, _ in edges
           if lv.get(s) == 4 and lv.get(d) == 4
           and ((s <= 6) != (d <= 6))]
    assert bad == []
    # Leiden splits it into the two connected triangles
    assert ld == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4,
                  7: 7, 8: 7, 9: 7}

    # refinement invariant on the full output: within every Leiden
    # community, the community's induced subgraph is ONE connected
    # component
    from pyspark.sql import functions as F

    lab = spark.createDataFrame(list(ld.items()), "node long, c long")
    intra = (
        e.join(lab.withColumnRenamed("node", "_src")
               .withColumnRenamed("c", "c1"), "_src")
        .join(lab.withColumnRenamed("node", "_dst")
              .withColumnRenamed("c", "c2"), "_dst")
        .filter("c1 = c2").select("_src", "_dst")
    )
    cc = connected_components(intra, lab.select("node"))
    joined = cc.join(lab, "node")
    n_parts = joined.select("c", "comp").distinct().groupBy("c").count()
    assert all(r["count"] == 1 for r in n_parts.collect())


def test_eccentricity_sampled_bound_and_p1_parity(spark):
    """eccentricity_sampled: p=1.0 reproduces exact eccentricity at
    the same truncation bound; p<1 is a LOWER bound everywhere (max
    by inclusion); empty sample raises."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphlite_spark.datasets.tpch import load_table
    from graphlite_spark.operators.paths import (eccentricity,
                                                 eccentricity_sampled)

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(F.col("event_id").alias("_src"),
                  F.lead("event_id").over(w).alias("_dst"))
        .filter(F.col("_dst").isNotNull())
        .localCheckpoint(eager=False)
    )
    nodes = ev.select(F.col("event_id").alias("node"))

    exact = {r.node: (r.eccentricity, r.n_reachable)
             for r in eccentricity(edges, nodes, max_hops=8).collect()}
    full = {r.node: (r.eccentricity, r.n_reachable)
            for r in eccentricity_sampled(edges, nodes, p=1.0, salt=7,
                                          max_hops=8).collect()}
    assert set(full) == set(exact)
    for n, (e, r) in full.items():
        assert e == exact[n][0], n
        assert r + 1 == exact[n][1], n   # self excluded in sampled

    lower = {r.node: r.eccentricity
             for r in eccentricity_sampled(edges, nodes, p=0.25,
                                           salt=7, max_hops=8).collect()}
    assert all(lower[n] <= exact[n][0] for n in lower)
    assert any(v > 0 for v in lower.values())

    import pytest as _pytest
    with _pytest.raises(ValueError, match="p must be"):
        eccentricity_sampled(edges, nodes, p=1.5)
