"""Pipeline-operator tests with hand-computable expectations."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different content about spark engines"),
        (5, "  THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG "),  # case/space dup of 1
        (6, ""),
    ]
    return spark.createDataFrame(data, "doc_id: long, text: string")


def test_exact_dedup(docs):
    from graphlite_spark.operators.dedup import exact_dedup

    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    # 1 survives (3 and 5 are normalized dups); 2, 4, 6 unique
    assert kept == [1, 2, 4, 6]


def test_exact_dedup_no_normalize(docs):
    from graphlite_spark.operators.dedup import exact_dedup

    kept = sorted(r.doc_id for r in exact_dedup(docs, normalize=False).collect())
    assert kept == [1, 2, 4, 5, 6]


def test_jaccard_pairs(docs):
    from graphlite_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True).collect()
    }
    # docs 1/3 identical → J=1.0; 1/2 and 2/3 differ in last word (7 shared of 7+7 shingles... J=6/8)
    assert pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any({4, 6} & set(k) for k in pairs)


def test_minhash_lsh_recall(docs):
    from graphlite_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, n=3, threshold=0.5, words=True).collect()}
    assert lsh <= exact  # exact-verified: no false positives
    assert (1, 3) in lsh  # identical docs always collide


def test_simhash_identical(docs):
    from graphlite_spark.operators.dedup import simhash_pairs

    got = {(r.id_a, r.id_b): r.hamming for r in
           simhash_pairs(docs, max_hamming=10, n=3, words=True).collect()}
    assert got.get((1, 3)) == 0


def test_token_count(docs):
    from graphlite_spark.operators.text import token_count

    by_id = {r.doc_id: r for r in token_count(docs).collect()}
    assert by_id[1].n_tokens == 9
    assert by_id[6].n_tokens == 0
    assert by_id[1].n_chars == len("the quick brown fox jumps over the lazy dog")
    # subwords: ceil(len/4) per token: the=1 quick=2 brown=2 fox=1 jumps=2
    # over=1 the=1 lazy=1 dog=1 → 12
    assert by_id[1].n_subwords == 12


def test_lang_id(docs, spark):
    from graphlite_spark.operators.text import lang_id

    extra = spark.createDataFrame(
        [(10, "der hund und die katze und das haus"),
         (11, "le chat et la maison et les arbres"),
         (12, "xyzzy plugh")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.lang_guess for r in lang_id(extra).collect()}
    assert got == {10: "de", 11: "fr", 12: "und"}


def test_fingerprint_order_invariance(spark):
    from graphlite_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: (r.content_hash, r.shingle_hash) for r in fingerprint(df).collect()}
    assert got[1][0] != got[2][0]          # different exact content
    assert got[1][1] == got[2][1]          # same word set
    assert got[1][1] != got[3][1]


def test_cosine_topk_exact(spark):
    from graphlite_spark.operators.similarity import cosine_topk

    items = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])], "query_id: long, embedding: array<double>")
    got = [(r.item_id, r.score) for r in
           cosine_topk(items, q, k=2).orderBy("score", ascending=False).collect()]
    assert [i for i, _ in got] == [2, 3]
    assert got[0][1] > 0.99


def test_lsh_ann_subset_of_exact(spark):
    import random

    from graphlite_spark.operators.similarity import cosine_topk, lsh_ann_topk

    rng = random.Random(7)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)],
        "vec_id: long, embedding: array<double>",
    )
    q = items.filter("vec_id = 0").selectExpr("vec_id AS query_id", "embedding")
    exact = [r.item_id for r in cosine_topk(items, q, k=5).collect()]
    # few planes for tiny data: 2^4 buckets over 100 items keeps recall up
    approx = [r.item_id for r in
              lsh_ann_topk(items, q, k=5, dim=16, num_planes=4).collect()]
    assert len(approx) <= 5 and len(set(approx) & set(exact)) >= 1


def test_lsh_topk_recall_floor_on_clusters(spark):
    # Where LSH's guarantee actually applies — clustered corpora whose
    # true neighbors are genuinely near (cosine >= ~0.95) — the
    # multi-table path must recover nearly all of them. 20 clusters of
    # 10 tightly-perturbed copies; each query's top-5 are its own
    # cluster mates.
    import random

    from graphlite_spark.operators.similarity import (
        ann_recall_audit, cosine_topk, lsh_ann_topk,
    )

    rng = random.Random(3)
    rows = []
    for c in range(20):
        center = [rng.uniform(-1, 1) for _ in range(16)]
        for j in range(10):
            rows.append((c * 10 + j,
                         [v + rng.uniform(-0.02, 0.02) for v in center]))
    items = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>")
    q = items.filter("vec_id % 10 = 0 AND vec_id < 50").selectExpr(
        "vec_id AS query_id", "embedding")
    exact = cosine_topk(items, q, k=5)
    ann = lsh_ann_topk(items, q, k=5, dim=16, num_planes=8, n_tables=8)
    audit = ann_recall_audit(exact, ann).collect()[0]
    assert audit.n_exact_rows == 25
    assert audit.recall_at_k >= 0.9, audit.asDict()


def test_ann_recall_audit_counts(spark):
    # the audit itself: hits = |ann ∩ exact| per construction
    from graphlite_spark.operators.similarity import ann_recall_audit

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "query_id: long, item_id: long")
    ann = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 12), (2, 10)], "query_id: long, item_id: long")
    row = ann_recall_audit(exact, ann).collect()[0]
    assert (row.n_exact_rows, row.n_ann_rows, row.n_hits) == (4, 4, 3)
    assert row.recall_at_k == 0.75


def test_cosine_dup_pairs_exact_and_lsh(spark):
    from graphlite_spark.operators.similarity import cosine_dup_pairs

    items = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [1.0, 0.001, 0.0]), (5, [-1.0, 0.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    exact = {(r.id_a, r.id_b) for r in
             cosine_dup_pairs(items, threshold=0.99, exact=True).collect()}
    assert exact == {(1, 2), (1, 4), (2, 4)}
    approx = {(r.id_a, r.id_b) for r in
              cosine_dup_pairs(items, threshold=0.99, exact=False,
                               dim=3, num_planes=4).collect()}
    assert approx <= exact and (1, 4) in approx


def test_ivf_topk_recall(spark):
    import random

    from graphlite_spark.operators.similarity import cosine_topk, ivf_topk

    rng = random.Random(11)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        "vec_id: long, embedding: array<double>",
    )
    q = items.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    exact = {}
    for r in cosine_topk(items, q, k=5).collect():
        exact.setdefault(r.query_id, []).append(r.item_id)
    got = {}
    for r in ivf_topk(items, q, k=5, n_lists=8, n_probe=4).collect():
        got.setdefault(r.query_id, []).append(r.item_id)
    # probing half the lists should recover most true neighbors
    total_overlap = sum(len(set(got.get(k2, [])) & set(v)) for k2, v in exact.items())
    assert total_overlap >= 8  # of 15


def test_jaccard_prefix_filter_matches_naive(docs):
    from graphlite_spark.operators.dedup import ngram_jaccard_pairs

    naive = {(r.id_a, r.id_b, r.jaccard) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True,
                                 prefix_filter=False).collect()}
    ppj = {(r.id_a, r.id_b, r.jaccard) for r in
           ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True,
                               prefix_filter=True).collect()}
    assert ppj == naive and len(naive) >= 2


def test_jaccard_ppjoin_rank_branches_agree(docs):
    # the size-based frequency-source choice (count window vs sampled
    # broadcast hot-list) must not change results: prefix filtering is
    # exact under any consistent global order. Both branches are pinned
    # explicitly on the SAME data via frequency_strategy; auto mode is
    # bytes-based (Catalyst plan stats), so a repartition() must NOT
    # flip the physical strategy or the results.
    import pytest

    from graphlite_spark.operators.dedup import ngram_jaccard_pairs

    win = {(r.id_a, r.id_b, r.jaccard) for r in
           ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True,
                               frequency_strategy="window").collect()}
    bc = {(r.id_a, r.id_b, r.jaccard) for r in
          ngram_jaccard_pairs(docs, n=3, threshold=0.5, words=True,
                              frequency_strategy="broadcast").collect()}
    auto_wide = {(r.id_a, r.id_b, r.jaccard) for r in
                 ngram_jaccard_pairs(docs.repartition(100), n=3, threshold=0.5,
                                     words=True).collect()}
    assert bc == win and auto_wide == win and len(win) >= 2
    with pytest.raises(ValueError, match="frequency_strategy"):
        ngram_jaccard_pairs(docs, frequency_strategy="bogus")


def test_salted_join_equals_plain_join(spark):
    from graphlite_spark.operators.skew import hybrid_skew_join, salted_join, top_keys

    probe = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k: long, v: long"
    )
    build = spark.createDataFrame(
        [(0, "hot"), (1, "warm"), (2, "cold"), (5, "none")], "k: long, tag: string"
    )
    plain = {(r.k, r.v, r.tag) for r in probe.join(build, "k").collect()}
    salted = {(r.k, r.v, r.tag) for r in salted_join(probe, build, "k", salt=8).collect()}
    assert salted == plain and len(plain) == 300

    hot = top_keys(probe, "k", min_count=100)  # all three keys are "hot" here
    hybrid = {(r.k, r.v, r.tag) for r in
              hybrid_skew_join(probe, build, "k", hot, salt=4).collect()}
    assert hybrid == plain


def test_pagerank_matches_numpy(spark):
    import numpy as np
    from graphlite_spark.operators.paths import pagerank

    # 5-node graph with a dangling node (4)
    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges = spark.createDataFrame([(a, b) for a, b in E], "_src long, _dst long")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = {r.node: r.rank for r in pagerank(edges, nodes, num_iter=25).collect()}

    # numpy power iteration, same semantics (uniform dangling spread)
    d, n = 0.85, 5
    out = {0: [1, 2], 1: [2], 2: [0], 3: [2], 4: []}
    r = np.full(n, 1.0 / n)
    for _ in range(25):
        nxt = np.full(n, (1 - d) / n)
        dangling = sum(r[i] for i in range(n) if not out[i])
        nxt += d * dangling / n
        for i in range(n):
            for j in out[i]:
                nxt[j] += d * r[i] / len(out[i])
        r = nxt
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_triangle_count(spark):
    from graphlite_spark.operators.paths import triangle_count, triangles_per_vertex

    # K4 minus edge (2,3): triangles {0,1,2} and {0,1,3}. Edges given in
    # mixed directions + a duplicate + a self-loop to exercise
    # canonicalization.
    E = [(0, 1), (1, 2), (2, 0), (3, 0), (1, 3), (2, 1), (0, 0)]
    edges = spark.createDataFrame(E, "_src long, _dst long")
    assert triangle_count(edges).collect()[0].n_triangles == 2
    per = {r.node: r.n_triangles for r in triangles_per_vertex(edges).collect()}
    assert per == {0: 2, 1: 2, 2: 1, 3: 1}


def test_bm25_search(docs):
    """Hand-computed Robertson BM25 on the 6-doc fixture."""
    import math

    from graphlite_spark.operators.text import bm25_search

    rows = bm25_search(docs, ["fox", "spark"], k=3).collect()
    # replicate: N=6 (empty doc counts, dl=1 after split('')->['']),
    # dls: docs 1,2,3,5 -> 9 tokens; doc 4 -> 6; doc 6 -> 1
    dls = {1: 9.0, 2: 9.0, 3: 9.0, 4: 6.0, 5: 9.0, 6: 1.0}
    n, avgdl = 6.0, sum(dls.values()) / 6.0
    k1, b = 1.2, 0.75

    def idf(df_):
        return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))

    def tscore(tf, dl, df_):
        return idf(df_) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # 'fox' in docs 1,2,3,5 (tf=1, df=4); 'spark' only in doc 4 (tf=1, df=1)
    exp4 = round(tscore(1, 6.0, 1.0), 6)
    exp_fox = round(tscore(1, 9.0, 4.0), 6)
    assert [r.doc_id for r in rows] == [4, 1, 2]  # spark idf >> fox; id ties
    got = {r.doc_id: r.score for r in rows}
    assert got[4] == pytest.approx(exp4, abs=1e-6)
    assert got[1] == pytest.approx(exp_fox, abs=1e-6)
    assert {r.doc_id: r.n_terms_hit for r in rows} == {4: 1, 1: 1, 2: 1}
    with pytest.raises(ValueError, match="non-empty"):
        bm25_search(docs, [])


def test_pack_documents_bins(spark):
    from pyspark.sql import functions as F

    from graphlite_spark.operators.text import pack_documents

    df = spark.createDataFrame(
        [(i, 300) for i in range(10)], "doc_id: long, n_tokens: long")
    out = pack_documents(df, capacity=1000).orderBy("doc_id").collect()
    # offsets 0,300,...,2700 -> bins 0,0,0,0(900? no): floor(offset/1000)
    assert [r.bin for r in out] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert out[4].bin_offset == 200  # doc 4 starts at 1200 -> offset 200
    # per-group packing restarts offsets
    df2 = df.withColumn("g", (F.col("doc_id") % 2))
    out2 = pack_documents(df2, capacity=1000, by="g").collect()
    assert {(r.g, r.bin) for r in out2} == {(0, 0), (0, 1), (1, 0), (1, 1)}


def test_dedup_clusters_transitive(spark):
    # near-dup similarity is not transitive: A~B, B~C but A!~C must
    # still collapse into ONE cluster with canonical = min id
    from graphlite_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id: long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (0, 4)], "id_a: long, id_b: long"
    )
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0, 5: 1}


def test_quantize_embeddings_cosine_preserved(spark):
    import math
    import random

    from graphlite_spark.operators.similarity import cosine, quantize_embeddings
    from pyspark.sql import functions as F

    rng = random.Random(3)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(20)],
        "vec_id: long, embedding: array<double>",
    )
    q = quantize_embeddings(items)
    rows = {r.vec_id: r for r in q.collect()}
    orig = {r.vec_id: r.embedding for r in items.collect()}
    for i, r in rows.items():
        assert all(-127 <= x <= 127 for x in r.qvec)
        # round-trip error bounded by scale/2 per element
        for x, qx in zip(orig[i], r.qvec):
            assert abs(x - qx * r.scale) <= r.scale / 2 + 1e-12
    # cosine is scale-invariant: quantized cosine tracks exact cosine
    a = items.selectExpr("vec_id AS id_a", "embedding AS va")
    b = items.selectExpr("vec_id AS id_b", "embedding AS vb")
    exact = {(r.id_a, r.id_b): r.c for r in
             a.crossJoin(b).filter("id_a < id_b")
             .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c"))
             .collect()}
    qa = q.selectExpr("vec_id AS id_a", "CAST(qvec AS array<double>) AS va")
    qb = q.selectExpr("vec_id AS id_b", "CAST(qvec AS array<double>) AS vb")
    approx = {(r.id_a, r.id_b): r.c for r in
              qa.crossJoin(qb).filter("id_a < id_b")
              .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c"))
              .collect()}
    worst = max(abs(exact[k] - approx[k]) for k in exact)
    assert worst < 0.02


def test_hash_sample_deterministic_and_nested(spark):
    from graphlite_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], "k: long")
    a = {r.k for r in hash_sample(df, "k", 0.2, salt=7).collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 0.2, salt=7).collect()}
    assert a == b  # partitioning-insensitive (unlike df.sample)
    small = {r.k for r in hash_sample(df, "k", 0.05, salt=7).collect()}
    assert small <= a  # nested: smaller fraction is a subset
    # approximately uniform: 20% +- a few points on 2000 keys
    assert 0.15 < len(a) / 2000 < 0.25
    assert 0.02 < len(small) / 2000 < 0.08
    # a different salt draws a different sample
    c = {r.k for r in hash_sample(df, "k", 0.2, salt=8).collect()}
    assert c != a
    with pytest.raises(ValueError, match="fraction"):
        hash_sample(df, "k", 1.5)


def test_split_assign_stable_and_complete(spark):
    from graphlite_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(3000)], "k: long")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.k: r.split for r in split_assign(df, "k", w, salt=3).collect()}
    again = {r.k: r.split
             for r in split_assign(df.repartition(7), "k", w, salt=3).collect()}
    assert got == again  # a doc never migrates between splits
    from collections import Counter

    counts = Counter(got.values())
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 3000 < 0.85
    assert 0.05 < counts["val"] / 3000 < 0.15
    with pytest.raises(ValueError, match="weights"):
        split_assign(df, "k", {"a": 0.9, "b": 0.3})


def test_scrub_pii(spark):
    from graphlite_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.com or call +1 555-123-4567; ssn 123-45-6789 ip 10.0.0.1")],
        "doc_id: long, text: string",
    )
    out = scrub_pii(df).first().text
    assert "<EMAIL>" in out and "<SSN>" in out and "<IP>" in out and "<PHONE>" in out
    assert "a@b.com" not in out and "123-45-6789" not in out
    # untouched text passes through
    clean = spark.createDataFrame([(2, "no pii here")], "doc_id: long, text: string")
    assert scrub_pii(clean).first().text == "no pii here"


def test_repetition_score(spark, docs):
    from graphlite_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words are different"), (3, "")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in repetition_score(df).collect()}
    assert got[1].repetition == pytest.approx(0.75)  # 1 distinct of 4
    assert got[2].repetition == 0.0
    assert got[3].repetition == 0.0 and got[3].n_tokens == 0


def test_ngram_contamination(spark, docs):
    from graphlite_spark.operators.dedup import ngram_contamination

    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in
           ngram_contamination(docs, probe, n=3, words=True).collect()}
    assert got[1].contamination == 1.0  # identical text
    assert got[3].contamination == 1.0
    assert got[4].contamination == 0.0  # disjoint content
    assert 0.0 < got[2].contamination < 1.0  # near-dup: partial overlap
    assert got[6].n_shingles == 0 and got[6].contamination == 0.0
    # doc 5 is the UPPERCASE variant: shingling is case-sensitive, so
    # it does not overlap the probe — decontamination pipelines
    # normalize first if they want case-folding
    hot = ngram_contamination(docs, probe, n=3, words=True, threshold=0.9)
    assert sorted(r.doc_id for r in hot.collect()) == [1, 3]
    # normalize=True casefolds first: the uppercase variant now matches
    hot2 = ngram_contamination(docs, probe, n=3, words=True, threshold=0.9,
                               normalize=True)
    assert sorted(r.doc_id for r in hot2.collect()) == [1, 3, 5]


def test_mixture_sample_hits_targets(spark):
    from graphlite_spark.operators.sampling import mixture_sample

    # 600 'a' rows, 300 'b', 100 'c'; target mix 1:1 over a/b, drop c
    rows = [(i, "a" if i < 600 else ("b" if i < 900 else "c"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "k: long, g: string")
    out = mixture_sample(df, "g", {"a": 0.5, "b": 0.5}, "k", salt=1)
    from collections import Counter

    got = Counter(r.g for r in out.collect())
    assert "c" not in got  # untargeted group dropped
    # b is binding (300 rows kept); a downsampled to ~300
    assert got["b"] == 300
    assert 240 < got["a"] < 360
    # deterministic + partition-insensitive
    again = Counter(r.g for r in
                    mixture_sample(df.repartition(17), "g",
                                   {"a": 0.5, "b": 0.5}, "k", salt=1).collect())
    assert again == got
    import pytest as _p

    with _p.raises(ValueError, match="targets"):
        mixture_sample(df, "g", {"a": -1.0}, "k")


def test_hash_sample_64bit_keys_no_overflow(spark):
    # ANSI-mode regression: (key+salt)*KNUTH overflows BIGINT for keys
    # above ~3.47e9; the 16/16 split multiply must handle full 64-bit
    # keys (xxhash64 pre-hashes, snowflake ids) and stay congruent to
    # the plain formula for small keys
    from pyspark.sql import functions as F

    from graphlite_spark.operators.sampling import _KNUTH, _M32, _bucket, hash_sample

    big = spark.createDataFrame(
        [("a",), ("b",), ("zzz",)], "s: string"
    ).withColumn("k", F.xxhash64("s"))
    rows = big.select("k", _bucket(F.col("k"), 3).alias("b")).collect()
    for r in rows:
        expect = ((((r.k % _M32) + _M32) % _M32 + 3) % _M32 * _KNUTH) % _M32
        assert r.b == expect and 0 <= r.b < _M32
    hash_sample(big, "k", 0.5, salt=1).count()  # must not raise
    small = spark.createDataFrame([(i,) for i in range(100)], "k: long")
    got = small.select("k", _bucket(F.col("k"), 7).alias("b")).collect()
    for r in got:
        assert r.b == ((r.k + 7) * _KNUTH) % _M32


def test_simhash_blocking_exact_recall(spark, docs):
    # pigeonhole guarantee: with max_hamming+1 chunks, blocking finds
    # EVERY pair within the radius — verify against brute force
    from graphlite_spark.operators.dedup import simhash64, simhash_pairs

    sims = {r.doc_id: r.simhash
            for r in simhash64(docs, n=3, words=True).collect()}
    ids = sorted(sims)
    for h in (2, 6):
        brute = {(ids[i], ids[j])
                 for i in range(len(ids)) for j in range(i + 1, len(ids))
                 if bin(sims[ids[i]] ^ sims[ids[j]]).count("1") <= h}
        got = {(r.id_a, r.id_b) for r in
               simhash_pairs(docs, max_hamming=h, n=3, words=True).collect()}
        assert got == brute, (h, got ^ brute)


def test_quantize_int4_roundtrip(spark):
    # pack two nibbles per byte; unpack must recover q in [-7,7] and
    # v within scale/2 per element
    from pyspark.sql import functions as F

    from graphlite_spark.operators.similarity import quantize_embeddings_int4

    items = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0, 0.99]),   # odd length -> padded nibble
         (2, [0.0, 0.0]),                       # all-zero vector
         (3, [])],                              # empty vector
        "vec_id: long, embedding: array<double>",
    )
    out = {r.vec_id: r for r in quantize_embeddings_int4(items).collect()}
    r = out[1]
    assert r.dim == 5 and len(r.packed) == 3
    q = []
    for b in r.packed:
        q.append((b & 15) - 8)
        q.append((b >> 4) - 8)
    q = q[: r.dim]
    assert all(-7 <= x <= 7 for x in q)
    vec = [1.0, -0.5, 0.25, 0.0, 0.99]
    for orig, qi in zip(vec, q):
        assert abs(orig - qi * r.scale) <= r.scale / 2 + 1e-12, (orig, qi)
    # padded high nibble of the last byte carries the bias value (q=0)
    assert (r.packed[2] >> 4) == 8
    assert out[2].packed == [8 + 8 * 16] and out[2].scale == 1.0
    assert out[3].packed == [] and out[3].dim == 0


def test_chunk_documents_windows(spark):
    from graphlite_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "   "), (4, "solo")],
        "doc_id: long, text: string",
    )
    got = {(r.doc_id, r.chunk_idx): (r.text, r.n_tokens) for r in
           chunk_documents(docs, max_tokens=3, overlap=1).collect()}
    # doc 1: 7 tokens, window 3, stride 2 -> starts 0,2,4; the last
    # window reaches token 6, so no extra tail chunk
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(1, 1)] == ("c d e", 3)
    assert got[(1, 2)] == ("e f g", 3)
    assert (1, 3) not in got
    assert got[(2, 0)] == ("x y", 2)
    # genuine short tail: 8 tokens -> starts 0,2,4,6, tail of 2
    eight = spark.createDataFrame(
        [(8, "a b c d e f g h")], "doc_id: long, text: string")
    tail = {r.chunk_idx: (r.text, r.n_tokens) for r in
            chunk_documents(eight, max_tokens=3, overlap=1).collect()}
    assert tail[3] == ("g h", 2)
    assert got[(4, 0)] == ("solo", 1)
    assert not any(k[0] == 3 for k in got)  # empty doc -> no chunks
    # no overlap: exact partition
    flat = {(r.doc_id, r.chunk_idx): r.text for r in
            chunk_documents(docs, max_tokens=4, overlap=0).collect()}
    assert flat[(1, 0)] == "a b c d" and flat[(1, 1)] == "e f g"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=4, overlap=4)
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)


def test_probe_containment_directions(spark):
    from graphlite_spark.operators.dedup import probe_containment

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "entirely unrelated corpus material here today")],
        "doc_id: long, text: string",
    )
    probe = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),  # fully leaked
         (2, "the quick brown fox went somewhere else entirely"),  # partial
         (3, "no overlap with anything whatsoever at all")],  # clean
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in probe_containment(corpus, probe, n=3).collect()}
    assert got[1].containment == 1.0
    assert 0.0 < got[2].containment < 1.0
    # doc 2: 6 shingles, "the quick brown"/"quick brown fox" present -> 2/6
    assert got[2].n_in_corpus == 2 and got[2].n_shingles == 6
    assert got[3].containment == 0.0


def test_normalize_text_unicode(spark):
    # NFC composition (e + combining acute -> é), casefold, control
    # strip, whitespace collapse — the byte-variant collisions dedup
    # needs; the sf corpus is ASCII so THIS test carries the NFC proof
    from graphlite_spark.operators.dedup import exact_dedup
    from graphlite_spark.operators.text import normalize_text

    decomposed = "Café  du\tMonde"      # NFD é + messy whitespace
    composed = "café du monde"
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, "Café\x00 du Monde\x1f"),
         (4, None)],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.text for r in normalize_text(df).collect()}
    assert got[1] == got[2] == got[3] == composed
    assert got[4] is None
    # normalized variants now collapse under exact dedup
    kept = sorted(r.doc_id for r in
                  exact_dedup(normalize_text(df).filter("text IS NOT NULL"),
                              normalize=False).collect())
    assert kept == [1]
    # nfc=False path stays pure-JVM and differs on the decomposed form
    raw = {r.doc_id: r.text for r in normalize_text(df, nfc=False).collect()}
    assert raw[1] != composed and raw[2] == composed


def test_corpus_stats_exact(spark):
    from graphlite_spark.operators.text import corpus_stats

    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e", "en"), (3, "", "fr")],
        "doc_id: long, text: string, lang: string",
    )
    got = {r.lang: r for r in corpus_stats(df).collect()}
    assert (got["en"].n_docs, got["en"].total_tokens,
            got["en"].max_tokens) == (2, 5, 3)
    assert got["en"].avg_tokens == 2.5
    assert (got["fr"].n_docs, got["fr"].total_tokens) == (1, 0)


def test_chunk_documents_properties(spark):
    # property test over random documents and window/overlap choices:
    # one Spark job per config, invariants checked in python —
    # (1) full coverage: concatenating each chunk's fresh tokens
    #     (skipping the overlap prefix) reconstructs the document
    # (2) every chunk except the last has exactly max_tokens tokens
    # (3) chunk_idx is dense from 0
    import random

    from graphlite_spark.operators.text import chunk_documents

    rng = random.Random(11)
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(rng.randrange(1, 40))))
            for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    for w, o in [(1, 0), (3, 1), (5, 4), (7, 0), (8, 3), (64, 16)]:
        rows = chunk_documents(df, max_tokens=w, overlap=o).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
        for i, text in docs:
            toks = text.split()
            chunks = by_doc[i]
            assert sorted(chunks) == list(range(len(chunks))), (w, o, i)
            rebuilt = []
            for ci in range(len(chunks)):
                ctoks = chunks[ci].text.split()
                assert chunks[ci].n_tokens == len(ctoks)
                if ci < len(chunks) - 1:
                    assert len(ctoks) == w, (w, o, i, ci)
                rebuilt.extend(ctoks if ci == 0 else ctoks[o:])
            # overlapped reconstruction covers the doc exactly, except
            # that the final window may re-cover already-seen tokens
            assert rebuilt[:len(toks)] == toks or \
                " ".join(rebuilt).find(" ".join(toks[-w:])) != -1
            covered = set()
            for ci in range(len(chunks)):
                stride = w - o
                start = ci * stride
                covered.update(range(start, min(start + w, len(toks))))
            assert covered == set(range(len(toks))), (w, o, i)


def test_rescore_topk_matches_exact_on_random(spark):
    # the ann_topk 'auto' route: int8 coarse scan + exact rescore of the
    # top 15% must reproduce exact cosine_topk bit-for-bit on a random
    # corpus (the regime where bucketing ANN measures recall ~= fraction
    # — docs/ANN.md)
    import random

    from graphlite_spark.operators.similarity import (
        ann_topk, cosine_topk, rescore_topk)

    rng = random.Random(11)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(300)],
        "vec_id: long, embedding: array<double>",
    )
    q = items.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding")
    exact = sorted(map(tuple, cosine_topk(items, q, k=10).collect()))
    got = sorted(map(tuple, rescore_topk(
        items, q, k=10, candidate_fraction=0.15).collect()))
    assert got == exact
    # dispatcher: auto == rescore; unknown strategy rejected
    auto = sorted(map(tuple, ann_topk(
        items, q, k=10, candidate_fraction=0.15).collect()))
    assert auto == exact
    import pytest

    with pytest.raises(ValueError):
        ann_topk(items, q, strategy="bogus")


def test_rescore_topk_candidate_budget(spark):
    # stage 2 (exact scoring) must touch at most
    # max(k, ceil(fraction*n)) items per query, and tiny fractions
    # clamp to k so the result always fills
    import random

    from graphlite_spark.operators.similarity import rescore_topk

    rng = random.Random(3)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)],
        "vec_id: long, embedding: array<double>",
    )
    q = items.filter("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding")
    out = rescore_topk(items, q, k=7, candidate_fraction=0.001)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["item_id"])
    assert all(len(v) == 7 for v in per_q.values())  # clamp C >= k
    import pytest

    with pytest.raises(ValueError):
        rescore_topk(items, q, candidate_fraction=0.0)


def test_rescore_topk_int4_mode(spark):
    # bits=4: int4 coarse codes (8x lighter than fp32 at the storage
    # tier); on the random corpus the 15% cut still recovers the exact
    # top-k despite the coarser first-pass ranking
    import random

    from graphlite_spark.operators.similarity import (
        cosine_topk, rescore_topk)

    rng = random.Random(29)
    items = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(300)],
        "vec_id: long, embedding: array<double>",
    )
    q = items.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding")
    exact = sorted(map(tuple, cosine_topk(items, q, k=10).collect()))
    got = sorted(map(tuple, rescore_topk(
        items, q, k=10, candidate_fraction=0.15, bits=4).collect()))
    assert got == exact
    import pytest

    with pytest.raises(ValueError):
        rescore_topk(items, q, bits=2)


def test_train_bpe_distributed_histogram(spark):
    # train_bpe: the word histogram is a distributed groupBy; the
    # sequential merge loop runs on the collected capped histogram —
    # learned merges must match pure-local learn_bpe on the same counts
    from collections import Counter

    from graphlite_spark.operators.tokenize import (
        _PRETOKEN_RE, BPETokenizer, learn_bpe, train_bpe)

    texts = ["the fast the fast customer", "the window the window",
             "fast customer fast the", "erin has a basin the fast"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")
    tok = train_bpe(df, num_merges=6)
    assert isinstance(tok, BPETokenizer) and len(tok.merges) > 0

    local_counts = Counter()
    for t in texts:
        for w in _PRETOKEN_RE.findall(t):
            local_counts[w.encode("utf-8")] += 1
    expected = learn_bpe(dict(local_counts), 6)
    assert tok.merges == expected
    # the trained tokenizer still round-trips losslessly
    for t in texts:
        assert tok.decode(tok.encode(t)) == t


def test_lm_quality_score_hand_computed(spark):
    # unigram LM with add-0.5 smoothing: hand-computed on a 3-doc corpus
    import math

    from graphlite_spark.operators.text import lm_quality_score

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "   "), (3, "b")],
        "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in lm_quality_score(df).collect()}
    # corpus: a=3, b=2, c=1; total=6, |V|=3 -> denom = 6 + 0.5*3 = 7.5
    p = {"a": 3.5 / 7.5, "b": 2.5 / 7.5, "c": 1.5 / 7.5}
    assert 2 not in got  # whitespace-only doc drops out
    exp0 = (2 * math.log(p["a"]) + math.log(p["b"])) / 3
    assert got[0]["n_tokens"] == 3
    assert abs(got[0]["avg_logprob"] - round(exp0, 6)) < 1e-9
    assert abs(got[0]["perplexity"] - round(math.exp(-exp0), 6)) < 1e-9
    exp3 = math.log(p["b"])
    assert got[3]["n_tokens"] == 1
    assert abs(got[3]["avg_logprob"] - round(exp3, 6)) < 1e-9
    # rarer tokens -> lower avg logprob: doc1 (a,c) below doc0 (a,a,b)
    assert got[1]["avg_logprob"] < got[0]["avg_logprob"]


def test_lm_quality_score_streaming_with_offline_model(spark, tmp_path):
    # the deployment shape: model trained offline (batch), scoring
    # applied to a stream — stream-static broadcast join, stream==batch
    import json

    from graphlite_spark.operators.text import (
        lm_quality_score, lm_unigram_model)

    train = spark.createDataFrame(
        [(0, "a a b c"), (1, "a b b")], "doc_id: long, text: string")
    model = lm_unigram_model(train)

    d = tmp_path / "stream_docs"
    d.mkdir()
    with open(d / "batch.json", "w") as f:
        for i, t in enumerate(["a b", "c c a", "zzz a"]):  # zzz is OOV
            f.write(json.dumps({"doc_id": 100 + i, "text": t}) + "\n")
    schema = "doc_id long, text string"

    batch_df = spark.read.schema(schema).json(str(d))
    expected = sorted(map(tuple,
                          lm_quality_score(batch_df, model=model).collect()))
    # OOV token dropped from the average: doc 102 has 1 scored token
    by_id = {t[0]: t for t in expected}
    assert by_id[102][1] == 1

    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        lm_quality_score(stream, model=model)
        .writeStream.format("memory").queryName("lm_stream")
        .outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("lm_stream").collect()))
    assert got == expected


def test_jaccard_ppjoin_positional_parity_fuzz(spark):
    # the r6 POSITIONAL filter must not drop any true pair: PPJoin
    # (prefix + length + positional) vs the inverted-index variant on
    # random corpora across thresholds — results must be identical
    import random

    from graphlite_spark.operators.dedup import ngram_jaccard_pairs

    for trial, threshold in ((0, 0.5), (1, 0.6), (2, 0.8)):
        r = random.Random(100 + trial)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> dense overlap
        docs = []
        for i in range(60):
            base = [r.choice(vocab) for _ in range(r.randrange(5, 25))]
            docs.append((i, " ".join(base)))
            if r.random() < 0.4:  # planted near-dups: light edits
                mut = list(base)
                for _ in range(r.randrange(0, 3)):
                    mut[r.randrange(len(mut))] = r.choice(vocab)
                docs.append((1000 + i, " ".join(mut)))
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        exact = sorted(map(tuple, ngram_jaccard_pairs(
            df, threshold=threshold, prefix_filter=False).collect()))
        pp = sorted(map(tuple, ngram_jaccard_pairs(
            df, threshold=threshold, prefix_filter=True).collect()))
        assert pp == exact, (trial, threshold)


def test_jaccard_threshold_boundary_equality(spark):
    # A pair whose Jaccard EQUALS the threshold must be returned: the
    # prefix/length/positional bounds use epsilon-slack comparisons
    # instead of F.ceil so a float quotient rounding above the true
    # rational t/(1+t) cannot over-tighten the bound by 1 and prune a
    # boundary pair (ADVICE r6).
    from graphlite_spark.operators.dedup import ngram_jaccard_pairs

    # word 3-grams: "a b c d e f" -> {abc,bcd,cde,def};
    # "a b c d e g" -> {abc,bcd,cde,deg}; inter=3, union=5 -> J=0.6
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")],
        "doc_id: long, text: string")
    for pf in (True, False):
        rows = ngram_jaccard_pairs(
            df, threshold=0.6, prefix_filter=pf).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.6)], pf

    # J = 0.5 exactly: "a b c d e" -> {abc,bcd,cde};
    # "b c d e f" -> {bcd,cde,def}; inter=2, union=4
    df2 = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id: long, text: string")
    for pf in (True, False):
        rows = ngram_jaccard_pairs(
            df2, threshold=0.5, prefix_filter=pf).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.5)], pf


def test_strongly_connected_components(spark):
    # directed SCC (trim + forward-max coloring + backward confirm):
    # two 3-cycles joined by DAG edges, a pure chain (all-singleton via
    # trim), a full ring, and a bound-exceeded error path
    import pytest

    from graphlite_spark.operators.paths import (
        strongly_connected_components)

    def run(edge_list, node_ids, **kw):
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id: long")
        edges = spark.createDataFrame(edge_list, "_src: long, _dst: long")
        out = strongly_connected_components(edges, nodes, **kw)
        return sorted((r["node"], r["scc"]) for r in out.collect())

    r = run([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (6, 7)], range(1, 8))
    assert r == [(1, 3), (2, 3), (3, 3), (4, 6), (5, 6), (6, 6), (7, 7)]

    assert run([(1, 2), (2, 3), (3, 4)], range(1, 5)) == [
        (1, 1), (2, 2), (3, 3), (4, 4)]

    assert run([(1, 2), (2, 3), (3, 4), (4, 1)], range(1, 5)) == [
        (1, 4), (2, 4), (3, 4), (4, 4)]

    # isolated nodes are their own SCCs (trimmed instantly)
    assert run([(1, 2), (2, 1)], [1, 2, 9]) == [(1, 2), (2, 2), (9, 9)]

    # bound respected: when the downstream cycle shares the upstream
    # cycle's color (max id upstream), only the root's SCC resolves per
    # round — two rounds needed, so max_rounds=1 must raise
    two_round = [(5, 6), (6, 5), (5, 1), (1, 2), (2, 1)]
    with pytest.raises(RuntimeError):
        run(two_round, [1, 2, 5, 6], max_rounds=1)
    assert run(two_round, [1, 2, 5, 6]) == [
        (1, 2), (2, 2), (5, 6), (6, 6)]


def test_scc_long_cycle_color_bound(spark):
    # silent-wrong-answer guard: a cycle longer than max_color_iter
    # must RAISE (stopping the color loop early would fragment it into
    # fake singletons); with an adequate bound it is one SCC
    import pytest

    from graphlite_spark.operators.paths import (
        strongly_connected_components)

    n = 12
    edges = spark.createDataFrame(
        [(i, i % n + 1) for i in range(1, n + 1)], "_src: long, _dst: long")
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id: long")
    with pytest.raises(RuntimeError):
        strongly_connected_components(
            edges, nodes, max_color_iter=3).collect()
    out = strongly_connected_components(edges, nodes, max_color_iter=n + 2)
    assert sorted((r["node"], r["scc"]) for r in out.collect()) == [
        (i, n) for i in range(1, n + 1)]

    # empty node set -> empty frame, not a crash
    empty_nodes = spark.createDataFrame([], "id: long")
    empty_edges = spark.createDataFrame([], "_src: long, _dst: long")
    assert strongly_connected_components(
        empty_edges, empty_nodes).count() == 0


@pytest.mark.full_tier
def test_dag_layers(spark):
    # longest-path layering: diamond + long arm, isolated node, cycle
    # raises, deep chain exceeds one batch (batching still exact)
    import pytest

    from graphlite_spark.operators.paths import dag_layers

    def run(edge_list, node_ids, **kw):
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id: long")
        edges = spark.createDataFrame(edge_list, "_src: long, _dst: long")
        return sorted((r["node"], r["layer"])
                      for r in dag_layers(edges, nodes, **kw).collect())

    r = run([(1, 2), (1, 3), (2, 4), (3, 4), (3, 5), (5, 6), (6, 4)],
            range(1, 8))
    assert r == [(1, 0), (2, 1), (3, 1), (4, 4), (5, 2), (6, 3), (7, 0)]

    # a 30-deep chain crosses several adaptive batches; layers exact
    chain = [(i, i + 1) for i in range(1, 30)]
    assert run(chain, range(1, 31), batch=4, max_batch=8) == [
        (i, i - 1) for i in range(1, 31)]

    with pytest.raises(RuntimeError):
        run([(1, 2), (2, 1)], [1, 2], max_iter=16)

    # non-positive max_iter is rejected up front (ADVICE r6: used to
    # NameError out of the final raise's message formatting)
    with pytest.raises(ValueError, match="max_iter"):
        run([(1, 2)], [1, 2], max_iter=0)


@pytest.mark.full_tier
def test_scc_deep_cycle_hop_batched_probes(spark):
    # r7: COLOR and CONFIRM are hop-batched (adaptive growth like
    # bfs_distances) — a depth-100 cycle needs ~99 propagation hops
    # each way but must resolve in O(log depth) BLOCKING probes, not
    # one probe per hop. Count every driver-blocking call (isEmpty /
    # collect / count) during the run; the r6 one-hop-per-probe shape
    # spent ~200 on this graph.
    from pyspark.sql import DataFrame

    from graphlite_spark.operators.paths import (
        strongly_connected_components)

    n = 100
    edges = spark.createDataFrame(
        [(i, i % n + 1) for i in range(1, n + 1)], "_src: long, _dst: long")
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id: long")

    counts = {"blocking": 0}
    orig = {m: getattr(DataFrame, m) for m in ("isEmpty", "collect", "count")}

    def wrap(name):
        def inner(self, *a, **kw):
            counts["blocking"] += 1
            return orig[name](self, *a, **kw)
        return inner

    for m in orig:
        setattr(DataFrame, m, wrap(m))
    try:
        out = strongly_connected_components(
            edges, nodes, max_color_iter=150)
        rows = sorted((r["node"], r["scc"]) for r in out.collect())
    finally:
        for m, fn in orig.items():
            setattr(DataFrame, m, fn)
    assert rows == [(i, n) for i in range(1, n + 1)]
    assert counts["blocking"] <= 25, counts["blocking"]


def test_triangle_count_approx(spark):
    import pytest

    from graphlite_spark.operators.paths import (
        triangle_count,
        triangle_count_approx,
    )

    # dense-ish deterministic graph: K8 plus a pendant chain
    edges = [(i, j) for i in range(1, 9) for j in range(i + 1, 9)]
    edges += [(8, 20), (20, 21)]
    e = spark.createDataFrame(edges, "_src: long, _dst: long")

    exact = triangle_count(e).collect()[0].n_triangles
    assert exact == 56  # C(8,3)

    # p = 1 keeps every edge: estimate == exact, scale factor 1
    full = triangle_count_approx(e, p=1.0).collect()[0]
    assert full.n_sampled_triangles == exact
    assert full.n_triangles_est == float(exact)

    # deterministic: same (graph, p, salt) -> identical estimate,
    # regardless of input partitioning
    r1 = triangle_count_approx(e, p=0.5).collect()[0]
    r2 = triangle_count_approx(e.repartition(7), p=0.5).collect()[0]
    assert (r1.n_sampled_triangles, r1.n_triangles_est) == (
        r2.n_sampled_triangles, r2.n_triangles_est)
    # estimate = sampled / p^3 exactly
    assert r1.n_triangles_est == round(r1.n_sampled_triangles / 0.125, 6)

    with pytest.raises(ValueError, match="p must be"):
        triangle_count_approx(e, p=0.0)
    with pytest.raises(ValueError, match="p must be"):
        triangle_count_approx(e, p=1.5)


def test_rescore_index_persisted_bit_identical(spark, tmp_path):
    # build once -> query path over stored codes is bit-identical to
    # the direct operator for both bit widths; meta carries n_items so
    # the query skips the sizing count
    from graphlite_spark.operators.similarity import (
        build_rescore_index,
        rescore_topk,
        rescore_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding")
    for bits in (8, 4):
        idx = str(tmp_path / f"idx{bits}")
        n = build_rescore_index(emb, idx, bits=bits)
        assert n == emb.count()
        meta = spark.read.parquet(idx + "/meta").collect()[0]
        assert (meta["bits"], meta["n_items"]) == (bits, n)
        direct = sorted(map(tuple, rescore_topk(
            emb, queries, bits=bits).collect()))
        indexed = sorted(map(tuple, rescore_topk_indexed(
            emb, queries, idx).collect()))
        assert direct == indexed and len(direct) == 30

    import pytest

    with pytest.raises(ValueError, match="bits"):
        build_rescore_index(emb, str(tmp_path / "bad"), bits=2)
    with pytest.raises(ValueError, match="candidate_fraction"):
        rescore_topk_indexed(emb, queries, str(tmp_path / "idx8"),
                             candidate_fraction=0.0)


def test_modularity_communities(spark):
    import pytest

    from graphlite_spark.operators.paths import modularity_communities

    def run(edge_list, node_ids, **kw):
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id: long")
        edges = spark.createDataFrame(edge_list, "_src: long, _dst: long")
        return sorted(
            (r["node"], r["community"])
            for r in modularity_communities(edges, nodes, **kw).collect())

    # bridged triangles resolve to the planted communities
    e = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    assert run(e, range(1, 7)) == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)]

    # isolated node stays its own community
    assert run([(1, 2)], [1, 2, 9]) == [(1, 1), (2, 1), (9, 9)]

    # empty edge set: all singletons
    assert run([], [1, 2]) == [(1, 1), (2, 2)]

    # bound respected: bridged triangles need several rounds
    with pytest.raises(RuntimeError, match="max_rounds"):
        run(e, range(1, 7), max_rounds=1)
    with pytest.raises(ValueError, match="max_rounds"):
        run(e, range(1, 7), max_rounds=0)


def test_modularity_communities_brute_force_parity(spark):
    # pure-Python simulator with the IDENTICAL rules (same float gain
    # expression, same epsilon stay-preference, same smallest-id
    # tiebreak, same downhill-first/Luby-fallback apply schedule) must
    # agree with the distributed operator on random graphs
    import random

    from graphlite_spark.operators.paths import modularity_communities

    def simulate(edge_set, node_ids, max_rounds=20):
        und = {}
        for a, b in edge_set:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
        m = len(edge_set)
        k = {n: len(und.get(n, ())) for n in node_ids}
        comm = {n: n for n in node_ids}
        if m == 0:
            return {n: n for n in node_ids}
        two_m = float(2 * m)
        for _ in range(max_rounds):
            tot = {}
            for n in node_ids:
                tot[comm[n]] = tot.get(comm[n], 0) + k[n]
            movers = {}
            for n in node_ids:
                e_ic = {comm[n]: 0}
                for nb in und.get(n, ()):
                    e_ic[comm[nb]] = e_ic.get(comm[nb], 0) + 1
                best, best_key = None, None
                for c, e in e_ic.items():
                    adj = tot.get(c, 0) - (k[n] if c == comm[n] else 0)
                    val = float(e) - float(k[n]) * float(adj) / two_m
                    if c == comm[n]:
                        val += 1e-12
                    key = (val, -c)
                    if best_key is None or key > best_key:
                        best, best_key = c, key
                if best != comm[n]:
                    movers[n] = best
            if not movers:
                mins = {}
                for n in node_ids:
                    c = comm[n]
                    mins[c] = min(mins.get(c, n), n)
                return {n: mins[comm[n]] for n in node_ids}
            down = {n: tgt for n, tgt in movers.items() if tgt < comm[n]}
            if down:
                # downhill-first: all label-decreasing moves in parallel
                for n, tgt in down.items():
                    comm[n] = tgt
            else:
                # Luby local-minimum fallback
                for n, tgt in movers.items():
                    nbr_movers = [nb for nb in und.get(n, ())
                                  if nb in movers]
                    if not nbr_movers or n < min(nbr_movers):
                        comm[n] = tgt
        raise RuntimeError("sim: no convergence")

    for trial in range(4):
        r = random.Random(42 + trial)
        n = 14
        node_ids = list(range(1, n + 1))
        edge_set = set()
        # planted: two cliques + random noise edges
        for grp in ([1, 2, 3, 4, 5], [8, 9, 10, 11]):
            for i in range(len(grp)):
                for j in range(i + 1, len(grp)):
                    edge_set.add((grp[i], grp[j]))
        for _ in range(6):
            a, b = r.sample(node_ids, 2)
            edge_set.add((min(a, b), max(a, b)))
        expected = simulate(sorted(edge_set), node_ids)
        nodes = spark.createDataFrame([(x,) for x in node_ids], "id: long")
        edges = spark.createDataFrame(sorted(edge_set),
                                      "_src: long, _dst: long")
        got = {r2["node"]: r2["community"]
               for r2 in modularity_communities(edges, nodes).collect()}
        assert got == expected, (trial, got, expected)


def test_louvain_communities_two_scale(spark):
    # two groups x 3 triangles x 3 nodes; 2 bridges per triangle pair
    # inside a group, attached ONLY to the i=1/i=2 members so every
    # node's best round-0 target is its (lowest-degree) intra-triangle
    # neighborhood and level 1 provably settles at the 6 triangles
    # even under the downhill-parallel schedule; one weak inter-group
    # edge on the i=1 hubs. Full Louvain must then fold the triangles
    # into the 2 groups (supernode bridge weight 2 makes the merge
    # gain positive at level 2) — the coarse scale level 1 cannot see.
    import pytest

    from graphlite_spark.operators.paths import (
        louvain_communities,
        modularity_communities,
    )

    def nid(g, c, i):
        return g * 100 + c * 10 + i

    edge_list = []
    for g in range(2):
        for c in range(3):
            ids = [nid(g, c, i) for i in range(3)]
            edge_list += [(ids[0], ids[1]), (ids[1], ids[2]),
                          (ids[0], ids[2])]
        for c1 in range(3):
            for c2 in range(c1 + 1, 3):
                for i in (1, 2):
                    edge_list.append((nid(g, c1, i), nid(g, c2, i)))
    edge_list.append((nid(0, 0, 1), nid(1, 0, 1)))
    node_ids = sorted({x for e in edge_list for x in e})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id: long")
    edges = spark.createDataFrame(edge_list, "_src: long, _dst: long")

    fine = {r["node"]: r["community"]
            for r in modularity_communities(edges, nodes,
                                            max_rounds=30).collect()}
    assert len(set(fine.values())) == 6
    for g in range(2):
        for c in range(3):
            assert {fine[nid(g, c, i)] for i in range(3)} == {nid(g, c, 0)}

    coarse = {r["node"]: r["community"]
              for r in louvain_communities(edges, nodes, max_levels=4,
                                           max_rounds=30).collect()}
    assert len(set(coarse.values())) == 2
    for g in range(2):
        members = {n for n in node_ids if n // 100 == g}
        assert {coarse[n] for n in members} == {nid(g, 0, 0)}

    # one level of louvain == modularity_communities exactly
    one = sorted((r["node"], r["community"])
                 for r in louvain_communities(edges, nodes, max_levels=1,
                                              max_rounds=30).collect())
    assert one == sorted(fine.items())

    # leiden == louvain when every community stays connected (the
    # two-scale graph never strands anyone): refinement is a pure
    # relabel-to-min no-op, multi-level included
    from graphlite_spark.operators.paths import leiden_communities

    ld = sorted((r["node"], r["community"])
                for r in leiden_communities(edges, nodes, max_levels=4,
                                            max_rounds=30).collect())
    assert ld == sorted(coarse.items())

    # empty edge set: singletons; validation
    empty = spark.createDataFrame([], "_src: long, _dst: long")
    two = spark.createDataFrame([(7,), (8,)], "id: long")
    assert sorted((r["node"], r["community"])
                  for r in louvain_communities(empty, two).collect()) \
        == [(7, 7), (8, 8)]
    assert sorted((r["node"], r["community"])
                  for r in leiden_communities(empty, two).collect()) \
        == [(7, 7), (8, 8)]
    with pytest.raises(ValueError, match="max_levels"):
        louvain_communities(edges, nodes, max_levels=0)
    with pytest.raises(ValueError, match="max_levels"):
        leiden_communities(edges, nodes, max_levels=0)


def test_lm_bigram_score(spark):
    import math

    from graphlite_spark.operators.text import (
        lm_bigram_model,
        lm_bigram_score,
        lm_quality_score,
    )

    # hand-computed: corpus of two docs
    #   d1: "a b a b"  -> bigrams (a,b),(b,a),(a,b)
    #   d2: "a b"      -> bigram  (a,b)
    # c(a,b)=3, c(b,a)=1; c(a·)=3, c(b·)=1; |V|=3 (a, b, solo); s=0.5
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id: long, text: string")
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (1 + 0.5 * 3)
    model = {(r.w1, r.w2): r.logprob for r in lm_bigram_model(docs).collect()}
    assert model.keys() == {("a", "b"), ("b", "a")}
    assert abs(model[("a", "b")] - math.log(p_ab)) < 1e-12
    assert abs(model[("b", "a")] - math.log(p_ba)) < 1e-12

    rows = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    # doc 3 has one token -> no bigram evidence -> no row
    assert set(rows) == {1, 2}
    exp1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert abs(rows[1].avg_logprob - round(exp1, 6)) < 1e-9
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 1
    assert abs(rows[2].perplexity - round(math.exp(-math.log(p_ab)), 6)) < 1e-9

    # the signal unigram scoring can't give: a token-shuffled doc keeps
    # its unigram score but collapses under the bigram model
    fluent = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat the rug cat the and on sat the"
    corpus = [(i, fluent) for i in range(20)] + [(99, shuffled)]
    df = spark.createDataFrame(corpus, "doc_id: long, text: string")
    uni = {r.doc_id: r.avg_logprob for r in lm_quality_score(df).collect()}
    bi = {r.doc_id: r.avg_logprob for r in lm_bigram_score(df).collect()}
    assert abs(uni[99] - uni[0]) < 0.1          # same bag of words
    assert bi[99] < bi[0] - 0.5                 # transitions collapse


@pytest.mark.full_tier
def test_scc_descending_id_chain_trims_across_rounds(spark):
    # r7 review regression guard: a DAG chain whose ids DESCEND along
    # edges is color-deep (the max-id head floods the whole chain, so
    # COLOR alone would exhaust max_color_iter) but trim-shallow; when
    # coloring hits its bound while trim is still peeling, the round
    # must fall back to more trimming instead of raising
    from graphlite_spark.operators.paths import (
        strongly_connected_components)

    n = 40
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(1, n)], "_src: long, _dst: long")
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)],
                                  "id: long")
    out = strongly_connected_components(edges, nodes)  # defaults
    assert sorted((r["node"], r["scc"]) for r in out.collect()) == [
        (i, i) for i in range(1, n + 1)]


def test_gopher_quality_filters(spark):
    from graphlite_spark.operators.text import gopher_quality_filters

    long_good = " ".join(["the quick brown fox jumps over lazy dogs"] * 8)
    df = spark.createDataFrame(
        [
            (1, long_good),                      # 64 words, passes all
            (2, "too short to pass"),            # word count
            (3, " ".join(["a"] * 60)),           # mean word len < 3
            (4, " ".join(["###"] * 30 + ["the quick brown fox jumps"] * 6)),
            (5, " ".join(["12 34"] * 30) + " the of"),  # alpha ratio
            (6, "\n".join(["- bullet line"] * 10)),     # bullets + count
            (7, ""),                             # empty
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in gopher_quality_filters(
        df, min_words=20, min_stop_words=1).collect()}
    assert got[1].gopher_pass
    assert got[1].n_words == 64
    assert not got[2].word_count_ok and not got[2].gopher_pass
    assert not got[3].mean_word_len_ok
    assert not got[4].symbol_ratio_ok          # 30 '#' / 60 words = 0.5
    assert got[4].word_count_ok
    assert not got[5].alpha_words_ok           # 60 numeric of 62
    assert not got[6].bullet_lines_ok          # 10/10 bullet lines
    assert got[7].n_words == 0 and not got[7].gopher_pass
    # stop-word rule: published threshold needs >= 2 distinct stop words
    one_stop = " ".join(["the zz yy xx ww vv uu tt"] * 4)
    r = gopher_quality_filters(
        spark.createDataFrame([(8, one_stop)], "doc_id: long, text: string"),
        min_words=20, min_stop_words=2).first()
    assert not r.stop_words_ok


def test_span_dedup(spark):
    from graphlite_spark.operators.dedup import span_dedup

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"          # one duplicated 8-gram
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"delta {shared} epsilon zeta"),
            (3, "totally unique words only here nothing repeats at all"),
            (4, "short doc"),                   # < k tokens
            (5, ""),                            # empty
            (6, f"{shared} {shared}"),          # intra-doc repeat
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in span_dedup(df, k=8).collect()}
    # docs 1/2: exactly the 8 shared tokens removed, order preserved
    assert got[1].n_removed == 8
    assert got[1].cleaned_text == "alpha beta gamma"
    assert got[2].cleaned_text == "delta epsilon zeta"
    assert got[3].n_removed == 0
    assert got[3].cleaned_text.startswith("totally unique")
    assert got[4].n_removed == 0 and got[4].n_tokens == 2
    assert got[5].n_tokens == 0 and got[5].cleaned_text == ""
    # intra-doc: "w8 w1" bridge grams are unique, but every position is
    # covered by an occurrence of some duplicated 8-gram
    assert got[6].n_removed == 16 and got[6].cleaned_text == ""

    # hashed_keys produces identical output on a collision-free corpus
    hashed = {r.doc_id: r for r in span_dedup(df, k=8,
                                              hashed_keys=True).collect()}
    assert {d: (r.n_removed, r.cleaned_text) for d, r in got.items()} == \
        {d: (r.n_removed, r.cleaned_text) for d, r in hashed.items()}

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        span_dedup(df, k=1)


def test_cap_per_key(spark):
    import pytest

    from graphlite_spark.operators.sampling import cap_per_key

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(30)],
        "doc_id: long, source: string, score: double",
    )
    kept = cap_per_key(df, "source", 4, order_col="doc_id").collect()
    assert len(kept) == 12
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # lowest 4 ids per source, deterministic
    assert sorted(by_src["s0"]) == [0, 3, 6, 9]
    # descending keeps the TOP-k by score
    best = cap_per_key(df, "source", 2, order_col="score",
                       descending=True).collect()
    assert sorted(r.doc_id for r in best if r.source == "s1") == [25, 28]
    # partition-insensitive
    again = cap_per_key(df.repartition(7), "source", 4,
                        order_col="doc_id").collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in kept)
    with pytest.raises(ValueError, match="k must be"):
        cap_per_key(df, "source", 0)


def test_semantic_dedup(spark):
    import pytest

    from graphlite_spark.operators.similarity import semantic_dedup

    # 5 groups x 3 NEAR-identical vectors (cos ~0.99995 via a tiny
    # shared-axis perturbation) + one decoy per group at exactly 0.6
    rows = []
    for g in range(5):
        for i in range(3):
            v = [0.0] * 16
            v[g] = 1.0
            v[15] = 0.01 * i
            rows.append((g * 10 + i, v))
        w = [0.0] * 16
        w[g] = 0.6
        w[14] = 0.8
        rows.append((g * 10 + 9, w))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {r.vec_id: r.canonical_id
           for r in semantic_dedup(df, threshold=0.9, n_lists=4).collect()}
    for g in range(5):
        # near-identical members fold to min id; decoy stays itself
        assert {got[g * 10 + i] for i in range(3)} == {g * 10}
        assert got[g * 10 + 9] == g * 10 + 9
    # threshold semantics: with ONE list every pair is evaluated, and
    # at 0.5 the decoys (0.6 to their group, 0.64 to each other)
    # bridge all groups into a single component rooted at id 0
    loose = {r.vec_id: r.canonical_id
             for r in semantic_dedup(df, threshold=0.5, n_lists=1).collect()}
    assert set(loose.values()) == {0}
    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup(df, threshold=0.0)


def test_lang_id_ngram_model(spark):
    import pytest
    from pyspark.sql import functions as F

    from graphlite_spark.operators.text import (
        lang_id,
        lang_ngram_model,
        synth_multilingual,
    )

    # train on one deterministic synthetic shard, score a DIFFERENT
    # shard (different salt = held-out docs) — the offline-model
    # deployment contract, same as lm_quality_score's
    train = synth_multilingual(spark, 600, words_per_doc=40, salt=1)
    model = lang_ngram_model(train)
    langs = {r.lang for r in model.select("lang").distinct().collect()}
    assert langs == {"en", "de", "fr", "es", "it", "pt", "nl", "sv",
                     "pl", "tr", "ru", "ja", "zh"}

    def acc(test):
        j = lang_id(test.select("doc_id", "text"), model=model).join(
            test.select("doc_id", F.col("lang").alias("truth")), "doc_id")
        return j.agg(F.avg((F.col("lang_guess") == F.col("truth"))
                           .cast("double"))).collect()[0][0]

    # accuracy floors: full docs essentially perfect, 3-word docs
    # (the short-doc regime the stopword heuristic misroutes) >= 0.9
    assert acc(synth_multilingual(spark, 300, words_per_doc=30,
                                  salt=999)) >= 0.99
    assert acc(synth_multilingual(spark, 300, words_per_doc=3,
                                  salt=77)) >= 0.9

    # out-of-set language (consonant-cluster noise sharing the
    # alphabet) maps to 'und' via the coverage gate
    oos = spark.range(50).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(0, 19), j -> element_at("
        "array('xqz', 'wvk', 'zzt', 'qqj', 'kxw'), "
        "CAST(((id*20 + j) * 2654435761) % 4294967296 % 5 AS INT) + 1)), "
        "' ') as text")
    und = lang_id(oos, model=model).agg(
        F.avg((F.col("lang_guess") == "und").cast("double"))
    ).collect()[0][0]
    assert und == 1.0

    # empty / sub-n / NULL text all yield ('und', 0.0) — never dropped
    tiny = spark.createDataFrame(
        [(0, ""), (1, "ab"), (2, None)], "doc_id: long, text: string")
    got = {(r.doc_id, r.lang_guess, r.coverage)
           for r in lang_id(tiny, model=model).collect()}
    assert got == {(0, "und", 0.0), (1, "und", 0.0), (2, "und", 0.0)}

    with pytest.raises(ValueError, match="min_coverage"):
        lang_id(tiny, model=model, min_coverage=1.5)

    # legacy lexicon fallback unchanged: no model -> stopword hits
    legacy = lang_id(spark.createDataFrame(
        [(0, "the cat and the dog")], "doc_id: long, text: string"))
    assert legacy.columns == ["doc_id", "lang_guess", "lang_hits"]
    assert legacy.collect()[0].lang_guess == "en"


def test_kmeans_numpy_lloyd_parity(spark):
    import numpy as np
    import pytest

    from graphlite_spark.operators.similarity import kmeans

    rng = np.random.default_rng(11)
    n, d, k = 150, 12, 5
    vecs = rng.standard_normal((n, d))
    df = spark.createDataFrame(
        [(int(i), vecs[i].tolist()) for i in range(n)],
        "vec_id: long, embedding: array<double>")

    # reference numpy Lloyd with the operator's exact conventions:
    # seeds = k smallest xxhash64(id) (read back from Spark so the
    # hash itself isn't re-implemented), empty clusters keep their
    # centroid, cosine = spherical, l2 = argmin distance
    from pyspark.sql import functions as F
    seed_ids = [r.vec_id for r in df.select(
        "vec_id", F.xxhash64("vec_id").alias("h")).orderBy("h")
        .limit(k).collect()]

    def np_lloyd(metric, iters):
        c = vecs[seed_ids].astype(np.float64).copy()
        if metric == "cosine":
            c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True),
                               1e-12)
        m = vecs.astype(np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        for _ in range(iters):
            if metric == "cosine":
                a = np.argsort(-(mn @ c.T), axis=1)[:, 0]
            else:
                d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(d2, axis=1)
            for j in range(k):
                sel = m[a == j]
                if len(sel):
                    v = sel.mean(axis=0)
                    if metric == "cosine":
                        nv = np.linalg.norm(v)
                        c[j] = v / nv if nv > 1e-12 else c[j]
                    else:
                        c[j] = v
        if metric == "cosine":
            return np.argsort(-(mn @ c.T), axis=1)[:, 0]
        d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return np.argmin(d2, axis=1)

    for metric in ("cosine", "l2"):
        want = np_lloyd(metric, 4)
        got = {r.vec_id: r.cluster for r in
               kmeans(df, k=k, max_iters=4, tol=None,
                      metric=metric).collect()}
        assert [got[i] for i in range(n)] == want.tolist(), metric

    # bounded rounds RAISE when tol is unreachable in the budget
    with pytest.raises(RuntimeError, match="did not converge"):
        kmeans(df, k=k, max_iters=1, tol=0.0)
    # convergent case: a loose tol within a generous budget passes and
    # clusters every row
    out = kmeans(df, k=k, max_iters=30, tol=1e-3)
    assert out.count() == n

    # init_ids: warm start from explicit rows — cluster i IS
    # init_ids[i]'s centroid lineage; unknown ids raise
    got = kmeans(df, init_ids=[3, 7], max_iters=10, tol=None).collect()
    assert {r.cluster for r in got} <= {0, 1} and len(got) == n
    with pytest.raises(ValueError, match="not present"):
        kmeans(df, init_ids=[3, 10**9], max_iters=2, tol=None)
    with pytest.raises(ValueError, match="exactly one"):
        kmeans(df, k=3, init_ids=[1, 2])
    with pytest.raises(ValueError, match="exactly one"):
        kmeans(df)
    with pytest.raises(ValueError, match="metric"):
        kmeans(df, k=2, metric="cityblock")
    with pytest.raises(ValueError, match="exceeds corpus"):
        kmeans(df, k=n + 1)


def test_normalize_url(spark):
    from pyspark.sql import functions as F

    from graphlite_spark.operators.web import normalize_url, url_host

    cases = [
        ("HTTP://Example.COM:80/Path?utm_source=x&q=1&fbclid=z#frag",
         "http://example.com/Path?q=1"),
        ("https://A.b:443/", "https://a.b/"),
        ("https://a.b:8443/x", "https://a.b:8443/x"),  # non-default port
        ("http://x.y", "http://x.y/"),                 # bare host -> /
        ("http://x.y?utm_campaign=only", "http://x.y/"),
        # param ORDER preserved (only removal, never reordering)
        ("http://x.y/p?b=2&a=1", "http://x.y/p?b=2&a=1"),
        ("mailto:someone@example.com", "mailto:someone@example.com"),
        ("not a url", "not a url"),
        ("http://WWW.Site.com/a", "http://www.site.com/a"),
        # userinfo: kept verbatim (case-sensitive), host still folds
        # and default port still drops — and url_host must return the
        # REAL host, not the credentials (blocklist-evasion vector)
        ("http://User:Pw@Blocked.Example:80/x",
         "http://User:Pw@blocked.example/x"),
        ("http://@Host.example/", "http://@host.example/"),
        # LAST-@ host semantics (WHATWG/browser): the real fetch
        # target is after the final '@' — first-@ parsing would let
        # this evade a blocklist on evil.com
        ("http://allowed.example@x@Evil.com/p",
         "http://allowed.example@x@evil.com/p"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i: long, url: string")
    got = {r.i: r.url for r in normalize_url(df).collect()}
    for i, (inp, want) in enumerate(cases):
        assert got[i] == want, (inp, got[i], want)
    hosts = {r.i: r.h for r in
             df.select("i", url_host(F.col("url")).alias("h")).collect()}
    assert hosts[0] == "example.com" and hosts[8] == "www.site.com"
    assert hosts[6] is None and hosts[7] is None  # non-http(s) -> NULL
    assert hosts[9] == "blocked.example" and hosts[10] == "host.example"
    assert hosts[11] == "evil.com"  # last-@ = the real fetch target
    www = {r.i: r.url
           for r in normalize_url(df, strip_www=True).collect()}
    assert www[8] == "http://site.com/a"


def test_nb_quality_classifier(spark):
    import math

    import pytest
    from pyspark.sql import functions as F

    from graphlite_spark.operators.text import (
        lang_ngram_model,
        nb_quality_classifier,
        synth_multilingual,
    )

    # binary model: english-ish good vs consonant-noise bad; held-out
    # shards separate perfectly
    good = synth_multilingual(spark, 120, words_per_doc=40, langs=("en",),
                              salt=2).selectExpr(
        "doc_id", "'good' AS lang", "text")
    bad = spark.range(120).selectExpr(
        "id + 1000 AS doc_id", "'bad' AS lang",
        "array_join(transform(sequence(0, 39), j -> element_at("
        "array('xqzt', 'wvkk', 'zztp', 'qqjx', 'kxwv', 'jjqz'), "
        "CAST((((id*40 + j) * 2654435761) % 4294967296) % 6 AS INT) + 1)),"
        " ' ') AS text")
    model = lang_ngram_model(good.unionByName(bad))
    tg = synth_multilingual(spark, 40, words_per_doc=25, langs=("en",),
                            salt=99).select("doc_id", "text")
    tb = spark.range(40).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 24), j -> element_at("
        "array('xqzt', 'wvkk', 'zztp', 'qqjx', 'kxwv', 'jjqz'), "
        "CAST((((id*25 + j + 7) * 2654435761) % 4294967296) % 6 AS INT)"
        " + 1)), ' ') AS text")
    assert nb_quality_classifier(tg, model).agg(
        F.avg(F.col("quality_pass").cast("double"))
    ).collect()[0][0] == 1.0
    assert nb_quality_classifier(tb, model).agg(
        F.avg(F.col("quality_pass").cast("double"))
    ).collect()[0][0] == 0.0

    # log-odds VALUES against a pure-python NB replica (same Lidstone
    # arithmetic over the collected model rows)
    mrows = model.collect()
    lp = {(r.lang, r.gram): r.logprob for r in mrows}
    unseen = {r.lang: r.unseen_logprob for r in mrows}

    def replica(text):
        t = " ".join(text.lower().split())
        grams = [t[i:i + 3] for i in range(len(t) - 2)] if len(t) >= 3 \
            else []
        if not grams:
            return 0.0
        s = {}
        for lb in ("good", "bad"):
            s[lb] = sum(lp.get((lb, g), unseen[lb]) for g in grams)
        return s["good"] - s["bad"]

    sample = [(i, r.text) for i, r in enumerate(
        tg.limit(5).collect() + tb.limit(5).collect())]
    sdf = spark.createDataFrame(sample, "doc_id: long, text: string")
    got = {r.doc_id: r.log_odds
           for r in nb_quality_classifier(sdf, model).collect()}
    for i, text in sample:
        assert math.isclose(got[i], round(replica(text), 6),
                            abs_tol=2e-6), i

    # empty/NULL docs: log_odds 0.0, fail
    tiny = spark.createDataFrame([(0, ""), (1, None)],
                                 "doc_id: long, text: string")
    assert {(r.doc_id, r.log_odds, r.quality_pass)
            for r in nb_quality_classifier(tiny, model).collect()} == \
        {(0, 0.0, False), (1, 0.0, False)}
    # a >2-label model is rejected
    m6 = lang_ngram_model(synth_multilingual(spark, 60, salt=1))
    with pytest.raises(ValueError, match="2-label"):
        nb_quality_classifier(tg, m6)


def test_cluster_balanced_sample(spark):
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from graphlite_spark.operators.similarity import cluster_balanced_sample

    rng = np.random.default_rng(19)
    df = spark.createDataFrame(
        [(int(i), rng.standard_normal(12).tolist()) for i in range(90)],
        "vec_id: long, embedding: array<double>")
    out = cluster_balanced_sample(df, k=4, cap_per_cluster=5,
                                  max_iters=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r.vec_id)
    # cap respected per cluster; kept rows are each cluster's LOWEST ids
    assert all(len(v) <= 5 for v in by_cluster.values())
    assert sum(len(v) for v in by_cluster.values()) == len(out) <= 20
    again = cluster_balanced_sample(df.repartition(7), k=4,
                                    cap_per_cluster=5, max_iters=3).collect()
    assert sorted((r.vec_id, r.cluster) for r in out) == \
        sorted((r.vec_id, r.cluster) for r in again)
    with pytest.raises(ValueError, match="cap_per_cluster"):
        cluster_balanced_sample(df, k=4, cap_per_cluster=0)

    # keep-best-by-score: an order column from the INPUT frame (not in
    # kmeans' output) rides back in via the id join — the advertised
    # quality-score mode (was an unresolved-column crash before r8's
    # review pass)
    scored_df = df.withColumn("score", (F.col("vec_id") % 7).cast("double"))
    best = cluster_balanced_sample(scored_df, k=4, cap_per_cluster=2,
                                   max_iters=3, order_col="score",
                                   descending=True)
    assert best.columns == ["vec_id", "cluster"]
    rows = best.collect()
    assert len(rows) <= 8
    kept_scores = {r.vec_id % 7 for r in rows}
    assert max(kept_scores) == 6  # top scores survive
    with pytest.raises(ValueError, match="order_col"):
        cluster_balanced_sample(df, k=4, cap_per_cluster=2,
                                order_col="nope")


def test_kmeans_iters_knob_and_quantizer_equivalence(spark):
    # kmeans_iters=1 must leave ivf_topk / semantic_dedup byte-for-byte
    # at their historical outputs (it IS the historical code path), and
    # deeper refinement must produce valid (possibly different) results
    import numpy as np

    from graphlite_spark.operators.similarity import (
        ivf_topk,
        semantic_dedup,
        semantic_dedup_int8,
    )

    rng = np.random.default_rng(23)
    df = spark.createDataFrame(
        [(int(i), rng.standard_normal(16).tolist()) for i in range(80)],
        "vec_id: long, embedding: array<double>")
    q = df.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    base = sorted(map(tuple, ivf_topk(df, q, k=5, n_lists=4).collect()))
    one = sorted(map(tuple, ivf_topk(df, q, k=5, n_lists=4,
                                     kmeans_iters=1).collect()))
    assert base == one
    deep = ivf_topk(df, q, k=5, n_lists=4, kmeans_iters=4)
    assert deep.count() == 15
    sd1 = sorted(map(tuple, semantic_dedup(df, threshold=0.4,
                                           n_lists=4).collect()))
    sd1b = sorted(map(tuple, semantic_dedup(df, threshold=0.4, n_lists=4,
                                            kmeans_iters=1).collect()))
    assert sd1 == sd1b
    # fp/int8 parity must hold at ANY refinement depth
    fp3 = sorted(map(tuple, semantic_dedup(df, threshold=0.4, n_lists=4,
                                           kmeans_iters=3).collect()))
    i83 = sorted(map(tuple, semantic_dedup_int8(df, threshold=0.4,
                                                n_lists=4,
                                                kmeans_iters=3).collect()))
    assert fp3 == i83


@pytest.mark.full_tier
def test_semantic_dedup_int8_identical_to_fp(spark, tmp_path):
    import numpy as np
    import pytest

    from graphlite_spark.operators.similarity import (
        build_rescore_index,
        semantic_dedup,
        semantic_dedup_band_audit,
        semantic_dedup_int8,
    )

    # (a) planted corpus with decoys at EXACTLY the threshold — the
    # band is load-bearing: int8 approx of a cos-0.6 pair lands within
    # eps of 0.6, so only the exact rescore can classify it, and it
    # must agree with the fp path's >= (decoys join at t=0.6)
    rows = []
    for g in range(5):
        for i in range(3):
            v = [0.0] * 16
            v[g] = 1.0
            v[15] = 0.01 * i
            rows.append((g * 10 + i, v))
        w = [0.0] * 16
        w[g] = 0.6
        w[14] = 0.8
        rows.append((g * 10 + 9, w))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    for t, lists in ((0.9, 4), (0.6, 1), (0.5, 1)):
        fp = sorted((r.vec_id, r.canonical_id) for r in
                    semantic_dedup(df, threshold=t, n_lists=lists).collect())
        i8 = sorted((r.vec_id, r.canonical_id) for r in
                    semantic_dedup_int8(df, threshold=t,
                                        n_lists=lists).collect())
        assert fp == i8, f"divergence at threshold={t}"

    # (b) random vectors: parity where nothing is axis-aligned
    rng = np.random.default_rng(7)
    rnd = spark.createDataFrame(
        [(int(i), rng.standard_normal(24).tolist()) for i in range(120)],
        "vec_id: long, embedding: array<double>")
    fp = sorted((r.vec_id, r.canonical_id) for r in
                semantic_dedup(rnd, threshold=0.4, n_lists=4).collect())
    i8 = sorted((r.vec_id, r.canonical_id) for r in
                semantic_dedup_int8(rnd, threshold=0.4, n_lists=4).collect())
    assert fp == i8

    # (c) persisted-index mode: identical again, and bits=4 rejected
    idx = str(tmp_path / "sd_idx")
    build_rescore_index(rnd, idx, bits=8)
    viaidx = sorted((r.vec_id, r.canonical_id) for r in
                    semantic_dedup_int8(rnd, threshold=0.4, n_lists=4,
                                        index_path=idx).collect())
    assert viaidx == fp
    idx4 = str(tmp_path / "sd_idx4")
    build_rescore_index(rnd, idx4, bits=4)
    with pytest.raises(ValueError, match="bits=8"):
        semantic_dedup_int8(rnd, threshold=0.4, index_path=idx4).collect()
    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup_int8(rnd, threshold=0.0)

    # (d) the audit partitions every candidate pair, and the band —
    # the only fp-read fraction — is a small minority on random data
    aud = semantic_dedup_band_audit(rnd, threshold=0.4, n_lists=4).collect()[0]
    assert aud.n_auto_accept + aud.n_auto_reject + aud.n_band == aud.n_pairs
    assert aud.band_fraction < 0.25

    # (e) zero-norm vector: under ANSI the fp path's cosine raises
    # DIVIDE_BY_ZERO; the int8 path routes the pair to the band (huge
    # eps, never a division error in the classification itself) where
    # the SAME cosine expression raises the same error — identical
    # behavior including the failure mode
    from pyspark.errors import ArithmeticException

    zdf = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 8), (2, [1.0] + [0.0] * 7)],
        "vec_id: long, embedding: array<double>")
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        semantic_dedup(zdf, threshold=0.9, n_lists=1).collect()
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        semantic_dedup_int8(zdf, threshold=0.9, n_lists=1).collect()


def test_extract_html_text(spark):
    import pytest

    from graphlite_spark.operators.html import (
        _extract_blocks,
        extract_html_text,
        synth_html,
    )

    # parser unit behavior on hostile input: entities, comments,
    # script containing fake tags, nested inline tags, link density,
    # malformed trailing markup
    html = ("<html><head><title>T</title>"
            "<script>if (a<b) { document.write('<p>fake</p>'); }</script>"
            "<style>.x{content:'<div>'}</style></head><body>"
            "<!-- comment <p>also fake</p> -->"
            "<nav><a>Home</a> <a>About</a></nav>"
            "<h1>Head &amp; line</h1>"
            "<p>body &lt;one&gt;</p>"
            "<div>body <b>two</b> with a <a href='x'>small link</a> in"
            "side</div>"
            "<footer><a>Terms</a> <a>Privacy</a></footer>"
            "<p>unclosed trailing")
    blocks = _extract_blocks(html)
    assert ("Home About", 1.0) in blocks
    assert ("Head & line", 0.0) in blocks
    assert ("body <one>", 0.0) in blocks
    assert ("unclosed trailing", 0.0) in blocks
    link_block = next(b for b in blocks if b[0].startswith("body two"))
    assert 0.0 < link_block[1] < 0.5
    # distributed extraction honors the density threshold
    df = spark.createDataFrame([(1, html)], "doc_id: long, html: string")
    row = extract_html_text(df, max_link_density=0.5).first()
    assert row.text.splitlines() == [
        "Head & line", "body <one>",
        "body two with a small link inside", "unclosed trailing"]
    assert row.n_dropped_blocks == 2
    strict = extract_html_text(df, max_link_density=0.0).first()
    assert "small link" not in strict.text

    # synth round trip including the ESCAPE path (text with & < >)
    docs = spark.createDataFrame(
        [(7, "alpha & <beta> gamma delta"), (8, "solo"), (9, "")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in
           extract_html_text(synth_html(docs)).collect()}
    assert got[7].text == "Doc 7\nalpha & <beta>\ngamma delta"
    assert got[7].n_blocks == 5 and got[7].n_dropped_blocks == 2
    assert got[8].text == "Doc 8\nsolo" and got[8].n_blocks == 4
    assert got[9].text == "Doc 9" and got[9].n_blocks == 3

    with pytest.raises(ValueError, match="max_link_density"):
        extract_html_text(df, max_link_density=1.5)
    with pytest.raises(ValueError, match="on_error"):
        extract_html_text(df, on_error="ignore")


def test_gopher_repetition_filters(spark):
    from graphlite_spark.operators.text import gopher_repetition_filters

    df = spark.createDataFrame([
        (1, "spam spam spam spam spam spam"),
        (2, "a b c d e f g h a b c d e f g h x y z"),
        (3, "line one\nline one\nline two"),
        (4, ""),
        (5, " ".join(f"w{i}" for i in range(40))),   # all-distinct
    ], "doc_id: long, text: string")
    rows = {r.doc_id: r for r in gopher_repetition_filters(df).collect()}
    # "spam spam" occurs 5x, 8 word-chars per occurrence, 24 total
    assert rows[1].top2_gram_char_frac == pytest.approx(5 * 8 / 24, abs=1e-6)
    assert not rows[1].top2_gram_char_frac_ok
    assert not rows[1].repetition_pass
    # duplicated 8-gram at positions 0 and 8 covers words 0..15 (16 of
    # 19 single-char words)
    assert rows[2].dup8_gram_char_frac == pytest.approx(16 / 19, abs=1e-6)
    assert not rows[2].dup8_gram_char_frac_ok
    # 2 of 3 lines duplicated; 16 of 24 line chars
    assert rows[3].dup_line_frac == pytest.approx(2 / 3, abs=1e-6)
    assert rows[3].dup_line_char_frac == pytest.approx(16 / 24, abs=1e-6)
    assert not rows[3].repetition_pass
    # empty doc passes everything
    assert rows[4].repetition_pass
    # long all-distinct doc: every dup rule 0, top-gram share tiny
    assert rows[5].repetition_pass
    assert rows[5].dup5_gram_char_frac == 0.0


def test_gopher_top_gram_is_most_frequent(spark):
    # a rarer-but-longer 2-gram must NOT beat the most frequent one:
    # 'of the' x4 (4*5=20 chars) vs 'internationalization considerations'
    # x2 (2*34=68 chars) — the rule takes the most frequent gram's share
    from graphlite_spark.operators.text import gopher_repetition_filters

    text = ("of the x1 of the x2 of the x3 of the "
            "internationalization considerations y "
            "internationalization considerations")
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    r = gopher_repetition_filters(df).first()
    swl = sum(len(w) for w in text.split())
    assert r.top2_gram_char_frac == pytest.approx(4 * 5 / swl, abs=1e-6)


def test_semantic_dedup_empty_input(spark):
    from graphlite_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    out = semantic_dedup(empty, threshold=0.9)
    assert out.columns == ["vec_id", "canonical_id"]
    assert out.count() == 0


@pytest.mark.full_tier
def test_modularity_weighted_edges(spark):
    from graphlite_spark.operators.paths import (
        louvain_communities,
        modularity_communities,
    )

    # weighted path a-b (10), b-c (0.1), c-d (10): the weak middle
    # edge separates {a,b} from {c,d}; unweighted the same 3-edge path
    # has no such signal
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id: long")
    edges = spark.createDataFrame(
        [(0, 1, 10.0), (1, 2, 0.1), (2, 3, 10.0)],
        "_src: long, _dst: long, weight: double",
    )
    got = {r.node: r.community for r in modularity_communities(
        edges, nodes, weight_col="weight").collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}
    lv = {r.node: r.community for r in louvain_communities(
        edges, nodes, weight_col="weight").collect()}
    assert lv == {0: 0, 1: 0, 2: 2, 3: 2}

    # weight-scale invariance: gains scale linearly, partition is
    # identical under w -> 1000*w
    from pyspark.sql import functions as F

    scaled = edges.withColumn("weight", F.col("weight") * 1000.0)
    got2 = {r.node: r.community for r in modularity_communities(
        scaled, nodes, weight_col="weight").collect()}
    assert got2 == got

    # parallel edges SUM: edge (1,2) listed 100x at w=0.1 == one edge
    # at w=10, which flips the weak link into a strong one
    many = edges.unionByName(spark.createDataFrame(
        [(1, 2, 0.1)] * 99, "_src: long, _dst: long, weight: double"))
    one = spark.createDataFrame(
        [(0, 1, 10.0), (1, 2, 10.0), (2, 3, 10.0)],
        "_src: long, _dst: long, weight: double")
    got_many = {r.node: r.community for r in modularity_communities(
        many, nodes, weight_col="weight").collect()}
    got_one = {r.node: r.community for r in modularity_communities(
        one, nodes, weight_col="weight").collect()}
    assert got_many == got_one


@pytest.mark.full_tier
def test_pagerank_weighted_personalized_numpy_parity(spark):
    import numpy as np

    from graphlite_spark.operators.paths import pagerank

    rng = np.random.RandomState(11)
    n = 25
    seen = {}
    for _ in range(80):
        a, b = rng.randint(0, n, 2)
        if a != b and (int(a), int(b)) not in seen:
            seen[(int(a), int(b))] = float(rng.randint(1, 6))
    edge_list = sorted((a, b, w) for (a, b), w in seen.items())
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id: long")
    edges = spark.createDataFrame(edge_list,
                                  "_src: long, _dst: long, w: double")
    d, iters = 0.85, 6

    def np_pr(weighted, seeds=None):
        W = np.zeros((n, n))
        for a, b, w in edge_list:
            W[a, b] = w if weighted else 1.0
        out = W.sum(axis=1)
        t = np.zeros(n)
        if seeds is None:
            t[:] = 1.0 / n
        else:
            t[list(seeds)] = 1.0 / len(seeds)
        r = t.copy()
        for _ in range(iters):
            contrib = np.zeros(n)
            dang = 0.0
            for a in range(n):
                if out[a] > 0:
                    contrib += r[a] * W[a] / out[a]
                else:
                    dang += r[a]
            r = (1 - d) * t + d * (contrib + dang * t)
        return r

    got_w = {r.node: r.rank for r in pagerank(
        edges, nodes, num_iter=iters, weight_col="w").collect()}
    exp_w = np_pr(weighted=True)
    for i in range(n):
        assert abs(got_w[i] - exp_w[i]) < 1e-9, (i, got_w[i], exp_w[i])

    seeds = spark.createDataFrame([(0,), (3,), (7,)], "id: long")
    got_p = {r.node: r.rank for r in pagerank(
        edges, nodes, num_iter=iters, reset=seeds).collect()}
    exp_p = np_pr(weighted=False, seeds=[0, 3, 7])
    for i in range(n):
        assert abs(got_p[i] - exp_p[i]) < 1e-9, (i, got_p[i], exp_p[i])
    # PPR mass stays normalized and concentrates relative to uniform
    assert abs(sum(got_p.values()) - 1.0) < 1e-9
    assert got_p[0] > 1.0 / n

    # uniform weights == unweighted
    ones = edges.withColumn("w", edges.w * 0 + 1.0)
    got_u = {r.node: r.rank for r in pagerank(
        ones, nodes, num_iter=iters, weight_col="w").collect()}
    got_plain = {r.node: r.rank for r in pagerank(
        edges, nodes, num_iter=iters).collect()}
    for i in range(n):
        assert abs(got_u[i] - got_plain[i]) < 1e-12


def test_dedup_lines(spark):
    import pytest

    from graphlite_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame([
        (1, "unique alpha\nSHARED FOOTER\nunique beta"),
        (2, "unique gamma\nSHARED FOOTER"),
        (3, "SHARED FOOTER\nunique delta\nrepeated inline\nrepeated inline"),
    ], "doc_id: long, text: string")
    # corpus scope, C4 semantics: SHARED FOOTER occurs 3x > 2 -> every
    # occurrence removed; 'repeated inline' occurs 2x total -> kept
    got = {r.doc_id: r for r in dedup_lines(
        df, max_occurrences=2, scope="corpus").collect()}
    assert got[1].cleaned_text == "unique alpha\nunique beta"
    assert got[1].n_removed == 1 and got[1].n_lines == 3
    assert got[2].cleaned_text == "unique gamma"
    assert got[3].cleaned_text == \
        "unique delta\nrepeated inline\nrepeated inline"
    # tighter budget removes the intra-doc repeats too
    tight = {r.doc_id: r for r in dedup_lines(
        df, max_occurrences=1, scope="corpus").collect()}
    assert tight[3].cleaned_text == "unique delta"
    # document scope: first occurrence survives, corpus-wide counts
    # are irrelevant
    docsc = {r.doc_id: r for r in dedup_lines(
        df, scope="document").collect()}
    assert docsc[3].cleaned_text == \
        "SHARED FOOTER\nunique delta\nrepeated inline"
    assert docsc[3].n_removed == 1
    assert docsc[1].n_removed == 0
    with pytest.raises(ValueError, match="scope"):
        dedup_lines(df, scope="both")
    with pytest.raises(ValueError, match="max_occurrences"):
        dedup_lines(df, max_occurrences=0)


def test_pagerank_reset_validation(spark):
    import pytest

    from graphlite_spark.operators.paths import pagerank

    nodes = spark.createDataFrame([(0,), (1,)], "id: long")
    edges = spark.createDataFrame([(0, 1)], "_src: long, _dst: long")
    # seeds partially outside the node set: mass normalizes over the
    # INTERSECTION, so ranks still sum to 1
    seeds = spark.createDataFrame([(0,), (999,)], "id: long")
    got = {r.node: r.rank for r in pagerank(
        edges, nodes, num_iter=3, reset=seeds).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # fully disjoint seeds fail fast instead of returning zeros
    bad = spark.createDataFrame([(999,)], "id: long")
    with pytest.raises(ValueError, match="no ids"):
        pagerank(edges, nodes, reset=bad)


@pytest.mark.full_tier
def test_core_decomposition(spark):
    import random

    import pytest

    from graphlite_spark.operators.paths import core_decomposition

    # clique(5) bridged to a chain, plus a self-loop-only node
    edges = []
    cl = [10, 11, 12, 13, 14]
    for i in range(5):
        for j in range(i + 1, 5):
            edges.append((cl[i], cl[j]))
    edges += [(14, 20), (20, 21), (21, 22), (30, 30)]
    df = spark.createDataFrame(edges, "_src: long, _dst: long")
    got = {r.node: r.coreness for r in core_decomposition(df).collect()}
    assert got == {10: 4, 11: 4, 12: 4, 13: 4, 14: 4,
                   20: 1, 21: 1, 22: 1, 30: 0}

    # brute-force Batagelj-Zaversnik parity on random graphs
    def bz(edge_set, nodes):
        adj = {n: set() for n in nodes}
        for a, b in edge_set:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        core = {n: len(adj[n]) for n in nodes}
        order = sorted(nodes, key=lambda n: core[n])
        seen = set()
        while order:
            v = min((n for n in nodes if n not in seen),
                    key=lambda n: core[n])
            seen.add(v)
            for u in adj[v]:
                if u not in seen and core[u] > core[v]:
                    core[u] -= 1
            if len(seen) == len(nodes):
                break
        return core

    for trial in range(3):
        r = random.Random(5 + trial)
        nodes = list(range(18))
        es = set()
        for _ in range(30):
            a, b = r.sample(nodes, 2)
            es.add((min(a, b), max(a, b)))
        df2 = spark.createDataFrame(sorted(es), "_src: long, _dst: long")
        got2 = {x.node: x.coreness
                for x in core_decomposition(df2).collect()}
        exp = bz(es, sorted({n for e in es for n in e}))
        assert got2 == exp, (trial, got2, exp)

    with pytest.raises(ValueError, match="max_coreness"):
        core_decomposition(df, max_coreness=0)
    with pytest.raises(RuntimeError, match="max_coreness"):
        core_decomposition(df, max_coreness=2)


def test_link_prediction_hand_case(spark):
    import math

    from graphlite_spark.operators.paths import link_prediction

    # K4 minus edge (2,3) plus pendant 4-0; mixed directions + dup +
    # self-loop to exercise canonicalization.
    E = [(0, 1), (1, 2), (2, 0), (3, 0), (1, 3), (2, 1), (0, 0), (4, 0)]
    edges = spark.createDataFrame(E, "_src long, _dst long")
    rows = {(r.node_u, r.node_v): r
            for r in link_prediction(edges).collect()}
    # degrees: 0->4, 1->3, 2->2, 3->2, 4->1
    assert set(rows) == {(2, 3), (1, 4), (2, 4), (3, 4)}
    r23 = rows[(2, 3)]
    assert r23.common_neighbors == 2
    assert r23.jaccard == 1.0
    assert r23.adamic_adar == round(1 / math.log(4) + 1 / math.log(3), 4)
    assert r23.resource_allocation == round(1 / 4 + 1 / 3, 6)
    assert r23.preferential_attachment == 4
    r14 = rows[(1, 4)]
    assert (r14.common_neighbors, r14.preferential_attachment) == (1, 3)
    assert r14.jaccard == round(1 / 3, 6)
    assert r14.adamic_adar == round(1 / math.log(4), 4)
    assert rows[(2, 4)].jaccard == 0.5
    assert rows[(3, 4)].preferential_attachment == 2

    # hub cap: center 0 (deg 4) dropped -> only the (2,3)-via-1 wedge
    # survives; scores become documented lower bounds.
    capped = {(r.node_u, r.node_v): r
              for r in link_prediction(edges, max_center_degree=3).collect()}
    assert set(capped) == {(2, 3)}
    c23 = capped[(2, 3)]
    assert c23.common_neighbors == 1
    assert c23.adamic_adar == round(1 / math.log(3), 4)
    assert c23.jaccard == round(1 / 3, 6)  # denominators keep FULL degrees

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_center_degree"):
        link_prediction(edges, max_center_degree=1)


def test_clustering_coefficient_and_transitivity(spark):
    from graphlite_spark.operators.paths import (
        clustering_coefficient, transitivity,
    )

    E = [(0, 1), (1, 2), (2, 0), (3, 0), (1, 3), (2, 1), (0, 0), (4, 0)]
    edges = spark.createDataFrame(E, "_src long, _dst long")
    got = {r.node: (r.degree, r.n_triangles, r.clustering)
           for r in clustering_coefficient(edges).collect()}
    assert got == {
        0: (4, 2, round(1 / 3, 6)),
        1: (3, 2, round(2 / 3, 6)),
        2: (2, 1, 1.0),
        3: (2, 1, 1.0),
        4: (1, 0, 0.0),
    }
    t = transitivity(edges).collect()[0]
    assert (t.n_triangles, t.n_wedges) == (2, 11)
    assert t.transitivity == round(6 / 11, 6)
    # wedge-free graph: single edge
    t0 = transitivity(
        spark.createDataFrame([(0, 1)], "_src long, _dst long")
    ).collect()[0]
    assert (t0.n_triangles, t0.n_wedges, t0.transitivity) == (0, 0, 0.0)


def test_hits_matches_numpy(spark):
    import numpy as np
    import pytest as _pytest

    from graphlite_spark.operators.paths import hits

    # directed citation-ish graph with an isolated node (5 via nodes=)
    E = [(0, 2), (0, 3), (1, 2), (1, 3), (4, 2), (2, 3), (3, 0)]
    edges = spark.createDataFrame(E, "_src long, _dst long")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")

    def np_hits(n_iter, norm):
        A = np.zeros((6, 6))
        for a, b in E:
            A[a, b] += 1.0
        h = np.ones(6)
        for _ in range(n_iter):
            a = A.T @ h
            z = np.sqrt((a * a).sum()) if norm == "l2" else np.abs(a).sum()
            a = a / z if z > 0 else a * 0.0
            h = A @ a
            z = np.sqrt((h * h).sum()) if norm == "l2" else np.abs(h).sum()
            h = h / z if z > 0 else h * 0.0
        return h, a

    for norm in ("l2", "l1"):
        got = {r.node: (r.hub, r.authority)
               for r in hits(edges, nodes, num_iter=15, norm=norm).collect()}
        h, a = np_hits(15, norm)
        for i in range(6):
            assert abs(got[i][0] - h[i]) < 1e-9, (norm, i, got[i][0], h[i])
            assert abs(got[i][1] - a[i]) < 1e-9, (norm, i, got[i][1], a[i])
    # isolated node scores 0 on both axes
    got = {r.node: (r.hub, r.authority)
           for r in hits(edges, nodes, num_iter=3).collect()}
    assert got[5] == (0.0, 0.0)
    # nodes defaulted from edges: same scores, no node 5
    got_def = {r.node: (r.hub, r.authority)
               for r in hits(edges, num_iter=3).collect()}
    assert set(got_def) == {0, 1, 2, 3, 4}
    assert all(abs(got_def[i][0] - got[i][0]) < 1e-12 for i in got_def)

    with _pytest.raises(ValueError, match="norm"):
        hits(edges, norm="cosine")
    with _pytest.raises(ValueError, match="num_iter"):
        hits(edges, num_iter=0)


def _dsir_replica(docs, target_texts, orders=(1, 2), smoothing=0.5,
                  salt=0, k=5):
    """Pure-python DSIR replica: importance log-weights + deterministic
    Gumbel keys, matching the operator's exact arithmetic."""
    import math
    import re

    def feats(text):
        ws = re.split(r"\s+", text.strip().lower())
        out = []
        for n in sorted(orders):
            if n == 1:
                out.extend(ws)
            else:
                out.extend(" ".join(ws[i:i + n])
                           for i in range(len(ws) - n + 1))
        return out

    tc, rc = {}, {}
    for t in target_texts:
        for f in feats(t):
            tc[f] = tc.get(f, 0) + 1
    raw_feats = {i: feats(t) for i, t in docs.items()}
    for fs in raw_feats.values():
        for f in fs:
            rc[f] = rc.get(f, 0) + 1
    v = len(set(tc) | set(rc))
    tt, tr = sum(tc.values()), sum(rc.values())
    s = smoothing

    def delta(f):
        return (math.log((tc.get(f, 0) + s) / (tt + s * v))
                - math.log((rc.get(f, 0) + s) / (tr + s * v)))

    out = {}
    for i, fs in raw_feats.items():
        lw = sum(delta(f) for f in fs)
        b = (((i % (1 << 32)) + salt) % (1 << 32) * 2654435761) % (1 << 32)
        u = (b + 0.5) / float(1 << 32)
        g = -math.log(-math.log(u))
        out[i] = (lw, lw + g)
    sel = sorted(out, key=lambda i: (-out[i][1], i))[:k]
    return out, sel


def test_dsir_select_python_parity(spark):
    from graphlite_spark.operators.sampling import dsir_select

    # raw corpus: half quality-prose-ish (target-like), half noise
    docs = {}
    for i in range(6):
        docs[i] = f"the quick brown fox jumps over lazy dog number {i}"
    for i in range(6, 12):
        docs[i] = f"zz{i} qqq www " + "spam " * (i - 5)
    target_texts = [
        "the quick brown fox", "a lazy dog jumps", "the dog and the fox",
        "quick dogs jump over foxes",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(t,) for t in target_texts], "text string")

    got = dsir_select(df, tgt, k=5, salt=3).collect()
    exp, sel = _dsir_replica(docs, target_texts, salt=3, k=5)
    assert [r.doc_id for r in got] == sel
    for r in got:
        assert r.log_weight == round(exp[r.doc_id][0], 4), r
        assert r.gumbel_key == round(exp[r.doc_id][1], 4), r
    # target-like docs dominate the selection
    assert sum(1 for r in got if r.doc_id < 6) >= 4

    # hashed features with a collision-free bucket space reproduce the
    # unhashed weights exactly (counts fold bijectively)
    hashed = dsir_select(df, tgt, k=5, salt=3, num_buckets=1 << 61).collect()
    assert [(r.doc_id, r.log_weight, r.gumbel_key) for r in hashed] == \
        [(r.doc_id, r.log_weight, r.gumbel_key) for r in got]

    # a tiny bucket space still selects deterministically (collisions
    # fold counts; weights differ, the contract is determinism)
    small1 = dsir_select(df, tgt, k=5, salt=3, num_buckets=4).collect()
    small2 = dsir_select(df, tgt, k=5, salt=3, num_buckets=4).collect()
    assert [r.doc_id for r in small1] == [r.doc_id for r in small2]

    # salt changes the gumbel draw (selection may reshuffle)
    other = dsir_select(df, tgt, k=5, salt=99).collect()
    assert any(r.gumbel_key != g.gumbel_key
               for r, g in zip(other, got))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        dsir_select(df, tgt, k=0)
    with _pytest.raises(ValueError, match="smoothing"):
        dsir_select(df, tgt, k=1, smoothing=0.0)
    with _pytest.raises(ValueError, match="orders"):
        dsir_select(df, tgt, k=1, orders=())
    with _pytest.raises(ValueError, match="num_buckets"):
        dsir_select(df, tgt, k=1, num_buckets=1)


def test_srp_project_numpy_parity_and_distortion(spark):
    """srp_project == numpy sign-GEMM exactly (double fold, same
    order); JL cosine distortion on unit-ish vectors stays within the
    O(1/sqrt(k)) envelope; wrong-dim rows project to NULL."""
    import numpy as np

    from graphlite_spark.operators.similarity import (srp_project,
                                                      srp_sign_matrix)

    rng = np.random.RandomState(11)
    dim, k, n = 32, 16, 40
    vecs = rng.randn(n, dim).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    rows.append((n, [1.0, 2.0]))  # wrong dim -> NULL
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.projection
           for r in srp_project(df, dim=dim, out_dim=k, salt=3).collect()}

    assert out[n] is None
    S = np.array(srp_sign_matrix(dim, k, salt=3), dtype=np.float64)
    inv = 1.0 / np.sqrt(k)
    for i in range(n):
        # replicate the sequential left fold in float64
        want = []
        for j in range(k):
            acc = 0.0
            for x, s in zip(vecs[i].astype(np.float64), S[:, j]):
                acc += x * s
            want.append(acc * inv)
        got = out[i]
        assert got == pytest.approx(want, abs=1e-12)

    # cosine preservation: planted near-duplicate pairs stay near,
    # and mean |cos_orig - cos_proj| over random pairs is JL-bounded
    proj = np.array([out[i] for i in range(n)])

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    errs = []
    for a in range(0, n, 3):
        for b in range(a + 1, n, 7):
            errs.append(abs(cos(vecs[a], vecs[b]) - cos(proj[a], proj[b])))
    import math

    assert sum(errs) / len(errs) < 2.0 / math.sqrt(k)


def test_srp_sign_matrix_balance_and_determinism():
    from graphlite_spark.operators.similarity import srp_sign_matrix

    a = srp_sign_matrix(64, 8, salt=5)
    b = srp_sign_matrix(64, 8, salt=5)
    assert a == b
    c = srp_sign_matrix(64, 8, salt=6)
    assert a != c
    flat = [s for row in a for s in row]
    # fmix32 avalanche: signs roughly balanced
    assert abs(sum(flat)) < len(flat) * 0.2
    with pytest.raises(ValueError):
        srp_sign_matrix(0, 4)


def test_perplexity_buckets_closed_form(spark):
    """9 docs per group with distinct perplexities -> exact tertiles;
    ties split deterministically by id; bad labels raise."""
    from graphlite_spark.operators.text import perplexity_buckets

    rows = [(gi * 100 + i, g, float(10 + i))
            for gi, g in enumerate(("en", "fr")) for i in range(9)]
    # a tie group: all equal values -> ntile splits by doc_id
    rows += [(300 + i, "de", 5.0) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, perplexity double")
    out = {r.doc_id: r.ppl_bucket
           for r in perplexity_buckets(df, group_cols=("lang",)).collect()}
    for base, lang in ((0, "en"), (100, "fr")):
        for i in range(9):
            want = ("head", "middle", "tail")[i // 3]
            assert out[base + i] == want, (base, i)
    assert (out[300], out[301], out[302]) == ("head", "middle", "tail")

    with pytest.raises(ValueError):
        perplexity_buckets(df, labels=("only",))


def test_blocklist_filter_and_host_stats(spark):
    from graphlite_spark.operators.web import (blocklist_filter,
                                               host_stats, host_suffixes)
    from pyspark.sql import functions as F

    rows = [
        (1, "http://evil.com/a", 10.0),
        (2, "https://cdn.evil.com/x?y=1", 20.0),     # parent-domain hit
        (3, "http://notevil.com/ok", 30.0),           # suffix NOT a label match
        (4, "https://good.org/页", 40.0),
        (5, "mailto:junk@nowhere", 50.0),             # unparseable host
        (6, "http://u:p@evil.com/bypass", 60.0),      # userinfo evasion
        (7, "http://EVIL.com:8080/", 70.0),           # case + port
        (8, "https://good.org/dup", 80.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, score double")
    bl = spark.createDataFrame([("evil.com",), ("spam.net",)], "host string")

    kept = sorted(r.doc_id for r in
                  blocklist_filter(df, bl).collect())
    assert kept == [3, 4, 8]  # 5 dropped (no host), evil.* all dropped

    flags = {r.doc_id: r.blocked
             for r in blocklist_filter(df, bl, mode="flag").collect()}
    assert flags == {1: True, 2: True, 3: False, 4: False,
                     5: True, 6: True, 7: True, 8: False}

    with pytest.raises(ValueError):
        blocklist_filter(df, bl, mode="nope")

    sfx = df.filter(F.col("doc_id") == 2).select(
        host_suffixes(F.lit("a.b.co")).alias("s")).collect()[0].s
    assert sfx == ["a.b.co", "b.co", "co"]

    stats = {r.host: (r.n_docs, r.n_urls, r.avg_score)
             for r in host_stats(df, value_cols=("score",)).collect()}
    assert stats["evil.com"] == (3, 3, 46.666667)
    assert stats["cdn.evil.com"] == (1, 1, 20.0)
    assert stats["good.org"] == (2, 2, 60.0)
    assert stats[None] == (1, 1, 50.0)
    assert stats["notevil.com"] == (1, 1, 30.0)


def test_dedup_against_index(spark, tmp_path):
    """Persisted dedup index: exact content hits and band-bucket
    near-dup hits drop on arrival; parameters are pinned in meta; the
    index path buckets IDENTICALLY to minhash_lsh_pairs (shared
    construction) so every pair the batch operator finds between
    corpus and batch is also caught by the index."""
    from graphlite_spark.operators.dedup import (build_dedup_index,
                                                 dedup_against_index,
                                                 minhash_lsh_pairs)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    corpus_rows = [
        (i, base.replace("fox", w))
        for i, w in enumerate(["fox", "cat", "owl", "elk", "bat"])
    ]
    # unrelated docs so the index isn't one near-dup cluster
    corpus_rows += [
        (10 + i, f"completely unrelated document number {i} about "
                 f"spark catalyst optimizer internals volume {i}")
        for i in range(5)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    idx = str(tmp_path / "dedup_idx")
    n_docs = build_dedup_index(corpus, idx, n=3, num_hashes=64, bands=16)
    assert n_docs == 10

    new_rows = [
        (100, corpus_rows[0][1]),              # exact dup (and near)
        (101, corpus_rows[1][1].upper()),      # exact after normalize
        (102, base.replace("fox", "hen")),     # near-dup of the family
        (103, "a totally fresh document about nothing seen before "
              "with many novel words and phrases galore"),
        (104, "x"),                            # too short to shingle
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    kept = sorted(r.doc_id for r in dedup_against_index(new, idx).collect())
    # 102's near-dup status must agree with the batch operator run on
    # the union — if minhash finds a (corpus, 102) pair, the index
    # must catch it (same banding)
    union = corpus.unionByName(new)
    pairs = minhash_lsh_pairs(union, threshold=0.0, verify=False).collect()
    cross = {(a, b) for a, b in
             ((r.id_a, r.id_b) for r in pairs) if a < 10 <= b or b < 10 <= a}
    caught_102 = any(102 in p for p in cross)
    assert caught_102  # the planted family near-dup is found by LSH
    assert 100 not in kept and 101 not in kept and 102 not in kept
    assert 103 in kept and 104 in kept

    flags = {r.doc_id: (r.exact_dup, r.near_dup)
             for r in dedup_against_index(new, idx, mode="flag").collect()}
    assert flags[100] == (True, True)
    assert flags[101][0] is True
    assert flags[102] == (False, True)
    assert flags[103] == (False, False)
    assert flags[104] == (False, False)

    # exact-only mode keeps the near-dup
    kept_exact = sorted(
        r.doc_id
        for r in dedup_against_index(new, idx, near=False).collect())
    assert kept_exact == [102, 103, 104]

    with pytest.raises(ValueError):
        dedup_against_index(new, idx, mode="nope")
    with pytest.raises(ValueError):
        build_dedup_index(corpus, idx, num_hashes=64, bands=7)


def test_negative_samples_replay_and_collision(spark):
    from graphlite_spark.operators.sampling import negative_samples

    pairs = spark.createDataFrame(
        [(1, 3), (1, 7), (2, 0)], "query_id long, item_id long")
    out = negative_samples(pairs, n_items=10, k=4, salt=5).collect()
    assert len(out) == 12

    def bucket(key):
        return ((key % 2**32 + 5) % 2**32) * 2654435761 % 2**32

    for r in out:
        seed = (r.query_id % 1000003) * 1000003 \
            + (r.item_id % 8191) * 8191 + r.neg_rank
        cand = bucket(seed) % 10
        want = (cand + 1) % 10 if cand == r.item_id else cand
        assert r.negative == want
        assert r.negative != r.item_id and 0 <= r.negative < 10

    with pytest.raises(ValueError):
        negative_samples(pairs, n_items=1)
    with pytest.raises(ValueError):
        negative_samples(pairs, n_items=10, k=0)


def test_hard_negatives_excludes_positives(spark):
    import numpy as np

    from graphlite_spark.operators.similarity import hard_negatives

    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 8).astype(float)
    items = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]])],
        "query_id long, embedding array<double>")
    # positives: the 3 most-similar items (computed via numpy)
    def cos(a, b):
        return a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    sims = sorted(((cos(vecs[0], vecs[j]), j) for j in range(1, 30)),
                  reverse=True)
    pos_ids = [j for _, j in sims[:3]]
    positives = spark.createDataFrame(
        [(0, j) for j in pos_ids], "query_id long, item_id long")
    out = hard_negatives(items, queries, positives, k=5).collect()
    got = [r.item_id for r in sorted(out, key=lambda r: r.neg_rank)]
    want = [j for _, j in sims[3:8]]
    assert got == want  # exactly the next-5 most-similar non-positives
    assert set(got).isdisjoint(pos_ids)


def test_pq_numpy_parity_and_recall(spark):
    """pq_encode matches a numpy PQ encoder given the same codebooks;
    plain ADC scores match numpy table lookups; the rescored path at
    15% is exactly the fp top-k on the real embeddings corpus."""
    import numpy as np

    from graphlite_spark.operators.similarity import (cosine_topk,
                                                      pq_encode, pq_topk,
                                                      train_pq)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = train_pq(emb, m=8, k=16, iters=2)
    assert cb.shape == (8, 16, 8)

    rows = emb.limit(40).collect()
    codes = {r.vec_id: r.codes for r in
             pq_encode(emb.limit(40), cb).collect()}
    for r in rows:
        x = np.asarray(r.embedding, dtype="float64")
        x = x / max(np.linalg.norm(x), 1e-12)
        xs = x.reshape(8, 8)
        want = [int(((xs[s] @ cb[s].T) * 2
                     - (cb[s] ** 2).sum(axis=1)).argmax())
                for s in range(8)]
        assert codes[r.vec_id] == want

    # plain ADC score parity for one query
    from pyspark.sql import functions as F
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {r.item_id: r.score
           for r in pq_topk(emb.limit(40), q, cb, k=40).collect()}
    qv = np.asarray(rows[0].embedding if rows[0].vec_id == 0 else
                    emb.filter(F.col("vec_id") == 0)
                    .collect()[0].embedding, dtype="float64")
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    tab = np.stack([qv.reshape(8, 8)[s] @ cb[s].T for s in range(8)])
    for r in rows:
        if r.vec_id == 0:
            continue
        want = float(sum(tab[s][codes[r.vec_id][s]] for s in range(8)))
        assert got[r.vec_id] == pytest.approx(want, abs=1e-6)

    # rescored == exact at the operating point (k=256 codebooks)
    cb2 = train_pq(emb, m=8, k=64, iters=2)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.item_id)
             for r in cosine_topk(emb, qs, k=10).collect()}
    resc = {(r.query_id, r.item_id)
            for r in pq_topk(emb, qs, cb2, k=10,
                             rescore_fraction=0.3).collect()}
    assert resc == exact

    with pytest.raises(ValueError):
        train_pq(emb, m=7)  # 7 does not divide 64
    with pytest.raises(ValueError):
        train_pq(emb, m=8, k=1)


def test_ivfpq_recall_floor_on_clusters(spark):
    """Where IVF-PQ's guarantee applies — clustered corpora — the
    compound router (coarse lists -> PQ ADC within probed lists) must
    recover nearly all true neighbors; on cluster data PQ centroids
    align with the clusters and ADC separates mates from strangers."""
    import random

    from graphlite_spark.operators.similarity import (ann_recall_audit,
                                                      cosine_topk,
                                                      ivfpq_topk,
                                                      train_pq)

    rng = random.Random(5)
    rows = []
    for c in range(20):
        center = [rng.uniform(-1, 1) for _ in range(16)]
        for j in range(10):
            rows.append((c * 10 + j,
                         [v + rng.uniform(-0.02, 0.02) for v in center]))
    items = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>")
    q = items.filter("vec_id % 10 = 0 AND vec_id < 50").selectExpr(
        "vec_id AS query_id", "embedding")
    cb = train_pq(items, m=4, k=16, iters=2, dim=16)
    exact = cosine_topk(items, q, k=5)
    # plain ADC: within a tight cluster every mate scores nearly
    # identically, so ADC may return a different 5 OF THE SAME MATES
    # than exact — the meaningful plain-ADC claim is cluster purity
    ann = ivfpq_topk(items, q, cb, k=5, n_lists=8, n_probe=2)
    rows_out = ann.collect()
    assert len(rows_out) == 25
    purity = sum(r.item_id // 10 == r.query_id // 10
                 for r in rows_out) / len(rows_out)
    assert purity >= 0.9, purity
    # exact rescore of the probed band restores the true ranking
    resc = ivfpq_topk(items, q, cb, k=5, n_lists=8, n_probe=2,
                      rescore_fraction=0.5)
    audit = ann_recall_audit(exact, resc).collect()[0]
    assert audit.n_exact_rows == 25
    assert audit.recall_at_k >= 0.9, audit.asDict()


def test_bm25_indexed_bit_identical(spark, tmp_path):
    from graphlite_spark.operators.text import (bm25_search,
                                                bm25_search_indexed,
                                                build_bm25_index)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "bm25_idx")
    n = build_bm25_index(docs, idx)
    assert n == docs.count()
    terms = ["hash", "join", "spark"]
    direct = [(r.doc_id, r.score, r.n_terms_hit)
              for r in bm25_search(docs, terms, k=20).collect()]
    indexed = [(r.doc_id, r.score, r.n_terms_hit)
               for r in bm25_search_indexed(spark, idx, terms,
                                            k=20).collect()]
    assert direct == indexed and len(direct) > 0

    # the query plan reads postings with the term filter PUSHED DOWN
    plan = bm25_search_indexed(spark, idx, terms, k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term" in plan

    with pytest.raises(ValueError):
        bm25_search_indexed(spark, idx, [])


@pytest.mark.full_tier
def test_train_quality_lr_replica_separation_and_raise(spark):
    """Distributed logistic regression (VERDICT r8 ask #5): the full
    GD trajectory matches a pure-python replica (same per-iteration
    gradient rounding — the cross-engine device), held-out separation
    meets the NB floor on the same synth corpus, training is
    deterministic, the hashed-feature (num_buckets) deployment path
    still separates, and unmet tol RAISES."""
    import math

    from graphlite_spark.operators.text import (
        lang_ngram_model,
        lr_quality_score,
        nb_quality_classifier,
        train_quality_lr,
    )

    good_v = [f"g{i}x" for i in range(8)]
    bad_v = [f"b{i}y" for i in range(8)]
    shared = ["the", "of", "and"]

    def doc(i, good):
        v = good_v if good else bad_v
        # 4 consecutive class words (parity-mixed so train and
        # held-out share vocabulary) + 4 shared stopwords
        ws = [v[(i + j) % 8] for j in range(4)] \
            + [shared[(i + j) % 3] for j in range(4)]
        return " ".join(ws)

    train_rows = [(i, "good" if i % 2 == 0 else "bad", doc(i, i % 2 == 0))
                  for i in range(120)]
    test_rows = [(1000 + i, "good" if i % 2 == 0 else "bad",
                  doc(i + 7, i % 2 == 0)) for i in range(40)]
    tr = spark.createDataFrame(train_rows, "doc_id long, lang string, text string")
    te = spark.createDataFrame(test_rows, "doc_id long, lang string, text string")

    model = train_quality_lr(tr, num_iter=5, lr=1.0)
    weights = {r.feature: r.weight for r in model.collect()}

    # ---- pure-python replica with identical formulas + rounding ----
    docs = {i: (1.0 if lab == "good" else 0.0, txt.lower().split())
            for i, lab, txt in train_rows}
    counts = {i: {} for i in docs}
    for i, (_y, ws) in docs.items():
        for w in ws:
            counts[i][w] = counts[i].get(w, 0.0) + 1.0
    vocab = sorted({w for c in counts.values() for w in c})
    wts = {w: 0.0 for w in vocab}
    b = 0.0
    n = float(len(docs))
    for _ in range(5):
        resid = {}
        for i, (y, _ws) in docs.items():
            z = sum(c * wts[w] for w, c in counts[i].items()) + b
            resid[i] = y - 1.0 / (1.0 + math.exp(-z))
        for w in vocab:
            g = round(sum(counts[i].get(w, 0.0) * resid[i]
                          for i in docs) / n, 8)
            wts[w] += g
        b += round(sum(resid.values()) / n, 8)
    for w in vocab:
        assert abs(weights[w] - wts[w]) < 1e-9, (w, weights[w], wts[w])
    assert abs(weights[None] - b) < 1e-9

    # determinism: retraining is bit-identical
    again = {r.feature: r.weight for r in
             train_quality_lr(tr, num_iter=5, lr=1.0).collect()}
    assert again == weights

    # held-out separation >= the NB floor on the SAME corpus
    scored = {r.doc_id: r.quality_pass
              for r in lr_quality_score(te, model).collect()}
    lr_acc = sum((scored[i] == (lab == "good"))
                 for i, lab, _ in test_rows) / len(test_rows)
    nbm = lang_ngram_model(tr.select("lang", "text"))
    nb = {r.doc_id: r.quality_pass
          for r in nb_quality_classifier(te, nbm, pos_label="good").collect()}
    nb_acc = sum((nb[i] == (lab == "good"))
                 for i, lab, _ in test_rows) / len(test_rows)
    assert lr_acc >= nb_acc
    assert lr_acc >= 0.95

    # hashed-feature deployment path still separates
    hm = train_quality_lr(tr, num_iter=5, lr=1.0, num_buckets=32)
    hs = {r.doc_id: r.quality_pass
          for r in lr_quality_score(te, hm, num_buckets=32).collect()}
    h_acc = sum((hs[i] == (lab == "good"))
                for i, lab, _ in test_rows) / len(test_rows)
    assert h_acc >= 0.9

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="tol"):
        train_quality_lr(tr, num_iter=1, lr=0.1, tol=1e-9)


def test_lang_id_breadth_per_language_floors_and_und_sweep(spark):
    """lang_id breadth (VERDICT r8 ask #6): 13 languages including
    Cyrillic (ru), two non-space-delimited CJK scripts (ja, zh — the
    word-tokenizer trap char trigrams sidestep), and the es/pt
    confusable pair. Per-language accuracy floors pinned on held-out
    shards; an und-threshold sweep shows the coverage gate's monotone
    effect: raising min_coverage never hurts the noise rejection rate
    and in-set accuracy survives every swept threshold."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.text import (
        lang_id,
        lang_ngram_model,
        synth_multilingual,
    )

    train = synth_multilingual(spark, 1300, words_per_doc=40, salt=1)
    model = lang_ngram_model(train)
    test = synth_multilingual(spark, 650, words_per_doc=30, salt=999)

    j = lang_id(test.select("doc_id", "text"), model=model).join(
        test.select("doc_id", F.col("lang").alias("truth")), "doc_id")
    per = {r.truth: r.acc for r in j.groupBy("truth").agg(
        F.avg((F.col("lang_guess") == F.col("truth")).cast("double"))
        .alias("acc")).collect()}
    assert set(per) == {"en", "de", "fr", "es", "it", "pt", "nl", "sv",
                        "pl", "tr", "ru", "ja", "zh"}
    for lang, acc in per.items():
        assert acc >= 0.99, (lang, acc)
    # the confusable pair and the non-space scripts explicitly
    assert per["es"] >= 0.95 and per["pt"] >= 0.95
    assert per["ja"] >= 0.99 and per["zh"] >= 0.99

    # CJK docs really are space-free (the tokenizer-trap regime)
    cjk = test.filter(F.col("lang").isin("ja", "zh")) \
        .filter(F.col("text").contains(" ")).count()
    assert cjk == 0

    # und-threshold sweep: out-of-set consonant noise + in-set docs
    oos = spark.range(50).selectExpr(
        "id + 1000000 as doc_id",
        "array_join(transform(sequence(0, 19), j -> element_at("
        "array('xqz', 'wvk', 'zzt', 'qqj', 'kxw'), "
        "CAST(((id*20 + j) * 2654435761) % 4294967296 % 5 AS INT) + 1)), "
        "' ') as text")
    prev_rate = -1.0
    for mc in (0.0, 0.1, 0.2, 0.4):
        und_rate = lang_id(oos, model=model, min_coverage=mc).agg(
            F.avg((F.col("lang_guess") == "und").cast("double"))
        ).collect()[0][0]
        assert und_rate >= prev_rate       # monotone in the threshold
        prev_rate = und_rate
        acc_in = lang_id(test.select("doc_id", "text"), model=model,
                         min_coverage=mc).join(
            test.select("doc_id", F.col("lang").alias("truth")),
            "doc_id").agg(
            F.avg((F.col("lang_guess") == F.col("truth"))
                  .cast("double"))).collect()[0][0]
        assert acc_in >= 0.99, (mc, acc_in)
    assert prev_rate == 1.0                # fully rejected by 0.4
    # and the gate actually bites: with no threshold the noise is
    # NOT rejected (it picks some in-set language)
    loose = lang_id(oos, model=model, min_coverage=0.0).agg(
        F.avg((F.col("lang_guess") == "und").cast("double"))
    ).collect()[0][0]
    assert loose < 0.5


def test_semantic_dedup_auto_routing(spark, tmp_path):
    """The int8/fp crossover router (VERDICT r8 ask #7): identical
    components regardless of route (by the band-audit guarantee), and
    the route is picked by Catalyst's plan-size estimate — a tiny
    file-backed corpus goes fp, the same corpus under a 1-byte
    threshold goes int8; both answers equal both explicit paths."""
    from graphlite_spark.operators.dedup import _plan_size_bytes
    from graphlite_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_auto,
        semantic_dedup_int8,
    )

    rows = []
    for g in range(4):
        for i in range(3):
            v = [0.0] * 8
            v[g] = 1.0
            v[7] = 0.01 * i
            rows.append((g * 10 + i, v))
    p = str(tmp_path / "vecs")
    spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ).write.parquet(p)
    df = spark.read.parquet(p)

    size = _plan_size_bytes(df)
    assert 0 < size < 2 << 20   # a real file-backed estimate

    fp = sorted((r.vec_id, r.canonical_id) for r in
                semantic_dedup(df, threshold=0.9, n_lists=2).collect())
    i8 = sorted((r.vec_id, r.canonical_id) for r in
                semantic_dedup_int8(df, threshold=0.9,
                                    n_lists=2).collect())
    assert fp == i8
    # default crossover (2 MiB): small corpus routes fp
    small = sorted((r.vec_id, r.canonical_id) for r in
                   semantic_dedup_auto(df, threshold=0.9,
                                       n_lists=2).collect())
    # forced-low crossover: the int8 path
    large = sorted((r.vec_id, r.canonical_id) for r in
                   semantic_dedup_auto(df, threshold=0.9, n_lists=2,
                                       int8_min_bytes=1).collect())
    assert small == fp
    assert large == i8
    assert small == large


def test_pq_topk_string_query_ids(spark):
    """pq_topk / ivfpq_topk accept non-integral query ids like the
    rest of the ANN family (r8 ADVICE): string-keyed queries score
    identically to the same vectors under long ids (modulo the
    self-exclusion, which only applies when id domains match)."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.similarity import (ivfpq_topk,
                                                      pq_topk, train_pq)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = train_pq(emb, m=8, k=16, iters=2)
    # external queries: ids NOT in the corpus domain either way
    qlong = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 1000000).alias("query_id"), "embedding")
    qstr = emb.filter("vec_id < 3").select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
        "embedding")
    long_res = {(r.query_id - 1000000, r.item_id): r.score
                for r in pq_topk(emb, qlong, cb, k=5).collect()}
    str_res = {(int(r.query_id[2:]), r.item_id): r.score
               for r in pq_topk(emb, qstr, cb, k=5).collect()}
    assert long_res == str_res and len(str_res) == 15

    ilong = {(r.query_id - 1000000, r.item_id): r.score
             for r in ivfpq_topk(emb, qlong, cb, k=5, n_lists=4,
                                 n_probe=2).collect()}
    istr = {(int(r.query_id[2:]), r.item_id): r.score
            for r in ivfpq_topk(emb, qstr, cb, k=5, n_lists=4,
                                n_probe=2).collect()}
    assert ilong == istr and len(istr) == 15


def test_temperature_sample_rebalances_and_alpha1_is_identity(spark):
    """temperature_sample: alpha=1 keeps the natural mix (every rate
    is exactly 1 -> identity); alpha=0.5 shrinks the max/min group
    share ratio (rebalancing toward uniform); the binding group keeps
    every row; selection is deterministic."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.sampling import temperature_sample

    rows = ([(i, "big") for i in range(900)]
            + [(i + 10000, "mid") for i in range(300)]
            + [(i + 20000, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    ident = temperature_sample(df, "lang", "doc_id", alpha=1.0, salt=3)
    assert ident.count() == df.count()

    out = temperature_sample(df, "lang", "doc_id", alpha=0.5, salt=3)
    got = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # the rarest group binds: it keeps everything
    assert got["small"] == 100
    # rebalanced: post-sample max/min share ratio strictly shrinks
    pre_ratio = 900 / 100
    post_ratio = max(got.values()) / min(got.values())
    assert post_ratio < pre_ratio
    # expected shares ~ sqrt: big/small target ratio = 3 (sqrt(9));
    # realized counts track it within hash noise
    assert 2.0 < got["big"] / got["small"] <= 3.5

    again = {r.lang: r.n for r in
             temperature_sample(df, "lang", "doc_id", alpha=0.5, salt=3)
             .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert again == got

    import pytest as _pytest
    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "lang", "doc_id", alpha=0.0)


def test_semantic_contamination_flag_and_drop(spark):
    """Paraphrase-leak semantics: a near-copy of a benchmark vector is
    contaminated even though its text-level hash would differ;
    orthogonal vectors are clean; mode='drop' returns exactly the
    clean rows; benchmark members flag themselves at 1.0."""
    from graphlite_spark.operators.similarity import (
        semantic_contamination,
    )

    def v(axis, eps_axis=None, eps=0.0):
        x = [0.0] * 8
        x[axis] = 1.0
        if eps_axis is not None:
            x[eps_axis] = eps
        return x

    bench = spark.createDataFrame(
        [(0, v(0)), (1, v(1))], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(0, v(0)),              # benchmark member itself -> 1.0
         (10, v(0, 7, 0.1)),     # near-copy of bench 0 -> contaminated
         (11, v(1, 6, 0.05)),    # near-copy of bench 1 -> contaminated
         (12, v(3)),             # orthogonal -> clean
         (13, v(4, 0, 0.2))],    # mild overlap, below 0.9 -> clean
        "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.max_cos, r.nearest_bench_id, r.contaminated)
           for r in semantic_contamination(corpus, bench,
                                           threshold=0.9).collect()}
    assert out[0] == (1.0, 0, True)
    assert out[10][1] == 0 and out[10][2] and out[10][0] > 0.99
    assert out[11][1] == 1 and out[11][2]
    assert not out[12][2] and out[12][0] == 0.0
    assert not out[13][2] and 0 < out[13][0] < 0.9

    clean = sorted(r.vec_id for r in semantic_contamination(
        corpus, bench, threshold=0.9, mode="drop").collect())
    assert clean == [12, 13]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        semantic_contamination(corpus, bench, mode="purge")


def test_lr_score_col_equals_operator_and_is_stream_legal(spark, tmp_path):
    """The zero-exchange scoring column equals lr_quality_score's
    score for raw-gram AND hashed models, runs on a readStream frame
    (stream-legal — no stateful aggregation in the plan), and raises
    on unbounded models instead of inlining a plan-breaking literal."""
    from pyspark.sql import functions as F

    from graphlite_spark.operators.text import (lr_quality_score,
                                                lr_score_col,
                                                train_quality_lr)

    rows = [(i, "good" if i % 2 == 0 else "bad",
             ("alpha bravo common" if i % 2 == 0
              else "zulu yankee common"))
            for i in range(40)]
    tr = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for nb in (None, 16):
        model = train_quality_lr(tr, num_iter=4, lr=1.0, num_buckets=nb)
        op = {r.doc_id: r.score
              for r in lr_quality_score(tr, model, num_buckets=nb)
              .collect()}
        col = {r.doc_id: r.s for r in tr.select(
            "doc_id",
            lr_score_col(model, num_buckets=nb).alias("s")).collect()}
        assert col == op, f"num_buckets={nb}"

    # stream-legal: the same expression on a readStream frame
    model = train_quality_lr(tr, num_iter=4, lr=1.0)
    d = str(tmp_path / "docs")
    tr.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(tr.schema).parquet(d) \
        .select("doc_id", lr_score_col(model).alias("s"))
    q = (stream.writeStream.format("memory").queryName("lr_stream_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.doc_id: r.s for r in spark.table("lr_stream_test").collect()}
    exp = {r.doc_id: r.score
           for r in lr_quality_score(tr, model).collect()}
    assert got == exp

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_literal"):
        lr_score_col(model, max_literal=2)


def test_semantic_contamination_lsh_catches_near_copies(spark):
    """The large-benchmark LSH path: near-duplicate leaks (the
    contamination regime, cosine ~1) still flag — bucket collision is
    near-certain for near-parallel vectors — and verdicts agree with
    the exact path on the planted corpus; items with no candidate
    pair report 0.0/clean instead of vanishing."""
    import numpy as np

    from graphlite_spark.operators.similarity import (
        semantic_contamination,
    )

    rng = np.random.default_rng(5)
    dim = 16
    bench_vecs = rng.standard_normal((6, dim))
    rows_b = [(i, bench_vecs[i].tolist()) for i in range(6)]
    rows_c = []
    for i in range(6):  # near-copies of every benchmark vector
        v = bench_vecs[i] + 0.02 * rng.standard_normal(dim)
        rows_c.append((100 + i, v.tolist()))
    for i in range(20):  # random clean items
        rows_c.append((200 + i, rng.standard_normal(dim).tolist()))
    bench = spark.createDataFrame(
        rows_b, "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        rows_c, "vec_id long, embedding array<double>")

    exact = {r.vec_id: r.contaminated for r in semantic_contamination(
        corpus, bench, threshold=0.9).collect()}
    lsh = {r.vec_id: r.contaminated for r in semantic_contamination(
        corpus, bench, threshold=0.9, method="lsh", dim=dim,
        num_planes=8, n_tables=8).collect()}
    assert set(lsh) == set(exact)          # nobody vanishes
    for i in range(6):                      # every near-copy caught
        assert exact[100 + i] and lsh[100 + i], i
    # no false positives either way on the random cleans
    assert not any(exact[200 + i] for i in range(20))
    assert not any(lsh[200 + i] for i in range(20))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        semantic_contamination(corpus, bench, method="ann")


@pytest.mark.full_tier
def test_leiden_resolution_monotone(spark):
    """The resolution knob: gamma=1 reproduces the default exactly;
    a high gamma splits the two-scale graph's coarse groups back into
    fine triangles (the penalty term defeats the weak bridges); a
    tiny gamma coarsens; the knob folds into 2m so nothing else
    changes."""
    import pytest

    from graphlite_spark.operators.paths import leiden_communities

    def nid(g, c, i):
        return g * 100 + c * 10 + i

    edge_list = []
    for g in range(2):
        for c in range(3):
            ids = [nid(g, c, i) for i in range(3)]
            edge_list += [(ids[0], ids[1]), (ids[1], ids[2]),
                          (ids[0], ids[2])]
        for c1 in range(3):
            for c2 in range(c1 + 1, 3):
                for i in (1, 2):
                    edge_list.append((nid(g, c1, i), nid(g, c2, i)))
    edge_list.append((nid(0, 0, 1), nid(1, 0, 1)))
    node_ids = sorted({x for e in edge_list for x in e})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id: long")
    edges = spark.createDataFrame(edge_list, "_src: long, _dst: long")

    base = sorted((r.node, r.community) for r in leiden_communities(
        edges, nodes, max_levels=4, max_rounds=30).collect())
    same = sorted((r.node, r.community) for r in leiden_communities(
        edges, nodes, max_levels=4, max_rounds=30,
        resolution=1.0).collect())
    assert base == same
    assert len({c for _, c in base}) == 2          # the coarse groups

    fine = {r.node: r.community for r in leiden_communities(
        edges, nodes, max_levels=4, max_rounds=30,
        resolution=4.0).collect()}
    assert len(set(fine.values())) == 6            # back to triangles
    for g in range(2):
        for c in range(3):
            assert {fine[nid(g, c, i)] for i in range(3)} \
                == {nid(g, c, 0)}

    coarse = {r.node: r.community for r in leiden_communities(
        edges, nodes, max_levels=4, max_rounds=30,
        resolution=0.05).collect()}
    assert len(set(coarse.values())) <= 2

    with pytest.raises(ValueError, match="resolution"):
        leiden_communities(edges, nodes, resolution=0.0)


@pytest.mark.full_tier
def test_bm25_index_maintenance_equals_union_rebuild(spark, tmp_path):
    """The BM25 maintenance loop: after ingesting an epoch, indexed
    search equals bm25_search over the UNION corpus (df summed across
    tiers, avgdl recombined from exact token masses); a re-delivered
    epoch is a no-op; the pre-epoch index still matches the base
    corpus alone before any ingest."""
    from graphlite_spark.operators.text import (bm25_index_ingest_batch,
                                                bm25_search,
                                                bm25_search_indexed,
                                                build_bm25_index)

    c1 = spark.createDataFrame(
        [(1, "spark engine for big data processing"),
         (2, "graph engine with gql query support"),
         (3, "data pipelines and spark streaming")],
        "doc_id long, text string")
    c2 = spark.createDataFrame(
        [(10, "spark graph analytics at scale"),
         (11, "another document about engines"),
         (12, "query processing on big graph data")],
        "doc_id long, text string")
    q = ["spark", "graph", "data"]

    idx = str(tmp_path / "bm25idx")
    build_bm25_index(c1, idx)
    base_only = [(r.doc_id, r.score) for r in
                 bm25_search_indexed(spark, idx, q, k=10).collect()]
    exp1 = [(r.doc_id, r.score) for r in
            bm25_search(c1, q, k=10).collect()]
    assert base_only == exp1

    assert bm25_index_ingest_batch(c2, idx, batch_id=1) == 3
    got = [(r.doc_id, r.score) for r in
           bm25_search_indexed(spark, idx, q, k=10).collect()]
    exp = [(r.doc_id, r.score) for r in
           bm25_search(c1.unionByName(c2), q, k=10).collect()]
    assert got == exp

    # crash replay: same epoch re-delivered -> identical results
    bm25_index_ingest_batch(c2, idx, batch_id=1)
    again = [(r.doc_id, r.score) for r in
             bm25_search_indexed(spark, idx, q, k=10).collect()]
    assert again == got

    # a second epoch keeps composing
    c3 = spark.createDataFrame(
        [(20, "spark spark spark heavy repetition")],
        "doc_id long, text string")
    bm25_index_ingest_batch(c3, idx, batch_id=2)
    got3 = [(r.doc_id, r.score) for r in
            bm25_search_indexed(spark, idx, q, k=10).collect()]
    exp3 = [(r.doc_id, r.score) for r in
            bm25_search(c1.unionByName(c2).unionByName(c3),
                        q, k=10).collect()]
    assert got3 == exp3


def test_compact_bm25_index_preserves_scores(spark, tmp_path):
    """BM25 compaction: after folding deltas into the base, every
    query scores identically, the delta dirs are gone, and further
    epochs keep composing on the compacted index."""
    import os

    from graphlite_spark.operators.text import (bm25_index_ingest_batch,
                                                bm25_search,
                                                bm25_search_indexed,
                                                build_bm25_index,
                                                compact_bm25_index)

    c1 = spark.createDataFrame(
        [(1, "spark engine for big data processing"),
         (2, "graph engine with gql query support")],
        "doc_id long, text string")
    c2 = spark.createDataFrame(
        [(10, "spark graph analytics at scale"),
         (11, "query processing on big graph data")],
        "doc_id long, text string")
    q = ["spark", "graph", "data"]
    idx = str(tmp_path / "bm25c")
    build_bm25_index(c1, idx)
    bm25_index_ingest_batch(c2, idx, batch_id=1)
    before = [(r.doc_id, r.score) for r in
              bm25_search_indexed(spark, idx, q, k=10).collect()]

    assert compact_bm25_index(spark, idx) == 4
    after = [(r.doc_id, r.score) for r in
             bm25_search_indexed(spark, idx, q, k=10).collect()]
    assert after == before
    # retention: deltas are fenced after one compaction (answers
    # above prove no double-count) and swept by the second
    assert compact_bm25_index(spark, idx) == 4
    assert not os.path.exists(idx + "/postings_delta")
    assert not os.path.exists(idx + "/terms_delta")
    assert not os.path.exists(idx + "/stats_delta")
    assert [(r.doc_id, r.score) for r in
            bm25_search_indexed(spark, idx, q, k=10).collect()] == before

    c3 = spark.createDataFrame(
        [(20, "spark data one more epoch")], "doc_id long, text string")
    bm25_index_ingest_batch(c3, idx, batch_id=2)
    got = [(r.doc_id, r.score) for r in
           bm25_search_indexed(spark, idx, q, k=10).collect()]
    exp = [(r.doc_id, r.score) for r in
           bm25_search(c1.unionByName(c2).unionByName(c3),
                       q, k=10).collect()]
    assert got == exp


def test_ann_index_maintenance_and_compaction(spark, tmp_path):
    """The third persisted index completes the lifecycle: after
    ingesting an epoch, rescore_topk_indexed over the maintained
    index is bit-identical to the direct operator on the UNION corpus
    (codes are per-row self-contained); replay is a no-op; compaction
    preserves every answer, drops the deltas, and refreshes meta."""
    import os

    from graphlite_spark.operators.similarity import (
        ann_index_ingest_batch,
        build_rescore_index,
        compact_ann_index,
        rescore_topk,
        rescore_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = emb.filter("vec_id % 2 = 0")
    c2 = emb.filter("vec_id % 2 = 1")
    union = c1.unionByName(c2)
    q = emb.filter("vec_id < 3").selectExpr(
        "vec_id + 1000000 AS query_id", "embedding")

    idx = str(tmp_path / "annidx")
    n1 = build_rescore_index(c1, idx, bits=8)
    assert ann_index_ingest_batch(c2, idx, batch_id=1) \
        == union.count() - n1

    got = sorted((r.query_id, r.item_id, r.score) for r in
                 rescore_topk_indexed(union, q, idx, k=5,
                                      candidate_fraction=0.3).collect())
    exp = sorted((r.query_id, r.item_id, r.score) for r in
                 rescore_topk(union, q, k=5, bits=8,
                              candidate_fraction=0.3).collect())
    assert got == exp and len(got) == 15

    ann_index_ingest_batch(c2, idx, batch_id=1)   # replay
    again = sorted((r.query_id, r.item_id, r.score) for r in
                   rescore_topk_indexed(union, q, idx, k=5,
                                        candidate_fraction=0.3).collect())
    assert again == got

    n_total = compact_ann_index(spark, idx)
    assert n_total == union.count()
    after = sorted((r.query_id, r.item_id, r.score) for r in
                   rescore_topk_indexed(union, q, idx, k=5,
                                        candidate_fraction=0.3).collect())
    assert after == got
    # retention: second compaction sweeps the superseded generation
    assert compact_ann_index(spark, idx) == union.count()
    assert not os.path.exists(idx + "/codes_delta")
    assert not os.path.exists(idx + "/meta_delta")
    assert sorted((r.query_id, r.item_id, r.score) for r in
                  rescore_topk_indexed(union, q, idx, k=5,
                                       candidate_fraction=0.3).collect()) \
        == got


def test_ann_topk_target_recall_routing(spark):
    """target_recall= picks the cheapest documented operating point
    (docs/ANN.md table), raises above the maximum documented floor,
    and rejects conflicting/invalid arguments (VERDICT r9 #7)."""
    import pytest as _pytest

    from graphlite_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, embedding array<double>")

    routed = {}
    orig = {"rescore": S.rescore_topk, "lsh": S.lsh_ann_topk,
            "ivf": S.ivf_topk}

    def spy(name):
        def f(items, queries, k=10, **kw):
            routed["strategy"], routed["kwargs"] = name, kw
            return orig[name](items, queries, k=k, **kw)
        return f

    S.rescore_topk, S.lsh_ann_topk, S.ivf_topk = (
        spy("rescore"), spy("lsh"), spy("ivf"))
    try:
        # each target lands on the documented cheapest point
        S.ann_topk(emb, q, k=5, target_recall=0.4).collect()
        assert routed["strategy"] == "lsh"
        assert routed["kwargs"]["num_planes"] == 8
        S.ann_topk(emb, q, k=5, target_recall=0.7).collect()
        assert routed["strategy"] == "ivf"
        assert routed["kwargs"] == {"n_lists": 16, "n_probe": 8}
        S.ann_topk(emb, q, k=5, target_recall=0.9).collect()
        assert routed["strategy"] == "rescore"
        assert routed["kwargs"]["bits"] == 4
        S.ann_topk(emb, q, k=5, target_recall=0.99).collect()
        assert routed["strategy"] == "rescore"
        assert routed["kwargs"]["bits"] == 8
        # caller kwargs override the chosen point's parameters
        S.ann_topk(emb, q, k=5, target_recall=0.9,
                   candidate_fraction=0.5).collect()
        assert routed["kwargs"]["candidate_fraction"] == 0.5
    finally:
        S.rescore_topk, S.lsh_ann_topk, S.ivf_topk = (
            orig["rescore"], orig["lsh"], orig["ivf"])

    with _pytest.raises(ValueError, match="above every documented"):
        S.ann_topk(emb, q, target_recall=0.995)
    with _pytest.raises(ValueError, match="not both"):
        S.ann_topk(emb, q, strategy="ivf", target_recall=0.5)
    with _pytest.raises(ValueError, match="in \\(0, 1\\]"):
        S.ann_topk(emb, q, target_recall=1.5)
