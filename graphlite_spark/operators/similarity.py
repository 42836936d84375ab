"""Similarity search over embedding columns (array<float>).

Beyond-reference surface: the reference has a Vector value type
(GraphLite `graphlite/src/storage/value.rs:158`) but no ANN search.
We provide:

- cosine_topk:    exact brute-force top-k neighbors — the correctness
                  baseline. Dot products via F.zip_with + F.aggregate
                  (JVM-side, no Python); ranking via a window over the
                  query key. At scale this is one broadcast of the query
                  set + a map-side loop, no shuffle until the top-k.
- lsh_ann_topk:   random-hyperplane LSH bucketing — the scale path.
                  Deterministic hyperplanes derived from xxhash64 so
                  runs are reproducible with no driver-side RNG state.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints resolve against globals

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .common import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query row among items.

    queries: (query_id, embedding). Broadcast the (small) query side;
    each item partition scores locally; one shuffle for the per-query
    top-k window. Excludes self-matches when ids collide.
    Returns (query_id, item_id, score) with score rounded to 6 dp.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_qv")
        )
    )
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    )
    scored = (
        it.crossJoin(q)
        .filter(F.col("_iid") != F.col("_qid"))
        .select(
            F.col("_qid"),
            F.col("_iid"),
            cosine(F.col("_iv"), F.col("_qv")).alias("_score"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_iid"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_iid").alias("item_id"),
            F.round("_score", 6).alias("score"),
        )
    )


def hyperplane_signature(vec_col, dim: int, num_planes: int = 16,
                         table: int = 0):
    """Deterministic random-hyperplane sign bits packed into a long.

    Plane p's coefficient for dimension d is a pseudo-random value in
    [-1, 1) derived from xxhash64(p, d) — reproducible on any cluster,
    no RNG state to ship. All JVM expressions. ``table`` offsets the
    plane indices so multi-table LSH (independent hash families per
    table) derives from the same generator; table=0 is the original
    family, so single-table callers are unchanged.

    Built as ONE ``F.expr`` SQL string: the Column-API equivalent
    creates num_planes*dim Column objects (~2300 py4j round trips at
    64x12), which costs ~9s of DRIVER time per call before any row is
    processed. The SQL text folds to the identical constant arrays
    JVM-side (same xxhash64), so results are bit-identical.
    """
    name = vec_col if isinstance(vec_col, str) else vec_col._jc.toString()
    terms = []
    for p0 in range(num_planes):
        p = table * num_planes + p0
        coeffs = ", ".join(
            f"CAST(xxhash64({p * 1_000_003 + d}) AS DOUBLE) / {float(2 ** 63)!r}"
            for d in range(dim)
        )
        proj = (
            f"aggregate(zip_with({name}, array({coeffs}), (x, c) -> x * c), "
            f"CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )
        terms.append(
            f"(CASE WHEN {proj} > 0 THEN CAST({1 << p0} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def cosine_dup_pairs(
    items: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int = 64,
    num_planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score >= threshold).

    exact=False (default — the 100 TB path): hyperplane-LSH blocking
    with multi-probe, then exact cosine verification on candidates only;
    every emitted pair is truly >= threshold (no false positives), but
    recall < 1 for pairs LSH never buckets together. exact=True: the
    O(n^2) correctness baseline as a DISTRIBUTED BLOCK GEMM (see
    _exact_cosine_pairs_gemm) — still quadratic compute (verification
    corpora only, never the path at scale) but ~100x the row-at-a-time
    crossJoin's throughput.
    """
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    )
    if exact:
        return _exact_cosine_pairs_gemm(it, threshold)
    bucketed = it.withColumn(
        "_b0", hyperplane_signature(F.col("_iv"), dim, num_planes)
    )
    probes = F.array(
        F.col("_b0"),
        *[F.col("_b0").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
    )
    x = bucketed.select(
        F.col("_iid").alias("id_a"), F.col("_iv").alias("_va"),
        F.explode(probes).alias("_bucket"),
    )
    y = bucketed.select(
        F.col("_iid").alias("id_b"), F.col("_iv").alias("_vb"),
        F.col("_b0").alias("_bucket"),
    )
    pairs = (
        x.join(y, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("_score", cosine(F.col("_va"), F.col("_vb")))
        # NaN guard: Spark orders NaN above every double, so a zero-norm
        # vector's NaN cosine would pass `>= threshold` here while the
        # GEMM exact baseline (numpy: NaN compares False) drops it —
        # exclude NaN so both paths agree that undefined cosine ≠ a dup
        .filter((F.col("_score") >= threshold) & ~F.isnan(F.col("_score")))
        .select("id_a", "id_b", F.round("_score", 6).alias("score"))
    )


def _exact_cosine_pairs_gemm(it: DataFrame, threshold: float,
                             n_blocks: int = 32) -> DataFrame:
    """All-pairs cosine >= threshold via distributed block matrix
    multiply: vectors hash into n_blocks blocks, each UNORDERED block
    pair (b_x <= b_y) becomes one row carrying both blocks' vectors,
    and an Arrow-batched mapInPandas scores it with one numpy GEMM.

    No driver collect, no O(n^2) Catalyst row pipeline: compute is
    still quadratic (it is the exact baseline) but runs at BLAS
    throughput, and the n_blocks^2/2 block tasks spread across the
    cluster. Block payloads are ~ (n/n_blocks) * dim doubles — size
    n_blocks so a block pair fits executor memory.

    Ids are carried positionally (index into the block's id list after
    the GEMM), so the input id type — long, string, UUID — is preserved
    and the output schema matches the LSH path's for any id type.
    """
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, ShortType, StructField,
        StructType,
    )

    id_type = it.schema["_iid"].dataType
    id_is_int = isinstance(id_type, (ShortType, IntegerType, LongType))

    blk = it.withColumn("_blk", F.pmod(F.xxhash64(F.col("_iid")), F.lit(n_blocks)))
    grouped = blk.groupBy("_blk").agg(
        F.collect_list(F.struct(F.col("_iid"), F.col("_iv"))).alias("_items")
    ).localCheckpoint(eager=False)  # feeds both cross-join sides
    x = grouped.select(F.col("_blk").alias("_bx"), F.col("_items").alias("_ix"))
    y = grouped.select(F.col("_blk").alias("_by"), F.col("_items").alias("_iy"))
    blocks = x.crossJoin(y).filter(F.col("_bx") <= F.col("_by"))
    # spread the small number of block-pair rows across the cluster
    blocks = blocks.repartition(n_blocks)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"id_a": [], "id_b": [], "_score": []}
            for bx, by, ix, iy in zip(pdf["_bx"], pdf["_by"],
                                      pdf["_ix"], pdf["_iy"]):
                # ids positional: int64 fast path for integral ids,
                # object dtype otherwise (string/UUID) — elementwise
                # <, minimum, maximum all defer to the id's own compare
                id_dt = np.int64 if id_is_int else object
                ids_a = np.array([r["_iid"] for r in ix], dtype=id_dt)
                A = np.array([r["_iv"] for r in ix], dtype=np.float64)
                ids_b = np.array([r["_iid"] for r in iy], dtype=id_dt)
                Bm = np.array([r["_iv"] for r in iy], dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    An = A / np.linalg.norm(A, axis=1, keepdims=True)
                    Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
                    sims = An @ Bn.T
                ii, jj = np.nonzero(sims >= threshold)  # NaN compares False
                if len(ii) == 0:
                    continue
                ia, ib, s = ids_a[ii], ids_b[jj], sims[ii, jj]
                if int(bx) == int(by):
                    keep = ia < ib  # upper triangle once
                else:
                    keep = np.ones(len(ia), dtype=bool)
                lo = np.minimum(ia[keep], ib[keep])
                hi = np.maximum(ia[keep], ib[keep])
                mask = lo < hi  # drop id self-collisions across blocks
                if id_is_int:
                    out["id_a"].extend(int(v) for v in lo[mask])
                    out["id_b"].extend(int(v) for v in hi[mask])
                else:
                    out["id_a"].extend(lo[mask])
                    out["id_b"].extend(hi[mask])
                out["_score"].extend(float(v) for v in s[keep][mask])
            if out["id_a"]:
                yield pd.DataFrame(out)

    schema = StructType([
        StructField("id_a", id_type, False),
        StructField("id_b", id_type, False),
        StructField("_score", DoubleType(), False),
    ])
    return blocks.mapInPandas(score, schema).select(
        "id_a", "id_b", F.round("_score", 6).alias("score")
    )


def _coarse_kmeans(it: DataFrame, n_lists: int, n_iters: int = 1):
    """The deterministic coarse quantizer shared by ivf_topk and
    semantic_dedup: seeds = items with the smallest xxhash64(id) (a
    uniform reproducible sample), refined with ``n_iters`` spherical
    Lloyd steps (mean of assigned vectors renormalized, one groupBy
    per step; default 1 — the historical behavior, so existing
    results are unchanged). Returns (centroids ndarray,
    make_assign(centroids, top) -> Arrow-vectorized argmax-top UDF).
    ``it`` must have columns (_iid, _iv double[])."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    seeds = (
        it.withColumn("_h", F.xxhash64(F.col("_iid")))
        .orderBy("_h")
        .limit(n_lists)
        .collect()
    )
    if not seeds:
        return None, None
    cents = np.array([r["_iv"] for r in seeds], dtype="float64")
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    def make_assign(centroids: np.ndarray, top: int):
        c = centroids

        @pandas_udf("array<int>")
        def assign(vs: pd.Series) -> pd.Series:
            m = np.stack(vs.to_numpy())
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ c.T
            idx = np.argsort(-sims, axis=1)[:, :top]
            return pd.Series([row.astype("int32").tolist() for row in idx])

        return assign

    if n_iters > 1:
        # multiple refinements ride the full operator (shared arithmetic,
        # no convergence requirement at the coarse-quantizer tier)
        cents = _lloyd_iterate(it, cents, make_assign, n_iters,
                               metric="cosine", tol=None)[0]
        return cents, make_assign

    # one Lloyd refinement: mean of vectors per list, renormalized
    assigned = it.withColumn("_list", make_assign(cents, 1)(F.col("_iv"))[0])
    means = (
        assigned.groupBy("_list")
        .agg(F.array(*[
            F.avg(F.col("_iv")[i]) for i in range(len(cents[0]))
        ]).alias("_mean"))
        .collect()
    )
    for r in means:
        v = np.array(r["_mean"], dtype="float64")
        n = np.linalg.norm(v)
        if n > 1e-12:
            cents[r["_list"]] = v / n
    return cents, make_assign


def _lloyd_iterate(it: DataFrame, cents, make_assign, max_iters: int,
                   metric: str, tol: float | None):
    """Shared distributed Lloyd loop: per round, assign every vector to
    its nearest broadcast centroid (Arrow-vectorized argmax/argmin),
    recompute centroids as the per-cluster per-dimension mean (ONE
    groupBy per round collecting k rows — k is small by contract, the
    corpus never leaves the cluster), and measure the max centroid
    shift. Empty clusters keep their previous centroid (the standard
    Lloyd convention — no re-seeding, which would break determinism).
    Returns (centroids, n_rounds_run, last_shift, converged).

    metric='cosine': spherical k-means — rows and centroids unit-
    normalized, similarity = dot, means renormalized each round.
    metric='l2': plain Euclidean Lloyd on raw vectors.
    tol=None runs exactly max_iters rounds with no convergence check.
    """
    import numpy as np

    dim = len(cents[0])
    shift = float("inf")
    rounds = 0
    for _ in range(max_iters):
        if metric == "cosine":
            assigned = it.withColumn(
                "_list", make_assign(cents, 1)(F.col("_iv"))[0])
        else:
            assigned = it.withColumn(
                "_list", _make_assign_l2(cents)(F.col("_iv")))
        means = (
            assigned.groupBy("_list")
            .agg(F.array(*[
                F.avg(F.col("_iv")[i]) for i in range(dim)
            ]).alias("_mean"))
            .collect()
        )
        new = cents.copy()
        for r in means:
            v = np.array(r["_mean"], dtype="float64")
            if metric == "cosine":
                n = np.linalg.norm(v)
                if n > 1e-12:
                    new[r["_list"]] = v / n
            else:
                new[r["_list"]] = v
        shift = float(np.sqrt(((new - cents) ** 2).sum(axis=1)).max())
        cents = new
        rounds += 1
        if tol is not None and shift <= tol:
            return cents, rounds, shift, True
    return cents, rounds, shift, tol is None


def _make_assign_l2(centroids):
    """Arrow-vectorized nearest-centroid (squared Euclidean) — ties
    break to the lowest centroid index (np.argmin convention)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    c = centroids
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype(np.float64)
        # ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2; ||x||^2 constant per row
        d2 = c_sq[None, :] - 2.0 * (m @ c.T)
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return assign


def kmeans(
    items: DataFrame,
    k: int | None = None,
    max_iters: int = 20,
    tol: float | None = 1e-4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_ids: list | None = None,
) -> DataFrame:
    """First-class distributed k-means over an embedding column:
    (id, cluster int) — Lloyd's algorithm with broadcast centroids,
    deterministic init, and bounded rounds that RAISE on
    non-convergence (the house iterative-operator contract).

    - init: the k items with the smallest xxhash64(id) — a uniform
      reproducible sample, no RNG state (the _coarse_kmeans seed rule,
      promoted). k must be <= |items|. Or pass ``init_ids`` (an
      ordered list of item ids) to warm-start from known rows —
      cluster i is init_ids[i]'s centroid, which makes the labeling
      engine-independent (the gate entry's device; also the standard
      resume-from-previous-fit API). Exactly one of k / init_ids.
    - per round: ONE distributed assignment pass (centroids broadcast
      to an Arrow-vectorized argmax — the corpus is scanned, never
      collected) + ONE k-row groupBy for the new means; the max
      centroid L2 shift is the convergence measure.
    - metric='cosine' (default): spherical k-means — the geometry
      SemDeDup/IVF assume; 'l2' for plain Euclidean.
    - tol: converged when max shift <= tol; RAISES RuntimeError if
      max_iters rounds don't reach it. tol=None runs exactly
      max_iters rounds (the fixed-budget mode ivf/semantic_dedup use).

    Cluster ids are centroid indices (seed-order — deterministic but
    engine-specific); callers needing engine-independent labels should
    canonicalize, e.g. min member id per cluster (what the gate entry
    does). At 100 TB each round is one corpus scan + a k-row shuffle:
    no quadratic stage, no driver-side data path.
    """
    if (k is None) == (init_ids is None):
        raise ValueError("pass exactly one of k / init_ids")
    if init_ids is not None:
        k = len(init_ids)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    import numpy as np

    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    ).localCheckpoint(eager=False)  # scanned once per round — cut lineage
    if init_ids is not None:
        rows = {r["_iid"]: r["_iv"]
                for r in it.filter(F.col("_iid").isin(list(init_ids)))
                .collect()}
        missing = [i for i in init_ids if i not in rows]
        if missing:
            raise ValueError(
                f"kmeans: init_ids not present in items: {missing[:5]}")
        seeds_v = [rows[i] for i in init_ids]
    else:
        seeds = (
            it.withColumn("_h", F.xxhash64(F.col("_iid")))
            .orderBy("_h")
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(
                f"kmeans: k={k} exceeds corpus size {len(seeds)}")
        seeds_v = [r["_iv"] for r in seeds]
    cents = np.array(seeds_v, dtype="float64")
    if metric == "cosine":
        cents = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    from pyspark.sql.functions import pandas_udf

    def make_assign(centroids, top):
        c = centroids

        @pandas_udf("array<int>")
        def assign(vs: pd.Series) -> pd.Series:
            m = np.stack(vs.to_numpy())
            m = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ c.T
            idx = np.argsort(-sims, axis=1)[:, :top]
            return pd.Series([row.astype("int32").tolist() for row in idx])

        return assign

    cents, rounds, shift, converged = _lloyd_iterate(
        it, cents, make_assign, max_iters, metric, tol)
    if not converged:
        raise RuntimeError(
            f"kmeans did not converge (last max centroid shift {shift:.3g} "
            f"> tol {tol:.3g}) within max_iters={max_iters}; raise the "
            "bound, loosen tol, or pass tol=None for a fixed budget")
    if metric == "cosine":
        final = it.withColumn(
            "_list", make_assign(cents, 1)(F.col("_iv"))[0])
    else:
        final = it.withColumn("_list", _make_assign_l2(cents)(F.col("_iv")))
    return final.select(
        F.col("_iid").alias(id_col), F.col("_list").alias("cluster"))


def semantic_dedup(
    items: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    kmeans_iters: int = 1,
) -> DataFrame:
    """(id, canonical_id): SemDeDup (Abbas et al. 2023) — semantic
    near-duplicate pruning over an embedding column. Text-level dedup
    (exact/minhash/simhash) can't see paraphrases and re-encodings;
    this catches "same meaning, different words" by deduping in
    embedding space.

    1. coarse kmeans (the ivf_topk quantizer: hash-sampled seeds + one
       Lloyd step — deterministic, no RNG state) assigns each vector
       to one of ``n_lists`` lists;
    2. per-list exact cosine pairs >= threshold: the O(n^2) pairwise
       pass is CONFINED to n/k-sized lists (the SemDeDup trick —
       n^2/k work instead of n^2, and each list's block join is an
       equi-join on _list so lists process in parallel);
    3. connected components (hash-min + pointer jumping, O(log d)
       rounds) over the pair graph; canonical_id = min id per
       component. Deterministic keep-lowest-id policy, same as
       exact_dedup / dedup_clusters.

    A near-dup pair split across two lists is missed — that is
    SemDeDup's documented approximation (recall depends on cluster
    quality). Singletons map to themselves. ``kmeans_iters`` buys
    better lists (fewer split pairs) with extra Lloyd rounds — one
    corpus scan + one k-row groupBy each; default 1 preserves the
    historical quantizer exactly.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # the projected corpus feeds the seed sample, the Lloyd step, the
    # list assignment AND the final left join — cut it once so a
    # derived items lineage isn't re-executed per consumer (the
    # kmeans() entry discipline)
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    ).localCheckpoint(eager=False)
    cents, make_assign = _coarse_kmeans(it, n_lists, kmeans_iters)
    if cents is None:
        # empty corpus: the identity mapping on zero rows, not a
        # numpy shape error from the seed sample
        return items.select(
            F.col(id_col).alias(id_col),
            F.col(id_col).alias("canonical_id"))
    assigned = it.withColumn(
        "_list", make_assign(cents, 1)(F.col("_iv"))[0]
    ).localCheckpoint(eager=False)
    a = assigned.select(F.col("_list"), F.col("_iid").alias("_ia"),
                        F.col("_iv").alias("_va"))
    b = assigned.select(F.col("_list"), F.col("_iid").alias("_ib"),
                        F.col("_iv").alias("_vb"))
    # the per-list block join is the heaviest stage and feeds BOTH
    # sides of the touched union plus connected_components' internal
    # checkpoints — lazy-cut it once (the span_dedup multiple-consumer
    # lesson: identical stages re-execute per consumer otherwise)
    pairs = (
        a.join(b, "_list")
        .filter(F.col("_ia") < F.col("_ib"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_ia").alias("_src"), F.col("_ib").alias("_dst"))
        .localCheckpoint(eager=False)
    )
    from .paths import connected_components

    # CC runs only on the (sparse) paired vertices; everything else is
    # a singleton handled by the coalesce — same shape as dedup_clusters
    touched = (
        pairs.select(F.col("_src").alias("_iid"))
        .unionByName(pairs.select(F.col("_dst").alias("_iid")))
        .distinct()
    )
    comp = connected_components(pairs, touched, max_iter=max_iter)
    return (
        it.select("_iid")
        .join(comp.withColumnRenamed("node", "_iid"), "_iid", "left")
        .select(
            F.col("_iid").alias(id_col),
            F.coalesce("comp", F.col("_iid")).alias("canonical_id"),
        )
    )


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kmeans_iters: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: n_lists centroids chosen deterministically (items
    with the smallest xxhash64(id) — a uniform reproducible sample),
    refined with one Lloyd step (mean of assigned vectors — a single
    groupBy; ``kmeans_iters`` raises the refinement budget — better
    lists, higher recall per probe). Items live in their nearest
    centroid's list; a query scores only its n_probe nearest lists.
    Assignment uses an Arrow-vectorized pandas UDF (numpy matmul) —
    the one place built-ins can't express a k-way argmin economically.
    """
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    )
    cents, make_assign = _coarse_kmeans(it, n_lists, kmeans_iters)
    if cents is None:
        raise ValueError("ivf_topk: items frame is empty — nothing to index")
    items_assigned = it.withColumn(
        "_list", make_assign(cents, 1)(F.col("_iv"))[0]
    )
    q = queries.select(
        F.col(query_id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_probes", make_assign(cents, n_probe)(F.col("_qv")))
    q = q.select("_qid", "_qv", F.explode("_probes").alias("_list"))
    scored = (
        items_assigned.join(q, "_list")
        .filter(F.col("_iid") != F.col("_qid"))
        .select("_qid", "_iid", cosine(F.col("_iv"), F.col("_qv")).alias("_score"))
        .dropDuplicates(["_qid", "_iid"])
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_iid"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_iid").alias("item_id"),
            F.round("_score", 6).alias("score"),
        )
    )


def lsh_ann_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only item/query pairs sharing an LSH bucket
    in at least one of ``n_tables`` independent hash tables are scored.
    Equi-joins on (table, bucket) keys replace the cross join — the
    100 TB path. Recall < 1 and is controlled by the standard LSH
    knobs: more tables / fewer planes / more probes -> more candidates
    -> higher recall at higher scan fraction; multi-probe (flip one
    bit) widens each table. Defaults (8 planes x 8 tables) measured
    0.48 recall@10 on the synthetic random-embedding corpus at ~28%
    candidate fraction — on clustered real corpora (near-dup regime,
    cosine >= 0.9 neighbors) recall is >= 0.9 (pinned in pytest);
    ann_recall_audit measures recall@k against the exact baseline.

    NOTE: on UNCLUSTERED corpora no bucketing family is sublinear
    (docs/ANN.md sweep: recall ~= candidate fraction for LSH and IVF
    alike) — use ann_topk's default quantized-rescore route there;
    reach for LSH/IVF only when the corpus has real cluster structure.
    """
    # Materialize each table's signature as ONE column first: the
    # signature SQL expression is huge (num_planes x dim terms), and
    # inlining it into every probe would blow the Catalyst tree up
    # (n_tables x (num_planes+1) copies -> analysis OOM). Built from
    # the named columns, each signature is evaluated once per row.
    sigs = [
        hyperplane_signature(F.col("_v"), dim, num_planes, table=t)
        .alias(f"_s{t}")
        for t in range(n_tables)
    ]
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_v")
    ).select("_iid", F.col("_v").alias("_iv"), *sigs)
    # item side: one (table, bucket) struct per table, exploded
    it = it.select("_iid", "_iv", F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"_s{t}").alias("b"))
        for t in range(n_tables)
    ])).alias("_tb"))
    q0 = queries.select(
        F.col(query_id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_v")
    ).select("_qid", F.col("_v").alias("_qv"), *sigs)
    # query side: per table the exact bucket + one-bit flips
    q_probes = []
    for t in range(n_tables):
        sig = F.col(f"_s{t}")
        q_probes.append(F.struct(F.lit(t).alias("t"), sig.alias("b")))
        q_probes.extend(
            F.struct(F.lit(t).alias("t"),
                     sig.bitwiseXOR(F.lit(1 << p)).alias("b"))
            for p in range(num_planes)
        )
    q = q0.select("_qid", "_qv", F.explode(F.array(*q_probes)).alias("_tb"))
    scored = (
        it.join(q, "_tb")
        .filter(F.col("_iid") != F.col("_qid"))
        .select(
            "_qid", "_iid", cosine(F.col("_iv"), F.col("_qv")).alias("_score")
        )
        .dropDuplicates(["_qid", "_iid"])
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_iid"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_iid").alias("item_id"),
            F.round("_score", 6).alias("score"),
        )
    )


def rescore_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidate_fraction: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_items: int | None = None,
    bits: int = 8,
) -> DataFrame:
    """Approximate top-k via quantized-scan + exact-rescore — the
    coarse-then-refine pattern (FAISS-style re-ranking) and the ANN
    route that actually works on UNCLUSTERED corpora.

    Measured negative result motivating this operator (sim sweep over
    the sf0.01/sf0.1 random-embedding corpora, docs/ANN.md): for
    isotropic data every bucketing family degrades to recall ~=
    candidate_fraction — hyperplane LSH (8-16 planes, 8-16 tables,
    margin-ordered flip-1/flip-2 probes) tops out at 0.54 recall@10
    at 27% candidates, IVF (8-32 lists, 2-8 probes) at ~0.3 at 13% —
    so no bucketing config reaches 0.8@<=15%. This operator instead
    scans EVERYTHING in int8 (stage 1) and spends full-precision
    compute only on the top ``candidate_fraction`` per query (stage
    2): measured recall@10 = 1.0 at 15% exactly-scored fraction on
    the same corpora.

    Distributed shape at 100 TB: stage 1 is map-side — queries are
    int8-quantized and broadcast, each item partition runs one
    int8->int32 integer GEMM (exact, partition-order independent) and
    emits only its per-query top-C rows (C = ceil(fraction x n)); the
    only shuffles are the global top-C window over <= partitions x C
    x |Q| rows and the C-sized exact-rescore join. The full-precision
    vectors of 85% of the corpus are never moved or re-read — the
    int8 scan is 4x lighter on bandwidth (int4: 8x) which is the
    actual cost at scale, and the exact stage reproduces
    cosine_topk's arithmetic bit-for-bit so results hash-match the
    exact baseline whenever the true top-k survives the cut.

    Deterministic end to end: symmetric per-vector max-abs int8
    quantization, integer GEMM, ties broken on item id.

    ``bits=4`` switches the coarse pass to int4 codes ([-7, 7] — 8x
    lighter than fp32 on scan bandwidth at a cluster's storage tier);
    the coarser ranking needs a somewhat larger candidate_fraction
    for the same recall (measured: still 1.0 at 15% on the random
    test corpora — pinned in pytest).
    """
    import numpy as np

    if not 0.0 < candidate_fraction <= 1.0:
        raise ValueError(
            f"candidate_fraction must be in (0, 1], got {candidate_fraction}")
    if bits not in (8, 4):
        raise ValueError(f"bits must be 8 or 4, got {bits}")
    qmax = 127.0 if bits == 8 else 7.0
    if n_items is None:
        # sizing pass for C: pruned to the id column so it reads one
        # column's pages, not the vectors. At corpus scale pass
        # n_items explicitly (a catalog rowcount) to skip it entirely
        # — especially when `items` carries expensive upstream lineage,
        # which would otherwise execute twice.
        n_items = items.select(id_col).count()
    c_cut = max(k, int(-(-candidate_fraction * n_items // 1)))

    qrows = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"),
    ).collect()
    qids = [r["_qid"] for r in qrows]
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qscale = np.maximum(np.abs(qmat).max(axis=1), 1e-12) / qmax
    q_i8 = np.rint(qmat / qscale[:, None]).astype(np.int8)
    sc = items.sparkSession.sparkContext
    bq = sc.broadcast((qids, q_i8, qscale))

    id_field = items.schema[id_col]
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    )

    def coarse(batches):
        import pandas as pd

        q_ids, qq, qs = bq.value
        qi32 = qq.astype(np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["_iv"].to_numpy()).astype(np.float64)
            iscale = np.maximum(np.abs(m).max(axis=1), 1e-12) / qmax
            i8 = np.rint(m / iscale[:, None]).astype(np.int32)
            # exact integer GEMM; approx cosine = dot*scales / norms
            dots = i8 @ qi32.T  # (batch, nq) int
            inorm = np.sqrt((i8 * i8).sum(axis=1)) * iscale
            qnorm = np.sqrt((qi32 * qi32).sum(axis=1)) * qs
            approx = (dots * iscale[:, None] * qs[None, :]) / np.maximum(
                inorm[:, None] * qnorm[None, :], 1e-300)
            ids = pdf["_iid"].to_numpy()
            out_q, out_i, out_s = [], [], []
            top = min(c_cut, len(ids))
            for j, qid in enumerate(q_ids):
                col = approx[:, j]
                sel = np.argpartition(-col, top - 1)[:top] \
                    if top < len(ids) else np.arange(len(ids))
                out_q.extend([qid] * len(sel))
                out_i.extend(ids[sel].tolist())
                out_s.extend(col[sel].tolist())
            yield pd.DataFrame({
                "_qid": out_q, "_iid": out_i,
                "_approx": pd.Series(out_s, dtype="float64"),
            })

    from pyspark.sql.types import DoubleType, StructField, StructType

    qid_type = queries.schema[query_id_col].dataType
    schema = StructType([
        StructField("_qid", qid_type, False),
        StructField("_iid", id_field.dataType, False),
        StructField("_approx", DoubleType(), False),
    ])
    coarse_rows = it.mapInPandas(coarse, schema).filter(
        F.col("_iid") != F.col("_qid"))
    wc = Window.partitionBy("_qid").orderBy(
        F.col("_approx").desc(), F.col("_iid"))
    cands = (
        coarse_rows.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= c_cut)
        .select("_qid", "_iid")
    )
    # exact rescore: fetch full-precision vectors for the C candidates
    # only, score against the broadcast fp queries with the SAME
    # expression as cosine_topk (bit-identical rounding)
    qfp = F.broadcast(queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"),
    ))
    scored = (
        cands.join(it, "_iid")
        .join(qfp, "_qid")
        .select("_qid", "_iid",
                cosine(F.col("_iv"), F.col("_qv")).alias("_score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_iid"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_iid").alias("item_id"),
            F.round("_score", 6).alias("score"),
        )
    )


def _encode_int_codes(it: DataFrame, bits: int, id_type) -> DataFrame:
    """The int8/int4 quantization kernel shared by build_rescore_index
    and ann_index_ingest_batch: per-vector max-abs scales, np.rint
    half-even codes, precomputed code norms — EXACTLY rescore_topk's
    arithmetic, so indexed scans are bit-identical to the direct
    operator whether a row was indexed at build time or by a later
    epoch (codes are per-row self-contained; no cross-record state)."""
    import numpy as np

    qmax = 127.0 if bits == 8 else 7.0

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["_iv"].to_numpy()).astype(np.float64)
            iscale = np.maximum(np.abs(m).max(axis=1), 1e-12) / qmax
            i8 = np.rint(m / iscale[:, None]).astype(np.int32)
            inorm = np.sqrt((i8 * i8).sum(axis=1)) * iscale
            yield pd.DataFrame({
                "_iid": pdf["_iid"].to_numpy(),
                "_codes": [r.astype(np.int8) for r in i8],
                "_scale": iscale,
                "_inorm": inorm,
            })

    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        DoubleType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("_iid", id_type, False),
        StructField("_codes", ArrayType(ByteType()), False),
        StructField("_scale", DoubleType(), False),
        StructField("_inorm", DoubleType(), False),
    ])
    return it.mapInPandas(encode, schema)


def ann_index_ingest_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Extend a persisted int-code ANN index with one ingest epoch —
    the index-maintenance loop (dedup, BM25) applied to the third
    persisted index family. Codes are per-row self-contained (the
    scale is per-vector), so an epoch is simply the shared
    quantization kernel written under
    ``{path}/codes_delta/_batch_id=<k>`` plus a 1-row per-epoch count
    under ``meta_delta`` (readers recombine n_items for the
    candidate-fraction cut). Dynamic partition overwrite makes
    replayed epochs rewrite themselves (exactly-once). Ids are
    assumed unique across epochs (index AFTER dedup). Epochs are
    FENCED like the dedup index's (index_store.fence_epoch): a gap
    past the committed high-water mark raises, and a re-delivered
    epoch is a verified no-op — codes and count recompute and check
    multiset-equal against the committed partitions. Returns the
    number of vectors ingested."""
    from .index_store import (
        commit_epoch_with_rebase,
        fence_epoch,
        publish_delta,
        read_base,
        read_delta,
        verify_replay,
    )

    spark = batch.sparkSession
    mode, manifest = fence_epoch(spark, path, batch_id)
    meta = read_base(spark, path, "meta", manifest).collect()[0]
    it = batch.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv"))
    codes = _encode_int_codes(it, int(meta["bits"]),
                              batch.schema[id_col].dataType)
    n = batch.count()
    counts = local_frame(spark, [(int(n),)], "n_items long")
    if mode == "replay":
        verify_replay(
            read_delta(spark, path, "codes", manifest,
                       at_batch=batch_id),
            codes, path, "codes", batch_id)
        verify_replay(
            read_delta(spark, path, "meta", manifest,
                       at_batch=batch_id),
            counts, path, "meta", batch_id)
        return int(n)
    # staged publishes + optimistic rebase commit (index_store)
    publish_delta(spark, path, "codes", codes, batch_id)
    publish_delta(spark, path, "meta", counts.coalesce(1), batch_id)
    commit_epoch_with_rebase(spark, path, batch_id, manifest)
    return int(n)


def _ann_index_frames(spark, index_path: str,
                      as_of_seq: "int | None" = None):
    """(codes, n_items) for a possibly-maintained ANN index: base ∪
    code deltas, with n_items recombined from the base meta plus the
    per-epoch counts. ``as_of_seq``: time travel — the codes and
    count exactly as of a retained manifest commit (raises outside
    the GC retention window)."""
    from .index_store import (
        _check_snapshot_readable,
        current_manifest,
        manifest_at,
        read_delta,
        read_meta_row,
        read_tier,
    )

    if as_of_seq is not None:
        man = manifest_at(spark, index_path, as_of_seq)
        for t in ("codes", "meta"):
            _check_snapshot_readable(spark, index_path, t, man,
                                     as_of_seq)
    else:
        man = current_manifest(spark, index_path)
    codes = read_tier(spark, index_path, "codes", manifest=man)
    # meta is a 1-row parameter frame — the driver-side footer read
    # (read_meta_row) replaces a ~0.3 s Spark job per query call
    meta = read_meta_row(spark, index_path, manifest=man)
    n_items = int(meta["n_items"])
    mdelta = read_delta(spark, index_path, "meta", man)
    if mdelta is not None:
        extra = mdelta.agg(F.sum("n_items")).collect()[0][0]
        n_items += int(extra or 0)
    return codes, n_items


def compact_ann_index(spark, path: str, target_mb: int = 256) -> int:
    """Fold a maintained ANN index's code deltas back into its base
    and refresh meta's n_items — ATOMIC to readers like the other two
    families: the folded codes and the refreshed meta land as
    ``codes_v{n}``/``meta_v{n}`` and are published together with one
    manifest-file rename (index_store.commit_compaction); folded
    delta partitions are fenced off by ``delta_floor`` before GC
    deletes them (crash-injection pytest at every FS-op cut point).
    Scan-preserving by construction — codes rows are immutable, only
    their layout changes. Returns the compacted n_items."""
    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import (
        _fault_point,
        commit_compaction,
        current_manifest,
        gc_index,
        read_base,
    )

    m = current_manifest(spark, path)
    v = int(m.get("version", 1)) + 1
    codes, n_items = _ann_index_frames(spark, path)
    meta = read_base(spark, path, "meta", m).collect()[0]
    _fault_point("compact:write:codes")
    write_parquet_sized(codes.select("_iid", "_codes", "_scale",
                                     "_inorm"),
                        f"{path}/codes_v{v}", target_mb=target_mb)
    _fault_point("compact:write:meta")
    local_frame(
        spark,
        [(int(meta["bits"]), int(meta["dim"]), int(n_items))],
        "bits: int, dim: int, n_items: long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta_v{v}")
    m2 = commit_compaction(
        spark, path, {"codes": f"codes_v{v}", "meta": f"meta_v{v}"}, m)
    gc_index(spark, path, m2, ["codes", "meta"])
    return int(n_items)


def build_rescore_index(
    items: DataFrame,
    path: str,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_mb: int = 256,
) -> int:
    """Materialize rescore_topk's coarse representation ONCE: int8/int4
    codes + per-vector scale + precomputed code norm, written as
    size-targeted parquet (``{path}/codes``) with a 1-row
    ``{path}/meta`` (bits, dim, n_items). rescore_topk re-quantizes
    the whole corpus on every call — correct, but at 100 TB the int8
    copy is the thing you build once and scan per query batch; this is
    that build. Quantization uses EXACTLY rescore_topk's arithmetic
    (np.rint half-even, float64 scales), so rescore_topk_indexed over
    this index is bit-identical to the direct operator. Returns
    n_items (persisted in meta so queries skip the sizing count).
    """
    import numpy as np

    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import reset_manifest

    if bits not in (8, 4):
        raise ValueError(f"bits must be 8 or 4, got {bits}")
    reset_manifest(items.sparkSession, path, ["codes", "meta"])
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv"))
    codes = _encode_int_codes(it, bits, items.schema[id_col].dataType)
    write_parquet_sized(codes, path + "/codes", target_mb=target_mb)
    spark = items.sparkSession
    meta = spark.read.parquet(path + "/codes")
    n_items = meta.count()
    dim = meta.select(F.size("_codes").alias("d")).limit(1).collect()[0]["d"]
    local_frame(
        spark,
        [(int(bits), int(dim), int(n_items))],
        "bits: int, dim: int, n_items: long",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    return n_items


def rescore_topk_indexed(
    items: DataFrame,
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    candidate_fraction: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    as_of_seq: "int | None" = None,
) -> DataFrame:
    """rescore_topk over a PERSISTED coarse index (build_rescore_index):
    stage 1 scans the stored int codes — no re-quantization, no
    full-precision read of the corpus — and stage 2 exact-rescores the
    top candidate_fraction against ``items``'s fp vectors exactly like
    the direct operator. Bit-identical to rescore_topk(items, queries)
    at the same (bits, candidate_fraction): same codes (same rint
    arithmetic at build), same approx-score float expression, same
    exact rescore. At scale this is the deployment shape: quantize
    once per corpus version, then every query batch pays only the
    int8 scan + C exact fetches.
    """
    import numpy as np

    if not 0.0 < candidate_fraction <= 1.0:
        raise ValueError(
            f"candidate_fraction must be in (0, 1], got {candidate_fraction}")
    from .index_store import read_meta_row

    spark = items.sparkSession
    meta = read_meta_row(spark, index_path)
    bits = int(meta["bits"])
    _codes_tier, n_items = _ann_index_frames(spark, index_path,
                                             as_of_seq=as_of_seq)
    qmax = 127.0 if bits == 8 else 7.0
    c_cut = max(k, int(-(-candidate_fraction * n_items // 1)))

    qrows = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"),
    ).collect()
    qids = [r["_qid"] for r in qrows]
    qmat = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    qscale = np.maximum(np.abs(qmat).max(axis=1), 1e-12) / qmax
    q_i8 = np.rint(qmat / qscale[:, None]).astype(np.int8)
    sc = spark.sparkContext
    bq = sc.broadcast((qids, q_i8, qscale))

    codes = _codes_tier.select("_iid", "_codes", "_scale", "_inorm")

    def coarse(batches):
        import pandas as pd

        q_ids, qq, qs = bq.value
        qi32 = qq.astype(np.int32)
        qnorm = np.sqrt((qi32 * qi32).sum(axis=1)) * qs
        for pdf in batches:
            if not len(pdf):
                continue
            i8 = np.stack(pdf["_codes"].to_numpy()).astype(np.int32)
            iscale = pdf["_scale"].to_numpy()
            inorm = pdf["_inorm"].to_numpy()
            dots = i8 @ qi32.T
            approx = (dots * iscale[:, None] * qs[None, :]) / np.maximum(
                inorm[:, None] * qnorm[None, :], 1e-300)
            ids = pdf["_iid"].to_numpy()
            out_q, out_i, out_s = [], [], []
            top = min(c_cut, len(ids))
            for j, qid in enumerate(q_ids):
                col = approx[:, j]
                sel = np.argpartition(-col, top - 1)[:top] \
                    if top < len(ids) else np.arange(len(ids))
                out_q.extend([qid] * len(sel))
                out_i.extend(ids[sel].tolist())
                out_s.extend(col[sel].tolist())
            yield pd.DataFrame({
                "_qid": out_q, "_iid": out_i,
                "_approx": pd.Series(out_s, dtype="float64"),
            })

    from pyspark.sql.types import DoubleType, StructField, StructType

    qid_type = queries.schema[query_id_col].dataType
    iid_type = codes.schema["_iid"].dataType
    schema = StructType([
        StructField("_qid", qid_type, False),
        StructField("_iid", iid_type, False),
        StructField("_approx", DoubleType(), False),
    ])
    coarse_rows = codes.select("_iid", "_codes", "_scale", "_inorm") \
        .mapInPandas(coarse, schema).filter(F.col("_iid") != F.col("_qid"))
    wc = Window.partitionBy("_qid").orderBy(
        F.col("_approx").desc(), F.col("_iid"))
    cands = (
        coarse_rows.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= c_cut)
        .select("_qid", "_iid")
    )
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv"))
    qfp = F.broadcast(queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"),
    ))
    scored = (
        cands.join(it, "_iid")
        .join(qfp, "_qid")
        .select("_qid", "_iid",
                cosine(F.col("_iv"), F.col("_qv")).alias("_score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_iid"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_iid").alias("item_id"),
            F.round("_score", 6).alias("score"),
        )
    )


# docs/ANN.md measured operating points, floors taken as the WORST of
# the two audited corpora (isotropic embeddings — the hard case where
# every bucketing family degrades to recall ~= candidate fraction) and
# rounded DOWN. Ordered cheapest-scan-first: the router picks the first
# row whose floor covers the target, so a modest target buys the
# sublinear/bucketed path and only high targets pay the full
# quantized scan. Audited continuously by the ann_*_recall_audit gate
# entries; if an audit floor ever drops below its row here, that gate
# entry breaks before this table lies.
ANN_OPERATING_POINTS = (
    # (recall_floor, strategy, params, note) — note is one string
    # carrying the measured recalls plus the cost rationale
    (0.50, "lsh", {"num_planes": 8, "n_tables": 8},
     "0.54/0.62 @ ~27% candidates; hash-bucketed, sublinear shuffles"),
    (0.80, "ivf", {"n_lists": 16, "n_probe": 8},
     "0.84/0.82 @ ~49% candidates; centroid-pruned scan"),
    (0.95, "rescore", {"bits": 4, "candidate_fraction": 0.15},
     "1.0/1.0 audited; int4 scan = 8x lighter bandwidth than fp32"),
    (0.99, "rescore", {"bits": 8, "candidate_fraction": 0.15},
     "1.0/1.0 audited, bit-identical to exact on both corpora"),
)


def ann_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    strategy: str = "auto",
    target_recall: "float | None" = None,
    **kwargs,
) -> DataFrame:
    """Route to an ANN strategy. ``auto`` (the default) uses
    quantized-scan + exact-rescore (rescore_topk) — the only strategy
    with a recall guarantee on corpora WITHOUT cluster structure
    (docs/ANN.md: on isotropic embeddings every bucketing family
    measures recall ~= candidate fraction, so 'lsh'/'ivf' defaults
    would silently miss half the true neighbors). Pass 'lsh' or 'ivf'
    explicitly for clustered/near-dup corpora where bucketing is
    sublinear and measured recall >= 0.9.

    ``target_recall``: declarative routing (VERDICT r9 #7) — pick the
    CHEAPEST documented operating point (ANN_OPERATING_POINTS, the
    docs/ANN.md sweep) whose audited worst-case recall floor covers
    the target, and RAISE if no point reaches it (recall targets
    above 0.99 need the exact operator — cosine_topk — not an ANN
    promise this table cannot back). Mutually exclusive with an
    explicit ``strategy``; caller kwargs override the chosen point's
    parameters."""
    if target_recall is not None:
        if strategy != "auto":
            raise ValueError(
                "pass either strategy= or target_recall=, not both — "
                "target_recall IS the strategy selector")
        if not 0.0 < target_recall <= 1.0:
            raise ValueError(
                f"target_recall must be in (0, 1], got {target_recall}")
        for floor, strat, params, _note in ANN_OPERATING_POINTS:
            if target_recall <= floor:
                merged = {**params, **kwargs}
                return ann_topk(items, queries, k=k, strategy=strat,
                                **merged)
        raise ValueError(
            f"target_recall={target_recall} is above every documented "
            f"ANN operating point (max floor "
            f"{ANN_OPERATING_POINTS[-1][0]}, docs/ANN.md); use the "
            f"exact operator cosine_topk for an exactness guarantee")
    if strategy in ("auto", "rescore"):
        return rescore_topk(items, queries, k=k, **kwargs)
    if strategy == "lsh":
        return lsh_ann_topk(items, queries, k=k, **kwargs)
    if strategy == "ivf":
        return ivf_topk(items, queries, k=k, **kwargs)
    raise ValueError(f"unknown ANN strategy {strategy!r}")


def ann_recall_audit(
    exact_topk: DataFrame,
    ann_topk: DataFrame,
    query_id_col: str = "query_id",
    item_col: str = "item_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the verification sibling for lsh_ann_topk / ivf_topk (mirrors
    cosine_dup_pairs' cosine_dup_lsh_audit). One row:

    - n_exact_rows: |exact top-k| (data-anchored: an oracle computes
      it from the corpus alone)
    - n_ann_rows: |ANN result| (k per query when the index fills)
    - n_hits: ANN rows present in the exact top-k (semi join)
    - recall_at_k: n_hits / n_exact_rows, rounded to 6 dp

    Deterministic end to end: both inputs derive from xxhash64-seeded
    signatures/centroids, so the audited recall is a reproducible
    constant of (corpus, parameters).
    """
    e = exact_topk.select(F.col(query_id_col).alias("_q"),
                          F.col(item_col).alias("_i"))
    a = ann_topk.select(F.col(query_id_col).alias("_q"),
                        F.col(item_col).alias("_i"))
    hits = a.join(e, ["_q", "_i"], "left_semi")
    return (
        e.agg(F.count("*").alias("n_exact_rows"))
        .crossJoin(a.agg(F.count("*").alias("n_ann_rows")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact_rows", "n_ann_rows", "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact_rows"), 6)
            .alias("recall_at_k"),
        )
    )


def quantize_embeddings(
    items: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, qvec array<int> in [-127, 127], scale double): symmetric
    int8 quantization — the 4x embedding-storage compression step a
    training/retrieval pipeline applies before indexing. Entirely
    map-side (transform lambdas, whole-stage codegen; no shuffle).

    scale = max|v| / 127; elements round via floor(x/scale + 0.5)
    (explicit half-up — F.round's and other engines' tie-breaking
    differ, this form is deterministic everywhere). Cosine is
    scale-invariant, so quantized cosine = cosine over qvec directly —
    no dequantization pass; see dequantized_cosine_error test for the
    accuracy envelope.

    The scale is HOISTED into its own projection before the element
    transform: referencing the array_max expression inside the lambda
    re-evaluates the O(d) max per ELEMENT (O(d^2) per row — measured
    50.6s -> 2s at sf10's 200k x 64 vectors); as a projected attribute
    it is evaluated once per row, and the double reference (output
    column + lambda) keeps CollapseProject from re-inlining it.
    """
    base = items.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    amax = F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
    base = base.select(
        F.col(id_col), "_v",
        F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
        .alias("scale"),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"))
    return base.select(F.col(id_col), q.alias("qvec"), F.col("scale"))


def quantize_embeddings_int4(
    items: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, packed array<int> of bytes, scale, dim): symmetric int4
    quantization PACKED two nibbles per byte — 8x embedding-storage
    compression for cold retrieval tiers. Same deterministic half-up
    rounding convention as quantize_embeddings; q in [-7, 7], stored
    biased (+8) so packed[j] = (q_2j+8) | ((q_2j+1+8) << 4); odd
    lengths pad the high nibble with the bias value (q=0). ``dim``
    carries the original length so unpack is exact. Entirely map-side
    (transform over index pairs, whole-stage codegen; no shuffle).

    Unpack: q_2j = (packed[j] & 15) - 8; q_2j+1 = (packed[j] >> 4) - 8;
    v ≈ q * scale.
    """
    # scale and the int codes are HOISTED into projections before the
    # packing transform — inlined, the O(d) array_max re-evaluates per
    # element and the q transform re-evaluates per packed BYTE
    # (O(d^2) per row; same fix class as quantize_embeddings)
    base = items.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    amax = F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
    base = base.select(
        F.col(id_col), "_v",
        F.when(amax > 0, amax / F.lit(7.0)).otherwise(F.lit(1.0))
        .alias("scale"),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"))
    base = base.select(
        F.col(id_col), F.col("scale"), q.alias("_q"),
        F.size("_v").alias("_dim"))
    dim = F.col("_dim")
    n_bytes = F.ceil(dim / F.lit(2)).cast("int")
    # NB: sequence(0, -1) DESCENDS in Spark — guard the empty vector
    packed = F.when(
        dim > 0,
        F.transform(
            F.sequence(F.lit(0), n_bytes - 1),
            lambda j: (
                (F.element_at(F.col("_q"), j * 2 + 1) + F.lit(8))
                + F.when(
                    j * 2 + 2 <= dim,
                    (F.element_at(F.col("_q"), j * 2 + 2) + F.lit(8))
                    * F.lit(16),
                ).otherwise(F.lit(8 * 16))
            ).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col(id_col), packed.alias("packed"),
        F.col("scale"), dim.cast("long").alias("dim"),
    )



def _int8_assign_encode(it: DataFrame, cents, id_type) -> DataFrame:
    """Shared single-pass kmeans-assignment + int8 encoding for
    semantic_dedup_int8 and semantic_dedup_band_audit: one map-side fp
    read yielding (_iid, _list, _codes, _scale, _inorm). Assignment
    replicates _coarse_kmeans.make_assign's numpy sequence exactly;
    codes replicate build_rescore_index's arithmetic exactly. ONE
    implementation so the audit can never desync from the operator."""
    import numpy as np

    bc = it.sparkSession.sparkContext.broadcast(cents)

    def assign_encode(batches):
        import pandas as pd

        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["_iv"].to_numpy())
            mn = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            lists = np.argsort(-(mn @ c.T), axis=1)[:, :1][:, 0]
            m64 = m.astype(np.float64)
            iscale = np.maximum(np.abs(m64).max(axis=1), 1e-12) / 127.0
            i8 = np.rint(m64 / iscale[:, None]).astype(np.int32)
            inorm = np.sqrt((i8 * i8).sum(axis=1)) * iscale
            yield pd.DataFrame({
                "_iid": pdf["_iid"].to_numpy(),
                "_list": lists.astype(np.int32),
                "_codes": [r.astype(np.int8) for r in i8],
                "_scale": iscale,
                "_inorm": inorm,
            })

    from pyspark.sql.types import (
        ArrayType, ByteType, DoubleType, IntegerType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("_iid", id_type, False),
        StructField("_list", IntegerType(), False),
        StructField("_codes", ArrayType(ByteType()), False),
        StructField("_scale", DoubleType(), False),
        StructField("_inorm", DoubleType(), False),
    ])
    return it.mapInPandas(assign_encode, schema)


def _int8_pair_cols(eps_slack: float):
    """The (approx, eps) column pair over a joined code-pair row
    (_ca/_cb/_sa/_sb/_na/_nb) — the single source of truth for the
    banded classification arithmetic (operator AND audit): integer dot
    widened per element and accumulated in long, approx = cos(a^, b^),
    eps = sqrt(d)*(s_a/|a^| + s_b/|b^|) + slack with the 1e-300 guards
    that route zero-norm rows to the band."""
    dot = F.aggregate(
        F.zip_with(F.col("_ca"), F.col("_cb"),
                   lambda x, y: (x.cast("int") * y.cast("int")).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")
    approx = (dot * F.col("_sa") * F.col("_sb")
              / F.greatest(F.col("_na") * F.col("_nb"), F.lit(1e-300)))
    eps = (F.sqrt(F.size("_ca").cast("double"))
           * (F.col("_sa") / F.greatest(F.col("_na"), F.lit(1e-300))
              + F.col("_sb") / F.greatest(F.col("_nb"), F.lit(1e-300)))
           + F.lit(float(eps_slack)))
    return approx, eps


def semantic_dedup_auto(
    items: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    kmeans_iters: int = 1,
    int8_min_bytes: int = 2 << 20,
) -> DataFrame:
    """SemDeDup with the int8-vs-fp CROSSOVER routed automatically
    (VERDICT r8 ask #7): the quantize+band machinery of
    semantic_dedup_int8 is a fixed cost that only pays once the
    fp-vector shuffle dominates — measured: sf0.1 (~0.8 MB corpus)
    3.79s int8 vs 3.66s fp, sf1 (~5 MB) 29.1s int8 vs 41.8s fp
    (SCALE.md). Routing reads Catalyst's optimized-plan size estimate
    for ``items`` (_plan_size_bytes — file-scan statistics, no job
    launched): corpora at or above ``int8_min_bytes`` (default 2 MiB,
    the geometric middle of the two measured points) take the int8
    banded path, smaller ones the fp path. OUTPUTS ARE IDENTICAL BY
    CONSTRUCTION either way (the int8 band audit's guarantee), so the
    router can never change an answer — only its cost
    (pytest-pinned: both routes produce the same components on the
    same corpus, and the router picks by size).
    """
    from .dedup import _plan_size_bytes

    if _plan_size_bytes(items) >= int8_min_bytes:
        return semantic_dedup_int8(
            items, threshold=threshold, n_lists=n_lists, id_col=id_col,
            vec_col=vec_col, max_iter=max_iter,
            kmeans_iters=kmeans_iters)
    return semantic_dedup(
        items, threshold=threshold, n_lists=n_lists, id_col=id_col,
        vec_col=vec_col, max_iter=max_iter, kmeans_iters=kmeans_iters)


def semantic_dedup_int8(
    items: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    index_path: str | None = None,
    eps_slack: float = 1e-9,
    kmeans_iters: int = 1,
) -> DataFrame:
    """semantic_dedup whose within-list pairwise pass runs on INT8
    codes with a PROVABLE per-pair error band — full-precision vectors
    are fetched only for pairs whose approximate cosine straddles the
    threshold, so the O(n^2/k) stage (the dominant cost at corpus
    scale) shuffles 4x fewer bytes and the fp corpus is re-read only
    for the band. Components are IDENTICAL to semantic_dedup's, by
    construction, not empirically:

    error bound (and why it is sound): with per-vector max-abs
    quantization q = rint(v / s), s = max|v|/127, the dequantized
    vector v̂ = s*q satisfies ||v - v̂||_2 <= s*sqrt(d)/2 (each element
    errs <= s/2, half-even ties included). For unit-normalized u, û:
    ||u - û|| <= 2*||v - v̂|| / max(||v||, ||v̂||) <= s*sqrt(d)/||v̂||,
    and |cos(a,b) - cos(â,b̂)| = |<u_a,u_b> - <û_a,û_b>|
                              <= ||u_a - û_a|| + ||u_b - û_b||
    so eps_pair = sqrt(d) * (s_a/||â|| + s_b/||b̂||), every term of
    which rides the code rows (scale + precomputed code norm — the
    build_rescore_index columns). Pairs with approx - eps >= threshold
    are accepted without an fp read (exact cosine is certainly >=
    threshold); approx + eps < threshold rejected likewise; only the
    band is exact-rescored with semantic_dedup's own Catalyst cosine
    expression. ``eps_slack`` (default 1e-9) absorbs float rounding in
    the band arithmetic itself; the bound is otherwise exact in real
    arithmetic. Zero-norm vectors get a huge eps -> band -> the shared
    cosine expression raises ANSI DIVIDE_BY_ZERO exactly as the fp
    path does on the same input.

    ``index_path``: reuse a persisted build_rescore_index (bits=8) —
    the deployment shape: quantize once, dedup per corpus version
    without re-encoding. Inline (default) encodes in the SAME single
    map-side pass as the kmeans list assignment, so the fp corpus is
    read exactly once before the band fetches.

    List assignment replicates _coarse_kmeans's make_assign numpy
    sequence bit-for-bit (np.stack -> normalize -> @cents.T ->
    argsort), so the confinement structure matches the fp operator's.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    spark = items.sparkSession
    # feeds seeds, Lloyd, encode/assign, BOTH band fp fetches and the
    # final left join — cut the projected corpus once (see
    # semantic_dedup)
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    ).localCheckpoint(eager=False)
    cents, make_assign = _coarse_kmeans(it, n_lists, kmeans_iters)
    if cents is None:
        return items.select(
            F.col(id_col).alias(id_col),
            F.col(id_col).alias("canonical_id"))

    if index_path is not None:
        from .index_store import read_meta_row

        meta = read_meta_row(spark, index_path)
        if int(meta["bits"]) != 8:
            raise ValueError(
                "semantic_dedup_int8 requires a bits=8 index, got "
                f"bits={int(meta['bits'])}")
        assigned = it.withColumn(
            "_list", make_assign(cents, 1)(F.col("_iv"))[0]
        ).select("_iid", "_list")
        codes, _n = _ann_index_frames(spark, index_path)
        qdf = assigned.join(
            codes.select("_iid", "_codes", "_scale", "_inorm"), "_iid")
    else:
        qdf = _int8_assign_encode(it, cents, items.schema[id_col].dataType)

    # the encoded+assigned frame feeds both join sides — cut it once
    qdf = qdf.localCheckpoint(eager=False)
    a = qdf.select(
        "_list", F.col("_iid").alias("_ia"), F.col("_codes").alias("_ca"),
        F.col("_scale").alias("_sa"), F.col("_inorm").alias("_na"))
    b = qdf.select(
        "_list", F.col("_iid").alias("_ib"), F.col("_codes").alias("_cb"),
        F.col("_scale").alias("_sb"), F.col("_inorm").alias("_nb"))
    approx, eps = _int8_pair_cols(eps_slack)
    scored = (
        a.join(b, "_list")
        .filter(F.col("_ia") < F.col("_ib"))
        .select(F.col("_ia"), F.col("_ib"),
                approx.alias("_ap"), eps.alias("_eps"))
        .localCheckpoint(eager=False)  # feeds both accept and band
    )
    auto = (
        scored.filter(F.col("_ap") - F.col("_eps") >= F.lit(threshold))
        .select(F.col("_ia").alias("_src"), F.col("_ib").alias("_dst"))
    )
    band = (
        scored.filter(
            (F.col("_ap") - F.col("_eps") < F.lit(threshold))
            & (F.col("_ap") + F.col("_eps") >= F.lit(threshold)))
        .select("_ia", "_ib")
    )
    # fp fetch CONFINED to band pairs — the same >= filter expression
    # as semantic_dedup so NaN/tie behavior is identical
    va = it.select(F.col("_iid").alias("_ia"), F.col("_iv").alias("_va"))
    vb = it.select(F.col("_iid").alias("_ib"), F.col("_iv").alias("_vb"))
    rescored = (
        band.join(va, "_ia").join(vb, "_ib")
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_ia").alias("_src"), F.col("_ib").alias("_dst"))
    )
    pairs = auto.unionByName(rescored).localCheckpoint(eager=False)

    from .paths import connected_components

    touched = (
        pairs.select(F.col("_src").alias("_iid"))
        .unionByName(pairs.select(F.col("_dst").alias("_iid")))
        .distinct()
    )
    comp = connected_components(pairs, touched, max_iter=max_iter)
    return (
        it.select("_iid")
        .join(comp.withColumnRenamed("node", "_iid"), "_iid", "left")
        .select(
            F.col("_iid").alias(id_col),
            F.coalesce("comp", F.col("_iid")).alias("canonical_id"),
        )
    )


def semantic_dedup_band_audit(
    items: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps_slack: float = 1e-9,
    kmeans_iters: int = 1,
) -> DataFrame:
    """One row quantifying semantic_dedup_int8's fp-read confinement on
    a given corpus: of all within-list candidate pairs, how many were
    auto-accepted / auto-rejected on int8 codes alone vs sent to the
    fp band rescore. band_fraction is THE 100 TB claim — it is the
    fraction of the pairwise stage that ever touches full-precision
    vectors. Deterministic (hash-seeded kmeans, rint codes), so the
    audited fractions are a reproducible constant of (corpus, params).
    """
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv")
    )
    cents, make_assign = _coarse_kmeans(it, n_lists, kmeans_iters)
    if cents is None:
        return local_frame(
            items.sparkSession, [(0, 0, 0, 0, 0.0)],
            "n_pairs: long, n_auto_accept: long, n_auto_reject: long, "
            "n_band: long, band_fraction: double")
    qdf = _int8_assign_encode(
        it, cents, items.schema[id_col].dataType
    ).localCheckpoint(eager=False)
    a = qdf.select(
        "_list", F.col("_iid").alias("_ia"), F.col("_codes").alias("_ca"),
        F.col("_scale").alias("_sa"), F.col("_inorm").alias("_na"))
    b = qdf.select(
        "_list", F.col("_iid").alias("_ib"), F.col("_codes").alias("_cb"),
        F.col("_scale").alias("_sb"), F.col("_inorm").alias("_nb"))
    approx, eps = _int8_pair_cols(eps_slack)
    t = F.lit(threshold)
    cls = (
        a.join(b, "_list")
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.when(approx - eps >= t, F.lit("accept"))
            .when(approx + eps < t, F.lit("reject"))
            .otherwise(F.lit("band")).alias("_cls"))
    )
    return cls.agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("_cls") == "accept").alias("n_auto_accept"),
        F.count_if(F.col("_cls") == "reject").alias("n_auto_reject"),
        F.count_if(F.col("_cls") == "band").alias("n_band"),
    ).select(
        "n_pairs", "n_auto_accept", "n_auto_reject", "n_band",
        F.round(F.col("n_band")
                / F.greatest(F.col("n_pairs"), F.lit(1)), 6)
        .alias("band_fraction"),
    )


def cluster_balanced_sample(
    items: DataFrame,
    k: int | None = None,
    cap_per_cluster: int = 1000,
    max_iters: int = 20,
    tol: float | None = None,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_ids: list | None = None,
    order_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Cluster-balanced corpus sampling — the composition the
    first-class kmeans unlocks (the SemDeDup paper's cluster step /
    DoReMi-style balance): kmeans over the embedding column, then at
    most ``cap_per_cluster`` items kept per cluster, so no embedding
    region can dominate the sampled corpus the way no host can
    dominate a cap_per_key'd crawl.

    Ranking within a cluster follows cap_per_key's contract:
    ``order_col`` ascending by default (pass the id column for
    keep-earliest, a quality score with ``descending=True`` for
    keep-best); default order = the id column, deterministic.
    tol=None runs exactly ``max_iters`` Lloyd rounds (the fixed-budget
    mode — sampling needs reproducibility, not convergence proofs);
    pass a tol to require convergence like kmeans itself.

    Returns (id, cluster) for the kept rows. Shape at scale: the
    kmeans rounds are corpus scans + k-row groupBys, and the cap is
    ONE shuffle whose row_number+filter compiles to a PARTIAL
    pre-shuffle WindowGroupLimit (each map task forwards at most
    cap rows per cluster it sees) — the cap_per_key plan, proven in
    docs/PLANS.md.
    """
    if cap_per_cluster < 1:
        raise ValueError(
            f"cap_per_cluster must be >= 1, got {cap_per_cluster}")
    assigned = kmeans(items, k=k, max_iters=max_iters, tol=tol,
                      metric=metric, id_col=id_col, vec_col=vec_col,
                      init_ids=init_ids)
    oc = order_col or id_col
    if oc not in assigned.columns:
        # kmeans returns only (id, cluster): a score/order column from
        # the input frame rides back in via an id join before the cap
        if oc not in items.columns:
            raise ValueError(
                f"order_col {oc!r} not in items columns {items.columns}")
        assigned = assigned.join(
            items.select(F.col(id_col), F.col(oc)), id_col)
    from .sampling import cap_per_key

    return cap_per_key(assigned, "cluster", cap_per_cluster,
                       order_col=oc,
                       descending=descending).select(id_col, "cluster")


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    score_cols: list[str] | None = None,
    k: int = 60,
    topk: int | None = None,
) -> DataFrame:
    """(id, fused_score, n_lists) — Reciprocal Rank Fusion (Cormack,
    Clarke & Buettcher 2009): fused = sum over input lists of
    1/(k + rank), rank from each list's own score (desc, ties by id).

    THE standard hybrid-retrieval combiner — BM25 lexical + dense ANN
    lists fuse without score calibration because only RANKS enter the
    sum (scales/monotone transforms of either scorer change nothing).
    k=60 is the paper's setting. Deterministic given the inputs, so
    fusions of deterministic retrievals stay oracle-replayable.

    Scale shape: each list gets one window rank over ITS OWN rows
    (candidate lists are top-k-sized by construction, not corpus-
    sized), then a unioned groupBy on the id — sketch-sized work even
    when the corpora behind the lists are 100 TB.
    """
    from pyspark.sql import Window

    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least 2 rankings")
    if score_cols is None:
        score_cols = ["score"] * len(rankings)
    if len(score_cols) != len(rankings):
        raise ValueError("score_cols must match rankings")
    parts = []
    for df, sc in zip(rankings, score_cols):
        parts.append(
            df.select(F.col(id_col).alias("_id"), F.col(sc).alias("_s"))
            .withColumn("_r", F.row_number().over(
                Window.orderBy(F.col("_s").desc(), F.col("_id"))))
            .select("_id", (F.lit(1.0) / (F.lit(k) + F.col("_r")))
                    .alias("_contrib"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    fused = (
        out.groupBy("_id")
        .agg(F.round(F.sum("_contrib"), 6).alias("fused_score"),
             F.count(F.lit(1)).alias("n_lists"))
        .select(F.col("_id").alias(id_col), "fused_score", "n_lists")
    )
    if topk is not None:
        fused = fused.orderBy(F.col("fused_score").desc(),
                              F.col(id_col)).limit(topk)
    return fused


def ranking_metrics(
    preds: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    item_col: str = "item_id",
    score_col: str = "score",
) -> DataFrame:
    """(query_id, recall_at_k, mrr, ndcg_at_k, n_relevant) — the
    standard retrieval-evaluation triple per query, computed
    distributed over ranked candidate lists.

    recall@k = |top-k ∩ relevant| / |relevant|; MRR = 1/rank of the
    first relevant item (0 when none in top-k); nDCG@k with binary
    gains = sum of 1/log2(rank+1) over relevant hits, normalized by
    the ideal prefix. Ranks come from (score desc, item id) — fully
    deterministic, so evaluations of deterministic retrievals are
    oracle-replayable (log2 values round to 4 dp, the ln-bearing
    oracle convention). Queries with relevant items but NO
    predictions still appear (all-zero metrics) — silently dropping
    them would inflate every average.

    Scale shape: one rank window per query over candidate-list-sized
    frames, one join against the truth set, one groupBy — evaluation
    never touches the corpora behind the lists.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(item_col))
    ranked = (
        preds.select(query_col, item_col, score_col)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
    )
    rel = truth.select(query_col, item_col).distinct()
    n_rel = rel.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_relevant"))
    hits = ranked.join(rel, [query_col, item_col], "inner")
    per_q = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("_hits"),
        F.min("_r").alias("_first"),
        F.sum(F.lit(1.0) / F.log2(F.col("_r") + 1)).alias("_dcg"),
    )
    # ideal DCG over the first min(k, n_relevant) slots; the harmonic
    # prefix is tiny (k terms) so it rides as a generated expression
    idcg = F.when(F.col("n_relevant") >= k, F.lit(sum(
        1.0 / math.log2(i + 2) for i in range(k)))).otherwise(
        F.element_at(
            F.array(*[F.lit(sum(1.0 / math.log2(i + 2) for i in range(m)))
                      for m in range(1, k + 1)]),
            F.least(F.col("n_relevant"), F.lit(k)).cast("int")))
    out = n_rel.join(per_q, query_col, "left")
    return out.select(
        query_col,
        F.round(F.coalesce(F.col("_hits"), F.lit(0))
                / F.col("n_relevant"), 4).alias("recall_at_k"),
        F.round(F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)),
                4).alias("mrr"),
        F.round(F.coalesce(F.col("_dcg") / idcg, F.lit(0.0)),
                4).alias("ndcg_at_k"),
        "n_relevant",
    )


# ---------------------------------------------------------------------------
# Signed random projection (Johnson-Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------

def srp_sign_matrix(dim: int, out_dim: int, salt: int = 0) -> list:
    """dim x out_dim deterministic ±1 matrix from murmur3 fmix32 over
    the flat index — the Achlioptas (2001) sign-matrix instance of a
    JL projection. Pure Python: the matrix is a MODEL PARAMETER (like
    ranking_metrics' harmonic prefix), generated once from (dim,
    out_dim, salt) and injected as literals into both the Spark plan
    and any SQL oracle — the engines then agree by construction and
    the distributed work (the per-row GEMM) is what gets verified."""
    if dim < 1 or out_dim < 1:
        raise ValueError(f"dim/out_dim must be >= 1, got {dim}/{out_dim}")
    c1, c2, m32 = 0x85EBCA6B, 0xC2B2AE35, 1 << 32

    def _mix(key: int) -> int:
        h = (key + salt) % m32
        h ^= h >> 16
        h = (h * c1) % m32
        h ^= h >> 13
        h = (h * c2) % m32
        return h ^ (h >> 16)

    return [
        [1 if _mix(i * out_dim + j) & 1 == 0 else -1
         for j in range(out_dim)]
        for i in range(dim)
    ]


def srp_project(
    items: DataFrame,
    dim: int,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 0,
    scale: bool = True,
) -> DataFrame:
    """(id, projection array<double> of out_dim): signed-random-
    projection dimensionality reduction — the cheap JL step a 100 TB
    embedding pipeline runs BEFORE clustering/ANN when the stored
    dimension is wider than the recall target needs (shrinking d
    shrinks every downstream GEMM, shuffle, and index linearly).

    projection[j] = (1/sqrt(out_dim)) * sum_i vec[i] * sign(i, j)
    with the Achlioptas ±1 matrix from srp_sign_matrix. Cosine is
    preserved in expectation with distortion O(1/sqrt(out_dim))
    (pinned by the distortion pytest, not assumed).

    Scale shape: entirely map-side — out_dim zip_with/aggregate folds
    per row over sign-literal arrays, whole-stage codegen, ZERO
    shuffle and zero Python. The fold order is the array order, so an
    ANSI-SQL mirror summing terms left-to-right reproduces the exact
    IEEE double before rounding.

    Rows whose vector length != dim project to NULL (documented —
    silently zero-padding would fabricate geometry).
    """
    signs = srp_sign_matrix(dim, out_dim, salt)
    inv = 1.0 / math.sqrt(out_dim) if scale else 1.0
    base = items.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    comps = []
    for j in range(out_dim):
        sgn = F.array(*[F.lit(float(signs[i][j])) for i in range(dim)])
        comps.append(
            F.aggregate(
                F.zip_with(F.col("_v"), sgn, lambda x, s: x * s),
                F.lit(0.0), lambda acc, v: acc + v,
            ) * F.lit(inv))
    proj = F.when(F.size("_v") == dim, F.array(*comps))
    return base.select(F.col(id_col), proj.alias("projection"))


def srp_sql(dim: int, out_dim: int, salt: int = 0,
            vec_expr: str = "embedding", scale: bool = True,
            round_to: int = 6) -> str:
    """GENERATED ANSI-SQL mirror of one srp_project row — a list of
    out_dim rounded components, same sign literals, same left-to-right
    double fold (so the pre-round value is bit-identical)."""
    signs = srp_sign_matrix(dim, out_dim, salt)
    inv = repr(1.0 / math.sqrt(out_dim)) if scale else "1.0"
    comps = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST({vec_expr}[{i + 1}] AS DOUBLE) * {signs[i][j]}.0"
            for i in range(dim))
        comps.append(f"round((0.0 + {terms}) * {inv}, {round_to})")
    return "[" + ", ".join(comps) + "]"


def hard_negatives(
    items: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 10,
    fetch_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    item_col: str = "item_id",
) -> DataFrame:
    """(query_id, item_id, score, neg_rank): the k most-similar items
    to each query that are NOT in its positive set — ANN-mined hard
    negatives, the contrastive-training upgrade over uniform
    negative_samples (models stop learning from easy negatives fast;
    every dense-retrieval recipe mines hard ones).

    Fetches the top ``fetch_k`` (default k + max positives per query,
    computed from ``positives`` — pass it explicitly to skip that
    aggregate) by exact cosine, anti-joins the positive set, re-ranks,
    keeps k. Exactness: a query with p positives inside its top
    fetch_k can lose at most p candidates, so fetch_k = k + p_max
    guarantees k true hard negatives — this is the exact operator;
    at corpus scale swap the scorer for ann_topk and accept its
    recall (same downstream shape).
    """
    if fetch_k is None:
        pmax = positives.groupBy(query_id_col).count().agg(
            F.max("count")).collect()[0][0]
        fetch_k = k + int(pmax or 0)
    scored = cosine_topk(items, queries, k=fetch_k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col)
    pos = positives.select(
        F.col(query_id_col),
        F.col(item_col).alias("item_id")).distinct()
    neg = scored.join(pos, [query_id_col, "item_id"], "left_anti")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("item_id"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's PQ half) — billion-scale ANN compression
# ---------------------------------------------------------------------------

def train_pq(
    items: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    normalize: bool = True,
):
    """Train product-quantization codebooks (Jégou et al. 2011): split
    each d-vector into ``m`` subvectors and k-means each subspace —
    returns a numpy array (m, k, d/m), the model ADC scans use. With
    m=8, k=16 a 64-dim float vector becomes 8 nibbles: 64x smaller
    than fp64, 16x smaller than the int8 codes — the compression step
    that makes billion-vector ANN fit in memory.

    Distributed shape: ALL m subspaces train together — one
    Arrow-vectorized assignment pass per round (argmin per subspace
    against broadcast codebooks) + one groupBy over (subspace, code,
    dim) rows for the new means, so a round costs one corpus scan
    regardless of m. Seeds are the k smallest-xxhash64 ids' subvectors
    (the kmeans rule — deterministic, no RNG). Fixed ``iters`` budget
    (the IVF convention). Train on a hash_sample at 100 TB — codebook
    quality saturates long before the corpus does.

    ``normalize`` L2-normalizes vectors first so ADC inner products
    approximate cosine (the retrieval default; pq_topk assumes it).
    """
    import numpy as np

    if m < 1 or k < 2:
        raise ValueError(f"need m >= 1 and k >= 2, got m={m} k={k}")
    it = items.select(
        F.col(id_col).alias("_iid"), _as_double(F.col(vec_col)).alias("_iv"))
    if dim is None:
        dim = len(it.first()["_iv"])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    if normalize:
        nrm = F.sqrt(F.aggregate(
            F.col("_iv"), F.lit(0.0), lambda a, x: a + x * x))
        it = it.withColumn("_nrm", nrm).select(
            "_iid",
            F.transform("_iv", lambda x: x / F.greatest(
                F.lit(1e-12), F.col("_nrm"))).alias("_iv"))
    it = it.localCheckpoint(eager=False)

    seeds = (it.withColumn("_h", F.xxhash64("_iid")).orderBy("_h")
             .limit(k).collect())
    if len(seeds) < k:
        raise ValueError(f"train_pq: k={k} exceeds corpus size")
    cb = np.array([r["_iv"] for r in seeds], dtype="float64") \
        .reshape(k, m, dsub).transpose(1, 0, 2).copy()  # (m, k, dsub)

    from pyspark.sql.functions import pandas_udf

    def make_codes(codebooks):
        c = codebooks  # (m, k, dsub)

        @pandas_udf("array<int>")
        def codes(vs: pd.Series) -> pd.Series:
            import numpy as np

            x = np.stack(vs.to_numpy()).reshape(-1, c.shape[0],
                                                c.shape[2])
            out = np.empty((x.shape[0], c.shape[0]), dtype="int32")
            for s in range(c.shape[0]):
                # ||x - c||^2 argmin == argmax(2 x.c - ||c||^2)
                d2 = (x[:, s, :] @ c[s].T) * 2 - (c[s] ** 2).sum(axis=1)
                out[:, s] = d2.argmax(axis=1)
            return pd.Series([r.tolist() for r in out])

        return codes

    for _ in range(iters):
        assigned = it.select(
            "_iv", make_codes(cb)(F.col("_iv")).alias("_codes"))
        dims = assigned.select(
            F.posexplode("_codes").alias("_s", "_c"), "_iv"
        ).select(
            "_s", "_c",
            F.posexplode(F.expr(
                f"slice(_iv, _s * {dsub} + 1, {dsub})")).alias("_d", "_x"),
        )
        means = dims.groupBy("_s", "_c", "_d").agg(
            F.avg("_x").alias("_m")).collect()
        for r in means:
            cb[r["_s"], r["_c"], r["_d"]] = r["_m"]
    return cb


def pq_encode(
    items: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int> of m in [0, k)): nearest-codebook-entry
    encoding — one Arrow-vectorized map pass, zero shuffle."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    c = np.asarray(codebooks, dtype="float64")

    @pandas_udf("array<int>")
    def codes(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype("float64")
        if normalize:
            x = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        x = x.reshape(-1, c.shape[0], c.shape[2])
        out = np.empty((x.shape[0], c.shape[0]), dtype="int32")
        for s in range(c.shape[0]):
            d2 = (x[:, s, :] @ c[s].T) * 2 - (c[s] ** 2).sum(axis=1)
            out[:, s] = d2.argmax(axis=1)
        return pd.Series([r.tolist() for r in out])

    return items.select(
        F.col(id_col),
        codes(_as_double(F.col(vec_col))).alias("codes"))


def _guard_query_frame(queries: DataFrame, max_query_rows: int,
                       op: str) -> None:
    """Enforce the broadcast-query contract BEFORE collecting the
    query frame to the driver (r10 'What's wrong' #2): the PQ/IVF-PQ
    ADC table build materializes one (m x k) lookup table per query
    driver-side, which is the right shape for point/batch query
    workloads but a driver OOM if a caller passes a corpus-sized
    frame. limit(n+1).count() probes the bound without scanning past
    it."""
    n = queries.limit(int(max_query_rows) + 1).count()
    if n > int(max_query_rows):
        raise ValueError(
            f"{op}: the query frame exceeds max_query_rows="
            f"{max_query_rows} (the per-query ADC lookup tables are "
            f"built driver-side — queries are the SMALL side by "
            f"contract). For corpus-sized query sets, batch the "
            f"calls, or raise max_query_rows= explicitly if the "
            f"driver has the memory for n_queries * m * k doubles.")


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    rescore_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
    max_query_rows: int = 4096,
) -> DataFrame:
    """(query_id, item_id, score): asymmetric-distance (ADC) top-k —
    each query computes one (m x k) inner-product table against the
    codebooks driver-side (queries are small by contract, the
    broadcast-query rule), and every item scores as
    sum_s table[s][code_s] — a pure JVM zip_with/element_at fold over
    its m int codes; the fp corpus is NEVER read in the scan.

    ``rescore_fraction``: exact-rescore the top fraction per query
    (the rescore_topk pattern) — at a fraction where the true top-k
    survives the ADC cut the result is bit-identical to exact
    cosine_topk (pinned by the recall audit), which is what lets a PQ
    entry hash-match a full exact oracle. Pass ``codes``
    (pq_encode output, possibly persisted) to skip re-encoding.
    """
    import numpy as np

    c = np.asarray(codebooks, dtype="float64")
    mm, kk = c.shape[0], c.shape[1]
    if codes is None:
        codes = pq_encode(items, codebooks, id_col=id_col,
                          vec_col=vec_col)
    _guard_query_frame(queries, max_query_rows, "pq_topk")
    q_rows = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv")).collect()
    spark = items.sparkSession
    tabs = []
    for r in q_rows:
        qv = np.asarray(r["_qv"], dtype="float64")
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        sub = qv.reshape(mm, -1)
        t = [[float(x) for x in (sub[s] @ c[s].T)] for s in range(mm)]
        tabs.append((r["_qid"], t))
    # derive the query-id field type from the caller's frame — string
    # or other non-integral query ids are as legal here as in
    # cosine_topk (r8 ADVICE)
    from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                                   StructType)

    qid_t = queries.schema[query_id_col].dataType
    qt = local_frame(
        spark, tabs, StructType([
            StructField(query_id_col, qid_t, True),
            StructField("_tab", ArrayType(ArrayType(DoubleType())),
                        True)]))
    scored = codes.crossJoin(F.broadcast(qt))
    if qid_t == items.schema[id_col].dataType:
        # self-exclusion only makes sense when queries share the
        # corpus id domain; a cross-type comparison would ANSI-fail
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    scored = (
        scored
        .select(
            query_id_col, F.col(id_col).alias("item_id"),
            F.aggregate(
                F.zip_with("codes", "_tab",
                           lambda cc, t: F.element_at(t, cc + 1)),
                F.lit(0.0), lambda a, x: a + x).alias("adc_score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_score").desc(), F.col("item_id"))
    if rescore_fraction is None:
        return (scored.withColumn("_r", F.row_number().over(w))
                .where(F.col("_r") <= k)
                .select(query_id_col, "item_id",
                        F.round("adc_score", 6).alias("score")))
    n_items = codes.count()
    top_n = max(k, int(math.ceil(rescore_fraction * n_items)))
    cand = (scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= top_n).drop("_r", "adc_score"))
    fp = items.select(F.col(id_col).alias("item_id"),
                      _as_double(F.col(vec_col)).alias("_fv"))
    qv = queries.select(F.col(query_id_col),
                        _as_double(F.col(vec_col)).alias("_qv"))
    exact = (
        cand.join(fp, "item_id").join(F.broadcast(qv), query_id_col)
        .select(query_id_col, "item_id",
                cosine(F.col("_fv"), F.col("_qv")).alias("score"))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("item_id"))
    return (exact.withColumn("_r", F.row_number().over(w2))
            .where(F.col("_r") <= k)
            .select(query_id_col, "item_id",
                    F.round("score", 6).alias("score")))


def ivfpq_topk(
    items: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 1,
    rescore_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = 4096,
) -> DataFrame:
    """(query_id, item_id, score): the full IVF-PQ configuration — the
    billion-scale ANN deployment shape (FAISS IVFx,PQy): a coarse
    kmeans router confines each query to its n_probe nearest lists,
    and WITHIN the probed lists items score by PQ ADC (int-code table
    lookups), never by fp vectors. Candidate volume is
    ~(n_probe/n_lists) of the corpus and each candidate costs m code
    lookups — the two approximations multiply.

    ``rescore_fraction`` exact-rescores the top fraction OF THE PROBED
    CANDIDATES (fp read confined to that band). Recall compounds both
    cuts: audit with ann_recall_audit on your corpus before trusting a
    parameter point (the recall-audit discipline every ANN family
    entry here follows).
    """
    it = items.select(
        F.col(id_col).alias("_iid"),
        _as_double(F.col(vec_col)).alias("_iv"))
    cents, make_assign = _coarse_kmeans(it, n_lists, kmeans_iters)
    if cents is None:
        raise ValueError("ivfpq_topk: items frame is empty")
    assigned = it.withColumn(
        "_list", make_assign(cents, 1)(F.col("_iv"))[0])
    codes = pq_encode(assigned.select(F.col("_iid").alias(id_col),
                                      F.col("_iv").alias(vec_col)),
                      codebooks, id_col=id_col, vec_col=vec_col)
    coded = assigned.select("_iid", "_list").join(
        codes.select(F.col(id_col).alias("_iid"), "codes"), "_iid")

    import numpy as np

    c = np.asarray(codebooks, dtype="float64")
    mm = c.shape[0]
    _guard_query_frame(queries, max_query_rows, "ivfpq_topk")
    q_rows = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv")).collect()
    spark = items.sparkSession
    tabs = []
    for r in q_rows:
        qv = np.asarray(r["_qv"], dtype="float64")
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        sub = qv.reshape(mm, -1)
        tabs.append((r["_qid"],
                     [[float(x) for x in (sub[s] @ c[s].T)]
                      for s in range(mm)]))
    from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                                   StructType)

    qid_t = queries.schema[query_id_col].dataType
    qt = local_frame(
        spark, tabs, StructType([
            StructField("_qid", qid_t, True),
            StructField("_tab", ArrayType(ArrayType(DoubleType())),
                        True)]))
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"))
    q = q.withColumn("_probes", make_assign(cents, n_probe)(F.col("_qv")))
    q = q.join(qt, "_qid").select(
        "_qid", "_qv", "_tab", F.explode("_probes").alias("_list"))
    cand = coded.join(q, "_list")
    if qid_t == items.schema[id_col].dataType:
        cand = cand.filter(F.col("_iid") != F.col("_qid"))
    cand = (
        cand
        .select(
            "_qid", "_iid", "_qv",
            F.aggregate(
                F.zip_with("codes", "_tab",
                           lambda cc, t: F.element_at(t, cc + 1)),
                F.lit(0.0), lambda a, x: a + x).alias("_adc"))
        .dropDuplicates(["_qid", "_iid"])
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("_adc").desc(), F.col("_iid"))
    if rescore_fraction is None:
        return (cand.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k)
                .select(F.col("_qid").alias(query_id_col),
                        F.col("_iid").alias("item_id"),
                        F.round("_adc", 6).alias("score")))
    n_cand = max(k, int(math.ceil(
        rescore_fraction * items.count() * n_probe / n_lists)))
    top = (cand.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= n_cand).drop("_rk", "_adc"))
    fp = it.select(F.col("_iid"), F.col("_iv").alias("_fv"))
    exact = top.join(fp, "_iid").select(
        "_qid", "_iid", cosine(F.col("_fv"), F.col("_qv")).alias("_s"))
    w2 = Window.partitionBy("_qid").orderBy(
        F.col("_s").desc(), F.col("_iid"))
    return (exact.withColumn("_rk", F.row_number().over(w2))
            .filter(F.col("_rk") <= k)
            .select(F.col("_qid").alias(query_id_col),
                    F.col("_iid").alias("item_id"),
                    F.round("_s", 6).alias("score")))


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    mode: str = "flag",
    method: str = "exact",
    dim: int = 64,
    num_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag (or drop)
    corpus items whose embedding is cosine-similar to ANY benchmark
    item at >= ``threshold``. Text-level decontamination
    (ngram_contamination) misses paraphrased or translated benchmark
    leakage; this is its semantic sibling — the same reason SemDeDup
    complements MinHash.

    mode='flag' returns every corpus row as (id, max_cos,
    nearest_bench_id, contaminated); mode='drop' returns the clean
    rows of ``corpus`` unchanged. contaminated compares the 6-dp
    ROUNDED max score (cross-engine-exact); nearest_bench_id is the
    argmax with ties to the smallest benchmark id.

    Scale shape, ``method='exact'`` (default): the benchmark is small
    by contract (a benchmark) and BROADCASTS; the corpus is scanned
    once — per-row cosine folds + one map-side-combinable max
    aggregate per corpus id. No corpus self-join exists.

    ``method='lsh'``: the LARGE-benchmark path — only corpus/benchmark
    pairs sharing a random-hyperplane bucket in one of ``n_tables``
    tables (plus one-bit probes) are exact-scored, the lsh_ann_topk
    blocking applied cross-frame. Recall < 1 with the standard LSH
    caveat — but contamination's regime is exactly LSH's good case
    (leaked items are NEAR-duplicates of benchmark items, cosine
    >= 0.9, where bucket collision probability is high;
    pytest-pinned: every planted near-copy is still caught). Corpus
    items with no candidate pair report max_cos 0.0 / clean.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    if method not in ("exact", "lsh"):
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    it = corpus.select(F.col(id_col).alias("_iid"),
                       _as_double(F.col(vec_col)).alias("_iv"))
    if method == "lsh":
        sigs_i = [
            hyperplane_signature(F.col("_iv"), dim, num_planes, table=t)
            .alias(f"_s{t}") for t in range(n_tables)
        ]
        iti = it.select("_iid", "_iv", *sigs_i).select(
            "_iid", "_iv", F.explode(F.array(*[
                F.struct(F.lit(t).alias("t"), F.col(f"_s{t}").alias("b"))
                for t in range(n_tables)
            ])).alias("_tb"))
        b0 = benchmark.select(
            F.col(bench_id_col).alias("_bid"),
            _as_double(F.col(vec_col)).alias("_bv"))
        sigs_b = [
            hyperplane_signature(F.col("_bv"), dim, num_planes, table=t)
            .alias(f"_s{t}") for t in range(n_tables)
        ]
        b_probes = []
        for t in range(n_tables):
            sig = F.col(f"_s{t}")
            b_probes.append(F.struct(F.lit(t).alias("t"), sig.alias("b")))
            b_probes.extend(
                F.struct(F.lit(t).alias("t"),
                         sig.bitwiseXOR(F.lit(1 << p)).alias("b"))
                for p in range(num_planes))
        bb = b0.select("_bid", "_bv", *sigs_b).select(
            "_bid", "_bv", F.explode(F.array(*b_probes)).alias("_tb"))
        scored = (
            iti.join(bb, "_tb")
            .select("_iid", "_bid",
                    cosine(F.col("_iv"), F.col("_bv")).alias("_s"))
            .dropDuplicates(["_iid", "_bid"])
        )
    else:
        b = F.broadcast(benchmark.select(
            F.col(bench_id_col).alias("_bid"),
            _as_double(F.col(vec_col)).alias("_bv")))
        scored = it.crossJoin(b).select(
            "_iid", "_bid", cosine(F.col("_iv"), F.col("_bv")).alias("_s"))
    per = scored.groupBy("_iid").agg(
        F.max("_s").alias("_mx"),
        F.min_by("_bid", F.struct((-F.col("_s")).alias("s"),
                                  F.col("_bid").alias("b")))
        .alias("nearest_bench_id"),
    )
    # corpus items with no scored pair (possible under 'lsh') report
    # 0.0 / clean instead of vanishing
    flagged = (
        it.select(F.col("_iid"))
        .join(per, "_iid", "left")
        .select(
            F.col("_iid").alias(id_col),
            F.round(F.coalesce("_mx", F.lit(0.0)), 6).alias("max_cos"),
            "nearest_bench_id",
            (F.round(F.coalesce("_mx", F.lit(0.0)), 6)
             >= F.lit(threshold)).alias("contaminated"),
        )
    )
    if mode == "flag":
        return flagged
    dirty = flagged.filter(F.col("contaminated")) \
        .select(F.col(id_col).alias("_dirty"))
    return corpus.join(dirty, corpus[id_col] == F.col("_dirty"),
                       "left_anti")
