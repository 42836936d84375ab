"""Deduplication operators for large-scale text corpora.

Beyond-reference surface (SURVEY §7 step 9): the reference engine has
no dedup operators; these are the operations a 100 TB training-data
pipeline needs, built Spark-first:

- exact_dedup:        hash-groupBy, one shuffle on a 64-bit key
- shingles:           character n-grams, pure JVM expressions
- ngram_jaccard_pairs: exact Jaccard via inverted-index self-join
                       (docs sharing no shingle can't have J>0, so the
                       shingle join enumerates exactly the candidates)
- minhash_lsh_pairs:  MinHash signatures + banded LSH bucketing; the
                      scale path — candidate pairs come from band-bucket
                      joins instead of an O(n^2) cross join; candidates
                      are then exact-verified with true Jaccard
- simhash64:          64-bit SimHash fingerprint + hamming-radius pairs

Everything below is built-in-function only (whole-stage codegen);
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import local_frame


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Keep the lowest-id row per distinct text.

    Scale: groupBy on xxhash64(text) — a single shuffle keyed on 8 bytes,
    not the full document; min(id) is partial-aggregated map-side.
    A final equality check guards against hash collisions.
    """
    key = F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    h = F.xxhash64(key)
    keep = (
        df.select(F.col(id_col), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def shingle_array(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, words: bool = False,
                  keep: tuple = ()) -> DataFrame:
    """(id, _shingles array<string>) — the distinct n-gram set, per row.

    Entirely map-side (sequence + transform + array_distinct, all
    codegen'd): shingling is per-document work and must never shuffle.
    Per-doc signatures / sizes / verification sets all derive from this
    frame without a groupBy, so at 100 TB the first shuffle in a dedup
    pipeline is the candidate join itself.

    ``keep``: extra input columns carried through unchanged (streaming
    callers can't join them back — a post-hoc join on a stream is a
    stream-stream join).
    """
    extra = [F.col(c) for c in keep]
    # spread before the gram build: shingling is the family's heavy
    # map stage and inherits the SCAN's split count — a one-row-group
    # compact corpus would serialize the whole minhash/simhash/jaccard
    # front end onto one core (the span_dedup/dedup_lines lesson,
    # common.spread_narrow). No-op on many-split scans and streams.
    from .common import spread_narrow

    df = spread_narrow(df, id_col)
    # NB: sequence(1, 0) is DESCENDING in Spark — guard short/empty texts.
    # Word n-grams fold n-1 zip_withs over shifted slices of the word
    # array — O(L) per level. (transform(sequence, i -> slice(...)) is
    # ~9x slower: the per-element slice makes it O(L*n) with interpreted
    # lambda dispatch per output shingle.)
    if words:
        base = df.select(
            F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws"),
            *extra,
        )
        expr = f"slice(_ws, 1, size(_ws) - {n - 1})"
        for k in range(1, n):
            expr = (
                f"zip_with({expr}, slice(_ws, {k + 1}, size(_ws) - {n - 1}),"
                f" (a, b) -> a || ' ' || b)"
            )
        arr = F.expr(f"CASE WHEN size(_ws) >= {n} THEN {expr} ELSE array() END")
        return base.select(
            F.col(id_col), F.array_distinct(arr).alias("_shingles"), *extra)
    arr = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"transform(sequence(1, length({text_col}) - {n - 1}),"
        f" i -> substring({text_col}, i, {n})) "
        f"ELSE array() END"
    )
    return df.select(
        F.col(id_col), F.array_distinct(arr).alias("_shingles"), *extra)


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3, words: bool = False) -> DataFrame:
    """(id, shingle) exploded pairs — the inverted-index view.

    Pairs are distinct per document because the source array is
    array_distinct'd map-side; ids are assumed unique per input row (the
    dedup entry points all operate on keyed document tables), so no
    corpus-wide DISTINCT shuffle is needed.
    """
    return shingle_array(df, text_col, id_col, n, words=words).select(
        F.col(id_col), F.explode("_shingles").alias("shingle")
    )


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    words: bool = True,
    threshold: float = 0.0,
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, n_shingles, n_contaminated, contamination): per corpus
    document, the fraction of its distinct n-gram shingles that appear
    anywhere in the ``probe`` set — benchmark DECONTAMINATION, the
    check an LLM training pipeline runs against its eval suites before
    training. Rows with contamination < ``threshold`` are dropped
    (default 0 keeps all, including zero-overlap docs).
    ``normalize=True`` casefolds + trims both sides before shingling
    (the usual decontamination preprocessing — shingling itself is
    case-sensitive).

    Scale: probe sets (benchmarks) are tiny next to the corpus, so the
    probe's distinct shingle hashes are BROADCAST; the corpus side is
    one map-side shingle pass + broadcast hash join + one groupBy on
    doc_id (8-byte keys). Same xxhash64 trade as ngram_jaccard_pairs:
    a 64-bit collision could overstate one count (vanishingly rare).
    """
    if normalize:
        norm = F.lower(F.trim(F.col(text_col))).alias(text_col)
        other = [c for c in corpus.columns if c != text_col]
        corpus = corpus.select(*other, norm)
        probe = probe.select(*[c for c in probe.columns if c != text_col], norm)
    probe_hashes = (
        shingle_array(probe, text_col, id_col, n, words=words)
        .select(F.explode("_shingles").alias("_s"))
        .select(F.xxhash64("_s").alias("_ph"))
        .distinct()
    )
    corp = shingle_array(corpus, text_col, id_col, n, words=words)
    ex = corp.select(
        F.col(id_col),
        F.size("_shingles").alias("n_shingles"),
        F.explode_outer(
            F.transform("_shingles", lambda s: F.xxhash64(s))
        ).alias("_h"),
    )
    hits = ex.join(
        F.broadcast(probe_hashes), ex["_h"] == probe_hashes["_ph"], "left"
    )
    out = (
        hits.groupBy(id_col, "n_shingles")
        .agg(F.count("_ph").alias("n_contaminated"))
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_contaminated"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_contaminated") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contamination"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("contamination") >= threshold)
    return out


def probe_containment(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    words: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """(probe doc_id, n_shingles, n_in_corpus, containment): per PROBE
    document, the fraction of its distinct n-gram shingles that appear
    anywhere in the corpus — the complementary direction of
    ngram_contamination, and the number a decontamination REPORT
    actually quotes ("eval item X is Y% contained in the training
    set"). Exclude the probe rows from ``corpus`` when both come from
    the same table, or every containment is trivially 1.

    Scale: the probe (benchmark) side is tiny — its distinct shingle
    hashes broadcast; the corpus side is one map-side shingle pass
    whose matches (bounded by the probe's shingle count, not the
    corpus) are distinct-ed and broadcast back. No corpus-wide
    distinct, no big shuffle.
    """
    if normalize:
        nrm = F.lower(F.trim(F.col(text_col))).alias(text_col)
        corpus = corpus.select(
            *[c for c in corpus.columns if c != text_col], nrm)
        probe = probe.select(
            *[c for c in probe.columns if c != text_col], nrm)
    p = (
        shingle_array(probe, text_col, id_col, n, words=words)
        .select(
            F.col(id_col),
            F.size("_shingles").alias("n_shingles"),
            F.explode_outer(
                F.transform("_shingles", lambda s: F.xxhash64(s))
            ).alias("_ph"),
        )
    )
    probe_hashes = p.select(F.col("_ph")).distinct()
    corpus_stream = (
        shingle_array(corpus, text_col, id_col, n, words=words)
        .select(F.explode("_shingles").alias("_s"))
        .select(F.xxhash64("_s").alias("_ch"))
    )
    # matched = probe shingles that occur in the corpus: semi join the
    # corpus stream against the broadcast probe set, then distinct the
    # (tiny, probe-bounded) survivors
    matched = (
        corpus_stream.join(
            F.broadcast(probe_hashes),
            corpus_stream["_ch"] == probe_hashes["_ph"], "left_semi",
        )
        .distinct()
        .select(F.col("_ch").alias("_mh"))
    )
    hits = p.join(F.broadcast(matched), p["_ph"] == matched["_mh"], "left")
    return (
        hits.groupBy(id_col, "n_shingles")
        .agg(F.count("_mh").alias("n_in_corpus"))
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_in_corpus"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_in_corpus") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("containment"),
        )
    )


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df`` — derived from
    input-file sizes for file scans (and actual bytes for local
    relations), so it is repartition-insensitive and launches no job.
    Falls back to "huge" when the JVM handle is unavailable, which
    selects the scale-safe physical strategy."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 60


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6, words: bool = True,
                        prefix_filter: bool = True,
                        frequency_strategy: str | None = None) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold).

    Two exact strategies, same results:
    - prefix_filter=False: inverted-index self-join + count
      grouping. Fewer stages; wins while sum-over-shingles of C(df,2)
      stays modest — but that candidate join is unbounded on hot
      shingles, so it is NOT the default.
    - prefix_filter=True (default — the 100 TB strategy): AllPairs/PPJoin
      prefix filtering — J(A,B) >= t
      implies sharing a shingle within each doc's first
      |d| - ceil(t*|d|) + 1 shingles under a rarest-first global
      ordering, so only prefixes are indexed and candidates are verified
      by true set intersection. The candidate join shrinks by ~t and hot
      stop-shingles land late in the ordering (kills index skew) — the
      right strategy once the corpus (and per-shingle document
      frequency) is large.
    """
    # checkpoint the compact array form once: the inverted-index
    # self-join and the size/docset lookups all reuse it
    base = shingle_array(df, text_col, id_col, n, words=words).localCheckpoint(
        eager=False
    )
    if not prefix_filter:
        sh = base.select(F.col(id_col), F.explode("_shingles").alias("shingle"))
        # per-doc sizes come from the array map-side — no groupBy shuffle
        sizes = base.select(F.col(id_col), F.size("_shingles").alias("sz"))
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, on="shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        return (
            inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    from pyspark.sql import Window

    # Every shuffle stage (document frequency, ranking, prefix join,
    # verification sets) runs on xxhash64(shingle) — 8-byte keys instead
    # of n-word strings, which at corpus scale is the difference between
    # shuffling hashes and shuffling the corpus. Verification intersects
    # hash sets; a 64-bit collision could overstate one intersection by
    # 1 (vanishingly unlikely, and the same trade minhash_lsh_pairs
    # makes for its signatures).
    hbase = base.select(
        F.col(id_col),
        F.transform("_shingles", lambda s: F.xxhash64(s)).alias("_hs"),
        F.size("_shingles").alias("sz"),
    ).localCheckpoint(eager=False)
    sh = hbase.select(F.col(id_col), "sz", F.explode("_hs").alias("_sh"))
    # The prefix filter is EXACT under any consistent global shingle
    # order — rarest-first is purely a performance heuristic — so the
    # frequency source is a size-based physical choice, the same way the
    # reference picks IndexedExpand vs HashExpand by input size
    # (plan/operators/physical.rs:543-567):
    # - small corpus: unordered count window — ONE shuffle of the
    #   postings, and a hot shingle's window partition is trivially
    #   sized at this scale.
    # - large corpus: a BROADCAST top-K hot-shingle list from a
    #   deterministic sample — the sampled groupBy partial-aggregates
    #   map-side (skew-immune), the broadcast is K rows, cost is
    #   independent of corpus size, and no stage gathers a hot
    #   shingle's postings into one un-splittable window partition
    #   (AQE can split the skewed candidate JOIN; it cannot split a
    #   window). The K hottest stop-shingles still sort last and fall
    #   out of every prefix — the index skew killer.
    # Physical choice by estimated INPUT BYTES (Catalyst plan stats —
    # file sizes for scans), not partition count: a repartition() must
    # not flip the strategy, and the estimate costs no job. Explicit
    # override via frequency_strategy='window'|'broadcast'.
    if frequency_strategy is None:
        frequency_strategy = (
            "window" if _plan_size_bytes(df) <= 8 << 30 else "broadcast"
        )
    if frequency_strategy not in ("window", "broadcast"):
        raise ValueError(
            f"frequency_strategy must be 'window' or 'broadcast', "
            f"got {frequency_strategy!r}"
        )
    if frequency_strategy == "window":
        ranked = sh.withColumn(
            "_df", F.count("*").over(Window.partitionBy("_sh"))
        )
    else:
        hot = (
            sh.sample(fraction=0.01, seed=7)
            .groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .orderBy(F.desc("_df"), "_sh")
            .limit(4096)
        )
        ranked = sh.join(F.broadcast(hot), "_sh", "left").withColumn(
            "_df", F.coalesce("_df", F.lit(0))
        )
    ranked = ranked.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy(id_col).orderBy("_df", "_sh")),
    )
    # NOT checkpointed (measured): although both candidate-join sides
    # read the prefix index, materializing it costs more than the
    # second window computation — the filter prunes most postings, so
    # the duplicated stage is small while the checkpoint stores and
    # rereads the whole frame (A/B at sf0.1: 1.8s vs 2.7s warm)
    # All prefix/length/positional bounds below use epsilon-slack float
    # comparisons against an INTEGER left side instead of F.ceil: the
    # required bound is ceil of a rational in the user's threshold, and
    # the float quotient can round ABOVE the true rational, making ceil
    # over-tight by 1 and pruning a pair whose Jaccard equals the
    # threshold exactly (ADVICE r6). The slack only loosens (extra
    # candidates are re-verified exactly), never tightens.
    _EPS = 1e-9
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("sz") - F.lit(threshold) * F.col("sz") + F.lit(1.0 + _EPS)
    ).select(id_col, "sz", "_sh", "_rn")
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"),
                      "_sh", F.col("_rn").alias("_rna"))
        .join(
            prefix.select(F.col(id_col).alias("id_b"),
                          F.col("sz").alias("sz_b"), "_sh",
                          F.col("_rn").alias("_rnb")),
            "_sh",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|;
            # prunes candidates before the dedup + verify shuffles
            & (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - F.lit(_EPS))
            & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b") - F.lit(_EPS))
            # POSITIONAL filter (PPJoin proper): a prefix match at ranks
            # (i, j) caps the total overlap at 1 + min(|A|-i, |B|-j)
            # (everything before the matched rank on either side is
            # disjoint under the shared global order); J >= t needs
            # overlap >= ceil(t/(1+t) * (|A|+|B|)). Exactness preserved
            # — candidates pruned here cannot reach the threshold —
            # and on dense corpora (hot shingles matched deep into both
            # prefixes) it is the filter that actually bites.
            & (
                F.lit(1)
                + F.least(F.col("sz_a") - F.col("_rna"),
                          F.col("sz_b") - F.col("_rnb"))
                >= F.lit(threshold / (1.0 + threshold))
                * (F.col("sz_a") + F.col("sz_b")) - F.lit(_EPS)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    docsets = hbase.select(F.col(id_col), F.col("_hs").alias("_set"),
                           F.col("sz").alias("_sz"))
    out = (
        cand.join(
            docsets.select(F.col(id_col).alias("id_a"),
                           F.col("_set").alias("_sa"), F.col("_sz").alias("sz_a")),
            "id_a",
        )
        .join(
            docsets.select(F.col(id_col).alias("id_b"),
                           F.col("_set").alias("_sb"), F.col("_sz").alias("sz_b")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def _minhash_sig(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, signature) from exploded (id, shingle) rows.

    min per doc over a 2-universal derived family h_i = a + i*b, where
    a, b come from two xxhash64 evaluations per shingle reduced to 32
    bits (b odd-ified so strides differ; 32-bit values keep a + 63*b
    far from long overflow under ANSI mode). Hashing each shingle twice
    instead of num_hashes times halves the signature stage (measured
    0.68s -> 0.33s at sf0.1, 64 hashes); the num_hashes min-aggregates
    stay whole-stage-codegen'd with map-side partial aggregation, so
    the shuffle carries one 8*num_hashes-byte row per doc per mapper —
    not the shingle set. (An aggregate() fold over a per-row shingle
    array avoids the shuffle entirely but runs interpreted lambdas,
    measured ~5x slower end-to-end; codegen wins.)
    """
    sh = sh.withColumn(
        "_ha", F.shiftrightunsigned(F.xxhash64(F.col("shingle"), F.lit(0)), 32)
    ).withColumn(
        "_hb",
        F.shiftrightunsigned(F.xxhash64(F.col("shingle"), F.lit(1)), 32)
        * F.lit(2) + F.lit(1),
    )
    # SQL-string expressions: the Column-tree loop cost ~1s+ of driver
    # py4j time per construction (same lesson as hyperplane_signature)
    aggs = [
        F.expr(f"min(_ha + {i} * _hb)").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = "array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ")"
    return (
        sh.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.expr(sig).alias("signature"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, words: bool = True) -> DataFrame:
    """(id, array<long> signature): sig[i] = min over shingles of h_i(s).

    h_i(s) = xxhash64(s, seed=i) — no UDF. Docs with no shingles (text
    shorter than n) carry no signature.
    """
    sh = shingles(df, text_col, id_col, n, words=words)
    return _minhash_sig(sh, id_col, num_hashes)


def _band_bucket_frame(sig: DataFrame, id_col: str, num_hashes: int,
                       bands: int) -> DataFrame:
    """(id, band, bucket) rows from a signature frame — ONE banding
    construction shared by minhash_lsh_pairs, the persisted dedup
    index, and dedup_against_index, so batch, index, and query sides
    can never bucket differently (the streaming path computes the
    identical buckets map-side and is pinned to this by pytest).
    One SQL string (not a Column-tree loop — see _minhash_sig note)."""
    r = num_hashes // bands
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', "
        "xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"CAST(element_at(signature, {b * r + j + 1}) AS STRING)"
                for j in range(r)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        id_col, F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select(
        id_col, F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.6, words: bool = True,
                      verify: bool = True, skew: str = "none",
                      hot_min: int = 1024, salt: int = 16) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH.

    num_hashes/bands rows per band; two docs land in the same bucket for
    a band iff that band's rows agree — P(candidate) ≈ 1-(1-J^r)^b.
    Candidates are optionally exact-verified with true Jaccard so the
    output has no false positives (may miss pairs LSH never bucketed
    together — the standard recall trade; raise bands for higher recall).

    Scale: the only shuffles are the signature groupBy and the
    band-bucket self-join; no O(n^2) stage anywhere.

    Skew (r11, VERDICT r10 ask #4): a web corpus has pathological hot
    buckets — boilerplate pages whose signatures collide band after
    band put thousands of docs into one (band, bucket), and the
    self-join then runs that bucket's full m x m candidate cross in
    ONE task. ``skew='salted'`` runs a HYBRID join: bucket sizes are
    counted first (one sketch-sized agg over the checkpointed bucket
    frame), buckets with >= ``hot_min`` members split off — the cold
    slice self-joins normally while the hot slice joins salted (probe
    rows take a deterministic id-hash salt in [0, ``salt``), the
    build side replicates across all salts), spreading each hot
    bucket's cross over ``salt`` tasks. Candidate pairs are IDENTICAL
    by construction (the a<b filter dedups the doubled orientation
    exactly as the plain self-join does; planted-hot-bucket pytest
    pins bit-equality). The m^2 candidate VOLUME of a hot bucket is
    inherent to LSH semantics — salting fixes the one-task
    bottleneck, not the quadratic output; cap bucket width upstream
    (bands/rows) if the volume itself is the problem.
    ``skew='auto'`` is an alias for the hybrid — detection is already
    count-based here (bucket sizes vs ``hot_min``), so there is
    nothing further to automate; the name matches span_dedup's knob.
    """
    if skew not in ("none", "salted", "auto"):
        raise ValueError(
            f"skew must be 'none', 'salted' or 'auto', got {skew!r}")
    if skew != "none" and int(salt) < 1:
        # salt=0 would explode an empty salt array and pmod to null —
        # silently dropping every hot-bucket pair
        raise ValueError(f"salt must be >= 1, got {salt}")
    if skew == "auto":
        skew = "salted"
    # checkpoint the compact array form: shingling runs once, and both
    # the signature explode and the verification docsets reuse it
    base = shingle_array(df, text_col, id_col, n, words=words).localCheckpoint(
        eager=False
    )
    sh = base.select(F.col(id_col), F.explode("_shingles").alias("shingle"))
    sig = _minhash_sig(sh, id_col, num_hashes)
    # checkpoint: both sides of the band-bucket self-join read this
    # frame, and the signature aggregation upstream is the expensive
    # stage — without the cut it executes twice (no ReusedExchange in
    # the static plan)
    buckets = _band_bucket_frame(sig, id_col, num_hashes, bands) \
        .localCheckpoint(eager=False)

    def _pairs(x: DataFrame, y: DataFrame, keys: list) -> DataFrame:
        return (
            x.alias("x").join(y.alias("y"), on=keys)
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(F.col(f"x.{id_col}").alias("id_a"),
                    F.col(f"y.{id_col}").alias("id_b"))
        )

    if skew == "salted":
        hot = F.broadcast(
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= int(hot_min))
            .select("band", "bucket"))
        cold_b = buckets.join(hot, ["band", "bucket"], "left_anti")
        hot_b = buckets.join(hot, ["band", "bucket"], "left_semi") \
            .localCheckpoint(eager=False)
        hx = hot_b.withColumn(
            "_salt", F.pmod(F.xxhash64(id_col), F.lit(int(salt))))
        hy = hot_b.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(int(salt))])))
        cand = (
            _pairs(cold_b, cold_b, ["band", "bucket"])
            .unionByName(_pairs(hx, hy, ["band", "bucket", "_salt"]))
            .distinct()
        )
    else:
        cand = _pairs(buckets, buckets, ["band", "bucket"]).distinct()
    if not verify:
        return cand
    # exact-verify ONLY the candidates: join each side's shingle set and
    # intersect arrays — O(|candidates| * shingles/doc), not a second
    # corpus-wide inverted-index join; the sets come straight from the
    # map-side shingle arrays (no collect_list shuffle)
    docsets = base.select(
        F.col(id_col), F.col("_shingles").alias("_set"), F.size("_shingles").alias("_sz")
    )
    a = docsets.select(
        F.col(id_col).alias("id_a"), F.col("_set").alias("_sa"), F.col("_sz").alias("_za")
    )
    b = docsets.select(
        F.col(id_col).alias("id_b"), F.col("_set").alias("_sb"), F.col("_sz").alias("_zb")
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard", F.col("inter") / (F.col("_za") + F.col("_zb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              n: int = 3, words: bool = True) -> DataFrame:
    """(id, simhash bigint): sign-sum of per-shingle 64-bit hashes.

    bit_j(doc) = 1 if sum over shingles of sign(bit_j(h(s))) > 0.
    Implemented as 63 conditional sums in one groupBy — JVM-side only.
    """
    sh = shingles(df, text_col, id_col, n, words=words)
    # 63 conditional sums in one hash aggregate — codegen'd with
    # map-side partial agg (an aggregate() fold over the per-row array
    # would skip the shuffle but run interpreted lambdas; codegen wins).
    # Expressions are SQL strings, not Column trees: the loop-built
    # Column version spent ~4s of driver time in py4j round trips per
    # construction (same lesson as hyperplane_signature).
    aggs = [
        F.expr(
            f"sum(CASE WHEN (xxhash64(shingle) & {1 << j}) != 0 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"b{j}")
        for j in range(63)  # bit 63 would overflow signed long literals
    ]
    bits = sh.groupBy(id_col).agg(*aggs)
    # keep the sign bit clear to stay in bigint range
    acc = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(63)
    )
    return bits.select(id_col, F.expr(acc).alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 8, n: int = 3, words: bool = True) -> DataFrame:
    """Pairs within a hamming radius of each other's simhash —
    EXACT-recall blocking: the 63 fingerprint bits split into
    ``max_hamming + 1`` chunks, so by pigeonhole any pair within the
    radius agrees on at least one whole chunk and meets in that
    chunk's equality block. Verified hamming distance is returned, so
    there are no false positives either.

    Tradeoff the radius controls: more chunks → narrower chunk keys →
    bigger equality blocks (the candidate join grows). Small radii
    (<= 3-4, the near-dup regime) keep 12+-bit keys; very large radii
    degrade toward all-pairs, which is inherent to simhash blocking,
    not this implementation. ``max_hamming`` is capped at 15: beyond
    that the chunk keys get too narrow (< 4 bits over a 63-bit
    fingerprint) for pigeonhole blocking to beat all-pairs, and a
    silent cap would void the exact-recall guarantee — so it raises.
    """
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            "simhash_pairs: max_hamming must be in [0, 15] "
            f"(got {max_hamming}); the pigeonhole exact-recall argument "
            "needs max_hamming + 1 chunks over 63 bits, and radii > 15 "
            "degrade to near-all-pairs — use minhash_lsh_pairs or "
            "cosine_dup_pairs for loose similarity instead"
        )
    n_chunks = max_hamming + 1
    base_w = 63 // n_chunks
    extras = 63 % n_chunks  # first `extras` chunks get one more bit
    chunks = []
    off = 0
    for c in range(n_chunks):
        w = base_w + (1 if c < extras else 0)
        chunks.append(
            F.shiftrightunsigned(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << w) - 1)).alias(f"c{c}")
        )
        off += w
    sim = simhash64(df, text_col, id_col, n, words=words)
    # checkpoint: the fingerprint frame feeds n_chunks blocks x 2 join
    # sides — without the cut the simhash aggregation executes 2*n times
    s = sim.select(id_col, "simhash", *chunks).localCheckpoint(eager=False)
    pairs = None
    for c in range(n_chunks):
        x = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"c{c}").alias("blk"))
        y = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"c{c}").alias("blk"))
        p = x.join(y, "blk").filter(F.col("id_a") < F.col("id_b")).drop("blk")
        pairs = p if pairs is None else pairs.unionByName(p)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, canonical_id): collapse near-duplicate PAIRS into
    CLUSTERS — the step a curation pipeline runs after any pair finder
    (ngram_jaccard_pairs / minhash_lsh_pairs / simhash_pairs /
    cosine_dup_pairs): near-dup similarity is not transitive, so "keep
    one per pair" under-deletes; the canonical representative must come
    from the transitive closure.

    canonical_id = min doc id in each pair-connected component
    (operators.paths.connected_components: hash-min + pointer jumping,
    O(log diameter) rounds); documents in no pair are their own
    canonical. ``pairs`` needs columns (id_a, id_b). Keep the corpus:
    ``df.filter(doc_id == canonical_id)``; count survivors:
    ``out.select('canonical_id').distinct()``.
    """
    from .paths import connected_components

    # checkpoint the pair finder ONCE: edges and nodes both derive from
    # it, and without this the (expensive) pair plan executes twice
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(F.col("id_a").alias("_src"), F.col("id_b").alias("_dst"))
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    comp = connected_components(edges, nodes)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("canonical_id"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    hashed_keys: bool = True,
    skew: str = "none",
    salt: int = 16,
    hot_min: int = 65536,
) -> DataFrame:
    """EXACT substring (span) deduplication — remove every k-token
    window that occurs more than once anywhere in the corpus, the
    ExactSubstr pass of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better") re-expressed as DataFrame ops
    instead of a suffix array. Near-dup operators (minhash/simhash)
    drop whole documents; this removes the REPEATED PASSAGES inside
    otherwise-unique documents (licenses, boilerplate headers, quoted
    chain letters) that whole-doc dedup can't see.

    Per document returns (id, n_tokens, n_removed, cleaned_text):
    tokens covered by ANY duplicated k-gram are dropped and the text is
    rebuilt from the survivors (whitespace-normalized on both the
    operator and oracle side, so reconstruction is exact).

    Shape, stage by stage — each is a standard shuffle, no n^2 stage:
    1. tokenize + slide: transform() builds the per-doc k-gram array
       in one codegen'd projection (no explode-then-window).
    2. duplicated grams: posexplode -> groupBy(gram) count>1. With
       ``hashed_keys`` (the DEFAULT — the 100 TB setting) the shuffle
       key is xxhash64(gram): 8 bytes instead of a ~60-byte gram
       string, measured 1.7-2.8x at sf10 (48-53s vs 82-148s — the
       string path's variance is heap churn on the gram shuffle, and
       it collapses with 8-byte keys); collisions at p ~ n^2/2^64 can
       only OVER-remove a
       window, never miss a dup (~5e4 windows at a trillion grams —
       noise against what dedup removes on purpose). Pass
       hashed_keys=False to key on the gram string itself: exact with
       no collision caveat, same output on any non-adversarial corpus
       (both paths are gate entries against the SAME oracle).
    3. covered positions: occurrences of duplicated grams explode into
       their k token indices (bounded k-times blowup of DUP grams only)
       -> distinct.
    4. rebuild: anti-join survivors, array_sort(collect_list) per doc.
    Skew: a gram duplicated millions of times (a viral license block)
    hot-keys stage 2's count — partial aggregation absorbs it map-side
    (each map task emits at most one row per distinct gram, so the
    reducer receives task-count rows per key, not occurrence-count).
    The remaining skew surface is stage 3's occurrence ⋉ dup-keys
    SEMI-JOIN: all of a hot gram's occurrence rows land in one task.
    ``skew='salted'`` (r11, VERDICT r10 ask #4) splits it: occurrence
    rows take a deterministic salt in [0, ``salt``) and the
    duplicated-key set (already reduced — tiny next to the corpus) is
    replicated across every salt, so the join key becomes (gram,
    salt) and the hot gram's rows spread over ``salt`` tasks. Output
    is IDENTICAL by construction (planted-hot-key pytest + the same
    gate oracle as the plain path). ``skew='auto'`` runs the HYBRID
    using the per-gram counts stage 2 already computes: duplicated
    keys split at ``hot_min`` occurrences — the genuinely hot grams
    are FEW by definition (at most total-grams/hot_min), so they
    probe through a BROADCAST semi-join and their occurrence rows
    never shuffle at all (stronger than salting: no replication, no
    residual salt-width bound), while the cold majority shuffles
    normally. Auto costs one broadcast of a tiny key set on a benign
    corpus and removes the hot-task bottleneck entirely on a
    pathological one.
    """
    if skew not in ("none", "salted", "auto"):
        raise ValueError(
            f"skew must be 'none', 'salted' or 'auto', got {skew!r}")
    if skew == "salted" and int(salt) < 1:
        # salt=0 would explode an empty salt array and pmod to null —
        # silently removing NO spans instead of raising
        raise ValueError(f"salt must be >= 1, got {salt}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.when(F.length(F.trim(F.col(text_col))) == 0,
               F.array().cast("array<string>")).otherwise(toks).alias("_t"),
    )
    # the gram build + explode is a NARROW map, so its parallelism is
    # the scan's split count; a compact parquet corpus (few splits)
    # would serialize the most expensive stage onto a couple of cores
    # (measured: 2 tasks carrying the whole sf1 corpus). Spread the
    # cheap doc-level rows BEFORE exploding when the scan is narrower
    # than the shuffle width — at 100 TB the scan already has
    # thousands of splits and this no-ops.
    from .common import spread_narrow

    base = spread_narrow(base, "_id")
    # base feeds the gram pipeline AND the final join; occ (below)
    # feeds the frequency count AND the coverage join. LAZY lineage
    # cuts materialize each once inside the job — without them the
    # scan+split+gram subtree re-executes per consumer (measured 62s
    # vs ~8s at sf1 for identical stages)
    base = base.localCheckpoint(eager=False)
    # per-doc gram array: gram[p] = words p..p+k-1 (0-based p)
    grams = base.select(
        "_id", "_t",
        F.when(
            F.size("_t") >= k,
            F.expr(f"transform(sequence(0, size(_t) - {k}), "
                   f"p -> concat_ws(' ', slice(_t, p + 1, {k})))"),
        ).otherwise(F.array().cast("array<string>")).alias("_g"),
    )
    occ = grams.select(
        "_id", F.posexplode("_g").alias("_p", "_gram"))
    key = F.xxhash64("_gram") if hashed_keys else F.col("_gram")
    occ = occ.select("_id", "_p", key.alias("_k")) \
        .localCheckpoint(eager=False)
    dups = (
        occ.groupBy("_k").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    dup_keys = dups.select("_k")
    # per-doc covered-position SETS (collect_set dedups, so no extra
    # distinct shuffle) — only docs that actually carry duplicated
    # grams appear; the rebuild then stays ARRAY-SIDE: filter the
    # token array by an index lambda in one codegen'd projection.
    # (The first cut posexploded every token of every doc and
    # re-grouped with collect_list — two corpus-sized shuffles that
    # dominated the sf1 measurement at 123s; covered sets touch only
    # the duplicated slice.)
    if skew == "salted":
        # split the hot-gram semi-join: deterministic per-occurrence
        # salt (position-keyed, no RNG state) vs the duplicated-key
        # set exploded across all salts — same semantics, hot key
        # spread over `salt` tasks
        occ_s = occ.withColumn(
            "_salt", F.pmod(F.xxhash64("_id", "_p"), F.lit(int(salt))))
        dup_s = dup_keys.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(int(salt))])))
        hits = occ_s.join(dup_s, ["_k", "_salt"], "left_semi")
    elif skew == "auto":
        # hybrid: hot duplicated grams (>= hot_min occurrences) are at
        # most total/hot_min keys — broadcast them, so the viral
        # gram's occurrence rows probe map-side and never shuffle;
        # cold duplicated keys take the normal shuffle semi-join.
        # The two slices partition dup_keys, so the union == the
        # plain semi-join against all duplicated keys.
        hot_keys = F.broadcast(
            dups.filter(F.col("_n") >= int(hot_min)).select("_k"))
        cold_keys = dups.filter(F.col("_n") < int(hot_min)) \
            .select("_k")
        hits = (occ.join(cold_keys, "_k", "left_semi")
                .unionByName(occ.join(hot_keys, "_k", "left_semi")))
    else:
        hits = occ.join(dup_keys, "_k", "left_semi")
    covered_sets = (
        hits
        .select("_id", F.explode(
            F.sequence(F.col("_p"), F.col("_p") + F.lit(k - 1))).alias("_cp"))
        .groupBy("_id")
        .agg(F.collect_set("_cp").alias("_cps"))
    )
    return (
        base.join(covered_sets, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_t").cast("long").alias("n_tokens"),
            F.coalesce(F.size("_cps"), F.lit(0)).cast("long")
            .alias("n_removed"),
            F.when(
                F.col("_cps").isNull(), F.concat_ws(" ", F.col("_t"))
            ).otherwise(
                F.concat_ws(" ", F.filter(
                    F.col("_t"),
                    lambda w, i: ~F.array_contains(F.col("_cps"), i)))
            ).alias("cleaned_text"),
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 2,
    scope: str = "corpus",
) -> DataFrame:
    """Line-level deduplication — C4's rule (Raffel et al. 2020:
    "we discarded any line that occurred more than twice in the data
    set"), the pass that strips cookie banners, nav crumbs and
    boilerplate footers that repeat across a crawl.

    scope='corpus' (default): count each line's occurrences across the
    WHOLE corpus; every occurrence of a line seen more than
    ``max_occurrences`` times is removed (C4 semantics — the line is
    boilerplate everywhere, including its first sighting).
    scope='document': keep only the FIRST occurrence of each distinct
    line within a document (intra-doc paragraph dedup) — a per-row
    array expression, zero shuffle.

    Returns (id, n_lines, n_removed, cleaned_text) with surviving
    lines rejoined by newlines in original order.

    Scale (corpus scope): one map-side-combined count over line
    strings + a semi-join back — the same two-shuffle shape as
    span_dedup's gram stage with lines instead of k-grams; the rebuild
    stays array-side (covered-position sets for affected docs only).
    """
    if max_occurrences < 1:
        raise ValueError(
            f"max_occurrences must be >= 1, got {max_occurrences}")
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be corpus|document, got {scope!r}")
    lines = F.split(F.col(text_col), r"\n")
    base = df.select(F.col(id_col).alias("_id"), lines.alias("_l"))
    if scope == "document":
        # first occurrence survives: line i stays iff no identical
        # line precedes it (1-based array_position over the prefix)
        kept = ("filter(_l, (l, i) -> i = 0 OR "
                "array_position(slice(_l, 1, i), l) = 0)")
        return base.select(
            F.col("_id").alias(id_col),
            F.size("_l").cast("long").alias("n_lines"),
            (F.size("_l") - F.size(F.expr(kept))).cast("long")
            .alias("n_removed"),
            F.concat_ws("\n", F.expr(kept)).alias("cleaned_text"),
        )
    from .common import spread_narrow

    base = spread_narrow(base, "_id")
    base = base.localCheckpoint(eager=False)
    occ = base.select("_id", F.posexplode("_l").alias("_p", "_line")) \
        .localCheckpoint(eager=False)
    bad = (
        occ.groupBy("_line").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_occurrences)
        .select("_line")
    )
    covered_sets = (
        occ.join(bad, "_line", "left_semi")
        .groupBy("_id")
        .agg(F.collect_set("_p").alias("_cps"))
    )
    return (
        base.join(covered_sets, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_l").cast("long").alias("n_lines"),
            F.coalesce(F.size("_cps"), F.lit(0)).cast("long")
            .alias("n_removed"),
            F.when(
                F.col("_cps").isNull(), F.concat_ws("\n", F.col("_l"))
            ).otherwise(
                F.concat_ws("\n", F.filter(
                    F.col("_l"),
                    lambda line, i: ~F.array_contains(F.col("_cps"), i)))
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted dedup index — incremental ingestion against a historical corpus
# ---------------------------------------------------------------------------

def build_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    words: bool = True,
    normalize: bool = True,
    target_mb: int = 256,
) -> int:
    """Materialize a historical corpus's dedup side-structures ONCE —
    the incremental-ingestion shape: a daily crawl batch dedups
    against years of corpus without ever re-reading it. Writes

    - ``{path}/exact``: DISTINCT xxhash64 of the (optionally
      normalized) text — 8 bytes per distinct document,
    - ``{path}/bands``: DISTINCT (band, bucket) MinHash band keys —
      the near-dup membership set (bucket-hit semantics, the same
      drop-on-arrival rule streaming_minhash_dedup applies),
    - ``{path}/meta``: 1-row parquet pinning (n, num_hashes, bands,
      words, normalize, n_docs) so queries can never band differently
      than the build (dedup_against_index reads its parameters from
      here, it does not take them).

    Banding goes through the SAME _band_bucket_frame as
    minhash_lsh_pairs (bit-identity pinned by pytest). Index size is
    ~8 bytes/doc + ~16 bytes/(doc·band) before distinct-ing —
    kilobytes per million docs after parquet, vs the corpus's
    terabytes. Returns n_docs indexed.
    """
    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import reset_manifest

    if num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes, got {num_hashes}/{bands}")
    reset_manifest(corpus.sparkSession, path, ["exact", "bands"])
    key = (F.lower(F.trim(F.col(text_col))) if normalize
           else F.col(text_col))
    exact = corpus.select(F.xxhash64(key).alias("h")).distinct()
    # key-range layout from day one (see compact_dedup_index): pushed
    # point/IN probes skip whole files by footer min/max
    write_parquet_sized(exact, f"{path}/exact", target_mb=target_mb,
                        range_by=["h"])
    sig = minhash_signatures(corpus, text_col, id_col, n=n,
                             num_hashes=num_hashes, words=words)
    bb = _band_bucket_frame(sig, id_col, num_hashes, bands) \
        .select("band", "bucket").distinct()
    write_parquet_sized(bb, f"{path}/bands", target_mb=target_mb,
                        range_by=["band", "bucket"])
    n_docs = corpus.count()
    spark = corpus.sparkSession
    meta = local_frame(
        spark,
        [(n, num_hashes, bands, bool(words), bool(normalize), n_docs)],
        "n int, num_hashes int, bands int, words boolean, "
        "normalize boolean, n_docs long",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return n_docs


def _index_tier(spark, path: str, tier: str,
                before_batch: "int | None",
                as_of_seq: "int | None" = None,
                manifest: "dict | None" = None) -> DataFrame:
    """Read one key tier of a persisted index: the live base (resolved
    through the index's manifest — see index_store) plus the delta
    partitions visible under the manifest's clamps (``delta_floor <
    _batch_id <= hwm``); ``before_batch=k`` further keeps only deltas
    with _batch_id < k — the replay-safe read an ingest of epoch k
    must use so a re-delivered epoch never sees its OWN keys
    (partition pruning makes every one of these filters a directory
    skip, not a scan).

    ``manifest``: pass the ALREADY-RESOLVED current manifest when the
    caller reads several tiers of one index — each resolution is a
    directory listing + small-file read, paid per call otherwise
    (mutually exclusive with ``as_of_seq``, which resolves its own
    historical manifest)."""
    from .index_store import read_tier

    if as_of_seq is not None:
        return read_tier(spark, path, tier, before_batch=before_batch,
                         as_of_seq=as_of_seq)
    return read_tier(spark, path, tier, before_batch=before_batch,
                     manifest=manifest)


# an index whose key tier is at most this big is cheaper through the
# PLAIN semi-join: Catalyst broadcasts the small index side itself
# (no shuffle either way), so the probe machinery's extra jobs
# (key-set distinct + count probe) would only add latency. The
# flipped probe pays off once the index outgrows broadcast range.
SMALL_INDEX_BYTES = 32 << 20


def _probe_strategy(keys, strategy: str,
                    broadcast_max_keys: int,
                    pushdown_max_keys: int = 1024,
                    idx: "DataFrame | None" = None) -> str:
    """Resolve ``strategy='auto'`` with a bounded count probe over
    the BATCH's key set (never the index): a point-probe-sized set
    (<= ``pushdown_max_keys``) takes the PUSHDOWN plan (collected
    IN-filter pushed into the index's parquet scan — with the
    key-range base layout the scan skips whole files by footer
    min/max), a batch-sized set (<= ``broadcast_max_keys``) takes the
    broadcast probe, anything larger falls back to the shuffle plan.
    The probe is one limit(cap+1).count() job on the small side.
    Explicit ``strategy='pushdown'`` enforces its cap with a clear
    raise (the collect is driver-side).

    ``keys`` may be the key frame or a ZERO-ARG CALLABLE producing it:
    the frames the callers probe with are lazily-checkpointed, and
    ``localCheckpoint(eager=False)`` pays FULL physical planning at
    construction (the Dataset builds its checkpoint RDD up front) —
    measured 1.6 s for the band-bucket key set at sf0.1 — so paths
    that resolve without the key set (small index -> plain plan;
    explicit 'shuffle'/'broadcast') must not build it at all."""
    if strategy not in ("auto", "broadcast", "shuffle", "pushdown"):
        raise ValueError(
            f"strategy must be 'auto', 'broadcast', 'shuffle' or "
            f"'pushdown', got {strategy!r}")
    if strategy == "auto":
        if idx is not None and _plan_size_bytes(idx) <= SMALL_INDEX_BYTES:
            # plain plan: Catalyst broadcasts the small index itself
            return "shuffle"
        n = (keys() if callable(keys) else keys) \
            .limit(int(broadcast_max_keys) + 1).count()
        if n <= int(pushdown_max_keys):
            return "pushdown"
        return ("broadcast" if n <= int(broadcast_max_keys)
                else "shuffle")
    if strategy == "pushdown":
        n = (keys() if callable(keys) else keys) \
            .limit(int(pushdown_max_keys) + 1).count()
        if n > int(pushdown_max_keys):
            raise ValueError(
                f"strategy='pushdown' collects the batch key set to "
                f"the driver; it has > {int(pushdown_max_keys)} keys "
                f"(pushdown_max_keys) — use 'broadcast' or 'auto'")
    return strategy


def _index_hits(idx: DataFrame, keys: DataFrame,
                on: "list[str]") -> DataFrame:
    """The index key rows that appear in the batch's (small) key
    set, joined so the INDEX NEVER SHUFFLES: the batch keys are the
    broadcast build side and the index scan streams through a
    BroadcastHashJoin probe map-side. This is the shape that matters
    at 100 TB — the plain ``batch semi-join index`` plan must
    shuffle the ENTIRE index key tier on every epoch (LeftSemi can
    only build on the right, and the right is the index), whereas
    here the only full pass over the index is the scan itself and
    the output is at most batch-sized. The result is small by
    construction, so downstream joins against it broadcast too."""
    return idx.join(F.broadcast(keys), on=on, how="left_semi")


def _lazy_frame(make):
    """Memoized zero-arg constructor for a probe key frame: the frame
    is lazily checkpointed, and building it costs full physical
    planning (see _probe_strategy) — so construct at most once, and
    only on the strategy paths that consume it."""
    box: list = []

    def get() -> DataFrame:
        if not box:
            box.append(make())
        return box[0]

    return get


def dedup_against_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    near: bool = True,
    mode: str = "drop",
    before_batch: "int | None" = None,
    as_of_seq: "int | None" = None,
    strategy: str = "auto",
    broadcast_max_keys: int = 8_000_000,
    pushdown_max_keys: int = 1024,
) -> DataFrame:
    """Dedup an incoming batch AGAINST a persisted index
    (build_dedup_index) — exact content hits and (optionally) MinHash
    band-bucket near-dup hits are dropped (or flagged:
    ``mode='flag'`` adds boolean ``exact_dup`` / ``near_dup``
    columns). Banding parameters come from the index's meta row, so a
    query cannot silently band differently than the build.

    Near semantics are bucket-hit (any shared band bucket), the same
    drop-on-arrival rule as streaming_minhash_dedup — candidate-level,
    no exact-Jaccard verification against the historical corpus
    (verification would require the corpus's shingle sets, i.e. the
    corpus; the index deliberately stores only keys). Docs too short
    to shingle have no bands and can only hit exactly.

    Scale shape: the batch computes its own hashes/buckets map-side;
    the joins are semi/anti joins on 8-byte keys between the batch
    (small) and the index key tables — the historical corpus is never
    read, and the index tables never rematerialize documents.
    ``strategy`` picks the join posture against an arbitrarily large
    index: ``'broadcast'`` BROADCASTS the batch's distinct key set
    and probes the index scan through a BroadcastHashJoin — the index
    NEVER SHUFFLES, the only full pass is the scan (the plain plan
    must shuffle the whole index key tier, because a LeftSemi join
    can only build on the index side); ``'pushdown'`` goes further
    for POINT PROBES (<= ``pushdown_max_keys``, default 1024):
    the collected key list becomes an IN predicate pushed into the
    index's parquet scan, and because build/compaction lay the base
    out key-range-partitioned and sorted, footer min/max skip whole
    files — the index is neither shuffled NOR fully scanned;
    ``'shuffle'`` keeps the plain sort-merge plan for pathologically
    large batches; ``'auto'`` (default) takes the plain plan outright
    while the index key tier is small (Catalyst broadcasts the index
    itself — the probe machinery only pays off once the index
    outgrows broadcast range), else count-probes the batch's key set
    and picks pushdown / broadcast (``broadcast_max_keys``, 8M keys ≈
    100-200 MB) / shuffle accordingly. Identical output by
    construction — every posture computes the same hit set,
    pytest-pinned.

    When the index has been maintained incrementally
    (dedup_index_ingest_batch appends survivors' keys under
    ``{path}/exact_delta`` / ``{path}/bands_delta``), those delta
    partitions are included; ``before_batch=k`` restricts to deltas
    from epochs < k (the replay-safe read — see _index_tier).

    ``as_of_seq=s``: TIME TRAVEL — answer against the index exactly
    as it stood at manifest commit ``s`` (index_store.versions lists
    the retained generations), the audit/reproducibility read: re-run
    epoch k's dedup decision months later against the same key set.
    Snapshots older than the GC retention window raise instead of
    silently answering from a partial layout.
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    spark = new_docs.sparkSession
    from .index_store import current_manifest, read_meta_row

    # resolve the manifest ONCE for the whole read (meta + both key
    # tiers) — three separate resolutions cost three directory
    # listings per call; as-of reads resolve their own historical
    # manifest inside read_tier (the snapshot-retention check lives
    # there)
    man = current_manifest(spark, path) if as_of_seq is None else None
    m = read_meta_row(spark, path, manifest=man)
    key = (F.lower(F.trim(F.col(text_col))) if m.normalize
           else F.col(text_col))
    exact_idx = _index_tier(spark, path, "exact", before_batch,
                            as_of_seq=as_of_seq, manifest=man)
    hashed = new_docs.withColumn("_h", F.xxhash64(key))
    keyset = _lazy_frame(
        lambda: hashed.select(F.col("_h").alias("h")).distinct()
        .localCheckpoint(eager=False))
    strat = _probe_strategy(keyset, strategy, broadcast_max_keys,
                            pushdown_max_keys, idx=exact_idx)
    if strat == "pushdown":
        # point-probe path: the collected key list becomes an IN
        # predicate pushed into the index's parquet scan — with the
        # key-range base layout most files never open
        kvals = [r.h for r in keyset().collect()]
        hits = exact_idx.select("h").filter(F.col("h").isin(kvals))
        exact_ids = (
            hashed.join(F.broadcast(hits),
                        hashed["_h"] == hits["h"], "left_semi")
            .select(F.col(id_col).alias("_eid")).distinct()
        )
    elif strat == "broadcast":
        hits = _index_hits(exact_idx.select("h"), keyset(), ["h"])
        exact_ids = (
            hashed.join(F.broadcast(hits),
                        hashed["_h"] == hits["h"], "left_semi")
            .select(F.col(id_col).alias("_eid")).distinct()
        )
    else:
        exact_ids = (
            hashed.select(F.col(id_col).alias("_eid"), "_h")
            .join(exact_idx, F.col("_h") == exact_idx["h"], "left_semi")
            .select("_eid").distinct()
        )
    near_ids = None
    if near:
        bands_idx = _index_tier(spark, path, "bands", before_batch,
                                as_of_seq=as_of_seq, manifest=man)
        sig = minhash_signatures(new_docs, text_col, id_col, n=m.n,
                                 num_hashes=m.num_hashes, words=m.words)
        bb = _band_bucket_frame(sig, id_col, m.num_hashes, m.bands)
        bkeys = _lazy_frame(
            lambda: bb.select("band", "bucket").distinct()
            .localCheckpoint(eager=False))
        # composite (band, bucket) keys don't push as a
        # single-column IN filter — the broadcast probe is the
        # point-probe plan for the bands tier, so an explicit
        # 'pushdown' maps to 'broadcast' BEFORE resolution (it must
        # not trip the exact tier's pushdown cap on the ~bands-times
        # larger bucket key set)
        b_strategy = "broadcast" if strategy == "pushdown" else strategy
        bstrat = _probe_strategy(bkeys, b_strategy, broadcast_max_keys,
                                 idx=bands_idx)
        if bstrat == "pushdown":
            bstrat = "broadcast"
        if bstrat == "broadcast":
            bhits = _index_hits(bands_idx.select("band", "bucket"),
                                bkeys(), ["band", "bucket"])
            near_ids = (
                bb.join(F.broadcast(bhits), ["band", "bucket"],
                        "left_semi")
                .select(F.col(id_col).alias("_nid")).distinct()
            )
        else:
            near_ids = (
                bb.join(bands_idx, ["band", "bucket"], "left_semi")
                .select(F.col(id_col).alias("_nid")).distinct()
            )
    if mode == "flag":
        out = new_docs.join(
            exact_ids, new_docs[id_col] == exact_ids["_eid"], "left"
        ).withColumn("exact_dup", F.col("_eid").isNotNull()).drop("_eid")
        if near_ids is not None:
            out = out.join(
                near_ids, out[id_col] == near_ids["_nid"], "left"
            ).withColumn("near_dup", F.col("_nid").isNotNull()) \
                .drop("_nid")
        else:
            out = out.withColumn("near_dup", F.lit(False))
        return out
    out = new_docs.join(
        exact_ids, new_docs[id_col] == exact_ids["_eid"], "left_anti")
    if near_ids is not None:
        out = out.join(
            near_ids, out[id_col] == near_ids["_nid"], "left_anti")
    return out


def compact_dedup_index(spark, path: str, target_mb: int = 256) -> dict:
    """Fold a maintained index's delta tiers back into its base —
    the hygiene pass a long-running ingest loop needs: every epoch
    appends one `_batch_id` partition per tier, so after 10k epochs
    the delta directories are 10k tiny partitions and every
    against-index read lists and unions them. Compaction rewrites
    base := distinct(base ∪ deltas) as size-targeted parquet and
    drops the delta directories.

    Key-set-preserving by construction (distinct union —
    dedup_against_index answers are identical before and after,
    pytest-pinned) and ATOMIC to readers: the folded base is written
    NEXT TO the live one (``{tier}_v{n}``) and published with one
    manifest-file rename (index_store.commit_compaction) — a reader
    racing the compaction resolves either the old complete layout or
    the new complete layout, never a torn middle. A crash at ANY
    point between two filesystem operations leaves every reader
    consistent (crash-injection pytest at every cut point); garbage
    from a crash mid-GC is swept by the next compaction. Epochs
    folded into the base are fenced off by ``delta_floor`` rather
    than read-then-deleted, so answers never double-count.

    Returns {'exact': n_keys, 'bands': n_keys} after compaction.
    """
    from graphlite_spark.sources.sinks import write_parquet_sized

    from .index_store import (
        _fault_point,
        commit_compaction,
        current_manifest,
        gc_index,
        read_tier,
    )

    m = current_manifest(spark, path)
    v = int(m.get("version", 1)) + 1
    tiers = ("exact", "bands")
    counts, new_tiers = {}, {}
    for tier, cols in (("exact", ["h"]), ("bands", ["band", "bucket"])):
        combined = read_tier(spark, path, tier, manifest=m) \
            .select(*cols).distinct()
        new_dir = f"{tier}_v{v}"
        _fault_point(f"compact:write:{tier}")
        # range-partition + sort the folded base on its key so each
        # file covers a narrow disjoint key range — a pushed IN/point
        # predicate (strategy='pushdown' probes) then skips whole
        # files by footer min/max instead of scanning the base
        write_parquet_sized(combined, f"{path}/{new_dir}",
                            target_mb=target_mb, range_by=cols)
        counts[tier] = spark.read.parquet(f"{path}/{new_dir}").count()
        new_tiers[tier] = new_dir
    m2 = commit_compaction(spark, path, new_tiers, m)
    gc_index(spark, path, m2, list(tiers))
    return counts


def dedup_index_ingest_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    near: bool = True,
    strategy: str = "auto",
    broadcast_max_keys: int = 8_000_000,
    pushdown_max_keys: int = 1024,
) -> DataFrame:
    """Process ONE ingest epoch through the persisted-index
    maintenance loop (VERDICT r8 ask #3): dedup the batch against the
    index AS OF this epoch, dedup it internally, then append the
    SURVIVORS' exact hashes / band keys to the index's delta tiers —
    the production shape where a daily crawl batch both filters
    against and extends years of corpus without ever re-reading it.

    Exactly-once by construction: key appends land under
    ``{path}/exact_delta/_batch_id=<k>`` (and ``bands_delta``) with
    dynamic partition overwrite, and the against-index read uses
    ``before_batch=batch_id`` so a RE-DELIVERED epoch (crash between
    write and offset commit) never collides with its own previous
    write — it recomputes identical survivors and overwrites its own
    partitions. Replay is a no-op (pytest-pinned).

    Batch-internal dedup is deterministic and order-free:
    - exact: min id per content hash survives;
    - near (``near=True``): the streaming_minhash_dedup batch rule —
      bucket winner = min id per (band, bucket) over the WHOLE batch
      (index-hit and exact-dup docs still poison buckets, matching
      doc-at-a-time drop-on-arrival when ids arrive in order), a doc
      survives iff it wins every one of its buckets.

    Invariant (pytest-pinned): after any sequence of epochs, the
    index's key set equals build_dedup_index(historical corpus +
    all survivors) — incremental maintenance is indistinguishable
    from a from-scratch rebuild.

    Writer fencing (index_store.fence_epoch): each committed epoch
    records a high-water mark in the index manifest. The next epoch
    must be ``hwm + 1`` (a gap RAISES — a skipped epoch means data
    was lost upstream); ``batch_id <= hwm`` is treated as a crash
    replay and becomes a VERIFIED no-op — survivors are recomputed
    from the same as-of reads, checked multiset-equal against the
    committed delta partitions (a duplicate batch_id carrying
    DIFFERENT data raises instead of silently interleaving), and
    returned without writing.

    ``strategy``/``broadcast_max_keys``: join posture against the
    index key tiers, same contract as :func:`dedup_against_index` —
    the default broadcast probe keeps the (arbitrarily large) index
    un-shuffled every epoch; results are strategy-independent.

    Returns the surviving rows of ``batch``.
    """
    from pyspark.sql import Window

    from .index_store import (
        commit_epoch_with_rebase,
        fence_epoch,
        publish_delta,
        read_delta,
        verify_replay,
    )

    spark = batch.sparkSession
    mode, manifest = fence_epoch(spark, path, batch_id)
    from .index_store import read_meta_row

    # the fence already resolved the current manifest — reuse it for
    # the meta row and both tier reads instead of re-listing the log
    m = read_meta_row(spark, path, manifest=manifest)
    key = (F.lower(F.trim(F.col(text_col))) if m.normalize
           else F.col(text_col))
    exact_idx = _index_tier(spark, path, "exact", before_batch=batch_id,
                            manifest=manifest)
    hashed = batch.withColumn("_h", F.xxhash64(key)) \
        .localCheckpoint(eager=False)
    # batch-internal exact: min id per hash
    wmin = Window.partitionBy("_h")
    keep = hashed.withColumn(
        "_exact_win", F.col(id_col) == F.min(id_col).over(wmin))
    # against-index exact (anti on 8-byte keys); the broadcast-probe
    # posture keeps the index un-shuffled however large it grows —
    # hits are computed index-scan-side against the broadcast batch
    # key set, then the batch anti-joins the (batch-bounded) hit set
    keyset = _lazy_frame(
        lambda: hashed.select(F.col("_h").alias("h")).distinct()
        .localCheckpoint(eager=False))
    strat = _probe_strategy(keyset, strategy, broadcast_max_keys,
                            pushdown_max_keys, idx=exact_idx)
    if strat == "pushdown":
        kvals = [r.h for r in keyset().collect()]
        hits = exact_idx.select("h").filter(F.col("h").isin(kvals))
        keep = keep.join(F.broadcast(hits),
                         keep["_h"] == hits["h"], "left_anti")
    elif strat == "broadcast":
        hits = _index_hits(exact_idx.select("h"), keyset(), ["h"])
        keep = keep.join(F.broadcast(hits),
                         keep["_h"] == hits["h"], "left_anti")
    else:
        keep = keep.join(exact_idx, keep["_h"] == exact_idx["h"],
                         "left_anti")
    bb = None
    if near:
        bands_idx = _index_tier(spark, path, "bands",
                                before_batch=batch_id, manifest=manifest)
        sig = minhash_signatures(batch, text_col, id_col, n=m.n,
                                 num_hashes=m.num_hashes, words=m.words)
        bb = _band_bucket_frame(sig, id_col, m.num_hashes, m.bands) \
            .localCheckpoint(eager=False)
        # a bucket is poisoned if the INDEX knows it, or if a smaller
        # batch id touches it (winner computed over the whole batch)
        wband = Window.partitionBy("band", "bucket")
        bkeys = _lazy_frame(
            lambda: bb.select("band", "bucket").distinct()
            .localCheckpoint(eager=False))
        # composite (band, bucket) keys don't push as a
        # single-column IN filter — the broadcast probe is the
        # point-probe plan for the bands tier, so an explicit
        # 'pushdown' maps to 'broadcast' BEFORE resolution (it must
        # not trip the exact tier's pushdown cap on the ~bands-times
        # larger bucket key set)
        b_strategy = "broadcast" if strategy == "pushdown" else strategy
        bstrat = _probe_strategy(bkeys, b_strategy, broadcast_max_keys,
                                 idx=bands_idx)
        if bstrat == "pushdown":
            bstrat = "broadcast"
        if bstrat == "broadcast":
            idx_hits = _index_hits(
                bands_idx.select("band", "bucket"), bkeys(),
                ["band", "bucket"]).withColumn("_idx_hit", F.lit(True))
            idx_hits = F.broadcast(idx_hits)
        else:
            idx_hits = bands_idx.select("band", "bucket") \
                .withColumn("_idx_hit", F.lit(True))
        verdicts = (
            bb.withColumn("_bwin",
                          F.col(id_col) == F.min(id_col).over(wband))
            .join(idx_hits, ["band", "bucket"], "left")
            .withColumn("_ok", F.col("_bwin")
                        & F.col("_idx_hit").isNull())
        )
        near_losers = (
            verdicts.filter(~F.col("_ok"))
            .select(F.col(id_col).alias("_nl")).distinct()
        )
        keep = keep.join(near_losers,
                         keep[id_col] == near_losers["_nl"],
                         "left_anti")
    survivors = (
        keep.filter(F.col("_exact_win"))
        .select(*batch.columns)
        .localCheckpoint(eager=True)
    )
    # the epoch's key frames — what a 'run' writes and what a
    # 'replay' re-derives for verification
    surv_ids = survivors.select(F.col(id_col).alias("_sid"))
    new_exact = (
        hashed.join(surv_ids, hashed[id_col] == surv_ids["_sid"],
                    "left_semi")
        .select(F.col("_h").alias("h"))
        .distinct()
    )
    new_bands = None
    if near and bb is not None:
        new_bands = (
            bb.join(surv_ids, bb[id_col] == surv_ids["_sid"],
                    "left_semi")
            .select("band", "bucket").distinct()
        )
    if mode == "replay":
        verify_replay(
            read_delta(spark, path, "exact", manifest,
                       at_batch=batch_id),
            new_exact, path, "exact", batch_id)
        if new_bands is not None:
            verify_replay(
                read_delta(spark, path, "bands", manifest,
                           at_batch=batch_id),
                new_bands, path, "bands", batch_id)
        return survivors
    # append the survivors' keys — STAGED per-epoch partitions (stage
    # + rename, so a racing same-batch writer can never interleave
    # files into a partition this writer commits; identical staged
    # content is adopted, different content raises — index_store)
    publish_delta(spark, path, "exact", new_exact, batch_id)
    if new_bands is not None:
        publish_delta(spark, path, "bands", new_bands, batch_id)
    # publish the epoch: hwm := batch_id (crash before this line ->
    # the partitions sit above hwm, invisible; replay re-runs as a
    # normal epoch and adopts its own verified partitions). The
    # commit REBASES past interleaved manifest commits (a concurrent
    # compaction, another writer's disjoint epoch) instead of
    # aborting — the optimistic multi-writer posture.
    commit_epoch_with_rebase(spark, path, batch_id, manifest)
    return survivors
