"""Structured Streaming operators (beyond-reference surface).

The reference engine has no streaming operators (SURVEY §2.10); its
`events`-style workloads run as batch scans. Here the same event schema
gets first-class streaming treatment: watermarked tumbling and
session windows, streaming dedup, and stateful counting — each usable
both on a stream (readStream) and on a batch DataFrame (identical
expressions), which is how the oracle checks them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def _prep(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    """Event-time prep shared by every window operator: watermarks require
    TIMESTAMP (not TIMESTAMP_NTZ), so NTZ event-time columns are cast —
    on batch frames too, keeping stream and batch plans byte-identical."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df


def tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Count events per (tumbling window, key). Watermark bounds state on
    streams; on batch frames it is a no-op and is skipped."""
    df = _prep(events, ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("n"),
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "5 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Session windows per key (gap-based); Spark's session_window handles
    merge-on-late-data on streams."""
    df = _prep(events, ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-style dedup on a stream: dropDuplicates bounded by a
    watermark (state eviction); identical call works on batch frames."""
    df = _prep(events, ts_col, watermark)
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


_GRAIN_DURATION = {
    "second": "1 second",
    "minute": "1 minute",
    "hour": "1 hour",
    "day": "1 day",
}


def streaming_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    grains: tuple[str, ...] = ("hour", "day"),
    aggs: dict[str, str] | None = None,
    by: str | list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> dict[str, DataFrame]:
    """Continuous multi-grain aggregation — the streaming analogue of
    ``operators.temporal.rollup``: the finest grain aggregates raw events;
    each coarser grain RE-WINDOWS the finer grain's output via
    ``window(window_col, duration)`` (chained streaming aggregation —
    Spark's multiple-stateful-operators support, append mode). The raw
    stream is read once per query; coarse grains aggregate pre-reduced
    rows, so state and shuffle volume shrink at every level, exactly like
    the batch cascade.

    ``grains`` are epoch-aligned fixed-width units ordered finest ->
    coarsest (each must evenly divide the next); weeks/months are
    calendar-dependent and unsupported. Returns {grain: DataFrame} with
    columns (bucket, *by, n_rows, <aggs>); each frame is independently
    sinkable. Works identically on a batch frame (watermark skipped) —
    that is how the oracle checks it.
    """
    aggs = aggs or {}
    by_cols = [by] if isinstance(by, str) else list(by or [])
    for g in grains:
        if g not in _GRAIN_DURATION:
            raise ValueError(
                f"unsupported grain {g!r}; use {sorted(_GRAIN_DURATION)}"
            )
    df = _prep(events, ts_col, watermark)
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for grain in grains:
        dur = _GRAIN_DURATION[grain]
        if prev is None:
            grouped = df.groupBy(F.window(F.col(ts_col), dur).alias("w"), *by_cols)
            exprs = [F.count(F.lit(1)).alias("n_rows")]
            for col, how in aggs.items():
                fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[how]
                exprs.append(fn(F.col(col)).alias(f"{how}_{col}"))
        else:
            grouped = prev.groupBy(F.window(F.col("w"), dur).alias("w"), *by_cols)
            exprs = [F.sum("n_rows").alias("n_rows")]
            for col, how in aggs.items():
                name = f"{how}_{col}"
                fn = F.sum if how in ("sum", "count") else {"min": F.min, "max": F.max}[how]
                exprs.append(fn(F.col(name)).alias(name))
        cur = grouped.agg(*exprs)
        names = ["n_rows", *[f"{how}_{c}" for c, how in aggs.items()]]
        out[grain] = cur.select(
            F.col("w.start").alias("bucket"), *by_cols, *names
        )
        prev = cur
    return out


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain a bounded stream into an in-memory table (test/debug sink).

    Aggregating queries use the default complete mode; stream-stream
    joins only support append."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_hll_counts(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    ts_col: str = "ts",
    p: int = 9,
    salt: int = 0,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Continuous distinct counting: HLL register rows per tumbling
    event-time window — (window_start, register, rho). hll_sketch is a
    projection + groupBy-MAX, which is exactly the stream-legal
    aggregation shape, so the STREAM state per window is bounded by
    2^p register rows (~4 KB at p=9) no matter how many events or
    distinct keys arrive; late data re-maxes the same registers until
    the watermark closes the window. Feed the output to
    sketches.hll_estimate for the count, or hll_merge register rows
    across windows/streams/tenants for coarser grains — the mergeable
    deployment shape (a batch-built daily sketch and a stream-built
    hourly sketch union freely).

    Identical call runs on a batch frame (watermark no-op — the
    stream==batch discipline); on streams use update/complete output
    for the register rows, or append once the watermark passes.
    """
    from graphlite_spark.operators.sketches import hll_sketch

    df = _prep(events, ts_col, watermark)
    # group by the window STRUCT (it carries the event-time marker the
    # streaming planner needs for state eviction); project start after
    # the aggregation
    df = df.select(F.window(F.col(ts_col), window).alias("_w"),
                   F.col(key_col))
    sk = hll_sketch(df, key_col, ("_w",), p=p, salt=salt)
    return sk.select(F.col("_w.start").alias("window_start"),
                     "register", "rho")
