"""Streaming rollup pipeline — the reference's full ingest path, Spark-first.

Reference flow (SURVEY.md §3.1 steps 2–5): ``Tranquilizer.send`` batches →
``ClusteredBeam.sendAll`` buckets by segmentGranularity + drops out-of-window
events → rollup-aware partition fan-out → ``DruidBeam`` pushes to realtime
tasks. The Spark restatement is one declarative Structured Streaming query:

    readStream → timestamp extraction (P3) → withWatermark (W1, late side)
      → window(ts, segmentGranularity) + groupBy(dims).agg(metrics) (T1+A*)
      → foreachBatch SegmentSink (S5/S6, idempotent time-partitioned Parquet)

Scale notes (100 TB / 1000 executors):
- The streaming aggregation is HashAggregateExec + state store keyed on
  (window, dims) — Spark's shuffle-by-key IS the reference's
  ``GenericTimeAndDimsPartitioner`` (D2), with map-side partial aggregation
  so each rollup group crosses the wire pre-collapsed.
- Watermark bounds state: closed windows are evicted and emitted once
  (append mode), which is exactly the reference's bucket close / handoff
  (W4) — a bucket stops accepting when the watermark passes bucketEnd.
- Calendar granularities without a fixed period (MONTH/YEAR) are not valid
  streaming window sizes; the reference's own default envelope is
  MINUTE..DAY buckets (``ClusteredBeamTuning``, default HOUR).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tranquility_spark.specs import Granularity, IngestSpec

# fixed-width granularities usable as streaming window sizes, in seconds
_FIXED_SECONDS = {
    "SECOND": 1,
    "MINUTE": 60,
    "FIVE_MINUTE": 300,
    "TEN_MINUTE": 600,
    "FIFTEEN_MINUTE": 900,
    "THIRTY_MINUTE": 1800,
    "HOUR": 3600,
    "SIX_HOUR": 21600,
    "DAY": 86400,
    "WEEK": 604800,
}


def granularity_window_seconds(gran: Granularity) -> int:
    """Window width in seconds for a fixed-period granularity.

    Raises for NONE / MONTH / YEAR — not expressible as a tumbling window.
    """
    if gran.name not in _FIXED_SECONDS:
        raise ValueError(
            f"granularity {gran.name} is not a fixed period; streaming rollup "
            "supports SECOND..WEEK (the reference's operating envelope)"
        )
    return _FIXED_SECONDS[gran.name]


def _interval_seconds(interval: str) -> int:
    """Whole seconds in a Spark interval string like '1 day' / '30 minutes'.

    Used to keep window startTime inside Spark's abs(start) < slide
    constraint for sliding WEEK windows.
    """
    import pandas as pd

    try:
        secs = pd.to_timedelta(interval).total_seconds()
    except ValueError as exc:
        raise ValueError(
            f"cannot parse slide interval {interval!r}; use a pandas-parsable "
            "duration like '1 day' or '3600 seconds'"
        ) from exc
    if secs <= 0 or secs != int(secs):
        raise ValueError(f"slide interval {interval!r} must be a positive whole-second duration")
    return int(secs)


def stream_rollup(
    stream_df: DataFrame,
    spec: IngestSpec,
    watermark: str = "10 minutes",
    bucket_col: str = "segment_start",
    slide: Optional[str] = None,
) -> DataFrame:
    """Windowed streaming rollup for an IngestSpec.

    Tumbling ``window(ts, segmentGranularity)`` (W2: the reference has
    tumbling buckets only) + groupBy(all dims) + metricsSpec aggregators.
    ``watermark`` is the lateness bound (reference ``windowPeriod``, default
    PT10M — semantic delta vs the wall-clock two-sided filter is documented
    in SURVEY.md §4.3; the strict variant lives in the sink's
    ``window_period`` option).

    Output schema: ``<bucket_col> TIMESTAMP, <ts_out> TIMESTAMP, <dims...>,
    <metric outputs...>`` — bucket_col is the segment bucket start (T1),
    ts_out the queryGranularity-truncated time (T2). Works identically on a
    static DataFrame (used by the batch parity tests).
    """
    spec.validate()
    ts_out = spec.timestamp_spec.output
    gran = spec.granularity_spec

    parsed = stream_df.withColumn(ts_out, spec.timestamp_spec.extract(stream_df)).filter(
        F.col(ts_out).isNotNull()
    )
    # derived spatial dims, the same "lat,lon" encode build_rollup applies
    # (r12 fix: resolve() already NAMED the spatial dims, so a spatial spec
    # previously failed here with an unresolved column while working in
    # batch — the two rollup paths must accept the same specs)
    for name, expr in spec.dimensions_spec.spatial_columns():
        parsed = parsed.withColumn(name, expr)
    if parsed.isStreaming:
        parsed = parsed.withWatermark(ts_out, watermark)

    metric_fields = sorted({f for m in spec.metrics for f in m.field_names})
    dims = spec.dimensions_spec.resolve(stream_df, spec.timestamp_spec.column, metric_fields)

    secs = granularity_window_seconds(gran.segment_granularity)
    # tumbling by default (W2: reference parity); ``slide`` opts into sliding
    # windows — an extension (each event lands in width/slide windows, so
    # state and output scale by that factor; keep slide a divisor of width)
    #
    # F.window aligns to the Unix epoch (1970-01-01, a Thursday); WEEK buckets
    # must start on Monday to agree with Granularity.truncate /
    # date_trunc('week') and the sink's g= layout, so shift alignment by the
    # 4 days between epoch and the first Monday (1970-01-05). Spark requires
    # abs(startTime) < slideDuration, so for sliding WEEK windows the shift is
    # taken modulo the slide (same alignment: startTime is modular by
    # definition of the window grid). NOTE: F.window's grid is epoch/UTC-
    # anchored while date_trunc is session-timezone; parity with the sink's
    # g= layout assumes a UTC session (set by session.prepare(); same caveat
    # applies to DAY buckets).
    start = None
    if gran.segment_granularity.name == "WEEK":
        off = 345600
        if slide is not None:
            off %= _interval_seconds(slide)
        start = f"{off} seconds"
    if slide is not None:
        win = F.window(F.col(ts_out), f"{secs} seconds", slide, start)
    else:
        win = F.window(F.col(ts_out), f"{secs} seconds", f"{secs} seconds", start)

    if not gran.rollup:
        # A12: no aggregation — append raw rows tagged with their bucket
        return parsed.select(
            win.start.alias(bucket_col), ts_out, *dims, *metric_fields
        )

    q_ts = gran.query_granularity.truncate(F.col(ts_out)).alias(ts_out)
    aggs = [m.column() for m in spec.metrics]
    if aggs:
        grouped = parsed.groupBy(win.alias("__w"), q_ts, *dims).agg(*aggs)
    else:
        # metric-less rollup is VALID (Druid with an empty metricsSpec
        # dedups rows on the rollup key; the batch twin build_rollup uses
        # dropDuplicates) — GroupedData.agg asserts on zero exprs, so
        # aggregate a throwaway count and drop it: exactly the distinct
        # (window, q_ts, dims) keys, streaming-safe (r14 code-review)
        grouped = (
            parsed.groupBy(win.alias("__w"), q_ts, *dims)
            .agg(F.count(F.lit(1)).alias("__rollup_n"))
            .drop("__rollup_n")
        )
    return grouped.withColumn(bucket_col, F.col("__w").start).drop("__w").select(
        bucket_col, ts_out, *dims, *[m.name for m in spec.metrics]
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash wins.

    Streaming uses ``dropDuplicatesWithinWatermark`` so hash state is evicted
    once the watermark passes — bounded state at 100 TB/day ingest, at the
    cost of re-admitting a duplicate that arrives later than the horizon (the
    same bounded-window tradeoff the reference makes for late data, P6).
    Plain ``dropDuplicates`` on non-event-time keys would grow state forever.

    Static frames dedup to the same KEY SET; the surviving row differs by
    construction (r14 code-review — the old static path's dropDuplicates
    kept an ARBITRARY row per hash, nondeterministic across shuffles):
    streaming keeps the first ARRIVAL (the only order a stream has), the
    batch path now keeps the earliest EVENT TIME deterministically (the
    remaining ORDERABLE columns as the tiebreak — map-typed columns are
    excluded, ADVICE r14: a window orderBy on MapType fails analysis where
    the old dropDuplicates path handled such frames fine; rows that tie on
    every orderable column fall back to an arbitrary-but-single survivor)
    — the natural batch reading of "first occurrence".
    """
    from pyspark.sql import Window

    from tranquility_spark.operators.dedup import content_hash

    hashed = stream_df.withColumn("__content_hash", content_hash(F.col(text_col)))
    if hashed.isStreaming:
        hashed = hashed.withWatermark(ts_col, watermark)
        return hashed.dropDuplicatesWithinWatermark(["__content_hash"]).drop("__content_hash")

    def _orderable(dtype) -> bool:
        from pyspark.sql.types import ArrayType, MapType, StructType

        if isinstance(dtype, MapType):
            return False
        if isinstance(dtype, ArrayType):
            return _orderable(dtype.elementType)
        if isinstance(dtype, StructType):
            return all(_orderable(f.dataType) for f in dtype.fields)
        return True

    order_cols = [F.col(ts_col)] + [
        F.col(f.name)
        for f in stream_df.schema.fields
        if f.name != ts_col and _orderable(f.dataType)
    ]
    w = Window.partitionBy("__content_hash").orderBy(*order_cols)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__content_hash")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join — the attribution shape (extension beyond
    reference parity, SURVEY.md §2.6: the reference never joins two live
    streams; this is the Spark-native form of click-after-view funnels done
    online instead of in dq9's batch query).

    Each left event (the anchor, e.g. a view) joins right events of the same
    ``key`` whose timestamp falls in ``[left_ts, left_ts + max_delay]``.
    Both sides get watermarks and the join carries the explicit time-range
    predicate — the two things Spark needs to bound join state: a side's
    buffered rows are evicted once the other side's watermark passes their
    latest possible match time, so state is O(rate x (watermark + max_delay))
    at any corpus size, never unbounded. The join itself shuffles both
    streams on ``key`` — co-partitioned, the same movement the batch
    equivalent pays.

    Column contract: ``left_ts`` / ``right_ts`` must be DISTINCT names (the
    joined frame keeps both); ``key`` must exist on both sides and is
    emitted once. Works identically on static frames (same predicate, no
    watermark) — the streaming-equals-batch property the tests assert.

    Identifiers are backtick-quoted, so column names containing dots,
    spaces or hyphens work; only the interval literal goes through
    ``F.expr`` — a malformed ``max_delay`` fails there with the interval
    parser's own message, not a confusing full-condition SQL error
    (ADVICE r07).
    """
    lf, rf = left, right
    if lf.isStreaming:
        lf = lf.withWatermark(left_ts, watermark)
    if rf.isStreaming:
        rf = rf.withWatermark(right_ts, watermark)
    la, ra = lf.alias("__l"), rf.alias("__r")

    def q(side: str, name: str):  # backtick-quoted qualified reference
        return F.col(f"{side}.`" + name.replace("`", "``") + "`")

    delay = F.expr(f"INTERVAL {max_delay}")
    cond = (
        (q("__l", key) == q("__r", key))
        & (q("__r", right_ts) >= q("__l", left_ts))
        & (q("__r", right_ts) <= q("__l", left_ts) + delay)
    )
    return la.join(ra, cond, how).drop(q("__r", key))


def stream_sessionize(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str = "10 minutes",
    metrics: Optional[list] = None,
) -> DataFrame:
    """Session windows — an extension beyond reference parity (W2: the
    reference has tumbling segment buckets only; sliding/session windows are
    our extension surface, SURVEY.md §2.6).

    Built on ``F.session_window`` (merging-window state store): sessions close
    ``gap`` after their last event, emitted in append mode once the watermark
    passes. Works on static frames too (Catalyst computes sessions in one
    aggregation over the sorted-by-key partition — no driver logic).
    """
    if metrics is None:
        # the default sums a column literally named 'value' — on a frame
        # without one that fails deep in analysis with UNRESOLVED_COLUMN;
        # name the parameter instead (r14 code-review). Count-only stays
        # available by passing metrics=[F.count(F.lit(1)).alias(...)].
        if "value" not in stream_df.columns:
            raise ValueError(
                "stream_sessionize's default metrics aggregate a 'value' "
                "column, which this frame lacks — pass metrics=[...] "
                "explicitly (e.g. [F.count(F.lit(1)).alias('n_events')])"
            )
        metrics = [
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        ]
    agg = metrics
    df = stream_df
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    out = df.groupBy(win.alias("__s"), *keys).agg(*agg)
    return (
        out.withColumn("session_start", F.col("__s").start)
        .withColumn("session_end", F.col("__s").end)
        .drop("__s")
    )
