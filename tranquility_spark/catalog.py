"""The query catalog: every operator exposed through the driver contract.

Each entry pairs a Spark implementation (built on the engine modules) with an
equivalent DuckDB oracle SQL (hash-checked at sf0.01 by the driver), or
``oracle=None`` for genuinely non-SQL-expressible ops (sketches, LSH) which
get the weaker rows-only check.

Cross-engine determinism policy (applies to every oracle-checked entry):
- double SUMs accumulate in DECIMAL (exact, order-independent) then cast to
  DOUBLE — see ``specs.DoubleSum``;
- double→long casts go through an explicit floor() (Spark truncates, DuckDB
  rounds — floor makes them agree);
- every ORDER BY ... LIMIT carries a unique-key tie-break;
- single-value float math (ratios, cosines, quantiles) is rounded to 6
  decimals on both sides;
- all computed columns are aliased identically on both sides (the driver
  sorts columns by name before hashing).

Operator ids follow SURVEY.md §2 (p*, t*, a*, d* = reference parity;
q*/j*/w*/s*/set*/f* = relational extensions; dd*/sim*/txt*/mm* = north-star
LLM-pipeline ops).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tranquility_spark.operators import dedup as dd
from tranquility_spark.operators import multimodal as mm
from tranquility_spark.operators import similarity as sim
from tranquility_spark.operators import text as tx
from tranquility_spark.operators.parse import parse_json_events
from tranquility_spark.operators.partitioning import portable_shard_sql, with_shard
from tranquility_spark.operators.window_filter import two_sided_window_filter
from tranquility_spark.plans.rollup import build_rollup, rollup_oracle_sql
from tranquility_spark.sources.files import load_table
from tranquility_spark.specs import (
    Cardinality,
    Count,
    DimensionsSpec,
    filter_to_column,
    filter_to_sql,
    DoubleMax,
    DoubleMin,
    DoubleSum,
    Filtered,
    GranularitySpec,
    HyperUnique,
    IngestSpec,
    LongMax,
    LongMin,
    LongSum,
    TimestampSpec,
)


@dataclass(frozen=True)
class QueryEntry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


CATALOG: dict[str, QueryEntry] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        CATALOG[name] = QueryEntry(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Reference parity: parsing / projection / filters (SURVEY.md §2.2)
# ===========================================================================


@register(
    "p1_json_parse",
    """
    SELECT event_type,
           CAST(sum(k) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events)
    GROUP BY event_type
    """,
    doc="P1: JSON event parse (from_json) — ref TranquilityServlet / TranquilityEventWriter",
)
def p1_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = parse_json_events(ev, "props", "k INT")
    return parsed.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@register(
    "p3_ts_extract",
    """
    SELECT date_trunc('hour',
             strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
           ) AS hour_bucket,
           count(*) AS n,
           min(epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000)) AS min_posix_ts,
           max(epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000 + 500)) AS max_millis_ts
    FROM events
    GROUP BY 1
    """,
    doc="P3: timestamp extraction matrix (iso pattern / posix / millis) — ref Druid TimestampSpec",
)
def p3_ts_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # round-trip through the three formats the reference accepts
    staged = ev.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("iso_str"),
        F.unix_timestamp("ts").alias("posix_s"),
        (F.unix_timestamp("ts") * 1000 + 500).alias("millis"),
    )
    iso_spec = TimestampSpec(column="iso_str", format="yyyy-MM-dd HH:mm:ss")
    posix_spec = TimestampSpec(column="posix_s", format="posix")
    millis_spec = TimestampSpec(column="millis", format="millis")
    parsed = staged.select(
        iso_spec.extract(staged).alias("iso_ts"),
        posix_spec.extract(staged).alias("posix_ts"),
        millis_spec.extract(staged).alias("millis_ts"),
    )
    return parsed.groupBy(F.date_trunc("hour", "iso_ts").alias("hour_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("posix_ts").alias("min_posix_ts"),
        F.max("millis_ts").alias("max_millis_ts"),
    )


_P4_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="ts"),
    dimensions_spec=DimensionsSpec(dimensions=["event_type"]),
    metrics=(DoubleSum("value_sum", "value"),),
    granularity_spec=GranularitySpec(rollup=False),
)


@register(
    "p4_projection",
    rollup_oracle_sql(_P4_SPEC, "events"),
    doc="P4: projection to declared dims (SpecificDruidDimensions) — ref DruidRollup.scala",
)
def p4_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_P4_SPEC)(_t(spark, sf_dir, "events"))


@register(
    "p5_schemaless",
    "SELECT ts AS ts, event_id, user_id, event_type, value FROM events",
    doc="P5: schemaless projection (everything minus exclusions) — ref SchemalessDruidDimensions",
)
def p5_schemaless(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = IngestSpec(
        datasource="events",
        timestamp_spec=TimestampSpec(column="ts", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=None, exclusions=("props",)),
        metrics=(DoubleSum("value_sum", "value"),),
        granularity_spec=GranularitySpec(rollup=False),
    )
    return build_rollup(spec)(_t(spark, sf_dir, "events"))


@register(
    "p6_window_filter",
    """
    SELECT event_id, ts AS ts, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 11:50:00'
      AND ts <= TIMESTAMP '2024-01-15 12:10:00'
    """,
    doc="P6: two-sided windowPeriod filter at fixed now (PT10M) — ref ClusteredBeam#sendAll",
)
def p6_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kept = two_sided_window_filter(ev, "ts", "PT10M", now="2024-01-15 12:00:00")
    return kept.select("event_id", "ts", "event_type", "value")


@register(
    "p7_metric_coercion",
    """
    SELECT event_type,
           CAST(sum(CAST(coalesce(CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END, 0.0)
                         AS DECIMAL(28,6))) AS DOUBLE) AS coerced_sum,
           count(CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END) AS non_null_n,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="P7: null/type coercion on metric inputs (null→0 for sums) — Druid aggregator semantics",
)
def p7_metric_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    return ev.groupBy("event_type").agg(
        F.sum(F.coalesce(v, F.lit(0.0)).cast("decimal(28,6)")).cast("double").alias("coerced_sum"),
        F.count(v).alias("non_null_n"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# Reference parity: time bucketing (T1/T2) + rollup aggregators (A1..A12)
# ===========================================================================

_T1_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="segment_start"),
    dimensions_spec=DimensionsSpec(dimensions=[]),
    metrics=(Count("n"), DoubleSum("sum_value", "value")),
    granularity_spec=GranularitySpec(segment_granularity="HOUR", query_granularity="HOUR"),
)


@register(
    "t1_segment_bucket",
    rollup_oracle_sql(_T1_SPEC, "events"),
    doc="T1: segmentGranularity bucketing (HOUR default) — ref ClusteredBeamTuning#segmentBucket",
)
def t1_segment_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_T1_SPEC)(_t(spark, sf_dir, "events"))


_T2_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="ts"),
    dimensions_spec=DimensionsSpec(dimensions=["event_type"]),
    metrics=(Count("n"), DoubleSum("sum_value", "value")),
    granularity_spec=GranularitySpec(query_granularity="FIVE_MINUTE"),
)


@register(
    "t2_query_granularity",
    rollup_oracle_sql(_T2_SPEC, "events"),
    doc="T2: queryGranularity truncation inside the bucket (FIVE_MINUTE) — ref DruidRollup#indexGranularity",
)
def t2_query_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_T2_SPEC)(_t(spark, sf_dir, "events"))


_T4_ZONE = "America/Los_Angeles"


@register(
    "t4_tz_day_rollup",
    f"""
    SELECT timezone('UTC', timezone('{_T4_ZONE}',
               date_trunc('day', timezone('{_T4_ZONE}', timezone('UTC', ts)))))
               AS bucket_start_utc,
           CAST(date_trunc('day', timezone('{_T4_ZONE}', timezone('UTC', ts)))
                AS DATE) AS local_date,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Timezone-aware period granularity (Druid's "
    '{"type":"period","period":"P1D","timeZone":...} — the granularity '
    "feature SURVEY's T1/T2 UTC buckets omit): events bucketed by "
    "LOCAL calendar day in America/Los_Angeles, each bucket labeled by "
    "its UTC start instant, so DST-transition days are genuine 23/25-"
    "hour buckets (boundary semantics pinned across spring-forward and "
    "fall-back in tests). Spark side is from_utc_timestamp -> "
    "date_trunc -> to_utc_timestamp (pure codegen, one hash agg); the "
    "oracle uses DuckDB's two-argument timezone() exclusively — NEVER "
    "a bare CAST to/from TIMESTAMPTZ, which would silently depend on "
    "the driver session's TimeZone setting (verified hostile-session-"
    "proof in tests). Both engines resolve the zone from IANA tzdata",
)
def t4_tz_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    local = F.from_utc_timestamp("ts", _T4_ZONE)
    local_day = F.date_trunc("day", local)
    return ev.groupBy(
        F.to_utc_timestamp(local_day, _T4_ZONE).alias("bucket_start_utc"),
        local_day.cast("date").alias("local_date"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )


_A15_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="ts"),
    dimensions_spec=DimensionsSpec(dimensions=["event_type"]),
    metrics=(
        Count("cnt"),
        LongSum("sum_value_long", "value"),
        DoubleSum("sum_value", "value"),
        LongMin("min_value_long", "value"),
        LongMax("max_value_long", "value"),
        DoubleMin("min_value", "value"),
        DoubleMax("max_value", "value"),
    ),
    granularity_spec=GranularitySpec(query_granularity="HOUR"),
)


@register(
    "a1_a5_rollup_core",
    rollup_oracle_sql(_A15_SPEC, "events"),
    doc="A1–A5: count/longSum/doubleSum/longMin/longMax/doubleMin/doubleMax ingest rollup — ref metricsSpec",
)
def a1_a5_rollup_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_A15_SPEC)(_t(spark, sf_dir, "events"))


@register(
    "a6_hyperunique_exact",
    """
    SELECT event_type, count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY event_type
    """,
    doc="A6 exact twin: hyperUnique → count(distinct) — ref HyperUniquesAggregatorFactory (policy SURVEY.md §2.4)",
)
def a6_hyperunique_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        HyperUnique("uniq_users", "user_id", exact=True).column()
    )


@register(
    "a6_hyperunique_approx",
    None,  # HLL++ rsd differs from Druid HLL — rows-only by policy
    doc="A6 approx twin: approx_count_distinct (HLL++) — rows-only check",
)
def a6_hyperunique_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        HyperUnique("uniq_users_approx", "user_id", exact=False).column()
    )


@register(
    "a7_cardinality_exact",
    """
    SELECT date_trunc('day', ts) AS day,
           count(DISTINCT (CAST(user_id AS VARCHAR) || chr(31) || CAST(event_type AS VARCHAR))) AS card
    FROM events GROUP BY 1
    """,
    doc="A7 exact twin: cardinality(byRow) over (user_id, event_type) — ref CardinalityAggregatorFactory",
)
def a7_cardinality_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        Cardinality("card", ("user_id", "event_type"), exact=True).column()
    )


_A8_METRICS = (
    Filtered({"type": "selector", "dimension": "event_type", "value": "purchase"}, DoubleSum("purchase_rev", "value")),
    Filtered({"type": "in", "dimension": "event_type", "values": ["click", "view"]}, Count("impressions")),
    Filtered(
        {"type": "bound", "dimension": "value", "lower": 100, "ordering": "numeric"},
        Count("big_values"),
    ),
    Filtered({"type": "regex", "dimension": "event_type", "pattern": "^(sign|err)"}, Count("sig_or_err")),
    Filtered(
        {
            "type": "and",
            "fields": [
                {"type": "selector", "dimension": "event_type", "value": "purchase"},
                {"type": "bound", "dimension": "value", "lower": 50, "lowerStrict": True, "ordering": "numeric"},
            ],
        },
        DoubleMax("max_big_purchase", "value"),
    ),
)


@register(
    "a8_filtered_aggs",
    "SELECT date_trunc('day', ts) AS day, "
    + ", ".join(m.oracle() for m in _A8_METRICS)
    + " FROM events GROUP BY 1",
    doc="A8: filtered aggregators (selector/in/bound/regex/and) — ref Druid filter JSON in metricsSpec",
)
def a8_filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        *[m.column() for m in _A8_METRICS]
    )


@register(
    "a9_custom_fold_agg",
    """
    SELECT event_type,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS folded,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="A9: javascript-aggregator analog — user fold as Arrow-batched GROUPED_AGG pandas UDF "
    "(integer fold so the oracle is exact) — ref JavaScriptAggregatorFactory",
)
def a9_custom_fold_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.custom_agg import fold_count, fold_floor_sum

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        fold_floor_sum(F.col("value")).alias("folded"),
        fold_count(F.col("value")).alias("n"),
    )


@register(
    "a10_quantiles_exact",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events GROUP BY event_type
    """,
    doc="A10 exact twin: approxHistogram/quantile → exact percentile — policy SURVEY.md §2.4",
)
def a10_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("median_value"),
        F.round(F.percentile("value", 0.9), 6).alias("p90_value"),
    )


@register(
    "a10_quantiles_approx",
    None,
    doc="A10 approx twin: percentile_approx sketch — rows-only check",
)
def a10_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5).alias("median_value_approx"),
        F.percentile_approx("value", 0.9).alias("p90_value_approx"),
    )


@register(
    "a10d_fixed_histogram",
    """
    SELECT event_type, bucket,
           round(0.0 + bucket * 20.0, 6) AS bucket_lo,
           count(*) AS n
    FROM (SELECT event_type,
                 least(greatest(CAST(floor((value - 0.0) / 20.0) AS BIGINT),
                                0), 24) AS bucket
          FROM events
          WHERE value IS NOT NULL)
    GROUP BY event_type, bucket
    """,
    doc="A10 histogram shape: Druid approxHistogram emits BUCKET COUNTS, not "
    "just quantiles (SURVEY.md §2.4 A10 — ref exposes it via the Druid "
    "extension aggregator accepted in tranquility metricsSpec). Spark-first "
    "analog: fixed [lowerLimit=0, upperLimit=500) buckets of width 20 with "
    "Druid's out-of-range clamp into the edge buckets; pure JVM floor "
    "arithmetic inside the groupBy key, so the histogram is ONE map-side-"
    "combined agg — at 100 TB the exchange carries <= types*buckets rows. "
    "Identical double arithmetic both engines => exact hash match (no "
    "percentile interpolation involved). NULL contract: NULL values are "
    "EXCLUDED (not clamped into bucket 0) — both engines filter them before "
    "bucketing, so the histogram counts only measured values",
)
def a10d_fixed_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(0.0)) / F.lit(20.0)).cast("long"),
            F.lit(0),
        ),
        F.lit(24),
    )
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            F.round(F.lit(0.0) + F.col("bucket") * F.lit(20.0), 6).alias("bucket_lo"),
            "n",
        )
    )


@register(
    "a11_theta_sketch_approx",
    None,
    doc="A11: thetaSketch distinct — approx_count_distinct twin, rows-only",
)
def a11_theta_sketch_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.approx_count_distinct("user_id").alias("theta_users")
    )


_A12_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="ts"),
    dimensions_spec=DimensionsSpec(dimensions=["event_id", "event_type"]),
    metrics=(),
    granularity_spec=GranularitySpec(rollup=False),
)


@register(
    "a12_rollup_disabled",
    rollup_oracle_sql(_A12_SPEC, "events"),
    doc="A12: granularitySpec.rollup=false appends raw rows — ref DruidBeams#fromConfig",
)
def a12_rollup_disabled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_A12_SPEC)(_t(spark, sf_dir, "events"))


@register(
    "a_derived_avg",
    """
    SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="Druid-style post-aggregation: avg = doubleSum/count as a derived column (SURVEY.md §2.4 note)",
)
def a_derived_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_value")
    )


# ===========================================================================
# Reference parity: partitioning (D1)
# ===========================================================================


@register(
    "d1_hash_partition",
    f"""
    SELECT {portable_shard_sql('user_id', 8)} AS shard,
           count(*) AS n,
           count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY 1
    """,
    doc="D1: hash partitioning — portable shard id (engine-defined hashCode replaced by a "
    "cross-engine multiplicative hash, SURVEY.md §4.2-4) — ref HashPartitionBeam",
)
def d1_hash_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return with_shard(ev, "user_id", 8).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("uniq_users"),
    )


# ===========================================================================
# Flagship: the tranquility heartbeat — hourly ingest rollup
# ===========================================================================

_FLAGSHIP_SPEC = IngestSpec(
    datasource="events",
    timestamp_spec=TimestampSpec(column="ts", output="segment_start"),
    dimensions_spec=DimensionsSpec(dimensions=["event_type"]),
    metrics=(
        Count("cnt"),
        DoubleSum("sum_value", "value"),
        DoubleMin("min_value", "value"),
        DoubleMax("max_value", "value"),
        HyperUnique("uniq_users", "user_id", exact=True),
    ),
    granularity_spec=GranularitySpec(segment_granularity="HOUR", query_granularity="HOUR"),
)


@register(
    "flagship_hourly_rollup",
    rollup_oracle_sql(_FLAGSHIP_SPEC, "events"),
    doc="Flagship: hourly segment rollup by event_type with the core metricsSpec — "
    "the end-to-end shape of §3.1 steps 2–5 restated in Spark",
)
def flagship_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_rollup(_FLAGSHIP_SPEC)(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Druid query-type analogs (the query surface a Druid user points at the
# datasource tranquility feeds — timeBoundary / segmentMetadata / search;
# SURVEY.md §2 notes the reference is ingest-only, these are the read-side
# twins a migrating user needs)
# ---------------------------------------------------------------------------


@register(
    "dq1_time_boundary",
    """
    SELECT event_type,
           min(epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000)) AS min_time,
           max(epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000)) AS max_time,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Druid timeBoundary query analog: min/max event time per datasource "
    "slice. Pure min/max hash agg — map-side partials, one tiny shuffle; at "
    "100 TB on a time-partitioned layout Spark answers min/max from "
    "partition values + footer stats without a full scan",
)
def dq1_time_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sec = F.date_trunc("second", F.col("ts")).cast("timestamp")
    return ev.groupBy("event_type").agg(
        F.min(sec).alias("min_time"),
        F.max(sec).alias("max_time"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "dq2_segment_metadata",
    """
    SELECT date_trunc('hour',
             strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
           ) AS segment_start,
           count(*) AS n_rows,
           count(DISTINCT event_type) AS cardinality_event_type,
           count(DISTINCT user_id) AS cardinality_user_id,
           CAST(sum(strlen(props)) AS BIGINT) AS props_bytes
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Druid segmentMetadata query analog: per-segment (HOUR bucket) row "
    "counts, per-dimension cardinalities, and payload size. One hash agg "
    "keyed on the segment bucket; distinct-counts shuffle once on "
    "(bucket, value). The introspection a Druid operator runs before "
    "planning compaction/rollup changes",
)
def dq2_segment_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts")).alias("segment_start")
    return (
        ev.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("event_type").alias("cardinality_event_type"),
            F.countDistinct("user_id").alias("cardinality_user_id"),
            F.sum(F.octet_length("props")).alias("props_bytes"),
        )
        .orderBy("segment_start")
    )


@register(
    "dq3_search",
    """
    SELECT dimension, value, count(*) AS n
    FROM (
      SELECT 'event_type' AS dimension, event_type AS value FROM events
      UNION ALL
      SELECT 'props' AS dimension, props AS value FROM events
    )
    WHERE contains(lower(value), 'err')
    GROUP BY dimension, value
    ORDER BY dimension, value
    """,
    doc="Druid search query analog: find dimension values containing a "
    "case-insensitive fragment across multiple dimensions, with match "
    "counts. Column-pruned scans unioned then hash-agged; the substring "
    "filter is evaluated in whole-stage codegen (no UDF)",
)
def dq3_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    legs = [
        ev.select(F.lit(c).alias("dimension"), F.col(c).cast("string").alias("value"))
        for c in ("event_type", "props")
    ]
    unioned = legs[0].unionByName(legs[1])
    return (
        unioned.filter(F.lower(F.col("value")).contains("err"))
        .groupBy("dimension", "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dimension", "value")
    )


@register(
    "dq4_scan",
    """
    SELECT event_id,
           epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000) AS ts_sec,
           event_type, user_id
    FROM events
    WHERE event_type IN ('click', 'purchase')
    ORDER BY ts_sec, event_id
    LIMIT 200
    """,
    doc="Druid scan query analog: raw-row retrieval with column projection, "
    "dimension filter, deterministic (ts, event_id) paging order and a "
    "limit. Projection + filter reach the parquet scan (column pruning + "
    "pushed predicate); the limit is TakeOrderedAndProject — per-partition "
    "heaps, no global sort. At 100 TB time-ordered paging on a "
    "time-partitioned layout prunes to the first partitions",
)
def dq4_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            F.date_trunc("second", F.col("ts")).cast("timestamp").alias("ts_sec"),
            "event_type",
            "user_id",
        )
        .orderBy("ts_sec", "event_id")
        .limit(200)
    )


_DQ14_CURSOR_TS = "2024-01-10 12:00:00"
_DQ14_CURSOR_ID = 12345


@register(
    "dq14_scan_keyset",
    f"""
    SELECT event_id,
           epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000) AS ts_sec,
           event_type, user_id
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND ts >= TIMESTAMP '{_DQ14_CURSOR_TS}'
      AND (epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000)
               > TIMESTAMP '{_DQ14_CURSOR_TS}'
           OR (epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000)
                   = TIMESTAMP '{_DQ14_CURSOR_TS}'
               AND event_id > {_DQ14_CURSOR_ID}))
    ORDER BY ts_sec, event_id
    LIMIT 200
    """,
    doc="Druid scan-query CONTINUATION (the resultFormat/offset paging "
    "surface) done the way 100 TB demands: KEYSET pagination, not "
    "OFFSET. The cursor is the (ts_sec, event_id) of the previous "
    "page's last row; the next page is WHERE (ts_sec, event_id) > "
    "cursor ORDER BY ts_sec, event_id LIMIT 200 — an OFFSET would "
    "re-scan and re-sort every earlier page's rows on every request, "
    "while the keyset bound prunes them at the SOURCE: the redundant "
    "conjunct ts >= cursor (implied by the keyset condition, since "
    "ts_sec = floor(ts) <= ts) is a RAW-column predicate that reaches "
    "the parquet scan as a pushed filter (plan-asserted), so on a "
    "time-partitioned layout every pre-cursor segment is skipped "
    "entirely. Cursor compares on the second-floored timestamp in both "
    "engines (the dq4 rule — raw-ts literal comparison would diverge "
    "on sub-microsecond payloads); event_id breaks ties per the LIMIT "
    "policy. Page 1 of this order is dq4",
)
def dq14_scan_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c_ts = F.lit(_DQ14_CURSOR_TS).cast("timestamp")
    ts_sec = F.date_trunc("second", F.col("ts")).cast("timestamp")
    return (
        ev.filter(
            F.col("event_type").isin("click", "purchase")
            & (F.col("ts") >= c_ts)
            & (
                (ts_sec > c_ts)
                | ((ts_sec == c_ts) & (F.col("event_id") > _DQ14_CURSOR_ID))
            )
        )
        .select(
            "event_id",
            ts_sec.alias("ts_sec"),
            "event_type",
            "user_id",
        )
        .orderBy("ts_sec", "event_id")
        .limit(200)
    )


@register(
    "dq15_rolling_active_users",
    """
    WITH spine AS (
        SELECT CAST(g AS DATE) AS day
        FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
                             INTERVAL 1 DAY) t(g)
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM events
    ),
    agg AS (
        SELECT s.day,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau,
               CAST(count(*) AS BIGINT) AS active_user_days
        FROM spine s
        JOIN activity a
          ON a.aday BETWEEN s.day - INTERVAL 6 DAY AND s.day
        GROUP BY s.day
    )
    SELECT s.day,
           CAST(coalesce(a.wau, 0) AS BIGINT) AS wau,
           CAST(coalesce(a.active_user_days, 0) AS BIGINT)
               AS active_user_days
    FROM spine s LEFT JOIN agg a USING (day)
    """,
    doc="Rolling 7-day distinct active users (the WAU timeseries — the "
    "windowed COUNT DISTINCT shape plain window functions cannot "
    "express, because DISTINCT is not frame-mergeable): the corpus "
    "reduces ONCE to distinct (user, day) pairs — bounded by "
    "|users|x|days| however many raw events exist — then each activity "
    "day fans out to the <=7 spine days whose trailing window contains "
    "it via a range join against the |interval| spine (30 rows, "
    "broadcast), and the final agg counts distinct users per spine day. "
    "Cost: one corpus shuffle for the distinct, then x7 duplication of "
    "the BOUNDED pair set, never of raw events; a dq5b-style zero-fill "
    "left-join against the spine guarantees the COMPLETE timeseries — "
    "a day whose window saw no activity emits wau=0, never vanishes "
    "(the fill join touches only the <=|spine|-row agg result). "
    "This is the exact twin "
    "of the approximate path at 100 TB: a6c's per-day HLL partials "
    "union-merged over any trailing window (register max = mergeable "
    "where DISTINCT is not); both ship, the exact one is certified. "
    "active_user_days (the non-distinct count) ships alongside to make "
    "the dedup effect visible per row",
)
def dq15_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("aday")
    ).distinct()
    spine = spark.range(1).select(
        F.explode(
            F.expr("sequence(date'2024-01-01', date'2024-01-30', interval 1 day)")
        ).alias("day")
    )
    agg = (
        F.broadcast(spine)
        .join(
            activity,
            (F.col("aday") >= F.date_sub(F.col("day"), 6))
            & (F.col("aday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.count(F.lit(1)).alias("active_user_days"),
        )
    )
    # zero-fill (dq5b shape): a spine day whose trailing window saw no
    # activity must emit wau=0, not vanish — the output is the COMPLETE
    # timeseries; this equality left-join touches only the <=|spine|-row
    # agg result, never the corpus
    return spine.join(agg, "day", "left").select(
        "day",
        F.coalesce("wau", F.lit(0)).cast("long").alias("wau"),
        F.coalesce("active_user_days", F.lit(0))
        .cast("long")
        .alias("active_user_days"),
    )


@register(
    "a14_first_last",
    """
    WITH keyed AS (
      SELECT *,
             epoch_ms(ts) * 1000000
               + CASE WHEN event_id >= 1000000 OR event_id < 0
                      THEN error('a14: event_id outside packed-key range')
                      ELSE event_id END AS tkey
      FROM events)
    SELECT epoch_ms(CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400000)
               AS day,
           event_type,
           arg_min(value, tkey) AS first_value,
           arg_max(value, tkey) AS last_value,
           CAST(arg_min(event_id, tkey) AS BIGINT) AS first_event_id,
           CAST(arg_max(event_id, tkey) AS BIGINT) AS last_event_id,
           count(*) AS n
    FROM keyed
    GROUP BY 1, 2
    """,
    doc="Druid first/last aggregators (doubleFirst/doubleLast — the "
    "time-ordered value aggregation family the A1-A12 reference "
    "inventory predates; Druid stores these as (timestamp, value) "
    "pairs whose merge keeps the extreme timestamp): earliest and "
    "latest metric value per (day, event_type), plus the carrying "
    "event ids. Spark's min_by/max_by IS Druid's pair representation — "
    "the combiner keeps the extreme-key tuple, so the agg stays one "
    "map-side-combined hash aggregate with no window and no self-join "
    "(the naive row_number()=1 formulation would sort every group); "
    "event_id tie-break makes equal-timestamp groups deterministic "
    "(Druid itself is undefined there — documented divergence in its "
    "favor). The composite (ts_millis, event_id) order travels as ONE "
    "BIGINT (millisecond resolution — Druid-faithful, its timestamps "
    "ARE millis): DuckDB 1.0's arg_min accepts only scalar keys, and a "
    "LONG key keeps Spark on HashAggregate where a string key silently "
    "falls back to SortAggregate (plan-asserted in tests). Values pass "
    "through raw — no accumulation, so no float policy needed. "
    "Hash-certified end-to-end",
)
def a14_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # composite (ts_millis, event_id) order as ONE BIGINT — a scalar key
    # is all DuckDB's arg_min accepts (no struct/list keys in 1.0), and a
    # LONG key keeps Spark on HashAggregate (a string key has an
    # immutable buffer and silently falls back to SortAggregate —
    # per-partition sort on every group, measured in the plan test).
    # Millisecond resolution is Druid-faithful (its timestamps ARE
    # millis); event_id must fit the low 6 digits, ENFORCED — an id at
    # 1e6 would silently bleed into the millisecond digits and corrupt
    # the ordering (code-review r07); at a wider id space split the key
    # or accept the sort-agg string form
    guarded_id = F.when(
        (F.col("event_id") >= 1_000_000) | (F.col("event_id") < 0),
        F.raise_error(
            F.lit("a14: event_id outside packed-key range")
        ).cast("long"),
    ).otherwise(F.col("event_id"))
    key = F.unix_millis("ts") * F.lit(1_000_000) + guarded_id
    return ev.groupBy(
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / 86400) * 86400
        ).alias("day"),
        F.col("event_type"),
    ).agg(
        F.min_by("value", key).alias("first_value"),
        F.max_by("value", key).alias("last_value"),
        F.min_by("event_id", key).cast("long").alias("first_event_id"),
        F.max_by("event_id", key).cast("long").alias("last_event_id"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "dq5_timeseries",
    """
    SELECT date_trunc('hour',
             strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
           ) AS bucket_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS uniq_users,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      AND event_type <> 'error'
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Druid timeseries query analog: granularity-bucketed aggregates plus "
    "a post-aggregation (avg = sum/count) over a filtered interval. The "
    "interval predicate and dimension filter reach the parquet scan (pushed "
    "filters); the agg is one hash agg with map-side partials keyed on the "
    "hour bucket. At 100 TB a time-partitioned layout prunes the interval "
    "to the touched partitions before any task launches",
)
def dq5_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec_sum = F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("event_type") != "error")
        )
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum.alias("sum_value"),
            F.countDistinct("user_id").alias("uniq_users"),
            (dec_sum / F.count(F.lit(1))).alias("avg_value"),
        )
        .orderBy("bucket_start")
    )


@register(
    "dq5b_zero_filled_timeseries",
    """
    WITH spine AS (
        SELECT CAST(g AS TIMESTAMP) AS bucket_start
        FROM generate_series(TIMESTAMP '2024-01-05 00:00:00',
                             TIMESTAMP '2024-01-11 23:45:00',
                             INTERVAL 15 MINUTE) t(g)
    ),
    agg AS (
        -- epoch_ms, not to_timestamp: CAST(to_timestamp(..) AS TIMESTAMP)
        -- shifts by the DuckDB host's TimeZone setting (code-review r07)
        SELECT epoch_ms(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900000)
                   AS bucket_start,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <  TIMESTAMP '2024-01-12 00:00:00'
          AND event_type = 'signup' AND value >= 100.0
        GROUP BY 1
    )
    SELECT s.bucket_start,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n,
           coalesce(a.sum_value, 0.0) AS sum_value,
           CASE WHEN a.n IS NULL THEN NULL
                ELSE round(a.sum_value / a.n, 6) END AS avg_value
    FROM spine s LEFT JOIN agg a USING (bucket_start)
    """,
    doc="Druid timeseries ZERO-FILLING (skipEmptyBuckets=false, the Druid "
    "default dq5 omits): every 15-minute grain in the queried interval "
    "emits a row — empty buckets carry the aggregator identities (count 0, "
    "doubleSum 0.0) and a NULL post-aggregation. The spine is generated "
    "with sequence() — |buckets| rows bounded by the INTERVAL, not the "
    "data — and left-joins the pre-aggregated (equally bucket-bounded) "
    "frame, so the fact table never touches the join: zero-fill costs "
    "nothing extra at 100 TB. The filter (signup + value >= 100) "
    "leaves BOTH empty and occupied buckets at every testdata SF "
    "(4/55/574 matching events at sf0.001/0.01/0.1 over 672 grains), "
    "so the zero-fill path and the occupied path are both exercised",
)
def dq5b_zero_filled_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("event_type") == "signup")
            & (F.col("value") >= 100.0)
        )
        .groupBy(
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 900) * 900
            ).alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(timestamp'2024-01-05 00:00:00', "
                "timestamp'2024-01-11 23:45:00', interval 15 minutes)"
            )
        ).alias("bucket_start")
    )
    return spine.join(agg, "bucket_start", "left").select(
        "bucket_start",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.when(
            F.col("n").isNotNull(),
            F.round(F.col("sum_value") / F.col("n"), 6),
        ).alias("avg_value"),
    )


@register(
    "dq16_timeseries_grand_total",
    """
    WITH base AS (
        SELECT epoch_ms(CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400000)
                   AS day,
               value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <  TIMESTAMP '2024-01-12 00:00:00'
          AND event_type <> 'error'
    )
    SELECT day,
           CAST(GROUPING(day) AS BIGINT) AS is_total,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM base
    GROUP BY ROLLUP(day)
    """,
    doc="Druid timeseries with grandTotal=true (TimeseriesQuery.html "
    "[recall]): the per-bucket rows PLUS one total row aggregating the "
    "whole interval, emitted by the same query. Spark-first this is NOT "
    "a second scan or a union: GROUP BY ROLLUP gives Catalyst one "
    "Expand + one hash agg — each input row feeds both grouping sets in "
    "a single pass, map-side combined, and the total row costs one "
    "extra group however large the corpus. is_total = GROUPING(day) "
    "distinguishes the all-rows row (day NULL) from a real bucket. Same "
    "decimal-accumulation float policy as dq5; the interval + dimension "
    "filter reach the parquet scan",
)
def dq16_timeseries_grand_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
        & (F.col("event_type") != "error")
    ).select(
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / 86400) * 86400
        ).alias("day"),
        "value",
    )
    return base.rollup("day").agg(
        F.grouping("day").cast("long").alias("is_total"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    ).select("day", "is_total", "n", "sum_value")


@register(
    "dq18_subtotals_spec",
    """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    )
    SELECT event_type, day,
           CAST(GROUPING(event_type) AS BIGINT) AS g_type,
           CAST(GROUPING(day) AS BIGINT) AS g_day,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM base
    GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
    """,
    doc="Druid groupBy subtotalsSpec (GroupByQuery.html#subtotalsspec "
    "[recall] — one query emitting several grouping-set result lists): "
    "the (type, day) detail plus per-type, per-day, and grand-total "
    "subtotals. Spark-first this is dq16's mechanism generalized — ONE "
    "GROUPING SETS pass: Catalyst's Expand feeds all four set shapes "
    "into a single map-side-combined hash agg, so each input row is "
    "scanned once however many subtotal lists the spec names (Druid "
    "itself re-aggregates its base result per list; here the Expand "
    "fan-out IS that re-use, pipelined). GROUPING() flags distinguish "
    "a real NULL dimension value from a rolled-up one — the same "
    "disambiguation Druid's subtotal rows need. Decimal accumulation, "
    "interval filter pushed to the scan",
)
def dq18_subtotals_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
    ).select("event_type", F.col("ts").cast("date").alias("day"), "value")
    return base.groupingSets(
        [["event_type", "day"], ["event_type"], ["day"], []],
        "event_type",
        "day",
    ).agg(
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("day").cast("long").alias("g_day"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
            "sum_value"
        ),
    ).select("event_type", "day", "g_type", "g_day", "n", "sum_value")


_DQ19_RECT = {
    "type": "spatial",
    "dimension": "coords",
    "bound": {
        "type": "rectangular",
        "minCoords": [-30.0, -60.0],
        "maxCoords": [30.0, 60.0],
    },
}
_DQ19_RADIUS = {
    "type": "spatial",
    "dimension": "coords",
    "bound": {"type": "radius", "coords": [10.0, 20.0], "radius": 45.0},
}


def _dq19_oracle_sql() -> str:
    rect = filter_to_sql(_DQ19_RECT)
    rad = filter_to_sql(_DQ19_RADIUS)
    return f"""
    WITH pts AS (
      SELECT event_type,
             CAST((user_id % 18000) / 100.0 - 90.0 AS VARCHAR) || ',' ||
             CAST((event_id % 36000) / 100.0 - 180.0 AS VARCHAR) AS coords
      FROM events),
    flags AS (
      SELECT event_type,
             CASE WHEN {rect} THEN 1 ELSE 0 END AS in_rect,
             CASE WHEN {rad} THEN 1 ELSE 0 END AS in_radius
      FROM pts)
    SELECT event_type,
           count(*) AS n_points,
           CAST(sum(in_rect) AS BIGINT) AS n_in_rect,
           CAST(sum(in_radius) AS BIGINT) AS n_in_radius,
           CAST(sum(in_rect * in_radius) AS BIGINT) AS n_in_both
    FROM flags GROUP BY event_type
    """


@register(
    "dq19_spatial_filter",
    _dq19_oracle_sql(),
    doc="Druid spatialDimensions + spatialFilter, end to end (r12 — "
    "closes the VERDICT r11 'missing' #3 gap: the \"lat,lon\" encode "
    "hook finally has a consumer): deterministic per-event coordinates "
    "(exact two-decimal doubles from integer arithmetic, "
    "engine-identical) are encoded through DimensionsSpec."
    "spatial_columns — the reference's DruidDimensions#"
    "spatialDimensions [recall] string convention — and filtered by "
    "BOTH spatialFilter bound types (processing/.../filter/"
    "SpatialFilter [recall]): a rectangular box (inclusive per-"
    "coordinate) and a Euclidean radius, compiled by filter_to_column "
    "with filter_to_sql as the cross-engine twin (the A8 dual-compile "
    "pattern extended to its eighth filter type). The encode→parse "
    "round trip is lossless in both engines (shortest-round-trip "
    "double repr + try_cast), so boundary decisions are hash-exact "
    "even where the intermediate strings differ. Scale: the whole "
    "entry is one narrow codegen projection + two predicates + one "
    "map-side-combined agg — scan-parallel at any size; on a layout "
    "partitioned by a coarse geo prefix the same predicate prunes "
    "partitions (the spatial analog of dq4's interval pruning)",
)
def dq19_spatial_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        ((F.col("user_id") % 18000) / F.lit(100.0) - F.lit(90.0)).alias("lat"),
        ((F.col("event_id") % 36000) / F.lit(100.0) - F.lit(180.0)).alias("lon"),
    )
    dspec = DimensionsSpec(
        dimensions=["event_type", "coords"],
        spatial_dimensions=[("coords", ("lat", "lon"))],
    )
    for name, expr in dspec.spatial_columns():
        pts = pts.withColumn(name, expr)
    in_rect = F.when(filter_to_column(_DQ19_RECT), 1).otherwise(0)
    in_radius = F.when(filter_to_column(_DQ19_RADIUS), 1).otherwise(0)
    return pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(in_rect).cast("long").alias("n_in_rect"),
        F.sum(in_radius).cast("long").alias("n_in_radius"),
        F.sum(in_rect * in_radius).cast("long").alias("n_in_both"),
    )


# dq20's bound sits where the fixture's points actually are: user_id caps
# at 1.5k per 100k events, so lat = user_id%18000/100 - 90 stays in
# [-90, -75] at every SF (dq19's [-30, 30] box tests the ZERO side of the
# flag arithmetic; a serving entry must select rows to be non-vacuous).
# Covering cells at 30 degrees: lat cell -3, lon cells -6..-4 — 3 of the
# layout's cells, so the pruned read is a real subset at every SF.
_DQ20_CELL_DEG = 30.0
_DQ20_RECT = {
    "type": "spatial",
    "dimension": "coords",
    "bound": {
        "type": "rectangular",
        "minCoords": [-90.0, -180.0],
        "maxCoords": [-85.0, -120.0],
    },
}


def _dq20_oracle_sql() -> str:
    rect = filter_to_sql(_DQ20_RECT)
    return f"""
    WITH pts AS (
      SELECT event_type,
             CAST((user_id % 18000) / 100.0 - 90.0 AS VARCHAR) || ',' ||
             CAST((event_id % 36000) / 100.0 - 180.0 AS VARCHAR) AS coords
      FROM events)
    SELECT event_type, count(*) AS n_in_rect
    FROM pts WHERE {rect}
    GROUP BY event_type
    """


@register(
    "dq20_spatial_served_filter",
    _dq20_oracle_sql(),
    doc="spatialFilter served from the PERSISTED geo-cell layout (r13 — "
    "dq19's 'on a partitioned layout the same predicate prunes "
    "partitions' prose made an executable entry, the dd19/sim3b serving "
    "pattern applied to geography): first touch per corpus writes the "
    "encoded points partitionBy(cell) at a digest-keyed location "
    "(sources/spatial.py#write_spatial_layout); every query after that "
    "is read_spatial_filtered — a covering-cell IN-list the planner "
    "turns into PartitionFilters pruning (only the bound's directories "
    "are scanned; covering property keeps it row-identical to the "
    "unpruned filter) plus the exact row predicate, then one map-side-"
    "combined agg. The oracle recomputes the same filtered aggregate "
    "from raw events, so a green hash certifies the whole layout round "
    "trip. Measured: 2.3x wall-clock at 100M rows for a 15/72 covering "
    "(SCALE.md r13). The coordinate encode is dq19's, inlined verbatim "
    "so dq19's certified fn stays untouched",
)
def dq20_spatial_served_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tranquility_spark.catalog_llm import (
        _index_cache_digest,
        _index_cache_key,
        _index_cache_root,
    )
    from tranquility_spark.sources.spatial import (
        read_spatial_filtered,
        write_spatial_layout,
    )

    ck = _index_cache_key(sf_dir, table="events")
    # the digest pins cell_deg AND an encode version alongside the corpus
    # fingerprint (the _minhash_index_table parameter-pinning rule, r13
    # self-review): changing the grid or the coordinate encode changes the
    # location, so a stale 30-degree layout can never serve a covering
    # list computed on a different grid (which would silently prune
    # EVERYTHING — the IN-list would match no cell values).
    layout = os.path.join(
        _index_cache_root(),
        f"geolayout-{_index_cache_digest(f'geolayout-cell{_DQ20_CELL_DEG}-enc1', ck)}",
    )
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        ev = _t(spark, sf_dir, "events")
        pts = ev.select(
            "event_type",
            ((F.col("user_id") % 18000) / F.lit(100.0) - F.lit(90.0)).alias("lat"),
            ((F.col("event_id") % 36000) / F.lit(100.0) - F.lit(180.0)).alias("lon"),
        )
        dspec = DimensionsSpec(
            dimensions=["event_type", "coords"],
            spatial_dimensions=[("coords", ("lat", "lon"))],
        )
        for name, expr in dspec.spatial_columns():
            pts = pts.withColumn(name, expr)
        # atomic first touch (VERDICT r14 #2): stage + one rename, so two
        # concurrent first touches can't interleave into a torn layout;
        # is_complete = the same _SUCCESS gate that triggered this build
        publish_layout_atomic(
            layout,
            lambda stage: write_spatial_layout(
                pts.select("event_type", "coords"), stage, cell_deg=_DQ20_CELL_DEG
            ),
            is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
        )
    got = read_spatial_filtered(spark, layout, _DQ20_RECT, cell_deg=_DQ20_CELL_DEG)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_rect")
    )


# dq21's range sits inside every SF's user_id domain (max 14 at sf0.001,
# 149 at sf0.01, 1499 at sf0.1): [3, 12) is non-vacuous everywhere and
# ~0.6%-of-users selective at the bench SF, where the clustered layout
# prunes 7 of its 8 files (footer-stats-asserted in tests/test_clustered.py).
_DQ21_LO, _DQ21_HI, _DQ21_FILES = 3, 12, 8


@register(
    "dq21_range_clustered_scan",
    f"""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id >= {_DQ21_LO} AND user_id < {_DQ21_HI}
    GROUP BY event_type
    """,
    doc="Dimension-range scan served from a PERSISTED range-clustered "
    "layout (r14 — Druid's secondary partitioning, partitionsSpec "
    "single_dim/range, server/.../SingleDimensionPartitionsSpec [recall], "
    "re-expressed Spark-first as repartitionByRange + sortWithinPartitions "
    "parquet: sources/clustered.py): first touch per corpus writes events "
    "range-clustered on user_id at a digest-keyed location; every query "
    "after that is a plain declarative range filter the planner pushes "
    "into the scan (PushedFilters, plan-asserted) and the parquet reader "
    "turns into row-group skips via the footer min/max the clustered "
    "write made tight — 1-2 of 8 files overlap the range at sf0.1 "
    "(footer-stats-asserted; the honest scale measurement — bytes "
    "touched 2.4% vs 100%, compression 43% better, but NO warm-cache "
    "local wall-clock win — is in SCALE.md r14). "
    "The oracle recomputes the same aggregate from raw events, so a green "
    "hash certifies the layout round trip. Completes the served-layout "
    "triptych: bucketed.py co-locates equi-joins, spatial.py prunes "
    "directories on a SMALL value domain, this prunes on a "
    "HIGH-CARDINALITY key with no directory explosion — the 100 TB lever "
    "for id/time range scans off the primary partition axis.",
)
def dq21_range_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tranquility_spark.catalog_llm import (
        _index_cache_digest,
        _index_cache_key,
        _index_cache_root,
    )
    from tranquility_spark.sources.clustered import (
        read_range_clustered,
        write_range_clustered,
    )

    ck = _index_cache_key(sf_dir, table="events")
    # digest pins the cluster column, file count and layout version with
    # the corpus fingerprint (the dq20/_minhash_index_table parameter-
    # pinning rule): changing any of them changes the location, so a read
    # can never consult footer stats written under different parameters.
    # v2 (r14 code-review): dropped the never-read event_id column from
    # the persisted layout — a column no consumer decodes still costs
    # encode + storage on every first touch.
    layout = os.path.join(
        _index_cache_root(),
        f"rangelayout-{_index_cache_digest(f'rangelayout-user_id-n{_DQ21_FILES}-v2', ck)}",
    )
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
        # atomic first touch — the shared helper (r15): this entry's
        # inline stage+rename was the pattern the helper extracts
        publish_layout_atomic(
            layout,
            lambda stage: write_range_clustered(
                ev, stage, "user_id", n_files=_DQ21_FILES
            ),
            is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
        )
    got = read_range_clustered(
        spark,
        layout,
        (F.col("user_id") >= _DQ21_LO) & (F.col("user_id") < _DQ21_HI),
    )
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )


@register(
    "dq17_time_extraction",
    """
    SELECT strftime(ts, '%Y-%m') AS month_label,
           CAST(isodow(ts) AS BIGINT) AS iso_dow,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Druid timeFormat extractionFn as a groupBy dimension "
    "(TimeFormatExtractionFn [recall]): the __time column projected "
    "through a format string ('yyyy-MM' month label) plus an ISO "
    "day-of-week — the weekday-seasonality query every event dashboard "
    "runs. Spark-first both extractions are codegen'd scalar exprs "
    "feeding ONE map-side-combined hash agg (group cardinality = months "
    "x 7, tiny at any corpus size); no calendar table join. "
    "Cross-engine care: the format tokens are locale-free (numeric "
    "year-month; ISO dow via Spark weekday()+1 == DuckDB isodow — "
    "locale-dependent day NAMES would diverge between JVM and ICU), "
    "and the NULL-ts guard applies the f7/w7 contract",
)
def dq17_time_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month_label"),
        (F.weekday("ts") + F.lit(1)).cast("long").alias("iso_dow"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )


# Druid registered-lookup analog: a small key->value map applied as a
# dimension transform at query time. Kept as one literal shared by the
# Spark map expression and the SQL CASE so the two dialects cannot drift.
_DQ10_LOOKUP = {
    "view": "engagement",
    "click": "engagement",
    "purchase": "conversion",
    "signup": "conversion",
    # 'error' deliberately unmapped -> exercises replaceMissingValueWith
}


@register(
    "dq10_lookup_dimension",
    f"""
    SELECT CASE {' '.join(f"WHEN event_type = '{k}' THEN '{v}'" for k, v in _DQ10_LOOKUP.items())}
                ELSE 'unknown' END AS stage,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Druid registered lookup (query-time dimension map with "
    "replaceMissingValueWith='unknown'): the lookup becomes a LITERAL map "
    "expression evaluated inline in whole-stage codegen — no join, no "
    "broadcast, no shuffle beyond the one post-lookup agg (keyed on the "
    "REMAPPED value, so cardinality is the lookup's image, smaller than "
    "the raw dimension's). At 100 TB a lookup of real size ships as one "
    "broadcast map variable; the query shape is unchanged",
)
def dq10_lookup_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lookup = F.create_map(
        *[F.lit(x) for kv in _DQ10_LOOKUP.items() for x in kv]
    )
    stage = F.coalesce(
        F.try_element_at(lookup, F.col("event_type")), F.lit("unknown")
    )
    return (
        ev.groupBy(stage.alias("stage"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").cast("long").alias("uniq_users"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "dq11_topn_extraction",
    """
    SELECT CAST(regexp_extract(p.p_brand, 'Brand#([0-9]+)', 1) AS BIGINT)
               AS brand_id,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    ORDER BY revenue DESC, brand_id
    LIMIT 10
    """,
    doc="Druid topN with a dimension extractionFn (regex capture): the "
    "grouping key is regexp_extract(p_brand, 'Brand#(\\\\d+)') cast to its "
    "numeric id — extraction happens inline pre-aggregation, so the agg "
    "keys on the EXTRACTED value (bounded by |brands|). Plan: part is the "
    "build side (AQE-sized — part scales with SF, so no explicit hint as "
    "of r11; AQE broadcasts it while it fits and lineitem never "
    "reshuffles for the join); the topN "
    "is TakeOrdered over |brands| rows with the deterministic "
    "(revenue DESC, brand_id) tie-break the LIMIT policy requires",
)
def dq11_topn_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # extraction evaluated on the DIM side before the broadcast: the regex
    # runs |parts| times, not |lineitem| times — at 100 TB that is the
    # difference between a per-fact-row regex and a negligible dim pass
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), r"Brand#([0-9]+)", 1)
        .cast("long")
        .alias("brand_id"),
    )
    return (
        # part scales with SF — AQE decides (r11 broadcast-hint policy)
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("brand_id")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "brand_id")
        .limit(10)
    )


@register(
    "dq6_topn",
    """
    SELECT user_id,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           count(*) AS n
    FROM events
    WHERE event_type IN ('click', 'purchase', 'view')
    GROUP BY user_id
    ORDER BY sum_value DESC, user_id
    LIMIT 25
    """,
    doc="Druid topN query analog (exact): top-K dimension values ranked by a "
    "metric aggregate, with a unique-key tie-break. Hash agg then "
    "TakeOrderedAndProject — per-partition heaps of K rows, no global sort. "
    "Druid's native topN is approximate (per-segment topK then merge); this "
    "entry is the exact semantics a migrating user gets for free on Spark, "
    "at the same two-exchange cost Druid pays",
)
def dq6_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase", "view"))
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.col("sum_value").desc(), "user_id")
        .limit(25)
    )


@register(
    "dq7_groupby_having",
    """
    SELECT event_type, user_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type, user_id
    HAVING count(*) >= 3
    ORDER BY sum_value DESC, event_type, user_id
    LIMIT 100
    """,
    doc="Druid groupBy query analog: multi-dimension grouping with a "
    "havingSpec (count >= 3) and a limitSpec (metric-descending, K=100, "
    "deterministic tie-break). One shuffle on the full grouping key with "
    "map-side partials; the HAVING is a post-agg filter (no second pass) "
    "and the limit is TakeOrderedAndProject. The third core Druid query "
    "type alongside timeseries (dq5) and topN (dq6)",
)
def dq7_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .filter(F.col("n") >= 3)
        .orderBy(F.col("sum_value").desc(), "event_type", "user_id")
        .limit(100)
    )


@register(
    "dq8_retention_cohorts",
    """
    WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                 FROM events),
         fs AS (SELECT user_id, min(day) AS cohort_day FROM act
                GROUP BY user_id)
    SELECT fs.cohort_day,
           CAST(date_diff('day', fs.cohort_day, act.day) AS BIGINT)
               AS day_offset,
           CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
    FROM act JOIN fs USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Retention-cohort analysis — the signature Druid event-analytics "
    "query over the datasource tranquility feeds: users bucketed by "
    "first-seen day, counted per (cohort, day-offset) activity cell. Plan: "
    "one (user, day) distinct (the only corpus-sized shuffle), the "
    "first-seen agg REUSES that frame, one user_id join, and a final agg "
    "bounded by days^2 cells — at 100 TB co-partition activity and "
    "first-seen on user_id and the join is exchange-free",
)
def dq8_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.event_analytics import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


@register(
    "dq9_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts >= v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
               GROUP BY e.user_id)
    SELECT CAST(count(v.t_view) AS BIGINT) AS n_viewed,
           CAST(count(c.t_click) AS BIGINT) AS n_clicked_after_view,
           CAST(count(p.t_purchase) AS BIGINT) AS n_purchased_after_click
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    doc="Ordered-sequence funnel (view -> click-after-view -> purchase-"
    "after-click): each stage is a per-user min-timestamp agg joined to "
    "the previous stage's anchor with an ordering predicate. All three "
    "stage frames are per-user (bounded by |users|, not |events|) and "
    "every join is keyed on user_id — co-partitioned at scale, with each "
    "stage's event scan pre-filtered to its type at the source",
)
def dq9_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.event_analytics import funnel_counts

    return funnel_counts(_t(spark, sf_dir, "events"))


@register(
    "dq12_nested_groupby",
    """
    SELECT CAST(n_events // 5 AS BIGINT) AS activity_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           CAST(sum(sum_value) AS DOUBLE) / CAST(sum(n_events) AS BIGINT)
               AS value_per_event
    FROM (
      SELECT user_id, count(*) AS n_events,
             sum(CAST(value AS DECIMAL(28,6))) AS sum_value
      FROM events GROUP BY user_id
    )
    GROUP BY n_events // 5
    ORDER BY activity_band
    """,
    doc="Druid nested groupBy (query datasource): the OUTER groupBy runs "
    "over the result of an inner groupBy, not over raw rows — here the "
    "count-of-counts distribution of user activity (users bucketed into "
    "5-event bands of their per-user event count, with per-band value-"
    "per-event). Druid executes the inner query into a temp datasource "
    "and rescans it; Spark pipelines both aggs in one plan — the corpus "
    "shuffles ONCE on user_id, and the outer agg's input is already "
    "bounded by |users| (its band-keyed exchange carries only the band "
    "cardinality after map-side combine). Decimal value accumulation "
    "survives to the outer sum exactly; the derived ratio divides the "
    "double-cast exact totals (a_derived_avg policy)",
)
def dq12_nested_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
    )
    return (
        per_user.groupBy(
            F.floor(F.col("n_events") / 5).cast("long").alias("activity_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("total_events"),
            (
                F.sum("sum_value").cast("double") / F.sum("n_events")
            ).alias("value_per_event"),
        )
        .orderBy("activity_band")
    )


@register(
    "dq13_moving_average",
    """
    WITH spine AS (
        SELECT CAST(g AS TIMESTAMP) AS bucket_start
        FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-02-04 00:00:00',
                             INTERVAL 1 DAY) t(g)
    ),
    agg AS (
        SELECT epoch_ms(CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400000)
                   AS bucket_start,
               count(*) AS n,
               sum(CAST(value AS DECIMAL(28,6))) AS sval
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    filled AS (
        SELECT s.bucket_start,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n,
               coalesce(a.sval, CAST(0 AS DECIMAL(28,6))) AS sval
        FROM spine s LEFT JOIN agg a USING (bucket_start)
    )
    SELECT bucket_start,
           n,
           CAST(sval AS DOUBLE) AS day_sum,
           round(CAST(sum(sval) OVER w AS DOUBLE) / 7, 6) AS ma7_sum,
           round(CAST(CAST(sum(n) OVER w AS BIGINT) AS DOUBLE) / 7, 6)
               AS ma7_n
    FROM filled
    WINDOW w AS (ORDER BY bucket_start ROWS BETWEEN 6 PRECEDING
                 AND CURRENT ROW)
    """,
    doc="Druid movingAverage query (the druid-moving-average-query "
    "extension): trailing 7-bucket doubleMeanAverager over a ZERO-FILLED "
    "daily timeseries — missing buckets contribute the aggregator "
    "identity and the divisor stays the period (7), so leading buckets "
    "are genuine warm-up frames and trailing empty days decay the "
    "average, exactly the extension's semantics. The window's input is "
    "the bucket SPINE (|interval|/grain rows — 35 here — bounded by the "
    "query, not the corpus), so the single-partition window sort is "
    "constant-cost at any data scale; the corpus contributes one "
    "map-combined day agg. Decimal accumulation runs through BOTH the "
    "day agg and the window frame (HANDOFF float policy) and converts "
    "to double only at the output; the spine extends past the data "
    "(Jan 31-Feb 4 empty) so zero-fill, warm-up, and decay frames are "
    "all exercised and certified",
)
def dq13_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 86400) * 86400
            ).alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sval"),
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(timestamp'2024-01-01 00:00:00', "
                "timestamp'2024-02-04 00:00:00', interval 1 day)"
            )
        ).alias("bucket_start")
    )
    filled = spine.join(agg, "bucket_start", "left").select(
        "bucket_start",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("sval", F.lit(0).cast("decimal(28,6)")).alias("sval"),
    )
    w = Window.orderBy("bucket_start").rowsBetween(-6, 0)
    return filled.select(
        "bucket_start",
        "n",
        F.col("sval").cast("double").alias("day_sum"),
        F.round(F.sum("sval").over(w).cast("double") / 7, 6).alias("ma7_sum"),
        F.round(F.sum("n").over(w).cast("double") / 7, 6).alias("ma7_n"),
    )


# ---------------------------------------------------------------------------
# Extension surfaces register themselves on import (they use `register` above,
# so these imports must stay at the bottom of this module).
# ---------------------------------------------------------------------------

from tranquility_spark import catalog_llm  # noqa: E402,F401
from tranquility_spark import catalog_relational  # noqa: E402,F401
from tranquility_spark import catalog_sketch  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-window rotation. The correctness driver certifies the FIRST 50 keys
# of ``queries()`` in dict order each round; the rotation only permutes that
# order. The ledger is certified_fingerprints.json (history: ADJUDICATION.md):
# fold greens with scripts/record_certified_fingerprints.py KEY...; rotate a
# key out by deleting its line.
# ---------------------------------------------------------------------------

_LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "certified_fingerprints.json")
with open(_LEDGER, encoding="utf-8") as _fh:
    _CERTIFIED = frozenset(json.load(_fh))

# Rows-only by policy (sketches, LSH, index-defined probe sets: no SQL oracle
# for a driver row to hash-match), so they lead the window permanently.
_R18_DRIVER_WINDOW = [
    "hh1_heavy_hitters_merge", "a11c_theta_setops_approx", "a11d_sketch_merge_rollup",
    "dd8_incremental_neardup", "a10c_quantile_sketch_merge", "dd11_bloom_gated_neardup",
    "sim5_pq_rerank", "pipe5_incremental_ingest", "a6c_hyperunique_mergeable", "a11e_theta_native",
    "a10e_kll_deterministic", "emb9_principal_component", "sim3_ivf_topk",
    "dd13b_kmeans_semantic_dedup", "a10f_gk_quantiles", "emb10_pca_project",
    "sim3b_ivf_persisted_serving", "sim5b_ivfpq_persisted_serving", "dd17_simhash_neardup",
    "dd18_simhash_incremental", "dd19_simhash_served_pairs", "dd20_minhash_served_pairs",
    "dd21_simhash_incremental_served", "dd22_minhash_incremental_served",
    "dd23_dhash_served_pairs", "dd24_dhash_incremental_served",
]


def _rotate_driver_window() -> None:
    lead = [k for k in _R18_DRIVER_WINDOW if k in CATALOG]
    # anything registered after this snapshot auto-joins the window
    lead += [k for k in CATALOG if k not in lead and k not in _CERTIFIED]
    ordered = {k: CATALOG[k] for k in lead}
    for k, v in list(CATALOG.items()):
        ordered.setdefault(k, v)
    CATALOG.clear()
    CATALOG.update(ordered)


# Fixture oracles embed the checkout's path; fingerprints see this instead.
_LEDGER_REPO_ROOT = "<repo>"


def certification_fingerprint(name: str) -> str:
    """sha256 of an entry's fn source + oracle SQL (helper edits: HANDOFF.md)."""
    import hashlib
    import inspect

    entry = CATALOG[name]
    try:
        src = inspect.getsource(entry.fn)
    except (OSError, TypeError):  # no retrievable source — identity only
        src = f"{entry.fn.__module__}.{getattr(entry.fn, '__qualname__', '?')}"
    payload = src + "\x00" + (entry.oracle or "None")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    payload = payload.replace(repo_root, _LEDGER_REPO_ROOT)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


_rotate_driver_window()
