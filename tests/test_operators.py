"""Unit tests for window filter, partitioning, parsing (SURVEY.md §2.2/§2.5)."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from tranquility_spark.operators.parse import parse_json_events
from tranquility_spark.operators.partitioning import portable_shard_sql, with_shard
from tranquility_spark.operators.window_filter import (
    two_sided_window_filter,
    window_condition,
    window_period_seconds,
)


def test_window_period_parser():
    assert window_period_seconds("PT10M") == 600
    assert window_period_seconds("PT1H30M") == 5400
    assert window_period_seconds("PT45S") == 45
    assert window_period_seconds(120) == 120


def test_two_sided_window_filter_drops_late_and_future(spark):
    now = dt.datetime(2024, 1, 15, 12, 0, 0)
    rows = [
        (1, now - dt.timedelta(minutes=9)),   # in window (late side)
        (2, now + dt.timedelta(minutes=9)),   # in window (future side)
        (3, now - dt.timedelta(minutes=11)),  # too late → drop
        (4, now + dt.timedelta(minutes=11)),  # too far future → drop (watermark can't do this)
        (5, now),                             # exactly now
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    kept = {r["id"] for r in two_sided_window_filter(df, "ts", "PT10M", now=now).collect()}
    assert kept == {1, 2, 5}


def test_window_filter_latest_close_time(spark):
    # reference: no event may land at/before latestCloseTime (ClusteredBeam ZK state)
    now = dt.datetime(2024, 1, 15, 12, 0, 0)
    close = dt.datetime(2024, 1, 15, 11, 55, 0)
    rows = [(1, now - dt.timedelta(minutes=7)), (2, now - dt.timedelta(minutes=3))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    kept = {r["id"] for r in two_sided_window_filter(df, "ts", "PT10M", now=now, latest_close_time=close).collect()}
    assert kept == {2}


def test_window_condition_sql_matches_literal_columns(spark):
    """The SQL-text predicate converts ``now``/``latestCloseTime`` exactly as
    ``F.lit(value).cast("timestamp")`` does: aware datetimes as their UTC
    instant, naive ones as host-local time (checked on a non-UTC host) or,
    where the session prefers TIMESTAMP_NTZ, session-zone time, and strings
    in the session time zone. Every row gets the same verdict."""
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        base = dt.datetime(2024, 3, 10, 9, 0, 0)  # the US spring-forward day
        utc = dt.timezone.utc
        # events every 7 min for +-14 h around 09:00 PDT = 16:00 UTC
        base_us = int(dt.datetime(2024, 3, 10, 16, 0, tzinfo=utc).timestamp()) * 10**6
        df = spark.range(-120, 121).selectExpr(
            "id", f"timestamp_micros({base_us} + id * 420000000) AS `ev ts`"
        )
        probes = [  # (now, latest_close_time, session prefers TIMESTAMP_NTZ)
            (base, None, False),
            (base, base - dt.timedelta(minutes=20), False),
            (dt.datetime(2024, 3, 10, 16, 0, tzinfo=utc), dt.datetime(2024, 3, 10, 15, 45, tzinfo=utc), False),
            (dt.datetime(2024, 3, 10, 11, 0, tzinfo=dt.timezone(dt.timedelta(hours=-5))), None, False),
            ("2024-03-10 16:30:00", "2024-03-10 16:24:00", False),
            (base, base - dt.timedelta(minutes=20), True),
        ]
        cols = []
        for k, (now, close, ntz) in enumerate(probes):
            if ntz:
                spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
            try:
                ts, now_col = F.col("`ev ts`"), F.lit(now).cast("timestamp")
                want = (ts >= now_col - F.expr("INTERVAL 3600 SECONDS")) & (
                    ts <= now_col + F.expr("INTERVAL 3600 SECONDS")
                )
                if close is not None:
                    want = want & (ts > F.lit(close).cast("timestamp"))
                got = F.expr(window_condition("ev ts", "PT1H", now, close))
            finally:
                spark.conf.unset("spark.sql.timestampType")
            cols += [want.alias(f"want{k}"), got.alias(f"got{k}")]
        rows = df.select(*cols).collect()
        for k, probe in enumerate(probes):
            want = [r[f"want{k}"] for r in rows]
            assert [r[f"got{k}"] for r in rows] == want and any(want), probe
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_portable_shard_matches_duckdb(spark, duck):
    n = 8
    df = spark.createDataFrame([(i,) for i in range(1000)], "user_id long")
    spark_shards = {
        r["user_id"]: r["shard"] for r in with_shard(df, "user_id", n).collect()
    }
    duck_rows = duck.sql(
        f"SELECT i AS user_id, {portable_shard_sql('i', n)} AS shard FROM range(1000) t(i)"
    ).fetchall()
    for uid, shard in duck_rows:
        assert spark_shards[uid] == shard


def test_shard_routing_stable_and_complete(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "user_id long")
    out = with_shard(df, "user_id", 4).groupBy("shard").count().collect()
    assert {r["shard"] for r in out} == {0, 1, 2, 3}
    assert sum(r["count"] for r in out) == 500


def test_parse_json_drop_malformed(spark):
    df = spark.createDataFrame(
        [('{"k": 1}',), ("not json",), ('{"k": 3}',)], "props string"
    )
    ok = parse_json_events(df, "props", "k INT", drop_malformed=True)
    assert sorted(r["k"] for r in ok.collect()) == [1, 3]


def test_parse_json_corrupt_record_mode(spark):
    df = spark.createDataFrame([('{"k": 1}',), ("not json",)], "props string")
    out = parse_json_events(df, "props", "k INT", drop_malformed=False)
    rows = out.collect()
    assert len(rows) == 2
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["_corrupt_record"] == "not json"


def test_salted_join_matches_plain_join(spark):
    from tranquility_spark.operators.partitioning import salted_join
    from pyspark.sql import functions as F

    # one pathologically hot key (90% of rows) + a long tail
    fact = spark.createDataFrame(
        [(1 if i % 10 else i, float(i)) for i in range(1000)], "k long, v double"
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(1000)], "k long, name string")
    plain = fact.join(dim, "k").groupBy("name").agg(F.sum("v").alias("s"))
    salted = salted_join(fact, dim, "k").groupBy("name").agg(F.sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_join_backward_semantics(spark):
    import datetime as dt

    from tranquility_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 6, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10), "a"), (1, T(20), "b"), (2, T(15), "c"), (3, T(5), "d")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(15), 200.0), (2, T(16), 300.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {r.tag: r.value_asof for r in asof_join(left, right, by="user_id").collect()}
    assert out == {
        "a": 100.0,   # tie at 12:10 → right row visible (ties-backward)
        "b": 200.0,   # latest prior of user 1
        "c": None,    # user 2's only right row is later
        "d": None,    # user 3 has no right rows
    }


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """A6/A7 approx twins must track their exact twins (HLL++ rsd default 5%;
    assert a loose 15% envelope so the test is load- and version-stable)."""
    from pyspark.sql import functions as F
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    row = docs.agg(
        F.countDistinct("source").alias("exact"),
        F.approx_count_distinct("source").alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) <= max(0.15 * row.exact, 2)

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) <= 0.15 * row.exact


def test_asof_join_attaches_whole_row_not_stitched_fields(spark):
    """A NULL field inside the matched right row must stay NULL — per-column
    back-fill would stitch fields from different right rows together."""
    import datetime as dt

    from tranquility_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 6, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame([(1, T(30), "x")], "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, T(10), 100.0, "old"), (1, T(20), None, "new")],
        "user_id long, ts timestamp, value double, label string",
    )
    row = asof_join(left, right, by="user_id").first()
    # matched row is the T(20) one: label carries, value stays NULL
    assert row.label_asof == "new"
    assert row.value_asof is None


def test_asof_join_value_column_with_dot_in_name(spark):
    """Struct fields are accessed with getField, so a right column whose name
    contains a dot resolves literally instead of as a nested path."""
    import datetime as dt

    from tranquility_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 6, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame([(1, T(30), "x")], "user_id long, ts timestamp, tag string")
    right = (
        spark.createDataFrame([(1, T(10), 7.5)], "user_id long, ts timestamp, v double")
        .withColumnRenamed("v", "price.usd")
    )
    row = asof_join(left, right, by="user_id").first()
    assert row["price.usd_asof"] == 7.5


def test_portable_shard_negative_keys_match_duckdb(spark, duck):
    n = 8
    keys = [-1000, -13, -1, 0, 7, 999999]
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    spark_shards = {r["user_id"]: r["shard"] for r in with_shard(df, "user_id", n).collect()}
    duck_rows = duck.sql(
        f"SELECT k AS user_id, {portable_shard_sql('k', n)} AS shard "
        f"FROM (VALUES {','.join(f'({k})' for k in keys)}) t(k)"
    ).fetchall()
    for uid, shard in duck_rows:
        assert 0 <= shard < n
        assert spark_shards[uid] == shard


def test_epoch_shuffle_deterministic_dense_positions(spark):
    from tranquility_spark.operators.partitioning import epoch_shuffle

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = epoch_shuffle(df, "doc_id", seed=7, n_shards=8).collect()
    assert len(out) == 300
    # positions are dense 1..count within each shard
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic across runs; a different seed permutes the order
    again = epoch_shuffle(df, "doc_id", seed=7, n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = epoch_shuffle(df, "doc_id", seed=8, n_shards=8).collect()
    key7 = {r.doc_id: (r.shard, r.pos) for r in out}
    key8 = {r.doc_id: (r.shard, r.pos) for r in other}
    assert any(key7[d] != key8[d] for d in key7)


def test_epoch_shuffle_string_keys(spark):
    # string keys must shuffle, not collapse: the old seed fold
    # (F.col(key) + seed) numerically coerced strings to NULL, sending every
    # row to one NULL shard — both hash paths must spread string-keyed rows
    from pyspark.sql import functions as F

    from tranquility_spark.operators.partitioning import epoch_shuffle

    df = (
        spark.range(0, 2000)
        .select(F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"))
    )
    for portable in (False, True):
        out = epoch_shuffle(df, "doc_id", seed=7, n_shards=16, portable=portable)
        agg = out.agg(
            F.countDistinct("shard").alias("n_shards"),
            F.sum(F.col("ord_key").isNull().cast("int")).alias("null_keys"),
        ).collect()[0]
        assert agg["null_keys"] == 0, f"portable={portable}"
        assert agg["n_shards"] == 16, f"portable={portable}"


def test_epoch_shuffle_default_escapes_portable_ceiling(spark):
    # the portable hash pre-reduces mod 100,003 so ord_key can never exceed
    # 100,003 distinct values (half of a 200k-shard layout permanently
    # empty); the xxhash64 default must blow past that ceiling and occupy
    # large shard counts
    from pyspark.sql import functions as F

    from tranquility_spark.operators.partitioning import epoch_shuffle

    n, shards = 250_000, 150_000
    df = spark.range(0, n).withColumnRenamed("id", "doc_id")
    stats = (
        epoch_shuffle(df, "doc_id", seed=3, n_shards=shards)
        .agg(
            F.countDistinct("ord_key").alias("n_ord"),
            F.countDistinct("shard").alias("n_shard"),
        )
        .collect()[0]
    )
    assert stats["n_ord"] > 100_003  # impossible on the portable path
    # balls-in-bins: 250k keys into 150k shards occupies ~81%; portable
    # path could never exceed 100,003
    assert stats["n_shard"] > 110_000
    # the portable path really is ceilinged (documented limitation)
    port = (
        epoch_shuffle(df, "doc_id", seed=3, n_shards=shards, portable=True)
        .agg(F.countDistinct("ord_key").alias("n_ord"))
        .collect()[0]
    )
    assert port["n_ord"] <= 100_003


def test_epoch_shuffle_rejects_bad_shards(spark):
    from tranquility_spark.operators.partitioning import epoch_shuffle

    df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        epoch_shuffle(df, "doc_id", seed=1, n_shards=0)


def test_per_key_topn_equals_window_form_on_skewed_keys(spark):
    """per_key_topn's two-phase salted rank must be ROW-identical to the
    single-window form for any total ordering — including a pathologically
    skewed key (one key holding 90% of rows, the case the rewrite exists
    for) and n larger than some keys' row counts."""
    import pyspark.sql.functions as FF
    from pyspark.sql import Window

    from tranquility_spark.operators.partitioning import per_key_topn

    rows = [("hot", i, float(i % 97)) for i in range(900)]
    rows += [("warm", 1000 + i, float(i)) for i in range(80)]
    rows += [("cold", 2000 + i, float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "key string, id long, score double")

    order = [FF.col("score").desc(), FF.col("id")]
    got = sorted(
        (r.key, r.id, r.rn)
        for r in per_key_topn(
            df, "key", order, n=10, id_col="id", salt_buckets=8
        ).collect()
    )
    w = Window.partitionBy("key").orderBy(*order)
    want = sorted(
        (r.key, r.id, r.rn)
        for r in df.withColumn("rn", FF.row_number().over(w))
        .filter(FF.col("rn") <= 10)
        .collect()
    )
    assert got == want
    # cold key has 3 rows < n=10: all survive, ranked by score desc
    assert [r for r in got if r[0] == "cold"] == [
        ("cold", 2000, 3), ("cold", 2001, 2), ("cold", 2002, 1)
    ]


def test_dq8_retention_semantics(spark, sf_dir):
    """Cohort cells must partition user-day activity: offset 0 row exists
    per cohort (the first-seen day itself), offsets are non-negative, and
    summing each cohort's day-0 users equals the distinct user count."""
    from pyspark.sql import functions as F

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["dq8_retention_cohorts"].fn(spark, sf_dir).collect()
    assert rows and all(r.day_offset >= 0 for r in rows)
    day0 = {r.cohort_day: r.n_users for r in rows if r.day_offset == 0}
    cohorts = {r.cohort_day for r in rows}
    assert set(day0) == cohorts, "every cohort must have its day-0 cell"
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(day0.values()) == n_users


def test_dq9_funnel_monotone(spark, sf_dir):
    """Funnel stages can only shrink, and stage 1 equals the number of
    users with any view event."""
    from pyspark.sql import functions as F

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    r = CATALOG["dq9_funnel"].fn(spark, sf_dir).collect()[0]
    assert r.n_viewed >= r.n_clicked_after_view >= r.n_purchased_after_click >= 0
    n_viewers = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_viewed == n_viewers
    assert r.n_clicked_after_view > 0, "fixture must exercise stage 2"


def test_winsorize_single_row_group_degenerates_cleanly(spark):
    """A group with one row has p05 == p95 == the value: nothing clips
    and the winsorized sum is the value itself (pins the interpolation
    edge the fixture never exercises)."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [("solo", 42.5), ("pair", 1.0), ("pair", 3.0)],
        "event_type string, value double",
    )
    pct = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.05), 6).alias("p05"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    rows = {
        r.event_type: r
        for r in ev.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("p05").alias("p05"),
            F.any_value("p95").alias("p95"),
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0)).alias("lo"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0)).alias("hi"),
            F.sum(clipped.cast("decimal(28,6)")).cast("double").alias("wsum"),
        )
        .collect()
    }
    s = rows["solo"]
    assert s.p05 == s.p95 == 42.5 and s.lo == s.hi == 0 and s.wsum == 42.5
    p = rows["pair"]
    assert p.p05 < p.p95 and p.lo == p.hi == 1


def test_dq5b_zero_fill_semantics(spark, sf_dir):
    """Zero-filled timeseries: the spine emits EVERY 15-minute grain of the
    7-day interval (672 rows), the sparse filter leaves genuinely empty
    buckets (else the entry tests nothing), empties carry the aggregator
    identities, and avg is NULL exactly on empties."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["dq5b_zero_filled_timeseries"].fn(spark, sf_dir).collect()
    assert len(rows) == 7 * 96
    empties = [r for r in rows if r.n == 0]
    assert empties, "fixture produced no empty buckets — tighten the filter"
    # both classes must exist or the entry is vacuous (code-review r07:
    # the original value>=400 filter matched NOTHING below sf0.1)
    assert any(r.n > 0 for r in rows), "filter matched no events — loosen it"
    for r in empties:
        assert r.sum_value == 0.0 and r.avg_value is None
    for r in rows:
        if r.n > 0:
            assert r.avg_value is not None
    starts = sorted(r.bucket_start for r in rows)
    assert (starts[1] - starts[0]).total_seconds() == 900


def test_dq10_lookup_is_joinless_and_total(spark, sf_dir):
    """The lookup is a literal map expression: the plan must contain NO
    join of any kind, the buckets must partition all events (counts sum to
    the table total), and unmapped values land in 'unknown'."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    df = CATALOG["dq10_lookup_dimension"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    rows = {r.stage: r for r in df.collect()}
    assert set(rows) == {"engagement", "conversion", "unknown"}
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows.values()) == total
    errors = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    assert rows["unknown"].n == errors


def test_dq11_extraction_plan_and_values(spark, sf_dir):
    """extractionFn topN: part broadcasts (lineitem never reshuffles for
    the join), the result is TakeOrdered, and the extracted key is the
    numeric brand id."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["dq11_topn_extraction"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert len(rows) == 10
    assert all(isinstance(r.brand_id, int) and r.brand_id >= 0 for r in rows)
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_dq12_nested_groupby_reconciles(spark, sf_dir):
    """The outer (band-level) aggregate must reconcile exactly with the raw
    frame: user counts partition the distinct-user set, event totals sum to
    |events|, and the per-band value-per-event ratios recombine to the
    corpus value total."""
    from pyspark.sql import functions as F

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["dq12_nested_groupby"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert rows and all(r.activity_band >= 0 for r in rows)
    bands = [r.activity_band for r in rows]
    assert bands == sorted(bands) and len(bands) == len(set(bands))
    assert sum(r.n_users for r in rows) == ev.select("user_id").distinct().count()
    assert sum(r.total_events for r in rows) == ev.count()
    # every user's n_events falls inside its band's [5b, 5b+5) range
    per_user = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    from collections import Counter

    want = Counter(r["n"] // 5 for r in per_user)
    assert {r.activity_band: r.n_users for r in rows} == dict(want)
    total_value = sum(r.value_per_event * r.total_events for r in rows)
    true_value = ev.agg(F.sum("value")).collect()[0][0]
    assert abs(total_value - true_value) <= 1e-6 * abs(true_value)


def test_dq12_plan_single_corpus_shuffle(spark, sf_dir):
    """dq12's doc claims ONE corpus-sized shuffle: the physical plan must
    show exactly two hash exchanges — user_id (corpus-sized, with map-side
    partial agg below it) and the band grouping (bounded by band
    cardinality) — plus only the final range partitioning for the sort."""
    from tranquility_spark.catalog import CATALOG

    plan = (
        CATALOG["dq12_nested_groupby"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 2, hash_exchanges
    assert sum("user_id" in ln for ln in hash_exchanges) == 1, hash_exchanges
    assert "partial_count" in plan and "partial_sum" in plan  # map-side combine


def test_a14_first_last_order_and_tiebreak(spark, tmp_path):
    """Hand-built day: first/last pick the extreme-timestamp values, an
    equal-timestamp pair resolves by event_id (the deterministic
    divergence from Druid's undefined tie), and the plan is a single
    hash aggregate with a partial (map-side) phase — no window, no
    sort, no join."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG

    rows = [
        (3, dt.datetime(2024, 1, 1, 12, 0), "view", 1, 30.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 8, 0), "view", 1, 10.0, "{}"),
        # equal-timestamp pair: event_id 4 < 5 -> 4 is "later tie loser"
        (5, dt.datetime(2024, 1, 1, 23, 0), "view", 1, 55.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 23, 0), "view", 1, 44.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9, 0), "click", 1, 20.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, event_type string, user_id long, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    out_df = CATALOG["a14_first_last"].fn(spark, d)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "min_by" in plan, plan
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan and "Window" not in plan, plan
    out = {(r.day.date().isoformat(), r.event_type): r for r in out_df.collect()}
    v = out[("2024-01-01", "view")]
    assert (v.first_value, v.first_event_id) == (10.0, 1)
    assert (v.last_value, v.last_event_id) == (55.0, 5)  # tie -> higher id
    assert v.n == 4
    c = out[("2024-01-01", "click")]
    assert (c.first_value, c.last_value) == (20.0, 20.0)


def test_w7_zscore_baseline_excludes_current_and_min_history(spark, tmp_path):
    """Hand-built sequence: a user emits 10 identical values then one
    spike. The spike's baseline is the 10 PRIOR values only (variance 0 →
    unscoreable, z null — the current value must NOT contaminate its own
    baseline, which would make variance positive); a second user with
    varied history scores the spike correctly against numpy-computed
    population moments; rows 1-5 are unscored (min history)."""
    import datetime as dt

    import numpy as np

    from tranquility_spark.catalog import CATALOG

    rows = []
    eid = 0
    # user 1: constant history then a spike
    for i in range(10):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1, 10, i), "view", 1, 50.0, "{}"))
    eid += 1
    rows.append((eid, dt.datetime(2024, 1, 1, 11, 0), "view", 1, 500.0, "{}"))
    # user 2: varied history then a spike
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    for i, v in enumerate(vals):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1, 10, i), "view", 2, v, "{}"))
    eid += 1
    spike_id = eid
    rows.append((eid, dt.datetime(2024, 1, 1, 11, 0), "view", 2, 200.0, "{}"))

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, event_type string, user_id long, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    out = {
        r.event_id: r
        for r in CATALOG["w7_rolling_zscore"].fn(spark, d).collect()
    }
    # user 1's spike: 10-value constant baseline → var 0 → unscoreable
    spike1 = out[11]
    assert spike1.n_hist == 10 and spike1.z is None and spike1.is_anomaly == 0
    # first 5 events of each user unscored (min history)
    assert all(out[i].z is None for i in range(1, 6))
    # user 2's spike: z against numpy population moments of the 6 priors
    hist = np.array(vals)
    expect_z = round((200.0 - hist.mean()) / hist.std(), 6)
    got = out[spike_id]
    assert got.n_hist == 6
    assert abs(got.z - expect_z) < 1e-9
    assert got.is_anomaly == (1 if abs(expect_z) > 2 else 0)


def test_dq15_rolling_wau_hll_window_merge_tracks_exact(spark, sf_dir):
    """The 100 TB claim in dq15's doc, executed: per-DAY HLL partials
    union-merged over each trailing 7-day window must estimate within 5%
    of the exact rolling distinct count for every spine day (lgk=12 RSE
    ~1.6%) — i.e. the mergeable sketch path really can serve any rolling
    window from day-grain partials without touching raw events again."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.hll import (
        hll_estimates,
        hll_merge,
        hll_partials,
    )
    from tranquility_spark.sources.files import load_table

    exact = {
        r.day: r.wau
        for r in CATALOG["dq15_rolling_active_users"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("aday")
    )
    per_day = hll_partials(ev, ["aday"], "user_id").localCheckpoint(
        eager=True
    )
    for day, true_wau in sorted(exact.items()):
        window = per_day.filter(
            (F.col("aday") >= F.lit(day - dt.timedelta(days=6)))
            & (F.col("aday") <= F.lit(day))
        ).withColumn("g", F.lit(1))
        est = hll_estimates(hll_merge(window, ["g"])).first()["distinct_est"]
        assert abs(est - true_wau) <= max(0.05 * true_wau, 3), (
            day,
            est,
            true_wau,
        )


def test_dq14_keyset_page_semantics_and_pushdown(spark, sf_dir):
    """Keyset continuation: every returned row is strictly after the
    cursor in (ts_sec, event_id) order, rows arrive in that order with no
    gap at the front (the first row is the global minimum above the
    cursor), and the redundant raw-ts bound reaches the parquet scan as a
    pushed filter — the predicate that makes pre-cursor segments
    skippable on a time-partitioned layout."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG

    df = CATALOG["dq14_scan_keyset"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    rows = df.collect()
    cursor = (dt.datetime(2024, 1, 10, 12, 0, 0), 12345)
    keys = [(r.ts_sec, r.event_id) for r in rows]
    assert all(k > cursor for k in keys)
    assert keys == sorted(keys)
    if rows:
        from tranquility_spark.sources.files import load_table

        ev = load_table(spark, sf_dir, "events")
        first = (
            ev.filter(F.col("event_type").isin("click", "purchase"))
            .select(
                F.date_trunc("second", F.col("ts"))
                .cast("timestamp")
                .alias("ts_sec"),
                "event_id",
            )
            .collect()
        )
        above = sorted(
            (r.ts_sec, r.event_id) for r in first if (r.ts_sec, r.event_id) > cursor
        )
        assert keys[0] == above[0]


def test_dq13_moving_average_warmup_filter_and_decay(spark, tmp_path):
    """The trailing 7-day averager with the fixed-period divisor: a day-1
    event contributes value/7 immediately (warm-up frames divide by 7, not
    by frame size), stays in the average through day 7, and falls out on
    day 8; non-purchase events are filtered; the spine emits all 35 rows
    regardless of data."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG

    events = [
        (1, dt.datetime(2024, 1, 1, 10, 0), "purchase", 7.0),
        (2, dt.datetime(2024, 1, 1, 11, 0), "view", 700.0),  # filtered out
        (3, dt.datetime(2024, 1, 2, 9, 0), "purchase", 14.0),
    ]
    df = spark.createDataFrame(
        [(i, ts, et, v, "{}") for i, ts, et, v in events],
        "event_id long, ts timestamp, event_type string, value double, props string",
    ).withColumn("user_id", F.col("event_id"))
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")

    rows = {
        r.bucket_start.date().isoformat(): r
        for r in CATALOG["dq13_moving_average"].fn(spark, d).collect()
    }
    assert len(rows) == 35
    assert rows["2024-01-01"].day_sum == 7.0 and rows["2024-01-01"].n == 1
    assert rows["2024-01-01"].ma7_sum == 1.0  # 7/7: divisor is the period
    assert rows["2024-01-02"].ma7_sum == 3.0  # (7+14)/7
    assert rows["2024-01-07"].ma7_sum == 3.0  # day-1 still in frame
    assert rows["2024-01-08"].ma7_sum == 2.0  # day-1 fell out, day-2 remains
    assert rows["2024-01-09"].ma7_sum == 0.0  # both decayed
    assert rows["2024-02-04"].n == 0 and rows["2024-02-04"].ma7_sum == 0.0


def test_t4_tz_bucket_dst_boundaries(spark, tmp_path):
    """Timezone-aware day buckets across both DST transitions: the
    spring-forward local day (2024-03-10, 23h) runs 08:00->07:00 UTC and
    the fall-back day (2024-11-03, 25h) runs 07:00->08:00 UTC; events one
    second either side of those instants land in different buckets. Also
    proves the DuckDB oracle is session-TimeZone-proof (a hostile
    Asia/Tokyo session yields identical rows)."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG

    events = [
        (1, dt.datetime(2024, 3, 10, 7, 59, 59), 1.0),   # still local 03-09
        (2, dt.datetime(2024, 3, 10, 8, 0, 0), 1.0),     # local 03-10 begins
        (3, dt.datetime(2024, 3, 11, 6, 59, 59), 1.0),   # 23h later: still 03-10
        (4, dt.datetime(2024, 3, 11, 7, 0, 0), 1.0),     # local 03-11 (PDT)
        (5, dt.datetime(2024, 11, 3, 6, 59, 59), 1.0),   # still local 11-02
        (6, dt.datetime(2024, 11, 3, 7, 0, 0), 1.0),     # local 11-03 begins
        (7, dt.datetime(2024, 11, 4, 7, 59, 59), 1.0),   # 25h later: still 11-03
        (8, dt.datetime(2024, 11, 4, 8, 0, 0), 1.0),     # local 11-04 (PST)
    ]
    df = spark.createDataFrame(
        [(i, ts, "view", v, "{}") for i, ts, v in events],
        "event_id long, ts timestamp, event_type string, value double, props string",
    ).withColumn("user_id", FF.col("event_id"))
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")

    rows = CATALOG["t4_tz_day_rollup"].fn(spark, d).collect()
    got = {r.local_date.isoformat(): (r.bucket_start_utc, r.n) for r in rows}
    assert got["2024-03-10"] == (dt.datetime(2024, 3, 10, 8, 0), 2)
    assert got["2024-03-11"] == (dt.datetime(2024, 3, 11, 7, 0), 1)
    assert got["2024-11-03"] == (dt.datetime(2024, 11, 3, 7, 0), 2)
    assert got["2024-11-04"] == (dt.datetime(2024, 11, 4, 8, 0), 1)
    assert got["2024-03-09"][1] == 1 and got["2024-11-02"][1] == 1

    con = duckdb.connect()
    con.execute("SET TimeZone='Asia/Tokyo'")  # hostile session zone
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    oracle = con.execute(CATALOG["t4_tz_day_rollup"].oracle).fetchall()
    got_o = {r[1].isoformat(): (r[0], r[2]) for r in oracle}
    assert got_o == {k: v for k, v in got.items()}


def test_principal_component_matches_numpy_and_is_deterministic(spark, sf_dir):
    """emb9's principal component: (a) rerun bit-identical (no RNG
    anywhere), (b) matches an independent full-numpy eigensolve of the RAW
    corpus to float tolerance (Spark's distributed covariance sums differ
    from numpy's only in accumulation order), (c) unit-norm loadings,
    (d) the eigenvalue dominates every coordinate-axis variance (Rayleigh
    optimality over the axes), (e) explained share in (0, 1]."""
    import numpy as np

    from pyspark.sql import functions as FF

    from tranquility_spark.operators.embeddings import principal_component
    from tranquility_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    v1, l1, s1 = principal_component(e)
    v2, l2, s2 = principal_component(e)
    assert (v1, l1, s1) == (v2, l2, s2)  # bit-identical rerun

    X = np.array([r["embedding"] for r in e.select("embedding").collect()],
                 dtype=np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    pivot = int(np.argmax(np.abs(top)))
    if top[pivot] < 0:
        top = -top
    assert abs(l1 - w[-1]) <= 1e-6 * max(1.0, abs(w[-1]))
    # eigenvector comparison, gap-proof by construction (VERDICT r8 #4):
    # direct loadings comparison is only well-posed when the top eigenvalue
    # is isolated; near a degenerate top pair, ANY unit vector in the top
    # eigenspace is a correct answer, so compare against the SUBSPACE
    # spanned by the near-top numpy eigenvectors (|projection| ~ 1, i.e.
    # cos of the principal angle between v1 and the eigenspace ~ 1).
    # Regenerating the fixture near-degenerate can no longer flake this.
    gap = w[-1] - w[-2]
    if gap > 1e-4 * max(1.0, abs(w[-1])):
        assert np.allclose(np.array(v1), top, atol=1e-4)
    else:
        near_top = vecs[:, w >= w[-1] - 1e-4 * max(1.0, abs(w[-1]))]
        proj = near_top.T @ np.array(v1)
        assert np.linalg.norm(proj) >= 1.0 - 1e-4
    assert abs(np.linalg.norm(v1) - 1.0) <= 1e-9
    assert l1 >= float(np.max(np.diag(cov))) - 1e-9
    assert 0.0 < s1 <= 1.0


def test_principal_component_degenerate_corpora(spark):
    """Empty corpus raises; a constant corpus (zero covariance) returns a
    zero eigenvalue and share 0 instead of dividing by zero."""
    import pytest as pt

    from pyspark.sql import functions as FF

    from tranquility_spark.operators.embeddings import principal_component

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pt.raises(ValueError, match="non-empty"):
        principal_component(empty)
    const = spark.range(10).select(
        FF.array(FF.lit(0.5), FF.lit(0.5)).alias("embedding")
    )
    v, l, s = principal_component(const)
    assert l == 0.0 and s == 0.0 and len(v) == 2


def test_principal_component_ragged_corpus_raises(spark):
    """Mixed-dimension vectors make per-pair counts diverge; the operator
    must fail loudly instead of silently using an arbitrary pair's count
    (code-review r8)."""
    import pytest as pt

    from tranquility_spark.operators.embeddings import principal_component

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pt.raises(ValueError, match="rectangular"):
        principal_component(ragged)


def test_principal_component_null_element_raises(spark):
    """A NULL array ELEMENT (not a short array) must also trip the
    rectangularity guard: covariance_pairs counts non-null contributions
    (count(xi*xj)), so the pairs touching the NULL dimension report a
    smaller n than the rest and the guard fires instead of silently
    averaging a biased sum (ADVICE r8)."""
    import pytest as pt

    from tranquility_spark.operators.embeddings import principal_component

    with_null = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, None, 2.0]), (3, [0.5, 1.5, 2.5])],
        "vec_id long, embedding array<double>",
    )
    with pt.raises(ValueError, match="rectangular"):
        principal_component(with_null)


def test_covariance_pairs_dims_prefix(spark):
    """covariance_pairs(dims=k) is the matryoshka-prefix covariance: it
    must equal running the full pass on pre-truncated embeddings, and the
    slice happens before the fan-out (ADVICE r8 — the parameter was
    previously declared but unused)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.operators.embeddings import covariance_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5, 1.5, 2.5, 3.5]),
         (3, [2.0, 0.0, 1.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["i"], r["j"]): (r["s_ij"], r["s_i"], r["s_j"], r["n"])
        for r in covariance_pairs(df, dims=2).collect()
    }
    truncated = df.select(FF.slice("embedding", 1, 2).alias("embedding"))
    want = {
        (r["i"], r["j"]): (r["s_ij"], r["s_i"], r["s_j"], r["n"])
        for r in covariance_pairs(truncated).collect()
    }
    assert got == want
    assert set(got) == {(0, 0), (0, 1), (1, 1)}  # prefix fan-out only


def test_dq18_subtotals_single_expand_pass_and_reconciliation(spark, sf_dir):
    """dq18's plan must be ONE scan + one Expand + hash agg (no union of
    re-aggregations — the dq16 single-pass rule generalized), and the four
    grouping sets must reconcile: per-type and per-day subtotals and the
    grand total each sum the detail rows exactly."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["dq18_subtotals_spec"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1
    rows = df.collect()
    detail = [r for r in rows if r["g_type"] == 0 and r["g_day"] == 0]
    per_type = {r["event_type"]: r for r in rows if r["g_type"] == 0 and r["g_day"] == 1}
    per_day = {r["day"]: r for r in rows if r["g_type"] == 1 and r["g_day"] == 0}
    grand = [r for r in rows if r["g_type"] == 1 and r["g_day"] == 1]
    assert len(grand) == 1
    assert sum(r["n"] for r in detail) == grand[0]["n"]
    for et, tr in per_type.items():
        assert tr["n"] == sum(r["n"] for r in detail if r["event_type"] == et)
    for d, dr in per_day.items():
        assert dr["n"] == sum(r["n"] for r in detail if r["day"] == d)


def test_suggest_salt_buckets_knee_rule(spark):
    """VERDICT r15 #7a: the salt_buckets auto-sizer applies the measured
    r15b knee rule (salt* = ceil(hot_rows / median_tail_partition_rows),
    round UP, clamp to [1, num_partitions]) instead of leaving the knob
    manual. Pin the arithmetic on a synthetic skew profile, the
    balanced->1 fallback (salting a balanced key is measured 19% WORSE
    than naive), the one-key clamp, and that the suggestion actually
    feeds salted_join unchanged."""
    from tranquility_spark.operators.partitioning import (
        salted_join,
        suggest_salt_buckets,
    )

    rows = [("h", i) for i in range(3000)]
    for k in range(70):
        rows += [(f"k{k}", i) for i in range(100)]
    fact = spark.createDataFrame(rows, "k string, v long")
    # hot=3000, tail=(10000-3000)/32=218.75 -> ceil(3000/218.75) = 14
    assert suggest_salt_buckets(fact, "k", num_partitions=32) == 14
    # balanced corpus: hot fits one partition's share -> 1 (caller falls
    # back to the plain join)
    uniform = spark.createDataFrame(
        [(f"k{i % 100}", i) for i in range(10000)], "k string, v long"
    )
    assert suggest_salt_buckets(uniform, "k", num_partitions=32) == 1
    # degenerate one-key fact: clamp at num_partitions (spreading one key
    # over more reducers than exist buys nothing)
    onekey = spark.createDataFrame([("h", i) for i in range(500)], "k string, v long")
    assert suggest_salt_buckets(onekey, "k", num_partitions=32) == 32
    # the suggestion drives salted_join to the same aggregate as plain
    dim = spark.createDataFrame(
        [("h", "hot")] + [(f"k{k}", f"n{k}") for k in range(70)], "k string, name string"
    )
    n = suggest_salt_buckets(fact, "k", num_partitions=32)
    salted = (
        salted_join(fact, dim, "k", salt_buckets=n)
        .groupBy("name")
        .agg(F.sum("v").alias("s"))
    )
    plain = fact.join(dim, "k").groupBy("name").agg(F.sum("v").alias("s"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # NULL keys never reach an equi-join reducer (r16 review): a
    # NULL-heavy fact must not inflate the suggestion
    nullheavy = fact.unionByName(
        spark.createDataFrame([(None, i) for i in range(40000)], "k string, v long")
    )
    assert suggest_salt_buckets(nullheavy, "k", num_partitions=32) == 14
    allnull = spark.createDataFrame([(None, 1)], "k string, v long")
    assert suggest_salt_buckets(allnull, "k", num_partitions=32) == 1
    # ADVICE r16 #3: a non-numeric shuffle-partitions conf (e.g. "auto"
    # under AQE-coordinated deployments) must not crash the sizing helper
    # — it falls back to defaultParallelism instead of raising ValueError.
    # Local Spark 4 validates conf.set("...partitions", "auto") as an int,
    # so simulate the managed-runtime value by patching the conf read.
    from unittest import mock

    real_get = type(spark.conf).get

    def fake_get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    with mock.patch.object(type(spark.conf), "get", fake_get):
        got = suggest_salt_buckets(fact, "k")
    dp = spark.sparkContext.defaultParallelism
    tail = max(1.0, (10000 - 3000) / float(dp))
    assert got == max(1, min(dp, math.ceil(3000 / tail)))


def test_suggest_compaction_cadence_knee_rule():
    """VERDICT r17 #5: the delta->base fold cadence helper applies the
    r17 measured knee (SCALE.md r17 / run_compaction_cadence_probe:
    ~0.28 s marginal delta join vs 2.75-3.6 s fold -> D* = 10-13,
    'fold roughly every dozen cycles'). Pin the break-even arithmetic
    on the study's own numbers, the latency-budget early-fold cap, the
    fold-every-cycle floor, and the bad-measurement raises."""
    import pytest

    from tranquility_spark.operators.dedup import suggest_compaction_cadence

    # the r17 study's measured range, verbatim
    assert suggest_compaction_cadence(2.75, 0.28) == 10
    assert suggest_compaction_cadence(3.0, 0.28) == 11
    assert suggest_compaction_cadence(3.6, 0.28) == 13
    # fold cheaper than one delta join -> fold every cycle
    assert suggest_compaction_cadence(0.1, 0.28) == 1
    # latency budget: fold EARLIER than break-even, never later — cap at
    # the largest D whose projected probe wall fits the budget. Study
    # numbers: base probe 0.79, budget 2.0 -> floor(1.21/0.28) = 4.
    assert (
        suggest_compaction_cadence(
            3.0, 0.28, probe_latency_budget_s=2.0, base_probe_s=0.79
        )
        == 4
    )
    # budget tighter than one delta join -> still at least every cycle
    assert (
        suggest_compaction_cadence(
            3.0, 0.28, probe_latency_budget_s=0.8, base_probe_s=0.79
        )
        == 1
    )
    # a generous budget never pushes PAST break-even
    assert (
        suggest_compaction_cadence(
            3.0, 0.28, probe_latency_budget_s=100.0, base_probe_s=0.79
        )
        == 11
    )
    # non-positive measurements are errors, not knees — and the budget
    # args are measurements too (r18 review)
    with pytest.raises(ValueError):
        suggest_compaction_cadence(0.0, 0.28)
    with pytest.raises(ValueError):
        suggest_compaction_cadence(3.0, -0.1)
    with pytest.raises(ValueError):
        suggest_compaction_cadence(3.0, 0.28, probe_latency_budget_s=-5.0)
    with pytest.raises(ValueError):
        suggest_compaction_cadence(
            3.0, 0.28, probe_latency_budget_s=2.0, base_probe_s=-0.5
        )


def test_materialize_overlapped_accepts_builders(spark):
    """_materialize_overlapped (r18) takes DataFrames OR zero-arg
    builders; builders must run inside the pool's worker threads (the
    whole point: overlap the plan construction, not just the
    materialization) and the checkpointed results must equal the
    directly-built frames. Covers the multi-entry pool path, a mixed
    frame/builder dict, and the single-entry shortcut."""
    import threading

    from tranquility_spark.catalog_llm import _materialize_overlapped

    caller = threading.get_ident()
    built_in = {}

    def _builder(lo, hi, key):
        def build():
            built_in[key] = threading.get_ident()
            return spark.range(lo, hi).withColumn("v", F.col("id") * 2)

        return build

    out = _materialize_overlapped(
        spark,
        {
            "a": _builder(0, 5, "a"),
            "b": _builder(5, 9, "b"),
            "c": spark.range(9, 12).withColumn("v", F.col("id") * 2),
        },
        "test",
    )
    assert set(out) == {"a", "b", "c"}
    # builders ran off the caller thread (construction overlapped)
    assert built_in["a"] != caller and built_in["b"] != caller
    rows = {
        k: sorted((r["id"], r["v"]) for r in df.collect())
        for k, df in out.items()
    }
    assert rows["a"] == [(i, 2 * i) for i in range(0, 5)]
    assert rows["b"] == [(i, 2 * i) for i in range(5, 9)]
    assert rows["c"] == [(i, 2 * i) for i in range(9, 12)]

    # single-entry shortcut also unwraps a callable
    solo = _materialize_overlapped(
        spark, {"only": _builder(0, 3, "only")}, "test-solo"
    )
    assert sorted(r["id"] for r in solo["only"].collect()) == [0, 1, 2]


def test_nondeterministic_udf_call_positions(spark):
    """ADVICE r18 #4 guard: simhash64/minhash are asNondeterministic (a
    GLOBAL flag on every consumer — guide §4.4). Catalyst only allows
    non-deterministic expressions in Project/Filter/Aggregate positions,
    so (a) the shapes every production call site uses — project the UDF,
    then filter/join on the MATERIALIZED column — must keep analyzing,
    and (b) putting the UDF call itself in a join condition or groupBy
    key must raise at analysis time (the failure mode the docstrings
    warn future callers about), not silently plan."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from tranquility_spark.operators.pandas_fns import simhash64

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], ["doc_id", "text"]
    )

    # (a) analysis-safe shapes: Project, Filter-on-output-column,
    # join/groupBy on the materialized column (every call site's shape)
    sigs = df.select("doc_id", simhash64("text").alias("sig"))
    assert sigs.filter(F.col("sig") != 0).count() == 3
    joined = sigs.alias("l").join(
        sigs.alias("r"),
        (F.col("l.sig") == F.col("r.sig"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    assert joined.count() == 1  # docs 1 and 2 share a signature
    assert sigs.groupBy("sig").count().count() == 2

    # (b) the UDF CALL in a join condition is analysis-illegal (a groupBy
    # key is an Aggregate position, which Catalyst permits — verified
    # here so the docstring's constraint stays accurate)
    with pytest.raises(AnalysisException):
        df.alias("l").join(
            df.alias("r"),
            simhash64(F.col("l.text")) == simhash64(F.col("r.text")),
        ).count()
    assert df.groupBy(simhash64("text")).count().count() == 2


def test_double_array_lit_bitwise_equal(spark):
    """r19 guard for double_array_lit: the parsed-SQL array literal must
    be BITWISE equal to the per-element F.array(F.lit(...)) build for
    every representable double (repr round-trips and both conversions
    are correctly rounded), and must fall back for non-finite values."""
    import math
    import struct

    from tranquility_spark.operators.similarity import double_array_lit

    df = spark.range(1)
    probes = [
        [0.1, 0.2, 0.30000000000000004],
        [1e308, 5e-324, -5e-324, 2.2250738585072014e-308],
        [-0.0, 0.0, 1.0, -1.0],
        [3.141592653589793, -2.718281828459045e-100],
        [],
    ]
    for vals in probes:
        a = df.select(
            F.array(*[F.lit(float(x)) for x in vals]).alias("x")
        ).collect()[0].x
        b = df.select(double_array_lit(vals).alias("x")).collect()[0].x
        pack = lambda xs: [struct.pack("<d", v) for v in xs]  # noqa: E731
        assert pack(a) == pack(b), vals

    nan_row = df.select(
        double_array_lit([1.0, float("nan"), float("inf")]).alias("x")
    ).collect()[0].x
    assert nan_row[0] == 1.0 and math.isnan(nan_row[1]) and math.isinf(
        nan_row[2]
    )
