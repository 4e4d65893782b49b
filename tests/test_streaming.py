"""Streaming-path tests, modeled on the reference's test strategy (SURVEY.md §5):
injected clock (``TestingTimekeeper`` analog), memory sink (``MemoryBeam``),
assertions on collected rows — plus sink idempotence (replay a batch, no dupes)
and a true Structured Streaming end-to-end run checked against the batch rollup.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os

import pytest

from pyspark.sql import functions as F

from tranquility_spark.specs import Count, DimensionsSpec, DoubleSum, GranularitySpec, IngestSpec, TimestampSpec
from tranquility_spark.plans.rollup import build_rollup
from tranquility_spark.streaming import MessageDroppedException, SegmentSink, Tranquilizer, stream_rollup
from tranquility_spark.streaming.beams import HashPartitionBeam, MemoryBeam, ReplicatingBeam

NOW = dt.datetime(2024, 6, 1, 12, 0, 0)


def _spec(rollup=True, query_gran="MINUTE"):
    return IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("HOUR", query_gran, rollup=rollup),
    )


def _ev(ts: str, page: str = "a", added: float = 1.0) -> dict:
    return {"timestamp": ts, "page": page, "added": added}


# ---------------------------------------------------------------------------
# Tranquilizer: batching + window drops (ref: TranquilizerTest, ClusteredBeamTest)
# ---------------------------------------------------------------------------


def test_tranquilizer_send_and_drop(spark):
    beam = MemoryBeam()
    t = Tranquilizer(spark, _spec(), beam, window_period="PT10M", clock=lambda: NOW)
    ok = t.send(_ev("2024-06-01T11:55:00"))       # in window
    late = t.send(_ev("2024-06-01T10:00:00"))      # too late
    future = t.send(_ev("2024-06-01T13:00:00"))    # too far ahead (two-sided!)
    bad = t.send(_ev("not-a-timestamp"))           # unparseable → dropped (P3)
    t.close()

    assert ok.result().sent is True
    for f in (late, future, bad):
        with pytest.raises(MessageDroppedException):
            f.result()
    assert t.sent_count == 1 and t.dropped_count == 3
    assert t.dropped_window == 2 and t.dropped_unparseable == 1
    rows = beam.rows()
    assert len(rows) == 1 and rows.iloc[0]["page"] == "a"


def test_tranquilizer_autoflush_at_max_batch(spark):
    beam = MemoryBeam()
    t = Tranquilizer(spark, _spec(), beam, max_batch_size=3, window_period=None)
    for i in range(3):
        t.send(_ev("2024-06-01T11:55:00", page=f"p{i}"))
    # batch size reached → flushed without close()
    assert len(beam.batches) == 1 and len(beam.rows()) == 3
    t.close()


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextlib.contextmanager
def _job_group(sc, group):
    """Run the block's Spark jobs under ``group``, then restore the thread's
    own job group."""
    saved = [sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for prop, value in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(prop, value)


class _CapturingBeam(MemoryBeam):
    """MemoryBeam that keeps each batch frame's schema, rows and RDD lineage,
    and runs its own Spark work under a separate job group so the caller's
    group counts only the flush's jobs."""

    def __init__(self, spark):
        super().__init__()
        self.sc = spark.sparkContext
        self.frames = []

    def send_all(self, df):
        with _job_group(self.sc, "capturing-beam"):
            self.frames.append({
                "schema": df.schema,
                "rows": df.collect(),
                "lineage": df._jdf.queryExecution().toRdd().toDebugString(),
            })
            return super().send_all(df)


def test_tranquilizer_flush_is_one_arrow_job(spark):
    """A flush runs exactly one Spark job of its own (the disposition and the
    beam's batch come from one Arrow collect), and the batch it hands the
    beam is Arrow-backed: no Python worker in its lineage."""
    import uuid

    sc = spark.sparkContext
    beam = _CapturingBeam(spark)
    t = Tranquilizer(spark, _spec(), beam, window_period="PT10M", clock=lambda: NOW)
    futs = [
        t.send(_ev("2024-06-01T11:55:00", page="ok1")),
        t.send(_ev("2024-06-01T12:04:59", page="ok2")),
        t.send(_ev("2024-06-01T10:00:00", page="late")),
        t.send(_ev("junk", page="bad")),
    ]
    group = f"tranquilizer-flush-{uuid.uuid4().hex}"
    with _job_group(sc, group):
        t.flush()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    (frame,) = beam.frames
    assert "PythonRDD" not in frame["lineage"], frame["lineage"]
    assert sorted(r["page"] for r in frame["rows"]) == ["ok1", "ok2"]
    assert [f.exception() is None for f in futs] == [True, True, False, False]
    assert (t.sent_count, t.dropped_window, t.dropped_unparseable) == (2, 1, 1)


def test_tranquilizer_matches_list_frame_recomputation_on_non_utc_host(spark):
    """The Arrow-backed flush infers and converts exactly as
    ``spark.createDataFrame(events)`` does, checked against that independent
    recomputation (list frame → timestamp extraction → window filter) on a
    non-UTC host: a naive datetime is host-local time there, as
    ``TimestampType.toInternal`` reads it, not UTC."""
    import time

    from tranquility_spark.operators.window_filter import two_sided_window_filter

    now = dt.datetime(2024, 6, 1, 18, 0, tzinfo=dt.timezone.utc)
    now_ms = int(now.timestamp() * 1000)

    def spec(fmt):
        return IngestSpec(
            datasource="wiki",
            timestamp_spec=TimestampSpec(column="timestamp", format=fmt, output="ts"),
            dimensions_spec=DimensionsSpec(dimensions=["page"]),
            metrics=(Count("n"),),
        )

    # per case: the events and their intended dispositions. A naive datetime
    # is Los Angeles time here: 11:05 PDT is 18:05 UTC (inside the window),
    # and a naive 18:05 is 01:05 UTC the next day (outside it)
    cases = [
        (spec("iso"), [  # missing keys, nulls, nested dict, list, bool, unicode, 2**62
            {"eid": 0, "timestamp": "2024-06-01T18:01:00", "page": "a", "attrs": {"k": 1, "j": 2},
             "tags": [1, 2], "flag": True, "note": "ünïcødé", "big": 2**62},
            {"eid": 1, "timestamp": "2024-06-01T17:55:00", "page": None, "tags": None,
             "flag": False, "note": "x", "big": 1},
            {"eid": 2, "timestamp": "not-a-time", "page": "c", "big": -(2**62)},
            {"eid": 3, "timestamp": None, "page": "d", "attrs": {}},
            {"eid": 4, "timestamp": "2024-06-01T17:00:00", "page": "e", "tags": []},
            {"eid": 5, "page": "no-timestamp-key"},
        ], ["sent", "sent", "unparseable", "unparseable", "window", "unparseable"]),
        (spec("auto"), [  # naive (host-local) and aware datetimes
            {"eid": 0, "timestamp": dt.datetime(2024, 6, 1, 11, 5), "page": "naive-local"},
            {"eid": 1, "timestamp": dt.datetime(2024, 6, 1, 18, 5), "page": "naive-utc-wallclock"},
            {"eid": 2, "timestamp": dt.datetime(2024, 6, 1, 17, 56, tzinfo=dt.timezone.utc),
             "page": "aware-utc"},
            {"eid": 3, "timestamp": dt.datetime(2024, 6, 1, 20, 3, 0, 123456,
                                                tzinfo=dt.timezone(dt.timedelta(hours=2))),
             "page": "aware-plus2"},
            {"eid": 4, "timestamp": None, "page": "null"},
        ], ["sent", "window", "sent", "sent", "unparseable"]),
        (spec("millis"), [
            {"eid": 0, "timestamp": now_ms + 1234, "page": "m"},
            {"eid": 1, "timestamp": now_ms - 3_600_000, "page": "hour-old"},
            {"eid": 2, "timestamp": None, "page": "null"},
        ], ["sent", "window", "unparseable"]),
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        for sp, events, intended in cases:
            beam = _CapturingBeam(spark)
            t = Tranquilizer(spark, sp, beam, window_period="PT10M", clock=lambda: now)
            futs = [t.send(e) for e in events]
            t.flush()

            df = spark.createDataFrame(events)
            parsed = df.withColumn("ts", sp.timestamp_spec.extract(df))
            parse_ok = parsed.filter(F.col("ts").isNotNull())
            accepted = two_sided_window_filter(parse_ok, "ts", "PT10M", now=now)
            ok_eids = {r["eid"] for r in parse_ok.select("eid").collect()}
            want_rows = sorted(accepted.collect(), key=lambda r: r["eid"])
            want_disp = [
                "sent" if e["eid"] in {r["eid"] for r in want_rows}
                else "window" if e["eid"] in ok_eids else "unparseable"
                for e in events
            ]

            (frame,) = beam.frames
            got_disp = [
                "sent" if f.exception() is None
                else "unparseable" if "unparseable" in str(f.exception()) else "window"
                for f in futs
            ]
            assert frame["schema"].simpleString() == parsed.schema.simpleString()
            assert sorted(frame["rows"], key=lambda r: r["eid"]) == want_rows
            assert got_disp == want_disp == intended
            assert t.dropped_window == want_disp.count("window")
            assert t.dropped_unparseable == want_disp.count("unparseable")
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


# ---------------------------------------------------------------------------
# Beam composition (ref: HashPartitionBeamTest, partitioner tests)
# ---------------------------------------------------------------------------


def test_hash_partition_beam_routes_consistently(spark):
    children = [MemoryBeam(), MemoryBeam(), MemoryBeam()]
    beam = HashPartitionBeam(children, key="page")
    df = spark.createDataFrame(
        [(p, i) for i, p in enumerate(["a", "b", "c", "a", "b", "a"])], "page string, i int"
    )
    assert beam.send_all(df) == 6
    # same key ⇒ same child (the rollup-key co-location invariant, D1/D2)
    for child in children:
        rows = child.rows()
        if len(rows):
            by_page = rows.groupby("page").size()
            assert set(by_page.index).issubset({"a", "b", "c"})
    all_pages = {p for c in children for p in (c.rows()["page"] if len(c.rows()) else [])}
    assert all_pages == {"a", "b", "c"}
    counts = {p: sum(len(c.rows()[c.rows()["page"] == p]) for c in children if len(c.rows())) for p in "abc"}
    assert counts == {"a": 3, "b": 2, "c": 1}


def test_replicating_beam_counts_once(spark):
    replicas = [MemoryBeam(), MemoryBeam()]
    beam = ReplicatingBeam(replicas)
    df = spark.createDataFrame([("a",), ("b",)], "page string")
    assert beam.send_all(df) == 2  # counted once per event, not per replica
    assert len(replicas[0].rows()) == 2 and len(replicas[1].rows()) == 2


# ---------------------------------------------------------------------------
# SegmentSink: layout, idempotence, replication (S5/S6/D3/W5)
# ---------------------------------------------------------------------------


def test_segment_sink_idempotent_replay(spark, tmp_path):
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", partitions=2, shard_key="page")
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 11, 5), "a", 1.0), (dt.datetime(2024, 6, 1, 12, 10), "b", 2.0)],
        "ts timestamp, page string, added double",
    )
    assert sink.write_batch(df, batch_id=7) == 2
    assert sink.write_batch(df, batch_id=7) == 0  # replay → skipped
    back = sink.read(spark)
    assert back.count() == 2
    assert sink.buckets() == ["2024-06-01-11-00", "2024-06-01-12-00"]


def test_segment_sink_replication(spark, tmp_path):
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", replicants=2)
    df = spark.createDataFrame([(dt.datetime(2024, 6, 1, 11, 5), "a")], "ts timestamp, page string")
    sink.write_batch(df, batch_id=1)
    assert sink.read(spark, replica=0).count() == 1
    assert sink.read(spark, replica=1).count() == 1


def test_segment_sink_window_period_with_injected_clock(spark, tmp_path):
    sink = SegmentSink(
        str(tmp_path / "seg"), "wiki", "HOUR", window_period="PT10M", clock=lambda: NOW
    )
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 6, 1, 11, 55), "in"),
            (dt.datetime(2024, 6, 1, 10, 0), "late"),
            (dt.datetime(2024, 6, 1, 13, 0), "future"),
        ],
        "ts timestamp, page string",
    )
    assert sink.write_batch(df, batch_id=1) == 1
    assert [r.page for r in sink.read(spark).select("page").collect()] == ["in"]


# ---------------------------------------------------------------------------
# stream_rollup: static-vs-streaming equivalence + true streaming run
# ---------------------------------------------------------------------------


def test_stream_rollup_on_static_matches_batch_rollup(spark):
    spec = _spec()
    df = spark.createDataFrame(
        [
            ("2024-06-01T11:05:10", "a", 1.0),
            ("2024-06-01T11:05:40", "a", 2.0),
            ("2024-06-01T11:06:10", "b", 3.0),
            ("2024-06-01T12:05:10", "a", 4.0),
        ],
        "timestamp string, page string, added double",
    )
    streamed = stream_rollup(df, spec).drop("segment_start")
    batch = build_rollup(spec)(df)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_end_to_end_file_source(spark, tmp_path):
    """File stream → stream_rollup → SegmentSink, checked against batch rollup."""
    spec = _spec()
    src = tmp_path / "src"
    src.mkdir()
    events = [
        {"timestamp": "2024-06-01T11:05:10", "page": "a", "added": 1.0},
        {"timestamp": "2024-06-01T11:05:40", "page": "a", "added": 2.0},
        {"timestamp": "2024-06-01T11:06:10", "page": "b", "added": 3.0},
        {"timestamp": "2024-06-01T12:05:10", "page": "a", "added": 4.0},
    ]
    # watermark-advancing event: pushes the watermark past 13:00 so both real
    # windows close and emit (append mode); its own window stays open
    flush = {"timestamp": "2024-06-01T14:00:00", "page": "__flush", "added": 0.0}
    with open(src / "part-0.json", "w") as f:
        for e in events + [flush]:
            f.write(json.dumps(e) + "\n")

    stream = (
        spark.readStream.schema("timestamp string, page string, added double")
        .json(str(src))
    )
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    rolled = stream_rollup(stream, spec)
    q = (
        rolled.writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # append mode emits exactly the watermark-closed windows: both real
    # buckets close (watermark 13:50 > their 12:00/13:00 ends), the flush
    # event's own bucket stays open — the reference's handoff semantics (W4)
    got = sink.read(spark).select("ts", "page", "n", "added_sum")
    want = build_rollup(spec)(spark.createDataFrame(
        [(e["timestamp"], e["page"], e["added"]) for e in events],
        "timestamp string, page string, added double",
    ))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert q.isActive is False


def test_stream_exact_dedup_file_source(spark, tmp_path):
    """Duplicate content across micro-batch files: first occurrence survives."""
    from tranquility_spark.streaming import stream_exact_dedup

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"ts": "2024-06-01T11:00:00", "doc_id": 1, "text": "alpha beta"},
        {"ts": "2024-06-01T11:00:05", "doc_id": 2, "text": "alpha beta"},   # dup
        {"ts": "2024-06-01T11:00:10", "doc_id": 3, "text": "gamma delta"},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("ts string, doc_id long, text string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream_exact_dedup(stream, "text", "ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_out").collect())
    assert got == [1, 3]


def test_segment_sink_schema_evolution(spark, tmp_path):
    """W7: a later batch may carry new columns; read-back merges schemas."""
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    df1 = spark.createDataFrame([(dt.datetime(2024, 6, 1, 11, 5), "a")], "ts timestamp, page string")
    df2 = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 12, 5), "b", "mobile")],
        "ts timestamp, page string, channel string",
    )
    sink.write_batch(df1, 1)
    sink.write_batch(df2, 2)
    back = sink.read(spark)
    assert set(back.columns) >= {"ts", "page", "channel"}
    rows = {r.page: r.channel for r in back.select("page", "channel").collect()}
    assert rows == {"a": None, "b": "mobile"}


def test_segment_sink_latest_close_time(spark, tmp_path):
    """Buckets at or before latestCloseTime stay closed (ClusteredBeam rule)."""
    sink = SegmentSink(
        str(tmp_path / "seg"),
        "wiki",
        "HOUR",
        window_period="PT2H",
        clock=lambda: NOW,
        latest_close_time=dt.datetime(2024, 6, 1, 11, 0),
    )
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 6, 1, 10, 30), "closed_bucket"),   # ≤ latestCloseTime
            (dt.datetime(2024, 6, 1, 11, 30), "open_bucket"),
        ],
        "ts timestamp, page string",
    )
    assert sink.write_batch(df, 1) == 1
    assert [r.page for r in sink.read(spark).select("page").collect()] == ["open_bucket"]


def test_sessionize_static_and_streaming(spark, tmp_path):
    from tranquility_spark.streaming.pipeline import stream_sessionize

    rows = [
        {"ts": "2024-06-01T10:00:00", "user_id": 1, "value": 1.0},
        {"ts": "2024-06-01T10:10:00", "user_id": 1, "value": 2.0},   # same session (gap 30m)
        {"ts": "2024-06-01T11:30:00", "user_id": 1, "value": 4.0},   # new session
        {"ts": "2024-06-01T10:05:00", "user_id": 2, "value": 8.0},
    ]
    static = spark.createDataFrame(
        [(r["ts"], r["user_id"], r["value"]) for r in rows], "ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = stream_sessionize(static, gap="30 minutes").collect()
    by_key = {(r.user_id, r.session_start.isoformat()): (r.n_events, r.value_sum) for r in got}
    assert by_key == {
        (1, "2024-06-01T10:00:00"): (2, 3.0),
        (1, "2024-06-01T11:30:00"): (1, 4.0),
        (2, "2024-06-01T10:05:00"): (1, 8.0),
    }
    # session end = last event + gap (merging-window semantics)
    ends = {r.session_start.isoformat(): r.session_end.isoformat() for r in got if r.user_id == 1}
    assert ends["2024-06-01T10:00:00"] == "2024-06-01T10:40:00"

    # streaming run over the same rows (+ flush event to close sessions)
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for r in rows + [{"ts": "2024-06-01T23:00:00", "user_id": 99, "value": 0.0}]:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("ts string, user_id long, value double")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM sessions_out").collect()
    s_by_key = {(r.user_id, r.session_start.isoformat()): (r.n_events, r.value_sum) for r in streamed}
    assert s_by_key == by_key  # flush-closed sessions equal the static result


def test_sessionize_matches_w6_batch_twin_on_events(spark, sf_dir):
    """stream_sessionize (F.session_window) vs w6_sessionize_batch (lag-gap +
    running sum) on the REAL events table: same sessions, same sizes.

    Boundary caveat handled explicitly: w6 opens a session on
    floor-second-gap > 1800 while session_window opens on exact-gap >= 1800s,
    so gaps within ±2 s of the 1800 s threshold can legitimately disagree —
    users with any such gap are excluded (none exist in the current fixture,
    but the test must survive a testdata regeneration that introduces one)."""
    from pyspark.sql import Window

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table
    from tranquility_spark.streaming.pipeline import stream_sessionize

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    ambiguous = {
        r.user_id
        for r in ev.withColumn("g", gap_s)
        .filter((F.col("g") > 1798) & (F.col("g") < 1802))
        .select("user_id")
        .distinct()
        .collect()
    }

    batch = CATALOG["w6_sessionize_batch"].fn(spark, sf_dir).collect()
    sessions = stream_sessionize(
        ev, gap="30 minutes", metrics=[F.count(F.lit(1)).alias("n_events")]
    ).collect()

    def sizes(rows):
        out: dict[int, list[int]] = {}
        for r in rows:
            if r.user_id not in ambiguous:
                out.setdefault(r.user_id, []).append(r.n_events)
        return {u: sorted(v) for u, v in out.items()}

    assert sizes(sessions) == sizes(batch)


def test_stream_ewma_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: EWMA state must carry across micro-batches."""
    from tranquility_spark.streaming.stateful import ewma_batch, stream_ewma

    src = tmp_path / "src"
    src.mkdir()
    batch1 = [
        {"ts": "2024-06-01T10:00:00", "user_id": 1, "value": 10.0},
        {"ts": "2024-06-01T10:01:00", "user_id": 1, "value": 20.0},
        {"ts": "2024-06-01T10:00:30", "user_id": 2, "value": 5.0},
    ]
    batch2 = [
        {"ts": "2024-06-01T10:02:00", "user_id": 1, "value": 40.0},
    ]
    with open(src / "a.json", "w") as f:
        for r in batch1:
            f.write(json.dumps(r) + "\n")
    with open(src / "b.json", "w") as f:
        for r in batch2:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("ts string, user_id long, value double")
        .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM ewma_out").collect()
    # memory sink in update mode appends one row per key per batch and
    # collect() order is unspecified — the FINAL state is the one with
    # the max n_events (the counter is monotone), not the last row seen
    last = {}
    for r in rows:
        if r.user_id not in last or r.n_events > last[r.user_id][0]:
            last[r.user_id] = (r.n_events, r.ewma)
    # user 1 saw 10, 20 (batch 1) then 40 (batch 2) — state carried across
    assert last[1][0] == 3
    assert abs(last[1][1] - ewma_batch([10.0, 20.0, 40.0])) < 1e-9
    assert last[2] == (1, 5.0)
    # both batches emitted for user 1 → at least 2 rows for that key
    assert sum(1 for r in rows if r.user_id == 1) >= 2


def test_stream_ewma_equals_batch_catalog_entry(spark, tmp_path):
    """The f7 catalog entry and the stateful streaming operator implement
    the SAME recurrence: streaming the events in two micro-batches and
    taking each key's final state must equal the batch fold entry run
    over an events table holding the identical rows (timestamps unique
    per user — the streaming pandas fold has no tie-break)."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.streaming.stateful import stream_ewma

    events = [
        (1, dt.datetime(2024, 6, 1, 10, 0, 0), 1, 10.0),
        (2, dt.datetime(2024, 6, 1, 10, 1, 0), 1, 20.0),
        (3, dt.datetime(2024, 6, 1, 10, 0, 30), 2, 5.0),
        (4, dt.datetime(2024, 6, 1, 10, 2, 0), 1, 40.0),
        (5, dt.datetime(2024, 6, 1, 10, 3, 0), 2, 7.5),
    ]
    df = spark.createDataFrame(
        [(eid, ts, "view", uid, v, "{}") for eid, ts, uid, v in events],
        "event_id long, ts timestamp, event_type string, user_id long, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    batch = {
        r.user_id: (r.n_events, r.ewma)
        for r in CATALOG["f7_ewma_fold"].fn(spark, d).collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    for fname, sl in (("a.json", events[:3]), ("b.json", events[3:])):
        with open(src / fname, "w") as f:
            for _, ts, uid, v in sl:
                f.write(
                    json.dumps(
                        {"ts": ts.isoformat(), "user_id": uid, "value": v}
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema("ts string, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_vs_batch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # max-n_events per key, not last-row-wins: collect() order from the
    # memory sink is unspecified across the per-batch emissions
    last = {}
    for r in spark.sql("SELECT * FROM ewma_vs_batch").collect():
        if r.user_id not in last or r.n_events > last[r.user_id][0]:
            last[r.user_id] = (r.n_events, r.ewma)
    assert set(last) == set(batch)
    for uid in batch:
        assert last[uid][0] == batch[uid][0]
        assert abs(last[uid][1] - batch[uid][1]) < 1e-6  # entry rounds to 6dp


def test_streaming_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Restart from the same checkpoint: new data processed, old not re-emitted.

    This is the reference's ZK-state-restore scenario (ClusteredBeamTest)
    restated: Spark's checkpoint replaces ZooKeeper beam metadata, and the
    sink's batch-id markers make any replayed batch a no-op (W5/W6).
    """
    spec = _spec()
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, events):
        with open(src / name, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema("timestamp string, page string, added double")
            .json(str(src))
        )
        sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
        q = (
            stream_rollup(stream, spec)
            .writeStream.outputMode("append")
            .foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sink

    write_file("a.json", [
        {"timestamp": "2024-06-01T11:05:10", "page": "a", "added": 1.0},
        {"timestamp": "2024-06-01T14:00:00", "page": "__flush1", "added": 0.0},
    ])
    sink = run_once()
    first = sorted(map(tuple, sink.read(spark).select("ts", "page", "n").collect()))
    assert len(first) == 1  # the 11h bucket closed by flush1

    # restart with one new file; flush2 closes flush1's window too
    write_file("b.json", [
        {"timestamp": "2024-06-01T14:05:00", "page": "b", "added": 2.0},
        {"timestamp": "2024-06-01T17:00:00", "page": "__flush2", "added": 0.0},
    ])
    sink = run_once()
    rows = sink.read(spark).select("page", "n").collect()
    pages = sorted(r.page for r in rows)
    # 'a' appears exactly once (not re-emitted on restart); 14h bucket contains
    # flush1 + b as separate rollup rows
    assert pages == ["__flush1", "a", "b"]


def test_multi_datasource_sink_routes_and_counts_unknown(spark, tmp_path):
    from tranquility_spark.streaming.sink import MultiDatasourceSink

    sinks = {
        "wiki": SegmentSink(str(tmp_path / "wiki"), "wiki", "HOUR"),
        "metrics": SegmentSink(str(tmp_path / "metrics"), "metrics", "HOUR"),
    }
    multi = MultiDatasourceSink(sinks)
    df = spark.createDataFrame(
        [
            ("wiki", dt.datetime(2024, 6, 1, 11, 5), "a"),
            ("wiki", dt.datetime(2024, 6, 1, 11, 6), "b"),
            ("metrics", dt.datetime(2024, 6, 1, 11, 7), "c"),
            ("ghost", dt.datetime(2024, 6, 1, 11, 8), "d"),
        ],
        "datasource string, ts timestamp, page string",
    )
    assert multi.write_batch(df, 1) == 3
    assert multi.unknown_dropped == 1
    assert sinks["wiki"].read(spark).count() == 2
    assert sinks["metrics"].read(spark).count() == 1


def test_stream_rollup_sliding_windows_static(spark):
    """slide option: each event contributes to width/slide windows."""
    spec = _spec()
    df = spark.createDataFrame(
        [("2024-06-01T11:40:00", "a", 1.0)], "timestamp string, page string, added double"
    )
    out = stream_rollup(df, spec, slide="30 minutes").select("segment_start").collect()
    starts = sorted(r.segment_start.isoformat() for r in out)
    # 1h window sliding by 30m → the 11:40 event is in [11:00,12:00) and [11:30,12:30)
    assert starts == ["2024-06-01T11:00:00", "2024-06-01T11:30:00"]


def test_beams_builder_end_to_end(spark, tmp_path):
    """The DruidBeams-style fluent chain builds a working tranquilizer."""
    from tranquility_spark.beams import Beams
    from tranquility_spark.specs import Count, DoubleSum

    t = (
        Beams.builder()
        .curator("zk:2181")              # no-op coordination legs accepted
        .discovery_path("/druid/discovery")
        .timestamp(column="timestamp", format="iso")
        .dimensions(["page"])
        .metrics([Count("n"), DoubleSum("added_sum", "added")])
        .granularity(segment="HOUR", query="MINUTE")
        .location(datasource="wiki")
        .tuning(window_period="PT10M", max_batch_size=100)
        .sink_root(str(tmp_path / "seg"))
        .clock(lambda: NOW)
        .build_tranquilizer(spark)
    )
    ok = t.send(_ev("2024-06-01T11:55:00"))
    dropped = t.send(_ev("2024-06-01T09:00:00"))
    t.close()
    assert ok.result().sent is True
    with pytest.raises(MessageDroppedException):
        dropped.result()
    back = spark.read.option("basePath", str(tmp_path / "seg" / "ds=wiki")).parquet(
        str(tmp_path / "seg" / "ds=wiki")
    )
    assert back.count() == 1


def test_segment_compaction_merges_files(spark, tmp_path):
    import glob

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    # five micro-batches into the same bucket → five files
    for b in range(5):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    bucket_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")
    before = len(glob.glob(f"{bucket_dir}/*.parquet"))
    assert before == 5
    rows_before = sorted(r.page for r in sink.read(spark).collect())

    assert compact(sink, spark) == 1  # one (bucket, shard) rewritten
    after = len(glob.glob(f"{bucket_dir}/*.parquet"))
    assert after == 1
    assert sorted(r.page for r in sink.read(spark).collect()) == rows_before
    # r12: the snapshot read treats compact() rewrites as committed (they
    # only exist on closed, fully-marked buckets) — a compacted layout
    # reads identically through both modes, no silent empty result
    assert (
        sorted(r.page for r in sink.read(spark, committed_only=True).collect())
        == rows_before
    )


def test_compaction_chaos_kill_between_publish_and_marker(spark, tmp_path):
    """VERDICT r12 #2: kill compact() between publishing its rewritten
    files and committing the compaction marker — the delete-then-rename
    window where the r12 dynamic-partition-overwrite version could lose
    the ONLY copy of a closed bucket. The r13 protocol (stage →
    deterministic publish → marker → delete) must leave the snapshot read
    exact at every instant, with the kill injected into the REAL commit
    path (os.rename of the _compactions marker raises), not simulated by
    deleting files afterwards."""
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(4):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(4))
    bucket_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")

    crashed = {"done": False}
    real_link = os.link

    def chaos_link(s, d):
        # the r13 marker commit is an EXCLUSIVE os.link (concurrent-
        # compactor guard), so the kill intercepts link, not rename
        if os.path.basename(str(d)) == "wiki-r0-1" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between compaction publish and marker")
        return real_link(s, d)

    sink_mod.os.link = chaos_link
    try:
        with pytest.raises(RuntimeError, match="chaos"):
            compact(sink, spark)
    finally:
        sink_mod.os.link = real_link
    assert crashed["done"], "the injected kill never fired"

    # mid-crash: the compacted files ARE published (the window is real)...
    published = glob.glob(f"{bucket_dir}/compact-1-*.parquet")
    assert published, "crash fired before publish — the window wasn't exercised"
    # ...but no batch file was deleted and the snapshot hides the unmarked
    # compaction: the closed bucket is intact, no loss, no duplication
    assert len(glob.glob(f"{bucket_dir}/batch-*.parquet")) == 4
    snap_mid = sorted(
        r.page for r in sink.read(spark, committed_only=True).collect()
    )
    assert snap_mid == want
    # the raw read transiently sees old+new — the same documented window
    # as an unmarked batch file
    assert sink.read(spark).count() == 8

    # recovery: re-run compact — it clears the stale generation-1 leftovers,
    # republishes over its own deterministic names, commits, and deletes
    assert compact(sink, spark) == 1
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want, f"exactly-once violated (committed_only={committed_only})"
    assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1
    # and a further re-run is a no-op (already at the target file count)
    assert compact(sink, spark) == 0


def test_compaction_guards_and_selective_rewrite(spark, tmp_path):
    """r13 code-review finds, regression-pinned: (a) a malformed before
    cutoff fails loudly instead of silently mis-scoping the maintenance
    run; (b) a full compact rewrites ONLY over-target directories —
    already-compacted closed segments are not re-read/re-published every
    cycle (O(new small files), not O(total data)); (c) a concurrent
    compactor losing the same-generation marker race aborts WITHOUT
    deleting anything, and the next run's janitor clears its extras."""
    import glob
    import json as _json

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(3):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(3))
    bucket_11 = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")
    bucket_12 = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-12-00" / "p=0")

    # (a) malformed cutoffs are rejected
    for bad in ("2024-06-01", "2024-06-01T12:00", "yesterday"):
        with pytest.raises(ValueError, match="bucket string"):
            compact(sink, spark, before=bad)

    # (b) selective rewrite: compact 11:00, then land batches in 12:00 —
    # the next full compact must NOT touch 11:00's compacted file
    assert compact(sink, spark) == 1
    gen1_file = glob.glob(f"{bucket_11}/compact-1-*.parquet")
    assert len(gen1_file) == 1
    gen1_mtime = os.path.getmtime(gen1_file[0])
    for b in (3, 4):
        sink.write_batch(
            spark.createDataFrame(
                [(dt.datetime(2024, 6, 1, 12, b), f"p{b}")],
                "ts timestamp, page string",
            ),
            b,
        )
    want = sorted(want + ["p3", "p4"])
    assert compact(sink, spark) == 1  # only the 12:00 (bucket, shard)
    assert glob.glob(f"{bucket_11}/compact-1-*.parquet") == gen1_file
    assert os.path.getmtime(gen1_file[0]) == gen1_mtime  # untouched
    assert len(glob.glob(f"{bucket_12}/compact-2-*.parquet")) == 1
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want

    # (c) losing the marker race: a "winner" marker for the SAME
    # generation lands just before the loser's exclusive link (injected
    # into the real commit path) — the loser must abort WITHOUT deleting
    # anything, and the next run's janitor clears its unlisted extras
    import tranquility_spark.streaming.sink as sink_mod

    sink.write_batch(
        spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 12, 30), "p5")], "ts timestamp, page string"
        ),
        5,
    )
    want_after = sorted(want + ["p5"])
    winner = {"gen": 3, "replica": 0, "rows": 0, "files": [], "replaced": []}
    raced = {"done": False}
    real_link = os.link

    def racing_link(src, dst):
        if os.path.basename(str(dst)) == "wiki-r0-3" and not raced["done"]:
            raced["done"] = True
            with open(dst, "w") as fh:
                _json.dump(winner, fh)  # the concurrent winner commits first
        return real_link(src, dst)

    sink_mod.os.link = racing_link
    try:
        with pytest.raises(RuntimeError, match="concurrent compaction"):
            compact(sink, spark)
    finally:
        sink_mod.os.link = real_link
    assert raced["done"], "the race never fired"
    # the loser deleted NOTHING: the snapshot read is exact (the loser's
    # published gen-3 extras are unlisted in the winner's marker, hence
    # invisible); the RAW read transiently sees them — the documented
    # old+new window, bounded by the next compact's janitor
    snap = sorted(
        r.page for r in sink.read(spark, committed_only=True).collect()
    )
    assert snap == want_after
    raw = sorted(r.page for r in sink.read(spark).collect())
    assert set(raw) == set(want_after)  # nothing lost, dupes transient
    # retry: the janitor removes the loser's unlisted gen-3 extras, the
    # new run commits gen 4 cleanly
    assert compact(sink, spark) == 1
    assert not glob.glob(f"{bucket_12}/compact-3-*.parquet")
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want_after, committed_only


def test_compaction_bucket_scoped_before_cutoff(spark, tmp_path):
    """r13: the production maintenance shape — compact(before=<bucket>)
    rewrites only buckets strictly earlier than the cutoff (closed
    segments), leaving later buckets' batch files untouched for further
    streaming; reads stay exact throughout, and a later full compact
    picks up the rest."""
    import glob

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(6):
        hour = 11 if b < 3 else 12
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, hour, b), f"p{b}")],
            "ts timestamp, page string",
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(6))
    old_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")
    new_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-12-00" / "p=0")

    # only the closed 11:00 bucket is rewritten
    assert compact(sink, spark, before="2024-06-01-12-00") == 1
    assert len(glob.glob(f"{old_dir}/*.parquet")) == 1
    assert len(glob.glob(f"{new_dir}/batch-*.parquet")) == 3  # untouched
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want
    # the still-open bucket keeps receiving batches after the maintenance
    sink.write_batch(
        spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 12, 30), "p6")], "ts timestamp, page string"
        ),
        6,
    )
    want = sorted(want + ["p6"])
    # a later full compact merges the rest; everything still exact
    assert compact(sink, spark) >= 1
    assert len(glob.glob(f"{new_dir}/*.parquet")) == 1
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want


def test_compaction_crash_point_fuzz(spark, tmp_path_factory):
    """r13: state-machine fuzz of the whole compaction protocol — crash
    at EVERY filesystem-mutation point inside compact() (rename, remove,
    link), not just the two hand-picked windows. The invariant at every
    crash point: the snapshot read still equals exactly the committed
    batches' rows (no loss, no duplication). Recovery invariant: one
    clean compact() afterwards restores both read modes to exact and a
    further call is a no-op. This subsumes the targeted chaos tests for
    windows nobody thought to name."""
    import itertools

    import tranquility_spark.streaming.sink as sink_mod
    from tranquility_spark.streaming.sink import compact

    real = {"rename": os.rename, "remove": os.remove, "link": os.link}

    for crash_at in itertools.count():
        base_dir = tmp_path_factory.mktemp(f"chaosfuzz{crash_at}")
        sink = SegmentSink(str(base_dir / "seg"), "wiki", "HOUR")
        for b in range(3):
            df = spark.createDataFrame(
                [(dt.datetime(2024, 6, 1, 11 + (b % 2), b), f"p{b}")],
                "ts timestamp, page string",
            )
            sink.write_batch(df, b)
        want = sorted(f"p{b}" for b in range(3))

        calls = {"n": 0}
        crashed = {"done": False}
        scope = str(base_dir)

        def make_chaos(name):
            fn = real[name]

            def chaos(*a, **kw):
                # count (and crash) ONLY mutations on this sink's paths:
                # the patch is process-global (sink_mod.os IS os), so an
                # unrelated caller — a tempfile finalizer, a py4j thread —
                # must pass through untouched or the crash points drift
                # between runs (r13 code-review find)
                if a and str(a[0]).startswith(scope):
                    calls["n"] += 1
                    if calls["n"] == crash_at + 1:
                        crashed["done"] = True
                        raise RuntimeError(
                            f"chaos: fs mutation #{calls['n']} ({name})"
                        )
                return fn(*a, **kw)

            return chaos

        sink_mod.os.rename = make_chaos("rename")
        sink_mod.os.remove = make_chaos("remove")
        sink_mod.os.link = make_chaos("link")
        try:
            try:
                compact(sink, spark)
            except RuntimeError as exc:
                assert "chaos" in str(exc)
        finally:
            sink_mod.os.rename = real["rename"]
            sink_mod.os.remove = real["remove"]
            sink_mod.os.link = real["link"]

        # THE invariant: whatever point the crash hit, the snapshot read
        # is exact
        got = sorted(
            r.page for r in sink.read(spark, committed_only=True).collect()
        )
        assert got == want, f"snapshot broken at crash point {crash_at}"

        # recovery: one clean compact, then both modes exact and no-op
        compact(sink, spark)
        for committed_only in (False, True):
            got = sorted(
                r.page
                for r in sink.read(spark, committed_only=committed_only).collect()
            )
            assert got == want, (crash_at, committed_only)
        assert compact(sink, spark) == 0

        if not crashed["done"]:
            # crash_at exceeded the protocol's total mutation count —
            # every point has been exercised
            assert crash_at >= 5, "suspiciously few fs mutations in compact()"
            break


def test_compaction_rejects_out_of_range_replica(spark, tmp_path):
    """r13 code-review find: _ds_root aliases every replica number to the
    SAME directory when replicants == 1, so compact(replica=1) on a
    single-replica sink would read an empty marker namespace and the
    orphan janitor would delete committed compact files as unmarked —
    the call must be rejected up front, never treated as a no-op."""
    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(2):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    assert compact(sink, spark) == 1
    want = sorted(r.page for r in sink.read(spark).collect())
    with pytest.raises(ValueError, match="out of range"):
        compact(sink, spark, replica=1)
    with pytest.raises(ValueError, match="out of range"):
        compact(sink, spark, replica=-1)
    # the committed compacted data is untouched by the rejected calls
    assert sorted(r.page for r in sink.read(spark).collect()) == want
    assert sorted(
        r.page for r in sink.read(spark, committed_only=True).collect()
    ) == want


def test_compaction_replicated_layout_per_replica_markers(spark, tmp_path):
    """r13: compaction on a replicated sink is per-replica — each replica
    compacts independently under its own _compactions marker namespace,
    and a crash that compacted only replica 0 leaves replica 1's layout
    fully readable (replication's whole point). After both compact, the
    replicas agree through both read modes."""
    import glob

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", replicants=2)
    for b in range(3):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(3))

    assert compact(sink, spark, replica=0) == 1
    # replica 0 compacted, replica 1 untouched — the intermediate state a
    # crash between the two compact calls would leave
    assert len(sink.committed_compactions(0)) == 1
    assert sink.committed_compactions(1) == []
    assert glob.glob(f"{sink._ds_root(1)}/**/batch-*.parquet", recursive=True)
    for replica in (0, 1):
        for committed_only in (False, True):
            got = sorted(
                r.page
                for r in sink.read(
                    spark, replica=replica, committed_only=committed_only
                ).collect()
            )
            assert got == want, (replica, committed_only)

    assert compact(sink, spark, replica=1) == 1
    for replica in (0, 1):
        files = glob.glob(f"{sink._ds_root(replica)}/**/*.parquet", recursive=True)
        assert len(files) == 1, files
        got = sorted(
            r.page for r in sink.read(spark, replica=replica).collect()
        )
        assert got == want


def test_compaction_janitor_clears_orphans_on_noop(spark, tmp_path):
    """r13 self-review find: after a publish→marker crash, a retry that
    takes the NO-OP early return (target already met) must still clear
    the orphaned unmarked compact files — otherwise the raw read
    double-counts them forever and the 'transient old+new visibility'
    claim is false."""
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(3):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(3))
    bucket_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")

    crashed = {"done": False}
    real_link = os.link

    def chaos_link(s, d):
        if os.path.basename(str(d)) == "wiki-r0-1" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between compaction publish and marker")
        return real_link(s, d)

    sink_mod.os.link = chaos_link
    try:
        with pytest.raises(RuntimeError, match="chaos"):
            compact(sink, spark)
    finally:
        sink_mod.os.link = real_link
    assert glob.glob(f"{bucket_dir}/compact-1-*.parquet"), "window not exercised"
    assert sink.read(spark).count() > 3  # orphans visible to the raw read

    # a retry whose target is already met takes the no-op path — and the
    # janitor still removes the orphans first
    assert compact(sink, spark, target_files_per_shard=3) == 0
    assert not glob.glob(f"{bucket_dir}/compact-*.parquet")
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want


def test_compaction_chaos_kill_between_marker_and_delete(spark, tmp_path):
    """The second compact() kill window (companion to the marker-kill
    test): the compaction marker is committed but the crash lands before
    the replaced batch files are deleted. The snapshot read must already
    exclude them (the marker IS the flip), and the next compact() call's
    janitor pass must finish the deletion without rewriting anything."""
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(3):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b)
    want = sorted(f"p{b}" for b in range(3))
    bucket_dir = str(tmp_path / "seg" / "ds=wiki" / "g=2024-06-01-11-00" / "p=0")

    crashed = {"done": False}
    real_remove = os.remove

    def chaos_remove(p):
        if os.path.basename(str(p)).startswith("batch-") and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between marker commit and deletion")
        real_remove(p)

    sink_mod.os.remove = chaos_remove
    try:
        with pytest.raises(RuntimeError, match="chaos"):
            compact(sink, spark)
    finally:
        sink_mod.os.remove = real_remove
    assert crashed["done"], "the injected kill never fired"

    # mid-crash: marker committed, old files still on disk — and invisible
    assert len(sink.committed_compactions()) == 1
    assert glob.glob(f"{bucket_dir}/batch-*.parquet")
    snap_mid = sorted(
        r.page for r in sink.read(spark, committed_only=True).collect()
    )
    assert snap_mid == want

    # recovery: the janitor finishes the deletion; nothing is rewritten
    assert compact(sink, spark) == 0
    assert not glob.glob(f"{bucket_dir}/batch-*.parquet")
    assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1
    for committed_only in (False, True):
        got = sorted(
            r.page
            for r in sink.read(spark, committed_only=committed_only).collect()
        )
        assert got == want


def _batch(spark, rows, schema, route):
    """One sink batch built two ways: ``"list"`` is a Python-list frame
    (not local: the sink's Spark stage writer), ``"arrow"`` an Arrow-backed
    local frame holding the same values (the sink's driver-side stage
    writer, as a Tranquilizer flush hands over)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    df = spark.createDataFrame(rows, schema)
    if route == "arrow":
        table = (
            LocalDataToArrowConversion.convert(rows, df.schema, use_large_var_types=False)
            if rows
            else to_arrow_schema(df.schema).empty_table()
        )
        df = spark.createDataFrame(table, schema=df.schema)
    assert df.isLocal() == (route == "arrow")
    return df


ROUTES = pytest.mark.parametrize("route", ["list", "arrow"])


@ROUTES
def test_segment_sink_crash_between_publish_and_marker(spark, tmp_path, route):
    """Retry after a crash that published data but not the marker: no dupes.

    This is the failure window where a naive append sink duplicates the
    batch — deterministic publish names make the retry overwrite itself.
    """
    import os

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", replicants=2)
    df = _batch(
        spark,
        [(dt.datetime(2024, 6, 1, 11, 5), "a"), (dt.datetime(2024, 6, 1, 11, 6), "b")],
        "ts timestamp, page string",
        route,
    )
    assert sink.write_batch(df, 1) == 2
    # simulate the crash: data is published, marker vanishes
    os.remove(sink._marker_path(1))
    assert sink.write_batch(df, 1) == 2  # retry republishes over itself
    assert sink.read(spark, replica=0).count() == 2
    assert sink.read(spark, replica=1).count() == 2


@ROUTES
def test_segment_sink_crash_between_replicas(spark, tmp_path, route):
    """Retry after a crash mid-replica-publish heals the missing replica."""
    import glob
    import os
    import shutil

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", replicants=2)
    df = _batch(spark, [(dt.datetime(2024, 6, 1, 11, 5), "a")], "ts timestamp, page string", route)
    sink.write_batch(df, 1)
    # simulate: replica 1 never published, marker never written
    shutil.rmtree(sink._ds_root(1))
    os.remove(sink._marker_path(1))
    sink.write_batch(df, 1)
    assert sink.read(spark, replica=0).count() == 1  # not duplicated
    assert sink.read(spark, replica=1).count() == 1  # healed
    files0 = glob.glob(f"{sink._ds_root(0)}/**/*.parquet", recursive=True)
    assert len(files0) == 1


def _sink_state(spark, sink):
    """Everything a reader of the layout can see: per replica, the published
    files (relative path, footer rows, footer Spark schema, the cluster
    columns in file order); replica 0's committed snapshot (schema and
    sorted rows, or None when nothing is committed; replicas publish links
    to the same staged files); and the batch markers' row counts."""
    import pyarrow.parquet as pq

    state = {"markers": {}}
    for bid in sorted(sink.committed_batch_ids()):
        with open(sink._marker_path(bid)) as fh:
            state["markers"][bid] = json.load(fh)["rows"]
    for r in range(sink.replicants):
        base = sink._ds_root(r)
        files = []
        for f in sink.committed_files(r):
            pf = pq.ParquetFile(f)
            meta = pf.metadata.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
            order = pf.read(columns=sink.cluster_by).to_pylist() if sink.cluster_by else None
            files.append((os.path.relpath(f, base), pf.metadata.num_rows, json.loads(meta), order))
        snap = None
        if files and r == 0:
            back = sink.read(spark, committed_only=True)
            snap = (back.schema, sorted(map(repr, back.collect())))
        state[r] = (files, snap)
    return state


_LAYOUT_ROWS = [
    (dt.datetime(2024, 6, 1, 11, 50 + i % 10, i), i % 7 - 3, f"page{i % 5}" if i % 11 else None, i * 0.5)
    for i in range(40)
] + [
    (dt.datetime(2024, 6, 1, 12, 10, 1), 1, "future", 0.0),  # outside PT10M
    (dt.datetime(2024, 6, 1, 11, 49, 59), 2, "late", 0.0),
]
_LAYOUT_SCHEMA = "ts timestamp, uid long, page string, added double"


def _type_mix(spark):
    """12 columns of mixed Spark types, one row of values and one of nulls
    (a null shard key goes to Spark's default partition directory)."""
    import decimal

    from pyspark.sql.types import StringType, StructField, StructType

    ddl = ("ts timestamp, v void, i int, s short, d decimal(10,2), t timestamp, "
           "tn timestamp_ntz, ar array<int>, m map<string,int>, "
           "st struct<x:int,y:string>, dd date")
    fields = spark.createDataFrame([], ddl).schema.fields
    # a varchar column as a table schema carries it: string + type metadata
    varchar = StructField("vc", StringType(), True, {"__CHAR_VARCHAR_TYPE_STRING": "varchar(10)"})
    rows = [
        (dt.datetime(2024, 6, 1, 11, 5), None, 1, 2, decimal.Decimal("3.50"),
         dt.datetime(1500, 1, 1), dt.datetime(2024, 1, 1, 3), [1, None], {"k": 1},
         (1, "z"), dt.date(2024, 1, 2), "abc"),
        (dt.datetime(2024, 6, 1, 12, 5), None, None, None, None, None, None, None,
         None, None, None, None),
    ]
    return rows, StructType(fields + [varchar])


_PARITY_CASES = {
    "long_key": dict(rows=_LAYOUT_ROWS, schema=_LAYOUT_SCHEMA, shard_key="uid",
                     cluster_by=["page"], window_period="PT10M"),
    "string_key": dict(rows=_LAYOUT_ROWS, schema=_LAYOUT_SCHEMA, shard_key="page",
                       cluster_by=["uid"], window_period="PT10M"),
    "empty": dict(rows=[], schema=_LAYOUT_SCHEMA, shard_key="uid"),
    "type_mix": dict(types=True, shard_key="i"),
}


@pytest.mark.parametrize("case", sorted(_PARITY_CASES))
def test_segment_sink_stage_writers_agree(spark, tmp_path, case):
    """The driver-side stage writer (local batch) and the Spark stage writer
    (distributed batch) publish the same layout: same file paths, rows per
    file, footer schema, marker rows, snapshot schema and rows, and in-file
    order on the cluster columns."""
    opts = dict(_PARITY_CASES[case])
    rows, schema = _type_mix(spark) if opts.pop("types", False) else (opts.pop("rows"), opts.pop("schema"))
    states = []
    for route in ("list", "arrow"):
        sink = SegmentSink(
            str(tmp_path / route), "wiki", "HOUR", partitions=3, replicants=2,
            clock=lambda: NOW, **opts,
        )
        written = sink.write_batch(_batch(spark, rows, schema, route), batch_id=1)
        states.append((written, _sink_state(spark, sink)))
    assert states[0] == states[1]
    written, state = states[0]
    assert written == sum(n for _, n, _, _ in state[0][0]) == state["markers"][1]
    if case == "empty":
        assert written == 0 and state[0] == ([], None)
    else:
        assert written > 0 and len(state[0][0]) > 1


def test_compact_merges_files_of_both_stage_writers(spark, tmp_path):
    """compact() over a layout holding files of both stage writers equals
    compact() over the same batches written by the Spark writer alone."""
    from tranquility_spark.streaming.sink import compact

    first, second = _LAYOUT_ROWS[:20], _LAYOUT_ROWS[20:]
    states = []
    for routes in (("list", "list"), ("list", "arrow")):
        sink = SegmentSink(str(tmp_path / "-".join(routes)), "wiki", "HOUR",
                           shard_key="uid", cluster_by=["page"])
        for bid, (part, route) in enumerate(zip((first, second), routes), 1):
            sink.write_batch(_batch(spark, part, _LAYOUT_SCHEMA, route), bid)
        assert compact(sink, spark) > 0
        states.append(_sink_state(spark, sink))
    assert states[0] == states[1]
    # both batches wrote every (g, p) of the 11:00 bucket: each was merged
    merged = [f for f, *_ in states[0][0][0] if "g=2024-06-01-11-00" in f]
    assert merged and all(os.path.basename(f).startswith("compact-") for f in merged)


def test_sink_commits_without_hardlinks(spark, tmp_path, monkeypatch):
    """On a filesystem without hardlinks every link of the commit protocol
    takes its fallback: the publish a copy, the batch and compaction
    markers a rename. Batches of both stage
    writers, a replay and a compaction still commit exactly: same snapshot
    rows, every marker present, the replay a no-op, no tmp file left and
    the batch lock released."""
    import errno
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from tranquility_spark.streaming.sink import compact

    def no_link(src, dst):
        raise OSError(errno.EPERM, "hardlinks not supported", str(dst))

    monkeypatch.setattr(sink_mod.os, "link", no_link)
    root = str(tmp_path / "seg")
    sink = SegmentSink(root, "wiki", "HOUR", shard_key="uid", replicants=2)
    first, second = _LAYOUT_ROWS[:20], _LAYOUT_ROWS[20:]
    for bid, (rows, route) in enumerate(zip((first, second), ("list", "arrow")), 1):
        assert sink.write_batch(_batch(spark, rows, _LAYOUT_SCHEMA, route), bid) == len(rows)
    assert sink.write_batch(_batch(spark, first, _LAYOUT_SCHEMA, "list"), 1) == 0

    def snapshot(replica):
        back = sink.read(spark, replica=replica, committed_only=True)
        return sorted(map(repr, back.select("ts", "uid", "page", "added").collect()))

    want = sorted(map(repr, spark.createDataFrame(_LAYOUT_ROWS, _LAYOUT_SCHEMA).collect()))
    assert snapshot(0) == snapshot(1) == want
    assert compact(sink, spark) > 0
    assert snapshot(0) == want
    assert sink.committed_batch_ids() == {1, 2}
    assert len(sink.committed_compactions(0)) == 1
    published = glob.glob(f"{root}/ds=wiki/**/*.parquet", recursive=True)
    assert published and all(os.stat(f).st_nlink == 1 for f in published)  # copies
    assert not glob.glob(f"{root}/**/*.tmp.*", recursive=True)
    assert not glob.glob(f"{root}/_batches/*.lock")


def test_local_batch_stages_without_spark_write_job(spark, tmp_path, monkeypatch):
    """A local batch costs the sink one Spark job (its sorted collect) and
    no Spark write; a distributed batch still shuffles on (g, p) before the
    partitioned Spark write."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc = spark.sparkContext
    jobs = {}
    for route in ("arrow", "list"):
        sink = SegmentSink(str(tmp_path / route), "wiki", "HOUR", partitions=3,
                           shard_key="uid", cluster_by=["page"])
        df = _batch(spark, _LAYOUT_ROWS, _LAYOUT_SCHEMA, route)
        group = f"sink-{route}-{uuid.uuid4().hex}"
        with _job_group(sc, group):
            assert sink.write_batch(df, 1) == 42
        jobs[route] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["arrow"] == 1
    (plan,) = plans  # only the distributed batch reached the Spark writer
    assert "Exchange hashpartitioning(g" in plan, plan


def test_tranquilizer_raises_when_sink_window_drops_accepted_events(spark, tmp_path):
    """One window decision per push: a sink applying its own window with a
    clock that moved on since the flush drops an event the flush accepted.
    The flush must fail loudly, not acknowledge it as sent — and the
    builder's Tranquilizer hands its sink no window at all."""
    import itertools

    from tranquility_spark.beams import Beams

    calls = itertools.count()
    clock = lambda: NOW + dt.timedelta(minutes=6) * next(calls)  # noqa: E731
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", window_period="PT10M", clock=clock)
    t = Tranquilizer(spark, _spec(), sink, window_period="PT10M", clock=clock)
    edge = t.send(_ev("2024-06-01T11:52:00"))  # in at 12:00, out at 12:06
    fresh = t.send(_ev("2024-06-01T12:01:00"))
    with pytest.raises(MessageDroppedException, match="wrote 1 of 2"):
        t.flush()
    assert all(isinstance(f.exception(), MessageDroppedException) for f in (edge, fresh))
    assert t.sent_count == 0

    builder = Beams.builder().tuning(window_period="PT10M").sink_root(str(tmp_path / "b"))
    assert builder.build_tranquilizer(spark).beam.window_period is None
    assert builder.build_beam().window_period == "PT10M"


def test_tranquilizer_resumes_batch_ids_after_restart(spark, tmp_path):
    """Daemon restart against the same sink root must NOT collide with the
    previous run's batch markers (collision = data silently skipped while
    futures still resolve sent=True)."""
    root = str(tmp_path / "seg")
    sink1 = SegmentSink(root, "wiki", "HOUR")
    t1 = Tranquilizer(spark, _spec(), sink1, window_period=None)
    t1.send(_ev("2024-06-01T11:55:00", page="run1"))
    t1.close()

    # simulated restart: fresh Tranquilizer + fresh sink over the same root
    sink2 = SegmentSink(root, "wiki", "HOUR")
    t2 = Tranquilizer(spark, _spec(), sink2, window_period=None)
    assert t2._batch_id == sink2.max_batch_id() >= 1
    fut = t2.send(_ev("2024-06-01T12:05:00", page="run2"))
    t2.close()
    assert fut.result().sent is True

    pages = {r["page"] for r in sink2.read(spark).select("page").collect()}
    assert pages == {"run1", "run2"}  # run2 would be missing on marker collision


def test_stream_rollup_week_buckets_align_to_monday(spark):
    """WEEK segment buckets must start on Monday (date_trunc('week') / the
    sink's g= layout), not on the epoch-aligned Thursday of F.window."""
    from tranquility_spark.specs import Granularity

    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"),),
        granularity_spec=GranularitySpec("WEEK", "DAY"),
    )
    # 2024-06-01 is a Saturday; its ISO week starts Monday 2024-05-27
    df = spark.createDataFrame(
        [("2024-06-01T10:00:00", "a"), ("2024-05-27T00:00:00", "a"), ("2024-06-03T00:00:00", "b")],
        "timestamp string, page string",
    )
    out = stream_rollup(df, spec).collect()
    starts = {r["segment_start"] for r in out}
    assert starts == {dt.datetime(2024, 5, 27), dt.datetime(2024, 6, 3)}
    # and agrees with Granularity.truncate (the sink's bucket function)
    trunc = df.select(
        Granularity("WEEK").truncate(F.to_timestamp("timestamp")).alias("b")
    ).collect()
    assert {r["b"] for r in trunc} == starts


def test_stream_rollup_week_with_slide_keeps_monday_alignment(spark):
    """Sliding WEEK windows must not violate Spark's abs(startTime) < slide
    constraint: the Monday shift is taken modulo the slide. With slide='1 day'
    the offset is 0 (4 days % 1 day) and every window start is a midnight;
    the Monday-starting window must be among the windows covering an event."""
    from tranquility_spark.specs import Granularity

    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"),),
        granularity_spec=GranularitySpec("WEEK", "DAY"),
    )
    df = spark.createDataFrame(
        [("2024-06-01T10:00:00", "a")], "timestamp string, page string"
    )
    out = stream_rollup(df, spec, slide="1 day").collect()  # must not raise
    starts = {r["segment_start"] for r in out}
    assert len(starts) == 7  # width/slide windows cover the event
    assert dt.datetime(2024, 5, 27) in starts  # the Monday-aligned week
    trunc = df.select(
        Granularity("WEEK").truncate(F.to_timestamp("timestamp")).alias("b")
    ).first()["b"]
    assert trunc in starts


def test_ewma_update_orders_across_chunks():
    """A key group split across Arrow chunks must fold in global ts order."""
    import pandas as pd

    from tranquility_spark.streaming.stateful import _ewma_update, ewma_batch

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    # chunk boundaries deliberately interleave timestamps
    c1 = pd.DataFrame({"ts": [3, 1], "value": [30.0, 10.0]})
    c2 = pd.DataFrame({"ts": [2, 4], "value": [20.0, 40.0]})
    state = FakeState()
    out = list(_ewma_update((1,), iter([c1, c2]), state))
    expected = ewma_batch([10.0, 20.0, 30.0, 40.0])
    assert abs(out[0]["ewma"].iloc[0] - expected) < 1e-12
    assert state.value[0] == 4


def test_streaming_neardup_index_sink_equals_batch_pass(spark, sf_dir, tmp_path):
    """Stream the documents table in 4 micro-batches through
    neardup_index_sink: each batch dedupes against the accumulated index of
    prior batches. The union of emitted pairs must equal ONE batch
    minhash_lsh_pairs pass over the full corpus — a pair surfaces exactly
    when its later doc arrives, so streaming costs no recall."""
    from tranquility_spark.operators.dedup import minhash_lsh_pairs, neardup_index_sink
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            neardup_index_sink(index_dir, pairs_dir, threshold=0.5)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in spark.read.parquet(pairs_dir)
        .dropDuplicates(["id_a", "id_b"])
        .collect()
    }
    batch = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert streamed == batch
    assert batch, "fixture must produce near-dup pairs"
    # the index accumulated one banded row set per doc per band
    n_docs = docs.count()
    assert spark.read.parquet(index_dir).count() == n_docs * 16


def test_neardup_index_sink_replay_contract(spark, tmp_path):
    """Round-6 replay semantics (VERDICT r05 #4): a redelivered batch
    REWRITES its own batch_id= partitions under dynamic partition overwrite
    and dedupes against the index view batch_id < its own — so after any
    replay the sink contents equal first-delivery contents with NO
    reader-side dedupe, and still equal the one-shot batch pass."""
    from tranquility_spark.operators.dedup import minhash_lsh_pairs, neardup_index_sink

    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "the quick brown fox jumps over the lazy dog by the riverbank"),
        (3, "unrelated text about catalyst plans and exchanges"),
        (4, "the quick brown fox jumps over a lazy dog by the river"),
    ]
    b1 = spark.createDataFrame(rows[:2], "doc_id long, text string")
    b2 = spark.createDataFrame(rows[2:], "doc_id long, text string")
    full = spark.createDataFrame(rows, "doc_id long, text string")

    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    write = neardup_index_sink(index_dir, pairs_dir, threshold=0.3)
    write(b1, 0)
    write(b2, 1)

    def snapshot():
        pairs = sorted(
            (r.id_a, r.id_b, r.est_jaccard, r.batch_id)
            for r in spark.read.parquet(pairs_dir).collect()
        )
        index = sorted(
            (r.id, r.band, r.bhash, r.batch_id)
            for r in spark.read.parquet(index_dir).collect()
        )
        return pairs, index

    first = snapshot()
    write(b2, 1)  # replayed delivery of batch 1
    assert snapshot() == first
    write(b1, 0)  # replayed delivery of the FIRST batch (empty index view)
    assert snapshot() == first

    # no reader dedupe: raw sink pairs == one-shot batch pass
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in spark.read.parquet(pairs_dir).collect()
    }
    want = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(full, threshold=0.3).collect()
    }
    assert got == want and want
    assert len(got) == spark.read.parquet(pairs_dir).count()  # no dup rows


def test_streaming_neardup_survivors_twin(spark, sf_dir, tmp_path):
    """Streaming survivors twin (VERDICT r05 #8): docs streamed through
    neardup_index_sink, then neardup_survivors_converged over the
    ACCUMULATED pairs, equals the one-shot batch dd7 pipeline (minhash
    pairs -> components -> survivors) over the same corpus. Pure
    composition of existing operators — the sink's lifetime-union
    contract makes it hold."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_index_sink,
        neardup_survivors_converged,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
    )
    write = neardup_index_sink(
        str(tmp_path / "index"), str(tmp_path / "pairs"), threshold=0.5
    )
    for i, (lo, hi) in enumerate([(0, 150), (150, 300), (300, 400)]):
        write(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i
        )

    streamed_pairs = spark.read.parquet(str(tmp_path / "pairs"))
    got = {
        r.doc_id
        for r in neardup_survivors_converged(docs, streamed_pairs)
        .select("doc_id")
        .collect()
    }
    want = {
        r.doc_id
        for r in neardup_survivors_converged(
            docs, minhash_lsh_pairs(docs, threshold=0.5)
        ).select("doc_id").collect()
    }
    assert got == want and want


def test_partials_sinks_replay_rewrites_partition(spark, tmp_path):
    """The partials sinks (KMV / MG / quantile) share the same idempotent
    write: forcing a re-run of batch N leaves sink contents identical —
    row-for-row, including sum-based n_total — with no reader dedupe."""
    from tranquility_spark.operators.heavy_hitters import hh_partials_sink
    from tranquility_spark.operators.sketch import (
        quantile_partials_sink,
        sketch_partials_sink,
    )

    b1 = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)],
        "grp string, event_id long, value double",
    )
    b2 = spark.createDataFrame(
        [("a", 4, 40.0), ("b", 5, 50.0)],
        "grp string, event_id long, value double",
    )
    sinks = {
        "kmv": sketch_partials_sink(str(tmp_path / "kmv"), ["grp"], "event_id", k=8),
        "hh": hh_partials_sink(str(tmp_path / "hh"), ["grp"], "event_id", k=4),
        "quant": quantile_partials_sink(
            str(tmp_path / "quant"), ["grp"], "value", "event_id", k=8
        ),
    }
    for name, write in sinks.items():
        write(b1, 0)
        write(b2, 1)
        before = sorted(
            map(str, spark.read.parquet(str(tmp_path / name)).collect())
        )
        write(b2, 1)  # forced re-run of batch 1
        after = sorted(
            map(str, spark.read.parquet(str(tmp_path / name)).collect())
        )
        assert after == before, name


def test_neardup_index_sink_raises_on_unreadable_index(spark, tmp_path):
    """ADVICE r05: only a MISSING index path may trigger the cold-start
    branch. An index dir that exists but is unreadable (here: empty after a
    failed first append — UNABLE_TO_INFER_SCHEMA) must fail the batch loudly;
    silently restarting the index would drop every cross-batch pair for the
    batch with no error surfaced."""
    import pytest
    from pyspark.errors import AnalysisException

    from tranquility_spark.operators.dedup import neardup_index_sink

    index_dir = tmp_path / "index"
    index_dir.mkdir()  # exists, but holds no parquet — not a cold start
    write = neardup_index_sink(str(index_dir), str(tmp_path / "pairs"))
    batch = spark.createDataFrame(
        [(1, "some document text here")], "doc_id long, text string"
    )
    with pytest.raises(AnalysisException):
        write(batch, 0)


def test_streaming_bloom_partials_equal_batch_filter(spark, sf_dir, tmp_path):
    """Stream the events table in 3 micro-batches through
    bloom_partials_sink (a real readStream + foreachBatch run): the
    merged-at-read lifetime filter must be BIT-identical to the one-shot
    batch build over the same keys, and must answer membership with no
    false negatives."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.bloom import (
        bloom_merge_read,
        bloom_partials_sink,
        bloom_probe,
        bloom_words,
    )
    from tranquility_spark.sources.files import load_table

    keys = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("key"))
        .distinct()
    )
    src = str(tmp_path / "src")
    keys.repartition(3).write.parquet(src)

    sink_dir = str(tmp_path / "bloom")
    q = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(bloom_partials_sink(sink_dir, "key"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    lifetime = bloom_merge_read(spark, sink_dir)
    direct = bloom_words(keys, "key")
    assert sorted(map(tuple, lifetime.collect())) == sorted(
        map(tuple, direct.collect())
    )
    probed = bloom_probe(keys, lifetime, "key")
    assert probed.filter(F.col("in_bloom") == 0).count() == 0


def test_socket_source_network_ingest_e2e(spark, tmp_path):
    """End-to-end ingest over a REAL network transport: a local TCP server
    emits JSON event lines, Spark's socket source streams them through
    parse -> window filter -> sink, and the landed rows equal the batch
    twin over the same payload. The Kafka path stays environment-blocked
    (no broker — HANDOFF standing item); the socket source exercises the
    same readStream -> parse -> filter plumbing over an actual network
    connection, which is the closest e2e this sandbox allows. (Socket is
    a test-only source by design: no offsets, no replay — the
    exactly-once story lives with the file/rate-source tests.)"""
    import json
    import socket
    import threading
    import time

    from tranquility_spark.operators.parse import parse_json_events
    from tranquility_spark.operators.window_filter import (
        two_sided_window_filter,
    )

    payload = [
        {
            "ts": f"2024-01-15 11:5{i % 10}:00",
            "event_type": "view" if i % 2 else "click",
            "user_id": i,
            "value": float(i),
        }
        for i in range(20)
    ] + [{"ts": "2024-01-15 09:00:00", "event_type": "old", "user_id": 99,
          "value": 0.0}]  # outside the window — must be dropped

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            data = "".join(json.dumps(e) + "\n" for e in payload)
            conn.sendall(data.encode())
            stop.wait(180)  # outlive the 120 s poll deadline below

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    schema = "ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE"
    lines = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
        # the socket source's column is named "value", which collides
        # with the payload's value field — rename BEFORE parsing
        .withColumnRenamed("value", "raw_line")
    )
    parsed = parse_json_events(lines, "raw_line", schema)
    kept = two_sided_window_filter(
        parsed.select("ts", "event_type", "user_id"),
        "ts",
        "PT2H",
        now="2024-01-15 12:00:00",
    )
    q = (
        kept.writeStream.format("memory")
        .queryName("socket_e2e")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT count(*) n FROM socket_e2e").first().n >= 20:
                break
            time.sleep(1)
        rows = spark.sql(
            "SELECT event_type, user_id FROM socket_e2e"
        ).collect()
    finally:
        q.stop()
        stop.set()
        srv.close()
    got = {(r.event_type, r.user_id) for r in rows}
    expect = {
        ("view" if i % 2 else "click", i) for i in range(20)
    }
    assert got == expect  # all in-window rows landed; the old event did not


def test_streaming_sbbf_partials_equal_batch_filter(spark, sf_dir, tmp_path):
    """Streaming lifecycle for the split-block bloom (mergeable family
    #4b): per-micro-batch block-table partials merged at read must be
    BIT-identical to the one-shot batch build, and the merged filter's
    ONE-JOIN probe must answer membership with no false negatives."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.bloom import (
        sbbf_blocks,
        sbbf_merge_read,
        sbbf_partials_sink,
        sbbf_probe,
    )
    from tranquility_spark.sources.files import load_table

    keys = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("key"))
        .distinct()
    )
    src = str(tmp_path / "src")
    keys.repartition(3).write.parquet(src)

    sink_dir = str(tmp_path / "sbbf")
    q = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sbbf_partials_sink(sink_dir, "key"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    lifetime = sbbf_merge_read(spark, sink_dir)
    direct = sbbf_blocks(keys, "key")
    assert sorted(map(tuple, lifetime.collect())) == sorted(
        map(tuple, direct.collect())
    )
    probed = sbbf_probe(keys, lifetime, "key")
    assert probed.filter(F.col("in_sbbf") == 0).count() == 0


def test_streaming_retention_partials_equal_batch_dq8(spark, sf_dir, tmp_path):
    """Streaming analytics lifecycle for dq8: stream events in 3
    micro-batches, landing (a) per-batch first-seen partials (per-user min
    day — mergeable by min) and (b) per-batch distinct (user, day) activity,
    both in batch_id= partitions. Retention computed from the merged sinks
    must equal the one-shot batch dq8 — first-seen is min-mergeable the
    same way the bloom/KMV/MG partials are, so streaming costs nothing."""
    from pyspark.sql import functions as F

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.batch_sink import write_batch_partition
    from tranquility_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)

    fs_dir = str(tmp_path / "first_seen")
    act_dir = str(tmp_path / "activity")

    def sink(batch_df, batch_id):
        days = batch_df.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        write_batch_partition(
            days.groupBy("user_id").agg(F.min("day").alias("day")),
            fs_dir,
            batch_id,
        )
        write_batch_partition(days.distinct(), act_dir, batch_id)

    q = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    fs = (
        spark.read.parquet(fs_dir)
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
    )
    act = spark.read.parquet(act_dir).select("user_id", "day").distinct()
    streamed = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in act.join(fs, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .collect()
    }
    batch = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in CATALOG["dq8_retention_cohorts"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def _rate_events(df):
    """Deterministic value -> event mapping shared by the rate-source
    streaming twins and their spark.range batch twins: rate-micro-batch
    emits a contiguous value sequence, so identical values imply identical
    event frames on both sides."""
    from pyspark.sql import functions as F

    return df.select(
        (F.col("value") % 37).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("value") * 7919) % (86400 * 21)
        ).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
    )


def _read_complete_batches(spark, *dirs):
    """Read each batch_id-partitioned sink, restricted to batch ids present
    in EVERY sink. q.stop() can interrupt the final in-flight batch between
    two write_batch_partition calls (code-review r07) — comparing only the
    fully-landed batches makes the streamed-vs-twin equality
    crash-consistent regardless of write order."""
    frames = [spark.read.parquet(d) for d in dirs]
    common = set(
        r.batch_id for r in frames[0].select("batch_id").distinct().collect()
    )
    for f in frames[1:]:
        common &= {r.batch_id for r in f.select("batch_id").distinct().collect()}
    assert common, "no batch committed to every sink"
    ids = sorted(common)
    return [f.filter(F.col("batch_id").isin(ids)) for f in frames]


def _run_rate_stream(spark, ckpt_dir, sink_fn, min_batches=3, timeout_s=120):
    """Drive a rate-micro-batch stream through foreachBatch until at least
    ``min_batches`` batches committed, then stop. Returns the number of
    committed batches (from progress)."""
    import time as _time

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 400)
        .option("numPartitions", 2)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
        .writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
    try:
        deadline = _time.time() + timeout_s
        while _time.time() < deadline:
            done = [p for p in q.recentProgress if p is not None]
            if len(done) >= min_batches:
                break
            _time.sleep(0.5)
        else:
            raise AssertionError("rate stream never reached min_batches")
    finally:
        q.stop()
        q.awaitTermination(60)


def test_streaming_retention_rate_source_e2e(spark, tmp_path):
    """VERDICT r06 #3 (dq8): full readStream lifecycle over an UNBOUNDED
    source — rate-micro-batch events land per-batch first-seen (min) and
    activity (distinct) partials; retention computed from the merged sinks
    via the production operator must equal the batch operator over a
    spark.range twin of exactly the values that arrived."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.batch_sink import write_batch_partition
    from tranquility_spark.operators.event_analytics import retention_cohorts

    raw_dir = str(tmp_path / "raw")
    fs_dir = str(tmp_path / "first_seen")
    act_dir = str(tmp_path / "activity")

    def sink(batch_df, batch_id):
        ev = _rate_events(batch_df)
        days = ev.select("user_id", F.date_trunc("day", "ts").alias("day"))
        write_batch_partition(
            days.groupBy("user_id").agg(F.min("day").alias("day")),
            fs_dir,
            batch_id,
        )
        write_batch_partition(days.distinct(), act_dir, batch_id)
        write_batch_partition(batch_df.select("value"), raw_dir, batch_id)

    _run_rate_stream(spark, str(tmp_path / "ckpt"), sink)

    raw_f, fs_f, act_f = _read_complete_batches(spark, raw_dir, fs_dir, act_dir)

    # exactly the contiguous prefix 0..N-1 arrived (rate-micro-batch
    # contract; only the final in-flight batch can be missing, so the
    # complete-batch restriction preserves contiguity) — the range twin is
    # therefore the identical event set
    vals = raw_f.select("value")
    n, mx = vals.agg(
        F.count(F.lit(1)), F.max("value")
    ).collect()[0]
    assert n == mx + 1 and n >= 3 * 400

    twin = _rate_events(spark.range(n).withColumnRenamed("id", "value"))
    expected = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in retention_cohorts(twin).collect()
    }

    # (a) merged activity through the SAME production operator
    act = act_f.select("user_id", F.col("day").alias("ts")).distinct()
    streamed = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in retention_cohorts(act).collect()
    }
    assert streamed == expected and expected

    # (b) the min-mergeable first-seen partials reproduce the operator's
    # internal cohort assignment (the partials are not just write-noise)
    fs = fs_f.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act2 = act_f.select("user_id", "day").distinct()
    from_partials = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in act2.join(fs, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .collect()
    }
    assert from_partials == expected


def test_streaming_funnel_rate_source_e2e(spark, tmp_path):
    """VERDICT r06 #3 (dq9): the funnel's staged mins are NOT independently
    mergeable (t_click depends on t_view), so the streaming design lands
    per-batch DISTINCT (user, event_type, ts) triples — dedup is the
    mergeable reduction — and runs the production funnel operator over the
    merged log at read. Must equal the batch operator over the range twin,
    and the triple log must be idempotent under batch replay."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.batch_sink import write_batch_partition
    from tranquility_spark.operators.event_analytics import funnel_counts

    raw_dir = str(tmp_path / "raw")
    log_dir = str(tmp_path / "triples")

    def sink(batch_df, batch_id):
        ev = _rate_events(batch_df)
        write_batch_partition(batch_df.select("value"), raw_dir, batch_id)
        write_batch_partition(
            ev.select("user_id", "event_type", "ts").distinct(), log_dir, batch_id
        )

    _run_rate_stream(spark, str(tmp_path / "ckpt"), sink)

    raw_f, log_f = _read_complete_batches(spark, raw_dir, log_dir)
    n, mx = raw_f.select("value").agg(
        F.count(F.lit(1)), F.max("value")
    ).collect()[0]
    assert n == mx + 1

    twin = _rate_events(spark.range(n).withColumnRenamed("id", "value"))
    [expected] = funnel_counts(twin).collect()

    merged = log_f.select("user_id", "event_type", "ts").distinct()
    [streamed] = funnel_counts(merged).collect()
    assert tuple(streamed) == tuple(expected)
    assert expected.n_viewed > 0 and expected.n_purchased_after_click >= 0

    # replay idempotence: re-land batch 0's triples; the merged log (and
    # therefore the funnel) must be unchanged
    b0 = log_f.filter(F.col("batch_id") == 0).select(
        "user_id", "event_type", "ts"
    )
    write_batch_partition(b0, log_dir, 0)
    log_f2, _ = _read_complete_batches(spark, log_dir, raw_dir)
    merged2 = log_f2.select("user_id", "event_type", "ts").distinct()
    [replayed] = funnel_counts(merged2).collect()
    assert tuple(replayed) == tuple(expected)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (views joined to clicks of the same user
    within 30 minutes): the streaming inner join over file micro-batches
    must produce EXACTLY the batch join's row set — inner interval joins
    emit every match regardless of micro-batch boundaries; the watermark
    only bounds state."""
    from pyspark.sql import functions as FF

    from tranquility_spark.sources.files import load_table
    from tranquility_spark.streaming.pipeline import stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(FF.col("event_type") == "view").select(
        "user_id", FF.col("ts").alias("l_ts"), FF.col("event_id").alias("view_id")
    )
    clicks = ev.filter(FF.col("event_type") == "click").select(
        "user_id", FF.col("ts").alias("r_ts"), FF.col("event_id").alias("click_id")
    )
    v_dir, c_dir = str(tmp_path / "views"), str(tmp_path / "clicks")
    views.repartition(3).write.parquet(v_dir)
    clicks.repartition(3).write.parquet(c_dir)

    v_stream = (
        spark.readStream.schema("user_id long, l_ts timestamp, view_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(v_dir)
    )
    c_stream = (
        spark.readStream.schema("user_id long, r_ts timestamp, click_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(c_dir)
    )
    # watermark wider than the fixture's full time span: micro-batch file
    # order is not event-time order here, so any realistic watermark would
    # (correctly!) drop out-of-order anchors as late — the same P6 lateness
    # semantics the sink has. Equality-with-batch needs nothing late; the
    # production state bound comes from a realistic watermark instead.
    joined = stream_interval_join(
        v_stream, c_stream, key="user_id", max_delay="30 minutes",
        watermark="3650 days",
    )
    out_dir = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in stream_interval_join(
            views, clicks, key="user_id", max_delay="30 minutes"
        ).collect()
    }
    assert want, "fixture must produce at least one view->click match"
    assert got == want
    # sanity: the predicate really is an interval (no click before its view)
    sample = spark.read.parquet(out_dir).select("l_ts", "r_ts").collect()
    assert all(r["r_ts"] >= r["l_ts"] for r in sample)


def test_stream_interval_join_backtick_identifiers(spark):
    """ADVICE r07: the join condition is built with the Column API and
    backtick-quoted identifiers, so key/timestamp columns whose names need
    quoting (dots, spaces, hyphens) work; a malformed interval fails in the
    interval parser, not as a whole-condition SQL parse error."""
    import pytest as pt

    from pyspark.sql import functions as FF

    from tranquility_spark.streaming.pipeline import stream_interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00")],
        "`user id` long, lts string",
    ).select(FF.col("`user id`"), FF.col("lts").cast("timestamp").alias("l.ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00"), (1, "2024-01-01 12:00:00"),
         (2, "2024-01-01 10:59:00")],
        "`user id` long, rts string",
    ).select(FF.col("`user id`"), FF.col("rts").cast("timestamp").alias("r-ts"))
    out = stream_interval_join(
        left, right, key="user id", left_ts="l.ts", right_ts="r-ts",
        max_delay="10 minutes",
    )
    got = {(r["user id"], str(r["r-ts"])) for r in out.collect()}
    # user 1: only the 10:05 click is within [10:00, 10:10]; user 2's click
    # at 10:59 precedes the 11:00 view -> excluded by the lower bound
    assert got == {(1, "2024-01-01 10:05:00")}
    with pt.raises(Exception, match="(?i)interval|syntax"):
        stream_interval_join(
            left, right, key="user id", left_ts="l.ts", right_ts="r-ts",
            max_delay="not an interval",
        )


def test_streaming_nested_groupby_partials_equal_batch_dq12(spark, sf_dir, tmp_path):
    """dq12's nested groupBy lifted to streaming: append mode cannot chain
    two aggregations, so the inner per-user agg lands as per-batch partials
    (counts and decimal sums are sum-mergeable — the CMS argument applied
    to exact aggregates), merged per user at read time before the outer
    band agg. Result must EQUAL the batch dq12 rows exactly (value_per_event
    divides the same exact decimal totals on both paths)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.batch_sink import write_batch_partition
    from tranquility_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    out = str(tmp_path / "user_partials")

    def sink(batch_df, batch_id):
        partial = batch_df.groupBy("user_id").agg(
            FF.count(FF.lit(1)).alias("n_events"),
            FF.sum(FF.col("value").cast("decimal(28,6)")).alias("sum_value"),
        )
        write_batch_partition(partial, out, batch_id)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2  # really streamed
    per_user = partials.groupBy("user_id").agg(
        FF.sum("n_events").alias("n_events"),
        FF.sum("sum_value").cast("decimal(28,6)").alias("sum_value"),
    )
    streamed = (
        per_user.groupBy(
            FF.floor(FF.col("n_events") / 5).cast("long").alias("activity_band")
        )
        .agg(
            FF.count(FF.lit(1)).alias("n_users"),
            FF.sum("n_events").alias("total_events"),
            (
                FF.sum("sum_value").cast("double") / FF.sum("n_events")
            ).alias("value_per_event"),
        )
        .collect()
    )
    batch = CATALOG["dq12_nested_groupby"].fn(spark, sf_dir).collect()
    key = lambda r: (r["activity_band"], r["n_users"], r["total_events"],
                     round(r["value_per_event"], 9))
    assert sorted(map(key, streamed)) == sorted(map(key, batch))


def test_streaming_topn_partials_equal_batch_dq6(spark, sf_dir, tmp_path):
    """dq6's exact topN lifted to streaming: per-batch per-user partial
    sums land via foreachBatch (truncating partials to K would LOSE
    exactness — a user's mass can be spread thin across batches, the
    reason Druid's native topN is approximate); the read-time merge is
    |users|-bounded and the final top-25 equals the batch query exactly."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.batch_sink import write_batch_partition
    from tranquility_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    out = str(tmp_path / "topn_partials")

    def sink(batch_df, batch_id):
        partial = (
            batch_df.filter(
                FF.col("event_type").isin("click", "purchase", "view")
            )
            .groupBy("user_id")
            .agg(
                FF.sum(FF.col("value").cast("decimal(28,6)")).alias("sum_value"),
                FF.count(FF.lit(1)).alias("n"),
            )
        )
        write_batch_partition(partial, out, batch_id)

    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2  # really streamed
    streamed = (
        partials.groupBy("user_id")
        .agg(
            FF.sum("sum_value").cast("decimal(28,6)").alias("sv"),
            FF.sum("n").alias("n"),
        )
        .select("user_id", FF.col("sv").cast("double").alias("sum_value"), "n")
        .orderBy(FF.col("sum_value").desc(), "user_id")
        .limit(25)
        .collect()
    )
    batch = CATALOG["dq6_topn"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_streaming_avro_wire_ingest(spark, tmp_path):
    """The binary wire path under Structured Streaming: a stream of
    Kafka-shaped (topic, value BINARY) rows where value is an Avro wire
    payload decodes through parse_kafka_batch(wire_format='avro') —
    mapInPandas composes with the streaming plan — and the streamed
    result equals the batch decode of the same rows (corrupt payloads
    dropped in both)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.sources.kafka import parse_kafka_batch

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "value", "type": ["null", "double"], "default": None},
        ],
    }
    rows = [
        ("wiki-en", bytearray(encode_value({"event_id": i, "value": float(i)}, schema)))
        for i in range(50)
    ] + [("wiki-de", bytearray(b"\xff\xff\xff"))]  # corrupt payload
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "topic string, value binary").repartition(
        3
    ).write.parquet(src)

    mappings = [("wiki-.*", "wiki")]
    kw = dict(
        schema="event_id long, value double",
        mappings=mappings,
        wire_format="avro",
        avro_schema=schema,
    )
    stream = (
        spark.readStream.schema("topic string, value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "decoded")
    q = (
        parse_kafka_batch(stream, **kw)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = sorted(
        map(tuple, spark.read.parquet(out).collect())
    )
    batch = sorted(
        map(
            tuple,
            parse_kafka_batch(
                spark.read.parquet(src), **kw
            ).collect(),
        )
    )
    assert streamed == batch
    assert len(streamed) == 50  # the corrupt payload dropped in both


def test_streaming_smile_wire_ingest_to_segments(spark, tmp_path):
    """VERDICT r9 #4: the Smile wire path end-to-end under Structured
    Streaming, symmetric to test_streaming_avro_wire_ingest and composed
    through to the segment sink: Kafka-shaped (topic, value BINARY) rows
    whose values are Smile payloads decode via
    parse_kafka_batch(wire_format='smile'), roll up (stream_rollup), and
    land in SegmentSink — with drop AND dead-letter accounting asserted
    (corrupt payloads, unmatched topics, mis-typed fields)."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.kafka import parse_kafka_batch

    def payload(rec):
        e = SmileEncoder()
        e.write(rec)
        return bytearray(e.getvalue())

    events = [
        {"timestamp": "2024-06-01T11:05:10", "page": "a", "added": 1.0},
        {"timestamp": "2024-06-01T11:05:40", "page": "a", "added": 2.0},
        {"timestamp": "2024-06-01T11:06:10", "page": "b", "added": 3.0},
        {"timestamp": "2024-06-01T12:05:10", "page": "a", "added": 4.0},
    ]
    flush = {"timestamp": "2024-06-01T14:00:00", "page": "__flush", "added": 0.0}
    rows = [("wiki-en", payload(e)) for e in events + [flush]]
    rows += [
        ("wiki-de", bytearray(b"\xff\xff\xff")),          # corrupt payload
        ("metrics-prod", payload(events[0])),             # unmatched topic
        ("wiki-en", payload({"timestamp": "2024-06-01T11:07:00",
                             "page": 123, "added": 1.0})),  # mis-typed field
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "topic string, value binary").repartition(
        2
    ).write.parquet(src)

    kw = dict(
        schema="timestamp string, page string, added double",
        mappings=[("wiki-.*", "wiki")],
        wire_format="smile",
    )

    # dead-letter accounting (batch, drop_malformed=False — the JSON/Avro
    # path contract): the corrupt payload and the mis-typed record are
    # RETAINED with every field NULL; the unmatched topic is gone before
    # the decode; strict mode drops both dead-letter rows
    acct = parse_kafka_batch(
        spark.read.parquet(src), drop_malformed=False, **kw
    )
    assert acct.count() == 7  # 8 rows - 1 unmatched topic
    dead = acct.filter("timestamp IS NULL")
    assert dead.count() == 2
    assert dead.filter("page IS NOT NULL OR added IS NOT NULL").count() == 0
    assert {r["topic"] for r in dead.collect()} == {"wiki-de", "wiki-en"}
    strict = parse_kafka_batch(spark.read.parquet(src), **kw)
    assert strict.count() == 5 and strict.filter("timestamp IS NULL").count() == 0

    # streaming: decode -> rollup -> segment sink
    spec = _spec()
    stream = (
        spark.readStream.schema("topic string, value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    decoded = parse_kafka_batch(stream, **kw).drop("datasource", "topic")
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    q = (
        stream_rollup(decoded, spec)
        .writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sink.read(spark).select("ts", "page", "n", "added_sum")
    want = build_rollup(spec)(spark.createDataFrame(
        [(e["timestamp"], e["page"], e["added"]) for e in events],
        "timestamp string, page string, added double",
    ))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_streaming_bm25_partials_equal_batch_stats(spark, sf_dir, tmp_path):
    """Family #9 under a real readStream + foreachBatch run: documents
    streamed in 3 micro-batches through bm25_partials_sink; the
    merged-at-read lifetime stats must be BIT-identical to the one-shot
    batch build, and bm25_scores served from them must equal the rescan
    form exactly."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.text import (
        bm25_corpus_stats,
        bm25_partials_sink,
        bm25_scores,
        bm25_stats_merge_read,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    sink_dir = str(tmp_path / "bm25_stats")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(bm25_partials_sink(sink_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    lifetime = bm25_stats_merge_read(spark, sink_dir)
    direct = bm25_corpus_stats(docs)
    assert sorted(map(str, lifetime.collect())) == sorted(
        map(str, direct.collect())
    )
    terms = ("dup", "spark", "vector")
    served = sorted(
        map(tuple, bm25_scores(docs, terms, stats=lifetime).collect())
    )
    rescan = sorted(map(tuple, bm25_scores(docs, terms).collect()))
    assert served == rescan and served


def test_streaming_ivf_index_append_sink(spark, sf_dir, tmp_path):
    """The ANN serving index maintained at INGEST: embeddings streamed in
    3 micro-batches through ivf_index_append_sink land in
    (centroid_id, batch_id) partitions; serving over the accumulated
    layout equals the inline ivf_topk over the full corpus; a forced
    replay leaves the layout byte-identical (no duplicated vectors);
    appending with different centroids raises."""
    import os

    import pytest as pt

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cents = sim.ivf_centroids(emb, n_centroids=8)
    path = str(tmp_path / "ivf_stream")
    write = sim.ivf_index_append_sink(path, cents)
    for i in range(3):
        write(emb.filter(F.col("vec_id") % 3 == i), i)

    served = sorted(
        map(tuple, sim.ivf_topk_indexed(spark, path, qvec, k=10, nprobe=4).collect())
    )
    inline = sorted(
        map(tuple, sim.ivf_topk(emb, qvec, k=10, nprobe=4, centroids=cents).collect())
    )
    assert served == inline and served

    # replay batch 1: layout unchanged row-for-row, serving unchanged
    before = sorted(map(str, spark.read.parquet(path).collect()))
    write(emb.filter(F.col("vec_id") % 3 == 1), 1)
    after = sorted(map(str, spark.read.parquet(path).collect()))
    assert after == before
    assert sorted(
        map(tuple, sim.ivf_topk_indexed(spark, path, qvec, k=10, nprobe=4).collect())
    ) == served

    # pruning still engages through the two-level partitioning
    probe_plan = (
        sim.ivf_topk_indexed(spark, path, qvec, k=10, nprobe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = probe_plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid_id" in pf and " IN " in pf

    # different centroids refuse to append
    other = [[v + 1.0 for v in c] for c in cents]
    with pt.raises(ValueError, match="DIFFERENT"):
        sim.ivf_index_append_sink(path, other)(emb.limit(5), 99)
    assert os.path.exists(os.path.join(path, "_ivf_meta.json"))

    # ADVICE r10 #2: appending into a ONE-SHOT layout (centroid_id-only
    # partitions) refuses even with matching centroids — (centroid_id,
    # batch_id) partitions under the same root would mix two partition
    # structures and break spark.read.parquet
    oneshot = str(tmp_path / "ivf_oneshot")
    sim.ivf_index_write(emb, cents, oneshot)
    with pt.raises(ValueError, match="partitioned by"):
        sim.ivf_index_append_sink(oneshot, cents)(emb.limit(5), 0)

    # a legacy sidecar with no "partitioning" key could only have come
    # from the one-shot writers — same refusal
    import json

    meta_path = os.path.join(oneshot, "_ivf_meta.json")
    with open(meta_path, encoding="utf-8") as fh:
        legacy = json.load(fh)
    legacy.pop("partitioning")
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump(legacy, fh)
    with pt.raises(ValueError, match="partitioned by"):
        sim.ivf_index_append_sink(oneshot, cents)(emb.limit(5), 0)


def test_streaming_ivfpq_index_append_sink(spark, sf_dir, tmp_path):
    """IVF-PQ maintained at ingest: 3 streamed batches == the one-shot
    ivfpq_index_write layout when served (same query, same results);
    replay replaces; mismatched codebooks refuse."""
    import pytest as pt

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cents = sim.ivf_centroids(emb, n_centroids=8)
    books = sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1)

    streamed = str(tmp_path / "pq_stream")
    write = sim.ivfpq_index_append_sink(streamed, cents, books)
    for i in range(3):
        write(emb.filter(F.col("vec_id") % 3 == i), i)
    oneshot = str(tmp_path / "pq_oneshot")
    sim.ivfpq_index_write(emb, cents, books, oneshot)

    got = sorted(
        map(tuple, sim.ivfpq_topk_indexed(spark, streamed, qvec, k=10, nprobe=6).collect())
    )
    want = sorted(
        map(tuple, sim.ivfpq_topk_indexed(spark, oneshot, qvec, k=10, nprobe=6).collect())
    )
    assert got == want and got

    before = sorted(map(str, spark.read.parquet(streamed).collect()))
    write(emb.filter(F.col("vec_id") % 3 == 2), 2)  # replay
    after = sorted(map(str, spark.read.parquet(streamed).collect()))
    assert after == before

    bad_books = [[[v + 0.5 for v in c] for c in b] for b in books]
    with pt.raises(ValueError, match="DIFFERENT"):
        sim.ivfpq_index_append_sink(streamed, cents, bad_books)(emb.limit(5), 9)

    # ADVICE r10 #2: the one-shot layout refuses appends (mixed partition
    # structures would break reads), even with matching parameters
    with pt.raises(ValueError, match="partitioned by"):
        sim.ivfpq_index_append_sink(oneshot, cents, books)(emb.limit(5), 0)


def test_streaming_chaos_kill_mid_batch_exactly_once(spark, tmp_path):
    """VERDICT r11 #4, the DefunctBeam scenario (ClusteredBeamTest matrix):
    kill a LIVE streaming query BETWEEN segment publish and marker commit,
    then restart from the checkpoint and demand exactly-once at the sink.

    The kill is injected into the real commit path (os.rename of the batch-1
    marker raises on its first attempt), so the crash state is produced by
    the query itself, not simulated by deleting files afterwards:
      - mid-crash, batch 1's files ARE published (the failure window is
        real) but the committed_only read exposes NONE of them — the marker
        protocol leaves no partial segment visible to a snapshot reader;
      - after restart, the replayed batch overwrites its own deterministic
        file names and commits: both reads agree and equal the input
        exactly (no loss, no duplication, no stray files).
    """
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    src.mkdir()
    rows_a = [("2024-06-01T11:05:00", "a1"), ("2024-06-01T11:06:00", "a2")]
    rows_b = [("2024-06-01T12:05:00", "b1"), ("2024-06-01T12:06:00", "b2")]
    for name, rows in (("a.json", rows_a), ("b.json", rows_b)):
        with open(src / name, "w") as f:
            for ts, page in rows:
                f.write(json.dumps({"ts": ts, "page": page}) + "\n")

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    crashed = {"done": False}
    real_rename = os.rename
    real_link = os.link

    def chaos_rename(s, d):
        if os.path.basename(str(d)) == "wiki-1" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between publish and marker")
        real_rename(s, d)

    def chaos_link(s, d):
        # r14: the marker commit is exclusive-link-first (rename is only
        # the no-hardlink fallback) — inject on both primitives so the
        # kill still lands in the publish→marker window
        if os.path.basename(str(d)) == "wiki-1" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between publish and marker")
        real_link(s, d)

    def run_query():
        stream = (
            spark.readStream.schema("ts string, page string")
            .option("maxFilesPerTrigger", 1)  # one micro-batch per file
            .json(str(src))
            .select(F.to_timestamp("ts").alias("ts"), "page")
        )
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    sink_mod.os.rename = chaos_rename
    sink_mod.os.link = chaos_link
    try:
        with pytest.raises(StreamingQueryException, match="chaos"):
            run_query()
    finally:
        sink_mod.os.rename = real_rename
        sink_mod.os.link = real_link
    assert crashed["done"], "the injected kill never fired"

    # mid-crash state: batch 1 published but unmarked
    committed = sink.committed_batch_ids()
    assert 1 not in committed and len(committed) >= 1
    published = glob.glob(f"{sink._ds_root(0)}/**/batch-1-*.parquet", recursive=True)
    assert published, "crash fired before publish — the window wasn't exercised"
    raw_mid = sink.read(spark).count()
    snap_mid = sink.read(spark, committed_only=True)
    marker_rows = sum(
        json.load(open(f"{tmp_path}/seg/_batches/wiki-{b}"))["rows"]
        for b in committed
    )
    assert snap_mid.count() == marker_rows  # snapshot == exactly the committed rows
    assert raw_mid > marker_rows  # the partial segment IS on disk — and hidden

    # restart from the same checkpoint: the replayed batch commits idempotently
    run_query()
    want = sorted(p for _, p in rows_a + rows_b)
    for committed_only in (False, True):
        got = sorted(
            r["page"]
            for r in sink.read(spark, committed_only=committed_only)
            .select("page")
            .collect()
        )
        assert got == want, f"exactly-once violated (committed_only={committed_only})"
    # no stray files: every published file belongs to a committed batch
    all_files = glob.glob(f"{sink._ds_root(0)}/**/*.parquet", recursive=True)
    batch_ids = {int(os.path.basename(p).split("-")[1]) for p in all_files}
    assert batch_ids <= sink.committed_batch_ids()


def test_streaming_chaos_kill_between_replica_publishes(spark, tmp_path):
    """The second DefunctBeam kill window (r12, companion to the
    marker-kill test): a LIVE query dies while publishing replica 1 of a
    batch — replica 0 is already published, replica 1 is partial, no
    marker exists. The injected failure raises a NON-OSError inside the
    real publish loop (an OSError would silently take the copyfile
    fallback). After restart both replicas must hold the input exactly
    once and agree with each other; mid-crash the snapshot read hides
    the unmarked batch on BOTH replicas."""
    import glob

    import tranquility_spark.streaming.sink as sink_mod
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    src.mkdir()
    rows_a = [("2024-06-01T11:05:00", "a1"), ("2024-06-01T11:06:00", "a2")]
    rows_b = [("2024-06-01T12:05:00", "b1"), ("2024-06-01T12:06:00", "b2")]
    for name, rows in (("a.json", rows_a), ("b.json", rows_b)):
        with open(src / name, "w") as f:
            for ts, page in rows:
                f.write(json.dumps({"ts": ts, "page": page}) + "\n")

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR", replicants=2)
    crashed = {"done": False}
    real_link = os.link

    def chaos_link(s, d):
        # kill while publishing batch 1's REPLICA 1 (replica 0 is done)
        if "/r=1/" in str(d) and "batch-1-" in os.path.basename(str(d)) and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("chaos: killed between replica publishes")
        real_link(s, d)

    def run_query():
        stream = (
            spark.readStream.schema("ts string, page string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .select(F.to_timestamp("ts").alias("ts"), "page")
        )
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    sink_mod.os.link = chaos_link
    try:
        with pytest.raises(StreamingQueryException, match="chaos"):
            run_query()
    finally:
        sink_mod.os.link = real_link
    assert crashed["done"], "the injected kill never fired"

    # mid-crash: replica 0 has batch 1, replica 1 doesn't finish it, no marker
    assert 1 not in sink.committed_batch_ids()
    r0_files = glob.glob(f"{sink._ds_root(0)}/**/batch-1-*.parquet", recursive=True)
    assert r0_files, "crash fired before replica 0 published"
    for replica in (0, 1):
        snap = {
            r["page"]
            for r in sink.read(spark, replica=replica, committed_only=True)
            .select("page").collect()
        }
        assert snap == {p for _, p in rows_a}, f"replica {replica} snapshot leaked"

    # restart: the replayed batch heals replica 1 and overwrites replica 0
    run_query()
    want = sorted(p for _, p in rows_a + rows_b)
    for replica in (0, 1):
        got = sorted(
            r["page"] for r in sink.read(spark, replica=replica).select("page").collect()
        )
        assert got == want, f"replica {replica} not exactly-once"


def test_stream_rollup_spatial_dimensions_match_batch(spark, tmp_path):
    """r12: a spec with spatialDimensions rolls up identically through the
    STREAMING path and the batch path — stream_rollup previously resolved
    the derived dim's NAME without applying the "lat,lon" encode, so a
    spatial spec worked in batch and threw in streaming. Covers both the
    static-frame parity and a true availableNow file-stream run."""
    spec = IngestSpec(
        datasource="geo",
        timestamp_spec=TimestampSpec(column="timestamp", output="ts"),
        # NOTE the convention (documented on DimensionsSpec): spatial names
        # are ADDED by resolve() — declaring "coords" in dimensions too
        # would emit a duplicate column the parquet writer rejects
        dimensions_spec=DimensionsSpec(
            dimensions=["page"],
            spatial_dimensions=[("coords", ("lat", "lon"))],
        ),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec(
            segment_granularity="HOUR", query_granularity="MINUTE"
        ),
    )
    rows = [
        ("2024-06-01T11:05:10", "a", 1.0, 10.5, -20.25),
        ("2024-06-01T11:05:40", "a", 2.0, 10.5, -20.25),   # same cell+minute: rolls up
        ("2024-06-01T11:06:10", "b", 3.0, -45.0, 170.75),
        ("2024-06-01T12:05:10", "a", 4.0, 10.5, -20.25),
    ]
    ddl = "timestamp string, page string, added double, lat double, lon double"
    df = spark.createDataFrame(rows, ddl)
    streamed_static = stream_rollup(df, spec).drop("segment_start")
    batch = build_rollup(spec)(df)
    assert sorted(map(tuple, streamed_static.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # the encode really happened: the first-minute bucket collapsed on coords
    enc = {r["coords"] for r in batch.collect()}
    assert enc == {"10.5,-20.25", "-45.0,170.75"}

    # true streaming run through the sink
    src = tmp_path / "src"
    src.mkdir()
    flush = ("2024-06-01T14:00:00", "__flush", 0.0, 0.0, 0.0)
    with open(src / "part-0.json", "w") as f:
        for ts, page, added, lat, lon in rows + [flush]:
            f.write(json.dumps({"timestamp": ts, "page": page, "added": added,
                                "lat": lat, "lon": lon}) + "\n")
    stream = spark.readStream.schema(ddl).json(str(src))
    sink = SegmentSink(str(tmp_path / "seg"), "geo", "HOUR")
    q = (
        stream_rollup(stream, spec)
        .writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sink.read(spark).select("ts", "page", "coords", "n", "added_sum")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_simhash_index_sink_equals_batch_pass(spark, sf_dir, tmp_path):
    """r12, the MinHash sink test's shape on the second signature family:
    stream the documents table in 4 micro-batches through
    simhash_index_sink; the union of emitted pairs must equal ONE
    simhash_neardup_pairs pass over the full corpus, and a replayed
    delivery must rewrite its own partitions with identical content."""
    from tranquility_spark.operators.dedup import (
        simhash_index_sink,
        simhash_neardup_pairs,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = simhash_index_sink(index_dir, pairs_dir, threshold=3)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def pairs_snapshot():
        return {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in spark.read.parquet(pairs_dir)
            .dropDuplicates(["doc_a", "doc_b"])
            .collect()
        }

    streamed = pairs_snapshot()
    batch = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, threshold=3).collect()
    }
    assert streamed == batch
    assert batch, "fixture must produce hamming<=3 pairs"
    # one band row per doc per band accumulated
    assert spark.read.parquet(index_dir).count() == docs.count() * 4

    # replay contract: redeliver the LAST batch id — contents unchanged
    last = max(
        r["batch_id"]
        for r in spark.read.parquet(pairs_dir).select("batch_id").distinct().collect()
    )
    # re-run the real batch: reconstruct it from the index's own rows
    replay_ids = {
        r["id"]
        for r in spark.read.parquet(index_dir)
        .filter(F.col("batch_id") == last)
        .select("id")
        .distinct()
        .collect()
    }
    replay_docs = docs.filter(F.col("doc_id").isin(list(replay_ids)))
    before = pairs_snapshot()
    sink(replay_docs, last)
    assert pairs_snapshot() == before


def test_streamed_simhash_index_serves_full_pairs(spark, sf_dir, tmp_path):
    """r13, the ingest-to-serving closure: the band index ACCUMULATED BY
    THE STREAMING SINK is directly servable by dd19's
    simhash_pairs_from_index — full pair extraction from the streamed
    index equals one inline simhash_neardup_pairs pass over everything
    ingested, without re-hashing any batch. This is the 100 TB loop:
    sign once at ingest (simhash_index_sink), serve pairs forever from
    the index."""
    from tranquility_spark.operators.dedup import (
        simhash_index_sink,
        simhash_neardup_pairs,
        simhash_pairs_from_index,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = simhash_index_sink(index_dir, pairs_dir, threshold=3)
    for i in range(3):  # the foreachBatch body, driven directly
        sink(docs.filter(F.col("doc_id") % 3 == i), i)

    served = simhash_pairs_from_index(
        spark.read.parquet(index_dir), threshold=3
    )
    inline = simhash_neardup_pairs(docs, threshold=3)
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want and got


# ---------------------------------------------------------------------------
# r14 sink hardening (second code-review pass): retry drift, janitor race,
# read-path guards, loud collisions, real multi-file targets
# ---------------------------------------------------------------------------


@ROUTES
def test_window_period_retry_drift_clears_stale_buckets(spark, tmp_path, route):
    """r14 code-review: with window_period, a retried batch re-filters at a
    LATER clock and may stage FEWER buckets — the crashed attempt's file in
    a bucket the retry no longer writes must NOT become committed-visible
    (deterministic names only overwrite buckets written AGAIN)."""
    import glob

    import tranquility_spark.streaming.sink as sink_mod

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    clock = {"now": t0}
    sink = SegmentSink(
        str(tmp_path / "seg"), "wiki", "HOUR", window_period="PT10M",
        clock=lambda: clock["now"],
    )
    df = _batch(
        spark,
        [
            (dt.datetime(2024, 6, 1, 11, 55, 0), "old_bucket"),  # 5m old at t0
            (dt.datetime(2024, 6, 1, 12, 1, 0), "new_bucket"),
        ],
        "ts timestamp, page string",
        route,
    )
    # attempt 1: crash at the marker commit (publish already happened)
    real_link, real_rename = os.link, os.rename

    def chaos(s, d):
        if os.path.basename(str(d)) == "wiki-1":
            raise RuntimeError("chaos: marker")
        real_link(s, d)

    sink_mod.os.link = chaos
    try:
        import pytest as pt

        with pt.raises(RuntimeError, match="chaos"):
            sink.write_batch(df, batch_id=1)
    finally:
        sink_mod.os.link = real_link
        sink_mod.os.rename = real_rename
    stale = glob.glob(f"{sink._ds_root(0)}/g=2024-06-01-11-00/**/batch-1-*.parquet",
                      recursive=True)
    assert stale, "attempt 1 should have published the 11:00 bucket"

    # retry 6 minutes later: the 11:55 row is now outside PT10M
    clock["now"] = t0 + dt.timedelta(minutes=6)
    n = sink.write_batch(df, batch_id=1)
    assert n == 1  # only new_bucket survives the re-filter
    got = [r.page for r in sink.read(spark, committed_only=True).collect()]
    assert got == ["new_bucket"], got
    assert not glob.glob(
        f"{sink._ds_root(0)}/g=2024-06-01-11-00/**/batch-1-*.parquet",
        recursive=True,
    ), "stale bucket file from the crashed attempt leaked into the commit"


def test_staging_janitor_restores_marked_files_and_clears_leaks(spark, tmp_path):
    """A run that dies before removing its staging dir leaks it; the next
    compact() must remove it (no run of the replica is live then: they
    serialize on the compaction lock) and leave the snapshot exact."""
    import glob
    import shutil as sh

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(2):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, b), f"p{b}")], "ts timestamp, page string"
        )
        sink.write_batch(df, b + 1)
    want = sorted(f"p{b}" for b in range(2))
    assert compact(sink, spark) == 1
    # manufacture leaked staging dirs of the committed generation, under
    # this version's name and an older version's pid/thread-suffixed one
    m = sink.committed_compactions(0)[-1]
    live_rel = m["files"][0]
    live = os.path.join(sink._ds_root(0), live_rel)
    leaked = [
        f"{sink.root}/_staging/compact-wiki-r0-{m['gen']}",
        f"{sink.root}/_staging/compact-wiki-r0-{m['gen']}.999999.1",
    ]
    for staging in leaked:
        sdir = os.path.join(staging, os.path.dirname(live_rel))
        os.makedirs(sdir, exist_ok=True)
        sh.copyfile(live, os.path.join(sdir, "part-00000.snappy.parquet"))
    compact(sink, spark)
    for staging in leaked:
        assert not os.path.isdir(staging), f"leaked staging dir not cleared: {staging}"
    assert not glob.glob(f"{sink.root}/_compactions/*.lock")
    got = sorted(r.page for r in sink.read(spark, committed_only=True).collect())
    assert got == want


# holds an exclusive flock on argv[1] until killed
_FLOCK_HOLDER = (
    "import fcntl, sys, time\n"
    "fh = open(sys.argv[1], 'a')\n"
    "fcntl.flock(fh, fcntl.LOCK_EX)\n"
    "print('locked', flush=True)\n"
    "time.sleep(600)\n"
)


def test_write_batch_live_lock_blocks_sweep(spark, tmp_path):
    """A live concurrent producer of the same batch id must not be able to
    sweep/clobber the other's files — exclusivity is acquired BEFORE any
    mutation — and the blocked producer WAITS for the holder's outcome
    (marker -> return 0; lock freed -> write) instead of skipping on a
    snapshot of who holds the lock."""
    import subprocess
    import sys
    import threading
    import time as _time

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 11, 5), "a")], "ts timestamp, page string"
    )
    assert sink.write_batch(df, 1) == 1
    # simulate the winner mid-protocol: its files are on disk, marker not
    # yet committed, lock held on a second descriptor
    marker = sink._marker_path(1)
    committed = open(marker).read()
    os.remove(marker)
    lock = sink._acquire_batch_lock(marker)
    assert lock is not None
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(sink._ds_root(0))
        for f in fs
        if f.startswith("batch-1-")
    )
    # the holder "commits" its marker shortly after, then releases; the
    # blocked producer must wait it out and return 0 without having
    # touched any file
    def commit_later():
        _time.sleep(1.0)
        with open(marker, "w") as fh:
            fh.write(committed)
        sink._release_batch_lock(lock)

    t = threading.Thread(target=commit_later)
    t.start()
    assert sink.write_batch(df, 1) == 0  # waited for the marker, not swept
    t.join()
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(sink._ds_root(0))
        for f in fs
        if f.startswith("batch-1-")
    )
    assert files_after == files_before and files_before, (
        "a blocked producer deleted the lock holder's published files"
    )
    os.remove(marker)
    # a holder SIGKILLed mid-protocol leaves its lock file behind, but the
    # kernel dropped its lock: the next producer takes it and completes
    holder = subprocess.Popen(
        [sys.executable, "-c", _FLOCK_HOLDER, f"{marker}.lock"],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
    finally:
        holder.kill()
        holder.wait()
    assert os.path.exists(f"{marker}.lock")
    assert sink.write_batch(df, 1) == 1  # taken over and completed
    assert not os.path.exists(f"{marker}.lock")
    assert sink.read(spark, committed_only=True).count() == 1


def test_batch_lock_of_killed_holder_is_taken_without_waiting(tmp_path, monkeypatch):
    """Spark-free: while a child process holds a batch lock, the lock is
    refused; once the child is SIGKILLed the next write_batch proceeds at
    once (no stale-lock wait) and releases the lock."""
    import subprocess
    import sys
    import time as _time

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    monkeypatch.setattr(SegmentSink, "_write_batch_locked", lambda self, df, bid, m: 7)
    marker = sink._marker_path(3)
    os.makedirs(os.path.dirname(marker))
    holder = subprocess.Popen(
        [sys.executable, "-c", _FLOCK_HOLDER, f"{marker}.lock"],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        assert sink._acquire_batch_lock(marker) is None  # a live holder excludes
    finally:
        holder.kill()
        holder.wait()
    t0 = _time.monotonic()
    assert sink.write_batch(None, 3) == 7
    assert _time.monotonic() - t0 < 0.2  # under one poll interval: no wait
    assert not os.path.exists(f"{marker}.lock")


def test_batch_lock_released_when_write_raises(tmp_path, monkeypatch):
    """Spark-free: an exception inside the locked write propagates and
    leaves the batch lock free for the retry."""
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")

    def boom(self, df, batch_id, marker):
        raise OSError("disk full")

    monkeypatch.setattr(SegmentSink, "_write_batch_locked", boom)
    with pytest.raises(OSError, match="disk full"):
        sink.write_batch(None, 4)
    marker = sink._marker_path(4)
    assert not os.path.exists(f"{marker}.lock")
    lock = sink._acquire_batch_lock(marker)
    assert lock is not None
    sink._release_batch_lock(lock)


def test_lock_excludes_under_thread_contention(tmp_path):
    """Spark-free stress: more threads than cores take and release one lock
    path in a tight loop with a short switch interval. Each release
    removes the path, so a waiter may lock a file that no longer names it;
    the holder count inside the lock must still never exceed one."""
    import sys
    import threading

    from tranquility_spark.streaming.sink import _try_lock, _unlock

    path = str(tmp_path / "locks" / "x.lock")
    state = {"inside": 0, "max": 0, "done": 0}
    n_threads, rounds = 8, 200

    def worker():
        for _ in range(rounds):
            while (fh := _try_lock(path)) is None:
                pass
            state["inside"] += 1
            state["max"] = max(state["max"], state["inside"])
            state["done"] += 1
            state["inside"] -= 1
            _unlock(fh)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert state["max"] == 1
    assert state["done"] == n_threads * rounds
    assert not os.path.exists(path)


def test_concurrent_compactions_serialize(spark, tmp_path):
    """Two threads compact one sink at once: the lock makes them run one
    after the other, so both return, exactly one new generation commits
    (the second run finds the layout at target), the snapshot is exact and
    no staging dir or lock file is left."""
    import glob
    import threading

    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(4):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11 + b % 2, b), f"p{b}")],
            "ts timestamp, page string",
        )
        sink.write_batch(df, b + 1)
    want = sorted(f"p{b}" for b in range(4))
    start = threading.Barrier(2)
    results, errors = [], []

    def run():
        start.wait(timeout=60)
        try:
            results.append(compact(sink, spark))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    assert sorted(results) == [0, 2]  # one run rewrote both buckets
    assert [m["gen"] for m in sink.committed_compactions(0)] == [1]
    got = sorted(r.page for r in sink.read(spark, committed_only=True).collect())
    assert got == want
    raw = sorted(r.page for r in sink.read(spark).collect())
    assert raw == want
    assert not os.listdir(f"{sink.root}/_staging")
    assert not glob.glob(f"{sink.root}/**/*.lock", recursive=True)


def test_batch_lock_excludes_sibling_threads_of_same_pid(spark, tmp_path):
    """r15 self-review: the pid in the lock file cannot distinguish a LIVE
    sibling thread from a crashed attempt's leak — the process-local held
    set must make a second same-process acquisition fail instead of
    stealing, and release must re-enable acquisition."""
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    marker = sink._marker_path(7)
    lock = sink._acquire_batch_lock(marker)
    assert lock is not None
    try:
        # same process, same pid — must NOT be classified as stale
        assert sink._acquire_batch_lock(marker) is None
    finally:
        sink._release_batch_lock(lock)
    lock2 = sink._acquire_batch_lock(marker)
    assert lock2 is not None
    sink._release_batch_lock(lock2)


def test_read_paths_reject_out_of_range_replica(spark, tmp_path):
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    sink.write_batch(
        spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 11, 5), "a")], "ts timestamp, page string"
        ),
        1,
    )
    for fn in (
        lambda: sink.read(spark, replica=1),
        lambda: sink.read(spark, replica=1, committed_only=True),
        lambda: sink.committed_files(replica=1),
        lambda: sink.committed_compactions(replica=1),
        lambda: sink.buckets(replica=1),
    ):
        with pytest.raises(ValueError, match="out of range"):
            fn()


def test_multi_datasource_null_datasource_counted(spark, tmp_path):
    from tranquility_spark.streaming.sink import MultiDatasourceSink

    sinks = {"wiki": SegmentSink(str(tmp_path / "wiki"), "wiki", "HOUR")}
    multi = MultiDatasourceSink(sinks)
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 6, 1, 11, 5), "a", "wiki"),
            (dt.datetime(2024, 6, 1, 11, 6), "b", "other"),
            (dt.datetime(2024, 6, 1, 11, 7), "c", None),  # NULL tag: was lost
        ],
        "ts timestamp, page string, datasource string",
    )
    assert multi.write_batch(df, 1) == 1
    assert multi.unknown_dropped == 2  # 'other' AND the NULL row


def test_sink_reserved_column_and_granularity_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="finer than"):
        SegmentSink(str(tmp_path / "s1"), "wiki", "SECOND")
    sink = SegmentSink(str(tmp_path / "s2"), "wiki", "HOUR")
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 11, 5), "a", 1)], "ts timestamp, page string, p int"
    )
    with pytest.raises(ValueError, match="reserved"):
        sink.write_batch(df, 1)


def test_compact_target_files_per_shard_actually_splits(spark, tmp_path):
    """r14 code-review: target > 1 used to be a rewrite threshold only —
    (g, p) hash partitioning always collapsed each dir to ONE file. The
    row-hash slice key makes it real: at most `target` files per dir,
    re-run still a no-op."""
    from tranquility_spark.streaming.sink import compact

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    for b in range(4):
        df = spark.createDataFrame(
            [
                (dt.datetime(2024, 6, 1, 11, m % 50), f"p{b}-{m}")
                for m in range(50)
            ],
            "ts timestamp, page string",
        )
        sink.write_batch(df, b + 1)
    before = sink.read(spark, committed_only=True).count()
    assert compact(sink, spark, target_files_per_shard=2) == 1
    seg = os.path.join(str(tmp_path / "seg"), "ds=wiki", "g=2024-06-01-11-00", "p=0")
    compact_files = [f for f in os.listdir(seg) if f.startswith("compact-")]
    assert len(compact_files) == 2, compact_files
    assert sink.read(spark, committed_only=True).count() == before
    assert compact(sink, spark, target_files_per_shard=2) == 0  # converged


def test_flush_failure_resolves_futures_exceptionally(spark, tmp_path):
    """r14 code-review: a failed flush must not leave clients hanging on
    futures nobody will complete — they resolve with the flush's error."""
    from tranquility_spark.streaming.tranquilizer import Tranquilizer

    spec = _spec()
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    t = Tranquilizer(spark, spec, sink, window_period=None)
    # 'p' collides with the sink's reserved shard column → write_batch raises
    fut = t.send({"timestamp": "2024-06-01T11:05:00", "page": "a", "added": 1.0, "p": 7})
    with pytest.raises(ValueError, match="reserved"):
        t.flush()
    assert fut.done() and isinstance(fut.exception(), ValueError)
    # a failed flush's events count as dropped, under no per-reason counter
    assert t.dropped_count == 1 and t.dropped_unparseable == t.dropped_window == 0


def test_flush_batch_id_collision_is_loud(spark, tmp_path):
    """r14 code-review: write_batch signals 'marker already exists' by
    returning 0 — acknowledging those events as sent would be silent data
    loss; the flush raises and the futures resolve exceptionally."""
    from tranquility_spark.streaming.tranquilizer import (
        MessageDroppedException,
        Tranquilizer,
    )

    spec = _spec()
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    # commit a marker for batch id 1 from a "previous producer"
    sink.write_batch(
        spark.createDataFrame(
            [(dt.datetime(2024, 6, 1, 10, 5), "old", 0.0)],
            "ts timestamp, page string, added double",
        ),
        batch_id=1,
    )
    t = Tranquilizer(spark, spec, sink, window_period=None)
    t._batch_id = 0  # simulate the misconfigured double producer
    fut = t.send({"timestamp": "2024-06-01T11:05:00", "page": "a", "added": 1.0})
    with pytest.raises(MessageDroppedException, match="NOT delivered"):
        t.flush()
    assert isinstance(fut.exception(), MessageDroppedException)
    # the original producer's committed rows are untouched
    assert sink.read(spark, committed_only=True).count() == 1


def test_drop_reason_names_parse_failure_not_window(spark, tmp_path):
    from tranquility_spark.streaming.beams import MemoryBeam
    from tranquility_spark.streaming.tranquilizer import (
        MessageDroppedException,
        Tranquilizer,
    )

    t = Tranquilizer(spark, _spec(), MemoryBeam(), window_period=None)
    ok = t.send({"timestamp": "2024-06-01T11:05:00", "page": "a", "added": 1.0})
    bad = t.send({"timestamp": "not-a-timestamp", "page": "b", "added": 2.0})
    t.flush()
    assert ok.result().sent
    exc = bad.exception()
    assert isinstance(exc, MessageDroppedException)
    assert "unparseable" in str(exc) and "windowPeriod" not in str(exc)


def test_default_clock_window_correct_on_non_utc_host(spark):
    """ADVICE r14 (high): the default-clock 'now' must stay tz-AWARE. A
    naive datetime literal converts via time.mktime in the driver's OS
    timezone, so on a non-UTC host the window center shifts by the UTC
    offset and every current event is dropped. Simulate the non-UTC host
    with TZ + tzset and send an event stamped at the real current instant."""
    import os
    import time

    from tranquility_spark.streaming.beams import MemoryBeam
    from tranquility_spark.streaming.tranquilizer import Tranquilizer

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"  # UTC-7/-8: far outside PT10M
    time.tzset()
    try:
        t = Tranquilizer(spark, _spec(), MemoryBeam(), window_period="PT10M")
        now_utc = dt.datetime.now(dt.timezone.utc)
        fut = t.send(_ev(now_utc.strftime("%Y-%m-%dT%H:%M:%S")))
        t.close()
        assert fut.result().sent is True, (
            "current event dropped — the window center shifted by the host "
            "UTC offset (naive-datetime mktime conversion)"
        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_stream_rollup_metricless_spec_matches_batch_twin(spark):
    """r14 code-review: an empty metricsSpec is valid (Druid dedups on the
    rollup key; build_rollup uses dropDuplicates) — stream_rollup used to
    crash on GroupedData.agg's no-exprs assert."""
    from tranquility_spark.plans.rollup import build_rollup
    from tranquility_spark.specs import (
        DimensionsSpec,
        GranularitySpec,
        IngestSpec,
        TimestampSpec,
    )
    from tranquility_spark.streaming.pipeline import stream_rollup

    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(),
        granularity_spec=GranularitySpec("HOUR", "MINUTE"),
    )
    df = spark.createDataFrame(
        [
            ("2024-06-01T11:05:10", "a"),
            ("2024-06-01T11:05:20", "a"),  # same minute+page → one row
            ("2024-06-01T11:06:10", "a"),
        ],
        "timestamp string, page string",
    )
    got = stream_rollup(df, spec)
    want = build_rollup(spec)(df)
    assert got.count() == want.count() == 2
    assert sorted(r.ts for r in got.select("ts").collect()) == sorted(
        r.ts for r in want.select("ts").collect()
    )


def test_sessionize_without_value_column_is_loud(spark):
    from tranquility_spark.streaming.pipeline import stream_sessionize

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 6, 1, 11, 5), "x")], "user_id long, ts timestamp, page string"
    )
    with pytest.raises(ValueError, match="metrics"):
        stream_sessionize(df)
    # explicit metrics work without a 'value' column
    out = stream_sessionize(df, metrics=[F.count(F.lit(1)).alias("n_events")])
    assert out.collect()[0].n_events == 1


def test_batch_exact_dedup_survivor_is_deterministic(spark):
    """r14 code-review: the static path used dropDuplicates (arbitrary
    survivor); now the earliest event time wins, stable across shuffles."""
    from tranquility_spark.streaming import stream_exact_dedup

    rows = [
        (dt.datetime(2024, 6, 1, 11, m), f"u{m}", "same text")
        for m in (7, 3, 9, 5)
    ] + [(dt.datetime(2024, 6, 1, 11, 1), "other", "different text")]
    df = spark.createDataFrame(rows, "ts timestamp, who string, text string")
    for parts in (1, 7):
        got = stream_exact_dedup(df.repartition(parts), "text", "ts").collect()
        by_text = {r.text: r.who for r in got}
        assert by_text == {"same text": "u3", "different text": "other"}, by_text


def test_batch_exact_dedup_handles_unorderable_columns(spark):
    """ADVICE r14 (low): frames with map-typed columns — which the old
    dropDuplicates path handled fine — must not fail analysis on the
    deterministic-survivor window sort; unorderable columns are excluded
    from the tiebreak, ts still decides."""
    from tranquility_spark.streaming import stream_exact_dedup

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 6, 1, 11, 7), {"k": "late"}, "same text"),
            (dt.datetime(2024, 6, 1, 11, 3), {"k": "early"}, "same text"),
            (dt.datetime(2024, 6, 1, 11, 1), {"k": "x"}, "different text"),
        ],
        "ts timestamp, meta map<string,string>, text string",
    )
    got = stream_exact_dedup(df, "text", "ts").collect()
    by_text = {r.text: r.meta["k"] for r in got}
    assert by_text == {"same text": "early", "different text": "x"}, by_text


def test_streaming_dhash_index_sink_equals_batch_pass(spark, sf_dir, tmp_path):
    """r15, the simhash sink test's shape on the IMAGE digest family:
    stream the corpus's digests in 4 micro-batches through
    dhash_index_sink; the union of emitted pairs must equal ONE
    dhash_neardup_pairs pass over the full corpus, a replayed delivery
    must rewrite its own partitions with identical content, and the
    accumulated index must be directly servable by dd23's
    dhash_pairs_from_index (the ingest->serving closure: decode + hash
    once per image, at ingest)."""
    from tranquility_spark.operators.dedup import (
        dhash_index_sink,
        dhash_neardup_pairs,
        dhash_pairs_from_index,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        image_dhash,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashes = image_dhash(attach_binary_payload(docs)).select("doc_id", "dhash")
    src = str(tmp_path / "src")
    hashes.repartition(4).write.parquet(src)

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = dhash_index_sink(index_dir, pairs_dir, threshold=3)
    stream = (
        spark.readStream.schema("doc_id long, dhash string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def pairs_snapshot():
        return {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in spark.read.parquet(pairs_dir)
            .dropDuplicates(["doc_a", "doc_b"])
            .collect()
        }

    streamed = pairs_snapshot()
    batch = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_neardup_pairs(hashes, threshold=3).collect()
    }
    assert streamed == batch
    assert batch, "fixture must produce hamming<=3 image pairs"
    # one band row per non-NULL digest per band accumulated
    n_hashed = hashes.filter(F.col("dhash").isNotNull()).count()
    assert spark.read.parquet(index_dir).count() == n_hashed * 4

    # replay contract: redeliver the LAST batch id — contents unchanged
    last = max(
        r["batch_id"]
        for r in spark.read.parquet(pairs_dir).select("batch_id").distinct().collect()
    )
    replay_ids = {
        r["id"]
        for r in spark.read.parquet(index_dir)
        .filter(F.col("batch_id") == last)
        .select("id")
        .distinct()
        .collect()
    }
    replay = hashes.filter(F.col("doc_id").isin(list(replay_ids)))
    before = pairs_snapshot()
    sink(replay, last)
    assert pairs_snapshot() == before

    # serving closure: the streamed index IS dd23's serving input
    served = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_pairs_from_index(
            spark.read.parquet(index_dir).drop("batch_id"), threshold=3
        ).collect()
    }
    assert served == batch


def test_streaming_audio_fp_index_sink_equals_batch_pass(spark, sf_dir, tmp_path):
    """r15, the dhash sink test's shape on the AUDIO digest family (the
    fourth family's streaming form): stream the corpus's fingerprints in
    4 micro-batches through audio_fp_index_sink; the union of emitted
    pairs must equal ONE audio_fp_neardup_pairs pass over the full
    corpus, a replayed delivery must rewrite its own partitions with
    identical content, and the accumulated index must be directly
    servable by dd26's audio_fp_pairs_from_index (decode + fingerprint
    once per clip, at ingest)."""
    from tranquility_spark.operators.dedup import (
        audio_fp_index_sink,
        audio_fp_neardup_pairs,
        audio_fp_pairs_from_index,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        audio_energy_fingerprint,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = audio_energy_fingerprint(attach_binary_payload(docs)).select(
        "doc_id", "afp"
    )
    src = str(tmp_path / "src")
    fps.repartition(4).write.parquet(src)

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = audio_fp_index_sink(index_dir, pairs_dir, threshold=3)
    stream = (
        spark.readStream.schema("doc_id long, afp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def pairs_snapshot():
        return {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in spark.read.parquet(pairs_dir)
            .dropDuplicates(["doc_a", "doc_b"])
            .collect()
        }

    streamed = pairs_snapshot()
    batch = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in audio_fp_neardup_pairs(fps, threshold=3).collect()
    }
    assert streamed == batch
    assert batch, "fixture must produce hamming<=3 audio pairs"
    n_hashed = fps.filter(F.col("afp").isNotNull()).count()
    assert spark.read.parquet(index_dir).count() == n_hashed * 4

    # replay contract: redeliver the LAST batch id — contents unchanged
    last = max(
        r["batch_id"]
        for r in spark.read.parquet(pairs_dir).select("batch_id").distinct().collect()
    )
    replay_ids = {
        r["id"]
        for r in spark.read.parquet(index_dir)
        .filter(F.col("batch_id") == last)
        .select("id")
        .distinct()
        .collect()
    }
    replay = fps.filter(F.col("doc_id").isin(list(replay_ids)))
    before = pairs_snapshot()
    sink(replay, last)
    assert pairs_snapshot() == before

    # serving closure: the streamed index IS dd26's serving input
    served = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in audio_fp_pairs_from_index(
            spark.read.parquet(index_dir).drop("batch_id"), threshold=3
        ).collect()
    }
    assert served == batch


def test_streaming_video_index_sink_equals_batch_pass(spark, sf_dir, tmp_path):
    """The fifth family's streaming form — and the first MULTI-ROW-PER-DOC
    one: stream the corpus's frame hashes in 4 DOC-ATOMIC micro-batches
    (hash-partitioned BY doc_id — the sink's stated contract; a row-level
    split would undercount n_shared) through video_index_sink; the union
    of emitted pairs must equal ONE video_neardup_pairs pass with full
    counts and containments, a replayed delivery must rewrite its own
    partitions identically, and the accumulated index must be directly
    servable by dd29's video_pairs_from_index."""
    from tranquility_spark.operators.dedup import (
        video_index_sink,
        video_neardup_pairs,
        video_pairs_from_index,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        video_frame_hashes,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = video_frame_hashes(attach_binary_payload(docs)).select(
        "doc_id", "frame_idx", "fhash"
    )
    src = str(tmp_path / "src")
    fps.repartition(4, F.col("doc_id")).write.parquet(src)

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = video_index_sink(index_dir, pairs_dir, min_shared=2)
    stream = (
        spark.readStream.schema("doc_id long, frame_idx long, fhash string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def pairs_snapshot():
        return {
            (r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_a"], r["n_b"], r["containment"])
            for r in spark.read.parquet(pairs_dir)
            .dropDuplicates(["doc_a", "doc_b"])
            .collect()
        }

    streamed = pairs_snapshot()
    batch = {
        (r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_a"], r["n_b"], r["containment"])
        for r in video_neardup_pairs(fps, min_shared=2).collect()
    }
    assert streamed == batch
    assert batch, "fixture must produce shared-frame video pairs"
    # index accumulates one row per DISTINCT (doc, digest)
    n_index = (
        fps.filter(F.col("fhash").isNotNull())
        .select("doc_id", "fhash")
        .distinct()
        .count()
    )
    assert spark.read.parquet(index_dir).count() == n_index

    # replay contract: redeliver the LAST batch id — contents unchanged
    last = max(
        r["batch_id"]
        for r in spark.read.parquet(pairs_dir).select("batch_id").distinct().collect()
    )
    replay_ids = {
        r["id"]
        for r in spark.read.parquet(index_dir)
        .filter(F.col("batch_id") == last)
        .select("id")
        .distinct()
        .collect()
    }
    replay = fps.filter(F.col("doc_id").isin(list(replay_ids)))
    before = pairs_snapshot()
    sink(replay, last)
    assert pairs_snapshot() == before

    # serving closure: the streamed index IS dd29's serving input
    served = {
        (r["doc_a"], r["doc_b"]): (r["n_shared"], r["n_a"], r["n_b"], r["containment"])
        for r in video_pairs_from_index(
            spark.read.parquet(index_dir).drop("batch_id"), min_shared=2
        ).collect()
    }
    assert served == batch


def test_video_index_sink_rejects_split_doc(spark, tmp_path):
    """ADVICE r15 #2: the DOC-ATOMIC batch contract is enforced at
    runtime — a micro-batch carrying frames for a doc id that already
    has frames in the accumulated index must raise (a split doc would
    silently undercount n_shared/containment on both sides), while a
    disjoint follow-up batch proceeds normally. The check must also not
    trip on a replayed delivery (the index view excludes the batch's own
    rows)."""
    from tranquility_spark.operators.dedup import video_index_sink

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sink = video_index_sink(index_dir, pairs_dir, min_shared=1)
    schema = "doc_id long, frame_idx long, fhash string"
    b0 = spark.createDataFrame(
        [(1, 0, "a" * 16), (1, 1, "b" * 16), (2, 0, "a" * 16)], schema
    )
    sink(b0, 0)
    # split doc: doc 1's "remaining" frames arriving in a later batch
    b1 = spark.createDataFrame([(1, 2, "c" * 16), (3, 0, "b" * 16)], schema)
    with pytest.raises(RuntimeError, match="DOC-ATOMIC"):
        sink(b1, 1)
    # replay of batch 0 sees index state strictly BEFORE it: no false trip
    sink(b0, 0)
    # disjoint batch proceeds and emits its cross-batch pairs
    b2 = spark.createDataFrame([(3, 0, "b" * 16), (3, 1, "d" * 16)], schema)
    sink(b2, 1)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (1, 3) in got  # doc 3 shares frame "b"*16 with doc 1


def test_streaming_admission_sink_end_to_end(spark, sf_dir, tmp_path):
    """r17: the cross-family streaming ADMISSION sink (the streaming twin
    of pipe10/pipe11): documents stream in 4 micro-batches; each batch
    is signatured once per family, gated keep-one against the
    ACCUMULATED ADMITTED-ONLY registries, and only admitted docs'
    signature rows enter the indexes. End-to-end audits are
    batch-composition-independent:

    (a) decisions tile the corpus (one row per doc);
    (b) NO two admitted docs are near-dups under a FULL batch-mode pass
        of ANY family (the dedup guarantee the gate owes), and no two
        admitted docs share a content hash;
    (c) registry purity: every index row's id is an admitted doc;
    (d) served == rebuilt: each family's accumulated index rows equal
        the index built fresh from the admitted docs' raw text — the
        serving registry IS the admitted corpus's index.
    """
    from tranquility_spark.operators.admission import admission_sink
    from tranquility_spark.operators import dedup as dd
    from tranquility_spark.operators import multimodal as mm
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)

    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(index_root, decisions_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    decisions = spark.read.parquet(decisions_dir)
    # (a) tiling
    assert decisions.count() == n_docs
    assert decisions.select("doc_id").distinct().count() == n_docs
    admitted = decisions.filter(F.col("admitted") == 1).select("doc_id")
    n_adm = admitted.count()
    assert 0 < n_adm < n_docs  # gates bite, corpus survives
    # the accumulated registries rejected at least one cross-batch dup
    reasons = {
        r["reason"]: r["n"]
        for r in decisions.groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert reasons.get("exact_registry", 0) + reasons.get(
        "neardup_registry", 0
    ) > 0, reasons

    # (b) no coadmitted near-dup pair under any family's FULL pass
    adm_docs = docs.join(admitted, "doc_id", "left_semi").localCheckpoint()
    payload = mm.attach_binary_payload(adm_docs)
    assert dd.minhash_lsh_pairs(adm_docs, threshold=0.5).count() == 0
    assert (
        dd.dhash_neardup_pairs(mm.image_dhash(payload), threshold=3).count()
        == 0
    )
    assert (
        dd.audio_fp_neardup_pairs(
            mm.audio_energy_fingerprint(payload), threshold=3
        ).count()
        == 0
    )
    assert (
        dd.video_neardup_pairs(
            mm.video_frame_hashes(payload), min_shared=2
        ).count()
        == 0
    )
    assert (
        adm_docs.select(dd.content_hash(F.col("text")).alias("h"))
        .groupBy("h")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )

    # (c) registry purity + (d) served == rebuilt per family
    rebuilt = {
        "exact": adm_docs.select(
            F.col("doc_id").alias("id"),
            dd.content_hash(F.col("text")).alias("h"),
        ),
        "text": dd.lsh_band_index(adm_docs),
        "image": dd.dhash_band_index(mm.image_dhash(payload)),
        "audio": dd.audio_fp_band_index(mm.audio_energy_fingerprint(payload)),
        "video": dd.video_frame_index(mm.video_frame_hashes(payload)),
    }
    for fam, want in rebuilt.items():
        got = spark.read.parquet(f"{index_root}/{fam}").drop("batch_id")
        assert (
            got.join(admitted.withColumnRenamed("doc_id", "id"), "id", "left_anti")
            .count()
            == 0
        ), f"{fam}: non-admitted id in registry"
        want = want.select(*got.columns)
        assert got.exceptAll(want).count() == 0, f"{fam}: extra served rows"
        assert want.exceptAll(got).count() == 0, f"{fam}: missing served rows"


def test_admission_sink_replay_contract(spark, sf_dir, tmp_path):
    """A redelivered batch must rewrite its own decision and index
    partitions with IDENTICAL content (the per-family sinks' replay
    contract, now over five indexes + a decisions dir at once): the
    prior-index view excludes the batch's own rows, so the replay
    recomputes the same gates against the same registry state."""
    from tranquility_spark.operators.admission import admission_sink
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(index_root, decisions_dir)
    sink(b0, 0)
    sink(b1, 1)

    def snapshot():
        out = {
            "decisions": sorted(
                map(tuple, spark.read.parquet(decisions_dir).collect())
            )
        }
        for fam in ("exact", "text", "image", "audio", "video"):
            out[fam] = sorted(
                map(tuple, spark.read.parquet(f"{index_root}/{fam}").collect())
            )
        return out

    before = snapshot()
    sink(b1, 1)  # redelivery
    assert snapshot() == before


def test_admission_sink_empty_first_batch_does_not_wedge(
    spark, sf_dir, tmp_path
):
    """ADVICE r17 #1: an all-empty first batch (zero rows admitted, so
    every family index dir is written with zero rows and no inferable
    schema) must NOT wedge the stream — the next batch's registry read
    is schema-pinned and degrades to the empty view, i.e. behaves
    exactly like cold start. Also covers the per-family variant: batch
    0 admitting SOME docs still writes zero-row partitions for any
    family whose digests all dead-letter."""
    from tranquility_spark.operators.admission import admission_sink
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(index_root, decisions_dir)

    empty = spark.createDataFrame([], "doc_id long, text string")
    sink(empty, 0)  # writes zero-row decision + index dirs
    b1 = docs.filter(F.col("doc_id") % 7 == 0)
    sink(b1, 1)  # pre-fix: UNABLE_TO_INFER_SCHEMA on every family read

    decisions = spark.read.parquet(decisions_dir)
    assert decisions.count() == b1.count()
    admitted = decisions.filter(F.col("admitted") == 1)
    assert admitted.count() > 0
    # registries hold exactly batch 1's admitted rows (no phantom rows
    # from the empty batch, no schema drift)
    got = spark.read.parquet(f"{index_root}/exact")
    assert got.filter(F.col("batch_id") != 1).count() == 0
    assert got.count() == admitted.count()


def test_admission_served_pairs_closure(spark, sf_dir, tmp_path):
    """VERDICT r17 #3 — the ingest→serving closure at admission
    granularity: the admission sink's accumulated admitted-only
    registries serve the dd19/dd20/dd23/dd26/dd29-style pair
    extractions DIRECTLY (``admission_served_pairs``), and for all five
    families the served set equals the family's inline batch pass over
    the admitted documents at the same thresholds.

    Gate thresholds are chosen so EVERY family's serving is
    NON-VACUOUS: the exact gate (not parameterized) plus audio gated at
    hamming<=1, with text/image/video gates disabled (threshold 2.0 /
    -1 / huge min_shared). The fixture's synthetic media derive from
    text, so with any family gated strictly the union keep-one rejects
    an endpoint of nearly every other family's pairs (measured: text
    gated at 0.95 leaves ONE served text pair and zero audio) — gating
    loosely is what lets 26/25/5/27 text/image/audio/video pairs
    survive admission and serve. Also asserts the gate-threshold
    invariant read back FROM DISK (serving at the gate's own thresholds
    is empty — the no-coadmitted-pair guarantee as a registry query)
    and replay idempotence (a redelivered batch leaves every served
    pair set unchanged)."""
    from urllib.parse import unquote, urlparse

    from tranquility_spark.operators import dedup as dd
    from tranquility_spark.operators import multimodal as mm
    from tranquility_spark.operators.admission import (
        admission_served_pairs,
        admission_sink,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(
        index_root,
        decisions_dir,
        minhash_threshold=2.0,
        dhash_threshold=-1,
        audio_threshold=1,
        video_min_shared=10**9,
    )
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        sink(b, i)

    decisions = spark.read.parquet(decisions_dir)
    admitted = decisions.filter(F.col("admitted") == 1).select("doc_id")
    adm_docs = docs.join(admitted, "doc_id", "left_semi").localCheckpoint()
    payload = mm.attach_binary_payload(adm_docs)

    def served(fam, **kw):
        return admission_served_pairs(spark, index_root, fam, **kw)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # served == inline batch pass over admitted docs, full rows, per family
    inline = {
        "exact": adm_docs.select(
            F.col("doc_id").alias("id"), dd.content_hash(F.col("text")).alias("h")
        ),
        "text": dd.minhash_lsh_pairs_distinct(adm_docs, threshold=0.5),
        "image": dd.dhash_neardup_pairs(mm.image_dhash(payload), threshold=3),
        "audio": dd.audio_fp_neardup_pairs(
            mm.audio_energy_fingerprint(payload), threshold=3
        ),
        "video": dd.video_neardup_pairs(
            mm.video_frame_hashes(payload), min_shared=2
        ),
    }
    h = inline["exact"]
    inline["exact"] = (
        h.select(F.col("id").alias("id_a"), "h")
        .join(h.select(F.col("id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h")
    )
    got = {fam: served(fam) for fam in inline}
    for fam in inline:
        want = inline[fam].select(*got[fam].columns)
        assert rows(got[fam]) == rows(want), f"{fam}: served != inline"

    # non-vacuity: every near-dup family serves real pairs (see docstring)
    for fam in ("text", "image", "audio", "video"):
        assert len(rows(got[fam])) > 0, f"{fam}: vacuous serving"

    # the gate-threshold invariant, read back from the registry itself:
    # the two ACTIVE gates' thresholds serve empty
    assert served("exact").count() == 0
    assert served("audio", audio_threshold=1).count() == 0

    # replay idempotence: a redelivered batch changes no served pair set
    before = {fam: rows(df) for fam, df in got.items()}
    sink(batches[1], 1)
    for fam in before:
        assert rows(served(fam)) == before[fam], f"{fam}: replay changed pairs"

    # the "nothing re-read at serve time" claim, asserted on the files
    # a served extraction scans: all under the admission index dirs —
    # the documents table never appears
    reg_prefix = os.path.realpath(index_root) + os.sep
    for fam in ("text", "image", "audio", "video", "exact"):
        files = served(fam).inputFiles()
        assert files, f"{fam} scans no files"
        for f in files:
            path = os.path.realpath(unquote(urlparse(f).path))
            assert path.startswith(reg_prefix), f"{fam} scans {f}"
            assert "documents.parquet" not in path, f"{fam} re-reads corpus"

    # unknown family is a loud error, not an empty frame
    with pytest.raises(ValueError, match="unknown family"):
        admission_served_pairs(spark, index_root, "emoji")

    # minhash param drift is a loud error (r18 review): serving a
    # 64-hash registry with num_hashes=128 would otherwise halve every
    # est_jaccard silently
    with pytest.raises(ValueError, match="64-hash signatures"):
        admission_served_pairs(
            spark,
            index_root,
            "text",
            minhash_params=dict(num_hashes=128, bands=32, shingle_k=3, seed=42),
        )

    # the video serving cap forwards (r18 review: a saturated admitted
    # registry needs the same escape hatch the capped loop has) and
    # equals the inline capped full run at the same cap
    served_capped = served("video", video_max_df=1)
    inline_capped = dd.video_neardup_pairs(
        mm.video_frame_hashes(payload), min_shared=2, max_df=1
    )
    assert rows(served_capped) == rows(
        inline_capped.select(*served_capped.columns)
    )
    assert len(rows(served_capped)) < len(rows(got["video"]))  # cap bites


def test_admission_sink_compaction_invariance(spark, sf_dir, tmp_path):
    """r18 — the streaming LSM fold: ``compact_every=`` folds each
    family's accumulated delta partitions inside the sink loop, and the
    fold must be INVISIBLE to every consumer except partition count:

    (a) decisions over 4 batches equal the no-compaction run's row for
        row (gate views are row-identical before/after a fold);
    (b) each family's registry ROWS (minus batch_id) equal the
        no-compaction run's — the fold moves partition tags only;
    (c) the folded dirs hold FEWER batch_id partitions than batches
        written (the fold actually ran);
    (d) admission_served_pairs output is byte-identical across the two
        runs (serving never sees the fold).
    """
    from tranquility_spark.operators.admission import (
        admission_served_pairs,
        admission_sink,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 4 == k) for k in range(4)]

    roots = {}
    for mode, compact_every in (("plain", None), ("folded", 2)):
        index_root = str(tmp_path / f"idx_{mode}")
        decisions_dir = str(tmp_path / f"dec_{mode}")
        sink = admission_sink(
            index_root, decisions_dir, compact_every=compact_every
        )
        for i, b in enumerate(batches):
            sink(b, i)
        roots[mode] = (index_root, decisions_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # (a) decisions identical — and the folded run's DECISIONS dir is
    # partition-bounded too (r18: the decisions fold rides the same
    # cadence; an unbounded stream would otherwise make terminal reads
    # listing-bound)
    dec = {
        m: rows(spark.read.parquet(d).select("doc_id", "admitted", "reason"))
        for m, (_, d) in roots.items()
    }
    assert dec["plain"] == dec["folded"]
    from tranquility_spark.operators.admission import count_batch_partitions

    assert count_batch_partitions(roots["folded"][1]) <= 2
    assert count_batch_partitions(roots["plain"][1]) == 4

    for fam in ("exact", "text", "image", "audio", "video"):
        # (b) registry rows identical modulo partition tag
        got = {
            m: rows(spark.read.parquet(f"{r}/{fam}").drop("batch_id"))
            for m, (r, _) in roots.items()
        }
        assert got["plain"] == got["folded"], fam
        # (c) the folded run holds at most compact_every partitions; the
        # strict < additionally needs rows in ≥2 batches (a single-delta
        # family never folds — fixture-fragility guard, r18 review)
        nparts = {
            m: count_batch_partitions(f"{r}/{fam}")
            for m, (r, _) in roots.items()
        }
        assert nparts["folded"] <= 2, (fam, nparts)
        if nparts["plain"] >= 2:
            assert nparts["folded"] < nparts["plain"], (fam, nparts)
        # (d) serving identical (text served at a looser-than-gate
        # threshold so the frame is non-vacuous for at least one family)
        kw = {"minhash_threshold": 0.2} if fam == "text" else {}
        srv = {
            m: rows(admission_served_pairs(spark, r, fam, **kw))
            for m, (r, _) in roots.items()
        }
        assert srv["plain"] == srv["folded"], fam


def test_admission_sink_replay_after_compaction(spark, sf_dir, tmp_path):
    """The fold must preserve the replay contract: a batch redelivered
    AFTER its first delivery triggered a fold recomputes identical
    decisions and identical registry state — folded rows stay visible
    under the ``batch_id < b`` horizon (re-tagged with the max folded
    id, strictly below any replayable batch), and the redelivery's own
    fold check is a no-op (one folded delta < cadence)."""
    from tranquility_spark.operators.admission import admission_sink
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(index_root, decisions_dir, compact_every=2)
    for i, b in enumerate(batches):
        sink(b, i)  # batch 2's cycle folds partitions {0, 1}

    def snapshot():
        out = {
            "decisions": sorted(
                map(tuple, spark.read.parquet(decisions_dir).collect())
            )
        }
        for fam in ("exact", "text", "image", "audio", "video"):
            out[fam] = sorted(
                map(tuple, spark.read.parquet(f"{index_root}/{fam}").collect())
            )
        return out

    before = snapshot()
    sink(batches[2], 2)  # redelivery after the fold
    assert snapshot() == before


def test_admission_compaction_crash_recovery(spark, sf_dir, tmp_path):
    """Every torn fold state self-heals (the swap protocol's two crash
    windows), and a healed registry re-folds to the same rows:

    - crash between swap-aside and publish (family dir MISSING, aside
      copy present) → recovery restores the original partitions; the
      next cycle re-runs the fold instead of reading cold start;
    - crash between publish and cleanup (both dirs present) → recovery
      drops the aside copy and keeps the live folded layout.
    """
    import os
    import shutil

    from tranquility_spark.operators.admission import (
        _recover_family_compaction,
        admission_sink,
        compact_admission_registries,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_root = str(tmp_path / "idx")
    decisions_dir = str(tmp_path / "decisions")
    sink = admission_sink(index_root, decisions_dir)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)

    fam_dir = f"{index_root}/exact"

    def rows():
        return sorted(
            map(
                tuple,
                spark.read.parquet(fam_dir).drop("batch_id").collect(),
            )
        )

    want = rows()

    # window 1: aside done, publish lost — the staged build vanished
    # with the crash, so recovery must restore the original
    os.rename(fam_dir, fam_dir + ".pre_compact")
    _recover_family_compaction(fam_dir)
    assert rows() == want
    assert not os.path.isdir(fam_dir + ".pre_compact")
    folded = compact_admission_registries(spark, index_root, 3)
    assert folded["exact"] == 3 and rows() == want

    # window 2: publish done, cleanup lost — the aside copy is stale
    # and must be dropped, not restored over the folded layout
    shutil.copytree(fam_dir, fam_dir + ".pre_compact")
    _recover_family_compaction(fam_dir)
    assert rows() == want
    assert not os.path.isdir(fam_dir + ".pre_compact")
    # folded layout is live: one partition for the three folded batches
    parts = [n for n in os.listdir(fam_dir) if n.startswith("batch_id=")]
    assert parts == ["batch_id=2"]

    # a second fold over the already-folded dir is a clean no-op
    assert compact_admission_registries(spark, index_root, 3)["exact"] == 0
    assert rows() == want

    # cadence validation is loud
    with pytest.raises(ValueError, match="compact_every"):
        admission_sink(index_root, decisions_dir, compact_every=1)


def test_compact_batch_partitions_preserves_live_horizons(spark, tmp_path):
    """The fold's core contract, isolated from the sink: for every read
    horizon b STRICTLY ABOVE the max folded id, the ``batch_id < b``
    view over a folded dir equals the view over a never-folded twin —
    decisions equality in the sink tests is a consequence; a horizon
    bug that happened to cancel out in gate composition would still
    fail here. Horizons AT or BELOW the fold point are deliberately
    coarsened (folded rows carry the max folded tag, so a past horizon
    sees none of them) — those horizons are unreachable in the sink:
    Structured Streaming only redelivers the last uncommitted batch,
    and the fold runs with ``before_batch_id`` = the current one. The
    test pins BOTH halves: live horizons exact, dead horizons visibly
    coarsened (the property that would catch a fold tagging rows with
    anything other than the max folded id). Synthetic frames (no
    signature UDFs), interleaved folds including a fold-of-a-fold and
    a preserved above-horizon partition (the redelivery layout)."""
    from tranquility_spark.operators.admission import (
        _read_index_before,
        compact_batch_partitions,
        count_batch_partitions,
    )
    from tranquility_spark.operators.batch_sink import write_batch_partition

    schema = "id bigint, h string"
    plain = str(tmp_path / "plain")
    folded = str(tmp_path / "folded")
    n_batches = 6
    for b in range(n_batches):
        rows = spark.range(b * 10, b * 10 + 5).select(
            F.col("id"), F.concat(F.lit("h"), F.col("id") % 3).alias("h")
        )
        for d in (plain, folded):
            write_batch_partition(rows, d, b)
        # fold mid-stream at two points: after batch 2 (folds {0,1,2})
        # and after batch 4 (folds {folded(2), 3, 4} — a fold of a fold)
        if b in (2, 4):
            n = compact_batch_partitions(spark, folded, b + 1, schema)
            assert n >= 2

    assert count_batch_partitions(folded) < count_batch_partitions(plain)

    def view(d, horizon):
        got = _read_index_before(spark, d, horizon, ["id", "h"])
        return sorted(map(tuple, got.collect())) if got is not None else None

    max_folded = 4  # the second fold re-tagged everything below 5 as 4
    for horizon in range(max_folded + 1, n_batches + 1):
        assert view(folded, horizon) == view(plain, horizon), horizon
    # dead horizons: coarsened exactly as the max-folded-tag predicts —
    # a horizon at/below the fold sees NO folded rows, only partitions
    # that kept their own tag (none below 5 here)
    for horizon in range(1, max_folded + 1):
        assert view(folded, horizon) == [], horizon

    # a fold with a preserved above-horizon partition (the redelivery
    # layout: partition 5 stays under its own tag, {<=4} fold to one)
    compact_batch_partitions(spark, folded, 5, schema)
    assert count_batch_partitions(folded) == 2
    for horizon in range(max_folded + 1, n_batches + 1):
        assert view(folded, horizon) == view(plain, horizon), horizon
    # partition 5 kept its tag: horizon 6 sees it, horizon 5 does not
    assert len(view(folded, 6)) == len(view(folded, 5)) + 5
