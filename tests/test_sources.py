"""Source-path tests: Kafka demux/parse (S1, on static frames — no broker)
and the HTTP ingest daemon (S2, in-process round-trip).
Reference test models: kafka ``WriterController`` mapping tests + server
servlet route tests asserting {received, sent} (SURVEY.md §5).
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

import pytest

from tranquility_spark.sources.kafka import parse_kafka_batch, topic_to_datasource
from tranquility_spark.sources.http_server import IngestServer, _parse_body
from tranquility_spark.specs import Count, DimensionsSpec, DoubleSum, GranularitySpec, IngestSpec, TimestampSpec
from tranquility_spark.streaming import Tranquilizer
from tranquility_spark.streaming.beams import MemoryBeam

from pyspark.sql import functions as F

NOW = dt.datetime(2024, 6, 1, 12, 0, 0)


def _kafka_df(spark, rows):
    return spark.createDataFrame(
        [(t, v.encode()) for t, v in rows], "topic string, value binary"
    )


def test_topic_pattern_first_match_wins(spark):
    df = spark.createDataFrame([("wiki-en",), ("wiki-de",), ("metrics-a",), ("junk",)], "topic string")
    ds = df.select(
        "topic",
        topic_to_datasource(
            F.col("topic"),
            [("wiki-en", "english"), ("wiki-.*", "wiki_all"), ("metrics-.*", "metrics")],
        ).alias("ds"),
    )
    got = {r.topic: r.ds for r in ds.collect()}
    assert got == {"wiki-en": "english", "wiki-de": "wiki_all", "metrics-a": "metrics", "junk": None}


def test_topic_as_datasource(spark):
    df = spark.createDataFrame([("wiki-en",)], "topic string")
    ds = df.select(topic_to_datasource(F.col("topic"), [("wiki-.*", "_")], use_topic_as_datasource=True).alias("ds"))
    assert ds.first().ds == "wiki-en"


def test_parse_kafka_batch_drops_unmatched_and_malformed(spark):
    rows = [
        ("wiki-en", json.dumps({"timestamp": "2024-06-01T11:55:00", "page": "a", "added": 1.0})),
        ("wiki-en", "{not json"),
        ("other", json.dumps({"timestamp": "2024-06-01T11:55:00", "page": "b", "added": 2.0})),
    ]
    out = parse_kafka_batch(
        _kafka_df(spark, rows),
        "timestamp string, page string, added double",
        [("wiki-.*", "wiki")],
    )
    got = out.collect()
    assert len(got) == 1
    assert got[0].datasource == "wiki" and got[0].page == "a"


def test_parse_body_formats():
    assert _parse_body(b'[{"a": 1}, {"a": 2}]') == [{"a": 1}, {"a": 2}]
    assert _parse_body(b'{"a": 1}\n{"a": 2}\n') == [{"a": 1}, {"a": 2}]
    assert _parse_body(b"") == []


def _post(url: str, events) -> tuple[int, dict]:
    req = urllib.request.Request(
        url, data=json.dumps(events).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_ingest_received_vs_sent(spark):
    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("HOUR", "MINUTE"),
    )
    beam = MemoryBeam()
    t = Tranquilizer(spark, spec, beam, window_period="PT10M", clock=lambda: NOW)
    server = IngestServer({"wiki": t}).start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        status, body = _post(f"{base}/v1/post/wiki", [
            {"timestamp": "2024-06-01T11:55:00", "page": "a", "added": 1.0},
            {"timestamp": "2024-06-01T09:00:00", "page": "late", "added": 1.0},
        ])
        assert status == 200
        assert body == {"result": {"received": 2, "sent": 1}}

        status, body = _post(f"{base}/v1/post/nope", [{"x": 1}])
        assert status == 404

        rows = beam.rows()
        assert len(rows) == 1 and rows.iloc[0]["page"] == "a"
    finally:
        server.stop()


def test_server_main_from_config_end_to_end(spark, tmp_path):
    """Config file -> daemon graph -> HTTP ingest -> segment files on disk."""
    from tranquility_spark.server_main import build_server

    config = {
        "dataSources": [
            {
                "spec": {
                    "dataSchema": {
                        "dataSource": "wiki",
                        "parser": {"parseSpec": {
                            "timestampSpec": {"column": "timestamp", "format": "iso"},
                            "dimensionsSpec": {"dimensions": ["page"]},
                        }},
                        "metricsSpec": [{"type": "count", "name": "n"}],
                        "granularitySpec": {"segmentGranularity": "HOUR",
                                            "queryGranularity": "MINUTE"},
                    }
                },
                "tuning": {"windowPeriod": None},  # accept any event time in test
            }
        ],
        "sink": {"root": str(tmp_path / "segments")},
    }
    server = build_server(config, spark).start()
    try:
        status, body = _post(
            f"http://127.0.0.1:{server.port}/v1/post/wiki",
            [
                {"timestamp": "2024-06-01T11:05:00", "page": "a"},
                {"timestamp": "2024-06-01T11:06:00", "page": "b"},
            ],
        )
        assert status == 200 and body["result"] == {"received": 2, "sent": 2}
    finally:
        server.stop()
    import glob

    files = glob.glob(str(tmp_path / "segments" / "ds=wiki" / "**" / "*.parquet"), recursive=True)
    assert files, "no segment files written"
    back = spark.read.option("basePath", str(tmp_path / "segments" / "ds=wiki")).parquet(
        str(tmp_path / "segments" / "ds=wiki")
    )
    assert back.count() == 2


def test_kafka_main_pipeline_without_broker(spark, tmp_path):
    """The kafka daemon's parse+route+sink path on a fixture batch (no broker)."""
    import datetime as dt

    from tranquility_spark.kafka_main import build_parsed_stream, build_sinks

    config = {
        "schema": "timestamp string, page string",
        "mappings": [["wiki-.*", "wiki"], ["metrics-.*", "metrics"]],
        "dataSources": [
            {"spec": {"dataSchema": {
                "dataSource": ds,
                "parser": {"parseSpec": {
                    "timestampSpec": {"column": "timestamp", "format": "iso"},
                    "dimensionsSpec": {"dimensions": ["page"]}}},
                "granularitySpec": {"segmentGranularity": "HOUR"},
            }}}
            for ds in ("wiki", "metrics")
        ],
        "sink": {"root": str(tmp_path / "segments")},
    }
    raw = _kafka_df(spark, [
        ("wiki-en", json.dumps({"timestamp": "2024-06-01T11:05:00", "page": "a"})),
        ("metrics-x", json.dumps({"timestamp": "2024-06-01T11:06:00", "page": "m"})),
        ("unrelated", json.dumps({"timestamp": "2024-06-01T11:07:00", "page": "z"})),
    ])
    parsed = build_parsed_stream(config, raw)
    multi = build_sinks(config)
    assert multi.write_batch(parsed, 1) == 2
    # each slice went through its spec's rollup: output schema is the
    # rolled-up (ts, dims, metrics) shape, not raw kafka fields
    wiki = multi.sinks["wiki"].read(spark)
    assert multi.specs["wiki"].timestamp_spec.output in wiki.columns
    assert "page" in wiki.columns and "timestamp" not in wiki.columns
    assert wiki.count() == 1
    assert multi.sinks["metrics"].read(spark).count() == 1


def test_partitions_without_shard_key_raise(tmp_path):
    """partitions > 1 with no shard key would write every row to shard 0:
    the sink, build_server and build_sinks refuse it at construction."""
    from tranquility_spark.kafka_main import build_sinks
    from tranquility_spark.server_main import build_server
    from tranquility_spark.streaming.sink import SegmentSink

    with pytest.raises(ValueError, match="shard_key"):
        SegmentSink(str(tmp_path / "segments"), "wiki", "HOUR", partitions=2)
    config = {
        "dataSources": [{
            "spec": {"dataSchema": {
                "dataSource": "wiki",
                "parser": {"parseSpec": {
                    "timestampSpec": {"column": "timestamp", "format": "iso"},
                    "dimensionsSpec": {"dimensions": ["page"]}}},
                "granularitySpec": {"segmentGranularity": "HOUR"},
            }},
            "tuning": {"partitions": 2},
        }],
        "sink": {"root": str(tmp_path / "segments")},
    }
    with pytest.raises(ValueError, match="shard_key"):
        build_server(config, spark=object())  # the sink is built before any Spark use
    with pytest.raises(ValueError, match="shard_key"):
        build_sinks(config)


def test_http_ingest_exact_drop_counts_per_reason(spark):
    """One 500-event POST: 15 events 30 min outside PT10M, 5 with an
    unparseable timestamp. The response and the Tranquilizer's per-reason
    counters account for every event exactly."""
    spec = IngestSpec(
        datasource="push",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page", "user"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("MINUTE", "SECOND"),
    )
    events = []
    for i in range(500):
        if i % 100 < 3:  # 15 events, alternately 30 min early and late
            t = NOW + dt.timedelta(minutes=30 if i % 2 else -30, seconds=i)
        else:
            t = NOW + dt.timedelta(milliseconds=(i * 7919) % 600_000 - 300_000)
        stamp = "not-a-time" if i % 100 == 50 else t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        events.append({"timestamp": stamp, "eid": i, "page": f"page{i % 50}",
                       "user": i * 31 % 10_000, "added": (i % 4000) / 4.0})
    beam = MemoryBeam()
    t = Tranquilizer(spark, spec, beam, window_period="PT10M", clock=lambda: NOW)
    server = IngestServer({"push": t}).start()
    try:
        status, body = _post(f"http://127.0.0.1:{server.port}/v1/post/push", events)
    finally:
        server.stop()
    assert status == 200 and body == {"result": {"received": 500, "sent": 480}}
    assert t.dropped_window == 15 and t.dropped_unparseable == 5
    assert t.sent_count == 480 and t.sent_count + t.dropped_count == 500
    assert len(beam.rows()) == 480


def test_http_ingest_malformed_body_400(spark):
    import urllib.request

    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"),),
    )
    server = IngestServer({"wiki": Tranquilizer(spark, spec, MemoryBeam(), window_period=None)}).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/v1/post/wiki",
            data=b"{not json at all",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req)
            raised = False
        except urllib.error.HTTPError as e:
            raised = True
            assert e.code == 400
        assert raised
    finally:
        server.stop()


def test_http_ingest_failed_flush_500_keeps_serving():
    """A flush that raises answers 500 with its message instead of dropping
    the connection, and the server goes on answering later POSTs."""
    from concurrent.futures import Future

    from tranquility_spark.streaming.tranquilizer import MessageDroppedException, SendResult

    class FailingOnceTranquilizer:
        def __init__(self):
            self.failures_left, self._buffer = 1, []

        def send(self, event):
            fut = Future()
            self._buffer.append(fut)
            return fut

        def flush(self):
            futures, self._buffer = self._buffer, []
            if self.failures_left:
                self.failures_left -= 1
                raise MessageDroppedException("sink wrote 0 of 1 rows")
            for fut in futures:
                fut.set_result(SendResult(sent=True))

        def close(self):
            pass

    server = IngestServer({"wiki": FailingOnceTranquilizer()}).start()
    try:
        url = f"http://127.0.0.1:{server.port}/v1/post/wiki"
        assert _post(url, [{"page": "a"}]) == (500, {"error": "sink wrote 0 of 1 rows"})
        assert _post(url, [{"page": "a"}]) == (200, {"result": {"received": 1, "sent": 1}})
    finally:
        server.stop()


@pytest.mark.parametrize(
    "raw",
    [b"[1, 2]", b'[{"a": 1}, "b"]', b'[{"a": 1}, null]', b"7", b'{"a": 1}\n[2]\n'],
    ids=["ints", "string", "null", "scalar", "ndjson_array_line"],
)
def test_parse_body_rejects_non_object_events(raw):
    with pytest.raises(ValueError, match="must contain objects"):
        _parse_body(raw)


def test_http_ingest_non_object_body_400_sends_nothing():
    """A JSON body with a non-object element answers 400 before any event
    of it reaches the Tranquilizer (so its valid events are not half-sent
    into a flush that then fails)."""
    class RecordingTranquilizer:
        def __init__(self):
            self.sent, self.flushes = [], 0

        def send(self, event):
            self.sent.append(event)
            raise AssertionError("send() reached for a rejected body")

        def flush(self):
            self.flushes += 1

        def close(self):
            pass

    t = RecordingTranquilizer()
    server = IngestServer({"wiki": t}).start()
    try:
        url = f"http://127.0.0.1:{server.port}/v1/post/wiki"
        status, body = _post(url, [{"page": "a"}, [1, 2], {"page": "b"}])
        assert status == 400 and "objects" in body["error"], body
    finally:
        server.stop()
    assert t.sent == [] and t.flushes == 0


def test_load_table_normalizes_every_observed_ts_physical_type(spark, tmp_path):
    """Testdata has regenerated events.ts with different parquet physical
    types across rounds (TIMESTAMP(NANOS) in r01-r03, timestamp[us]-no-tz in
    r04 — the latter broke w5/w6). load_table must normalize every plausible
    form to TimestampType with identical values so no catalog entry ever
    sees the raw physical type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tranquility_spark.sources.files import load_table

    base = dt.datetime(2024, 6, 1, 10, 30, 15, 123456)
    micros = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    variants = {
        "ntz": pa.array([micros], type=pa.int64()).cast(pa.timestamp("us")),
        "nanos_long": pa.array([micros * 1000], type=pa.int64()),
        "iso_string": pa.array(["2024-06-01 10:30:15.123456"]),
    }
    for name, arr in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1], type=pa.int64()), "ts": arr}),
            str(d / "events.parquet"),
        )
        out = load_table(spark, str(d), "events")
        assert dict(out.dtypes)["ts"] == "timestamp", name
        [row] = out.collect()
        assert row.ts == base, (name, row.ts)


def test_load_table_forces_utc_under_hostile_session_zone(spark, sf_dir):
    """VERDICT r05 #6: the NTZ normalization pins correctness to a UTC
    session zone — prepare() (called by load_table) must FORCE it, so a
    driver that created its session under any other zone still gets
    oracle-identical timestamp semantics. Runs a ts-bearing entry under
    Asia/Tokyo and asserts byte-identical results to the UTC run."""
    from tranquility_spark.catalog import CATALOG

    def run():
        return sorted(map(str, CATALOG["p3_ts_extract"].fn(spark, sf_dir).collect()))

    utc = run()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        hostile = run()
        # load_table -> prepare() must have reset the zone as a side effect
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == utc and utc


def test_csv_tsv_dialects_decode_identical_content(spark):
    """p9/p9b: the CSV fixture (RFC-4180 doubled-quote escaping) and the
    TSV fixture (quoting disabled) carry the same 200 logical rows — both
    readers must decode identical values, pinning the dialect configs."""
    from tranquility_spark.catalog import CATALOG

    csv_rows = sorted(
        map(tuple, CATALOG["p9_csv_parse"].fn(spark, "unused").collect())
    )
    tsv_rows = sorted(
        map(tuple, CATALOG["p9b_tsv_parse"].fn(spark, "unused").collect())
    )
    assert len(csv_rows) == 200
    assert csv_rows == tsv_rows


def test_csv_parse_edge_semantics(spark):
    """Pin the parse contract: quoted commas survive, doubled quotes
    unescape, empty fields are NULL (numeric AND string), trailing
    whitespace is preserved, unicode round-trips."""
    from tranquility_spark.catalog import CATALOG

    rows = {r.event_id: r for r in CATALOG["p9_csv_parse"].fn(spark, "x").collect()}
    assert rows[2].note == "comma, inside"
    assert rows[3].note == 'quote "double" inside'
    assert rows[4].note == 'both, "tricky", end'
    assert rows[5].note is None  # empty field -> NULL
    assert rows[6].note == "trailing space "
    assert rows[7].note == "unicode café"
    assert rows[1].value is None  # event_id 1 has empty numeric field
    assert rows[1].ts is not None and rows[1].ts.year == 2024


def test_csv_dialect_fuzz_cross_engine(spark, tmp_path):
    """Adversarial field-content fuzz for the p9 dialect configs: 60 seeded
    nasty strings (quotes, commas, backslashes, tabs, unicode, spaces)
    written RFC-4180 by Python's csv module must decode identically in
    Spark (quote='\"' escape='\"') and DuckDB read_csv. Backslash is the
    canary: Spark's DEFAULT escape would treat it specially; the doubled-
    quote config must pass it through literally."""
    import csv as csvmod
    import random

    import duckdb

    from tranquility_spark.sources.files import load_csv_events

    rng = random.Random(99)
    alphabet = 'abc ,"\\\té日x'
    fields = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12)))
        for _ in range(60)
    ]
    path = tmp_path / "fuzz.csv"
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csvmod.writer(fh, quoting=csvmod.QUOTE_MINIMAL, doublequote=True)
        w.writerow(["event_id", "ts", "user_id", "event_type", "value", "note"])
        for i, s in enumerate(fields):
            w.writerow([i, "2024-01-01 00:00:00", 1, "view", "1.5", s])

    got = {
        r.event_id: r.note for r in load_csv_events(spark, str(path)).collect()
    }
    cols = (
        "{'event_id':'BIGINT','ts':'TIMESTAMP','user_id':'BIGINT',"
        "'event_type':'VARCHAR','value':'DOUBLE','note':'VARCHAR'}"
    )
    want = {
        eid: note
        for eid, note in duckdb.sql(
            f"SELECT event_id, note FROM read_csv('{path}', header=true, "
            f"columns={cols}, quote='\"', escape='\"', delim=',')"
        ).fetchall()
    }
    assert set(got) == set(want) == set(range(60))
    for i in range(60):
        assert got[i] == want[i], (i, repr(fields[i]), repr(got[i]), repr(want[i]))
        # python's csv reader agrees too (empty -> NULL is the one contract
        # difference both engines share against python)
        expected = fields[i] if fields[i] != "" else None
        assert got[i] == expected, (i, repr(fields[i]), repr(got[i]))


def test_jsonl_parse_validity_accounting(spark):
    """p10: the fixture's 8 tail edge lines split exactly into 2 valid
    ({} and the exp-notation record) and 6 invalid (broken JSON,
    truncated object, 42, array, bare string, null); invalid rows carry
    NULL fields; every valid row with a doc_id has it typed long."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["p10_jsonl_parse"].fn(spark, "unused").collect()
    assert len(rows) == 128
    invalid = [r for r in rows if r.is_valid == 0]
    assert len(invalid) == 6
    assert all(
        r.doc_id is None and r.lang is None and r.score is None and r.text is None
        for r in invalid
    )
    exp = [r for r in rows if r.doc_id == 999]
    assert len(exp) == 1 and exp[0].score == -300.0 and exp[0].is_valid == 1
    empty_obj = [r for r in rows if r.is_valid == 1 and r.line.strip() == "{}"]
    assert len(empty_obj) == 1 and empty_obj[0].doc_id is None


def test_jsonl_type_mismatch_corrupts_record(spark, tmp_path):
    """Pin the Spark PERMISSIVE contract the p10 oracle must NOT model
    (DuckDB's try_cast nulls only the field): a field TYPE mismatch —
    including lossy 7.9 -> long — invalidates the whole record, and the
    other (parseable) fields are still nulled by parse_jsonl_file."""
    from tranquility_spark.operators.parse import parse_jsonl_file

    p = tmp_path / "t.jsonl"
    p.write_text(
        '{"doc_id":"abc","lang":"en"}\n'
        '{"doc_id":7.9,"lang":"fr"}\n'
        '{"doc_id":7,"lang":"ok"}\n'
    )
    rows = {
        r.lang if r.is_valid else r.line[:12]: r
        for r in parse_jsonl_file(
            spark, str(p), "doc_id long, lang string"
        ).collect()
    }
    assert rows["ok"].is_valid == 1 and rows["ok"].doc_id == 7
    bad = [r for r in rows.values() if r.is_valid == 0]
    assert len(bad) == 2
    assert all(r.doc_id is None and r.lang is None for r in bad)


def test_jsonl_blank_line_is_invalid_row(spark, tmp_path):
    """Blank / whitespace-only lines parse as invalid rows, not as errors —
    and the p10 oracle coalesces DuckDB's NULL-line reading of a blank line
    to '' so the engines agree byte-for-byte if a fixture ever gains one."""
    from tranquility_spark.operators.parse import parse_jsonl_file

    p = tmp_path / "b.jsonl"
    p.write_text('{"doc_id":1}\n\n   \n{"doc_id":2}\n')
    rows = parse_jsonl_file(spark, str(p), "doc_id long").collect()
    assert len(rows) == 4
    by_line = {r.line: r for r in rows}
    assert by_line[""].is_valid == 0 and by_line["   "].is_valid == 0
    assert by_line['{"doc_id":1}'].doc_id == 1


# ---------------------------------------------------------------------------
# Avro wire format (p11; SURVEY §2 P2's Smile-analog). The codec is anchored
# to HAND-COMPUTED byte vectors from the public Avro spec — round-trip tests
# alone cannot catch an encoder/decoder pair sharing one spec misreading.
# ---------------------------------------------------------------------------


def test_avro_spec_byte_vectors():
    """The spec's own zigzag-varint table, string framing, IEEE-754 LE
    doubles, union branch indices, array block framing — byte-exact in
    BOTH directions."""
    from tranquility_spark.operators.avro_codec import (
        decode_value,
        encode_long,
        encode_value,
    )

    # Avro spec 'Binary encoding' long examples (+ 64-boundary cases)
    for n, b in [
        (0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
        (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01"), (-65, b"\x81\x01"),
    ]:
        assert encode_long(n) == b, n
        assert decode_value(b, 0, "long") == (n, len(b)), n
    assert encode_value("foo", "string") == b"\x06foo"
    assert decode_value(b"\x06foo", 0, "string") == ("foo", 4)
    assert encode_value(1.0, "double") == b"\x00\x00\x00\x00\x00\x00\xf0\x3f"
    assert encode_value(True, "boolean") == b"\x01"
    u = ["null", "long"]
    assert encode_value(None, u) == b"\x00"
    assert encode_value(1, u) == b"\x02\x02"
    arr = {"type": "array", "items": "long"}
    assert encode_value([3, 27], arr) == b"\x04\x06\x36\x00"
    assert decode_value(b"\x04\x06\x36\x00", 0, arr) == ([3, 27], 4)
    # negative block count (size-prefixed block) — writers may emit it
    assert decode_value(b"\x03\x04\x06\x36\x00", 0, arr) == ([3, 27], 5)


def test_avro_roundtrip_and_64bit_bounds():
    from tranquility_spark.operators.avro_codec import decode_record, encode_value
    from tranquility_spark.sources.avro_source import EVENTS_AVRO_SCHEMA

    rec = {
        "event_id": (1 << 63) - 1,
        "ts": -(1 << 63),
        "user_id": None,
        "event_type": "café ✓",
        "value": -0.0,
        "note": "trailing ",
    }
    payload = encode_value(rec, EVENTS_AVRO_SCHEMA)
    assert decode_record(payload, EVENTS_AVRO_SCHEMA) == rec


def test_avro_ocf_roundtrip_and_framing_errors():
    """Multi-block OCF round-trip; bad magic / non-null codec / corrupted
    sync each raise AvroDecodeError with intent (never mis-decode)."""
    import io

    import pytest as pt

    from tranquility_spark.operators.avro_codec import (
        AvroDecodeError,
        read_ocf,
        write_ocf,
    )

    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "x", "type": "long"}],
    }
    rows = [{"x": i} for i in range(10)]
    buf = io.BytesIO()
    write_ocf(buf, rows, schema, block_records=3)  # 4 blocks
    data = buf.getvalue()
    got_schema, recs = read_ocf(data)
    assert list(recs) == rows and got_schema == schema
    with pt.raises(AvroDecodeError, match="magic"):
        read_ocf(b"NOPE" + data[4:])
    deflated = data.replace(b"\x08null", b"\x0edeflate", 1)
    with pt.raises(AvroDecodeError, match="codec"):
        list(read_ocf(deflated)[1])
    corrupt = data[:-1] + bytes([data[-1] ^ 0xFF])  # flip last sync byte
    with pt.raises(AvroDecodeError, match="sync"):
        list(read_ocf(corrupt)[1])


def test_load_avro_events_equals_csv_decode(spark):
    """p11's contract outside the parity gate: the Avro fixture decodes to
    EXACTLY the rows and schema of the CSV fixture (same 200 logical rows,
    generated together) — NULL union branches, timestamp-micros, unicode,
    preserved trailing whitespace."""
    from tranquility_spark.sources.avro_source import load_avro_events
    from tranquility_spark.sources.files import load_csv_events

    a = load_avro_events(spark, "tests/fixtures/events_sample.avro")
    c = load_csv_events(spark, "tests/fixtures/events_sample.csv")
    assert a.schema == c.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, c.collect()))


def test_parse_avro_column_corrupt_accounting(spark):
    """p10's corrupt-record contract on the wire-payload path: valid
    payloads decode typed; NULL/empty/truncated/overlong/bad-branch
    payloads yield is_valid=0 with every field NULL — decode never throws
    per-row."""
    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.sources.avro_source import parse_avro_column

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
        ],
    }
    ok1 = encode_value({"k": 7, "s": "hi"}, schema)
    ok2 = encode_value({"k": -3, "s": None}, schema)
    rows = [
        (1, ok1),
        (2, ok2),
        (3, ok1[:-1]),          # truncated
        (4, ok1 + b"\x00"),     # trailing bytes
        (5, b"\x0e\x04bad"),    # union branch 2 of 2 (k=7 then branch idx 4/2=2)
        (6, b""),               # empty payload
        (7, None),              # NULL payload
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r["id"]: (r["is_valid"], r["k"], r["s"])
        for r in parse_avro_column(
            df, "payload", schema, "k long, s string", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, 7, "hi")
    assert got[2] == (1, -3, None)
    for bad in (3, 4, 5, 6, 7):
        assert got[bad] == (0, None, None), bad


def test_avro_impl_spark_is_gated(spark):
    """impl='spark' must fail fast driver-side with the --packages hint
    when the spark-avro data source is absent (it is, in this
    environment) — not with an opaque analysis error mid-job."""
    import pytest as pt

    from tranquility_spark.sources.avro_source import (
        load_avro_events,
        parse_avro_column,
    )

    with pt.raises(RuntimeError, match="spark-avro"):
        load_avro_events(
            spark, "tests/fixtures/events_sample.avro", impl="spark"
        )
    df = spark.createDataFrame([(b"\x00",)], "payload binary")
    with pt.raises(RuntimeError, match="spark-avro"):
        parse_avro_column(
            df, "payload", {"type": "record", "name": "R",
                            "fields": [{"name": "x", "type": "long"}]},
            "x long", impl="spark",
        )


def test_kafka_avro_wire_demux_and_dead_letter(spark):
    """The S1 x P2-analog composition: Kafka-shaped (topic, value BINARY)
    rows where value is a single-record Avro wire payload. Routing,
    drop-malformed, and dead-letter (NULL fields, rows retained) semantics
    must match the JSON path's contract exactly."""
    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.sources.kafka import parse_kafka_batch

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "note", "type": ["null", "string"], "default": None},
        ],
    }
    ok = encode_value({"event_id": 7, "note": "hi"}, schema)
    bad = ok[:-1]
    df = spark.createDataFrame(
        [
            ("wiki-en", bytearray(ok)),
            ("wiki-de", bytearray(bad)),
            ("junk-topic", bytearray(ok)),
        ],
        "topic string, value binary",
    )
    mappings = [("wiki-.*", "wiki")]
    kw = dict(
        schema="event_id long, note string",
        mappings=mappings,
        wire_format="avro",
        avro_schema=schema,
    )
    strict = parse_kafka_batch(df, **kw).collect()
    assert [(r["datasource"], r["topic"], r["event_id"], r["note"]) for r in strict] == [
        ("wiki", "wiki-en", 7, "hi")
    ]
    dead = sorted(
        (r["topic"], r["event_id"]) for r in
        parse_kafka_batch(df, drop_malformed=False, **kw).collect()
    )
    assert dead == [("wiki-de", None), ("wiki-en", 7)]
    # config errors fail fast
    import pytest as pt

    with pt.raises(ValueError, match="avro_schema"):
        parse_kafka_batch(df, "x long", mappings, wire_format="avro")
    with pt.raises(ValueError, match="wire_format"):
        parse_kafka_batch(df, "x long", mappings, wire_format="msgpack")


def test_avro_schema_resolution_rules():
    """Spec 'Schema Resolution' subset: field match by NAME across
    reordering, reader defaults for missing fields, writer-only fields
    dropped, promotions (int->long/double, string<->bytes), union
    re-dispatch — and a loud error when a reader field has no default."""
    import pytest as pt

    from tranquility_spark.operators.avro_codec import (
        AvroDecodeError,
        decode_record,
        encode_value,
        resolve_record,
    )

    writer = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "gone", "type": "string"},
            {"name": "s", "type": "string"},
            {"name": "u", "type": ["null", "int"], "default": None},
        ],
    }
    reader = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "s", "type": "bytes"},          # string -> bytes
            {"name": "a", "type": "double"},          # int -> double
            {"name": "u", "type": ["null", "long"], "default": None},
            {"name": "added", "type": "long", "default": 42},
        ],
    }
    payload = encode_value({"a": 7, "gone": "x", "s": "hi", "u": 3}, writer)
    got = decode_record(payload, writer, reader)
    assert got == {"s": b"hi", "a": 7.0, "u": 3, "added": 42}
    # null branch resolves through the reader union
    p2 = encode_value({"a": 1, "gone": "", "s": "", "u": None}, writer)
    assert decode_record(p2, writer, reader)["u"] is None
    # reader-only field without default -> incompatible
    bad_reader = {
        "type": "record",
        "name": "E",
        "fields": [{"name": "nope", "type": "long"}],
    }
    with pt.raises(AvroDecodeError, match="no default"):
        resolve_record({"a": 1}, writer, bad_reader)
    # illegal demotion (double -> int) -> incompatible
    with pt.raises(AvroDecodeError, match="does not resolve"):
        resolve_record(
            {"x": 1.5},
            {"type": "record", "name": "R",
             "fields": [{"name": "x", "type": "double"}]},
            {"type": "record", "name": "R",
             "fields": [{"name": "x", "type": "int"}]},
        )


def test_avro_ocf_schema_evolution_read(spark, tmp_path):
    """The rolling-upgrade read path: an OCF written with LAST year's
    schema reads under THIS year's reader schema (new defaulted field,
    int->long promotion, dropped field) via load_avro_file(resolve=True);
    the wire-payload column path does the same via reader_schema."""
    import io

    from tranquility_spark.operators.avro_codec import encode_value, write_ocf
    from tranquility_spark.sources.avro_source import (
        load_avro_file,
        parse_avro_column,
    )

    old = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "event_id", "type": "int"},
            {"name": "legacy_tag", "type": "string"},
            {"name": "value", "type": ["null", "double"], "default": None},
        ],
    }
    new = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "value", "type": ["null", "double"], "default": None},
            {"name": "source", "type": "string", "default": "backfill"},
        ],
    }
    rows = [
        {"event_id": i, "legacy_tag": f"t{i}", "value": float(i) / 2}
        for i in range(20)
    ]
    path = str(tmp_path / "old.avro")
    with open(path, "wb") as fh:
        write_ocf(fh, rows, old, block_records=7)
    got = sorted(
        map(
            tuple,
            load_avro_file(
                spark,
                path,
                "event_id bigint, value double, source string",
                new,
                resolve=True,
            ).collect(),
        )
    )
    assert got == [(i, i / 2, "backfill") for i in range(20)]

    payloads = spark.createDataFrame(
        [(i, bytearray(encode_value(r, old))) for i, r in enumerate(rows)],
        "row_id long, payload binary",
    )
    col = parse_avro_column(
        payloads,
        "payload",
        old,
        "event_id bigint, value double, source string",
        keep=["row_id"],
        reader_schema=new,
    ).collect()
    assert sorted((r["event_id"], r["value"], r["source"]) for r in col) == [
        (i, i / 2, "backfill") for i in range(20)
    ]
    assert all(r["is_valid"] == 1 for r in col)
    # spark impl cannot resolve wire payloads — explicit error
    import pytest as pt

    with pt.raises(ValueError, match="reader_schema"):
        parse_avro_column(
            payloads, "payload", old, "event_id bigint",
            impl="spark", reader_schema=new,
        )


def test_avro_encode_column_roundtrip_and_wire_compat(spark):
    """to_avro's analog: encode_avro_column -> parse_avro_column is the
    identity (timestamps through the logical type, NULL union branches,
    unicode), the payload bytes equal a direct codec encode (wire
    compatibility, not just self-consistency), and a NULL in a
    non-nullable field fails the job instead of shipping garbage."""
    import datetime as dt

    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.sources.avro_source import (
        EVENTS_AVRO_SCHEMA,
        encode_avro_column,
        parse_avro_column,
    )
    from tranquility_spark.sources.files import CSV_EVENTS_SCHEMA, load_csv_events

    events = load_csv_events(spark, "tests/fixtures/events_sample.csv")
    encoded = encode_avro_column(
        events, EVENTS_AVRO_SCHEMA, out_col="value", keep=()
    )
    decoded = parse_avro_column(
        spark.createDataFrame(
            [(bytearray(r["value"]),) for r in encoded.collect()],
            "value binary",
        ),
        "value",
        EVENTS_AVRO_SCHEMA,
        CSV_EVENTS_SCHEMA,
    )
    assert decoded.filter("is_valid = 0").count() == 0
    got = sorted(map(tuple, decoded.drop("is_valid").collect()))
    want = sorted(map(tuple, events.collect()))
    assert got == want

    # wire compatibility: row 1's payload == a direct codec encode
    r1 = events.filter("event_id = 1").collect()[0]
    direct = encode_value(
        {
            "event_id": 1,
            "ts": int(
                r1["ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
            ),
            "user_id": r1["user_id"],
            "event_type": r1["event_type"],
            "value": r1["value"],
            "note": r1["note"],
        },
        EVENTS_AVRO_SCHEMA,
    )
    via_spark = bytes(
        encode_avro_column(events.filter("event_id = 1"), EVENTS_AVRO_SCHEMA)
        .collect()[0]["value"]
    )
    assert via_spark == direct

    # non-nullable field holding NULL -> loud failure, not silent bytes
    import pytest as pt

    bad = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 1), 1, "view", 1.0, "x")],
        CSV_EVENTS_SCHEMA,
    )
    with pt.raises(Exception, match="union|null"):
        encode_avro_column(bad, EVENTS_AVRO_SCHEMA).collect()


# ---------------------------------------------------------------------------
# Smile wire format (p12; SURVEY §2 P2 implemented from the public spec).
# Same anti-circularity anchor as Avro: hand-computed spec token vectors.
# ---------------------------------------------------------------------------


def test_smile_spec_token_vectors():
    """The spec's token tables, byte-exact in both directions: literals,
    small ints (zigzag in the token byte), tiny-ASCII framing, vint
    layout (7-bit prefix bytes + high-bit-set 6-bit final byte),
    7-bit-packed float64, structure markers, shared-name back refs."""
    from tranquility_spark.operators.smile_codec import (
        SmileEncoder,
        decode_record,
        decode_stream,
        encode_vint,
        zigzag32,
    )

    def body(value, **kw):
        enc = SmileEncoder(**kw)
        enc.write(value)
        return enc.getvalue()[4:]  # strip ":)\n" + flags

    assert body(None) == b"\x21"
    assert body(False) == b"\x22"
    assert body(True) == b"\x23"
    assert body("") == b"\x20"
    # small ints: token 0xC0 + zigzag  (0→C0, -1→C1, 1→C2, 15→DE, -16→DF)
    for n, tok in [(0, 0xC0), (-1, 0xC1), (1, 0xC2), (15, 0xDE), (-16, 0xDF)]:
        assert body(n) == bytes([tok]), n
    assert body("foo") == b"\x42foo"  # tiny ASCII: 0x40 + len-1
    # int32 vint: 16 → zigzag 32 → one prefix byte 0, final 0x80|32... no:
    # 32 = 0b100000 fits 6 bits → single final byte 0xA0
    assert body(16) == b"\x24\xa0"
    # 1000 → zigzag 2000 = 0b11111010000 → prefix 0b11111 (0x1F),
    # final 0x80 | 0b010000 (0x90)
    assert encode_vint(zigzag32(1000)) == b"\x1f\x90"
    assert body(1000) == b"\x24\x1f\x90"
    # float64 1.0: IEEE bits 3FF0000000000000 packed 7-bits-per-byte
    # big-endian into 10 bytes (first byte carries the single top bit 0)
    bits = 0x3FF0000000000000
    packed = bytes((bits >> (7 * i)) & 0x7F for i in range(9, -1, -1))
    assert body(1.0) == b"\x29" + packed
    # object framing + short-ASCII name (0x80 + len-1)
    assert body({"a": 1}) == b"\xfa\x80a\xc2\xfb"
    # array framing
    assert body([0, 1]) == b"\xf8\xc0\xc2\xf9"
    # shared names: second record's name token is a 1-byte back ref 0x40
    enc = SmileEncoder(shared_names=True)
    enc.write({"k": 0})
    enc.write({"k": 1})
    assert enc.getvalue()[4:] == b"\xfa\x80k\xc0\xfb" + b"\xfa\x40\xc2\xfb"
    assert list(decode_stream(enc.getvalue())) == [{"k": 0}, {"k": 1}]
    # round-trip the vectors through decode too
    assert decode_record(b":)\n\x00\x24\x1f\x90") == 1000
    assert decode_record(b":)\n\x00\x42foo") == "foo"


def test_smile_binary_token_vectors():
    """Both spec binary forms, byte-exact (r11, VERDICT r10 #6): 0xE8
    7-bit-safe (unsigned-vint RAW length; trailing group of N<7 bytes
    packs into N+1 bytes, last byte = final N bits right-aligned —
    Jackson's tail arithmetic) and 0xFD raw (flag-gated on encode,
    lenient on decode). Hand-computed vectors, then the malformed edges:
    forged lengths and dirty trailing bits fail cleanly."""
    import pytest as pt

    from tranquility_spark.operators.smile_codec import (
        SmileDecodeError,
        SmileEncoder,
        decode_record,
        decode_stream,
    )

    def body(value, **kw):
        enc = SmileEncoder(**kw)
        enc.write(value)
        return enc.getvalue()[4:]

    # 7-bit form. b"\x01": vint(1)=0x81; top 7 bits of 0x01 = 0b0000000,
    # last 1 bit = 1 → payload 0x00 0x01
    assert body(b"\x01") == b"\xe8\x81\x00\x01"
    # b"\xff\xff": 16 bits → 7+7+2: 0x7f 0x7f 0x03
    assert body(b"\xff\xff") == b"\xe8\x82\x7f\x7f\x03"
    # 7 full bytes of zero → 8 zero payload bytes, no tail group
    assert body(b"\x00" * 7) == b"\xe8\x87" + b"\x00" * 8
    # empty binary → just the length
    assert body(b"") == b"\xe8\x80"
    # raw form: flag bit 0x04 in the header, verbatim payload
    enc = SmileEncoder(raw_binary=True)
    enc.write(b"\xde\xad\xbe")
    assert enc.getvalue()[3] & 0x04
    assert enc.getvalue()[4:] == b"\xfd\x83\xde\xad\xbe"
    # lenient decode: 0xFD accepted even when the header flag is off
    assert decode_record(b":)\n\x00\xfd\x83\xde\xad\xbe") == b"\xde\xad\xbe"

    # round-trip both forms across the length grid that exercises every
    # tail size, inside a record (the multimodal payload shape)
    for raw_flag in (False, True):
        for n in list(range(23)) + [63, 64, 1000]:
            payload = bytes((i * 37 + n) % 256 for i in range(n))
            rec = {"img": payload, "k": 1}
            enc = SmileEncoder(raw_binary=raw_flag)
            enc.write(rec)
            assert list(decode_stream(enc.getvalue())) == [rec]

    # forged length far past the buffer fails BEFORE allocation
    with pt.raises(SmileDecodeError, match="exceeds buffer"):
        decode_record(b":)\n\x00\xe8\x0f\xff\xbf\x00\x00")
    with pt.raises(SmileDecodeError, match="ran past end"):
        decode_record(b":)\n\x00\xfd\x8a\x00")
    # trailing byte with bits above the N-bit payload is malformed
    with pt.raises(SmileDecodeError, match="trailing byte"):
        decode_record(b":)\n\x00\xe8\x81\x00\x02")
    # payload byte with the high bit set is malformed
    with pt.raises(SmileDecodeError, match="high bit"):
        decode_record(b":)\n\x00\xe8\x81\x80\x01")


def test_smile_bignum_token_vectors():
    """BigInteger (0x26) / BigDecimal (0x2A) — r12, VERDICT r11 #5.
    Hand-computed vectors from the spec + Jackson's generator layout:
    0x26 = unsigned-vint RAW length + 7-bit-safe packing of
    BigInteger.toByteArray(); 0x2A = zigzag-vint scale + the 0x26
    payload of unscaledValue(). Then round-trips across magnitude/scale
    grids and the malformed edges."""
    import decimal

    import pytest as pt

    from tranquility_spark.operators.smile_codec import (
        SmileDecodeError,
        SmileEncoder,
        _to_byte_array,
        decode_record,
        decode_stream,
    )

    def body(value, **kw):
        enc = SmileEncoder(**kw)
        enc.write(value)
        return enc.getvalue()[4:]

    # toByteArray check values (Java semantics: minimal two's complement)
    assert _to_byte_array(255) == b"\x00\xff"
    assert _to_byte_array(127) == b"\x7f"
    assert _to_byte_array(-128) == b"\x80"
    assert _to_byte_array(0) == b"\x00"

    # DECODE vector: BigInteger(255) = raw 00 FF (2 bytes, vint 0x82);
    # 16 bits -> 7+7+2: bytes 0b0000000, 0b0111111, last 2 bits 0b11
    assert decode_record(b":)\n\x00\x26\x82\x00\x3f\x03") == 255
    # BigDecimal 123.45: scale 2 (zigzag 4 -> 0x84), unscaled 12345 =
    # 0x3039 (2 bytes, vint 0x82) -> 7-bit 0x18 0x0e, last 2 bits 0b01
    assert decode_record(b":)\n\x00\x2a\x84\x82\x18\x0e\x01") == decimal.Decimal(
        "123.45"
    )
    # negative scale (1E+2): zigzag(-2)=3 -> 0x83; unscaled 1 -> raw 0x01
    # (vint 0x81) -> 7-bit 0x00, last 1 bit 0b1
    assert decode_record(b":)\n\x00\x2a\x83\x81\x00\x01") == decimal.Decimal(
        "1E+2"
    )

    # ENCODE: ints inside int64 still take the vint tokens (0x25), only
    # beyond-int64 magnitudes take 0x26 — the token choice is Jackson's
    assert body((1 << 63) - 1)[0] == 0x25
    assert body(1 << 63)[0] == 0x26
    assert body(-(1 << 63))[0] == 0x25
    assert body(-(1 << 63) - 1)[0] == 0x26
    assert body(decimal.Decimal("123.45")) == b"\x2a\x84\x82\x18\x0e\x01"

    # round-trip grids: every 7-bit tail size of the magnitude, both signs,
    # scales across zero, inside records (the event-payload shape)
    for mag_bits in (63, 64, 65, 70, 100, 129, 200):
        for sign in (1, -1):
            n = sign * ((1 << mag_bits) + 12345)
            rec = {"v": n, "k": 1}
            enc = SmileEncoder()
            enc.write(rec)
            assert list(decode_stream(enc.getvalue())) == [rec], n
    for scale in (-5, -1, 0, 1, 2, 9, 40):
        d = decimal.Decimal((0, (1, 2, 3, 4, 5), -scale))
        enc = SmileEncoder()
        enc.write({"amount": d})
        (out,) = decode_stream(enc.getvalue())
        assert out["amount"] == d
        assert out["amount"].as_tuple() == d.as_tuple()  # scale-faithful

    # malformed edges: forged magnitude length fails before allocation;
    # non-finite Decimals have no wire form
    with pt.raises(SmileDecodeError, match="exceeds buffer"):
        decode_record(b":)\n\x00\x26\x0f\xff\xbf\x00")
    with pt.raises(SmileDecodeError, match="exceeds buffer"):
        decode_record(b":)\n\x00\x2a\x84\x0f\xff\xbf\x00")
    with pt.raises(ValueError, match="no Smile form"):
        body(decimal.Decimal("NaN"))
    # scales outside BigDecimal's int32 must be rejected, not zigzag-masked
    # into a silently WRONG in-range scale (decode would round-trip 1E-2^31
    # as 1E+1 with no error)
    # scale = -exp: exp just past +/-2^31 puts scale outside int32
    with pt.raises(ValueError, match="int32"):
        body(decimal.Decimal((0, (1,), (1 << 31) + 1)))   # scale < -2^31
    with pt.raises(ValueError, match="int32"):
        body(decimal.Decimal((0, (1,), -(1 << 31))))      # scale = 2^31
    # the extremes themselves round-trip (scale -2^31 and 2^31 - 1)
    for d in (decimal.Decimal((0, (1,), 1 << 31)),
              decimal.Decimal((0, (1,), -(1 << 31) + 1))):
        enc = SmileEncoder()
        enc.write({"v": d})
        (out,) = decode_stream(enc.getvalue())
        assert out["v"].as_tuple() == d.as_tuple()


def test_smile_bignum_payloads_dead_letter(spark):
    """A schemaless payload carrying a big number into a typed field must
    dead-letter THAT record (is_valid=0), never kill the Arrow batch:
    out-of-int64 BigInteger in a long field, out-of-int32 in an int
    field, unfloatable magnitude in a double field, Decimal anywhere
    typed. A record whose big numbers all land in untyped-compatible
    slots stays valid."""
    import pyspark.sql.functions as FF

    from tranquility_spark.operators.smile_codec import encode_stream
    from tranquility_spark.sources.smile_source import parse_smile_column

    def one(rec):
        return encode_stream([rec])

    payloads = [
        ("ok", one({"l": 5, "i": 5, "d": 1.5})),
        ("big_in_long", one({"l": 1 << 80, "i": 5, "d": 1.5})),
        ("big_in_int", one({"l": 5, "i": 1 << 40, "d": 1.5})),
        ("huge_in_double", one({"l": 5, "i": 5, "d": 10 ** 400})),
        ("decimal_in_double", one({"l": 5, "i": 5, "d": __import__("decimal").Decimal("1.5")})),
        ("big_elsewhere_ok", one({"l": 5, "i": 5, "d": 1.5, "x": 1 << 90})),
    ]
    df = spark.createDataFrame(payloads, "tag string, body binary")
    out = parse_smile_column(
        df, "body", "l long, i int, d double", keep=("tag",)
    )
    got = {r["tag"]: r["is_valid"] for r in out.collect()}
    assert got == {
        "ok": 1,
        "big_in_long": 0,
        "big_in_int": 0,
        "huge_in_double": 0,
        "decimal_in_double": 0,
        "big_elsewhere_ok": 1,  # extra fields are ignored by the projection
    }
    # and the valid rows carry their values through
    vals = {r["tag"]: (r["l"], r["i"], r["d"]) for r in out.collect() if r["is_valid"]}
    assert vals["ok"] == (5, 5, 1.5)


def test_smile_file_reader_skips_unrepresentable_records(spark, tmp_path):
    """The FILE reader gets the same big-number protection as the column
    parse (r12, shared _record_fits): records whose values cannot land in
    the declared Arrow columns are skipped, never allowed to kill the
    batch — one bad record must not cost the file."""
    import decimal

    from tranquility_spark.operators.smile_codec import encode_stream
    from tranquility_spark.sources.smile_source import load_smile_file

    records = [
        {"l": 1, "d": 1.5, "s": "ok1"},
        {"l": 1 << 80, "d": 1.5, "s": "big_long"},        # skipped
        {"l": 2, "d": 10 ** 400, "s": "huge_double"},     # skipped
        {"l": 3, "d": decimal.Decimal("1.5"), "s": "dec"},  # skipped
        {"l": 4, "d": 2.5, "s": "ok2", "extra": 1 << 90},  # extra ignored
    ]
    path = tmp_path / "mixed.smile"
    path.write_bytes(encode_stream(records))
    out = load_smile_file(spark, str(path), "l long, d double, s string")
    got = sorted((r["l"], r["d"], r["s"]) for r in out.collect())
    assert got == [(1, 1.5, "ok1"), (4, 2.5, "ok2")]


def test_smile_parse_column_corrupt_accounting(spark):
    """p10's corrupt-record contract on the Smile wire path: valid object
    payloads decode typed (missing fields NULL, extra fields ignored);
    NULL/empty/truncated/bad-header/non-object payloads yield is_valid=0
    with every field NULL — decode never throws per-row."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.smile_source import parse_smile_column

    def pay(v):
        enc = SmileEncoder()
        enc.write(v)
        return bytearray(enc.getvalue())

    rows = [
        (1, pay({"k": 7, "s": "hi", "extra": True})),
        (2, pay({"k": -3})),                    # s missing -> NULL
        (3, pay({"k": 1})[:-2]),                # truncated
        (4, bytearray(b"NOPE\x21")),            # bad header
        (5, pay(42)),                           # root not an object
        (6, bytearray(b"")),                    # empty
        (7, None),                              # NULL payload
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r["id"]: (r["is_valid"], r["k"], r["s"])
        for r in parse_smile_column(
            df, "payload", "k long, s string", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, 7, "hi")
    assert got[2] == (1, -3, None)
    for bad in (3, 4, 5, 6, 7):
        assert got[bad] == (0, None, None), bad


def test_smile_parse_column_type_mismatch_invalidates_record(spark):
    """Smile is schemaless: a payload whose field carries the WRONG type
    (string where the schema says long) must invalidate that record —
    the from_json record-corruption contract — not crash the Arrow batch
    conversion or poison its neighbors."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.smile_source import parse_smile_column

    def pay(v):
        enc = SmileEncoder()
        enc.write(v)
        return bytearray(enc.getvalue())

    df = spark.createDataFrame(
        [
            (1, pay({"k": 7, "s": "ok"})),
            (2, pay({"k": "seven", "s": "bad type"})),   # k must be long
            (3, pay({"k": True, "s": "bool is not long"})),
            (4, pay({"k": 3, "s": 9.5})),                # s must be string
        ],
        "id long, payload binary",
    )
    got = {
        r["id"]: (r["is_valid"], r["k"], r["s"])
        for r in parse_smile_column(
            df, "payload", "k long, s string", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, 7, "ok")
    for bad in (2, 3, 4):
        assert got[bad] == (0, None, None), bad


def test_smile_parse_column_binary_field(spark):
    """Binary values over the wire (r11): a declared BINARY field carries
    byte payloads end-to-end through parse_smile_column in BOTH spec
    forms (7-bit 0xE8 and raw 0xFD — the multimodal blob-over-the-wire
    shape), and a non-bytes value in a binary field dead-letters that
    record instead of killing the Arrow batch."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.smile_source import parse_smile_column

    blob = bytes(range(20)) * 3

    def pay(v, **kw):
        enc = SmileEncoder(**kw)
        enc.write(v)
        return bytearray(enc.getvalue())

    df = spark.createDataFrame(
        [
            (1, pay({"img": blob, "k": 5})),                    # 7-bit form
            (2, pay({"img": blob, "k": 6}, raw_binary=True)),   # raw form
            (3, pay({"img": None, "k": 7})),                    # NULL blob ok
            (4, pay({"img": "not bytes", "k": 8})),             # wrong type
        ],
        "id long, payload binary",
    )
    got = {
        r["id"]: (r["is_valid"], bytes(r["img"]) if r["img"] is not None else None, r["k"])
        for r in parse_smile_column(
            df, "payload", "img binary, k long", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, blob, 5)
    assert got[2] == (1, blob, 6)
    assert got[3] == (1, None, 7)
    assert got[4] == (0, None, None)


def test_kafka_smile_wire_demux(spark):
    """wire_format='smile' on the Kafka parse path: the reference's own
    wire format routes/drops/dead-letters exactly like JSON and Avro."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.kafka import parse_kafka_batch

    def pay(v):
        enc = SmileEncoder()
        enc.write(v)
        return bytearray(enc.getvalue())

    df = spark.createDataFrame(
        [
            ("wiki-en", pay({"event_id": 7, "note": "hi"})),
            ("wiki-de", bytearray(b"\xff\xfe")),
            ("junk", pay({"event_id": 1})),
        ],
        "topic string, value binary",
    )
    out = parse_kafka_batch(
        df,
        "event_id long, note string",
        [("wiki-.*", "wiki")],
        wire_format="smile",
    ).collect()
    assert [(r["datasource"], r["event_id"], r["note"]) for r in out] == [
        ("wiki", 7, "hi")
    ]


def test_http_ingest_smile_body(spark):
    """S2 parity completed (r9): a POST body with Content-Type
    application/x-jackson-smile — the reference servlet's OTHER accepted
    format — ingests identically to the JSON path: same routing, same
    window drop accounting, same {received, sent} response."""
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.http_server import _parse_body

    spec = IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("HOUR", "MINUTE"),
    )
    beam = MemoryBeam()
    t = Tranquilizer(spark, spec, beam, window_period="PT10M", clock=lambda: NOW)
    server = IngestServer({"wiki": t}).start()
    try:
        enc = SmileEncoder()
        enc.write([
            {"timestamp": "2024-06-01T11:55:00", "page": "a", "added": 1.0},
            {"timestamp": "2024-06-01T09:00:00", "page": "late", "added": 1.0},
        ])
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/v1/post/wiki",
            data=enc.getvalue(),
            headers={"Content-Type": "application/x-jackson-smile"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert json.loads(resp.read()) == {
                "result": {"received": 2, "sent": 1}
            }
        rows = beam.rows()
        assert len(rows) == 1 and rows.iloc[0]["page"] == "a"
    finally:
        server.stop()

    # _parse_body: back-to-back record values == one array value
    e1 = SmileEncoder(); e1.write({"a": 1}); e1.write({"a": 2})
    e2 = SmileEncoder(); e2.write([{"a": 1}, {"a": 2}])
    ct = "application/x-jackson-smile"
    assert _parse_body(e1.getvalue(), ct) == _parse_body(e2.getvalue(), ct)
    # non-object content is rejected loudly
    e3 = SmileEncoder(); e3.write(42)
    import pytest as pt

    with pt.raises(ValueError, match="objects"):
        _parse_body(e3.getvalue(), ct)


# ---------------------------------------------------------------------------
# ADVICE r9 regressions: malformed wire payloads must dead-letter, never
# kill the Arrow batch
# ---------------------------------------------------------------------------


def test_avro_decode_rejects_out_of_range_ints():
    """A 10-byte varint carrying bits past 2^64 (the ADVICE r9 repro) and a
    32-bit-overflowing 'int' field must raise AvroDecodeError — not return
    a Python int that OverflowErrors pd.array(dtype='Int64') later."""
    import pytest as pt

    from tranquility_spark.operators.avro_codec import (
        AvroDecodeError,
        decode_long,
        decode_value,
        encode_long,
    )

    with pt.raises(AvroDecodeError, match="64-bit"):
        decode_long(b"\xff" * 9 + b"\x7f", 0)
    # spec-legal extremes still decode
    assert decode_long(encode_long((1 << 63) - 1), 0)[0] == (1 << 63) - 1
    assert decode_long(encode_long(-(1 << 63)), 0)[0] == -(1 << 63)
    with pt.raises(AvroDecodeError, match="32-bit"):
        decode_value(encode_long(1 << 31), 0, "int")
    assert decode_value(encode_long((1 << 31) - 1), 0, "int")[0] == (1 << 31) - 1
    assert decode_value(encode_long(-(1 << 31)), 0, "int")[0] == -(1 << 31)


def test_avro_wire_overflow_payloads_dead_letter(spark):
    """The end-to-end ADVICE r9 failure: a payload whose varint exceeds
    int64, and one whose int64-valid timestamp overflows datetime64[ns],
    must land in is_valid=0 — the batch containing them must survive."""
    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.sources.avro_source import parse_avro_column

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "k", "type": "long"},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    ok = encode_value({"k": 5, "ts": 1_700_000_000_000_000}, schema)
    huge_varint = b"\xff" * 9 + b"\x7f"  # k beyond int64 -> decode error
    # k=1, ts = 2^62 micros: decodes fine, unrepresentable in datetime64[ns]
    huge_ts = encode_value({"k": 1, "ts": 1 << 62}, schema)
    df = spark.createDataFrame(
        [(1, ok), (2, huge_varint), (3, huge_ts)], "id long, payload binary"
    )
    got = {
        r["id"]: (r["is_valid"], r["k"])
        for r in parse_avro_column(
            df, "payload", schema, "k long, ts timestamp", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, 5)
    assert got[2] == (0, None)
    assert got[3] == (0, None)


def test_avro_zero_width_blocks_legal_and_capped():
    """ADVICE r9 low: N null items occupy 0 bytes, so a count above the
    remaining buffer is spec-LEGAL for zero-width item types — but a
    forged astronomically large count is still rejected (memory cap)."""
    import pytest as pt

    from tranquility_spark.operators.avro_codec import (
        AvroDecodeError,
        decode_value,
        encode_long,
    )

    arr_schema = {"type": "array", "items": "null"}
    # 5 nulls encode to just the count + terminator: 2 bytes total
    payload = encode_long(5) + encode_long(0)
    assert decode_value(payload, 0, arr_schema)[0] == [None] * 5
    forged = encode_long(1 << 40) + encode_long(0)
    with pt.raises(AvroDecodeError, match="sanity cap"):
        decode_value(forged, 0, arr_schema)
    # nonzero-width items keep the fail-fast underrun guard
    long_arr = {"type": "array", "items": "long"}
    with pt.raises(AvroDecodeError, match="exceeds buffer"):
        decode_value(encode_long(100) + b"\x02", 0, long_arr)


def test_smile_long_shared_name_table_stays_synced():
    """ADVICE r9 medium: a 58..64-byte non-ASCII name goes out as a long
    0x34 token but IS registered in the encoder's shared-name table; the
    decoder must register it too or every later back-reference resolves
    to the wrong index (the exact repro: one 60-byte name over 2
    records)."""
    from tranquility_spark.operators.smile_codec import (
        SmileEncoder,
        decode_stream,
    )

    name = "é" * 30  # 60 UTF-8 bytes, non-ASCII -> long 0x34 name token
    assert len(name.encode()) == 60
    recs = [{name: 1, "other": "x"}, {name: 2}, {"other": "y", name: 3}]
    enc = SmileEncoder()
    for r in recs:
        enc.write(r)
    assert list(decode_stream(enc.getvalue())) == recs


def test_smile_overflow_payloads_dead_letter(spark):
    """Smile twin of the Avro overflow test: >64-bit vints and
    datetime64[ns]-unrepresentable epoch micros must invalidate the one
    record, not the batch."""
    from tranquility_spark.operators.smile_codec import (
        HEADER,
        SmileDecodeError,
        SmileEncoder,
        decode_record,
        encode_vint,
    )
    from tranquility_spark.sources.smile_source import parse_smile_column
    import pytest as pt

    # raw token 0x25 (64-bit int) followed by a vint past 2^64
    bad_vint = bytes(HEADER) + b"\x25" + encode_vint((1 << 69))
    with pt.raises(SmileDecodeError):
        decode_record(bad_vint)

    def payload(rec):
        e = SmileEncoder()
        e.write(rec)
        return e.getvalue()

    rows = [
        (1, payload({"k": 5, "ts": 1_700_000_000_000_000})),
        (2, payload({"k": 1, "ts": 1 << 62})),  # ts past datetime64[ns]
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r["id"]: (r["is_valid"], r["k"])
        for r in parse_smile_column(
            df, "payload", "k long, ts timestamp", keep=["id"]
        ).collect()
    }
    assert got[1] == (1, 5)
    assert got[2] == (0, None)


def test_kafka_drop_malformed_mark_mode(spark):
    """drop_malformed='mark': dead-letter rows are retained WITH an
    explicit is_valid column, disambiguating a corrupt payload from a
    VALID payload whose optional fields are all absent (Smile {} / JSON
    {}) — the ambiguity the NULL-fields convention cannot resolve. All
    three wire formats."""
    from tranquility_spark.operators.avro_codec import encode_value
    from tranquility_spark.operators.smile_codec import SmileEncoder
    from tranquility_spark.sources.kafka import parse_kafka_batch

    def smile(rec):
        e = SmileEncoder()
        e.write(rec)
        return bytearray(e.getvalue())

    mappings = [("wiki-.*", "wiki")]
    # Smile: valid {}, valid payload, corrupt bytes
    sdf = spark.createDataFrame(
        [("wiki-en", smile({})), ("wiki-en", smile({"k": 1})),
         ("wiki-en", bytearray(b"\xff\xff"))],
        "topic string, value binary",
    )
    got = parse_kafka_batch(
        sdf, "k long", mappings, wire_format="smile", drop_malformed="mark"
    ).collect()
    verdicts = sorted(((r["is_valid"], r["k"]) for r in got), key=str)
    assert verdicts == [(0, None), (1, 1), (1, None)]

    # JSON: valid {}, valid payload, corrupt
    jdf = spark.createDataFrame(
        [("wiki-en", b"{}"), ("wiki-en", b'{"k": 2}'), ("wiki-en", b"{nope")],
        "topic string, value binary",
    )
    got = parse_kafka_batch(
        jdf, "k long", mappings, wire_format="json", drop_malformed="mark"
    ).collect()
    assert sorted(((r["is_valid"], r["k"]) for r in got), key=str) == [
        (0, None), (1, 2), (1, None)
    ]

    # Avro: all-null-fields record vs corrupt
    schema = {
        "type": "record", "name": "E",
        "fields": [{"name": "k", "type": ["null", "long"], "default": None}],
    }
    adf = spark.createDataFrame(
        [("wiki-en", bytearray(encode_value({"k": None}, schema))),
         ("wiki-en", bytearray(b"\x99"))],
        "topic string, value binary",
    )
    got = parse_kafka_batch(
        adf, "k long", mappings, wire_format="avro", avro_schema=schema,
        drop_malformed="mark",
    ).collect()
    assert sorted(((r["is_valid"], r["k"]) for r in got), key=str) == [
        (0, None), (1, None)
    ]

    # True still drops; False still retains without the marker
    assert parse_kafka_batch(
        sdf, "k long", mappings, wire_format="smile"
    ).count() == 2
    cols = parse_kafka_batch(
        sdf, "k long", mappings, wire_format="smile", drop_malformed=False
    ).columns
    assert "is_valid" not in cols


def test_kafka_main_smile_wire_config(spark, tmp_path):
    """The daemon CLI reaches the binary wire decoders through config:
    wireFormat='smile' routes Smile-encoded Kafka values through
    parse_kafka_batch's Smile path and into the per-datasource sinks —
    the reference's own SmileObjectWriter Kafka shape, config-complete."""
    from tranquility_spark.kafka_main import build_parsed_stream, build_sinks
    from tranquility_spark.operators.smile_codec import SmileEncoder

    def smile(rec):
        e = SmileEncoder()
        e.write(rec)
        return bytearray(e.getvalue())

    config = {
        "schema": "timestamp string, page string",
        "mappings": [["wiki-.*", "wiki"]],
        "wireFormat": "smile",
        "dataSources": [
            {"spec": {"dataSchema": {
                "dataSource": "wiki",
                "parser": {"parseSpec": {
                    "timestampSpec": {"column": "timestamp", "format": "iso"},
                    "dimensionsSpec": {"dimensions": ["page"]}}},
                "granularitySpec": {"segmentGranularity": "HOUR"},
            }}}
        ],
        "sink": {"root": str(tmp_path / "segments")},
    }
    raw = spark.createDataFrame(
        [
            ("wiki-en", smile({"timestamp": "2024-06-01T11:05:00", "page": "a"})),
            ("wiki-en", bytearray(b"\xff\xff")),  # corrupt -> dropped
            ("other", smile({"timestamp": "2024-06-01T11:06:00", "page": "z"})),
        ],
        "topic string, value binary",
    )
    parsed = build_parsed_stream(config, raw)
    multi = build_sinks(config)
    assert multi.write_batch(parsed, 1) == 1
    wiki = multi.sinks["wiki"].read(spark)
    assert wiki.count() == 1
    assert [r["page"] for r in wiki.collect()] == ["a"]


def test_kafka_drop_malformed_rejects_unknown_mode(spark):
    """A typo'd drop_malformed mode must raise, not silently behave like
    False."""
    import pytest as pt

    from tranquility_spark.sources.kafka import parse_kafka_batch

    df = spark.createDataFrame([("t", b"{}")], "topic string, value binary")
    with pt.raises(ValueError, match="drop_malformed"):
        parse_kafka_batch(df, "k long", [("t", "x")], drop_malformed="markk")


# ---------------------------------------------------------------------------
# Atomic first-touch layout publication (VERDICT r14 #2)
# ---------------------------------------------------------------------------


def test_publish_layout_atomic_winner_and_loser(tmp_path):
    """The shared stage+rename helper: a build publishes atomically; a
    concurrent loser (final already exists) discards its staging and leaves
    the winner's layout byte-identical."""
    import os

    from tranquility_spark.sources.layout import publish_layout_atomic

    final = str(tmp_path / "layout-abc")

    def build_v1(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "data.parquet"), "w") as fh:
            fh.write("winner-bytes")
        with open(os.path.join(stage, "_SUCCESS"), "w") as fh:
            fh.write("")

    assert publish_layout_atomic(final, build_v1) is True
    assert os.path.exists(os.path.join(final, "_SUCCESS"))

    def build_v2(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "data.parquet"), "w") as fh:
            fh.write("loser-bytes")

    assert publish_layout_atomic(final, build_v2) is False
    with open(os.path.join(final, "data.parquet")) as fh:
        assert fh.read() == "winner-bytes", "loser's rename clobbered the winner"
    leftovers = [d for d in os.listdir(tmp_path) if ".tmp." in d]
    assert not leftovers, f"loser staging not discarded: {leftovers}"


def test_publish_layout_atomic_clears_own_crashed_stage(tmp_path):
    """A crashed prior attempt from the SAME pid left a stale staging dir —
    the next attempt must clear and rebuild it, not fail or publish the
    stale half-written content."""
    import os

    from tranquility_spark.sources.layout import publish_layout_atomic

    final = str(tmp_path / "layout-xyz")
    stale = f"{final}.tmp.{os.getpid()}"
    os.makedirs(stale)
    with open(os.path.join(stale, "half-written"), "w") as fh:
        fh.write("junk")

    def build(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "data.parquet"), "w") as fh:
            fh.write("fresh")

    assert publish_layout_atomic(final, build) is True
    assert sorted(os.listdir(final)) == ["data.parquet"]


def test_served_index_first_touch_leaves_no_staging(spark):
    """The _served_index_table protocol through publish_layout_atomic: a
    fresh first touch registers a usable bucketed table, the _meta sidecar
    lands INSIDE the published dir, and no .tmp. staging survives."""
    import os
    import shutil

    from tranquility_spark.catalog_llm import (
        _index_cache_root,
        _simhash_index_table,
    )

    root = _index_cache_root()
    # drop any prior simhashidx layout + registration so this run builds
    shutil.rmtree(root, ignore_errors=True)
    for t in spark.catalog.listTables():
        if t.name.startswith("simhashidx_"):
            spark.sql(f"DROP TABLE `{t.name}`")
    name = _simhash_index_table(spark, "/root/testdata/sf0.001")
    assert spark.table(name).count() > 0
    dirs = os.listdir(root)
    assert not [d for d in dirs if ".tmp." in d], dirs
    published = [d for d in dirs if d.startswith("simhashidx-")]
    assert len(published) == 1
    assert os.path.exists(os.path.join(root, published[0], "_meta.json"))


def test_publish_layout_atomic_heals_torn_dir(tmp_path):
    """r15 self-review: a pre-existing TORN dir at final (a pre-protocol
    crash left no completeness marker) must not wedge the location — with
    the caller's is_complete predicate the helper swaps the wreck aside
    and publishes the fresh complete build."""
    import os

    from tranquility_spark.sources.layout import publish_layout_atomic

    final = str(tmp_path / "layout-torn")
    os.makedirs(final)
    with open(os.path.join(final, "partial.parquet"), "w") as fh:
        fh.write("torn")  # no _SUCCESS — incomplete by the caller's gate

    def build(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "data.parquet"), "w") as fh:
            fh.write("fresh")
        open(os.path.join(stage, "_SUCCESS"), "w").close()

    ok = publish_layout_atomic(
        final,
        build,
        is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
    )
    assert ok is True
    assert sorted(os.listdir(final)) == ["_SUCCESS", "data.parquet"]
    leftovers = [d for d in os.listdir(tmp_path) if ".torn." in d or ".tmp." in d]
    assert not leftovers, leftovers
    # and a COMPLETE dir at final is still treated as a winner, untouched
    def build2(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "data.parquet"), "w") as fh:
            fh.write("loser")
        open(os.path.join(stage, "_SUCCESS"), "w").close()

    assert (
        publish_layout_atomic(
            final,
            build2,
            is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
        )
        is False
    )
    with open(os.path.join(final, "data.parquet")) as fh:
        assert fh.read() == "fresh"


def test_publish_layout_atomic_thread_unique_staging(tmp_path):
    """r15 self-review: two sibling THREADS first-touching the same layout
    must stage separately (pid alone shared the stage dir — the second
    thread's leftover sweep deleted the first's live build). Exactly one
    publishes; the final layout is one thread's COMPLETE build, never a
    mix."""
    import os
    import threading

    from tranquility_spark.sources.layout import publish_layout_atomic

    final = str(tmp_path / "layout-threads")
    barrier = threading.Barrier(2)
    outcomes = {}

    def run(tag):
        def build(stage):
            os.makedirs(stage)
            barrier.wait(timeout=30)  # both threads mid-build together
            with open(os.path.join(stage, "data.parquet"), "w") as fh:
                fh.write(tag)
            open(os.path.join(stage, "_SUCCESS"), "w").close()

        outcomes[tag] = publish_layout_atomic(
            final,
            build,
            is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS")),
        )

    ts = [threading.Thread(target=run, args=(t,)) for t in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(60)
    assert sorted(outcomes.values()) == [False, True], outcomes
    with open(os.path.join(final, "data.parquet")) as fh:
        content = fh.read()
    assert content in ("A", "B")  # one thread's build, whole
    assert sorted(os.listdir(final)) == ["_SUCCESS", "data.parquet"]
    leftovers = [d for d in os.listdir(tmp_path) if ".tmp." in d]
    assert not leftovers, leftovers
