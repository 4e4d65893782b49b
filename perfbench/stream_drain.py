"""stream_drain: drain a fixed backlog of newline-JSON files through
stream_rollup -> SegmentSink.foreach_batch with maxFilesPerTrigger=1 and an
availableNow trigger. One op is one micro-batch; its latency is the
``triggerExecution`` duration Structured Streaming reports."""

from __future__ import annotations

import math
import threading
import time
from statistics import median

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen
from perfbench.harness import proc_status_kb, reset_peak_rss
from perfbench.trace import JobGroups, wrap_method

FILE_EVENTS = 10_000
WARMUP_FILES = 6
FILES_PER_S = 1.2  # nominal warm micro-batch rate on a 4-core box; sizes the fixed work
WATERMARK_S = 60
SCHEMA = "ts STRING, page STRING, added DOUBLE"


class Progress(StreamingQueryListener):
    """Every progress report of every query, by query id. (A query's
    ``recentProgress`` keeps only the last 100.)"""

    def __init__(self) -> None:
        self.by_query: dict[str, list] = {}
        self.cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.cv:
            self.by_query.setdefault(str(p.id), []).append(p)
            self.cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, qid: str, last_batch: int, timeout: float = 60.0) -> list:
        """The query's reports, once the one for ``last_batch`` has arrived
        (listener events are delivered asynchronously)."""
        with self.cv:
            self.cv.wait_for(
                lambda: any(p.batchId == last_batch for p in self.by_query.get(qid, ())),
                timeout,
            )
            return sorted(self.by_query.get(qid, []), key=lambda p: p.batchId)


def run(r) -> None:
    n_files = max(10, math.ceil(r.seconds * FILES_PER_S))
    with r.untimed():
        events = gen.stream_files(r.path("in"), r.seed, WARMUP_FILES + n_files, FILE_EVENTS)
        reset_peak_rss()

    spark = r.start_spark()
    from pyspark.sql import functions as F

    from tranquility_spark.specs import (
        Count, DimensionsSpec, DoubleSum, GranularitySpec, IngestSpec, TimestampSpec,
    )
    from tranquility_spark.streaming.pipeline import stream_rollup
    from tranquility_spark.streaming.sink import SegmentSink

    if r.trace:  # the warm-up runs inside the query, so this probe meets a fresh JVM
        r.calibration("start")
    spec = IngestSpec(
        datasource="drain",
        timestamp_spec=TimestampSpec(column="ts", format="auto", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("MINUTE", "SECOND"),
    )
    progress = Progress()
    spark.streams.addListener(progress)
    sink = SegmentSink(r.path("segments"), "drain", "MINUTE")
    tr = r.tracer
    if tr:
        groups = JobGroups(spark)
        wrap_method(sink, "write_batch", tr, "sink.write_batch",
                    before=lambda: groups.enter("sink"), after=lambda _t, _r: groups.exit(),
                    op_of=lambda args: args[1])

    # one query drains the whole backlog; its first WARMUP_FILES batches are
    # the warm-up and the rest are measured, timed by their progress reports
    raw = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(r.path("in"))
    rolled = stream_rollup(raw, spec, watermark=f"{WATERMARK_S} seconds")
    q = (
        rolled.writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", r.path("ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    reports = progress.wait_for(str(q.id), q.lastProgress["batchId"])
    r.metric("driver_peak_rss_mb", proc_status_kb("self", "VmHWM") / 1024, "MB")

    offset = time.time() - time.perf_counter()
    start = {p.batchId: _epoch(p.timestamp) - offset for p in reports}
    end = {p.batchId: start[p.batchId] + p.durationMs["triggerExecution"] / 1000 for p in reports}
    measured = [p for p in reports if p.batchId >= WARMUP_FILES]
    data = [p for p in measured if p.numInputRows > 0]
    r.setup_done(at=start[WARMUP_FILES])
    r.attempted = len(data)
    n_in = sum(p.numInputRows for p in reports)
    r.check(n_in == len(events), f"progress reports {n_in} input rows, generated {len(events)}")
    r.check(len(data) == n_files, f"{len(data)} measured batches read data, expected {n_files}")
    r.metric("op_p50_ms", median([p.durationMs["triggerExecution"] for p in data]), "ms")
    r.metric("pass_s", max(end.values()) - start[WARMUP_FILES], "s")

    with r.untimed():
        got = (
            sink.read(spark, committed_only=True)
            .select(F.col("segment_start"), "ts", "page", "n", "added_sum")
            .toPandas()
        )
        want = gen.stream_oracle(events, WATERMARK_S)
        keys = ["segment_start", "ts", "page"]
        got = got.astype({"n": "int64"}).sort_values(keys, ignore_index=True)
        want = want.astype({"n": "int64"}).sort_values(keys, ignore_index=True)
        for c in ("segment_start", "ts"):
            got[c] = got[c].astype("datetime64[us]")
            want[c] = want[c].astype("datetime64[us]")
        r.check(len(got) == len(want) and got.equals(want[got.columns]),
                f"committed rollup has {len(got)} rows, the independent rollup {len(want)}"
                " (or values differ)")

    if tr:
        for p in reports:
            tr.add_root("stream.trigger", start[p.batchId], end[p.batchId], p.batchId)
        d = [p.durationMs for p in data]
        r.metric("stream.add_batch_ms", median([x.get("addBatch", 0) for x in d]), "ms")
        r.metric("stream.overhead_ms", median([x["triggerExecution"] - x.get("addBatch", 0) for x in d]), "ms")
        r.metric("stream.query_planning_ms", median([x.get("queryPlanning", 0) for x in d]), "ms")
        r.metric("stream.wal_commit_ms", median([x.get("walCommit", 0) for x in d]), "ms")
        st = [p.stateOperators[0] for p in measured if p.stateOperators]
        r.metric("state.update_ms", sum(s.allUpdatesTimeMs for s in st), "ms")
        r.metric("state.commit_ms", sum(s.commitTimeMs for s in st), "ms")
        r.metric("state.rows_total_max", max(s.numRowsTotal for s in st), "count")
        r.metric("state.memory_bytes_max", max(s.memoryUsedBytes for s in st), "bytes")
        r.metric("state.rows_updated", sum(s.numRowsUpdated for s in st), "count")
        r.metric("state.rows_dropped_by_watermark", sum(s.numRowsDroppedByWatermark for s in st), "count")
        r.metric("stream.input_rows", n_in, "count")
        writes = [s for s in tr.spans if s["name"] == "sink.write_batch" and s["op"] >= WARMUP_FILES]
        r.metric("sink.write_ms", median([(s["end"] - s["start"]) * 1000 for s in writes]), "ms")
        r.metric("sink.spark_jobs", groups.jobs("sink") / (WARMUP_FILES + n_files), "count")
        r.sink_layout_metrics(sink)
        r.jvm_metrics()
        r.calibration("end")


def _epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
