"""push_http: one closed-loop client POSTs 500-event JSON bodies to a real
IngestServer on localhost, which hands them to a Tranquilizer writing into
a SegmentSink. One op is one POST round trip."""

from __future__ import annotations

import http.client
import json
import math
import time
from statistics import median

from perfbench import gen
from perfbench.harness import proc_status_kb, reset_peak_rss
from perfbench.trace import JobGroups, Py4jCounter, self_times, wrap_method

WARMUP_OPS = 4
OPS_PER_S = 0.8  # nominal POST rate on a 4-core box; sizes the fixed work


def _post(port: int, body: bytes) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/v1/post/push", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def run(r) -> None:
    n_ops = max(8, math.ceil(r.seconds * OPS_PER_S))
    with r.untimed():
        bodies, want = gen.push_bodies(r.seed, WARMUP_OPS + n_ops)
        reset_peak_rss()

    spark = r.start_spark()
    from tranquility_spark.sources.http_server import IngestServer
    from tranquility_spark.specs import (
        Count, DimensionsSpec, DoubleSum, GranularitySpec, IngestSpec, TimestampSpec,
    )
    from tranquility_spark.streaming.sink import SegmentSink
    from tranquility_spark.streaming.tranquilizer import Tranquilizer

    spec = IngestSpec(
        datasource="push",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page", "user"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("MINUTE", "SECOND"),
    )
    sink = SegmentSink(r.path("segments"), "push", "MINUTE")
    clock = {"now": None}
    tq = Tranquilizer(spark, spec, sink, clock=lambda: clock["now"])
    server = IngestServer({"push": tq}).start()

    tr = r.tracer
    drops: list[str] = []
    if tr:
        # py4j calls per flush exclude the wrappers' own job-group calls:
        # the flush counts after entering its group, the sink's count
        # includes its group switch, and the flush's self count is the
        # difference
        py4j, groups = Py4jCounter(), JobGroups(spark)
        py4j.install(spark)
        flush_py4j, sink_py4j, pending = [], [], []

        def flush_enter():
            groups.enter("tranquilizer")
            return py4j.n

        def flush_exit(n0, _rec):
            flush_py4j.append(py4j.n - n0)
            groups.exit()
            for fut in pending:  # each dropped event's cause, from its future
                exc = fut.exception()
                if exc is not None:
                    drops.append("unparseable" if "unparseable" in str(exc) else "window")
            pending.clear()

        def sink_enter():
            n0 = py4j.n
            groups.enter("sink")
            return n0

        def sink_exit(n0, _rec):
            groups.exit()
            sink_py4j.append(py4j.n - n0)

        orig_send = tq.send

        def send(event):
            fut = orig_send(event)
            pending.append(fut)
            return fut

        tq.send = send
        wrap_method(tq, "flush", tr, "tranquilizer.flush", before=flush_enter, after=flush_exit)
        wrap_method(sink, "write_batch", tr, "sink.write_batch", before=sink_enter, after=sink_exit)

    sent_total = 0

    def op(k: int, timed: bool):
        nonlocal sent_total
        now, body, n_sent = bodies[k]
        clock["now"] = now
        r.attempted += timed
        t0 = time.perf_counter()
        try:
            if tr:
                tr.current_op = k
                with tr.span("http.post", op=k):
                    status, payload = _post(server.port, body)
            else:
                status, payload = _post(server.port, body)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            r.failed += timed
            r.check(False, f"POST {k}: {type(exc).__name__}: {exc}")
            return None
        dt = time.perf_counter() - t0
        res = payload.get("result", {})
        ok = status == 200 and res.get("received") == 500 and res.get("sent") == n_sent
        if not r.check(ok, f"POST {k}: status {status}, {payload} != received 500 / sent {n_sent}"):
            r.failed += timed
        sent_total += res.get("sent", 0)
        return dt

    try:
        for k in range(WARMUP_OPS):
            op(k, timed=False)
        r.setup_done()
        if tr:
            r.calibration("start")
        lat = []
        t0 = time.perf_counter()
        for k in range(WARMUP_OPS, WARMUP_OPS + n_ops):
            res = op(k, timed=True)
            if res:
                lat.append(res)
        wall = time.perf_counter() - t0
        r.metric("driver_peak_rss_mb", proc_status_kb("self", "VmHWM") / 1024, "MB")
    finally:
        if tr:
            tr.current_op = None  # the close-time flush belongs to no POST
        server.stop()

    r.metric("op_p50_ms", median(lat) * 1000, "ms")
    r.metric("pass_s", wall, "s")

    with r.untimed():
        got = (
            sink.read(spark, committed_only=True)
            .select("eid", "page", "user", "added", "ts")
            .toPandas()
            .sort_values("eid", ignore_index=True)
        )
        want = want.sort_values("eid", ignore_index=True)
        got["ts"] = got["ts"].astype("datetime64[us]")
        want["ts"] = want["ts"].astype("datetime64[us]")
        r.check(len(got) == len(want) and got.equals(want[got.columns]),
                f"committed segments hold {len(got)} rows, expected the {len(want)} accepted events")

    if tr:
        selfs = self_times(tr.spans)

        def measured_ms(name: str, own: bool = True) -> list:
            return [(st if own else s["end"] - s["start"]) * 1000
                    for s, st in zip(tr.spans, selfs)
                    if s["name"] == name and s["op"] is not None and s["op"] >= WARMUP_OPS]

        r.metric("http.self_ms", median(measured_ms("http.post")), "ms")
        r.metric("tranquilizer.self_ms", median(measured_ms("tranquilizer.flush")), "ms")
        r.metric("sink.write_ms", median(measured_ms("sink.write_batch", own=False)), "ms")
        n_flush = len(bodies)  # one flush per POST; the close-time flush is empty
        r.metric("tranquilizer.spark_jobs", groups.jobs("tranquilizer") / n_flush, "count")
        r.metric("tranquilizer.py4j_calls", (sum(flush_py4j) - sum(sink_py4j)) / n_flush, "count")
        r.metric("sink.spark_jobs", groups.jobs("sink") / n_flush, "count")
        r.metric("push.sent", sent_total, "count")
        r.metric("push.dropped_window", drops.count("window"), "count")
        r.metric("push.dropped_unparseable", drops.count("unparseable"), "count")
        r.sink_layout_metrics(sink)
        r.jvm_metrics()
        r.calibration("end")
