"""The library send API: ``Tranquilizer`` (S3) restated for Spark.

Reference: ``core/.../tranquilizer/Tranquilizer.scala`` (~400 LoC) — per-event
``send(event): Future[Unit]`` with batching (``maxBatchSize`` default 2000),
bounded in-flight batches (``maxPendingBatches`` 5) and ``lingerMillis`` (0);
dropped events resolve their future with ``MessageDroppedException``.

Spark restatement: ``send`` buffers dict events; a flush runs ONE Spark job.
It converts the batch to an Arrow table (the schema and value conversion
``createDataFrame(list)`` would use, but planned as a ``LocalTableScan``, so
no Python worker runs), adds the ingest spec's timestamp extraction and a
per-event status column (accepted / unparseable / outside the window period)
in one plan, and collects it once with ``toArrow()``. The futures resolve
from the status column: True, or ``MessageDroppedException`` naming the
cause, counted in ``dropped_unparseable`` / ``dropped_window``. The beam
(``SegmentSink.write_batch`` or ``MemoryBeam``) receives the accepted slice
of that same Arrow table, so nothing is evaluated twice. That batch is a
driver-local frame, so ``SegmentSink`` stages it on the driver with pyarrow
(one sorted collect, one parquet file per bucket and shard) instead of a
shuffle and a Spark write job. A flush succeeds only if the beam wrote
every accepted event.

Flushes are synchronous and deterministic (the default lingerMillis=0 was
latency-biased anyway); ``maxPendingBatches`` back-pressure is therefore a
no-op, which only strengthens delivery semantics.
"""

from __future__ import annotations

import datetime as _dt
from concurrent.futures import Future
from typing import Callable, Optional

import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion

from tranquility_spark.operators.window_filter import quote_column, window_condition
from tranquility_spark.specs import IngestSpec

DEFAULT_MAX_BATCH_SIZE = 2000  # ref: Tranquilizer#DefaultMaxBatchSize

# flush-local columns: each event's position in the batch, and its disposition
_IDX, _STATUS = "__send_idx", "__send_status"
_ACCEPTED, _UNPARSEABLE, _OUTSIDE_WINDOW = "accepted", "unparseable", "window"


class MessageDroppedException(Exception):
    """Raised (via the send future) for events rejected by the window filter.

    Reference: ``com.metamx.tranquility.tranquilizer.MessageDroppedException``.
    """


class SendResult:
    def __init__(self, sent: bool):
        self.sent = sent


class Tranquilizer:
    def __init__(
        self,
        spark: SparkSession,
        spec: IngestSpec,
        beam,  # Beam (streaming/beams.py) or SegmentSink
        max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
        window_period: Optional[str] = "PT10M",
        clock: Optional[Callable[[], _dt.datetime]] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.beam = beam
        self.max_batch_size = max_batch_size
        self.window_period = window_period
        self.clock = clock
        self._buffer: list[tuple[dict, Future]] = []
        # Resume past any batch markers a previous run left in the sink:
        # _batch_id is in-memory, but SegmentSink.write_batch skips ids whose
        # marker exists — starting from 0 after a daemon restart would make
        # early flushes collide with the old run's markers and be silently
        # discarded while their futures still resolved sent=True.
        self._batch_id = beam.max_batch_id() if hasattr(beam, "max_batch_id") else 0
        self.sent_count = 0
        # every event not sent: the two per-reason counts below, plus the
        # events of a flush that failed
        self.dropped_count = 0
        self.dropped_unparseable = 0
        self.dropped_window = 0

    def send(self, event: dict) -> Future:
        """Buffer one event; returns a future resolving to SendResult(sent=True)
        or raising MessageDroppedException. Auto-flushes at maxBatchSize."""
        fut: Future = Future()
        self._buffer.append((event, fut))
        if len(self._buffer) >= self.max_batch_size:
            self.flush()
        return fut

    def flush(self) -> None:
        if not self._buffer:
            return
        events = [e for e, _ in self._buffer]
        futures = [f for _, f in self._buffer]
        self._buffer = []
        try:
            self._flush(events, futures)
        except Exception as exc:
            # r14 code-review: a failed flush must resolve every pending
            # future exceptionally (the reference's contract), not leave
            # clients blocked on futures nobody will ever complete while
            # the buffered events are already gone
            for fut in futures:
                if not fut.done():
                    self.dropped_count += 1
                    fut.set_exception(exc)
            raise

    def _flush(self, events: list, futures: list) -> None:
        rows = [{**e, _IDX: i} for i, e in enumerate(events)]
        # the schema createDataFrame(rows) would infer, and its value
        # conversion (a naive datetime is host-local time, as
        # TimestampType.toInternal reads it) — but Arrow-backed, so the
        # plan is a LocalTableScan and no Python worker runs
        schema = self.spark._inferSchemaFromList(rows, names=None)
        df = self.spark.createDataFrame(
            LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False),
            schema=schema,
        )
        ts_out = self.spec.timestamp_spec.output
        parsed = df.withColumn(ts_out, self.spec.timestamp_spec.extract(df))
        status = f"CASE WHEN {quote_column(ts_out)} IS NULL THEN '{_UNPARSEABLE}'"
        if self.window_period is not None:
            # resolve 'now' driver-side exactly once per flush. Keep it
            # tz-AWARE: a naive datetime is read as the driver's OS local
            # time, so on any non-UTC host it would shift the window center
            # by the UTC offset and drop every current event.
            now = self.clock() if self.clock else _dt.datetime.now(_dt.timezone.utc)
            cond = window_condition(ts_out, self.window_period, now=now)
            status += f" WHEN NOT ({cond}) THEN '{_OUTSIDE_WINDOW}'"
        status += f" ELSE '{_ACCEPTED}' END"
        # ONE materialization: the per-event disposition and the rows handed
        # to the beam both come from this single Arrow collect, so a plan
        # is never evaluated twice (a second evaluation could disagree with
        # the first on boundary rows) and the beam's batch is built from
        # the accepted slice of the same table.
        table = parsed.withColumn(_STATUS, F.expr(status)).toArrow()
        disposition = dict(
            zip(table.column(_IDX).to_pylist(), table.column(_STATUS).to_pylist())
        )
        accepted = table.filter(pc.equal(table.column(_STATUS), _ACCEPTED))
        batch = self.spark.createDataFrame(
            accepted.drop_columns([_IDX, _STATUS]),
            schema=parsed.drop(_IDX).schema,
        )

        self._batch_id += 1
        if hasattr(self.beam, "write_batch"):
            written = self.beam.write_batch(batch, self._batch_id)
        else:
            written = self.beam.send_all(batch)
        if written != accepted.num_rows:
            # the sink SIGNALS a batch-id collision (a marker already
            # committed under this id — the misconfigured double-producer
            # case) by returning 0, and a sink with its own window filter
            # may drop rows this flush accepted; acknowledging those
            # events as sent would be silent data loss
            raise MessageDroppedException(
                f"batch {self._batch_id}: the beam wrote {written} of "
                f"{accepted.num_rows} accepted events — a marker for this "
                "batch id already exists (concurrent producer / batch-id "
                "collision), or the sink's own window filter dropped rows "
                "— the batch was NOT delivered whole"
            )

        for i, fut in enumerate(futures):
            reason = disposition[i]
            if reason == _ACCEPTED:
                self.sent_count += 1
                fut.set_result(SendResult(sent=True))
                continue
            self.dropped_count += 1
            if reason == _UNPARSEABLE:
                self.dropped_unparseable += 1
                msg = (
                    f"event {i}: unparseable timestamp "
                    f"(column {self.spec.timestamp_spec.column!r})"
                )
            else:
                self.dropped_window += 1
                msg = f"event {i} outside windowPeriod {self.window_period}"
            fut.set_exception(MessageDroppedException(msg))

    def close(self) -> None:
        self.flush()
        if hasattr(self.beam, "close"):
            self.beam.close()
