"""DruidBeams-style fluent builder — the reference's primary library API.

Reference: ``core/.../druid/DruidBeams.scala#builder`` (SURVEY.md §3.1):

    DruidBeams.builder(timestamper)
      .curator(...).discoveryPath(...).location(DruidLocation(...))
      .rollup(DruidRollup(...)).tuning(ClusteredBeamTuning(...))
      .buildTranquilizer()

Spark restatement: the coordination legs (curator/discovery/location) vanish
— Spark's checkpoint + scheduler replace ZooKeeper + overlord — so the
builder keeps the DATA legs (timestamp/rollup/tuning) and produces the same
two artifacts: a Beam-like sink, or a Tranquilizer wrapping it. A user of the
reference maps their builder chain 1:1; unknown coordination calls are
accepted as documented no-ops so existing call sites port mechanically.

    (Beams.builder()
        .timestamp(column="timestamp", format="iso")
        .dimensions(["page", "channel"])
        .metrics([Count("n"), DoubleSum("added_sum", "added")])
        .granularity(segment="HOUR", query="MINUTE")
        .tuning(window_period="PT10M", partitions=2, shard_key="page")
        .location(datasource="wiki")
        .sink_root("/data/segments")
        .build_tranquilizer(spark))
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable, Optional, Sequence

from pyspark.sql import SparkSession

from tranquility_spark.specs import (
    Aggregator,
    DimensionsSpec,
    GranularitySpec,
    IngestSpec,
    TimestampSpec,
)
from tranquility_spark.streaming.sink import SegmentSink
from tranquility_spark.streaming.tranquilizer import Tranquilizer


class Beams:
    """Fluent builder; every setter returns self."""

    def __init__(self):
        self._ts = TimestampSpec()
        self._dims = DimensionsSpec()
        self._metrics: tuple = ()
        self._gran = GranularitySpec()
        self._datasource = "default"
        self._root = "/tmp/tranquility_spark_segments"
        self._window_period: Optional[str] = "PT10M"
        self._partitions = 1
        self._replicants = 1
        self._max_batch_size = 2000
        self._shard_key: Optional[str] = None
        self._clock: Optional[Callable[[], _dt.datetime]] = None

    @staticmethod
    def builder() -> "Beams":
        return Beams()

    # -- data legs ---------------------------------------------------------

    def timestamp(self, column: str = "timestamp", format: str = "auto", output: str = "ts") -> "Beams":
        self._ts = TimestampSpec(column=column, format=format, output=output)
        return self

    def dimensions(self, dims: Optional[Sequence[str]] = None, exclusions: Sequence[str] = ()) -> "Beams":
        self._dims = DimensionsSpec(dimensions=tuple(dims) if dims is not None else None,
                                    exclusions=tuple(exclusions))
        return self

    def metrics(self, metrics: Sequence[Aggregator]) -> "Beams":
        self._metrics = tuple(metrics)
        return self

    def granularity(self, segment: str = "HOUR", query: str = "NONE", rollup: bool = True) -> "Beams":
        self._gran = GranularitySpec(segment, query, rollup)
        return self

    def location(self, datasource: str) -> "Beams":
        """Reference: ``DruidLocation(indexService, firehoseId, dataSource)`` —
        only the dataSource survives (no overlord/firehose in Spark)."""
        self._datasource = datasource
        return self

    def tuning(
        self,
        window_period: Optional[str] = "PT10M",
        partitions: int = 1,
        replicants: int = 1,
        max_batch_size: int = 2000,
        shard_key: Optional[str] = None,
    ) -> "Beams":
        """Reference: ``ClusteredBeamTuning`` (segmentGranularity lives in
        .granularity() here; warmingPeriod is a no-op — SURVEY.md T3)."""
        self._window_period = window_period
        self._partitions = partitions
        self._replicants = replicants
        self._max_batch_size = max_batch_size
        self._shard_key = shard_key
        return self

    def sink_root(self, root: str) -> "Beams":
        self._root = root
        return self

    def clock(self, clock: Callable[[], _dt.datetime]) -> "Beams":
        """Injectable wall clock (the reference's TestingTimekeeper)."""
        self._clock = clock
        return self

    # -- coordination legs: accepted, documented no-ops --------------------

    def curator(self, *_a, **_k) -> "Beams":
        """No-op: ZooKeeper coordination is replaced by Spark checkpointing."""
        return self

    def discovery_path(self, *_a, **_k) -> "Beams":
        """No-op: Curator service discovery has no Spark counterpart."""
        return self

    def druid_beam_config(self, *_a, **_k) -> "Beams":
        """No-op: task-push HTTP knobs (chunk size, retry periods) vanish."""
        return self

    # -- terminals ---------------------------------------------------------

    def spec(self) -> IngestSpec:
        return IngestSpec(
            datasource=self._datasource,
            timestamp_spec=self._ts,
            dimensions_spec=self._dims,
            metrics=self._metrics,
            granularity_spec=self._gran,
        )

    def _sink(self, window_period: Optional[str]) -> SegmentSink:
        return SegmentSink(
            self._root,
            self._datasource,
            segment_granularity=self._gran.segment_granularity,
            partitions=self._partitions,
            replicants=self._replicants,
            shard_key=self._shard_key,
            ts_col=self._ts.output,
            window_period=window_period,
            clock=self._clock,
        )

    def build_beam(self) -> SegmentSink:
        """Reference terminal ``buildBeam()`` → the sink, which applies the
        window period itself (the only window decision on a streaming
        path)."""
        return self._sink(self._window_period)

    def build_tranquilizer(self, spark: SparkSession) -> Tranquilizer:
        """Reference terminal ``buildTranquilizer()`` → the send API. The
        Tranquilizer makes the one window decision per event; its sink has
        none, because a second decision at write time (a later wall clock)
        could drop an event already acknowledged as sent."""
        return Tranquilizer(
            spark,
            self.spec(),
            self._sink(None),
            max_batch_size=self._max_batch_size,
            window_period=self._window_period,
            clock=self._clock,
        )
