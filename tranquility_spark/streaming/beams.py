"""Beam composition — the reference's core abstraction, restated over DataFrames.

Reference: ``core/.../beam/Beam.scala#Beam`` (trait: ``sendAll(Seq[A]):
Seq[Future[SendResult]]``, ``close()``) with compositions
``MergingPartitioningBeam(HashPartitionBeam(DruidBeam))`` (SURVEY.md §2.8) and
``MemoryBeam`` for tests (S4).

In the Spark restatement a "send" carries a DataFrame micro-batch instead of a
Seq of events; partition fan-out (D1) becomes a shard-column split and
replication (D3) a fan-out write. These exist for API parity and for tests
mirroring ``ClusteredBeamTest`` — inside a streaming query the same routing is
expressed declaratively (``repartition`` + ``partitionBy``), which is what
``SegmentSink`` does with a distributed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tranquility_spark.operators.partitioning import portable_shard


class Beam:
    """Accepts micro-batches; returns the number of rows actually sent."""

    def send_all(self, df: DataFrame) -> int:
        raise NotImplementedError

    def close(self) -> None:
        pass


class MemoryBeam(Beam):
    """Buffers everything in memory for assertions (ref: MemoryBeam, S4)."""

    def __init__(self):
        self.batches: list = []

    def send_all(self, df: DataFrame) -> int:
        pdf = df.toPandas()
        self.batches.append(pdf)
        return len(pdf)

    def rows(self):
        import pandas as pd

        if not self.batches:
            return pd.DataFrame()
        return pd.concat(self.batches, ignore_index=True)


class HashPartitionBeam(Beam):
    """Routes each row to one child beam by portable hash of ``key`` (D1).

    Reference: ``HashPartitionBeam.scala`` — ``event.hashCode % partitions``.
    """

    def __init__(self, children: list[Beam], key: str):
        self.children = children
        self.key = key

    def send_all(self, df: DataFrame) -> int:
        n = len(self.children)
        sharded = df.withColumn("__shard", portable_shard(F.col(self.key), n))
        sent = 0
        for i, child in enumerate(self.children):
            sent += child.send_all(sharded.filter(F.col("__shard") == i).drop("__shard"))
        return sent

    def close(self) -> None:
        for c in self.children:
            c.close()


class ReplicatingBeam(Beam):
    """Every replica receives every row of its partition (D3).

    Reference: ``replicants`` in ``ClusteredBeamTuning``; replica tasks in
    ``DruidBeamMaker#newBeam``. The send count follows the reference: counted
    once per event, not per replica.
    """

    def __init__(self, replicas: list[Beam]):
        self.replicas = replicas

    def send_all(self, df: DataFrame) -> int:
        counts = [r.send_all(df) for r in self.replicas]
        return counts[0] if counts else 0

    def close(self) -> None:
        for r in self.replicas:
            r.close()
