"""Segment-style sink: idempotent, time-partitioned Parquet (SURVEY.md §4.2-2).

Replaces the reference's entire Druid-task machinery — ``DruidBeam`` (HTTP
push, S5), ``DruidBeamMaker``/``IndexService`` (task creation + segment
lifecycle, S6) — with a ``foreachBatch`` writer producing

    <root>/ds=<datasource>/g=<bucket start>/p=<shard>/*.parquet

- **Bucketing (T1)**: rows land in the segment bucket of their event time
  (``segmentGranularity.truncate``), mirroring one-task-set-per-bucket.
- **Sharding (D1/D2)**: ``p`` is the portable hash of the partition key
  (rollup-aware when key = dims), mirroring the linear shard spec.
- **Replication (D3)**: ``replicants`` writes the batch to ``r=<i>`` roots.
- **Idempotence (W5)**: each micro-batch commits under a ``_batches/<id>``
  marker; a replayed batch id is skipped. Combined with Structured Streaming
  checkpointing this gives exactly-once — strictly stronger than the
  reference's at-least-once-with-drops (documented delta, SURVEY.md §4.3).
- **Window period (P6/W1)**: optional two-sided wall-clock filter before the
  write, with injectable ``clock`` for deterministic tests (reference tests
  use ``TestingTimekeeper`` the same way).
- **Schema evolution (W7)**: the spec is applied per batch, so a dims/metrics
  change takes effect on the next micro-batch; per-bucket directories may mix
  schemas and are read back with ``mergeSchema`` (next segment bucket gets the
  union — the reference's "next segment" rule, relaxed to "next batch").

Scale: the stage writer is chosen by where the batch's rows already are.
A batch whose rows sit in driver memory (``df.isLocal()``: the Arrow-backed
frame a ``Tranquilizer`` flush hands over, at most one flush of rows) is
collected once, sorted on (g, p), and each (g, p) slice is written with
pyarrow — no shuffle and no Spark write job. Every other batch (streaming
``foreachBatch`` frames, ``MultiDatasourceSink`` slices, list-built frames)
takes one ``repartition(g, p)`` + ``partitionBy(g, p)`` Spark write, with no
driver-side row handling. Both writers produce the same staged layout and
footer schema, and everything after staging is shared.

Commit protocol: stage → deterministic-name publish → footer row count →
exclusive marker, so a crash at ANY point leaves a retry idempotent.
``write_batch`` and ``compact`` run the same core — ``_stage_with_spark``,
``_staged_files`` (the deterministic names), ``_link_or_copy`` (the
publish), ``_footer_rows`` and ``_commit_marker`` — and differ only in
policy: what a lost marker race means and what must be cleared around
the publish. The publish touches one file per (bucket, shard) per batch;
on an object store it becomes a manifest/metadata commit, same shape.

One writer at a time: a batch id and a replica's compaction generations
each have one writer, enforced by a kernel ``flock`` on a lock file
(``_batches/<ds>-<id>.lock``, ``_compactions/<ds>-r<replica>.lock``) held
around the whole protocol. The kernel drops the lock when its holder
dies, so a crashed writer never blocks a retry, and a second holder —
another process, a sibling thread or the same thread — waits. Like the
marker commit, the lock is for one host's filesystem.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import fcntl
import itertools
import json
import os
import re
import shutil
import time as _time
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tranquility_spark.operators.partitioning import portable_shard
from tranquility_spark.operators.window_filter import two_sided_window_filter
from tranquility_spark.specs import Granularity

Clock = Callable[[], _dt.datetime]


# -- the commit core shared by write_batch and compact ----------------------


def _stage_with_spark(df: DataFrame, staging: str, cluster_by: Sequence[str]) -> None:
    """Stage ``df`` as Spark's partitioned write: one ``g=<g>/p=<p>/``
    directory per key. The caller's partitioning decides how many files
    each directory gets; the per-task sort needs no extra shuffle, and the
    leading (g, p) keys keep each file's rows ordered on the cluster
    columns."""
    if cluster_by:
        df = df.sortWithinPartitions("g", "p", *cluster_by)
    df.write.mode("overwrite").partitionBy("g", "p").parquet(staging)


def _staged_files(staging: str, prefix: str) -> list[tuple[str, str]]:
    """``(rel, src)`` for every parquet file of a staging dir. ``rel`` is
    the file's deterministic published name, ``<g=…/p=…>/<prefix>-<seq>
    .parquet`` with seq counting its directory's files in sorted order: a
    retry that stages the same rows publishes over its own partial work
    instead of appending duplicates."""
    out = []
    for dirpath, _dirs, files in sorted(os.walk(staging)):
        rel_dir = os.path.relpath(dirpath, staging)
        for seq, name in enumerate(sorted(f for f in files if f.endswith(".parquet"))):
            rel = os.path.normpath(os.path.join(rel_dir, f"{prefix}-{seq}.parquet"))
            out.append((rel, os.path.join(dirpath, name)))
    return out


def _link_or_copy(src: str, dst: str) -> None:
    """Publish ``src`` as ``dst``, replacing any file of that name. A
    hardlink is a metadata op (measured 3× faster than copying on a
    720-bucket backfill); the copy is the cross-device / no-hardlink
    fallback."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        os.remove(dst)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def _footer_rows(paths) -> int:
    """Row count of parquet files from their footers: a metadata read, no
    recompute of the staged frame."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _commit_marker(path: str, payload: dict) -> bool:
    """Commit ``payload`` as the marker ``path``; False when a concurrent
    producer's marker is already there.

    Write-then-commit, so a crash mid-write never leaves a marker that
    would make half-written work look committed. The tmp name is
    pid-unique, so two producers cannot clobber each other's payload
    before the commit, and the commit is an exclusive link: a plain rename
    would silently overwrite the winner's marker. A filesystem without
    hardlinks falls back to the atomic rename, which keeps crash atomicity
    but loses the concurrent-producer guard.
    """
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.remove(tmp)
        return False
    except OSError:
        os.rename(tmp, path)
    else:
        # apart from the link's try: a failed tmp cleanup must never fall
        # into the rename fallback and re-commit over the marker just made
        os.remove(tmp)
    return True


# -- the one-writer lock ---------------------------------------------------


def _try_lock(path: str):
    """The open lock file ``path`` holding an exclusive ``flock``, or None
    while another holder has it.

    flock belongs to the open file description, so a second open of the
    path is refused inside this process too (a sibling thread, or the same
    thread twice), and the kernel drops the lock when its holder dies: a
    crashed holder's file is simply taken over. A releasing holder removes
    the path before closing, so a file locked just after that no longer
    names the path; the attempt then starts over on the path's new file.
    """
    os.makedirs(os.path.dirname(path), exist_ok=True)
    while True:
        fh = open(path, "a")
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if os.path.samestat(os.stat(path), os.fstat(fh.fileno())):
                return fh
        except BlockingIOError:
            fh.close()
            return None
        except FileNotFoundError:
            pass  # removed by its releasing holder after our open
        except BaseException:
            fh.close()
            raise
        fh.close()


def _unlock(fh) -> None:
    """Release a ``_try_lock`` lock: remove its path, then drop the flock."""
    try:
        os.remove(fh.name)
    finally:
        fh.close()


@contextlib.contextmanager
def _exclusive(path: str, what: str):
    """Hold the lock ``path`` for the block, waiting up to 600 s for a live
    holder to finish (a waiter never skips on a snapshot of who holds it)."""
    deadline = _time.monotonic() + 600.0
    while (fh := _try_lock(path)) is None:
        if _time.monotonic() > deadline:
            raise RuntimeError(
                f"{what}: a live concurrent writer has held {path} for over "
                "600s — refusing to silently skip the work"
            )
        _time.sleep(0.2)
    try:
        yield
    finally:
        _unlock(fh)


class SegmentSink:
    def __init__(
        self,
        root: str,
        datasource: str,
        segment_granularity: str | Granularity = "HOUR",
        partitions: int = 1,
        replicants: int = 1,
        shard_key: Optional[str] = None,
        ts_col: str = "ts",
        window_period: Optional[str] = None,
        clock: Optional[Clock] = None,
        latest_close_time: Optional[_dt.datetime] = None,
        cluster_by: Optional[list[str]] = None,
    ):
        self.root = root.rstrip("/")
        self.datasource = datasource
        self.gran = (
            Granularity(segment_granularity)
            if isinstance(segment_granularity, str)
            else segment_granularity
        )
        if self.gran.name in ("SECOND", "NONE"):
            # the g bucket string is minute-resolution (yyyy-MM-dd-HH-mm):
            # a finer segment granularity would silently coalesce 60+
            # logical buckets per directory while before=-scoped
            # compaction and bucket listings operated on the coarser
            # string — loud, not silently-coarsened.
            # (Druid's own segmentGranularity floor is MINUTE-scale too;
            # sub-minute segments are an anti-pattern at any size.)
            raise ValueError(
                f"segment_granularity={self.gran.name} is finer than the "
                "sink's minute-resolution bucket layout — use MINUTE or "
                "coarser (queryGranularity may still be SECOND/NONE)"
            )
        if partitions > 1 and shard_key is None:
            # loud, not silently one shard: without a key every row gets p=0
            raise ValueError(
                f"partitions={partitions} needs a shard_key to split rows on"
            )
        self.partitions = partitions
        self.replicants = replicants
        self.shard_key = shard_key
        self.ts_col = ts_col
        self.window_period = window_period
        self.clock = clock
        self.latest_close_time = latest_close_time
        # Secondary clustering: Druid's range partitionsSpec
        # (``partitionsSpec: single_dim/range`` on native ingest/compaction,
        # public Druid docs) — rows inside each (bucket, shard) file are
        # kept SORTED on these dimensions, so the parquet footers carry
        # tight min/max and a range predicate on them skips row groups at
        # read time (sources/clustered.py holds the standalone layout and
        # the footer-stats probe; SCALE.md the measured payoff).
        # write_batch sorts each micro-batch file; compact() range-splits
        # and re-sorts whole buckets, so the clustering IMPROVES as
        # segments close — exactly Druid compaction's role.
        self.cluster_by = list(cluster_by) if cluster_by else []

    # -- paths ------------------------------------------------------------

    def _ds_root(self, replica: int) -> str:
        base = f"{self.root}/ds={self.datasource}"
        return f"{base}/r={replica}" if self.replicants > 1 else base

    def _marker_path(self, batch_id: int) -> str:
        return f"{self.root}/_batches/{self.datasource}-{batch_id}"

    def _acquire_batch_lock(self, marker: str):
        """The lock of the batch whose marker is ``marker`` if it is free
        now, else None; ``_release_batch_lock`` releases it."""
        return _try_lock(f"{marker}.lock")

    _release_batch_lock = staticmethod(_unlock)

    def max_batch_id(self) -> int:
        """Highest committed batch id for this datasource (0 if none).

        Lets a restarting driver-side producer (``Tranquilizer``) resume its
        batch-id sequence past the previous run's markers instead of colliding
        with them — a collision would make ``write_batch`` silently skip live
        data as "already committed". Streaming queries don't need this: their
        batch ids come from the checkpoint, where a replayed id really IS the
        same batch.
        """
        return max(self.committed_batch_ids(), default=0)

    # -- the foreachBatch body ---------------------------------------------

    def write_batch(self, df: DataFrame, batch_id: int) -> int:
        """Idempotent write of one micro-batch; returns rows written (0 on replay)."""
        marker = self._marker_path(batch_id)
        if os.path.exists(marker):
            return 0
        # one writer per batch id, taken BEFORE the sweep below: two live
        # producers racing one id could both pass the marker check above,
        # and the loser's sweep would delete files the winner is about to
        # commit. A blocked producer waits for the holder instead of
        # skipping: returning 0 while the holder may still fail would let
        # this producer's checkpoint advance past a batch nobody commits.
        with _exclusive(f"{marker}.lock", f"batch {batch_id}"):
            if os.path.exists(marker):
                return 0  # the holder we waited for committed this batch
            return self._write_batch_locked(df, batch_id, marker)

    def _write_batch_locked(self, df: DataFrame, batch_id: int, marker: str) -> int:
        out = df
        if self.window_period is not None:
            now = self.clock() if self.clock else None
            out = two_sided_window_filter(
                out, self.ts_col, self.window_period, now=now,
                latest_close_time=self.latest_close_time,
            )

        clash = [c for c in ("g", "p") if c in out.columns]
        if clash:
            # loud, not silent (the cluster_by guard's sibling): withColumn
            # would REPLACE the user's column with the bucket/shard value
            # and partitionBy would consume it as a directory key — the
            # original values gone from the layout
            raise ValueError(
                f"batch columns {clash} collide with the sink's reserved "
                "bucket/shard columns ('g', 'p') — rename them upstream"
            )
        bucket = self.gran.truncate(F.col(self.ts_col))
        out = out.withColumn("g", F.date_format(bucket, "yyyy-MM-dd-HH-mm"))
        shard = (
            portable_shard(F.col(self.shard_key), self.partitions)
            if self.shard_key
            else F.lit(0)
        )
        out = out.withColumn("p", shard)
        missing = [c for c in self.cluster_by if c not in out.columns]
        if missing:
            # loud, not silently-unsorted: a layout whose files CLAIM the
            # clustering contract but interleave values would make every
            # footer range wide and every skip impossible — the
            # misconfiguration must surface at ingest, not as a slow query
            # months later
            raise ValueError(f"cluster_by columns missing from batch: {missing}")

        # Two-phase commit. Phase 1 writes the batch into a batch-scoped
        # STAGING dir as one file per (g, p), rows sorted on the cluster
        # columns (restarted from scratch on retry — a half-written staging
        # dir is never visible). Phase 2 publishes each staged file into
        # every replica under its deterministic name, then the marker
        # commits the batch. Without staging, a crash between the data
        # write and the marker write would duplicate the batch on retry
        # (append mode), and a crash between replica writes would
        # duplicate replica 0.
        # Clear EVERY file this batch id ever published: deterministic
        # names only overwrite partial work in buckets the retry writes
        # AGAIN — with a wall clock (window_period, clock=None) the retry
        # re-filters at a LATER now and may stage FEWER buckets, so a
        # crashed attempt's file in a bucket the retry no longer produces
        # would become committed-visible once the marker lands, exposing
        # rows the committed batch filtered out. The batch id owns its
        # files; sweep them all first.
        for r in range(self.replicants):
            root_r = self._ds_root(r)
            if not os.path.isdir(root_r):
                continue
            for dirpath, _dirs, fs in os.walk(root_r):
                for f in fs:
                    if f.startswith(f"batch-{batch_id}-") and f.endswith(".parquet"):
                        os.remove(os.path.join(dirpath, f))
        staging = f"{self.root}/_staging/{self.datasource}-{batch_id}"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        # Phase 1 has two writers, chosen by where the rows already are. A
        # local batch (rows in driver memory, at most one flush) is staged
        # by pyarrow: one collect, no shuffle, no Hadoop committer — the
        # Spark write's fixed cost per (g, p) file dominated a small batch.
        # A distributed batch must not be pulled to the driver, so it keeps
        # the Spark write.
        if df.isLocal():
            self._stage_local(out, staging)
        else:
            # co-locate each (bucket, shard) in one task before partitionBy
            # — without this every upstream partition writes a file into
            # every bucket directory (buckets × tasks small files; measured
            # 8× slower at 720 buckets). This is the D2 rollup-aware layout
            # applied to the write path; one file per (g, p) per batch.
            out = out.repartition(F.col("g"), F.col("p"))
            _stage_with_spark(out, staging, self.cluster_by)
        staged = _staged_files(staging, f"batch-{batch_id}")
        for r in range(self.replicants):
            for rel, src in staged:
                _link_or_copy(src, os.path.join(self._ds_root(r), rel))
        n = _footer_rows(src for _, src in staged)
        shutil.rmtree(staging, ignore_errors=True)
        # two producers racing one batch id (a misconfigured double daemon;
        # the checkpoint contract says same id == same content): the loser
        # treats the batch as already committed
        if not _commit_marker(marker, {"rows": n, "batch_id": batch_id}):
            return 0
        return n

    def _stage_local(self, layout: DataFrame, staging: str) -> None:
        """Stage a driver-local batch as Spark's ``partitionBy("g", "p")``
        write would: ``g=<g>/p=<p>/`` directories, one parquet file each,
        without the partition columns. One sorted collect makes every
        (g, p) a contiguous slice of the table. Each file carries the two
        footer keys Spark's own writer adds: the row metadata (the data
        columns' Spark schema, so e.g. a void or short column reads back as
        written, not as its parquet physical type) and the writer version
        (so a reader's rebase-mode setting leaves pre-1582 datetimes alone,
        as it does in Spark's own files)."""
        import pyarrow.parquet as pq

        table = (
            layout.coalesce(1)
            .sortWithinPartitions("g", "p", *self.cluster_by)
            .toArrow()
        )
        schema = StructType([f for f in layout.schema.fields if f.name not in ("g", "p")])
        data = table.drop_columns(["g", "p"]).replace_schema_metadata({
            "org.apache.spark.version": layout.sparkSession.version,
            "org.apache.spark.sql.parquet.row.metadata": schema.json(),
        })
        keys = zip(table.column("g").to_pylist(), table.column("p").to_pylist())
        start = 0
        for key, run in itertools.groupby(keys):
            rows = sum(1 for _ in run)
            # a null key is Spark's default partition; no (g, p) value
            # holds a character Spark would escape in a directory name
            g, p = ("__HIVE_DEFAULT_PARTITION__" if v is None else v for v in key)
            part = os.path.join(staging, f"g={g}", f"p={p}")
            os.makedirs(part)
            pq.write_table(data.slice(start, rows), os.path.join(part, "part-00000.parquet"))
            start += rows

    # -- streaming attach ----------------------------------------------------

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def _fn(df: DataFrame, batch_id: int) -> None:
            self.write_batch(df, batch_id)

        return _fn

    def attach(self, stream_df: DataFrame, checkpoint: str, trigger: Optional[dict] = None):
        writer = stream_df.writeStream.foreachBatch(self.foreach_batch()).option(
            "checkpointLocation", checkpoint
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- read-back -----------------------------------------------------------

    def committed_batch_ids(self) -> set:
        """Batch ids with a committed marker for this datasource."""
        base = f"{self.root}/_batches"
        prefix = f"{self.datasource}-"
        if not os.path.isdir(base):
            return set()
        return {
            int(name[len(prefix):])
            for name in os.listdir(base)
            if name.startswith(prefix) and name[len(prefix):].isdigit()
        }

    def _check_replica(self, replica: int) -> None:
        """The compact() replica-range guard, extended to every read
        path: with replicants == 1 ``_ds_root`` aliases
        ALL replica numbers to the same directory, but the marker
        namespaces stay per-replica — an out-of-range replica would find
        the files and none of their markers, so a snapshot read would
        silently skip every compacted file (or raise on a fully
        compacted layout) instead of erroring on the bad argument."""
        if not 0 <= replica < self.replicants:
            raise ValueError(
                f"replica {replica} out of range for replicants={self.replicants}"
            )

    def committed_compactions(self, replica: int = 0) -> list[dict]:
        """Committed ``compact()`` markers for one replica, sorted by
        generation. Each marker records the files a
        compaction published and the files it replaced, so the snapshot
        read can flip from old to new atomically at the marker rename."""
        self._check_replica(replica)
        base = f"{self.root}/_compactions"
        prefix = f"{self.datasource}-r{replica}-"
        if not os.path.isdir(base):
            return []
        out = []
        for name in sorted(os.listdir(base)):
            if name.startswith(prefix) and name[len(prefix):].isdigit():
                with open(os.path.join(base, name), encoding="utf-8") as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda m: m["gen"])

    def committed_files(self, replica: int = 0) -> list[str]:
        """The snapshot-visible parquet files of one replica (shared by
        ``read`` and ``compact``, so ``compact`` can both build its input
        and record exactly what it replaces). Rules:

        - ``batch-<id>-*.parquet`` needs a committed ``_batches`` marker;
        - ``compact-<gen>-*.parquet`` needs a committed ``_compactions``
          marker that lists it — a compaction that died between publishing
          and its marker leaves these invisible, exactly like a batch;
        - any file a committed compaction lists as ``replaced`` is excluded
          even if still on disk (the deletion phase may not have finished);
        - anything else (legacy ``part-*`` rewrites) is committed by the
          legacy protocol and included.
        """
        self._check_replica(replica)
        base = self._ds_root(replica)
        committed = self.committed_batch_ids()
        comp_published: set[str] = set()
        comp_replaced: set[str] = set()
        for m in self.committed_compactions(replica):
            comp_published.update(m["files"])
            comp_replaced.update(m["replaced"])
        files = []
        for dirpath, _dirs, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                if not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), base)
                if rel in comp_replaced:
                    continue  # superseded by a committed compaction
                if f.startswith("compact-"):
                    if rel not in comp_published:
                        continue  # published but unmarked — invisible
                elif f.startswith("batch-"):
                    try:
                        bid = int(f.split("-")[1])
                    except (IndexError, ValueError):
                        bid = None
                    if bid not in committed:
                        continue  # published but unmarked — invisible
                files.append(os.path.join(dirpath, f))
        return files

    def read(self, spark, replica: int = 0, committed_only: bool = False) -> DataFrame:
        """Read the segment layout back.

        ``committed_only=True`` is the snapshot-isolation read (the
        reference's DefunctBeam no-partial-segment story, SURVEY §2.6 W5):
        only files whose batch has a committed ``_batches`` marker are read,
        so a writer that died between publishing staged files and committing
        the marker leaves NOTHING visible — the replayed batch overwrites
        its own deterministic file names and only then becomes readable.
        File-level filtering works because every file ``write_batch``
        publishes is named ``batch-<id>-<seq>.parquet`` and every file
        ``compact`` publishes is named ``compact-<gen>-<seq>.parquet`` under
        its own ``_compactions`` marker (see ``committed_files`` for
        the full rule set; a compacted layout reads identically through
        both modes once the compaction's deletion phase finishes, asserted
        in tests). The snapshot path never constructs the unfiltered
        reader, so an in-flight writer's staged schema cannot leak into
        it; a layout with no committed files at all raises instead of
        guessing a schema from uncommitted data.

        Scale note: the file filter is a driver-side listing (os.walk +
        explicit file list) — right for a single-box layout; at object-
        store scale the marker state belongs in a manifest/metadata layer
        (the same evolution the module header describes for the publish
        loop), where this read becomes a manifest lookup instead of a walk.

        Known race (documented, same class as the raw read's transient
        old+new visibility): a snapshot whose file list was taken BEFORE a
        concurrent ``compact()`` committed can fail with FileNotFound when
        the compaction's deletion phase removes the replaced files under
        the in-flight job. File-level snapshots have no read locks; retry
        the read (the new listing resolves through the marker) or schedule
        compaction away from readers — the manifest layer above is where a
        grace period would live at object-store scale.
        """
        self._check_replica(replica)
        base = self._ds_root(replica)
        if not committed_only:
            return (
                spark.read.option("mergeSchema", "true")
                .option("basePath", base)
                .parquet(base)
            )
        files = self.committed_files(replica)
        if not files:
            raise ValueError(
                f"no committed segment files under {base} — nothing to "
                "snapshot-read (uncommitted staged data is never exposed)"
            )
        return (
            spark.read.option("mergeSchema", "true")
            .option("basePath", base)
            .parquet(*files)
        )

    def buckets(self, replica: int = 0) -> list[str]:
        self._check_replica(replica)
        base = self._ds_root(replica)
        if not os.path.isdir(base):
            return []
        return sorted(d.split("=", 1)[1] for d in os.listdir(base) if d.startswith("g="))


class MultiDatasourceSink:
    """Route one mixed-datasource batch to per-datasource segment sinks.

    Reference: ``kafka/.../writer/WriterController.scala`` — one writer per
    dataSource, messages demuxed by topic mapping (S1). Here the batch carries
    a ``datasource`` column (from ``sources.kafka.parse_kafka_batch``) and each
    datasource's slice goes through its own ``SegmentSink`` (own layout, own
    marker namespace). Rows with an unknown datasource are dropped and counted,
    mirroring the controller's log-and-skip.
    """

    def __init__(self, sinks: dict, datasource_col: str = "datasource", specs: dict | None = None):
        self.sinks = dict(sinks)
        self.datasource_col = datasource_col
        # optional per-datasource IngestSpec: slices are rolled up before the
        # write (the reference's Druid tasks aggregate at ingest; with a spec
        # attached this sink produces the same rolled-up segments)
        self.specs = dict(specs or {})
        self._transforms = {}
        self.unknown_dropped = 0

    def _transform(self, ds: str):
        if ds not in self._transforms:
            spec = self.specs.get(ds)
            if spec is None:
                self._transforms[ds] = lambda df: df
            else:
                from tranquility_spark.plans.rollup import build_rollup

                self._transforms[ds] = build_rollup(spec)
        return self._transforms[ds]

    def write_batch(self, df: DataFrame, batch_id: int) -> int:
        df = df.persist()
        try:
            total = 0
            known = list(self.sinks)
            for ds, sink in self.sinks.items():
                part = df.filter(F.col(self.datasource_col) == ds).drop(self.datasource_col)
                total += sink.write_batch(self._transform(ds)(part), batch_id)
            # NULL-safe unknown counting: ~isin(known) is
            # NULL for a NULL datasource under three-valued logic, so the
            # rows most likely to be misrouted (an unmapped topic's
            # NULL tag) were dropped WITHOUT being counted
            col = F.col(self.datasource_col)
            self.unknown_dropped += df.filter(
                col.isNull() | ~col.isin(known)
            ).count()
            return total
        finally:
            df.unpersist()

    def foreach_batch(self):
        def _fn(df: DataFrame, batch_id: int) -> None:
            self.write_batch(df, batch_id)

        return _fn


def compact(
    sink: SegmentSink,
    spark,
    replica: int = 0,
    target_files_per_shard: int = 1,
    before: str | None = None,
) -> int:
    """Merge a segment layout's accumulated micro-batch files (Druid compaction).

    Streaming produces one file per (bucket, shard) per micro-batch; after N
    batches a bucket holds N small files and read amplification grows. This
    rewrites each over-target (bucket, shard) to at most
    ``target_files_per_shard`` files (a deterministic row-hash slice
    key makes targets above 1 real — hash co-location may merge slices,
    so "at most") using the SAME
    stage → deterministic publish → marker protocol as ``write_batch`` (a
    dynamic partition overwrite's delete-then-rename commit window could
    lose the only copy of a closed bucket on a crash):

    1. read the COMMITTED snapshot (never a crashed predecessor's
       uncommitted leftovers) and record its file list — the ``replaced``
       set;
    2. stage the rewrite to ``_staging`` via one Spark job, then publish the
       staged files into the live tree as ``compact-<gen>-<seq>.parquet``
       (deterministic names; the janitor below clears a crashed attempt's
       leftovers of the same generation first). Readers
       ignore compact files with no committed marker, so the live tree's
       snapshot is untouched throughout;
    3. commit a ``_compactions/<ds>-r<replica>-<gen>`` marker (write + atomic
       rename) listing published and replaced files — THIS is the flip: the
       snapshot read switches from the replaced files to the compacted ones
       in one rename;
    4. delete the replaced files. A crash here leaves them on disk but
       invisible (the marker excludes them); the next ``compact`` call's
       janitor pass finishes the deletion. The janitor also clears
       ORPHANED compact files (a generation that published but never
       committed its marker), so a crash in the publish→marker window
       cannot leave the raw read double-counting forever — even when the
       retry takes the no-op early return.

    Concurrent calls for one (datasource, replica) serialize: each holds
    the ``_compactions/<ds>-r<replica>.lock`` flock for its whole run, so
    a second call waits, then sees the first one's marker and compacts
    whatever is still over target, instead of racing it for a generation's
    marker. A leftover staging dir therefore always belongs to a dead run.

    A kill at ANY point leaves ``read(committed_only=True)`` exact (chaos-
    tested live in tests/test_streaming.py); the raw read can transiently
    see old+new between steps 2 and 3 — same class as its documented
    visibility of unmarked batch files, and bounded by the next
    ``compact`` call. Re-running on an already-compacted layout is a
    no-op (every partition already at the target file count).

    At 100 TB run it per closed bucket (watermark passed — no more writes),
    exactly like Druid compacting historical segments — that is what
    ``before`` is for: a ``g`` bucket-string cutoff
    ("yyyy-MM-dd-HH-mm"; lexicographic == chronological) restricting the
    rewrite to buckets STRICTLY earlier, so the maintenance job touches
    yesterday's closed segments while today's keep streaming (a batch
    landing in an untouched bucket during the rewrite is invisible to
    this run's ``replaced`` list and stays live — the marker protocol
    composes with concurrent writes to OTHER buckets by construction).
    On an object store the marker becomes a manifest commit, same shape
    as ``write_batch``'s scale story. Returns the number of
    (bucket, shard) partitions rewritten.
    """
    if before is not None and not re.fullmatch(
        r"\d{4}-\d{2}-\d{2}-\d{2}-\d{2}", before
    ):
        # the cutoff is compared lexicographically
        # against "yyyy-MM-dd-HH-mm" bucket strings — a date-only or
        # ISO-'T' cutoff would silently mis-scope the run (compare
        # "2024-06-01" < "2024-06-01-11-00" and "-" < "T"): a nightly
        # maintenance job doing NOTHING forever must be loud, not quiet
        raise ValueError(
            f"before={before!r} is not a g bucket string (yyyy-MM-dd-HH-mm)"
        )
    # _ds_root aliases EVERY replica number to the same directory when
    # replicants == 1, so a wrong replica arg would read an empty marker
    # namespace and the orphan janitor would delete committed compact files
    # as "unmarked" — silent data loss
    sink._check_replica(replica)
    lock = f"{sink.root}/_compactions/{sink.datasource}-r{replica}.lock"
    with _exclusive(lock, f"compaction of {sink.datasource} replica {replica}"):
        return _compact_locked(sink, spark, replica, target_files_per_shard, before)


def _compact_locked(sink, spark, replica, target_files_per_shard, before) -> int:
    base = sink._ds_root(replica)
    if not os.path.isdir(base):
        return 0
    committed = sink.committed_compactions(replica)
    # janitor: finish any committed-but-undeleted predecessor's phase 4...
    for m in committed:
        for rel in m["replaced"]:
            stale = os.path.join(base, rel)
            if os.path.exists(stale):
                os.remove(stale)
    # ...and clear ORPHANED compact files — a generation that published but
    # never committed its marker (crash in the publish→marker window).
    # Without this, the no-op early return below (or a retry with a larger
    # target) would leave them double-counted by the raw read forever; with
    # it, the raw read's old+new visibility really is transient. Snapshot
    # reads never saw them either way. This also clears every leftover of
    # the generation this run is about to publish, and the extras of a
    # marked generation its marker does not list (a run that lost the
    # marker race after publishing, see the commit below).
    marked_files = {m["gen"]: set(m["files"]) for m in committed}
    for dirpath, _dirs, fs in os.walk(base):
        for f in fs:
            if f.startswith("compact-") and f.endswith(".parquet"):
                try:
                    g = int(f.split("-")[1])
                except (IndexError, ValueError):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), base)
                if g not in marked_files or rel not in marked_files[g]:
                    os.remove(os.path.join(dirpath, f))
    # staging janitor: a run that died before removing its staging dir
    # leaks it. Under the lock no other run of this replica is live, so
    # every staging dir of this replica is such a leftover: "…-<gen>", or
    # "…-<gen>.<pid>.<thread>" as older versions named it.
    stage_root = f"{sink.root}/_staging"
    stage_prefix = f"compact-{sink.datasource}-r{replica}-"
    if os.path.isdir(stage_root):
        for d in os.listdir(stage_root):
            gen_part = d[len(stage_prefix):].split(".", 1)[0]
            if d.startswith(stage_prefix) and gen_part.isdigit():
                shutil.rmtree(os.path.join(stage_root, d))
    live = sink.committed_files(replica)
    if before is not None:
        # bucket-scoped maintenance: only files in g=<bucket> partitions
        # strictly earlier than the cutoff participate — later buckets are
        # neither read, rewritten, replaced nor counted toward the no-op
        # check (they may still be receiving batches)
        def _bucket_of(path: str) -> str | None:
            for part in os.path.relpath(path, base).split(os.sep):
                if part.startswith("g="):
                    return part[2:]
            return None

        # files with NO g= component (legacy/manual placement) are
        # excluded from a scoped run — their bucket is unknown, so they
        # may be active; only a FULL compact may rewrite them (coercing
        # None to "" would sort them earliest and sweep them into every
        # scoped run)
        live = [
            f
            for f in live
            if _bucket_of(f) is not None and _bucket_of(f) < before
        ]
    if not live:
        return 0
    by_dir: dict[str, int] = {}
    for f in live:
        by_dir[os.path.dirname(f)] = by_dir.get(os.path.dirname(f), 0) + 1
    # rewrite ONLY directories over target: at 100 TB a maintenance cycle
    # must cost O(new small files), not re-read and re-publish every
    # previously-compacted closed segment each run
    over = {d for d, n in by_dir.items() if n > target_files_per_shard}
    live = [f for f in live if os.path.dirname(f) in over]
    if not live:
        return 0  # nothing to merge — re-run is a no-op
    gen = (committed[-1]["gen"] + 1) if committed else 1

    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(*live)
    )
    if sink.cluster_by:
        missing = [c for c in sink.cluster_by if c not in df.columns]
        if missing:
            # a legacy layout written before the sink declared clustering:
            # compacting it unsorted would stamp the clustered sink's
            # contract onto files that can't honor it — fail loudly BEFORE
            # any Spark job runs (the schema is free; the distinct-count
            # below is a full scan), the write_batch guard's counterpart
            raise ValueError(
                f"cluster_by columns missing from layout being compacted: {missing}"
            )
    n_parts = df.select("g", "p").distinct().count()
    staging = f"{sink.root}/_staging/compact-{sink.datasource}-r{replica}-{gen}"
    # hash-repartition on (g, p [, slice]) keeps each output group WHOLE
    # in one task, so re-running on a compacted layout stays a no-op (a
    # range partitioner on the cluster key could straddle a bucket across
    # a boundary and re-split it forever). target_files_per_shard > 1
    # adds a deterministic row-hash slice key (without it, (g, p) hash
    # partitioning collapses each dir to ONE file whatever the target):
    # each (g, p) splits into UP TO `target` files (slices that hash to
    # the same task co-locate and merge), and the next run's over-target
    # check (n > target) stays a no-op at or under the target count.
    part_cols = [F.col("g"), F.col("p")]
    if target_files_per_shard > 1:
        slice_key = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(target_files_per_shard),
        )
        df = df.withColumn("__slice", slice_key)
        part_cols.append(F.col("__slice"))
    df = df.repartition(max(n_parts * target_files_per_shard, 1), *part_cols)
    if target_files_per_shard > 1:
        df = df.drop("__slice")
    # Druid compaction with a range partitionsSpec: the N micro-batch-sized
    # sorted runs of a closing bucket collapse into ONE file whose row
    # groups cover tight, disjoint cluster-column ranges — the per-batch
    # footer stats become bucket-wide ones exactly when the segment closes,
    # which is when range reads start hitting it (sources/clustered.py
    # holds the read-side story; tests assert the in-file order survives
    # compaction)
    _stage_with_spark(df, staging, sink.cluster_by)
    staged = _staged_files(staging, f"compact-{gen}")
    for rel, src in staged:
        _link_or_copy(src, os.path.join(base, rel))
    rows = _footer_rows(src for _, src in staged)
    shutil.rmtree(staging, ignore_errors=True)

    marker = f"{sink.root}/_compactions/{sink.datasource}-r{replica}-{gen}"
    replaced = [os.path.relpath(f, base) for f in live]
    payload = {
        "gen": gen, "replica": replica, "rows": rows,
        "files": [rel for rel, _ in staged], "replaced": replaced,
    }
    # the atomic flip. Every compact() of this replica holds the lock, so
    # only a writer outside it can commit this generation first; this run
    # then aborts BEFORE its deletion phase: its published extras are
    # invisible to the snapshot (not in the winner's file list) and the
    # next run's janitor removes them.
    if not _commit_marker(marker, payload):
        raise RuntimeError(
            f"concurrent compaction committed generation {gen} first; "
            "this run's work was discarded (no data was deleted)"
        )

    for rel in replaced:
        stale = os.path.join(base, rel)
        if os.path.exists(stale):
            os.remove(stale)
    return n_parts
