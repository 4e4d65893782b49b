"""Cross-family streaming ADMISSION sink — the streaming twin of the
pipe10/pipe11 batch compositions (r17).

The per-family streaming dedup sinks (operators/dedup.py:
neardup/simhash/dhash/audio_fp/video_index_sink) detect duplicates and
index EVERYTHING. A production ingest gate does something stronger: it
DECIDES per document, and only what it admits may enter the registries —
rejected content must never gate future batches. This module composes
all five signature families into that decision loop as one foreachBatch
sink:

per micro-batch (the keep-one semantics pipe11-13's cycles share —
UNION evidence across families into ONE converged CC, which is NOT
pipe10's sequential per-family resolution: on text pair (1,2) +
image pair (2,3), pipe10 admits {1,3} (the image edge vanishes once
2 is text-rejected) while the union CC admits {1} — the union policy
treats any-modality evidence as one dup relation, stated here so
nobody ports pipe10's measured numbers to the sink):
1. signature the batch ONCE per family (content hash, MinHash bands,
   image dHash, audio fingerprint, video frame digests — the media
   decode cost is paid here and only here);
2. read each family's ACCUMULATED admitted-only index (prior batches —
   ``_read_index_before``, the shared replay contract: a redelivered
   batch sees exactly the registry state of its first delivery);
3. :func:`admission_decisions`' gates in order: exact-vs-registry,
   exact intra keep-min, union near-dup evidence vs registry (all four
   families' incremental probes), then ONE converged CC over the
   intra-batch union graph keeping component minima;
4. write one decision row per doc (doc_id, admitted, reason) and append
   ONLY the admitted docs' signature rows to each family index, both
   under ``batch_id=`` partitions (dynamic overwrite → replay rewrites
   identical content).

Reference parity note: tranquility itself admits by TIME (windowPeriod
rejects late/early events, core/BeamPropagator [recall]); content-level
admission is part of this repo's LLM-pipeline extension surface, the
streaming form of SURVEY §2.7's declared north star.

Scale shape: per batch the registries are touched only through banded
bucket probes of admitted-only rows; the decide pass adds one tiny CC.
Registry growth is bounded by ADMITTED volume (dedup sinks grow with
ingest volume) — on a 100 TB stream with heavy duplication the index
footprint is the deduplicated corpus, which is the entire point.

Maintenance cadence: each micro-batch appends one ``batch_id=``
partition per family index, so probing pays one extra partition's
bucket join per accumulated batch — the LSM delta shape pipe11/pipe12
certify. ``compact_every=`` folds the accumulated partitions into a
compacted base IN the sink loop (r18 — the streaming act of pipe12's
batch-mode fold; :func:`compact_admission_registries`), at the cadence
``dedup.suggest_compaction_cadence`` computes from the measured knee
(SCALE.md r17: ≈ every dozen batches at the studied shape; earlier
under a probe-latency budget, never later).
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tranquility_spark.operators import dedup as dd
from tranquility_spark.operators import multimodal as mm
from tranquility_spark.operators.batch_sink import write_batch_partition
from tranquility_spark.operators.dedup import _read_index_before

# accumulated-index layouts, one subdir per family under index_root
_FAMILY_SCHEMAS = {
    "exact": "id bigint, h string",
    "text": "id bigint, sig array<bigint>, band int, bhash bigint",
    "image": "id bigint, sighex string, band int, bval string",
    "audio": "id bigint, sighex string, band int, bval string",
    "video": "id bigint, fhash string",
}
_FAMILY_COLS = {
    k: [c.strip().split()[0] for c in v.split(",")]
    for k, v in _FAMILY_SCHEMAS.items()
}


_PRE_COMPACT_SUFFIX = ".pre_compact"


def _recover_family_compaction(family_dir: str) -> None:
    """Finish or roll back a fold interrupted by a crash (the streaming
    twin of the segment sink's commit-recovery walk). The fold's swap
    leaves exactly one of two torn states, each self-describing:

    - ``<dir>.pre_compact`` exists, ``<dir>`` missing → the crash hit
      between swap-aside and publish; the staged build is orphaned and
      the ORIGINAL partitions are authoritative → rename them back.
    - both exist → the crash hit after publish, before cleanup; the
      folded layout is live and complete → drop the aside copy.

    Also sweeps orphaned fold STAGE dirs (``<dir>.compact.tmp.*``) left
    by a crash before the swap began — a restarted process gets a new
    pid, so the stage's own same-(pid, thread) cleanup never fires and
    folds recur on the same live dirs indefinitely (unlike the
    once-per-digest served-table builds, where an orphan is bounded).
    Safe under the sink's contract of ONE streaming query per
    index_root: foreachBatch is single-threaded per query, so any stage
    dir present when a cycle starts is a dead fold's leftover, never a
    live competitor's build.

    Idempotent and cheap (an ``os.listdir`` of the parent when clean);
    called at every fold and every sink cycle so a crashed fold can
    never leave a batch reading a missing registry as cold start."""
    parent = os.path.dirname(family_dir) or "."
    base = os.path.basename(family_dir)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(base + ".compact.tmp."):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    pre = family_dir + _PRE_COMPACT_SUFFIX
    if not os.path.isdir(pre):
        return
    if os.path.isdir(family_dir):
        shutil.rmtree(pre)
    else:
        os.rename(pre, family_dir)


def _delta_partitions(family_dir: str, before_batch_id: int) -> list[int]:
    if not os.path.isdir(family_dir):
        return []
    out = []
    for name in os.listdir(family_dir):
        if name.startswith("batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < before_batch_id:
                out.append(bid)
    return sorted(out)


def count_batch_partitions(family_dir: str) -> int:
    """Number of ``batch_id=`` partitions a family index dir holds — the
    single partition-name-parsing point shared by the fold trigger, the
    adm1b fold-engagement boolean, the scale probes, and the invariance
    tests (r18 review: four inline listdir comprehensions would drift
    on any layout change)."""
    return len(_delta_partitions(family_dir, 2**63 - 1))


def compact_batch_partitions(
    spark,
    out_dir: str,
    before_batch_id: int,
    schema_ddl: str,
    min_deltas: int = 2,
) -> int:
    """Fold ONE ``batch_id=``-partitioned dir's partitions strictly
    below ``before_batch_id`` into a single partition tagged with the
    max folded id — the generic core of
    :func:`compact_admission_registries`, also applied to the sink's
    DECISIONS dir (r18: decisions accumulate one partition per batch
    like the indexes do; nothing probes them per cycle, but an
    unbounded stream still makes even a terminal read listing-bound).
    ``schema_ddl`` EXCLUDES the ``batch_id`` partition column. Same
    horizon/crash-safety arguments as the registry fold (see that
    docstring) — and the same deliberate coarsening: horizons AT or
    BELOW the max folded id see none of the folded rows (they carry
    the max tag). Those horizons are unreachable through the sink
    (only the last uncommitted batch redelivers); an out-of-band
    reader wanting time-travel to a pre-fold batch boundary needs the
    never-folded layout, not this one
    (tests/test_streaming.py::test_compact_batch_partitions_
    preserves_live_horizons pins both halves). Returns the number of
    partitions folded (0 = skipped)."""
    _recover_family_compaction(out_dir)
    ids = _delta_partitions(out_dir, before_batch_id)
    if len(ids) < max(min_deltas, 2):
        return 0
    c = max(ids)
    full = spark.read.schema(schema_ddl + ", batch_id bigint").parquet(
        out_dir
    )
    refolded = full.withColumn(
        "batch_id",
        F.when(
            F.col("batch_id") < F.lit(before_batch_id), F.lit(c)
        ).otherwise(F.col("batch_id")),
    )
    stage = f"{out_dir}.compact.tmp.{os.getpid()}.{threading.get_ident()}"
    if os.path.isdir(stage):  # this (pid, thread)'s crashed leftover
        shutil.rmtree(stage)
    refolded.write.partitionBy("batch_id").parquet(stage)
    pre = out_dir + _PRE_COMPACT_SUFFIX
    os.rename(out_dir, pre)
    os.rename(stage, out_dir)
    shutil.rmtree(pre)
    return len(ids)


_DECISIONS_SCHEMA = "doc_id bigint, admitted int, reason string"


def compact_admission_registries(
    spark,
    index_root: str,
    before_batch_id: int,
    families: tuple = tuple(sorted(_FAMILY_SCHEMAS)),
    min_deltas: int = 2,
) -> dict:
    """Fold each family's accumulated ``batch_id=`` delta partitions
    STRICTLY below ``before_batch_id`` into one partition — the
    streaming act of the LSM story pipe12 certifies in batch mode
    (delta→base fold as a row union: zero corpus bytes, zero
    re-signaturing; only partition tags move).

    Correctness under the replay contract: folded rows keep visibility
    under ``_read_index_before``'s ``batch_id < b`` filter because they
    are re-tagged with the MAX folded id ``c`` — for every batch ``b``
    that can still be (re)delivered, ``c < b`` holds iff every folded id
    did, so each batch sees row-identical registry state before and
    after the fold. Partitions at or above ``before_batch_id`` (a
    replayed batch's own rows) are preserved under their original tags.
    Folding ANY partition ≥ the oldest replayable batch would move that
    batch's own rows below its read horizon and break replay — callers
    inside the sink pass the CURRENT batch id, which Structured
    Streaming guarantees is the only replayable one.

    Crash safety: the folded layout is staged as a sibling, then
    swap-published (aside → publish → cleanup) with
    :func:`_recover_family_compaction` run first, so every torn state
    self-heals on the next cycle. The stage name carries pid+thread id
    (the publish_layout_atomic discipline). NOT safe against concurrent
    external readers of the same dir mid-swap — the streaming sink is
    single-threaded per query, and out-of-band serving reads during a
    fold can transiently fail exactly like any layout rewrite; a
    deployment serving while folding should read through the
    digest-keyed served-table protocol instead of the live sink dirs.

    ``min_deltas``: fold a family only when at least this many
    partitions sit below the horizon (default 2 — a single partition
    has nothing to fold with). The sink passes its ``compact_every``
    here, so trigger check and fold share ONE recovery+listing pass
    instead of two code paths agreeing on the horizon (r18 review).

    Returns {family: number of partitions folded (0 = skipped)}.

    Scale shape: one fold streams each family's accumulated rows once
    (the same O(base) cost as pipe12's certified fold) and runs every
    ``compact_every`` batches, so amortized per-batch fold cost is
    O(registry / cadence) while probing returns to base-plus-few-deltas
    shape — the knee ``dedup.suggest_compaction_cadence`` sizes from
    the measured r17 curve."""
    folded = {}
    for fam in families:
        if fam not in _FAMILY_SCHEMAS:
            raise ValueError(
                f"compact_admission_registries: unknown family {fam!r}"
            )
        folded[fam] = compact_batch_partitions(
            spark,
            os.path.join(index_root, fam),
            before_batch_id,
            _FAMILY_SCHEMAS[fam],
            min_deltas=min_deltas,
        )
    return folded


def admission_decisions(
    batch_h: DataFrame,
    registry_h: DataFrame,
    evidence: dict,
    intra_pairs: DataFrame,
) -> tuple[DataFrame, dict]:
    """The keep-one admission gate chain — the one implementation behind
    :func:`admission_sink` and the catalog's registry-update cycles
    (pipe11/pipe12/pipe13 and their probes).

    - ``batch_h``: the batch as ``(doc_id, __h)``, ``__h`` its content
      hash;
    - ``registry_h``: the admitted content hashes ``(__h)``;
    - ``evidence``: ordered ``{reason: doc_id frame}`` — each frame
      names batch docs with near-dup evidence against admitted content
      (the registry, or a previous cycle's admits);
    - ``intra_pairs``: batch-internal near-dup edges ``(id_a, id_b)``.

    Gates run in order, each over the docs still standing after the
    previous ones: exact vs registry; exact intra-batch (keep the min
    doc_id per hash); every evidence reason; then ONE converged CC over
    the standing docs' intra-batch edges, keeping component minima.
    Batch membership is the caller's business — it shapes ``evidence``
    and ``intra_pairs`` before they arrive here.

    Returns ``(admitted, rejected)``: ``admitted`` is ``(doc_id)`` and
    ``rejected`` an ordered ``{reason: doc_id frame}`` —
    ``exact_registry``, ``exact_intra``, the evidence reasons, then
    ``neardup_intra``. Admitted and rejected frames tile the batch."""
    rej_exact = (
        batch_h.join(registry_h, "__h", "left_semi")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    rem = batch_h.join(rej_exact, "doc_id", "left_anti")
    keep = rem.groupBy("__h").agg(F.min("doc_id").alias("__keep"))
    rej_exact_intra = (
        rem.join(keep, "__h")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    standing = (
        rem.select("doc_id")
        .join(rej_exact_intra, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    rejected = {"exact_registry": rej_exact, "exact_intra": rej_exact_intra}
    for reason, ev in evidence.items():
        rejected[reason] = standing.join(
            ev, "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        standing = standing.join(
            rejected[reason], "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    intra = (
        intra_pairs.join(
            standing.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        )
        .join(
            standing.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
        )
        .localCheckpoint(eager=False)
    )
    admitted = dd.neardup_survivors_converged(standing, intra).localCheckpoint(
        eager=False
    )
    # consumed once by each caller (the sink's decisions union, the
    # cycles' audit tile) — a barrier here bought nothing
    rejected["neardup_intra"] = standing.join(admitted, "doc_id", "left_anti")
    return admitted, rejected


def admission_sink(
    index_root: str,
    decisions_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    minhash_params: dict | None = None,
    minhash_threshold: float = 0.5,
    dhash_threshold: int = 3,
    audio_threshold: int = 3,
    video_min_shared: int = 2,
    compact_every: int | None = None,
):
    """Build the foreachBatch callable. Batches carry (doc_id, text);
    media digests derive from the repo's binary-payload convention
    (``multimodal.attach_binary_payload`` — stub decode, real plumbing).
    Batches must be DOC-ATOMIC (the video sink's contract: all of a
    doc's frames decide in one batch — trivially true here since the
    batch carries whole document rows).

    ``compact_every`` (default None = never): fold each family's
    accumulated delta partitions into one base partition whenever that
    many have piled up, BEFORE the batch's registry reads — the
    streaming LSM act (:func:`compact_admission_registries`; size the
    cadence with ``dedup.suggest_compaction_cadence`` from measured
    walls). Gate decisions are fold-invariant (row-identical registry
    views) and the fold is crash-recovered at every cycle, so enabling
    it changes probe SHAPE only, never admissions. Budget note: the
    folded BASE partition counts toward the partition budget (it is
    just the oldest ``batch_id=`` partition), so steady state is one
    fold every ``compact_every - 1`` batches, each streaming the full
    registry once — amortized O(registry / (compact_every-1)) rows per
    cycle; the cadence helper's knee already prices exactly this
    trade."""
    P = minhash_params or dict(num_hashes=64, bands=16, shingle_k=3, seed=42)
    if compact_every is not None and compact_every < 2:
        raise ValueError(
            f"admission_sink: compact_every={compact_every} — a fold "
            "needs at least 2 accumulated deltas (None disables)"
        )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # fold/heal BEFORE any registry read: views built below must see
        # either the pre-fold or the complete post-fold layout, never a
        # mid-swap dir (single-threaded per query, so ordering suffices);
        # min_deltas=compact_every makes trigger and fold one pass. The
        # decisions dir folds on the same cadence — nothing probes it
        # per cycle, but an unbounded stream would otherwise make even
        # a terminal read listing-bound.
        if compact_every is not None:
            compact_admission_registries(
                spark, index_root, batch_id, min_deltas=compact_every
            )
            if os.path.isdir(decisions_dir):
                compact_batch_partitions(
                    spark,
                    decisions_dir,
                    batch_id,
                    _DECISIONS_SCHEMA,
                    min_deltas=compact_every,
                )
        else:
            for fam in _FAMILY_SCHEMAS:
                _recover_family_compaction(os.path.join(index_root, fam))
            _recover_family_compaction(decisions_dir)
        # normalize the id column up front: the multimodal digest UDFs
        # hardcode 'doc_id' in their Arrow schemas (r17 review — a
        # non-default id_col would KeyError inside the executor)
        if id_col != "doc_id":
            if "doc_id" in batch_df.columns:
                # a silent rename here would create TWO doc_id columns
                # and every later select would die on AMBIGUOUS_REFERENCE
                # (r17 second review) — make the contract violation loud
                raise ValueError(
                    "admission_sink: batch already has a 'doc_id' column "
                    f"alongside id_col={id_col!r} — drop or rename it "
                    "upstream"
                )
            batch_df = batch_df.withColumnRenamed(id_col, "doc_id")
        batch_df = batch_df.localCheckpoint(eager=False)
        ids = batch_df.select("doc_id")  # a projection of the batch leaf

        # ---- 1. signature passes, once per family ----
        payload = mm.attach_binary_payload(batch_df, text_col)
        sig = {
            "exact": batch_df.select(
                F.col("doc_id").alias("id"),
                dd.content_hash(F.col(text_col)).alias("h"),
            ),
            "text": dd.lsh_band_index(batch_df, text_col, **P),
            "image": mm.image_dhash(payload),
            "audio": mm.audio_energy_fingerprint(payload),
            "video": mm.video_frame_hashes(payload),
        }
        sig = {k: v.localCheckpoint(eager=False) for k, v in sig.items()}

        # ---- 2. accumulated admitted-only registry views ----
        # schema PINNED (ADVICE r17 #1): unlike the dedup sinks, every
        # index row here derives from the ADMITTED set, so a first batch
        # that admits nothing (empty batch 0, or all-dead-letter for a
        # family) legitimately writes a zero-row dir with nothing to
        # infer a schema from — pinning makes that degrade to an empty
        # view instead of UNABLE_TO_INFER_SCHEMA wedging every later
        # batch
        views = {}
        for fam, cols in _FAMILY_COLS.items():
            v = _read_index_before(
                spark,
                os.path.join(index_root, fam),
                batch_id,
                cols,
                schema=_FAMILY_SCHEMAS[fam] + ", batch_id bigint",
            )
            views[fam] = (
                v
                if v is not None
                else spark.createDataFrame([], _FAMILY_SCHEMAS[fam])
            )

        # ---- 3. near-dup evidence (incremental probes; an empty view
        # degrades each probe to its intra-batch self-join) ----
        pairs = {
            "text": dd.incremental_neardup_pairs(
                batch_df,
                views["text"],
                text_col=text_col,
                threshold=minhash_threshold,
                prebanded=sig["text"],  # signature pass paid ONCE (above)
                **P,
            ).select("id_a", "id_b"),
            "image": dd.dhash_incremental_pairs(
                sig["image"], views["image"], dhash_threshold
            ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
            "audio": dd.audio_fp_incremental_pairs(
                sig["audio"], views["audio"], audio_threshold
            ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
            "video": dd.video_incremental_pairs(
                sig["video"], views["video"], video_min_shared
            ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
        }
        union = None
        for p in pairs.values():
            union = p if union is None else union.unionByName(p)
        union = union.localCheckpoint(eager=False)

        # batch membership is set membership here, NOT id arithmetic
        # (pipe11's mod-10 halves are a fixture convenience)
        reg_ev = (
            union.join(
                ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_anti"
            )
            .select(F.col("id_a").alias("doc_id"))
            .unionByName(
                union.join(
                    ids.select(F.col("doc_id").alias("id_a")),
                    "id_a",
                    "left_anti",
                ).select(F.col("id_b").alias("doc_id"))
            )
            .distinct()
        )
        intra = union.join(
            ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        ).join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")

        # ---- 4. gates ----
        admitted, rejected = admission_decisions(
            sig["exact"].select(
                F.col("id").alias("doc_id"), F.col("h").alias("__h")
            ),
            views["exact"].select(F.col("h").alias("__h")).distinct(),
            {"neardup_registry": reg_ev},
            intra,
        )
        decisions = admitted.select(
            "doc_id",
            F.lit(1).alias("admitted"),
            F.lit("admitted").alias("reason"),
        )
        for reason, rej in rejected.items():
            decisions = decisions.unionByName(
                rej.select(
                    "doc_id",
                    F.lit(0).alias("admitted"),
                    F.lit(reason).alias("reason"),
                )
            )
        write_batch_partition(decisions, decisions_dir, batch_id)

        # ---- 5. registry updates: ADMITTED rows only ----
        adm_id = admitted.select(F.col("doc_id").alias("id"))
        adm_doc = admitted.select("doc_id")
        updates = {
            "exact": sig["exact"].join(adm_id, "id", "left_semi"),
            "text": sig["text"].join(adm_id, "id", "left_semi"),
            "image": dd.dhash_band_index(
                sig["image"].join(adm_doc, "doc_id", "left_semi")
            ),
            "audio": dd.audio_fp_band_index(
                sig["audio"].join(adm_doc, "doc_id", "left_semi")
            ),
            "video": dd.video_frame_index(
                sig["video"].join(adm_doc, "doc_id", "left_semi")
            ),
        }
        for fam, rows in updates.items():
            write_batch_partition(
                rows, os.path.join(index_root, fam), batch_id
            )

    return write


def admission_served_pairs(
    spark,
    index_root: str,
    family: str,
    minhash_params: dict | None = None,
    minhash_threshold: float = 0.5,
    dhash_threshold: int = 3,
    audio_threshold: int = 3,
    video_min_shared: int = 2,
    video_max_df: int | None = None,
) -> DataFrame:
    """Serve a family's near-dup pair extraction DIRECTLY from
    :func:`admission_sink`'s accumulated admitted-only registry (r18,
    VERDICT r17 #3 — the ingest→serving closure: the streaming sink's
    indexes are first-class serving layouts, not just gate state).

    This is the dd19/dd20/dd23/dd26/dd29 serving shape pointed at the
    admission registries: each family's accumulated ``batch_id=``
    partitions under ``index_root/<family>`` already hold exactly the
    admitted corpus's band/frame rows (the sink appends admitted rows
    only; the e2e suite asserts the rows equal an index rebuilt from the
    admitted docs), so every ``*_pairs_from_index`` extraction applies
    verbatim — no text read, no media decoded, nothing re-hashed.
    Output equals the family's inline batch pass over the admitted
    documents at the same thresholds (asserted e2e for all five
    families). Served at the GATE's own thresholds the result is the
    no-coadmitted-pair invariant read back from disk: an empty frame.
    Non-vacuous serving means asking a different question than the gate
    (e.g. gate text at 0.7, serve candidate pairs at 0.5).

    ``family``: one of ``exact | text | image | audio | video``. The
    exact form pairs same-content-hash docs (always empty under the
    exact gate — the invariant form). A missing registry dir raises —
    serving from a registry that was never built is an error, not an
    empty result. The text form validates the persisted signature
    width against ``minhash_params`` (one bounded single-row probe): a
    registry written with different params would otherwise serve a
    silently mis-scaled est_jaccard. ``video_max_df`` forwards the
    serving-time hot-digest cap — a long-running admitted registry can
    saturate past the uncapped guard's bound, and serving must have
    the same escape hatch the capped admission loop has.

    Scale: identical to the batch serving entries — the pair extraction
    reads kilobyte index rows, never corpus bytes; at 100 TB the
    admission stream has already paid every signature once."""
    if family not in _FAMILY_SCHEMAS:
        raise ValueError(
            f"admission_served_pairs: unknown family {family!r} "
            f"(expected one of {sorted(_FAMILY_SCHEMAS)})"
        )
    P = minhash_params or dict(num_hashes=64, bands=16, shingle_k=3, seed=42)
    idx = (
        spark.read.schema(_FAMILY_SCHEMAS[family] + ", batch_id bigint")
        .parquet(os.path.join(index_root, family))
        .select(*_FAMILY_COLS[family])
    )
    if family == "exact":
        a = idx.select(F.col("id").alias("id_a"), "h")
        b = idx.select(F.col("id").alias("id_b"), "h")
        return (
            a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h")
        )
    if family == "text":
        # param-drift guard (r18 review): est_jaccard divides agreement
        # by num_hashes, so serving a 128-hash registry with the default
        # 64 would double every estimate with no error. One bounded
        # single-row probe; an empty registry has nothing to mismatch.
        probe = (
            idx.filter(F.col("sig").isNotNull())
            .select(F.size("sig").alias("__w"))
            .first()
        )
        if probe is not None and probe["__w"] != P["num_hashes"]:
            raise ValueError(
                "admission_served_pairs: text registry holds "
                f"{probe['__w']}-hash signatures but minhash_params asks "
                f"for num_hashes={P['num_hashes']} — pass the params the "
                "sink was built with"
            )
        return dd.minhash_pairs_from_index(
            idx, num_hashes=P["num_hashes"], threshold=minhash_threshold
        )
    if family == "image":
        return dd.dhash_pairs_from_index(idx, threshold=dhash_threshold)
    if family == "audio":
        return dd.audio_fp_pairs_from_index(idx, threshold=audio_threshold)
    return dd.video_pairs_from_index(
        idx, min_shared=video_min_shared, max_df=video_max_df
    )
