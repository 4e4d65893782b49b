"""Deduplication operators for training-data pipelines (north-star phase 4).

All variants are designed for the 100 TB shape first:

- exact dedup      — hash-groupBy on a content digest; one shuffle, partial
                     aggregation map-side; never collects.
- MinHash + LSH    — shingle → minhash signature → band buckets → bucket-join.
                     Candidate generation never compares all pairs: the join
                     key is (band_id, band_hash), so cost is O(sum of bucket²)
                     not O(n²). Signatures are computed with built-in
                     higher-order functions (transform/aggregate) — pure JVM,
                     whole-stage codegen, no Python in the row path.
- SimHash          — 64-bit signature via a vectorized pandas UDF (numpy bit
                     ops are genuinely awkward in Spark SQL); Arrow-batched.
- n-gram Jaccard   — exact verifier: explode token sets → co-occurrence join →
                     |A∩B| / |A∪B|. Used to confirm LSH candidates and as the
                     SQL-checkable oracle twin of MinHash.

Reference note: the reference (tranquility) has no dedup surface at all —
these are extensions mandated by the build brief, not parity ops.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tranquility_spark.operators import bloom as bl

# minhash modulus: large enough for low collision odds, small enough that
# (a * h + b) stays under 2^63 with a, b, h < _MH_PRIME (Spark ANSI mode
# raises on long overflow; DuckDB would too — bounded operands keep it exact)
_MH_PRIME = 1000000007


def content_hash(text: Column) -> Column:
    """Portable content digest (md5 hex — identical in Spark and DuckDB)."""
    return F.md5(text)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per content hash, count duplicates."""
    return (
        df.groupBy(content_hash(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_" + id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _word_shingles(text: Column, k: int) -> Column:
    """k-word shingles as an array<string> (distinct), via higher-order fns.

    The token array is let-bound through a single-element-array transform():
    referencing the split() expression directly inside the shingle lambda
    re-evaluates it once per shingle (no common-subexpression elimination
    across lambda scopes) — measured 6× slower at sf0.1. element_at per
    token instead of slice() also avoids a per-shingle array allocation.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        sh = F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k) + F.lit(1), F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
        )
        return F.array_distinct(
            F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))
        )

    return F.element_at(F.transform(F.array(F.split(F.trim(text), r"\s+")), build), 1)


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MH_PRIME), rnd.randrange(0, _MH_PRIME)) for _ in range(num_hashes)]


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "sig",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    impl: str = "pandas",
) -> DataFrame:
    """Add a MinHash signature column: array<long> of length ``num_hashes``.

    h_i(s) = (a_i * base(s) + b_i) mod p; signature[i] = min over shingles;
    a_i/b_i derive deterministically from ``seed``; p = 1e9+7 keeps (a*h+b)
    under 2^63 (ANSI-safe in Spark, exact in any engine).

    ``impl='pandas'`` (default): one Arrow-batched numpy broadcast per batch —
    the hot path. ``impl='sql'``: pure built-in higher-order functions; ~14×
    slower (1.1 s vs 15.7 s at sf0.1 — the num_hashes per-permutation
    transform lambdas are interpreted per element, outside whole-stage
    codegen; the shingle base itself is let-bound and cheap) but
    engine-portable and useful where Python workers are unavailable. Both are
    one narrow map stage, no shuffle; signatures differ between impls
    (different shingle hash).
    """
    coeffs = _minhash_coeffs(num_hashes, seed)
    if impl == "pandas":
        from tranquility_spark.operators.pandas_fns import make_minhash_udf

        udf = make_minhash_udf(coeffs, shingle_k, _MH_PRIME)
        return df.withColumn(out_col, udf(F.col(text_col)))

    hashed = df.withColumn(
        "__mh_base",
        F.transform(
            _word_shingles(F.col(text_col), shingle_k),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)),
        ),
    )
    base = F.col("__mh_base")
    # staging __mh_base as a real column matters: inlining it into all
    # num_hashes permutation expressions makes Catalyst recompute the shingle
    # hashing num_hashes times (measured 40× slower)
    sig = F.array(
        *[
            F.array_min(F.transform(base, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)))
            for a, b in coeffs
        ]
    )
    return hashed.withColumn(out_col, F.when(F.size(base) > 0, sig)).drop("__mh_base")


def lsh_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    impl: str = "pandas",
) -> DataFrame:
    """The banded-signature frame ``(id, sig, band, bhash)`` — both the
    in-flight layout of ``minhash_lsh_pairs`` and the PERSISTED index layout
    for incremental dedup (write it ``partitionBy("band")`` or bucketed by
    ``(band, bhash)`` so a later batch joins without reshuffling the corpus).

    All rows derived from one (num_hashes, bands, shingle_k, seed) parameter
    set; an index built with different parameters silently produces garbage
    candidates — persist the parameters with the index and validate before
    joining (the ivf_topk stale-layout lesson).
    """
    rows_per_band = num_hashes // bands
    sig = (
        with_minhash_signature(df, text_col, "sig", num_hashes, shingle_k, seed, impl)
        .select(F.col(id_col).alias("id"), "sig")
        .filter(F.col("sig").isNotNull())
    )
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ))).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    impl: str = "pandas",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, with an estimated
    Jaccard (fraction of agreeing signature positions) ≥ ``threshold``.

    Plan shape (scale-critical): signature map → explode to ``bands`` rows →
    shuffle by (band, band_hash) → within-bucket self-join → distinct pairs →
    signature re-compare. No all-pairs comparison ever materializes.
    """
    banded = lsh_band_index(
        df, text_col, id_col, num_hashes, bands, shingle_k, seed, impl
    )

    # Checkpoint for EVERY impl (r18 optimization round; rewrites the r06
    # measurement this comment used to quote — ADVICE r18 #3). impl='sql':
    # the join plan would hold TWO copies of the 64-permutation expression
    # tree and Catalyst spends ~40s optimizing it (measured r06) — the
    # checkpoint truncates the lineage to a leaf. impl='pandas': the r06
    # "recompute beats materialize" call (1.9s vs 5.2s with an EAGER
    # localCheckpoint) was made when the banded frame had TWO references;
    # the r18 plan audit found EIGHT ArrowEvalPython nodes in dd2's plan
    # (both self-join sides × the pushed-filter UDF duplication of guide
    # §4.4), so the Python pass ran up to 8×. eager=False avoids the old
    # 5.2s cost (materialization rides the first consumer instead of a
    # separate blocking job) and the single shared leaf pays the
    # signature UDF once — measured r18: dd2 4.09 → 1.4-2.5s at sf0.1,
    # 0 duplicated ArrowEvalPython nodes in the after-plan.
    banded = banded.localCheckpoint(eager=False)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    return _estimate_and_filter(cand, num_hashes, threshold)


def minhash_lsh_pairs_distinct(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    impl: str = "pandas",
) -> DataFrame:
    """Hot-bucket-guarded twin of :func:`minhash_lsh_pairs` — the dd16
    distinct-digest shape applied to MinHash (VERDICT r9 #2's 'dd2/dd8
    share the shape'): every stage after the signature map is
    SIGNATURE-determined (banding, bucket join, agreement estimate), so
    the banded self-join runs over DISTINCT signatures and doc ids fan
    back out only on the surviving signature pairs. A corpus with a huge
    exact-duplicate class (boilerplate pages -> identical shingle sets ->
    identical signatures) previously put every copy in the same bucket in
    EVERY band and the candidate join went quadratic in copy count; here
    that class is ONE signature row, and the unavoidable pair fan-out is
    plain join expansion of the final result.

    Output is row-identical to ``minhash_lsh_pairs`` (same parameters):
    same-signature docs agree at every position (est 1.0 >= any
    threshold), cross-signature pairs share a bucket iff their signatures
    do. Certified by the dd2b equality-probe entry; pathological-corpus
    engagement asserted in tests.

    Use this variant when the corpus is NOT already exact-deduped (dd1
    upstream is the standard pipeline order and keeps the default path
    optimal — one fewer shuffle); the banding expression is intentionally
    a local copy of ``lsh_band_index``'s so the certified default path's
    plan is untouched.
    """
    rows_per_band = num_hashes // bands
    sig = (
        with_minhash_signature(df, text_col, "sig", num_hashes, shingle_k, seed, impl)
        .select(F.col(id_col).alias("id"), "sig")
        .filter(F.col("sig").isNotNull())
    )
    dsig = sig.select("sig").distinct()
    banded = dsig.select(
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ))).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("sig", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))
    if impl == "sql":
        banded = banded.localCheckpoint(eager=False)
    left, right = banded.alias("l"), banded.alias("r")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    sig_pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.sig") <= F.col("r.sig")),  # arrays order lexicographically
        )
        .select(F.col("l.sig").alias("sig_a"), F.col("r.sig").alias("sig_b"))
        .dropDuplicates(["sig_a", "sig_b"])
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
    )
    da, db = sig.alias("da"), sig.alias("db")
    # one signature per doc => each unordered doc pair expands exactly once
    # (cross-signature via least/greatest, within-signature via the id
    # order on the sig_a == sig_b self-pair) — the dd16 fan-out argument
    return (
        sig_pairs.join(da, F.col("da.sig") == F.col("sig_a"))
        .join(
            db,
            (F.col("db.sig") == F.col("sig_b"))
            & (
                (F.col("sig_a") != F.col("sig_b"))
                | (F.col("da.id") < F.col("db.id"))
            ),
        )
        .select(
            F.least(F.col("da.id"), F.col("db.id")).alias("id_a"),
            F.greatest(F.col("da.id"), F.col("db.id")).alias("id_b"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
    )


def minhash_index_write(
    df: DataFrame,
    table: str,
    num_buckets: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    impl: str = "pandas",
    path: str | None = None,
) -> None:
    """Persist the MinHash LSH band index as a bucketed+sorted table on the
    probe key (r13 — the simhash_index_write twin for the FIRST signature
    family): signatures and band hashes are computed ONCE here; every later
    full-corpus pair extraction (:func:`minhash_pairs_from_index`) or
    incremental probe reads (band, bhash)-co-located rows and never touches
    the text again. The lsh_band_index parameter-drift warning applies
    doubly to a persisted table: record (num_hashes, bands, shingle_k,
    seed) next to the files and validate before serving."""
    from tranquility_spark.sources.bucketed import write_bucketed

    write_bucketed(
        lsh_band_index(df, text_col, id_col, num_hashes, bands, shingle_k, seed, impl),
        table,
        ["band", "bhash"],
        num_buckets,
        path=path,
    )


def minhash_pairs_from_index(
    index_df: DataFrame, num_hashes: int = 64, threshold: float = 0.5
) -> DataFrame:
    """Full near-dup pair extraction from a PERSISTED :func:`lsh_band_index`
    (r13 — the serving form of :func:`minhash_lsh_pairs`, mirroring
    simhash_pairs_from_index): no text is read and nothing is re-hashed —
    the signature pass was paid once at ingest by
    :func:`minhash_index_write`. Output EQUALS
    :func:`minhash_lsh_pairs_distinct` with the index's parameters
    (driver-certified by dd20b), which dd2b certifies equal to the default
    pipeline — so served == inline, transitively.

    Scale shape (the dd19 argument, first family): the candidate stage is
    a SELF-join of the index's persisted (band, bhash) rows over DISTINCT
    signatures; bucketed+sorted on that key the distinct collapses onto
    the bucketed scan (grouping keys superset of the bucket key) and the
    self-join is shuffle-free. Doc ids come from the ``band = 0`` slice
    (exactly one index row per doc — a filter, not a distinct) and attach
    only to surviving signature pairs.
    """
    idx = index_df.filter(F.col("sig").isNotNull())
    ds = idx.select("sig", "band", "bhash").distinct()
    l, r = ds.alias("l"), ds.alias("r")
    sig_pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.sig") <= F.col("r.sig")),  # arrays order lexicographically
        )
        .select(F.col("l.sig").alias("sig_a"), F.col("r.sig").alias("sig_b"))
        .dropDuplicates(["sig_a", "sig_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    sig_pairs = sig_pairs.withColumn("est_jaccard", est).filter(
        F.col("est_jaccard") >= threshold
    )
    # one row per doc WITHOUT a distinct: every doc has exactly one band-0
    # index row (lsh_band_index explodes `bands` rows per doc)
    sig = idx.filter(F.col("band") == 0).select("id", "sig")
    da, db = sig.alias("da"), sig.alias("db")
    return (
        sig_pairs.join(da, F.col("da.sig") == F.col("sig_a"))
        .join(
            db,
            (F.col("db.sig") == F.col("sig_b"))
            & (
                (F.col("sig_a") != F.col("sig_b"))
                | (F.col("da.id") < F.col("db.id"))
            ),
        )
        .select(
            F.least(F.col("da.id"), F.col("db.id")).alias("id_a"),
            F.greatest(F.col("da.id"), F.col("db.id")).alias("id_b"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
    )


def _estimate_and_filter(cand: DataFrame, num_hashes: int, threshold: float) -> DataFrame:
    """Signature re-compare: estimated Jaccard = fraction of agreeing
    positions; keep pairs at/above threshold."""
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# Bloom sizing for the bucket gate: ~16 bits per distinct (band, bhash)
# bucket at k=5 gives ~1% false positives — a false positive only costs one
# wasted (and immediately self-killing) join probe, never a wrong answer.
GATE_M_BITS = 1 << 20

# SBBF gate sizing: ONE constant shared by index_bucket_sbbf and
# gate_probe_sbbf so build and probe cannot drift apart (the _bucket_key
# lockstep rule applies to the block count too — a probe against a
# differently-sized build hashes into the wrong block and silently drops
# genuine near-dup pairs)
GATE_N_BLOCKS = 4096


def index_bucket_bloom(
    index_df: DataFrame, m_bits: int = GATE_M_BITS, k: int = 5
) -> DataFrame:
    """Bloom word table over an LSH index's (band, bhash) bucket keys.

    Persist it next to the index (it is `ceil(m_bits/63)` rows — kilobytes)
    and hand it to ``incremental_neardup_pairs(gate_words=...)``: a new
    batch's banded rows whose bucket key probes NEGATIVE cannot match ANY
    index bucket (no false negatives), so they skip the index join entirely.
    For the production common case — batches dominated by never-seen content
    — this prunes most of the probe side before the join runs.

    Build cost is one bounded bit_or agg over the index (no distinct
    pre-pass: duplicate inserts are free under OR). Keep it fresh with
    ``bloom_merge`` as batches fold into the index — OR-merge of the new
    batch's own bucket blooms is bit-identical to a rebuild.

    Scale bound (stated, not hand-waved): m_bits must scale with the number
    of DISTINCT index buckets (~10-16 bits each for ~1% fp), and the probe
    broadcasts the whole word table — so the gate pays off while
    ``ceil(m_bits/63)`` words fit a broadcast (~1e9 buckets at ~2 GiB).
    Beyond that, switch to ``index_bucket_sbbf`` / ``gate_probe_sbbf`` —
    the split-block layout whose probe is a bucketed join instead of a
    broadcast — or skip the gate: the bucketed index join alone is already
    corpus-shuffle-free.
    """
    keys = index_df.select(_bucket_key().alias("bucket_key"))
    return bl.bloom_words(keys, "bucket_key", m_bits=m_bits, k=k)


def _bucket_key() -> Column:
    """The ONE definition of the gate's bucket key (code-review r07: the
    key derivation must stay in lockstep between build, probe, and every
    test, or the gate silently measures a different filter)."""
    return F.xxhash64("band", "bhash")


def gate_probe(
    banded_df: DataFrame,
    gate_words: DataFrame,
    m_bits: int = GATE_M_BITS,
    k: int = 5,
    out_col: str = "__in_gate",
) -> DataFrame:
    """Probe a banded frame against an ``index_bucket_bloom`` word table.

    Appends ``out_col`` (0/1) and drops the internal key column — the
    single composition used by ``incremental_neardup_pairs``, the dd11b
    certification probe, and the plan/prune tests.
    """
    return bl.bloom_probe(
        banded_df.withColumn("__bucket_key", _bucket_key()),
        gate_words,
        "__bucket_key",
        m_bits=m_bits,
        k=k,
        out_col=out_col,
    ).drop("__bucket_key")


def index_bucket_sbbf(
    index_df: DataFrame, n_blocks: int = GATE_N_BLOCKS
) -> DataFrame:
    """Split-block variant of ``index_bucket_bloom`` — the gate PAST the
    broadcast-fit bound its docstring states (~1e9 buckets): the same
    (band, bhash) bucket keys build an SBBF block table whose probe is
    ONE equi-join on block_idx instead of a broadcast map, so the gate
    keeps working when the index has too many distinct buckets for its
    classic word table to broadcast. Persist bucketed on block_idx next
    to the index and the gate join adds NO exchange on the filter side
    (plan-asserted in tests/test_bucketed.py). Same freshness contract:
    OR-merge of new-batch partials == rebuild, bit for bit."""
    keys = index_df.select(_bucket_key().alias("bucket_key"))
    return bl.sbbf_blocks(keys, "bucket_key", n_blocks=n_blocks)


def gate_probe_sbbf(
    banded_df: DataFrame,
    gate_blocks: DataFrame,
    n_blocks: int = GATE_N_BLOCKS,
    out_col: str = "__in_gate",
) -> DataFrame:
    """Probe a banded frame against an ``index_bucket_sbbf`` block table.

    Drop-in replacement for ``gate_probe`` with identical no-false-
    negative semantics (gated == ungated results, the dd11b property) —
    the probe side pays one join on block_idx instead of evaluating a
    broadcast map, which is the right trade exactly when the gate no
    longer fits a broadcast."""
    return bl.sbbf_probe(
        banded_df.withColumn("__bucket_key", _bucket_key()),
        gate_blocks,
        "__bucket_key",
        n_blocks=n_blocks,
        out_col=out_col,
    ).drop("__bucket_key")


def incremental_neardup_pairs(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    impl: str = "pandas",
    gate_words: DataFrame | None = None,
    gate_m_bits: int = GATE_M_BITS,
    gate_k: int = 5,
    prebanded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against an existing corpus
    index — the shape a production pipeline actually runs per ingest cycle
    (re-running ``minhash_lsh_pairs`` over old ∪ new re-pays the whole
    corpus every day; this pays only the new batch).

    ``prebanded`` (r17, the admission_sink double-signature finding): a
    caller that already built the batch's :func:`lsh_band_index` frame —
    with the SAME (num_hashes, bands, shingle_k, seed) — passes it here
    to skip the internal signature pass (``new_df`` is then ignored).
    Default None preserves the original plan byte-for-byte (certified
    dd8/dd22 consumers are unaffected).

    ``index_df`` is a persisted ``lsh_band_index`` frame built with the SAME
    (num_hashes, bands, shingle_k, seed). Returns every pair involving at
    least one new doc: new×index via the band-bucket join plus new×new,
    canonically ordered (id_a < id_b). With deterministic signatures this
    EQUALS the full-corpus run restricted to pairs touching new ids
    (asserted in tests) — incrementality costs no recall.

    Scale shape: only the new batch is shingled/hashed; the join probes
    index buckets by (band, bhash) — with the index written bucketed or
    partitioned on those keys the corpus side never reshuffles, so the
    per-cycle cost is O(new batch + touched buckets), independent of
    corpus size.
    """
    if prebanded is not None:
        # the caller owns lineage truncation for a frame it built — a
        # second localCheckpoint here would materialize the same banded
        # rows twice per cycle (r17 second review)
        new_banded = prebanded
    else:
        new_banded = lsh_band_index(
            new_df, text_col, id_col, num_hashes, bands, shingle_k, seed, impl
        )
        # Truncate the new batch's lineage for EVERY impl here (unlike
        # minhash_lsh_pairs, which only guards impl='sql'): the two-join
        # shape below references new_banded THREE times (probe left + both
        # self-join sides), so the recompute-beats-materialize measurement
        # made at two references no longer applies — and what's
        # materialized is only the new batch's banded rows, not the corpus.
        new_banded = new_banded.localCheckpoint(eager=False)

    # Optional bloom gate (dd11): rows whose (band, bhash) bucket key is not
    # in the index's bucket bloom cannot match any index row — filter them
    # out of the index-probe join only. new×new below still sees EVERY row
    # (two new docs can share a bucket the corpus has never seen), which is
    # what keeps the gate result-identical to the ungated run.
    probe_side = new_banded
    if gate_words is not None:
        probe_side = (
            gate_probe(new_banded, gate_words, m_bits=gate_m_bits, k=gate_k)
            .filter(F.col("__in_gate") == 1)
            .drop("__in_gate")
        )

    # Two SEPARATE joins, not a join against (index ∪ new): a union erases
    # the index's bucketed/partitioned output layout, forcing the corpus
    # side to reshuffle every cycle. Joined directly, an index written
    # bucketed by (band, bhash) is probed with NO Exchange on the corpus
    # side (plan-asserted in tests/test_bucketed.py) — only the new batch
    # shuffles. new×new is the tiny in-batch self-join.
    cand_old = (
        probe_side.alias("l")
        .join(
            index_df.select("id", "sig", "band", "bhash").alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
            F.when(F.col("l.id") < F.col("r.id"), F.col("l.sig"))
            .otherwise(F.col("r.sig"))
            .alias("sig_a"),
            F.when(F.col("l.id") < F.col("r.id"), F.col("r.sig"))
            .otherwise(F.col("l.sig"))
            .alias("sig_b"),
        )
    )
    # already canonical: the join condition fixes l.id < r.id
    cand_new = (
        new_banded.alias("l")
        .join(
            new_banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
    )
    cand = cand_old.unionByName(cand_new).dropDuplicates(["id_a", "id_b"])
    return _estimate_and_filter(cand, num_hashes, threshold)


def _read_index_before(
    spark, index_dir: str, batch_id: int, cols: list, schema: str | None = None
):
    """The prior-batch index view both streaming dedup sinks share:
    ``batch_id < current`` so a REPLAYED delivery sees exactly the index
    state of its first delivery (its own already-written signatures are
    partition-pruned away — a first-batch replay yields an EMPTY view,
    which the incremental path handles identically to cold start).
    Returns None only on a missing path (true cold start); any OTHER
    AnalysisException (UNABLE_TO_INFER_SCHEMA from a half-written dir,
    permission errors, ...) propagates and fails the batch — swallowing
    it would silently drop every cross-batch pair with no error
    surfaced.

    ``schema`` (default None — plan byte-identical for existing
    callers): a DDL string INCLUDING the ``batch_id`` partition column.
    Callers whose sink may legitimately write an ALL-EMPTY first batch
    (admission_sink: every family index row derives from the ADMITTED
    set, which can be empty) pass their pinned family schema so a
    zero-row index dir (just _SUCCESS, no partition dirs, nothing to
    infer from) degrades to an empty view instead of raising
    UNABLE_TO_INFER_SCHEMA forever after (ADVICE r17 #1). The dedup
    sinks deliberately do NOT pass it: they index every batch row, so
    an uninferable dir there really is half-written state."""
    from pyspark.errors import AnalysisException

    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return (
            reader.parquet(index_dir)
            .filter(F.col("batch_id") < F.lit(batch_id))
            .select(*cols)
        )
    except AnalysisException as exc:
        err_class = ""
        try:
            err_class = exc.getErrorClass() or ""
        except Exception:  # older message-only exceptions
            pass
        if err_class != "PATH_NOT_FOUND" and "Path does not exist" not in str(exc):
            raise
        return None


def suggest_compaction_cadence(
    compact_wall_s: float,
    marginal_delta_probe_s: float,
    probe_latency_budget_s: float | None = None,
    base_probe_s: float = 0.0,
) -> int:
    """Size the delta→base fold cadence of an LSM-served dedup registry
    from the MEASURED knee rule instead of guessing (r18, VERDICT r17
    #5 — the :func:`~tranquility_spark.operators.partitioning.
    suggest_salt_buckets` shape on the r17 cadence study).

    The serving shape this tunes: every admission cycle appends one
    batch-sized delta index (pipe11 / ``admission_sink``); every
    accumulated delta costs one extra small-side bucket join per probe;
    at some cadence the deltas fold into the base as a row-union
    bucketed write (pipe12) and probing returns to base-only shape.
    The r17 probe (scripts/run_compaction_cadence_probe.py, SCALE.md
    r17) measured the marginal probe cost NEAR-LINEAR in accumulated
    deltas (≈0.28 s/delta on the 50k corpus) against a 2.75–3.6 s fold,
    so the break-even is the plain ratio:

        D* = ceil(compact_wall_s / marginal_delta_probe_s)  ≈ 10–13

    The ratio, not the absolute numbers, is the transferable part: both
    sides scale with the same banded-row volume (the fold streams base
    rows once; the marginal join streams the probe batch once per
    delta), so the knee moves slowly with corpus size.

    ``probe_latency_budget_s`` (optional): a per-cycle probe-latency
    ceiling. The study's closing observation — at 100 TB the fold is a
    background write competing with no probe latency, so a deployment
    can afford to fold EARLIER than break-even, never later — becomes
    arithmetic: the cadence is capped at the largest D whose projected
    probe wall ``base_probe_s + D * marginal_delta_probe_s`` still fits
    the budget. Pass the measured base-only probe wall as
    ``base_probe_s`` when using the cap (defaults to 0, i.e. the cap
    degrades to budget/marginal).

    Returns at least 1 (fold every cycle when the fold is cheaper than
    one delta join, or the budget is tighter than one delta). Raises on
    non-positive measurements — a zero marginal or fold wall is a
    measurement error, not a knee."""
    if compact_wall_s <= 0 or marginal_delta_probe_s <= 0:
        raise ValueError(
            "suggest_compaction_cadence: measured walls must be positive, got "
            f"compact_wall_s={compact_wall_s}, "
            f"marginal_delta_probe_s={marginal_delta_probe_s}"
        )
    # the budget args are measurements too (r18 review): a negative
    # budget or base probe is a unit/argument mistake, and letting it
    # through degrades to a silently wrong cadence instead of a raise
    if probe_latency_budget_s is not None and probe_latency_budget_s <= 0:
        raise ValueError(
            "suggest_compaction_cadence: probe_latency_budget_s must be "
            f"positive when given, got {probe_latency_budget_s}"
        )
    if base_probe_s < 0:
        raise ValueError(
            "suggest_compaction_cadence: base_probe_s must be >= 0, got "
            f"{base_probe_s}"
        )
    cadence = math.ceil(compact_wall_s / marginal_delta_probe_s)
    if probe_latency_budget_s is not None:
        headroom = probe_latency_budget_s - base_probe_s
        cadence = min(cadence, int(headroom / marginal_delta_probe_s))
    return max(1, cadence)


def _banded_index_sink(
    index_dir: str,
    pairs_dir: str,
    index_cols: list,
    full_fn,
    incr_fn,
    band_fn,
):
    """The shared foreachBatch state machine of the three streaming dedup
    sinks (r15 self-review — the dHash sink was the third near-verbatim
    copy, forcing the extraction): read the prior-batch index view
    (:func:`_read_index_before` — the replay contract lives THERE, once),
    cold-start full pass vs incremental probe, append pairs then this
    batch's band rows to their ``batch_id=`` partitions. The
    family-specific pieces arrive as callables: ``full_fn(batch)``,
    ``incr_fn(batch, index_view)``, ``band_fn(batch)``. Any future fix to
    the replay/cold-start protocol lands in exactly one place."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _read_index_before(spark, index_dir, batch_id, index_cols)
        pairs = full_fn(batch_df) if index is None else incr_fn(batch_df, index)
        from tranquility_spark.operators.batch_sink import write_batch_partition

        write_batch_partition(pairs, pairs_dir, batch_id)
        write_batch_partition(band_fn(batch_df), index_dir, batch_id)

    return write


def simhash_index_sink(
    index_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 3,
):
    """foreachBatch sink: streaming SimHash near-dup with a growing band
    index (r12 — ``neardup_index_sink``'s shape on the second signature
    family). Each micro-batch is deduped against the accumulated
    :func:`simhash_band_index` of every PRIOR batch
    (:func:`simhash_incremental_pairs`), its pairs append to
    ``pairs_dir``, and its own band rows append to ``index_dir`` — so the
    union of emitted pairs across the stream's lifetime equals ONE
    :func:`simhash_neardup_pairs` pass over the whole corpus (every pair
    surfaces exactly when its later doc arrives; asserted e2e in tests).
    Same replay contract as the MinHash sink: per-batch ``batch_id=``
    partitions under dynamic overwrite + the prior-batch index view make
    a redelivery rewrite its own partitions with identical content."""

    return _banded_index_sink(
        index_dir,
        pairs_dir,
        ["id", "sighex", "band", "bval"],
        lambda b: simhash_neardup_pairs(b, text_col, id_col, threshold),
        lambda b, idx: simhash_incremental_pairs(
            b, idx, threshold, text_col, id_col
        ),
        lambda b: simhash_band_index(b, text_col, id_col),
    )


def neardup_index_sink(
    index_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    impl: str = "pandas",
):
    """foreachBatch sink: streaming near-dup detection with a growing index.

    Each micro-batch is deduped against the accumulated ``lsh_band_index``
    of every prior batch (``incremental_neardup_pairs``), its pairs are
    appended to ``pairs_dir``, and its own banded signatures are appended
    to ``index_dir`` — so across the stream's lifetime the union of
    emitted pairs equals ONE batch ``minhash_lsh_pairs`` pass over the
    whole corpus (every pair surfaces exactly when its later doc arrives;
    asserted e2e in tests). The raw corpus is touched once per doc; only
    kilobyte-per-doc signature rows accumulate.

    Replay contract (round 6, matching the segment sink's exactly-once
    bar): each batch's pairs and signatures land in their own ``batch_id=``
    partition under dynamic partition overwrite, and the index view a batch
    dedupes against is filtered to ``batch_id < current`` — so a replayed
    delivery sees EXACTLY the index state of its first delivery (its own
    already-written signatures are partition-pruned away) and rewrites its
    own partitions with identical content. Sink contents after a replay
    equal first-delivery contents; readers need no dedupe.
    """

    return _banded_index_sink(
        index_dir,
        pairs_dir,
        ["id", "sig", "band", "bhash"],
        lambda b: minhash_lsh_pairs(
            b, text_col, id_col, num_hashes, bands, shingle_k,
            threshold, seed, impl,
        ),
        lambda b, idx: incremental_neardup_pairs(
            b, idx, text_col, id_col, num_hashes, bands,
            shingle_k, threshold, seed, impl,
        ),
        lambda b: lsh_band_index(
            b, text_col, id_col, num_hashes, bands, shingle_k, seed, impl
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
    shingle_k: int = 1,
    max_docs: int = 100_000,
    allow_full_corpus: bool = False,
) -> DataFrame:
    """Exact n-gram-set Jaccard for all co-occurring pairs (the dedup verifier).

    Distributed as: explode distinct k-word shingles → join on shingle
    (co-occurrence) → count intersections → join per-doc set sizes. The
    co-occurrence join is QUADRATIC in documents-per-shared-shingle — this is
    a VERIFIER for LSH candidates or a key-range slice, not a corpus-scale
    dedup. To fail fast instead of running O(n²) at 100 TB, inputs larger
    than ``max_docs`` raise unless ``allow_full_corpus=True`` (the probe is a
    ``limit(max_docs+1).count()`` — bounded scan, never a full count).
    """
    if not allow_full_corpus and df.limit(max_docs + 1).count() > max_docs:
        raise ValueError(
            f"ngram_jaccard_pairs input exceeds max_docs={max_docs}: this "
            "operator is a quadratic pairwise verifier meant for LSH "
            "candidate sets (see minhash_lsh_pairs). Pass a candidate slice, "
            "raise max_docs, or set allow_full_corpus=True to override"
        )
    grams = (
        F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        if shingle_k == 1
        else _word_shingles(F.col(text_col), shingle_k)
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(grams).alias("token"),
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def pair_rerank(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weight_lexical: float = 0.8,
) -> DataFrame:
    """Second-stage scoring of candidate near-dup pairs (the cross-encoder
    slot): every ``(id_a, id_b)`` candidate gets a ``ce_score`` from looking
    at BOTH texts together, the standard retrieve-then-rerank shape (cheap
    recall stage = LSH/dd2/dd8 candidates; precise scorer over the
    surviving pairs only).

    The scorer here is a deterministic lexical stand-in — full-text
    distinct-word Jaccard blended with a char-length-ratio prior — because
    no model runtime ships in this environment. A real cross-encoder drops
    into the same frame: replace the ``ce_score`` projection with a
    ``mapInPandas`` batch over (text_a, text_b) pairs (Arrow-batched, the
    mm1 decode pattern); everything upstream (pair joins) and downstream
    (ranking) is unchanged.

    Scale shape: per-doc features (distinct words, char length) are a
    narrow projection computed once; the two id-keyed joins move only the
    candidate pairs and the features of docs that appear in pairs —
    after an LSH recall stage that is ≪ corpus. Scoring is JVM-side
    whole-stage-codegen; no Python in the row path.
    """
    feats = docs.select(
        F.col(id_col).alias("__rid"),
        F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__words"),
        F.length(F.col(text_col)).alias("__chars"),
    )
    a = feats.select(
        F.col("__rid").alias("id_a"),
        F.col("__words").alias("__wa"),
        F.col("__chars").alias("__ca"),
    )
    b = feats.select(
        F.col("__rid").alias("id_b"),
        F.col("__words").alias("__wb"),
        F.col("__chars").alias("__cb"),
    )
    inter = F.size(F.array_intersect(F.col("__wa"), F.col("__wb")))
    union = F.size("__wa") + F.size("__wb") - inter
    jacc = inter.cast("double") / union.cast("double")  # union >= 1: split()
    # yields at least [""] so the word arrays are never empty
    ratio = F.least("__ca", "__cb").cast("double") / F.greatest(
        F.col("__ca"), F.col("__cb"), F.lit(1)
    ).cast("double")
    w = float(weight_lexical)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("ce_score", F.round(F.lit(w) * jacc + F.lit(1.0 - w) * ratio, 6))
        .drop("__wa", "__wb", "__ca", "__cb")
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF.

    Bit-vote accumulation over token hashes is a numpy one-liner per batch;
    doing it in Spark SQL would need 64 aggregate expressions per row. The UDF
    is deterministic (blake2b-derived, no randomness) — see
    :mod:`tranquility_spark.operators.pandas_fns`.
    """
    from tranquility_spark.operators.pandas_fns import simhash64

    return df.select(F.col(id_col), simhash64(F.col(text_col)).alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table hyperplane LSH + exact verify.

    The banding construction in the embedding domain: ``num_tables``
    independent tables, each bucketing on the sign bits of ``num_planes``
    hyperplanes (AND over planes within a table, OR across tables — exactly
    MinHash's band/row trade-off). Candidate recall for a pair at angular
    collision probability p is ``1 - (1 - p^planes)^tables``; precision is
    EXACT because candidates are verified with a true cosine before emission
    (asserted as a subset property in tests/test_quality_bounds.py).

    Scale shape: bucket keys explode ×tables but carry only (id, table,
    bucket) — vectors do NOT travel through the bucket join; candidate pairs
    are deduped first and vectors re-attached by two id-keyed joins, so the
    verify cost is per CANDIDATE, not per collision. Never all-pairs.
    """
    import random

    from tranquility_spark.operators.similarity import double_array_lit

    dim_df = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim = dim_df[0]["d"] if dim_df else 0
    rnd = random.Random(seed)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def dot_const(plane: list[float]) -> Column:
        arr = double_array_lit(plane)
        return F.aggregate(
            F.zip_with(v, arr, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )

    table_keys = []
    for t in range(num_tables):
        planes = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
        bucket = F.concat_ws(
            "", *[(dot_const(p) >= 0).cast("int").cast("string") for p in planes]
        )
        table_keys.append(F.struct(F.lit(t).alias("t"), bucket.alias("bucket")))

    keys = df.select(
        F.col(id_col).alias("id"), F.explode(F.array(*table_keys)).alias("tb")
    ).select("id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))

    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    base = df.select(F.col(id_col).alias("id"), v.alias("v"))
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", dot / (norm("va") * norm("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per train doc, the fraction of its
    ``ngram``-word shingles that appear anywhere in the eval corpus.

    Plan: eval grams → distinct (eval sets are small: broadcast) → train
    explode → broadcast left-semi-ish join marks hits → per-doc ratio.
    At 100 TB train / normal-size eval this is a narrow scan + broadcast —
    no train-side shuffle except the per-doc ratio agg, which is keyed by
    doc id (uniform). For huge eval sets swap the broadcast for a bloom
    filter column (same plan shape).
    """
    eval_grams = (
        eval_df.select(F.explode(_word_shingles(F.col(text_col), ngram)).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_grams = train.select(
        F.col(id_col).alias("id"),
        F.explode(_word_shingles(F.col(text_col), ngram)).alias("g"),
    )
    joined = train_grams.join(F.broadcast(eval_grams), "g", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias("contamination"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper) over ARBITRARY centroids —
    the production form of the dd13 entry, with the literal-centroid CASE
    argmax swapped for the numpy-matmul assignment UDF
    (``similarity.with_centroid_id`` — one BLAS call per Arrow batch,
    the sim3/IVF assign path). Compose with ``similarity.ivf_centroids``
    for the k-means-built pipeline the dd13/samp9 docstrings describe.

    Returns ``(id, cluster_id, n_in_cluster, keep)``: within each cluster,
    every pair with cosine > ``tau`` drops the higher id (keep=0).

    Scale shape (dd13's, verbatim): norms computed once per VECTOR before
    the pair join (the join evaluates |pairs| >> |vecs| rows); the
    assignment is localCheckpointed once for its three consumers; the
    self-join shuffles on cluster_id only, so pair cost is
    sum(cluster^2) — bounded by the largest cluster, NEVER all-pairs
    (the bound is measured and asserted in
    tests/test_dedup_similarity.py's composition test).
    """
    from tranquility_spark.operators.similarity import (
        _as_double,
        dot,
        norm,
        with_centroid_id,
    )

    assigned = with_centroid_id(df, centroids, vec_col, out_col="cluster_id").select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("v"),
        norm(_as_double(F.col(vec_col))).alias("nrm"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    sc = df.sparkSession.sparkContext
    assigned = assigned.repartition(sc.defaultParallelism).localCheckpoint(
        eager=False
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"b.{id_col}").alias(id_col),
            F.round(
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") > tau)
    )
    dropped = pairs.select(id_col).distinct().withColumn("__dup", F.lit(1))
    counts = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_in_cluster")
    )
    return (
        assigned.join(F.broadcast(counts), "cluster_id")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "n_in_cluster",
            F.when(F.col("__dup").isNull(), 1).otherwise(0).cast("long").alias("keep"),
        )
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 3,
) -> DataFrame:
    """Near-duplicate TEXT pairs from 64-bit SimHash signatures (r12 —
    completes the SimHash family: dd3 produced signatures, this extracts
    the pairs), via the SAME hamming-banding machinery the image path
    uses: Manku et al. WWW'07's construction — split the 64-bit digest
    into 4 x 16-bit bands; any pair within hamming ``threshold`` <= 3
    agrees exactly on at least one band (pigeonhole — candidate recall
    COMPLETE, not probabilistic), then verify with the exact hamming
    distance. The signed-int64 signature converts to the 16-hex-char
    form the shared banding stage consumes (two's-complement hex —
    lossless, and bands re-enter integers as 16-bit words, inside the
    63-bit cross-engine policy).

    Scale shape: identical to :func:`dhash_neardup_pairs` — the banded
    self-join runs over DISTINCT signatures (the hot-bucket guard), so
    a boilerplate flood of identical texts costs one candidate row, and
    doc ids fan back out only on verified hash pairs.

    Output ``(doc_a, doc_b, hamming)``; contrast with dd2's MinHash
    (Jaccard on shingles, probabilistic recall) — SimHash-3 is the
    tighter "same document modulo a few tokens" net.
    """
    sigs = simhash_signatures(df, text_col, id_col)
    hexed = sigs.select(
        F.col(id_col),
        F.lpad(F.hex(F.col("simhash")), 16, "0").alias("__simhex"),
    )
    return dhash_neardup_pairs(
        hexed, threshold=threshold, id_col=id_col, hash_col="__simhex"
    )


def _guard_hex16(c: Column) -> Column:
    """Loud digest-width guard (ADVICE r15 #1): the shared 4x16-bit
    hamming-banding machinery (:func:`_dhash_hash_pairs`,
    :func:`dhash_band_index`, :func:`_hex_hamming`) hardcodes
    16-hex-char 64-bit digests. A producer with non-default geometry —
    e.g. ``audio_energy_fingerprint(n_segments=129)`` emits 32 hex
    chars — would previously band and hamming-verify only the FIRST 64
    bits, silently breaking pigeonhole completeness. Wrapping the digest
    column in this check makes a mismatched width fail the job instead:
    the ``when`` branch keeps the expression un-prunable (it IS the
    digest value on the valid path, byte-identical output). The check is
    the full hex alphabet, not just the length (r16 review): a 16-char
    digest in the wrong alphabet (base32/base64) would pass a length
    check and then ``conv(hex, 16, 10)`` parses only the valid prefix —
    garbage buckets and hamming distances, the same silent recall loss
    this guard exists to prevent. BOTH cases are valid — the SimHash
    family emits uppercase (Spark's ``F.hex``), the python-formatted
    families lowercase, and ``conv`` is case-insensitive (the round's
    own full-suite run caught a lowercase-only first draft of this
    check rejecting legitimate SimHash digests). Case must still be
    CONSISTENT per corpus: bands bucket by string equality, so the
    per-family producers each emit one case — mixed-case duplicates of
    the same digest would silently miss each other's buckets, which is
    a producer bug this guard cannot see."""
    return F.when(
        ~c.rlike("^[0-9a-fA-F]{16}$"),
        F.raise_error(
            F.concat(
                F.lit(
                    "hamming-banding digests must be 16 hex chars"
                    " (64-bit); got '"
                ),
                c,
                F.lit("' — non-default fingerprint geometry is not banding-compatible"),
            )
        ),
    ).otherwise(c)


def _hex_hamming(ca: Column, cb: Column) -> Column:
    """Exact hamming distance between two 16-hex-char 64-bit digests —
    the same per-band conv(hex,16,10) + bit_count(xor) arithmetic
    :func:`_dhash_hash_pairs` inlines (kept standalone so the certified
    dd16 chain stays untouched); band ints <= 0xffff, inside the 63-bit
    cross-engine policy."""
    ham = None
    for i in range(4):
        wa = F.conv(F.substring(ca, i * 4 + 1, 4), 16, 10).cast("long")
        wb = F.conv(F.substring(cb, i * 4 + 1, 4), 16, 10).cast("long")
        term = F.bit_count(wa.bitwiseXOR(wb))
        ham = term if ham is None else ham + term
    return ham.cast("long")


def simhash_band_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Persistable SimHash band index (r12 — dd8's ingest-side pattern for
    the second signature family): one row per (doc, band) carrying the
    16-bit band value and the full 16-hex-char signature. Write it
    bucketed or partitioned on ``(band, bval)`` and every later
    :func:`simhash_incremental_pairs` probe joins it with NO corpus-side
    shuffle (the lsh_band_index layout contract, plan-asserted in
    tests/test_bucketed.py) — signatures are computed ONCE at ingest,
    never re-hashed."""
    sigs = simhash_signatures(df, text_col, id_col)
    hexed = sigs.select(
        F.col(id_col).alias("id"),
        F.lpad(F.hex(F.col("simhash")), 16, "0").alias("sighex"),
    )
    return hexed.select(
        "id",
        "sighex",
        F.posexplode(
            F.array(
                *[F.substring("sighex", i * 4 + 1, 4) for i in range(4)]
            )
        ).alias("band", "bval"),
    )


def simhash_incremental_pairs(
    new_df: DataFrame,
    index_df: DataFrame,
    threshold: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs for an INCREMENTAL batch against a persisted
    :func:`simhash_band_index` — the per-ingest-cycle form of
    :func:`simhash_neardup_pairs` (dd8's incrementality argument applied
    to hamming banding): only the new batch is signature-hashed; the
    corpus is touched solely through (band, bval) bucket probes over its
    DISTINCT signatures. Returns every hamming <= ``threshold`` pair
    involving at least one new doc, canonically ordered — with
    deterministic signatures this EQUALS the full-corpus run restricted
    to pairs touching new ids (driver-certified). Precondition: new and
    index doc ids are disjoint (batch vs registry — dd8's contract).

    Scale shape: hash-level candidates join DISTINCT signatures on both
    sides (the dd16 hot-bucket guard — a boilerplate flood costs one
    row per distinct value per bucket), pigeonhole recall is complete
    for threshold <= 3, and doc ids fan back out only on verified hash
    pairs. Per-cycle cost: O(new batch + touched buckets), independent
    of corpus size.
    """
    new_idx = simhash_band_index(new_df, text_col, id_col).localCheckpoint(
        eager=False
    )
    return _banded_incremental_pairs(new_idx, index_df, threshold)


def _banded_incremental_pairs(
    new_idx: DataFrame, index_df: DataFrame, threshold: int
) -> DataFrame:
    """Digest-family-agnostic core of :func:`simhash_incremental_pairs`
    (r15, factored out for the image family — both SimHash and dHash
    persist the identical (id, sighex, band, bval) 4x16-bit layout, so
    one incremental probe serves both): candidates from the two
    separate (band, bval) joins, exact hamming verify, doc fan-out
    restricted to pairs touching a new id. ``new_idx`` must carry the
    band-index schema and SHOULD be lineage-cut (localCheckpoint) by
    the caller — it is consumed twice."""
    nh = new_idx.select("sighex", "band", "bval").distinct()
    ih = index_df.select("sighex", "band", "bval").distinct()

    def _canon(left: DataFrame, right: DataFrame, lo_only: bool) -> DataFrame:
        cond = (F.col("l.band") == F.col("r.band")) & (
            F.col("l.bval") == F.col("r.bval")
        )
        if lo_only:
            cond = cond & (F.col("l.sighex") <= F.col("r.sighex"))
        return (
            left.alias("l")
            .join(right.alias("r"), cond)
            .select(
                F.least(F.col("l.sighex"), F.col("r.sighex")).alias("__ha"),
                F.greatest(F.col("l.sighex"), F.col("r.sighex")).alias("__hb"),
            )
        )

    # two SEPARATE joins (dd8's layout argument: a union would erase the
    # index's bucketed layout and reshuffle the corpus every cycle)
    cand = (
        _canon(nh, ih, lo_only=False)
        .unionByName(_canon(nh, nh, lo_only=True))
        .dropDuplicates(["__ha", "__hb"])
    )
    hp = cand.select(
        "__ha", "__hb", _hex_hamming(F.col("__ha"), F.col("__hb")).alias("hamming")
    ).filter(F.col("hamming") <= threshold)

    d_new = (
        new_idx.select("id", "sighex").distinct().withColumn("__new", F.lit(1))
    )
    d_idx = (
        index_df.select("id", "sighex").distinct().withColumn("__new", F.lit(0))
    )
    d_all = d_new.unionByName(d_idx)
    da = d_all.select(
        F.col("id").alias("__ida"), F.col("sighex").alias("__ha"),
        F.col("__new").alias("__na"),
    )
    db = d_all.select(
        F.col("id").alias("__idb"), F.col("sighex").alias("__hb"),
        F.col("__new").alias("__nb"),
    )
    return (
        hp.join(da, "__ha")
        .join(db, "__hb")
        .filter(
            (
                (F.col("__ha") != F.col("__hb"))
                | (F.col("__ida") < F.col("__idb"))
            )
            & ((F.col("__na") == 1) | (F.col("__nb") == 1))
        )
        .select(
            F.least("__ida", "__idb").alias("doc_a"),
            F.greatest("__ida", "__idb").alias("doc_b"),
            "hamming",
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_index_write(
    df: DataFrame,
    table: str,
    num_buckets: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    path: str | None = None,
) -> None:
    """Persist the SimHash band index as a bucketed+sorted table on the
    probe key (r13, VERDICT r12 #3 — the ingest-side write that makes
    :func:`simhash_pairs_from_index` the serving path): signatures are
    computed ONCE here; every later pair extraction or incremental probe
    reads (band, bval)-co-located rows and never touches the text again.
    The dd8/lsh_band_index layout contract, applied to the full-corpus
    pair extraction rather than only the incremental probe."""
    from tranquility_spark.sources.bucketed import write_bucketed

    write_bucketed(
        simhash_band_index(df, text_col, id_col),
        table,
        ["band", "bval"],
        num_buckets,
        path=path,
    )


def simhash_pairs_from_index(
    index_df: DataFrame, threshold: int = 3
) -> DataFrame:
    """Full near-dup pair extraction from a PERSISTED
    :func:`simhash_band_index` (r13, VERDICT r12 #3 — the serving form of
    :func:`simhash_neardup_pairs`): no text column is read and nothing is
    re-hashed — the signature pass was paid once at ingest by
    :func:`simhash_index_write`. Output and semantics EQUAL the inline
    pipeline exactly (driver-certified by dd19b): same distinct-signature
    hot-bucket guard, same pigeonhole-complete 4x16-bit banding, same
    exact hamming verify, same doc fan-out.

    Scale shape — why this is the number that matters at 100 TB: the
    candidate stage is a SELF-join of the index's own persisted
    (band, bval) rows. Written bucketed+sorted on that key, the distinct
    over (sighex, band, bval) needs no shuffle (grouping keys are a
    superset of the bucket key, so the bucketing already clusters every
    group) and the self-join is a zero-Exchange SortMergeJoin — the plan
    contains NO corpus-side shuffle at all (asserted in
    tests/test_bucketed.py). Doc ids come from the ``band = 0`` slice
    (exactly one index row per doc — a filter, not a distinct) and attach
    only to the verified kilobyte-scale hash pairs.
    """
    idx = index_df.filter(F.col("sighex").isNotNull())
    ds = idx.select("sighex", "band", "bval").distinct()
    a, b = ds.alias("a"), ds.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.sighex") <= F.col("b.sighex")),
        )
        .select(
            F.col("a.sighex").alias("__ha"),
            F.col("b.sighex").alias("__hb"),
        )
        .dropDuplicates(["__ha", "__hb"])
    )
    hp = cand.select(
        "__ha", "__hb", _hex_hamming(F.col("__ha"), F.col("__hb")).alias("hamming")
    ).filter(F.col("hamming") <= threshold)
    # one row per doc WITHOUT a distinct: every doc has exactly one band-0
    # index row (simhash_band_index posexplodes 4 bands per doc)
    hv = idx.filter(F.col("band") == 0).select("id", "sighex")
    da, db = hv.alias("da"), hv.alias("db")
    return (
        hp.join(da, F.col("da.sighex") == F.col("__ha"))
        .join(
            db,
            (F.col("db.sighex") == F.col("__hb"))
            & (
                (F.col("__ha") != F.col("__hb"))
                | (F.col("da.id") < F.col("db.id"))
            ),
        )
        .select(
            F.least(F.col("da.id"), F.col("db.id")).alias("doc_a"),
            F.greatest(F.col("da.id"), F.col("db.id")).alias("doc_b"),
            "hamming",
        )
    )


def _dhash_hash_pairs(
    hashes: DataFrame,
    threshold: int = 3,
    hash_col: str = "dhash",
) -> DataFrame:
    """Hash-LEVEL candidate stage of :func:`dhash_neardup_pairs`: banded
    self-join over the DISTINCT digests only, verified with the exact
    hamming distance. Output ``(__ha, __hb, hamming)`` with
    ``__ha <= __hb``; the self-pair ``__ha == __hb`` (hamming 0) stands
    for every within-digest doc pair.

    This is the hot-bucket skew guard (VERDICT r9 #2): a pathological
    corpus (constant-color images -> ONE digest) previously put every doc
    row in the same (band, value) bucket and the doc-level join went
    quadratic in CORPUS size. Joining distinct digests bounds the
    quadratic stage by the number of DISTINCT values per bucket — the
    all-identical corpus does a 1x1 join here — and the unavoidable
    fan-out to doc pairs happens only on the verified output, as plain
    join expansion with no oversized shuffle bucket. Pigeonhole recall is
    untouched: banding sees every distinct digest exactly as before.
    """
    bands = 4
    dh = hashes.filter(F.col(hash_col).isNotNull()).select(
        _guard_hex16(F.col(hash_col)).alias("__h")
    ).distinct()
    b = dh.select(
        "__h",
        F.posexplode(
            F.array(
                *[F.substring(F.col("__h"), i * 4 + 1, 4) for i in range(bands)]
            )
        ).alias("__band", "__bv"),
    )
    x, y = b.alias("a"), b.alias("b")
    cand = (
        x.join(
            y,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bv") == F.col("b.__bv"))
            & (F.col("a.__h") <= F.col("b.__h")),
        )
        .select(
            F.col("a.__h").alias("__ha"),
            F.col("b.__h").alias("__hb"),
        )
        .dropDuplicates(["__ha", "__hb"])
    )
    ham = None
    for i in range(bands):
        wa = F.conv(F.substring("__ha", i * 4 + 1, 4), 16, 10).cast("long")
        wb = F.conv(F.substring("__hb", i * 4 + 1, 4), 16, 10).cast("long")
        term = F.bit_count(wa.bitwiseXOR(wb))
        ham = term if ham is None else ham + term
    return cand.select(
        "__ha", "__hb", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= threshold)


def dhash_neardup_pairs(
    hashes: DataFrame,
    threshold: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate pairs from 64-bit perceptual hashes (16 hex chars,
    ``multimodal.image_dhash``'s output) via HAMMING BANDING — the
    pigeonhole trick that makes hamming search a bucket join: split the
    digest into 4 x 16-bit bands; any pair within hamming ``threshold``
    <= 3 differs in at most 3 bands, so at least one band matches
    EXACTLY and the pair surfaces in that band's bucket — candidate
    recall is COMPLETE (not probabilistic like MinHash) for
    threshold <= bands - 1, which is why the default threshold is 3.
    Candidates are verified with the exact hamming distance (sum of
    per-band bit_count(xor)) before emission, so precision is exact.
    NULL digests (``image_dhash``'s dead-letter verdict for empty or
    undecodable payloads) are excluded up front.

    Scale shape (the dd2/LSH argument): the banded join runs over
    DISTINCT digests (:func:`_dhash_hash_pairs` — the hot-bucket guard),
    so bucket cost is sum over buckets of (distinct values in bucket)²,
    never corpus-quadratic; doc ids fan back out via two equi-joins on
    the verified hash pairs only. Bands convert via conv(hex,16,10) into
    ints <= 0xffff — far inside the cross-engine 63-bit policy; the full
    64-bit digest is never packed into a signed word.
    """
    # Lineage cut on the digest frame (r18 optimization round, guide
    # §2.3/§4): this inline form references ``hashes`` FOUR times — both
    # sides of the banded self-join (via _dhash_hash_pairs) and both doc
    # re-attachment sides below — and the digest frame's upstream is the
    # expensive Python pass of its family (simhash64 for dd17, image
    # decode for dd16, audio fingerprint for dd25/dd31). Uncut, that
    # pass re-executed per reference (dd17's executed plan carried 16
    # ArrowEvalPython nodes: 4 references x the pushed-isNotNull UDF
    # duplication); one lazy checkpoint pays it once. The SERVED forms
    # (simhash_pairs_from_index & co) must not ride through here — a
    # checkpoint would erase their bucketed co-location, which is why
    # the cut lives in this inline-only function, not in the shared
    # banding helpers.
    hashes = hashes.localCheckpoint(eager=False)
    hp = _dhash_hash_pairs(hashes, threshold=threshold, hash_col=hash_col)
    hv = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col), F.col(hash_col)
    )
    da, db = hv.alias("da"), hv.alias("db")
    # each doc carries ONE digest, so for __ha < __hb every unordered doc
    # pair surfaces exactly once; for the __ha == __hb self-pair the
    # id-order predicate picks each within-digest pair once — no
    # doc-level dropDuplicates needed
    return (
        hp.join(da, F.col(f"da.{hash_col}") == F.col("__ha"))
        .join(
            db,
            (F.col(f"db.{hash_col}") == F.col("__hb"))
            & (
                (F.col("__ha") != F.col("__hb"))
                | (F.col(f"da.{id_col}") < F.col(f"db.{id_col}"))
            ),
        )
        .select(
            F.least(F.col(f"da.{id_col}"), F.col(f"db.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"da.{id_col}"), F.col(f"db.{id_col}")).alias(
                "doc_b"
            ),
            "hamming",
        )
    )


def dhash_band_index(
    hashes: DataFrame, id_col: str = "doc_id", hash_col: str = "dhash"
) -> DataFrame:
    """Persistable dHash band index — the :func:`simhash_band_index`
    layout applied to the IMAGE digest family (r15, VERDICT r14 #3:
    MinHash and SimHash both had persisted served-pairs forms; images
    re-decoded and re-hashed per run). One row per (doc, band) carrying
    the 16-bit band value and the full 16-hex-char dHash; both 64-bit
    families banding identically means ONE serving extraction
    (:func:`dhash_pairs_from_index` delegates to
    :func:`simhash_pairs_from_index`) runs over either index. NULL
    digests (``image_dhash``'s dead-letter verdict for empty or
    undecodable payloads) are excluded at build, matching the inline
    pipeline's up-front filter. Write it bucketed+sorted on
    ``(band, bval)``; the image decode + hash pass is paid ONCE, here."""
    hv = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), _guard_hex16(F.col(hash_col)).alias("sighex")
    )
    return hv.select(
        "id",
        "sighex",
        F.posexplode(
            F.array(*[F.substring("sighex", i * 4 + 1, 4) for i in range(4)])
        ).alias("band", "bval"),
    )


def dhash_index_write(
    hashes: DataFrame,
    table: str,
    num_buckets: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    path: str | None = None,
) -> None:
    """Persist the dHash band index as a bucketed+sorted table on the
    probe key — :func:`simhash_index_write` for the image family. The
    caller feeds ``multimodal.image_dhash`` output so the decode lives
    with the media operators and this module stays digest-only."""
    from tranquility_spark.sources.bucketed import write_bucketed

    write_bucketed(
        dhash_band_index(hashes, id_col, hash_col),
        table,
        ["band", "bval"],
        num_buckets,
        path=path,
    )


def dhash_pairs_from_index(index_df: DataFrame, threshold: int = 3) -> DataFrame:
    """Full image near-dup pair extraction from a PERSISTED
    :func:`dhash_band_index` — the serving form of
    :func:`dhash_neardup_pairs` (dd16), equal to it by construction
    (driver-certified by dd16b): both 64-bit digest families persist the
    identical (id, sighex, band, bval) 4x16-bit layout, so the SimHash
    serving extraction applies verbatim — same distinct-digest hot-bucket
    guard, same pigeonhole-complete banding, same exact
    :func:`_hex_hamming` verify, same band-0 doc fan-out. At 100 TB the
    query cost is the INDEX (4 x ~40-byte rows per image), not the image
    bytes: nothing is re-decoded or re-hashed."""
    return simhash_pairs_from_index(index_df, threshold=threshold)


def dhash_incremental_pairs(
    new_hashes: DataFrame,
    index_df: DataFrame,
    threshold: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Image near-dup pairs for an INCREMENTAL batch against a persisted
    :func:`dhash_band_index` (r15 — :func:`simhash_incremental_pairs` on
    the image digest family, completing the inline/served/incremental
    matrix for all three signature families): only the new batch's
    digests arrive here (decode + perceptual hash happen upstream,
    ``multimodal.image_dhash`` — per-cycle decode cost is the NEW images
    only); the corpus is touched solely through (band, bval) bucket
    probes over its distinct digests. Returns every hamming <=
    ``threshold`` pair involving at least one new doc, canonically
    ordered. Precondition: new and index doc ids are disjoint (batch vs
    registry — dd8's contract). Per-cycle cost O(new batch + touched
    buckets), independent of corpus size."""
    new_idx = dhash_band_index(new_hashes, id_col, hash_col).localCheckpoint(
        eager=False
    )
    return _banded_incremental_pairs(new_idx, index_df, threshold)


def dhash_index_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    threshold: int = 3,
):
    """foreachBatch sink: streaming image near-dup with a growing dHash
    band index (r15, VERDICT r14 #3 — :func:`simhash_index_sink`'s shape
    on the image family). Batches must already CARRY the digest column
    (``multimodal.image_dhash`` upstream in the stream plan — decode
    placement belongs to the stream builder, and this sink stays
    digest-only like the rest of this module). Each micro-batch is
    deduped against the accumulated index of every PRIOR batch
    (:func:`dhash_incremental_pairs`), its pairs append to
    ``pairs_dir``, and its own band rows append to ``index_dir`` — the
    union of emitted pairs across the stream's lifetime equals ONE
    :func:`dhash_neardup_pairs` pass over the whole corpus (asserted
    e2e in tests). Same replay contract as the SimHash/MinHash sinks:
    per-batch ``batch_id=`` partitions under dynamic overwrite + the
    prior-batch index view make a redelivery rewrite its own partitions
    with identical content."""

    return _banded_index_sink(
        index_dir,
        pairs_dir,
        ["id", "sighex", "band", "bval"],
        lambda b: dhash_neardup_pairs(b, threshold, id_col, hash_col),
        lambda b, idx: dhash_incremental_pairs(
            b, idx, threshold, id_col, hash_col
        ),
        lambda b: dhash_band_index(b, id_col, hash_col),
    )


# ---------------------------------------------------------------------------
# Audio fingerprint family (r15) — the FOURTH 64-bit digest family.
# multimodal.audio_energy_fingerprint emits the same 16-hex-char digest
# shape as image_dhash / simhash, so the whole hamming-banding machinery
# (pigeonhole-complete 4 x 16-bit bands, distinct-digest hot-bucket guard,
# persisted (band, bval) index, incremental probe, streaming sink) applies
# verbatim via hash_col="afp". These wrappers exist so the audio family
# reads as a family — ONE digest-generic implementation underneath, not a
# fourth copy (the _banded_incremental_pairs lesson, applied up front).
# ---------------------------------------------------------------------------


def audio_fp_neardup_pairs(
    hashes: DataFrame,
    threshold: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "afp",
) -> DataFrame:
    """Near-duplicate audio pairs from 64-bit energy-delta fingerprints
    (``multimodal.audio_energy_fingerprint``'s output) — the dd16 shape
    on the audio modality: hamming banding over distinct digests,
    pigeonhole-complete for threshold <= 3, exact hamming verify, doc
    fan-out on verified hash pairs only. Because the fingerprint is
    integer-exact and SQL-replicable, dd25 hash-certifies this whole
    pipeline against a brute-force all-pairs DuckDB oracle — the only
    signature family where the PAIR SET itself is cross-engine
    certified, not just equality-twinned."""
    return dhash_neardup_pairs(hashes, threshold, id_col, hash_col)


def audio_fp_band_index(
    hashes: DataFrame, id_col: str = "doc_id", hash_col: str = "afp"
) -> DataFrame:
    """Persistable audio-fingerprint band index — the
    :func:`dhash_band_index` layout on the audio digest family (one row
    per (doc, band), 16-bit band value + full digest)."""
    return dhash_band_index(hashes, id_col, hash_col)


def audio_fp_index_write(
    hashes: DataFrame,
    table: str,
    num_buckets: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "afp",
    path: str | None = None,
) -> None:
    """Persist the audio-fingerprint band index bucketed+sorted on the
    probe key — :func:`dhash_index_write` for the audio family. The
    caller feeds ``multimodal.audio_energy_fingerprint`` output so the
    PCM decode lives with the media operators and this module stays
    digest-only."""
    dhash_index_write(hashes, table, num_buckets, id_col, hash_col, path)


def audio_fp_pairs_from_index(
    index_df: DataFrame, threshold: int = 3
) -> DataFrame:
    """Full audio near-dup pair extraction from a PERSISTED
    :func:`audio_fp_band_index` — the serving form of
    :func:`audio_fp_neardup_pairs` (dd25), equal to it by construction
    and hash-certified directly by dd26's brute-force oracle. All four
    64-bit digest families persist the identical (id, sighex, band,
    bval) layout, so the SimHash serving extraction applies verbatim.
    At 100 TB the query cost is the INDEX (4 x ~40-byte rows per clip),
    not the audio bytes: nothing is re-decoded or re-fingerprinted."""
    return simhash_pairs_from_index(index_df, threshold=threshold)


def audio_fp_incremental_pairs(
    new_hashes: DataFrame,
    index_df: DataFrame,
    threshold: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "afp",
) -> DataFrame:
    """Audio near-dup pairs for an INCREMENTAL batch against a persisted
    :func:`audio_fp_band_index` — :func:`dhash_incremental_pairs` on the
    audio digest family: only the new batch is decoded + fingerprinted
    (upstream, ``multimodal.audio_energy_fingerprint``); the corpus is
    touched solely through (band, bval) bucket probes. Returns every
    hamming <= ``threshold`` pair involving at least one new doc,
    canonically ordered. Precondition: new and index doc ids are
    disjoint (dd8's batch-vs-registry contract). Per-cycle cost
    O(new batch + touched buckets), independent of corpus size."""
    return dhash_incremental_pairs(
        new_hashes, index_df, threshold, id_col, hash_col
    )


def audio_fp_index_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    hash_col: str = "afp",
    threshold: int = 3,
):
    """foreachBatch sink: streaming audio near-dup with a growing
    fingerprint band index — :func:`dhash_index_sink`'s shape on the
    audio family, sharing the :func:`_banded_index_sink` state machine.
    Batches must already CARRY the digest column
    (``multimodal.audio_energy_fingerprint`` upstream in the stream
    plan — decode placement belongs to the stream builder). Union of
    emitted pairs across the stream == ONE
    :func:`audio_fp_neardup_pairs` pass over the whole corpus; same
    ``batch_id=`` replay-idempotence contract as the other three
    families' sinks."""
    return _banded_index_sink(
        index_dir,
        pairs_dir,
        ["id", "sighex", "band", "bval"],
        lambda b: audio_fp_neardup_pairs(b, threshold, id_col, hash_col),
        lambda b, idx: audio_fp_incremental_pairs(
            b, idx, threshold, id_col, hash_col
        ),
        lambda b: audio_fp_band_index(b, id_col, hash_col),
    )


# ---------------------------------------------------------------------------
# Video near-dup family (r15b) — the FIFTH family, and a different SHAPE:
# a video carries a SET of frame digests (multimodal.video_frame_hashes),
# not one 64-bit word, so near-dup is shared-frame CONTAINMENT over an
# inverted (fhash -> doc) index — exact equality joins, no hamming bands.
# The serving/incremental/streaming matrix still applies: the persisted
# index is (id, fhash) bucketed on the probe key fhash, and the shared
# _banded_index_sink state machine runs the streaming form unchanged
# (it is column-generic; only the three callables differ).
# ---------------------------------------------------------------------------


def video_frame_index(
    frame_hashes: DataFrame, id_col: str = "doc_id", hash_col: str = "fhash"
) -> DataFrame:
    """Persistable video frame-digest index: DISTINCT (id, fhash) rows —
    one row per (video, distinct frame digest), NULL digests (the
    dead-letter verdict for empty frames) excluded at build. Write it
    bucketed+sorted on ``fhash``: the decode + frame-hash pass (the
    dominant per-video cost — real demux is orders of magnitude heavier
    than any join) is paid ONCE, here."""
    return (
        frame_hashes.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(hash_col).alias("fhash"))
        .distinct()
    )


# Structural uncapped-run guard (r16, VERDICT r15 #4): the video
# family's df cap is LOAD-BEARING, not a rare-pathology defense — the
# digest space saturates as the corpus grows, so an uncapped self-join
# DIVERGES (SCALE.md r15b: measured OK at 50k docs with max df 1,116 /
# Σ df² 8.8e7; divergent at 500k docs with max df 20,088 / Σ df²
# 2.1e10). 4096 sits comfortably above the measured-OK decade and well
# below the measured-divergent one: a digest in >4096 videos is
# boilerplate (title card / black frame), contributes >16M pair
# expansions from one bucket, and carries no near-dup signal. Runs that
# genuinely want a different policy must say so with an explicit
# ``max_df`` — the guard only arms when no cap is set.
_VIDEO_UNCAPPED_DF_LIMIT = 4096


def _video_pairs_core(
    h: DataFrame, min_shared: int, max_df: int | None
) -> DataFrame:
    """Shared core of the inline and served video pair extractions over a
    DISTINCT (id, fhash) frame index: optional document-frequency cap,
    per-doc digest counts, inverted-index self-join, pair aggregation,
    containment. Output (doc_a, doc_b, n_shared, n_a, n_b, containment),
    doc_a < doc_b.

    With ``max_df=None`` the plan EMBEDS the divergence guard (see
    ``_VIDEO_UNCAPPED_DF_LIMIT``): every index row gets its digest's
    document frequency attached, and the fhash column feeding the
    self-join is wrapped in a raise_error branch that fails the job the
    moment any digest exceeds the limit — structural, not documentary,
    and evaluated BEFORE the quadratic fan-out the hot digest would
    cause. No driver-side action: the check rides the join input scan
    (on the served/bucketed layout the df aggregate is exchange-free).
    Output on passing corpora is byte-identical to the unguarded form.

    CAVEAT (ADVICE r16): the raise rides LAZY evaluation of side a's
    join key, so it is best-effort-per-action, not a precondition
    check — a partially consumed plan (e.g. a downstream limit() that
    short-circuits the scan before reaching the hot digest's
    partition) can finish without evaluating the guard. The entry
    paths all fully materialize their output, where every index row is
    evaluated; callers composing new plans on top must not treat the
    guard as a guarantee that the whole index was audited."""
    if max_df is not None:
        # the hot-digest guard, CBVR's stopword removal: a boilerplate
        # frame (black frame, title card) appearing in > max_df videos
        # would cost df² in the self-join while carrying no near-dup
        # signal — drop the digest, not the videos. NOTE the per-doc
        # counts below are computed AFTER the cap so containment stays
        # a ratio over the digests that actually joined.
        ok = (
            h.groupBy("fhash")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fhash")
        )
        h = h.join(ok, "fhash")
    ha = h
    if max_df is None:
        # df via a WINDOW over fhash, not groupBy+join-back: the window's
        # hash-partitioning on fhash is exactly the self-join's key, so
        # the partitioning is computed once and reused (and on the
        # served fhash-bucketed layout it introduces no Exchange at all
        # — measured: the join-back form cost dd29 0.59 -> 0.95 s, the
        # window form stays near the anchor). Guarding ONE side of the
        # self-join suffices: every index row flows through side a, so
        # any over-limit digest trips the raise there; side b and the
        # per-doc counts stay on the raw (row-identical) frame.
        from pyspark.sql.window import Window

        dfw = F.count(F.lit(1)).over(Window.partitionBy("fhash"))
        ha = h.select(
            "id",
            F.when(
                dfw > _VIDEO_UNCAPPED_DF_LIMIT,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "video pair extraction without max_df hit a digest in "
                        ),
                        dfw.cast("string"),
                        F.lit(
                            f" videos (> {_VIDEO_UNCAPPED_DF_LIMIT}): an uncapped"
                            " shared-frame self-join diverges on saturated digest"
                            " spaces (SCALE.md r15b) — pass max_df (boilerplate-"
                            "frame cap) or pre-filter the index; offending fhash="
                        ),
                        F.col("fhash"),
                    )
                ),
            )
            .otherwise(F.col("fhash"))
            .alias("fhash"),
        )
    cnt = h.groupBy("id").agg(F.count(F.lit(1)).alias("__nh"))
    a, b = ha.alias("a"), h.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("__ns"))
        .filter(F.col("__ns") >= min_shared)
    )
    return _video_attach_counts(pairs, cnt)


def _video_attach_counts(pairs: DataFrame, cnt: DataFrame) -> DataFrame:
    """Shared tail of every video pair extraction (inline, served,
    incremental — ONE definition of the output contract): attach per-doc
    digest counts to (doc_a, doc_b, __ns) pair rows and emit
    (doc_a, doc_b, n_shared, n_a, n_b, containment) with
    ``containment = n_shared / min(n_a, n_b)`` rounded to 6 (the
    cross-engine float policy; denominators <= max_frames, so no
    representable rounding tie exists)."""
    ca = cnt.select(F.col("id").alias("doc_a"), F.col("__nh").alias("n_a"))
    cb = cnt.select(F.col("id").alias("doc_b"), F.col("__nh").alias("n_b"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("__ns").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("__ns") / F.least("n_a", "n_b"), 6).alias(
                "containment"
            ),
        )
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    min_shared: int = 2,
    max_df: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
) -> DataFrame:
    """Near-duplicate video pairs by shared-frame containment (dd28):
    videos sharing >= ``min_shared`` DISTINCT frame digests, with
    ``containment = n_shared / min(n_a, n_b)`` (a clip contained in a
    longer video scores 1.0 regardless of the length gap — the CBVR
    copy-detection convention; round(…,6) per the cross-engine float
    policy, denominators <= max_frames so no representable tie exists).

    Scale shape: the self-join runs on the inverted (fhash -> doc)
    index over DISTINCT (doc, digest) rows — cost is sum over digests of
    df². Unlike the hamming families' hot-bucket guard (a rare-pathology
    defense), ``max_df`` here is LOAD-BEARING at corpus scale: the
    digest space saturates as the corpus grows (frame vocabularies are
    finite; boilerplate frames — title cards, black frames — recur
    everywhere), so df grows ~linearly and Σ df² ~quadratically. The
    measured decades (SCALE.md r15b: 6.2k → 8.0k distinct digests
    across 100× of docs, Σ df² 5.2e5 → 2.1e10, uncapped join DIVERGED
    at 500k while max_df=64 ran in 6 s) make the cap mandatory in
    production; it is also the precision control — boilerplate digests
    assert template co-membership, not near-duplication. Since r16 the
    contract is STRUCTURAL: an uncapped run embeds a per-digest df
    check in the plan and raises loudly past
    ``_VIDEO_UNCAPPED_DF_LIMIT`` (4096) instead of diverging. The
    fixture entries run uncapped because the driver corpus's hottest
    df is 10 — far under the guard.
    Integer-exact end to end (digests are byte comparisons, counts are
    counts), so the whole pipeline is brute-force oracle-certified like
    the audio family."""
    # lineage cut (the dd18b/localCheckpoint precedent): the frame index
    # feeds the per-doc count aggregate, the df-cap aggregate, and BOTH
    # sides of the self-join — distinct exchange keys, so without the cut
    # the upstream demux+hash mapInPandas (the dominant per-video cost)
    # re-executes per consumer. The served form (video_pairs_from_index)
    # must NOT do this: checkpointing a bucketed table would erase its
    # co-located layout and the zero-Exchange self-join with it.
    h = video_frame_index(frame_hashes, id_col, hash_col).localCheckpoint(
        eager=False
    )
    return _video_pairs_core(h, min_shared, max_df)


def video_pairs_from_index(
    index_df: DataFrame, min_shared: int = 2, max_df: int | None = None
) -> DataFrame:
    """Full video near-dup pair extraction from a PERSISTED
    :func:`video_frame_index` (dd29) — the serving form of
    :func:`video_neardup_pairs`, equal to it by construction and
    hash-certified directly by dd29's brute-force oracle. With the index
    bucketed on ``fhash``, the self-join is a zero-Exchange
    SortMergeJoin over co-located buckets; at 100 TB the query reads
    ~24-byte index rows per (video, frame), never the video bytes —
    demux is an ingest cost, not a query cost."""
    return _video_pairs_core(
        index_df.select("id", "fhash").distinct(), min_shared, max_df
    )


def video_incremental_pairs(
    new_hashes: DataFrame,
    index_df: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
) -> DataFrame:
    """Video near-dup pairs for an INCREMENTAL batch against a persisted
    :func:`video_frame_index` (dd30): only the new batch is demuxed and
    frame-hashed (upstream); the corpus is touched solely through
    ``fhash`` bucket probes. Returns every pair with >= ``min_shared``
    shared digests involving at least one new doc — EXACTLY the full
    run's restriction (both docs' complete digest sets are visible:
    the new side in the batch, the old side in the index), canonically
    ordered. Precondition: new and index doc ids are disjoint (dd8's
    batch-vs-registry contract). No ``max_df`` FILTER: a frequency cap
    over a GROWING corpus is time-dependent (a digest under the cap
    today may exceed it tomorrow), which would break incremental ==
    restriction and the streaming sink's union == one-batch-pass
    contract. The divergence guard still applies, as a RAISE (r16
    review closing the batch forms' gap): the accumulated index is the
    one input that grows without bound, so the probe wraps the TOUCHED
    index rows' fhash in the ``_VIDEO_UNCAPPED_DF_LIMIT`` raise branch —
    a boilerplate digest crossing the limit fails the cycle loudly
    (operator must re-ingest with a digest filter) instead of silently
    degrading every later batch. A raise, unlike a filter, cannot make
    the union diverge from the one-pass result on corpora that pass.

    Two SEPARATE joins (dd8's layout argument — a union would erase the
    index's bucketed layout and reshuffle the corpus every cycle):
    new-vs-index probes the buckets, new-vs-new self-joins the batch
    (bounded by micro-batch size, hence unguarded)."""
    from pyspark.sql.window import Window

    new_idx = video_frame_index(new_hashes, id_col, hash_col).localCheckpoint(
        eager=False
    )
    idx = index_df.select("id", "fhash").distinct()

    # guard input: only buckets the batch touches (a broadcast semi-join —
    # the equi-join below restricts to them anyway, so output is identical
    # and the df window runs over the touched rows, not the whole index)
    idx_touched = idx.join(
        F.broadcast(new_idx.select("fhash").distinct()), "fhash", "left_semi"
    )
    dfw = F.count(F.lit(1)).over(Window.partitionBy("fhash"))
    idx_guarded = idx_touched.select(
        "id",
        F.when(
            dfw > _VIDEO_UNCAPPED_DF_LIMIT,
            F.raise_error(
                F.concat(
                    F.lit("video incremental probe hit an index digest in "),
                    dfw.cast("string"),
                    F.lit(
                        f" videos (> {_VIDEO_UNCAPPED_DF_LIMIT}): the"
                        " accumulated index has saturated on a boilerplate"
                        " frame (SCALE.md r15b divergence regime) — filter"
                        " the digest at ingest; offending fhash="
                    ),
                    F.col("fhash"),
                )
            ),
        )
        .otherwise(F.col("fhash"))
        .alias("fhash"),
    )

    n, i = new_idx.alias("n"), idx_guarded.alias("i")
    no = (
        n.join(i, F.col("n.fhash") == F.col("i.fhash"))
        .groupBy(
            F.least(F.col("n.id"), F.col("i.id")).alias("doc_a"),
            F.greatest(F.col("n.id"), F.col("i.id")).alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("__ns"))
    )
    a, b = new_idx.alias("a"), new_idx.alias("b")
    nn = (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("__ns"))
    )
    pairs = (
        no.unionByName(nn)
        .filter(F.col("__ns") >= min_shared)
        # consumed three times below (touched-doc extraction + the two
        # count joins) — cut lineage so the bucket probes run once
        .localCheckpoint(eager=False)
    )
    # containment denominators need full per-doc digest counts, but ONLY
    # for docs that actually surfaced in a pair (r15b self-review: a
    # groupBy("id") over the whole index re-shuffled the FULL corpus
    # index every cycle — id is not the bucket key — breaking the
    # corpus-size-independence this function promises). Semi-join the
    # index down to the touched docs first: the touched set is bounded
    # by the probe's own output, so the per-cycle cost stays
    # O(new batch + touched buckets + touched docs' rows).
    touched = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionByName(pairs.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    cnt = (
        new_idx.groupBy("id")
        .agg(F.count(F.lit(1)).alias("__nh"))
        .unionByName(
            idx.join(touched, "id", "semi")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__nh"))
        )
    )
    return _video_attach_counts(pairs, cnt)


def video_incremental_pairs_capped(
    new_hashes: DataFrame,
    index_df: DataFrame,
    min_shared: int = 2,
    max_df: int = 64,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
    ids_only: bool = False,
) -> DataFrame:
    """SNAPSHOT-capped incremental video pairs (r17): the hot-digest cap
    of :func:`video_neardup_pairs`' ``max_df``, made available to the
    batch-vs-registry probe with document frequency computed over the
    DECISION-TIME population (index ∪ new) — so the result EQUALS the
    capped FULL run over (index docs ∪ new docs) restricted to pairs
    touching new ids (asserted in tests; per-doc counts are the capped
    run's counts, i.e. computed AFTER the cap with GLOBAL df).

    This is the form a fixed-registry admission cycle (pipe11's shape)
    uses to run on corpora whose digest space has saturated past
    ``_VIDEO_UNCAPPED_DF_LIMIT`` — the 500k decade where the uncapped
    probe (correctly) raises. It must NOT replace
    :func:`video_incremental_pairs` in the ACCUMULATING streaming sink:
    a df cap over a growing corpus is time-dependent (a digest under
    the cap today exceeds it tomorrow), which would break the sink's
    union == one-batch-pass contract — that path keeps the raise guard
    (see the uncapped docstring). Snapshot semantics sidestep this: df
    is a pure function of the fixed (index, new) pair.

    Scale shape: df is computed only for BUCKETS THE PROBE TOUCHES
    (new-side digests for the pair join; touched docs' digests for the
    capped counts) via broadcast semi-joins into the bucketed index —
    never a full-index groupBy, so the per-cycle cost stays
    O(new batch + touched buckets + touched docs' digest buckets),
    corpus-size-independent like the uncapped form.

    ``ids_only=True`` (r19 optimization round, guide §5 driver section)
    returns just the ``(doc_a, doc_b)`` pair ids and SKIPS the per-doc
    capped-count machinery entirely (touched-docs probe, second
    _global_df_ok pass, count attach joins — two analysis barriers and
    their stages). Which PAIRS exist depends only on the df cap and the
    shared-digest join, never on the counts, so the pair id set is
    byte-identical to ``ids_only=False``'s (asserted in tests). This is
    the form the admission compositions consume — pipe13's gates use
    pair ids only, yet paid the full counts build behind each cycle's
    checkpoint; dd33 (the oracle-certified full-row entry) and pipe13b's
    full-row certification keep the default path, whose plan is
    unchanged."""
    new_idx = video_frame_index(new_hashes, id_col, hash_col).localCheckpoint(
        eager=False
    )
    idx = index_df.select("id", "fhash").distinct()

    def _global_df_ok(fhashes: DataFrame) -> DataFrame:
        """fhash values (from ``fhashes``) whose df over index ∪ new is
        <= max_df — both sides counted, so a digest at df 3+2 with
        max_df 4 is dropped (a per-side cap would keep it)."""
        di = (
            idx.join(F.broadcast(fhashes), "fhash", "left_semi")
            .groupBy("fhash")
            .agg(F.count(F.lit(1)).alias("__di"))
        )
        dn = (
            new_idx.join(F.broadcast(fhashes), "fhash", "left_semi")
            .groupBy("fhash")
            .agg(F.count(F.lit(1)).alias("__dn"))
        )
        return (
            di.join(dn, "fhash", "full_outer")
            .filter(
                F.coalesce(F.col("__di"), F.lit(0))
                + F.coalesce(F.col("__dn"), F.lit(0))
                <= max_df
            )
            .select("fhash")
        )

    ok_new = _global_df_ok(new_idx.select("fhash").distinct()).localCheckpoint(
        eager=False
    )
    new_capped = new_idx.join(
        F.broadcast(ok_new), "fhash", "left_semi"
    ).localCheckpoint(eager=False)
    idx_probe = idx.join(F.broadcast(ok_new), "fhash", "left_semi")

    n, i = new_capped.alias("n"), idx_probe.alias("i")
    no = (
        n.join(i, F.col("n.fhash") == F.col("i.fhash"))
        .groupBy(
            F.least(F.col("n.id"), F.col("i.id")).alias("doc_a"),
            F.greatest(F.col("n.id"), F.col("i.id")).alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("__ns"))
    )
    a, b = new_capped.alias("a"), new_capped.alias("b")
    nn = (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("__ns"))
    )
    pairs = (
        no.unionByName(nn)
        .filter(F.col("__ns") >= min_shared)
        .localCheckpoint(eager=False)
    )
    if ids_only:
        return pairs.select("doc_a", "doc_b")

    # capped per-doc counts, GLOBAL-df-exact, for surfaced docs only:
    # new docs' digests are all in ok_new's population; touched INDEX
    # docs may carry digests the probe never joined, whose global df
    # still decides whether the capped full run counts them
    touched = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionByName(pairs.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    t_rows = idx.join(touched, "id", "semi").localCheckpoint(eager=False)
    ok_t = _global_df_ok(t_rows.select("fhash").distinct())
    cnt = (
        new_capped.groupBy("id")
        .agg(F.count(F.lit(1)).alias("__nh"))
        .unionByName(
            t_rows.join(F.broadcast(ok_t), "fhash", "left_semi")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__nh"))
        )
    )
    return _video_attach_counts(pairs, cnt)


def video_index_write(
    frame_hashes: DataFrame,
    table: str,
    num_buckets: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
    path: str | None = None,
) -> None:
    """Persist the video frame-digest index as a bucketed+sorted table on
    the probe key ``fhash`` — the family's ingest-side write. The caller
    feeds ``multimodal.video_frame_hashes`` output so the demux lives
    with the media operators and this module stays digest-only."""
    from tranquility_spark.sources.bucketed import write_bucketed

    write_bucketed(
        video_frame_index(frame_hashes, id_col, hash_col),
        table,
        ["fhash"],
        num_buckets,
        path=path,
    )


def video_index_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
    min_shared: int = 2,
):
    """foreachBatch sink: streaming video near-dup with a growing frame
    index — the :func:`_banded_index_sink` state machine on the video
    family (the helper is column-generic; index rows here are
    (id, fhash)). Batches must already CARRY the digest column
    (``multimodal.video_frame_hashes`` upstream in the stream plan) and
    must be DOC-ATOMIC (all of a video's frames in one batch — the same
    doc-granularity contract every family's sink has, but stated here
    because video is the first multi-row-per-doc signature: a split doc
    would undercount n_shared on both sides of the split). Union of
    emitted pairs across the stream == ONE :func:`video_neardup_pairs`
    pass (every pair surfaces when its later video arrives, with full
    counts — both complete digest sets are visible then); same
    ``batch_id=`` replay-idempotence contract as the other sinks. No
    ``max_df`` (see :func:`video_incremental_pairs`).

    The DOC-ATOMIC contract is ENFORCED at runtime, not just documented
    (ADVICE r15 #2): before the incremental probe, the batch's doc ids
    are semi-joined against the ids already in the accumulated index and
    any overlap raises — a stream builder that split a video across
    micro-batches would otherwise silently undercount ``n_shared`` (and
    therefore containment) on both sides of the split. The check is one
    column-pruned scan of the index's ``id`` column against the (small,
    broadcastable) batch id set — a bucket-restricted check would NOT be
    sound, because the later half of a split doc can share zero fhash
    buckets with its earlier frames."""

    def _incr_doc_atomic(b: DataFrame, idx: DataFrame) -> DataFrame:
        split = (
            idx.select("id")
            .join(
                F.broadcast(
                    b.select(F.col(id_col).alias("id")).distinct()
                ),
                "id",
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if split:
            raise RuntimeError(
                "video_index_sink: DOC-ATOMIC batch contract violated — a "
                "doc id in this micro-batch already has frames in the "
                "accumulated index (a video split across batches would "
                "undercount n_shared/containment on both sides); route all "
                "frames of a video through one micro-batch"
            )
        return video_incremental_pairs(b, idx, min_shared, id_col, hash_col)

    return _banded_index_sink(
        index_dir,
        pairs_dir,
        ["id", "fhash"],
        lambda b: video_neardup_pairs(b, min_shared, None, id_col, hash_col),
        _incr_doc_atomic,
        lambda b: video_frame_index(b, id_col, hash_col),
    )


def _cc_pointer_doubling(
    pairs: DataFrame,
    max_rounds: int = 64,
) -> tuple[DataFrame, int, bool]:
    """Exact min-label connected components in LOG-DIAMETER rounds —
    Shiloach–Vishkin-style hooking + pointer jumping over DataFrames
    (r16, VERDICT r15 #2: one-hop min-label propagation needs
    diameter-many rounds; sf0.1's 39-hop video chain made dd32 the
    suite's long pole at 16.3 s). The repo's one CC routine — every
    survivor entry and admission gate reaches it through
    :func:`neardup_survivors_converged`; the r17 large-star/small-star
    comparison (Kiveris et al., SoCC'14) measured it faster on all five
    studied topologies (SCALE.md r17).

    Per round: (1) HOOK — for every edge whose endpoints carry different
    labels, propose the smaller label to the NODE named by the larger
    label (labels are always member ids of the same component, so the
    proposal stays in-component and monotone non-increasing); (2) JUMP
    twice — ``label(v) <- label(label(v))`` path-compression, which
    doubles the distance a label has travelled per jump (on a chain:
    one hook + two jumps move the frontier 4 hops, vs 1 for plain
    propagation). Rounds to converge ~ log4(diameter) + O(1) instead of
    diameter; each round is three joins + a groupBy on the (tiny,
    checkpointed) node/mismatch frames.

    Termination is the round's OWN output, not a separate convergence
    action (VERDICT r15 #5): the hook stage's mismatch frame ("props")
    is materialized once per round anyway, and props-EMPTY is exactly
    the fixpoint condition (every edge label-equal => labels constant
    per component => equal to the component min, since the min node's
    label can never move). The old loop ran a join + limit(1).count()
    driver action on top of each of its 39 rounds; this one runs
    ~log4(diameter) rounds with the emptiness probe answered from the
    already-materialized frame.

    Labels initialize to ``min(v, min(N(v)))`` — the one-hop minimum,
    computed by a single aggregation over the symmetrized edge list
    (r18 optimization round, guide §2.4: remove work outright). On the
    star/pair graphs the admission gates actually produce (a near-dup
    cluster is diameter 1-2) this init IS the fixpoint, so the loop's
    first props probe proves emptiness and ZERO hook+jump rounds run —
    measured 3.3 s -> 0.5 s on a 50-pair graph, round counts on chain
    decades unchanged (the init moves labels one hop, exactly what
    round 1's hook did). Exactness is untouched: the init label is a
    member id of the same component and monotone non-increasing, the
    same invariant the hook maintains.

    Returns ``(labels, rounds_used, proven)``; labels = (id,
    cluster_id) for every node appearing in ``pairs``. ``proven`` is
    True iff the loop exited through the props-EMPTY check — the
    fixpoint proof itself (every edge label-equal => labels constant
    per component => equal to the component min). If ``max_rounds`` is
    exhausted first, ``proven`` is False and the returned labels may be
    short of the component minima — callers
    (``neardup_survivors_converged``) MUST verify externally in that
    case, which is what keeps this exact-or-loud rather than trusting
    the doubling arithmetic."""
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).distinct()
    sym = edges.select(F.col("src").alias("id"), F.col("dst").alias("nb")).union(
        edges.select(F.col("dst").alias("id"), F.col("src").alias("nb"))
    )
    labels = (
        sym.groupBy("id")
        .agg(F.min("nb").alias("__mn"))
        .select("id", F.least(F.col("id"), F.col("__mn")).alias("cluster_id"))
        # lineage cut per round (the iterative-DataFrame discipline):
        # without it each iteration's plan embeds all previous ones.
        # eager=True is LOAD-BEARING (r19 re-measured: eager=False was
        # tried to fold this job into the props probe and regressed
        # dd32 4.2->6.8s / pipe10 6.9->8.9s interleaved-isolated — the
        # props probe references this checkpoint TWICE (la/lb), and two
        # branches of one job computing an unmaterialized lazy
        # checkpoint race and BOTH compute it, doubling the per-round
        # work; the "Block already exists" BlockManager warning is that
        # race. Eager materialization makes every consumer read blocks.)
        .localCheckpoint(eager=True)
    )
    rounds = 0
    proven = False
    for _ in range(max_rounds):
        la = labels.select(
            F.col("id").alias("src"), F.col("cluster_id").alias("__la")
        )
        lb = labels.select(
            F.col("id").alias("dst"), F.col("cluster_id").alias("__lb")
        )
        props = (
            edges.join(la, "src")
            .join(lb, "dst")
            .filter(F.col("__la") != F.col("__lb"))
            .select(
                F.greatest("__la", "__lb").alias("id"),
                F.least("__la", "__lb").alias("__prop"),
            )
            .localCheckpoint(eager=True)
        )
        if props.isEmpty():  # fixpoint PROVEN: every edge label-equal
            proven = True
            break
        rounds += 1
        cand = props.groupBy("id").agg(F.min("__prop").alias("__prop"))
        hooked = labels.join(cand, "id", "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce("__prop", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        for _ in range(2):
            ptr = hooked.select(
                F.col("id").alias("__pid"), F.col("cluster_id").alias("__plbl")
            )
            hooked = hooked.join(
                ptr, F.col("cluster_id") == F.col("__pid"), "left"
            ).select(
                "id", F.coalesce("__plbl", "cluster_id").alias("cluster_id")
            )
        labels = hooked.localCheckpoint(eager=True)
    return labels, rounds, proven


def neardup_survivors_converged(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 64,
) -> DataFrame:
    """Keep one document per near-dup cluster (the min id), drop the
    rest — LSH pairs → components → anti-join the non-survivors;
    documents in no pair survive untouched. Every survivor entry and
    admission gate uses it.

    The fixpoint is VERIFIED: the retired one-hop loop returned
    silently-TRUNCATED labels past its round budget (634 wrong labels
    on sf0.1's 39-hop chain), which would silently diverge from
    dd31/dd32's EXACT recursive-CTE transitive-closure oracles, so this
    form (a) resolves components with :func:`_cc_pointer_doubling` — hooking
    + pointer jumping, ~log4(diameter) rounds instead of diameter (r16;
    the r15 form propagated one hop per round and paid 39 rounds on
    sf0.1's video chain) — and (b) VERIFIES the fixpoint from outside
    rather than trusting the loop: at a true fixpoint no edge connects
    two different labels. ``max_iterations`` now bounds DOUBLING rounds
    (coverage ~4^rounds hops), so the default comfortably exceeds any
    real diameter; one extra join over the edge list verifies; raises
    loudly on violation — either the answer equals the exact closure or
    the job fails, never a silent cross-engine mismatch."""
    clusters, _, proven = _cc_pointer_doubling(pairs, max_rounds=max_iterations)
    if not proven:
        # The loop exhausted max_rounds without reaching the props-EMPTY
        # proof, so the labels may be short of the component minima —
        # re-prove (or raise) from outside. When the loop DID exit through
        # props-empty, this join is the exact check the loop already ran
        # (every edge label-equal), so re-running it here was one
        # redundant join + driver action per CC call (r18 optimization
        # round, guide §2.4) — dd31/dd32/pipe8/pipe10 each paid it 1-4
        # times per run. Exact-or-loud is unchanged: every exit path
        # either carries the in-loop proof or runs this one.
        edges = pairs.select(
            F.col("id_a").alias("__src"), F.col("id_b").alias("__dst")
        )
        la = clusters.select(
            F.col("id").alias("__src"), F.col("cluster_id").alias("__ca")
        )
        lb = clusters.select(
            F.col("id").alias("__dst"), F.col("cluster_id").alias("__cb")
        )
        violations = (
            edges.join(la, "__src")
            .join(lb, "__dst")
            .filter(F.col("__ca") != F.col("__cb"))
            .limit(1)
            .count()
        )
        if violations:
            raise RuntimeError(
                "neardup_survivors_converged: label propagation did not reach "
                f"a fixpoint within {max_iterations} rounds (an edge still "
                "connects two different labels) — raise max_iterations"
            )
    victims = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(victims, id_col, "left_anti")
