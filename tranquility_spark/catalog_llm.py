"""North-star LLM-data-pipeline queries (SURVEY.md §7 phase 4).

Deduplication, similarity search, text analysis, multimodal plumbing — the
operators a 100 TB training-data pipeline needs. Implementations live in
``tranquility_spark.operators.{dedup,similarity,text,multimodal}``; this module
wires them into the driver contract with oracles where SQL can express the
semantics, rows-only otherwise (MinHash/SimHash/LSH are hash-function-defined
and have no cross-engine SQL equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tranquility_spark.catalog import _t, register
from tranquility_spark.operators.admission import admission_decisions
from tranquility_spark.operators.partitioning import portable_shard_sql
from tranquility_spark.operators import dedup as dd
from tranquility_spark.operators import multimodal as mm
from tranquility_spark.operators import similarity as sim
from tranquility_spark.operators import text as tx

# sign-bit packing of one 32-dim half into a BIGINT word (DuckDB side of
# emb5/sim4's binary quantization; 1-based lambda index i)
_EMB5_WORD_SQL = (
    "list_reduce(list_transform(embedding[{lo}:{hi}], "
    "(x,i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) "
    "ELSE 0::BIGINT END), (a,c) -> a|c)"
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dd1_exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on md5(text), keep lowest id. One shuffle on the "
    "digest; at 100 TB this is the cheapest dedup pass and runs first",
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dd2_minhash_lsh_pairs",
    None,  # minhash permutations are hash-defined — no SQL twin; verified vs exact jaccard in tests
    doc="MinHash+LSH near-dup candidates (64 hashes, 16 bands, 3-word shingles): "
    "signature map → band-bucket join → signature agreement ≥ 0.5. Never compares "
    "all pairs — the candidate join is keyed on (band, band_hash)",
)
def dd2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=64, bands=16, shingle_k=3, threshold=0.5
    )


@register(
    "dd2b_distinct_sig_guard",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for the MinHash hot-bucket guard "
    "(the dd11b pattern): the symmetric difference between dd2's default "
    "pair set and minhash_lsh_pairs_distinct's — the dd16 "
    "distinct-signature candidate stage applied to MinHash — compared on "
    "(id_a, id_b, est_jaccard), emitted as a count row against the "
    "constant-0 oracle, so a green hash certifies "
    "guard-changes-no-output at every window rotation. both_nonempty "
    "certifies the probe is not vacuous — counted from BOTH runs "
    "(ADVICE r10 #3: the base count alone was only sound combined with "
    "n_mismatched == 0). Quadratic-bucket ENGAGEMENT is asserted separately on a "
    "pathological all-identical corpus in tests (an oracle cannot see "
    "plan cost). Not in the bench headline — dd2 carries the measured "
    "row; the guarded twin is for corpora that skipped dd1 exact dedup",
)
def dd2b_distinct_sig_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kw = dict(num_hashes=64, bands=16, shingle_k=3, threshold=0.5)
    base = dd.minhash_lsh_pairs(docs, **kw)
    guarded = dd.minhash_lsh_pairs_distinct(docs, **kw)
    diff = (
        base.exceptAll(guarded)
        .unionByName(guarded.exceptAll(base))
        .agg(F.count(F.lit(1)).alias("n_mismatched"))
    )
    nonempty = (
        base.agg((F.count(F.lit(1)) > 0).alias("_base_nonempty"))
        .crossJoin(
            F.broadcast(
                guarded.agg((F.count(F.lit(1)) > 0).alias("_guarded_nonempty"))
            )
        )
        .select(
            (F.col("_base_nonempty") & F.col("_guarded_nonempty"))
            .cast("long")
            .alias("both_nonempty")
        )
    )
    return diff.crossJoin(F.broadcast(nonempty))


@register(
    "dd8_incremental_neardup",
    None,  # LSH is hash-defined — no SQL twin; exact-twin equality vs the
    # full-corpus run asserted in tests/test_dedup_similarity.py
    doc="Incremental near-dup: the newest 20% of docs (doc_id % 5 == 0 — a "
    "deterministic stand-in for 'today's batch') deduped against an LSH "
    "band index built from the other 80% ('the existing corpus'). The "
    "production per-cycle shape: only the new batch is shingled/hashed, "
    "the corpus is probed through its persisted (band, bhash) buckets — "
    "cost O(new + touched buckets), independent of corpus size — and with "
    "deterministic signatures the result EQUALS the full-corpus dd2 run "
    "restricted to pairs touching new ids (incrementality costs no recall)",
)
def dd8_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = dd.lsh_band_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        num_hashes=64, bands=16, shingle_k=3,
    )
    return dd.incremental_neardup_pairs(
        new, index, num_hashes=64, bands=16, shingle_k=3, threshold=0.5
    )


@register(
    "dd8b_incremental_equals_full",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched
    """,
    doc="Driver-certified contract probe for dd8 (VERDICT r05 #5): the "
    "symmetric difference between the INCREMENTAL pair-set (new batch vs "
    "persisted index) and the FULL dd2 run restricted to pairs touching "
    "new ids, compared on (id_a, id_b, est_jaccard). Emits its size as a "
    "single count row; the oracle is the constant 0 row, so a green hash "
    "match certifies incrementality-costs-no-recall every window rotation "
    "rather than only in pytest. A count row, not WHERE false: 1 row == 1 "
    "row cannot pass vacuously the way 0 == 0 would. Not in the bench "
    "headline: it is a correctness assertion whose cost is dd2 + dd8, "
    "both already benched individually",
)
def dd8b_incremental_equals_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 5 == 0
    index = dd.lsh_band_index(
        docs.filter(~new_pred), num_hashes=64, bands=16, shingle_k=3
    )
    inc = dd.incremental_neardup_pairs(
        docs.filter(new_pred), index,
        num_hashes=64, bands=16, shingle_k=3, threshold=0.5,
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est"))
    full = (
        dd.minhash_lsh_pairs(docs, num_hashes=64, bands=16, shingle_k=3,
                             threshold=0.5)
        .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est"))
    )
    return (
        inc.exceptAll(full)
        .unionByName(full.exceptAll(inc))
        .agg(F.count(F.lit(1)).alias("n_mismatched"))
    )


@register(
    "dd11_bloom_gated_neardup",
    None,  # LSH is hash-defined — no SQL twin; equality to the ungated dd8
    # run is driver-certified by dd11b and test-asserted
    doc="Bloom-gated incremental near-dup (VERDICT r06 #4): dd9's membership "
    "sketch composed in front of dd8's index probe. The index's (band, "
    "bhash) bucket keys build a bloom word table (kilobytes, persisted "
    "next to the index); a new batch's banded rows probe it FIRST and "
    "bloom-negatives — rows whose bucket cannot exist in the index — skip "
    "the index join entirely. No false negatives, so the pair set is "
    "IDENTICAL to the ungated run (dd11b certifies); false positives only "
    "cost a wasted probe the join itself kills. Per-cycle win: for "
    "batches dominated by never-seen content (the production common case) "
    "most probe rows are pruned before the join — the gate turns the join "
    "input from O(new batch) into O(rows sharing a live bucket). The "
    "new-x-new self-join stays ungated (two new docs can share a bucket "
    "the corpus never saw)",
)
def dd11_bloom_gated_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = dd.lsh_band_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        num_hashes=64, bands=16, shingle_k=3,
    )
    # the gate rereads index lazily; at certification scale that is two
    # passes over the 80% corpus (index build + gate build) — production
    # persists BOTH artifacts, paying the gate build once per fold-in
    gate = dd.index_bucket_bloom(index)
    return dd.incremental_neardup_pairs(
        new, index, num_hashes=64, bands=16, shingle_k=3, threshold=0.5,
        gate_words=gate,
    )


@register(
    "dd11b_gate_equals_ungated",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS gate_active
    """,
    doc="Driver-certified contract probe for dd11 (the dd8b pattern): the "
    "symmetric difference between the BLOOM-GATED pair set and the "
    "ungated dd8 run on the same split, compared on (id_a, id_b, "
    "est_jaccard), emitted as a count row — the oracle is the constant-0 "
    "row, so a green hash certifies gating-costs-no-recall at every "
    "window rotation. gate_active additionally certifies the gate is not "
    "vacuous: it is 1 iff at least one banded probe row was bloom-pruned "
    "(deterministic under fixed hashes; a fixture where nothing prunes "
    "would make the gate pointless and FAIL this probe). Not in the "
    "bench headline — dd11 carries the measured row",
)
def dd11b_gate_equals_ungated(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 5 == 0
    index = dd.lsh_band_index(
        docs.filter(~new_pred), num_hashes=64, bands=16, shingle_k=3
    )
    gate = dd.index_bucket_bloom(index)
    kw = dict(num_hashes=64, bands=16, shingle_k=3, threshold=0.5)
    gated = dd.incremental_neardup_pairs(
        docs.filter(new_pred), index, gate_words=gate, **kw
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est"))
    ungated = dd.incremental_neardup_pairs(
        docs.filter(new_pred), index, **kw
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est"))
    diff = (
        gated.exceptAll(ungated)
        .unionByName(ungated.exceptAll(gated))
        .agg(F.count(F.lit(1)).alias("n_mismatched"))
    )
    banded = dd.lsh_band_index(
        docs.filter(new_pred), num_hashes=64, bands=16, shingle_k=3
    )
    pruned = (
        dd.gate_probe(banded, gate)
        .filter(F.col("__in_gate") == 0)
        .agg(
            F.when(F.count(F.lit(1)) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("gate_active")
        )
    )
    return diff.crossJoin(pruned)


def _bloom_oracle_sql() -> str:
    from tranquility_spark.operators.bloom import bloom_pos_sql

    pos_union = "\n              UNION ALL ".join(
        f"SELECT doc_id, {bloom_pos_sql('doc_id', i, 65536)} AS pos FROM corpus"
        for i in range(5)
    )
    probe_union = "\n              UNION ALL ".join(
        f"SELECT doc_id, {bloom_pos_sql('doc_id', i, 65536)} AS pos FROM documents"
        for i in range(5)
    )
    return f"""
    WITH corpus AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
         bits AS ({pos_union}),
         words AS (SELECT pos // 63 AS word_idx,
                          bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS word
                   FROM bits GROUP BY pos // 63),
         probe_bits AS ({probe_union}),
         probe AS (SELECT p.doc_id,
                          min(CASE WHEN w.word IS NOT NULL
                                    AND (w.word & (1::BIGINT <<
                                         CAST(p.pos % 63 AS INTEGER))) <> 0
                                   THEN 1 ELSE 0 END) AS in_bloom
                   FROM probe_bits p
                   LEFT JOIN words w ON p.pos // 63 = w.word_idx
                   GROUP BY p.doc_id)
    SELECT doc_id,
           CAST(in_bloom AS BIGINT) AS in_bloom,
           CAST(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS BIGINT)
               AS in_corpus
    FROM probe
    """


@register(
    "dd9_bloom_membership",
    _bloom_oracle_sql(),
    doc="Bloom-filter membership as a relational sketch (operators/bloom.py): "
    "build = explode 5 bit positions per corpus key -> ONE map-combined "
    "bit_or agg over word_idx (exchange bounded by ceil(m/63) = 1041 rows); "
    "probe = the word table folds to a one-row broadcast map and each "
    "probe row evaluates 5 mask terms inline — NO shuffle, NO join, NO "
    "groupBy on the probe side, so probing costs one scan at any corpus "
    "size. 80% of doc_ids form the filter; all docs probe it. Guarantees "
    "hash-certified here: corpus members MUST report in_bloom=1 (no false "
    "negatives), and the oracle rebuilds the identical filter bit-for-bit "
    "in DuckDB via the portable hash (production default is xxhash64 — "
    "same split as shuf1). in_corpus ships alongside so the driver row "
    "also certifies where false positives land. Mergeable family #4: "
    "bit_or-merge == direct build (OR associativity), streaming partials "
    "sink included",
)
def dd9_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    words = bloom_words(corpus, "doc_id", m_bits=65536, k=5, hash_fn="portable")
    probed = bloom_probe(
        docs, words, "doc_id", m_bits=65536, k=5, hash_fn="portable"
    )
    return probed.select(
        "doc_id",
        "in_bloom",
        F.when(F.col("doc_id") % 5 != 0, 1).otherwise(0).cast("long").alias(
            "in_corpus"
        ),
    )


def _bloom_antijoin_oracle_sql() -> str:
    from tranquility_spark.operators.bloom import bloom_pos_sql

    reg_union = "\n              UNION ALL ".join(
        f"SELECT {bloom_pos_sql('key', i, 65536)} AS pos FROM registry"
        for i in range(5)
    )
    probe_union = "\n              UNION ALL ".join(
        f"SELECT user_id, {bloom_pos_sql('user_id', i, 65536)} AS pos FROM probes"
        for i in range(5)
    )
    return f"""
    WITH registry AS (SELECT c_custkey AS key FROM customer
                      WHERE c_custkey % 3 <> 0),
         probes AS (SELECT DISTINCT user_id FROM events),
         bits AS ({reg_union}),
         words AS (SELECT pos // 63 AS word_idx,
                          bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS word
                   FROM bits GROUP BY pos // 63),
         probe_bits AS ({probe_union}),
         probe AS (SELECT p.user_id,
                          min(CASE WHEN w.word IS NOT NULL
                                    AND (w.word & (1::BIGINT <<
                                         CAST(p.pos % 63 AS INTEGER))) <> 0
                                   THEN 1 ELSE 0 END) AS in_bloom
                   FROM probe_bits p
                   LEFT JOIN words w ON p.pos // 63 = w.word_idx
                   GROUP BY p.user_id)
    SELECT p.user_id,
           CAST(p.in_bloom AS BIGINT) AS in_bloom,
           CAST(CASE WHEN p.in_bloom = 0 THEN 0
                     WHEN p.user_id IN (SELECT key FROM registry) THEN 1
                     ELSE 0 END AS BIGINT) AS is_known
    FROM probe p
    """


@register(
    "dd10_bloom_gated_antijoin",
    _bloom_antijoin_oracle_sql(),
    doc="Sketch-gated anti-join — the ingest-time 'which of these keys are "
    "genuinely new' decision at 100 TB: incoming keys probe the registry's "
    "bloom filter first, and ONLY bloom-positives take the exact join "
    "(bloom-negatives are new with certainty — no false negatives — so "
    "they skip the join entirely, which at a realistic hit-rate prunes "
    "most of the join input; the exact pass then kills the sketch's false "
    "positives). This is the explicit, certifiable form of the runtime "
    "bloom-join pushdown optimizers apply implicitly. Registry is 2/3 of "
    "customer keys so the fixture exercises hits, true-new keys, and fp "
    "verification; output certifies the FULL decision per probe key "
    "(in_bloom, is_known) against a DuckDB rebuild of the identical "
    "portable-hash filter",
)
def dd10_bloom_gated_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    registry = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select(F.col("c_custkey").alias("key"))
    )
    probes = _t(spark, sf_dir, "events").select("user_id").distinct()
    words = bloom_words(registry, "key", m_bits=65536, k=5, hash_fn="portable")
    probed = bloom_probe(
        probes, words, "user_id", m_bits=65536, k=5, hash_fn="portable"
    )
    # the probed batch feeds THREE disjoint branches (negatives skip the
    # join; positives split semi/anti) — without materialization each branch
    # re-runs the distinct + filter build + probe subtree (3x measured).
    # localCheckpoint is the dd8 pattern: the incoming batch is the bounded
    # side, the registry is the one that scales.
    probed = probed.localCheckpoint(eager=False)
    neg = probed.filter(F.col("in_bloom") == 0).withColumn(
        "is_known", F.lit(0).cast("long")
    )
    pos = probed.filter(F.col("in_bloom") == 1)
    # No broadcast hint on the registry: it is the side that scales (the
    # bounded probe side CANNOT be broadcast under left_semi/left_anti, so a
    # hint here would force an OOM at real registry sizes — ADVICE r06). AQE
    # broadcasts it when it measures small and falls back to a shuffled
    # hash/sort-merge join when it doesn't; the bloom gate has already pruned
    # the probe side to positives, which is what bounds the join input.
    known = pos.join(
        registry, pos.user_id == registry.key, "left_semi"
    ).withColumn("is_known", F.lit(1).cast("long"))
    fp_new = pos.join(
        registry, pos.user_id == registry.key, "left_anti"
    ).withColumn("is_known", F.lit(0).cast("long"))
    return neg.unionByName(known).unionByName(fp_new).select(
        "user_id", "in_bloom", "is_known"
    )


_DD14_K = 12  # window length (tokens)

# ONE definition of the anchored-window construction, shared by dd14 and
# dd15 in BOTH dialects (code-review r07: the reconciliation between the
# two entries only holds while the window/anchor definitions stay
# identical — keep them in one place).
_DD14_ANCHORED_CTE = f"""toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ws) - {_DD14_K - 1}, 0) + 1),
               i -> md5(array_to_string(ws[i:i+{_DD14_K - 1}], ' ')))) AS whash
      FROM toks WHERE len(ws) >= {_DD14_K}),
    anchored AS (
      SELECT * FROM wins WHERE substr(whash, 1, 1) IN ('0', '4', '8', 'c'))"""


def _anchored_window_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, whash) for every content-defined-anchored 12-token window.

    Stride-1 windows via element_at concat (not slice() — the
    _word_shingles lesson: slice allocates a per-window array in the map
    hot loop); the token array is let-bound so split() evaluates once per
    row, not once per window.
    """
    k = _DD14_K

    def build(toks):
        n = F.size(toks)
        return F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(k)]
                )
            ),
        )

    windows = F.element_at(
        F.transform(
            F.array(F.split(F.trim(F.col("text")), r"\s+")), build
        ),
        1,
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.filter(F.size(toks) >= k)
        .select("doc_id", F.explode(windows).alias("whash"))
        .filter(F.substring("whash", 1, 1).isin("0", "4", "8", "c"))
    )



@register(
    "dd14_duplicate_passages",
    f"""
    WITH {_DD14_ANCHORED_CTE}
    SELECT whash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(doc_id) AS first_doc
    FROM anchored
    GROUP BY whash
    HAVING count(DISTINCT doc_id) > 1
    """,
    doc="Cross-document duplicated-PASSAGE detection (the exact-substring "
    "dedup of Lee et al. 2022, 'Deduplicating Training Data Makes "
    "Language Models Better' — repeated licenses/boilerplate/memorized "
    "spans that whole-document similarity (dd2/dd4) cannot see because "
    "the surrounding documents differ): every 12-token window of every "
    "document is hashed (stride 1 — all alignments), then CONTENT-"
    "DEFINED anchor sampling keeps the 1/4 of windows whose md5 leads "
    "with 0/4/8/c — selection depends on window CONTENT, not offset, so "
    "two copies of a passage keep IDENTICAL windows regardless of where "
    "the passage starts in each document (the winnowing/CDC idea; "
    "fixed-stride sampling would miss copies whose offsets differ mod "
    "stride). A shared passage of L tokens is detected unless none of "
    "its L-11 windows anchor: miss probability (3/4)^(L-11), <0.5% at "
    "L=30. Map side computes |tokens| hashes in one narrow projection; "
    "ONLY the anchored quarter enters the shuffle, and the groupBy "
    "map-side-combines — at open-web scale raise the anchor modulus "
    "and/or add txt11's frequency-floor pre-pass for the boilerplate "
    "head. Output: one row per cross-document passage (n_docs > 1) "
    "with occurrence counts and the earliest carrier — hash-certified",
)
def dd14_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    wins = _anchored_window_hashes(_t(spark, sf_dir, "documents"))
    return (
        wins.groupBy("whash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dd15_duplication_density",
    f"""
    WITH {_DD14_ANCHORED_CTE},
    dup_hashes AS (
      SELECT whash FROM anchored GROUP BY whash
      HAVING count(DISTINCT doc_id) > 1)
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_anchored,
           CAST(sum(CASE WHEN d.whash IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           round(sum(CASE WHEN d.whash IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS dup_density
    FROM anchored a LEFT JOIN dup_hashes d USING (whash)
    GROUP BY a.doc_id
    """,
    doc="Per-DOCUMENT duplication density — the doc-level filter signal "
    "built on dd14's passage detection (the RefinedWeb/C4 'how much of "
    "this page is boilerplate someone else also has' gate): for each "
    "document, the fraction of its content-defined anchored windows "
    "whose hash also appears in ANOTHER document. Near-1.0 means the "
    "doc is substantially a copy (license pages, mirrored articles); "
    "mid-range flags template-heavy pages worth a closer look; quality "
    "stacks threshold on it like txt2/txt13. Same scan shape as dd14 "
    "(|tokens| hashes map-side, anchored quarter shuffles) plus one "
    "map-combined groupBy per doc and a join against the cross-doc "
    "hash set, which is bounded by the DUPLICATED subset, not the "
    "corpus. Docs with no anchored window (< ~16 tokens) emit no row — "
    "no density is defined for them. Hash-certified end-to-end",
)
def dd15_duplication_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    wins = _anchored_window_hashes(_t(spark, sf_dir, "documents"))
    # two consumers (dup-hash build + the density join): materialize the
    # anchored windows once instead of re-hashing the corpus per branch
    wins = wins.localCheckpoint(eager=False)
    dup_hashes = (
        wins.groupBy("whash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("whash", F.lit(1).alias("__dup"))
    )
    return (
        wins.join(dup_hashes, "whash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_anchored"),
            F.sum(F.coalesce("__dup", F.lit(0))).cast("long").alias("n_dup"),
        )
        .withColumn(
            "dup_density",
            F.round(F.col("n_dup") / F.col("n_anchored"), 6),
        )
    )


def _sbbf_oracle_sql() -> str:
    from tranquility_spark.operators.bloom import (
        sbbf_block_sql,
        sbbf_lane_key_sql,
        sbbf_mask_sql,
    )

    b = sbbf_block_sql("doc_id", 128)
    lk = sbbf_lane_key_sql("doc_id")
    lane_aggs = ",\n                   ".join(
        f"bit_or({sbbf_mask_sql('lane_key', i)}) AS w{i}" for i in range(8)
    )
    hit_terms = "\n                           AND ".join(
        f"(b.w{i} & {sbbf_mask_sql('p.lane_key', i)}) <> 0" for i in range(8)
    )
    return f"""
    WITH corpus AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0),
         keyed AS (SELECT {b} AS block_idx, {lk} AS lane_key FROM corpus),
         blocks AS (SELECT block_idx,
                   {lane_aggs}
                    FROM keyed GROUP BY block_idx),
         probes AS (SELECT doc_id, {b} AS block_idx, {lk} AS lane_key
                    FROM documents),
         probe AS (SELECT p.doc_id,
                          CASE WHEN b.block_idx IS NOT NULL
                                AND {hit_terms}
                               THEN 1 ELSE 0 END AS in_sbbf
                   FROM probes p LEFT JOIN blocks b USING (block_idx))
    SELECT doc_id,
           CAST(in_sbbf AS BIGINT) AS in_sbbf,
           CAST(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END AS BIGINT)
               AS in_corpus
    FROM probe
    """


@register(
    "dd12_blocked_bloom",
    _sbbf_oracle_sql(),
    doc="Split-block bloom membership (operators/bloom.py#sbbf_blocks) — the "
    "BEYOND-BROADCAST-FIT path dd9 cannot take: dd9's probe folds the filter "
    "into a one-row broadcast map, optimal until a 100 TB registry wants "
    "gigabytes of filter. This is the Parquet split-block layout "
    "(parquet-format BloomFilter.md: 32-byte blocks of 8x32-bit lanes, one "
    "bit per lane via the 8 public salt constants): ALL of a key's bits land "
    "in ONE block, so build = one groupBy(block_idx) with 8 lane-wise "
    "bit_or aggs, and probe = ONE equi-join on block_idx per key — no x8 "
    "explode, no broadcast requirement; persist the block table bucketed on "
    "block_idx and the filter side joins with NO Exchange at any size "
    "(plan-asserted in tests/test_bucketed.py). 6/7 of doc_ids form the "
    "filter; all docs probe it; in_corpus ships alongside so the driver row "
    "certifies no-false-negatives AND where false positives land. The "
    "oracle rebuilds the identical portable-hash block table in DuckDB "
    "(production default xxhash64); lane arithmetic is capped at 31-bit "
    "keys so salt*key stays inside signed-64 on both engines. Mergeable "
    "family #4b: lane-wise bit_or merge == direct build, replay-idempotent, "
    "streaming partials sink included",
)
def dd12_blocked_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.bloom import sbbf_blocks, sbbf_probe

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    blocks = sbbf_blocks(corpus, "doc_id", n_blocks=128, hash_fn="portable")
    probed = sbbf_probe(docs, blocks, "doc_id", n_blocks=128, hash_fn="portable")
    return probed.select(
        "doc_id",
        "in_sbbf",
        F.when(F.col("doc_id") % 7 != 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("in_corpus"),
    )


@register(
    "dd3_simhash_signatures",
    None,  # blake2b-based bit votes — no SQL twin
    doc="SimHash 64-bit signatures via Arrow-batched pandas UDF (near-dup = small "
    "Hamming distance; banding over bit-slices gives the scale path)",
)
def dd3_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_signatures(_t(spark, sf_dir, "documents"))


@register(
    "dd3b_simhash_partition_invariance",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd3 (r12 rows-only-tail "
    "deepening, the a10e2 adversarial-repartition shape): the full "
    "(doc_id, simhash) signature set computed on the base frame must "
    "equal the set computed on a copy repartitioned by an unrelated "
    "content hash — 17 partitions keyed on crc32(text), which reshapes "
    "every Arrow batch the pandas UDF sees. A green hash certifies the "
    "blake2b bit-vote signature is a pure per-row function of the text "
    "(no batch-order, batch-boundary or partition-layout dependence — "
    "the property that makes dd3 signatures stable across cluster "
    "layouts and reruns at 100 TB). Symmetric difference as a count row "
    "vs the constant-0 oracle; both_nonempty certifies non-vacuousness. "
    "Not in the bench headline: dd3 carries the measured row",
)
def dd3b_simhash_partition_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = dd.simhash_signatures(docs)
    shuffled = dd.simhash_signatures(
        docs.repartition(17, F.crc32(F.col("text")))
    )
    return _equality_probe(base, shuffled)


_DD4_ORACLE = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 300
),
shingled AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM docs WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
"""


_RANK1_ORACLE = """
WITH docs_slice AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id < 1000
),
shingled AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM docs_slice WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT id_a, id_b,
         round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS cand_jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.3
),
feats AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(text), '\\s+')) AS w,
         length(text) AS ln
  FROM docs_slice
)
SELECT c.id_a, c.id_b, c.cand_jaccard,
       round(0.8 * (len(list_intersect(fa.w, fb.w)) * 1.0
                    / (len(fa.w) + len(fb.w) - len(list_intersect(fa.w, fb.w))))
             + 0.2 * (least(fa.ln, fb.ln) * 1.0 / greatest(fa.ln, fb.ln, 1)),
             6) AS ce_score
FROM cand c
JOIN feats fa ON c.id_a = fa.doc_id
JOIN feats fb ON c.id_b = fb.doc_id
ORDER BY ce_score DESC, id_a, id_b
LIMIT 100
"""


@register(
    "rank1_pair_rerank",
    _RANK1_ORACLE,
    doc="Retrieve-then-rerank over near-dup candidates: dd4's exact 3-gram "
    "candidate generator (doc_id<1000 slice, threshold 0.3 for a wider "
    "pool) feeds pair_rerank, which scores each pair from BOTH texts — "
    "deterministic lexical cross-encoder stand-in (0.8 · distinct-word "
    "Jaccard + 0.2 · char-length ratio), top-100 with unique-key "
    "tie-break. At scale the candidate stage is dd2/dd8 LSH (this "
    "SQL-checkable slice exists for the oracle); the reranker moves only "
    "candidate pairs through two id-keyed joins, scoring JVM-side — swap "
    "in a real model via mapInPandas without touching either join",
)
def rank1_pair_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    cand = dd.ngram_jaccard_pairs(docs, min_jaccard=0.3, shingle_k=3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("cand_jaccard")
    )
    return (
        dd.pair_rerank(cand, docs)
        .select("id_a", "id_b", "cand_jaccard", "ce_score")
        .orderBy(F.col("ce_score").desc(), "id_a", "id_b")
        .limit(100)
    )


@register(
    "dd4_ngram_jaccard",
    _DD4_ORACLE,
    doc="Exact 3-gram Jaccard near-dup pairs (the MinHash verifier), SQL-checkable on a "
    "doc_id<300 slice — explode shingles → co-occurrence join → |A∩B|/|A∪B|. "
    "At scale this runs only on LSH candidates, never the full corpus",
)
def dd4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dd.ngram_jaccard_pairs(docs, min_jaccard=0.5, shingle_k=3)


@register(
    "dd5_embedding_neardup",
    None,  # hyperplane LSH buckets are seed-defined — rows-only
    doc="Embedding-cosine near-dup pairs via multi-table hyperplane LSH (8 tables "
    "× 4 planes, the banding construction) + exact cosine verify on deduped "
    "candidates. Precision exact by construction; recall floor vs the "
    "brute-force twin asserted in tests/test_quality_bounds.py. Threshold "
    "tuned to this corpus: max off-diagonal cosine ≈ 0.51, so 0.35 "
    "demonstrates the pipeline with non-empty output",
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, num_planes=4, num_tables=8
    )


@register(
    "dd5b_lsh_precision_recall_contract",
    """
    SELECT CAST(1 AS BIGINT) AS lsh_subset_of_exact,
           CAST(1 AS BIGINT) AS exact_nonempty,
           CAST(1 AS BIGINT) AS recall_floor_met,
           CAST(1 AS BIGINT) AS rerun_identical
    """,
    doc="Driver-certified contract probe for dd5 (r12 rows-only-tail "
    "deepening): the hyperplane-LSH near-dup pipeline's precision/recall "
    "obligations evaluated on a vec_id<1000 slice (the dd4 "
    "SQL-checkable-slice precedent — per-pair collision probability is "
    "corpus-size-independent, so the slice measures the same trade) and "
    "hash-checked against the constant (1,1,1,1) oracle. "
    "lsh_subset_of_exact: every emitted pair re-verifies against the "
    "EXACT all-pairs cosine twin built Spark-side (per-vector v/norm "
    "computed once, broadcast nested-loop over the bounded slice, the "
    "SAME unrounded fold expression the operator filters on — precision "
    "1.0 by construction, now driver-checked). recall_floor_met: "
    "|got∩exact|/|exact| >= 0.65, the tests' measured floor (0.763/"
    "0.745 at sf0.001/0.01; theory 1-(1-p^4)^8 ~ 0.70 at p~0.61). "
    "rerun_identical: the seed-fixed construction reproduces the pair "
    "set exactly (no join-order or distinct nondeterminism). Not in "
    "the bench headline: dd5 carries the measured row",
)
def dd5b_lsh_precision_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    got = (
        dd.embedding_neardup_pairs(
            emb, threshold=0.35, num_planes=4, num_tables=8
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    got2 = dd.embedding_neardup_pairs(
        emb, threshold=0.35, num_planes=4, num_tables=8
    ).select("id_a", "id_b")
    vd = sim._as_double(F.col("embedding"))
    base = emb.select(
        "vec_id", vd.alias("v"), sim.norm(vd).alias("nrm")
    ).localCheckpoint(eager=False)
    a, b = base.alias("a"), base.alias("b")
    exact = (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (
                sim.dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    subset = got.join(exact, ["id_a", "id_b"], "left_anti").agg(
        (F.count(F.lit(1)) == 0).cast("long").alias("lsh_subset_of_exact")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("__ne"))
    n_hit = got.join(exact, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__nh")
    )
    recall = (
        n_exact.crossJoin(F.broadcast(n_hit)).select(
            (F.col("__ne") > 0).cast("long").alias("exact_nonempty"),
            (
                F.col("__nh").cast("double")
                >= F.lit(0.65) * F.col("__ne").cast("double")
            )
            .cast("long")
            .alias("recall_floor_met"),
        )
    )
    rerun = _rerun_identical(got, got2)
    return (
        subset.crossJoin(F.broadcast(recall)).crossJoin(F.broadcast(rerun))
        .select(
            "lsh_subset_of_exact",
            "exact_nonempty",
            "recall_floor_met",
            "rerun_identical",
        )
    )


def _dd13_centroids() -> list[list[float]]:
    """Deterministic 6-dp centroid literals in [-1, 1], shared verbatim by
    the Spark expression and the SQL oracle — REUSES the certified emb6
    literal-matrix generator rather than a second bespoke formula
    (code-review r07: one generator to keep in lockstep with oracles).
    seed=13 decorrelates from emb6's projection (seed=7)."""
    from tranquility_spark.operators.embeddings import projection_matrix

    return projection_matrix(8, 64, seed=13)


_DD13_CENTROIDS = _dd13_centroids()
_DD13_TAU = 0.35


def _dd13_oracle_sql() -> str:
    cos_cols = ",\n           ".join(
        "round(list_cosine_similarity(v, ["
        + ", ".join(repr(x) for x in c)
        + f"]), 6) AS c{j}"
        for j, c in enumerate(_DD13_CENTROIDS)
    )
    n = len(_DD13_CENTROIDS)
    assign = " ".join(f"WHEN c{j} = g THEN {j}" for j in range(n))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
    SELECT vec_id, v,
           {cos_cols}
    FROM e),
    assigned AS (
      SELECT vec_id, v, CASE {assign} END AS cluster_id
      FROM (SELECT *, greatest({", ".join(f"c{j}" for j in range(n))}) AS g
            FROM scored)),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM assigned a JOIN assigned b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) > {_DD13_TAU}),
    counts AS (SELECT cluster_id, count(*) AS n_in_cluster
               FROM assigned GROUP BY cluster_id),
    dropped AS (SELECT DISTINCT ib AS vec_id FROM pairs)
    SELECT a.vec_id,
           CAST(a.cluster_id AS BIGINT) AS cluster_id,
           CAST(c.n_in_cluster AS BIGINT) AS n_in_cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS keep
    FROM assigned a
    JOIN counts c USING (cluster_id)
    LEFT JOIN dropped d USING (vec_id)
    """


_SAMP9_M = 1_000_000


def _samp9_oracle_sql() -> str:
    # assignment fragments rebuilt from the SAME _DD13_CENTROIDS literals
    # (one generator — the dialects cannot drift on the centroid values)
    from tranquility_spark.operators.partitioning import portable_shard_sql

    cos_cols = ",\n           ".join(
        "round(list_cosine_similarity(v, ["
        + ", ".join(repr(x) for x in c)
        + f"]), 6) AS c{j}"
        for j, c in enumerate(_DD13_CENTROIDS)
    )
    n = len(_DD13_CENTROIDS)
    assign = " ".join(f"WHEN c{j} = g THEN {j}" for j in range(n))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
    SELECT vec_id, v,
           {cos_cols}
    FROM e),
    assigned AS (
      SELECT vec_id, CASE {assign} END AS cluster_id
      FROM (SELECT *, greatest({", ".join(f"c{j}" for j in range(n))}) AS g
            FROM scored)),
    sized AS (
      SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                 AS n_in_cluster
      FROM assigned)
    SELECT vec_id, cluster_id, n_in_cluster,
           CAST(CASE WHEN {portable_shard_sql("vec_id", _SAMP9_M)}
                     < CAST(floor({_SAMP9_M} / sqrt(n_in_cluster)) AS BIGINT)
                THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM sized
    """


@register(
    "samp9_cluster_downweight",
    _samp9_oracle_sql(),
    doc="Cluster-size down-weighting — SOFT semantic dedup (the softened "
    "form of dd13, the D4/DataComp-style recipe): instead of dropping "
    "near-duplicates outright, each document is admitted with "
    "probability n^-0.5 of its semantic cluster's size, so a cluster of "
    "n near-alike documents contributes ~sqrt(n) training examples — "
    "big templated families are collapsed hard while modest repetition "
    "keeps its (diminishing) signal. Assignment is dd13's certified "
    "argmax against the SAME 8 literal centroids; the cluster size is a "
    "window count over the assignment (ONE consumption — no agg+join "
    "branch, the r8 single-pass rule); admission is the deterministic "
    "portable shard of vec_id against floor(M/sqrt(n)) — an integer "
    "compare, engine-identical (sqrt+floor evaluate on the same BIGINT "
    "in both dialects). NO pair join at all: this is the cheap gate a "
    "pipeline can afford on every cycle, with dd13's exact pair pass "
    "reserved for the survivors. Scale: narrow argmax projection + one "
    "cluster_id window + per-row arithmetic",
)
def samp9_cluster_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tranquility_spark.operators.partitioning import portable_shard
    from tranquility_spark.operators.similarity import (
        _as_double,
        cosine,
        double_array_lit,
    )

    n = len(_DD13_CENTROIDS)
    e = _t(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    cos_cols = [
        F.round(cosine(v, double_array_lit(c)), 6).alias(f"c{j}")
        for j, c in enumerate(_DD13_CENTROIDS)
    ]
    scored = e.select("vec_id", *cos_cols)
    best = F.greatest(*[F.col(f"c{j}") for j in range(n)])
    assign = F.when(F.col("c0") == best, 0)
    for j in range(1, n):
        assign = assign.when(F.col(f"c{j}") == best, j)
    assigned = scored.select("vec_id", assign.cast("long").alias("cluster_id"))
    w = Window.partitionBy("cluster_id")
    sized = assigned.withColumn(
        "n_in_cluster", F.count(F.lit(1)).over(w)
    )
    threshold = F.floor(
        F.lit(_SAMP9_M) / F.sqrt(F.col("n_in_cluster"))
    ).cast("long")
    return sized.select(
        "vec_id",
        "cluster_id",
        "n_in_cluster",
        (portable_shard(F.col("vec_id"), _SAMP9_M) < threshold)
        .cast("long")
        .alias("admitted"),
    )


@register(
    "dd13_semantic_dedup",
    _dd13_oracle_sql(),
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, public "
    "paper): embeddings are clustered, and near-identical pairs are "
    "sought ONLY within a cluster — the O(n^2) pair space collapses to "
    "sum(cluster^2), which is the whole reason semantic dedup runs at "
    "corpus scale. Assignment here is argmax-cosine against 8 "
    "deterministic 6-dp literal centroids (ties break on lowest index "
    "via identical CASE order in both engines) so the ENTIRE pipeline — "
    "assignment, within-cluster pairwise cosine > tau, drop-the-higher-"
    "id survivor rule — is hash-certified against the DuckDB rebuild; "
    "production swaps the literal centroids for sim3's k-means build "
    "(same argmax shape) where certification hands off to the dd5-style "
    "recall bound. Scale: assignment is a narrow shuffle-free "
    "projection; the self-join shuffles on cluster_id with pair cost "
    "bounded by the largest cluster (at production C~sqrt(N) clusters "
    "the quadratic term vanishes); cross-cluster near-dups are invisible "
    "BY DESIGN — the measured recall trade vs the unclustered dd5 twin "
    "is asserted in tests/test_quality_bounds.py",
)
def dd13_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.similarity import (
        _as_double,
        cosine,
        dot,
        double_array_lit,
        norm,
    )

    n = len(_DD13_CENTROIDS)
    e = _t(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    cos_cols = [
        F.round(
            cosine(v, double_array_lit(c)), 6
        ).alias(f"c{j}")
        for j, c in enumerate(_DD13_CENTROIDS)
    ]
    scored = e.select("vec_id", "embedding", *cos_cols)
    best = F.greatest(*[F.col(f"c{j}") for j in range(n)])
    assign = F.when(F.col("c0") == best, 0)
    for j in range(1, n):
        assign = assign.when(F.col(f"c{j}") == best, j)
    assigned = scored.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        # norm once per VECTOR here, not per PAIR inside the join — the
        # join evaluates |pairs| >> |vecs| rows and the norm is the
        # expensive aggregate-lambda half of the cosine
        norm(_as_double(F.col("embedding"))).alias("nrm"),
        assign.cast("long").alias("cluster_id"),
    )
    # three consumers below (pairs' two sides + the final projection):
    # materialize once so the 8-way cosine argmax isn't recomputed per branch.
    # The repartition spreads the pair join's per-pair dot (the dominant
    # cost, interpreted higher-order fold) across all cores — a small
    # parquet input otherwise leaves the streamed join side on ONE
    # partition (measured 4.7s -> 1.3s at sf0.1 on local[32]); sized to
    # the cluster, not a literal (code-review r07)
    assigned = assigned.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=False)
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") > _DD13_TAU)
    )
    dropped = pairs.select("vec_id").distinct().withColumn(
        "__dup", F.lit(1)
    )
    counts = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_in_cluster")
    )
    return (
        assigned.join(F.broadcast(counts), "cluster_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "n_in_cluster",
            F.when(F.col("__dup").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("keep"),
        )
    )


@register(
    "dd13b_kmeans_semantic_dedup",
    None,  # k-means centroids come from a collect-based iterative build —
    # rows-only; the pair-fold bound + determinism + drop-semantics are
    # asserted in tests/test_dedup_similarity.py
    doc="The EXECUTABLE production story dd13 and samp9 describe in prose: "
    "sim3's deterministic k-means build (operators/similarity.py#"
    "ivf_centroids — hash-sample seeds + one Lloyd pass, same per-corpus "
    "cache as sim3) feeds operators/dedup.py#semantic_dedup, the "
    "SemDeDup pipeline over arbitrary centroids with the numpy-matmul "
    "assignment UDF in place of dd13's literal-centroid CASE argmax. "
    "Certification hands off exactly as dd13's docstring says it must: "
    "dd13 hash-certifies the pipeline SHAPE against DuckDB on literal "
    "centroids; this entry proves the learned-centroid composition runs "
    "end-to-end, and its tests pin what an oracle cannot — rerun "
    "determinism, the sum(cluster^2) pair-fold bound that makes semantic "
    "dedup sub-quadratic, and the within-cluster drop semantics. Scale: "
    "the centroid build is the only iterative piece (one TakeOrdered + "
    "one bounded corpus pass, C x dim floats on the driver); everything "
    "downstream is dd13's shuffle-on-cluster_id shape",
)
def dd13b_kmeans_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        _index_cache_key(sf_dir),
        lambda: sim.ivf_centroids(e, n_centroids=16),
    )
    return semantic_dedup(e, cents, tau=_DD13_TAU)


@register(
    "dd13c_learned_centroid_contract",
    """
    SELECT CAST(1 AS BIGINT) AS keep_rule_exact,
           CAST(1 AS BIGINT) AS sizes_consistent,
           CAST(1 AS BIGINT) AS assignment_near_optimal,
           CAST(1 AS BIGINT) AS centroid_build_deterministic
    """,
    doc="Driver-certified contract probe for dd13b (r12 rows-only-tail "
    "deepening — the certification handoff dd13's docstring promises, "
    "now driver-checked on the LEARNED-centroid path): the SemDeDup "
    "obligations as booleans vs the constant (1,1,1,1) oracle. "
    "keep_rule_exact: every keep flag equals the rule recomputed from "
    "scratch in pure Spark expressions — a vec is dropped iff a "
    "lower-id partner in ITS cluster has round-6 cosine > tau (the "
    "same fold expressions dd13 hash-certifies against DuckDB, here "
    "applied to the UDF's assignment). sizes_consistent: the reported "
    "n_in_cluster equals a window count over the output itself. "
    "assignment_near_optimal: each vec's cosine to its assigned "
    "centroid is within 1e-9 of the max over all learned centroids, "
    "computed via Spark literal-array folds — certifies the numpy-"
    "matmul argmax agrees with independent JVM arithmetic. "
    "centroid_build_deterministic: two fresh ivf_centroids builds AND "
    "the two-level cache all agree element-for-element (TakeOrdered "
    "seeds + one Lloyd pass are order-independent; the sidecar "
    "round-trips floats exactly). Not in the bench headline: dd13b "
    "carries the measured row",
)
def dd13c_learned_centroid_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tranquility_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        _index_cache_key(sf_dir),
        lambda: sim.ivf_centroids(e, n_centroids=16),
    )
    cents_a = sim.ivf_centroids(e, n_centroids=16)
    cents_b = sim.ivf_centroids(e, n_centroids=16)
    det = int(cents_a == cents_b and cents == cents_a)

    out = semantic_dedup(e, cents, tau=_DD13_TAU).localCheckpoint(eager=False)
    vd = sim._as_double(F.col("embedding"))
    base = e.select("vec_id", vd.alias("v"), sim.norm(vd).alias("nrm"))
    assigned = (
        out.select("vec_id", "cluster_id")
        .join(base, "vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped_expected = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.round(
                sim.dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("__cos"),
        )
        .filter(F.col("__cos") > _DD13_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("__d", F.lit(1))
    )
    keep_cmp = out.join(dropped_expected, "vec_id", "left").agg(
        F.min(
            F.col("keep")
            == F.when(F.col("__d").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("keep_rule_exact")
    )
    w = Window.partitionBy("cluster_id")
    sizes = out.withColumn("__n", F.count(F.lit(1)).over(w)).agg(
        F.min(F.col("n_in_cluster") == F.col("__n"))
        .cast("long")
        .alias("sizes_consistent")
    )
    cos_cols = [
        sim.cosine(
            F.col("v"), sim.double_array_lit(c)
        ).alias(f"__c{j}")
        for j, c in enumerate(cents)
    ]
    scored = assigned.select("cluster_id", *cos_cols)
    assigned_cos = F.when(F.col("cluster_id") == 0, F.col("__c0"))
    for j in range(1, len(cents)):
        assigned_cos = assigned_cos.when(
            F.col("cluster_id") == j, F.col(f"__c{j}")
        )
    best = F.greatest(*[F.col(f"__c{j}") for j in range(len(cents))])
    optimal = scored.agg(
        F.min(assigned_cos >= best - F.lit(1e-9))
        .cast("long")
        .alias("assignment_near_optimal")
    )
    return (
        keep_cmp.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(optimal))
        .withColumn("centroid_build_deterministic", F.lit(det).cast("long"))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "sim1_cosine_topk",
    """
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        q.qv), 6) AS cosine
    FROM embeddings e
    CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force exact cosine top-k (query = vec_id 0, looked up via broadcast "
    "cross-join — no collect). Scan is embarrassingly parallel; top-k is "
    "TakeOrderedAndProject. The baseline the ANN path must beat",
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk_self(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


@register(
    "sim4_bq_rerank",
    f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                      {_EMB5_WORD_SQL.format(lo=1, hi=32)} AS w0,
                      {_EMB5_WORD_SQL.format(lo=33, hi=64)} AS w1
               FROM embeddings),
         q AS (SELECT w0 AS q0, w1 AS q1, ev AS qv FROM b WHERE vec_id = 0),
         cand AS (SELECT b.vec_id, b.ev, q.qv,
                         CAST(bit_count(xor(b.w0, q.q0)) +
                              bit_count(xor(b.w1, q.q1)) AS BIGINT) AS hamming
                  FROM b, q WHERE b.vec_id <> 0
                  ORDER BY hamming, b.vec_id LIMIT 200)
    SELECT vec_id, hamming,
           round(list_cosine_similarity(ev, qv), 6) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc="Two-stage ANN, the standard quantize-then-rescore pattern: stage 1 "
    "ranks the corpus by Hamming distance over emb5's sign-bit words "
    "(whole-stage-codegen bit_count(xor), TakeOrdered(200), no shuffle) "
    "and only the 200 survivors pay stage 2's exact cosine rerank — at "
    "100 TB the expensive float math runs on a constant-size candidate "
    "set while the full corpus sees only two longs per row. Both stages "
    "deterministic (hamming and cosine ties break on vec_id), so the "
    "ENTIRE retrieve-then-rescore chain is hash-certified against the "
    "DuckDB rebuild — unlike seed-defined LSH (sim2) this ANN path has a "
    "full SQL oracle",
)
def sim4_bq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.embeddings import binary_quantize, hamming
    from tranquility_spark.operators.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    w0, w1 = binary_quantize(F.col("embedding"))
    b = e.select("vec_id", "embedding", w0.alias("w0"), w1.alias("w1"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    cand = (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "qv",
            hamming(F.col("w0"), F.col("w1"), F.col("q0"), F.col("q1")).alias(
                "hamming"
            ),
        )
        .orderBy("hamming", "vec_id")
        .limit(200)
    )
    return (
        cand.select(
            "vec_id",
            "hamming",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "sim2_lsh_topk",
    None,  # bucket membership is seed-defined — rows-only; recall vs sim1 asserted in tests
    doc="ANN top-k via query-directed multi-probe hyperplane LSH (Lv et al.): "
    "probe the 5 of 16 buckets with the smallest flipped-margin cost → ~3× "
    "scan reduction. On a bucket-partitioned layout the bucket IN-list "
    "becomes partition pruning (IVF-style). This corpus (near-uniform random "
    "embeddings, neighbors at ~60°) is the adversarial case for sign-bit LSH "
    "— recall floor vs sim1 asserted in tests/test_quality_bounds.py; sim3 "
    "IVF is the high-recall scale path",
)
def sim2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    # exclude the query row itself, matching sim1's neighbor semantics
    return sim.lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10, num_planes=4)


@register(
    "sim2b_lsh_topk_contract",
    """
    SELECT CAST(1 AS BIGINT) AS scores_exact,
           CAST(1 AS BIGINT) AS k_rows,
           CAST(1 AS BIGINT) AS recall_floor_met,
           CAST(1 AS BIGINT) AS rerun_identical
    """,
    doc="Driver-certified contract probe for sim2 (r12 rows-only-tail "
    "deepening): the multi-probe LSH top-k's obligations as booleans vs "
    "the constant (1,1,1,1) oracle. scores_exact: every returned cosine "
    "equals the true 6-dp cosine recomputed independently for that "
    "vec_id — the approximation is ONLY in which candidates get "
    "scanned, never in the scores (so a served score can be trusted "
    "downstream, e.g. by rank2's fusion). k_rows: the probed buckets "
    "hold at least k rows at driver scale, so the entry returns exactly "
    "k. recall_floor_met: recall@10 vs sim1's exact top-10 >= 0.4 — the "
    "tests' measured floor on this corpus (0.5/0.4 at sf0.001/0.01; "
    "near-uniform embeddings are sign-bit LSH's adversarial case, the "
    "reason sim3 IVF is the high-recall path). rerun_identical: the "
    "seed-fixed probe-set choice and scan reproduce the result exactly. "
    "Not in the bench headline: sim2 carries the measured row",
)
def sim2b_lsh_topk_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    corpus = emb.filter(F.col("vec_id") != 0)
    ann = sim.lsh_topk(
        corpus, qvec, k=10, num_planes=4
    ).localCheckpoint(eager=False)
    ann2 = sim.lsh_topk(corpus, qvec, k=10, num_planes=4)
    exact = sim.cosine_topk_self(emb, query_id=0, k=10)
    qarr = sim.double_array_lit(qvec)
    rescored = corpus.select(
        "vec_id",
        F.round(sim.cosine(sim._as_double(F.col("embedding")), qarr), 6).alias(
            "__true_cos"
        ),
    )
    scores = ann.join(rescored, "vec_id").agg(
        F.min(F.col("cosine") == F.col("__true_cos"))
        .cast("long")
        .alias("scores_exact")
    )
    k_rows = ann.agg(
        (F.count(F.lit(1)) == 10).cast("long").alias("k_rows")
    )
    recall = ann.join(exact.select("vec_id"), "vec_id", "left_semi").agg(
        (F.count(F.lit(1)) >= 4).cast("long").alias("recall_floor_met")
    )
    rerun = _rerun_identical(ann, ann2)
    return (
        scores.crossJoin(F.broadcast(k_rows))
        .crossJoin(F.broadcast(recall))
        .crossJoin(F.broadcast(rerun))
    )


_IVF_INDEX_CACHE: dict = {}


def _index_cache_root() -> str:
    import os
    import tempfile

    return os.environ.get("SPARK_GRAFT_INDEX_DIR") or os.path.join(
        tempfile.gettempdir(), "tranquility_spark_ann_index"
    )


# Bumped whenever an index BUILDER's output changes for the same data
# (r12: the Lloyd/PQ means moved from float avg to decimal accumulation —
# values shift in the last ulps, so every sidecar and layout digest must
# roll or a stale sidecar would disagree with a fresh build and break the
# dd13c/sim3c equality certifications) OR the on-disk layout protocol
# changes (r13: the served-index tables moved to the shared
# _served_index_table protocol with a renamed `_meta.json` sidecar — an
# explicit version roll beats a pre-roll cache dir silently half-matching
# the new protocol and triggering an unintended in-place rebuild).
_INDEX_FORMAT_VERSION = 3


def _index_cache_digest(kind: str, ck: tuple) -> str:
    import hashlib

    return hashlib.sha256(
        repr((kind, _INDEX_FORMAT_VERSION, ck)).encode("utf-8")
    ).hexdigest()[:24]


def _index_sidecar_path(kind: str, ck: tuple) -> str:
    """Disk sidecar for a bounded ANN index (VERDICT r9 #5): the
    per-process dicts die with the session, so a fresh session used to
    pay the full centroid/codebook rebuild. The index is C x dim floats —
    kilobytes — so it spills to a JSON sidecar named by the SAME
    invalidation key the in-process cache uses (sf_dir + parquet
    mtime/size fingerprint): a regenerated fixture changes the digest and
    the stale sidecar is simply never read again. Root defaults to a
    machine-local cache dir; production points SPARK_GRAFT_INDEX_DIR at
    the serving index store."""
    import os

    return os.path.join(
        _index_cache_root(), f"{kind}-{_index_cache_digest(kind, ck)}.json"
    )


def _load_index_sidecar(kind: str, ck: tuple):
    """Best-effort sidecar read; returns None on miss/corruption (the
    caller rebuilds — the cache can never produce a wrong index, only a
    slow first query)."""
    import json
    import os

    path = _index_sidecar_path(kind, ck)
    try:
        with open(path, encoding="utf-8") as fh:
            payload = json.load(fh)
        if payload.get("key") == repr(ck):
            return payload["index"]
    except (OSError, ValueError, KeyError):
        pass
    return None


def _store_index_sidecar(kind: str, ck: tuple, index) -> None:
    """Atomic best-effort sidecar write (tmp + rename — a concurrent
    session never observes a half-written file)."""
    import json
    import os

    path = _index_sidecar_path(kind, ck)
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"key": repr(ck), "index": index}, fh)
        os.replace(tmp, path)
    except OSError:
        pass  # cache is an optimization, never a failure


def _cached_index(kind: str, mem_cache: dict, ck: tuple, build):
    """Two-level index cache: in-process dict -> disk sidecar -> build.
    Every level is keyed by the same (sf_dir, fingerprint) tuple; a build
    populates both levels."""
    idx = mem_cache.get(ck)
    if idx is not None:
        return idx
    # evict stale fingerprints for this path (regenerated fixture)
    for k in [k for k in mem_cache if k[0] == ck[0]]:
        del mem_cache[k]
    idx = _load_index_sidecar(kind, ck)
    if idx is None:
        idx = build()
        _store_index_sidecar(kind, ck, idx)
    mem_cache[ck] = idx
    return idx


def _index_cache_key(sf_dir: str, table: str = "embeddings") -> tuple:
    """Cache key for per-corpus ANN indexes: (sf_dir, data fingerprint).

    The fingerprint is the (mtime_ns, size) of the backing parquet (file or
    directory of part files), so regenerating the fixture at the SAME path
    within a long-lived session invalidates the cached index instead of
    silently serving centroids/codebooks built from the old data — the
    exact stale-index hazard the pq_topk docstring warns about (ADVICE r07).
    """
    import os

    path = f"{sf_dir}/{table}.parquet"
    try:
        if os.path.isdir(path):
            fp = tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in os.scandir(path)
                )
            )
        else:
            st = os.stat(path)
            fp = (st.st_mtime_ns, st.st_size)
    except OSError:  # non-local path (e.g. hdfs://) — fall back to path-only
        fp = ()
    return (sf_dir, fp)


@register(
    "sim3_ivf_topk",
    None,  # probe set is index-defined — rows-only; recall vs sim1 asserted in tests
    doc="ANN top-k via IVF: deterministic centroids (hash-sample seeds + one "
    "Lloyd pass), numpy-matmul assignment UDF, driver-side centroid ranking, "
    "probe nprobe/n_centroids of the data. Written partitionBy(centroid_id) "
    "the probe filter is pure partition pruning — the 100 TB serving shape",
)
def sim3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    # centroids are deterministic per corpus — build once, reuse per query
    # (index reuse is the IVF serving shape; rebuilding per query would be
    # like re-training an index per lookup)
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        _index_cache_key(sf_dir),
        lambda: sim.ivf_centroids(emb, n_centroids=16),
    )
    return sim.ivf_topk(emb, qvec, k=10, nprobe=4, centroids=cents)


def _ivf_layout_path(ck: tuple) -> str:
    """Directory for the persisted partitionBy(centroid_id) layout, named
    by the same invalidation digest as the centroid sidecars — a
    regenerated fixture changes the digest and the stale layout is never
    opened again."""
    import os

    return os.path.join(
        _index_cache_root(), f"ivflayout-{_index_cache_digest('ivflayout', ck)}"
    )


@register(
    "sim3b_ivf_persisted_serving",
    None,  # probe set is index-defined — rows-only (sim3 policy); equality
    # to sim3's inline path is asserted in tests
    doc="ANN serving from the PERSISTED IVF layout (r10 — sim3's '100 TB "
    "shape' prose made an executable entry): first touch per corpus "
    "writes the embeddings partitionBy(centroid_id) with a validated "
    "_ivf_meta.json sidecar (similarity.py#ivf_index_write, same "
    "(sf_dir, parquet fingerprint) invalidation key as the centroid "
    "cache); every query after that is ivf_topk_indexed — driver-side "
    "centroid ranking + a literal centroid_id IN filter the planner "
    "turns into PURE partition pruning (plan-asserted: IN-list in "
    "PartitionFilters, DataFilters empty), exact cosine + TakeOrdered "
    "inside the probed lists. Results equal sim3's inline path with the "
    "same cached centroids (test-asserted). At 100 TB: query cost is "
    "~nprobe/C of the FILES, not a full scan with a residual filter",
)
def sim3b_ivf_persisted_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    ck = _index_cache_key(sf_dir)
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        ck,
        lambda: sim.ivf_centroids(emb, n_centroids=16),
    )
    layout = _ivf_layout_path(ck)
    if not os.path.exists(os.path.join(layout, "_ivf_meta.json")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        # atomic first touch (VERDICT r14 #2): data + _ivf_meta.json stage
        # together, one rename publishes the complete layout
        publish_layout_atomic(
            layout,
            lambda stage: sim.ivf_index_write(emb, cents, stage),
            is_complete=lambda p: os.path.exists(
                os.path.join(p, "_ivf_meta.json")
            ),
        )
    return sim.ivf_topk_indexed(spark, layout, qvec, k=10, nprobe=4)


_PQ_INDEX_CACHE: dict = {}


@register(
    "sim5b_ivfpq_persisted_serving",
    None,  # probe set is index-defined — rows-only (sim3/sim5 policy);
    # equality to the manual probe+ADC composition asserted in tests
    doc="ANN serving from the persisted IVF-PQ layout (r10) — the full "
    "billion-scale ladder as one entry: first touch per corpus writes "
    "PQ codes partitionBy(centroid_id) with centroids AND codebooks "
    "pinned in the meta sidecar (similarity.py#ivfpq_index_write, the "
    "sim3b invalidation key); queries are partition-pruned scans of the "
    "probed lists, ADC over the stored 4-byte codes (literal-array "
    "lookups in codegen — no UDF, no join), then exact-cosine rerank of "
    "the shortlist. At 100 TB: IVF bounds WHICH files are read "
    "(~nprobe/C), PQ bounds WHAT each scanned row costs (16x smaller "
    "than the vectors), and only the shortlist ever touches the raw "
    "embedding column",
)
def sim5b_ivfpq_persisted_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    ck = _index_cache_key(sf_dir)
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        ck,
        lambda: sim.ivf_centroids(emb, n_centroids=16),
    )
    books = _cached_index(
        "pq",
        _PQ_INDEX_CACHE,
        ck,
        lambda: sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1),
    )
    layout = os.path.join(
        _index_cache_root(), f"ivfpqlayout-{_index_cache_digest('ivfpqlayout', ck)}"
    )
    if not os.path.exists(os.path.join(layout, "_ivf_meta.json")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        # atomic first touch (VERDICT r14 #2): codes + sidecar stage
        # together, one rename publishes the complete layout
        publish_layout_atomic(
            layout,
            lambda stage: sim.ivfpq_index_write(emb, cents, books, stage),
            is_complete=lambda p: os.path.exists(
                os.path.join(p, "_ivf_meta.json")
            ),
        )
    return sim.ivfpq_topk_indexed(
        spark, layout, qvec, k=10, nprobe=4, shortlist=100
    )


def _rerun_identical(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
    """One-row boolean: the two frames are multiset-equal (the shared
    rerun-determinism shape of the r12 certification probes — defined once
    beside _equality_probe per the one-generator rule)."""
    return (
        lhs.exceptAll(rhs)
        .unionByName(rhs.exceptAll(lhs))
        .agg((F.count(F.lit(1)) == 0).cast("long").alias("rerun_identical"))
    )


def _equality_probe(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
    """The dd11b/dd2b constant-oracle shape, shared by the persisted-ANN
    guards: symmetric difference emitted as a count row (the oracle is the
    constant-0 row) plus a both_nonempty flag counted from BOTH frames
    (the ADVICE r10 #3 form), so a green hash certifies equality AND
    non-vacuousness at every window rotation."""
    diff = (
        lhs.exceptAll(rhs)
        .unionByName(rhs.exceptAll(lhs))
        .agg(F.count(F.lit(1)).alias("n_mismatched"))
    )
    nonempty = (
        lhs.agg((F.count(F.lit(1)) > 0).alias("_lhs_nonempty"))
        .crossJoin(
            F.broadcast(rhs.agg((F.count(F.lit(1)) > 0).alias("_rhs_nonempty")))
        )
        .select(
            (F.col("_lhs_nonempty") & F.col("_rhs_nonempty"))
            .cast("long")
            .alias("both_nonempty")
        )
    )
    return diff.crossJoin(F.broadcast(nonempty))


@register(
    "sim3c_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for sim3b (VERDICT r10 #2, the "
    "dd11b/dd2b pattern): the symmetric difference between the PERSISTED "
    "IVF serving path (ivf_topk_indexed over the partitionBy(centroid_id) "
    "layout) and sim3's INLINE composition (ivf_topk with the same cached "
    "centroids) on the same query, compared on the full (vec_id, cosine) "
    "rows, emitted as a count row against the constant-0 oracle — a green "
    "hash certifies layout-round-trip-changes-nothing at every window "
    "rotation, upgrading sim3b's pytest-only equality to a driver-checked "
    "one. both_nonempty certifies both paths returned rows. Not in the "
    "bench headline: sim3b carries the measured serving row",
)
def sim3c_served_equals_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    ck = _index_cache_key(sf_dir)
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        ck,
        lambda: sim.ivf_centroids(emb, n_centroids=16),
    )
    layout = _ivf_layout_path(ck)
    if not os.path.exists(os.path.join(layout, "_ivf_meta.json")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        # atomic first touch (VERDICT r14 #2): data + _ivf_meta.json stage
        # together, one rename publishes the complete layout
        publish_layout_atomic(
            layout,
            lambda stage: sim.ivf_index_write(emb, cents, stage),
            is_complete=lambda p: os.path.exists(
                os.path.join(p, "_ivf_meta.json")
            ),
        )
    served = sim.ivf_topk_indexed(spark, layout, qvec, k=10, nprobe=4)
    inline = sim.ivf_topk(emb, qvec, k=10, nprobe=4, centroids=cents)
    return _equality_probe(served, inline)


@register(
    "sim3e_full_probe_equals_exact",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for the IVF family's exactness "
    "limit (r11): probing ALL inverted lists (nprobe == n_centroids) "
    "must return exactly the brute-force cosine top-k — the partition "
    "of the corpus into lists changes WHERE vectors sit, never WHICH "
    "are nearest, and both paths share the cosine expression tree, "
    "round-6 policy and (cosine desc, vec_id) tie-break. This pins the "
    "recall knob's semantics: nprobe trades recall for scan fraction "
    "and at full probe the trade is exactly zero. Symmetric difference "
    "as a count row vs the constant-0 oracle; both_nonempty certifies "
    "non-vacuousness. Not in the bench headline: sim1/sim3 carry the "
    "measured rows",
)
def sim3e_full_probe_equals_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_t = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb_t.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        _index_cache_key(sf_dir),
        lambda: sim.ivf_centroids(emb_t, n_centroids=16),
    )
    full_probe = sim.ivf_topk(
        emb_t, qvec, k=10, nprobe=len(cents), centroids=cents
    )
    exact = sim.cosine_topk(emb_t, qvec, k=10)
    return _equality_probe(full_probe, exact)


@register(
    "sim5c_served_equals_composition",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for sim5b (VERDICT r10 #2): the "
    "persisted IVF-PQ serving path (ivfpq_topk_indexed — sidecar centroid "
    "ranking, partition-pruned scan, ADC over stored codes, exact rerank) "
    "against the MANUAL composition its docstring promises: filter the "
    "same persisted frame to the probed lists and run pq_topk with "
    "use_existing_codes=True and the sidecar codebooks. Symmetric "
    "difference on the full (vec_id, cosine) rows as a count row vs the "
    "constant-0 oracle; both_nonempty certifies non-vacuousness. Not in "
    "the bench headline: sim5b carries the measured serving row",
)
def sim5c_served_equals_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import os

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    ck = _index_cache_key(sf_dir)
    cents = _cached_index(
        "ivf",
        _IVF_INDEX_CACHE,
        ck,
        lambda: sim.ivf_centroids(emb, n_centroids=16),
    )
    books = _cached_index(
        "pq",
        _PQ_INDEX_CACHE,
        ck,
        lambda: sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1),
    )
    layout = os.path.join(
        _index_cache_root(), f"ivfpqlayout-{_index_cache_digest('ivfpqlayout', ck)}"
    )
    if not os.path.exists(os.path.join(layout, "_ivf_meta.json")):
        from tranquility_spark.sources.layout import publish_layout_atomic

        # atomic first touch (VERDICT r14 #2): codes + sidecar stage
        # together, one rename publishes the complete layout
        publish_layout_atomic(
            layout,
            lambda stage: sim.ivfpq_index_write(emb, cents, books, stage),
            is_complete=lambda p: os.path.exists(
                os.path.join(p, "_ivf_meta.json")
            ),
        )
    served = sim.ivfpq_topk_indexed(
        spark, layout, qvec, k=10, nprobe=4, shortlist=100
    )
    # the manual composition, over the SAME persisted frame and sidecar
    # parameters (the ivfpq_topk_indexed docstring contract, made a
    # driver-checked equality): driver-side centroid ranking → probe
    # filter → pq_topk over the stored codes
    frame, meta = sim.ivf_index_load(spark, layout)
    qn = math.sqrt(sum(x * x for x in qvec)) or 1e-12
    probe = sorted(
        range(len(meta["centroids"])),
        key=lambda i: -(
            sum(a * b for a, b in zip(qvec, meta["centroids"][i]))
            / (
                qn
                * (
                    math.sqrt(sum(x * x for x in meta["centroids"][i]))
                    or 1e-12
                )
            )
        ),
    )[:4]
    manual = sim.pq_topk(
        frame.filter(F.col("centroid_id").isin(probe)),
        qvec,
        meta["books"],
        k=10,
        shortlist=100,
        use_existing_codes=True,
    )
    return _equality_probe(served, manual)


@register(
    "sim5_pq_rerank",
    None,  # codebooks are k-means-defined — rows-only (sim2/sim3 policy);
    # determinism + recall vs sim1 asserted in tests
    doc="ANN top-k via product quantization + exact rerank (Jegou et al. "
    "2011 — the billion-scale compressed-index path; completes the ANN "
    "family: sim1 exact / sim2 LSH / sim3 IVF / sim4 BQ / sim5 PQ). "
    "Index build (once): 4 per-subvector 16-code codebooks "
    "(deterministic hash-seeded Lloyd) + argmin-L2 codes per row (Arrow "
    "numpy matmul) — 64 floats compress to 4 bytes. Query: the driver "
    "precomputes ||q_s - c||^2 for all 64 (subvector, code) pairs and "
    "each row's approximate distance is 4 literal-array lookups summed "
    "in whole-stage codegen — NO UDF, NO join at query time; shortlist "
    "-> exact cosine rerank (two TakeOrdereds, no exchange). "
    "Deterministic end-to-end (asserted); recall@10 vs sim1 measured "
    "0.6 at sf0.001 AND sf0.01 on uniform-random embeddings (the "
    "hardest case for ANN), bound >=0.4 asserted. At 100 TB the codes "
    "column is 16x smaller than the vectors — the scan cost drop is "
    "the point; compose with IVF partition pruning for the full "
    "IVF-PQ shape",
)
def sim5_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    books = _cached_index(
        "pq",
        _PQ_INDEX_CACHE,
        _index_cache_key(sf_dir),
        lambda: sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1),
    )
    return sim.pq_topk(emb, qvec, books, k=10, shortlist=100)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TXT1_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4.0 AS s_en,
         (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' la ', ''))) / 4.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' et ', ''))) / 4.0 AS s_fr,
         (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) / 5.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' die ', ''))) / 5.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' und ', ''))) / 5.0 AS s_de,
         (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) / 4.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' los ', ''))) / 5.0
       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' que ', ''))) / 5.0 AS s_es
  FROM documents
)
SELECT lang,
       CASE WHEN greatest(s_en, s_fr, s_de, s_es) > 0 THEN
         CASE WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
              WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
              WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
              ELSE 'es' END
       ELSE 'unk' END AS predicted_lang,
       count(*) AS n
FROM scored
GROUP BY 1, 2
"""


@register(
    "txt1_lang_id",
    _TXT1_ORACLE,
    doc="Language-ID: marker-stopword n-gram heuristic (argmax with first-language "
    "tie-break), confusion counts vs the labeled lang column. Pure expressions — "
    "a real model would swap in as a pandas UDF with the same shape",
)
def txt1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.predict_lang(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TXT2_ORACLE = """
SELECT doc_id,
       length(text) AS n_chars_measured,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens,
       round((length(trim(text)) - (CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END - 1)) * 1.0
             / (CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END), 6) AS avg_token_len,
       round(( (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' la ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' et ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' die ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' und ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' los ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' que ', ''))) / 5.0
             ) / (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END), 6) AS stopword_ratio,
       round(0.5 * least((CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) / 100.0, 1.0)
           + 0.5 * least((( (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' la ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' et ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' die ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' und ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) / 4.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' los ', ''))) / 5.0
             + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' que ', ''))) / 5.0
             ) / (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END)) * 5, 1.0), 6) AS quality_score
FROM documents
"""


@register(
    "txt2_quality_score",
    _TXT2_ORACLE,
    doc="Quality scoring: length / avg-token-length / stopword-ratio features + composite "
    "score — pure length-arithmetic so the oracle is bit-exact",
)
def txt2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_features(_t(spark, sf_dir, "documents"))


@register(
    "txt3_token_count",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS bpe_ish_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
    doc="Token counting: whitespace arithmetic + BPE-ish regex run count",
)
def txt3_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("ws_tokens"),
        tx.word_token_count(F.col("text")).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "txt4_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(trim(text), '\\s+'),
                              t -> CAST(length(t) * 96 + unicode(t) % 96 AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
    FROM documents
    """,
    doc="Document fingerprinting: md5 over normalized text + polynomial rolling hash "
    "over tokens (exact integer fold, portable via DuckDB list_reduce)",
)
def txt4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.fingerprint_md5(F.col("text")).alias("fingerprint"),
        tx.rolling_token_hash(F.col("text")).alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "mm1_decode_features",
    """
    SELECT doc_id,
           'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_extract_all(text, '.'), c -> CAST(unicode(c) AS BIGINT))),
             (a, b) -> (a + b) % 1000000007) AS checksum
    FROM documents
    """,
    doc="Multimodal decode plumbing: binary payload + typed metadata struct → mapInPandas "
    "feature extraction (decode itself STUBBED deterministically — codec libs absent; "
    "the Arrow batch path, schema and checksum are real and oracle-checked)",
)
def mm1_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return mm.decode_image_features(media)


# ---------------------------------------------------------------------------
# Pipeline primitives: reproducible sampling, stratified selection, packing
# ---------------------------------------------------------------------------

_SHARD100 = "(((CAST(doc_id AS BIGINT) % 100003) * 2654435761) % 1000000007) % 100"


@register(
    "samp1_hash_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_SHARD100} < 37
    """,
    doc="Deterministic engine-portable sampling: portable hash of the key under "
    "a threshold. Reproducible across engines/retries/repartitioning (rand() "
    "is none of those); the train/test-split primitive",
)
def samp1_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 37).select("doc_id", "lang")


@register(
    "samp2_stratified_topn",
    f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY {_SHARD100}, doc_id) AS rn
          FROM documents)
    WHERE rn <= 40
    """,
    doc="Stratified per-language quota: rank by portable hash within each "
    "stratum, keep N — balanced corpus construction. One shuffle on the "
    "stratum key; rank is deterministic (hash + unique-key tie-break)",
)
def samp2_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tranquility_spark.operators.partitioning import portable_shard

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        portable_shard(F.col("doc_id"), 100), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "lang")
    )


@register(
    "samp6_source_cap",
    """
    SELECT doc_id, source, rn
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents)
    WHERE rn <= 15
    """,
    doc="Per-source document cap (RefinedWeb/Gopher-style domain quota): "
    "keep the 15 longest docs per source, unique-key tie-break. The Spark "
    "side runs the SKEW-SAFE two-phase salted rank (per_key_topn: phase 1 "
    "ranks within (source, salt-of-doc_id) so a hot domain spreads over "
    "32 reducers, phase 2 re-ranks <= 32*15 survivors per source), while "
    "the oracle is the plain window SQL — a green hash match certifies "
    "two-phase == single-window semantics cross-engine, which is exactly "
    "the rewrite a 100 TB corpus needs when one domain dominates",
)
def samp6_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import per_key_topn

    docs = _t(spark, sf_dir, "documents")
    return per_key_topn(
        docs,
        key_col="source",
        order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
        n=15,
        id_col="doc_id",
    ).select("doc_id", "source", "rn")


@register(
    "mm5_interleaved_packing",
    """
    WITH costed AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(trim(text)) - length(replace(trim(text), ' ', ''))
                       + 1 END AS text_tokens,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS n_images,
             CASE WHEN doc_id % 4 = 0
                  THEN ((octet_length(encode(text)) % 640) // 14 + 1)
                       * (((octet_length(encode(text)) * 7) % 480) // 14 + 1)
                  ELSE 0 END AS vision_tokens
      FROM documents)
    SELECT doc_id, lang,
           CAST(text_tokens AS BIGINT) AS text_tokens,
           CAST(n_images AS BIGINT) AS n_images,
           CAST(vision_tokens AS BIGINT) AS vision_tokens,
           CAST(text_tokens + vision_tokens AS BIGINT) AS seq_tokens,
           CAST(floor((cum - (text_tokens + vision_tokens)) / 8192.0)
                AS BIGINT) AS bin_id
    FROM (SELECT *,
                 sum(text_tokens + vision_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM costed)
    """,
    doc="Modality-aware (interleaved) sequence packing — pack1's greedy "
    "running-sum packing with the cost model a multimodal training "
    "pipeline actually needs: an attached image consumes VISION tokens "
    "proportional to its patch grid (ceil(w/14)*ceil(h/14), the ViT "
    "patch-14 convention), not bytes, so a doc's context cost is "
    "text_tokens + vision_tokens and a high-resolution image can "
    "dominate its sequence. Attachment (every 4th doc) and resolution "
    "come from mm1's deterministic stub metadata — production swaps in "
    "the real asset table joined on doc_id with the same shape. Narrow "
    "projection + one per-group window (the pack1 plan — shuffle by "
    "group, in-partition running sum; group by corpus shard at open-web "
    "scale); the whole cost model and bin assignment are hash-certified",
)
def mm5_interleaved_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import pack_sequences, token_count

    docs = _t(spark, sf_dir, "documents")
    # cast BEFORE the *7: Spark's octet_length is 32-bit and a >300 MB
    # document would wrap the product (DuckDB's is BIGINT — silent
    # cross-engine divergence exactly at scale; code-review r07)
    nb = F.octet_length("text").cast("long")
    has_img = F.col("doc_id") % 4 == 0
    vis = F.when(
        has_img,
        (F.floor((nb % 640) / 14) + 1) * (F.floor((nb * 7) % 480 / 14) + 1),
    ).otherwise(0)
    costed = docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("long").alias("text_tokens"),
        F.when(has_img, 1).otherwise(0).cast("long").alias("n_images"),
        vis.cast("long").alias("vision_tokens"),
    ).withColumn("seq_tokens", F.col("text_tokens") + F.col("vision_tokens"))
    return pack_sequences(
        costed, token_col="seq_tokens", order_col="doc_id",
        group_col="lang", context_len=8192,
    ).select(
        "doc_id", "lang", "text_tokens", "n_images",
        "vision_tokens", "seq_tokens", "bin_id",
    )


_SAMP7_SEED = 29
_SAMP7_EPOCHS = 4


def _samp7_oracle_sql() -> str:
    ord_key = portable_shard_sql(f"doc_id + {_SAMP7_SEED}", 1000003)
    return f"""
    WITH scored AS ({_TXT2_ORACLE}),
    ranked AS (
      SELECT d.doc_id, d.lang, s.quality_score,
             percent_rank() OVER (PARTITION BY d.lang
                                  ORDER BY s.quality_score DESC, d.doc_id)
                 AS pr
      FROM documents d JOIN scored s USING (doc_id))
    SELECT doc_id, lang, quality_score,
           round(pr, 6) AS pr,
           CAST(least(floor(pr * {_SAMP7_EPOCHS}), {_SAMP7_EPOCHS - 1})
                AS BIGINT) AS first_epoch,
           {ord_key} AS ord_key
    FROM ranked
    """


@register(
    "samp7_curriculum_schedule",
    _samp7_oracle_sql(),
    doc="Curriculum data schedule (easy-first curriculum learning over "
    "training data): each document's admission epoch comes from its "
    "quality percentile WITHIN its language — the top quartile enters at "
    "epoch 0, each lower band one epoch later, and admitted docs remain "
    "in every later epoch (first_epoch is the gate a training loader "
    "filters on: WHERE first_epoch <= current_epoch). Composes two "
    "already-certified primitives end-to-end: txt2's composite quality "
    "score and shuf1's seeded portable-hash order key (each epoch's "
    "intra-band read order is a deterministic permutation, reproducible "
    "across runs/retries — rand() is not). percent_rank ties break on "
    "doc_id per the LIMIT/tie-break policy; the per-lang window shuffles "
    "once on lang — at open-web scale swap the partition key for "
    "(lang, salt) and re-rank survivors, the samp6 two-phase pattern. "
    "The whole schedule — score, percentile, band, order key — is "
    "hash-certified against the DuckDB rebuild",
)
def samp7_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tranquility_spark.operators.partitioning import portable_shard

    docs = _t(spark, sf_dir, "documents")
    # lang passes through the score projection: one corpus scan, no
    # join-back on doc_id (code-review r07)
    j = tx.quality_features(docs, passthrough=("lang",)).select(
        "doc_id", "lang", "quality_score"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    pr = F.percent_rank().over(w)
    return j.select(
        "doc_id",
        "lang",
        "quality_score",
        F.round(pr, 6).alias("pr"),
        F.least(F.floor(pr * _SAMP7_EPOCHS), F.lit(_SAMP7_EPOCHS - 1))
        .cast("long")
        .alias("first_epoch"),
        portable_shard(F.col("doc_id") + _SAMP7_SEED, 1000003).alias(
            "ord_key"
        ),
    )


_TXT17_THRESHOLD = 0.34


def _txt17_oracle_sql() -> str:
    return f"""
    WITH scored AS ({_TXT2_ORACLE})
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(s.n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(s.quality_score AS DECIMAL(28,6)))
                      AS DOUBLE) / count(*), 6) AS avg_quality,
           CAST(sum(CASE WHEN s.quality_score < 0.3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           CAST(CASE WHEN round(CAST(sum(CAST(s.quality_score
                                             AS DECIMAL(28,6)))
                                AS DOUBLE) / count(*), 6)
                          >= {_TXT17_THRESHOLD}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_domain
    FROM documents d JOIN scored s USING (doc_id)
    GROUP BY d.source
    """


@register(
    "txt17_domain_reputation",
    _txt17_oracle_sql(),
    doc="Domain-level reputation table — the artifact behind every "
    "domain allow/deny list (RefinedWeb, C4, Gopher all gate on "
    "source-level signals before touching per-doc ones, because a "
    "domain's reputation amortizes over every future crawl of it): "
    "per-source doc/token counts, decimal-exact mean quality, "
    "low-quality share, and the keep/deny decision at a fixed "
    "threshold that genuinely splits the fixture's sources at both "
    "SFs. ONE corpus scan (txt2's certified score projection) into one "
    "map-combined groupBy(source); output is |domains| rows — the "
    "table a 100 TB pipeline broadcasts back as its first, cheapest "
    "filter. The mean accumulates 6-dp scores as DECIMAL(28,6) on both "
    "engines (float sum order would diverge) and the keep flag "
    "compares the ROUNDED mean so the decision is engine-identical. "
    "Hash-certified end-to-end",
)
def txt17_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = tx.quality_features(docs, passthrough=("source",)).select(
        "source", "n_tokens", "quality_score"
    )
    avg_q = F.round(
        F.sum(F.col("quality_score").cast("decimal(28,6)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        avg_q.alias("avg_quality"),
        F.sum(F.when(F.col("quality_score") < 0.3, 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        (avg_q >= _TXT17_THRESHOLD).cast("long").alias("keep_domain"),
    )


_TXT18_TOP_N = 200


def _txt18_oracle_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens_total,
             CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM toks
    ),
    vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    top AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS r
      FROM vocab ORDER BY n DESC, tok LIMIT {_TXT18_TOP_N}
    ),
    terms AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(round(ln(r), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(round(ln(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(ln(r), 6) AS DECIMAL(18,6))
                      * CAST(round(ln(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(round(ln(r), 6) AS DECIMAL(18,6))
                      * CAST(round(ln(r), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(max(CASE WHEN r = 1 THEN n END) AS BIGINT) AS n1
      FROM top
    )
    SELECT s.vocab_size, s.n_tokens_total, t.k AS top_n,
           round((t.k * t.sxy - t.sx * t.sy)
                 / (t.k * t.sxx - t.sx * t.sx), 6) AS zipf_slope,
           round(CAST(t.n1 AS DOUBLE) / s.n_tokens_total, 6) AS top1_share
    FROM stats s, terms t
    """


@register(
    "txt18_zipf_audit",
    _txt18_oracle_sql(),
    doc="Corpus-level Zipf audit — the distributional health gate run on "
    "every new crawl/source before it enters the mix: natural text has a "
    "token rank-frequency slope near -1 on a log-log plot (Zipf's law); "
    "machine-generated spam, template farms and boilerplate floods bend "
    "it (too flat = unnaturally uniform vocabulary, too steep / high "
    "top1_share = a few tokens dominate). Emits one row: vocab size, "
    "total tokens, and the least-squares slope of ln(freq) vs ln(rank) "
    "over the top-200 tokens plus the head token's corpus share. Scale "
    "shape: one narrow token explode feeding (a) a single "
    "count/countDistinct agg and (b) the vocab hash-agg -> TakeOrdered "
    "top-200 -> 200-row window + fold — the regression input is "
    "CONSTANT-size at any corpus size, and both corpus passes are "
    "map-side-combined narrow scans. Cross-engine exactness: ln values "
    "round to 6dp and accumulate as DECIMAL(18,6) (products as exact "
    "DECIMAL(37,12) — the emb7 policy), so the sums are bit-identical "
    "and the final slope divides identical doubles",
)
def txt18_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_tokens_total"),
        F.countDistinct("tok").alias("vocab_size"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # TakeOrdered keeps the top-N without a global sort; the subsequent
    # rank window's input is the constant-size top-N (dq13 spine rule)
    top = (
        vocab.orderBy(F.desc("n"), "tok")
        .limit(_TXT18_TOP_N)
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("n"), F.col("tok")))
        )
    )
    lx = F.round(F.log("r"), 6).cast("decimal(18,6)")
    ly = F.round(F.log("n"), 6).cast("decimal(18,6)")
    terms = top.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx).cast("double").alias("sx"),
        F.sum(ly).cast("double").alias("sy"),
        F.sum(lx * ly).cast("double").alias("sxy"),
        F.sum(lx * lx).cast("double").alias("sxx"),
        F.max(F.when(F.col("r") == 1, F.col("n"))).alias("n1"),
    )
    k = F.col("k").cast("double")
    return stats.crossJoin(terms).select(
        "vocab_size",
        "n_tokens_total",
        F.col("k").alias("top_n"),
        F.round(
            (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (k * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.col("n1").cast("double") / F.col("n_tokens_total"), 6
        ).alias("top1_share"),
    )


_BM25_QUERY = ("dup", "spark", "vector")  # rare + two mid-frequency terms
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def _bm25_scored_cte() -> str:
    """The shared per-doc BM25 CTE body (txt19 + rank2's oracle): every
    matched doc with its decimal-accumulated score."""
    terms = ", ".join(f"('{t}')" for t in _BM25_QUERY)
    return f"""
    q(tok) AS (VALUES {terms}),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    dls AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents
    ),
    corpus AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dls
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM toks JOIN q USING (tok)
      GROUP BY doc_id, tok
    ),
    idf AS (
      SELECT tok,
             round(ln((n - df + 0.5) / (df + 0.5) + 1), 6) AS idf
      FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
            FROM toks JOIN q USING (tok) GROUP BY tok)
      CROSS JOIN corpus
    ),
    scored AS (
      SELECT doc_id,
             round(CAST(sum(CAST(round(
               idf * (tf * ({_BM25_K1} + 1.0))
                   / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl))), 6)
               AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM tf
      JOIN idf USING (tok)
      JOIN dls USING (doc_id)
      CROSS JOIN corpus
      GROUP BY doc_id
    )"""


def _bm25_oracle_sql() -> str:
    return f"""
    WITH {_bm25_scored_cte()}
    SELECT doc_id, bm25, n_terms_matched
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


@register(
    "txt19_bm25_topk",
    _bm25_oracle_sql(),
    doc="BM25 top-k retrieval (Robertson/Lucene formula, k1=1.2 b=0.75) — "
    "the lexical half of a RAG retrieval stack, hash-certified end-to-"
    "end: per-term idf = ln((N-df+0.5)/(df+0.5)+1) is 6-dp-rounded (the "
    "txt9/txt18 ln policy — the ONLY transcendental), every other step "
    "is IEEE double arithmetic with a pinned expression tree so both "
    "engines produce identical bits; per-term scores round to 6 dp and "
    "DECIMAL-accumulate across query terms (order-independent), top-k "
    "ties break on doc_id. Plan: tokens explode once; tf is a hash agg "
    "on (doc_id, term) AFTER a broadcast semi-join on the |q|-term "
    "query list (the scan never carries non-query tokens to the "
    "shuffle); df/avgdl/N are kilobyte broadcast frames; final top-k is "
    "TakeOrderedAndProject — no global sort, no all-doc score "
    "materialization beyond the matched set. At 100 TB: every side but "
    "the token scan is bounded by |query| or one row",
)
def txt19_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_matched(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


def _bm25_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 frame over every query-matching doc (txt19 + rank2) —
    operators/text.py#bm25_scores with the documents table as the unit."""
    return tx.bm25_scores(
        _t(spark, sf_dir, "documents"),
        _BM25_QUERY,
        text_col="text",
        id_cols=("doc_id",),
        k1=_BM25_K1,
        b=_BM25_B,
    )


@register(
    "txt20_bm25_served_stats",
    _bm25_oracle_sql(),
    doc="BM25 serving path over PERSISTED corpus statistics (mergeable "
    "summary family #9, VERDICT r9 #3): df/N/avgdl come from a "
    "text.py#bm25_corpus_stats frame instead of a per-query corpus "
    "rescan — the production retrieval shape where statistics are "
    "maintained as batch_id= sum partials at ingest "
    "(bm25_partials_sink) and merged at read. Shares txt19's oracle "
    "BECAUSE the served scores are bit-identical to the rescan form "
    "(same tokenizer, same pinned expression trees; only the df/N/"
    "sum_dl sources switch) — the dd8b equality argument, here hash-"
    "certified against DuckDB rather than merely self-consistent. At "
    "100 TB: the query-time cost drops to the candidate frame's "
    "tf/dl scan + a |q|-row broadcast of the stats — the corpus-wide "
    "token agg happens once at ingest, not per query.",
)
def txt20_bm25_served_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stats = tx.bm25_corpus_stats(docs, text_col="text", id_cols=("doc_id",))
    return (
        tx.bm25_scores(
            docs,
            _BM25_QUERY,
            text_col="text",
            id_cols=("doc_id",),
            k1=_BM25_K1,
            b=_BM25_B,
            stats=stats,
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


@register(
    "txt21_bm25_pruned_contract",
    """
    SELECT CAST(1 AS BIGINT) AS kept_exact,
           CAST(1 AS BIGINT) AS tail_one_sided,
           CAST(1 AS BIGINT) AS tail_engaged
    """,
    doc="Driver-certified contract probe for the BM25 vocabulary prune "
    "(text.py#bm25_stats_prune/serve — families #9 + #5 composed; "
    "VERDICT r10 #7): stats pruned at the fixture vocabulary's MEDIAN df "
    "(so both sides are non-empty), then the two safety claims evaluated "
    "as booleans against the constant (1,1,1) oracle. kept_exact: scores "
    "served from the pruned index for above-floor terms are BIT-identical "
    "to full-stats serving (zero symmetric difference). tail_one_sided: "
    "for tail terms served from the CMS, every doc's score is <= the "
    "full-stats score — CMS only overestimates df, idf decreases in df, "
    "per-term score increases in idf, and round(.,6) is monotone, so the "
    "prune can only ever UNDERrank, never inflate. tail_engaged: the "
    "served stats frame actually drew tail rows from the sketch (a "
    "fixture where nothing is pruned would pass the other two "
    "vacuously). The vocabulary collect that picks the floor/terms is a "
    "certification artifact over the 31-token fixture vocab — the pruned "
    "SERVING path itself never collects. Cost (both paths, both term "
    "sets) recorded out-of-headline in BASELINE.md, the dd8b/dd11b "
    "probe precedent; txt20 carries the measured serving row",
)
def txt21_bm25_pruned_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stats = tx.bm25_corpus_stats(docs, text_col="text", id_cols=("doc_id",))
    tok_rows = sorted(
        (r["df"], r["tok"])
        for r in stats.filter(F.col("tok").isNotNull()).collect()
    )
    floor = tok_rows[len(tok_rows) // 2][0]
    kept_terms = [t for d, t in tok_rows if d > floor][:3]
    tail_terms = [t for d, t in tok_rows if d <= floor][:3]
    exact, tail_cms = tx.bm25_stats_prune(stats, df_floor=floor)
    kw = dict(text_col="text", id_cols=("doc_id",), k1=_BM25_K1, b=_BM25_B)

    served_kept = tx.bm25_scores(
        docs,
        kept_terms,
        stats=tx.bm25_stats_serve(exact, tail_cms, kept_terms),
        **kw,
    )
    full_kept = tx.bm25_scores(docs, kept_terms, stats=stats, **kw)
    kept_exact = (
        served_kept.exceptAll(full_kept)
        .unionByName(full_kept.exceptAll(served_kept))
        .agg((F.count(F.lit(1)) == 0).cast("long").alias("kept_exact"))
    )

    served_tail = tx.bm25_scores(
        docs,
        tail_terms,
        stats=tx.bm25_stats_serve(exact, tail_cms, tail_terms),
        **kw,
    ).select("doc_id", F.col("bm25").alias("served"))
    full_tail = tx.bm25_scores(docs, tail_terms, stats=stats, **kw).select(
        "doc_id", F.col("bm25").alias("full")
    )
    one_sided = served_tail.join(full_tail, "doc_id", "outer").agg(
        F.min(
            F.col("served").isNotNull()
            & F.col("full").isNotNull()
            & (F.col("served") <= F.col("full"))
        )
        .cast("long")
        .alias("tail_one_sided")
    )

    engaged = (
        tx.bm25_stats_serve(exact, tail_cms, tail_terms)
        .filter(F.col("tok").isNotNull() & F.col("n_units").isNull())
        .agg((F.count(F.lit(1)) > 0).cast("long").alias("tail_engaged"))
    )
    return kept_exact.crossJoin(F.broadcast(one_sided)).crossJoin(
        F.broadcast(engaged)
    )


def _pipe7_oracle_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_QUERY)
    return f"""
    WITH q(tok) AS (VALUES {terms}),
    dtoks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             array_to_string(list_slice(t, chunk_id * 24 + 1,
                                        chunk_id * 24 + 32), ' ')
                 AS chunk_text
      FROM (
        SELECT doc_id, t,
               unnest(range(0,
                 greatest(CAST(ceil((len(t) - 32) / 24.0) AS BIGINT), 0) + 1))
                   AS chunk_id
        FROM dtoks
      )
    ),
    ctoks AS (
      SELECT doc_id, chunk_id,
             unnest(string_split_regex(trim(chunk_text), '\\s+')) AS tok
      FROM chunks
    ),
    cdls AS (
      SELECT doc_id, chunk_id,
             len(string_split_regex(trim(chunk_text), '\\s+')) AS dl
      FROM chunks
    ),
    corpus AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM cdls
    ),
    tf AS (
      SELECT doc_id, chunk_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM ctoks JOIN q USING (tok)
      GROUP BY doc_id, chunk_id, tok
    ),
    idf AS (
      SELECT tok,
             round(ln((n - df + 0.5) / (df + 0.5) + 1), 6) AS idf
      FROM (SELECT tok, CAST(count(*) AS DOUBLE) AS df
            FROM (SELECT DISTINCT doc_id, chunk_id, tok
                  FROM ctoks JOIN q USING (tok))
            GROUP BY tok)
      CROSS JOIN corpus
    )
    SELECT doc_id, chunk_id,
           round(CAST(sum(CAST(round(
             idf * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl))), 6)
             AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25,
           CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM tf
    JOIN idf USING (tok)
    JOIN cdls USING (doc_id, chunk_id)
    CROSS JOIN corpus
    GROUP BY doc_id, chunk_id
    ORDER BY bm25 DESC, doc_id, chunk_id
    LIMIT {_BM25_TOPK}
    """


@register(
    "pipe7_chunk_retrieval",
    _pipe7_oracle_sql(),
    doc="Chunk-level retrieval — the RAG serving unit, composed from two "
    "certified stages and hash-certified end-to-end: chunk2's token-"
    "aligned overlapping chunker (32/24) feeds operators/text.py#"
    "bm25_scores with (doc_id, chunk_id) as the retrieval unit, so "
    "scores rank PASSAGES, not whole documents (what actually goes in "
    "a context window). df/avgdl/N recompute over the CHUNK corpus — "
    "retrieval statistics must describe the unit being retrieved. Same "
    "determinism policy as txt19 (rounded idf, pinned-tree doubles, "
    "decimal term accumulation, (doc_id, chunk_id) tie-break). Scale: "
    "the chunk fan-out is a narrow no-shuffle 1-to-N; the only "
    "corpus-proportional shuffle input is query-matching chunk tokens; "
    "everything else is kilobyte broadcasts + TakeOrdered",
)
def pipe7_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = tx.chunk_tokens(
        _t(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )
    return (
        tx.bm25_scores(
            chunks,
            _BM25_QUERY,
            text_col="chunk_text",
            id_cols=("doc_id", "chunk_id"),
            k1=_BM25_K1,
            b=_BM25_B,
        )
        .orderBy(F.desc("bm25"), "doc_id", "chunk_id")
        .limit(_BM25_TOPK)
    )


_RRF_K = 60
_RRF_LIST_N = 20
_RRF_TOPK = 10


def _rrf_oracle_sql() -> str:
    return f"""
    WITH {_bm25_scored_cte()},
    lex AS (
      SELECT doc_id AS id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                 AS lex_rank
      FROM scored
      ORDER BY bm25 DESC, doc_id
      LIMIT {_RRF_LIST_N}
    ),
    sem AS (
      SELECT vec_id AS id,
             row_number() OVER (ORDER BY cos DESC, vec_id) AS sem_rank
      FROM (
        SELECT e.vec_id,
               round(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                  WHERE vec_id = 0)), 6) AS cos
        FROM embeddings e
        WHERE e.vec_id <> 0)
      ORDER BY cos DESC, vec_id
      LIMIT {_RRF_LIST_N}
    )
    SELECT id,
           round(coalesce(1.0 / ({_RRF_K} + lex_rank), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + sem_rank), 0.0), 6) AS rrf,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank
    FROM lex FULL JOIN sem USING (id)
    ORDER BY rrf DESC, id
    LIMIT {_RRF_TOPK}
    """


@register(
    "rank2_rrf_fusion",
    _rrf_oracle_sql(),
    doc="Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009, "
    "k=60) — the standard way a RAG stack combines its lexical and "
    "semantic retrievers, hash-certified end-to-end: txt19's BM25 "
    "top-20 list fused with the exact-cosine top-20 list for the same "
    "corpus (query = vec_id 0's embedding, self excluded — sim1's "
    "convention), fused score = sum over lists of 1/(k + rank). Ranks "
    "are INTEGERS from already-certified orderings (rounded scores, id "
    "tie-breaks), so the fusion arithmetic is exactly reproducible "
    "cross-engine — rank fusion's practical advantage over score "
    "fusion (no score normalization to diverge). Plan: both lists are "
    "TakeOrdered top-20 (constant-size), the fusion is a 20x20 full "
    "outer join on id + one more TakeOrdered — everything after the "
    "two retrievals is constant-cost at any corpus size",
)
def rank2_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tranquility_spark.operators.similarity import _as_double, cosine

    lex = (
        _bm25_matched(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_LIST_N)
        .select(
            F.col("doc_id").alias("id"),
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .alias("lex_rank"),
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("__q")
    )
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.round(
                cosine(_as_double(F.col("embedding")), F.col("__q")), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(_RRF_LIST_N)
        .select(
            F.col("vec_id").alias("id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), "vec_id"))
            .alias("sem_rank"),
        )
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
        ),
        6,
    )
    return (
        lex.join(sem, "id", "full")
        .select(
            "id",
            rrf.alias("rrf"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
        )
        .orderBy(F.desc("rrf"), "id")
        .limit(_RRF_TOPK)
    )


_SAMP8_BUDGET = 3000  # tokens per language


def _samp8_oracle_sql() -> str:
    return f"""
    WITH scored AS ({_TXT2_ORACLE}),
    ranked AS (
      SELECT d.doc_id, d.lang, s.n_tokens, s.quality_score,
             sum(s.n_tokens) OVER (
               PARTITION BY d.lang
               ORDER BY s.quality_score DESC, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_tokens
      FROM documents d JOIN scored s USING (doc_id))
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           quality_score,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens - n_tokens < {_SAMP8_BUDGET}
    """


@register(
    "samp8_token_budget_select",
    _samp8_oracle_sql(),
    doc="Token-budget data selection: given a per-language token budget, "
    "admit documents best-quality-first until the budget is spent — the "
    "assembly step that turns scored corpora into a FIXED-SIZE training "
    "mix (the knapsack relaxation every data team actually ships: "
    "greedy by quality density is optimal here because admission is "
    "all-or-nothing per doc and the ordering ignores size). Composes "
    "certified pieces end-to-end in ONE corpus scan: txt2's quality "
    "score (lang passes through the projection), a per-lang running "
    "token sum over (score desc, doc_id) order, and the pack1 "
    "start-within-budget rule (a doc is admitted iff the budget was "
    "not exhausted BEFORE it — deterministic, and the one doc that "
    "straddles the boundary is kept, matching pack1's bin semantics). "
    "The window shuffles once on lang; the samp6 two-phase salted "
    "rank is the open-web swap. The fixture budget (3000 tokens) "
    "truncates EVERY language at both SFs, so admitted and rejected "
    "paths are both exercised and the whole selection is "
    "hash-certified",
)
def samp8_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    scored = tx.quality_features(docs, passthrough=("lang",)).select(
        "doc_id", "lang", "n_tokens", "quality_score"
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality_score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return ranked.filter(
        F.col("cum_tokens") - F.col("n_tokens") < _SAMP8_BUDGET
    ).select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality_score",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


_PIPE6_SHARDS = 8
_PIPE6_CTX = 4096
_PIPE6_SEED = 31


def _pipe6_oracle_sql() -> str:
    # COMPOSES samp8's oracle verbatim as the admission CTE (code-review
    # r07: the budget rule must live in one place) and shuf1's portable
    # hash for the order key
    ord_key = portable_shard_sql(f"doc_id + {_PIPE6_SEED}", 1000003)
    return f"""
    WITH admitted AS ({_samp8_oracle_sql()}),
    sharded AS (
      SELECT doc_id, lang, n_tokens, {ord_key} AS ord_key,
             CAST({ord_key} % {_PIPE6_SHARDS} AS BIGINT) AS shard
      FROM admitted)
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           shard,
           CAST(row_number() OVER w AS BIGINT) AS pos,
           CAST(floor((sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - n_tokens)
                      / {_PIPE6_CTX}.0) AS BIGINT) AS bin_id
    FROM sharded
    WINDOW w AS (PARTITION BY shard ORDER BY ord_key, doc_id)
    """


@register(
    "pipe6_dataset_manifest",
    _pipe6_oracle_sql(),
    doc="END-TO-END dataset-assembly manifest — the artifact a training "
    "job actually reads: compose the certified selection, ordering, and "
    "packing stages into one plan. Stage 1 admits documents best-"
    "quality-first under samp8's per-language token budget; stage 2 "
    "assigns each admitted doc a seeded portable-hash order key and "
    "shard (shuf1's reproducible permutation — retry-stable where "
    "rand() is not); stage 3 packs each shard's deterministic order "
    "into 4096-token training bins with pack1's start-within-budget "
    "rule. Output: (doc_id, lang, n_tokens, shard, pos, bin_id) — the "
    "complete read plan for one epoch. ONE corpus scan feeds the "
    "selection window (lang-partitioned), then the bounded admitted "
    "set alone pays the shard window — the corpus is never re-scanned "
    "or re-shuffled after admission, and at open-web scale only the "
    "admitted fraction moves. Every stage is individually certified "
    "(samp8/shuf1/pack1); this entry hash-certifies their COMPOSITION, "
    "and a test reconciles the admitted set with samp8 exactly",
)
def pipe6_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from tranquility_spark.operators.partitioning import epoch_shuffle

    # stage 1 IS samp8 (one definition of the budget rule); stage 2 IS
    # epoch_shuffle's portable path (one definition of the seeded
    # permutation) — DataFrames compose lazily, so this is still the
    # single plan the doc requires (code-review r07)
    admitted = samp8_token_budget_select(spark, sf_dir).select(
        "doc_id", "lang", "n_tokens"
    )
    sharded = epoch_shuffle(
        admitted, "doc_id", seed=_PIPE6_SEED, n_shards=_PIPE6_SHARDS,
        portable=True,
    )
    shard_w = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    cum = F.sum("n_tokens").over(
        shard_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sharded.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
        F.floor((cum - F.col("n_tokens")) / _PIPE6_CTX)
        .cast("long")
        .alias("bin_id"),
    )


@register(
    "txt13_lexical_diversity",
    """
    SELECT doc_id,
           len(list_distinct(ws)) AS n_types,
           len(ws) AS n_tokens,
           round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS ttr
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents)
    """,
    doc="Type-token ratio (lexical diversity) per document — the classic "
    "cheap quality signal alongside txt2/txt6: machine-generated or "
    "keyword-stuffed text shows abnormally low TTR, and quality-filter "
    "stacks (Gopher rules) threshold on it. Pure JVM narrow projection "
    "(split staged once, distinct+size folds), no shuffle at any scale; "
    "division guarded by split()'s at-least-[''] output (n_tokens >= 1)",
)
def txt13_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    return staged.select(
        "doc_id",
        F.size(F.array_distinct("ws")).alias("n_types"),
        F.size("ws").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("ws")).cast("double")
            / F.size("ws").cast("double"),
            6,
        ).alias("ttr"),
    )


@register(
    "txt14_oov_rate",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\\s+')) AS tok
                  FROM documents),
         vocab AS (SELECT tok
                   FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok
                         ORDER BY c DESC, tok LIMIT 20)),
         per AS (SELECT t.doc_id,
                        CAST(count(*) AS BIGINT) AS n_tokens,
                        CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_oov
                 FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
                 GROUP BY t.doc_id)
    SELECT doc_id, n_tokens, n_oov,
           round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
    FROM per
    """,
    doc="Out-of-vocabulary token rate against a corpus-derived top-K "
    "vocabulary — the classic CCNet/fastText-era quality signal (high OOV "
    "=> noise/boilerplate/wrong-language). Scale shape: the vocab is a "
    "map-side-combined token count + TakeOrdered(K) (bounded result), "
    "re-attached as a ONE-ROW broadcast; the per-doc pass is then a narrow "
    "JVM filter() fold over the staged token array — the corpus is never "
    "exploded into a shuffle. K=20 here (the synthetic fixture has 31 "
    "distinct tokens; K must stay below that for a non-degenerate rate). "
    "Deterministic vocab boundary: ties at rank K break by token asc on "
    "both engines",
)
def txt14_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    vocab = (
        staged.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(20)
        .agg(F.collect_list("tok").alias("vocab"))
    )
    joined = staged.crossJoin(F.broadcast(vocab))
    n_oov = F.size(
        F.filter("ws", lambda t: ~F.array_contains(F.col("vocab"), t))
    )
    return joined.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        n_oov.cast("long").alias("n_oov"),
        F.round(
            n_oov.cast("double") / F.size("ws").cast("double"), 6
        ).alias("oov_rate"),
    )


@register(
    "txt15_token_entropy",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\\s+')) AS tok
                  FROM documents),
         cnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1)
    SELECT cnt.doc_id,
           CAST(any_value(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-CAST(sum(CAST(round((c * 1.0 / n) * ln(c * 1.0 / n), 6)
                                AS DECIMAL(28,6))) AS DOUBLE), 6) AS entropy
    FROM cnt JOIN tot USING (doc_id)
    GROUP BY cnt.doc_id
    """,
    doc="Within-document token (Shannon) entropy — the quality signal that "
    "separates natural prose from keyword-stuffed or template text "
    "orthogonally to TTR (txt13): low entropy = a few tokens dominate. "
    "Plan: one (doc, token) count agg, a doc-keyed total that joins back "
    "co-partitioned (both frames hash on doc_id — AQE keeps it local at "
    "scale), and a final doc agg. Float policy: each p*ln(p) term rounds "
    "to 6dp then decimal-accumulates (txt9's order-independence "
    "discipline), final entropy rounded to 6dp",
)
def txt15_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    term = F.round(p * F.log(p), 6).cast("decimal(28,6)")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.any_value("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )


@register(
    "pipe4_quality_prep",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\\s+')) AS tok
                  FROM documents),
         cnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1),
         ent AS (SELECT cnt.doc_id,
                        round(-CAST(sum(CAST(round((c * 1.0 / n)
                                                   * ln(c * 1.0 / n), 6)
                                             AS DECIMAL(28,6))) AS DOUBLE), 6)
                            AS entropy
                 FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id),
         vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks
                                    GROUP BY tok ORDER BY c DESC, tok
                                    LIMIT 20)),
         oov AS (SELECT t.doc_id,
                        round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                              * 1.0 / count(*), 6) AS oov_rate
                 FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
                 GROUP BY t.doc_id),
         ttr AS (SELECT doc_id,
                        round(len(list_distinct(ws)) * 1.0 / len(ws), 6)
                            AS ttr
                 FROM (SELECT doc_id,
                              string_split_regex(trim(text), '\\s+') AS ws
                       FROM documents))
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ttr.ttr >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_ttr,
           CAST(sum(CASE WHEN oov.oov_rate <= 0.40 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_oov,
           CAST(sum(CASE WHEN ent.entropy >= 2.7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_entropy,
           CAST(sum(CASE WHEN ttr.ttr >= 0.35 AND oov.oov_rate <= 0.40
                          AND ent.entropy >= 2.7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_all
    FROM documents d
    JOIN ttr ON d.doc_id = ttr.doc_id
    JOIN oov ON d.doc_id = oov.doc_id
    JOIN ent ON d.doc_id = ent.doc_id
    GROUP BY d.lang
    """,
    doc="Quality-gate composition over the round-6 signal stack: per-doc "
    "TTR (txt13) + OOV rate (txt14) + token entropy (txt15), thresholded "
    "and rolled up per language with per-rule pass counts (audit-friendly, "
    "txt7's pattern). Decisions compare the ROUNDED 6dp signal values on "
    "both engines, so threshold-boundary docs agree cross-engine. Plan: "
    "the three signal frames join on doc_id (co-partitioned; the TTR side "
    "is narrow, OOV probes a broadcast vocab, entropy's (doc,token) agg is "
    "the only corpus-shaped shuffle), then one small per-lang agg",
)
def pipe4_quality_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    t = txt13_lexical_diversity(spark, sf_dir).select("doc_id", "ttr")
    o = txt14_oov_rate(spark, sf_dir).select("doc_id", "oov_rate")
    e = txt15_token_entropy(spark, sf_dir).select("doc_id", "entropy")
    pass_ttr = F.when(F.col("ttr") >= 0.35, 1).otherwise(0)
    pass_oov = F.when(F.col("oov_rate") <= 0.40, 1).otherwise(0)
    pass_ent = F.when(F.col("entropy") >= 2.7, 1).otherwise(0)
    return (
        docs.join(t, "doc_id")
        .join(o, "doc_id")
        .join(e, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(pass_ttr).alias("n_pass_ttr"),
            F.sum(pass_oov).alias("n_pass_oov"),
            F.sum(pass_ent).alias("n_pass_entropy"),
            F.sum(pass_ttr * pass_oov * pass_ent).alias("n_pass_all"),
        )
    )


@register(
    "pipe5_incremental_ingest",
    None,  # the near-dup stage is LSH-index-defined — rows-only (pipe1
    # policy); stage counts reconciled against the individual certified
    # operators in tests/test_quality_bounds.py
    doc="The production per-ingest-cycle pipeline, composing the certified "
    "round-6/7 admission machinery end-to-end: a NEW batch (20% of docs) "
    "is admitted against the REGISTRY (the other 80%) through three "
    "gates — (1) exact-known: bloom over registry content hashes, "
    "positives verified by the exact semi-join that kills false "
    "positives (dd10's shape, on content instead of keys); (2) "
    "near-dup: survivors probe the registry's persisted LSH band index "
    "through its bucket bloom gate (dd11's shape); (3) quality: txt7's "
    "composite filter. Emits ONE summary row with per-stage removal "
    "counts + n_admitted — the numbers an ingest operator actually "
    "watches. Every intermediate frame feeds two branches (its count "
    "and the next stage) so each is localCheckpointed once (the dd10 "
    "lesson). Per-cycle cost at 100 TB: the registry is touched only "
    "through kilobyte sketches and the bucketed index probe — never "
    "rescanned",
)
def pipe5_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _pipe5_stages(spark, sf_dir)
    counts = [
        parts["new"].agg(F.count(F.lit(1)).alias("n_new")),
        parts["known"].agg(F.count(F.lit(1)).alias("n_exact_known")),
        parts["near_ids"].agg(F.count(F.lit(1)).alias("n_near_dup")),
        parts["unique"].agg(F.count(F.lit(1)).alias("n_unique")),
        parts["admitted"].agg(F.count(F.lit(1)).alias("n_admitted")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out.withColumn(
        "n_low_quality", F.col("n_unique") - F.col("n_admitted")
    )


def _pipe5_stages(spark: SparkSession, sf_dir: str) -> dict:
    """pipe5's three-gate admission pipeline with every stage frame exposed
    (r12: shared by the entry and its pipe5b stage-reconciliation probe —
    ONE pipeline definition, the dd13-centroid one-generator rule)."""
    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    docs = _t(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 5 == 0
    new = docs.filter(new_pred).localCheckpoint(eager=False)
    registry = docs.filter(~new_pred)

    # stage 1 — exact-known: registry content-hash bloom + exact verify
    reg_hashes = registry.select(dd.content_hash(F.col("text")).alias("h"))
    gate1 = bloom_words(reg_hashes, "h")
    probed = bloom_probe(
        new.withColumn("h", dd.content_hash(F.col("text"))), gate1, "h"
    )
    known = probed.filter(F.col("in_bloom") == 1).join(
        reg_hashes.distinct(), "h", "left_semi"
    )
    fresh = (
        probed.join(known.select("doc_id"), "doc_id", "left_anti")
        .drop("in_bloom", "h")
        .localCheckpoint(eager=False)
    )

    # stage 2 — near-dup vs the persisted registry index through its gate
    index = dd.lsh_band_index(registry, num_hashes=64, bands=16, shingle_k=3)
    gate2 = dd.index_bucket_bloom(index)
    pairs = dd.incremental_neardup_pairs(
        fresh, index, num_hashes=64, bands=16, shingle_k=3,
        threshold=0.5, gate_words=gate2,
    )
    near_ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .join(fresh.select("doc_id"), "doc_id", "left_semi")
        .distinct()
    )
    unique = fresh.join(near_ids, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    # stage 3 — composite quality gate on what survived both dedup stages
    admitted = tx.quality_filter(unique).filter(F.col("keep"))
    return {
        "new": new,
        "registry": registry,
        "reg_hashes": reg_hashes,
        "known": known,
        "near_ids": near_ids,
        "unique": unique,
        "admitted": admitted,
    }


@register(
    "pipe5b_ingest_stage_reconciliation",
    """
    SELECT CAST(1 AS BIGINT) AS counts_reconcile,
           CAST(1 AS BIGINT) AS exact_gate_equals_ungated,
           CAST(1 AS BIGINT) AS admitted_subset_of_new,
           CAST(1 AS BIGINT) AS both_stages_nonempty
    """,
    doc="Driver-certified contract probe for pipe5 (r12 rows-only-tail "
    "deepening): the per-cycle admission pipeline's stage arithmetic and "
    "gate semantics as booleans vs the constant (1,1,1,1) oracle, over "
    "the SAME stage frames the entry reports (shared _pipe5_stages — "
    "one pipeline definition). counts_reconcile: n_unique = n_new - "
    "n_exact_known - n_near_dup — the three gates tile the batch with "
    "nothing lost or double-counted. exact_gate_equals_ungated: stage "
    "1's bloom-gated + exact-verified known set is EXACTLY the ungated "
    "content-hash semi-join twin (the dd11b gate-transparency claim on "
    "the hash gate: the bloom admits no false positive past the verify "
    "and, having no false negatives, drops nothing). "
    "admitted_subset_of_new: no registry doc can leak into admission. "
    "both_stages_nonempty: the probe is non-vacuous (the batch and the "
    "admitted set are both populated). Not in the bench headline: pipe5 "
    "carries the measured row",
)
def pipe5b_ingest_stage_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _pipe5_stages(spark, sf_dir)
    n_new = parts["new"].agg(F.count(F.lit(1)).alias("__nn"))
    n_known = parts["known"].agg(F.count(F.lit(1)).alias("__nk"))
    n_near = parts["near_ids"].agg(F.count(F.lit(1)).alias("__nnd"))
    n_unique = parts["unique"].agg(F.count(F.lit(1)).alias("__nu"))
    n_adm = parts["admitted"].agg(F.count(F.lit(1)).alias("__na"))
    ungated = (
        parts["new"]
        .withColumn("h", dd.content_hash(F.col("text")))
        .join(parts["reg_hashes"].distinct(), "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("__nug"))
    )
    leak = (
        parts["admitted"]
        .select("doc_id")
        .join(parts["new"].select("doc_id"), "doc_id", "left_anti")
        .agg((F.count(F.lit(1)) == 0).alias("__noleak"))
    )
    row = (
        n_new.crossJoin(F.broadcast(n_known))
        .crossJoin(F.broadcast(n_near))
        .crossJoin(F.broadcast(n_unique))
        .crossJoin(F.broadcast(n_adm))
        .crossJoin(F.broadcast(ungated))
        .crossJoin(F.broadcast(leak))
    )
    return row.select(
        (F.col("__nu") == F.col("__nn") - F.col("__nk") - F.col("__nnd"))
        .cast("long")
        .alias("counts_reconcile"),
        (F.col("__nk") == F.col("__nug"))
        .cast("long")
        .alias("exact_gate_equals_ungated"),
        F.col("__noleak").cast("long").alias("admitted_subset_of_new"),
        ((F.col("__nn") > 0) & (F.col("__na") > 0))
        .cast("long")
        .alias("both_stages_nonempty"),
    )


@register(
    "pack1_sequence_packing",
    """
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS bin_id
    FROM (SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS n_tokens,
                 sum(len(string_split(text, ' '))) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
    """,
    doc="Sequence packing for training contexts: per-group running token count "
    "-> bin id (greedy sequential packing). One window shuffle; at 100 TB "
    "partition by corpus shard, not a low-cardinality column",
)
def pack1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    return pack_sequences(docs, "n_tokens", "doc_id", "lang", 4096).select(
        "doc_id", "lang", "n_tokens", "bin_id"
    )


_DD6_ORACLE = """
WITH eval_docs AS (SELECT text FROM documents WHERE doc_id % 25 = 0),
eval_grams AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM (SELECT string_split(trim(text), ' ') AS ws FROM eval_docs) WHERE len(ws) >= 3
),
train_grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
        FROM documents WHERE doc_id % 25 != 0) WHERE len(ws) >= 3
)
SELECT t.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS contamination
FROM train_grams t LEFT JOIN eval_grams e USING (g)
GROUP BY t.doc_id
"""


@register(
    "dd6_contamination_overlap",
    _DD6_ORACLE,
    doc="Benchmark-contamination check: fraction of each train doc's 3-gram "
    "shingles present in the (broadcast) eval corpus — eval split here is "
    "doc_id % 25 == 0. Narrow train scan + broadcast join; swap broadcast "
    "for a bloom filter when the eval set outgrows memory",
)
def dd6_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return dd.contamination_overlap(train, eval_df, "text", "doc_id", ngram=3)


@register(
    "txt5_pii_redact",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9][0-9()\-\. ]{7,}[0-9]', '<PHONE>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
           AS redacted
    FROM documents
    """,
    doc="PII redaction: chained regexp_replace (email/phone/IPv4) — narrow JVM "
    "expressions, scan-bound; pattern list extends without changing the shape",
)
def txt5_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", redact_pii(F.col("text")).alias("redacted"))


@register(
    "txt6_repetition",
    """
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           max(c) AS top_bigram_count,
           round(max(c) / sum(c), 6) AS top_bigram_frac
    FROM (
      SELECT doc_id, bg, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i+1])) AS bg
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
            WHERE len(ws) >= 2)
      GROUP BY doc_id, bg
    )
    GROUP BY doc_id
    """,
    doc="C4/Gopher-style repetition signal: fraction of a doc's bigrams taken "
    "by its most frequent bigram (explode -> two doc-keyed hash aggs). "
    "NOTE count(*) here counts distinct-bigram rows (the inner group)",
)
def txt6_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import top_bigram_repetition

    return top_bigram_repetition(_t(spark, sf_dir, "documents"))


@register(
    "txt7_quality_filter",
    """
    WITH feats AS (
      SELECT doc_id,
             len(regexp_extract_all(trim(text), '[^ ]+')) AS n_tokens,
             round((length(text) - (len(regexp_extract_all(trim(text), '[^ ]+')) - 1))
                   / len(regexp_extract_all(trim(text), '[^ ]+')), 6) AS avg_token_len
      FROM documents
    ),
    rep AS (
      SELECT doc_id, round(max(c) / sum(c), 6) AS top_bigram_frac
      FROM (SELECT doc_id, bg, count(*) AS c
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS bg
                  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
                  WHERE len(ws) >= 2)
            GROUP BY doc_id, bg)
      GROUP BY doc_id
    )
    SELECT f.doc_id,
           (f.n_tokens >= 15 AND f.n_tokens <= 100000) AS pass_token_count,
           (f.avg_token_len >= 2.0 AND f.avg_token_len <= 12.0) AS pass_token_len,
           coalesce(r.top_bigram_frac <= 0.20, TRUE) AS pass_repetition
    FROM feats f LEFT JOIN rep r USING (doc_id)
    """,
    doc="Composite quality filter, audit-friendly: per-rule boolean flags "
    "(token count / token length / repetition) so drops are explainable. "
    "Oracle checks the SQL-portable rules; the stopword rule and final "
    "verdict are covered by unit tests (heuristic constants differ per "
    "tokenizer)",
)
def txt7_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.text import quality_filter

    out = quality_filter(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "pass_token_count", "pass_token_len", "pass_repetition")


@register(
    "dd7_neardup_survivors",
    None,  # pairs derive from the hash-defined MinHash index — rows-only;
           # the clustering algorithm itself is exactly verified in unit tests
    doc="Terminal dedup step: LSH pairs → connected components (pointer-"
    "doubling hook + jump, lineage-checkpointed per round, fixpoint "
    "verified — exact or loud) → keep min-id per cluster. Converges in "
    "~log4(diameter) rounds; dup families are tiny so the one-hop init "
    "is usually already the fixpoint",
)
def dd7_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "text", "doc_id")
    return dd.neardup_survivors_converged(docs, pairs, "doc_id").select(
        "doc_id"
    )


@register(
    "dd7b_survivor_contract",
    """
    SELECT CAST(1 AS BIGINT) AS partition_complete,
           CAST(1 AS BIGINT) AS dropped_has_edge,
           CAST(1 AS BIGINT) AS higher_endpoint_never_survives,
           CAST(1 AS BIGINT) AS rerun_identical
    """,
    doc="Driver-certified contract probe for dd7 (r12 rows-only-tail "
    "deepening): the min-id-per-connected-component survivor rule's "
    "obligations evaluated as booleans against the SAME LSH pair set "
    "(checkpointed once, shared by every check) and hash-checked "
    "against the constant (1,1,1,1) oracle. partition_complete: "
    "survivors + dropped exactly tile the corpus (disjoint, nothing "
    "lost). dropped_has_edge: every dropped doc appears in at least one "
    "pair — an isolated doc is its own component and MUST survive. "
    "higher_endpoint_never_survives: no pair's id_b (the larger id — "
    "pairs are emitted id_a < id_b) is a survivor, since the component "
    "minimum is <= every neighbor; this subsumes "
    "at-most-one-survivor-per-edge. rerun_identical: a second label "
    "propagation over the same pairs reproduces the survivor set "
    "exactly — the iterative algorithm has no order dependence. The "
    "clustering is exactly verified on hand-built graphs in unit tests; "
    "this entry re-asserts the contract on the driver's fixture at "
    "every window rotation. Not in the bench headline: dd7 carries the "
    "measured row",
)
def dd7b_survivor_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = dd.minhash_lsh_pairs(docs, "text", "doc_id").select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    surv = (
        dd.neardup_survivors_converged(docs, pairs, "doc_id")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    surv2 = dd.neardup_survivors_converged(docs, pairs, "doc_id").select(
        "doc_id"
    )
    dropped = ids.join(surv, "doc_id", "left_anti")

    n_docs = ids.agg(F.count(F.lit(1)).alias("__nd"))
    n_surv = surv.agg(F.count(F.lit(1)).alias("__ns"))
    n_drop = dropped.agg(F.count(F.lit(1)).alias("__ndr"))
    surv_outside = surv.join(ids, "doc_id", "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("__inside")
    )
    partition_complete = (
        n_docs.crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(n_drop))
        .crossJoin(F.broadcast(surv_outside))
        .select(
            (
                (F.col("__ns") + F.col("__ndr") == F.col("__nd"))
                & F.col("__inside")
            )
            .cast("long")
            .alias("partition_complete")
        )
    )
    edge_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    orphans = dropped.join(edge_ids, "doc_id", "left_anti").agg(
        (F.count(F.lit(1)) == 0).cast("long").alias("dropped_has_edge")
    )
    high_surv = pairs.join(
        surv.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
    ).agg(
        (F.count(F.lit(1)) == 0)
        .cast("long")
        .alias("higher_endpoint_never_survives")
    )
    rerun = _rerun_identical(surv, surv2)
    return (
        partition_complete.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(high_surv))
        .crossJoin(F.broadcast(rerun))
    )


@register(
    "txt8_per_lang_quality_percentile",
    """
    SELECT doc_id, lang, n_chars,
           round(pr, 6) AS len_percentile
    FROM (SELECT doc_id, lang, n_chars,
                 percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
          FROM documents)
    WHERE pr >= 0.5
    """,
    doc="Per-stratum percentile filter: keep each language's top-half by "
    "length (any score column works the same) — dynamic cutoffs instead of "
    "global constants. One window shuffle on the stratum key; doc_id "
    "tie-break makes percent_rank deterministic cross-engine",
)
def txt8_per_lang_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .select("doc_id", "lang", "n_chars", F.round("pr", 6).alias("len_percentile"))
    )


@register(
    "pipe1_corpus_pipeline",
    None,  # composes rows-only stages (MinHash survivors) — end-to-end
           # monotonicity and determinism asserted in tests
    doc="The full training-corpus pipeline composed from the operator "
    "library: quality filter (per-rule flags) → exact dedup (min-id per "
    "content hash) → near-dup survivors (MinHash-LSH + connected "
    "components) → deterministic 80% hash-sample split → sequence packing. "
    "Returns per-language corpus stats. Every stage is a DataFrame "
    "transform; the composition adds no driver-side data movement",
)
def pipe1_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe1_stats(spark, sf_dir, barrier=False)


def _pipe1_stats(spark: SparkSession, sf_dir: str, barrier: bool = False) -> DataFrame:
    """pipe1's five-stage corpus pipeline (r12: shared by the entry and its
    pipe1b plan-shape-invariance probe). ``barrier=True`` cuts the logical
    plan after every stage with a lazy localCheckpoint, forcing staged
    evaluation — the probe compares it against the fused single-plan run."""
    from tranquility_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        neardup_survivors_converged,
    )
    from tranquility_spark.operators.text import hash_sample, pack_sequences, quality_filter

    def _b(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if barrier else df

    docs = _t(spark, sf_dir, "documents")

    # 1. quality gate
    verdicts = quality_filter(docs).select("doc_id", "keep")
    kept = _b(docs.join(verdicts.filter(F.col("keep")), "doc_id").drop("keep"))

    # 2. exact dedup: keep the min doc_id per content hash
    survivors_exact = exact_dedup(kept, "text", "doc_id").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = _b(kept.join(survivors_exact, "doc_id"))

    # 3. near-dup survivors (LSH pairs → components → min-id per cluster)
    pairs = minhash_lsh_pairs(kept, "text", "doc_id")
    kept = _b(neardup_survivors_converged(kept, pairs, "doc_id"))

    # 4. reproducible 80% train split
    train = _b(hash_sample(kept, "doc_id", 80))

    # 5. pack into 4096-token contexts per language
    packed = pack_sequences(
        train.withColumn("n_tokens", F.size(F.split(F.col("text"), " "))),
        "n_tokens", "doc_id", "lang", 4096,
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.max("bin_id") + 1).alias("n_bins"),
        )
        .orderBy("lang")
    )


@register(
    "pipe1b_staged_equals_fused",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for pipe1 (r12 rows-only-tail "
    "deepening, the dd11b/sim3c equality shape): the per-language corpus "
    "stats from pipe1's FUSED five-stage plan (one logical plan Catalyst "
    "optimizes end-to-end — filter pushdown, join reordering across "
    "stage boundaries) must equal the STAGED run that cuts the plan "
    "after every stage with a materialization barrier, so no "
    "cross-stage rewrite can change semantics. This is the claim "
    "pipe1's docstring makes in prose — 'the composition adds no "
    "driver-side data movement' and composes exactly like its certified "
    "components — now driver-checked: any Catalyst rewrite, reused "
    "subplan or CSE across the quality/dedup/survivor/split/pack "
    "stages that altered results would break the equality. Symmetric "
    "difference as a count row vs the constant-0 oracle; both_nonempty "
    "certifies non-vacuousness. Not in the bench headline: pipe1 "
    "carries the measured row",
)
def pipe1b_staged_equals_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = _pipe1_stats(spark, sf_dir, barrier=False)
    staged = _pipe1_stats(spark, sf_dir, barrier=True)
    return _equality_probe(fused, staged)


@register(
    "txt9_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS s FROM freq)
    SELECT doc_id,
           round(CAST(sum(CAST(round(ln(c / s), 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS mean_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Perplexity-proxy quality scoring with a SELF-TRAINED unigram LM: "
    "corpus token frequencies -> per-doc mean log-probability (the classic "
    "CCNet/Gopher-style LM-filter signal, minus the external model). Plan: "
    "one explode + hash-agg builds the vocab, the scalar total broadcasts, "
    "the token->freq join broadcasts while the vocab fits (shuffle join with "
    "AQE skew split when it does not — stopword tokens are the skewed keys). "
    "Per-token ln is rounded then decimal-accumulated so the per-doc mean is "
    "order-independent cross-engine",
)
def txt9_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("s"))
    lp = F.round(F.log(F.col("c") / F.col("s")), 6).cast("decimal(28,6)")
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logprob")
        )
    )


@register(
    "samp3_weighted_sample",
    f"""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             round(ln(({portable_shard_sql('doc_id', 1000003)} + 0.5) / 1000003.0)
                   / greatest(n_chars, 1), 9) AS es_key
      FROM documents
    )
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
    doc="Length-weighted sample without replacement (Efraimidis–Spirakis "
    "A-Res): key = ln(u)/w with u from the engine-portable multiplicative "
    "hash, take the top-100 keys. Fully deterministic and retry-stable "
    "(depends only on doc_id), reproducible across engines — rand()-based "
    "weighted sampling can guarantee neither. Top-k is "
    "TakeOrderedAndProject; no global sort materializes",
)
def samp3_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import portable_shard

    docs = _t(spark, sf_dir, "documents")
    u = (portable_shard(F.col("doc_id"), 1000003) + F.lit(0.5)) / F.lit(1000003.0)
    es_key = F.round(F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)), 9)
    return (
        docs.withColumn("es_key", es_key)
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "mm2_frame_sample",
    """
    WITH media AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    f AS (
      SELECT doc_id, hx, nb,
             least(greatest(((100 * nb) % 60000) // 1000, 1), 8) AS n
      FROM media
    ),
    fr AS (
      SELECT doc_id, hx, nb, CAST(unnest(range(0, n)) AS INTEGER) AS frame_idx
      FROM f
    )
    SELECT doc_id, frame_idx,
           frame_idx * 1000 AS frame_ts_ms,
           substring(hx, ((frame_idx * 1000 * 13) % greatest(nb - 16, 1)) * 2 + 1, 32)
             AS frame_hex
    FROM fr
    """,
    doc="Multimodal frame sampling: the 1→N mapInPandas fan-out a video "
    "demuxer distributes as (typed frame schema, bounded max_frames row "
    "amplification). Demux itself STUBBED deterministically (codec libs "
    "absent) which makes the fan-out ORACLE-CHECKABLE — the oracle slices "
    "the hex encoding of the utf-8 payload (2 ASCII chars per byte, so a "
    "char-substring of hex IS a byte-substring of the payload — exact on "
    "ANY corpus, non-ASCII included); frames compare as hex digests "
    "(binary columns don't survive the driver's pandas value-hash)",
)
def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    frames = mm.sample_frames(media, every_ms=1000, max_frames=8)
    return frames.select(
        "doc_id", "frame_idx", "frame_ts_ms", F.hex("payload").alias("frame_hex")
    )


@register(
    "mm3_resize",
    """
    SELECT doc_id, 224 AS width, 224 AS height,
           md5(substring(repeat(hex(encode(text)),
                 CAST(50176 // greatest(octet_length(encode(text)), 1) + 1 AS BIGINT)),
               1, 50176 * 2)) AS payload_md5,
           50176 AS n_bytes
    FROM documents
    """,
    doc="Multimodal resize plumbing: fixed-size output payloads via one "
    "narrow mapInPandas (no shuffle, linear in executors). Pixel transform "
    "STUBBED as deterministic truncate/tile (codec libs absent) so output "
    "size, schema and Arrow batch shape are oracle-checked; payloads "
    "compare as md5 OF THE HEX ENCODING (hex commutes with concat, and a "
    "2-chars-per-byte substring is an exact byte-truncation — so the "
    "compare survives a non-ASCII corpus regeneration, and DuckDB 1.0 has "
    "no BLOB md5/substring anyway)",
)
def mm3_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    resized = mm.resize_images(media, target_width=224, target_height=224)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.md5(F.hex("payload")).alias("payload_md5"),
        F.octet_length("payload").alias("n_bytes"),
    )


@register(
    "mm6_image_dhash",
    """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS nb
        FROM documents
    ),
    tiled AS (
        SELECT doc_id,
               substring(repeat(h, CAST(72 // greatest(nb, 1) + 1 AS BIGINT)),
                         1, 144) AS th
        FROM hx
    ),
    px AS (
        -- byte-exact on ANY corpus (the mm2/mm3/mm4 hex lesson): byte i
        -- decodes from its two hex digits, never from a char codepoint
        SELECT doc_id,
               list_transform(range(1, 73),
                 i -> CAST(16 * (strpos('0123456789ABCDEF', th[i*2-1]) - 1)
                           + (strpos('0123456789ABCDEF', th[i*2]) - 1)
                           AS BIGINT)) AS cs
        FROM tiled
    ),
    rb AS (
        SELECT doc_id, r,
               CAST(list_aggregate(
                 list_transform(range(0, 8),
                   c -> CASE WHEN cs[r*9 + c + 2] > cs[r*9 + c + 1]
                             THEN 1 << c ELSE 0 END),
                 'sum') AS BIGINT) AS rowbyte
        FROM (SELECT doc_id, cs, unnest(range(0, 8)) AS r FROM px)
    ),
    hashes AS (
        SELECT doc_id,
               string_agg(printf('%02x', rowbyte), '' ORDER BY r) AS dhash
        FROM rb GROUP BY doc_id
    )
    SELECT doc_id, dhash,
           CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same_hash
    FROM hashes
    """,
    doc="Perceptual image dHash (the public difference-hash recipe: 9x8 "
    "grayscale, horizontal-gradient bits, 64-bit digest) — the image-"
    "modality near-dup signal, MinHash's counterpart for pixels: "
    "re-encodes/minor edits of one source land within a few hamming "
    "bits. n_same_hash groups exact-hash duplicates (the image twin of "
    "dd1). The decode slot is the mm1/mm3 pluggable design — stub "
    "(payload tiled to the 9x8 'grayscale', byte-exact oracle via the "
    "hex-digit technique), native (real PNG/BMP decode + nearest "
    "resize + integer channel-mean), pil — same mapInPandas plan for "
    "all three: narrow, no shuffle except the one hash-group window, "
    "whose key is the 16-char digest (bounded cardinality). Digest is "
    "a hex STRING: the cross-engine bit policy forbids packing 64 bits "
    "into a signed BIGINT",
)
def mm6_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    hashes = mm.image_dhash(media)
    return hashes.select(
        "doc_id",
        "dhash",
        F.count(F.lit(1))
        .over(Window.partitionBy("dhash"))
        .cast("long")
        .alias("n_same_hash"),
    )


@register(
    "dd16_dhash_neardup",
    """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS nb
        FROM documents
    ),
    tiled AS (
        SELECT doc_id,
               substring(repeat(h, CAST(72 // greatest(nb, 1) + 1 AS BIGINT)),
                         1, 144) AS th
        FROM hx
    ),
    px AS (
        SELECT doc_id,
               list_transform(range(1, 73),
                 i -> CAST(16 * (strpos('0123456789ABCDEF', th[i*2-1]) - 1)
                           + (strpos('0123456789ABCDEF', th[i*2]) - 1)
                           AS BIGINT)) AS cs
        FROM tiled
    ),
    rb AS (
        SELECT doc_id, r,
               CAST(list_aggregate(
                 list_transform(range(0, 8),
                   c -> CASE WHEN cs[r*9 + c + 2] > cs[r*9 + c + 1]
                             THEN 1 << c ELSE 0 END),
                 'sum') AS BIGINT) AS rowbyte
        FROM (SELECT doc_id, cs, unnest(range(0, 8)) AS r FROM px)
    ),
    hashes AS (
        SELECT doc_id,
               string_agg(printf('%02x', rowbyte), '' ORDER BY r) AS dhash
        FROM rb GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, dhash, b, substring(dhash, b*4 + 1, 4) AS bv
        FROM hashes, unnest(range(0, 4)) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.dhash AS ha, b.dhash AS hb
        FROM banded a JOIN banded b
          ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(list_aggregate(list_transform(range(0, 4), i ->
                 bit_count(xor(
                   CAST(4096 * (strpos('0123456789abcdef', ha[i*4+1]) - 1)
                        + 256 * (strpos('0123456789abcdef', ha[i*4+2]) - 1)
                        + 16 * (strpos('0123456789abcdef', ha[i*4+3]) - 1)
                        + (strpos('0123456789abcdef', ha[i*4+4]) - 1)
                        AS BIGINT),
                   CAST(4096 * (strpos('0123456789abcdef', hb[i*4+1]) - 1)
                        + 256 * (strpos('0123456789abcdef', hb[i*4+2]) - 1)
                        + 16 * (strpos('0123456789abcdef', hb[i*4+3]) - 1)
                        + (strpos('0123456789abcdef', hb[i*4+4]) - 1)
                        AS BIGINT)))), 'sum') AS BIGINT) AS hamming
        FROM cand
    )
    SELECT doc_a, doc_b, hamming
    FROM scored
    WHERE hamming <= 3
    """,
    doc="Image near-duplicate PAIRS from mm6's perceptual dHash via "
    "HAMMING BANDING — the step dd3 (signatures only) never takes, and "
    "the image twin of dd2's LSH pair join: the 64-bit digest splits "
    "into 4 x 16-bit bands, a pair within hamming <= 3 differs in at "
    "most 3 bands so at least one band matches exactly (pigeonhole — "
    "candidate recall COMPLETE, not probabilistic), candidates verify "
    "with the exact per-band bit_count(xor) hamming before emission "
    "(precision exact). Hash-certified end-to-end including the "
    "verify arithmetic. Scale: the join key is (band, 16-bit value) — "
    "sum-of-bucket² cost, never all-pairs; band ints stay <= 0xffff, "
    "far inside the 63-bit cross-engine policy",
)
def dd16_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.dedup import dhash_neardup_pairs

    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    hashes = mm.image_dhash(media)
    return dhash_neardup_pairs(hashes, threshold=3)


@register(
    "dd17_simhash_neardup",
    None,  # blake2b signatures — no SQL twin (dd3's policy); the banding
    # contract is driver-certified by dd17b's exact all-pairs twin
    doc="SimHash near-dup TEXT pairs (r12 — completes the SimHash family: "
    "dd3 stopped at signatures): Manku et al. WWW'07's 64-bit-digest / "
    "hamming<=3 construction via the SAME 4x16-bit pigeonhole banding "
    "the image path (dd16) uses — candidate recall COMPLETE for "
    "threshold <= bands-1 (not probabilistic like MinHash), exact "
    "hamming verify before emission. On this corpus SimHash-3 is the "
    "tighter net than dd2's Jaccard-0.5: same-document-modulo-a-few-"
    "tokens pairs. Scale: the banded self-join runs over DISTINCT "
    "signatures (the dd16 hot-bucket guard — a boilerplate flood of "
    "identical texts costs ONE candidate row), doc ids fan back out on "
    "verified hash pairs only; one Arrow-batched signature pass over "
    "the corpus, then kilobyte-scale joins",
)
def dd17_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_neardup_pairs(
        _t(spark, sf_dir, "documents"), threshold=3
    )


@register(
    "dd17b_simhash_banding_contract",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd17 (the dd11b equality "
    "shape): the banded-join pipeline's output must EQUAL the exact "
    "all-pairs hamming<=3 twin computed over DISTINCT signatures "
    "(bit_count(xor) under a broadcast self-join, fanned back to doc "
    "pairs by the same id attachment) — completeness is the pigeonhole "
    "theorem made testable (every qualifying pair, not a recall "
    "floor), exactness covers the verify arithmetic and the "
    "signed-int64 -> two's-complement-hex -> 16-bit-band conversions. "
    "Symmetric difference as a count row vs the constant-0 oracle; "
    "both_nonempty certifies the corpus really contains "
    "hamming<=3 pairs (18 distinct-signature pairs at sf0.01, 537 at "
    "sf0.1 — measured, not assumed). Not in the bench headline: dd17 "
    "carries the measured row",
)
def dd17b_simhash_banding_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    got = dd.simhash_neardup_pairs(docs, threshold=3).select(
        "doc_a", "doc_b", "hamming"
    )
    sigs = dd.simhash_signatures(docs).localCheckpoint(eager=False)
    ds = sigs.select("simhash").distinct()
    x, y = ds.alias("x"), ds.alias("y")
    hp = (
        x.join(F.broadcast(y), F.col("x.simhash") <= F.col("y.simhash"))
        .select(
            F.col("x.simhash").alias("__sa"),
            F.col("y.simhash").alias("__sb"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    da = sigs.select(F.col("doc_id").alias("__ida"), F.col("simhash").alias("__sa"))
    db = sigs.select(F.col("doc_id").alias("__idb"), F.col("simhash").alias("__sb"))
    want = (
        hp.join(da, "__sa")
        .join(db, "__sb")
        .filter(
            (F.col("__sa") != F.col("__sb"))
            | (F.col("__ida") < F.col("__idb"))
        )
        .select(
            F.least(F.col("__ida"), F.col("__idb")).alias("doc_a"),
            F.greatest(F.col("__ida"), F.col("__idb")).alias("doc_b"),
            "hamming",
        )
    )
    return _equality_probe(got, want)


@register(
    "dd18_simhash_incremental",
    None,  # blake2b signatures — rows-only (dd3/dd17 policy); equality to
    # the full run is driver-certified by dd18b
    doc="Incremental SimHash near-dup at ingest (r12 — dd8's "
    "per-cycle pattern for the second signature family): a NEW batch "
    "(20% of docs, dd8's split) probes the REGISTRY's persisted "
    "simhash_band_index through (band, bval) bucket joins over DISTINCT "
    "signatures — only the batch is signature-hashed, the corpus is "
    "never re-hashed or reshuffled (write the index bucketed on the "
    "probe key; the lsh_band_index layout contract). Emits every "
    "hamming<=3 pair touching a new doc. With dd17 this completes the "
    "SimHash family: signatures (dd3) -> pairs (dd17) -> "
    "incremental-at-ingest (dd18), mirroring MinHash's dd2/dd8. "
    "Per-cycle cost O(new batch + touched buckets), corpus-size-"
    "independent — the measured dd8/dd11 scale story, same shape",
)
def dd18_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 5 == 0
    index = dd.simhash_band_index(docs.filter(~new_pred))
    return dd.simhash_incremental_pairs(
        docs.filter(new_pred), index, threshold=3
    )


@register(
    "dd18b_simhash_incremental_equals_full",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd18 (the dd8b shape): the "
    "incremental run must EQUAL the full-corpus dd17 pipeline "
    "restricted to pairs touching new ids — incrementality costs no "
    "recall and invents no pairs (deterministic signatures make this "
    "an exact equality, not a floor). Symmetric difference vs the "
    "constant-0 oracle; both_nonempty certifies the split really "
    "produces cross-boundary near-dup pairs. Not in the bench "
    "headline: dd18 carries the measured row",
)
def dd18b_simhash_incremental_equals_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 5 == 0
    new_ids = docs.filter(new_pred).select("doc_id")
    index = dd.simhash_band_index(docs.filter(~new_pred))
    inc = dd.simhash_incremental_pairs(
        docs.filter(new_pred), index, threshold=3
    )
    full = dd.simhash_neardup_pairs(docs, threshold=3)
    touching_new = (
        full.join(
            new_ids.select(F.col("doc_id").alias("doc_a")).withColumn(
                "__fa", F.lit(1)
            ),
            "doc_a",
            "left",
        )
        .join(
            new_ids.select(F.col("doc_id").alias("doc_b")).withColumn(
                "__fb", F.lit(1)
            ),
            "doc_b",
            "left",
        )
        .filter(F.col("__fa").isNotNull() | F.col("__fb").isNotNull())
        .select("doc_a", "doc_b", "hamming")
    )
    # lineage cut: exceptAll over the raw plans trips a Catalyst binding
    # bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the replication sum when
    # a subset-column dropDuplicates sits upstream); checkpointing both
    # sides compares materialized rows, same semantics
    inc = inc.localCheckpoint(eager=False)
    touching_new = touching_new.localCheckpoint(eager=False)
    return _equality_probe(inc, touching_new)


# the band index schema is fixed by simhash_band_index: doc id, full
# 16-hex-char signature, band ordinal, 4-hex-char band value
_SIMHASH_INDEX_SCHEMA = "id BIGINT, sighex STRING, band INT, bval STRING"
# ~16k docs per bucket: small enough that bucket count (= max scan/join
# parallelism for the zero-shuffle self-join) keeps every core busy well
# before the scan dominates. r13 scale lesson, measured: a FIXED 4-bucket
# index capped the serving plan at 4 tasks and made sf10 serving SLOWER
# than the inline re-hash (44 s vs 19 s); bucket count must grow with the
# corpus — at 100 TB size buckets to the 128 MB-1 GB guidance in
# sources/bucketed.py, same rule, byte-denominated.
_DOCS_PER_INDEX_BUCKET = 16_000


def _doc_index_buckets(sf_dir: str) -> int:
    """Corpus-sized bucket count from parquet footer metadata (no scan);
    falls back to 32 (the local core count) when footers are unreadable."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/documents.parquet"
    try:
        if os.path.isdir(path):
            n = sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            n = pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):
        # OSError: missing/non-local path; ValueError: pyarrow ArrowInvalid
        # (a ValueError subclass) on a truncated or non-parquet footer —
        # both take the documented fallback instead of killing the entry
        return 32
    return max(4, min(512, -(-n // _DOCS_PER_INDEX_BUCKET)))


def _served_index_table(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    schema_ddl: str,
    bucket_key: list,
    build_fn,
    extra_meta: dict | None = None,
) -> str:
    """The shared served-index protocol (r13, factored out of the SimHash
    and MinHash tables by self-review — one state machine, not two copies
    that drift): a bucketed+sorted EXTERNAL table at a location named by
    (kind, format version, corpus fingerprint) — a regenerated fixture or
    changed parameters change the digest and the stale layout is simply
    never opened again. First touch per corpus runs ``build_fn(df, name,
    n_buckets, loc)`` (the one expensive pass) and records bucket count +
    schema (+ ``extra_meta``, e.g. LSH parameters) in a ``_meta`` sidecar;
    a fresh SESSION whose in-memory catalog forgot the registration (the
    catalog dies with the session, the files don't) re-registers the
    surviving files with one DDL statement from the sidecar
    (sources/bucketed.py#register_bucketed) instead of rebuilding."""
    import json
    import os

    from tranquility_spark.sources.bucketed import register_bucketed

    ck = _index_cache_key(sf_dir, table="documents")
    digest = _index_cache_digest(kind, ck)
    name = f"{kind.split('+')[0]}_{digest}"
    if spark.catalog.tableExists(name):
        return name
    loc = os.path.join(_index_cache_root(), f"{kind.split('+')[0]}-{digest}")
    meta_path = os.path.join(loc, "_meta.json")
    if os.path.exists(os.path.join(loc, "_SUCCESS")) and os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        register_bucketed(
            spark,
            name,
            meta["schema_ddl"],
            meta["bucket_key"],
            meta["num_buckets"],
            loc,
        )
    else:
        from tranquility_spark.sources.layout import publish_layout_atomic

        n_buckets = _doc_index_buckets(sf_dir)

        def _build(stage: str) -> None:
            # the bucketed write + the _meta sidecar both land in the
            # staged dir, so the single publish rename makes the layout
            # and its parameters appear together (VERDICT r14 #2 — the
            # old in-place build let a concurrent first touch interleave
            # overwrite-deletes under a green _SUCCESS)
            build_fn(_t(spark, sf_dir, "documents"), name, n_buckets, stage)
            with open(os.path.join(stage, "_meta.json"), "w", encoding="utf-8") as fh:
                json.dump(
                    {
                        "schema_ddl": schema_ddl,
                        "bucket_key": bucket_key,
                        "num_buckets": n_buckets,
                        **(extra_meta or {}),
                    },
                    fh,
                )

        try:
            publish_layout_atomic(
                loc,
                _build,
                is_complete=lambda p: os.path.exists(os.path.join(p, "_SUCCESS"))
                and os.path.exists(os.path.join(p, "_meta.json")),
            )
        finally:
            # build_fn's saveAsTable registered `name` at the STAGE path.
            # Drop it in a finally (r15 self-review): a failure between
            # the saveAsTable and here would otherwise leave the session
            # serving a registered table over the never-published (and
            # soon-deleted) staging dir via the tableExists short-circuit.
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        register_bucketed(
            spark, name, schema_ddl, bucket_key, n_buckets, loc
        )
    return name


def _simhash_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted SimHash band index for a corpus (the
    _served_index_table protocol; serving queries read the co-located
    (band, bval) rows — signatures are computed once, at build)."""
    return _served_index_table(
        spark,
        sf_dir,
        "simhashidx",
        _SIMHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.simhash_index_write(
            df, name, num_buckets=n, path=loc
        ),
    )


@register(
    "dd19_simhash_served_pairs",
    None,  # blake2b signatures — rows-only (dd3/dd17 policy); equality to
    # dd17's inline pipeline is driver-certified by dd19b
    doc="SimHash near-dup pairs served from the PERSISTED band index "
    "(r13, VERDICT r12 #3 — dd17's '100 TB shape' prose made an "
    "executable entry, the sim3b precedent): first touch per corpus "
    "writes simhash_band_index bucketed+sorted on (band, bval) "
    "(dedup.py#simhash_index_write); every query after that is "
    "simhash_pairs_from_index — the signature pass is NEVER re-paid, "
    "the distinct-signature stage needs no shuffle (grouping keys "
    "superset of the bucket key), and the banded candidate self-join "
    "is a zero-Exchange SortMergeJoin over the index's own persisted "
    "rows (plan-asserted in tests/test_bucketed.py). Doc ids attach "
    "from the band-0 slice (one row per doc — a filter, not a "
    "distinct) to verified hash pairs only. At 100 TB the query cost "
    "is the INDEX (4 x 40-byte rows per doc), not the corpus text",
)
def dd19_simhash_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _simhash_index_table(spark, sf_dir)
    return dd.simhash_pairs_from_index(spark.table(table), threshold=3)


@register(
    "dd19b_simhash_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd19 (the sim3c "
    "served-equals-inline shape): the symmetric difference between the "
    "persisted-index serving path (simhash_pairs_from_index over the "
    "bucketed table) and dd17's inline pipeline "
    "(simhash_neardup_pairs re-hashing the corpus) on the full "
    "(doc_a, doc_b, hamming) rows, emitted as a count row against the "
    "constant-0 oracle — a green hash certifies "
    "layout-round-trip-changes-nothing at every window rotation. "
    "both_nonempty certifies the corpus really contains hamming<=3 "
    "pairs. Not in the bench headline: dd19 carries the measured "
    "serving row",
)
def dd19b_simhash_served_equals_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _simhash_index_table(spark, sf_dir)
    served = dd.simhash_pairs_from_index(spark.table(table), threshold=3)
    inline = dd.simhash_neardup_pairs(_t(spark, sf_dir, "documents"), threshold=3)
    return _equality_probe(served, inline)


# identical row shape to the SimHash index — both are 64-bit digests in
# 4 x 16-bit bands, which is what lets ONE serving extraction run over
# either family (dedup.py#dhash_pairs_from_index)
_DHASH_INDEX_SCHEMA = "id BIGINT, sighex STRING, band INT, bval STRING"


def _dhash_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted dHash band index for a corpus (the
    _served_index_table protocol on the IMAGE digest family, r15 —
    VERDICT r14 #3): the binary decode + perceptual-hash pass runs ONCE
    here, at build; serving queries read (band, bval)-co-located 40-byte
    rows and never touch the image bytes again."""
    return _served_index_table(
        spark,
        sf_dir,
        "dhashidx",
        _DHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.dhash_index_write(
            mm.image_dhash(mm.attach_binary_payload(df)),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd23_dhash_served_pairs",
    None,  # perceptual-hash pair set — rows-only (dd16/dd19 policy);
    # equality to dd16's inline pipeline is driver-certified by dd16b
    doc="Image near-dup pairs served from the PERSISTED dHash band index "
    "(r15, VERDICT r14 #3 — the one signature family still inline-only: "
    "dd16 re-decoded and re-hashed every image per run while MinHash "
    "and SimHash served from dd20/dd19's indexes): first touch per "
    "corpus decodes + hashes once and writes dhash_band_index "
    "bucketed+sorted on (band, bval) (dedup.py#dhash_index_write); "
    "every query after that is dhash_pairs_from_index — the 4x16-bit "
    "layout is bit-compatible with the SimHash index, so the SAME "
    "zero-corpus-shuffle serving extraction applies: distinct-digest "
    "stage collapses onto the bucketed scan, banded candidate self-join "
    "is a zero-Exchange SortMergeJoin (plan-asserted in "
    "tests/test_bucketed.py), exact hamming verify, band-0 doc fan-out. "
    "At 100 TB the query reads 4 x ~40-byte index rows per image, not "
    "the image bytes — the decode is an ingest cost, not a query cost",
)
def dd23_dhash_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _dhash_index_table(spark, sf_dir)
    return dd.dhash_pairs_from_index(spark.table(table), threshold=3)


@register(
    "dd16b_dhash_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd23 (the dd19b "
    "served-equals-inline shape on the image family): the symmetric "
    "difference between the persisted-index serving path "
    "(dhash_pairs_from_index over the bucketed table) and dd16's inline "
    "pipeline (attach_binary_payload -> image_dhash -> "
    "dhash_neardup_pairs, re-decoding the corpus) on the full "
    "(doc_a, doc_b, hamming) rows, emitted as a count row against the "
    "constant-0 oracle. both_nonempty certifies the corpus really "
    "contains hamming<=3 image pairs. Not in the bench headline: dd23 "
    "carries the measured serving row",
)
def dd16b_dhash_served_equals_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _dhash_index_table(spark, sf_dir)
    served = dd.dhash_pairs_from_index(spark.table(table), threshold=3)
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    inline = dd.dhash_neardup_pairs(mm.image_dhash(media), threshold=3)
    return _equality_probe(served, inline)


_MINHASH_INDEX_SCHEMA = "id BIGINT, sig ARRAY<BIGINT>, band INT, bhash BIGINT"
_MINHASH_INDEX_PARAMS = dict(num_hashes=64, bands=16, shingle_k=3, seed=42)


def _minhash_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted MinHash LSH band index for a corpus (the
    _served_index_table protocol on the first signature family). The
    LSH parameters ride in the digest kind — lsh_band_index's
    parameter-drift warning: an index built with different (num_hashes,
    bands, shingle_k, seed) silently produces garbage candidates, so
    different parameters mean a different location — and in the sidecar
    for human inspection."""
    return _served_index_table(
        spark,
        sf_dir,
        "minhashidx+" + repr(sorted(_MINHASH_INDEX_PARAMS.items())),
        _MINHASH_INDEX_SCHEMA,
        ["band", "bhash"],
        lambda df, name, n, loc: dd.minhash_index_write(
            df, name, num_buckets=n, path=loc, **_MINHASH_INDEX_PARAMS
        ),
        extra_meta={"params": _MINHASH_INDEX_PARAMS},
    )


@register(
    "dd20_minhash_served_pairs",
    None,  # minhash permutations are hash-defined — rows-only (dd2 policy);
    # equality to the guarded inline pipeline is driver-certified by dd20b
    doc="MinHash near-dup pairs served from the PERSISTED (band, bhash)-"
    "bucketed LSH index (r13 — dd19's serving shape on the FIRST "
    "signature family, completing the symmetry: both families now have "
    "signatures -> pairs -> incremental -> served-from-index): first "
    "touch per corpus writes lsh_band_index bucketed+sorted with a "
    "parameter-pinning sidecar; every query after that is "
    "minhash_pairs_from_index — no shingling, no permutations, no "
    "re-hash; the distinct-signature stage collapses onto the bucketed "
    "scan and the banded candidate self-join is shuffle-free. Doc ids "
    "attach from the band-0 slice to surviving signature pairs only. "
    "At 100 TB the query reads the index (bands x ~550-byte rows per "
    "doc), never the corpus text",
)
def dd20_minhash_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _minhash_index_table(spark, sf_dir)
    return dd.minhash_pairs_from_index(
        spark.table(table),
        num_hashes=_MINHASH_INDEX_PARAMS["num_hashes"],
        threshold=0.5,
    )


@register(
    "dd20b_minhash_served_equals_guarded",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd20 (the dd19b shape): the "
    "symmetric difference between the persisted-index serving path and "
    "minhash_lsh_pairs_distinct's inline pipeline (same parameters) on "
    "the full (id_a, id_b, est_jaccard) rows vs the constant-0 oracle — "
    "and dd2b already certifies distinct == default, so served == dd2 "
    "transitively. both_nonempty certifies the corpus really contains "
    "est>=0.5 pairs. Not in the bench headline: dd20 carries the "
    "measured serving row",
)
def dd20b_minhash_served_equals_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _minhash_index_table(spark, sf_dir)
    served = dd.minhash_pairs_from_index(
        spark.table(table),
        num_hashes=_MINHASH_INDEX_PARAMS["num_hashes"],
        threshold=0.5,
    )
    inline = dd.minhash_lsh_pairs_distinct(
        _t(spark, sf_dir, "documents"), threshold=0.5, **_MINHASH_INDEX_PARAMS
    )
    return _equality_probe(served, inline)


def _dd_new_batch():
    """dd8/dd18's deterministic new-batch split (lazy: building a Column
    expression needs an active SparkContext, so no module-level Column).

    dd8/dd8b/dd18/dd18b inline the SAME predicate on purpose — they are
    certified entries whose fn source is fingerprint-frozen, so routing
    them through this helper would force four rotations for a purely
    stylistic change (the minhash_lsh_pairs_distinct banding-copy
    precedent). pipe9/pipe10 carry a THIRD inline variant on the
    content-hash index's ``id`` column (``F.col("id") % 5 == 0`` — same
    split, different column name; ADVICE r16 #2). If the split fraction
    ever changes, update ALL copies — dd8/dd8b/dd18/dd18b here in
    operators/dedup.py, pipe9/pipe10's index-id variants, and this
    helper — and rotate those entries; dd21b/dd22b's equality
    certification against dd18/dd8 and pipe9/pipe10's
    exact_gate_transparent boolean depend on the splits matching."""
    return F.col("doc_id") % 5 == 0


def _simhash_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The 80%-registry SimHash band index (dd18's split) as a REGISTERED
    bucketed table — the per-cycle serving registry, distinct from the
    full-corpus dd19 index by digest kind."""
    return _served_index_table(
        spark,
        sf_dir,
        "simhashidx80",
        _SIMHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.simhash_index_write(
            df.filter(~_dd_new_batch()), name, num_buckets=n, path=loc
        ),
    )


def _minhash_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The 80%-registry LSH band index (dd8's split) as a REGISTERED
    bucketed table, LSH parameters pinned in the digest kind."""
    return _served_index_table(
        spark,
        sf_dir,
        "minhashidx80+" + repr(sorted(_MINHASH_INDEX_PARAMS.items())),
        _MINHASH_INDEX_SCHEMA,
        ["band", "bhash"],
        lambda df, name, n, loc: dd.minhash_index_write(
            df.filter(~_dd_new_batch()),
            name,
            num_buckets=n,
            path=loc,
            **_MINHASH_INDEX_PARAMS,
        ),
        extra_meta={"params": _MINHASH_INDEX_PARAMS},
    )


@register(
    "dd21_simhash_incremental_served",
    None,  # blake2b signatures — rows-only (dd18 policy); equality to
    # dd18's in-entry-rebuilt run is driver-certified by dd21b
    doc="Incremental SimHash at ingest served from the REGISTERED "
    "registry table (r13 — dd18's production shape completed: dd18 "
    "rebuilds the registry's band index in-entry by design, this entry "
    "probes the PERSISTED bucketed table a prior ingest cycle wrote, "
    "exactly what a real per-cycle job does). Only the new 20% batch is "
    "signature-hashed; the registry is touched through (band, bval) "
    "bucket probes of the registered table — no corpus re-hash, no "
    "corpus-side Exchange (the bucketed-probe plan asserted in "
    "tests/test_bucketed.py now runs as a driver-checked entry). "
    "Per-cycle cost O(new batch + touched buckets), corpus-size-"
    "independent — with the registry's signature pass amortized to "
    "ZERO per cycle",
)
def dd21_simhash_incremental_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _simhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_incremental_pairs(
        docs.filter(_dd_new_batch()), spark.table(table), threshold=3
    )


@register(
    "dd21b_simhash_incremental_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd21 (the dd19b shape): the "
    "symmetric difference between the registered-table incremental run "
    "and dd18's in-entry-rebuilt run on the full (doc_a, doc_b, "
    "hamming) rows vs the constant-0 oracle — and dd18b already "
    "certifies dd18 == the full-corpus restriction, so served-"
    "incremental == full transitively. Not in the bench headline: dd21 "
    "carries the measured serving row",
)
def dd21b_simhash_incremental_served_equals_inline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _simhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    served = dd.simhash_incremental_pairs(
        docs.filter(_dd_new_batch()), spark.table(table), threshold=3
    )
    inline = dd.simhash_incremental_pairs(
        docs.filter(_dd_new_batch()),
        dd.simhash_band_index(docs.filter(~_dd_new_batch())),
        threshold=3,
    )
    # the dd18b lineage cut: exceptAll over plans with subset-column
    # dropDuplicates upstream trips a Catalyst binding bug — compare
    # materialized rows
    served = served.localCheckpoint(eager=False)
    inline = inline.localCheckpoint(eager=False)
    return _equality_probe(served, inline)


@register(
    "dd22_minhash_incremental_served",
    None,  # LSH is hash-defined — rows-only (dd8 policy); equality to
    # dd8's in-entry-rebuilt run is driver-certified by dd22b
    doc="Incremental MinHash dedup served from the REGISTERED registry "
    "table (r13 — dd21's shape on the first signature family, closing "
    "the matrix: both families now run inline AND served forms of both "
    "full-corpus and incremental dedup). Only the new 20% batch is "
    "shingled/hashed; the 80% registry is probed through its persisted "
    "(band, bhash) buckets with no corpus-side Exchange. The "
    "registry's shingle+permutation pass — the dominant inline cost — "
    "amortizes to zero per cycle",
)
def dd22_minhash_incremental_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _minhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return dd.incremental_neardup_pairs(
        docs.filter(_dd_new_batch()),
        spark.table(table),
        threshold=0.5,
        **_MINHASH_INDEX_PARAMS,
    )


@register(
    "dd22b_minhash_incremental_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd22 (the dd21b shape): "
    "registered-table incremental run == dd8's in-entry-rebuilt run on "
    "the full (id_a, id_b, est_jaccard) rows vs the constant-0 oracle; "
    "dd8b already certifies incremental == full-corpus restriction, so "
    "served-incremental == full transitively. Not in the bench "
    "headline: dd22 carries the measured serving row",
)
def dd22b_minhash_incremental_served_equals_inline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _minhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    served = dd.incremental_neardup_pairs(
        docs.filter(_dd_new_batch()),
        spark.table(table),
        threshold=0.5,
        **_MINHASH_INDEX_PARAMS,
    )
    inline = dd.incremental_neardup_pairs(
        docs.filter(_dd_new_batch()),
        dd.lsh_band_index(docs.filter(~_dd_new_batch()), **_MINHASH_INDEX_PARAMS),
        threshold=0.5,
        **_MINHASH_INDEX_PARAMS,
    )
    served = served.localCheckpoint(eager=False)
    inline = inline.localCheckpoint(eager=False)
    return _equality_probe(served, inline)


def _dhash_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The 80%-registry dHash band index (dd21's split on the image
    family) as a REGISTERED bucketed table — the per-cycle serving
    registry, distinct from the full-corpus dd23 index by digest kind.
    The decode + perceptual-hash pass over the registry runs once, at
    build."""
    return _served_index_table(
        spark,
        sf_dir,
        "dhashidx80",
        _DHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.dhash_index_write(
            mm.image_dhash(mm.attach_binary_payload(df.filter(~_dd_new_batch()))),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd24_dhash_incremental_served",
    None,  # perceptual-hash pair set — rows-only (dd21 policy); equality
    # to the in-entry-rebuilt run is driver-certified by dd24b
    doc="Incremental image near-dup at ingest served from the REGISTERED "
    "dHash registry table (r15 — dd21's shape on the image family, "
    "closing the matrix: all THREE signature families now run inline, "
    "served AND incremental forms). Only the new 20% batch is decoded "
    "and perceptual-hashed (multimodal.image_dhash — the dominant "
    "per-image cost); the 80% registry is probed through its persisted "
    "(band, bval) buckets with no corpus-side Exchange and no image "
    "byte ever re-read. Per-cycle cost O(new images + touched "
    "buckets), corpus-size-independent",
)
def dd24_dhash_incremental_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _dhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    new_hashes = mm.image_dhash(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    )
    return dd.dhash_incremental_pairs(new_hashes, spark.table(table), threshold=3)


@register(
    "dd24b_dhash_incremental_served_equals_inline",
    """
    SELECT CAST(0 AS BIGINT) AS n_mismatched, CAST(1 AS BIGINT) AS both_nonempty
    """,
    doc="Driver-certified contract probe for dd24 (the dd21b shape): the "
    "symmetric difference between the registered-table incremental run "
    "and an in-entry-rebuilt registry run on the full (doc_a, doc_b, "
    "hamming) rows vs the constant-0 oracle; the incremental == "
    "full-restriction half is pinned by "
    "tests/test_dedup_similarity.py's dhash incremental-equals-full "
    "assertion (the dd18b split of obligations). Not in the bench "
    "headline: dd24 carries the measured serving row",
)
def dd24b_dhash_incremental_served_equals_inline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _dhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    new_hashes = mm.image_dhash(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    )
    served = dd.dhash_incremental_pairs(
        new_hashes, spark.table(table), threshold=3
    )
    registry_hashes = mm.image_dhash(
        mm.attach_binary_payload(docs.filter(~_dd_new_batch()))
    )
    inline = dd.dhash_incremental_pairs(
        new_hashes, dd.dhash_band_index(registry_hashes), threshold=3
    )
    # the dd18b lineage cut (see dd21b)
    served = served.localCheckpoint(eager=False)
    inline = inline.localCheckpoint(eager=False)
    return _equality_probe(served, inline)


# ---------------------------------------------------------------------------
# Audio fingerprint family (r15) — the FOURTH 64-bit digest family
# (multimodal.audio_energy_fingerprint; dedup.audio_fp_*). Uniquely, the
# fingerprint is integer-exact and SQL-replicable (the mm4 property), so
# the pair-set entries carry DIRECT brute-force DuckDB oracles — the
# banded pipeline is hash-certified against exact all-pairs hamming, not
# just equality-twinned like the blake2b-signature families. The shared
# fingerprint CTE below IS the oracle's recomputation of the stub recipe:
# hex-digit byte decode (the mm2/mm3/mm4 lesson), tile/truncate the
# centered bytes to the fixed 520-sample analysis window, 65 segment
# energies, adjacent-comparison bits packed 8 per byte.
# ---------------------------------------------------------------------------

_AFP_FP_CTE = """
hx AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text)) AS nb
    FROM documents
),
chars AS (
    -- byte-exact on ANY corpus (the mm2/mm3/mm4 hex lesson): byte i is
    -- decoded from its two hex digits, never from a char codepoint
    SELECT doc_id, nb,
           list_transform(range(1, nb + 1),
             i -> CAST(16 * (strpos('0123456789ABCDEF', h[i*2-1]) - 1)
                       + (strpos('0123456789ABCDEF', h[i*2]) - 1)
                       AS BIGINT)) AS cs
    FROM hx
),
tiled AS (
    -- fixed 520-sample window: tile/truncate the centered samples
    SELECT doc_id,
           list_transform(range(0, 520), j -> cs[(j % nb) + 1] - 128) AS t
    FROM chars WHERE nb > 0
),
seg AS (
    SELECT doc_id,
           list_transform(range(0, 65),
             i -> list_aggregate(
                    list_transform(t[i*8+1 : i*8+8], c -> c * c), 'sum')) AS e
    FROM tiled
),
byt AS (
    SELECT doc_id,
           list_transform(range(0, 8),
             r -> list_aggregate(
                    list_transform(range(0, 8),
                      c -> CASE WHEN e[r*8+c+2] > e[r*8+c+1]
                                THEN (CAST(1 AS BIGINT) << c)
                                ELSE CAST(0 AS BIGINT) END),
                    'sum')) AS bs
    FROM seg
)
"""

# 4 x 16-bit band words from the 8 fingerprint bytes — ints <= 0xffff,
# far inside the cross-engine 63-bit policy (the full 64-bit digest is
# never packed into one signed word, mirroring the Spark side's
# conv(hex,16,10) per-band arithmetic)
_AFP_WORDS_CTE = (
    _AFP_FP_CTE
    + """,
words AS (
    SELECT doc_id,
           list_transform(range(0, 4),
             k -> bs[2*k+1] * 256 + bs[2*k+2]) AS w
    FROM byt
)
"""
)

_AFP_HAMMING = (
    "bit_count(xor(a.w[1], b.w[1])) + bit_count(xor(a.w[2], b.w[2])) "
    "+ bit_count(xor(a.w[3], b.w[3])) + bit_count(xor(a.w[4], b.w[4]))"
)

_AFP_PAIRS_SQL = f"""
    WITH {_AFP_WORDS_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({_AFP_HAMMING} AS BIGINT) AS hamming
    FROM words a JOIN words b ON a.doc_id < b.doc_id
    WHERE {_AFP_HAMMING} <= 3
"""


@register(
    "mm7_audio_fingerprint",
    f"""
    WITH {_AFP_FP_CTE}
    SELECT doc_id,
           list_aggregate(
             list_transform(bs,
               v -> substr('0123456789abcdef', CAST(v // 16 AS INTEGER) + 1, 1)
                    || substr('0123456789abcdef', CAST(v % 16 AS INTEGER) + 1, 1)),
             'string_agg', '') AS afp
    FROM byt
    UNION ALL
    -- empty AND NULL payloads both dead-letter to a NULL fingerprint
    -- (nb IS NULL would slip through a bare nb = 0 predicate)
    SELECT doc_id, NULL AS afp FROM hx WHERE nb = 0 OR nb IS NULL
    """,
    doc="Energy-delta audio fingerprint (64-bit, 16 hex chars) per payload "
    "— image_dhash's counterpart for the audio modality and the digest "
    "the dd25-dd27 near-dup family bands on: centered integer samples "
    "tiled to a FIXED 520-sample window, 65 segment energies (sum of "
    "squares — all-integer, the mm4 property), bit i = 1 iff "
    "energy[i+1] > energy[i], packed 8 bits per byte exactly like "
    "dHash. PCM decode is STUBBED (payload bytes stand in for u8 "
    "samples; impl='native' does real WAV demux via stdlib wave) but "
    "every arithmetic step is oracle-recomputed from the raw bytes in "
    "SQL. Empty payloads dead-letter to NULL (the image_dhash verdict). "
    "One narrow mapInPandas, no shuffle; linear in corpus bytes",
)
def mm7_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return mm.audio_energy_fingerprint(media)


@register(
    "dd25_audio_fp_pairs",
    _AFP_PAIRS_SQL,
    doc="Audio near-dup pairs via hamming banding over energy-delta "
    "fingerprints (dd16's shape on the audio modality, dedup.py#"
    "audio_fp_neardup_pairs): 4 x 16-bit bands over DISTINCT digests "
    "(hot-bucket guard), pigeonhole-complete candidates for threshold "
    "<= 3, exact hamming verify, doc fan-out on verified hash pairs "
    "only. UNIQUE among the four signature families: the DuckDB oracle "
    "recomputes the fingerprints from raw bytes and brute-forces ALL "
    "pairs — a green hash certifies the banded pipeline finds EXACTLY "
    "the exhaustive hamming<=3 pair set, cross-engine (pigeonhole "
    "completeness as a driver-checked fact, not a docstring claim). "
    "Scale: bucket cost sum over buckets of distinct-digests², never "
    "corpus-quadratic",
)
def dd25_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return dd.audio_fp_neardup_pairs(mm.audio_energy_fingerprint(media), threshold=3)


def _audio_fp_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted audio-fingerprint band index for a corpus (the
    _served_index_table protocol on the audio digest family): the PCM
    decode + fingerprint pass runs ONCE here, at build; serving queries
    read (band, bval)-co-located rows and never touch audio bytes again."""
    return _served_index_table(
        spark,
        sf_dir,
        "audiofpidx",
        _DHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.audio_fp_index_write(
            mm.audio_energy_fingerprint(mm.attach_binary_payload(df)),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd26_audio_fp_served_pairs",
    _AFP_PAIRS_SQL,
    doc="Audio near-dup pairs served from the PERSISTED fingerprint band "
    "index (dd23's shape on the audio family): first touch per corpus "
    "fingerprints once and writes audio_fp_band_index bucketed+sorted "
    "on (band, bval); every query after that reads 4 x ~40-byte index "
    "rows per clip — the decode is an ingest cost, not a query cost. "
    "FIRST served entry with a DIRECT value oracle (not an equality "
    "twin): the brute-force SQL recomputes fingerprints from raw bytes, "
    "so a green hash certifies the whole persisted-layout round trip — "
    "write, bucketed re-read, banded self-join, hamming verify — "
    "end-to-end against exact all-pairs, every round it's sampled",
)
def dd26_audio_fp_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _audio_fp_index_table(spark, sf_dir)
    return dd.audio_fp_pairs_from_index(spark.table(table), threshold=3)


def _audio_fp_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The 80%-registry audio-fingerprint band index (dd21's split on the
    audio family) as a REGISTERED bucketed table — the per-cycle serving
    registry, distinct from the full-corpus dd26 index by digest kind."""
    return _served_index_table(
        spark,
        sf_dir,
        "audiofpidx80",
        _DHASH_INDEX_SCHEMA,
        ["band", "bval"],
        lambda df, name, n, loc: dd.audio_fp_index_write(
            mm.audio_energy_fingerprint(
                mm.attach_binary_payload(df.filter(~_dd_new_batch()))
            ),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd27_audio_fp_incremental_served",
    f"""
    WITH {_AFP_WORDS_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({_AFP_HAMMING} AS BIGINT) AS hamming
    FROM words a JOIN words b ON a.doc_id < b.doc_id
    WHERE ({_AFP_HAMMING}) <= 3
      AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
    """,
    doc="Incremental audio near-dup at ingest served from the REGISTERED "
    "fingerprint registry table (dd21/dd24's shape on the audio family, "
    "completing the FOURTH family's inline/served/incremental matrix). "
    "Only the new 20% batch (doc_id % 5 = 0 — dd8's deterministic "
    "split) is decoded and fingerprinted; the 80% registry is probed "
    "through its persisted (band, bval) buckets with no corpus-side "
    "Exchange. Directly value-oracled like dd25/dd26: the brute-force "
    "SQL restricts exact all-pairs to pairs touching a new doc — a "
    "green hash certifies the incremental probe returns EXACTLY the "
    "full run's restriction, cross-engine. Per-cycle cost O(new clips "
    "+ touched buckets), corpus-size-independent",
)
def dd27_audio_fp_incremental_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _audio_fp_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    new_hashes = mm.audio_energy_fingerprint(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    )
    return dd.audio_fp_incremental_pairs(
        new_hashes, spark.table(table), threshold=3
    )


# ---------------------------------------------------------------------------
# Video near-dup family (r15b) — the FIFTH family and a different shape:
# per-video SETS of frame digests (multimodal.video_frame_hashes), paired
# by shared-frame containment over an inverted (fhash -> doc) index —
# exact-equality joins, no hamming bands. Like the audio family, every
# step is integer/byte-exact and SQL-replicable, so all three pair
# entries carry DIRECT brute-force DuckDB value oracles. The frame CTE
# below recomputes the stub demux (duration from byte length, one
# 16-byte slice per sampled timestamp) and the tile-to-72 gradient
# digest from the raw bytes.
# ---------------------------------------------------------------------------

_VFH_CTE = """
hx AS (
    SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
    FROM documents
),
chars AS (
    -- byte-exact on ANY corpus (the mm2/mm3/mm4 hex lesson)
    SELECT doc_id, nb,
           list_transform(range(1, nb + 1),
             i -> CAST(16 * (strpos('0123456789ABCDEF', h[i*2-1]) - 1)
                       + (strpos('0123456789ABCDEF', h[i*2]) - 1)
                       AS BIGINT)) AS cs
    FROM hx
),
params AS (
    -- sample_frames' stub demux: duration_ms = 100*nb % 60000,
    -- n = clamp(duration//1000, 1, 8)
    SELECT doc_id, nb, cs,
           least(greatest(((100 * nb) % 60000) // 1000, 1), 8) AS nf
    FROM chars
),
fr AS (
    SELECT doc_id, nb, cs, unnest(range(0, nf)) AS fi FROM params
),
sl AS (
    -- frame fi's 16-byte slice at offset (fi*1000*13) % max(nb-16, 1)
    SELECT doc_id, fi,
           cs[((fi * 13000) % greatest(nb - 16, 1)) + 1
              : least(((fi * 13000) % greatest(nb - 16, 1)) + 16, nb)] AS fb
    FROM fr
),
tile AS (
    SELECT doc_id, fi,
           list_transform(range(0, 72), j -> fb[(j % len(fb)) + 1]) AS px
    FROM sl WHERE len(fb) > 0
),
byt AS (
    SELECT doc_id, fi,
           list_transform(range(0, 8),
             r -> list_aggregate(
                    list_transform(range(0, 8),
                      c -> CASE WHEN px[r*9+c+2] > px[r*9+c+1]
                                THEN (CAST(1 AS BIGINT) << c)
                                ELSE CAST(0 AS BIGINT) END),
                    'sum')) AS bs
    FROM tile
),
vfh AS (
    SELECT doc_id, fi AS frame_idx,
           list_aggregate(
             list_transform(bs,
               v -> substr('0123456789abcdef', CAST(v // 16 AS INTEGER) + 1, 1)
                    || substr('0123456789abcdef', CAST(v % 16 AS INTEGER) + 1, 1)),
             'string_agg', '') AS fhash
    FROM byt
    UNION ALL
    SELECT doc_id, fi AS frame_idx, NULL AS fhash
    FROM sl WHERE len(fb) = 0
    UNION ALL
    -- NULL payload (NULL text): the operator dead-letters ONE row with
    -- frame_idx 0 and a NULL digest instead of demuxing nothing
    SELECT doc_id, 0 AS frame_idx, NULL AS fhash
    FROM hx WHERE nb IS NULL
)
"""

# brute-force containment pairs over the recomputed frame digests: the
# inverted-index CTE chain IS the oracle (distinct (doc, digest) rows,
# per-doc counts, equality self-join, >= 2 shared, containment rounded
# to 6 per the float policy — denominators <= 8, no representable tie)
# ONE definition of the shared-frame pair graph (hset + p): dd28/dd29/
# dd30's containment oracles AND dd32's survivors oracle all include
# this fragment, so a change to the pair predicate (min_shared, NULL
# handling) cannot silently certify different pair sets per entry
# (r15b third review). p emits (doc_a, doc_b, ns) with doc_a < doc_b.
_VIDEO_PAIR_IDS_CTE = """
    hset AS (SELECT DISTINCT doc_id, fhash FROM vfh WHERE fhash IS NOT NULL),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ns
          FROM hset a JOIN hset b
            ON a.fhash = b.fhash AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2)
"""

_VIDEO_PAIRS_SQL_BODY = f"""
    {_VIDEO_PAIR_IDS_CTE},
    cnt AS (SELECT doc_id, count(*) AS nh FROM hset GROUP BY doc_id)
    SELECT doc_a, doc_b, CAST(ns AS BIGINT) AS n_shared,
           CAST(ca.nh AS BIGINT) AS n_a, CAST(cb.nh AS BIGINT) AS n_b,
           ROUND(CAST(ns AS DOUBLE) / LEAST(ca.nh, cb.nh), 6) AS containment
    FROM p JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
"""

_VIDEO_PAIRS_SQL = f"""
    WITH {_VFH_CTE},
    {_VIDEO_PAIRS_SQL_BODY}
"""


@register(
    "mm8_video_frame_hashes",
    f"""
    WITH {_VFH_CTE}
    SELECT doc_id, frame_idx, fhash FROM vfh
    """,
    doc="Per-frame perceptual digests per video payload — the signature "
    "pass of the dd28-dd30 video near-dup family: ONE mapInPandas fuses "
    "sample_frames' stub demux fan-out (duration from byte length, one "
    "16-byte slice per sampled second, max 8 frames) with image_dhash's "
    "tile-to-72 gradient digest per frame. Real pyav/ffmpeg demux (lib "
    "absent) would replace only the bytes-to-frame step; the 1-to-N "
    "fan-out shape, cadence, digest recipe, and dead-letter NULL for "
    "empty frames are impl-independent and oracle-recomputed from raw "
    "bytes here. No shuffle; linear in corpus bytes",
)
def mm8_video_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return mm.video_frame_hashes(media)


@register(
    "dd28_video_neardup_pairs",
    _VIDEO_PAIRS_SQL,
    doc="Near-duplicate video pairs by shared-frame containment (the "
    "public CBVR copy-detection recipe): videos sharing >= 2 DISTINCT "
    "frame digests, containment = n_shared/min(n_a, n_b) so a clip "
    "inside a longer video scores 1.0. The join is an inverted "
    "(fhash -> doc) index self-join over DISTINCT (doc, digest) rows — "
    "cost sum over digests of df², never corpus-quadratic; the max_df "
    "knob (dedup.py#_video_pairs_core) is the hot-digest/boilerplate-"
    "frame guard, uncapped here (fixture buckets <= 10 docs, measured). "
    "Integer-exact end to end, so the DuckDB oracle brute-forces the "
    "same containment pairs from raw bytes — the fifth family, "
    "hash-certified like the audio one",
)
def dd28_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return dd.video_neardup_pairs(mm.video_frame_hashes(media), min_shared=2)


_VIDEO_INDEX_SCHEMA = "id BIGINT, fhash STRING"


def _video_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted video frame-digest index for a corpus (the
    _served_index_table protocol on the video family): demux +
    frame-hash run ONCE here, at build; serving queries read
    fhash-co-located ~24-byte rows and never touch video bytes again."""
    return _served_index_table(
        spark,
        sf_dir,
        "videoidx",
        _VIDEO_INDEX_SCHEMA,
        ["fhash"],
        lambda df, name, n, loc: dd.video_index_write(
            mm.video_frame_hashes(mm.attach_binary_payload(df)),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd29_video_served_pairs",
    _VIDEO_PAIRS_SQL,
    doc="Video near-dup pairs served from the PERSISTED frame-digest "
    "index (the dd26 shape on the video family): first touch per corpus "
    "demuxes + frame-hashes once and writes video_frame_index "
    "bucketed+sorted on fhash; every query after that self-joins "
    "co-located buckets (zero corpus-side Exchange) and reads ~24-byte "
    "rows per (video, frame) — at 100 TB the demux (the dominant video "
    "cost by orders of magnitude) is an ingest cost, not a query cost. "
    "Directly value-oracled like dd26: the brute-force SQL recomputes "
    "digests from raw bytes, hash-certifying the layout round trip",
)
def dd29_video_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _video_index_table(spark, sf_dir)
    return dd.video_pairs_from_index(spark.table(table), min_shared=2)


def _video_registry_table(spark: SparkSession, sf_dir: str) -> str:
    """The 80%-registry video frame-digest index (dd21's split on the
    video family) as a REGISTERED bucketed table — the per-cycle serving
    registry, distinct from the full-corpus dd29 index by digest kind."""
    return _served_index_table(
        spark,
        sf_dir,
        "videoidx80",
        _VIDEO_INDEX_SCHEMA,
        ["fhash"],
        lambda df, name, n, loc: dd.video_index_write(
            mm.video_frame_hashes(
                mm.attach_binary_payload(df.filter(~_dd_new_batch()))
            ),
            name,
            num_buckets=n,
            path=loc,
        ),
    )


@register(
    "dd30_video_incremental_served",
    f"""
    WITH {_VFH_CTE},
    {_VIDEO_PAIRS_SQL_BODY}
    WHERE (doc_a % 5 = 0 OR doc_b % 5 = 0)
    """,
    doc="Incremental video near-dup at ingest served from the REGISTERED "
    "frame-digest registry (dd21/dd27's shape on the video family, "
    "completing the FIFTH family's matrix): only the new 20% batch "
    "(doc_id % 5 = 0) is demuxed and frame-hashed; the 80% registry is "
    "probed through its fhash buckets — new-vs-index probe + new-vs-new "
    "self-join, two separate joins so the bucketed layout survives. "
    "Directly value-oracled: brute force restricted to pairs touching a "
    "new doc certifies incremental == full-restriction cross-engine "
    "(both docs' complete digest sets are visible at probe time, so "
    "counts and containment are the full run's). Per-cycle cost O(new "
    "videos + touched buckets), corpus-size-independent",
)
def dd30_video_incremental_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _video_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    new_hashes = mm.video_frame_hashes(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    )
    return dd.video_incremental_pairs(
        new_hashes, spark.table(table), min_shared=2
    )


# dd33's capped pair graph: the SAME hset as _VIDEO_PAIR_IDS_CTE with a
# global-df cap applied BEFORE pairing and counting — deliberately a
# separate fragment (the one-definition rule covers the UNCAPPED graph
# dd28/dd29/dd30/dd32 share; the capped graph is a different predicate
# by design, and its per-doc counts are post-cap per _video_pairs_core)
_DD33_MAX_DF = 4  # bites at fixture scale (hottest df 9-10); prod uses 64


@register(
    "dd33_video_incremental_capped",
    f"""
    WITH {_VFH_CTE},
    hset AS (SELECT DISTINCT doc_id, fhash FROM vfh WHERE fhash IS NOT NULL),
    okh AS (SELECT fhash FROM hset GROUP BY fhash
            HAVING count(*) <= {_DD33_MAX_DF}),
    hc AS (SELECT h.doc_id, h.fhash FROM hset h JOIN okh USING (fhash)),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ns
          FROM hc a JOIN hc b
            ON a.fhash = b.fhash AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
    cnt AS (SELECT doc_id, count(*) AS nh FROM hc GROUP BY doc_id)
    SELECT doc_a, doc_b, CAST(ns AS BIGINT) AS n_shared,
           CAST(ca.nh AS BIGINT) AS n_a, CAST(cb.nh AS BIGINT) AS n_b,
           ROUND(CAST(ns AS DOUBLE) / LEAST(ca.nh, cb.nh), 6) AS containment
    FROM p JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
    WHERE (doc_a % 5 = 0 OR doc_b % 5 = 0)
    """,
    doc="SNAPSHOT-capped incremental video near-dup (r17 — the missing "
    "form between dd30's uncapped-with-raise probe and dd28's capped "
    "full run): the new 20% batch probes the 80% frame-digest registry "
    "with the hot-digest cap applied at GLOBAL document frequency — df "
    "computed over the decision-time population (registry ∪ batch), "
    "both sides counted, so a digest at 3+2 with cap 4 drops even "
    "though neither side alone exceeds it. Per-doc counts are the "
    "capped run's post-cap counts. Directly value-oracled: the brute "
    "force applies the same global cap (HAVING count(*) <= max_df over "
    "the full hset) before pairing — a green hash certifies "
    "capped-incremental == capped-full-restriction cross-engine. This "
    "is what lets a FIXED-REGISTRY admission cycle run on corpora past "
    "`_VIDEO_UNCAPPED_DF_LIMIT` (the 500k decade, where the uncapped "
    "probe correctly raises — SCALE.md r17); the ACCUMULATING "
    "streaming sink keeps the raise instead, because a df cap over a "
    "growing corpus is time-dependent and would break union == "
    "one-batch-pass. df is computed only for touched buckets "
    "(broadcast semi-joins into the bucketed registry) — per-cycle "
    "cost stays corpus-size-independent. max_df=4 here so the cap "
    "demonstrably bites at fixture scale (capped 4 vs uncapped 9 "
    "pairs at sf0.01); production uses the r15b-prescribed 64",
)
def dd33_video_incremental_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = _video_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    new_hashes = mm.video_frame_hashes(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    )
    return dd.video_incremental_pairs_capped(
        new_hashes, spark.table(table), min_shared=2, max_df=_DD33_MAX_DF
    )


# survivors = every doc NOT a non-root member of a pair component; the
# recursive CTE computes the transitive closure of the (symmetrized)
# pair graph and each node's component min — connected components in
# ANSI SQL, which upgrades the survivor entries from dd7's rows-only
# category to full hash oracles (WITH RECURSIVE reaches what the
# iterative Spark loop reaches; components here are tiny dup families,
# so the closure is cheap at oracle scale)
_SURVIVORS_SQL_TAIL = """
e AS (
    SELECT doc_a AS a, doc_b AS b FROM p
    UNION
    SELECT doc_b, doc_a FROM p
),
tc(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT tc.a, e.b FROM tc JOIN e ON tc.b = e.a
),
root AS (
    SELECT a AS id, least(a, min(b)) AS cluster_id FROM tc GROUP BY a
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM root WHERE id <> cluster_id)
"""


@register(
    "dd31_audio_fp_survivors",
    f"""
    WITH RECURSIVE {_AFP_WORDS_CTE},
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM words a JOIN words b ON a.doc_id < b.doc_id
        WHERE {_AFP_HAMMING} <= 3
    ),
    {_SURVIVORS_SQL_TAIL}
    """,
    doc="Audio dedup DECISION form: one survivor (the min doc_id) per "
    "near-dup component, every unpaired doc untouched — dd7's terminal "
    "pipeline step (pairs -> iterative min-label connected components "
    "-> anti-join victims) composed onto the audio fingerprint family. "
    "FIRST iterative entry with a full value oracle: the DuckDB side "
    "recomputes the pairs from raw bytes and resolves components via a "
    "WITH RECURSIVE transitive closure — the 'iterative algorithms are "
    "rows-only' exemption (dd7's) does not actually apply when the "
    "fixpoint is expressible as a recursive CTE. Scale: components "
    "resolve via _cc_pointer_doubling (hook + double pointer-jump) in "
    "~log4(diameter) rounds — an adversarial chain costs log rounds, "
    "not diameter rounds (r16; measured 2/4/5 rounds on chain decades "
    "10/100/1000)",
)
def dd31_audio_fp_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs)
    pairs = (
        dd.audio_fp_neardup_pairs(mm.audio_energy_fingerprint(media), threshold=3)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        # lineage cut BEFORE the iterative loop: neardup_clusters' rounds
        # each act on the edge frame, and an uncut plan re-runs the whole
        # fingerprint+banding pipeline per round (measured 4.7 s -> the
        # anchored number below)
        .localCheckpoint(eager=False)
    )
    return dd.neardup_survivors_converged(docs, pairs).select("doc_id")


@register(
    "dd32_video_survivors",
    f"""
    WITH RECURSIVE {_VFH_CTE},
    {_VIDEO_PAIR_IDS_CTE},
    {_SURVIVORS_SQL_TAIL}
    """,
    doc="Video dedup DECISION form: one survivor per shared-frame "
    "component (dd31's shape on the containment family — the same "
    "generic pairs -> connected components -> anti-join machinery "
    "consumes BOTH pair graphs, which is the point of emitting every "
    "family's pairs in one canonical schema). Full value oracle via "
    "the WITH RECURSIVE transitive closure over the brute-force "
    "containment pairs",
)
def dd32_video_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs)
    pairs = (
        dd.video_neardup_pairs(mm.video_frame_hashes(media), min_shared=2)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        # the dd31 lineage cut (uncut: demux+containment re-ran per CC
        # round — measured 10.8 s)
        .localCheckpoint(eager=False)
    )
    return dd.neardup_survivors_converged(docs, pairs).select("doc_id")


_CXHASH_INDEX_SCHEMA = "id BIGINT, h STRING"


def _content_hash_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The persisted content-hash index for a corpus (the
    _served_index_table protocol on the EXACT family, r16): one
    (id, h) row per doc, bucketed+sorted on ``h`` so the exact-dedup
    groupBy rides the layout with no Exchange. With this, pipe8's
    composed decide pass touches ZERO corpus bytes — the text hash,
    like every signature, becomes an ingest cost."""

    def _build(df: DataFrame, name: str, n: int, loc: str) -> None:
        from tranquility_spark.sources.bucketed import write_bucketed

        write_bucketed(
            df.select(
                F.col("doc_id").alias("id"),
                dd.content_hash(F.col("text")).alias("h"),
            ),
            name,
            ["h"],
            n,
            path=loc,
        )

    return _served_index_table(
        spark, sf_dir, "cxhashidx", _CXHASH_INDEX_SCHEMA, ["h"], _build
    )


@register(
    "pipe8_cross_family_dedup",
    """
    SELECT CAST(1 AS BIGINT) AS counts_tile,
           CAST(1 AS BIGINT) AS victims_partition_corpus,
           CAST(1 AS BIGINT) AS no_family_pair_survives,
           CAST(1 AS BIGINT) AS text_and_video_gates_bite,
           CAST(1 AS BIGINT) AS final_nonempty
    """,
    doc="Cross-family dedup composition (r16, VERDICT r15 #3): ONE "
    "pipeline over ONE corpus chaining all five signature families' "
    "gates in sequence — exact content-hash, text MinHash-LSH, image "
    "dHash, audio fingerprint, video shared-frame containment — each "
    "near-dup gate consuming its family's PERSISTED served index (the "
    "production shape: signatures are ingest costs, the composed decide "
    "pass reads only index rows) and resolving survivors with the "
    "converged pointer-doubling CC on pairs RESTRICTED to the gate's "
    "input. Constant-oracle contract booleans (the pipe5b audit "
    "pattern): counts_tile (final = corpus - every stage's removals); "
    "victims_partition_corpus (victim sets + final tile the corpus "
    "exactly — disjoint, nothing lost); no_family_pair_survives (NO "
    "family's full-corpus pair has both endpoints alive at the end — "
    "true only if every gate's CC was exact, so this cross-checks the "
    "converged form's fixpoint across four graphs; restriction-safe "
    "because every family's pair predicate is pairwise); "
    "text_and_video_gates_bite (non-vacuity: the two families that "
    "survive earlier gates' overlap still remove docs — image/audio "
    "near-dups in this corpus are text near-dups too, so those gates "
    "legitimately find nothing left, which is itself the composition "
    "working); final_nonempty. Scale: 4 CC runs over tiny pair graphs "
    "+ 5 semi-join audits; ZERO corpus bytes at decide time — the "
    "exact gate serves from a persisted content-hash index (r16 "
    "follow-up), so all five families pay their corpus pass at ingest",
)
def pipe8_cross_family_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipe8_decide(spark, sf_dir)


def _pipe8_decide(
    spark: SparkSession, sf_dir: str, video_max_df: int | None = None
) -> DataFrame:
    """pipe8's composed decide pass, parameterized for the scale probe
    (scripts/run_pipe8_probe.py): the fixture entry runs the video gate
    uncapped (hottest df is 10 there and the structural guard arms);
    the probe runs the 500k-doc decade with ``video_max_df=64`` — the
    production setting the r15b video study prescribes — and ALSO
    demonstrates the uncapped guard firing at exactly the corpus size
    where the study measured divergence."""
    # the exact gate ALSO serves from a persisted index (r16 follow-up):
    # with the content-hash table the composed decide pass reads zero
    # corpus bytes — five families, five ingest-time indexes, one plan
    hashed = spark.table(_content_hash_index_table(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), F.col("h").alias("__h")
    )
    ids = hashed.select("doc_id")
    keep = hashed.groupBy("__h").agg(F.min("doc_id").alias("__keep"))
    exact_victims = (
        hashed.join(keep, "__h")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    cur = ids.join(exact_victims, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    n0 = ids.agg(F.count(F.lit(1)).alias("__n0"))

    fam_pairs = {
        "text": dd.minhash_pairs_from_index(
            spark.table(_minhash_index_table(spark, sf_dir)),
            num_hashes=_MINHASH_INDEX_PARAMS["num_hashes"],
            threshold=0.5,
        ).select("id_a", "id_b"),
        "image": dd.dhash_pairs_from_index(
            spark.table(_dhash_index_table(spark, sf_dir)), threshold=3
        ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
        "audio": dd.audio_fp_pairs_from_index(
            spark.table(_audio_fp_index_table(spark, sf_dir)), threshold=3
        ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
        "video": dd.video_pairs_from_index(
            spark.table(_video_index_table(spark, sf_dir)),
            min_shared=2,
            max_df=video_max_df,
        ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
    }
    # r18 measured the EAGER _materialize_overlapped pool 15% SLOWER here
    # (12.1 vs 10.0 s at sf0.1: it blocks until all four extractions are
    # fully materialized, and the block writes contend) — that rejection
    # stands. r19 overlaps differently (guide §2.6): the four lazy
    # checkpoints are SUBMITTED from a pool but consumed in gate order
    # without blocking, so extraction k+1's bucket-join stages (which a
    # lazy localCheckpoint executes at call time under AQE) back-fill the
    # cores while gate k's serial CC bookkeeping holds the driver.
    # eager=False semantics are exactly the old serial form's. Job
    # descriptions are thread-local and pool threads are reused, so each
    # task sets its own and restores the thread's previous one.
    from concurrent.futures import ThreadPoolExecutor

    def _submit_ckpt(fam, df):
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"pipe8: {fam} pairs")
        try:
            return df.localCheckpoint(eager=False)
        finally:
            sc.setJobDescription(prev)

    victims = {"exact": exact_victims}
    # the with block shuts the pool down on the error path too
    with ThreadPoolExecutor(max_workers=len(fam_pairs)) as pool:
        futs = {
            fam: pool.submit(_submit_ckpt, fam, df)
            for fam, df in fam_pairs.items()
        }
        fam_pairs = {}
        for fam, fut in futs.items():
            # resolve THIS gate's extraction only, inside the gate loop:
            # later families' stages keep materializing in their pool
            # threads while this gate's serial CC bookkeeping holds the
            # driver — the back-fill §2.6 describes
            pairs = fut.result()
            fam_pairs[fam] = pairs
            restricted = (
                pairs.join(
                    cur.select(F.col("doc_id").alias("id_a")),
                    "id_a",
                    "left_semi",
                )
                .join(
                    cur.select(F.col("doc_id").alias("id_b")),
                    "id_b",
                    "left_semi",
                )
                .localCheckpoint(eager=False)
            )
            nxt = dd.neardup_survivors_converged(
                cur, restricted
            ).localCheckpoint(eager=False)
            victims[fam] = cur.join(
                nxt, "doc_id", "left_anti"
            ).localCheckpoint(eager=False)
            cur = nxt
    final = cur
    n_final = final.agg(F.count(F.lit(1)).alias("__nf"))

    removal_aggs = {
        k: v.agg(F.count(F.lit(1)).alias(f"__rm_{k}"))
        for k, v in victims.items()
    }
    tiled = final.select("doc_id")
    for v in victims.values():
        tiled = tiled.unionByName(v.select("doc_id"))
    tile_agg = tiled.agg(
        F.count(F.lit(1)).alias("__tile_n"),
        F.count_distinct(F.col("doc_id")).alias("__tile_d"),
    )
    # survivor audit: no family's full-corpus pair keeps both endpoints
    leftovers = None
    for pairs in fam_pairs.values():
        alive = pairs.join(
            final.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        ).join(
            final.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
        )
        leftovers = alive if leftovers is None else leftovers.unionByName(alive)
    exact_left = (
        hashed.join(final, "doc_id", "left_semi")
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select(F.lit(0).alias("id_a"), F.lit(0).alias("id_b"))
    )
    leftover_agg = leftovers.unionByName(exact_left).agg(
        F.count(F.lit(1)).alias("__left")
    )

    row = n0.crossJoin(F.broadcast(n_final)).crossJoin(F.broadcast(tile_agg))
    for agg in removal_aggs.values():
        row = row.crossJoin(F.broadcast(agg))
    row = row.crossJoin(F.broadcast(leftover_agg))
    rm_total = sum(F.col(f"__rm_{k}") for k in victims)
    return row.select(
        (F.col("__nf") == F.col("__n0") - rm_total)
        .cast("long")
        .alias("counts_tile"),
        (
            (F.col("__tile_n") == F.col("__n0"))
            & (F.col("__tile_d") == F.col("__n0"))
        )
        .cast("long")
        .alias("victims_partition_corpus"),
        (F.col("__left") == 0).cast("long").alias("no_family_pair_survives"),
        ((F.col("__rm_text") > 0) & (F.col("__rm_video") > 0))
        .cast("long")
        .alias("text_and_video_gates_bite"),
        (F.col("__nf") > 0).cast("long").alias("final_nonempty"),
    )


@register(
    "pipe9_cross_family_admission",
    """
    SELECT CAST(1 AS BIGINT) AS counts_tile,
           CAST(1 AS BIGINT) AS rejected_partition_batch,
           CAST(1 AS BIGINT) AS exact_gate_transparent,
           CAST(1 AS BIGINT) AS admitted_all_from_batch,
           CAST(1 AS BIGINT) AS gates_bite
    """,
    doc="Cross-family INCREMENTAL admission (r16 — pipe5's per-cycle "
    "shape at full family breadth, the steady-state twin of pipe8's "
    "batch composition): the 20% arriving batch is gated against the "
    "80% registry through all five families — exact content-hash (the "
    "persisted cxhashidx split batch/registry), then text-MinHash / "
    "image-dHash / audio-fp / video-containment incremental probes, "
    "each consuming the SAME registry tables and probe definitions as "
    "the standalone certified entries (dd22/dd24/dd27/dd30's fns are "
    "called verbatim — one definition, the _pipe5_stages discipline), "
    "rejections attributed sequentially. Constant-oracle booleans: "
    "counts_tile (admitted = batch - every gate's rejections); "
    "rejected_partition_batch (rejection sets + admitted tile the "
    "batch exactly); exact_gate_transparent (the INDEX-served exact "
    "gate equals the recompute-from-text ungated twin — certifies the "
    "cxhashidx round trip); admitted_all_from_batch (no registry "
    "leak); gates_bite (non-vacuity: the exact+text+video gates each "
    "reject at every SF; image/audio near-dups in this corpus are "
    "text near-dups too — the overlap is the composition working, as "
    "in pipe8). INTRA-BATCH POLICY (explicit, ADVICE r16 #1): each "
    "family's incremental probe emits batch-internal (new x new) pairs "
    "as well as batch x registry pairs, and the gate rejects EVERY "
    "endpoint it touches — a batch carrying two near-identical novel "
    "docs admits NEITHER. That is the conservative quarantine shape "
    "(suspect content is held out of the registry entirely, e.g. for "
    "re-review next cycle), deliberately distinct from pipe8's "
    "keep-one-survivor CC resolution; pipe10 is the keep-one admission "
    "twin for pipelines that must not lose novel content. Scale: "
    "per-cycle cost = batch signature passes + bucket probes into the "
    "registries + five audits; the registry is touched only through "
    "co-located index buckets",
)
def pipe9_cross_family_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch_pred = F.col("id") % 5 == 0  # _dd_new_batch on the index id col
    hashes = spark.table(_content_hash_index_table(spark, sf_dir))
    batch = hashes.filter(batch_pred).select(
        F.col("id").alias("doc_id"), F.col("h").alias("__h")
    )
    registry_h = hashes.filter(~batch_pred).select("h")
    n_batch = batch.agg(F.count(F.lit(1)).alias("__nb"))

    rejected = {
        "exact": batch.join(
            registry_h.distinct().withColumnRenamed("h", "__h"), "__h", "left_semi"
        ).select("doc_id")
    }
    remaining = batch.select("doc_id").join(
        rejected["exact"], "doc_id", "left_anti"
    ).localCheckpoint(eager=False)

    gate_pairs = {
        "text": lambda: dd22_minhash_incremental_served(spark, sf_dir).select(
            "id_a", "id_b"
        ),
        "image": lambda: dd24_dhash_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "audio": lambda: dd27_audio_fp_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "video": lambda: dd30_video_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
    }
    # overlap the four independent family probes' construction AND
    # materialization, and cut each pair frame's lineage before its
    # double reference in the touched-union below (r18 optimization
    # round, guide §2.6 — see _materialize_overlapped)
    gate_pairs = _materialize_overlapped(spark, gate_pairs, "pipe9")
    for fam, pairs in gate_pairs.items():
        touched = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        rejected[fam] = remaining.join(
            touched, "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        remaining = remaining.join(
            rejected[fam], "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    admitted = remaining
    n_adm = admitted.agg(F.count(F.lit(1)).alias("__na"))

    # ungated exact twin: recompute hashes FROM TEXT for batch docs and
    # semi-join registry text hashes — proves the served index path
    docs = _t(spark, sf_dir, "documents")
    t_batch = docs.filter(_dd_new_batch()).select(
        "doc_id", dd.content_hash(F.col("text")).alias("__th")
    )
    t_reg_h = (
        docs.filter(~_dd_new_batch())
        .select(dd.content_hash(F.col("text")).alias("__th"))
        .distinct()
    )
    ungated = t_batch.join(t_reg_h, "__th", "left_semi").agg(
        F.count(F.lit(1)).alias("__nug")
    )

    tiled = admitted.select("doc_id")
    for v in rejected.values():
        tiled = tiled.unionByName(v.select("doc_id"))
    tile_agg = tiled.agg(
        F.count(F.lit(1)).alias("__tile_n"),
        F.count_distinct(F.col("doc_id")).alias("__tile_d"),
    )
    leak = admitted.agg(
        F.sum((~_dd_new_batch()).cast("long")).alias("__leak")
    )
    rej_aggs = {
        k: v.agg(F.count(F.lit(1)).alias(f"__rj_{k}"))
        for k, v in rejected.items()
    }

    row = n_batch.crossJoin(F.broadcast(n_adm)).crossJoin(F.broadcast(ungated))
    row = row.crossJoin(F.broadcast(tile_agg)).crossJoin(F.broadcast(leak))
    for agg in rej_aggs.values():
        row = row.crossJoin(F.broadcast(agg))
    rj_total = sum(F.col(f"__rj_{k}") for k in rejected)
    return row.select(
        (F.col("__na") == F.col("__nb") - rj_total)
        .cast("long")
        .alias("counts_tile"),
        (
            (F.col("__tile_n") == F.col("__nb"))
            & (F.col("__tile_d") == F.col("__nb"))
        )
        .cast("long")
        .alias("rejected_partition_batch"),
        (F.col("__rj_exact") == F.col("__nug"))
        .cast("long")
        .alias("exact_gate_transparent"),
        (F.coalesce(F.col("__leak"), F.lit(0)) == 0)
        .cast("long")
        .alias("admitted_all_from_batch"),
        (
            (F.col("__rj_text") > 0)
            & (F.col("__rj_video") > 0)
            & (F.col("__na") > 0)
        )
        .cast("long")
        .alias("gates_bite"),
    )


@register(
    "pipe10_cross_family_admission_keepone",
    """
    SELECT CAST(1 AS BIGINT) AS counts_tile,
           CAST(1 AS BIGINT) AS rejected_partition_batch,
           CAST(1 AS BIGINT) AS no_gate_pair_coadmitted,
           CAST(1 AS BIGINT) AS admits_superset_of_dropall,
           CAST(1 AS BIGINT) AS keepone_gain_nonvacuous,
           CAST(1 AS BIGINT) AS admitted_all_from_batch
    """,
    doc="Cross-family incremental admission, KEEP-ONE form (r17 — the "
    "production twin ADVICE r16 #1 asked for): same five gates, same "
    "registries and probe fns as pipe9, but batch-internal near-dup "
    "evidence resolves like pipe8 instead of quarantining — per "
    "family, batch docs matching the REGISTRY are rejected outright, "
    "then the intra-batch pair graph RESTRICTED to still-standing "
    "docs runs the converged CC and keeps each component's minimum "
    "(neardup_survivors_converged), so a batch carrying N copies of "
    "novel content admits exactly one instead of zero. Edges through "
    "already-rejected docs do NOT propagate (pairwise evidence among "
    "standing candidates only — the sequential-attribution semantic, "
    "stated explicitly); the intra-batch EXACT gate keeps min doc_id "
    "per content hash (vacuous on this corpus, kept for form). "
    "Booleans: counts_tile / rejected_partition_batch / "
    "admitted_all_from_batch (pipe9's tiling audits); "
    "no_gate_pair_coadmitted (NO family's batch-internal probe pair "
    "has both endpoints admitted — the dedup guarantee keep-one still "
    "owes); admits_superset_of_dropall (every doc pipe9's drop-all "
    "policy admits, this admits — computed inline from the same pair "
    "frames, MODULO exact intra-batch duplicates invisible to all four "
    "pair gates, which keep-min correctly rejects where drop-all "
    "admits both copies — vacuous here, true-in-general form); "
    "keepone_gain_nonvacuous (strictly MORE admitted than "
    "drop-all: measured +1/+1/+41 at sf0.001/0.01/0.1 — the novel "
    "content drop-all loses). Scale: pipe9's probe cost + four CC "
    "runs over tiny restricted intra-batch graphs",
)
def pipe10_cross_family_admission_keepone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    batch_pred = F.col("id") % 5 == 0  # _dd_new_batch on the index id col
    hashes = spark.table(_content_hash_index_table(spark, sf_dir))
    batch = hashes.filter(batch_pred).select(
        F.col("id").alias("doc_id"), F.col("h").alias("__h")
    )
    registry_h = hashes.filter(~batch_pred).select(
        F.col("h").alias("__h")
    ).distinct()
    n_batch = batch.agg(F.count(F.lit(1)).alias("__nb"))

    rejected = {
        "exact_registry": batch.join(registry_h, "__h", "left_semi")
        .select("doc_id")
        .localCheckpoint(eager=False)
    }
    rem = batch.join(rejected["exact_registry"], "doc_id", "left_anti")
    keep = rem.groupBy("__h").agg(F.min("doc_id").alias("__keep"))
    rejected["exact_intra"] = (
        rem.join(keep, "__h")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    remaining = (
        rem.select("doc_id")
        .join(rejected["exact_intra"], "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )

    gate_pairs = {
        "text": lambda: dd22_minhash_incremental_served(spark, sf_dir).select(
            "id_a", "id_b"
        ),
        "image": lambda: dd24_dhash_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "audio": lambda: dd27_audio_fp_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "video": lambda: dd30_video_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
    }
    # overlap the four independent family probes' construction and
    # materialization (r18 optimization round, guide §2.6 — see
    # _materialize_overlapped)
    gate_pairs = _materialize_overlapped(spark, gate_pairs, "pipe10")
    batch_a = F.col("id_a") % 5 == 0
    batch_b = F.col("id_b") % 5 == 0
    intra_all = None
    for fam, pairs in gate_pairs.items():
        reg_touched = (
            pairs.filter(batch_a & ~batch_b)
            .select(F.col("id_a").alias("doc_id"))
            .unionByName(
                pairs.filter(~batch_a & batch_b).select(
                    F.col("id_b").alias("doc_id")
                )
            )
            .distinct()
        )
        rejected[f"{fam}_registry"] = remaining.join(
            reg_touched, "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        standing = remaining.join(
            rejected[f"{fam}_registry"], "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
        intra = (
            pairs.filter(batch_a & batch_b)
            .join(
                standing.select(F.col("doc_id").alias("id_a")),
                "id_a",
                "left_semi",
            )
            .join(
                standing.select(F.col("doc_id").alias("id_b")),
                "id_b",
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
        survivors = dd.neardup_survivors_converged(
            standing, intra
        ).localCheckpoint(eager=False)
        rejected[f"{fam}_intra"] = standing.join(
            survivors, "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
        remaining = survivors
        bb = pairs.filter(batch_a & batch_b).select("id_a", "id_b")
        intra_all = bb if intra_all is None else intra_all.unionByName(bb)
    admitted = remaining
    n_adm = admitted.agg(F.count(F.lit(1)).alias("__na"))

    tiled = admitted.select("doc_id")
    for v in rejected.values():
        tiled = tiled.unionByName(v.select("doc_id"))
    tile_agg = tiled.agg(
        F.count(F.lit(1)).alias("__tile_n"),
        F.count_distinct(F.col("doc_id")).alias("__tile_d"),
    )
    # end-to-end co-admission audit over the UNRESTRICTED batch-internal
    # pair sets: keep-one may admit one endpoint, never both
    coadmitted = (
        intra_all.join(
            admitted.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        )
        .join(
            admitted.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
        )
        .agg(F.count(F.lit(1)).alias("__coadm"))
    )
    # pipe9's drop-all admission, computed inline from the SAME frames:
    # batch minus exact registry matches minus every batch endpoint of
    # every family pair (sequential attribution only relabels rejections;
    # the admitted SET is this difference)
    touched = rejected["exact_registry"].select("doc_id")
    for pairs in gate_pairs.values():
        touched = touched.unionByName(
            pairs.filter(batch_a).select(F.col("id_a").alias("doc_id"))
        ).unionByName(
            pairs.filter(batch_b).select(F.col("id_b").alias("doc_id"))
        )
    dropall = batch.select("doc_id").join(
        touched.distinct(), "doc_id", "left_anti"
    ).localCheckpoint(eager=False)
    n_dropall = dropall.agg(F.count(F.lit(1)).alias("__nd"))
    # the true-in-general invariant (r17 review): keep-one admits every
    # drop-all admit EXCEPT exact intra-batch duplicates invisible to all
    # four pair gates (identical empty/undigestable docs: drop-all admits
    # both copies, keep-min correctly rejects one — fewer, not a bug).
    # Vacuous on this corpus (no intra-batch exact dupes) but the boolean
    # must encode the claim that holds on ANY corpus.
    not_superset = (
        dropall.join(admitted, "doc_id", "left_anti")
        .join(rejected["exact_intra"], "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("__nsup"))
    )
    leak = admitted.agg(
        F.sum((~_dd_new_batch()).cast("long")).alias("__leak")
    )
    rej_aggs = {
        k: v.agg(F.count(F.lit(1)).alias(f"__rj_{k}"))
        for k, v in rejected.items()
    }

    row = n_batch.crossJoin(F.broadcast(n_adm)).crossJoin(F.broadcast(tile_agg))
    row = (
        row.crossJoin(F.broadcast(coadmitted))
        .crossJoin(F.broadcast(n_dropall))
        .crossJoin(F.broadcast(not_superset))
        .crossJoin(F.broadcast(leak))
    )
    for agg in rej_aggs.values():
        row = row.crossJoin(F.broadcast(agg))
    rj_total = sum(F.col(f"__rj_{k}") for k in rejected)
    return row.select(
        (F.col("__na") == F.col("__nb") - rj_total)
        .cast("long")
        .alias("counts_tile"),
        (
            (F.col("__tile_n") == F.col("__nb"))
            & (F.col("__tile_d") == F.col("__nb"))
        )
        .cast("long")
        .alias("rejected_partition_batch"),
        (F.col("__coadm") == 0).cast("long").alias("no_gate_pair_coadmitted"),
        (F.col("__nsup") == 0).cast("long").alias("admits_superset_of_dropall"),
        (F.col("__na") > F.col("__nd"))
        .cast("long")
        .alias("keepone_gain_nonvacuous"),
        (F.coalesce(F.col("__leak"), F.lit(0)) == 0)
        .cast("long")
        .alias("admitted_all_from_batch"),
    )


def _materialize_overlapped(
    spark: SparkSession, frames: dict, label: str
) -> dict:
    """Materialize independent frames as localCheckpoints from a small
    thread pool (r18 optimization round, guide §2.6 — overlap independent
    jobs): each family probe has serial narrow phases (Arrow/pandas
    signature passes, tiny bucket joins) that leave most cores idle, so
    overlapping lets one family's Python pass back-fill another's tail.
    Measured at sf0.1: the four-family probe wall of the cycle ctx
    dropped ~15-25% in pipe11/12/13 end-to-end. Semantics are untouched:
    eager=True only moves each materialization from its first consumer
    (the admit()/CC call inside the same entry fn) into the pool; the
    frames are independent (distinct registry tables, shared inputs are
    immutable parquet), and job descriptions are thread-local so the UI
    stays labelled per family. Spark's scheduler runs concurrent jobs
    FIFO — exactly the back-fill behaviour wanted.

    Values may be DataFrames or ZERO-ARG BUILDERS (late r18: profiling
    showed the serial PLAN CONSTRUCTION of the four served family
    probes costs ~6.5 s at sf0.1 — each build holds the driver in
    py4j round-trips, dominated by the analysis the lazy internal
    localCheckpoints force — vs ~1.7 s for the materialization the
    pool already overlapped). A builder runs inside its worker thread,
    so the four analyses overlap too. Thread-safety of the builders:
    plan construction is independent py4j calls; first-touch index DDL
    targets per-family DISTINCT table names/locations behind
    publish_layout_atomic (concurrent first touch of the same layout
    was already hardened in r14), and the builder paths hold no shared
    mutable Python state."""
    if len(frames) <= 1:
        return {
            k: (v() if callable(v) else v).localCheckpoint(eager=True)
            for k, v in frames.items()
        }
    from concurrent.futures import ThreadPoolExecutor

    def _materialize(item):
        k, df = item
        spark.sparkContext.setJobDescription(f"{label}: {k} probe")
        if callable(df):
            df = df()
        return k, df.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        return dict(pool.map(_materialize, frames.items()))


def _cross_family_cycle_ctx(
    spark: SparkSession,
    sf_dir: str,
    families: tuple = ("text", "image", "audio", "video"),
) -> dict:
    """Shared context of the registry-update entries (r17: pipe11's two
    admission cycles and pipe12's compaction — the _pipe5_stages
    one-definition discipline): the id-arithmetic halves of
    _dd_new_batch's 20% batch, the content-hash frames, ONE probe pass
    per family (the pipe9 verbatim-fn discipline, reused by every cycle
    via id-arithmetic restriction — exact because each family's pair
    predicate is pairwise), the union evidence graph, and the
    ``admit()`` keep-one cycle closure.

    The CAPPED video form deliberately does NOT ride this ctx's
    one-pass-restriction trick: the capped pair predicate is not
    pairwise (df depends on the population), so a restriction-by-id
    reuse would make each cycle see df over (registry ∪ WHOLE batch)
    rather than its own population. pipe13 builds per-cycle capped
    probes instead and injects them through ``admit(union_ev=...)``
    (r18, VERDICT r17 #4 — the r17 scale probe's ``video_max_df`` ctx
    hook lived here with exactly that caveat until pipe13 replaced it).
    pipe13 passes ``families`` WITHOUT "video" so the uncapped dd30
    slice is never even planned: under AQE the fam_pairs lazy
    localCheckpoints materialize at ctx-build time, and on a corpus
    past ``_VIDEO_UNCAPPED_DF_LIMIT`` the unused uncapped slice would
    raise the very guard the capped composition exists to get past
    (hit live by the r18 500k probe). Default is all four — the
    pipe11/pipe12 path is unchanged."""
    half1 = lambda c: (c % 10) == 0  # noqa: E731 — id-arithmetic halves
    half2 = lambda c: (c % 10) == 5  # noqa: E731   of _dd_new_batch's 20%
    registry_pred = lambda c: (c % 5) != 0  # noqa: E731

    hashes = spark.table(_content_hash_index_table(spark, sf_dir))
    reg_h = (
        hashes.filter(registry_pred(F.col("id")))
        .select(F.col("h").alias("__h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    b1 = hashes.filter(half1(F.col("id"))).select(
        F.col("id").alias("doc_id"), F.col("h").alias("__h")
    )
    b2 = hashes.filter(half2(F.col("id"))).select(
        F.col("id").alias("doc_id"), F.col("h").alias("__h")
    )

    fam_builders = {
        "text": lambda: dd22_minhash_incremental_served(spark, sf_dir).select(
            "id_a", "id_b", "est_jaccard"
        ),
        "image": lambda: dd24_dhash_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "audio": lambda: dd27_audio_fp_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
        "video": lambda: dd30_video_incremental_served(spark, sf_dir).select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
    }
    # Both the probes' plan CONSTRUCTION and their MATERIALIZATIONS run
    # overlapped from the pool (r18 optimization round, guide §2.6; the
    # builders-in-threads form is late r18 — construction was the
    # larger serial cost) — see _materialize_overlapped.
    fam_pairs = _materialize_overlapped(
        spark, {k: fam_builders[k] for k in families}, "cycle-ctx"
    )
    union_pairs = None
    for v in fam_pairs.values():
        p = v.select("id_a", "id_b")
        union_pairs = p if union_pairs is None else union_pairs.unionByName(p)
    union_pairs = union_pairs.localCheckpoint(eager=False)

    def admit(batch, batch_half, extra_reg_h=None, upd_ev=None, union_ev=None):
        """One keep-one admission cycle (:func:`admission_decisions`)
        with batch membership by id arithmetic: exact gate (base hashes
        plus the optional delta), registry near-dup evidence, optional
        update (vs-A1) evidence, then the CC over the intra-batch union
        evidence graph. Returns (admitted, [rejected frames]) in gate
        order.

        ``union_ev`` (r18, pipe13): replaces the shared union evidence
        graph for compositions whose video predicate must be PER-CYCLE
        (the capped snapshot form — df over each cycle's own
        population). Default None keeps the pipe9–12 path unchanged."""
        ev = union_pairs if union_ev is None else union_ev
        gate_h = reg_h if extra_reg_h is None else reg_h.unionByName(
            extra_reg_h
        )
        evidence = {
            "neardup_registry": ev.filter(
                batch_half(F.col("id_a")) & registry_pred(F.col("id_b"))
            )
            .select(F.col("id_a").alias("doc_id"))
            .unionByName(
                ev.filter(
                    registry_pred(F.col("id_a")) & batch_half(F.col("id_b"))
                ).select(F.col("id_b").alias("doc_id"))
            )
            .distinct()
        }
        if upd_ev is not None:
            evidence["update"] = upd_ev
        admitted, rejected = admission_decisions(
            batch,
            gate_h,
            evidence,
            ev.filter(batch_half(F.col("id_a")) & batch_half(F.col("id_b"))),
        )
        return admitted, list(rejected.values())

    return {
        "half1": half1,
        "half2": half2,
        "registry_pred": registry_pred,
        "hashes": hashes,
        "reg_h": reg_h,
        "b1": b1,
        "b2": b2,
        "fam_pairs": fam_pairs,
        "union_pairs": union_pairs,
        "admit": admit,
    }


def _pipe11_parts(spark: SparkSession, sf_dir: str) -> dict:
    """The two-cycle registry-update pass shared by pipe11 (headline:
    the production per-cycle cost) and pipe11b (the out-of-headline
    certification probes — the dd2b/txt21 split, VERDICT r17 #2):
    cycle 1 admits batch1 against the frozen base registries, the
    admitted set A1 becomes the registry delta, cycle 2 gates batch2
    against base+delta. The 500k scale leg runs pipe13's per-cycle
    CAPPED composition instead (r18 — run_pipe11_probe's capped leg
    moved there, so the form that runs past the uncapped guard is the
    driver-certified one)."""
    ctx = _cross_family_cycle_ctx(spark, sf_dir)
    half1, half2 = ctx["half1"], ctx["half2"]
    b1, b2 = ctx["b1"], ctx["b2"]
    union_pairs, admit = ctx["union_pairs"], ctx["admit"]

    # ---- cycle 1: batch1 vs the frozen base registries ----
    a1, rejs1 = admit(b1, half1)
    # a1_h / upd_ev: single-consumer frames (each feeds exactly one join
    # inside admit(cycle 2)) — their own localCheckpoints were pure
    # analysis barriers (r19 ckpt-site profile), now folded into the
    # consumer's checkpoint
    a1_h = b1.join(a1, "doc_id", "left_semi").select("__h").distinct()
    # update evidence: batch2 endpoints of cross-half pairs whose batch1
    # endpoint was ADMITTED (a rejected doc never enters the registry)
    upd_ev = (
        union_pairs.filter(half1(F.col("id_a")) & half2(F.col("id_b")))
        .join(a1.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .unionByName(
            union_pairs.filter(half2(F.col("id_a")) & half1(F.col("id_b")))
            .join(
                a1.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
            )
            .select(F.col("id_a").alias("doc_id"))
        )
        .distinct()
    )

    # ---- cycle 2: batch2 vs base + delta ----
    a2, rejs2 = admit(b2, half2, extra_reg_h=a1_h, upd_ev=upd_ev)
    return dict(
        ctx=ctx, a1=a1, rejs1=rejs1, a1_h=a1_h, upd_ev=upd_ev, a2=a2,
        rejs2=rejs2,
    )


@register(
    "pipe11_registry_update_cycles",
    """
    SELECT CAST(1 AS BIGINT) AS cycles_tile,
           CAST(1 AS BIGINT) AS admitted_from_own_batch,
           CAST(1 AS BIGINT) AS no_pair_coadmitted
    """,
    doc="TWO admission cycles with a REGISTRY UPDATE between them (r17 — "
    "the steady-state loop pipe9/pipe10 stop short of: they gate a "
    "batch against frozen registries; production ALSO folds what it "
    "admits back in, and the next batch must be gated against that). "
    "The 20% batch splits in half by id arithmetic: cycle 1 admits "
    "batch1 (keep-one: exact + UNION near-dup evidence across all four "
    "signature families — the verbatim dd22/dd24/dd27/dd30 probe "
    "outputs, restriction-by-id-arithmetic being exact because every "
    "family's pair predicate is pairwise — then one converged CC over "
    "the intra-batch union graph); the admitted set A1 becomes the "
    "registry DELTA; cycle 2 gates batch2 against base+delta (exact "
    "hashes ∪ A1 hashes; near-dup evidence vs registry AND vs A1 — "
    "the LSM base+delta serving shape: the big index stays immutable, "
    "the delta is batch-sized). Booleans (the PRODUCTION audits; the "
    "counterfactual-rerun and delta-index-transparency certifications "
    "live in pipe11b, the dd2b out-of-headline split — r18, VERDICT "
    "r17 #2): cycles_tile + admitted_from_own_batch (both cycles' "
    "rejections partition their batches, no leaks); no_pair_coadmitted "
    "(across A1 ∪ A2 no family pair and no exact duplicate survives). "
    "Scale: per-cycle cost = batch probes + two tiny CC runs; the "
    "delta index is batch-sized and the base registry is never "
    "rebuilt — compaction folds deltas in at its own cadence, exactly "
    "the segment-sink story",
)
def pipe11_registry_update_cycles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pipe11_impl(spark, sf_dir)


def _pipe11_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe11's headline form (uncapped video gate; the 500k capped
    scale leg runs pipe13's per-cycle composition instead — r18)."""
    parts = _pipe11_parts(spark, sf_dir)
    ctx = parts["ctx"]
    return _two_cycle_audit_row(
        ctx["half1"], ctx["half2"], ctx["hashes"], ctx["b1"], ctx["b2"],
        parts["a1"], parts["rejs1"], parts["a2"], parts["rejs2"],
        ctx["union_pairs"],
    )


def _two_cycle_audit_row(
    half1, half2, hashes, b1, b2, a1, rejs1, a2, rejs2, union_ev
) -> DataFrame:
    """The production audits shared by pipe11 and pipe13 (extracted r18
    when pipe13 became the second two-cycle composition): cycles_tile
    (admitted + rejections partition each batch, with distinctness and
    count arithmetic), admitted_from_own_batch, and no_pair_coadmitted
    (across A1 ∪ A2 no ``union_ev`` pair and no exact duplicate
    survives — the caller passes the evidence graph its composition
    gated on, per-cycle capped evidence included for pipe13)."""
    n_b1 = b1.agg(F.count(F.lit(1)).alias("__nb1"))
    n_b2 = b2.agg(F.count(F.lit(1)).alias("__nb2"))
    tiled1 = a1.select("doc_id")
    for r in rejs1:
        tiled1 = tiled1.unionByName(r.select("doc_id"))
    tile1 = tiled1.agg(
        F.count(F.lit(1)).alias("__t1n"),
        F.count_distinct(F.col("doc_id")).alias("__t1d"),
    )
    tiled2 = a2.select("doc_id")
    for r in rejs2:
        tiled2 = tiled2.unionByName(r.select("doc_id"))
    tile2 = tiled2.agg(
        F.count(F.lit(1)).alias("__t2n"),
        F.count_distinct(F.col("doc_id")).alias("__t2d"),
    )
    sourced = (
        a1.agg(
            F.sum((~half1(F.col("doc_id"))).cast("long")).alias("__bad1")
        ).crossJoin(
            F.broadcast(
                a2.agg(
                    F.sum((~half2(F.col("doc_id"))).cast("long")).alias(
                        "__bad2"
                    )
                )
            )
        )
    )
    all_adm = a1.unionByName(a2).localCheckpoint(eager=False)
    coadm_pairs = (
        union_ev.join(
            all_adm.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        )
        .join(
            all_adm.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
        )
        .select(F.lit(1).alias("__one"))
    )
    coadm_exact = (
        hashes.select(F.col("id").alias("doc_id"), "h")
        .join(all_adm, "doc_id", "left_semi")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select(F.lit(1).alias("__one"))
    )
    coadm = coadm_pairs.unionByName(coadm_exact).agg(
        F.count(F.lit(1)).alias("__coadm")
    )
    # The old form ALSO ran one driver-side r.count() per rejection frame
    # (10 serial jobs per entry) to assert __na == __nb - Σ|rejs|. That
    # conjunct is algebraically implied by the tile counts already in the
    # row: tile_n counts admitted ∪ all rejs with duplicates, so
    # tile_n == na + Σ|rejs| by construction, and hence
    # (na == nb - Σ|rejs|) ⟺ (tile_n == nb) — the first conjunct below.
    # Removing the redundant counts changes NO boolean's value in any
    # world (exact integer arithmetic), it only deletes 10 driver
    # actions per run (r19 optimization round, guide §5: the audit row
    # was ~1 s of serial count() jobs at sf0.1).

    row = n_b1.crossJoin(F.broadcast(n_b2)).crossJoin(F.broadcast(tile1))
    row = (
        row.crossJoin(F.broadcast(tile2))
        .crossJoin(F.broadcast(sourced))
        .crossJoin(F.broadcast(coadm))
    )
    return row.select(
        (
            (F.col("__t1n") == F.col("__nb1"))
            & (F.col("__t1d") == F.col("__nb1"))
            & (F.col("__t2n") == F.col("__nb2"))
            & (F.col("__t2d") == F.col("__nb2"))
        )
        .cast("long")
        .alias("cycles_tile"),
        (
            (F.coalesce(F.col("__bad1"), F.lit(0)) == 0)
            & (F.coalesce(F.col("__bad2"), F.lit(0)) == 0)
        )
        .cast("long")
        .alias("admitted_from_own_batch"),
        (F.col("__coadm") == 0).cast("long").alias("no_pair_coadmitted"),
    )


@register(
    "pipe11b_update_cycle_probes",
    """
    SELECT CAST(1 AS BIGINT) AS update_probe_transparent,
           CAST(1 AS BIGINT) AS update_changes_outcome
    """,
    doc="pipe11's out-of-headline certification probes (r18, VERDICT r17 "
    "#2 — the dd2b/txt21 split: the headline row measures the "
    "production per-cycle cost, the expensive counterfactual/equality "
    "passes certify here): update_probe_transparent (probing a REAL "
    "freshly-built LSH delta index of the cycle-1 admitted docs emits "
    "exactly the batch2-vs-A1 restriction of the text family's probe "
    "pass — the contract that lets production serve the delta from a "
    "persisted index instead of re-probing, and the transparency "
    "contract that licenses pipe11's restriction-derived update "
    "evidence); update_changes_outcome (rerunning cycle 2 WITHOUT the "
    "registry update yields a DIFFERENT admitted set — the fold-back "
    "has an observable effect at every SF, attribution-order-"
    "independent). Cost = pipe11's two cycles PLUS a third keep-one "
    "pass and a delta index build+probe — certification work by "
    "design, which is exactly why it is not the headline row",
)
def pipe11b_update_cycle_probes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pipe11b_impl(spark, sf_dir)


def _pipe11b_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _pipe11_parts(spark, sf_dir)
    ctx = parts["ctx"]
    half1, half2 = ctx["half1"], ctx["half2"]
    b2, fam_pairs, admit = ctx["b2"], ctx["fam_pairs"], ctx["admit"]
    a1, a2 = parts["a1"], parts["a2"]

    # ---- counterfactual: cycle 2 WITHOUT the registry update ----
    a2_noupd, _ = admit(b2, half2)
    outcome_diff = (
        a2.join(a2_noupd, "doc_id", "left_anti")
        .unionByName(a2_noupd.join(a2, "doc_id", "left_anti"))
        .agg(F.count(F.lit(1)).alias("__odiff"))
    )

    # ---- transparency: a REAL delta index probe equals the restriction ----
    docs = _t(spark, sf_dir, "documents")
    a1_docs = docs.join(a1, "doc_id", "left_semi")
    b2_docs = docs.filter(half2(F.col("doc_id")))
    delta_probe = (
        dd.incremental_neardup_pairs(
            b2_docs,
            dd.lsh_band_index(a1_docs, **_MINHASH_INDEX_PARAMS),
            threshold=0.5,
            **_MINHASH_INDEX_PARAMS,
        )
        .filter(
            (half1(F.col("id_a")) & half2(F.col("id_b")))
            | (half2(F.col("id_a")) & half1(F.col("id_b")))
        )
        .localCheckpoint(eager=False)
    )
    restriction = (
        fam_pairs["text"]
        .filter(
            (half1(F.col("id_a")) & half2(F.col("id_b")))
            | (half2(F.col("id_a")) & half1(F.col("id_b")))
        )
        .join(
            a1.select(F.col("doc_id").alias("__a1")),
            (F.col("id_a") == F.col("__a1")) | (F.col("id_b") == F.col("__a1")),
            "left_semi",
        )
        .localCheckpoint(eager=False)
    )
    transp_mismatch = (
        delta_probe.exceptAll(restriction)
        .unionByName(restriction.exceptAll(delta_probe))
        .agg(F.count(F.lit(1)).alias("__tmis"))
    )

    row = transp_mismatch.crossJoin(F.broadcast(outcome_diff))
    return row.select(
        (F.col("__tmis") == 0).cast("long").alias("update_probe_transparent"),
        (F.col("__odiff") > 0).cast("long").alias("update_changes_outcome"),
    )


def _pipe12_parts(spark: SparkSession, sf_dir: str) -> dict:
    """The compaction pass shared by pipe12 (headline: the production
    fold cost — cycle-1 admission + row-union write + probe) and
    pipe12b (the out-of-headline certification rebuild — the
    dd2b/txt21 split, VERDICT r17 #2): the compacted MinHash registry
    is the row union of the persisted 80% base index and the cycle-1
    admitted set's delta band rows, written once per corpus under the
    _served_index_table protocol with the A1-content digest folded
    into the location key (ADVICE r17 #3)."""
    from tranquility_spark.sources.bucketed import write_bucketed

    ctx = _cross_family_cycle_ctx(spark, sf_dir)
    half2 = ctx["half2"]
    base_table = _minhash_registry_table(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")

    a1, _ = ctx["admit"](ctx["b1"], ctx["half1"])
    a1_docs = docs.join(a1, "doc_id", "left_semi")
    delta_rows = dd.lsh_band_index(
        a1_docs, **_MINHASH_INDEX_PARAMS
    ).localCheckpoint(eager=False)
    # A1-content digest folded into the served-table key (ADVICE r17
    # #3): the compacted table is a function of the ADMITTED set, and
    # MinHash params alone don't capture the admission policy that
    # produced it — a future _cross_family_cycle_ctx/admit() change
    # must yield a FRESH location, not a stale cached table failing
    # booleans confusingly. ONE bounded one-row collect over the
    # already-checkpointed batch-sized A1 frame (count + id sum + crc
    # fold — deterministic, and a collision just degrades to today's
    # loud boolean failure).
    a1_digest = a1.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.sum(F.crc32(F.col("doc_id").cast("string"))).alias("c"),
    ).collect()[0]
    a1_key = f"a1({a1_digest['n']},{a1_digest['s']},{a1_digest['c']})"

    def _compact_build(df, name, n, loc):
        # ignores the protocol's documents frame ON PURPOSE: compaction
        # is a row union of two existing signature frames — reading the
        # corpus here would falsify the zero-corpus-bytes claim the
        # entry certifies
        write_bucketed(
            spark.table(base_table).unionByName(delta_rows),
            name,
            ["band", "bhash"],
            n,
            path=loc,
        )

    compacted = _served_index_table(
        spark,
        sf_dir,
        "mhcompact+"
        + repr(sorted(_MINHASH_INDEX_PARAMS.items()))
        + "+"
        + a1_key,
        _MINHASH_INDEX_SCHEMA,
        ["band", "bhash"],
        _compact_build,
        extra_meta={"params": _MINHASH_INDEX_PARAMS, "compaction": "base+A1"},
    )

    b2_docs = docs.filter(half2(F.col("doc_id")))
    probe_compacted = dd.incremental_neardup_pairs(
        b2_docs, spark.table(compacted), threshold=0.5, **_MINHASH_INDEX_PARAMS
    ).localCheckpoint(eager=False)
    return dict(
        ctx=ctx,
        docs=docs,
        base_table=base_table,
        a1_docs=a1_docs,
        delta_rows=delta_rows,
        compacted=compacted,
        b2_docs=b2_docs,
        probe_compacted=probe_compacted,
    )


@register(
    "pipe12_registry_compaction",
    """
    SELECT CAST(1 AS BIGINT) AS compacted_rows_exact,
           CAST(1 AS BIGINT) AS compacted_probe_nonempty,
           CAST(1 AS BIGINT) AS delta_nonempty
    """,
    doc="Registry COMPACTION (r17 — the third act of the LSM story: "
    "pipe11 serves base+delta; at some cadence the delta folds into "
    "the base, and the fold must cost ZERO corpus bytes). The "
    "compacted MinHash registry is the ROW UNION of the persisted 80% "
    "base index and the cycle-1 admitted set's delta band rows — no "
    "document is re-read, no signature recomputed, because banded "
    "signature rows are self-contained — written once per corpus as a "
    "(band, bhash)-bucketed table under the _served_index_table "
    "protocol (digest-keyed location + A1-content digest, atomic "
    "publish, sidecar). Booleans (the PRODUCTION audits; the "
    "union-of-rows-equals-rebuild certification lives in pipe12b, the "
    "dd2b out-of-headline split — r18, VERDICT r17 #2): "
    "compacted_rows_exact (row count == base + delta — exact, the doc "
    "sets are disjoint); compacted_probe_nonempty + delta_nonempty "
    "(non-vacuity). Cost = cycle-1 admission + the row-union bucketed "
    "write (first-touch-cached) + the batch2 probe — the per-fold "
    "production cost. Scale: compaction cost = one bucketed write of "
    "base+delta rows (shuffle on the bucket key only); at 100 TB the "
    "base rows stream through without ever touching corpus text — the "
    "amortization claim made structural. WHEN to fold: "
    "dedup.suggest_compaction_cadence sizes the cadence from the "
    "measured knee (SCALE.md r17: ~0.28 s marginal delta join vs "
    "2.75–3.6 s fold → every 10–13 cycles; fold earlier under a probe "
    "latency budget, never later)",
)
def pipe12_registry_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _pipe12_parts(spark, sf_dir)
    n_comp = (
        spark.table(parts["compacted"])
        .agg(F.count(F.lit(1)).alias("__ncomp"))
    )
    n_base = (
        spark.table(parts["base_table"])
        .agg(F.count(F.lit(1)).alias("__nbase"))
    )
    n_delta = parts["delta_rows"].agg(F.count(F.lit(1)).alias("__ndelta"))
    n_probe = parts["probe_compacted"].agg(
        F.count(F.lit(1)).alias("__nprobe")
    )

    row = (
        n_comp.crossJoin(F.broadcast(n_base))
        .crossJoin(F.broadcast(n_delta))
        .crossJoin(F.broadcast(n_probe))
    )
    return row.select(
        (F.col("__ncomp") == F.col("__nbase") + F.col("__ndelta"))
        .cast("long")
        .alias("compacted_rows_exact"),
        (F.col("__nprobe") > 0).cast("long").alias("compacted_probe_nonempty"),
        (F.col("__ndelta") > 0).cast("long").alias("delta_nonempty"),
    )


@register(
    "pipe12b_compaction_probes",
    """
    SELECT CAST(1 AS BIGINT) AS compacted_probe_equals_rebuilt,
           CAST(1 AS BIGINT) AS probe_nonvacuous
    """,
    doc="pipe12's out-of-headline certification probe (r18, VERDICT r17 "
    "#2 — the dd2b/txt21 split: the headline row measures the "
    "production fold cost, the expensive equality pass certifies "
    "here): compacted_probe_equals_rebuilt (probing batch2 against "
    "the COMPACTED table emits exactly the pairs of probing against "
    "an index REBUILT from the registry∪A1 documents, re-signatured "
    "from text — the union-of-rows IS the rebuild, certified on full "
    "(id_a, id_b, est_jaccard) rows); probe_nonvacuous (the compared "
    "pair sets are non-empty, so the equality can't hold trivially). "
    "Cost = pipe12's fold PLUS the full corpus re-signature pass "
    "compaction exists to avoid — certification work by design, which "
    "is exactly why it is not the headline row",
)
def pipe12b_compaction_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _pipe12_parts(spark, sf_dir)
    ctx, docs = parts["ctx"], parts["docs"]
    probe_compacted = parts["probe_compacted"]

    # the certification rebuild: registry∪A1 documents re-signatured from
    # text — the expensive pass compaction avoids, run here only to prove
    # the row union equals it
    rebuilt_idx = dd.lsh_band_index(
        docs.filter(ctx["registry_pred"](F.col("doc_id"))).unionByName(
            parts["a1_docs"]
        ),
        **_MINHASH_INDEX_PARAMS,
    )
    probe_rebuilt = dd.incremental_neardup_pairs(
        parts["b2_docs"], rebuilt_idx, threshold=0.5, **_MINHASH_INDEX_PARAMS
    ).localCheckpoint(eager=False)

    mismatch = (
        probe_compacted.exceptAll(probe_rebuilt)
        .unionByName(probe_rebuilt.exceptAll(probe_compacted))
        .agg(F.count(F.lit(1)).alias("__mis"))
    )
    n_probe = probe_compacted.agg(F.count(F.lit(1)).alias("__nprobe"))

    row = mismatch.crossJoin(F.broadcast(n_probe))
    return row.select(
        (F.col("__mis") == 0)
        .cast("long")
        .alias("compacted_probe_equals_rebuilt"),
        (F.col("__nprobe") > 0).cast("long").alias("probe_nonvacuous"),
    )


_PIPE13_MAX_DF = 4  # dd33's fixture cap: bites at every SF (hottest df 9-10)


def _pipe13_parts(
    spark: SparkSession,
    sf_dir: str,
    video_max_df: int = _PIPE13_MAX_DF,
    video_ids_only: bool = False,
) -> dict:
    """The CAPPED two-cycle registry-update pass shared by pipe13
    (headline) and pipe13b (certification probes) — r18, VERDICT r17
    #4. The r17 scale probe ran the capped loop by swapping the shared
    ctx's video slice, which reused ONE whole-batch probe across both
    cycles; that is exact for the pairwise families but NOT for the
    capped video predicate, whose df depends on the population (each
    cycle saw df over registry ∪ WHOLE batch instead of its own
    decision-time population). Here the video evidence is a PER-CYCLE
    snapshot probe: cycle 1 probes batch1 against the registry (df over
    registry ∪ batch1), cycle 2 probes batch2 against registry ∪ the
    cycle-1 admitted docs' frame rows (df over registry ∪ A1 ∪ batch2 —
    the fold-back changes the df snapshot, exactly as a production
    fixed-registry-plus-delta cycle would see it). The three pairwise
    families keep the ctx's verbatim one-pass restriction (exact for
    them by pairwise-ness), injected together with the per-cycle video
    evidence through ``admit(union_ev=...)``.

    This is the form run_pipe11_probe's 500k leg runs (the decade where
    the uncapped probe correctly raises) — driver-certified at 3 SFs
    here rather than probe-asserted only.

    ``video_ids_only`` (r19 optimization round): the admission gates
    consume only the capped probes' PAIR IDS, so the headline pipe13
    passes True and the video legs skip the per-doc count machinery and
    its analysis barriers (dedup.video_incremental_pairs_capped
    ids_only — pair set byte-identical); pipe13b certifies each cycle's
    probe on FULL rows and keeps the default. In ids_only mode the
    legs' outer localCheckpoints are dropped too: the ids frame is a
    projection over the operator's internal pairs checkpoint leaf, so a
    second barrier bought nothing (r19 ckpt-site profile: the two outer
    checkpoints alone cost ~1.8 s of serial driver time at sf0.1)."""
    ctx = _cross_family_cycle_ctx(
        spark, sf_dir, families=("text", "image", "audio")
    )
    half1, half2 = ctx["half1"], ctx["half2"]
    b1, b2 = ctx["b1"], ctx["b2"]
    # the 3-family ctx's union_pairs IS the pairwise evidence union
    # (r18 review: a first draft re-derived and re-checkpointed the
    # identical frame from fam_pairs)
    union3 = ctx["union_pairs"]

    # NOTE (late r18): overlapping this video leg's construction with
    # the ctx build (the pipe9-12 builders-in-pool treatment) was
    # implemented and MEASURED WORSE (~17 s -> ~23-27 s isolated
    # min-of-3, eager and lazy v1 variants both) — the capped probe's
    # heavy analysis contends with the 3-family ctx's own threaded
    # analysis, and the demux job oversubscribes the Python workers the
    # ctx probes need. Serial construction kept deliberately.
    docs = _t(spark, sf_dir, "documents")
    batch_frames = mm.video_frame_hashes(
        mm.attach_binary_payload(docs.filter(_dd_new_batch()))
    ).localCheckpoint(eager=False)
    b1f = batch_frames.filter(half1(F.col("doc_id")))
    b2f = batch_frames.filter(half2(F.col("doc_id")))
    reg_idx = (
        spark.table(_video_registry_table(spark, sf_dir))
        .select("id", "fhash")
        .localCheckpoint(eager=False)
    )

    # ---- cycle 1: batch1 vs registry, df over registry ∪ batch1 ----
    v1 = dd.video_incremental_pairs_capped(
        b1f, reg_idx, min_shared=2, max_df=video_max_df,
        ids_only=video_ids_only,
    )
    if not video_ids_only:
        v1 = v1.localCheckpoint(eager=False)
    v1_ids = v1.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    a1, rejs1 = ctx["admit"](
        b1,
        half1,
        union_ev=union3.unionByName(v1_ids).localCheckpoint(eager=False),
    )
    # a1_h / a1f / upd_ev: single-consumer frames — their own
    # localCheckpoints were pure analysis barriers (r19 ckpt-site
    # profile), so each now folds into its consumer's checkpoint instead
    a1_h = b1.join(a1, "doc_id", "left_semi").select("__h").distinct()
    a1f = dd.video_frame_index(b1f.join(a1, "doc_id", "left_semi"))
    idx2 = reg_idx.unionByName(a1f).localCheckpoint(eager=False)

    # ---- cycle 2: batch2 vs registry ∪ A1, df over its own population ----
    v2 = dd.video_incremental_pairs_capped(
        b2f, idx2, min_shared=2, max_df=video_max_df,
        ids_only=video_ids_only,
    )
    if not video_ids_only:
        v2 = v2.localCheckpoint(eager=False)
    v2_ids = v2.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    union_c2 = union3.unionByName(v2_ids).localCheckpoint(eager=False)
    # update evidence: batch2 endpoints of cross-half pairs whose batch1
    # endpoint was ADMITTED (pipe11's construction; the v2 cross-half
    # pairs satisfy the A1 semi-join by construction — only A1's frame
    # rows are in idx2 — but run through the same path for one shape)
    upd_ev = (
        union_c2.filter(half1(F.col("id_a")) & half2(F.col("id_b")))
        .join(a1.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .unionByName(
            union_c2.filter(half2(F.col("id_a")) & half1(F.col("id_b")))
            .join(
                a1.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
            )
            .select(F.col("id_a").alias("doc_id"))
        )
        .distinct()
    )
    a2, rejs2 = ctx["admit"](
        b2, half2, extra_reg_h=a1_h, upd_ev=upd_ev, union_ev=union_c2
    )
    return dict(
        ctx=ctx,
        union3=union3,
        b1f=b1f,
        b2f=b2f,
        reg_idx=reg_idx,
        v1=v1,
        v2=v2,
        a1=a1,
        rejs1=rejs1,
        a1f=a1f,
        idx2=idx2,
        a2=a2,
        rejs2=rejs2,
        video_max_df=video_max_df,
    )


@register(
    "pipe13_capped_update_cycles",
    """
    SELECT CAST(1 AS BIGINT) AS cycles_tile,
           CAST(1 AS BIGINT) AS admitted_from_own_batch,
           CAST(1 AS BIGINT) AS no_pair_coadmitted
    """,
    doc="pipe11's registry-update loop with the CAPPED video gate as "
    "PER-CYCLE snapshot probes (r18, VERDICT r17 #4): the r17 scale "
    "probe's capped ctx hook reused one whole-batch probe across both "
    "cycles, which is wrong in principle for a population-dependent "
    "predicate (df over registry ∪ whole batch instead of each cycle's "
    "own decision-time population) and was documented as "
    "non-certifiable. Here cycle 1's video evidence is dd33's snapshot "
    "probe over (registry ∪ batch1) and cycle 2's is over (registry ∪ "
    "A1 ∪ batch2) — the fold-back enters the df snapshot exactly as a "
    "production fixed-registry-plus-delta cycle sees it; the pairwise "
    "families keep the verbatim one-pass restriction (exact for them). "
    "Same production audits as pipe11 (shared _two_cycle_audit_row): "
    "cycles tile, admitted from own batch, no pair co-admitted under "
    "the per-cycle capped evidence. The per-cycle-population equality "
    "certifications (probe == capped full run over that cycle's own "
    "population) live in pipe13b. This is the form the 500k scale leg "
    "runs (run_pipe11_probe, video_max_df=64) — past the uncapped "
    "guard's bound, and now driver-certified at 3 SFs rather than "
    "probe-asserted. max_df=4 at fixture scale so the cap bites "
    "(dd33's setting)",
)
def pipe13_capped_update_cycles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pipe13_impl(spark, sf_dir)


def _pipe13_impl(
    spark: SparkSession, sf_dir: str, video_max_df: int = _PIPE13_MAX_DF
) -> DataFrame:
    """pipe13's headline form, parameterized for the scale probe (the
    _pipe8_decide precedent): the fixture entry runs max_df=4 so the
    cap bites; run_pipe11_probe's 500k leg passes the production 64.
    video_ids_only=True: the gates consume pair ids only (r19 — the
    per-doc count machinery certifies in pipe13b; pair set identical)."""
    parts = _pipe13_parts(
        spark, sf_dir, video_max_df=video_max_df, video_ids_only=True
    )
    ctx = parts["ctx"]
    union_ev = (
        parts["union3"]
        .unionByName(
            parts["v1"].select(
                F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
            )
        )
        .unionByName(
            parts["v2"].select(
                F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
            )
        )
    )
    return _two_cycle_audit_row(
        ctx["half1"], ctx["half2"], ctx["hashes"], ctx["b1"], ctx["b2"],
        parts["a1"], parts["rejs1"], parts["a2"], parts["rejs2"],
        union_ev,
    )


def _video_capped_full_restriction(
    pop_idx: DataFrame, new_ids: DataFrame, min_shared: int, max_df: int
) -> DataFrame:
    """The capped FULL run over a fixed population, restricted to pairs
    touching a new id — dd33's DuckDB oracle logic as a Spark frame,
    used by pipe13b to certify each cycle's snapshot probe against its
    OWN population (including cycle 2's A1 delta, which no single
    whole-corpus oracle covers). ``pop_idx``: distinct (id, fhash) rows
    of the decision-time population; ``new_ids``: one ``id`` column."""
    okh = (
        pop_idx.groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fhash")
    )
    hc = pop_idx.join(F.broadcast(okh), "fhash", "left_semi").localCheckpoint(
        eager=False
    )
    a, b = hc.alias("a"), hc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("__ns"))
        .filter(F.col("__ns") >= min_shared)
    )
    pairs_new = (
        pairs.join(
            new_ids.select(F.col("id").alias("doc_a")), "doc_a", "left_semi"
        )
        .unionByName(
            pairs.join(
                new_ids.select(F.col("id").alias("doc_b")),
                "doc_b",
                "left_semi",
            )
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cnt = hc.groupBy("id").agg(F.count(F.lit(1)).alias("__nh"))
    return dd._video_attach_counts(pairs_new, cnt)


@register(
    "pipe13b_capped_cycle_probes",
    """
    SELECT CAST(1 AS BIGINT) AS c1_probe_equals_capped_full,
           CAST(1 AS BIGINT) AS c2_probe_equals_capped_full,
           CAST(1 AS BIGINT) AS cap_engaged,
           CAST(1 AS BIGINT) AS delta_population_exact
    """,
    doc="pipe13's out-of-headline certification probes (the dd2b split, "
    "applied at birth per the r18 suite-budget rule): "
    "c1/c2_probe_equals_capped_full (each cycle's snapshot probe "
    "equals the capped FULL run over that cycle's OWN population — "
    "registry ∪ batch1, then registry ∪ A1 ∪ batch2 — restricted to "
    "batch-touching pairs, certified on full (doc_a, doc_b, n_shared, "
    "n_a, n_b, containment) rows against an independent brute-force "
    "recomputation; cycle 2's is the equality no whole-corpus oracle "
    "can express, the exact gap that made the r17 capped ctx "
    "non-certifiable); cap_engaged (some digest's df over cycle 1's "
    "population exceeds max_df, so the capped semantics are "
    "non-vacuous at every SF); delta_population_exact (cycle 2's index "
    "is exactly registry rows + A1's frame rows). Cost = pipe13's two "
    "cycles PLUS two brute-force capped full runs — certification "
    "work by design, not the headline row",
)
def pipe13b_capped_cycle_probes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pipe13b_impl(spark, sf_dir)


def _pipe13b_impl(
    spark: SparkSession, sf_dir: str, video_max_df: int = _PIPE13_MAX_DF
) -> DataFrame:
    # full-row probes: pipe13b certifies (doc_a, doc_b, n_shared, n_a,
    # n_b, containment) rows, so the video legs keep the default path
    parts = _pipe13_parts(
        spark, sf_dir, video_max_df=video_max_df, video_ids_only=False
    )
    reg_idx, b1f, b2f = parts["reg_idx"], parts["b1f"], parts["b2f"]
    v1, v2, idx2 = parts["v1"], parts["v2"], parts["idx2"]

    b1_idx = dd.video_frame_index(b1f).localCheckpoint(eager=False)
    b2_idx = dd.video_frame_index(b2f).localCheckpoint(eager=False)
    pop1 = reg_idx.unionByName(b1_idx)
    pop2 = idx2.unionByName(b2_idx)

    def _mismatch(probe, pop, new_idx, alias):
        want = _video_capped_full_restriction(
            pop, new_idx.select("id"), 2, video_max_df
        )
        return (
            probe.exceptAll(want)
            .unionByName(want.exceptAll(probe))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    mis1 = _mismatch(v1, pop1, b1_idx, "__mis1")
    mis2 = _mismatch(v2, pop2, b2_idx, "__mis2")
    hot = (
        pop1.groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(F.max("__df").alias("__hot"))
    )
    # row-SET equality against an independently recomputed population
    # (r18 review: the first draft compared row COUNTS of idx2 vs
    # reg + a1f, which unionByName makes true by construction — a
    # tautology. This form catches a miswired delta, e.g. a1f built
    # from the whole batch instead of the admitted docs, or duplicated
    # registry rows).
    want_idx2 = parts["reg_idx"].unionByName(
        dd.video_frame_index(
            b1f.join(parts["a1"], "doc_id", "left_semi")
        )
    )
    pop_mis = (
        idx2.exceptAll(want_idx2)
        .unionByName(want_idx2.exceptAll(idx2))
        .agg(F.count(F.lit(1)).alias("__pmis"))
    )

    row = (
        mis1.crossJoin(F.broadcast(mis2))
        .crossJoin(F.broadcast(hot))
        .crossJoin(F.broadcast(pop_mis))
    )
    return row.select(
        (F.col("__mis1") == 0)
        .cast("long")
        .alias("c1_probe_equals_capped_full"),
        (F.col("__mis2") == 0)
        .cast("long")
        .alias("c2_probe_equals_capped_full"),
        (F.col("__hot") > F.lit(video_max_df)).cast("long").alias(
            "cap_engaged"
        ),
        (F.col("__pmis") == 0).cast("long").alias("delta_population_exact"),
    )


# --- admission-registry serving (r18, HANDOFF r18 option b: the
# ingest→serving closure made DRIVER-VISIBLE — the streaming sink's
# admitted-only registries as a queries() serving surface) ---

# the ctx's full admission parameterization, folded into the location
# digest so ANY drift (batch split, fold cadence, gate thresholds, LSH
# params) lands at a fresh location instead of serving a stale registry
# (the ADVICE r17 #3 lesson, applied at birth)
_ADM_REG_KIND = "admreg+b4+c2+mh64.16.3.42+tx0.5+dh3+au3+vm2"
_ADM_REG_BATCHES = 4
_ADM_COMPACT_EVERY = 2
# the sink's GATE thresholds, spelled once (r18 review: adm1b's inline
# twins and from-disk emptiness probes must compare at exactly the
# thresholds the registry was gated with — these are the tx/dh/au/vm
# tokens of _ADM_REG_KIND; change one, change the other, new location)
_ADM_GATE_TXT_T = 0.5
_ADM_GATE_DHASH = 3
_ADM_GATE_AUDIO = 3
# serving thresholds: one notch LOOSER than the gate (the near-miss band)
_ADM_SERVE_TXT_T = 0.2
_ADM_SERVE_VIDEO_MS = 1


def _admission_registry_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once admission registry for a corpus: the streaming
    admission sink (operators/admission.py) run over ``_ADM_REG_BATCHES``
    deterministic batches of ``documents`` (``doc_id % 4`` — batch
    membership by SET, decided at split time) with ALL FIVE gates at
    production defaults and the streaming fold ENABLED
    (``compact_every=2``), so the layout the entries serve from is the
    folded LSM state, not the never-compacted delta pile. Published
    atomically at a location keyed by (kind incl. every parameter,
    format version, corpus fingerprint) — the _served_index_table
    discipline on a directory tree (five family indexes + decisions)
    instead of a single table. Returns the root; family indexes live
    under ``<root>/idx/<family>``, decisions under ``<root>/decisions``.

    Admission is deterministic (every gate is a deterministic frame
    computation; keep-one CC keeps component minima), so concurrent
    first touches build identical layouts and the publish race is
    winner-takes-all-safely (publish_layout_atomic)."""
    import json
    import os

    from tranquility_spark.operators.admission import admission_sink
    from tranquility_spark.sources.layout import publish_layout_atomic

    ck = _index_cache_key(sf_dir, table="documents")
    digest = _index_cache_digest(_ADM_REG_KIND, ck)
    root = os.path.join(_index_cache_root(), f"admreg-{digest}")
    meta_path = os.path.join(root, "_meta.json")
    if os.path.exists(meta_path):
        return root

    def _build(stage: str) -> None:
        os.makedirs(stage, exist_ok=True)
        sink = admission_sink(
            os.path.join(stage, "idx"),
            os.path.join(stage, "decisions"),
            compact_every=_ADM_COMPACT_EVERY,
        )
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        for i in range(_ADM_REG_BATCHES):
            sink(docs.filter(F.col("doc_id") % _ADM_REG_BATCHES == i), i)
        with open(
            os.path.join(stage, "_meta.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(
                {"kind": _ADM_REG_KIND, "batches": _ADM_REG_BATCHES}, fh
            )

    publish_layout_atomic(
        root, _build, is_complete=lambda d: os.path.exists(meta_path)
    )
    return root


@register(
    "adm1_admission_served_video_pairs",
    None,  # rows-only: the pair set is defined by the admission gate's
    # admitted set, which the minhash/dhash gates make hash-defined (the
    # dd19-dd24 served-entry policy); the five-family served==inline
    # certification is adm1b's constant-oracle probe
    doc="Video near-miss pairs served from the STREAMING admission "
    "sink's accumulated admitted-only registry (r18 — the ingest→"
    "serving closure driver-visible: dd29's serving shape pointed at "
    "the layout admission_sink built batch-by-batch, folds included). "
    "The registry ctx runs the five-gate keep-one admission over 4 "
    "deterministic batches at production thresholds with the streaming "
    "LSM fold enabled (compact_every=2), then this entry asks the "
    "registry a LOOSER question than the gate: pairs sharing >= 1 "
    "frame digest among ADMITTED docs — exactly the shared-frame "
    "evidence that fell SHORT of the min_shared=2 gate, i.e. the "
    "near-miss band a contamination/curriculum scan wants (the text "
    "analog at est_jaccard 0.2 is adm1b's equality boolean; on this "
    "fixture the admitted corpus has no sub-gate text band "
    "collisions, so video is the non-vacuous serving family). "
    "Serving any family at the gate's own threshold is EMPTY by the "
    "no-coadmitted-pair invariant (adm1b reads that back from disk). "
    "Nothing is re-read or re-hashed at serve time — ~24-byte index "
    "rows only; the build is a one-time ingest cost at a digest-keyed "
    "location. Scale: dd29's inverted-index join with the same "
    "uncapped-df structural guard (video_max_df= forwards for "
    "saturated registries); registry size is bounded by ADMITTED "
    "volume (12% on the heavy-dup probe corpus, SCALE.md r17) and the "
    "fold keeps the partition count at the cadence bound regardless "
    "of stream length",
)
def adm1_admission_served_video_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from tranquility_spark.operators.admission import admission_served_pairs

    root = _admission_registry_root(spark, sf_dir)
    return admission_served_pairs(
        spark,
        os.path.join(root, "idx"),
        "video",
        video_min_shared=_ADM_SERVE_VIDEO_MS,
    ).orderBy("doc_a", "doc_b")


@register(
    "adm1b_admission_serving_probes",
    """
    SELECT CAST(1 AS BIGINT) AS text_served_equals_inline,
           CAST(1 AS BIGINT) AS image_served_equals_inline,
           CAST(1 AS BIGINT) AS audio_served_equals_inline,
           CAST(1 AS BIGINT) AS video_served_equals_inline,
           CAST(1 AS BIGINT) AS exact_served_empty,
           CAST(1 AS BIGINT) AS text_gate_served_empty,
           CAST(1 AS BIGINT) AS served_ids_admitted,
           CAST(1 AS BIGINT) AS fold_engaged
    """,
    doc="adm1's out-of-headline certification probes (constant-oracle "
    "booleans, landed WITH the headline per the r18 suite-budget "
    "rule): each near-dup family's serving from the admission "
    "registry EQUALS the family's inline batch pass over the admitted "
    "documents at the serving thresholds (video at min_shared=1 — "
    "adm1's non-vacuous near-miss band; text at the loose 0.2, "
    "image/audio at the gate thresholds — on this fixture those "
    "equalities compare the empty no-coadmitted frames, which IS the "
    "audit that serving finds nothing the gate should have caught); "
    "serving the EXACT family and the TEXT family at the gate's own "
    "threshold is empty (the no-coadmitted-pair guarantee read back "
    "from disk); every adm1 endpoint is an admitted doc; and every "
    "family dir holds at most compact_every batch_id partitions — the "
    "streaming fold ENGAGED while the registry was built, so the "
    "equality certifies serving over the folded layout, not just the "
    "delta pile. Cost: five signature passes over the admitted "
    "subset — a certification probe by design (the dd2b/txt21 budget "
    "policy)",
)
def adm1b_admission_serving_probes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from tranquility_spark.operators import multimodal as mm
    from tranquility_spark.operators.admission import (
        _FAMILY_SCHEMAS,
        admission_served_pairs,
        count_batch_partitions,
    )

    root = _admission_registry_root(spark, sf_dir)
    idx_root = os.path.join(root, "idx")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    admitted = (
        spark.read.parquet(os.path.join(root, "decisions"))
        .filter(F.col("admitted") == 1)
        .select("doc_id")
    )
    adm_docs = docs.join(admitted, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    payload = mm.attach_binary_payload(adm_docs)

    def _served(fam, **kw):
        return admission_served_pairs(spark, idx_root, fam, **kw)

    # inline twins at the SERVING thresholds (video one notch looser
    # than its gate so the equality compares non-empty frames)
    inline = {
        "text": dd.minhash_lsh_pairs_distinct(
            adm_docs, threshold=_ADM_SERVE_TXT_T
        ),
        "image": dd.dhash_neardup_pairs(
            mm.image_dhash(payload), threshold=_ADM_GATE_DHASH
        ),
        "audio": dd.audio_fp_neardup_pairs(
            mm.audio_energy_fingerprint(payload), threshold=_ADM_GATE_AUDIO
        ),
        "video": dd.video_neardup_pairs(
            mm.video_frame_hashes(payload), min_shared=_ADM_SERVE_VIDEO_MS
        ),
    }
    served = {
        "text": _served("text", minhash_threshold=_ADM_SERVE_TXT_T),
        "image": _served("image", dhash_threshold=_ADM_GATE_DHASH),
        "audio": _served("audio", audio_threshold=_ADM_GATE_AUDIO),
        "video": _served("video", video_min_shared=_ADM_SERVE_VIDEO_MS),
    }
    mismatches = {}
    for fam in inline:
        want = inline[fam].select(*served[fam].columns)
        mismatches[fam] = (
            served[fam]
            .exceptAll(want)
            .unionByName(want.exceptAll(served[fam]))
            .agg(F.count(F.lit(1)).alias(f"__mis_{fam}"))
        )
    n_exact = _served("exact").agg(F.count(F.lit(1)).alias("__nx"))
    n_gate_t = _served("text", minhash_threshold=_ADM_GATE_TXT_T).agg(
        F.count(F.lit(1)).alias("__ngt")
    )
    adm1 = adm1_admission_served_video_pairs(spark, sf_dir)
    stray = (
        adm1.select(F.col("doc_a").alias("doc_id"))
        .unionByName(adm1.select(F.col("doc_b").alias("doc_id")))
        .join(admitted, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("__stray"))
    )
    # driver-side layout fact: the fold bounds every family's partition
    # count at the cadence (folds only ever reduce; a family admitted
    # in fewer batches sits below the bound vacuously-correctly)
    fold_ok = all(
        count_batch_partitions(os.path.join(idx_root, fam))
        <= _ADM_COMPACT_EVERY
        for fam in _FAMILY_SCHEMAS
    )

    row = n_exact.crossJoin(F.broadcast(n_gate_t)).crossJoin(
        F.broadcast(stray)
    )
    for mis in mismatches.values():
        row = row.crossJoin(F.broadcast(mis))
    return row.select(
        (F.col("__mis_text") == 0)
        .cast("long")
        .alias("text_served_equals_inline"),
        (F.col("__mis_image") == 0)
        .cast("long")
        .alias("image_served_equals_inline"),
        (F.col("__mis_audio") == 0)
        .cast("long")
        .alias("audio_served_equals_inline"),
        (F.col("__mis_video") == 0)
        .cast("long")
        .alias("video_served_equals_inline"),
        (F.col("__nx") == 0).cast("long").alias("exact_served_empty"),
        (F.col("__ngt") == 0).cast("long").alias("text_gate_served_empty"),
        (F.col("__stray") == 0).cast("long").alias("served_ids_admitted"),
        F.lit(1 if fold_ok else 0).cast("long").alias("fold_engaged"),
    )


@register(
    "txt10_top_tokens",
    """
    SELECT tok, n_docs, n_total
    FROM (
      SELECT tok,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_total
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents)
      GROUP BY tok
    )
    ORDER BY n_total DESC, tok
    LIMIT 20
    """,
    doc="Top-K frequent tokens (document + total frequency) — the exact "
    "twin of a SpaceSaving/heavy-hitters sketch and the vocabulary-"
    "inspection step before stopword/boilerplate filtering. Explode → one "
    "hash agg (map-side partials; distinct-doc count shuffles on "
    "(tok, doc)) → TakeOrderedAndProject for the top-20. At open-web scale "
    "cap with a frequency floor before the distinct to bound the shuffle",
)
def txt10_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy(F.col("n_total").desc(), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Chunking + embedding maintenance (round-3 additions past the driver window;
# rotate into the certification window next round)
# ---------------------------------------------------------------------------

from tranquility_spark.operators import embeddings as emb  # noqa: E402


@register(
    "chunk1_doc_chunking",
    """
    SELECT doc_id, chunk_id,
           chunk_id * 150 AS start_off,
           substr(text, chunk_id * 150 + 1, 200) AS chunk,
           length(substr(text, chunk_id * 150 + 1, 200)) AS chunk_chars
    FROM (
      SELECT doc_id, text,
             unnest(range(0, greatest(CAST(floor((length(text) - 1) / 150) AS BIGINT), 0) + 1)) AS chunk_id
      FROM documents
    )
    """,
    doc="Document chunking (200-char windows, stride 150, 50-char overlap) — "
    "the context-window preprocessing step. posexplode over a per-row "
    "sequence of starts: narrow 1-to-N fan-out, no shuffle, linear in "
    "executors at 100 TB; the inverse reshape of pack1",
)
def chunk1_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=200, stride=150
    )


@register(
    "chunk2_token_chunks",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    )
    SELECT doc_id, chunk_id,
           chunk_id * 24 AS start_tok,
           CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32))
                AS BIGINT) AS n_toks,
           array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32),
                           ' ') AS chunk_text
    FROM (
      SELECT doc_id, t,
             unnest(range(0, greatest(CAST(ceil((len(t) - 32) / 24.0) AS BIGINT),
                                      0) + 1)) AS chunk_id
      FROM toks
    )
    """,
    doc="TOKEN-aligned overlapping chunking (32-token windows, stride 24, "
    "8-token overlap) — chunk1's retrieval-grade sibling: context budgets "
    "are counted in tokens and a boundary must never split a word (a "
    "char-aligned cut poisons the embeddings of both neighbors). One "
    "whitespace tokenize (the txt3 convention), posexplode over per-row "
    "chunk starts, array slice + join — narrow 1-to-N fan-out, no "
    "shuffle, linear in executors at 100 TB. The last chunk is the FIRST "
    "whose window reaches the document end (ceil((n-size)/stride)) — a "
    "trailing chunk that re-covers only its predecessor's overlap zone "
    "is never emitted. Feeds the same downstream as chunk1 (pipe2's "
    "chunk-level dedup, embedding indexing)",
)
def chunk2_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_tokens(
        _t(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )


@register(
    "emb1_normalize_quantize",
    """
    SELECT vec_id,
           round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                    x -> x * x), 'sum')), 6) AS l2_norm,
           array_to_string(
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(floor(x * 127.0
                      / sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                           y -> y * y), 'sum'))
                      + 0.5) AS INT) AS VARCHAR)), ',') AS q_csv,
           len(embedding) AS n_dims
    FROM embeddings
    """,
    doc="Embedding L2-norm + symmetric int8 quantization (the 4x-smaller "
    "storage/serving format for vector corpora). Pure JVM transform/"
    "aggregate array exprs, embarrassingly parallel, no shuffle; floor(x+.5) "
    "quantization is bit-identical cross-engine (round() is not). Quantized "
    "vector compared as CSV (policy: no raw arrays in the driver compare)",
)
def emb1_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = emb.l2_normalize_quantize(_t(spark, sf_dir, "embeddings"), levels=127)
    return out.select(
        "vec_id",
        "l2_norm",
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q_csv"),
        F.size("embedding").alias("n_dims"),
    )


@register(
    "emb9_principal_component",
    None,  # the eigensolve runs driver-side in numpy — no SQL twin; full
    # numpy replay equality, determinism and Rayleigh-dominance are
    # asserted in tests/test_operators.py
    doc="Top principal component of the embedding corpus "
    "(operators/embeddings.py#principal_component) — the "
    "big-data/small-model split done the Spark-first way: the ONLY "
    "distributed work is one covariance pass (double-posexplode "
    "upper-triangle pair agg, map-side combined — the exchange carries "
    "d(d+1)/2 + d sums, ~2k rows at d=64, at ANY corpus size), and the "
    "64x64 eigensolve runs on the driver in numpy (4 KiB of state — the "
    "ivf_centroids bounded-collect pattern; a full eigh, not power "
    "iteration, because near-flat embedding spectra make fixed-budget "
    "power iteration silently under-converge — documented in the "
    "operator). Deterministic end-to-end: no RNG, canonical sign, "
    "reruns bit-identical (rows-only policy satisfied). Output: one "
    "row per dimension with its loading, plus the eigenvalue and the "
    "explained-variance share — the drift/collapse audit for an "
    "embedding corpus (a dominant component with a large share means "
    "the encoder is wasting dimensions; compose with emb7's certified "
    "covariance audit on the d<=8 slice)",
)
def emb9_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    loadings, eigval, share = emb.principal_component(e)
    rows = [
        (i, round(loading, 6), round(eigval, 6), round(share, 6))
        for i, loading in enumerate(loadings)
    ]
    return spark.createDataFrame(
        rows, "dim_i int, loading double, eigenvalue double, explained_share double"
    )


@register(
    "emb9b_pca_properties",
    """
    SELECT CAST(1 AS BIGINT) AS unit_norm,
           CAST(1 AS BIGINT) AS rayleigh_dominant,
           CAST(1 AS BIGINT) AS share_valid,
           CAST(1 AS BIGINT) AS rerun_identical
    """,
    doc="Driver-certified contract probe for emb9 (r11 rows-only-tail "
    "deepening): the principal component's mathematical obligations as "
    "booleans vs the constant (1,1,1,1) oracle. unit_norm: the UNROUNDED "
    "loading vector has |Σv²−1| < 1e-9 (eigh returns orthonormal "
    "columns). rayleigh_dominant: the eigenvalue is ≥ every "
    "coordinate-axis POPULATION variance computed independently in Spark "
    "(the Rayleigh quotient at each basis vector can't exceed the top "
    "eigenvalue; principal_component builds population covariance, so "
    "var_pop is the matching convention). share_valid: explained share "
    "in (0, 1]. rerun_identical: a second full pipeline run (covariance "
    "pass + eigensolve) reproduces loadings, eigenvalue and share "
    "BIT-identically — the determinism claim the rows-only policy rests "
    "on, now hash-checked. Not in the bench headline: emb9 carries the "
    "measured row",
)
def emb9b_pca_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    loadings, eigval, share = emb.principal_component(e)
    loadings2, eigval2, share2 = emb.principal_component(e)
    unit_norm = abs(sum(v * v for v in loadings) - 1.0) < 1e-9
    rerun_identical = (
        loadings == loadings2 and eigval == eigval2 and share == share2
    )
    share_valid = 0.0 < share <= 1.0
    axis_var = (
        e.filter(F.col("embedding").isNotNull())
        .select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.var_pop(F.col("x").cast("double")).alias("v"))
        .agg(F.max("v").alias("max_axis_var"))
    )
    return axis_var.select(
        F.lit(int(unit_norm)).alias("unit_norm"),
        # ADVICE r11 #3: relative tolerance (emb10b's pattern) — on
        # large-magnitude corpora where the top eigenvalue ~equals the max
        # axis variance, summation-order float drift can exceed an absolute
        # 1e-9 and flake the probe red.
        (
            F.lit(float(eigval))
            >= F.col("max_axis_var")
            - (F.lit(1e-9) + F.lit(1e-9) * F.abs(F.col("max_axis_var")))
        )
        .cast("long")
        .alias("rayleigh_dominant"),
        F.lit(int(share_valid)).alias("share_valid"),
        F.lit(int(rerun_identical)).alias("rerun_identical"),
    )


@register(
    "emb8_spike_outliers",
    """
    WITH ratios AS (
      SELECT vec_id,
             round(list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> abs(x)), 'max')
                   / sqrt(list_aggregate(
                       list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x), 'sum')), 6) AS spike
      FROM embeddings),
    th AS (
      SELECT round(quantile_cont(spike, 0.01), 6) AS p01,
             round(quantile_cont(spike, 0.99), 6) AS p99
      FROM ratios)
    SELECT r.vec_id, r.spike, th.p01, th.p99,
           CAST(CASE WHEN r.spike < th.p01 THEN 1 ELSE 0 END AS BIGINT)
               AS is_low,
           CAST(CASE WHEN r.spike > th.p99 THEN 1 ELSE 0 END AS BIGINT)
               AS is_high
    FROM ratios r CROSS JOIN th
    """,
    doc="Embedding spike-ratio outlier audit — the vector-corpus health "
    "gate before indexing: spike = max|x_i| / l2_norm measures how much "
    "one dimension dominates the vector. A near-1 spike is a one-hot-"
    "like collapsed embedding (a classic encoder failure mode that "
    "poisons centroid builds and ANN recall); an abnormally LOW spike "
    "flags implausibly flat vectors. Norm alone cannot see either on a "
    "normalized corpus — this fixture is fully L2-normalized (norm "
    "exactly 1.0 for every vector, verified), which is WHY the audited "
    "quantity is the spike ratio. Each vector's ratio is compared "
    "against the corpus's own 1st/99th percentiles (a10's certified "
    "percentile<->quantile_cont equivalence) computed in ONE single-row "
    "agg broadcast back; comparisons happen on 6-dp-rounded values on "
    "both sides so boundary decisions are engine-identical. Scale: the "
    "ratio pass is a narrow shuffle-free projection; the exact global "
    "percentile is the one sort-shaped cost — at open-web scale swap "
    "in percentile_approx or a10c's bottom-k mergeable partials (the "
    "exact twin stays the certification anchor). Hash-certified "
    "end-to-end including where the ~1% tails land",
)
def emb8_spike_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.similarity import _as_double, norm

    e = _t(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    spike = F.array_max(F.transform(v, lambda x: F.abs(x))) / norm(v)
    ratios = e.select("vec_id", F.round(spike, 6).alias("spike"))
    th = ratios.agg(
        F.round(F.percentile("spike", 0.01), 6).alias("p01"),
        F.round(F.percentile("spike", 0.99), 6).alias("p99"),
    )
    return ratios.crossJoin(F.broadcast(th)).select(
        "vec_id",
        "spike",
        "p01",
        "p99",
        (F.col("spike") < F.col("p01")).cast("long").alias("is_low"),
        (F.col("spike") > F.col("p99")).cast("long").alias("is_high"),
    )


@register(
    "emb2_label_centroids",
    """
    SELECT label, dim,
           CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_v,
           count(*) AS n_vecs
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings
    )
    GROUP BY label, dim
    """,
    doc="Per-label centroid pooling (class prototypes for clustering seeds / "
    "label-balance audits). posexplode then ONE hash agg on (label, dim): "
    "the shuffle carries |labels| x dims rows regardless of corpus size. "
    "Round-then-decimal-accumulate (txt9 policy) makes the mean exact and "
    "order-independent",
)
def emb2_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emb.label_centroids(_t(spark, sf_dir, "embeddings"))


@register(
    "hh1_heavy_hitters_merge",
    None,  # counter truncation is algorithm-defined — bounds vs the exact
    # twin txt10 asserted in tests/test_sketch.py (MG sandwich + N/(k+1))
    doc="Mergeable Misra-Gries heavy hitters (SpaceSaving family, k=64): "
    "per-source token-count partials (one exact map-side-combined agg per "
    "partial, truncated to k counters) merged globally by counter addition "
    "+ re-truncation, then top-20 with [est, est+err_ub] bounds and a "
    "guaranteed-membership flag. The approximate twin of txt10: at open-web "
    "scale only kilobyte summaries shuffle, never the token stream. Merge "
    "preserves the N/(k+1) error bound (Agarwal et al., PODS'12)",
)
def hh1_heavy_hitters_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators import heavy_hitters as hh

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn("grp", F.lit("all"))
    partials = hh.mg_partial(toks, ["grp", "source"], "tok", k=64).drop("source")
    # grp is a constant literal, so Catalyst folds it out of the merge's
    # window partition spec and WindowExec warns "No Partition Defined".
    # EXPECTED AND BENIGN HERE: the merge input is k-truncated partials
    # (<= k x n_sources rows, kilobytes), so the single partition holds
    # bounded summary state, never the token stream. Don't let this warning
    # mask a real unpartitioned window over raw data elsewhere.
    merged = hh.mg_merge(partials, ["grp"], k=64)
    return hh.mg_topk(merged, ["grp"], topk=20).drop("grp")


@register(
    "hh1b_mg_sandwich_vs_exact",
    """
    SELECT CAST(1 AS BIGINT) AS sandwich_holds,
           CAST(1 AS BIGINT) AS deduct_bounded,
           CAST(1 AS BIGINT) AS guaranteed_present,
           CAST(1 AS BIGINT) AS n_total_exact
    """,
    doc="Driver-certified contract probe for hh1 (r11 rows-only-tail "
    "deepening): the Misra-Gries guarantees evaluated as booleans against "
    "the EXACT token counts (txt10's groupBy) and hash-checked against "
    "the constant (1,1,1,1) oracle. sandwich_holds: every reported "
    "counter satisfies est <= true <= est + deduct. deduct_bounded: the "
    "merged deduct stays <= N/(k+1) — mergeability preserves the bound "
    "(Agarwal et al., PODS'12). guaranteed_present: every token with "
    "true count > deduct IS reported (no guaranteed heavy hitter "
    "missing). n_total_exact: the summary's N equals the exact token "
    "total. The same obligations run in tests; this entry re-asserts "
    "them on the driver's fixture at every window rotation. Not in the "
    "bench headline: hh1 carries the measured row",
)
def hh1b_mg_sandwich_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators import heavy_hitters as hh

    k = 64
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn("grp", F.lit("all"))
    partials = hh.mg_partial(toks, ["grp", "source"], "tok", k=k).drop("source")
    # constant grp -> the benign single-partition merge window (see hh1)
    merged = hh.mg_merge(partials, ["grp"], k=k)
    summary = F.broadcast(merged.select("deduct", "n_total"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    reported = (
        merged.select(F.explode("counters"))
        .withColumnRenamed("key", "tok")
        .withColumnRenamed("value", "est")
    )
    sandwich = (
        reported.join(exact, "tok", "left")
        .crossJoin(summary)
        .agg(
            F.min(
                F.col("n_exact").isNotNull()
                & (F.col("est") <= F.col("n_exact"))
                & (F.col("n_exact") <= F.col("est") + F.col("deduct"))
            )
            .cast("long")
            .alias("sandwich_holds")
        )
    )
    bounded = merged.select(
        (F.col("deduct") <= F.col("n_total") / F.lit(float(k + 1)))
        .cast("long")
        .alias("deduct_bounded")
    )
    guaranteed = (
        exact.crossJoin(summary)
        .filter(F.col("n_exact") > F.col("deduct"))
        .join(reported.select("tok"), "tok", "left_anti")
        .agg(
            (F.count(F.lit(1)) == 0).cast("long").alias("guaranteed_present")
        )
    )
    total_ok = (
        exact.agg(F.sum("n_exact").alias("__s"))
        .crossJoin(summary)
        .select(
            (F.col("__s") == F.col("n_total")).cast("long").alias("n_total_exact")
        )
    )
    return (
        sandwich.crossJoin(F.broadcast(bounded))
        .crossJoin(F.broadcast(guaranteed))
        .crossJoin(F.broadcast(total_ok))
    )


_MIX_WEIGHTS = [("de", 0.2), ("en", 0.3), ("es", 0.2), ("fr", 0.15), ("zh", 0.15)]
_MIX_M = 1_000_000


@register(
    "samp4_mixture_resample",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w(lang, w) AS (VALUES {", ".join(f"('{l}', CAST({x} AS DOUBLE))" for l, x in _MIX_WEIGHTS)}),
    caps AS (SELECT c.lang, c.n, w.w, CAST(c.n AS DOUBLE) / w.w AS cap
             FROM counts c JOIN w ON c.lang = w.lang),
    keeps AS (SELECT lang, (SELECT min(cap) FROM caps) * w / CAST(n AS DOUBLE) AS keep
              FROM caps)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN keeps k ON d.lang = k.lang
    WHERE {portable_shard_sql("d.doc_id", _MIX_M)}
          < CAST(floor(k.keep * {_MIX_M}) AS BIGINT)
    """,
    doc="Data-mixture resampling: hit a target language mixture by "
    "down-sampling over-represented strata to the largest total the "
    "binding stratum allows (T = min n_i/w_i, keep_i = T*w_i/n_i). "
    "Per-stratum keep fractions come from one tiny agg (|langs| rows, "
    "broadcast back); row selection is the deterministic portable hash "
    "under a threshold — reproducible across engines, retries and "
    "repartitioning, the property rand() lacks. The mixture/reweighting "
    "step before training; at 100 TB the only full-data work is one "
    "map-side-combined count and one hash-filter scan",
)
def samp4_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import portable_shard

    docs = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(_MIX_WEIGHTS, "lang string, w double")
    caps = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(weights, "lang")
        .withColumn("cap", F.col("n").cast("double") / F.col("w"))
    )
    t = caps.agg(F.min("cap").alias("t"))
    keeps = caps.crossJoin(F.broadcast(t)).select(
        "lang", (F.col("t") * F.col("w") / F.col("n").cast("double")).alias("keep")
    )
    return (
        docs.join(F.broadcast(keeps), "lang")
        .filter(
            portable_shard(F.col("doc_id"), _MIX_M)
            < F.floor(F.col("keep") * _MIX_M).cast("long")
        )
        .select("doc_id", "lang")
    )


@register(
    "pipe2_chunk_dedup",
    """
    WITH chunks AS (
      SELECT doc_id, chunk_id,
             substr(text, chunk_id * 150 + 1, 200) AS chunk
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(CAST(floor((length(text) - 1) / 150) AS BIGINT), 0) + 1)) AS chunk_id
        FROM documents
      )
    ),
    ranked AS (
      SELECT doc_id, chunk_id, length(chunk) AS chunk_chars,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_id) AS rn
      FROM chunks
    )
    SELECT doc_id,
           count(*) FILTER (rn = 1) AS chunks_kept,
           count(*) FILTER (rn > 1) AS chunks_dropped,
           CAST(sum(chunk_chars) FILTER (rn = 1) AS BIGINT) AS chars_kept
    FROM ranked
    GROUP BY doc_id
    """,
    doc="Sub-document exact dedup (the RefinedWeb/FineWeb repeated-passage "
    "pass): chunk (chunk1's 200/150 windows) -> keep the first occurrence "
    "of each chunk digest (deterministic (doc_id, chunk_id) order) -> "
    "per-doc survival stats. Composition of chunk1 + dd1 semantics at chunk "
    "granularity: one narrow fan-out, one digest-keyed window, one doc-keyed "
    "agg — no join back to raw text",
)
def pipe2_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    chunks = tx.chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=200, stride=150)
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_id")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return ranked.groupBy("doc_id").agg(
        F.count(F.when(kept, 1)).alias("chunks_kept"),
        F.count(F.when(~kept, 1)).alias("chunks_dropped"),
        F.sum(F.when(kept, F.col("chunk_chars"))).alias("chars_kept"),
    )


@register(
    "txt11_boilerplate_ngrams",
    """
    SELECT gram,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_total
    FROM (
      SELECT doc_id, array_to_string(w[i+1:i+5], ' ') AS gram
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents),
           unnest(range(0, greatest(len(w) - 4, 0))) AS t(i)
    )
    GROUP BY gram
    HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="Boilerplate detection: corpus-wide word 5-gram document frequency, "
    "kept where >= 2 docs share the gram (C4/RefinedWeb strip repeated "
    "spans from this table). Narrow transform() shingle expansion, ONE "
    "hash agg shuffle on gram (map-side combined). min_total_floor is "
    "the open-web scale knob (hash-keyed total-count pre-pass prunes the "
    "singleton tail before the distinct-doc expansion; result-preserving "
    "at floor <= min_docs, MEASURED slower at bench SF where the tail is "
    "tiny — so off here, see boilerplate_ngrams docstring)",
)
def txt11_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=5, min_docs=2
    )


_SHUF_SEED = 7
_SHUF_SHARDS = 16
_SHUF_M = 1000003


@register(
    "shuf1_epoch_shuffle",
    f"""
    SELECT doc_id, ord_key, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
                AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             {portable_shard_sql(f"doc_id + {_SHUF_SEED}", _SHUF_M)} AS ord_key,
             CAST({portable_shard_sql(f"doc_id + {_SHUF_SEED}", _SHUF_M)} % {_SHUF_SHARDS}
                  AS INT) AS shard
      FROM documents
    )
    """,
    doc="Deterministic epoch shuffle: seeded portable hash -> (shard, pos) "
    "training order, reproducible across runs/retries (rand() is not); "
    "each seed is a fresh permutation. The one shuffle is the "
    "partition-by-shard exchange a shuffled-dataset write needs anyway. "
    "This entry runs the portable=True oracle-exact hash; production "
    "default is xxhash64 (full 64-bit keyspace — required for 100 TB / "
    "512 MB ~ 200k shards, beyond the portable hash's 100,003 ceiling)",
)
def shuf1_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import epoch_shuffle

    docs = _t(spark, sf_dir, "documents")
    out = epoch_shuffle(docs, "doc_id", seed=_SHUF_SEED, n_shards=_SHUF_SHARDS, m=_SHUF_M, portable=True)
    return out.select("doc_id", "ord_key", "shard", F.col("pos").cast("long").alias("pos"))


@register(
    "emb3_centroid_similarity",
    """
    WITH cent AS (
      SELECT label, dim,
             CAST(sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS DECIMAL(18,6)) AS c,
             count(*) AS n
      FROM (
        SELECT label,
               unnest(range(0, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
      )
      GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(CAST(sum(a.c * b.c) AS DOUBLE)
                 / sqrt(CAST(sum(a.c * a.c) AS DOUBLE)
                        * CAST(sum(b.c * b.c) AS DOUBLE)), 6) AS centroid_cosine,
           max(a.n) AS n_a, max(b.n) AS n_b
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
    doc="Cluster-separation audit: pairwise cosine between label centroids "
    "(labels whose prototypes sit near cosine 1 are confusable). Corpus-"
    "sized work is one (label, dim) hash agg; the pair join is "
    "centroid x centroid on dim (kilobytes, broadcast). Cosine computed "
    "from exact decimal component SUMS (scale-invariant) — no mean "
    "division/re-round, whose half-boundary rounding differs by engine",
)
def emb3_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emb.centroid_similarity(_t(spark, sf_dir, "embeddings"))


@register(
    "pipe3_training_prep",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w(lang, w) AS (VALUES {", ".join(f"('{l}', CAST({x} AS DOUBLE))" for l, x in _MIX_WEIGHTS)}),
    caps AS (SELECT c.lang, c.n, w.w, CAST(c.n AS DOUBLE) / w.w AS cap
             FROM counts c JOIN w ON c.lang = w.lang),
    keeps AS (SELECT lang, (SELECT min(cap) FROM caps) * w / CAST(n AS DOUBLE) AS keep
              FROM caps),
    mixed AS (
      SELECT d.doc_id, d.lang
      FROM documents d JOIN keeps k ON d.lang = k.lang
      WHERE {portable_shard_sql("d.doc_id", _MIX_M)}
            < CAST(floor(k.keep * {_MIX_M}) AS BIGINT)
    )
    SELECT doc_id, lang, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
                AS BIGINT) AS pos
    FROM (
      SELECT doc_id, lang,
             {portable_shard_sql(f"doc_id + {_SHUF_SEED}", _SHUF_M)} AS ord_key,
             CAST({portable_shard_sql(f"doc_id + {_SHUF_SEED}", _SHUF_M)} % {_SHUF_SHARDS}
                  AS INT) AS shard
      FROM mixed
    )
    """,
    doc="End-to-end training-run prep: data-mixture resample (samp4) then "
    "deterministic epoch shuffle (shuf1) -> every kept document gets its "
    "(shard, pos) slot in the training order. Pure composition: one "
    "|langs|-row agg broadcast back, one hash-filter scan, one "
    "partition-by-shard exchange. Fully reproducible from (weights, seed) "
    "alone - rerunning after a retry or a cluster resize yields the "
    "identical corpus and order",
)
def pipe3_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import epoch_shuffle

    mixed = samp4_mixture_resample(spark, sf_dir)
    out = epoch_shuffle(mixed, "doc_id", seed=_SHUF_SEED, n_shards=_SHUF_SHARDS, m=_SHUF_M, portable=True)
    return out.select(
        "doc_id", "lang", "shard", F.col("pos").cast("long").alias("pos")
    )


# ---------------------------------------------------------------------------
# Round-5 additions: bigram LM scoring, temperature resampling, matryoshka
# truncation. All three auto-rotate into the uncertified driver window.
# ---------------------------------------------------------------------------


@register(
    "txt12_bigram_logprob",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM d)
      WHERE len(l) >= 2
    ),
    vocab AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(l) AS tok FROM d)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1)
    SELECT doc_id,
           CAST(sum(CAST(round(ln((c12 + 1.0) / (c1 + v)), 6)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_bigram_logprob,
           count(*) AS n_bigrams
    FROM pairs
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    CROSS JOIN vocab
    GROUP BY doc_id
    """,
    doc="Bigram-LM perplexity proxy with add-one smoothing, self-trained on "
    "the corpus: P(w2|w1) = (c12+1)/(c1+V) — the CCNet-style LM quality "
    "filter one modeling step above txt9's unigram. Bigrams come from a "
    "NARROW slice+zip over the per-doc token array (no per-token shuffle "
    "to pair neighbors — arrays_zip of two shifted slices); the count "
    "tables are map-side-combined aggs, joined back with AQE free to "
    "broadcast while the vocab fits (stopword bigrams are the skew keys). "
    "Per-pair ln is rounded then decimal-accumulated, and the entry emits "
    "the exact SUM + count rather than the mean (w5 precedent: a final "
    "mean division can land on a .xxxxxx5 round-half boundary where "
    "engines disagree — 2 rows did at sf0.1; the sum is order-independent "
    "and boundary-free, derive the mean downstream)",
)
def txt12_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("l")
    )
    n1 = F.size("l") - 1
    pairs = (
        toked.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(F.slice("l", 1, n1), F.slice("l", 2, n1))
            ).alias("p"),
        )
        .select("doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    )
    vocab = (
        toked.select(F.explode("l").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # context counts derive from the (much smaller) distinct-bigram table —
    # sum_w2 c12 == per-w1 instance count — instead of a third full
    # explode+shuffle over the corpus
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 6
    ).cast("decimal(28,6)")
    return (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(lp).cast("double").alias("sum_bigram_logprob"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


_TEMP_M = 1_000_000


@register(
    "samp5_temperature_resample",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n,
                 sqrt(CAST(n AS DOUBLE))
                   / (SELECT sum(sqrt(CAST(n AS DOUBLE))) FROM counts) AS w
          FROM counts),
    caps AS (SELECT lang, n, w, CAST(n AS DOUBLE) / w AS cap FROM w),
    keeps AS (SELECT lang, (SELECT min(cap) FROM caps) * w / CAST(n AS DOUBLE) AS keep
              FROM caps)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN keeps k ON d.lang = k.lang
    WHERE {portable_shard_sql("d.doc_id", _TEMP_M)}
          < CAST(round(k.keep * {_TEMP_M}) AS BIGINT)
    """,
    doc="Temperature resampling (alpha = 0.5): stratum weights derived from "
    "the data itself, w_l proportional to n_l^alpha — the standard "
    "multilingual rebalance (flattens the head, keeps the tail) used when "
    "no explicit target mixture exists (samp4's case). Same scale shape as "
    "samp4: one |langs|-row count agg broadcast back, one deterministic "
    "hash-filter scan. The integer threshold uses round(), not floor(): "
    "the binding stratum's keep is ~1.0 up to summation-order ulps (sumw "
    "is a float aggregation whose order differs across engines), and "
    "floor(keep * M) sits exactly on the integer crossing those ulps "
    "straddle — round() moves the disagreement point to a .5 fractional "
    "boundary no value is systematically attracted to",
)
def samp5_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.partitioning import portable_shard

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    sumw = counts.agg(F.sum(F.sqrt(F.col("n").cast("double"))).alias("sw"))
    caps = (
        counts.crossJoin(F.broadcast(sumw))
        .withColumn("w", F.sqrt(F.col("n").cast("double")) / F.col("sw"))
        .withColumn("cap", F.col("n").cast("double") / F.col("w"))
    )
    t = caps.agg(F.min("cap").alias("t"))
    keeps = caps.crossJoin(F.broadcast(t)).select(
        "lang", (F.col("t") * F.col("w") / F.col("n").cast("double")).alias("keep")
    )
    return (
        docs.join(F.broadcast(keeps), "lang")
        .filter(
            portable_shard(F.col("doc_id"), _TEMP_M)
            < F.round(F.col("keep") * _TEMP_M).cast("long")
        )
        .select("doc_id", "lang")
    )


@register(
    "emb4_matryoshka_truncate",
    """
    SELECT vec_id,
           round(sqrt(list_aggregate(list_transform(CAST(embedding[1:16] AS DOUBLE[]),
                                                    x -> x * x), 'sum')), 6) AS trunc_l2,
           round(list_aggregate(list_transform(CAST(embedding[1:16] AS DOUBLE[]),
                                               x -> x * x), 'sum')
                 / nullif(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                        x -> x * x), 'sum'), 0), 6)
             AS energy_retained,
           least(len(embedding), 16) AS trunc_dims
    FROM embeddings
    """,
    doc="Matryoshka truncation (64 -> 16 dims): the leading prefix of an "
    "MRL-trained embedding is itself a usable lower-dim embedding "
    "(Kusupati et al. 2022) — 4x less index storage/ANN compute, and "
    "energy_retained reports per-vector what that truncation costs. Pure "
    "JVM slice + left-to-right aggregate folds (identical IEEE result both "
    "engines — emb1's policy), narrow projection, no shuffle",
)
def emb4_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = emb.matryoshka_truncate(_t(spark, sf_dir, "embeddings"), dims=16)
    return out.select("vec_id", "trunc_l2", "energy_retained", "trunc_dims")


@register(
    "emb5_binary_hamming_topk",
    f"""
    WITH b AS (SELECT vec_id,
                      {_EMB5_WORD_SQL.format(lo=1, hi=32)} AS w0,
                      {_EMB5_WORD_SQL.format(lo=33, hi=64)} AS w1
               FROM embeddings),
         q AS (SELECT w0 AS q0, w1 AS q1 FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.w0, b.w1,
           CAST(bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1))
                AS BIGINT) AS hamming
    FROM b, q
    WHERE b.vec_id <> 0
    ORDER BY hamming, vec_id
    LIMIT 50
    """,
    doc="Binary (sign-bit) embedding quantization + Hamming top-k — the "
    "compact first-pass of binary-quantized vector search: 64 float dims "
    "collapse to two BIGINT words (32x smaller), similarity becomes "
    "bit_count(xor) — pure JVM bit arithmetic, whole-stage codegen, and "
    "the candidate set it returns is what an exact-cosine rerank (sim1's "
    "shape) would refine. Query = vec_id 0's signature as a one-row "
    "broadcast; corpus side is a narrow projection into "
    "TakeOrderedAndProject — no shuffle at any corpus size. 32-bit-per-"
    "word packing keeps every shift cross-engine-safe (bloom.py policy); "
    "strictly-positive sign rule is float-exact on both engines. "
    "Unique-key tie-break on the LIMIT per the float policy",
)
def emb5_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.embeddings import binary_quantize, hamming

    e = _t(spark, sf_dir, "embeddings")
    w0, w1 = binary_quantize(F.col("embedding"))
    b = e.select("vec_id", w0.alias("w0"), w1.alias("w1"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("w0").alias("q0"), F.col("w1").alias("q1")
    )
    return (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "w0",
            "w1",
            hamming(F.col("w0"), F.col("w1"), F.col("q0"), F.col("q1")).alias(
                "hamming"
            ),
        )
        .orderBy("hamming", "vec_id")
        .limit(50)
    )


def _emb6_oracle_sql() -> str:
    from tranquility_spark.operators.embeddings import projection_matrix

    W = projection_matrix(16, 64)
    sel = ",\n           ".join(
        "CAST(list_aggregate(list_transform(range(1, 65), "
        "i -> CAST(round(CAST(embedding[i] AS DOUBLE) * "
        f"([{','.join(repr(w) for w in W[j])}])[i], 6) AS DECIMAL(28,6))), "
        f"'sum') AS DOUBLE) AS p{j:02d}"
        for j in range(16)
    )
    return f"SELECT vec_id,\n           {sel}\n    FROM embeddings"


@register(
    "emb6_random_projection",
    _emb6_oracle_sql(),
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims: the "
    "dimensionality-reduction pass before ANN indexing (4x smaller "
    "index, distances preserved within JL distortion). The seeded 6-dp "
    "projection matrix is a shared LITERAL — it lives inside the "
    "codegen'd zip_with/aggregate expression on the Spark side and as "
    "list literals in the oracle, so both engines compute the identical "
    "round-then-decimal-accumulate dot products. No UDF, no join, no "
    "shuffle: embarrassingly parallel at 100 TB, and a real model's "
    "projection (PCA / learned) drops into the same matrix slot",
)
def emb6_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.embeddings import (
        projection_matrix,
        random_project,
    )

    e = _t(spark, sf_dir, "embeddings")
    cols = random_project(
        F.col("embedding").cast("array<double>"), projection_matrix(16, 64)
    )
    return e.select(
        "vec_id", *[c.alias(f"p{j:02d}") for j, c in enumerate(cols)]
    )


_EMB10_R = 4


@register(
    "emb10_pca_project",
    None,  # rows-only: the loadings come from a driver-side eigensolve
    # (emb9's architecture); determinism, numpy full-replay equality,
    # descending component variance and loading orthonormality are
    # asserted in tests/test_dedup_similarity.py
    doc="PCA projection of the corpus onto its own top-4 principal "
    "components — emb6's JL projection with the matrix LEARNED instead "
    "of seeded, and emb9 made consumable: operators/embeddings.py#"
    "principal_components runs ONE distributed covariance pass "
    "(d²-bounded exchange) + a driver eigh (d x d, bounded collect), "
    "then the projection reuses random_project's literal-matrix "
    "codegen expression — shuffle-free, no UDF, embarrassingly "
    "parallel however large the corpus; the learned matrix is r x d "
    "floats riding inside the expression exactly like emb6's seeded "
    "one. Deterministic end-to-end (no RNG, canonical eigenvector "
    "signs, decimal-accumulated projection sums). The dimensionality-"
    "reduction pass a 100 TB embedding pipeline runs before "
    "indexing/clustering, with variance-ordered axes instead of "
    "random ones",
)
def emb10_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.embeddings import (
        principal_components,
        random_project,
    )

    e = _t(spark, sf_dir, "embeddings")
    loadings, _vals, _shares = principal_components(e, _EMB10_R)
    cols = random_project(F.col("embedding").cast("array<double>"), loadings)
    return e.select(
        "vec_id",
        *[F.round(c, 6).alias(f"pc{j}") for j, c in enumerate(cols)],
    )


@register(
    "emb10b_projection_properties",
    """
    SELECT CAST(1 AS BIGINT) AS loadings_orthonormal,
           CAST(1 AS BIGINT) AS eigvals_descending,
           CAST(1 AS BIGINT) AS pc_variance_matches,
           CAST(1 AS BIGINT) AS pc_variance_ordered
    """,
    doc="Driver-certified contract probe for emb10 (r11 rows-only-tail "
    "deepening): the PCA projection's obligations, the load-bearing one "
    "checked DISTRIBUTED. loadings_orthonormal: |v_i·v_j − δ_ij| < 1e-9 "
    "on the unrounded driver-side loadings (eigh's orthonormal columns). "
    "eigvals_descending: components come variance-ordered. "
    "pc_variance_matches: the POPULATION variance of the projected pc0 "
    "column, computed in Spark over the actual projection expression, "
    "equals the top eigenvalue within 0.1%% — v'Cv = λ for a unit "
    "eigenvector, tying the driver-side eigensolve to the distributed "
    "covariance pass it came from (a mismatch means the projection "
    "expression and the covariance builder disagree about the data). "
    "pc_variance_ordered: projected variances are non-increasing across "
    "the four components. Constant (1,1,1,1) oracle. Not in the bench "
    "headline: emb10 carries the measured row",
)
def emb10b_projection_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.embeddings import (
        principal_components,
        random_project,
    )

    e = _t(spark, sf_dir, "embeddings")
    loadings, vals, _shares = principal_components(e, _EMB10_R)
    ortho = all(
        abs(
            sum(a * b for a, b in zip(loadings[i], loadings[j]))
            - (1.0 if i == j else 0.0)
        )
        < 1e-9
        for i in range(len(loadings))
        for j in range(i, len(loadings))
    )
    descending = all(
        vals[i] >= vals[i + 1] - 1e-12 for i in range(len(vals) - 1)
    )
    cols = random_project(F.col("embedding").cast("array<double>"), loadings)
    proj = e.filter(F.col("embedding").isNotNull()).select(
        *[c.alias(f"pc{j}") for j, c in enumerate(cols)]
    )
    variances = proj.agg(
        *[F.var_pop(f"pc{j}").alias(f"v{j}") for j in range(len(loadings))]
    )
    matches = (
        F.abs(F.col("v0") - F.lit(float(vals[0])))
        <= F.lit(1e-9) + F.lit(1e-3) * F.lit(float(vals[0]))
    )
    ordered = None
    for j in range(len(loadings) - 1):
        step = F.col(f"v{j}") >= F.col(f"v{j + 1}") - F.lit(1e-9)
        ordered = step if ordered is None else (ordered & step)
    return variances.select(
        F.lit(int(ortho)).alias("loadings_orthonormal"),
        F.lit(int(descending)).alias("eigvals_descending"),
        matches.cast("long").alias("pc_variance_matches"),
        ordered.cast("long").alias("pc_variance_ordered"),
    )


@register(
    "mm4_audio_frame_energy",
    """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS nb
        FROM documents
    ),
    chars AS (
        -- byte-exact on ANY corpus (the mm2/mm3 hex lesson): byte i is
        -- decoded from its two hex digits, never from a char codepoint
        SELECT doc_id,
               list_transform(range(1, nb + 1),
                 i -> CAST(16 * (strpos('0123456789ABCDEF', h[i*2-1]) - 1)
                           + (strpos('0123456789ABCDEF', h[i*2]) - 1)
                           AS BIGINT)) AS cs
        FROM hx
    ),
    f AS (
        SELECT doc_id, cs,
               unnest(range(0, (len(cs) - 256) // 128 + 1)) AS frame_id
        FROM chars WHERE len(cs) >= 256
    ),
    w AS (
        SELECT doc_id, frame_id,
               list_transform(cs[frame_id * 128 + 1 : frame_id * 128 + 256],
                              c -> (c - 128) * (c - 128)) AS sq,
               list_transform(cs[frame_id * 128 + 1 : frame_id * 128 + 256],
                              c -> abs(c - 128)) AS dev
        FROM f
    )
    SELECT doc_id, frame_id,
           CAST(256 AS INTEGER) AS n_samples,
           CAST(list_aggregate(sq, 'sum') AS BIGINT) AS energy,
           CAST(list_aggregate(dev, 'max') AS INTEGER) AS peak,
           CAST(CASE WHEN list_aggregate(sq, 'sum') < 1500 * 256
                     THEN 1 ELSE 0 END AS BIGINT) AS is_silence
    FROM w
    """,
    doc="Audio-modality plumbing (the brief's audio slot next to mm1-mm3's "
    "image/video): sliding-window framing (256-sample frames, 128 hop) "
    "with per-frame sum-of-squares energy, peak deviation, and an "
    "INTEGER silence threshold (energy < ms*n — multiply, never divide). "
    "PCM decode is STUBBED (payload bytes stand in for u8 samples; codec "
    "libs absent) but the framing/energy/threshold DSP shape is real, "
    "Arrow-batched mapInPandas with mm2's 1-to-N fan-out, no shuffle — "
    "and, uniquely for a multimodal op, exactly oracle-checkable because "
    "every step is integer arithmetic. Full windows only; payloads "
    "shorter than one frame emit no rows",
)
def mm4_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return mm.audio_frame_energy(media)


def _txt16_oracle_sql() -> str:
    from tranquility_spark.operators.text import SCRIPT_CLASSES

    names = [n for n, _ in SCRIPT_CLASSES]
    count_cols = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in SCRIPT_CLASSES
    )
    branches = "\n                ".join(
        "WHEN n_{0} > 0 AND {1} THEN '{0}'".format(
            name,
            " AND ".join(
                f"n_{name} >= n_{other}" for other in names if other != name
            ),
        )
        for name in names
    )
    return f"""
    SELECT doc_id, n_chars,
           {", ".join(f"n_{n}" for n in names)},
           CASE {branches}
                ELSE 'other' END AS dominant_script
    FROM (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
           {count_cols}
        FROM documents
    )
    """


_EMB7_D = 8


def _emb7_oracle_sql() -> str:
    d = _EMB7_D
    v_cols = ",\n             ".join(
        f"CAST(round(list_extract(CAST(embedding AS DOUBLE[]), {i + 1}), 6)"
        f" AS DECIMAL(18,6)) AS v{i}"
        for i in range(d)
    )
    # NULL embeddings are excluded in BOTH engines (the f6 NULL contract:
    # count(*) would include them while the dim sums skip them, silently
    # deflating every covariance); short arrays raise Spark-side instead
    s_cols = ",\n               ".join(f"sum(v{i}) AS s{i}" for i in range(d))
    p_cols = ",\n               ".join(
        f"sum(v{i} * v{j}) AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    )
    pair_rows = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS dim_i, CAST({j} AS BIGINT) AS dim_j,"
        f" round(CAST(p{i}_{j} AS DOUBLE) / n"
        f" - (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n), 6)"
        f" AS cov FROM agg"
        for i in range(d)
        for j in range(i, d)
    )
    return f"""
    WITH v AS (SELECT {v_cols}
               FROM embeddings WHERE embedding IS NOT NULL),
         agg AS (SELECT count(*) AS n,
               {s_cols},
               {p_cols}
               FROM v)
    {pair_rows}
    """


@register(
    "emb7_dim_covariance",
    _emb7_oracle_sql(),
    doc="Embedding-dimension covariance audit (the PCA precursor): exact "
    "population covariance of the leading 8 dims — the drift/collapse "
    "check for an embedding pipeline (a dimension whose variance falls "
    "to ~0 or a pair that becomes collinear signals a broken encoder or "
    "a truncation bug; emb4's matryoshka energy check is the diagonal-"
    "only version of this). Plan: ONE scan, one map-side-combined agg "
    "folding all 8 sums + 36 pair products to a SINGLE row (the "
    "exchange carries one row per partition), then a driver-trivial "
    "36-way explode — no join, no per-pair pass. Arithmetic is exact "
    "end-to-end: values round to 6dp then multiply as DECIMAL(18,6) "
    "(product DECIMAL(37,12) — exact), decimal-accumulate, and the "
    "cov = E[xy] - E[x]E[y] division happens once on double-cast exact "
    "totals. For full d=64 (2080 pairs) switch to emb2's posexplode "
    "(i,j)-keyed agg — same single-scan property, d^2-bounded shuffle; "
    "the closed form here is the bounded-D fast path",
)
def emb7_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _EMB7_D
    # NULL embeddings excluded in both engines (see oracle comment); an
    # array SHORTER than d raises loudly — element_at's NULL would
    # otherwise skip that row in some dims' sums but not others, skewing
    # covariances row-inconsistently (the binary_quantize guard rationale)
    emb_t = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .withColumn(
            "embedding",
            F.when(F.size("embedding") >= d, F.col("embedding")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("emb7_dim_covariance: embedding has "),
                        F.size("embedding").cast("string"),
                        F.lit(f" dims, need >= {d}"),
                    )
                )
            ),
        )
    )
    # r19 optimization round (VERDICT r18 #3): the old form folded 45
    # DECIMAL aggregates (count + 8 sums + 36 decimal(37,12) pair
    # products) in one HashAggregate — a codegen method so large it was
    # the suite's compile-bound floor (BASELINE: ~1.8 s at sf0.001,
    # driver-serial; a loaded driver turned it into 14.45 s). The same
    # exact arithmetic now runs as ONE Arrow-batched Gram-matrix fold
    # (guide §4.2 — heavy lifting in native code inside the UDF):
    # values round to 6dp as decimal(18,6) IN THE JVM (identical
    # expression to the old projection), scale exactly to int64
    # (x * 10^6 is integral by construction), and each partition folds
    # a (rows x 8) int64 matrix with one numpy V.T @ V per chunk,
    # accumulating into arbitrary-precision Python ints — exact at any
    # scale. Per-partition partials emit as decimal(38,6)/(38,12)
    # (= acc / 10^6 resp. 10^12, exact), a tiny JVM sum merges them
    # (sum over exact decimals — associative, partitioning-independent),
    # and the final cov expression below is UNTOUCHED: it sees the same
    # exact decimal totals the 45-agg fold produced, so the doubles and
    # the rounded output are bit-identical (oracle re-proven at 3 SFs).
    # NULL policy preserved exactly: rows count into n unconditionally
    # (post embedding-IS-NULL filter), a NULL element contributes to no
    # sum, a NULL factor voids the pair product, and an all-NULL column
    # or pair emits NULL (sum-of-nothing) exactly like SQL sum.
    # Expression construction via selectExpr/expr STRINGS, parsed
    # server-side in one py4j call each (r19): the old per-Column py4j
    # construction of this entry's 45-agg + 36-struct trees held the
    # driver for ~1.5-1.8 s per call (measured — the real cost; the
    # execution is 0.2-0.4 s at fixture scale). Expression semantics are
    # unchanged (SQL round/CAST are the same functions).
    scaled = emb_t.selectExpr(
        *[
            f"CAST((CAST(round(CAST(element_at(embedding, {i + 1}) AS"
            f" DOUBLE), 6) AS DECIMAL(18,6)) * CAST(1000000 AS"
            f" DECIMAL(7,0))) AS BIGINT) AS v{i}"
            for i in range(d)
        ]
    )
    pair_idx = [(i, j) for i in range(d) for j in range(i, d)]
    out_schema = ", ".join(
        ["n long"]
        + [f"s{i} decimal(38,6)" for i in range(d)]
        + [f"p{i}_{j} decimal(38,12)" for i, j in pair_idx]
    )

    def _gram_fold(batches):
        from decimal import Context, Decimal

        import numpy as np
        import pyarrow as pa

        n_rows = 0
        s_acc = [0] * d
        s_cnt = [0] * d
        p_acc = {ij: 0 for ij in pair_idx}
        p_cnt = {ij: 0 for ij in pair_idx}
        for batch in batches:
            r = batch.num_rows
            if r == 0:
                continue
            n_rows += r
            cols = [batch.column(i) for i in range(d)]
            if all(c.null_count == 0 for c in cols):
                V = np.stack([c.to_numpy() for c in cols], axis=1)
                m = int(np.abs(V).max()) if V.size else 0
                # int64 matmul overflow guard: rows_per_chunk * m^2 must
                # stay under 2^62; embeddings are ~unit-scale (m ~ 1e6
                # after 1e6 scaling), so one chunk is the normal case
                if m and m * m > (1 << 62):
                    V = V.astype(object)  # exact, slow — pathological
                    chunk = r
                else:
                    chunk = max(1, (1 << 62) // max(1, m * m))
                for lo in range(0, r, chunk):
                    Vc = V[lo : lo + chunk]
                    G = Vc.T @ Vc
                    for i, j in pair_idx:
                        p_acc[(i, j)] += int(G[i, j])
                for i in range(d):
                    s_acc[i] += int(V[:, i].sum(dtype=object))
                    s_cnt[i] += r
                for ij in pair_idx:
                    p_cnt[ij] += r
            else:
                valid = [
                    c.is_valid().to_numpy(zero_copy_only=False) for c in cols
                ]
                vals = [
                    c.fill_null(0).to_numpy(zero_copy_only=False)
                    for c in cols
                ]
                for i in range(d):
                    nv = int(valid[i].sum())
                    if nv:
                        s_acc[i] += int(vals[i][valid[i]].sum(dtype=object))
                        s_cnt[i] += nv
                for i, j in pair_idx:
                    mask = valid[i] & valid[j]
                    np_ = int(mask.sum())
                    if np_:
                        a, b = vals[i][mask], vals[j][mask]
                        p_acc[(i, j)] += int(
                            (a.astype(object) * b.astype(object)).sum()
                        )
                        p_cnt[(i, j)] += np_
        if n_rows == 0:
            return
        # scaleb rounds to its context's precision (28 digits by default);
        # 39 digits hold every decimal(38, s) partial exactly
        exact = Context(prec=39)
        arrays = [pa.array([n_rows], type=pa.int64())]
        for i in range(d):
            arrays.append(
                pa.array(
                    [
                        Decimal(s_acc[i]).scaleb(-6, exact)
                        if s_cnt[i] > 0
                        else None
                    ],
                    type=pa.decimal128(38, 6),
                )
            )
        for ij in pair_idx:
            arrays.append(
                pa.array(
                    [
                        Decimal(p_acc[ij]).scaleb(-12, exact)
                        if p_cnt[ij] > 0
                        else None
                    ],
                    type=pa.decimal128(38, 12),
                )
            )
        names = (
            ["n"]
            + [f"s{i}" for i in range(d)]
            + [f"p{i}_{j}" for i, j in pair_idx]
        )
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    partials = scaled.mapInArrow(_gram_fold, out_schema)
    row = partials.selectExpr(
        "coalesce(sum(n), CAST(0 AS BIGINT)) AS n",
        *[f"sum(s{i}) AS s{i}" for i in range(d)],
        *[f"sum(p{i}_{j}) AS p{i}_{j}" for i, j in pair_idx],
    )
    structs = ", ".join(
        f"named_struct('dim_i', CAST({i} AS BIGINT),"
        f" 'dim_j', CAST({j} AS BIGINT),"
        f" 'cov', round(CAST(p{i}_{j} AS DOUBLE) / n"
        f" - (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n), 6))"
        for i, j in pair_idx
    )
    return row.select(
        F.expr(f"explode(array({structs}))").alias("e")
    ).select("e.dim_i", "e.dim_j", "e.cov")


def _hh2_oracle_sql() -> str:
    from tranquility_spark.operators.cms import cms_pos_sql

    width, depth = 1024, 4
    build_union = "\n              UNION ALL ".join(
        f"SELECT {i} AS row_idx, {cms_pos_sql('user_id', i, width)} AS col_idx"
        " FROM events"
        for i in range(depth)
    )
    probe_union = "\n              UNION ALL ".join(
        f"SELECT user_id, {i} AS row_idx,"
        f" {cms_pos_sql('user_id', i, width)} AS col_idx FROM keys"
        for i in range(depth)
    )
    return f"""
    WITH keys AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
                  FROM events GROUP BY user_id),
         cells AS ({build_union}),
         counters AS (SELECT row_idx, col_idx,
                             CAST(count(*) AS BIGINT) AS cnt
                      FROM cells GROUP BY row_idx, col_idx),
         probe_cells AS ({probe_union}),
         est AS (SELECT p.user_id,
                        min(coalesce(c.cnt, 0)) AS est_count
                 FROM probe_cells p
                 LEFT JOIN counters c
                   ON p.row_idx = c.row_idx AND p.col_idx = c.col_idx
                 GROUP BY p.user_id)
    SELECT k.user_id,
           CAST(e.est_count AS BIGINT) AS est_count,
           k.exact_count,
           CAST(e.est_count - k.exact_count AS BIGINT) AS over_count
    FROM keys k JOIN est e USING (user_id)
    ORDER BY k.exact_count DESC, k.user_id
    LIMIT 100
    """


@register(
    "hh2_cms_frequency",
    _hh2_oracle_sql(),
    doc="Count-Min sketch point-query frequency (operators/cms.py, mergeable "
    "family #5 — Cormode & Muthukrishnan 2005): per-user event counts "
    "estimated from a depth=4 x width=1024 counter table. Build = explode "
    "4 cells per event -> ONE map-combined sum agg (exchange bounded by "
    "depth*width = 4096 rows at any corpus size); estimate = the counter "
    "table folds to a one-row broadcast map and each probe row takes the "
    "min of 4 inline lookups — NO shuffle, NO join, NO groupBy on the "
    "probe side. hh1's Misra-Gries answers only the top-k; the CMS "
    "answers ANY key. Guarantees hash-certified here: est >= true for "
    "every key (counters only over-count) and the oracle rebuilds the "
    "IDENTICAL portable-hash counter table in DuckDB, so the exact "
    "over_count per user — where collisions landed — is certified, not "
    "just bounded (production default is xxhash64, the bloom/shuf1 "
    "split). Top-100 users by exact count, unique user_id tie-break. "
    "Sum-merge == direct build bit-for-bit (tests); streaming partials "
    "sink with batch_id= idempotent replay included",
)
def hh2_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.cms import cms_counters, cms_estimate

    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = cms_counters(ev, "user_id", width=1024, depth=4, hash_fn="portable")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(
        exact, counters, "user_id", width=1024, depth=4, hash_fn="portable"
    )
    return (
        est.select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("over_count"),
        )
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(100)
    )


@register(
    "hh2b_cms_join_estimate",
    _hh2_oracle_sql(),  # same estimates as hh2 — the join path changes the
    # physical plan, not the answers, and the oracle certifies exactly that
    doc="hh2's point query served by the BEYOND-BROADCAST-FIT estimate path "
    "(cms_estimate_join): each probe row explodes into its 4 (row, col) "
    "slots, one equi-join against the counter table, one per-row min "
    "agg (the probe row rides the join as a struct — no join-back, no "
    "driver materialization at ANY sketch width). This is the escape "
    "hatch for widths past cms_estimate's documented broadcast-map "
    "ceiling (ADVICE r07): at width >> 1e6 the map build would exhaust "
    "the driver, while this plan's counter side just becomes a "
    "shuffle-join build side. Hash-certified against the SAME DuckDB "
    "counter-table rebuild as hh2 — the two estimate paths are also "
    "pinned equal row-for-row in tests/test_sketch.py",
)
def hh2b_cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tranquility_spark.operators.cms import cms_counters, cms_estimate_join

    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = cms_counters(ev, "user_id", width=1024, depth=4, hash_fn="portable")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate_join(
        exact, counters, "user_id", width=1024, depth=4, hash_fn="portable"
    )
    return (
        est.select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("over_count"),
        )
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(100)
    )


@register(
    "txt16_script_profile",
    _txt16_oracle_sql(),
    doc="Unicode-script character profile + dominant script per document — "
    "the multilingual triage signal that runs BEFORE n-gram lang-ID "
    "(txt1): script counts are alphabet-level facts that catch "
    "wrong-script contamination (mojibake, mixed-script spam) a "
    "marker-word model only sees as 'unk'. Five regexp_count "
    "projections with LITERAL unicode ranges (identical pattern "
    "strings compile under Java regex and RE2), narrow and "
    "shuffle-free; dominance is a first-match-wins CASE with "
    "priority-order tie-break, identical in both engines. The ASCII "
    "fixture exercises the latin/digit/other paths; the non-ASCII "
    "classes are cross-engine-proven on a synthetic corpus in tests",
)
def txt16_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.script_profile(_t(spark, sf_dir, "documents"))
