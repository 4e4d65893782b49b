"""Semantic tests for dedup + similarity operators (north-star phase 4).

These assert the *properties* that define each operator (LSH candidates find
the true near-dups; minhash estimates track exact jaccard; top-k ordering),
not just row counts.
"""

import pytest
from pyspark.sql import functions as F

from tranquility_spark.operators import dedup as dd
from tranquility_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    mutated = base.replace("lazy", "sleepy")  # one token differs → high jaccard
    other = "completely different words about spark query engines and shuffle planning"
    rows = [(1, base), (2, mutated), (3, other), (4, base + " again"), (5, other + " extra")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(10, "same text"), (3, "same text"), (7, "unique")], "doc_id long, text string"
    )
    out = {r["content_hash"]: (r["keep_doc_id"], r["dup_count"]) for r in dd.exact_dedup(df).collect()}
    assert len(out) == 2
    assert (3, 2) in out.values()
    assert (7, 1) in out.values()


def test_minhash_lsh_finds_true_near_dup(near_dup_corpus):
    pairs = dd.minhash_lsh_pairs(
        near_dup_corpus, num_hashes=64, bands=16, shingle_k=2, threshold=0.3
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found, f"true near-dup pair missed; got {found}"
    assert (1, 3) not in found and (2, 3) not in found, "unrelated docs flagged"


def test_minhash_estimate_tracks_exact_jaccard(near_dup_corpus):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(near_dup_corpus, shingle_k=2).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(
            near_dup_corpus, num_hashes=64, bands=16, shingle_k=2, threshold=0.0
        ).collect()
    }
    for pair, e in est.items():
        x = exact.get(pair, 0.0)
        assert abs(e - x) < 0.25, f"{pair}: est {e} vs exact {x}"


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    # 2-shingles: {ab,bc,cd} vs {ab,bc,ce} → inter=2, union=4 → 0.5
    rows = dd.ngram_jaccard_pairs(df, shingle_k=2).collect()
    assert len(rows) == 1 and abs(rows[0]["jaccard"] - 0.5) < 1e-12


def test_ngram_jaccard_guards_against_full_corpus_misuse(spark):
    """The quadratic verifier must fail fast on oversized inputs instead of
    running O(n²) at scale (allow_full_corpus / max_docs override)."""
    import pytest

    df = spark.createDataFrame(
        [(i, f"tok{i} shared") for i in range(12)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_docs"):
        dd.ngram_jaccard_pairs(df, max_docs=10)
    # both overrides run the same plan
    assert dd.ngram_jaccard_pairs(df, max_docs=10, allow_full_corpus=True).count() > 0
    assert dd.ngram_jaccard_pairs(df, max_docs=100).count() > 0


def test_simhash_near_dups_have_small_hamming(near_dup_corpus):
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(near_dup_corpus).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])
    assert hamming(sigs[1], sigs[4]) < hamming(sigs[1], sigs[3])


def test_cosine_topk_orders_by_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.7, 0.7, 0.0]),   # in between
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.cosine_topk_self(df, query_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    assert out[0]["cosine"] > 0.99


def test_lsh_topk_subset_of_bruteforce(spark, sf_dir):
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = sim.cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=50)
    brute_ids = {r["vec_id"] for r in brute.collect()}
    approx = sim.lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10, num_planes=4)
    rows = approx.collect()
    assert len(rows) > 0
    # every ANN hit must carry its true cosine; ordering must be descending
    scores = [r["cosine"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # recall against the exact top-50 should be decent for 4 planes
    hits = sum(1 for r in rows if r["vec_id"] in brute_ids)
    assert hits >= len(rows) // 2


def test_embedding_neardup_finds_identical_vectors(spark):
    rows = [
        (0, [0.5, 0.5, 0.1]),
        (1, [0.5, 0.5, 0.1]),      # identical → cosine 1
        (2, [-0.5, 0.4, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dd.embedding_neardup_pairs(df, threshold=0.99, num_planes=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF with a full probe is exact; a partial probe keeps high recall@10."""
    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r.vec_id for r in sim.cosine_topk(emb, qvec, k=10).collect()]

    cents = sim.ivf_centroids(emb, n_centroids=8)
    full = [r.vec_id for r in sim.ivf_topk(emb, qvec, k=10, nprobe=8, centroids=cents).collect()]
    assert full == exact  # probing every list == brute force

    part = [r.vec_id for r in sim.ivf_topk(emb, qvec, k=10, nprobe=4, centroids=cents).collect()]
    recall = len(set(part) & set(exact)) / 10
    assert recall >= 0.5, f"recall@10 too low: {recall}"


def test_centroid_assignment_deterministic(spark, sf_dir):
    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    c1 = sim.ivf_centroids(emb, n_centroids=4)
    c2 = sim.ivf_centroids(emb, n_centroids=4)
    assert c1 == c2
    a1 = sorted(map(tuple, sim.with_centroid_id(emb, c1).select("vec_id", "centroid_id").collect()))
    a2 = sorted(map(tuple, sim.with_centroid_id(emb, c2).select("vec_id", "centroid_id").collect()))
    assert a1 == a2


def test_ivf_centroids_null_elements_guard(spark):
    """r13 (ADVICE r12): the Lloyd mean's divisor counts only values whose
    decimal cast succeeded (NULL array elements are skipped by the sum,
    so counting raw rows would shrink the mean), and a (centroid, pos)
    group whose casts are ALL NULL keeps the seed's value at that
    position instead of raising TypeError on float(None)."""
    import pytest
    from pyspark.sql import functions as F

    from tranquility_spark.operators import similarity as sim

    ids = [1, 2, 3]
    hashes = {
        r.i: r.h
        for r in spark.createDataFrame([(i,) for i in ids], "i long")
        .select("i", F.xxhash64("i").alias("h"))
        .collect()
    }
    seed_id = min(ids, key=lambda i: hashes[i])
    # one clean-ish seed row (smallest hash -> the n_centroids=1 seed);
    # the other two are NULL at positions 1 and 2
    rows = [
        (i, [1.0, 2.0, None] if i == seed_id else [3.0, None, None])
        for i in ids
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.ivf_centroids(
        df, n_centroids=1, vec_col="embedding", id_col="vec_id", refine_iters=1
    )
    assert len(cents) == 1
    # pos 0: all three present -> (1+3+3)/3; pos 1: only the seed's 2.0
    # (two NULLs skipped by sum AND count); pos 2: all NULL -> seed kept
    assert cents[0][0] == pytest.approx(7.0 / 3.0)
    assert cents[0][1] == pytest.approx(2.0)
    assert cents[0][2] is None


def test_neardup_survivors_converged_components(spark):
    from tranquility_spark.operators.dedup import (
        _cc_pointer_doubling,
        neardup_survivors_converged,
    )

    # components: {1,2,3} (chain), {7,9}; 5 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    labels, _, _ = _cc_pointer_doubling(pairs)
    labels = {r.id: r.cluster_id for r in labels.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i, f"d{i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string")
    kept = sorted(
        r.doc_id for r in neardup_survivors_converged(docs, pairs).collect()
    )
    assert kept == [1, 5, 7]


def test_corpus_pipeline_monotone_and_deterministic(spark, sf_dir):
    """Each pipeline stage only removes documents; two runs agree exactly."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    total = load_table(spark, sf_dir, "documents").count()
    r1 = sorted(map(tuple, CATALOG["pipe1_corpus_pipeline"].fn(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, CATALOG["pipe1_corpus_pipeline"].fn(spark, sf_dir).collect()))
    assert r1 == r2  # deterministic end-to-end
    n_docs = sum(r[1] for r in r1)
    assert 0 < n_docs < total  # filtered + deduped + sampled: strictly shrinks
    for _lang, docs_n, tokens, bins in r1:
        assert bins <= docs_n  # packing never creates more bins than docs
        assert tokens > 0


def test_centroid_similarity_known_geometry(spark):
    from tranquility_spark.operators.embeddings import centroid_similarity

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1),
            (2, [1.0, 0.0], 1),
            (3, [0.0, 2.0], 2),
            (4, [3.0, 0.0], 3),
        ],
        "vec_id int, embedding array<double>, label int",
    )
    out = {(r.label_a, r.label_b): r for r in centroid_similarity(df).collect()}
    assert set(out) == {(1, 2), (1, 3), (2, 3)}  # a < b pairs only
    assert out[(1, 2)].centroid_cosine == 0.0    # orthogonal prototypes
    assert out[(1, 3)].centroid_cosine == 1.0    # co-linear prototypes
    assert out[(1, 2)].n_a == 2 and out[(1, 2)].n_b == 1


def test_incremental_neardup_equals_full_run_restricted(spark, sf_dir):
    """The incrementality contract: dedup of a new batch against the
    existing corpus's LSH band index returns EXACTLY the full-corpus dd2
    pairs that touch a new id — same candidates, same estimates. (Also
    pins the new/old split logic of the dd8 catalog entry.)"""
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    params = dict(num_hashes=64, bands=16, shingle_k=3)

    full = dd.minhash_lsh_pairs(docs, threshold=0.5, **params)
    new_ids = {r.doc_id for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }

    index = dd.lsh_band_index(docs.filter(F.col("doc_id") % 5 != 0), **params)
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dd.incremental_neardup_pairs(
            docs.filter(F.col("doc_id") % 5 == 0), index, threshold=0.5, **params
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no near-dup pairs touching the new batch"


def test_incremental_neardup_edge_splits(spark):
    """Boundary splits: an EMPTY index (cold start — every doc is new)
    must reproduce the full run exactly; an empty new batch returns no
    pairs (and no job failure on the degenerate side)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "the quick brown fox jumps over the lazy dog by the riverbank"),
        (3, "completely unrelated text about spark physical plans and shuffles"),
        (4, "the quick brown fox jumps over a lazy dog by the river"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    params = dict(num_hashes=64, bands=16, shingle_k=3)

    full = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dd.minhash_lsh_pairs(docs, threshold=0.3, **params).collect()
    }
    assert full, "fixture must produce near-dup pairs"

    empty = docs.limit(0)
    cold_index = dd.lsh_band_index(empty, **params)
    cold = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dd.incremental_neardup_pairs(
            docs, cold_index, threshold=0.3, **params
        ).collect()
    }
    assert cold == full

    warm_index = dd.lsh_band_index(docs, **params)
    none_new = dd.incremental_neardup_pairs(
        empty, warm_index, threshold=0.3, **params
    ).collect()
    assert none_new == []


def test_pair_rerank_properties_and_dd8_composition(spark, sf_dir):
    """pair_rerank (the cross-encoder slot): identical texts score 1.0,
    disjoint texts score only the length prior, more shared words ranks
    higher; and it composes over dd8's incremental LSH candidates (the
    production retrieve-then-rerank chain VERDICT r05 #8 names)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),        # identical to 1
            (3, "alpha beta gamma epsilon"),      # 3/5 overlap with 1
            (4, "zeta eta theta iota"),           # disjoint, same length-ish
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r.ce_score for r in dd.pair_rerank(pairs, docs).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 2)] > out[(1, 3)] > out[(1, 4)]
    # disjoint word sets: score is purely the 0.2-weighted length ratio
    assert out[(1, 4)] <= 0.2

    # composition: rerank dd8's incremental candidates on real documents
    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = real.filter(F.col("doc_id") % 5 == 0)
    index = dd.lsh_band_index(real.filter(F.col("doc_id") % 5 != 0))
    cand = dd.incremental_neardup_pairs(new, index, threshold=0.5)
    scored = dd.pair_rerank(cand.select("id_a", "id_b", "est_jaccard"), real)
    rows = scored.collect()
    assert rows and all(0.0 <= r.ce_score <= 1.0 for r in rows)
    # every candidate survived the join (rerank never drops pairs)
    assert len(rows) == cand.count()


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """Every inserted key must probe present (structural guarantee); the
    false-positive rate on non-members stays within 4x the analytic
    (1 - e^(-kn/m))^k bound. Default xxhash64 hashing."""
    import math

    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    n, m_bits, k = 400, 65536, 5
    members = spark.range(n).withColumnRenamed("id", "key")
    non_members = spark.range(10_000, 14_000).withColumnRenamed("id", "key")
    words = bloom_words(members, "key", m_bits=m_bits, k=k)
    hits_in = bloom_probe(members, words, "key", m_bits=m_bits, k=k)
    assert hits_in.filter(F.col("in_bloom") == 0).count() == 0
    fp = (
        bloom_probe(non_members, words, "key", m_bits=m_bits, k=k)
        .filter(F.col("in_bloom") == 1)
        .count()
    )
    bound = (1 - math.exp(-k * n / m_bits)) ** k
    assert fp / 4000 <= max(4 * bound, 0.005), (fp, bound)


def test_bloom_merge_bit_identical_to_direct(spark):
    """bit_or-merge of per-half word tables equals the direct build on the
    union, row for row — and replaying one partial changes nothing (OR is
    idempotent)."""
    from tranquility_spark.operators.bloom import bloom_merge, bloom_words

    all_keys = spark.range(500).withColumnRenamed("id", "key")
    h1 = all_keys.filter(F.col("key") % 2 == 0)
    h2 = all_keys.filter(F.col("key") % 2 == 1)
    direct = bloom_words(all_keys, "key")
    merged = bloom_merge([bloom_words(h1, "key"), bloom_words(h2, "key")])
    replayed = bloom_merge(
        [bloom_words(h1, "key"), bloom_words(h2, "key"), bloom_words(h2, "key")]
    )
    d = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, merged.collect())) == d
    assert sorted(map(tuple, replayed.collect())) == d


def test_bloom_probe_side_never_shuffles(spark, sf_dir):
    """Scale contract: the probe is a narrow projection against a one-row
    broadcast map — the only hash exchange in the whole plan is the bounded
    word-table build agg."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["dd9_bloom_membership"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bloom_portable_matches_oracle_semantics(spark):
    """The portable hash variant has the same guarantees as xxhash64 (no
    false negatives) and is deterministic across runs."""
    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    members = spark.range(300).withColumnRenamed("id", "key")
    words = bloom_words(members, "key", hash_fn="portable")
    out = bloom_probe(members, words, "key", hash_fn="portable")
    assert out.filter(F.col("in_bloom") == 0).count() == 0
    again = bloom_words(members, "key", hash_fn="portable")
    assert sorted(map(tuple, words.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_bloom_partials_sink_lifetime_equals_batch(spark, tmp_path):
    """Streaming lifecycle: per-batch word-table partials merged at read
    time equal the one-shot batch build bit-for-bit, and a forced replay of
    batch N leaves the merged filter unchanged."""
    from tranquility_spark.operators.bloom import (
        bloom_merge_read,
        bloom_partials_sink,
        bloom_words,
    )

    out = str(tmp_path / "bloom")
    write = bloom_partials_sink(out, "key")
    b1 = spark.range(0, 200).withColumnRenamed("id", "key")
    b2 = spark.range(200, 350).withColumnRenamed("id", "key")
    write(b1, 0)
    write(b2, 1)
    direct = bloom_words(b1.unionByName(b2), "key")
    merged = bloom_merge_read(spark, out)
    d = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, merged.collect())) == d
    write(b2, 1)  # forced redelivery
    assert sorted(map(tuple, bloom_merge_read(spark, out).collect())) == d


def test_sbbf_no_false_negatives_and_fp_sanity(spark):
    """Split-block layout keeps the classic guarantees: every inserted key
    probes present; the false-positive rate at ~16 bits/key stays small
    (blocked filters trade a little FPR for the one-join probe)."""
    from tranquility_spark.operators.bloom import sbbf_blocks, sbbf_probe

    n, n_blocks = 2000, 128  # 128 blocks x 256 bits ~= 16 bits/key
    members = spark.range(n).withColumnRenamed("id", "key")
    non_members = spark.range(100_000, 104_000).withColumnRenamed("id", "key")
    blocks = sbbf_blocks(members, "key", n_blocks=n_blocks)
    hits_in = sbbf_probe(members, blocks, "key", n_blocks=n_blocks)
    assert hits_in.filter(F.col("in_sbbf") == 0).count() == 0
    fp = (
        sbbf_probe(non_members, blocks, "key", n_blocks=n_blocks)
        .filter(F.col("in_sbbf") == 1)
        .count()
    )
    assert fp / 4000 <= 0.05, fp


def test_sbbf_probe_tolerates_w_named_probe_columns(spark):
    """ADVICE r07: a probe frame may itself carry columns named w0..w7 or
    block_idx — the block table's lanes are renamed to __sbbf_* before the
    join, so no ambiguous-reference error and the probe columns survive."""
    from tranquility_spark.operators.bloom import sbbf_blocks, sbbf_probe

    members = spark.range(100).withColumnRenamed("id", "key")
    blocks = sbbf_blocks(members, "key", n_blocks=16)
    probes = (
        spark.range(50)
        .withColumnRenamed("id", "key")
        .withColumn("w0", F.lit(7))
        .withColumn("w7", F.lit(9))
        .withColumn("block_idx", F.lit(3))
    )
    out = sbbf_probe(probes, blocks, "key", n_blocks=16)
    rows = out.collect()
    assert all(r.in_sbbf == 1 for r in rows)
    assert all(r.w0 == 7 and r.w7 == 9 and r.block_idx == 3 for r in rows)


def test_sbbf_merge_bit_identical_to_direct(spark):
    """Lane-wise bit_or merge of per-half block tables equals the direct
    build on the union, row for row — and replaying one partial changes
    nothing (OR is idempotent)."""
    from tranquility_spark.operators.bloom import sbbf_blocks, sbbf_merge

    all_keys = spark.range(500).withColumnRenamed("id", "key")
    h1 = all_keys.filter(F.col("key") % 2 == 0)
    h2 = all_keys.filter(F.col("key") % 2 == 1)
    direct = sbbf_blocks(all_keys, "key")
    merged = sbbf_merge([sbbf_blocks(h1, "key"), sbbf_blocks(h2, "key")])
    replayed = sbbf_merge(
        [sbbf_blocks(h1, "key"), sbbf_blocks(h2, "key"), sbbf_blocks(h2, "key")]
    )
    d = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, merged.collect())) == d
    assert sorted(map(tuple, replayed.collect())) == d


def test_sbbf_partials_sink_lifetime_equals_batch(spark, tmp_path):
    """Streaming lifecycle: per-batch block-table partials merged at read
    time equal the one-shot batch build bit-for-bit; forced replay of a
    batch leaves the merged filter unchanged."""
    from tranquility_spark.operators.bloom import (
        sbbf_blocks,
        sbbf_merge_read,
        sbbf_partials_sink,
    )

    out = str(tmp_path / "sbbf")
    write = sbbf_partials_sink(out, "key")
    b1 = spark.range(0, 200).withColumnRenamed("id", "key")
    b2 = spark.range(200, 350).withColumnRenamed("id", "key")
    write(b1, 0)
    write(b2, 1)
    direct = sbbf_blocks(b1.unionByName(b2), "key")
    merged = sbbf_merge_read(spark, out)
    d = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, merged.collect())) == d
    write(b2, 1)  # forced redelivery
    assert sorted(map(tuple, sbbf_merge_read(spark, out).collect())) == d


def test_sbbf_agrees_with_exact_membership_on_catalog_fixture(spark, sf_dir):
    """dd12's decision columns are self-consistent: no corpus member is
    missed, and every in_sbbf=0 row is genuinely out of corpus."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["dd12_blocked_bloom"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.in_sbbf == 1 for r in rows if r.in_corpus == 1)
    assert all(r.in_corpus == 0 for r in rows if r.in_sbbf == 0)


def test_dd14_detects_misaligned_shared_passage(spark, tmp_path):
    """The content-defined-anchor claim: a 30-token passage shared by two
    documents at DIFFERENT offsets (delta not a multiple of any stride) is
    still detected, because window selection depends on window content,
    not position. Documents without a 12-token shared run produce no
    pair."""
    from tranquility_spark.catalog import CATALOG

    passage = " ".join(f"shared{i:02d}" for i in range(30))
    docs = [
        (1, "alpha beta gamma " + passage + " tail1 tail2", "en", "s", 0),
        (2, " ".join(f"pre{i}" for i in range(8)) + " " + passage, "en", "s", 0),
        (3, " ".join(f"other{i}" for i in range(40)), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")

    rows = CATALOG["dd14_duplicate_passages"].fn(spark, d).collect()
    assert rows, "misaligned shared passage was not detected"
    assert all(r.n_docs == 2 and r.first_doc == 1 for r in rows), rows


def test_emb8_spike_outlier_tails_exercised(spark, sf_dir):
    """~1% of vectors must land in each tail (the thresholds are the
    corpus's own percentiles), no vector is both tails, every non-flagged
    spike lies inside [p01, p99] — and no GENUINE vector reaches spike
    1.0, the value a one-hot collapsed embedding would have (the fixture
    contains none; the final assert pins that headroom, it is NOT a
    missing fixture row)."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["emb8_spike_outliers"].fn(spark, sf_dir).collect()
    n = len(rows)
    lows = [r for r in rows if r.is_low]
    highs = [r for r in rows if r.is_high]
    assert 0 < len(lows) <= max(2, 0.02 * n)
    assert 0 < len(highs) <= max(2, 0.02 * n)
    assert not any(r.is_low and r.is_high for r in rows)
    assert all(
        r.p01 <= r.spike <= r.p99
        for r in rows
        if not (r.is_low or r.is_high)
    )
    # a one-hot (collapsed) vector has spike exactly 1.0 — the failure
    # mode the gate exists for sits above every genuine vector
    assert max(r.spike for r in rows) < 1.0


def test_dd15_density_reconciles_with_dd14_passages(spark, sf_dir):
    """Σ n_dup across documents must equal Σ n_occurrences across dd14's
    cross-document passages (both count anchored occurrences of the same
    duplicated-hash set), densities live in [0, 1], and the planted exact
    duplicates surface as density-1.0 documents."""
    from tranquility_spark.catalog import CATALOG

    density = CATALOG["dd15_duplication_density"].fn(spark, sf_dir).collect()
    passages = CATALOG["dd14_duplicate_passages"].fn(spark, sf_dir).collect()
    assert density and passages
    assert sum(r.n_dup for r in density) == sum(
        r.n_occurrences for r in passages
    )
    assert all(0.0 <= r.dup_density <= 1.0 for r in density)
    assert any(r.dup_density == 1.0 for r in density)


def test_sbbf_gate_equals_classic_gate_and_ungated(spark, sf_dir):
    """The beyond-broadcast gate variant: filtering a new batch's banded
    rows through the SBBF bucket gate must keep every row whose bucket
    truly exists in the index (no false negatives), so the index-probe
    pairs after SBBF gating equal the ungated pairs — the same dd11b
    property the classic broadcast gate certifies."""
    from tranquility_spark.operators.dedup import (
        gate_probe,
        gate_probe_sbbf,
        index_bucket_bloom,
        index_bucket_sbbf,
        lsh_band_index,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    index = lsh_band_index(docs.filter(F.col("doc_id") % 5 != 0))
    new_banded = lsh_band_index(docs.filter(F.col("doc_id") % 5 == 0))
    index = index.localCheckpoint(eager=False)
    new_banded = new_banded.localCheckpoint(eager=False)

    def pairs_from(banded):
        return {
            (r[0], r[1])
            for r in banded.alias("l")
            .join(
                index.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bhash") == F.col("r.bhash"))
                & (F.col("l.id") != F.col("r.id")),
            )
            .select(F.col("l.id"), F.col("r.id"))
            .distinct()
            .collect()
        }

    ungated = pairs_from(new_banded)
    assert ungated

    sbbf_gate = index_bucket_sbbf(index)
    sbbf_kept = (
        gate_probe_sbbf(new_banded, sbbf_gate)
        .filter(F.col("__in_gate") == 1)
        .drop("__in_gate")
    )
    assert pairs_from(sbbf_kept) == ungated

    # and the two gate flavors agree wherever the classic one says yes
    classic_kept = (
        gate_probe(new_banded, index_bucket_bloom(index))
        .filter(F.col("__in_gate") == 1)
        .drop("__in_gate")
    )
    assert pairs_from(classic_kept) == ungated


def test_bloom_gated_antijoin_decision_equals_plain_join(spark, sf_dir):
    """The sketch-gated decision must equal the plain exact join for every
    probe key (the gate changes the PLAN, never the answer), and the
    fixture must exercise both hits and true-new keys."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    out = {
        r.user_id: r
        for r in CATALOG["dd10_bloom_gated_antijoin"].fn(spark, sf_dir).collect()
    }
    registry = {
        r.c_custkey
        for r in load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .collect()
    }
    assert out
    for uid, r in out.items():
        assert r.is_known == (1 if uid in registry else 0), uid
        if uid in registry:  # no false negatives: members must probe positive
            assert r.in_bloom == 1, uid
    kinds = {(r.in_bloom, r.is_known) for r in out.values()}
    assert (1, 1) in kinds and (0, 0) in kinds, kinds


def test_emb5_binary_signature_matches_numpy(spark, sf_dir):
    """The packed sign-bit words must equal a numpy recomputation for a
    sample of vectors, and Hamming must equal the XOR popcount."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["emb5_binary_hamming_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 50
    embs = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") <= max(r.vec_id for r in rows))
        .collect()
    }

    def pack(vec):
        w0 = sum(1 << i for i in range(32) if vec[i] > 0)
        w1 = sum(1 << i for i in range(32) if vec[32 + i] > 0)
        return w0, w1

    q0, q1 = pack(embs[0])
    for r in rows[:20]:
        w0, w1 = pack(embs[r.vec_id])
        assert (r.w0, r.w1) == (w0, w1), r.vec_id
        assert r.hamming == bin((w0 ^ q0)).count("1") + bin((w1 ^ q1)).count("1")


def test_emb5_plan_is_narrow_topk(spark, sf_dir):
    """Scale contract: corpus side is a narrow projection into
    TakeOrderedAndProject against a one-row broadcast query signature —
    no hash exchange anywhere."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["emb5_binary_hamming_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_sim4_rerank_recall_vs_exact(spark, sf_dir):
    """The binary prefilter must not cost much recall at candidate depth
    200: sim4's top-10 (BQ top-200 -> exact cosine rerank) must recover a
    majority of sim1's exact top-10, and every returned cosine must be a
    TRUE cosine (scores exact, <= the true best)."""
    from tranquility_spark.catalog import CATALOG

    exact = [r.vec_id for r in CATALOG["sim1_cosine_topk"].fn(spark, sf_dir).collect()]
    rer = CATALOG["sim4_bq_rerank"].fn(spark, sf_dir).collect()
    got = [r.vec_id for r in rer]
    recall = len(set(exact) & set(got)) / len(exact)
    assert recall >= 0.5, (recall, exact, got)
    assert all(r.hamming <= 64 for r in rer)


def test_bloom_probe_empty_filter_says_absent(spark):
    """Cold-start edge: probing an EMPTY word table (no keys ever
    inserted) must report in_bloom=0 for every probe — the empty-map /
    try_element_at / coalesce(False) path, which a first-ever micro-batch
    hits before any partial exists."""
    from tranquility_spark.operators.bloom import bloom_probe, bloom_words

    empty = bloom_words(
        spark.createDataFrame([], "key long"), "key"
    )
    probes = spark.range(50).withColumnRenamed("id", "key")
    out = bloom_probe(probes, empty, "key")
    assert out.count() == 50
    assert out.filter(F.col("in_bloom") != 0).count() == 0


def test_binary_quantize_rejects_short_embeddings(spark):
    """ADVICE r06: an embedding shorter than 64 dims must raise, not
    silently truncate to a zero-padded signature."""
    import pytest

    from tranquility_spark.operators.embeddings import binary_quantize

    df = spark.createDataFrame(
        [(1, [1.0] * 32)], "vec_id long, embedding array<double>"
    )
    w0, w1 = binary_quantize(F.col("embedding"))
    with pytest.raises(Exception, match="binary_quantize"):
        df.select(w0.alias("w0"), w1.alias("w1")).collect()

    ok = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    row = ok.select(w0.alias("w0"), w1.alias("w1")).collect()[0]
    assert row.w0 == (1 << 32) - 1 and row.w1 == (1 << 32) - 1

    # NULL embedding: passes through as NULL words, never aborts the job
    # (pre-guard behavior preserved — code-review r07)
    nul = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    row = nul.select(w0.alias("w0"), w1.alias("w1")).collect()[0]
    assert row.w0 is None and row.w1 is None


def test_dd11_gated_equals_ungated_pairs(spark, sf_dir):
    """The bloom gate must cost NO recall: gated and ungated incremental
    runs produce the identical pair set (no false negatives by bloom
    construction; this pins the composition, not just the sketch)."""
    from tranquility_spark.catalog import CATALOG

    gated = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in CATALOG["dd11_bloom_gated_neardup"].fn(spark, sf_dir).collect()
    }
    ungated = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in CATALOG["dd8_incremental_neardup"].fn(spark, sf_dir).collect()
    }
    assert gated == ungated and gated


def test_dd11_gate_prunes_most_never_seen_buckets(spark, sf_dir):
    """The gate must actually prune: on the 20% batch most banded rows carry
    bucket keys absent from the 80% index (never-seen content), so the
    bloom must reject a substantial fraction before the join."""
    from tranquility_spark.operators import dedup as dd
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    index = dd.lsh_band_index(docs.filter(F.col("doc_id") % 5 != 0))
    gate = dd.index_bucket_bloom(index)
    banded = dd.lsh_band_index(docs.filter(F.col("doc_id") % 5 == 0))
    probed = dd.gate_probe(banded, gate)
    counts = {r["__in_gate"]: r.n for r in probed.groupBy("__in_gate").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    pruned = counts.get(0, 0)
    assert total > 0 and pruned / total > 0.5, counts


def test_dd11b_probe_emits_zero_mismatch_and_active_gate(spark, sf_dir):
    from tranquility_spark.catalog import CATALOG

    [row] = CATALOG["dd11b_gate_equals_ungated"].fn(spark, sf_dir).collect()
    assert (row.n_mismatched, row.gate_active) == (0, 1)


def test_emb6_projection_matches_numpy(spark, sf_dir):
    """The JL projection must equal a numpy recomputation with the same
    round-then-accumulate discipline, and the plan must be shuffle-free."""
    import numpy as np

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.embeddings import projection_matrix
    from tranquility_spark.sources.files import load_table

    df = CATALOG["emb6_random_projection"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = {r.vec_id: r for r in df.collect()}
    embs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").limit(2000).collect()
    }
    W = projection_matrix(16, 64)
    for vid in list(embs)[:20]:
        v = embs[vid]
        for j in (0, 7, 15):
            expected = float(sum(round(float(x * w), 6) for x, w in zip(v, W[j])))
            got = getattr(rows[vid], f"p{j:02d}")
            assert abs(got - expected) < 1e-9, (vid, j, got, expected)


def test_projection_matrix_deterministic():
    from tranquility_spark.operators.embeddings import projection_matrix

    a = projection_matrix(16, 64)
    b = projection_matrix(16, 64)
    assert a == b
    assert len(a) == 16 and all(len(r) == 64 for r in a)
    assert all(-1.0 <= w <= 1.0 for r in a for w in r)


def test_kmeans_semantic_dedup_composition(spark, sf_dir):
    """VERDICT r8 #3 — the dd13/samp9 'production swaps in sim3's k-means
    build' claim, executed: ivf_centroids -> semantic_dedup end-to-end.
    Pins what no SQL oracle can: (a) rerun determinism (the whole chain is
    RNG-free), (b) the sum(cluster^2) pair-fold bound that makes semantic
    dedup sub-quadratic — the learned clustering must actually SPREAD the
    corpus, not collapse it into one quadratic blob, (c) drop semantics:
    every keep=0 row has a lower-id same-cluster neighbor above tau and
    every keep=1 row has none (recomputed independently per row)."""
    import math

    from tranquility_spark.catalog import CATALOG

    fn = CATALOG["dd13b_kmeans_semantic_dedup"].fn
    rows1 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert rows1 == rows2  # deterministic build + assign + pair fold
    n = len(rows1)
    assert n > 0

    # (b) pair-fold bound: sum over clusters of n_c^2 must be well under
    # the all-pairs n^2 (16 perfectly balanced clusters give n^2/16; allow
    # imbalance up to 4x that, and require no cluster to swallow half the
    # corpus — the properties that keep the join sub-quadratic at scale)
    sizes: dict[int, int] = {}
    for _vid, cid, n_in_cluster, _keep in rows1:
        sizes[cid] = n_in_cluster
    assert len(sizes) > 1
    pair_fold = sum(s * s for s in sizes.values())
    assert pair_fold <= (n * n) / 4, (pair_fold, n * n)
    assert max(sizes.values()) <= math.ceil(n / 2)

    # (c) drop semantics, recomputed independently in python
    from tranquility_spark.sources.files import load_table

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for vid, cid, _nc, _keep in rows1:
        by_cluster.setdefault(cid, []).append(vid)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    tau = 0.35  # _DD13_TAU
    for vid, cid, _nc, keep in rows1:
        has_lower = any(
            o < vid and cos(emb[o], emb[vid]) > tau for o in by_cluster[cid]
        )
        assert keep == (0 if has_lower else 1), (vid, cid, keep)


def test_emb10_pca_projection_matches_numpy_and_orders_variance(spark, sf_dir):
    """emb10's contracts, since no SQL oracle can cover a driver eigh:
    (a) rerun bit-identical; (b) the Spark projection equals an
    independent numpy replay of the SAME arithmetic (round each product
    to 6dp, exact sum, project with principal_components' loadings —
    which themselves match numpy's eigh on the raw corpus); (c) sample
    variance along pc0 >= pc1 >= ... (the variance ordering PCA exists
    for); (d) the loadings are orthonormal."""
    import numpy as np

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.embeddings import principal_components
    from tranquility_spark.sources.files import load_table

    fn = CATALOG["emb10_pca_project"].fn
    rows1 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert rows1 == rows2

    e = load_table(spark, sf_dir, "embeddings")
    loadings, vals, shares = principal_components(e, 4)
    L = np.array(loadings)
    assert np.allclose(L @ L.T, np.eye(4), atol=1e-9)  # orthonormal
    assert vals == sorted(vals, reverse=True)
    assert all(0.0 < s <= 1.0 for s in shares)

    emb = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in e.collect()
    }
    for row in rows1:
        vid, pcs = row[0], row[1:]
        for j, got in enumerate(pcs):
            want = round(float(np.round(emb[vid] * L[j], 6).sum()), 6)
            assert got == want, (vid, j, got, want)
    # variance ordering on the projected sample
    P = np.array([row[1:] for row in rows1])
    v = P.var(axis=0)
    assert all(v[i] >= v[i + 1] - 1e-9 for i in range(3))


def test_dd16_banded_hamming_equals_brute_force(spark, sf_dir):
    """The pigeonhole completeness claim, verified: for threshold <= 3
    with 4 bands the banded pair set must EQUAL the brute-force all-pairs
    hamming <= 3 set (recall complete, precision exact) — and a synthetic
    pair at hamming exactly 4 spread 1-bit-per-band must NOT surface
    (outside the guarantee, correctly excluded by the verify)."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators import multimodal as mm
    from tranquility_spark.operators.dedup import dhash_neardup_pairs
    from tranquility_spark.sources.files import load_table

    media = mm.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    hashes = {r["doc_id"]: r["dhash"] for r in mm.image_dhash(media).collect()}

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    ids = sorted(hashes)
    brute = {
        (a, b, ham(hashes[a], hashes[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(hashes[a], hashes[b]) <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in CATALOG["dd16_dhash_neardup"].fn(spark, sf_dir).collect()
    }
    assert got == brute
    assert all(a < b for a, b, _h in got)

    # hamming-4 spread across all 4 bands: no band matches -> no candidate;
    # hamming-4 concentrated in one band: candidate surfaces but the exact
    # verify rejects it. Either way it must be absent at threshold 3.
    base = "00" * 8
    spread = "0001" * 4                   # 1 bit in each 16-bit band
    onehot = "0f" + "00" * 7              # 4 bits, all in band 0
    df = spark.createDataFrame(
        [(1, base), (2, spread), (3, onehot)], "doc_id long, dhash string"
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_neardup_pairs(df, threshold=3).collect()
    }
    assert (1, 2) not in out and (1, 3) not in out
    # raise the threshold to 4: the concentrated pair becomes reachable
    # (bands 1..3 still match exactly), the spread pair stays invisible —
    # the documented banding limit beyond bands-1
    out4 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_neardup_pairs(df, threshold=4).collect()
    }
    assert out4.get((1, 3)) == 4
    assert (1, 2) not in out4


def test_dd16_hot_bucket_guard_and_null_dhash(spark):
    """VERDICT r9 #2: the banded candidate join runs over DISTINCT digests,
    so a pathological all-identical corpus (constant-color images) does a
    1x1 hash-level join instead of a corpus-quadratic bucket blowup — and
    the full output (every within-digest pair at hamming 0) still fans out
    complete. NULL digests (image_dhash's dead-letter verdict) are skipped,
    not joined (ADVICE r9)."""
    from tranquility_spark.operators.dedup import (
        _dhash_hash_pairs,
        dhash_neardup_pairs,
    )

    n = 200
    rows = [(i, "ab" * 8) for i in range(n)] + [(n, None), (n + 1, None)]
    df = spark.createDataFrame(rows, "doc_id long, dhash string")
    # the guard: quadratic work happens at DISTINCT-digest level -> 1 row
    hp = _dhash_hash_pairs(df).collect()
    assert len(hp) == 1
    assert hp[0]["__ha"] == hp[0]["__hb"] == "ab" * 8
    assert hp[0]["hamming"] == 0
    # completeness: all n*(n-1)/2 doc pairs, each exactly once, hamming 0;
    # NULL-dhash docs surface in no pair
    pairs = dhash_neardup_pairs(df).collect()
    assert len(pairs) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 and r["doc_a"] < r["doc_b"] for r in pairs)
    assert len({(r["doc_a"], r["doc_b"]) for r in pairs}) == len(pairs)
    assert all(r["doc_a"] < n and r["doc_b"] < n for r in pairs)


def test_image_dhash_corrupt_payload_dead_letter(spark):
    """ADVICE r9 low: empty or undecodable payloads must yield a NULL
    dhash instead of an IndexError that kills the whole mapInPandas
    batch — for the stub AND native impls in one batch with valid rows."""
    from tranquility_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"payload-bytes"), (2, b""), (3, None)],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["dhash"] for r in mm.image_dhash(df).collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and len(got[1]) == 16
    # native impl: an undecodable blob (not PNG/BMP) dead-letters too
    got_native = {
        r["doc_id"]: r["dhash"]
        for r in mm.image_dhash(df, impl="native").collect()
    }
    assert got_native == {1: None, 2: None, 3: None} or got_native[2] is None


def test_ann_index_sidecar_cold_session_load(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r9 #5: the bounded ANN indexes persist across sessions —
    first build writes a JSON sidecar keyed by the (sf_dir, parquet
    fingerprint) invalidation key; a COLD session (cleared in-process
    dicts) loads it instead of rebuilding (rebuild is monkeypatched to
    fail); a corrupted sidecar falls back to a rebuild, never a wrong
    index."""
    import os

    from tranquility_spark import catalog_llm as cl
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators import similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    cl._IVF_INDEX_CACHE.clear()
    cl._PQ_INDEX_CACHE.clear()
    ck = cl._index_cache_key(sf_dir)

    r1 = sorted(map(tuple, CATALOG["sim3_ivf_topk"].fn(spark, sf_dir).collect()))
    p1 = sorted(map(tuple, CATALOG["sim5_pq_rerank"].fn(spark, sf_dir).collect()))
    ivf_path = cl._index_sidecar_path("ivf", ck)
    pq_path = cl._index_sidecar_path("pq", ck)
    assert os.path.exists(ivf_path) and os.path.exists(pq_path)
    cents_built = cl._IVF_INDEX_CACHE[ck]
    books_built = cl._PQ_INDEX_CACHE[ck]

    # cold session: in-process caches gone, rebuild forbidden
    cl._IVF_INDEX_CACHE.clear()
    cl._PQ_INDEX_CACHE.clear()

    real_ivf_centroids = sim.ivf_centroids

    def boom(*a, **kw):
        raise AssertionError("index rebuild attempted despite sidecar")

    monkeypatch.setattr(sim, "ivf_centroids", boom)
    monkeypatch.setattr(sim, "pq_codebooks", boom)
    r2 = sorted(map(tuple, CATALOG["sim3_ivf_topk"].fn(spark, sf_dir).collect()))
    p2 = sorted(map(tuple, CATALOG["sim5_pq_rerank"].fn(spark, sf_dir).collect()))
    assert r2 == r1 and p2 == p1
    # JSON round-trips the floats bit-exactly
    assert cl._IVF_INDEX_CACHE[ck] == cents_built
    assert cl._PQ_INDEX_CACHE[ck] == books_built
    # dd13b shares the ivf index — also rebuild-free in the cold session
    assert CATALOG["dd13b_kmeans_semantic_dedup"].fn(spark, sf_dir).count() > 0

    # corrupted sidecar -> silent rebuild (un-forbid first)
    monkeypatch.setattr(sim, "ivf_centroids", real_ivf_centroids)
    cl._IVF_INDEX_CACHE.clear()
    with open(ivf_path, "w", encoding="utf-8") as fh:
        fh.write("{not json")
    r3 = sorted(map(tuple, CATALOG["sim3_ivf_topk"].fn(spark, sf_dir).collect()))
    assert r3 == r1


def test_minhash_distinct_sig_guard_pathological_and_equal(spark, sf_dir):
    """The MinHash hot-bucket guard (dd16's shape on dd2): output
    row-identical to the default path on the real fixture, and on a
    pathological all-identical corpus the banded join collapses to ONE
    distinct signature (guard engaged) while the full quadratic pair set
    still fans out complete at est 1.0."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_distinct,
        with_minhash_signature,
    )
    from tranquility_spark.sources.files import load_table

    kw = dict(num_hashes=64, bands=16, shingle_k=3, threshold=0.5)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, minhash_lsh_pairs(docs, **kw).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs_distinct(docs, **kw).collect()))
    assert a == b and a

    n = 250
    patho = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)],
        "doc_id long, text string",
    )
    # guard engagement: one distinct signature for the whole corpus
    assert (
        with_minhash_signature(patho, "text", "sig", 64, 3, 42, "pandas")
        .select("sig")
        .distinct()
        .count()
        == 1
    )
    got = minhash_lsh_pairs_distinct(patho, **kw).collect()
    assert len(got) == n * (n - 1) // 2
    assert all(r["est_jaccard"] == 1.0 and r["id_a"] < r["id_b"] for r in got)
    assert len({(r["id_a"], r["id_b"]) for r in got}) == len(got)


def test_served_pair_paths_pathological_corpora(spark):
    """r13: the served pair extractions (dd19/dd20's operators) on the
    corpora that break naive implementations — all-identical texts (one
    distinct signature; the hot-bucket guard must hold through the
    persisted index too: the fan-out is the FINAL join, never the banded
    candidate stage), a single document (no pairs, no crash), and the
    served == inline equality on both."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.dedup import (
        lsh_band_index,
        minhash_lsh_pairs_distinct,
        minhash_pairs_from_index,
        simhash_band_index,
        simhash_neardup_pairs,
        simhash_pairs_from_index,
    )

    n = 120
    patho = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)],
        "doc_id long, text string",
    )
    # SimHash served: one distinct signature -> candidate stage is 1x1;
    # the complete quadratic pair set fans out at hamming 0
    sidx = simhash_band_index(patho)
    assert sidx.select("sighex").distinct().count() == 1
    got = simhash_pairs_from_index(sidx, threshold=3).collect()
    assert len(got) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 and r["doc_a"] < r["doc_b"] for r in got)
    want = sorted(
        map(tuple, simhash_neardup_pairs(patho, threshold=3).collect())
    )
    assert sorted(map(tuple, got)) == want

    # MinHash served on the same corpus
    midx = lsh_band_index(patho)
    mgot = minhash_pairs_from_index(midx, num_hashes=64, threshold=0.5).collect()
    assert len(mgot) == n * (n - 1) // 2
    assert all(r["est_jaccard"] == 1.0 and r["id_a"] < r["id_b"] for r in mgot)
    mwant = sorted(
        map(tuple, minhash_lsh_pairs_distinct(patho, threshold=0.5).collect())
    )
    assert sorted(map(tuple, mgot)) == mwant

    # single-document corpus: zero pairs, no crash on either family
    single = spark.createDataFrame([(1, "just one doc")], "doc_id long, text string")
    assert simhash_pairs_from_index(simhash_band_index(single)).count() == 0
    assert (
        minhash_pairs_from_index(lsh_band_index(single), num_hashes=64).count() == 0
    )


def test_ivf_persisted_index_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """The persisted IVF serving path (the '100 TB shape' made literal):
    ivf_index_write lands the corpus partitionBy(centroid_id) with a
    validated meta sidecar; ivf_topk_indexed answers the query with
    PARTITION PRUNING (plan-asserted: the scan's partition filters carry
    centroid_id and the scan reads only the probed lists) and returns
    exactly what ivf_topk computes inline with the same centroids."""
    import pytest as pt
    from pyspark.sql import functions as F

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cents = sim.ivf_centroids(emb, n_centroids=8)
    path = str(tmp_path / "ivf_index")
    sim.ivf_index_write(emb, cents, path)

    served = sim.ivf_topk_indexed(spark, path, qvec, k=10, nprobe=3)
    inline = sim.ivf_topk(emb, qvec, k=10, nprobe=3, centroids=cents)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )

    plan = served._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    # the probe is PURE partition pruning: the IN-list sits in the scan's
    # PartitionFilters (3 of 8 inverted lists) and the row-level
    # DataFilters stay empty — no per-row filtering work at any scale
    assert "centroid_id" in pf and " IN " in pf, f"no partition pruning:\n{plan}"
    assert pf.count(",") == 2, f"expected a 3-list probe, got: {pf}"
    assert "DataFilters: []" in plan, f"probe leaked into row filters:\n{plan}"
    frame, meta = sim.ivf_index_load(spark, path)
    assert len(meta["centroids"]) == 8

    # sidecar is load-bearing: a layout without meta refuses to serve
    import os

    os.remove(os.path.join(path, "_ivf_meta.json"))
    with pt.raises(ValueError, match="_ivf_meta"):
        sim.ivf_topk_indexed(spark, path, qvec)


def test_ivfpq_persisted_index_serving(spark, sf_dir, tmp_path):
    """The full IVF-PQ composition, persisted: partition-pruned probe over
    stored 4-byte codes, exact rerank on the shortlist. Serving equals
    the manual composition (probe filter + pq_topk over existing codes),
    stays deterministic across calls, keeps recall@10 vs exact sim1
    above the sim5 floor, and the scan is plan-asserted pure partition
    pruning."""
    import pytest as pt
    from pyspark.sql import functions as F

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cents = sim.ivf_centroids(emb, n_centroids=8)
    books = sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1)
    path = str(tmp_path / "ivfpq")
    sim.ivfpq_index_write(emb, cents, books, path)

    served = sim.ivfpq_topk_indexed(spark, path, qvec, k=10, nprobe=6)
    got = sorted(map(tuple, served.collect()))
    assert got == sorted(map(tuple, served.collect()))  # deterministic

    frame, meta = sim.ivf_index_load(spark, path)
    import math
    qn = math.sqrt(sum(x * x for x in qvec))
    probe = sorted(
        range(8),
        key=lambda i: -(
            sum(a * b for a, b in zip(qvec, cents[i]))
            / (qn * math.sqrt(sum(x * x for x in cents[i])))
        ),
    )[:6]
    manual = sim.pq_topk(
        frame.filter(F.col("centroid_id").isin(probe)),
        qvec, books, k=10, use_existing_codes=True,
    )
    assert got == sorted(map(tuple, manual.collect()))

    # recall vs exact brute force: the sim5 floor, here with 6/8 lists probed
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, qvec, k=10).collect()}
    recall = len({t[0] for t in got} & exact) / 10
    assert recall >= 0.4, f"IVF-PQ recall@10 too low: {recall}"

    plan = served._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "centroid_id" in pf and " IN " in pf
    assert "DataFilters: []" in plan

    # an IVF-only layout refuses PQ serving with a clear error
    path2 = str(tmp_path / "ivf_only")
    sim.ivf_index_write(emb, cents, path2)
    with pt.raises(ValueError, match="IVF-only"):
        sim.ivfpq_topk_indexed(spark, path2, qvec)


def test_sim3b_persisted_serving_equals_sim3(spark, sf_dir, tmp_path, monkeypatch):
    """The sim3b catalog entry: persisted-layout serving returns exactly
    sim3's inline results (same cached centroids), and the second call
    serves from the existing layout without rewriting it."""
    import os

    from tranquility_spark import catalog_llm as cl
    from tranquility_spark.catalog import CATALOG

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    cl._IVF_INDEX_CACHE.clear()
    inline = sorted(map(tuple, CATALOG["sim3_ivf_topk"].fn(spark, sf_dir).collect()))
    served = sorted(
        map(tuple, CATALOG["sim3b_ivf_persisted_serving"].fn(spark, sf_dir).collect())
    )
    assert served == inline and served

    layout = cl._ivf_layout_path(cl._index_cache_key(sf_dir))
    meta = os.path.join(layout, "_ivf_meta.json")
    assert os.path.exists(meta)
    wrote_at = os.stat(meta).st_mtime_ns
    again = sorted(
        map(tuple, CATALOG["sim3b_ivf_persisted_serving"].fn(spark, sf_dir).collect())
    )
    assert again == served
    assert os.stat(meta).st_mtime_ns == wrote_at  # layout not rewritten


def test_sim5b_persisted_ivfpq_entry(spark, sf_dir, tmp_path, monkeypatch):
    """The sim5b catalog entry: persisted IVF-PQ serving is deterministic
    across calls, does not rewrite the layout on the second call, and
    keeps recall@10 vs exact sim1 above the sim5 floor."""
    import os

    from pyspark.sql import functions as F

    from tranquility_spark import catalog_llm as cl
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    cl._IVF_INDEX_CACHE.clear()
    cl._PQ_INDEX_CACHE.clear()
    got = sorted(
        map(tuple, CATALOG["sim5b_ivfpq_persisted_serving"].fn(spark, sf_dir).collect())
    )
    assert len(got) == 10

    layout = os.path.join(
        cl._index_cache_root(),
        f"ivfpqlayout-{cl._index_cache_digest('ivfpqlayout', cl._index_cache_key(sf_dir))}",
    )
    meta = os.path.join(layout, "_ivf_meta.json")
    assert os.path.exists(meta)
    wrote_at = os.stat(meta).st_mtime_ns
    again = sorted(
        map(tuple, CATALOG["sim5b_ivfpq_persisted_serving"].fn(spark, sf_dir).collect())
    )
    assert again == got
    assert os.stat(meta).st_mtime_ns == wrote_at  # layout not rewritten

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, qvec, k=10).collect()}
    recall = len({t[0] for t in got} & exact) / 10
    assert recall >= 0.4, f"IVF-PQ entry recall@10 too low: {recall}"


def test_simhash_neardup_hexing_and_threshold_boundary(spark):
    """r12 dd17 plumbing: the signed-int64 -> two's-complement-hex
    conversion feeds the shared banding machinery correctly for NEGATIVE
    signatures (half of all real simhashes), and the hamming threshold
    is exact at the boundary — 3 pairs, 4 does not."""
    import pyspark.sql.functions as FF

    from tranquility_spark.operators.dedup import dhash_neardup_pairs

    base = -(1 << 63) + 12345          # negative 64-bit signature
    b = base ^ 0b111                   # hamming 3 from base -> pair
    c = base ^ 0b11110000              # hamming 4 from base -> no pair
    df = spark.createDataFrame(
        [(1, base), (2, b), (3, c)], "doc_id long, simhash long"
    )
    hexed = df.select(
        "doc_id", FF.lpad(FF.hex("simhash"), 16, "0").alias("__simhex")
    )
    pairs = dhash_neardup_pairs(hexed, threshold=3, hash_col="__simhex")
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()}
    assert got == {(1, 2, 3)}


def test_dhash_incremental_equals_full_run_restricted(spark, sf_dir):
    """r15 (the dd18b obligation split, promised by dd24b's doc): image
    incremental dedup of a new batch against the existing corpus's dHash
    band index returns EXACTLY the full-corpus dd16 pairs that touch a
    new id — same pairs, same hamming distances."""
    from tranquility_spark.operators.dedup import (
        dhash_band_index,
        dhash_incremental_pairs,
        dhash_neardup_pairs,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        image_dhash,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashes = image_dhash(attach_binary_payload(docs)).select("doc_id", "dhash")

    full = dhash_neardup_pairs(hashes, threshold=3)
    new_ids = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.hamming
        for r in full.collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }

    index = dhash_band_index(hashes.filter(F.col("doc_id") % 5 != 0))
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dhash_incremental_pairs(
            hashes.filter(F.col("doc_id") % 5 == 0), index, threshold=3
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no image near-dup pairs touching the new batch"


def test_audio_fp_pairs_equal_bruteforce(spark, sf_dir):
    """dd25's pigeonhole-completeness claim, pinned Spark-side too (the
    DuckDB oracle checks it cross-engine; this keeps the property under
    plain pytest): the banded audio near-dup pipeline returns EXACTLY
    the brute-force all-pairs hamming<=3 set over the fingerprints."""
    from tranquility_spark.operators.dedup import audio_fp_neardup_pairs
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        audio_energy_fingerprint,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = audio_energy_fingerprint(attach_binary_payload(docs))
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_fp_neardup_pairs(fps, threshold=3).collect()
    }
    vals = {r.doc_id: int(r.afp, 16) for r in fps.collect() if r.afp}
    ids = sorted(vals)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(vals[a] ^ vals[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert want, "fixture produced no audio near-dup pairs"


def test_audio_fp_incremental_equals_full_run_restricted(spark, sf_dir):
    """dd27's obligation split (the dd18b/dd24b shape on the audio
    family): incremental dedup of the new batch against the registry's
    band index returns EXACTLY the full-corpus dd25 pairs touching a
    new id — same pairs, same hamming distances."""
    from tranquility_spark.operators.dedup import (
        audio_fp_band_index,
        audio_fp_incremental_pairs,
        audio_fp_neardup_pairs,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        audio_energy_fingerprint,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = audio_energy_fingerprint(attach_binary_payload(docs)).select(
        "doc_id", "afp"
    )

    full = audio_fp_neardup_pairs(fps, threshold=3)
    new_ids = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.hamming
        for r in full.collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }

    index = audio_fp_band_index(fps.filter(F.col("doc_id") % 5 != 0))
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_fp_incremental_pairs(
            fps.filter(F.col("doc_id") % 5 == 0), index, threshold=3
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no audio near-dup pairs touching the new batch"


def _video_bruteforce(fps_rows, min_shared=2, max_df=None):
    """Independent containment reference over collected frame hashes."""
    import collections
    import itertools

    dh = collections.defaultdict(set)
    for r in fps_rows:
        if r.fhash is not None:
            dh[r.doc_id].add(r.fhash)
    inv = collections.defaultdict(set)
    for d, hs in dh.items():
        for h in hs:
            inv[h].add(d)
    if max_df is not None:
        inv = {h: ds for h, ds in inv.items() if len(ds) <= max_df}
        dh = collections.defaultdict(set)
        for h, ds in inv.items():
            for d in ds:
                dh[d].add(h)
    pc = collections.Counter()
    for h, ds in inv.items():
        for a, b in itertools.combinations(sorted(ds), 2):
            pc[(a, b)] += 1
    out = {}
    for (a, b), ns in pc.items():
        if ns >= min_shared:
            out[(a, b)] = (
                ns,
                len(dh[a]),
                len(dh[b]),
                round(ns / min(len(dh[a]), len(dh[b])), 6),
            )
    return out


def test_video_pairs_equal_bruteforce_and_max_df(spark, sf_dir):
    """dd28's containment claim pinned Spark-side (the DuckDB oracle
    checks it cross-engine): the inverted-index pipeline returns EXACTLY
    the brute-force shared-frame pair set — and the max_df hot-digest
    cap drops capped digests from BOTH the join and the containment
    denominators (max_df=1 leaves nothing shareable; a mid cap equals
    the capped brute force)."""
    from tranquility_spark.operators.dedup import video_neardup_pairs
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        video_frame_hashes,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = video_frame_hashes(attach_binary_payload(docs))
    fps_rows = fps.collect()

    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in video_neardup_pairs(fps, min_shared=2).collect()
    }
    want = _video_bruteforce(fps_rows, min_shared=2)
    assert got == want
    assert want, "fixture produced no shared-frame video pairs"

    # max_df=1: every digest shared by >= 2 docs is capped away
    assert video_neardup_pairs(fps, min_shared=2, max_df=1).count() == 0
    # a mid cap equals the capped brute force AND changes something
    import collections

    inv = collections.Counter()
    seen = collections.defaultdict(set)
    for r in fps_rows:
        if r.fhash is not None:
            seen[r.fhash].add(r.doc_id)
    hottest = max(len(v) for v in seen.values())
    assert hottest > 2, "fixture has no hot digest to cap"
    cap = hottest - 1
    got_cap = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in video_neardup_pairs(fps, min_shared=2, max_df=cap).collect()
    }
    want_cap = _video_bruteforce(fps_rows, min_shared=2, max_df=cap)
    assert got_cap == want_cap

    # controlled cap-effect check (the fixture's hot digests happen not to
    # carry pair-deciding weight, so the effect is pinned synthetically):
    # h0/h9 are boilerplate shared by ALL THREE docs; only (1,2) also
    # share h1/h2. Uncapped, every pair passes min_shared=2 through the
    # boilerplate; capped at 2, h0/h9 drop, (1,3)/(2,3) vanish, and
    # (1,2)'s count AND containment denominators both shrink.
    synth = spark.createDataFrame(
        [
            (1, 0, "aa"), (1, 1, "h1"), (1, 2, "h2"), (1, 3, "h0"), (1, 4, "h9"),
            (2, 0, "bb"), (2, 1, "h1"), (2, 2, "h2"), (2, 3, "h0"), (2, 4, "h9"),
            (3, 0, "cc"), (3, 1, "h0"), (3, 2, "h9"),
        ],
        "doc_id bigint, frame_idx bigint, fhash string",
    )
    uncapped = {
        (r.doc_a, r.doc_b): (r.n_shared, r.containment)
        for r in video_neardup_pairs(synth, min_shared=2).collect()
    }
    assert uncapped == {
        (1, 2): (4, 0.8),
        (1, 3): (2, round(2 / 3, 6)),
        (2, 3): (2, round(2 / 3, 6)),
    }
    capped = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in video_neardup_pairs(synth, min_shared=2, max_df=2).collect()
    }
    assert capped == {(1, 2): (2, 3, 3, round(2 / 3, 6))}


def test_video_incremental_equals_full_run_restricted(spark, sf_dir):
    """dd30's obligation (the dd18b shape on the video family):
    incremental containment of the new batch against the registry's
    frame index returns EXACTLY the full-corpus dd28 pairs touching a
    new id — same counts, same containments (both docs' complete digest
    sets are visible at probe time)."""
    from tranquility_spark.operators.dedup import (
        video_frame_index,
        video_incremental_pairs,
        video_neardup_pairs,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        video_frame_hashes,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = video_frame_hashes(attach_binary_payload(docs))

    full = video_neardup_pairs(fps, min_shared=2)
    new_ids = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    }
    want = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in full.collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }

    index = video_frame_index(fps.filter(F.col("doc_id") % 5 != 0))
    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in video_incremental_pairs(
            fps.filter(F.col("doc_id") % 5 == 0), index, min_shared=2
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no video pairs touching the new batch"


def test_video_incremental_capped_equals_capped_full_restricted(spark, sf_dir):
    """dd33's obligation (r17): the SNAPSHOT-capped incremental probe —
    df computed over the decision-time population (index ∪ new) —
    returns EXACTLY the capped full run's pairs touching a new id, with
    the capped run's post-cap per-doc counts. Includes the cross-side
    accumulation case: a digest at df 3(index)+2(new) with max_df 4
    must be dropped even though neither side alone exceeds the cap."""
    from tranquility_spark.operators.dedup import (
        video_frame_index,
        video_incremental_pairs_capped,
        video_neardup_pairs,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        video_frame_hashes,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = video_frame_hashes(attach_binary_payload(docs))
    for max_df in (2, 4):
        full = video_neardup_pairs(fps, min_shared=2, max_df=max_df)
        new_ids = {
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id")
            .collect()
        }
        want = {
            (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
            for r in full.collect()
            if r.doc_a in new_ids or r.doc_b in new_ids
        }
        index = video_frame_index(fps.filter(F.col("doc_id") % 5 != 0))
        got = {
            (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.containment)
            for r in video_incremental_pairs_capped(
                fps.filter(F.col("doc_id") % 5 == 0),
                index,
                min_shared=2,
                max_df=max_df,
            ).collect()
        }
        assert got == want, f"max_df={max_df}"
    assert want, "fixture produced no capped pairs touching the new batch"

    # synthetic cross-side accumulation: digest X at df 3+2 = 5 > 4 is
    # dropped globally; digest Y at 2+2 = 4 <= 4 survives and pairs
    schema = "doc_id long, frame_idx long, fhash string"
    old = spark.createDataFrame(
        [(i, 0, "x" * 16) for i in (1, 2, 3)]
        + [(i, 1, "y" * 16) for i in (1, 2)]
        + [(1, 2, "z" * 16), (2, 2, "z" * 16)],
        schema,
    )
    new = spark.createDataFrame(
        [(10, 0, "x" * 16), (11, 0, "x" * 16)]
        + [(10, 1, "y" * 16), (11, 1, "y" * 16)]
        + [(10, 2, "w" * 16), (11, 2, "w" * 16)],
        schema,
    )
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in video_incremental_pairs_capped(
            new, video_frame_index(old), min_shared=2, max_df=4
        ).collect()
    }
    # x (df 5) is capped away on BOTH sides; y (df 4) and w (df 2)
    # survive -> only the new-new pair (10, 11) reaches min_shared 2
    assert got == {(10, 11): 2}
    full_synth = video_neardup_pairs(
        new.unionByName(old), min_shared=2, max_df=4
    )
    want_synth = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in full_synth.collect()
        if r.doc_a in (10, 11) or r.doc_b in (10, 11)
    }
    assert got == want_synth


def test_video_incremental_capped_ids_only_same_pairs(spark, sf_dir):
    """r19 optimization guard: ``ids_only=True`` (the form pipe13's
    admission gates consume) returns EXACTLY the full form's (doc_a,
    doc_b) pair id set — which pairs exist depends only on the df cap
    and the shared-digest join, never on the per-doc count machinery it
    skips — with only the two id columns in the schema."""
    from tranquility_spark.operators.dedup import (
        video_frame_index,
        video_incremental_pairs_capped,
    )
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        video_frame_hashes,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = video_frame_hashes(attach_binary_payload(docs))
    new = fps.filter(F.col("doc_id") % 5 == 0)
    index = video_frame_index(fps.filter(F.col("doc_id") % 5 != 0))
    for max_df in (2, 4):
        full = video_incremental_pairs_capped(
            new, index, min_shared=2, max_df=max_df
        )
        ids = video_incremental_pairs_capped(
            new, index, min_shared=2, max_df=max_df, ids_only=True
        )
        assert ids.columns == ["doc_a", "doc_b"]
        got = {(r.doc_a, r.doc_b) for r in ids.collect()}
        want = {(r.doc_a, r.doc_b) for r in full.collect()}
        assert got == want, f"max_df={max_df}"
    assert want, "fixture produced no capped pairs touching the new batch"


def test_neardup_survivors_converged_long_chain(spark):
    """The r15b third-review finding, pinned: a chain component whose min
    node is farther than max_iterations hops used to return silently
    TRUNCATED labels (at sf0.1 the video pair graph has a 39-hop chain —
    634 wrong labels under the old 10-round budget). The converged form
    must (a) solve a long chain exactly under its default budget and
    (b) raise LOUDLY, never return, when the budget is too small."""
    import pytest

    from tranquility_spark.operators.dedup import neardup_survivors_converged

    n = 15  # chain 0-1-2-...-14: min node 0 is 14 hops from node 14
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    got = sorted(
        r.doc_id
        for r in neardup_survivors_converged(docs, pairs).collect()
    )
    assert got == [0]  # one component, min id survives

    # r16: max_iterations now bounds pointer-DOUBLING rounds (coverage
    # ~4^rounds hops, so the old diameter-denominated budget of 5 would
    # converge here). One round covers ~4 hops < 14 — the external
    # fixpoint check must still raise LOUDLY, never return truncated
    # labels.
    with pytest.raises(RuntimeError, match="fixpoint"):
        neardup_survivors_converged(docs, pairs, max_iterations=1).collect()

    # the doubling loop itself solves the chain exactly in log-diameter
    # rounds — the measured claim behind the dd32 re-anchor
    from tranquility_spark.operators.dedup import _cc_pointer_doubling

    labels, rounds, proven = _cc_pointer_doubling(pairs)
    assert {r.cluster_id for r in labels.collect()} == {0}
    assert rounds <= 4  # 14 hops: ceil(log4(14)) + O(1), not 14

    # min labels on the topology shapes the r17 CC comparison measured
    # (SCALE.md r17): chain, multi-component, clique-with-tail,
    # high-degree star, duplicate and reversed edges
    cases = {
        "chain": ([(i, i + 1) for i in range(9)], {i: 0 for i in range(10)}),
        "two_comps": (
            [(0, 1), (1, 2), (5, 6), (6, 7), (7, 8)],
            {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 5, 8: 5},
        ),
        "clique_tail": (
            [(3, 4), (4, 5), (3, 5), (5, 6), (6, 7)],
            {i: 3 for i in range(3, 8)},
        ),
        "star": ([(0, i) for i in range(1, 20)], {i: 0 for i in range(20)}),
        "dup_and_reversed": (
            [(1, 2), (2, 1), (1, 2), (9, 8)],
            {1: 1, 2: 1, 8: 8, 9: 8},
        ),
    }
    for name, (es, want) in cases.items():
        labels, _, proven = _cc_pointer_doubling(
            spark.createDataFrame(es, "id_a bigint, id_b bigint")
        )
        got = {r.id: r.cluster_id for r in labels.collect()}
        assert got == want and proven, f"{name}: {got}"


def test_hamming_banding_rejects_non_64bit_digest(spark):
    """ADVICE r15 #1: the shared 4x16-bit banding machinery hardcodes
    16-hex-char digests; a wider digest (audio_energy_fingerprint with
    n_segments=129 emits 32 hex chars) previously banded and verified
    only its first 64 bits — silently breaking pigeonhole completeness.
    The _guard_hex16 wrap must fail the job loudly instead, on both the
    inline pair path and the index build."""
    wide = spark.createDataFrame(
        [(1, "ab" * 16), (2, "cd" * 16)], "doc_id long, dhash string"
    )
    with pytest.raises(Exception, match="hex chars"):
        dd.dhash_neardup_pairs(wide).collect()
    with pytest.raises(Exception, match="hex chars"):
        dd.dhash_band_index(wide).collect()
    # the exact ADVICE scenario, end to end: a non-default fingerprint
    # geometry flowing into the audio banding pipeline
    from tranquility_spark.operators.multimodal import (
        attach_binary_payload,
        audio_energy_fingerprint,
    )

    docs = spark.createDataFrame(
        [(1, "payload one two three"), (2, "payload one two four")],
        "doc_id long, text string",
    )
    fps = audio_energy_fingerprint(attach_binary_payload(docs), n_segments=129)
    with pytest.raises(Exception, match="hex chars"):
        dd.audio_fp_neardup_pairs(fps).collect()
    # the valid default geometry still flows through untouched
    ok = audio_energy_fingerprint(attach_binary_payload(docs))
    dd.audio_fp_neardup_pairs(ok).collect()
    # NULL digests (dead-letter verdict) are filtered before the guard
    nulls = spark.createDataFrame(
        [(1, None), (2, "0" * 16)], "doc_id long, dhash string"
    )
    assert dd.dhash_band_index(nulls).count() == 4
    # right WIDTH, wrong ALPHABET (r16 review): conv(hex,16,10) would
    # silently parse only the valid prefix — the guard must catch it
    b32 = spark.createDataFrame(
        [(1, "MFRGGZDFMZTWQ2LK"), (2, "0" * 16)], "doc_id long, dhash string"
    )
    with pytest.raises(Exception, match="hex chars"):
        dd.dhash_neardup_pairs(b32).collect()
    with pytest.raises(Exception, match="hex chars"):
        dd.dhash_band_index(b32).collect()


def test_video_uncapped_df_guard(spark):
    """VERDICT r15 #4: the video family's max_df contract is structural.
    An uncapped pair extraction must raise loudly when any digest's
    document frequency exceeds _VIDEO_UNCAPPED_DF_LIMIT (the measured
    divergence regime), on BOTH the inline and the served form; an
    explicit max_df opts out; passing corpora are untouched."""
    import pytest

    from tranquility_spark.operators import dedup as d

    limit = d._VIDEO_UNCAPPED_DF_LIMIT
    # one boilerplate digest in limit+1 docs, plus a benign shared pair
    rows = [(i, 0, "00" * 8) for i in range(limit + 1)]
    rows += [(0, 1, "aa" * 8), (1, 1, "aa" * 8)]
    fps = spark.createDataFrame(rows, "doc_id long, frame_idx long, fhash string")
    with pytest.raises(Exception, match="uncapped"):
        d.video_neardup_pairs(fps, min_shared=1).collect()
    with pytest.raises(Exception, match="uncapped"):
        d.video_pairs_from_index(
            d.video_frame_index(fps), min_shared=1
        ).collect()
    # explicit cap: the hot digest is dropped, the benign pair survives
    capped = d.video_neardup_pairs(fps, min_shared=1, max_df=64).collect()
    assert {(r.doc_a, r.doc_b) for r in capped} == {(0, 1)}
    # under the limit, uncapped output is unchanged (byte-identical path)
    small = spark.createDataFrame(
        [(0, 0, "aa" * 8), (1, 0, "aa" * 8), (1, 1, "bb" * 8), (2, 0, "bb" * 8)],
        "doc_id long, frame_idx long, fhash string",
    )
    got = {
        (r.doc_a, r.doc_b, r.n_shared)
        for r in d.video_neardup_pairs(small, min_shared=1).collect()
    }
    assert got == {(0, 1, 1), (1, 2, 1)}


def test_video_incremental_index_df_guard(spark):
    """r16 review: the batch forms' divergence guard also covers the
    incremental probe — the accumulated index is the input that grows
    without bound. A TOUCHED index digest past _VIDEO_UNCAPPED_DF_LIMIT
    raises (loud, never a silent slow batch); an untouched saturated
    digest costs and risks nothing, so it does not; passing probes are
    output-identical (no filter — the union contract holds)."""
    import pytest

    from tranquility_spark.operators import dedup as d

    limit = d._VIDEO_UNCAPPED_DF_LIMIT
    schema = "doc_id long, frame_idx long, fhash string"
    hot = [(i, 0, "00" * 8) for i in range(limit + 1)]
    benign = [(limit + 1, 0, "aa" * 8), (limit + 2, 0, "bb" * 8)]
    idx = d.video_frame_index(spark.createDataFrame(hot + benign, schema))
    # batch touches the hot digest -> raise
    touch = spark.createDataFrame([(10_000, 0, "00" * 8)], schema)
    with pytest.raises(Exception, match="saturated"):
        d.video_incremental_pairs(touch, idx, min_shared=1).collect()
    # batch touches only benign digests -> normal result
    miss = spark.createDataFrame(
        [(10_001, 0, "aa" * 8), (10_001, 1, "cc" * 8)], schema
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in d.video_incremental_pairs(miss, idx, min_shared=1).collect()
    }
    assert got == {(limit + 1, 10_001)}
