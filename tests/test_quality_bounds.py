"""Quantified quality bounds for the rows-only (no_oracle) catalog entries.

Every approximate/rows-only entry cites a numeric test against its exact twin
(VERDICT round-1 ask #3): dd2/sim3 recall tests live in
test_dedup_similarity.py, a6/a10 tolerance in test_operators.py, a11c/a11d in
test_sketch.py — this file covers the remainder: dd5, sim2, a11_theta, dd7,
pipe1. All LSH constructions here are seed-fixed, so the measured recalls are
deterministic; the asserted floors sit just below the measured values at
sf0.001 AND sf0.01 (both recorded in comments).
"""

import pyspark.sql.functions as F
import pytest

from tranquility_spark.catalog import CATALOG
from tranquility_spark.operators import dedup as dd
from tranquility_spark.operators import similarity as sim
from tranquility_spark.sources.files import load_table


def _exact_cosine_pairs(emb, threshold):
    e = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda s: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(F.col(f"{s}.v"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cos", dot / (nrm("a") * nrm("b")))
        .filter(F.col("cos") >= threshold)
        .select("a.id", "b.id")
    )


def test_dd5_lsh_pairs_precision_exact_recall_bounded(spark, sf_dir):
    """dd5: multi-table LSH pairs are a SUBSET of the exact cosine pairs
    (precision 1.0 by construction — every candidate is cosine-verified) and
    recall ≥ 0.65 (measured: 0.763 at sf0.001, 0.745 at sf0.01; theory for
    8 tables × 4 planes at p≈0.61: 1-(1-p⁴)⁸ ≈ 0.70)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r[0], r[1]) for r in _exact_cosine_pairs(emb, 0.35).collect()}
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(
            emb, threshold=0.35, num_planes=4, num_tables=8
        ).collect()
    }
    assert got <= exact, "LSH emitted a pair below the cosine threshold"
    assert len(exact) > 0
    assert len(got & exact) / len(exact) >= 0.65


def test_dd13_cluster_scoped_precision_exact_recall_bounded(spark, sf_dir):
    """dd13 SemDeDup: every vec it drops has a genuine lower-id cosine>tau
    partner SOMEWHERE in the corpus (within-cluster pairs are a subset of
    all pairs — precision 1.0 by construction), and cluster-scoping keeps
    recall >= 0.25 of the unclustered drop set (measured: 0.36/0.33/0.51 at
    sf0.001/0.01/0.1 — uniform-random embeddings are the adversarial case:
    'near-dups' at tau=0.35 are not near-identical, so same-cluster
    probability is only mildly above the 1/8 independence baseline; on real
    near-duplicate embeddings the pair IS the cluster's reason to exist).
    The entry itself is hash-certified; this test quantifies the DESIGN
    trade (cross-cluster pairs invisible) against the exact twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact_pairs = _exact_cosine_pairs(emb, 0.35).collect()
    # unclustered drop rule: any vec with a lower-id partner is droppable
    exact_drops = {max(r[0], r[1]) for r in exact_pairs}
    got_drops = {
        r["vec_id"]
        for r in CATALOG["dd13_semantic_dedup"].fn(spark, sf_dir).collect()
        if r["keep"] == 0
    }
    assert got_drops <= exact_drops, "dd13 dropped a vec with no real partner"
    assert len(exact_drops) > 0
    assert len(got_drops & exact_drops) / len(exact_drops) >= 0.25


def test_sim2_multiprobe_recall_bounded(spark, sf_dir):
    """sim2 vs sim1 exact top-10: query-directed multi-probe (5 of 16
    buckets, ~3× scan reduction) must keep recall@10 ≥ 0.4 (measured: 0.5 at
    sf0.001, 0.4 at sf0.01 — this corpus's near-uniform embeddings are the
    adversarial case for sign-bit LSH; sim3 IVF is the high-recall path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact_top = {r["vec_id"] for r in sim.cosine_topk_self(emb, query_id=0, k=10).collect()}
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    ann = sim.lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10, num_planes=4).collect()
    ann_top = {r["vec_id"] for r in ann}
    assert len(exact_top & ann_top) / 10 >= 0.4
    # and every returned cosine is genuine (scores computed exactly): the ANN
    # result's best score cannot exceed the true best
    best_exact = sim.cosine_topk_self(emb, query_id=0, k=1).first()["cosine"]
    assert max(r["cosine"] for r in ann) <= best_exact + 1e-9


def test_a11_theta_tracks_exact_distinct(spark, sf_dir):
    """a11_theta (approx_count_distinct per day) vs exact countDistinct:
    HLL++ default rsd 5% — assert a 15% envelope per group."""
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r["day"]: r["theta_users"]
        for r in CATALOG["a11_theta_sketch_approx"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(0.15 * n, 2), f"{day}: {approx[day]} vs {n}"


def test_dd7_survivors_are_fixed_point(spark, sf_dir):
    """dd7: survivor selection is idempotent — re-running pair generation +
    clustering on the survivor set yields no further merges (every remaining
    near-dup pair was collapsed), and survivors + victims partition the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "text", "doc_id")
    survivors = dd.neardup_survivors_converged(docs, pairs, "doc_id")
    n_docs, n_surv = docs.count(), survivors.count()
    labels, _, _ = dd._cc_pointer_doubling(pairs)
    n_victims = labels.filter(F.col("id") != F.col("cluster_id")).count()
    assert n_surv == n_docs - n_victims  # partition: survivors + victims

    pairs2 = dd.minhash_lsh_pairs(survivors, "text", "doc_id")
    survivors2 = dd.neardup_survivors_converged(survivors, pairs2, "doc_id")
    assert survivors2.count() == n_surv  # fixed point: nothing left to merge


def test_pipe1_stage_counts_reconcile(spark, sf_dir):
    """pipe1: the composed pipeline's per-language outputs reconcile with the
    stages applied individually — totals match the survivor/sample chain and
    packing respects the 4096-token bin capacity."""
    from tranquility_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        neardup_survivors_converged,
    )
    from tranquility_spark.operators.text import hash_sample, quality_filter

    out = {r["lang"]: r for r in CATALOG["pipe1_corpus_pipeline"].fn(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents")
    verdicts = quality_filter(docs).select("doc_id", "keep")
    kept = docs.join(verdicts.filter(F.col("keep")), "doc_id").drop("keep")
    survivors_exact = exact_dedup(kept, "text", "doc_id").select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = kept.join(survivors_exact, "doc_id")
    kept = neardup_survivors_converged(
        kept, minhash_lsh_pairs(kept, "text", "doc_id"), "doc_id"
    )
    train = hash_sample(kept, "doc_id", 80)
    expected = {
        r["lang"]: (r["n"], r["toks"])
        for r in train.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("toks"),
        )
        .collect()
    }
    assert out.keys() == expected.keys()
    for lang, (n, toks) in expected.items():
        assert out[lang]["n_docs"] == n, lang
        assert out[lang]["n_tokens"] == toks, lang
        # bins hold ≥1 doc each and never exceed capacity on average
        assert out[lang]["n_bins"] <= n
        assert toks <= out[lang]["n_bins"] * 4096 or n == out[lang]["n_bins"]


def test_ivf_partitioned_layout_prunes_probe_scan(spark, sf_dir, tmp_path):
    """The sim3 100 TB serving claim, demonstrated: write the corpus
    partitionBy(centroid_id), probe with a centroid filter, and the scan's
    PartitionFilters prune to the probed inverted lists (no full-corpus
    read); results equal the unpartitioned probe."""
    from tranquility_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
        with_centroid_id,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_centroids=8)
    out = str(tmp_path / "ivf")
    with_centroid_id(emb, cents).write.partitionBy("centroid_id").parquet(out)

    indexed = spark.read.parquet(out)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    probe = ivf_topk(
        indexed,
        qvec,
        k=10,
        nprobe=2,
        n_centroids=8,
        centroids=cents,
        use_existing_assignment=True,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200]
    baseline = ivf_topk(emb, qvec, k=10, nprobe=2, n_centroids=8, centroids=cents)
    assert [tuple(r) for r in probe.collect()] == [tuple(r) for r in baseline.collect()]


def test_ivf_topk_default_does_not_trust_stale_assignment(spark, sf_dir):
    """A centroid_id column built from DIFFERENT centroids (stale index)
    must not poison results: by default ivf_topk recomputes the assignment
    from the centroids it was given, so a mismatched layout returns the
    same neighbors as a clean probe. Trusting the column is opt-in."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.similarity import ivf_centroids, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_centroids=8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    clean = ivf_topk(emb, qvec, k=10, nprobe=2, n_centroids=8, centroids=cents)
    # adversarial stale layout: every row claims inverted list 0
    stale = emb.withColumn("centroid_id", F.lit(0))
    recomputed = ivf_topk(stale, qvec, k=10, nprobe=2, n_centroids=8, centroids=cents)
    assert [tuple(r) for r in recomputed.collect()] == [tuple(r) for r in clean.collect()]


def test_dd3_simhash_hamming_separates_near_dups(spark):
    """dd3 quantitative bound: near-identical docs differ in ≤ 12 of 64
    SimHash bits; unrelated docs differ in ≥ 20 (the standard 3-bit-per-
    shingle-change regime) — the signature is usable as a dedup key."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river banks"),
        (3, "completely different subject matter about quantum chromodynamics lattice gauge"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(df).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) <= 12
    assert ham(sigs[1], sigs[3]) >= 20


@pytest.mark.parametrize("entry", ["a6_hyperunique_approx", "a10_quantiles_approx"])
def test_approx_twin_rows_match_exact_twin_rows(spark, sf_dir, entry):
    """Shape parity: each approx twin returns the same group keys as its
    exact twin (values covered by the tolerance tests)."""
    exact_name = {
        "a6_hyperunique_approx": "a6_hyperunique_exact",
        "a10_quantiles_approx": "a10_quantiles_exact",
    }[entry]
    a = CATALOG[entry].fn(spark, sf_dir)
    e = CATALOG[exact_name].fn(spark, sf_dir)
    key = a.columns[0]
    assert {r[key] for r in a.select(key).collect()} == {
        r[key] for r in e.select(key).collect()
    }


def test_sim5_pq_recall_determinism_and_serving_path(spark, sf_dir):
    """PQ+rerank: (1) deterministic across runs (codebooks, encoding and
    ADC lookups are seed-free arithmetic); (2) recall@10 >= 0.4 vs exact
    sim1 (measured 0.6 at sf0.001 AND sf0.01 on uniform-random embeddings);
    (3) returned cosines are EXACT (rerank recomputes them — equal to the
    brute-force scores for the ids both return); (4) the serving path over
    a pre-built pq_codes column returns identical rows to re-encoding, and
    refuses to run without the column."""
    import pytest
    from pyspark.sql import functions as FF

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(FF.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    books = sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1)
    r1 = sim.pq_topk(emb, qvec, books, k=10, shortlist=100).collect()
    r2 = sim.pq_topk(emb, qvec, books, k=10, shortlist=100).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]

    exact = {r["vec_id"]: r["cosine"] for r in sim.cosine_topk(emb, qvec, k=10).collect()}
    got = {r["vec_id"]: r["cosine"] for r in r1}
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.4, recall
    for vid in set(got) & set(exact):
        assert got[vid] == exact[vid], vid  # rerank scores are exact

    indexed = sim.pq_encode(emb, books)
    served = sim.pq_topk(
        indexed, qvec, books, k=10, shortlist=100, use_existing_codes=True
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in r1]
    with pytest.raises(ValueError, match="pq_codes"):
        sim.pq_topk(emb, qvec, books, k=10, use_existing_codes=True)
    # codes live in [0, 16)
    rng = indexed.select(
        FF.array_min("pq_codes").alias("lo"), FF.array_max("pq_codes").alias("hi")
    ).agg(FF.min("lo"), FF.max("hi")).collect()[0]
    assert rng[0] >= 0 and rng[1] < 16


def test_pq_codebooks_short_corpus_raises(spark):
    """ADVICE r07: fewer corpus vectors than k (incl. an empty corpus) must
    fail loudly at codebook build, not crash opaquely in the encode UDF."""
    import pytest as pt

    from pyspark.sql import functions as FF

    from tranquility_spark.operators import similarity as sim

    empty = (
        spark.range(0)
        .withColumnRenamed("id", "vec_id")
        .withColumn("embedding", FF.array(FF.lit(1.0), FF.lit(2.0)))
    )
    with pt.raises(ValueError, match="at least k=16"):
        sim.pq_codebooks(empty, n_sub=2, k=16)
    short = (
        spark.range(5)
        .withColumnRenamed("id", "vec_id")
        .withColumn("embedding", FF.array(FF.lit(1.0), FF.lit(2.0)))
    )
    with pt.raises(ValueError, match="got 5"):
        sim.pq_codebooks(short, n_sub=2, k=16)


def test_ivfpq_composition_recall(spark, sf_dir):
    """The IVF-PQ composition SCALE.md describes: PQ codes written into an
    IVF (centroid_id-partitioned) layout, query probes nprobe lists
    (partition pruning) and ranks ONLY those rows' codes via ADC before the
    exact rerank. Must be deterministic and keep recall within reach of
    whole-corpus PQ (probing can only lose rows the IVF filter excludes)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.operators import similarity as sim
    from tranquility_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(FF.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    cents = sim.ivf_centroids(emb, n_centroids=16)
    books = sim.pq_codebooks(emb, n_sub=4, k=16, refine_iters=1)
    # the index build: one layout carrying BOTH structures
    indexed = sim.pq_encode(sim.with_centroid_id(emb, cents), books)

    import math

    qn = math.sqrt(sum(x * x for x in qvec)) or 1e-12
    probe = sorted(
        range(len(cents)),
        key=lambda i: -(
            sum(a * b for a, b in zip(qvec, cents[i]))
            / (qn * (math.sqrt(sum(x * x for x in cents[i])) or 1e-12))
        ),
    )[:8]
    pruned = indexed.filter(FF.col("centroid_id").isin(probe))
    got1 = sim.pq_topk(
        pruned, qvec, books, k=10, shortlist=100, use_existing_codes=True
    ).collect()
    got2 = sim.pq_topk(
        pruned, qvec, books, k=10, shortlist=100, use_existing_codes=True
    ).collect()
    assert [tuple(r) for r in got1] == [tuple(r) for r in got2]

    exact = {r["vec_id"] for r in sim.cosine_topk(emb, qvec, k=10).collect()}
    ivfpq = {r["vec_id"] for r in got1}
    full_pq = {
        r["vec_id"]
        for r in sim.pq_topk(emb, qvec, books, k=10, shortlist=100).collect()
    }
    assert len(ivfpq & exact) / 10 >= 0.3  # half the lists probed
    # pruning only removes candidates outside the probed lists: anything
    # IVF-PQ returns that full-PQ also returns must carry the same score
    scores_full = {
        r["vec_id"]: r["cosine"]
        for r in sim.pq_topk(emb, qvec, books, k=10, shortlist=100).collect()
    }
    for r in got1:
        if r["vec_id"] in scores_full:
            assert r["cosine"] == scores_full[r["vec_id"]]


def test_pipe5_stage_counts_reconcile(spark, sf_dir):
    """pipe5's summary row must reconcile exactly with the individual
    certified operators run separately: the stages partition the new batch
    (known + near-dup + low-quality + admitted == new), and each stage
    count equals its standalone recomputation."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators import dedup as dd
    from tranquility_spark.operators.text import quality_filter
    from tranquility_spark.sources.files import load_table

    r = CATALOG["pipe5_incremental_ingest"].fn(spark, sf_dir).collect()[0]
    assert (
        r.n_exact_known + r.n_near_dup + r.n_low_quality + r.n_admitted
        == r.n_new
    )
    docs = load_table(spark, sf_dir, "documents")
    new_pred = FF.col("doc_id") % 5 == 0
    assert r.n_new == docs.filter(new_pred).count()
    # stage 2 standalone: ungated incremental pairs vs the registry index
    index = dd.lsh_band_index(
        docs.filter(~new_pred), num_hashes=64, bands=16, shingle_k=3
    )
    pairs = dd.incremental_neardup_pairs(
        docs.filter(new_pred), index,
        num_hashes=64, bands=16, shingle_k=3, threshold=0.5,
    )
    near = (
        pairs.select(FF.explode(FF.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
        .join(docs.filter(new_pred).select("doc_id"), "doc_id", "left_semi")
        .count()
    )
    assert r.n_near_dup == near  # fixture has no exact dups: nothing removed upstream
    # stage 3 standalone on the survivors
    survivors = (
        docs.filter(new_pred)
        .join(
            pairs.select(FF.explode(FF.array("id_a", "id_b")).alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
    )
    assert r.n_admitted == quality_filter(survivors).filter(FF.col("keep")).count()


def test_pipe5_exact_gate_catches_planted_duplicates(spark, sf_dir, tmp_path):
    """The fixture has no exact cross-split duplicates (n_exact_known=0), so
    plant some: overwrite 7 new-batch docs' text with registry docs' text
    and assert stage 1 removes EXACTLY those 7 (bloom positives verified by
    the semi-join — false positives cannot inflate the count) and that they
    never reach the near-dup stage."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    new_pred = FF.col("doc_id") % 5 == 0
    reg_texts = [
        r["text"]
        for r in docs.filter(~new_pred).orderBy("doc_id").limit(7).collect()
    ]
    new_ids = [
        r["doc_id"]
        for r in docs.filter(new_pred).orderBy("doc_id").limit(7).collect()
    ]
    mapping = dict(zip(new_ids, reg_texts))
    planted = docs.withColumn(
        "text",
        FF.coalesce(
            *[
                FF.when(FF.col("doc_id") == i, FF.lit(t))
                for i, t in mapping.items()
            ],
            FF.col("text"),
        ),
    )
    d = str(tmp_path / "sf")
    planted.write.parquet(f"{d}/documents.parquet")
    r = CATALOG["pipe5_incremental_ingest"].fn(spark, d).collect()[0]
    assert r.n_exact_known == 7
    assert (
        r.n_exact_known + r.n_near_dup + r.n_low_quality + r.n_admitted
        == r.n_new
    )


def test_samp9_downweight_rate_and_dd13_consistency(spark, sf_dir):
    """samp9's admission rate per cluster tracks n^-0.5 (expected sqrt(n)
    admitted; assert a generous CLT envelope), every cluster keeps at
    least one admitted doc at fixture scale, and its cluster assignment is
    IDENTICAL to dd13's (same literals, same argmax)."""
    import math

    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["samp9_cluster_downweight"].fn(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) > 1
    for cid, members in by_cluster.items():
        n = members[0]["n_in_cluster"]
        assert n == len(members)
        admitted = sum(r["admitted"] for r in members)
        expect = math.sqrt(n)
        # shard admission is Bernoulli(n^-0.5) per doc: 4-sigma envelope
        sigma = math.sqrt(n * (1 / expect) * (1 - 1 / expect)) if n > 1 else 0
        assert abs(admitted - expect) <= 4 * sigma + 2, (cid, n, admitted)
        assert admitted >= 1, cid  # big clusters never collapse to zero here
    dd13 = {
        r["vec_id"]: r["cluster_id"]
        for r in CATALOG["dd13_semantic_dedup"].fn(spark, sf_dir).collect()
    }
    assert {r["vec_id"]: r["cluster_id"] for r in rows} == dd13
