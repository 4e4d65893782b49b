"""Edge-case hardening: empty frames, NULLs, unicode, degenerate inputs.

Every case here is a shape the driver or a real pipeline can produce; none
should throw (ANSI mode makes silent-coercion bugs loud, so these tests are
cheap insurance that the try_* discipline held everywhere).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tranquility_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, with_minhash_signature
from tranquility_spark.operators.text import quality_features, token_count
from tranquility_spark.plans.rollup import build_rollup
from tranquility_spark.specs import Count, DimensionsSpec, DoubleSum, GranularitySpec, IngestSpec, TimestampSpec
from tranquility_spark.streaming.sink import SegmentSink


def _spec():
    return IngestSpec(
        datasource="wiki",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["page"]),
        metrics=(Count("n"), DoubleSum("added_sum", "added")),
        granularity_spec=GranularitySpec("HOUR", "MINUTE"),
    )


def test_rollup_on_empty_frame(spark):
    df = spark.createDataFrame([], "timestamp string, page string, added double")
    out = build_rollup(_spec())(df)
    assert out.count() == 0
    assert set(out.columns) == {"ts", "page", "n", "added_sum"}


def test_rollup_all_timestamps_unparseable(spark):
    df = spark.createDataFrame(
        [("garbage", "a", 1.0), ("", "b", 2.0)], "timestamp string, page string, added double"
    )
    assert build_rollup(_spec())(df).count() == 0


def test_rollup_null_dimension_and_metric(spark):
    df = spark.createDataFrame(
        [("2024-06-01T11:00:10", None, None), ("2024-06-01T11:00:20", None, 2.0)],
        "timestamp string, page string, added double",
    )
    rows = build_rollup(_spec())(df).collect()
    # NULL dim is a real group (Druid keeps null dimension values);
    # NULL metric input is ignored by sum
    assert len(rows) == 1
    assert rows[0]["n"] == 2 and rows[0]["added_sum"] == 2.0


def test_segment_sink_empty_batch_commits_marker(spark, tmp_path):
    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    df = spark.createDataFrame([], "ts timestamp, page string")
    assert sink.write_batch(df, batch_id=1) == 0
    # marker written → replay of the empty batch is also a no-op
    assert sink.write_batch(df, batch_id=1) == 0
    assert sink.buckets() == []


def test_minhash_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "one two three four five")], "doc_id long, text string"
    )
    sig = with_minhash_signature(df, "text").collect()
    by_id = {r.doc_id: r.sig for r in sig}
    assert by_id[1] is None and by_id[2] is None  # < shingle_k tokens
    assert len(by_id[3]) == 64
    # and the pair op tolerates them
    assert minhash_lsh_pairs(df, "text", "doc_id").count() == 0


def test_dedup_and_text_ops_unicode(spark):
    df = spark.createDataFrame(
        [(1, "héllo wörld 你好 émoji 🎉"), (2, "héllo wörld 你好 émoji 🎉"), (3, "plain ascii")],
        "doc_id long, text string",
    )
    d = exact_dedup(df, "text", "doc_id").collect()
    assert sorted(r.dup_count for r in d) == [1, 2]
    q = quality_features(df, "text", "doc_id")
    assert q.count() == 3
    tc = df.select(token_count(F.col("text")).alias("t")).collect()
    assert all(r.t > 0 for r in tc)


def test_window_filter_exact_boundaries(spark):
    from tranquility_spark.operators.window_filter import two_sided_window_filter

    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 6, 1, 11, 50, 0), "edge_late"),    # exactly -10m: kept
            (dt.datetime(2024, 6, 1, 12, 10, 0), "edge_future"),  # exactly +10m: kept
            (dt.datetime(2024, 6, 1, 11, 49, 59), "too_late"),
            (dt.datetime(2024, 6, 1, 12, 10, 1), "too_future"),
        ],
        "ts timestamp, tag string",
    )
    kept = {r.tag for r in two_sided_window_filter(df, "ts", "PT10M", now=now).collect()}
    assert kept == {"edge_late", "edge_future"}  # inclusive bound (|Δ| ≤ W)


def test_rollup_multivalue_array_dimension(spark):
    """Druid multi-value dims pass through as arrays (SURVEY §1.3): the array
    value IS the group key at ingest; the explode variant is query-side."""
    spec = IngestSpec(
        datasource="mv",
        timestamp_spec=TimestampSpec(column="timestamp", format="iso", output="ts"),
        dimensions_spec=DimensionsSpec(dimensions=["tags"]),
        metrics=(Count("n"),),
        granularity_spec=GranularitySpec("HOUR", "HOUR"),
    )
    df = spark.createDataFrame(
        [
            ("2024-06-01T11:00:00", ["a", "b"]),
            ("2024-06-01T11:10:00", ["a", "b"]),
            ("2024-06-01T11:20:00", ["b"]),
        ],
        "timestamp string, tags array<string>",
    )
    rows = {tuple(r.tags): r.n for r in build_rollup(spec)(df).collect()}
    assert rows == {("a", "b"): 2, ("b",): 1}


def test_segment_read_partition_pruning(spark, tmp_path):
    """A bucket filter on the sink layout must prune at the file index level."""
    import datetime as dt

    sink = SegmentSink(str(tmp_path / "seg"), "wiki", "HOUR")
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, h, 5), f"p{h}") for h in range(6, 12)],
        "ts timestamp, page string",
    )
    sink.write_batch(df, 1)
    pruned = sink.read(spark).filter(F.col("g") == "2024-06-01-09-00")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(g" in plan
    assert pruned.count() == 1


def test_kmv_sketch_empty_and_single_value(spark):
    """Empty input → empty sketch table; single distinct value → exact est 1,
    theta 1 (the below-k exactness contract at its minimum)."""
    from tranquility_spark.operators.sketch import kmv_sketch, theta_set_ops

    empty = spark.createDataFrame([], "grp string, v string")
    assert kmv_sketch(empty, ["grp"], "v", k=16).count() == 0

    one = spark.createDataFrame([("a", "x"), ("a", "x")], "grp string, v string")
    row = kmv_sketch(one, ["grp"], "v", k=16).collect()[0]
    assert row["est"] == 1.0 and row["theta"] == 1.0 and len(row["kmv"]) == 1

    # set ops of a sketch with itself: intersection == union == the set
    sk = kmv_sketch(one, ["grp"], "v", k=16).drop("grp")
    ops = theta_set_ops(sk, sk).collect()[0]
    assert ops["inter_est"] == 1.0 and ops["union_est"] == 1.0 and ops["a_only_est"] == 0.0


def test_sessionize_batch_single_event_and_exact_gap(spark, sf_dir):
    """A lone event forms session 1 with duration 0; a gap of exactly 1800 s
    does NOT split (threshold is strictly greater-than)."""
    import datetime as dt

    from tranquility_spark.catalog import CATALOG

    # reuse the entry's logic on a crafted frame via the same operators
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    T = lambda s: dt.datetime(2024, 6, 1, 12, 0, 0) + dt.timedelta(seconds=s)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, 10, T(0)), (1, 11, T(1800)), (2, 20, T(0))],
        "user_id long, event_id long, ts timestamp",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = FF.col("ts").cast("long") - FF.lag(FF.col("ts").cast("long")).over(w)
    sessions = (
        ev.withColumn("new_sess", FF.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "session_id",
            FF.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "session_id")
        .agg(FF.count(FF.lit(1)).alias("n"))
        .collect()
    )
    got = {(r["user_id"], r["session_id"]): r["n"] for r in sessions}
    assert got == {(1, 1): 2, (2, 1): 1}  # 1800s gap stays one session


def test_pivot_missing_value_yields_null_column(spark):
    """Pivot with an explicit value list emits NULL (not a dropped column)
    for types absent from the data — schema is stable regardless of data."""
    import datetime as dt

    from pyspark.sql import functions as FF

    ev = spark.createDataFrame(
        [(dt.datetime(2024, 6, 1, 1), "click", 1.5)],
        "ts timestamp, event_type string, value double",
    )
    piv = (
        ev.groupBy(FF.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "view"])
        .agg(FF.sum("value"))
        .collect()[0]
    )
    assert piv["click"] == 1.5 and piv["view"] is None


def test_weighted_sample_zero_weight_guard(spark):
    """samp3's greatest(w, 1) floor: zero/negative token counts can't divide
    by zero or flip the key sign."""
    from pyspark.sql import functions as FF

    from tranquility_spark.operators.partitioning import portable_shard

    df = spark.createDataFrame([(1, 0), (2, -5), (3, 10)], "doc_id long, n_chars int")
    u = (portable_shard(FF.col("doc_id"), 1000003) + FF.lit(0.5)) / FF.lit(1000003.0)
    key = FF.round(FF.log(u) / FF.greatest(FF.col("n_chars"), FF.lit(1)), 9)
    rows = df.withColumn("k", key).collect()
    assert all(r["k"] < 0 for r in rows)  # ln(u)<0, weight floor keeps sign


def test_druid_query_analog_plans(spark, sf_dir):
    """dq5/dq6/dq7 plan shapes: the interval + dimension filters reach the
    parquet scan, and the metric-ranked limits compile to
    TakeOrderedAndProject (per-partition heaps), never a global Sort."""
    from tranquility_spark.catalog import CATALOG

    ts_plan = (
        CATALOG["dq5_timeseries"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters:" in ts_plan and "IsNotNull(ts)" in ts_plan

    for name in ("dq6_topn", "dq7_groupby_having"):
        plan = (
            CATALOG[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan, name


def test_dq16_grand_total_single_pass_and_semantics(spark, sf_dir):
    """dq16's ROLLUP compiles to ONE scan + Expand + hash agg — the corpus
    is never read twice for the total row — and the total row equals the
    sum over the per-bucket rows exactly (decimal accumulation)."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["dq16_timeseries_grand_total"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    rows = df.collect()
    total = [r for r in rows if r["is_total"] == 1]
    buckets = [r for r in rows if r["is_total"] == 0]
    assert len(total) == 1 and total[0]["day"] is None
    assert total[0]["n"] == sum(r["n"] for r in buckets)
    assert abs(total[0]["sum_value"] - sum(r["sum_value"] for r in buckets)) < 1e-6
    assert all(r["day"] is not None for r in buckets)


def test_single_consumption_rewrites_scan_once(spark, sf_dir):
    """The r8 single-consumption rewrites are structural, so pin them in
    the physical plan: hh1 (Misra-Gries build+merge+topk) and dq8
    (retention cohorts) each read their source exactly ONCE — the old
    agg+join branch shapes re-executed the scan subtree per branch."""
    from tranquility_spark.catalog import CATALOG

    for name, max_exchanges in (
        ("hh1_heavy_hitters_merge", 5),
        ("dq8_retention_cohorts", 3),
        ("a10c_quantile_sketch_merge", 6),
    ):
        plan = (
            CATALOG[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Scan parquet") == 1, (name, plan)
        assert plan.count("Exchange") <= max_exchanges, (
            name,
            plan.count("Exchange"),
        )


def test_chunking_boundaries(spark):
    """Empty text -> one empty chunk (no silent doc drop); exact-stride
    lengths don't emit a phantom empty trailing chunk; overlap is
    chunk_size - stride."""
    from tranquility_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "x" * 150), (3, "x" * 151), (4, "a" * 200 + "b" * 100)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_size=200, stride=150)
    by_doc = {r["doc_id"]: r for r in out.groupBy("doc_id").count().collect()}
    assert by_doc[1]["count"] == 1  # empty doc still emits one chunk
    assert by_doc[2]["count"] == 1  # len == stride: no phantom 2nd chunk
    assert by_doc[3]["count"] == 2  # one char past stride opens chunk 1
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    assert rows[(1, 0)]["chunk"] == "" and rows[(1, 0)]["chunk_chars"] == 0
    # doc 4: chunk 0 = [0,200), chunk 1 = [150,300) — 50-char overlap
    assert rows[(4, 0)]["chunk"] == "a" * 200
    assert rows[(4, 1)]["chunk"] == "a" * 50 + "b" * 100
    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(df, chunk_size=200, stride=0)


def test_quantize_zero_norm_vector(spark):
    """A degenerate all-zero embedding quantizes to zeros (norm 0) instead of
    raising a divide-by-zero under ANSI mode."""
    from tranquility_spark.operators.embeddings import l2_normalize_quantize

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [3.0, 4.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in l2_normalize_quantize(df).collect()}
    assert rows[1]["l2_norm"] == 0.0 and rows[1]["q"] == [0, 0, 0]
    assert rows[2]["l2_norm"] == 5.0 and rows[2]["q"] == [76, 102, 0]


def test_label_centroids_shape(spark):
    """Centroid table is |labels| x dims rows with exact means."""
    from tranquility_spark.operators.embeddings import label_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [5.0, 6.0])],
        "label int, embedding array<float>",
    )
    rows = {(r["label"], r["dim"]): r for r in label_centroids(df).collect()}
    assert len(rows) == 4
    assert rows[(0, 0)]["mean_v"] == 2.0 and rows[(0, 1)]["mean_v"] == 3.0
    assert rows[(1, 0)]["mean_v"] == 5.0 and rows[(1, 0)]["n_vecs"] == 1


def test_mixture_resample_hits_target(spark, sf_dir):
    """samp4: the binding stratum survives whole; achieved shares track the
    target weights within hash-sampling noise; reproducible rerun."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.catalog_llm import _MIX_WEIGHTS
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_by_lang = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    weights = dict(_MIX_WEIGHTS)
    t_total = min(n_by_lang[l] / w for l, w in weights.items())
    binding = min(weights, key=lambda l: n_by_lang[l] / weights[l])

    out = CATALOG["samp4_mixture_resample"].fn(spark, sf_dir)
    got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert got[binding] == n_by_lang[binding]  # keep fraction 1.0 exactly
    for lang, w in weights.items():
        expected = t_total * w
        # portable-hash thresholding is binomial-ish: allow 4*sqrt(n) + 2
        assert abs(got.get(lang, 0) - expected) <= 4 * expected**0.5 + 2, lang
    rerun = {r["lang"]: r["count"] for r in
             CATALOG["samp4_mixture_resample"].fn(spark, sf_dir).groupBy("lang").count().collect()}
    assert rerun == got  # deterministic, not rand()


def test_chunk_dedup_conservation(spark, sf_dir):
    """pipe2: kept + dropped chunks reconcile with the raw chunk count, and
    dropped == (total - distinct digests)."""
    import pyspark.sql.functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.text import chunk_documents
    from tranquility_spark.sources.files import load_table

    chunks = chunk_documents(load_table(spark, sf_dir, "documents"))
    totals = chunks.agg(
        FF.count(FF.lit(1)).alias("n"),
        FF.countDistinct(FF.md5("chunk")).alias("n_distinct"),
    ).collect()[0]
    out = CATALOG["pipe2_chunk_dedup"].fn(spark, sf_dir).agg(
        FF.sum("chunks_kept").alias("kept"), FF.sum("chunks_dropped").alias("dropped")
    ).collect()[0]
    assert out["kept"] + out["dropped"] == totals["n"]
    assert out["kept"] == totals["n_distinct"]


def test_driver_window_rotation_invariants():
    """Structural guards for the certification machinery (round-4/5
    lessons): every uncertified key must occupy the driver's 50-slot
    window (>50 uncertified would silently push some past certification),
    and the ledger may only name real keys."""
    from tranquility_spark.catalog import CATALOG, _CERTIFIED

    keys = list(CATALOG.keys())
    window = set(keys[:50])
    uncertified = [k for k in keys if k not in _CERTIFIED]
    outside = [k for k in uncertified if k not in window]
    assert not outside, f"uncertified keys pushed out of the driver window: {outside}"
    assert set(_CERTIFIED) <= set(keys), sorted(set(_CERTIFIED) - set(keys))
    # the explicit window list too: _rotate_driver_window silently skips
    # names not in CATALOG, so a typo'd entry would lose its lead slot
    # with no error anywhere else
    from tranquility_spark.catalog import _R18_DRIVER_WINDOW

    assert set(_R18_DRIVER_WINDOW) <= set(keys), sorted(
        set(_R18_DRIVER_WINDOW) - set(keys)
    )
    # VERDICT r05 #1(a): every oracle-backed entry is either certified or
    # inside the driver's 50-slot window — no hash-checkable entry may ever
    # silently fall out of certification coverage
    oracle_backed = {k for k in keys if CATALOG[k].oracle is not None}
    uncovered = sorted(oracle_backed - set(_CERTIFIED) - window)
    assert not uncovered, f"oracle-backed entries outside certification: {uncovered}"


def test_certified_entries_not_stale():
    """VERDICT r05 #1(b), the mm3 trap mechanized: a _CERTIFIED entry whose
    fn/oracle source changed since its certifying round must fail CI until it
    is rotated back into the driver window. certified_fingerprints.json is
    regenerated ONLY by scripts/record_certified_fingerprints.py in the same
    commit that folds a new round's green keys into _CERTIFIED."""
    import json
    import os

    from tranquility_spark import catalog

    path = os.path.join(
        os.path.dirname(catalog.__file__), "certified_fingerprints.json"
    )
    with open(path, encoding="utf-8") as fh:
        recorded = json.load(fh)

    stale = [
        k
        for k in sorted(catalog._CERTIFIED)
        if catalog.certification_fingerprint(k) != recorded[k]
    ]
    assert not stale, (
        f"certified entries changed since certification: {stale} — delete their "
        "lines from certified_fingerprints.json so they rotate into the driver "
        "window (do NOT re-record their fingerprints)"
    )


@pytest.fixture
def recorder(tmp_path, monkeypatch):
    """scripts/record_certified_fingerprints.py, pointed at a tmp copy of the ledger."""
    import importlib.util
    import os
    import shutil

    from tranquility_spark import catalog

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "record_certified_fingerprints.py",
    )
    spec = importlib.util.spec_from_file_location("record_certified_fingerprints", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = tmp_path / "certified_fingerprints.json"
    shutil.copyfile(catalog._LEDGER, out)
    monkeypatch.setattr(mod, "OUT", str(out))
    return mod, out


def test_recorder_folds_exactly_the_named_key(recorder):
    import json

    from tranquility_spark import catalog

    mod, out = recorder
    before = json.loads(out.read_text())
    key = next(k for k in catalog.CATALOG if k not in catalog._CERTIFIED)
    assert mod.main([key]) == 0
    assert json.loads(out.read_text()) == {**before, key: catalog.certification_fingerprint(key)}


def test_recorder_writes_nothing_on_stale_unknown_or_recorded_keys(recorder):
    import json

    from tranquility_spark import catalog

    mod, out = recorder
    original = out.read_bytes()
    recorded = json.loads(original)
    fresh = next(k for k in catalog.CATALOG if k not in catalog._CERTIFIED)
    certified = sorted(recorded)[0]
    tampered = (json.dumps({**recorded, certified: "0" * 64}, indent=1, sort_keys=True) + "\n").encode()
    for ledger, keys in [
        (tampered, [fresh]),
        (original, ["no_such_entry"]),
        (original, [certified]),
    ]:
        out.write_bytes(ledger)
        assert mod.main(keys) == 1, keys
        assert out.read_bytes() == ledger, keys


def test_bench_headline_names_resolve():
    """Every bench HEADLINE name must resolve in the catalog — a stale name
    is recorded per-query at runtime (fault isolation), but it should never
    get past CI in the first place."""
    import bench

    from tranquility_spark.catalog import CATALOG

    missing = [n for n in bench.HEADLINE if n not in CATALOG]
    assert not missing, missing


LITERAL_DEPENDENT = [
    # entries whose predicates embed fixture-value literals (HANDOFF soft
    # spots): if a testdata regeneration changes the value domains these
    # would return 0 rows on BOTH engines — rows_match would still "pass"
    # (0 == 0) while the query stopped testing anything
    "q7_volume_shipping",      # nation names
    "q8_market_share",         # r_name/p_type/supplier nation
    "q22_global_sales_opportunity",  # phone prefixes
    "samp4_mixture_resample",  # explicit lang weight list
    "mv2_pivot",               # event_type value list
    "dq3_search",              # search needle
    "samp5_temperature_resample",  # langs via sqrt weights (data-derived,
                                   # but degenerate if lang goes single-valued)
]


@pytest.mark.parametrize("name", LITERAL_DEPENDENT)
def test_literal_dependent_entries_non_degenerate(spark, name):
    from tranquility_spark.catalog import CATALOG

    # pinned to sf0.01 — the driver's CORRECTNESS scale factor. (q7 is
    # legitimately empty at sf0.001: the tiny slice has no qualifying
    # nation pairs; what matters is non-degeneracy where the gate runs.)
    assert CATALOG[name].fn(spark, "/root/testdata/sf0.01").count() > 0, (
        f"{name} returned 0 rows at the driver's SF — fixture value domains "
        "no longer match its literals; re-adapt them (see HANDOFF soft "
        "spots) before trusting an empty-vs-empty oracle 'match'"
    )


def test_parity_compare_detects_mismatches():
    """Meta-test of the verification machinery itself (r14): the local
    parity gate's compare must actually FAIL on value, NaN-asymmetry,
    row-count and column mismatches — a silently-vacuous compare would
    green-light everything and no other test would notice."""
    import os
    import sys

    import numpy as np
    import pandas as pd

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    from check_parity import compare

    base = pd.DataFrame({"k": ["a", "b"], "x": [1.0, 2.0]})
    assert compare(base, base.copy()) == []
    # value drift
    assert compare(base, pd.DataFrame({"k": ["a", "b"], "x": [1.0, 2.5]}))
    # NaN on one side only (both-NaN must pass, one-sided must fail)
    assert compare(
        pd.DataFrame({"k": ["a"], "x": [np.nan]}),
        pd.DataFrame({"k": ["a"], "x": [np.nan]}),
    ) == []
    assert compare(
        pd.DataFrame({"k": ["a"], "x": [np.nan]}),
        pd.DataFrame({"k": ["a"], "x": [1.0]}),
    )
    # row count and column-set drift
    assert compare(base, base.iloc[:1])
    assert compare(base, base.rename(columns={"x": "y"}))
    # order-insensitivity: same rows, different order, must pass
    assert compare(base, base.iloc[::-1].reset_index(drop=True)) == []
