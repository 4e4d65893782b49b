"""Property-based tests (hypothesis) for the engine's cross-engine contracts.

These target the pure parts where a silent mismatch would corrupt every
oracle comparison built on them: the ISO-duration parser, the portable shard
hash (must compute identically in Spark SQL and DuckDB SQL), and granularity
truncation (Spark expression vs DuckDB fragment). DuckDB is the counterpart
engine here — no SparkSession needed, so hundreds of examples stay cheap.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tranquility_spark.operators.partitioning import _MULT, _PRIME, _REDUCE, portable_shard_sql
from tranquility_spark.operators.window_filter import window_period_seconds
from tranquility_spark.specs import Granularity


@given(
    h=st.integers(min_value=0, max_value=48),
    m=st.integers(min_value=0, max_value=600),
    s=st.integers(min_value=0, max_value=600),
)
def test_duration_parser_roundtrip(h, m, s):
    assert window_period_seconds(f"PT{h}H{m}M{s}S") == h * 3600 + m * 60 + s


@given(st.integers(min_value=-(2**62), max_value=2**62))
@settings(max_examples=50)
def test_portable_shard_sql_matches_python(key):
    """The DuckDB fragment must equal the Python/Spark formula for any key —
    including negative keys, where DuckDB's sign-preserving % needs the
    pmod wrap (Python's % is already non-negative, like Spark's pmod)."""
    n = 8
    expected = (((key % _REDUCE) * _MULT) % _PRIME) % n
    got = duckdb.sql(f"SELECT {portable_shard_sql(str(key), n)} AS s").fetchone()[0]
    assert got == expected


_PERIODS = ["FIVE_MINUTE", "TEN_MINUTE", "FIFTEEN_MINUTE", "THIRTY_MINUTE", "SIX_HOUR"]


@given(
    epoch=st.integers(min_value=0, max_value=4_000_000_000),
    gran=st.sampled_from(_PERIODS),
)
@settings(max_examples=50)
def test_period_granularity_truncate_sql_matches_arithmetic(epoch, gran):
    g = Granularity(gran)
    secs = {"FIVE_MINUTE": 300, "TEN_MINUTE": 600, "FIFTEEN_MINUTE": 900,
            "THIRTY_MINUTE": 1800, "SIX_HOUR": 21600}[gran]
    frag = g.truncate_sql(f"epoch_ms(CAST({epoch} AS BIGINT) * 1000)")
    got = duckdb.sql(f"SELECT epoch({frag}) AS e").fetchone()[0]
    assert int(got) == (epoch // secs) * secs


@given(
    epoch=st.integers(min_value=0, max_value=4_000_000_000),
    gran=st.sampled_from(["SECOND", "MINUTE", "HOUR", "DAY"]),
)
@settings(max_examples=50)
def test_calendar_granularity_truncate_sql_is_floor(epoch, gran):
    """Calendar truncation via date_trunc never exceeds the input and lands on
    a unit boundary."""
    g = Granularity(gran)
    frag = g.truncate_sql(f"epoch_ms(CAST({epoch} AS BIGINT) * 1000)")
    got = int(duckdb.sql(f"SELECT epoch({frag}) AS e").fetchone()[0])
    unit = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}[gran]
    assert got <= epoch
    assert got % unit == 0
    assert epoch - got < unit


# "PT" .. "PT1H2M3S4": no component, or trailing digits without a unit
# (once silently dropped: "PT10" read as 0 s, "PT1H30" as 1 h)
@pytest.mark.parametrize(
    "bad", ["10M", "PTXM", "P1D", "", "PT", "pt", "PT10", "PT1H30", "PT5M7", "PT1H2M3S4"]
)
def test_duration_parser_rejects_malformed(bad):
    with pytest.raises(ValueError):
        window_period_seconds(bad)


@given(
    key=st.integers(min_value=-(2**62), max_value=2**62),
    i=st.integers(min_value=0, max_value=7),
)
@settings(max_examples=50)
def test_bloom_cms_pos_sql_matches_python(key, i):
    """The shared bloom/CMS portable bit/column position: the DuckDB
    fragment must equal the Python restatement of the Spark expression for
    any key and hash index — negative keys exercise the pmod wrap, and the
    bloom (m=65536) and CMS (width=1024) moduli both ride on it. A silent
    mismatch here would corrupt the dd9/dd10/dd11/hh2 certifications at
    the root."""
    from tranquility_spark.operators.bloom import _STRIDE, bloom_pos_sql

    for m in (65536, 1024):
        mixed = key + i * _STRIDE
        expected = (((mixed % _REDUCE) * _MULT) % _PRIME) % m
        got = duckdb.sql(
            f"SELECT {bloom_pos_sql(str(key), i, m)} AS p"
        ).fetchone()[0]
        assert got == expected, (key, i, m)


@given(
    st.lists(
        st.one_of(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            # signed-zero pressure (r11 regression): -0.0 == 0.0 so the
            # stable sort does not canonicalize their order, but they
            # pack to different CRC bits — extend() must normalize or
            # compaction diverges between orderings of the same multiset
            st.sampled_from([0.0, -0.0, 1.0]),
        ),
        min_size=0,
        max_size=400,
    ),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=60, deadline=None)
def test_dkll_core_deterministic_and_weight_conserving(values, split_seed):
    """Pure-Python dKLL properties over arbitrary float lists: (a) building
    from canonical (sorted) order is bit-identical however the raw list was
    ordered beforehand; (b) total weight sum(2^level * |level|) always
    equals n; (c) splitting the list into partials and merging them in
    canonical order is deterministic (same split -> same bytes) and
    conserves n; (d) every reported quantile is an actual input value with
    normalized rank error bounded by the measured envelope."""
    import zlib

    from tranquility_spark.operators.kll import _DKLL

    k = 16

    def build(vals):
        sk = _DKLL(k)
        sk.extend(sorted(vals))
        return sk

    a = build(values)
    b = build(list(reversed(values)))
    assert a.rows() == b.rows() and a.n == b.n == len(values)
    assert sum(2 ** lvl * len(items) for lvl, items in enumerate(a.levels)) == a.n

    # deterministic content-derived split into 1-4 partials
    n_parts = 1 + (split_seed % 4)
    parts = [[] for _ in range(n_parts)]
    for idx, v in enumerate(values):
        parts[zlib.crc32(str((idx, v)).encode()) % n_parts].append(v)
    m1, m2 = _DKLL(k), _DKLL(k)
    for p in parts:
        m1.merge(build(p))
    for p in parts:
        m2.merge(build(p))
    assert m1.rows() == m2.rows() and m1.n == len(values)

    if values:
        svals = sorted(values)
        for sk in (a, m1):
            pairs = sorted(
                (v, 2 ** lvl)
                for lvl, items in enumerate(sk.levels)
                for v in items
            )
            total = sum(w for _v, w in pairs)
            for q in (0.5, 0.9):
                target = max(1, -(-q * total // 1))  # ceil
                cum = 0
                est = pairs[-1][0]
                for v, w in pairs:
                    cum += w
                    if cum >= target:
                        est = v
                        break
                assert est in values  # quantiles are data points, never interpolated
                import bisect

                rank = bisect.bisect_right(svals, est) / len(svals)
                lo = bisect.bisect_left(svals, est) / len(svals)
                # the estimate's true rank interval must overlap [q-eps, q+eps]
                eps = 0.25 if len(svals) > 3 * k else 1.0  # tiny inputs are exact-ish but ranks are coarse
                assert lo - eps <= q <= rank + eps, (q, lo, rank, len(svals))


@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-1000, max_value=1000).map(float),
            st.sampled_from([0.0, 5.0, 5.0, 5.0, -7.5]),  # tie pressure
        ),
        min_size=1,
        max_size=400,
    ),
    split_seed=st.integers(min_value=0, max_value=2**31),
    eps=st.sampled_from([0.02, 0.05, 0.1]),
)
@settings(max_examples=60, deadline=None)
def test_gk_core_proven_bound_and_invariants(values, split_seed, eps):
    """gk.py's PROVEN obligations, hypothesis-driven on the pure core
    (no Spark): for ANY multiset, ANY 3-way split into partials, and the
    stated eps grid — (a) every merged interval satisfies rmin <= rmax
    and rmax - rmin < eps*n, (b) for every target rank the best cut is
    within 2*eps*n (the module's promised bound), (c) the merge is
    independent of which canonical order the partials arrive in only up
    to the documented tie-ORDER convention: the interval SET for a fixed
    canonical order is deterministic across reruns."""
    import bisect

    from tranquility_spark.operators.gk import (
        _cuts,
        _merge_cuts,
        _merge_cuts_naive,
    )

    h = split_seed
    parts_vals = [[], [], []]
    for i, v in enumerate(values):
        h = (h * 6364136223846793005 + 1442695040888963407) % (2**64)
        parts_vals[h % 3].append(v)
    parts = []
    for vs in parts_vals:
        vs = sorted(vs)
        if not vs:
            continue
        cuts = [(vs[p], p) for p in _cuts(len(vs), eps)]
        parts.append((cuts, len(vs)))
    if not parts:
        return
    n = len(values)
    merged = _merge_cuts(parts)
    assert merged == _merge_cuts(parts)  # deterministic rerun
    # the O(T log T) sweep is bit-identical to the all-pairs spec form
    # (the r11 scale-probe rewrite — same intervals, just not O(P^2))
    assert merged == _merge_cuts_naive(parts)
    for v, rmin, rmax in merged:
        assert rmin <= rmax
        assert rmax - rmin < max(1, eps * n)
        assert 0 <= rmin and rmax <= n - 1
    # (b) the 2*eps*n query bound against true occurrence ranks
    svals = sorted(values)
    for target in {0, n // 4, n // 2, (3 * n) // 4, n - 1}:
        best = min(
            merged, key=lambda c: (abs((c[1] + c[2]) / 2.0 - target), c[0])
        )
        lo = bisect.bisect_left(svals, best[0])
        hi = bisect.bisect_right(svals, best[0]) - 1
        dist = max(0, lo - target, target - hi)
        assert dist < max(1, 2 * eps * n), (target, best, dist)


def _gk_certified_err_py(cuts, n):
    """Python mirror of operators/gk.py#gk_certified_error: E_gap over the
    (value, rmin)-ordered midpoints (covering both ends) + max width/2."""
    mids = [(rmin + rmax) / 2.0 for _v, rmin, rmax in sorted(cuts)]
    gaps = [mids[0], (n - 1) - mids[-1]] + [
        (b - a) / 2.0 for a, b in zip(mids, mids[1:])
    ]
    half_w = max(rmax - rmin for _v, rmin, rmax in cuts) / 2.0
    return max(gaps) + half_w


@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-1000, max_value=1000).map(float),
            st.sampled_from([0.0, 5.0, 5.0, 5.0, -7.5]),  # tie pressure
        ),
        min_size=1,
        max_size=400,
    ),
    split_seed=st.integers(min_value=0, max_value=2**31),
    eps=st.sampled_from([0.02, 0.05, 0.1]),
)
@settings(max_examples=60, deadline=None)
def test_gk_deep_merge_tree_certified_bound(values, split_seed, eps):
    """gk_merge_deep's engine (_merge_cuts_intervals) on a TWO-LEVEL tree
    over ANY multiset and ANY 4-way split: (a) output intervals are
    structurally valid and rank-monotone; (b) every query target's best
    cut has true occurrence-rank distance within the COMPUTED
    gk_certified_error bound — the contract that replaces the flat
    merge's 2*eps*n constant at depth."""
    import bisect

    from tranquility_spark.operators.gk import (
        _cuts,
        _merge_cuts,
        _merge_cuts_intervals,
    )

    h = split_seed
    parts_vals = [[], [], [], []]
    for v in values:
        h = (h * 6364136223846793005 + 1442695040888963407) % (2**64)
        parts_vals[h % 4].append(v)
    exact_parts = []
    for vs in parts_vals:
        vs = sorted(vs)
        if not vs:
            continue
        exact_parts.append(
            ([(vs[p], p) for p in _cuts(len(vs), eps)], len(vs))
        )
    if not exact_parts:
        return
    half = max(1, len(exact_parts) // 2)
    level1 = []
    for grp in (exact_parts[:half], exact_parts[half:]):
        if grp:
            level1.append((_merge_cuts(grp), sum(np for _c, np in grp)))
    tree = _merge_cuts_intervals(level1)
    assert tree == _merge_cuts_intervals(level1)  # deterministic rerun
    n = len(values)
    prev_rmin = -1
    for _v, rmin, rmax in sorted(tree):
        assert 0 <= rmin <= rmax <= n - 1
        assert rmin >= prev_rmin
        prev_rmin = rmin
    cert = _gk_certified_err_py(tree, n)
    svals = sorted(values)
    for target in {0, n // 4, n // 2, (3 * n) // 4, n - 1}:
        best = min(
            tree, key=lambda c: (abs((c[1] + c[2]) / 2.0 - target), c[0])
        )
        lo = bisect.bisect_left(svals, best[0])
        hi = bisect.bisect_right(svals, best[0]) - 1
        dist = max(0, lo - target, target - hi)
        assert dist <= cert + 1e-9, (target, best, dist, cert)


# ---------------------------------------------------------------------------
# Wire-codec round-trip fuzz (P2 Smile / Avro extension) — regression armor
# for the ADVICE r9 bug class: shared-table desync and out-of-range values
# ---------------------------------------------------------------------------

# names deliberately include the 58..64-byte non-ASCII band (long 0x34 token
# but SHARED — the r10 desync fix) and >64-byte unshareable names
_smile_names = st.one_of(
    st.text(min_size=0, max_size=10),
    st.text(alphabet="é", min_size=29, max_size=33),  # 58..66 UTF-8 bytes
    st.text(min_size=60, max_size=70),
)
_smile_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    # BigInteger band (r12): outside int64 both ways, across the 7-bit
    # tail sizes of toByteArray lengths
    st.integers(min_value=1 << 63, max_value=1 << 200),
    st.integers(min_value=-(1 << 200), max_value=-(1 << 63) - 1),
    # BigDecimal (r12): exact decimals incl. negative scales (1E+n forms)
    st.decimals(allow_nan=False, allow_infinity=False, places=None),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=80),
    # sizes straddle every 7-bit tail group (len % 7 in 0..6) and both
    # sides of the vint 1-byte/2-byte length boundary at 64
    st.binary(max_size=80),
)
_smile_values = st.recursive(
    _smile_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(_smile_names, children, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(_smile_values, min_size=1, max_size=4),
    st.booleans(),
    st.booleans(),
)
def test_smile_stream_roundtrip_fuzz(values, shared_values, raw_binary):
    """decode(encode(stream)) == stream for arbitrary JSON-shaped values in
    ONE stream (shared name/value tables persist across records — the
    exact surface where an encoder/decoder registration asymmetry shows
    up as wrong field names, not an error). Binary leaves round-trip in
    BOTH spec forms (raw 0xFD / 7-bit 0xE8 — the r11 extension)."""
    from tranquility_spark.operators.smile_codec import (
        SmileEncoder,
        decode_stream,
    )

    enc = SmileEncoder(shared_values=shared_values, raw_binary=raw_binary)
    for v in values:
        enc.write(v)
    assert list(decode_stream(enc.getvalue())) == values


_AVRO_FUZZ_SCHEMA = {
    "type": "record",
    "name": "Fuzz",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "long", "string"]},
        {"name": "arr", "type": {"type": "array", "items": ["null", "long"]}},
        {"name": "m", "type": {"type": "map", "values": "double"}},
    ],
}


@settings(max_examples=120, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "i": st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
            "l": st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            "f": st.floats(allow_nan=False, allow_infinity=False, width=32),
            "d": st.floats(allow_nan=False, allow_infinity=False),
            "b": st.booleans(),
            "s": st.text(max_size=60),
            "by": st.binary(max_size=40),
            "u": st.one_of(
                st.none(),
                st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
                st.text(max_size=20),
            ),
            "arr": st.lists(
                st.one_of(st.none(), st.integers(-(1 << 63), (1 << 63) - 1)),
                max_size=6,
            ),
            "m": st.dictionaries(
                st.text(max_size=10),
                st.floats(allow_nan=False, allow_infinity=False),
                max_size=4,
            ),
        }
    )
)
def test_avro_record_roundtrip_fuzz(rec):
    """decode(encode(record)) == record across every Avro type the codec
    supports, including zero-width-item unions inside arrays (the
    _decode_blocked guard class) and full int32/int64 extremes."""
    from tranquility_spark.operators.avro_codec import (
        decode_record,
        encode_value,
    )

    assert decode_record(encode_value(rec, _AVRO_FUZZ_SCHEMA), _AVRO_FUZZ_SCHEMA) == rec


@settings(max_examples=200, deadline=None)
@given(texts=st.lists(st.text(max_size=60), min_size=1, max_size=6))
def test_simhash_vectorized_equals_naive_spec(spark, texts):
    """r12 (the GK `_merge_cuts_naive` pattern): the memoized/vectorized
    simhash64 batch UDF must match the retained one-text reference spec
    bit-for-bit — legal because bit votes are INTEGER sums, so evaluation
    order cannot change a signature. Guards the 3x rewrite against any
    future 'optimization' that breaks signatures silently."""
    import pandas as pd

    from tranquility_spark.operators import pandas_fns as pf

    assert list(pf.simhash64.func(pd.Series(texts))) == [
        pf._simhash64_one(t) for t in texts
    ]


@settings(max_examples=40, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-90, max_value=90, allow_nan=False),
            st.floats(min_value=-180, max_value=180, allow_nan=False),
        ),
        min_size=1,
        max_size=25,
    ),
    b1=st.tuples(
        st.floats(min_value=-90, max_value=0, allow_nan=False),
        st.floats(min_value=-180, max_value=0, allow_nan=False),
        st.floats(min_value=0, max_value=90, allow_nan=False),
        st.floats(min_value=0, max_value=180, allow_nan=False),
    ),
    center=st.tuples(
        st.floats(min_value=-90, max_value=90, allow_nan=False),
        st.floats(min_value=-180, max_value=180, allow_nan=False),
    ),
    radius=st.floats(min_value=0, max_value=200, allow_nan=False),
)
def test_spatial_filter_sql_matches_column(spark, pts, b1, center, radius):
    """r12 spatial dual-compile fuzz (the bloom_pos_sql property-test
    pattern applied to the eighth filter type): for random point sets and
    random rectangular/radius bounds, the Spark Column predicate and the
    DuckDB SQL twin must keep EXACTLY the same rows — both consume the
    same "lat,lon" string encode, so any arithmetic-shape or
    index-convention drift between the dialects shows up as a set
    difference. Coordinates round-trip through the string encode on both
    engines (shortest-repr double printing is lossless), so boundary
    decisions are engine-identical even at generated edge values."""
    import duckdb

    from pyspark.sql import functions as F
    from tranquility_spark.specs import filter_to_column, filter_to_sql

    rows = [(i, f"{lat!r},{lon!r}") for i, (lat, lon) in enumerate(pts)]
    df = spark.createDataFrame(rows, "tag long, coords string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(tag BIGINT, coords VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)

    rect = {
        "type": "spatial",
        "dimension": "coords",
        "bound": {
            "type": "rectangular",
            "minCoords": [b1[0], b1[1]],
            "maxCoords": [b1[2], b1[3]],
        },
    }
    rad = {
        "type": "spatial",
        "dimension": "coords",
        "bound": {"type": "radius", "coords": list(center), "radius": radius},
    }
    for spec in (rect, rad):
        got = {r["tag"] for r in df.filter(filter_to_column(spec)).collect()}
        want = {
            t
            for (t,) in con.execute(
                f"SELECT tag FROM t WHERE {filter_to_sql(spec)}"
            ).fetchall()
        }
        assert got == want, (spec, got ^ want)


@settings(max_examples=200, deadline=None)
@given(
    n_dims=st.integers(min_value=1, max_value=4),
    cell_deg=st.floats(min_value=0.1, max_value=90.0, allow_nan=False),
    data=st.data(),
)
def test_spatial_covering_property_fuzz(n_dims, cell_deg, data):
    """r13: the covering invariant dq20's pruning correctness rests on,
    fuzzed driver-side in pure Python (the cell-id arithmetic mirrors
    Spark's FLOOR exactly — math.floor on doubles): for ANY bound and ANY
    point satisfying it, the point's cell id MUST appear in
    spatial_cells_for_bound's covering list. If this ever fails, the
    pruned read silently drops matching rows — the one failure mode a
    partition-pruning layout can have. n-dimensional per the ADVICE r12
    #3 generalization; cell sizes from sub-degree to hemisphere."""
    import math

    from tranquility_spark.specs import spatial_cells_for_bound

    coord = st.floats(min_value=-1000, max_value=1000, allow_nan=False)
    # per-axis extent bounded to a few cells: the covering enumeration is
    # O(product of per-axis cell counts) by design (and now guarded by
    # max_cells — this fuzz FOUND that hazard); multi-cell coverage is
    # still exercised on every axis
    span = st.floats(min_value=0.0, max_value=3.0 * cell_deg, allow_nan=False)
    if data.draw(st.booleans(), label="rectangular"):
        lo = [data.draw(coord, label=f"lo{i}") for i in range(n_dims)]
        hi = [a + data.draw(span, label=f"hi{i}") for i, a in enumerate(lo)]
        bound = {"type": "rectangular", "minCoords": lo, "maxCoords": hi}
        # a point inside the box, drawn per-axis within [lo, hi]
        pt = [
            data.draw(
                st.floats(min_value=a, max_value=b, allow_nan=False),
                label=f"pt{i}",
            )
            for i, (a, b) in enumerate(zip(lo, hi))
        ]
        satisfies = all(a <= x <= b for x, a, b in zip(pt, lo, hi))
    else:
        center = [data.draw(coord, label=f"c{i}") for i in range(n_dims)]
        radius = data.draw(
            st.floats(min_value=0.0, max_value=1.5 * cell_deg, allow_nan=False),
            label="radius",
        )
        bound = {"type": "radius", "coords": center, "radius": radius}
        # a point inside the bounding box of the ball; keep only those
        # actually inside the ball (the predicate the reader applies)
        pt = [
            data.draw(
                st.floats(min_value=c - radius, max_value=c + radius, allow_nan=False),
                label=f"pt{i}",
            )
            for i, c in enumerate(center)
        ]
        satisfies = sum((x - c) ** 2 for x, c in zip(pt, center)) <= radius**2
    if not satisfies:
        return  # only points the row predicate keeps need covering
    cells = spatial_cells_for_bound(bound, cell_deg)
    cell_id = "_".join(str(math.floor(x / cell_deg)) for x in pt)
    assert cell_id in cells, (bound, cell_deg, pt, cell_id)


# ---------------------------------------------------------------------------
# r15b: the audio/video signature oracles vs the stub recipes, fuzzed.
# The fixture parity runs prove the DuckDB oracle CTEs equal the Python
# stub recipes on the driver corpus; these prove it for ARBITRARY utf-8
# text (multi-byte codepoints are exactly where a byte-level hex-decode
# recipe could silently drift from encode(text)'s bytes). Pure
# python-vs-DuckDB — no SparkSession, hundreds of examples stay cheap.
# The SQL under test is pulled from the REGISTERED oracles, not a copy.
# ---------------------------------------------------------------------------


def _afp_stub(data: bytes):
    """multimodal.audio_energy_fingerprint's stub recipe, re-derived."""
    n = len(data)
    if n == 0:
        return None
    t = (data * (520 // n + 1))[:520]
    dev = [b - 128 for b in t]
    e = [sum(d * d for d in dev[i * 8 : (i + 1) * 8]) for i in range(65)]
    out = []
    for r in range(8):
        byte = 0
        for c in range(8):
            if e[r * 8 + c + 1] > e[r * 8 + c]:
                byte |= 1 << c
        out.append(byte)
    return "".join(f"{v:02x}" for v in out)


def _vfh_stub(data: bytes):
    """multimodal.video_frame_hashes' stub recipe, re-derived."""

    def dhash72(b):
        if len(b) == 0:
            return None
        px = list((b * (72 // max(len(b), 1) + 1))[:72])
        out = []
        for r in range(8):
            byte = 0
            for c in range(8):
                if px[r * 9 + c + 1] > px[r * 9 + c]:
                    byte |= 1 << c
            out.append(byte)
        return "".join(f"{v:02x}" for v in out)

    duration_ms = (100 * len(data)) % 60000
    n = min(max(duration_ms // 1000, 1), 8)
    return {
        i: dhash72(data[(i * 13000) % max(len(data) - 16, 1) :][:16])
        for i in range(int(n))
    }


def _oracle_on_one_doc(oracle_sql: str, text: str):
    # close per example — 120 hypothesis examples would otherwise hold
    # 120 live in-memory connections until GC (r15b second review)
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.execute("INSERT INTO documents VALUES (1, ?)", [text])
        return con.execute(oracle_sql).fetchall()


@given(text=st.text(max_size=300))
@settings(max_examples=60, deadline=None)
def test_audio_fp_oracle_matches_stub_recipe_fuzz(text):
    """mm7's REGISTERED DuckDB oracle equals the stub recipe on the utf-8
    bytes of any text — including astral-plane codepoints whose 4-byte
    encodings the hex-digit decode must reproduce exactly."""
    from tranquility_spark.catalog import CATALOG

    rows = _oracle_on_one_doc(CATALOG["mm7_audio_fingerprint"].oracle, text)
    assert rows == [(1, _afp_stub(text.encode("utf-8")))]


@given(text=st.text(max_size=300))
@settings(max_examples=60, deadline=None)
def test_video_fhash_oracle_matches_stub_recipe_fuzz(text):
    """mm8's REGISTERED DuckDB oracle equals the fused demux+digest stub
    on the utf-8 bytes of any text — frame count, offsets, short tail
    slices, and empty-slice dead-letters included."""
    from tranquility_spark.catalog import CATALOG

    rows = _oracle_on_one_doc(CATALOG["mm8_video_frame_hashes"].oracle, text)
    got = {fi: fh for _d, fi, fh in rows}
    assert len(got) == len(rows), "duplicate frame_idx in oracle output"
    assert got == _vfh_stub(text.encode("utf-8"))


def test_signature_oracles_null_text_dead_letter():
    """The NULL-text branches of the mm7/mm8 oracles (r15b self-review:
    a bare nb = 0 predicate let NULL slip past the dead-letter row)
    match the operators' contracts: one NULL-digest row per NULL doc."""
    from tranquility_spark.catalog import CATALOG

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (7, NULL)")
    assert con.execute(
        CATALOG["mm7_audio_fingerprint"].oracle
    ).fetchall() == [(7, None)]
    assert con.execute(
        CATALOG["mm8_video_frame_hashes"].oracle
    ).fetchall() == [(7, 0, None)]
