"""Property tests for the cross-engine fixed-point policy (helpers.py).

The whole correctness gate rests on dsum/o_dsum producing bit-identical
doubles in Spark and DuckDB. These tests pin the DuckDB side (o_dsum SQL)
against a pure-Python model of the Spark side (floor(x*1e6+0.5) as
BIGINT, summed exactly, divided back) over adversarial inputs — the
cheap, no-JVM guard against dialect drift like decimal-literal
promotion.
"""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from random_forest_using_hadoop_spark.helpers import o_dsum

_floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _py_fixed_sum(xs: list[float]) -> float:
    return sum(math.floor(x * 1_000_000.0 + 0.5) for x in xs) / 1_000_000.0


@settings(max_examples=200, deadline=None)
@given(st.lists(_floats, min_size=1, max_size=100))
def test_o_dsum_matches_python_model(xs):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    got = con.execute(f"SELECT {o_dsum('x')} AS s FROM t").fetchone()[0]
    assert isinstance(got, float), f"o_dsum must stay DOUBLE, got {type(got)}"
    assert got == _py_fixed_sum(xs)


@settings(max_examples=200, deadline=None)
@given(st.lists(_floats, min_size=2, max_size=100), st.randoms())
def test_fixed_sum_is_order_insensitive(xs, rnd):
    shuffled = list(xs)
    rnd.shuffle(shuffled)
    assert _py_fixed_sum(xs) == _py_fixed_sum(shuffled)


@settings(max_examples=200, deadline=None)
@given(st.lists(_floats, min_size=1, max_size=100))
def test_fixed_sum_error_bound(xs):
    """Quantization moves each value by at most 5e-7, so the fixed-point
    sum stays within n*5e-7 of the exact (math.fsum) result."""
    exact = math.fsum(xs)
    assert abs(_py_fixed_sum(xs) - exact) <= len(xs) * 5e-7 + 1e-9

# --- candidate-generation losslessness (the r3 dedup rewrites) ----------------
#
# Pure-Python models of the two equi-join candidate constructions; each
# test proves the pruning can never drop a qualifying pair, which is the
# property the oracle hash-match relies on at corpus scale.

_BITS, _N_BANDS, _BAND_BITS, _HAMMING_T = 60, 4, 15, 12


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << _BITS) - 1),
    st.sets(st.integers(min_value=0, max_value=_BITS - 1), max_size=_HAMMING_T),
)
def test_simhash_band_cover_is_lossless(h_a, flips):
    """Any pair within hamming ≤ 12 must collide on ≥1 (band, variant)
    equi-key: probe emits every ≤3-flip variant of each 15-bit band of A,
    build emits B's exact band values (dedup_lsh.q_dedup_simhash)."""
    from random_forest_using_hadoop_spark.operators.dedup_lsh import _flip_masks

    h_b = h_a
    for b in flips:
        h_b ^= 1 << b
    masks = set(_flip_masks(_BAND_BITS, 3))
    band_mask = (1 << _BAND_BITS) - 1
    collides = False
    for i in range(_N_BANDS):
        ba = (h_a >> (_BAND_BITS * i)) & band_mask
        bb = (h_b >> (_BAND_BITS * i)) & band_mask
        if (ba ^ bb) in masks:  # probe variant ba^mask == bb  ⇔  mask = ba^bb
            collides = True
            break
    assert collides, f"hamming={len(flips)} pair escaped the band cover"


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=0, max_value=100_000),
    st.integers(min_value=-20, max_value=20),
)
def test_length_bin_cover_is_lossless(nc_a, delta):
    """Any pair within ±20 chars must share an exploded width-20 bin
    (each doc emits bin and bin+1), and the `bin == greatest(bin_a,
    bin_b)` residual must keep EXACTLY one collision per pair
    (dedup_lsh.q_dedup_ngram_jaccard)."""
    nc_b = max(0, nc_a + delta)
    if abs(nc_a - nc_b) > 20:
        return
    bin_a, bin_b = nc_a // 20, nc_b // 20
    emit_a, emit_b = {bin_a, bin_a + 1}, {bin_b, bin_b + 1}
    shared = emit_a & emit_b
    assert shared, "pair within ±20 chars missed the bin cover"
    kept = [b for b in shared if b == max(bin_a, bin_b)]
    assert len(kept) == 1, f"dedup residual kept {len(kept)} collisions"


@settings(max_examples=200, deadline=None)
@given(
    st.binary(min_size=1, max_size=400),
    st.integers(min_value=1, max_value=48),
    st.integers(min_value=1, max_value=48),
)
def test_png_codec_roundtrip(payload, width, height):
    """multimodal._png_encode → _png_decode is the identity on any
    payload tiling and any dimensions: the decoder must recover every
    pixel the encoder wrote."""
    from random_forest_using_hadoop_spark.operators.multimodal import (
        _png_decode,
        _png_encode,
    )

    w, h, px = _png_decode(_png_encode(payload, width, height))
    assert (w, h) == (width, height)
    n = len(payload)
    assert list(px) == [payload[i % n] for i in range(width * height)]


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_prefix_filter_cover_is_lossless(data):
    """SSJoin/PPJoin prefix theorem (used by dedup_connected_components
    and dedup_incremental): under ANY global total order on shingles,
    two sets with J ≥ t must share an element within their first
    ⌊(1-t)·|X|⌋+1 shingles. Build random pairs at-or-above threshold
    and check the cover under a random order."""
    t = 0.6
    universe = list(range(60))
    a = set(data.draw(st.lists(st.sampled_from(universe), min_size=5,
                               max_size=30, unique=True)))
    # force J >= t: b = a minus a few, plus a few new
    n_drop = data.draw(st.integers(min_value=0, max_value=max(0, len(a) // 5)))
    dropped = set(list(a)[:n_drop])
    extra = set(data.draw(st.lists(st.sampled_from([u for u in universe if u not in a]),
                                   min_size=0, max_size=3, unique=True)))
    b = (a - dropped) | extra
    if not b:
        return
    j = len(a & b) / len(a | b)
    if j < t:
        return
    order = data.draw(st.permutations(universe))
    rank = {v: i for i, v in enumerate(order)}
    pa = sorted(a, key=lambda v: rank[v])[: int((1 - t) * len(a)) + 1]
    pb = sorted(b, key=lambda v: rank[v])[: int((1 - t) * len(b)) + 1]
    assert set(pa) & set(pb), (
        f"J={j:.3f} pair escaped the prefix cover: |a|={len(a)} |b|={len(b)}"
    )


@settings(max_examples=300, deadline=None)
@given(
    st.floats(min_value=0, max_value=1000, allow_nan=False),
    st.floats(min_value=0, max_value=1000, allow_nan=False),
    st.floats(min_value=0, max_value=1000, allow_nan=False),
    st.floats(min_value=0, max_value=1000, allow_nan=False),
)
def test_spatial_grid_neighborhood_cover_is_lossless(xa, ya, xb, yb):
    """join_spatial_grid's coverage theorem: if two points lie within
    Euclidean eps, B's home cell is inside A's 3x3 neighborhood (cell
    size = eps). A counterexample would mean the grid join silently
    drops qualifying pairs."""
    eps = 2.0
    if math.dist((xa, ya), (xb, yb)) > eps:
        return
    ca = (math.floor(xa / eps), math.floor(ya / eps))
    cb = (math.floor(xb / eps), math.floor(yb / eps))
    assert abs(ca[0] - cb[0]) <= 1 and abs(ca[1] - cb[1]) <= 1


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**9),   # span start (seconds)
    st.integers(min_value=0, max_value=86_399),  # span length within day
    st.integers(min_value=0, max_value=10**9),   # incident center
)
def test_interval_overlap_day_bin_cover_is_lossless(s0, slen, ic):
    """join_interval_overlap's coverage theorem: a span confined to one
    calendar day overlaps a +/-1h incident window only if the span's
    day is among the days the incident window touches — so joining on
    the exploded day bins finds every qualifying pair."""
    day = 86_400
    s_start = (s0 // day) * day + min(s0 % day, 86_399 - slen)
    s_end = s_start + slen  # same-day span by construction
    i_start, i_end = ic - 3600, ic + 3600
    overlaps = s_start <= i_end and i_start <= s_end
    if not overlaps:
        return
    span_day = s_start // day
    inc_days = range(i_start // day, i_end // day + 1)
    assert span_day in inc_days


# --- ntile_from_rn ≡ SQL NTILE ----------------------------------------------

import pytest


@pytest.mark.parametrize(
    "n,k",
    [(7, 5), (7, 10), (3, 5), (500, 5), (503, 5), (503, 10), (5002, 10)],
)
def test_ntile_from_rn_matches_sql_ntile(spark, n, k):
    """The helper must reproduce SQL NTILE(k) exactly — including the
    front-loaded n mod k remainder where the naive ((rn−1)·k) div n + 1
    identity diverges (e.g. n=7, k=5: sizes 2,2,1,1,1 not 2,1,2,1,1) —
    for k|n, n mod k ∈ (0, k−1), and the degenerate n < k case."""
    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.helpers import ntile_from_rn

    df = spark.range(1, n + 1).select(F.col("id").alias("rn"))
    got = {
        r["rn"]: r["b"]
        for r in df.select("rn", ntile_from_rn("rn", n, k).alias("b")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT rn, NTILE({k}) OVER (ORDER BY rn) "
            f"FROM range(1, {n + 1}) t(rn)"
        ).fetchall()
    )
    assert got == want


def test_ntile_from_rn_quotes_nonidentifier_columns(spark):
    """Column names with spaces/keywords must bind via backtick quoting."""
    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.helpers import ntile_from_rn

    df = spark.range(1, 8).select(F.col("id").alias("row n"))
    got = sorted(
        r["b"] for r in df.select(ntile_from_rn("row n", 7, 5).alias("b")).collect()
    )
    assert got == [1, 1, 2, 2, 3, 4, 5]


# --- winnowing selection model (dedup_substring_winnow) -----------------------

# Pure-Python model of the r8 winnow selection: hashes -> min of each
# sliding g-window, distinct. Pins the two guarantees the operator's
# docstring claims, over adversarial hash sequences (duplicates, runs,
# short docs), without a JVM: (a) the selected set is a subset of the
# input hashes with every g-window of positions represented (max gap
# between selection-covering positions < g), so any shared run of 2g
# consecutive equal hashes shares >= 2 selected VALUES; (b) selection
# depends only on the hash sequence (re-running on an identical
# sequence is identical — determinism under re-partitioning).


def _winnow_select(hs: list[int], g: int = 8) -> set[int]:
    if not hs:
        return set()
    n_win = max(len(hs) - g + 1, 1)
    return {min(hs[j : j + g]) for j in range(n_win)}


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=120),
    st.integers(min_value=2, max_value=10),
)
def test_winnow_every_g_window_is_covered(hs, g):
    sel = _winnow_select(hs, g)
    assert sel <= set(hs)
    # every full g-window's minimum VALUE is selected — the covering
    # property behind the shared-run guarantee
    for j in range(max(len(hs) - g + 1, 1)):
        assert min(hs[j : j + g]) in sel


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=80),
    st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=16,
        max_size=40,
        unique=True,
    ),
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=80),
)
def test_winnow_shared_run_guarantees_shared_selection(prefix, shared, suffix):
    """Two 'documents' embedding the same >= 2g-hash run of DISTINCT
    hashes must share at least 2 selected values (the
    _WINNOW_MIN_SHARED = 2 detection floor), regardless of what
    surrounds the run. Distinctness models the 60-bit md5 fold of
    distinct windows; hypothesis found the one escape hatch — a
    PERIODIC run whose windows repeat verbatim collapses to a single
    distinct minimum (e.g. 'aaaa…'), documented as the operator's
    known blind spot."""
    g = 8
    a = _winnow_select(prefix + shared, g)
    b = _winnow_select(shared + suffix, g)
    # interior windows fully inside `shared` exist on both sides:
    # len(shared) >= 2g gives >= g+1 full windows inside the run
    interior = {min(shared[j : j + g]) for j in range(len(shared) - g + 1)}
    assert interior <= a and interior <= b
    assert len(a & b) >= 2


def test_spread_width_follows_the_parquet_row_count(tmp_path):
    """One task per 64 documents, capped at 64, read from the footers:
    the benchmark's 5,000 docs keep the full width, a five-doc corpus
    gets one task, and an unreadable table falls back to the cap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from random_forest_using_hadoop_spark.sources import docs_spread_width

    for n, want in ((0, 1), (5, 1), (64, 1), (65, 2), (500, 8), (5000, 64)):
        d = tmp_path / f"n{n}"
        (d / "documents.parquet").mkdir(parents=True)
        pq.write_table(
            pa.table({"doc_id": pa.array(range(n), pa.int64())}),
            d / "documents.parquet" / "part-0.parquet",
        )
        assert docs_spread_width(str(d)) == want, n
    assert docs_spread_width(str(tmp_path / "missing")) == 64
