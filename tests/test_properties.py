"""Property-based tests (hypothesis) for the scalar kernels and the
partitioning-invariance claims the engine makes."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F


# --- scalar kernel properties (driver-side evaluation via Spark) -----------


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=20
    )
)
def test_sentinel_to_null_property(spark, values):
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.functions.scalar import (
        SENTINEL_FLOOR,
        sentinel_to_null,
    )

    df = spark.createDataFrame([(v,) for v in values], "v long")
    out = [r.c for r in df.select(sentinel_to_null("v").alias("c")).collect()]
    for v, c in zip(values, out):
        if v <= SENTINEL_FLOOR:
            assert c is None
        else:
            assert c == v


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            st.floats(
                min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_null_safe_ratio_never_divides_by_zero(spark, pairs):
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.functions.scalar import (
        null_safe_ratio,
    )

    df = spark.createDataFrame(pairs, "num double, den double")
    out = df.select(
        null_safe_ratio(F.col("num"), F.col("den"), 6).alias("r"), "den"
    ).collect()
    for r in out:
        if r.den == 0:
            assert r.r is None
        elif r.r is not None:
            assert math.isfinite(r.r)


# --- partitioning invariance ----------------------------------------------


def test_stratified_sample_invariant_to_partitioning(spark):
    """The deterministic sample must be IDENTICAL whatever the input
    partitioning — the property rand(seed) lacks (SURVEY §2.5) and the
    reason md5-ordering is the canonical form."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.sampling import (
        stratified_sample_deterministic,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    picks = []
    for n_parts in (1, 7, 32):
        sampled = stratified_sample_deterministic(
            orders.repartition(n_parts), "o_orderpriority", "o_orderkey", 37
        )
        picks.append({(r.o_orderpriority, r.o_orderkey) for r in sampled.collect()})
    assert picks[0] == picks[1] == picks[2]
    # exactly min(N, group size) per stratum
    from collections import Counter

    per_group = Counter(k for k, _ in picks[0])
    sizes = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    for g, n in per_group.items():
        assert n == min(37, sizes[g])


def test_salted_agg_equals_plain_agg_any_salt_count(spark):
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.skew import (
        salted_aggregate,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    plain = {
        r.l_returnflag: (r.n, round(r.s, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    for n_salts in (2, 16, 64):
        salted = {
            r.l_returnflag: (r.n_rows, round(r.sum_l_quantity, 2))
            for r in salted_aggregate(
                li, ["l_returnflag"], ["l_quantity"], "l_orderkey", n_salts
            ).collect()
        }
        assert salted == plain


# --- round-2 component properties ------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=4),
    st.data(),
)
def test_bmp_decoder_roundtrip_property(width, height, data):
    """Any uncompressed 24-bpp pixel array survives BMP encode→decode
    byte-for-byte (padding stripped, bottom-up row order preserved)."""
    import struct

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.multimodal import (
        DECODERS,
    )

    n = width * height * 3
    pixels = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    stride = (width * 3 + 3) // 4 * 4
    pad = stride - width * 3
    body = b"".join(
        pixels[r * width * 3 : (r + 1) * width * 3] + b"\x00" * pad
        for r in range(height)
    )
    off = 14 + 40
    blob = (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body),
                      0, 0, 0, 0)
        + body
    )
    assert bytes(DECODERS["image/bmp"](blob)) == pixels


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=32))
def test_wav_decoder_scaling_property(samples):
    """16-bit PCM samples map to uint8 via (s+32768)//256 — order
    preserved, range respected, monotone in the sample value."""
    import struct

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.multimodal import (
        DECODERS,
    )

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    out = DECODERS["audio/wav"](blob).tolist()
    assert out == [(s + 32768) // 256 for s in samples]
    assert all(0 <= v <= 255 for v in out)


def test_lsh_bits_formula_properties():
    """Bucket width is monotone in corpus size and clamped to
    [MIN, MAX] — the invariant the oracle's params CTE mirrors."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_similarity import (
        _LSH_BITS_MAX,
        _LSH_BITS_MIN,
        _lsh_bits,
    )

    prev = _LSH_BITS_MIN
    for n in [0, 1, 10, 100, 500, 5000, 50_000, 500_000, 5_000_000, 10**9]:
        b = _lsh_bits(n)
        assert _LSH_BITS_MIN <= b <= _LSH_BITS_MAX
        assert b >= prev, "bits must not shrink as the corpus grows"
        prev = b


def test_asof_join_deterministic_under_right_side_ties(spark):
    """Multiple right rows sharing (key, ts): the carried row must be
    identical across different partitionings (ADVICE r1 tiebreak)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame([(1, 100), (1, 200)], "k int, ts int")
    rows = [(1, 100, f"v{i}") for i in range(8)]
    results = []
    for parts in (1, 7):
        right = spark.createDataFrame(rows, "k int, ts int, v string").repartition(
            parts
        )
        out = asof_join(left, right, key="k")
        results.append(sorted((r.k, r.ts, r.asof_v) for r in out.collect()))
    assert results[0] == results[1]


def test_asof_join_tiebreak_with_null_carry_values(spark):
    """ADVICE r3: tied (key, ts) right rows whose carry columns contain
    NULLs must still break ties deterministically across partitionings,
    and a NULL carry value must hash differently from every real string
    — including one equal to the old '\\x00NULL' sentinel."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame([(1, 100)], "k int, ts int")
    # two-column carries exercising NULL-vs-value in both positions,
    # plus a literal "\x00NULL" string that used to collide with NULL
    rows = [
        (1, 100, None, "b"),
        (1, 100, "a", None),
        (1, 100, "\x00NULL", "b"),
        (1, 100, None, None),
    ]
    results = []
    for parts in (1, 5):
        right = spark.createDataFrame(
            rows, "k int, ts int, v string, w string"
        ).repartition(parts)
        out = asof_join(left, right, key="k")
        results.append(sorted((r.k, r.ts, r.asof_v, r.asof_w) for r in out.collect()))
    assert results[0] == results[1]

    # the tiebreak hash itself must separate NULL from the sentinel text:
    # all four rows must produce four distinct _tiebreak values
    from pyspark.sql import functions as F

    r_tag = spark.createDataFrame(rows, "k int, ts int, v string, w string")
    hashes = (
        r_tag.select(
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.concat(
                            F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")),
                            F.coalesce(F.col(c).cast("string"), F.lit("")),
                        )
                        for c in ("v", "w")
                    ],
                )
            ).alias("h")
        )
        .distinct()
        .count()
    )
    assert hashes == 4


def test_asof_join_matched_row_nulls_are_carried_as_nulls(spark):
    """ADVICE r4: all carried values must come from the SAME matched
    right row. When the nearest row holds NULL in one carry column,
    that NULL must come through — not a value back-filled from a
    farther row (DuckDB's native ASOF returns the matched row's NULL).
    Exercised in both directions."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame([(1, 100)], "k int, ts int")
    # backward: nearest at ts=90 has v NULL; a farther row at ts=50 has
    # v set — the old per-column carry leaked "far" into asof_v
    right_b = spark.createDataFrame(
        [(1, 50, "far", "old"), (1, 90, None, "near")],
        "k int, ts int, v string, w string",
    )
    r = asof_join(left, right_b, key="k").collect()[0]
    assert r.asof_ts == 90 and r.asof_v is None and r.asof_w == "near"

    # forward: nearest at ts=110 has v NULL; farther ts=150 has v set
    right_f = spark.createDataFrame(
        [(1, 110, None, "near"), (1, 150, "far", "late")],
        "k int, ts int, v string, w string",
    )
    r = asof_join(left, right_f, key="k", direction="forward").collect()[0]
    assert r.asof_ts == 110 and r.asof_v is None and r.asof_w == "near"


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.sampled_from([1, 3]),
)
def test_jpeg_decoder_roundtrip_property(width, height, seed, ncomp):
    """r4: any random image (gray or RGB, arbitrary non-multiple-of-8
    dimensions) survives the baseline JPEG encode→decode within the
    flat-quantizer error bound. Random noise is the adversarial case
    for DCT coding — the bound is loose but must always hold."""
    import numpy as np

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.multimodal import (
        DECODERS,
    )

    from .test_ext_operators import _encode_jpeg

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (height, width, ncomp)).astype(np.uint8)
    payload = _encode_jpeg(img, width, height, ncomp)
    got = DECODERS["image/jpeg"](payload).reshape(height, width, ncomp)
    err = np.abs(got.astype(int) - img.astype(int))
    # flat Q=16 on random noise: DCT truncation error stays well under
    # half the dynamic range; determinism is exact
    assert err.max() <= 96, err.max()
    assert np.array_equal(got.ravel(), DECODERS["image/jpeg"](payload))


def test_two_level_kernel_tiebreak_and_empty_cell(spark):
    """r5 IVF kernel invariants the end-to-end oracle only covers
    incidentally: (a) a vector equidistant from fine centroids in two
    probed cells must pick the LOWEST cid (the ORDER BY cos DESC, cid
    tiebreak); (b) a vector whose probed cells hold no fine centroid
    must come back -1 (the SQL chain's inner-join drop), never a
    fabricated assignment."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators._argmax_udf import (
        make_two_level_nearest_udf,
    )
    from pyspark.sql import functions as F

    # two coarse cells along +x and +y; fine centroids: cid 1/3 in cell
    # 0 (+x-ish), cid 2 in cell 1 (+y-ish); cell 2 exists but is EMPTY
    coarse = {
        "ids": [0, 1, 2],
        "vecs": [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]],
    }
    fine = {
        "ids": [1, 2, 3],
        "vecs": [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]],  # 3 duplicates 1
        "cells": [0, 1, 0],
    }
    import math

    def nrm(v):
        return math.sqrt(sum(x * x for x in v))

    udf = make_two_level_nearest_udf(
        coarse["ids"], coarse["vecs"], [nrm(v) for v in coarse["vecs"]],
        fine["ids"], fine["vecs"], [nrm(v) for v in fine["vecs"]],
        fine["cells"], 2,
    )
    rows = [
        # ties cid 1 vs its duplicate cid 3 (same cell) AND the [1,1]
        # direction ties the +x pair against cid 2 across cells
        (10, [1.0, 1.0]),
        (11, [1.0, 0.0]),   # exact hit on cid 1 (and its dup 3)
        (12, [0.0, 1.0]),   # exact hit on cid 2
        (13, [-1.0, -1.0]), # nearest cells by cosine: 2 (empty) probed
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {
        r.vec_id: r.cid
        for r in df.select(
            "vec_id",
            udf(
                F.col("embedding"),
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            "embedding",
                            lambda x: x.cast("double") * x.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                ),
            ).alias("cid"),
        ).collect()
    }
    assert out[10] == 1, out  # cos ties at 0.7071... -> lowest cid wins
    assert out[11] == 1, out  # duplicate centroid tie -> 1, not 3
    assert out[12] == 2, out
    # vec 13: top-2 cells by cosine are cell 2 (cos 1.0) and the tie
    # between cells 0/1 (cos -0.7071; stable argsort keeps cell 0) ->
    # probes {2, 0}; cell 0 has centroids, so it assigns (negative cos
    # but still the best candidate) — verify it did NOT fabricate from
    # the empty cell and picked the lowest-cid +x centroid
    assert out[13] == 1, out

    # pure empty-probe case: cprobe=1 so ONLY the empty cell 2 is probed
    udf1 = make_two_level_nearest_udf(
        coarse["ids"], coarse["vecs"], [nrm(v) for v in coarse["vecs"]],
        fine["ids"], fine["vecs"], [nrm(v) for v in fine["vecs"]],
        fine["cells"], 1,
    )
    out1 = {
        r.vec_id: r.cid
        for r in df.select(
            "vec_id",
            udf1(
                F.col("embedding"),
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            "embedding",
                            lambda x: x.cast("double") * x.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                ),
            ).alias("cid"),
        ).collect()
    }
    assert out1[13] == -1, out1  # empty probed cell -> sentinel drop


# --- round-7 kernel properties ---------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_corrected_isqrt_quota_property(n):
    """corpus_temperature_resample's integer-corrected isqrt (double
    sqrt + one comparison) must equal math.isqrt for any source size —
    including perfect squares, where naive floor(sqrt(n)) wobbles."""
    # EXACTLY the query's formula: double-sqrt seed + one upward
    # correction. For n <= 1e12 the float64 argument is exact and
    # sqrt(n) sits at least 1/(2*(isqrt+1)) below the next integer —
    # far more than an ulp — so the seed can only err LOW, which the
    # single +1 correction repairs.
    r0 = math.floor(math.sqrt(float(n)))
    corrected = r0 + 1 if (r0 + 1) * (r0 + 1) <= n else r0
    assert corrected == math.isqrt(n)


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="0123456789abcdef", min_size=2, max_size=2))
def test_shard_expr_decodes_hex_prefix(spark, hexpair):
    """corpus_global_shuffle's derived shard formula must equal the
    base-16 integer value of the leading nibbles for every possible
    prefix (the formula is generated from _SHARD_NIBBLES — a
    generation bug would silently misroute shards)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_corpus import (
        _shard_expr_sql,
    )

    df = spark.createDataFrame([(hexpair + "00",)], "h string")
    got = df.select(
        F.expr(_shard_expr_sql("instr")).cast("int").alias("s")
    ).first()["s"]
    assert got == int(hexpair, 16)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=1, max_value=10**7), st.integers(1, 3))
def test_interleave_vtime_integer_exact(rank, weight):
    """corpus_interleave_sources: lcm/weight strides are exact
    integers for the whole weight domain, so vtime never sees FP
    division error at any rank."""
    assert 6 % weight == 0
    assert rank * (6 / weight) == rank * (6 // weight)


# --- round-9 streaming-fold kernels (pure Python, no Spark) -----------------


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40
    )
)
def test_cusum_peak_property(counts):
    """_cusum_peak equals the brute-force (|S| desc, day asc) argmax
    for arbitrary non-negative integer series."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _cusum_peak,
    )

    days = [f"d{i:03d}" for i in range(len(counts))]
    nd, day, s = _cusum_peak(days, counts)
    total, cum, scored = sum(counts), 0, []
    for rk, (d, c) in enumerate(zip(days, counts), 1):
        cum += c
        sv = len(days) * cum - rk * total
        scored.append((-abs(sv), d, sv))
    scored.sort()
    assert (nd, day, s) == (len(days), scored[0][1], scored[0][2])


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["d1", "d2", "d3", None]),
            st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
        ),
        min_size=0,
        max_size=30,
    ),
    st.integers(min_value=0, max_value=30),
)
def test_psi_fold_batching_invariance(rows, split):
    """Folding any (day, bucket) row stream in two arbitrary chunks
    equals folding it in one — the property that makes the streamed
    cube equal the batch cube regardless of trigger batching.
    Includes None days/buckets (the r9 NULL-group fix)."""
    import pandas as pd

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _psi_fold,
    )

    split = min(split, len(rows))

    def pdf(chunk):
        return pd.DataFrame(
            {
                "day": [d for d, _ in chunk],
                "bucket": pd.array(
                    [b for _, b in chunk], dtype="Int64"
                ),
            }
        )

    once = _psi_fold(None, [pdf(rows)]) if rows else None
    a, b = rows[:split], rows[split:]
    st1 = _psi_fold(None, [pdf(a)] if a else [])
    st2 = _psi_fold(st1, [pdf(b)] if b else [])
    if rows:
        assert st2[:3] == once[:3]
        # seq counts the folds: 1 for the single fold, 2 for the split
        assert once[3] == 1 and st2[3] == 2


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.sampled_from(["d1", "d2", "d3", None]), min_size=0, max_size=30
    ),
    st.integers(min_value=0, max_value=30),
)
def test_cusum_fold_batching_invariance(days, split):
    """Same batching-invariance law for the CUSUM day-count fold."""
    import pandas as pd

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _cusum_fold,
    )

    split = min(split, len(days))

    def pdf(chunk):
        return pd.DataFrame({"day": pd.array(chunk, dtype="object")})

    if days:
        once = _cusum_fold(None, [pdf(days)])
    a, b = days[:split], days[split:]
    st1 = _cusum_fold(None, [pdf(a)] if a else [])
    st2 = _cusum_fold(st1, [pdf(b)] if b else [])
    if days:
        assert st2[:2] == once[:2]
        assert once[2] == 1 and st2[2] == 2


# --- round-11 kernel properties ---------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=10**9), min_size=8, max_size=8
    )
)
def test_holt_coeffs_equal_direct_recursion_property(window):
    """The unrolled integer Holt weights must reproduce the direct
    alpha=beta=1/2 recursion on ANY window (all intermediates are
    dyadic rationals < 2^53 at these magnitudes, so the float
    recursion is exact)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_events import (
        _HOLT_SCALE,
        _HOLT_W,
    )

    l, b = float(window[0]), 0.0
    for y in window[1:]:
        lp = (y + l + b) / 2.0
        b = (lp - l + b) / 2.0
        l = lp
    direct = l + b
    # _HOLT_W[i-1] weights lag i (most recent first); window is
    # oldest-first, so lag i = window[8 - i]
    num = sum(_HOLT_W[i - 1] * window[8 - i] for i in range(1, 9))
    assert num / _HOLT_SCALE == direct


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=16**12 - 1),
    st.integers(min_value=1, max_value=12),
)
def test_hex_chunk_int_sql_matches_python_int(value, width):
    """The shared base-16 positional decode must equal Python's
    int(hex, 16) on the leading `width` chars, for both engine
    spellings, evaluated by DuckDB."""
    import duckdb

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.functions.scalar import (
        hex_chunk_int_sql,
    )

    hx = format(value, "012x")
    con = duckdb.connect()
    for fn in ("strpos", "instr"):
        sql = hex_chunk_int_sql(f"'{hx}'", width, fn=fn)
        got = con.execute(f"SELECT {sql}").fetchone()[0]
        assert got == int(hx[:width], 16)
    con.close()



# --- r15 pure-Python kernel properties --------------------------------------


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=1, max_size=2000))
def test_mp4_container_roundtrip_property(raw):
    """For ANY 1..65535-byte payload, the r15 container layout (ftyp +
    moov + dual mdat, 57 + n bytes) demuxes back to the exact RAW0
    stream and rawvideo-decodes back to the original bytes."""
    import struct

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.multimodal import (
        _decode_mp4_rawvideo,
        _demux_mp4,
    )

    n = len(raw)
    stream = b"RAW0" + struct.pack(">HHB", n, 1, 1) + raw
    half = 9 + n // 2
    payload = (
        struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
        + struct.pack(">I", 16) + b"moov" + struct.pack(">II", n, 1)
        + struct.pack(">I", 8 + half) + b"mdat" + stream[:half]
        + struct.pack(">I", 8 + len(stream) - half) + b"mdat" + stream[half:]
    )
    assert len(payload) == 57 + n
    assert _demux_mp4(payload).tobytes() == stream
    assert _decode_mp4_rawvideo(payload).tobytes() == raw


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=1, max_value=20),
        ),
        min_size=0,
        max_size=20,
        unique=True,
    )
)
def test_rbo_suffix_weights_properties(pairs):
    """RBO invariants on the precomputed suffix-sum literals: S is
    strictly decreasing in m, every score lands in [0, Σ_d w_d], and
    moving ANY common doc's max-rank deeper never increases RBO."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_retrieval import (
        _RBO_K,
        _RBO_SUFFIX_PICO,
    )

    for m in range(1, _RBO_K):
        assert _RBO_SUFFIX_PICO[m] > _RBO_SUFFIX_PICO[m + 1]
    full = _RBO_SUFFIX_PICO[1]
    score = sum(_RBO_SUFFIX_PICO[max(a, b)] for a, b in pairs)
    assert 0 <= score <= len(pairs) * full
    # monotonicity: deepening one doc's max rank cannot raise the score
    if pairs:
        a, b = pairs[0]
        m = max(a, b)
        if m < _RBO_K:
            deeper = (
                score
                - _RBO_SUFFIX_PICO[m]
                + _RBO_SUFFIX_PICO[m + 1]
            )
            assert deeper <= score


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=60)
)
def test_changepoint_integer_argmax_property(counts):
    """The float statistic |S_k − k·T/n| always lands on a MAXIMIZER
    of the exact-integer key |n·S_k − k·T| (their argmaxes can only
    differ across EXACT integer ties, where float division noise
    breaks the tie arbitrarily — hypothesis found the live example
    [c,0,0,0,c], and that tie nondeterminism is exactly why the
    production kernel orders by the integer). When the integer max
    is UNIQUE, the indices must agree outright."""
    n, tot = len(counts), sum(counts)
    s = 0
    scores = []
    best_int, best_float = None, None
    for k, c in enumerate(counts[:-1], start=1):
        s += c
        ci = abs(n * s - k * tot)
        cf = abs(s - k * tot / n)
        scores.append(ci)
        if best_int is None or ci > best_int[0]:
            best_int = (ci, k)
        if best_float is None or cf > best_float[0] + 1e-9:
            best_float = (cf, k)
    # the float pick is always an integer-score maximizer: adjacent
    # integer scores differ by >= 1 unit = 1/n in float terms, far
    # above double noise at these magnitudes
    assert scores[best_float[1] - 1] == best_int[0]
    if scores.count(best_int[0]) == 1:
        assert best_int[1] == best_float[1]


# --- round-16 kernel properties ---------------------------------------------


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=4, max_size=40
    ),
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=1, max_value=100),
)
def test_binseg_argmax_translation_and_scale_invariance(counts, shift, mult):
    """The integer CUSUM score |m·S_k − k·T| is EXACTLY invariant
    under count translation (S_k += c·k and T += c·m cancel) and
    scales by m under count scaling — so every binseg split day is
    identical for counts, counts+shift, and counts·mult. Run through
    the SAME reference implementation test_r16 ties to the production
    query (not a local re-derivation)."""
    import datetime

    from tests.test_r16 import _binseg_expected

    base_day = datetime.date(2024, 1, 1)
    def days_of(vals):
        return {
            base_day + datetime.timedelta(days=i): v
            for i, v in enumerate(vals)
        }

    ref = _binseg_expected(days_of(counts))
    shifted = _binseg_expected(days_of([c + shift for c in counts]))
    scaled = _binseg_expected(days_of([c * mult for c in counts]))
    assert set(ref) == set(shifted) == set(scaled)
    for role in ref:
        # same split day and local index everywhere; the scaled run's
        # score is exactly mult x the reference score
        assert ref[role][1] == shifted[role][1] == scaled[role][1]
        assert ref[role][2] == shifted[role][2] == scaled[role][2]
        assert scaled[role][0] == ref[role][0] * mult


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**4),  # x: day events
            st.integers(min_value=0, max_value=10**4),  # y: day purchases
        ),
        min_size=2,
        max_size=30,
    )
)
def test_jackknife_replicates_double_entry(days):
    """Each replicate computed two ways — totals-minus-day vs the sum
    over the OTHER days — must agree exactly; the S1/S2 spread is
    non-negative; and a constant series yields zero spread with every
    replicate equal to the full-sample ratio."""
    xt = sum(x for x, _ in days)
    yt = sum(y for _, y in days)
    reps = []
    for i, (x, y) in enumerate(days):
        if xt - x <= 0:
            continue
        other_x = sum(xx for j, (xx, _) in enumerate(days) if j != i)
        other_y = sum(yy for j, (_, yy) in enumerate(days) if j != i)
        assert (other_x, other_y) == (xt - x, yt - y)  # double entry
        reps.append(math.floor((yt - y) / (xt - x) * 1e6 + 0.5))
    if len(reps) >= 2:
        m, s1, s2 = len(reps), sum(reps), sum(t * t for t in reps)
        assert m * s2 - s1 * s1 >= 0  # Cauchy–Schwarz: spread >= 0
    const = [(days[0][0], days[0][1])] * len(days)
    cxt = sum(x for x, _ in const)
    if cxt - const[0][0] > 0:
        crep = {
            math.floor(
                (sum(y for _, y in const) - y) / (cxt - x) * 1e6 + 0.5
            )
            for x, y in const
        }
        assert len(crep) == 1  # constant series -> all replicates equal


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=200))
def test_conformal_rank_is_finite_sample_valid(n_cal):
    """k = ceil((n_cal+1)·0.8) gives P(score <= q) >= 0.8 under
    exchangeability — structurally, k/(n_cal+1) >= 0.8 whenever the
    rank is realizable (k <= n_cal)."""
    k = math.ceil((n_cal + 1) * 4 / 5)
    if k <= n_cal:
        assert k / (n_cal + 1) >= 0.8 - 1e-12
    else:
        # infinite-interval regime: 0.8·(n_cal+1) > n_cal ⇔ n_cal < 4
        assert n_cal < 4


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=8),
        min_size=1,
        max_size=15,
        unique=True,
    )
)
def test_ams_sign_sql_matches_python_md5(tokens):
    """Cross-implementation check of the PRODUCTION sign SQL: DuckDB
    evaluating queries_sketch._ams_sign_sql must produce the same ±1
    as the python md5 recompute, for every salt index — this pins the
    salt format, hex-prefix width, and parity modulus the
    vocabulary-grain fold relies on."""
    import hashlib

    import duckdb

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_sketch import (
        _ams_sign_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?) AS token", [tokens]
    )
    for j in (0, 31, 62):
        got = dict(
            con.execute(
                f"SELECT token, {_ams_sign_sql(f'ams{j}')} FROM t"
            ).fetchall()
        )
        for tok in tokens:
            h = hashlib.md5(f"ams{j}:{tok}".encode()).hexdigest()[:8]
            want = 1 if int(h, 16) % 2 == 0 else -1
            assert got[tok] == want, (j, tok)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # doc_id
            st.integers(min_value=1, max_value=10**6),  # weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=50),
)
def test_ht_keep_set_monotone_in_target(rows, k_small):
    """The PRODUCTION keep inequality u6·ΣW < K·w·16⁶ (real md5 u6,
    the corpus_ht/weighted-sample membership rule) is monotone in the
    target K: raising K can only ADD documents, never drop one."""
    import hashlib

    total_w = sum(w for _, w in rows)

    def keep_set(K):
        out = set()
        for doc_id, w in rows:
            u6 = int(
                hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16
            )
            if u6 * total_w < K * w * 16**6:
                out.add(doc_id)
        return out

    small, large = keep_set(k_small), keep_set(k_small * 3)
    assert small <= large


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=60
    ),
    st.integers(min_value=0, max_value=4),
)
def test_rake_phrases_partition_content_tokens(tokens_idx, stop_mod):
    """RAKE phrase splitting: candidate phrases (uncapped) partition
    the content tokens exactly — every non-stop token lands in
    exactly one phrase, phrases contain no stopwords, and order is
    preserved within a phrase."""
    vocab = [f"w{i}" for i in range(10)]
    stop = {v for i, v in enumerate(vocab) if i % 5 == stop_mod % 5}
    toks = [vocab[i] for i in tokens_idx]
    phrases = []
    cur = []
    for t in toks + [next(iter(stop))]:
        if t in stop:
            if cur:
                phrases.append(cur)
            cur = []
        else:
            cur.append(t)
    assert sum(len(p) for p in phrases) == sum(
        1 for t in toks if t not in stop
    )
    for p in phrases:
        assert all(t not in stop for t in p)
    flat = [t for p in phrases for t in p]
    assert flat == [t for t in toks if t not in stop]
