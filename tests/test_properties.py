"""Property-based tests (hypothesis) for the pure-Python kernels.

The reference has no randomized tests (SURVEY.md §5) — these go beyond
its strategy: laws that must hold for ALL inputs, not just golden cases.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from dazzleduck_sql_duckdb_spark.functions.bloom import (
    bloom_contains_all_py,
    bloom_contains_py,
    bloom_create_py,
)

elements = st.lists(
    st.one_of(st.text(max_size=20), st.none()), max_size=60
)
params = st.tuples(
    st.integers(min_value=-5, max_value=100),  # bits/elt (clamped by impl)
    st.integers(min_value=-2, max_value=30),   # hashes (clamped by impl)
)


@settings(max_examples=200, deadline=None)
@given(elements, params)
def test_bloom_never_false_negative(elems, p):
    """THE bloom-filter law: every inserted element must probe True,
    for every size/hash configuration (including out-of-range params,
    which clamp)."""
    bpe, k = p
    bf = bloom_create_py(elems, bpe, k)
    for e in elems:
        if e is not None:
            assert bloom_contains_py(bf, e) is True


@settings(max_examples=100, deadline=None)
@given(elements)
def test_bloom_contains_all_consistent_with_contains(elems):
    """contains_all(bf, xs) == AND over contains(bf, x) (NULLs skipped)."""
    bf = bloom_create_py(["a", "b", "c"])
    got = bloom_contains_all_py(bf, elems)
    individual = [
        bloom_contains_py(bf, e) for e in elems if e is not None
    ]
    want = all(individual)  # vacuous truth for empty/all-NULL
    assert got is want


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=64))
def test_bloom_malformed_blob_never_crashes(blob):
    """Arbitrary bytes: either a valid probe result or NULL — no throw."""
    assert bloom_contains_py(blob, "x") in (True, False, None)
    assert bloom_contains_all_py(blob, ["x", "y"]) in (True, False, None)


arrays = st.one_of(
    st.none(),
    st.lists(st.one_of(st.text(max_size=8), st.none()), max_size=12),
)


def _model_contains_all(h, n):
    """Executable spec of dd_array_contains_all's NULL laws
    (array_contains_all.cpp:79-111)."""
    if h is None or n is None:
        return None
    hs = {x for x in h if x is not None}
    return all(x in hs for x in n if x is not None)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(arrays, arrays), min_size=1, max_size=25))
def test_array_contains_all_matches_model(spark_prop, cases):
    from pyspark.sql import types as T

    from dazzleduck_sql_duckdb_spark.functions import dd_array_contains_all

    schema = T.StructType(
        [
            T.StructField("h", T.ArrayType(T.StringType())),
            T.StructField("n", T.ArrayType(T.StringType())),
        ]
    )
    df = spark_prop.createDataFrame(cases, schema=schema)
    got = [r[0] for r in df.select(dd_array_contains_all("h", "n")).collect()]
    want = [_model_contains_all(h, n) for h, n in cases]
    assert got == want


texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFFF),
    min_size=0, max_size=80,
)


def _model_shingles(t: str, n: int = 6) -> set[str]:
    base = t.strip(" ").lower()  # SQL trim(): spaces only
    m = max(len(base) - n + 1, 1)
    return {base[i : i + n] for i in range(m)}


@settings(max_examples=300, deadline=None)
@given(texts)
def test_rolling_hash_set_size_matches_string_shingles(t):
    """|hash set| == |string shingle set| (the vectorized double hash is
    collision-free in practice; a size mismatch would break Jaccard)."""
    from minhash_reference import np_shingle_set

    assert len(np_shingle_set(t, 6)) == len(_model_shingles(t, 6))


def test_shingle_set_size_matches_duckdb_trim_semantics():
    """The numpy reference kernel must agree with the ORACLE's SQL semantics:
    trim() strips only spaces, so tabs/newlines at the edges are part
    of the shingled text."""
    import duckdb

    from minhash_reference import np_shingle_set
    from dazzleduck_sql_duckdb_spark.plans.dialect import DUCK, shingles

    frag = shingles("t", 6, DUCK)
    for s in ["\thello world\n", "  padded  ", "a\nb\tc", "Élan\nvital",
              "short", ""]:
        want = duckdb.sql(
            f"SELECT len({frag}) FROM (SELECT ? AS t)", params=[s]
        ).fetchone()[0]
        assert len(np_shingle_set(s, 6)) == want, repr(s)


@settings(max_examples=150, deadline=None)
@given(texts, texts)
def test_rolling_hash_jaccard_matches_string_jaccard(a, b):
    import numpy as np

    from minhash_reference import np_shingle_set

    ha, hb = np_shingle_set(a, 6), np_shingle_set(b, 6)
    sa, sb = _model_shingles(a), _model_shingles(b)
    assert len(np.intersect1d(ha, hb)) == len(sa & sb)


# ---------------------------------------------- media codec roundtrips

import numpy as np  # noqa: E402

from dazzleduck_sql_duckdb_spark.operators.multimodal import (  # noqa: E402
    decode_bmp,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
)

dims = st.tuples(
    st.integers(min_value=1, max_value=16),  # h
    st.integers(min_value=1, max_value=16),  # w
)


@settings(max_examples=100, deadline=None)
@given(dims, st.integers(min_value=0, max_value=2**32 - 1), st.booleans())
def test_ppm_roundtrip_any_image(hw, seed, gray):
    """decode(encode(img)) == img for every uint8 image, RGB and gray."""
    h, w = hw
    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()


@settings(max_examples=100, deadline=None)
@given(dims, st.integers(min_value=0, max_value=2**32 - 1))
def test_bmp_roundtrip_any_image(hw, seed):
    """Roundtrip across every (h, w) — widths 1..16 sweep all four
    stride-padding residues and heights exercise the bottom-up flip."""
    h, w = hw
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(img)) == img).all()


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=200),  # frames
    st.integers(min_value=1, max_value=4),    # channels
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_any_pcm(frames, channels, seed):
    """decode(encode(x)) recovers every sample within one 16-bit
    quantization step, preserving the (frames, channels) shape."""
    rng = np.random.default_rng(seed)
    s = rng.uniform(-0.999, 0.999, size=(frames, channels))
    out = decode_wav(encode_wav(s, sample_rate=16_000))
    assert out.shape == (frames, channels)
    assert np.abs(out - s).max() < 1 / 32768 + 1e-9


def test_lineitem_quantity_is_integral():
    """q18's long-domain sum (plans/tpch.py _q18) is exact ONLY
    because l_quantity is integral (TPC-H: integers 1..50) — pin that
    precondition against every generated test scale."""
    import glob

    import duckdb

    dirs = glob.glob("/root/testdata/sf*/lineitem.parquet")
    assert dirs
    for p in dirs:
        frac, lo, hi = duckdb.sql(
            "SELECT count(*) FILTER (l_quantity <> round(l_quantity, 0)),"
            " min(l_quantity), max(l_quantity)"
            f" FROM '{p}'"
        ).fetchone()
        assert frac == 0, f"fractional l_quantity in {p}"
        assert 1 <= lo and hi <= 50
