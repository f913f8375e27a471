"""Differential tests: the JVM dedup kernels (scala/DdKernels.scala)
against the numpy/hashlib reference (tests/minhash_reference.py).

The same pattern as a GPU-vs-CPU collect comparison: run one input set
through both implementations and require identical rows. Persisted
streaming MinHash indexes store `sh` and `bkeys`, so any difference is a
format break, not a rounding question.
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from minhash_reference import np_kernel, simhash_reference

from dazzleduck_sql_duckdb_spark.jvm import kernels
from dazzleduck_sql_duckdb_spark.operators.dedup import (
    make_shingle_sig_udf,
    simhash_column,
)
from dazzleduck_sql_duckdb_spark.plans.dedup import MINHASH_A, MINHASH_B

# characters whose handling differs between engines or needs care:
# dotted capital I (lowers to two codepoints), capital sigma (final form
# by context), Unicode 14 capitals Java 17 does not lower, a Unicode 14
# case-ignorable mark, an astral emoji, a combining accent, separators
_TRICKY = list(" \t\n\r.'1Aaİiıß") + [
    "Σ", "σ", "ς", "́", "Ⱟ", "Ꟁ", "\U00010570",
    "\U0001F600", "\U00010400", "᜴", "࢈", "·", "’",
]
_texts = st.one_of(
    st.none(),
    st.text(
        alphabet=st.one_of(
            st.characters(blacklist_categories=("Cs",)),
            st.sampled_from(_TRICKY),
        ),
        max_size=30,
    ),
)
# (n, bands): K=128 divided by 32, 18 (trailing rows unused), 7 (the
# same), 1, and no band keys at all
_params = st.sampled_from([(6, 32), (6, 18), (5, 7), (3, 1), (1, 0), (6, 0)])


def _kernel_rows(spark, texts, n, bands):
    kernel = make_shingle_sig_udf(MINHASH_A, MINHASH_B, n, bands=bands)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    out = df.select("i", kernel(df.t).alias("k"))  # local rows keep order
    return out.schema["k"].dataType.fieldNames(), [
        r.k.asDict() for r in out.collect()
    ]


@settings(max_examples=25, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=40), _params)
@example(
    [None, "", "   ", " \t ", "ab", "\tHello\nWorld  ", "İstanbul",
     "ΟΔΟΣ ΟΔΟΣ.", "Σ", "AΣ", "A1Σ", "AΣB", "A.Σ", "ΣΑ", "\U0001F600x",
     "ⰯΣ"],
    (6, 18),
)
def test_minhash_kernel_matches_numpy_reference(spark_prop, texts, nb):
    n, bands = nb
    fields, rows = _kernel_rows(spark_prop, texts, n, bands)
    assert fields == (["sh", "sig", "bkeys"] if bands else ["sh", "sig"])
    for t, got in zip(texts, rows):
        assert got == np_kernel(t, MINHASH_A, MINHASH_B, n, bands), repr(t)


def _jvm_lower(spark, s: str) -> str:
    return kernels(spark).stripLower(s)


def _all_codepoints() -> list[str]:
    return [chr(c) for c in range(sys.maxunicode + 1)
            if not 0xD800 <= c <= 0xDFFF]


def test_lowering_matches_python_on_every_codepoint(spark):
    """Every codepoint lowers as Python's str.lower does (the kernel's
    shingles are of `text.strip(" ").lower()`)."""
    chars = [c for c in _all_codepoints() if c != "\n"]
    got = _jvm_lower(spark, "\n".join(chars)).split("\n")
    assert len(got) == len(chars)
    bad = [(hex(ord(c)), c.lower(), g)
           for c, g in zip(chars, got) if g != c.lower()]
    assert not bad, bad[:20]


@pytest.mark.parametrize("fmt", ["{c}Σ", "A{c}Σ", "AΣ{c}", "aΣ{c}b"])
def test_final_sigma_context_matches_python(spark, fmt):
    """Capital sigma lowers to final ς by the Final_Sigma context rule
    (cased letter, case-ignorables, no cased letter after); every
    codepoint is tried as the context character on each side."""
    s = "\n".join(fmt.format(c=c) for c in _all_codepoints())
    got, want = _jvm_lower(spark, s).split("\n"), s.lower().split("\n")
    bad = [w for g, w in zip(got, want) if g != w]
    assert len(got) == len(want) and not bad, bad[:20]


def test_strip_removes_only_spaces(spark):
    for s in ["  x  ", "\tx\t", " \n x \n ", "   ", ""]:
        assert _jvm_lower(spark, s) == s.strip(" ").lower(), repr(s)


_token_arrays = st.one_of(
    st.none(),
    st.lists(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                     min_size=1, max_size=12), max_size=20),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_token_arrays, min_size=1, max_size=30))
@example([None, [], ["a"], ["the", "the", "cat"], ["İ", "Σ", "\U0001F600"]])
def test_simhash_kernel_matches_hashlib_fold(spark_prop, arrays):
    df = spark_prop.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i int, tok array<string>"
    )
    got = [
        r.h for r in
        df.select("i", simhash_column(df.tok, 60).alias("h")).collect()
    ]
    assert got == [simhash_reference(a, 60) for a in arrays]


def test_kernels_are_named_in_the_plan(spark):
    """Both kernels are JVM UDFs that plans show by name; no Python UDF
    node is left."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b",)], "t string")
    kernel = make_shingle_sig_udf(MINHASH_A, MINHASH_B, 6, bands=32)
    plan = df.select(
        kernel(df.t).alias("k"),
        simhash_column(F.split(df.t, " "), 60).alias("h"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "dd_minhash" in plan and "dd_simhash" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
