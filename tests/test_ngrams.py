"""Tokenizer goldens (reference test_string_grouper.py:495-517)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.functions.normalize import (
    ngrams_expr,
    normalize_expr,
    py_ngrams,
)


def spark_ngrams(spark, s: str, cfg: MatchConfig):
    df = spark.createDataFrame(pd.DataFrame({"text": [s]}))
    normed = df.select(normalize_expr(F.col("text"), cfg).alias("n"))
    row = normed.select(ngrams_expr(F.col("n"), cfg.ngram_size).alias("g")).first()
    return row["g"]


def test_mcdonalds_ignore_case(spark):
    cfg = MatchConfig()
    expected = ["mcd", "cdo", "don", "ona", "nal", "ald", "lds"]
    assert spark_ngrams(spark, "McDonalds", cfg) == expected
    assert py_ngrams("McDonalds", cfg) == expected


def test_mcdonalds_case_kept(spark):
    cfg = MatchConfig(ignore_case=False)
    expected = ["McD", "cDo", "Don", "ona", "nal", "ald", "lds"]
    assert spark_ngrams(spark, "McDonalds", cfg) == expected
    assert py_ngrams("McDonalds", cfg) == expected


def test_regex_strip_and_short_strings(spark):
    cfg = MatchConfig()
    # default regex [,-./]|\s strips ',', '-', '.', '/', whitespace
    assert spark_ngrams(spark, "a,b-c.d/e f", cfg) == ["abc", "bcd", "cde", "def"]
    # too short after stripping -> no grams (sklearn zero-row)
    assert spark_ngrams(spark, "a-b", cfg) == []
    assert spark_ngrams(spark, "", cfg) == []


def test_nfkd_ascii_fold(spark):
    cfg = MatchConfig()
    # é NFKD-decomposes to e + combining accent; accent is non-ASCII -> dropped
    assert spark_ngrams(spark, "Café", cfg) == ["caf", "afe"]
    assert py_ngrams("Café", cfg) == ["caf", "afe"]


def test_spark_matches_python_on_unicode_zoo(spark):
    cfg = MatchConfig()
    samples = ["ＭｃＤｏｎａｌｄｓ", "ﬁne", "Ångström", "ab cd", "ßharp"]
    for s in samples:
        assert spark_ngrams(spark, s, cfg) == py_ngrams(s, cfg), s


@pytest.mark.parametrize(
    "seps, cfg",
    [
        ("\x1c\x1d\x1e\x1f", MatchConfig()),
        ("\xa0\u3000", MatchConfig(normalize_to_ascii=False)),
    ],
)
def test_tokenize_strips_what_python_whitespace_strips(spark, seps, cfg):
    # Java's \s keeps the ASCII separators \x1c-\x1f and the Unicode
    # spaces; Python's strips them, so the exact path's grams must too
    from string_grouper_spark.functions.tfidf import GRAM, tokenize

    texts = [f"ab{c}cd{c}ef" for c in seps] + [f"x{seps}yz w{seps}"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = (
        tokenize(df, cfg)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(GRAM)).alias("g"))
        .toPandas()
        .set_index("doc_id")["g"]
    )
    for i, t in enumerate(texts):
        assert list(got[i]) == sorted(py_ngrams(t, cfg)), repr(t)


# property-based parity: the byte-identical-normalization invariant
# (BASELINE.md target row 4) over generated webtext-ish unicode, not just
# hand-picked samples.  Derandomized so CI is deterministic; one Spark
# round-trip per example (each example is a BATCH of strings).
from hypothesis import given, settings
from hypothesis import strategies as st

from string_grouper_spark.functions.normalize import py_normalize

_WEBTEXT = st.text(
    alphabet=st.sampled_from("abcXYZ0189 ,-./\t\néüÅßçñ€ﬁＡ中文かタ"),
    min_size=0,
    max_size=40,
)


@settings(max_examples=12, deadline=None, derandomize=True)
@given(batch=st.lists(_WEBTEXT, min_size=1, max_size=16))
def test_normalize_parity_property(spark, batch):
    cfg = MatchConfig()
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(batch)), "text": batch})
    )
    got = (
        df.select("i", normalize_expr(F.col("text"), cfg).alias("n"))
        .toPandas()
        .sort_values("i")["n"]
        .tolist()
    )
    want = [py_normalize(s, cfg) for s in batch]
    assert got == want, (batch, got, want)


# Pure-python property pins for the two round-4 exact-equivalence claims:
# the prefix-sum rolling hash vs the direct window formulation, and the
# translate deletion table vs re.sub on the default strip regex.

@settings(max_examples=200, deadline=None, derandomize=True)
@given(s=_WEBTEXT, k=st.integers(min_value=1, max_value=12))
def test_roll_hash_prefix_form_matches_direct(s, k):
    import numpy as np

    from string_grouper_spark.operators.candidates import (
        _roll_hash_windows,
        _splitmix64,
    )

    def direct(norm, kk):
        b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
        if len(b) < kk:
            return None
        w = np.lib.stride_tricks.sliding_window_view(b, kk).astype(np.uint64)
        powers = np.empty(kk, dtype=np.uint64)
        powers[0] = 1
        for i in range(1, kk):
            powers[i] = powers[i - 1] * np.uint64(0x100000001B3)
        h = (w * powers[::-1][None, :]).sum(axis=1, dtype=np.uint64)
        return _splitmix64(h).astype(np.int64)

    with np.errstate(over="ignore"):
        a, b = _roll_hash_windows(s, k), direct(s, k)
    assert (a is None) == (b is None)
    if a is not None:
        assert np.array_equal(a, b), (s, k)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(s=_WEBTEXT)
def test_translate_table_matches_re_sub(s):
    import re

    from string_grouper_spark.functions.normalize import (
        _DEFAULT_STRIP_RE,
        _DEFAULT_STRIP_TABLE,
    )

    assert s.translate(_DEFAULT_STRIP_TABLE) == re.sub(_DEFAULT_STRIP_RE, "", s)
