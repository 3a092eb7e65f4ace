"""match_strings goldens ported from the reference test suite
(test_string_grouper.py:519-651, 478-493)."""

import numpy as np
import pandas as pd
import pandas.testing as pdt
import pytest

from string_grouper_spark import match_strings


def canon(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["right_index", "left_index"]).reset_index(drop=True)


def test_get_matches_two_dataframes(spark):
    # TSG:584-597
    s1 = pd.Series(["foo", "bar", "baz"])
    s2 = pd.Series(["foo", "bar", "bop"])
    expected = pd.DataFrame(
        {
            "left_index": [0, 1],
            "left_side": ["foo", "bar"],
            "similarity": [1.0, 1.0],
            "right_side": ["foo", "bar"],
            "right_index": [0, 1],
        }
    )
    out = match_strings(s1, s2)
    pdt.assert_frame_equal(expected, canon(out), check_exact=False, atol=1e-7)


def test_case_insensitive_matches(spark):
    # TSG:571-582
    s1 = pd.Series(["foo", "BAR", "baz"])
    s2 = pd.Series(["FOO", "bar", "bop"])
    out = match_strings(s1, s2)
    assert list(out["left_side"]) == ["foo", "BAR"]
    assert list(out["right_side"]) == ["FOO", "bar"]
    np.testing.assert_allclose(out["similarity"].to_numpy(), [1.0, 1.0], atol=1e-9)


def test_get_matches_single_self_join(spark):
    # TSG:599-613: ['foo','bar','baz','foo'] self-match
    s = pd.Series(["foo", "bar", "baz", "foo"])
    expected = pd.DataFrame(
        {
            "left_index": [0, 0, 1, 2, 3, 3],
            "left_side": ["foo", "foo", "bar", "baz", "foo", "foo"],
            "similarity": [1.0] * 6,
            "right_side": ["foo", "foo", "bar", "baz", "foo", "foo"],
            "right_index": [0, 3, 1, 2, 0, 3],
        }
    )
    out = match_strings(s)
    got = out.sort_values(["left_index", "right_index"]).reset_index(drop=True)
    expected = expected.sort_values(["left_index", "right_index"]).reset_index(drop=True)
    pdt.assert_frame_equal(expected, got, check_exact=False, atol=1e-7)


def test_get_matches_with_ids(spark):
    # TSG:615-631: single series + id series
    s = pd.Series(["foo", "bar", "baz", "foo"])
    sid = pd.Series(["A0", "A1", "A2", "A3"])
    out = match_strings(s, master_id=sid)
    assert list(out.columns) == [
        "left_index",
        "left_side",
        "left_id",
        "similarity",
        "right_id",
        "right_side",
        "right_index",
    ]
    got = out.sort_values(["left_index", "right_index"]).reset_index(drop=True)
    assert list(got["left_id"]) == ["A0", "A0", "A1", "A2", "A3", "A3"]
    assert list(got["right_id"]) == ["A0", "A3", "A1", "A2", "A0", "A3"]


def test_zero_similarity_completion(spark, customers_df):
    # TSG:478-485 golden frame (expected_result_with_zeroes, TSG:46-56)
    s1 = pd.Series(["whatever"])
    s2 = customers_df["Customer Name"]
    out = match_strings(s2, s1, min_similarity=0)
    got = out.sort_values(["left_index"]).reset_index(drop=True)
    expected = pd.DataFrame(
        [
            (0, "Mega Enterprises Corporation", 0.0, "whatever", 0),
            (1, "Hyper Startup Incorporated", 0.08170638, "whatever", 0),
            (2, "Hyper Startup Inc.", 0.0, "whatever", 0),
            (3, "Hyper-Startup Inc.", 0.0, "whatever", 0),
            (4, "Hyper Hyper Inc.", 0.0, "whatever", 0),
            (5, "Mega Enterprises Corp.", 0.0, "whatever", 0),
        ],
        columns=["left_index", "left_Customer Name", "similarity", "right_side", "right_index"],
    )
    pdt.assert_frame_equal(expected, got, check_exact=False, atol=1e-7)


def test_zero_similarity_empty_non_matches(spark):
    # TSG:487-493: all pairs match -> no zero rows to add
    s1 = pd.Series(["foo", "bar"])
    out = match_strings(s1, pd.Series(["foo", "bar"]), min_similarity=0)
    assert len(out) == 4  # 2 matches + 2 zero rows
    zeros = out[out.similarity == 0]
    assert len(zeros) == 2


def test_zero_sim_with_top1_reproduces_reference_drop(spark):
    # With max_n_matches=1 each master keeps only its best match (itself), so
    # the positive-but-pruned pair ('foo','fooon') resurfaces as a 0-sim row —
    # faithful to the reference's kernel-then-complete behavior (SG:765-781).
    s1 = pd.Series(["foo", "foo on", "bar"])
    out = match_strings(s1, min_similarity=0, max_n_matches=1)
    assert len(out) == 9  # all pairs present
    pair = out[(out.left_index == 0) & (out.right_index == 1)]
    assert pair.similarity.iloc[0] == 0.0


def test_min_similarity_threshold(spark, customers_df):
    # at default 0.8 the customers self-join only pairs near-identical names
    names = customers_df["Customer Name"]
    out = match_strings(names, min_similarity=0.8)
    # every string matches itself
    diag = out[out.left_index == out.right_index]
    assert len(diag) == 6
    np.testing.assert_allclose(diag.similarity.to_numpy(), np.ones(6), atol=1e-9)


def test_string_grouper_not_fit_exception(spark):
    from string_grouper_spark import SparkStringGrouper, StringGrouperNotFitException

    sg = SparkStringGrouper(pd.Series(["foo", "bar"]))
    with pytest.raises(StringGrouperNotFitException):
        sg.get_matches()


def test_non_string_series_rejected(spark):
    from string_grouper_spark import SparkStringGrouper

    with pytest.raises(TypeError):
        SparkStringGrouper(pd.Series(["foo", 2]))
    with pytest.raises(TypeError):
        SparkStringGrouper(pd.Series(["foo", np.nan]))


def test_shuffle_partitions_is_not_a_config_option():
    # Spark's session-level spark.sql.shuffle.partitions is the one knob
    from string_grouper_spark.config import MatchConfig

    with pytest.raises(TypeError, match="shuffle_partitions"):
        MatchConfig.from_kwargs(shuffle_partitions=8)


def test_invalid_id_combination_rejected(spark):
    from string_grouper_spark import SparkStringGrouper

    s = pd.Series(["foo", "bar"])
    with pytest.raises(Exception, match="invalid"):
        SparkStringGrouper(s, duplicates_id=pd.Series(["a", "b"]))
    with pytest.raises(Exception, match="same length"):
        SparkStringGrouper(s, master_id=pd.Series(["a"]))
