"""Gopher quality filter: each rule fires on a crafted doc, clean docs pass,
reasons are sorted, thresholds are overridable."""

import pandas as pd
from pyspark.sql import functions as F

from string_grouper_spark.functions.gopher import GOPHER_THRESHOLDS, gopher_filter

_STOPS = "the be to of and that have with"


def _clean_text(n_extra=52):
    # 8 stop words + unique medium-length fillers: no repeated n-gram,
    # mean word length ~6, all alphabetic
    words = _STOPS.split() + [f"filler{i:02d}x" for i in range(n_extra)]
    lines = [" ".join(words[i : i + 5]) for i in range(0, len(words) - 4, 5)]
    return "\n".join(lines)


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(rows)), "text": rows})
    )


def test_clean_doc_kept(spark):
    out = gopher_filter(_docs(spark, [_clean_text()])).toPandas()
    assert list(out["drop_reasons"][0]) == []
    assert bool(out["kept"][0]) is True


def test_each_rule_fires(spark):
    stops_pad = (_STOPS + " ") * 1  # keep stop rule satisfied where needed
    rows = [
        "too short",  # word_count (and stop_words)
        # mean_word_length: 60 one-char words + stops
        stops_pad + " ".join(["a"] * 60),
        # symbol_ratio: '#' everywhere
        _clean_text().replace("filler", "##fil#"),
        # bullet_lines: every line bulleted
        "\n".join("- " + ln for ln in _clean_text().split("\n")),
        # ellipsis_lines: every line ends with ...
        "\n".join(ln + " ..." for ln in _clean_text().split("\n")),
        # alpha_words: mostly numbers
        stops_pad + " ".join(str(1000 + i) for i in range(60)),
        # stop_words: no stops at all
        " ".join(f"uniq{i:03d}word" for i in range(60)),
        # dup lines + dup n-grams: one phrase over and over
        "\n".join(["alpha beta gamma delta epsilon"] * 20),
    ]
    out = (
        gopher_filter(_docs(spark, rows))
        .select("doc_id", "kept", "drop_reasons")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    reasons = [set(r) for r in out["drop_reasons"]]
    assert not out["kept"].any()
    assert "word_count" in reasons[0]
    assert "mean_word_length" in reasons[1]
    assert "symbol_ratio" in reasons[2]
    assert "bullet_lines" in reasons[3]
    assert "ellipsis_lines" in reasons[4]
    assert "alpha_words" in reasons[5]
    assert "stop_words" in reasons[6]
    assert {"dup_line_frac", "dup_line_char_frac", "dup_5gram"} <= reasons[7]
    # reasons arrays come out sorted
    for r in out["drop_reasons"]:
        assert list(r) == sorted(r)


def test_thresholds_overridable(spark):
    short = " ".join(_STOPS.split() * 3)  # 24 words, otherwise clean
    strict = gopher_filter(_docs(spark, [short])).toPandas()
    assert "word_count" in set(strict["drop_reasons"][0])
    lax = gopher_filter(
        _docs(spark, [short]), thresholds={"min_words": 5}
    ).toPandas()
    assert "word_count" not in set(lax["drop_reasons"][0])


def test_defaults_are_published_values(spark):
    assert GOPHER_THRESHOLDS["min_words"] == 50
    assert GOPHER_THRESHOLDS["max_dup_line_frac"] == 0.30
    assert GOPHER_THRESHOLDS["max_dup_10gram_char_frac"] == 0.10


def test_unknown_threshold_key_raises(spark):
    import pytest

    with pytest.raises(ValueError) as ei:
        gopher_filter(
            _docs(spark, [_clean_text()]), thresholds={"min_word": 10}
        )
    assert "min_word" in str(ei.value)


def test_column_clash_names_the_gate(spark):
    # an input that already carries a column the gate adds (a screen, a
    # stat, drop_reasons or kept) is refused before any pass runs, and the
    # message names gopher_filter and every clashing column
    import pytest

    docs = _docs(spark, [_clean_text()]).withColumn("kept", F.lit(True))
    docs = docs.withColumn("n_words", F.lit(0)).withColumn("_n_lines", F.lit(0))
    with pytest.raises(ValueError) as ei:
        gopher_filter(docs)
    msg = str(ei.value)
    assert "gopher_filter" in msg and "repetition_stats" not in msg
    assert "['_n_lines', 'kept', 'n_words']" in msg
