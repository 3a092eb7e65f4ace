"""Gopher-style document quality filter (Rae et al. 2021, Table A1) — the
standard webtext keep/drop gate, composed from the engine's existing
repetition stats plus word/line-level screens, all computed in ONE Arrow
pass per document batch; the threshold flags are Catalyst expressions.

Every rule is a deterministic ratio with a published threshold; a failing
rule contributes its name to ``drop_reasons`` so curation is auditable
(the at-scale requirement: you never delete 40% of a crawl without a
per-document WHY).  Thresholds are overridable per call.

Rules (names = drop_reasons entries):

  word_count          n_words outside [min_words, max_words]     (50, 100k)
  mean_word_length    mean chars/word outside [3, 10]
  symbol_ratio        ('#' chars + '...' runs) / n_words > 0.1
  bullet_lines        > 90% of lines start with a bullet mark
  ellipsis_lines      > 30% of lines end with '...' / '…'
  alpha_words         < 80% of words contain an alphabetic char
  stop_words          < 2 distinct English stop words present
  dup_line_frac       repetition_stats > 0.30
  dup_line_char_frac  repetition_stats > 0.20
  top_{2,3,4}gram     top n-gram char share > 0.20 / 0.18 / 0.16
  dup_{5..10}gram     dup n-gram char share > 0.15 .. 0.10

Reference analogue: none — string_grouper has no quality gate; this is
the LLM-pipeline extension the task brief asks for, shaped like the
published Gopher filter set so results are comparable to the literature.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# published Gopher thresholds (Rae et al. 2021 Table A1)
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_length": 3.0,
    "max_mean_word_length": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_words": 2,
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_top_2gram_char_frac": 0.20,
    "max_top_3gram_char_frac": 0.18,
    "max_top_4gram_char_frac": 0.16,
    "max_dup_5gram_char_frac": 0.15,
    "max_dup_6gram_char_frac": 0.14,
    "max_dup_7gram_char_frac": 0.13,
    "max_dup_8gram_char_frac": 0.12,
    "max_dup_9gram_char_frac": 0.11,
    "max_dup_10gram_char_frac": 0.10,
}

_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLETS = ("-", "*", "•", "‣", "▪")


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    thresholds: Optional[dict] = None,
) -> DataFrame:
    """Adds ``n_words``, ``drop_reasons`` (sorted array<string>, empty =
    clean) and ``kept`` (boolean) to ``df``.

    Plan shape: ONE narrow ``mapInPandas`` pass computes the word/line
    screens AND the full repetition family per doc (the screens ride the
    stats kernel's ``extra`` hook, sharing its tokenization); the
    threshold flags are scalar Catalyst expressions over the returned
    integer/double stats.  Zero joins, zero shuffles, one Python boundary
    crossing of the document text — the whole gate is a map at 100 TB.
    """
    th = dict(GOPHER_THRESHOLDS)
    unknown = sorted(set(thresholds or {}) - set(th))
    if unknown:
        raise ValueError(
            f"unknown gopher threshold key(s) {unknown}; valid keys: "
            f"{sorted(th)} — a misspelled override would otherwise be "
            "silently ignored and the published default would apply"
        )
    th.update(thresholds or {})

    # The seven scalar screens run INSIDE the repetition-stats pass.  Two
    # earlier shapes were measured and replaced: Catalyst HOF lambdas
    # (INTERPRETED; projection collapse re-evaluated the screen tree ~4x —
    # 6 -> 44 s at sf0.1), then a separate ArrowEvalPython pandas UDF
    # chained before the stats MapInPandas — one evaluation each, but the
    # document text crossed the JVM->Python boundary TWICE and was
    # whitespace-split twice.  The stats kernel's ``extra`` hook (see
    # _repetition_stats_fast) computes the screens from the word list and
    # line Counter that kernel already builds: one Python pass, one text
    # transfer, one tokenization — and still a single evaluation barrier,
    # so downstream predicate shape remains irrelevant.
    from .text_stats import _STAT_COLS, _repetition_stats_fast

    from pyspark.sql.types import DoubleType, IntegerType, StructField

    alpha_re = re.compile(r"[A-Za-z]")
    stops = frozenset(_STOPS)
    bullets = tuple(_BULLETS)
    screen_fields = [
        StructField("n_words", IntegerType(), True),
        StructField("_mean_wl", DoubleType(), True),
        StructField("_symbol_ratio", DoubleType(), True),
        StructField("_alpha_frac", DoubleType(), True),
        StructField("_stop_hits", IntegerType(), True),
        StructField("_bullet_frac", DoubleType(), True),
        StructField("_ellipsis_frac", DoubleType(), True),
    ]

    def _screens(t, ws, lc):
        # identical formulas (and identical float math) to the former
        # standalone screens UDF; ws/lc come pre-tokenized from the kernel
        n = len(ws)
        d = max(n, 1)
        nl = max(sum(lc.values()), 1)
        return (
            n,
            sum(map(len, ws)) / d,
            (t.count("#") + t.count("...")) / d,
            sum(1 for w in ws if alpha_re.search(w)) / d,
            len({w.lower() for w in ws} & stops),
            sum(c for ln, c in lc.items() if ln.startswith(bullets)) / nl,
            sum(
                c for ln, c in lc.items()
                if ln.endswith("...") or ln.endswith("…")
            ) / nl,
        )

    rep_cols = [
        "dup_line_frac", "dup_line_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
        "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
        "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac",
    ]
    screen_names = [f.name for f in screen_fields]
    # every column the gate adds, including the kernel's intermediates:
    # an input column of the same name would be silently shadowed
    added = set(screen_names + rep_cols + list(_STAT_COLS)) | {
        "n_lines", "top_bigram_frac", "drop_reasons", "kept",
    }
    clash = sorted(added & set(df.columns))
    if clash:
        raise ValueError(
            f"gopher_filter: input column(s) {clash} clash with the "
            "columns the gate adds; rename or drop them first"
        )
    joined = _repetition_stats_fast(
        df, text_col, id_col, line_sep, (2, 3, 4), (5, 6, 7, 8, 9, 10),
        passthrough=True, extra=(screen_fields, _screens),
    ).select(
        # replicate the former join's column order exactly: join key first,
        # then the remaining document/screen columns, then the stat columns
        id_col, *[c for c in df.columns if c != id_col],
        *screen_names, *rep_cols
    )

    def _flag(cond, name):
        return F.when(cond, F.lit(name))

    reasons = F.array(
        _flag(
            (F.col("n_words") < th["min_words"])
            | (F.col("n_words") > th["max_words"]),
            "word_count",
        ),
        _flag(
            (F.col("_mean_wl") < th["min_mean_word_length"])
            | (F.col("_mean_wl") > th["max_mean_word_length"]),
            "mean_word_length",
        ),
        _flag(F.col("_symbol_ratio") > th["max_symbol_ratio"], "symbol_ratio"),
        _flag(F.col("_bullet_frac") > th["max_bullet_line_frac"], "bullet_lines"),
        _flag(
            F.col("_ellipsis_frac") > th["max_ellipsis_line_frac"],
            "ellipsis_lines",
        ),
        _flag(F.col("_alpha_frac") < th["min_alpha_word_frac"], "alpha_words"),
        _flag(F.col("_stop_hits") < th["min_stop_words"], "stop_words"),
        _flag(F.col("dup_line_frac") > th["max_dup_line_frac"], "dup_line_frac"),
        _flag(
            F.col("dup_line_char_frac") > th["max_dup_line_char_frac"],
            "dup_line_char_frac",
        ),
        *[
            _flag(
                F.col(f"top_{n}gram_char_frac") > th[f"max_top_{n}gram_char_frac"],
                f"top_{n}gram",
            )
            for n in (2, 3, 4)
        ],
        *[
            _flag(
                F.col(f"dup_{n}gram_char_frac") > th[f"max_dup_{n}gram_char_frac"],
                f"dup_{n}gram",
            )
            for n in range(5, 11)
        ],
    )
    reasons = F.array_sort(
        F.filter(reasons, lambda r: r.isNotNull())
    )
    return (
        joined.withColumn("drop_reasons", reasons)
        .withColumn("kept", F.size("drop_reasons") == 0)
        .drop(
            "_mean_wl", "_symbol_ratio", "_alpha_frac", "_stop_hits",
            "_bullet_frac", "_ellipsis_frac",
        )
    )
