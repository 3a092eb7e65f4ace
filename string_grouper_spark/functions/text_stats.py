"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Language ID, quality score and token counts are pure Catalyst
expressions (lower/regexp/split/aggregate) — JVM-side, whole-stage-codegen
friendly.  ``repetition_stats`` and ``fingerprint`` are one Arrow pass
each.  Every output mirrors to plain ANSI SQL for the DuckDB oracle gate.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lists — a rule-based n-gram/stopword heuristic,
# not a trained model (none is available in-sandbox, and determinism is what
# the oracle gate needs).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "una"],
}


def _word_norm(text_col):
    """ONE tokenize pass shared by every marker count: lowered text split
    on non-letter runs and re-joined with DOUBLE spaces (plus leading/
    trailing pads).  Counting a marker is then a LITERAL ``' w '`` split —
    and because adjacent tokens are separated by TWO spaces, consecutive
    occurrences ("the the the") never share a consumed separator, so the
    count is exact (the single-space formulation undercounted adjacency:
    non-overlapping regex matching consumes the boundary).  Replaces the
    previous shape's ~25 per-marker regex scans of the full document with
    one regex tokenize + cheap literal scans (measured 2.5x on 3000-word
    docs; BASELINE.md round-5 log)."""
    return F.concat(
        F.lit("  "),
        F.array_join(F.split(F.lower(text_col), "[^a-z]+"), "  "),
        F.lit("  "),
    )


def _count_word(norm_col, word: str):
    # whole-word occurrence count over a ``_word_norm`` column: pieces - 1
    # of a literal split (limit -1 keeps trailing empties, mirroring
    # DuckDB's string_split piece count exactly)
    return F.size(F.split(norm_col, f" {word} ", -1)) - 1


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID; 'und' (undetermined) when no marker hits.

    Deterministic tie-break: language order en < de < fr < es by score desc.
    One tokenize pass (``_word_norm``) feeds all 20 marker counts.
    """
    scores = [
        F.struct(
            sum(_count_word(F.col("_wnorm"), w) for w in words).alias("score"),
            F.lit(-i).alias("ord"),  # negated: desc sort => first-listed language wins ties
            F.lit(lang).alias("lang"),
        )
        for i, (lang, words) in enumerate(LANG_MARKERS.items())
    ]
    best = F.sort_array(F.array(*scores), asc=False)[0]
    return (
        df.withColumn("_wnorm", _word_norm(F.col(text_col)))
        .withColumn(
            out_col, F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
        )
        .drop("_wnorm")
    )


def token_count(df: DataFrame, text_col: str = "text", out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count."""
    return df.withColumn(out_col, F.size(F.split(F.trim(F.col(text_col)), r"\s+")))


def word_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_word_tokens"
) -> DataFrame:
    """BPE-ish token proxy: alnum runs + standalone punctuation marks."""
    pattern = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
    return df.withColumn(
        out_col,
        F.size(F.expr(f"regexp_extract_all({text_col}, '{pattern}', 0)")),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality features + a composite score in [0, 1].

    Features (all deterministic ratios): mean token length sanity, alpha
    ratio, punct ratio, stopword presence.  Mirrors common webtext filters
    (C4-style) without any model dependency.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = F.split(F.trim(t), r"\s+")
    n_tokens = F.size(toks)
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(t, r"[^.,!?;:]", ""))
    stop_hits = sum(_count_word(F.col("_wnorm"), w) for w in LANG_MARKERS["en"])
    mean_tok = n_chars / n_tokens
    out = (
        df.withColumn("_wnorm", _word_norm(t))
        .withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens_q", n_tokens)
        .withColumn("alpha_ratio", F.round(alpha / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("punct_ratio", F.round(punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_rate", F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6))
    )
    score = (
        F.when((mean_tok >= 3) & (mean_tok <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(F.col("alpha_ratio") >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_rate") >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return out.withColumn("quality_score", F.round(score, 2)).drop("_wnorm")


# the per-doc integer columns of the repetition pass: 4 line stats, then 5
# per-gram-order arrays
_STAT_COLS = (
    "_n_lines", "_n_distinct", "_dup_chars", "_tot_chars",
    "_top_cnt", "_top_l", "_tot_ch", "_dup_ch", "_n_grams",
)


def _repetition_stats_fast(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_sep: str,
    top_ns,
    dup_ns,
    passthrough: bool,
    extra=None,
) -> DataFrame:
    """The one pass behind ``repetition_stats`` (see its docstring): ONE
    ``mapInPandas`` row per doc carrying exact integer line stats plus
    per-order gram stats as 9-element arrays (null element where the doc
    has fewer words than the order), all divisions/rounding left in Spark
    so the SQL oracle's arithmetic matches bit for bit.

    ``extra``: optional ``(fields, fn)`` — extra per-doc columns computed
    INSIDE the same pass.  ``fields`` is a list of StructField; ``fn(t,
    ws, lc)`` receives the doc text (already None-coerced to ''), its
    whitespace-split word list and its stripped-non-empty-line Counter —
    the tokenization this kernel computes anyway — and returns one value
    per field.  This is how ``gopher_filter`` fuses its word/line screens
    into the stats pass: the document text crosses the Python boundary
    ONCE and is split ONCE, instead of paying a second ArrowEvalPython
    round-trip + re-tokenization for the screens."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    all_ns = tuple(top_ns) + tuple(dup_ns)
    word_re = re.compile(r"\s+")
    sep = line_sep
    stat_names = _STAT_COLS
    extra_fields, extra_fn = extra if extra is not None else ([], None)
    extra_names = [f.name for f in extra_fields]
    in_df = df if passthrough else df.select(id_col, text_col)
    clash = (set(stat_names) | set(extra_names)) & set(in_df.columns)
    if clash:
        raise ValueError(f"passthrough column(s) {sorted(clash)} collide "
                         "with repetition_stats internals")
    # without passthrough, only the id rides back out of Python — shipping
    # the text column both ways just to drop it would double the Arrow
    # transfer of the widest column
    out_fields = (
        list(in_df.schema.fields) if passthrough else [in_df.schema[id_col]]
    )
    schema = StructType(
        out_fields
        + [StructField(n, LongType(), True) for n in stat_names[:4]]
        + [StructField(n, ArrayType(LongType()), True) for n in stat_names[4:]]
        + list(extra_fields)
    )

    def _doc_stats(batches):
        for pdf in batches:
            out = {n: [] for n in stat_names}
            extra_out = {n: [] for n in extra_names}
            for text in pdf[text_col]:
                t = text if isinstance(text, str) else ""
                # line stats: literal split, single-space trim, char
                # lengths — the SQL split/trim/length semantics the oracle
                # uses (NULL text == no lines)
                lc = Counter(
                    ln for ln in (x.strip(" ") for x in t.split(sep)) if ln
                )
                n_lines = sum(lc.values())
                out["_n_lines"].append(n_lines)
                out["_n_distinct"].append(len(lc))
                out["_dup_chars"].append(
                    sum((c - 1) * len(l) for l, c in lc.items())
                )
                out["_tot_chars"].append(
                    sum(c * len(l) for l, c in lc.items())
                )
                ws = [w for w in word_re.split(t) if w]
                L = len(ws)
                cols = {n: [] for n in stat_names[4:]}
                for n in all_ns:
                    if L < n:
                        for c in cols.values():
                            c.append(None)
                        continue
                    counts = Counter(
                        " ".join(ws[i : i + n]) for i in range(L - n + 1)
                    )
                    top_key, tot, dup, ng = None, 0, 0, 0
                    for g, c in counts.items():
                        gl = len(g)
                        tot += c * gl
                        ng += c
                        if c > 1:
                            dup += c * gl
                        # (count, char len, utf-8 bytes): Spark's
                        # max(struct(cnt, len, gram)) under binary string
                        # order, exactly
                        key = (c, gl, g.encode("utf-8"))
                        if top_key is None or key > top_key:
                            top_key = key
                    cols["_top_cnt"].append(top_key[0])
                    cols["_top_l"].append(top_key[1])
                    cols["_tot_ch"].append(tot)
                    cols["_dup_ch"].append(dup)
                    cols["_n_grams"].append(ng)
                for n in stat_names[4:]:
                    out[n].append(cols[n])
                if extra_fn is not None:
                    for name, v in zip(extra_names, extra_fn(t, ws, lc)):
                        extra_out[name].append(v)
            res = pdf.copy() if passthrough else pdf[[id_col]].copy()
            for n in stat_names:
                res[n] = pd.Series(out[n], index=pdf.index, dtype=object)
            for n in extra_names:
                res[n] = pd.Series(extra_out[n], index=pdf.index, dtype=object)
            yield res

    stats = in_df.mapInPandas(_doc_stats, schema)

    def ea(col, n):  # 1-based element_at by gram order
        return F.element_at(col, all_ns.index(n) + 1)

    prefix = (
        [F.col(c) for c in df.columns] if passthrough else [F.col(id_col)]
    )
    return stats.select(
        *prefix,
        F.col("_n_lines").alias("n_lines"),
        F.round(
            F.when(
                F.col("_n_lines") > 0,
                (F.col("_n_lines") - F.col("_n_distinct")) / F.col("_n_lines"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.when(
                F.col("_tot_chars") > 0,
                F.col("_dup_chars") / F.col("_tot_chars"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_char_frac"),
        F.round(ea("_top_cnt", 2) / ea("_n_grams", 2), 6).alias("top_bigram_frac"),
        *[
            F.round(
                ea("_top_cnt", n) * ea("_top_l", n) / ea("_tot_ch", n), 6
            ).alias(f"top_{n}gram_char_frac")
            for n in top_ns
        ],
        *[
            F.round(ea("_dup_ch", n) / ea("_tot_ch", n), 6).alias(
                f"dup_{n}gram_char_frac"
            )
            for n in dup_ns
        ],
        *[F.col(n) for n in extra_names],
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition features per doc (Rae et al. 2021's
    repetitious-text filters, the standard webtext quality gate):

      * ``n_lines``             — non-empty (post-trim) lines;
      * ``dup_line_frac``       — fraction of lines that are repeats of
                                  another line ((n_lines - n_distinct) / n_lines);
      * ``dup_line_char_frac``  — fraction of line characters inside those
                                  repeats (extra copies' chars / all chars);
      * ``top_bigram_frac``     — share of the most frequent word 2-gram
                                  among all word 2-grams (None if < 2 words);
      * ``top_{2,3,4}gram_char_frac`` — character share of the most frequent
                                  word n-gram: cnt_top * len(top) over the
                                  total n-gram occurrence chars sum(cnt*len)
                                  (the Gopher top-n-gram filters, n = 2-4;
                                  the most frequent gram is the max of
                                  (cnt, len, utf-8 bytes of the gram), so
                                  count ties break deterministically and
                                  identically to the SQL oracle's
                                  max(struct(cnt, len, gram)));
      * ``dup_{5..10}gram_char_frac`` — character share of n-grams occurring
                                  more than once: sum(cnt*len | cnt>1) over
                                  sum(cnt*len) (the Gopher dup-n-gram
                                  filters, n = 5-10).

    Normalization note: fractions are over total n-gram OCCURRENCE
    characters, not raw document length, and overlapping duplicate spans
    are not position-unioned — a deterministic, relational variant of the
    published filters (monotonically related; the positional-union form
    needs per-doc interval logic that does not decompose into partial
    aggregations).  Columns for orders longer than the doc are null.

    Shape: ONE narrow ``mapInPandas`` pass (``_repetition_stats_fast``)
    emits one row of exact INTEGER stats per doc — line repeats and every
    gram order from one Counter each — and every division and 6dp round
    runs in Spark, so an independent SQL engine hash-matches.  The whole
    operator is a map: zero shuffles, zero joins, no cross-doc
    aggregation, so no skew key to salt.
    """
    return _repetition_stats_fast(
        df, text_col, id_col, line_sep, (2, 3, 4), (5, 6, 7, 8, 9, 10),
        passthrough=False,
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    k: int = 9,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over all k-char
    windows of the whitespace-collapsed lowered text.  Robust to reordering
    of large chunks; equal fingerprints => docs share their minimal window.

    ONE Arrow pass per batch sharing the substring index's vectorized
    rolling polynomial hash (``operators.candidates._roll_hash_windows`` —
    splitmix64-finalized, so minima are uniform).  Text shorter than ``k``
    bytes is one whole-string window.  Empty (non-null) text gets a real
    value, so empty docs still group as exact duplicates; NULL text is
    NULL (absent data should not equi-join).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ..operators.candidates import _roll_hash_windows, _splitmix64

    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    # fingerprint of the EMPTY string: the k=0 polynomial hash (0),
    # splitmix64-finalized — a real value, so empty docs still equi-join
    # into an exact-duplicate group.  Only NULL text yields NULL.
    empty_fp = int(
        _splitmix64(np.zeros(1, dtype=np.uint64))[0].astype(np.int64)
    )

    # no type annotations: the module uses PEP-563 string annotations and
    # pd is function-local, so pyspark's hint resolver would fail on them
    @pandas_udf(returnType=LongType(), functionType=None)
    def min_window_hash(norms):
        out = []
        with np.errstate(over="ignore"):
            for s in norms:
                if s is None:
                    out.append(None)  # NULL text -> NULL fingerprint
                    continue
                if not s:
                    out.append(empty_fp)
                    continue
                # short strings fall back to one whole-string window
                kk = min(k, max(1, len(s.encode("utf-8"))))
                v = _roll_hash_windows(s, kk)
                out.append(empty_fp if v is None or not len(v) else int(v.min()))
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, min_window_hash(norm))
