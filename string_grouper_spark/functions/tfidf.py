"""Distributed TF-IDF postings with exact sklearn parity.

The reference vectorizes with ``sklearn TfidfVectorizer(min_df=1,
analyzer=n_grams)`` (/root/reference/string_grouper/string_grouper.py:305-308,
699-707), whose defaults mean:

    tf(d, g)  = raw count of gram g in doc d
    idf(g)    = ln((1 + N) / (1 + df(g))) + 1        (smooth_idf=True)
    weight    = tf * idf, then L2-normalized per doc  (norm='l2')

N counts ALL docs in the corpus (master + duplicates concatenated,
SG:699-707).  We deliberately do NOT use ``pyspark.ml.feature.IDF`` — its
formula is ``log((m+1)/(df+1))`` without the ``+1`` shift, which breaks
numeric parity with the reference.

The distributed representation of the CSR matrix (SG:685-697) is a long-form
posting table ``(doc_id: long, gram: string, w: double)`` with rows only for
present grams — the idiomatic Spark sparse matrix.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MatchConfig
from .normalize import ngrams_expr, normalize_expr

DOC = "doc_id"
GRAM = "gram"
W = "w"


def tokenize(
    df: DataFrame,
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = DOC,
    assume_ascii: bool = False,
) -> DataFrame:
    """(id, text, ...) -> exploded (doc_id, gram); one row per gram OCCURRENCE.

    Normalization is projected into its own step first: Spark forbids a Python
    UDF (the NFKD fold) inside a higher-order-function lambda, and this also
    guarantees the UDF runs once per row rather than once per subexpression.
    """
    normalized = df.select(
        F.col(id_col).alias(DOC),
        normalize_expr(F.col(text_col), cfg, assume_ascii=assume_ascii).alias("_norm"),
    )
    return normalized.select(
        DOC,
        F.explode(ngrams_expr(F.col("_norm"), cfg.ngram_size)).alias(GRAM),
    )


def term_frequencies(tokens: DataFrame) -> DataFrame:
    """(doc_id, gram) occurrences -> (doc_id, gram, tf)."""
    return tokens.groupBy(DOC, GRAM).agg(F.count(F.lit(1)).alias("tf"))


def corpus_idf(
    master_tokens: DataFrame,
    dupe_tokens: Optional[DataFrame],
    n_docs: int,
) -> DataFrame:
    """Document-frequency + sklearn-formula IDF over the whole corpus.

    ``n_docs`` must be the total corpus size (len(master)+len(duplicates)),
    including docs that produced zero grams — sklearn counts them in N too.
    Returns (gram, df, idf).
    """
    if dupe_tokens is not None:
        tagged = master_tokens.select(F.lit(0).alias("side"), DOC, GRAM).unionAll(
            dupe_tokens.select(F.lit(1).alias("side"), DOC, GRAM)
        )
    else:
        tagged = master_tokens.select(F.lit(0).alias("side"), DOC, GRAM)
    df_counts = (
        tagged.dropDuplicates(["side", DOC, GRAM])
        .groupBy(GRAM)
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return df_counts.withColumn(
        "idf", F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + 1.0
    )


def build_postings(tf_df: DataFrame, idf_df: DataFrame, cfg: MatchConfig) -> DataFrame:
    """tf table + idf table -> L2-normalized posting table (doc_id, gram, w).

    The per-doc L2 norm is a window aggregate over ``doc_id`` — a single
    shuffle, no self-join.  At 100 TB the postings are already hash-partitioned
    by doc_id coming out of the tf groupBy, so AQE keeps this narrow.
    """
    weighted = tf_df.join(idf_df.select(GRAM, "idf"), GRAM).select(
        DOC, GRAM, (F.col("tf") * F.col("idf")).alias("tfidf")
    )
    w_doc = Window.partitionBy(DOC)
    out = weighted.select(
        DOC,
        GRAM,
        (F.col("tfidf") / F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf")).over(w_doc))).alias(W),
    )
    if cfg.tfidf_matrix_dtype == "float32":
        out = out.withColumn(W, F.col(W).cast("float").cast("double"))
    return out


def tfidf_postings(
    master: DataFrame,
    duplicates: Optional[DataFrame],
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "row_id",
    n_master: Optional[int] = None,
    n_duplicates: Optional[int] = None,
    assume_ascii: bool = False,
) -> Tuple[DataFrame, Optional[DataFrame], DataFrame]:
    """Full corpus-fit + transform.

    Returns (master_postings, dupe_postings_or_None, idf).  Counts may be
    passed in to avoid recount jobs when the caller already knows them.
    """
    m_tokens = tokenize(master, cfg, text_col, id_col, assume_ascii)
    d_tokens = (
        tokenize(duplicates, cfg, text_col, id_col, assume_ascii)
        if duplicates is not None
        else None
    )
    if n_master is None:
        n_master = master.count()
    if duplicates is not None and n_duplicates is None:
        n_duplicates = duplicates.count()
    n_docs = n_master + (n_duplicates or 0)

    idf = corpus_idf(m_tokens, d_tokens, n_docs)
    m_post = build_postings(term_frequencies(m_tokens), idf, cfg)
    d_post = build_postings(term_frequencies(d_tokens), idf, cfg) if d_tokens is not None else None
    return m_post, d_post, idf
