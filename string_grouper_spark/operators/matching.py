"""DataFrame-level matching pipelines (the reference's public API, A1-A4).

Inputs are DataFrames with a long ``row_id`` column (dense 0..n-1 positional
index — the Spark equivalent of the reference's implicit RangeIndex) and a
``text`` column.  Extra columns ride along untouched.

Every function returns a DataFrame; nothing is collected.  The pandas-parity
layer (``string_grouper_spark.pandas_api``) wraps these for exact
reference-output fidelity.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MatchConfig
from ..functions.tfidf import DOC, GRAM, W, tfidf_postings
from .similarity import (
    LEFT,
    RIGHT,
    SIM,
    cosine_join,
    symmetrize,
    top_n_per_left,
)


def _self_similarity(postings: DataFrame) -> DataFrame:
    """Diagonal of A·Aᵀ: sum of squared weights per doc (≈1.0 + fp noise).

    The reference kernel includes the diagonal in top-n competition
    (C = A·Aᵀ, SG:725-732), so we must too.
    """
    return postings.groupBy(DOC).agg(F.sum(F.col(W) * F.col(W)).alias(SIM)).select(
        F.col(DOC).alias(LEFT), F.col(DOC).alias(RIGHT), SIM
    )


def _self_join_edges(
    postings: DataFrame, ids: DataFrame, cfg: MatchConfig, n_docs: Optional[int] = None
) -> DataFrame:
    """The self-join tail of ``match_edges`` over one corpus's postings:
    off-diagonal scores (stop-gram candidates or ``cosine_join``) plus the
    diagonal, thresholded, top-n per left, then symmetry repair when
    ``cfg.force_symmetries``.  ``ids``: the corpus's 1-column id frame;
    ``n_docs``: its row count, counted from ``ids`` when the stop-gram
    guard needs it and it is not given."""
    if cfg.candidate_max_df_ratio is not None:
        # stop-gram guard (config.candidate_max_df_ratio): grams hotter
        # than the ratio are excluded from CANDIDATE GENERATION only;
        # surviving pairs are re-scored on the full postings, so every
        # emitted similarity is exact
        from .similarity import _mirrored, candidate_pairs_from_postings, score_pairs_packed

        n = n_docs if n_docs is not None else ids.count()
        max_df = max(1, int(cfg.candidate_max_df_ratio * n))
        cand = candidate_pairs_from_postings(postings, max_df)
        # one re-score pass: both directions come from the same scan, so
        # each candidate crosses the Arrow boundary once (the kernel is
        # nondeterministic, so the threshold is not pushed below it)
        off_diag = _mirrored(score_pairs_packed(cand, postings)).where(
            F.col(SIM) >= float(cfg.min_similarity)
        )
    else:
        off_diag = cosine_join(postings, postings, cfg.min_similarity, self_join=True)
    diag = _self_similarity(postings).where(F.col(SIM) >= float(cfg.min_similarity))
    edges = top_n_per_left(off_diag.unionAll(diag), cfg.max_n_matches)
    if cfg.force_symmetries:
        edges = symmetrize(edges.where(F.col(LEFT) != F.col(RIGHT)), ids)
    return edges


def match_edges(
    master: DataFrame,
    duplicates: Optional[DataFrame],
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "row_id",
    n_master: Optional[int] = None,
    n_duplicates: Optional[int] = None,
    assume_ascii: bool = False,
) -> DataFrame:
    """Reference ``fit`` (SG:380-431): corpus fit -> score -> threshold ->
    top-n -> (self-join) symmetry repair.  Returns the ``_matches_list``
    equivalent: (master_side, dupe_side, similarity).
    """
    self_join = duplicates is None
    m_post, d_post, _ = tfidf_postings(
        master, duplicates, cfg,
        text_col=text_col, id_col=id_col,
        n_master=n_master, n_duplicates=n_duplicates,
        assume_ascii=assume_ascii,
    )
    if self_join:
        # persist(), NOT localCheckpoint: the checkpoint's ExistingRDD scan
        # was measured 5x slower end-to-end (an InternalRow round-trip per
        # consumer; the gram join loses the columnar cache scan).  Nor is
        # it released: calls over an identical input plan reuse it.  A
        # release after an eager edge fence measured, on names_exact (seed
        # 11, 4 cores, 5 interleaved pairs), warm wall 2.18 -> 4.28 s (5/5
        # worse), shuffle 0.107 -> 0.47 MB and pinned-digest pass ratio 1.0
        # -> 0.25-1.0: each call re-ran the postings and with them the tf
        # JOIN idf build-side race (tfidf.build_postings).  One entry per
        # distinct corpus stays until spark.catalog.clearCache().
        m_post = m_post.persist()
        edges = _self_join_edges(m_post, master.select(F.col(id_col)), cfg, n_master)
    else:
        edges = cosine_join(m_post, d_post, cfg.min_similarity, self_join=False)
        edges = top_n_per_left(edges, cfg.max_n_matches)
    return edges


def most_similar_master(
    master: DataFrame,
    duplicates: DataFrame,
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "row_id",
    **kwargs,
) -> DataFrame:
    """A2 ``match_most_similar`` core (SG:95-127 + _get_nearest_matches
    SG:783-849) as one window instead of the reference's four merges.

    Returns one row per duplicate: (row_id, master_row_id nullable).
    Reference forces max_n_matches=1 (per MASTER row) before the per-duplicate
    argmax — reproduced exactly.  Tie-break: min master_side (SG:806-807).
    """
    cfg1 = cfg.evolve(max_n_matches=1)
    edges = match_edges(master, duplicates, cfg1, text_col=text_col, id_col=id_col, **kwargs)
    w = Window.partitionBy(RIGHT).orderBy(F.col(SIM).desc(), F.col(LEFT).asc())
    best = (
        edges.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col(RIGHT).alias(id_col), F.col(LEFT).alias("master_row_id"), F.col(SIM))
    )
    return duplicates.select(id_col).join(best, id_col, "left")


def pairwise_similarities(
    series1: DataFrame,
    series2: DataFrame,
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "row_id",
    **kwargs,
) -> DataFrame:
    """A4 ``compute_pairwise_similarities`` (SG:55-67, dot SG:433-440).

    Rows are aligned by ``row_id``; corpus = concat of both sides (N = n1+n2).
    Returns (row_id, similarity) with 0.0 where the vectors share no gram.
    """
    p1, p2, _ = tfidf_postings(series1, series2, cfg, text_col=text_col, id_col=id_col, **kwargs)
    prods = (
        p1.select(DOC, GRAM, F.col(W).alias("_w1"))
        .join(p2.select(DOC, GRAM, F.col(W).alias("_w2")), [DOC, GRAM])
        .groupBy(DOC)
        .agg(F.sum(F.col("_w1") * F.col("_w2")).alias(SIM))
    )
    return (
        series1.select(F.col(id_col).alias(DOC))
        .join(prods, DOC, "left")
        .select(F.col(DOC).alias(id_col), F.coalesce(F.col(SIM), F.lit(0.0)).alias(SIM))
    )
