"""Cosine-similarity join — the engine's heart.

Replaces the reference's C++ top-n sparse matmul ``sp_matmul_topn``
(/root/reference/string_grouper/string_grouper.py:709-752) with an
inverted-index equi-join over the posting tables:

    sim(l, r) = sum over shared grams of w_l * w_r        (both L2-normalized)

Plan shape (all built-in operators, whole-stage codegen end to end):

    postings_l JOIN postings_r ON gram       -- shuffle on gram (skew point)
      GROUP BY l, r: sum(w_l * w_r)          -- partial agg map-side first
      FILTER sim >= min_similarity           -- threshold "pushdown" by construction
      WINDOW row_number over (l ORDER BY sim DESC, r) <= max_n_matches

A self-join scores each unordered pair once (l < r) and emits both
directions from ONE scan of the summed pairs (``_mirrored``: explode of a
two-struct array), never as ``sims UNION mirror(sims)``: Spark re-executes
each leg of a union, so the two-legged form ran the gram join twice.

The reference's blocking machinery (SG:734-752) is exactly Spark partitioning;
its zip-merge invariant ("per-row top-n computed across all B-blocks") is the
reason the top-n window runs AFTER the global aggregation, never per-partition
— so results are partition-count invariant by construction (mirrors reference
tests test_string_grouper.py:191-336).

Scale notes (100 TB):
  * The gram join is Zipf-skewed.  ``prune_hot_grams`` caps candidate
    generation; exact re-scoring of surviving pairs never prunes.
  * AQE skew-join splitting is assumed ON (set in session helper).
  * For web-scale inputs use the flagship LSH plan
    (``plans.fast_dedup``), which re-scores only candidate pairs on packed
    per-doc vectors — the all-pairs gram join is the exact/small path.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions.tfidf import DOC, GRAM, W

LEFT = "master_side"
RIGHT = "dupe_side"
SIM = "similarity"


def prune_hot_grams(postings: DataFrame, max_df: int) -> DataFrame:
    """Drop grams appearing in more than ``max_df`` docs (candidate gen only).

    The reference has no analogue (dense matmul touches everything); at web
    scale a gram like ``'the'`` would produce df^2 join rows.  Use ONLY for
    candidate generation — recall accounting is the caller's job.

    Plan shape matters here: this is ``candidates.capped_buckets`` over
    the gram key — document frequency from a map-side partial count (the
    shuffle carries ~|vocab| rows per partition, not the postings), the
    HOT-gram set (tiny by definition) anti-joined out, broadcast by AQE at
    run time.  A ``Window.partitionBy(gram)`` formulation would shuffle the
    full posting rows BY THE SKEWED KEY and land every hot gram's postings
    in one task: the exact skew this guard exists to avoid, paid before
    the guard could apply.
    """
    from .candidates import capped_buckets  # candidates imports this module

    return capped_buckets(postings, max_df, (GRAM,))


def candidate_pairs_from_postings(postings: DataFrame, max_df: int) -> DataFrame:
    """Distinct candidate pairs (l < r) from the inverted index restricted to
    grams with document frequency <= ``max_df`` — the stop-gram guard for the
    exact self-join path.  Pairs that share ONLY hot grams are the ones
    skipped; callers re-score survivors on the FULL postings so similarities
    stay exact (recall accounting is a test concern, never silent)."""
    pruned = prune_hot_grams(postings, max_df)
    l = pruned.select(F.col(DOC).alias(LEFT), GRAM)
    r = pruned.select(F.col(DOC).alias(RIGHT), GRAM)
    return (
        l.join(r, GRAM)
        .where(F.col(LEFT) < F.col(RIGHT))
        .select(LEFT, RIGHT)
        .dropDuplicates([LEFT, RIGHT])
    )


def _mirrored(edges: DataFrame) -> DataFrame:
    """(l, r, s) -> (l, r, s) and (r, l, s), both from ONE scan of ``edges``.

    explode, not a self-union (the idiom of ``grouping._large_star``): each
    leg of a union re-executes its whole subplan, so ``edges UNION
    mirror(edges)`` paid the upstream join (or re-score UDF) twice.
    """
    return edges.select(
        F.explode(
            F.array(
                F.struct(LEFT, RIGHT, SIM),
                F.struct(F.col(RIGHT).alias(LEFT), F.col(LEFT).alias(RIGHT), SIM),
            )
        ).alias("_e")
    ).select("_e.*")


def cosine_join(
    postings_l: DataFrame,
    postings_r: DataFrame,
    min_similarity: float,
    self_join: bool = False,
) -> DataFrame:
    """All-pairs sparse cosine via inverted-index join.

    Returns (master_side, dupe_side, similarity) with sim >= min_similarity.
    When ``self_join`` the caller passes the same postings twice; we keep all
    ordered pairs l != r (the reference's C = A·Aᵀ has both directions; the
    diagonal is repaired separately by ``symmetrize``).
    """
    l = postings_l.select(
        F.col(DOC).alias(LEFT), F.col(GRAM).alias(GRAM), F.col(W).alias("_wl")
    )
    r = postings_r.select(
        F.col(DOC).alias(RIGHT), F.col(GRAM).alias(GRAM), F.col(W).alias("_wr")
    )
    pairs = l.join(r, GRAM)
    if self_join:
        # compute each unordered pair once (halves the agg), then emit both
        # directions in the same scan of the sums (_mirrored)
        pairs = pairs.where(F.col(LEFT) < F.col(RIGHT))
    sims = (
        pairs.groupBy(LEFT, RIGHT)
        .agg(F.sum(F.col("_wl") * F.col("_wr")).alias(SIM))
        .where(F.col(SIM) >= float(min_similarity))
    )
    return _mirrored(sims) if self_join else sims


def top_n_per_left(edges: DataFrame, max_n_matches: Optional[int]) -> DataFrame:
    """Keep the top ``max_n_matches`` by similarity per master_side row.

    Matches the kernel semantics (top_n per row of C = master x dupesᵀ,
    SG:725-732).  Tie order: similarity desc then dupe index asc — the
    deterministic ordering SURVEY §7.3 requires.  Runs AFTER the global
    aggregation (zip-merge invariant) so it is partition-count invariant.
    """
    if max_n_matches is None:
        return edges
    w = Window.partitionBy(LEFT).orderBy(F.col(SIM).desc(), F.col(RIGHT).asc())
    return (
        edges.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(max_n_matches))
        .drop("_rn")
    )


def symmetrize(edges: DataFrame, node_ids: DataFrame) -> DataFrame:
    """Self-join repair (reference ``force_symmetries``, SG:419-427, 954-964).

    * every node gets a diagonal edge sim(i,i)=1
    * if (i,j) survived top-n pruning but (j,i) did not, restore it with the
      same similarity.
    ``node_ids`` is a 1-column DataFrame of doc ids (column name arbitrary).
    """
    idc = node_ids.columns[0]
    diag = node_ids.select(
        F.col(idc).alias(LEFT), F.col(idc).alias(RIGHT), F.lit(1.0).alias(SIM)
    )
    return (
        _mirrored(edges)
        .unionAll(diag)
        .groupBy(LEFT, RIGHT)
        .agg(F.max(SIM).alias(SIM))
    )


def pack_postings(postings: DataFrame) -> DataFrame:
    """(doc_id, gram, w) -> (doc_id, ghs: sorted array<long>, ws: array<double>).

    Grams are xxhash64-hashed (collision odds ~|vocab|^2 / 2^64 — negligible)
    so the packed representation is fixed-width and sortable; the sparse-dot
    kernel then merge-joins two sorted arrays per pair.
    """
    from ..functions.tfidf import GRAM

    hashed = postings.select(DOC, F.xxhash64(GRAM).alias("gh"), W)
    packed = hashed.groupBy(DOC).agg(
        F.sort_array(F.collect_list(F.struct("gh", F.col(W).alias("w")))).alias("ps")
    )
    return packed.select(
        DOC,
        F.transform("ps", lambda s: s["gh"]).alias("ghs"),
        F.transform("ps", lambda s: s["w"]).alias("ws"),
    )


def _sparse_dot(g1: pd.Series, w1: pd.Series, g2: pd.Series, w2: pd.Series) -> pd.Series:
    """Arrow-vectorized sparse dot of sorted (hash, weight) arrays.

    Kernel choice is MEASURED, not guessed (flagship re-score inner loop):
    at the production shape (~300 grams/doc, 5k pairs/batch) a fully-batched
    lexsort-over-flattened-triples variant ran 3x SLOWER than per-row numpy
    (one giant cache-hostile sort vs many in-cache ones), and
    ``np.intersect1d`` re-sorts the pre-sorted inputs.  The winner is a
    per-row binary-search merge: one ``searchsorted`` of the shorter side
    into the longer (inputs are already sorted by construction in
    ``pack_postings`` / fast-plan ``_encode_doc``), then a masked dot —
    ~15% faster than intersect1d and O(min * log max) per pair.
    """
    n = len(g1)
    out = np.zeros(n)
    for i in range(n):
        a, b = g1[i], g2[i]
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            continue
        a = np.asarray(a, dtype=np.int64)
        b = np.asarray(b, dtype=np.int64)
        if len(a) > len(b):
            a, b = b, a
            wa = np.asarray(w2[i], dtype=np.float64)
            wb = np.asarray(w1[i], dtype=np.float64)
        else:
            wa = np.asarray(w1[i], dtype=np.float64)
            wb = np.asarray(w2[i], dtype=np.float64)
        ib = np.searchsorted(b, a)
        ib[ib == len(b)] = len(b) - 1
        m = b[ib] == a
        if m.any():
            out[i] = np.dot(wa[m], wb[ib[m]])
    return pd.Series(out)


# the one UDF object over _sparse_dot, flagged nondeterministic: Spark pushes
# a filter through a projection of deterministic expressions by inlining the
# aliased expression, so every ``where(similarity >= t)`` over a kept
# similarity column would run the Arrow kernel a second time in the filter
# (2 ArrowEvalPython nodes instead of 1).
_rescore_dot = pandas_udf(_sparse_dot, DoubleType()).asNondeterministic()


def score_pairs_packed(candidates: DataFrame, postings: DataFrame) -> DataFrame:
    """Exact cosine re-scoring of candidate pairs within ONE corpus's
    posting table, via packed arrays.

    A gram-equi-join re-score would multiply candidate rows by gram count;
    here two doc_id joins attach each side's packed vector, then an Arrow
    kernel computes the dot map-side.  Cost is O(|candidates| *
    avg_doc_len), independent of gram document frequency — at web scale
    this is the difference between a bounded job and a stop-gram blowup.
    """
    cand = candidates.select(LEFT, RIGHT).dropDuplicates([LEFT, RIGHT])
    # pack ONCE: both join sides reference the same plan (and the same
    # cache if the caller persisted it)
    packed = pack_postings(postings)
    pl = packed.select(
        F.col(DOC).alias(LEFT), F.col("ghs").alias("_g1"), F.col("ws").alias("_w1")
    )
    pr = packed.select(
        F.col(DOC).alias(RIGHT), F.col("ghs").alias("_g2"), F.col("ws").alias("_w2")
    )
    joined = cand.join(pl, LEFT, "left").join(pr, RIGHT, "left")
    return joined.select(
        LEFT, RIGHT, _rescore_dot("_g1", "_w1", "_g2", "_w2").alias(SIM)
    )
