"""Document-level dedup pipelines over a (doc_id, text) DataFrame.

These are the engine's "training-data pipeline" entry points: exact dedup,
exact-TFIDF near-dup pairs, and clustering — each a thin composition of the
core operators, returning DataFrames (nothing collected).
"""

from __future__ import annotations

import re
from functools import partial, reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import in_memory_stages
from ..config import MatchConfig
from .grouping import NODE, group_labels
from .matching import match_edges
from .similarity import LEFT, RIGHT


_INTEGRAL_DTYPES = ("tinyint", "smallint", "int", "bigint")


def run_with_long_ids(docs: DataFrame, id_col: str, run):
    """Make any id dtype work on the int64-keyed scale plans.

    The fast plans' Arrow kernels key their packed vectors on int64 ids
    (the right shuffle key at 10^12 rows), but webtext ids are naturally
    STRINGS (the input_hint's ``url``).  When ``id_col`` is not integral,
    map it through ``xxhash64`` — deterministic, so checkpoint resume and
    repeated runs agree — run the pipeline on the hashed id, then translate
    each component label back to ``min(original id)`` so the public
    contract (component = min id, in the CALLER's id space) holds.

    Collisions are CHECKED (one count-distinct pass) and raise instead of
    silently merging two documents: at 10^12 ids the expected number of
    xxhash64 collisions is ~0.03, so the check is a guard rail, not a
    likely exit.  NULL ids also raise: ``xxhash64(NULL)`` returns the seed
    for EVERY null row (they would all silently merge into one document),
    and ``countDistinct`` skips nulls, so the collision guard alone cannot
    see them.  ``run(docs2, id_col2) -> (<id_col2>, component)`` is the
    wrapped pipeline.
    """
    dtype = dict(docs.dtypes)[id_col]
    if dtype in _INTEGRAL_DTYPES:
        return run(docs, id_col)
    LID = "_sg_lid"
    mapped = docs.withColumn(LID, F.xxhash64(F.col(id_col)))
    stats = mapped.agg(
        F.countDistinct(id_col).alias("n_ids"),
        F.countDistinct(LID).alias("n_lids"),
        F.count(F.when(F.col(id_col).isNull(), F.lit(1))).alias("n_null"),
    ).first()
    if stats["n_null"] > 0:
        raise ValueError(
            f"id column {id_col!r} has {stats['n_null']} NULL value(s); "
            "xxhash64 maps every NULL to the same hash so null-id documents "
            "would silently merge — drop or fill null ids first"
        )
    if stats["n_lids"] < stats["n_ids"]:
        raise ValueError(
            f"xxhash64 collision while mapping non-integral id column "
            f"{id_col!r} ({stats['n_ids']} ids -> {stats['n_lids']} hashes); "
            "pre-assign unique int64 ids to disambiguate"
        )
    labels = run(mapped, LID)
    id_map = mapped.select(id_col, LID)
    joined = labels.join(id_map, LID)
    rep = joined.groupBy("component").agg(F.min(id_col).alias("_sg_comp"))
    return joined.join(rep, "component").select(
        F.col(id_col), F.col("_sg_comp").alias("component")
    )


def _union_generators(generators) -> tuple:
    """The candidate generators a union run executes for ``generators``
    (one name or a non-empty collection of ``'minhash'``, ``'simhash'``,
    ``'substring'``, ``'suffix'``): all of them, except that
    ``'substring'`` is dropped when ``'suffix'`` is also requested.

    That drop is lossless.  A verified containment needs an inner text of
    >= ``anchor_len`` normalized characters, hence >= ``anchor_len`` bytes;
    both passes normalize with ``py_normalize``; so the inner text's first
    ``anchor_len`` bytes are a window the outer text also holds, and the
    suffix pass already joins the two docs."""
    if isinstance(generators, str):
        generators = (generators,)
    generators = tuple(generators)
    unknown = set(generators) - {"minhash", "simhash", "substring", "suffix"}
    if unknown:
        raise ValueError(f"unknown candidate generators: {sorted(unknown)}")
    if not generators:
        raise ValueError("at least one candidate generator is required")
    if "suffix" in generators:
        generators = tuple(g for g in generators if g != "substring")
    return generators


def exact_duplicate_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content hash; one row per duplicated content.

    Returns (content_hash, n_docs, keep_id) where keep_id is the smallest
    doc id (the canonical survivor).  Pure groupBy — one shuffle, map-side
    partial aggregation, no joins.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def near_duplicate_pairs(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Exact TF-IDF cosine self-join; unordered pairs (left < right).

    Returns (master_side, dupe_side, similarity) with master_side < dupe_side.
    """
    cfg = cfg or MatchConfig()
    edges = match_edges(
        docs.select(F.col(id_col).alias("row_id"), F.col(text_col).alias("text")),
        None,
        cfg.evolve(force_symmetries=False),
        n_master=n_docs,
    )
    return edges.where(F.col(LEFT) < F.col(RIGHT))


def near_duplicate_clusters(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Full dedup pipeline: match -> symmetrize -> CC -> representative.

    Returns (<id_col>, group_rep): every doc labeled with its cluster's
    representative doc id (reference group_similar_strings semantics).
    All dedup pipelines in this module name their id output column after
    ``id_col`` so downstream code never has to know about internal labels.
    """
    cfg = cfg or MatchConfig()
    ids = docs.select(F.col(id_col).alias("row_id"))
    edges = match_edges(
        docs.select(F.col(id_col).alias("row_id"), F.col(text_col).alias("text")),
        None,
        cfg,  # force_symmetries per config: diagonal + mirror repair
        n_master=n_docs,
    )
    return group_labels(edges, ids, cfg).withColumnRenamed(NODE, id_col)


def near_duplicate_clusters_scale(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    generators=("minhash",),
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
    num_perm: int = 128,
    num_bands: int = 64,
    max_bucket_size: Optional[int] = 1000,
    salt_above=None,  # int threshold, 'auto' (histogram-picked) or None
    max_hamming: int = 3,
    num_blocks: int = 4,
    anchor_len: int = 16,
    shingle: str = "char",
    shingle_words: int = 5,
    drop_stats: Optional[dict] = None,
) -> DataFrame:
    """The north rule's THREE INTERCHANGEABLE candidate generators behind one
    clustering contract: ``'minhash'`` (LSH banding over shingles),
    ``'simhash'`` (64-bit signatures + Hamming-ball block join) and
    ``'substring'`` (the winnowed suffix-window containment pass).  A
    fourth spelling, ``'suffix'``, is the EXACT distributed sorted-window
    pass (``suffix_array.substring_edges``): every two docs sharing >=
    ``anchor_len`` normalized bytes end up in one component, with no
    fingerprint sampling; exact copies are collapsed before the window
    sort, so the pass yields connectivity edges, not every sharing pair.
    It implies every containment edge, so ``'substring'`` is not run when
    ``'suffix'`` is also requested (``_union_generators``).

    ``generators`` takes any non-empty subset; cosine generators (minhash /
    simhash) only PROPOSE pairs — the union of their candidates goes through
    ONE exact TF-IDF re-score at ``cfg.min_similarity`` (LSH narrows, exact
    math decides), so at recall-1 configs each is interchangeable with the
    exact all-pairs path and with each other.  ``'substring'`` contributes
    verified exact containments as edges directly (a containment IS a
    duplicate relation regardless of cosine — the prefix/boilerplate webtext
    case that similarity thresholds structurally miss).  All edges feed one
    connected-components pass.

    Returns (<id_col>, component), component = min id — the same contract as
    ``near_duplicate_clusters``'s components and the LSH flagship.

    Plan notes: the cosine leg runs on the FLAGSHIP fast-plan kernels, and
    candidate tables are slim id-pair frames, so unioning generators adds
    narrow passes but no new wide shuffle.  The stages are ``_scale_plan``'s,
    run by ``checkpoint.in_memory_stages``: the terms and vectors (each read
    twice) are persisted and released once the labels exist.
    """
    with in_memory_stages() as stage:
        return _scale_plan(
            docs, cfg, generators, stage, text_col, id_col, n_docs, num_perm,
            num_bands, max_bucket_size, salt_above, max_hamming, num_blocks,
            anchor_len, shingle, shingle_words, drop_stats,
        )


def _scale_plan(
    docs, cfg, generators, stage, text_col, id_col, n_docs, num_perm,
    num_bands, max_bucket_size, salt_above, max_hamming, num_blocks,
    anchor_len, shingle, shingle_words, drop_stats,
) -> DataFrame:
    """The stage graph of ``near_duplicate_clusters_scale`` (arguments as
    there), run through a stage runner
    ``stage(name, build, after=<upstream stage names>, reused=False)`` that
    returns the stage's DataFrame:

        terms            per-doc gram counts (cosine generators; read by
                         the idf collect and the vector pass: reused)
        vectors          packed TF-IDF vectors and band keys (reused)
        cand_minhash     LSH band bucket join -> candidate id-pairs
        cand_simhash     Hamming-ball block join -> candidate id-pairs
        edges_cosine     union of cosine candidates -> ONE exact re-score
        edges_substring  verified winnowed containments (direct edges)
        edges_suffix     exact shared-window connectivity edges
        labels           connected components over the edge union

    The plain surface runs each ``build`` in memory, the checkpointed one
    (``checkpoint.checkpointed_union_dedup_pipeline``) writes each stage to
    a resumable table keyed by the fingerprints of its ``after`` stages.
    Non-integral ids go through ``run_with_long_ids`` first."""
    from ..plans.fast_dedup import (
        doc_term_arrays,
        doc_vectors,
        lsh_band_candidates,
        rescore_candidates_with_vecs,
    )
    from .candidates import simhash_candidates, substring_containment
    from .grouping import connected_components
    from .suffix_array import substring_edges

    cfg = cfg or MatchConfig()
    generators = _union_generators(generators)
    cos_gens = [g for g in generators if g in ("minhash", "simhash")]

    def plan(docs: DataFrame, id_col: str) -> DataFrame:
        edges = {}
        if cos_gens:
            terms = stage("terms", partial(
                doc_term_arrays, docs, cfg, text_col, id_col, shingle,
                shingle_words,
            ), reused=True)
            vecs = stage("vectors", partial(
                doc_vectors, docs, cfg, num_perm, num_bands, text_col, id_col,
                n_docs, terms=terms, shingle=shingle,
                shingle_words=shingle_words,
            ), after=("terms",), reused=True)
            cands = {}
            if "minhash" in cos_gens:
                cands["cand_minhash"] = stage(
                    "cand_minhash",
                    lambda: lsh_band_candidates(
                        vecs, max_bucket_size, salt_above=salt_above,
                        drop_stats=drop_stats,
                    ),
                    after=("vectors",),
                )
            if "simhash" in cos_gens:
                # from docs, not the vectors; shingle threads through so
                # proposal happens in the SAME feature space the exact
                # re-score decides in
                cands["cand_simhash"] = stage(
                    "cand_simhash",
                    lambda: simhash_candidates(
                        docs, cfg, max_hamming=max_hamming,
                        num_blocks=num_blocks,
                        max_bucket_size=max_bucket_size, text_col=text_col,
                        id_col=id_col, shingle=shingle,
                        shingle_words=shingle_words,
                    ).select(LEFT, RIGHT),
                )

            def build_cosine():
                cand = reduce(DataFrame.unionByName, cands.values())
                if len(cands) > 1:
                    cand = cand.dropDuplicates([LEFT, RIGHT])
                scored = rescore_candidates_with_vecs(cand, vecs, cfg)
                return scored.select(
                    F.col(LEFT).alias("u"), F.col(RIGHT).alias("v")
                )

            edges["edges_cosine"] = stage(
                "edges_cosine", build_cosine, after=("vectors", *cands)
            )
        if "substring" in generators:
            edges["edges_substring"] = stage(
                "edges_substring",
                lambda: substring_containment(
                    docs, cfg, anchor_len=anchor_len, text_col=text_col,
                    id_col=id_col,
                ).select(
                    F.col("inner_id").alias("u"), F.col("outer_id").alias("v")
                ),
            )
        if "suffix" in generators:
            edges["edges_suffix"] = stage(
                "edges_suffix",
                # connectivity only: copies collapsed, anchor_len-byte
                # windows
                lambda: substring_edges(
                    docs, cfg, min_len=anchor_len, text_col=text_col,
                    id_col=id_col,
                ).select(F.col("left").alias("u"), F.col("right").alias("v")),
            )
        return stage(
            "labels",
            lambda: connected_components(
                reduce(DataFrame.unionByName, edges.values()),
                docs.select(F.col(id_col)),
            ).withColumnRenamed(NODE, id_col),
            after=tuple(edges),
        )

    return run_with_long_ids(docs, id_col, plan)


def components_only(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
) -> DataFrame:
    """(<id_col>, component) labels where component = min doc id in cluster —
    the deterministic integer labeling (no float-weighted rep selection)."""
    from .grouping import connected_components

    cfg = cfg or MatchConfig()
    pairs = near_duplicate_pairs(docs, cfg, text_col, id_col, n_docs)
    nodes = docs.select(F.col(id_col))
    return connected_components(
        pairs.select(F.col(LEFT).alias("u"), F.col(RIGHT).alias("v")), nodes
    ).withColumnRenamed(NODE, id_col)


def corpus_line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """CORPUS-level line dedup (the C4/CCNet paragraph-granularity pass):
    every line that occurs more than once ACROSS the whole corpus is kept
    only at its first occurrence — smallest (doc id, position) — and
    removed everywhere else; blank (post-trim) lines are dropped outright.

    Returns ``(<id_col>, <text_col>, n_lines_kept, n_lines_dropped)`` with
    the text rebuilt from the surviving lines in original order.  Docs
    whose every line was dropped keep a row with empty text, so the output
    is a full projection of the input corpus.

    Scale shape: posexplode (narrow) -> ONE min-of-struct aggregation per
    distinct line (map-side partial agg; the winner is just (id, pos), no
    window over a hot line's occurrence list) -> join back on the line
    value -> one groupBy(id) rebuild with an array_sort on (pos, line)
    structs.  A boilerplate line repeated on 10^9 pages is ONE aggregation
    key whose partial states are a single (id, pos) pair each — skew-safe
    by construction.
    """
    # F.split takes a REGEX but the rebuild joins with the literal string:
    # escape so separators with regex metacharacters ('.', '|') split the
    # same bytes they re-join.
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(line_sep))).alias(
            "_pos", "_line"
        ),
    ).where(F.trim("_line") != "")
    winners = lines.groupBy("_line").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_w")
    )
    tagged = lines.join(winners, "_line").withColumn(
        "_keep", (F.col("_w._id") == F.col("_id")) & (F.col("_w._pos") == F.col("_pos"))
    )
    rebuilt = tagged.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct(F.col("_pos"), F.col("_line")))
                    )
                ),
                lambda s: s["_line"],
            ),
            line_sep,
        ).alias(text_col),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_lines_dropped"),
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).alias("n_lines_dropped"),
        )
    )
