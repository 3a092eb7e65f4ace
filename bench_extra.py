#!/usr/bin/env python
"""Phase-level profiling harness for the optimization round (guide §1).

NOT the driver's bench: this file exists so bench.py stays frozen while we
isolate each query's phases with the noop sink and job labels.  Usage:

  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [phase ...]

Phases: flagship, exact1k, suffix, union, substring, simhash
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from string_grouper_spark.config import MatchConfig  # noqa: E402
from string_grouper_spark.session import get_spark  # noqa: E402

T: dict[str, float] = {}


def timed(name, fn):
    sc._jsc.sc().setJobDescription(name)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    T[name] = round(dt, 3)
    print(f"  {name}: {dt:.3f}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def prof_flagship(docs, n_docs, reps=2):
    from string_grouper_spark.plans.fast_dedup import (
        _collect_idf,
        doc_term_arrays,
        doc_vectors,
        lsh_band_candidates,
        rescore_candidates_with_vecs,
    )
    from string_grouper_spark.operators.grouping import connected_components

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000,
                      tfidf_matrix_dtype="float32")
    for rep in range(reps):
        print(f"flagship rep {rep}", flush=True)
        terms = doc_term_arrays(docs, cfg).persist()
        timed(f"fl{rep}_terms_materialize", lambda: noop(terms))
        idf_bc = timed(f"fl{rep}_idf_collect",
                       lambda: _collect_idf(docs.sparkSession, terms, n_docs))
        vecs = doc_vectors(docs, cfg, 128, 16, n_docs=n_docs, terms=terms,
                           idf_bc=idf_bc).persist()
        timed(f"fl{rep}_vecs_materialize", lambda: noop(vecs))
        stats: dict = {}
        cand = timed(f"fl{rep}_skew_policy+cand_plan",
                     lambda: lsh_band_candidates(vecs, 1000, drop_stats=stats))
        cand = cand.persist()
        timed(f"fl{rep}_cand_materialize", lambda: noop(cand))
        pairs = rescore_candidates_with_vecs(cand, vecs, cfg).persist()
        timed(f"fl{rep}_rescore", lambda: noop(pairs))
        nodes = docs.select("doc_id")
        # fl_cc times the whole labelling: at or under grouping's driver
        # bound the call fetches and labels the edges itself, so
        # fl_labels_materialize is left with the singletons join
        labels = timed(
            f"fl{rep}_cc",
            lambda: connected_components(
                pairs.select(F.col("master_side").alias("u"),
                             F.col("dupe_side").alias("v")), nodes),
        )
        timed(f"fl{rep}_labels_materialize", lambda: noop(labels))
        for c in (terms, vecs, cand, pairs):
            c.unpersist()


def prof_exact1k(docs, reps=3):
    from string_grouper_spark.operators import dedup

    cfg_pairs = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    docs1k = docs.where(F.col("doc_id") < 1000).persist()
    n1k = docs1k.count()
    for rep in range(reps):
        timed(f"e1k{rep}_full", lambda: dedup.near_duplicate_pairs(
            docs1k, cfg_pairs, n_docs=n1k).count())
    # phase split
    from string_grouper_spark.functions.tfidf import tfidf_postings
    from string_grouper_spark.operators.similarity import cosine_join

    m = docs1k.select(F.col("doc_id").alias("row_id"), "text")
    m_post, _, _ = tfidf_postings(m, None, cfg_pairs, id_col="row_id", n_master=n1k)
    m_post = m_post.persist()
    timed("e1k_postings_materialize", lambda: noop(m_post))
    half = cosine_join(m_post, m_post, 0.5, self_join=True)
    timed("e1k_cosine_join", lambda: noop(half))
    m_post.unpersist()
    docs1k.unpersist()


def prof_suffix(docs, reps=2):
    from string_grouper_spark.operators.suffix_array import (
        _emit_suffixes,
        _partition_sorted,
        suffix_array_spans,
    )

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    for rep in range(reps):
        timed(f"sa{rep}_full", lambda: suffix_array_spans(
            docs, cfg, min_len=24).count())
    suff = _emit_suffixes(docs, cfg, 24, 56, "text", "doc_id")
    timed("sa_emit_only", lambda: noop(suff))
    timed("sa_emit+hash+sort", lambda: noop(_partition_sorted(suff, 24, 32)))


def prof_union(spark, n_docs, reps=2):
    from string_grouper_spark.sources.pages import (
        extract_text_expr,
        generate_pages_distributed,
    )
    from string_grouper_spark.operators import dedup
    from string_grouper_spark.operators.candidates import substring_containment

    cfg_flag = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000,
                           tfidf_matrix_dtype="float32")
    pages = generate_pages_distributed(spark, n_docs, seed=11).persist()
    pages.count()
    pdocs = pages.select(
        F.col("page_id").alias("doc_id"),
        extract_text_expr(F.col("html")).alias("text"),
    ).persist()
    pdocs.count()
    for rep in range(reps):
        timed(f"un{rep}_full", lambda: dedup.near_duplicate_clusters_scale(
            pdocs, cfg_flag, generators=("minhash", "substring"),
            num_perm=128, num_bands=16, n_docs=n_docs, anchor_len=48,
        ).toPandas())
    timed("un_substring_only_48", lambda: substring_containment(
        pdocs, cfg_flag, anchor_len=48).count())
    pages.unpersist()
    pdocs.unpersist()


def prof_substring(docs, reps=2):
    from string_grouper_spark.operators.candidates import (
        _substring_params,
        _winnow_fingerprints,
        substring_containment,
    )

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    for rep in range(reps):
        timed(f"ss{rep}_full", lambda: substring_containment(
            docs, cfg, anchor_len=24).count())
    k, w = _substring_params(24, None, None)
    print(f"  params k={k} w={w}")
    fps = _winnow_fingerprints(docs, cfg, k, w, 24)
    timed("ss_winnow_pass", lambda: noop(fps))


def prof_simhash(docs, reps=2):
    from string_grouper_spark.operators import candidates

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    for rep in range(reps):
        timed(f"sh{rep}_full", lambda: candidates.simhash_candidates(
            docs, cfg, max_hamming=3).count())
    sigs = candidates.simhash_signatures(docs, cfg)
    timed("sh_signatures_only", lambda: noop(sigs))


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sgspark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    n_docs = docs.count()
    which = sys.argv[1:] or ["flagship", "exact1k", "suffix", "union",
                             "substring", "simhash"]
    t0 = time.time()
    if "flagship" in which:
        prof_flagship(docs, n_docs)
    if "exact1k" in which:
        prof_exact1k(docs)
    if "suffix" in which:
        prof_suffix(docs)
    if "union" in which:
        prof_union(spark, n_docs)
    if "substring" in which:
        prof_substring(docs)
    if "simhash" in which:
        prof_simhash(docs)
    print(json.dumps(T))
    print(f"total {time.time()-t0:.1f}s", flush=True)
    spark.stop()
