"""End-to-end webtext curation: the composition every training-data run
executes, as ONE function over the input_hint pages shape.

    pages(url, warc_ts, html, text, lang)
      -> URL-level dedup            (canonical_url, earliest crawl wins)
      -> quality gate               (the 19-threshold Gopher filter;
                                     dropped rows keep their WHY)
      -> near-dup clustering        (any subset of the three generators,
                                     keyed by the STRING url — the id
                                     mapping is run_with_long_ids)
      -> canonical page election    (earliest warc_ts per cluster, the
                                     reference's group_rep='earliest
                                     timestamp' semantics)
      -> host duplication report    (crawl-curation feedback)

Each stage is the already-tested operator; this module only wires them and
accounts for every dropped row (the at-scale invariant: rows leave the
corpus with a reason, never silently).  ``checkpoint_root`` threads into
the clustering step, making the expensive stage resumable.

Reference analogue: group_similar_strings + new_group_rep_by_earliest_
timestamp composed (string_grouper_utils); the quality/URL/host stages are
the LLM-pipeline extensions the task brief asks for.
"""

from __future__ import annotations

from functools import partial
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import checkpointed_union_dedup_pipeline, in_memory_stages
from ..config import MatchConfig
from ..operators.dedup import near_duplicate_clusters_scale


def curate_pages(
    spark: SparkSession,
    pages: DataFrame,
    cfg: Optional[MatchConfig] = None,
    generators=("minhash",),
    quality_filter: bool = True,
    gopher_thresholds: Optional[dict] = None,
    checkpoint_root: Optional[str] = None,
    num_perm: int = 128,
    num_bands: int = 16,
    max_bucket_size: Optional[int] = 1000,
    salt_above="auto",
    anchor_len: int = 16,
    shingle: str = "char",
) -> dict:
    """Run the full curation flow; returns a dict of DataFrames plus
    counters (nothing collected except the counters):

      curated     (url, warc_ts, text, lang, component) — one canonical
                  page per near-dup cluster
      clusters    (url, component) — full labeling of quality-surviving
                  pages
      dropped     (url, stage, reasons) — every removed row with its why
                  (stage ∈ {url_dedup, quality}; near-dup losers are in
                  `clusters` minus `curated`, reason = their canonical)
      host_stats  per-host duplication/syndication report
      counters    {n_input, n_after_url_dedup, n_after_quality,
                   n_clusters, n_curated}
    """
    from ..functions.gopher import gopher_filter
    from ..functions.urls import host_dup_stats, url_dedup

    cfg = cfg or MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    counters: dict = {"n_input": pages.count()}
    with in_memory_stages() as stage:
        # -- 1. URL-level dedup: one FULL row per canonical url, earliest
        # crawl wins (null-ts sentinel + min_by hardening: url_dedup)
        uniq = stage(
            "uniq", lambda: url_dedup(pages).drop("canonical_url"), reused=True
        )
        counters["n_after_url_dedup"] = uniq.count()
        # row-level accounting keys on (url, warc_ts), not url alone: the
        # same URL crawled twice (identical url, different warc_ts) is the
        # ROUTINE re-crawl case, and a url-only anti-join would hide the
        # losing row.  Rows byte-identical to the winner in BOTH keys are
        # indistinguishable; they are covered by the arithmetic counter
        # below, never silently.  eqNullSafe on warc_ts: url_dedup
        # deliberately KEEPS a null-ts row (sentinel ordering, original
        # value preserved), and a plain `=` join would fail to match that
        # kept row against itself and falsely report it dropped
        kept_keys = uniq.select(
            F.col("url").alias("_k_url"), F.col("warc_ts").alias("_k_ts")
        )
        url_dropped = (
            pages.join(
                kept_keys,
                (pages["url"] == kept_keys["_k_url"])
                & pages["warc_ts"].eqNullSafe(kept_keys["_k_ts"]),
                "left_anti",
            )
            .select(
                "url",
                F.lit("url_dedup").alias("stage"),
                F.lit("non-earliest crawl of its canonical url").alias("reasons"),
            )
        )
        counters["n_dropped_url_dedup"] = (
            counters["n_input"] - counters["n_after_url_dedup"]
        )

        # -- 2. quality gate (auditable: reasons ride along)
        if quality_filter:
            gated = stage("gated", partial(
                gopher_filter, uniq, text_col="text", id_col="url",
                thresholds=gopher_thresholds,
            ), reused=True)
            kept = stage("kept", lambda: gated.where(F.col("kept")).select(
                "url", "warc_ts", "html", "text", "lang"
            ), reused=True)
            quality_dropped = gated.where(~F.col("kept")).select(
                "url",
                F.lit("quality").alias("stage"),
                F.array_join("drop_reasons", ",").alias("reasons"),
            )
        else:
            kept = uniq
            quality_dropped = spark.createDataFrame(
                [], "url string, stage string, reasons string"
            )
        counters["n_after_quality"] = kept.count()

        # -- 3. near-dup clustering on the string url key
        docs = kept.select("url", "text")
        cluster = partial(
            checkpointed_union_dedup_pipeline, spark, docs, cfg, checkpoint_root
        ) if checkpoint_root else partial(near_duplicate_clusters_scale, docs, cfg)
        labels = stage("labels", partial(
            cluster, generators=generators, num_perm=num_perm,
            num_bands=num_bands, max_bucket_size=max_bucket_size,
            salt_above=salt_above, anchor_len=anchor_len, shingle=shingle,
            text_col="text", id_col="url",
        ), reused=True)
        counters["n_clusters"] = labels.select("component").distinct().count()

        # -- 4. canonical page per cluster: earliest warc_ts (ties: min url).
        # Same null-ts hardening as url_dedup: struct comparison sorts NULL
        # first, so without the far-future sentinel a page whose WARC-Date
        # failed to parse would beat every real earliest crawl.
        # The election DECIDES on (url, warc_ts) alone, so it runs over a
        # slim projection.  Winners (one url per cluster) join back to the
        # cached kept table, so page payloads move once, for winners only.
        slim = labels.join(kept.select("url", "warc_ts"), "url")
        canon = slim.groupBy("component").agg(
            F.min(
                F.struct(
                    F.coalesce(
                        F.col("warc_ts"),
                        F.lit("9999-12-31 23:59:59").cast("timestamp"),
                    ).alias("warc_ts"),
                    F.col("url"),
                )
            ).alias("_c")
        )
        winners = canon.select(F.col("_c.url").alias("url"), "component")
        curated = winners.join(kept, "url").select(
            "url", "warc_ts", "text", "lang", "component"
        )
        counters["n_curated"] = counters["n_clusters"]  # one per cluster

        # -- 5. host report over the full labeling
        hosts = host_dup_stats(labels.select("url", "component"))

        out = {
            "curated": curated,
            "clusters": labels.select("url", "component"),
            "dropped": url_dropped.unionByName(quality_dropped),
            "host_stats": hosts,
        }
        # fence: computed while the stages are cached, each result owns its
        # checkpointed blocks, reclaimed with the frame
        return {
            **{k: df.localCheckpoint(eager=True) for k, df in out.items()},
            "counters": counters,
        }
