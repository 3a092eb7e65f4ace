"""Cache lifetime: every public multi-stage operator leaves the session's
settled persistent-RDD count where it found it once its result is dropped
(stage caches are released by the stage runner; eager result fences are
reclaimed with their frames)."""

import datetime as dt

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig

SF_DIR = "/root/testdata/sf0.001"
CFG = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 120
    ).select("doc_id", "text")


@pytest.fixture(scope="module")
def pages(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 120
    )
    return base.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.lit(dt.datetime(2024, 1, 1)) + F.make_interval(secs=F.col("doc_id"))
        ).alias("warc_ts"),
        F.col("text").alias("html"),
        "text",
        "lang",
    )


def _assert_no_leak(settled_persisted, run):
    before = settled_persisted()
    out = run()
    frames = list(out.values()) if isinstance(out, dict) else [out]
    assert [df.count() for df in frames if isinstance(df, DataFrame)]
    del out, frames
    assert settled_persisted() == before


def test_union_scale_leaves_no_cache_entry(docs, settled_persisted):
    from string_grouper_spark.operators.dedup import near_duplicate_clusters_scale

    _assert_no_leak(
        settled_persisted,
        lambda: near_duplicate_clusters_scale(
            docs, CFG, generators=("minhash", "simhash", "suffix"),
            num_bands=32, max_bucket_size=None,
        ),
    )


def test_fast_lsh_dedup_leaves_no_cache_entry(docs, settled_persisted):
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    _assert_no_leak(settled_persisted, lambda: fast_lsh_dedup(docs, CFG))


def test_fast_bipartite_leaves_no_cache_entry(docs, settled_persisted):
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup_bipartite

    master = docs.where(F.col("doc_id") < 60)
    new = docs.where(F.col("doc_id") >= 60)
    _assert_no_leak(
        settled_persisted,
        lambda: fast_lsh_dedup_bipartite(
            master, new, CFG, max_bucket_size=2, drop_stats={}
        ),
    )


def test_checkpointed_union_leaves_no_cache_entry(
    spark, docs, tmp_path, settled_persisted
):
    from string_grouper_spark.checkpoint import checkpointed_union_dedup_pipeline

    _assert_no_leak(
        settled_persisted,
        lambda: checkpointed_union_dedup_pipeline(
            spark, docs, CFG, str(tmp_path), generators=("minhash", "suffix"),
            num_bands=32, max_bucket_size=None,
        ),
    )


@pytest.mark.parametrize("checkpointed", [False, True], ids=["plain", "checkpoint_root"])
def test_curate_pages_leaves_no_cache_entry(
    spark, pages, tmp_path, settled_persisted, checkpointed
):
    from string_grouper_spark.plans.curate import curate_pages

    _assert_no_leak(
        settled_persisted,
        lambda: curate_pages(
            spark, pages, num_bands=32, max_bucket_size=None,
            checkpoint_root=str(tmp_path) if checkpointed else None,
        ),
    )


def test_cosine_topk_blocked_leaves_no_cache_entry(spark, settled_persisted):
    from string_grouper_spark.operators.ann import cosine_topk_blocked

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 120
    )
    _assert_no_leak(
        settled_persisted,
        # 40 queries over 30-row chunks: the chunked path
        lambda: cosine_topk_blocked(
            emb, emb.where(F.col("vec_id") < 40), k=3, max_query_rows=30
        ),
    )
