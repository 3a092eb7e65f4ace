"""Partition-count invariance — the Spark analogue of the reference's
blocking-equivalence tests (test_string_grouper.py:120-336): any partitioning
of the inputs must produce row-identical results, because top-n runs after
the global aggregation (the zip-merge invariant, SURVEY §2.2 C2)."""

import pandas as pd
import pandas.testing as pdt
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.operators.dedup import near_duplicate_pairs

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = list(pdf.columns)
    out = pdf.sort_values(cols).reset_index(drop=True)
    out["similarity"] = out["similarity"].round(9)
    return out


def test_exact_pairs_invariant_to_partitioning(spark, docs):
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    results = []
    for nparts in (1, 7, 64):
        d = docs.repartition(nparts)
        results.append(canon(near_duplicate_pairs(d, cfg, n_docs=500).toPandas()))
    pdt.assert_frame_equal(results[0], results[1])
    pdt.assert_frame_equal(results[0], results[2])


def test_exact_pairs_invariant_to_shuffle_partitions(spark, docs):
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = canon(near_duplicate_pairs(docs, cfg, n_docs=500).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "57")
        b = canon(near_duplicate_pairs(docs, cfg, n_docs=500).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    pdt.assert_frame_equal(a, b)


def test_topn_invariant_to_partitioning(spark, docs):
    # the sharp case: max_n_matches small enough to actually truncate
    cfg = MatchConfig(min_similarity=0.3, max_n_matches=3)
    outs = []
    for nparts in (2, 31):
        d = docs.limit(200).repartition(nparts)
        outs.append(canon(near_duplicate_pairs(d, cfg, n_docs=200).toPandas()))
    pdt.assert_frame_equal(outs[0], outs[1])


def test_lsh_clusters_invariant_to_partitioning(spark, docs):
    # the salted bucket join (every bucket above 2 members salted); the
    # unsalted flagship is test_fast_plan_invariant_to_partitioning
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    outs = []
    for nparts in (1, 16):
        d = docs.repartition(nparts)
        labels = fast_lsh_dedup(
            d, cfg, num_bands=16, n_docs=500, salt_above=2
        ).toPandas()
        outs.append(labels.sort_values("doc_id").reset_index(drop=True))
    pdt.assert_frame_equal(outs[0], outs[1])


def test_fast_plan_invariant_to_partitioning(spark, docs):
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    outs = []
    for nparts in (1, 16):
        d = docs.repartition(nparts)
        labels = fast_lsh_dedup(d, cfg, num_bands=16, n_docs=500).toPandas()
        outs.append(labels.sort_values("doc_id").reset_index(drop=True))
    pdt.assert_frame_equal(outs[0], outs[1])


def test_bipartite_fast_plan_invariant_to_partitioning(spark, docs):
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup_bipartite

    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    outs = []
    for m_parts, d_parts in ((1, 1), (16, 3)):
        m = docs.where(F.col("doc_id") < 250).repartition(m_parts)
        d = docs.where(F.col("doc_id") >= 250).repartition(d_parts)
        pairs = fast_lsh_dedup_bipartite(
            m, d, cfg, num_perm=128, num_bands=64, max_bucket_size=None
        ).toPandas()
        outs.append(canon(pairs))
    pdt.assert_frame_equal(outs[0], outs[1])


def test_prefit_ann_topk_invariant_to_partitioning(spark):
    # the retrieval kernel's (query, item) pair set must not depend on how
    # items or queries are partitioned: scores are max-aggregated per pair
    # (deterministic kept score) and the final top-k orders by
    # (cos desc, item_id), so k-th ties resolve identically
    from string_grouper_spark.operators.ann import PrefitAnnIndex

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 25)
    outs = []
    for it_parts, q_parts in ((1, 1), (16, 3)):
        idx = PrefitAnnIndex(
            emb.repartition(it_parts), method="ivf", n_centroids=8, nprobe=8
        )
        got = idx.topk(qs.repartition(q_parts), k=4).toPandas()
        idx.unpersist()
        outs.append(
            got.sort_values(["query_id", "item_id"]).reset_index(drop=True)
        )
    pdt.assert_frame_equal(outs[0][["query_id", "item_id"]], outs[1][["query_id", "item_id"]])
    import numpy as np

    assert np.allclose(outs[0].cos.to_numpy(), outs[1].cos.to_numpy(), atol=1e-12)


def test_image_clusters_invariant_to_partitioning(spark):
    import numpy as np
    import pandas as pd

    from string_grouper_spark.functions.codecs import encode_png
    from string_grouper_spark.functions.jpeg import encode_jpeg
    from string_grouper_spark.operators.multimodal import image_near_dup_clusters

    rng = np.random.RandomState(2)
    rows = []
    for src in range(3):
        yy, xx = np.mgrid[0:32, 0:32].astype(float)
        img = np.clip(
            128 + 90 * np.sin(0.05 * (src + 1) * xx) * np.cos(0.07 * yy), 0, 255
        ).astype(np.uint8)
        img = np.stack([img] * 3, axis=2)
        for payload in (encode_png(img), encode_jpeg(img, quality=85)):
            rows.append((len(rows), bytearray(payload)))
    pdf = pd.DataFrame(rows, columns=["media_id", "payload"])
    outs = []
    for nparts in (1, 8):
        media = spark.createDataFrame(pdf).repartition(nparts)
        out = image_near_dup_clusters(media, max_hamming=6).toPandas()
        outs.append(out.sort_values("media_id").reset_index(drop=True))
    pdt.assert_frame_equal(outs[0], outs[1])
