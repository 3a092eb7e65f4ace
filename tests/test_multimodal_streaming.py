"""Multimodal plumbing (Arrow mapInPandas over binary+metadata) and
Structured-Streaming dedup operators."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.operators import multimodal
from string_grouper_spark.sources.pages import generate_pages
from string_grouper_spark.streaming.dedup_stream import (
    streaming_duplicate_flags,
    streaming_exact_dedup,
    streaming_simhash_tag,
)


@pytest.fixture
def media(spark):
    rows = [
        (0, "image", "imgpayload0", 8, 8, None, None),
        (1, "image", "imgpayload1", 16, 8, None, None),
        (2, "audio", "audpayload2", None, None, 800, None),
        (3, "video", "vidpayload3", None, None, None, 12),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_feature_extraction_shape_and_determinism(spark, media):
    out = multimodal.extract_features(media, feat_dim=16).toPandas().sort_values("media_id")
    assert len(out) == 4
    assert all(len(f) == 16 for f in out["feature"])
    out2 = multimodal.extract_features(media, feat_dim=16).toPandas().sort_values("media_id")
    for a, b in zip(out["feature"], out2["feature"]):
        assert list(a) == list(b)
    # histogram features are probability masses
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in out["feature"])


def test_real_decode_dispatch_contract():
    # round 4: PNG/PPM/BMP decode for REAL (tests/test_codecs.py); only
    # formats genuinely needing external codecs stay stubbed
    import numpy as np

    from string_grouper_spark.functions.codecs import encode_ppm

    img = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    got = multimodal.decode_image(encode_ppm(img), 3, 3, fake=False)
    assert np.array_equal(got, img)
    with pytest.raises(ValueError):  # truncated JPEG is a loud error
        multimodal.decode_image(b"\xff\xd8\xff\xe0jpeg", 8, 8, fake=False)
    with pytest.raises(ValueError):  # garbage is a loud error, not a stub
        multimodal.decode_image(b"x", 8, 8, fake=False)


def test_media_stats_prunes_payload(spark, media, tmp_path):
    # column pruning is a file-scan property: verify via parquet ReadSchema
    path = f"{tmp_path}/media"
    media.write.parquet(path)
    out = multimodal.media_stats(spark.read.parquet(path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("payload" not in ln for ln in read_schema), plan
    pdf = out.toPandas().set_index("kind")
    assert pdf.loc["image", "n_items"] == 2


def test_streaming_exact_dedup(spark, tmp_path):
    # rate-free deterministic stream: file source over generated pages
    pages = generate_pages(spark, 120, seed=11)
    # force exact duplicates into the stream
    dup = pages.limit(20).withColumn("url", F.concat(F.lit("dup-"), F.col("url")))
    src = f"{tmp_path}/src2"
    pages.unionByName(dup).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    deduped = streaming_exact_dedup(stream, ts_col="warc_ts", text_col="text")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_out").toPandas()
    n_distinct_texts = pages.select("text").distinct().count()
    assert len(out) == n_distinct_texts
    assert out["content_hash"].is_unique


def test_streaming_duplicate_flags_stateful_across_batches(spark, tmp_path):
    # state must carry counts across micro-batches: a text first seen in
    # batch 1 and repeated in batch 2 is flagged with dup_rank >= 1
    pages = generate_pages(spark, 40, seed=17)
    src = f"{tmp_path}/src_flags"
    pages.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch=0")
    dups = pages.limit(10).withColumn("url", F.concat(F.lit("later-"), F.col("url")))
    dups.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch=1")

    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/batch=*")
    )
    flagged = streaming_duplicate_flags(stream, ts_col="warc_ts", text_col="text")
    q = (
        flagged.writeStream.format("memory")
        .queryName("flags_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("select * from flags_out").toPandas()
    total = pages.count() + dups.count()
    assert len(out) == total  # EVERY row emitted, originals included
    later = out[out["id"].str.startswith("later-")]
    assert len(later) == 10
    assert (later["dup_rank"] >= 1).all() and later["is_duplicate"].all()
    # per-hash ranks are 0..count-1 exactly once
    for _, grp in out.groupby("content_hash"):
        assert sorted(grp["dup_rank"]) == list(range(len(grp)))


def test_streaming_simhash_matches_batch(spark, tmp_path):
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.operators.candidates import simhash_signatures

    pages = generate_pages(spark, 60, seed=13)
    src = f"{tmp_path}/src2"
    pages.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    tagged = streaming_simhash_tag(stream, text_col="text")
    q = (
        tagged.select("page_id", "simhash")
        .writeStream.format("memory")
        .queryName("sim_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sim_out").toPandas().sort_values("page_id")

    cfg = MatchConfig()
    batch = (
        simhash_signatures(
            pages.select(F.col("page_id").alias("doc_id"), "text"), cfg
        )
        .toPandas()
        .sort_values("doc_id")
    )
    assert got["simhash"].tolist() == batch["simhash"].tolist()


def test_streaming_simhash_fast_engine_matches_batch_fast(spark, tmp_path):
    # the stateless mapInPandas tag runs the batch kernel simhash_fast_batch:
    # bit-identical to it on the same texts, all input columns passed
    # through (the streaming contract); the engine keyword is gone
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.operators.candidates import simhash_fast_batch

    pages = generate_pages(spark, 60, seed=13)
    src = f"{tmp_path}/src_fast"
    pages.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    tagged = streaming_simhash_tag(stream, text_col="text")
    assert set(tagged.columns) == set(pages.columns) | {"simhash"}
    q = (
        tagged.writeStream.format("memory")
        .queryName("sim_fast_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sim_fast_out").toPandas().sort_values("page_id")
    assert len(got) == 60 and set(got.columns) == set(pages.columns) | {"simhash"}

    want = pages.select("page_id", "text").toPandas().sort_values("page_id")
    assert got["simhash"].tolist() == simhash_fast_batch(want["text"].tolist(), MatchConfig())

    with pytest.raises(TypeError, match="engine"):
        streaming_simhash_tag(stream, engine="fast")


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    # micro-batch near-dup matching against a frozen corpus: streamed
    # result must equal a one-shot matcher.match over the same rows, and
    # the corpus-side fit must not be recomputed per batch (it is cached
    # on the matcher)
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher
    from string_grouper_spark.streaming.dedup_stream import (
        streaming_incremental_dedup,
    )

    corpus = generate_pages(spark, 50, seed=19).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)

    # batch 1: near-dups of corpus docs 0..9; batch 2: exact copies 10..14
    b1 = corpus.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !")).alias("text"),
    )
    b2 = corpus.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    src = f"{tmp_path}/batches"
    b1.coalesce(1).write.parquet(f"{src}/b=0")
    b2.coalesce(1).write.parquet(f"{src}/b=1")

    matcher = PrefitLshMatcher(
        corpus, cfg, num_perm=128, num_bands=32, max_bucket_size=None
    )
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b=*")
    )
    # pure corpus-vs-batch contract (reference corpus-reuse semantics):
    # the complete-coverage defaults are exercised by
    # test_streaming_intra_stream_near_dups below
    q = streaming_incremental_dedup(
        stream, matcher, f"{tmp_path}/sink", f"{tmp_path}/ckpt",
        self_pairs=False, extend_corpus=False,
    )
    q.awaitTermination(180)
    streamed = spark.read.parquet(f"{tmp_path}/sink").toPandas()
    assert streamed["batch_id"].nunique() == 2  # two micro-batches

    oneshot = matcher.match(b1.unionByName(b2)).toPandas()
    matcher.unpersist()
    s = set(zip(streamed.master_side, streamed.dupe_side))
    o = set(zip(oneshot.master_side, oneshot.dupe_side))
    assert s == o
    # every near-dup and every exact copy found against the frozen corpus
    assert {(i, i + 1000) for i in range(10)} <= s
    assert {(i, i + 2000) for i in range(10, 15)} <= s


def test_stream_plus_compaction_equals_batch_dedup(spark, tmp_path):
    # the full streaming lambda loop: docs arrive as micro-batches, each is
    # matched against the frozen corpus, and the periodic compaction folds
    # the match sink into cluster labels — which must equal one-shot batch
    # fast_lsh_dedup over the same corpus (same IDF space: corpus == all)
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import (
        PrefitLshMatcher,
        fast_lsh_dedup,
    )
    from string_grouper_spark.streaming.dedup_stream import (
        compact_incremental_matches,
        streaming_incremental_dedup,
    )

    corpus = generate_pages(spark, 60, seed=23).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    # inject near-dups so the cluster structure is non-trivial
    dups = corpus.where(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" .")).alias("text"),
    )
    allrows = corpus.unionByName(dups)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)

    src = f"{tmp_path}/batches"
    allrows.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b=0")
    allrows.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b=1")

    matcher = PrefitLshMatcher(
        allrows, cfg, num_perm=128, num_bands=32, max_bucket_size=None
    )
    stream = (
        spark.readStream.schema(allrows.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b=*")
    )
    # matcher is fit on allrows (corpus == everything, so the IDF space is
    # identical to the one-shot fit); extension would re-add the same ids
    q = streaming_incremental_dedup(
        stream, matcher, f"{tmp_path}/sink", f"{tmp_path}/ckpt",
        self_pairs=False, extend_corpus=False,
    )
    q.awaitTermination(180)
    matcher.unpersist()

    compacted = compact_incremental_matches(
        spark, f"{tmp_path}/sink", allrows, id_col="doc_id"
    ).toPandas()
    batch = (
        fast_lsh_dedup(
            allrows, cfg, num_perm=128, num_bands=32, max_bucket_size=None
        )
        .select("doc_id", "component")
        .toPandas()
    )
    got = dict(zip(compacted.doc_id, compacted.component))
    want = dict(zip(batch.doc_id, batch.component))
    assert got == want
    assert any(want[i] == want[i + 100] for i in range(12))  # real clusters


def test_matcher_self_pairs_unit(spark):
    # match_self pairs batch docs against EACH OTHER (frozen feature
    # space), the piece a corpus-vs-batch join cannot see
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher

    corpus = generate_pages(spark, 40, seed=31).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    matcher = PrefitLshMatcher(
        corpus, cfg, num_perm=128, num_bands=32, max_bucket_size=None
    )
    # batch: two mutual near-dups (novel text) + one unrelated novel doc
    novel = generate_pages(spark, 3, seed=77).select(
        (F.col("page_id") + 5000).alias("doc_id"), "text"
    )
    x = novel.where(F.col("doc_id") == 5000)
    batch = (
        x.unionByName(
            x.select(
                (F.col("doc_id") + 1).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" .")).alias("text"),
            )
        )
        .unionByName(novel.where(F.col("doc_id") == 5002))
    )
    pairs = matcher.match_self(batch).toPandas()
    matcher.unpersist()
    got = set(zip(pairs.master_side, pairs.dupe_side))
    assert (5000, 5001) in got
    assert all(m < d for m, d in got)  # l<r contract, no self-loops
    assert not any(5002 in p for p in got)


def test_streaming_intra_stream_near_dups(spark, tmp_path):
    # THE round-4 gap: docs that duplicate each other but NOTHING in the
    # frozen corpus — within one micro-batch (self_pairs) and across
    # micro-batches (extend_corpus) — must land in one component, and
    # stream+compaction must equal one-shot batch fast_lsh_dedup over
    # corpus ∪ stream (near-exact dups, so frozen-vs-joint IDF spaces
    # threshold identically)
    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import (
        PrefitLshMatcher,
        fast_lsh_dedup,
    )
    from string_grouper_spark.streaming.dedup_stream import (
        compact_incremental_matches,
        streaming_incremental_dedup,
    )

    # dup_fraction=0: the streaming contract assumes an internally-deduped
    # corpus (it never pairs corpus docs with each other), so the one-shot
    # equality below needs a corpus without internal near-dups
    corpus = generate_pages(spark, 50, seed=41, dup_fraction=0.0).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)

    # novel stream docs: X(1000) ≈ Y(1001) in batch 1; Z(1002) ≈ X arrives
    # in batch 2; W(1003) ≈ corpus doc 5 in batch 2 (corpus-vs-batch path)
    x = generate_pages(spark, 1, seed=99).select(
        (F.col("page_id") + 1000).alias("doc_id"), "text"
    )
    y = x.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" .")).alias("text"),
    )
    z = x.select(
        (F.col("doc_id") + 2).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !")).alias("text"),
    )
    w = corpus.where(F.col("doc_id") == 5).select(
        F.lit(1003).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ?")).alias("text"),
    )
    b1 = x.unionByName(y)
    b2 = z.unionByName(w)
    src = f"{tmp_path}/batches"
    b1.coalesce(1).write.parquet(f"{src}/b=0")
    b2.coalesce(1).write.parquet(f"{src}/b=1")

    matcher = PrefitLshMatcher(
        corpus, cfg, num_perm=128, num_bands=32, max_bucket_size=None
    )
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b=*")
    )
    q = streaming_incremental_dedup(  # defaults: self_pairs + extend_corpus
        stream, matcher, f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    )
    q.awaitTermination(180)
    matcher.unpersist()

    allrows = corpus.unionByName(b1).unionByName(b2)
    compacted = compact_incremental_matches(
        spark, f"{tmp_path}/sink", allrows, id_col="doc_id"
    ).toPandas()
    got = dict(zip(compacted.doc_id, compacted.component))
    # intra-stream cluster: X,Y (same batch) and Z (later batch) together
    assert got[1000] == got[1001] == got[1002] == 1000
    # corpus-vs-batch still works: W joins corpus doc 5's component
    assert got[1003] == got[5]
    # and the whole labeling equals the one-shot batch flagship
    batch = (
        fast_lsh_dedup(
            allrows, cfg, num_perm=128, num_bands=32, max_bucket_size=None
        )
        .select("doc_id", "component")
        .toPandas()
    )
    assert got == dict(zip(batch.doc_id, batch.component))


def test_compaction_empty_sink_is_singletons(spark, tmp_path):
    from string_grouper_spark.streaming.dedup_stream import (
        compact_incremental_matches,
    )

    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    out = compact_incremental_matches(
        spark, f"{tmp_path}/no_such_sink", nodes
    ).toPandas()
    assert dict(zip(out.doc_id, out.component)) == {i: i for i in range(5)}


def test_compaction_raises_on_unreadable_sink(spark, tmp_path):
    # ONLY a missing sink may degrade to singletons; a sink that EXISTS but
    # cannot be read as parquet must raise, never silently label the corpus
    # duplicate-free
    import pytest

    bad = tmp_path / "bad_sink"
    bad.mkdir()
    (bad / "garbage.parquet").write_text("this is not parquet")
    from string_grouper_spark.streaming.dedup_stream import (
        compact_incremental_matches,
    )

    nodes = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(Exception):
        compact_incremental_matches(spark, str(bad), nodes).collect()


def test_streaming_url_dedup(spark, tmp_path):
    # canonical_url is pure Catalyst -> runs inside Structured Streaming;
    # scheme-case/tracking-param variants of the same page collapse to one
    from string_grouper_spark.streaming.dedup_stream import streaming_url_dedup

    pages = generate_pages(spark, 60, seed=13)
    variants = (
        pages.limit(15)
        .withColumn(
            "url",
            F.concat(
                # scheme-case variant (path case is SIGNIFICANT and kept)
                F.regexp_replace(F.col("url"), "^https://", "HTTPS://"),
                F.lit("?utm_source=feed#frag"),
            ),
        )
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 MINUTE"))
    )
    src = f"{tmp_path}/urlsrc"
    pages.unionByName(variants).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    q = (
        streaming_url_dedup(stream)
        .writeStream.format("memory")
        .queryName("url_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from url_dedup_out").toPandas()
    # 60 canonical identities; each variant collapsed onto its original
    assert len(out) == 60
    assert out["canonical_url"].nunique() == 60


def test_streaming_media_metadata(spark, tmp_path):
    """media_metadata is a stateless mapInPandas — legal in Structured
    Streaming: probing a media stream needs no batch rewrite."""
    import numpy as np

    from string_grouper_spark.functions.codecs import encode_png, encode_wav
    from string_grouper_spark.operators.multimodal import media_metadata

    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2],
            "payload": [
                encode_png(np.zeros((4, 6, 3), dtype=np.uint8)),
                encode_wav(np.zeros(800, dtype=np.int16), 8000),
                b"junk",
            ],
        }
    )
    src = f"{tmp_path}/media"
    batch = spark.createDataFrame(pdf)
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        media_metadata(stream)
        .writeStream.format("memory")
        .queryName("probe_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from probe_out").toPandas().set_index("media_id").sort_index()
    assert out.loc[0, "container"] == "png" and out.loc[0, "width"] == 6
    assert out.loc[1, "container"] == "wav"
    assert "unrecognized" in out.loc[2, "err"]
