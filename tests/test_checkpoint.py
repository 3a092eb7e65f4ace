"""Checkpoint/resume: stage skip on matching fingerprint, invalidation on
config change, metrics + per-partition lineage rows, resume-equivalence."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.checkpoint import StageCheckpointer, checkpointed_dedup_pipeline
from string_grouper_spark.config import MatchConfig


@pytest.fixture
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog!",
                "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG",
                "completely different text about spark shuffles",
                "completely different text about spark shuffles today",
                "a third topic entirely concerning minhash bands",
                "a third topic entirely concerning minhash bands",
                "nothing like the others at all in any way shape",
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_stage_runs_once_then_resumes(spark, docs, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path), run_config={"v": 1})
    calls = []

    def build():
        calls.append(1)
        return docs.select("doc_id")

    a = ck.stage("ids", build).toPandas()
    b = ck.stage("ids", build).toPandas()  # must NOT rebuild
    assert len(calls) == 1
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )


def test_fingerprint_invalidation(spark, docs, tmp_path):
    calls = []

    def build():
        calls.append(1)
        return docs.select("doc_id")

    ck1 = StageCheckpointer(spark, str(tmp_path), run_config={"min_similarity": 0.8})
    ck1.stage("ids", build)
    ck2 = StageCheckpointer(spark, str(tmp_path), run_config={"min_similarity": 0.5})
    ck2.stage("ids", build)  # config changed -> must rebuild
    assert len(calls) == 2


def test_input_fingerprint_invalidation(spark, docs, tmp_path):
    # same root + same config but CHANGED input data must rebuild, not
    # resume stale results
    from string_grouper_spark.checkpoint import input_fingerprint

    calls = []

    def build():
        calls.append(1)
        return docs.select("doc_id")

    cfg = {"min_similarity": 0.8}
    ck1 = StageCheckpointer(
        spark, str(tmp_path), run_config=cfg, input_fp=input_fingerprint(docs)
    )
    ck1.stage("ids", build)
    changed = docs.withColumn("text", F.concat(F.col("text"), F.lit("!")))
    ck2 = StageCheckpointer(
        spark, str(tmp_path), run_config=cfg, input_fp=input_fingerprint(changed)
    )
    ck2.stage("ids", build)
    assert len(calls) == 2
    # identical input -> resume (no third build)
    ck3 = StageCheckpointer(
        spark, str(tmp_path), run_config=cfg, input_fp=input_fingerprint(changed)
    )
    ck3.stage("ids", build)
    assert len(calls) == 2


def test_checkpointer_writes_through_table_io(spark, docs, tmp_path):
    # stage tables route through the TableIO adapter (Iceberg-ready; parquet
    # fallback in this container), resume included
    from string_grouper_spark.sources.catalog import TableIO

    io = TableIO(spark, f"{tmp_path}/tables")
    calls = []

    def build():
        calls.append(1)
        return docs.select("doc_id")

    ck = StageCheckpointer(spark, str(tmp_path), run_config={}, io=io)
    a = ck.stage("ids", build).toPandas()
    # ADVICE r2: the table identifier carries the stage fingerprint so two
    # runs sharing one catalog namespace can never overwrite each other
    fp = ck.stage_fingerprint("ids")
    assert io.exists(f"ids_{fp}_data")
    assert not io.exists("ids_data")
    b = StageCheckpointer(spark, str(tmp_path), run_config={}, io=io).stage(
        "ids", build
    ).toPandas()
    assert len(calls) == 1  # resumed through the adapter
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    # a different config under a DIFFERENT root but the SAME io namespace
    # gets its own table — and does not clobber the first run's
    ck2 = StageCheckpointer(
        spark, f"{tmp_path}/other", run_config={"v": 2}, io=io
    )
    ck2.stage("ids", lambda: docs.select("doc_id").limit(3))
    fp2 = ck2.stage_fingerprint("ids")
    assert fp2 != fp and io.exists(f"ids_{fp2}_data")
    assert len(io.read(f"ids_{fp}_data").toPandas()) == len(a)


def test_tmp_staging_dir_cleaned_up(spark, docs, tmp_path):
    import os

    ck = StageCheckpointer(spark, str(tmp_path), run_config={})
    ck.stage("ids", lambda: docs.select("doc_id"))
    assert not os.path.exists(f"{tmp_path}/ids/data.tmp")
    assert os.path.exists(f"{tmp_path}/ids/data")


def test_metrics_and_lineage_written(spark, docs, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path), run_config={})
    ck.stage("ids", lambda: docs.select("doc_id").repartition(4))
    m = ck.metrics.toPandas()
    assert set(m["stage"]) == {"ids"}
    assert int(m["rows_out"].iloc[0]) == 8
    lin = ck.lineage.toPandas()
    assert lin["rows"].sum() == 8
    assert (lin["stage"] == "ids").all()
    assert lin["partition_id"].nunique() >= 1


def test_stage_written_once_with_partition_tag(spark, docs, tmp_path):
    # the stage table carries the _pid tag its lineage rows come from; the
    # read-back stage does not, and its lineage rows sum to its rows_out
    ck = StageCheckpointer(spark, str(tmp_path), run_config={})
    out = ck.stage("ids", lambda: docs.select("doc_id").repartition(3))
    assert out.columns == ["doc_id"]
    assert "_pid" in spark.read.parquet(f"{tmp_path}/ids/data").columns
    rows_out = int(ck.metrics.toPandas()["rows_out"].iloc[0])
    assert rows_out == 8
    assert int(ck.lineage.toPandas()["rows"].sum()) == rows_out
    # resumed: still no tag
    assert ck.stage("ids", lambda: docs.select("doc_id")).columns == ["doc_id"]


def test_exact_pipeline_matches_plain_under_stop_gram_guard(spark, docs, tmp_path):
    # the checkpointed edges stage runs match_edges' own self-join, so the
    # stop-gram guard applies there too
    from string_grouper_spark.operators.dedup import near_duplicate_clusters

    cfg = MatchConfig(min_similarity=0.5, candidate_max_df_ratio=0.1)
    c = lambda d: d.sort_values("doc_id").reset_index(drop=True)
    got = c(checkpointed_dedup_pipeline(spark, docs, cfg, str(tmp_path)).toPandas())
    direct = c(near_duplicate_clusters(docs, cfg).toPandas())
    pd.testing.assert_frame_equal(got, direct)


def test_pipeline_resume_equivalence(spark, docs, tmp_path):
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=100)
    r1 = checkpointed_dedup_pipeline(spark, docs, cfg, str(tmp_path)).toPandas()
    # second run resumes every stage from disk — result must be identical
    r2 = checkpointed_dedup_pipeline(spark, docs, cfg, str(tmp_path)).toPandas()
    c = lambda d: d.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(c(r1), c(r2))
    # and matches the non-checkpointed pipeline
    from string_grouper_spark.operators.dedup import near_duplicate_clusters

    direct = near_duplicate_clusters(docs, cfg).toPandas()
    pd.testing.assert_frame_equal(c(r1), c(direct))


def test_lsh_pipeline_checkpointed_matches_fast_and_resumes(spark, docs, tmp_path):
    # the FLAGSHIP checkpointed variant: same output contract + values as
    # fast_lsh_dedup, resume-identical, and the measured skew policy is a
    # _metrics row (never a silent drop)
    import os

    from string_grouper_spark.checkpoint import checkpointed_lsh_dedup_pipeline
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    kw = dict(num_perm=128, num_bands=32, max_bucket_size=None)
    c = lambda d: d.sort_values("doc_id").reset_index(drop=True)

    direct = c(fast_lsh_dedup(docs, cfg, **kw).toPandas())
    r1 = c(
        checkpointed_lsh_dedup_pipeline(
            spark, docs, cfg, str(tmp_path), **kw
        ).toPandas()
    )
    pd.testing.assert_frame_equal(r1, direct)
    assert list(r1.columns) == ["doc_id", "component"]

    ck = StageCheckpointer(spark, str(tmp_path))
    m = spark.read.json(f"{tmp_path}/_metrics").toPandas()
    assert "skew_policy" in set(m["stage"])
    pol = m[m["stage"] == "skew_policy"].iloc[0]
    assert pol["n_buckets_dropped"] == 0

    # the stages of the plain MinHash plan
    stages = ("vectors", "cand_minhash", "edges_cosine", "labels")
    for stage in stages:
        assert os.path.exists(f"{tmp_path}/{stage}/_stage_meta.json"), stage
    mt = {s: os.path.getmtime(f"{tmp_path}/{s}/_stage_meta.json") for s in stages}

    # resume: every stage skips, result identical
    r2 = c(
        checkpointed_lsh_dedup_pipeline(
            spark, docs, cfg, str(tmp_path), **kw
        ).toPandas()
    )
    pd.testing.assert_frame_equal(r2, r1)
    for s, t in mt.items():
        assert os.path.getmtime(f"{tmp_path}/{s}/_stage_meta.json") == t, s


def test_union_pipeline_checkpointed_matches_scale_and_resumes(spark, docs, tmp_path):
    # the THREE-GENERATOR checkpointed variant: per-generator stage tables,
    # same values as near_duplicate_clusters_scale, partial resume (only a
    # deleted stage rebuilds; untouched generator stages are skipped)
    import json
    import os

    from string_grouper_spark.checkpoint import checkpointed_union_dedup_pipeline
    from string_grouper_spark.operators.dedup import near_duplicate_clusters_scale

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    gens = ("minhash", "simhash", "suffix")
    kw = dict(num_perm=128, num_bands=32, max_bucket_size=None, anchor_len=16)
    c = lambda d: d.sort_values("doc_id").reset_index(drop=True)

    direct = c(
        near_duplicate_clusters_scale(docs, cfg, generators=gens, **kw).toPandas()
    )
    r1 = c(
        checkpointed_union_dedup_pipeline(
            spark, docs, cfg, str(tmp_path), generators=gens, **kw
        ).toPandas()
    )
    pd.testing.assert_frame_equal(r1, direct)
    assert list(r1.columns) == ["doc_id", "component"]
    for stage in ("vectors", "cand_minhash", "cand_simhash", "edges_cosine",
                  "edges_suffix", "labels"):
        assert os.path.exists(f"{tmp_path}/{stage}/_stage_meta.json"), stage

    # full resume: identical output, no stage rebuilt (meta mtimes unchanged)
    mt = {
        s: os.path.getmtime(f"{tmp_path}/{s}/_stage_meta.json")
        for s in ("vectors", "cand_minhash", "cand_simhash", "edges_suffix")
    }
    r2 = c(
        checkpointed_union_dedup_pipeline(
            spark, docs, cfg, str(tmp_path), generators=gens, **kw
        ).toPandas()
    )
    pd.testing.assert_frame_equal(r2, r1)
    for s, t in mt.items():
        assert os.path.getmtime(f"{tmp_path}/{s}/_stage_meta.json") == t, s

    # partial resume: kill ONE generator stage -> only it (and downstream
    # labels) rebuild; the other generators stay skipped
    os.remove(f"{tmp_path}/edges_suffix/_stage_meta.json")
    r3 = c(
        checkpointed_union_dedup_pipeline(
            spark, docs, cfg, str(tmp_path), generators=gens, **kw
        ).toPandas()
    )
    pd.testing.assert_frame_equal(r3, r1)
    for s in ("vectors", "cand_minhash", "cand_simhash"):
        assert os.path.getmtime(f"{tmp_path}/{s}/_stage_meta.json") == mt[s], s
    assert os.path.exists(f"{tmp_path}/edges_suffix/_stage_meta.json")
