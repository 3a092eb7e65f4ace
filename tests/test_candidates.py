"""Candidate-generator recall vs the exact TF-IDF path (SURVEY §5 test plan
(b)): each generator + exact re-score must recover >= 0.99 of the exact
path's pairs at matched config on real testdata."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.operators import candidates as cand
from string_grouper_spark.operators.dedup import near_duplicate_pairs
from string_grouper_spark.operators.similarity import LEFT, RIGHT
from string_grouper_spark.plans.fast_dedup import (
    doc_vectors,
    lsh_band_candidates,
    rescore_candidates_with_vecs,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()


@pytest.fixture(scope="module")
def exact_pairs(spark, docs):
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    pdf = near_duplicate_pairs(docs, cfg).toPandas()
    return set(zip(pdf[LEFT], pdf[RIGHT]))


def _recall(got: pd.DataFrame, expected: set) -> float:
    got_pairs = set(zip(got[LEFT], got[RIGHT]))
    return len(got_pairs & expected) / len(expected)


def test_minhash_recall(spark, docs, exact_pairs):
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    vecs = doc_vectors(docs, cfg, 128, 64, n_docs=500)
    c = lsh_band_candidates(vecs, 1000, salt_above=None)
    got = rescore_candidates_with_vecs(c, vecs, cfg).toPandas()
    r = _recall(got, exact_pairs)
    assert r >= 0.99, f"minhash recall {r:.4f} over {len(exact_pairs)} pairs"
    # precision is exact by construction: every surviving pair has true sim>=0.5
    assert set(zip(got[LEFT], got[RIGHT])) <= exact_pairs


def _hamming_ball_pairs(sigs, k):
    # brute-force O(n^2) scan: every (lo, hi) doc pair whose 64-bit
    # signatures differ in at most k bits
    import numpy as np

    sigs = sigs.sort_values("doc_id")
    ids = sigs["doc_id"].to_numpy()
    sv = sigs["simhash"].to_numpy().astype(np.uint64)
    xors = sv[:, None] ^ sv[None, :]
    dist = np.zeros_like(xors, dtype=np.int64)
    for b in range(64):
        dist += ((xors >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    iu, ju = np.nonzero(dist <= k)
    return {(int(ids[i]), int(ids[j])) for i, j in zip(iu, ju) if ids[i] < ids[j]}


def test_simhash_hamming_ball_exhaustive(spark, docs, exact_pairs):
    # Pigeonhole contract: the 4x16-bit block join must find EXACTLY the
    # signature pairs within Hamming distance 3 — verified against a
    # brute-force O(n^2) hamming scan of the collected signatures.
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    c = cand.simhash_candidates(docs, cfg, max_hamming=3).toPandas()
    got_pairs = set(zip(c[LEFT], c[RIGHT]))
    assert got_pairs == _hamming_ball_pairs(cand.simhash_signatures(docs, cfg).toPandas(), 3)

    # and the rescored output stays a subset of the exact >=0.5 pairs
    got = rescore_candidates_with_vecs(
        spark.createDataFrame(c), doc_vectors(docs, cfg, n_docs=500), cfg
    ).toPandas()
    assert set(zip(got[LEFT], got[RIGHT])) <= exact_pairs


def test_simhash_fast_engine_exhaustive_and_useful(spark, docs, exact_pairs):
    # engine='fast', the one engine the keyword still names: block join is
    # EXACTLY the hamming-<=3 pairs of its own signatures, the rescored
    # output is a subset of the exact >=0.5 pairs (hamming<=3 is a
    # VERY-near-dup generator: no 0.5-cosine recall is claimed), and the
    # generator must actually find dups
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    c = cand.simhash_candidates(docs, cfg, max_hamming=3, engine="fast").toPandas()
    got_pairs = set(zip(c[LEFT], c[RIGHT]))
    assert got_pairs == _hamming_ball_pairs(cand.simhash_signatures(docs, cfg).toPandas(), 3)

    got = rescore_candidates_with_vecs(
        spark.createDataFrame(c), doc_vectors(docs, cfg, n_docs=500), cfg
    ).toPandas()
    rp = set(zip(got[LEFT], got[RIGHT]))
    assert rp <= exact_pairs
    assert len(rp) > 0
    # any other engine name is a loud error
    with pytest.raises(ValueError, match="engine"):
        cand.simhash_candidates(docs, cfg, engine="numpy")


def test_jaccard_pairs_exactness(spark, docs):
    # Jaccard operator is exact set math — cross-check a sample in pandas
    cfg = MatchConfig()
    out = cand.jaccard_pairs(docs, cfg, min_jaccard=0.5).toPandas()
    assert len(out) > 0
    from string_grouper_spark.functions.normalize import py_ngrams

    pdf = docs.select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    for _, row in out.head(20).iterrows():
        a = set(py_ngrams(pdf[row[LEFT]], cfg))
        b = set(py_ngrams(pdf[row[RIGHT]], cfg))
        expected = len(a & b) / len(a | b)
        assert abs(expected - row["jaccard"]) < 1e-9


def test_substring_containment_exact(spark):
    cfg = MatchConfig()
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "quick brown fox",              # substring of 0
                "THE QUICK BROWN FOX",          # case-folds to prefix of 0
                "completely different content here",
                "fox jumps over the lazy",      # mid-substring of 0
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    out = cand.substring_containment(docs, cfg, anchor_len=8).toPandas()
    got = set(zip(out["inner_id"], out["outer_id"]))
    assert (1, 0) in got
    assert (2, 0) in got
    assert (4, 0) in got
    assert all(p[0] != 3 and p[1] != 3 for p in got)


def test_jaccard_stop_gram_guard_exact_values(spark, docs):
    # the guarded path must emit a SUBSET of the exact join with IDENTICAL
    # jaccard values (packed recount), and near-full recall on this corpus
    cfg = MatchConfig()
    full = cand.jaccard_pairs(docs, cfg, min_jaccard=0.5).toPandas()
    pruned = cand.jaccard_pairs(
        docs, cfg, min_jaccard=0.5, candidate_max_df_ratio=0.2
    ).toPandas()
    f = {(l, r): j for l, r, j in zip(full[LEFT], full[RIGHT], full["jaccard"])}
    p = {(l, r): j for l, r, j in zip(pruned[LEFT], pruned[RIGHT], pruned["jaccard"])}
    assert set(p) <= set(f)
    for k, v in p.items():
        assert abs(f[k] - v) < 1e-12
    assert len(p) / len(f) >= 0.99, (len(p), len(f))


def test_substring_winnowed_matches_bruteforce(spark, docs):
    # the winnowing-sampled index must still be EXACT: same output as an
    # O(n^2) containment scan of the normalized corpus
    from string_grouper_spark.functions.normalize import py_normalize

    cfg = MatchConfig()
    out = cand.substring_containment(docs, cfg, anchor_len=16).toPandas()
    got = set(zip(out["inner_id"], out["outer_id"]))

    pdf = docs.select("doc_id", "text").toPandas()
    norms = {int(r.doc_id): py_normalize(r.text, cfg) for r in pdf.itertuples()}
    want = {
        (i, j)
        for i, ni in norms.items()
        if len(ni) >= 16
        for j, nj in norms.items()
        if i != j and ni in nj
    }
    assert got == want


def test_substring_index_row_reduction(spark, docs):
    # winnowing cuts the positional index by ~stride x vs every-position;
    # measured with an explicit high-entropy config (stride 9) and with the
    # selectivity-first default (stride >= 2)
    from string_grouper_spark.functions.normalize import normalize_expr

    cfg = MatchConfig()
    anchor_len = 24
    for window_len, stride, min_ratio in [(8, 9, 8), (None, None, 3)]:
        k, w = cand._substring_params(anchor_len, window_len, stride)
        norm = docs.select(normalize_expr(F.col("text"), cfg).alias("norm")).where(
            F.length("norm") >= anchor_len
        )
        nw = F.length("norm") - (k - 1)
        row = norm.agg(
            F.sum(nw).alias("full_positions"),
            F.sum(F.floor((nw - 1) / w) + 1).alias("sampled"),
        ).first()
        ratio = row["full_positions"] / row["sampled"]
        assert ratio >= min_ratio, (window_len, stride, ratio)


@pytest.mark.parametrize(
    "sep, cfg",
    [("\x1f", MatchConfig()), ("\xa0", MatchConfig(normalize_to_ascii=False))],
)
def test_substring_and_suffix_agree_on_python_whitespace(spark, sep, cfg):
    # both generators normalize with py_normalize (Python re, as the
    # reference tokenizer): a character Python's \s strips but Java's keeps
    # must not split their verdicts on a pair
    from string_grouper_spark.operators.suffix_array import suffix_array_spans

    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [text, text.replace(" ", sep, 1)]})
    )
    contain = cand.substring_containment(docs, cfg, anchor_len=16).toPandas()
    spans = suffix_array_spans(docs, cfg, min_len=16).toPandas()
    assert set(zip(contain["inner_id"], contain["outer_id"])) == {(0, 1), (1, 0)}
    assert set(zip(spans["left"], spans["right"])) == {(0, 1)}


def test_salted_bucket_join_equals_plain(spark):
    # salting must re-shard the self-join WITHOUT changing the pair set:
    # band keys 7 (docs 0-11) and 9 (docs 1, 5, 20, 21) as doc_vectors rows
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(12)) + [20, 21],
            "bands": [[7, 9] if d in (1, 5) else [7] for d in range(12)]
            + [[9], [9]],
        }
    )
    vecs = spark.createDataFrame(pdf, "doc_id long, bands array<long>")
    plain = lsh_band_candidates(vecs, None, salt_above=None).toPandas()
    salted = lsh_band_candidates(vecs, None, salt_above=3).toPandas()
    key = lambda d: set(zip(d[LEFT], d[RIGHT]))
    assert key(plain) == key(salted)
    assert len(salted) == len(plain)  # exactly-once emission


def test_megabucket_drop_accounting_and_salting(spark):
    # a boilerplate megabucket must (a) be visible in drop_stats when capped
    # and (b) survive fully when salted instead of dropped
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    boiler = ["copyright terms and conditions apply to all pages here"] * 60
    family = [
        "the unique quick brown fox document number one",
        "the unique quick brown fox document number one!",
        "something else entirely different from the rest",
    ]
    pdf = pd.DataFrame({"doc_id": range(63), "text": boiler + family})
    docs = spark.createDataFrame(pdf)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)

    stats = {}
    capped = fast_lsh_dedup(
        docs, cfg, num_bands=16, max_bucket_size=10, salt_above=None,
        drop_stats=stats,
    ).toPandas()
    assert stats["n_buckets_dropped"] > 0
    assert stats["est_pairs_dropped"] >= 60 * 59 / 2
    # dropped megabucket -> boilerplate docs NOT clustered
    assert capped.set_index("doc_id")["component"].loc[range(60)].nunique() == 60

    salted = fast_lsh_dedup(
        docs, cfg, num_bands=16, max_bucket_size=None, salt_above=10
    ).toPandas()
    comp = salted.set_index("doc_id")["component"]
    # salted path keeps the whole boilerplate family in ONE cluster
    assert comp.loc[range(60)].nunique() == 1
    assert comp.loc[60] == comp.loc[61]
    assert comp.loc[62] == 62


def test_auto_skew_policy_from_histogram(spark, monkeypatch):
    # the threshold must come from the MEASURED bucket histogram: small
    # buckets -> no salting; a megabucket -> salt_above derived from the
    # per-task pair budget; dropped buckets are fully accounted
    import math

    monkeypatch.setattr(cand, "_TARGET_PAIRS_PER_TASK", 100)
    keys = ("band", "key")
    small = spark.createDataFrame(
        pd.DataFrame({"band": [0] * 6, "key": [1, 1, 1, 2, 2, 3], "doc_id": range(6)})
    )
    pol, _ = cand.bucket_policy(small, keys, None, "auto")
    assert pol["salt_above"] is None and pol["max_sz"] == 3
    assert pol["n_buckets_dropped"] == 0

    mega = spark.createDataFrame(
        pd.DataFrame({"band": [0] * 300, "key": [7] * 300, "doc_id": range(300)})
    )
    pol, _ = cand.bucket_policy(mega, keys, None, "auto")
    # 300^2/2 pairs >> budget: salt threshold = ceil(sqrt(2*per_task))
    assert pol["salt_above"] is not None and pol["salt_above"] < 300
    assert pol["est_pairs"] == 300 * 299 // 2
    par = spark.sparkContext.defaultParallelism
    per_task = max(100.0, pol["est_pairs"] / par)
    assert pol["salt_above"] == math.ceil(math.sqrt(2 * per_task))
    # with a cap, the dropped megabucket is fully accounted
    pol_capped, over_cap = cand.bucket_policy(mega, keys, 100, "auto")
    assert pol_capped["n_buckets_dropped"] == 1
    assert pol_capped["n_rows_dropped"] == 300
    assert pol_capped["est_pairs_dropped"] == 300 * 299 // 2
    assert pol_capped["salt_above"] is None  # nothing survives to salt
    # the same pass kept the dropped bucket's row for the pairing's filter
    assert [tuple(r) for r in over_cap.collect()] == [(0, 7, 300)]


def test_fast_dedup_default_run_reports_megabucket(spark, caplog):
    # VERDICT r2 #2 "done =": a DEFAULT flagship run on a corpus with an
    # engineered megabucket must REPORT the drop (warning log + stats), not
    # silently drop it
    import logging

    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    boiler = ["copyright terms and conditions apply to all pages here"] * 1100
    pdf = pd.DataFrame({"doc_id": range(1102), "text": boiler + [
        "the unique quick brown fox document number one",
        "the unique quick brown fox document number one!",
    ]})
    docs = spark.createDataFrame(pdf)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    stats: dict = {}
    with caplog.at_level(logging.INFO, logger="string_grouper_spark.skew"):
        out = fast_lsh_dedup(docs, cfg, drop_stats=stats).toPandas()
    assert stats["n_buckets_dropped"] > 0  # 1100 > default cap of 1000
    assert stats["est_pairs_dropped"] >= 1100 * 1099 / 2
    assert any(
        r.levelno == logging.WARNING and "skew policy" in r.message
        for r in caplog.records
    ), caplog.records
    # the non-megabucket family still clusters
    comp = out.set_index("doc_id")["component"]
    assert comp.loc[1100] == comp.loc[1101]


def test_fast_dedup_auto_policy_is_output_invariant(spark):
    # salting (or not) must never change the cluster labels — 'auto' equals
    # an explicit salt_above=None run on the same uncapped corpus
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    boiler = ["copyright terms and conditions apply to all pages here"] * 60
    family = [
        "the unique quick brown fox document number one",
        "the unique quick brown fox document number one!",
        "something else entirely different from the rest",
    ]
    pdf = pd.DataFrame({"doc_id": range(63), "text": boiler + family})
    docs = spark.createDataFrame(pdf)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    auto = fast_lsh_dedup(docs, cfg, max_bucket_size=None).toPandas()
    plain = fast_lsh_dedup(docs, cfg, max_bucket_size=None, salt_above=None).toPandas()
    salted = fast_lsh_dedup(docs, cfg, max_bucket_size=None, salt_above=10).toPandas()
    c = lambda d: d.sort_values("doc_id").reset_index(drop=True)
    a = c(auto)
    pd.testing.assert_frame_equal(a, c(plain))
    pd.testing.assert_frame_equal(a, c(salted))
    assert a.set_index("doc_id")["component"].loc[range(60)].nunique() == 1


def test_bipartite_minhash_recall_vs_exact(spark, docs):
    # incremental-dedup shape: new batch (doc_id >= 250) vs corpus (< 250);
    # LSH candidates + exact re-score must recover the exact two-series pairs
    from pyspark.sql import functions as F

    from string_grouper_spark.functions.tfidf import tfidf_postings
    from string_grouper_spark.operators.similarity import SIM, cosine_join

    master = docs.where(F.col("doc_id") < 250)
    dupes = docs.where(F.col("doc_id") >= 250)
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)

    m_post, d_post, _ = tfidf_postings(
        master.select(F.col("doc_id").alias("row_id"), "text"),
        dupes.select(F.col("doc_id").alias("row_id"), "text"),
        cfg,
    )
    exact = cosine_join(m_post, d_post, 0.5).toPandas()
    want = {(l, r): s for l, r, s in zip(exact[LEFT], exact[RIGHT], exact[SIM])}
    assert want, "fixture should contain cross-side near-dups"

    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup_bipartite

    # the capped case: each side's buckets capped at 1000 members
    got_df = fast_lsh_dedup_bipartite(
        master, dupes, cfg, num_perm=128, num_bands=64, max_bucket_size=1000
    ).toPandas()
    got = {(l, r): s for l, r, s in zip(got_df[LEFT], got_df[RIGHT], got_df[SIM])}
    recall = len(set(got) & set(want)) / len(want)
    assert recall >= 0.99, recall
    assert set(got) <= set(want)  # precision exact by construction
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9  # same corpus-wide IDF


def test_candidate_max_df_ratio_prunes_generation_not_scores(spark, docs, exact_pairs):
    # the stop-gram guard must only SKIP pairs, never change a similarity
    from string_grouper_spark.operators.similarity import SIM

    cfg = MatchConfig(
        min_similarity=0.5, max_n_matches=1_000_000, candidate_max_df_ratio=0.2
    )
    pruned = near_duplicate_pairs(docs, cfg).toPandas()
    full = near_duplicate_pairs(
        docs, MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    ).toPandas()
    fmap = {(l, r): s for l, r, s in zip(full[LEFT], full[RIGHT], full[SIM])}
    pmap = {(l, r): s for l, r, s in zip(pruned[LEFT], pruned[RIGHT], pruned[SIM])}
    assert set(pmap) <= set(fmap)
    for k, v in pmap.items():
        assert abs(fmap[k] - v) < 1e-9
    # recall accounting: near-dups share rare grams, so pruning 20%-df
    # stop-grams must not cost pairs on this corpus
    recall = len(pmap) / len(fmap)
    assert recall >= 0.99, recall


def _py_simhash(text, cfg):
    # plain-Python SimHash: big-endian byte-packed grams of the normalized
    # UTF-8 text, splitmix64 mod 2**64, tf-weighted +/-1 bit votes, the
    # positive votes folded into a signed 64-bit int
    from collections import Counter

    from string_grouper_spark.functions.normalize import py_normalize

    if text is None:
        return None
    b, n, m = py_normalize(text, cfg).encode("utf-8"), cfg.ngram_size, (1 << 64) - 1
    tf = Counter(int.from_bytes(b[i : i + n], "big") for i in range(len(b) - n + 1))
    votes = [0] * 64
    for z, c in tf.items():
        z = (z + 0x9E3779B97F4A7C15) & m
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
        z ^= z >> 31
        for bit in range(64):
            votes[bit] += c if (z >> bit) & 1 else -c
    sig = sum(1 << bit for bit in range(64) if votes[bit] > 0)
    return sig - (1 << 64) if sig >> 63 else sig


@pytest.mark.parametrize(
    "cfg",
    [MatchConfig(), MatchConfig(ngram_size=8, normalize_to_ascii=False)],
    ids=["3gram", "8gram-unicode"],
)
def test_simhash_fast_batch_matches_python_reference(cfg):
    # the one SimHash kernel, bit for bit against the plain-Python form on
    # corpus docs plus NULL, empty, shorter-than-ngram and non-ASCII texts
    # (8-grams with a non-ASCII lead byte pack to codes >= 2**63)
    texts = pd.read_parquet(f"{SF_DIR}/documents.parquet")["text"].head(44).tolist()
    texts += [
        None, "", "ab", "a-b.c", "abcdefg", "Ünïcödé straße café",
        "中文かタ漢字テキスト", "ＭｃＤｏｎａｌｄｓ", "x\u3000y\xa0zzzzzzzz", "aaaaaaaaaaaa",
    ]
    assert cand.simhash_fast_batch(texts, cfg) == [_py_simhash(t, cfg) for t in texts]


def test_minhash_deterministic_across_runs(spark, docs):
    cfg = MatchConfig()
    sub = docs.limit(50)
    a = doc_vectors(sub, cfg, 32, 16, n_docs=50).select("doc_id", "bands").toPandas()
    b = doc_vectors(sub, cfg, 32, 16, n_docs=50).select("doc_id", "bands").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_prefilter_hot_equals_postfilter_pairs(spark):
    # the over-cap rows are dropped BEFORE collect_list (so no task ever
    # materializes a megabucket) — the emitted pair set must be identical
    # to an F.size-after-collect filter
    from itertools import combinations

    pdf = pd.DataFrame(
        {
            "key": [7] * 12 + [9] * 4 + [11] * 2,
            "doc_id": list(range(12)) + [1, 5, 20, 21] + [30, 31],
        }
    )
    buckets = spark.createDataFrame(pdf)
    key = lambda d: set(zip(d[LEFT], d[RIGHT]))
    grouped = buckets.groupBy("key").agg(F.collect_list("doc_id").alias("_ds"))
    post = {
        p
        for row in grouped.where(F.size("_ds") <= 5).collect()
        for p in combinations(sorted(row["_ds"]), 2)
    }
    pol, hot = cand.bucket_policy(buckets, ("key",), 5, None)
    assert pol["n_buckets_dropped"] == 1
    kept = buckets.join(hot.select("key"), "key", "left_anti")
    pre = cand._grouped_bucket_pairs(kept, ("key",)).toPandas()
    assert post == key(pre)
    # the size-12 bucket is gone either way; the size-4 and size-2 survive
    assert len(key(pre)) == 6 + 1


def test_fast_plan_megabucket_prefilter_path(spark):
    # auto policy measures drops -> flagship takes the prefilter branch;
    # accounting is reported and the small clusters still form
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup

    boiler = ["copyright terms and conditions apply to all pages here"] * 60
    family = [
        "the unique quick brown fox document number one",
        "the unique quick brown fox document number one!",
        "something else entirely different from the rest",
    ]
    pdf = pd.DataFrame({"doc_id": range(63), "text": boiler + family})
    docs = spark.createDataFrame(pdf)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    stats = {}
    out = fast_lsh_dedup(
        docs, cfg, num_bands=16, max_bucket_size=10, n_docs=63,
        drop_stats=stats,
    ).toPandas()
    assert stats["n_buckets_dropped"] > 0
    comp = out.set_index("doc_id")["component"]
    assert comp.loc[range(60)].nunique() == 60  # megabucket dropped, reported
    assert comp.loc[60] == comp.loc[61]         # family dup still clustered
    assert comp.loc[62] not in (comp.loc[60],)


def test_capped_buckets_equals_grouped_filter(spark):
    # the anti-join cap must keep exactly the rows the grouped
    # collect_list -> F.size filter would keep
    pdf = pd.DataFrame(
        {
            "band": [0] * 12 + [1] * 4 + [0] * 2,
            "key": [7] * 12 + [9] * 4 + [11] * 2,
            "doc_id": list(range(12)) + [1, 5, 20, 21] + [30, 31],
        }
    )
    b = spark.createDataFrame(pdf)
    got = cand.capped_buckets(b, 5).toPandas()
    grouped = b.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("_ds")
    )
    want = (
        grouped.where(F.size("_ds") <= 5)
        .select("band", "key", F.explode("_ds").alias("doc_id"))
        .toPandas()
    )
    key = lambda d: set(zip(d["band"], d["key"], d["doc_id"]))
    assert key(got) == key(want)
    assert cand.capped_buckets(b, None) is b


def test_substring_containment_bipartite_equals_bruteforce(spark, docs):
    # decontamination shape: benchmark items are slices of every 5th doc;
    # the winnowed bipartite join must find EXACTLY the brute-force
    # containments (guaranteed-hit winnowing + exact locate verify)
    from string_grouper_spark.functions.normalize import py_normalize

    cfg = MatchConfig()
    corpus = docs.limit(120)
    bench = corpus.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.substring("text", 11, 48).alias("text")
    )
    got = cand.substring_containment_bipartite(
        bench, corpus, cfg, anchor_len=16
    ).toPandas()
    got_set = set(zip(got["inner_id"], got["outer_id"]))

    cpdf = corpus.toPandas()
    bpdf = bench.toPandas()
    want = set()
    cnorm = {r.doc_id: py_normalize(r.text, cfg) for r in cpdf.itertuples()}
    for b in bpdf.itertuples():
        bn = py_normalize(b.text, cfg)
        if len(bn) < 16:
            continue
        for did, cn in cnorm.items():
            if bn in cn:
                want.add((b.doc_id, did))
    assert got_set == want
    assert len(want) >= bpdf.shape[0] - (bpdf["text"].str.len() < 16).sum() - 5


def test_bipartite_containment_reports_short_item_skips(spark, docs):
    # contract: sub-anchor_len benchmark items are not searched for, and
    # the skip accounting says so (never silent)
    import pandas as pd

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["tiny", "x" * 40]})
    )
    stats: dict = {}
    cand.substring_containment_bipartite(
        bench, docs.limit(20), MatchConfig(), anchor_len=16, skip_stats=stats
    ).count()
    assert stats["n_inner_skipped"] == 1


def test_hamming_ball_radius_validation(spark):
    import pandas as _pd

    sigs = spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1, 2], "simhash": [0, -1]})
    )
    with pytest.raises(ValueError) as ei:
        cand.hamming_ball_pairs(sigs, max_hamming=8, num_blocks=8)
    assert "pigeonhole" in str(ei.value)


def test_simhash_fast_null_text_and_word_shingles(spark):
    import pandas as _pd

    cfg = MatchConfig()
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    # null text -> None signature (no crash)
    out = cand.simhash_fast_batch([base, None, ""], cfg)
    assert out[1] is None and isinstance(out[0], int) and out[2] == 0
    # word shingles: doc sharing most word 5-grams lands near; a doc with
    # the same CHARS but shuffled words lands far
    near = base + " extra tail"
    shuffled = " ".join(reversed(base.split()))
    s = cand.simhash_fast_batch([base, near, shuffled], cfg, shingle="word")
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(s[0], s[1]) < ham(s[0], s[2])
    # unknown shingle: loud error
    docs = spark.createDataFrame(_pd.DataFrame({"doc_id": [1], "text": [base]}))
    with pytest.raises(ValueError):
        cand.simhash_signatures(docs, cfg, shingle="token")
    # end-to-end with word shingles + a null text row
    docs2 = spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1, 2], "text": [base, None]})
    )
    got = (
        cand.simhash_signatures(docs2, cfg, shingle="word")
        .toPandas().set_index("doc_id")
    )
    assert got.loc[1, "simhash"] == s[0] and pd.isna(got.loc[2, "simhash"])


def test_null_signatures_never_pair(spark):
    """groupBy groups NULL keys together (unlike joins): null-sig docs must
    be filtered, not bucketed with each other."""
    import pandas as _pd

    sigs = spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1, 2, 3], "simhash": [None, None, 7]})
    ).withColumn("simhash", F.col("simhash").cast("long"))
    out = cand.hamming_ball_pairs(sigs, max_hamming=3, num_blocks=4).toPandas()
    assert len(out) == 0
