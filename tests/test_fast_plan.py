"""fast_dedup plan: numeric equivalence with the exact posting-join path
and cluster-level equivalence of the end-to-end pipeline."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.functions.tfidf import tfidf_postings
from string_grouper_spark.plans.fast_dedup import (
    doc_term_arrays,
    doc_vectors,
    fast_lsh_dedup,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    yield df
    # unpersist so later plan-shape tests see a real parquet scan, not an
    # InMemoryTableScan substituted for the same read
    df.unpersist()


def test_term_arrays_match_generic_tf(spark, docs):
    cfg = MatchConfig()
    terms = doc_term_arrays(docs.limit(50), cfg).toPandas().set_index("doc_id")
    from string_grouper_spark.functions.normalize import py_ngrams

    pdf = docs.limit(50).toPandas().set_index("doc_id")["text"]
    for doc_id, text in pdf.items():
        grams = py_ngrams(text, cfg)
        expected = pd.Series(grams).value_counts()
        got_codes = terms.loc[doc_id, "codes"]
        got_tfs = dict(zip(got_codes, terms.loc[doc_id, "tfs"]))
        assert len(got_codes) == len(expected)
        for gram, cnt in expected.items():
            code = int.from_bytes(gram.encode("utf-8"), "big")
            assert got_tfs[code] == cnt, (doc_id, gram)


def test_vector_weights_match_generic_postings(spark, docs):
    cfg = MatchConfig()
    sub = docs.limit(100)
    n = sub.count()
    vecs = doc_vectors(sub, cfg, n_docs=n).toPandas().set_index("doc_id")
    postings, _, _ = tfidf_postings(sub, None, cfg, id_col="doc_id", n_master=n)
    ppdf = postings.toPandas()
    for doc_id, grp in ppdf.groupby("doc_id"):
        want = {
            int.from_bytes(g.encode("utf-8"), "big"): w
            for g, w in zip(grp["gram"], grp["w"])
        }
        got = dict(zip(vecs.loc[doc_id, "codes"], vecs.loc[doc_id, "ws"]))
        assert set(got) == set(want)
        for code, w in want.items():
            assert abs(got[code] - w) < 1e-12


def _exact_components(docs, cfg):
    # reference partition: connected components over the exact all-pairs
    # near-duplicate pairs, labelled like the flagship (component = min id)
    from string_grouper_spark.operators.dedup import near_duplicate_pairs
    from string_grouper_spark.operators.grouping import NODE, connected_components

    pairs = near_duplicate_pairs(docs, cfg, n_docs=500)
    return (
        connected_components(
            pairs.select(F.col("master_side").alias("u"), F.col("dupe_side").alias("v")),
            docs.select("doc_id"),
        )
        .withColumnRenamed(NODE, "doc_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_fast_pipeline_matches_generic_clusters(spark, docs):
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    exact = _exact_components(docs, cfg)
    fast = (
        fast_lsh_dedup(docs, cfg, num_bands=16, n_docs=500)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # same partition of docs into clusters (labels are both component minima)
    pd.testing.assert_frame_equal(exact, fast)


def test_fast_pipeline_recall_vs_exact(spark, docs):
    from string_grouper_spark.operators.dedup import near_duplicate_pairs

    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    exact = near_duplicate_pairs(docs, cfg, n_docs=500).toPandas()
    # union-find the exact pairs -> expected components
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, r in exact.iterrows():
        a, b = find(int(r.master_side)), find(int(r.dupe_side))
        if a != b:
            parent[max(a, b)] = min(a, b)
    # low-threshold run: every pair sharing one band key is re-scored
    fast = fast_lsh_dedup(
        docs, cfg, num_perm=128, num_bands=64, n_docs=500
    ).toPandas()
    got = dict(zip(fast.doc_id, fast.component))
    # pair-level recall of clustering vs exact-path clustering
    total = hit = 0
    ids = sorted(got)
    exact_lbl = {i: find(i) for i in ids}
    from collections import defaultdict

    ecl, gcl = defaultdict(list), defaultdict(list)
    for i in ids:
        ecl[exact_lbl[i]].append(i)
        gcl[got[i]].append(i)
    epairs = {(a, b) for m in ecl.values() for ai, a in enumerate(m) for b in m[ai + 1:]}
    gpairs = {(a, b) for m in gcl.values() for ai, a in enumerate(m) for b in m[ai + 1:]}
    assert epairs, "expected some exact clusters"
    recall = len(epairs & gpairs) / len(epairs)
    assert recall >= 0.99, recall


def test_encode_doc_int64_sorted_with_high_bit_codes():
    # ADVICE r2: ngram_size=8 + non-ASCII bytes pack codes >= 2^63, which
    # wrap negative in int64; the searchsorted kernels need int64 order, so
    # _encode_doc must re-sort (counts staying aligned) when that happens
    from string_grouper_spark.plans.fast_dedup import _encode_doc

    cfg = MatchConfig(ngram_size=8, normalize_to_ascii=False)
    text = "ÿÿÿÿÿÿÿÿ abcdefghij ÿaÿbÿcÿd klmnopqrst"
    codes, tfs = _encode_doc(text, cfg)
    assert codes.dtype == np.int64
    # direct comparison, not np.diff — gaps spanning the sign boundary
    # overflow int64 subtraction
    assert (codes[1:] > codes[:-1]).all(), codes
    assert len(codes) == len(tfs)
    # counts must follow their codes through the re-sort: recompute naively
    from string_grouper_spark.functions.normalize import py_normalize

    b = py_normalize(text, cfg).encode("utf-8")
    grams = [b[i : i + 8] for i in range(len(b) - 7)]
    import collections

    expect = collections.Counter(
        int.from_bytes(g, "big") - ((1 << 64) if g[0] >= 0x80 else 0) for g in grams
    )
    got = dict(zip(codes.tolist(), tfs.tolist()))
    assert got == dict(expect)


def test_fast_bipartite_matches_exact_two_series_path(spark, docs):
    # VERDICT r2 #6: the shuffle-minimal bipartite plan must recover the
    # exact two-series pairs (same recall-1 banding as the self-join test)
    # with scores equal to the posting-join path's to fp noise
    from string_grouper_spark.operators.similarity import (
        LEFT,
        RIGHT,
        SIM,
        cosine_join,
    )
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup_bipartite

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

    got = fast_lsh_dedup_bipartite(
        master, dupes, cfg, num_perm=128, num_bands=64, max_bucket_size=None
    ).toPandas()
    got_pairs = {(l, r): s for l, r, s in zip(got[LEFT], got[RIGHT], got[SIM])}
    assert set(got_pairs) == set(want)
    for k, s in got_pairs.items():
        assert abs(s - want[k]) < 1e-9, (k, s, want[k])


def test_fast_bipartite_megabucket_per_side_drops(spark):
    # each side has a megabucket (copies of one text share all 16 band
    # keys): drop_stats counts what the cap drops on each side, and no pair
    # with a dropped member is emitted
    from string_grouper_spark.operators.similarity import LEFT, RIGHT
    from string_grouper_spark.plans.fast_dedup import fast_lsh_dedup_bipartite

    hot_m = "spark shuffles every partition across the cluster network"
    hot_d = "minhash bands hash each signature slice into one bucket key"
    solo = "the quick brown fox jumps over the lazy dog near the river"
    master = spark.createDataFrame(
        [(i, hot_m) for i in range(6)]
        + [(10, solo), (11, hot_d)],
        "doc_id long, text string",
    )
    dupes = spark.createDataFrame(
        [(100 + i, hot_d) for i in range(4)]
        + [(104, hot_m), (105, solo.upper())],
        "doc_id long, text string",
    )
    cap, bands = 3, 16
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)

    def expected(side):
        # bands are MinHash of the shingle set alone (IDF-independent)
        keys = (
            doc_vectors(side, cfg, num_bands=bands)
            .select(F.explode("bands").alias("key"))
            .toPandas()["key"]
            .value_counts()
        )
        sz = keys[keys > cap]
        return {
            "n_buckets_dropped": len(sz),
            "n_rows_dropped": int(sz.sum()),
            "est_pairs_dropped": int((sz * (sz - 1) // 2).sum()),
        }

    stats = {}
    got = fast_lsh_dedup_bipartite(
        master, dupes, cfg, num_bands=bands, max_bucket_size=cap,
        drop_stats=stats,
    ).toPandas()
    assert stats["master"] == expected(master)
    assert stats["duplicates"] == expected(dupes)
    # six copies in the master's megabuckets, four in the duplicates'
    assert stats["master"]["n_rows_dropped"] == 6 * bands
    assert stats["duplicates"]["n_rows_dropped"] == 4 * bands
    pairs = set(zip(got[LEFT], got[RIGHT]))
    assert pairs == {(10, 105)}


def _megabucket_vecs(spark):
    # band key 7 on docs 0-11 (over the cap of 5), key 9 on docs 1, 5, 20
    # and 21, and one key of its own per doc
    ids = list(range(12)) + [20, 21]
    bands = [[7, 9, 100 + d] if d in (1, 5) else [7, 100 + d] for d in range(12)]
    bands += [[9, 120], [9, 121]]
    vecs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "bands": bands}),
        "doc_id long, bands array<long>",
    )
    return vecs, bands


@pytest.mark.parametrize("salt_above", ["auto", None])
def test_band_candidates_count_the_bucket_table_once(spark, monkeypatch, salt_above):
    # a dropped megabucket, measured by the skew policy (auto) or by the drop
    # accounting (an explicit threshold): the cap's anti-join reads the
    # over-cap rows that pass kept, so each bucket row is read twice (the
    # histogram and the pairing), not counted a second time
    from string_grouper_spark.operators.similarity import LEFT, RIGHT
    from string_grouper_spark.plans import fast_dedup

    vecs, bands = _megabucket_vecs(spark)
    reads = spark.sparkContext.accumulator(0)

    def tap(key):
        reads.add(1)
        return key

    table, tapped = fast_dedup._bucket_table, F.udf(tap, "long")
    monkeypatch.setattr(
        fast_dedup, "_bucket_table",
        lambda v: table(v).withColumn("key", tapped("key")),
    )
    stats = {}
    got = fast_dedup.lsh_band_candidates(
        vecs, 5, salt_above=salt_above, drop_stats=stats
    ).toPandas()
    assert set(zip(got[LEFT], got[RIGHT])) == {
        (1, 5), (1, 20), (1, 21), (5, 20), (5, 21), (20, 21)
    }
    assert stats == {
        "salt_above": None, "n_buckets": 16, "max_sz": 4, "est_pairs": 6,
        "n_buckets_dropped": 1, "n_rows_dropped": 12, "est_pairs_dropped": 66,
    }
    assert reads.value == 2 * sum(map(len, bands))


def test_salted_band_candidates_count_the_bucket_table_once(spark):
    # the salted join sizes its buckets from the rows the policy pass kept:
    # the pairing's own plan holds no second bucket count
    from string_grouper_spark.operators.similarity import LEFT, RIGHT
    from string_grouper_spark.plans import fast_dedup
    from tests.test_plan_shape import plan_of

    vecs, _ = _megabucket_vecs(spark)
    stats = {}
    cand = fast_dedup.lsh_band_candidates(vecs, 5, salt_above=2, drop_stats=stats)
    plan = plan_of(cand)
    assert "partial_count" not in plan, plan
    got = cand.toPandas()
    assert set(zip(got[LEFT], got[RIGHT])) == {
        (1, 5), (1, 20), (1, 21), (5, 20), (5, 21), (20, 21)
    }
    assert stats == {
        "salt_above": 2, "n_buckets": 16, "max_sz": 4, "est_pairs": 6,
        "n_buckets_dropped": 1, "n_rows_dropped": 12, "est_pairs_dropped": 66,
    }


def test_prefit_match_self_drops_megabuckets_before_collecting(spark):
    # within-batch pairing measures the batch's buckets: an over-cap bucket
    # is anti-joined out BELOW the collect_list, never collected and then
    # filtered by size
    from string_grouper_spark.operators.similarity import LEFT, RIGHT
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher
    from tests.test_plan_shape import plan_of

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [
            "copyright terms and conditions apply to all pages here",
            "the unique quick brown fox document number one",
        ]})
    )
    texts = ["copyright terms and conditions apply to all pages here"] * 40 + [
        "the unique quick brown fox document number one",
        "the unique quick brown fox document number one!",
    ]
    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100, 142), "text": texts})
    )
    m = PrefitLshMatcher(corpus, cfg, num_perm=64, num_bands=16, max_bucket_size=10)
    try:
        pairs = m._self_pairs_vecs(m.vectorize(batch))
        lines = plan_of(pairs).splitlines()
        collects = [i for i, ln in enumerate(lines) if "collect_list" in ln]
        anti = [i for i, ln in enumerate(lines) if "LeftAnti" in ln]
        assert collects and anti and min(anti) > max(collects), "\n".join(lines)
        got = pairs.toPandas()
        assert set(zip(got[LEFT], got[RIGHT])) == {(140, 141)}
    finally:
        m.unpersist()


def test_prefit_fit_logs_its_corpus_bucket_drops(spark, caplog):
    # the corpus bucket table is measured once, at fit: a megabucket there
    # is dropped with a WARNING, as in lsh_band_candidates, and matching a
    # batch still finds the pair outside it
    import logging

    from string_grouper_spark.operators.similarity import LEFT, RIGHT
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher

    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    boiler = "copyright terms and conditions apply to all pages here"
    unique = "the unique quick brown fox document number one"
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(21), "text": [boiler] * 20 + [unique]})
    )
    with caplog.at_level(logging.INFO, logger="string_grouper_spark.skew"):
        m = PrefitLshMatcher(corpus, cfg, num_perm=64, num_bands=16, max_bucket_size=10)
    try:
        (warned,) = [
            r.getMessage() for r in caplog.records
            if r.levelno == logging.WARNING and "prefit corpus" in r.getMessage()
        ]
        # 20 identical docs share every one of the 16 band keys
        assert "'n_buckets_dropped': 16" in warned, warned
        assert "'n_rows_dropped': 320" in warned, warned
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [100, 101], "text": [boiler, unique + "!"]})
        )
        got = m.match(batch).toPandas()
        assert set(zip(got[LEFT], got[RIGHT])) == {(20, 101)}
    finally:
        m.unpersist()


def test_prefit_matcher_frozen_vocab_semantics(spark):
    # PrefitLshMatcher = the reference's corpus-reuse workflow: vocabulary
    # and IDF frozen on the CORPUS; batch grams outside the vocabulary are
    # dropped (sklearn transform semantics).  Oracle: hand-computed numpy
    # cosines in the frozen feature space.
    import numpy as np

    from string_grouper_spark.functions.normalize import py_ngrams
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher

    corpus_texts = [
        "the quick brown fox jumps over the lazy dog",
        "completely different text about spark shuffles",
        "a third topic entirely concerning minhash bands",
    ]
    batch_texts = [
        # near-dup of corpus 0, plus grams ('!zz') unseen in the corpus
        "the quick brown fox jumps over the lazy dog !zz!zz",
        "unrelated content that matches nothing at all",
    ]
    cfg = MatchConfig(min_similarity=0.3, max_n_matches=1_000_000)
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(3), "text": corpus_texts})
    )
    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101], "text": batch_texts})
    )
    m = PrefitLshMatcher(
        corpus, cfg, num_perm=128, num_bands=64, max_bucket_size=None
    )
    got = m.match(batch).toPandas()
    m.unpersist()

    # numpy oracle in the frozen space
    def tf(text):
        g = py_ngrams(text, cfg)
        u, c = np.unique(g, return_counts=True)
        return dict(zip(u, c))

    corpus_tfs = [tf(t) for t in corpus_texts]
    vocab = sorted({g for d in corpus_tfs for g in d})
    dfreq = {g: sum(g in d for d in corpus_tfs) for g in vocab}
    idf = {g: np.log((1 + 3) / (1 + dfreq[g])) + 1.0 for g in vocab}

    def vec(tfd):
        v = np.array([tfd.get(g, 0) * idf[g] for g in vocab])
        n = np.linalg.norm(v)
        return v / n if n else v

    cvecs = [vec(d) for d in corpus_tfs]
    bvecs = [vec(tf(t)) for t in batch_texts]  # unseen grams drop out
    want = {}
    for ci in range(3):
        for bi, bid in enumerate([100, 101]):
            s = float(np.dot(cvecs[ci], bvecs[bi]))
            if s >= 0.3:
                want[(ci, bid)] = s
    got_pairs = {
        (l, r): s
        for l, r, s in zip(got["master_side"], got["dupe_side"], got["similarity"])
    }
    assert set(got_pairs) == set(want), (got_pairs, want)
    for k, s in got_pairs.items():
        assert abs(s - want[k]) < 1e-9


# property test: the fast plan's byte-pack encoder must agree with the
# reference-parity tokenizer (py_ngrams) on arbitrary webtext-ish strings,
# for every supported ngram size and normalization mode — generalizes the
# fixed-text goldens.  Pure Python (no Spark round-trip), derandomized.
from hypothesis import given, settings
from hypothesis import strategies as st

_WEBTEXT = st.text(
    alphabet=st.sampled_from("abcXYZ0189 ,-./\t\néüÅßçñ€ﬁＡ中文かタÿ"),
    min_size=0,
    max_size=48,
)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(text=_WEBTEXT, n=st.sampled_from([2, 3, 5, 8]), ascii_fold=st.booleans())
def test_encode_doc_matches_py_ngrams_property(text, n, ascii_fold):
    import collections

    from string_grouper_spark.functions.normalize import py_ngrams
    from string_grouper_spark.plans.fast_dedup import _encode_doc

    cfg = MatchConfig(ngram_size=n, normalize_to_ascii=ascii_fold)
    codes, tfs = _encode_doc(text, cfg)
    grams = py_ngrams(text, cfg)
    # py_ngrams shingles CHARS; the encoder shingles normalized BYTES.
    # With ascii_fold the two coincide; without it, multi-byte chars make
    # byte windows a superset positionally, so compare against byte grams.
    if ascii_fold:
        want = collections.Counter(
            int.from_bytes(g.encode("utf-8"), "big") for g in grams
        )
    else:
        from string_grouper_spark.functions.normalize import py_normalize

        b = py_normalize(text, cfg).encode("utf-8")
        want = collections.Counter(
            int.from_bytes(b[i : i + n], "big") for i in range(len(b) - n + 1)
        ) if len(b) >= n else collections.Counter()
    # sign-fold the expected codes exactly like the encoder's dtype cast
    bits = 32 if n <= 3 else 64
    want = collections.Counter(
        {(k - (1 << bits) if k >= (1 << (bits - 1)) else k): v for k, v in want.items()}
    )
    if codes is None:
        assert not want
        return
    got = dict(zip(codes.tolist(), tfs.tolist()))
    assert got == dict(want)
    # and the order contract the searchsorted kernels rely on
    assert (codes[1:] > codes[:-1]).all()


def test_fast_pipeline_float32_weights(spark, docs):
    """tfidf_matrix_dtype='float32' (reference option, SG:161-164,190):
    the fast plan ships true 4-byte weights and still produces the same
    cluster partition as the exact float32 path and the float64 run."""
    from pyspark.sql.types import ArrayType, FloatType

    cfg32 = MatchConfig(
        min_similarity=0.8, max_n_matches=1_000_000, tfidf_matrix_dtype="float32"
    )
    vecs = doc_vectors(docs.limit(20), cfg32, n_docs=20)
    assert vecs.schema["ws"].dataType == ArrayType(FloatType())

    fast32 = (
        fast_lsh_dedup(docs, cfg32, num_bands=16, n_docs=500)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exact32 = _exact_components(docs, cfg32)
    pd.testing.assert_frame_equal(exact32, fast32)

    cfg64 = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    fast64 = (
        fast_lsh_dedup(docs, cfg64, num_bands=16, n_docs=500)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(fast64, fast32)


def test_prefit_matcher_save_load_identical_matches(spark, tmp_path):
    # the cross-session corpus-reuse form: a loaded matcher must reproduce
    # the fitted matcher's pairs and scores exactly (frozen IDF included),
    # and extensions absorbed before save survive the round-trip
    from pyspark.sql import functions as F

    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher
    from string_grouper_spark.sources.pages import generate_pages

    docs = generate_pages(spark, 60, seed=51).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    corpus = docs.where(F.col("doc_id") < 40)
    extra = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    batch = docs.where(F.col("doc_id") >= 50).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" .")).alias("text"),
    )
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    m = PrefitLshMatcher(corpus, cfg, num_perm=64, num_bands=32, max_bucket_size=None)
    m.extend(extra)
    want = m.match(batch, self_pairs=True).toPandas()
    m.save(f"{tmp_path}/matcher")
    m.unpersist()
    m2 = PrefitLshMatcher.load(spark, f"{tmp_path}/matcher")
    got = m2.match(batch, self_pairs=True).toPandas()
    m2.unpersist()
    key = ["master_side", "dupe_side"]
    w = want.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    assert list(map(tuple, w[key].values)) == list(map(tuple, g[key].values))
    import numpy as np

    assert np.allclose(w.similarity.to_numpy(), g.similarity.to_numpy())


def test_prefit_matcher_extend_compaction_bounded_and_identical(spark):
    # many-batch extension: (a) compaction keeps the corpus-vector view's
    # plan depth BOUNDED (no O(n_batches) union stack), (b) match results
    # are identical with and without compaction, (c) the new-ids contract
    # raises fail-loud at compaction instead of silently double-counting
    import pytest
    from pyspark.sql import functions as F

    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.plans.fast_dedup import PrefitLshMatcher
    from string_grouper_spark.sources.pages import generate_pages

    docs = generate_pages(spark, 80, seed=52).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    corpus = docs.where(F.col("doc_id") < 30)
    cfg = MatchConfig(min_similarity=0.5, max_n_matches=1_000_000)
    query = docs.where(F.col("doc_id") >= 72).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )

    def batches():
        for i in range(7):
            lo, hi = 30 + 6 * i, 36 + 6 * i
            yield docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select((F.col("doc_id") + 1000 * (i + 1)).alias("doc_id"), "text")

    m_comp = PrefitLshMatcher(corpus, cfg, num_perm=64, num_bands=32,
                              max_bucket_size=None, compact_every=3)
    m_none = PrefitLshMatcher(corpus, cfg, num_perm=64, num_bands=32,
                              max_bucket_size=None, compact_every=0)
    for b in batches():
        m_comp.extend(b)
        m_none.extend(b)
    assert m_comp._extend_count == 7  # 2 compactions happened (at 3 and 6)

    # (a) bounded plan: the compacted view is one checkpoint scan plus at
    # most compact_every-1 unioned pieces (each a LogicalRDD leaf), however
    # many batches ran; the uncompacted control accumulates one leaf per
    # batch (Spark flattens adjacent Unions, so count LEAVES, not Unions)
    n_leaf = m_comp.corpus_vecs._jdf.queryExecution().analyzed().toString().count("LogicalRDD")
    n_leaf_ctl = m_none.corpus_vecs._jdf.queryExecution().analyzed().toString().count("LogicalRDD")
    assert n_leaf_ctl == 7  # one per extension piece
    assert n_leaf <= m_comp.compact_every  # checkpoint + pieces since last compact

    # (b) identical matches (pairs AND scores) with and without compaction
    key = ["master_side", "dupe_side"]
    want = m_none.match(query, self_pairs=True).toPandas().sort_values(key).reset_index(drop=True)
    got = m_comp.match(query, self_pairs=True).toPandas().sort_values(key).reset_index(drop=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(want, got)

    # (c) a re-delivered batch (same ids as extension batch 0: docs 30-35
    # shifted by +1000) collides fail-loud at the next compaction
    dup = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 33)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    m_comp.extend(dup)  # 8th extend: no compaction yet, absorbed silently
    with pytest.raises(ValueError, match="duplicate doc ids"):
        m_comp.extend(
            dup.select((F.col("doc_id") + 8000).alias("doc_id"), "text")
        )  # 9th extend -> compaction -> collision from the re-delivered ids
    m_none.unpersist()


def test_out_of_scope_config_names_exact_route(spark):
    # inputs outside the flagship's scope fail loudly and name the exact
    # path, which handles them
    from string_grouper_spark.operators.dedup import near_duplicate_clusters
    from string_grouper_spark.plans.fast_dedup import _collect_idf

    text = "the quick brown fox jumps over the lazy dog by the river bank"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [text, text + "!", "an unrelated sentence about other things"],
            }
        )
    )
    cfg9 = MatchConfig(ngram_size=9, min_similarity=0.8)
    with pytest.raises(ValueError, match="near_duplicate_clusters"):
        fast_lsh_dedup(docs, cfg9, n_docs=3)
    with pytest.raises(ValueError, match="near_duplicate_clusters"):
        _collect_idf(spark, doc_term_arrays(docs, MatchConfig()), 3, max_vocab=5)

    rep = near_duplicate_clusters(docs, cfg9).toPandas().set_index("doc_id")["group_rep"]
    assert rep.loc[0] == rep.loc[1]
    assert rep.loc[2] != rep.loc[0]
