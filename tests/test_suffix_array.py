"""Distributed suffix-array pass: exactness vs a brute-force k-gram join,
boundary stitching across Arrow batches, span values on planted runs."""
import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.functions.normalize import py_normalize
from string_grouper_spark.operators.suffix_array import (
    _lcp_scan,
    _pairwise_lcp,
    suffix_array_dedup,
    suffix_array_spans,
)

MIN_LEN = 16


def _brute_components(texts: dict, min_len: int = MIN_LEN) -> dict:
    """Closure over 'shares an exact >= min_len normalized substring'."""
    cfg = MatchConfig()
    grams = {}
    for did, t in texts.items():
        norm = py_normalize(t, cfg)
        for i in range(len(norm) - min_len + 1):
            grams.setdefault(norm[i : i + min_len], set()).add(did)
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in grams.values():
        members = sorted(members)
        for a, b in zip(members, members[1:]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in texts}


def _mkdocs(spark, texts: dict):
    pdf = pd.DataFrame(
        {"doc_id": list(texts.keys()), "text": list(texts.values())}
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def corpus():
    # deterministic low-entropy webtext-ish corpus with planted structure:
    # exact dups, long-shared-span pairs, a boilerplate run in many docs,
    # and unrelated docs
    rng = np.random.default_rng(11)
    vocab = [f"w{i:02d}" for i in range(40)]
    texts = {}
    for d in range(40):
        words = rng.choice(vocab, size=30).tolist()
        texts[d] = " ".join(words)
    # exact duplicate pair
    texts[40] = texts[0]
    # shared interior run (well over min_len after normalization)
    shared = "the quick brown fox jumps over the lazy dog again"
    texts[41] = texts[1][:50] + " " + shared + " " + texts[2][:40]
    texts[42] = texts[3][:30] + " " + shared + " " + texts[4][:60]
    # boilerplate footer in many docs (hot run for the range partitioner)
    footer = "copyright example site all rights reserved"
    for d in range(43, 55):
        texts[d] = " ".join(rng.choice(vocab, size=20).tolist()) + " " + footer
    # too-short doc (fewer than min_len normalized bytes)
    texts[55] = "tiny"
    return texts


def test_components_match_bruteforce(spark, corpus):
    docs = _mkdocs(spark, corpus)
    got = (
        suffix_array_dedup(docs, min_len=MIN_LEN, num_partitions=7)
        .toPandas()
        .set_index("doc_id")["component"]
        .to_dict()
    )
    want = _brute_components(corpus)
    assert got == want
    # the planted structures actually exercised something
    assert want[40] == want[0]
    assert want[41] == want[42]
    comps = {}
    for d in range(43, 55):
        comps.setdefault(want[d], 0)
    assert len(comps) == 1  # footer chains all 12 docs together


def test_partition_count_invariance(spark, corpus):
    docs = _mkdocs(spark, corpus)
    a = suffix_array_dedup(docs, min_len=MIN_LEN, num_partitions=2).toPandas()
    b = suffix_array_dedup(docs, min_len=MIN_LEN, num_partitions=13).toPandas()
    assert (
        a.sort_values("doc_id").reset_index(drop=True).equals(
            b.sort_values("doc_id").reset_index(drop=True)
        )
    )


def test_span_values_on_planted_runs(spark, corpus):
    docs = _mkdocs(spark, corpus)
    spans = suffix_array_spans(
        docs, min_len=MIN_LEN, truncate=64, num_partitions=5
    ).toPandas()
    assert (spans["span"] >= MIN_LEN).all()
    by_pair = spans.set_index(["left", "right"])["span"].to_dict()
    # exact duplicate: span = min(len(norm), truncate) = truncate here
    cfg = MatchConfig()
    n0 = len(py_normalize(corpus[0], cfg))
    assert by_pair[(0, 40)] == min(n0, 64)
    # interior shared run: at least the normalized run length (the random
    # flanks can only extend it), capped at truncate
    shared_norm = py_normalize(
        "the quick brown fox jumps over the lazy dog again", cfg
    )
    assert by_pair[(41, 42)] >= min(len(shared_norm), 64) - 1


def test_no_cross_doc_edges_below_min_len(spark):
    texts = {0: "abcdefghijklmnop", 1: "qrstuvwxyz012345", 2: "completely other"}
    docs = _mkdocs(spark, texts)
    spans = suffix_array_spans(docs, min_len=16).toPandas()
    assert len(spans) == 0
    comp = suffix_array_dedup(docs, min_len=16).toPandas()
    assert sorted(comp["component"]) == [0, 1, 2]  # all singletons


def _lcp(rows, min_len):
    return _pairwise_lcp(pa.array(rows, pa.binary()), min_len).tolist()


def test_pairwise_lcp_kernel():
    assert _lcp([], 4) == []
    assert _lcp([b"abcd"], 4) == []
    got = _lcp([b"abcd", b"abcdef", b"abcf", b"zz"], 2)
    # capped at shorter member; argmax on first mismatch; no overlap
    assert got == [4, 3, 0]
    # equal strings LCP at their true length, not the pad width
    assert _lcp([b"aa", b"aa", b"aab"], 2) == [2, 2]
    # duplicate-heavy run at full truncate width (8): the tail gather
    # resolves every head-equal pair up to the row length
    run = [b"abcdefgh"] * 5 + [b"abcdefgz", b"abcdxxxx"]
    assert _lcp(run, 4) == [8, 8, 8, 8, 7, 4]
    # rows below truncate (the short tail suffixes of a doc): the LCP is
    # capped by the shorter row of each pair
    tails = [b"abcd", b"abcde", b"abcdef", b"abcdef", b"abcdeg", b"abcx"]
    assert _lcp(tails, 4) == [4, 5, 6, 5, 3]
    # a sliced array reads its own window of the shared buffers
    assert _pairwise_lcp(pa.array(run, pa.binary()).slice(4), 4).tolist() == [7, 4]
    # rows too wide for one tail gather are resolved in row blocks
    base = bytes(np.random.default_rng(3).integers(97, 123, 300_000).tolist())
    assert _lcp([base] * 4 + [base[:200_000] + b"{"], 16) == [300_000] * 3 + [200_000]


def test_pairwise_lcp_matches_loop_reference():
    # the buffer kernel against a per-byte loop on random sorted runs over a
    # 2-letter alphabet (duplicate-heavy), lengths between min_len and
    # truncate, on whole and sliced arrays
    def loop_lcp(rows):
        out = []
        for a, b in zip(rows, rows[1:]):
            n = 0
            while n < min(len(a), len(b)) and a[n] == b[n]:
                n += 1
            out.append(n)
        return out

    rng = np.random.default_rng(7)
    for _ in range(200):
        k = int(rng.integers(2, 6))
        trunc = int(rng.integers(k, k + 12))
        rows = sorted(
            bytes(rng.choice([97, 98], size=int(rng.integers(k, trunc + 1))).tolist())
            for _ in range(int(rng.integers(0, 40)))
        )
        assert _lcp(rows, k) == loop_lcp(rows)
        large = pa.array(rows, pa.large_binary())
        assert _pairwise_lcp(large, k).tolist() == loop_lcp(rows)
        arr = pa.array(rows, pa.binary())
        assert _pairwise_lcp(arr.slice(2), k).tolist() == loop_lcp(rows[2:])


def test_lcp_scan_stitches_arrow_batches():
    # one sorted run split across two Arrow batches: the pair at the
    # boundary (docs 2 and 3) is found by stitching the previous batch's
    # last row, exactly as in a single-batch scan
    def batch(rows):
        suffs, ids = zip(*rows)
        return pa.RecordBatch.from_arrays(
            [pa.array(suffs, pa.binary()), pa.array(ids, pa.int64())],
            names=["suff", "doc_id"],
        )

    rows = [
        (b"abcdefgh", 1), (b"abcdefgh", 2),
        (b"abcdefgh", 3), (b"abcdefgz", 4), (b"zzzzzzzz", 5),
    ]

    def edges(batches):
        out = pa.Table.from_batches(list(_lcp_scan(batches, 4)))
        return sorted(zip(*(out.column(c).to_pylist() for c in out.column_names)))

    want = [(1, 2, 8), (2, 3, 8), (3, 4, 7)]
    assert edges([batch(rows)]) == want
    assert edges([batch(rows[:2]), batch(rows[2:])]) == want
    assert edges([batch(rows[:2]), batch(rows[2:3]).slice(0, 0), batch(rows[2:])]) == want


def test_emit_splits_one_giant_document_across_batches(spark, monkeypatch):
    # emission flushes INSIDE a document once a batch reaches its target
    # size, so a document of n * truncate > 2**31 bytes cannot wrap the
    # int32 offsets; with a 1 KB target a 3 KB document stands in for it
    from string_grouper_spark.operators import suffix_array as sa

    monkeypatch.setattr(sa, "_EMIT_BATCH_BYTES", 1024)
    cfg = MatchConfig()
    min_len, truncate = 16, 48
    rng = np.random.default_rng(5)
    big = " ".join("".join(rng.choice(list("abcdefgh"), 6)) for _ in range(500))
    texts = {7: big, 8: "a short document, still emitted", 9: None, 10: "tiny"}

    want = []
    for did, t in texts.items():
        if t is not None:
            b = py_normalize(t, cfg).encode("utf-8")
            want += [(b[i : i + truncate], did) for i in range(len(b) - min_len + 1)]

    src = pa.RecordBatch.from_pandas(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    out = list(sa._suffix_batches(
        [src], cfg, min_len, truncate, "text", "doc_id", sa._EMIT_BATCH_BYTES
    ))
    assert sum(7 in b.column(1).to_pylist() for b in out) > 2
    for b in out:
        offsets = np.frombuffer(b.column(0).buffers()[1], dtype=np.int32)
        assert offsets[0] == 0 and (np.diff(offsets[: len(b) + 1]) >= 0).all()
    got = [r for b in out for r in zip(*(c.to_pylist() for c in b.columns))]
    assert got == want

    # the Spark pass ships the target it read when it was built
    pdf = sa._emit_suffixes(
        _mkdocs(spark, texts), cfg, min_len, truncate, "text", "doc_id"
    ).toPandas()
    assert sorted(zip(pdf["suff"].map(bytes), pdf["doc_id"])) == sorted(want)


def test_validation_errors(spark, corpus):
    docs = _mkdocs(spark, corpus)
    with pytest.raises(ValueError, match="min_len"):
        suffix_array_spans(docs, min_len=1)
    with pytest.raises(ValueError, match="truncate"):
        suffix_array_spans(docs, min_len=16, truncate=8)


def test_truncate_min_len_components_identical(spark, corpus):
    """The dedup default truncate=min_len must give the SAME components as
    the span-reporting truncate (min_len+32): gram-equality is lossless
    for connectivity, only span magnitude is lost."""
    docs = _mkdocs(spark, corpus)
    short = suffix_array_dedup(
        spark.createDataFrame(docs.toPandas()), min_len=MIN_LEN,
        num_partitions=5,
    ).toPandas().set_index("doc_id")["component"].to_dict()
    long = suffix_array_dedup(
        spark.createDataFrame(docs.toPandas()), min_len=MIN_LEN,
        truncate=MIN_LEN + 32, num_partitions=5,
    ).toPandas().set_index("doc_id")["component"].to_dict()
    assert short == long
