"""Distributed suffix-array pass: exactness vs a brute-force k-gram join,
boundary stitching across Arrow batches, span values on planted runs, and
the copy-collapsing connectivity pass (``substring_edges``) against both."""
import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.functions.normalize import py_normalize
from string_grouper_spark.operators.grouping import connected_components
from string_grouper_spark.operators.suffix_array import (
    _collapsed_window_batches,
    _collapsed_windows,
    _lcp_scan,
    _pairwise_lcp,
    substring_edges,
    suffix_array_dedup,
    suffix_array_spans,
)

MIN_LEN = 16


def _brute_components(texts: dict, min_len: int = MIN_LEN) -> dict:
    """Closure over 'shares an exact >= min_len normalized byte run'."""
    cfg = MatchConfig()
    grams = {}
    for did, t in texts.items():
        norm = b"" if t is None else py_normalize(t, cfg).encode("utf-8")
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


def _labels(spark, edges, ids) -> dict:
    """{doc id: component} over ``edges``' first two columns, every id a
    node."""
    nodes = spark.createDataFrame(pd.DataFrame({"node": list(ids)}))
    comp = connected_components(edges.select("left", "right"), nodes).toPandas()
    return dict(zip(comp["node"], comp["component"]))


def test_truncate_min_len_components_identical(spark, corpus):
    """suffix_array_dedup (min_len-byte windows, copies collapsed) must give
    the SAME components as the span-reporting pass at truncate=min_len+32:
    window equality is lossless for connectivity, only span magnitude is
    lost."""
    docs = _mkdocs(spark, corpus)
    short = suffix_array_dedup(
        spark.createDataFrame(docs.toPandas()), min_len=MIN_LEN,
        num_partitions=5,
    ).toPandas().set_index("doc_id")["component"].to_dict()
    spans = suffix_array_spans(
        spark.createDataFrame(docs.toPandas()), min_len=MIN_LEN,
        truncate=MIN_LEN + 32, num_partitions=5,
    )
    long = _labels(spark, spans, corpus)
    assert short == long


def _words(rng, n: int) -> str:
    return " ".join(rng.choice([f"w{i:02d}" for i in range(30)], size=n).tolist())


def _near_copies() -> dict:
    # exact copies next to texts that differ from them in one byte: the
    # last one, or one inside the first window (so the two first windows
    # differ); texts too short for a window, with copies; a null text; a
    # non-ASCII text, whose windows may split a character
    rng = np.random.default_rng(17)
    base, other = _words(rng, 30), _words(rng, 30)
    texts = {}
    for d in range(0, 40, 4):
        texts[d] = base
    texts[1] = base[:-1] + "Q"
    texts[2] = base[:3] + "Q" + base[4:]
    texts[3], texts[5] = texts[2], texts[1]
    texts[6] = other
    texts[7] = other[40:] + " " + _words(rng, 10)  # shares other's tail
    texts[9] = texts[10] = "short text"
    texts[11] = None
    texts[13] = "çà et là — über " + base[20:60]
    texts[14] = "çà et là — über " + _words(rng, 20)
    return texts


def _many_copies() -> dict:
    # 5,000 copies of one text, one doc sharing a window from its middle,
    # and an unrelated doc
    rng = np.random.default_rng(19)
    base = _words(rng, 40)
    texts = {d: base for d in range(5000)}
    texts[5000] = _words(rng, 10) + base[50:80] + _words(rng, 10)
    texts[5001] = _words(rng, 25)
    return texts


@pytest.mark.parametrize("make", [_near_copies, _many_copies])
def test_substring_edges_components_exact(spark, make):
    texts = make()
    docs = _mkdocs(spark, texts)
    want = _brute_components(texts)
    got = _labels(spark, substring_edges(docs, min_len=MIN_LEN), texts)
    spans = suffix_array_spans(docs, min_len=MIN_LEN, truncate=MIN_LEN + 32)
    assert got == want == _labels(spark, spans, texts)
    assert 1 < len(set(want.values())) < len(texts)  # not one, not all apart


@pytest.mark.parametrize("num_partitions", [2, 13])
def test_substring_edges_copies_across_input_partitions(spark, num_partitions):
    # each text's copies are dealt round-robin over 7 input partitions, so
    # no input partition holds a whole run of copies
    texts = _near_copies()
    texts.update({100 + d: texts[d % 15] for d in range(60)})
    docs = _mkdocs(spark, texts).repartition(7)
    got = _labels(
        spark, substring_edges(docs, min_len=MIN_LEN, num_partitions=num_partitions),
        texts,
    )
    assert got == _brute_components(texts)


def _expected_windows(texts: dict, min_len: int) -> list:
    """The unique texts' windows (emitted by the smallest id holding the
    text) plus one first window per further copy."""
    cfg = MatchConfig()
    by_norm = {}
    for did, t in texts.items():
        norm = b"" if t is None else py_normalize(t, cfg).encode("utf-8")
        if len(norm) >= min_len:
            by_norm.setdefault(norm, []).append(did)
    want = []
    for norm, ids in by_norm.items():
        first, *rest = sorted(ids)
        want += [(norm[i : i + min_len], first) for i in range(len(norm) - min_len + 1)]
        want += [(norm[:min_len], d) for d in rest]
    return sorted(want)


def test_collapsed_windows_emit_one_window_per_extra_copy(spark):
    # 3,000 more copies of one text make a run longer than one Arrow batch
    # (spark.sql.execution.arrow.maxRecordsPerBatch)
    texts = _near_copies()
    texts.update({100 + d: texts[d % 15] for d in range(60)})
    texts.update({1000 + d: texts[0] for d in range(3000)})
    pdf = _collapsed_windows(
        _mkdocs(spark, texts).repartition(5), MatchConfig(), MIN_LEN, 3,
        "text", "doc_id",
    ).toPandas()
    got = sorted(zip(pdf["suff"].map(bytes), pdf["doc_id"]))
    want = _expected_windows(texts, MIN_LEN)
    assert got == want


def test_collapse_carries_the_previous_text_across_batches():
    # a run of three copies split by a batch boundary (and an empty batch)
    # emits the full windows once; the text after it starts a new run
    def batch(rows):
        ids, norms = zip(*rows) if rows else ((), ())
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(norms, pa.binary())],
            names=["doc_id", "norm"],
        )

    a, b = b"abcdefgh", b"abcdxyzw"
    batches = [batch([(1, a), (2, a)]), batch([]), batch([(3, a), (4, b)])]
    out = pa.Table.from_batches(list(_collapsed_window_batches(batches, 6, 1 << 20)))
    got = list(zip(out.column("suff").to_pylist(), out.column("doc_id").to_pylist()))
    assert got == [
        (b"abcdef", 1), (b"bcdefg", 1), (b"cdefgh", 1),
        (b"abcdef", 2), (b"abcdef", 3),
        (b"abcdxy", 4), (b"bcdxyz", 4), (b"cdxyzw", 4),
    ]


def test_suffix_array_dedup_leaves_no_cache_entry(spark, corpus, settled_persisted):
    docs = _mkdocs(spark, corpus)
    before = settled_persisted()
    out = suffix_array_dedup(docs, min_len=MIN_LEN).toPandas()
    assert len(out) == len(corpus)
    del out
    assert settled_persisted() == before
