"""Distributed suffix-array pass for exact substring duplicates.

The north rule names three interchangeable candidate generators; this is
the third — "a distributed suffix-array pass for exact substring dupes" —
as a genuinely sorted suffix structure, complementing the winnowing
fingerprint index (`candidates.substring_containment`, sampled with a
window-length guarantee) with an EXACT pass: every pair of documents
sharing a normalized byte run of length >= ``min_len`` is found, and the
longest observed shared run (capped at the suffix truncation) is reported.

No reference analogue: Bergvca/string_grouper has no substring operator
(its surface is cosine similarity only, string_grouper.py:136-170); the
shape here follows the suffix-array dedup construction published for LLM
training corpora (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better") re-expressed Spark-first.

The plan, and why it survives 100 TB:

1. ONE narrow ``mapInArrow`` pass emits truncated suffixes
   ``norm[i : i+truncate]`` per document (numpy buffers normalized via the
   shared ``py_normalize``; no shuffle; output bytes are bounded by
   ``truncate`` x corpus bytes).
2. HASH partitioning on the first ``min_len`` bytes of each suffix +
   ``sortWithinPartitions(suff)``.  Any pair with a shared prefix of
   >= ``min_len`` bytes shares those exact bytes, hence the partition —
   so every sorted run that can produce an edge is CONTIGUOUS AND WHOLE
   inside one partition (a suffix lexicographically between two members
   of a run must itself start with the run's prefix).  The partition-local
   sorted order restricted to a run equals the global suffix-array order,
   so the emitted chain-edge multiset is identical to a global range sort
   with boundary stitching — with two structural savings:
     * no range-bound SAMPLING job: ``repartitionByRange`` runs a full
       sampling pass over its child, which recomputed the entire suffix
       emission (a second pass over every corpus byte at scale); hash
       partitioning computes the partition id map-side in the same pass;
     * no partition-boundary stitch: runs never straddle partitions, so
       the first/last-row collect and the driver-side repair are gone.
   Skew note (r5 ADVICE, corrected here): RangePartitioner maps EQUAL keys
   to ONE partition, so a byte-identical boilerplate megarun was never
   split by range bounds either — both schemes put it in a single
   partition, where the linear LCP scan (m-1 edges per run, see below) and
   the external sort's spilling bound the cost; hash distributes DISTINCT
   prefixes uniformly without needing representative samples.
3. A per-partition ``mapInArrow`` LCP scan over ADJACENT suffixes only,
   vectorized on the sorted column's Arrow buffers (``_pairwise_lcp``).
   Within a sorted run of m suffixes sharing a >= ``min_len`` prefix the
   scan emits m-1 chain edges, never m^2/2 pairs — the megabucket blowup
   every bucket-join generator has to guard against simply does not exist
   here (LCP(s_i, s_j) = min of adjacent LCPs, so chain edges carry the
   full connectivity of the run).
4. Components come from ``grouping.connected_components``;
   per-pair spans from one max aggregation over the slim edge triples.
"""
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..config import MatchConfig

_SUFF_SCHEMA = StructType(
    [
        StructField("suff", BinaryType(), False),
        StructField("doc_id", LongType(), False),
    ]
)

_EDGE_SCHEMA = StructType(
    [
        StructField("left", LongType(), False),
        StructField("right", LongType(), False),
        StructField("span", IntegerType(), False),
    ]
)


# target Arrow batch size of the suffix emission, read when the pass is
# built: keeps the int32 offsets far from overflow and worker memory bounded
_EMIT_BATCH_BYTES = 64 << 20


def _suffix_batches(
    batches, cfg: MatchConfig, min_len: int, truncate: int,
    text_col: str, id_col: str, tgt_bytes: int,
):
    """Arrow batches in -> (suff, doc_id) record batches of about
    ``tgt_bytes`` value bytes out (the kernel of ``_emit_suffixes``).

    A doc of n normalized bytes emits n - min_len + 1 suffix rows.  The
    full-width windows are copied straight into the Arrow values buffer by
    ``sliding_window_view(...).ravel()`` in slices of at most
    ``tgt_bytes // truncate`` windows, with a flush between slices, so one
    giant document is split across batches instead of materialized (and
    its int32 offsets wrapped) at once.  The (< truncate) tail suffixes
    come from a bounded per-doc loop, the offsets from one ``cumsum`` per
    batch — zero per-row Python objects.
    """
    from ..functions.normalize import py_normalize

    step = max(1, tgt_bytes // truncate)
    for batch in batches:
        pdf = batch.to_pandas()
        vals: list = []  # uint8 pieces of the Arrow values buffer
        lens: list = []  # int32 per-row lengths
        rids: list = []  # int64 doc_id per row
        acc = 0

        def flush():
            nonlocal vals, lens, rids, acc
            values = np.concatenate(vals)
            lengths = np.concatenate(lens)
            offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
            np.cumsum(lengths, out=offsets[1:])
            suff = pa.Array.from_buffers(
                pa.binary(),
                len(lengths),
                [None, pa.py_buffer(offsets), pa.py_buffer(values)],
            )
            ids_arr = pa.array(np.concatenate(rids), type=pa.int64())
            vals, lens, rids, acc = [], [], [], 0
            return pa.RecordBatch.from_arrays([suff, ids_arr], ["suff", "doc_id"])

        for did, text in zip(pdf[id_col], pdf[text_col]):
            if text is None:
                continue
            b = np.frombuffer(
                py_normalize(text, cfg).encode("utf-8"), dtype=np.uint8
            )
            n = len(b)
            m = n - min_len + 1
            if m <= 0:
                continue
            f = max(0, n - truncate + 1)  # full-width window count
            for lo in range(0, f, step):
                hi = min(f, lo + step)
                vals.append(
                    np.lib.stride_tricks.sliding_window_view(
                        b[lo : hi + truncate - 1], truncate
                    ).ravel()
                )
                lens.append(np.full(hi - lo, truncate, dtype=np.int32))
                rids.append(np.full(hi - lo, did, dtype=np.int64))
                acc += (hi - lo) * truncate
                if acc >= tgt_bytes:
                    yield flush()
            if m > f:  # <= truncate - min_len short tails
                vals.extend(b[i:] for i in range(f, m))
                lens.append((n - np.arange(f, m)).astype(np.int32))
                rids.append(np.full(m - f, did, dtype=np.int64))
                acc += int(lens[-1].sum(dtype=np.int64))
                if acc >= tgt_bytes:
                    yield flush()
        if lens:
            yield flush()


def _emit_suffixes(
    docs: DataFrame,
    cfg: MatchConfig,
    min_len: int,
    truncate: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Truncated-suffix emission as ONE narrow ``mapInArrow`` pass that
    builds the Arrow binary column directly from numpy buffers (see
    ``_suffix_batches``)."""
    tgt_bytes = _EMIT_BATCH_BYTES

    def run(batches):
        return _suffix_batches(
            batches, cfg, min_len, truncate, text_col, id_col, tgt_bytes
        )

    return docs.select(id_col, text_col).mapInArrow(run, _SUFF_SCHEMA)


def _partition_sorted(
    suffixes: DataFrame, min_len: int, num_partitions: int
) -> DataFrame:
    """Hash-partition the suffix table by the first ``min_len`` bytes, then
    sort each partition — the edge-equivalent of a global range sort.

    Correctness (see module docstring): an adjacent pair with lcp >=
    ``min_len`` shares its first ``min_len`` bytes verbatim, so every
    edge-producing sorted run lands whole in one partition, internally in
    exactly its global suffix-array order; no cross-partition adjacency can
    carry an edge.  Unlike ``repartitionByRange`` this computes partition
    ids map-side in the same pass (no range-bound sampling job, which
    recomputed the whole suffix emission) and needs no boundary stitch.
    """
    return suffixes.repartition(
        num_partitions,
        F.xxhash64(F.expr(f"substring(suff, 1, {int(min_len)})")),
    ).sortWithinPartitions("suff", "doc_id")


def _pairwise_lcp(suffs, min_len: int) -> np.ndarray:
    """LCP between consecutive rows of a binary Arrow array (each row >=
    ``min_len`` bytes — guaranteed by ``_emit_suffixes``) as int32 of
    length ``len(suffs) - 1``, read from the array's offsets and values
    buffers (no per-row Python objects).  ONE gather of the fixed-width
    ``min_len``-byte heads decides every pair that differs inside the head;
    head-equal pairs (the duplicate runs) get one more gather of their
    bytes ``min_len..``, capped by the shorter row (< ``truncate``) and
    blocked to bound memory — nothing to gather when truncate == min_len.
    """
    m = len(suffs)
    if m < 2:
        return np.zeros(0, dtype=np.int32)
    k = min_len
    _, obuf, vbuf = suffs.buffers()
    otype = np.int64 if pa.types.is_large_binary(suffs.type) else np.int32
    off = np.frombuffer(obuf, dtype=otype)[suffs.offset : suffs.offset + m + 1]
    starts, lens = off[:-1].astype(np.int64), np.diff(off)
    flat = np.frombuffer(vbuf, dtype=np.uint8)
    head = flat[starts[:, None] + np.arange(k)]
    neq = head[1:] != head[:-1]
    lcp = np.where(neq.any(axis=1), neq.argmax(axis=1), k).astype(np.int32)
    eq = np.flatnonzero(lcp == k)
    cap = np.minimum(lens[eq], lens[eq + 1])  # never past the shorter row
    width = int(cap.max(initial=k)) - k
    if width > 0:
        pos = np.arange(k, k + width)
        last = len(flat) - 1
        step = max(1, (1 << 20) // width)
        for c in range(0, len(eq), step):
            e, ce = eq[c : c + step], cap[c : c + step, None]
            a = flat[np.minimum(starts[e, None] + pos, last)]
            b = flat[np.minimum(starts[e + 1, None] + pos, last)]
            stop = (a != b) | (pos >= ce)
            lcp[e] = k + np.where(stop.any(axis=1), stop.argmax(axis=1), width)
    return lcp


def _lcp_scan(batches, min_len: int):
    """One sorted partition's Arrow (suff, doc_id) batches -> (left<right,
    span) chain edges: adjacent pairs with lcp >= min_len and distinct
    docs.  Same-doc adjacencies are dropped — the chain through them still
    connects the flanking docs transitively.  Each batch is stitched to the
    previous batch's last row, so a run straddling two batches keeps its
    edge."""
    prev = None  # (last suffix as a 1-row array, its doc id)
    for batch in batches:
        if batch.num_rows == 0:
            continue
        suffs, ids = batch.column(0), batch.column(1).to_numpy()
        if prev is not None:
            suffs = pa.concat_arrays([prev[0], suffs])
            ids = np.concatenate(([prev[1]], ids))
        lcp = _pairwise_lcp(suffs, min_len)
        keep = (lcp >= min_len) & (ids[1:] != ids[:-1])
        prev = suffs.slice(len(suffs) - 1), ids[-1]
        if keep.any():
            lo, hi = np.minimum(ids[1:], ids[:-1]), np.maximum(ids[1:], ids[:-1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(lo[keep]), pa.array(hi[keep]), pa.array(lcp[keep])],
                names=_EDGE_SCHEMA.fieldNames(),
            )


def suffix_array_spans(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    min_len: int = 16,
    truncate: Optional[int] = None,
    num_partitions: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(left, right, span): cross-document exact shared normalized byte
    runs of length >= ``min_len``, from a distributed sorted-suffix pass.

    ``span`` is the longest ADJACENT shared prefix observed for the pair,
    capped at ``truncate`` (default ``min_len + 32``) — a lower bound of
    the true maximal shared span (exact when the true span <= truncate).
    The emitted pairs are the chain edges of each sorted suffix run: a
    linear-size spanning subset of the full "shares a >= min_len
    substring" pair graph with identical connected components (use
    ``suffix_array_dedup`` for the clustering).
    """
    cfg = cfg or MatchConfig()
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    truncate = truncate if truncate is not None else min_len + 32
    if truncate < min_len:
        raise ValueError("truncate must be >= min_len")

    suffixes = _emit_suffixes(docs, cfg, min_len, truncate, text_col, id_col)
    if num_partitions is None:
        # Size sort partitions by the DATA (the suffix table is ~truncate x
        # the input text bytes), not by spark.sql.shuffle.partitions: a
        # config tuned for slim-row shuffles makes these partitions tiny
        # (measured 8x wall regression at 64x ~7 MB partitions vs 8x ~55 MB
        # on the 120k-page fixture).  Floor at defaultParallelism so every
        # core has work; ~128 MB of suffixes per sorted partition above it.
        try:
            in_bytes = int(
                docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # non-JVM-backed or stats-less plans
            in_bytes = 0
        sc = docs.sparkSession.sparkContext
        est = (in_bytes * truncate) // (128 << 20)
        num_partitions = int(max(sc.defaultParallelism, min(est, 2_000_000)))
    sorted_suff = _partition_sorted(suffixes, min_len, num_partitions)

    edges = sorted_suff.mapInArrow(
        lambda batches: _lcp_scan(batches, min_len), _EDGE_SCHEMA
    )
    return (
        edges.groupBy("left", "right")
        .agg(F.max("span").alias("span"))
        .localCheckpoint()
    )


def suffix_array_dedup(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    min_len: int = 16,
    truncate: Optional[int] = None,
    num_partitions: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(<id_col>, component): connected components over "shares an exact
    normalized substring of length >= ``min_len``" — component id = min
    doc id, singletons kept (same output contract as the flagship).

    ``truncate`` defaults to ``min_len`` HERE (vs ``min_len + 32`` in
    ``suffix_array_spans``): components only need ">= min_len detection",
    and two docs share a >= min_len run iff they share an exact
    ``min_len``-gram, so emitting each suffix at exactly ``min_len`` bytes
    is lossless for connectivity — sorted equal grams form contiguous
    runs whose chain edges connect every doc in the run.  That cuts the
    emitted/sorted suffix table (the pass's dominant shuffle) by
    ``1 - min_len/(min_len+32)`` ≈ 3x at the default 16.  Span MAGNITUDE
    is the only thing lost, and this entry point discards it."""
    from .dedup import _INTEGRAL_DTYPES, run_with_long_ids
    from .grouping import connected_components

    if truncate is None:
        truncate = min_len

    if dict(docs.dtypes)[id_col] not in _INTEGRAL_DTYPES:
        return run_with_long_ids(
            docs, id_col,
            lambda d, lid: suffix_array_dedup(
                d, cfg, min_len, truncate, num_partitions, text_col, lid
            ),
        )
    spans = suffix_array_spans(
        docs, cfg, min_len, truncate, num_partitions, text_col, id_col
    )
    nodes = docs.select(F.col(id_col).cast("long").alias("node")).distinct()
    comp = connected_components(spans.select("left", "right"), nodes=nodes)
    cols = comp.columns
    return comp.select(
        F.col(cols[0]).alias(id_col), F.col(cols[1]).alias("component")
    )
