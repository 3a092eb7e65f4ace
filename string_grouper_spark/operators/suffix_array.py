"""Distributed suffix-array pass for exact substring duplicates.

The north rule names three interchangeable candidate generators; this is
the third — "a distributed suffix-array pass for exact substring dupes" —
as a genuinely sorted suffix structure, complementing the winnowing
fingerprint index (`candidates.substring_containment`, sampled with a
window-length guarantee) with an EXACT pass: every pair of documents
sharing a normalized byte run of length >= ``min_len`` is found.

No reference analogue: Bergvca/string_grouper has no substring operator
(its surface is cosine similarity only, string_grouper.py:136-170); the
shape here follows the suffix-array dedup construction published for LLM
training corpora (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better") re-expressed Spark-first.

Two entry points share the sort and the scan:

* ``suffix_array_spans`` reports (left, right, span), the longest observed
  shared run capped at ``truncate``, so it sorts every truncated suffix.
* ``substring_edges`` reports connectivity only — the (left, right) edges
  behind ``suffix_array_dedup`` and the ``'suffix'`` generator of
  ``dedup.near_duplicate_clusters_scale`` — and sorts far fewer rows.

``suffix_array_spans``, and why it survives 100 TB:

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
4. Per-pair spans from one max aggregation over the slim edge triples.

``substring_edges`` needs only ">= min_len detection": two docs share a
>= ``min_len`` run iff they share an exact ``min_len``-byte window, so it
sorts windows of exactly ``min_len`` bytes, and it collapses exact copies
first, because most windows of a web crawl belong to pages whose
normalized text is byte-identical to another page's:

1. Normalize: one ``mapInArrow`` pass emits (doc_id, norm) for docs of at
   least ``min_len`` normalized bytes (``py_normalize``, as above).
2. Group copies: hash-partition on ``xxhash64(norm)``, then sort each
   partition by (norm, doc_id), so byte-identical texts are adjacent.  The
   grouping compares bytes; it trusts no hash.
3. Emit: one ``mapInArrow`` pass.  The first doc of each identical run
   emits all its windows; each later copy emits only its first window.
   That window equals the first copy's first window, so the sorted run
   joins the copy to the first copy; every other window of the copy is
   one the first copy emits, so it would add no connectivity.
4. Scan: steps 2-3 of ``suffix_array_spans`` (hash partition on the
   window, in-partition sort, adjacent scan), each (left, right) pair
   yielded once per batch.

The collapse serves connectivity only: span sizes need every suffix of
every copy, so ``suffix_array_spans`` keeps the full emission.
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

_NORM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("norm", BinaryType(), False),
    ]
)

_EDGE_SCHEMA = StructType(
    [
        StructField("left", LongType(), False),
        StructField("right", LongType(), False),
        StructField("span", IntegerType(), False),
    ]
)

_PAIR_SCHEMA = StructType(_EDGE_SCHEMA.fields[:2])


# target Arrow batch size of the suffix emission, read when the pass is
# built: keeps the int32 offsets far from overflow and worker memory bounded
_EMIT_BATCH_BYTES = 64 << 20


def _window_batches(rows, min_len: int, truncate: int, tgt_bytes: int):
    """(doc_id, normalized uint8 array, window cap) rows -> (suff, doc_id)
    record batches of about ``tgt_bytes`` value bytes.

    A doc of n normalized bytes has n - min_len + 1 suffixes; it emits the
    first ``cap`` of them (all when ``cap`` is None).  The full-width
    windows are copied straight into the Arrow values buffer by
    ``sliding_window_view(...).ravel()`` in slices of at most
    ``tgt_bytes // truncate`` windows, with a flush between slices, so one
    giant document is split across batches instead of materialized (and
    its int32 offsets wrapped) at once.  The (< truncate) tail suffixes
    come from a bounded per-doc loop, the offsets from one ``cumsum`` per
    batch — zero per-row Python objects.
    """
    step = max(1, tgt_bytes // truncate)
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

    for did, b, cap in rows:
        n = len(b)
        m = n - min_len + 1
        if cap is not None:
            m = min(m, cap)
        if m <= 0:
            continue
        f = min(m, max(0, n - truncate + 1))  # full-width window count
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


def _suffix_batches(
    batches, cfg: MatchConfig, min_len: int, truncate: int,
    text_col: str, id_col: str, tgt_bytes: int,
):
    """Arrow batches in -> every doc's truncated suffixes as (suff, doc_id)
    record batches (the kernel of ``_emit_suffixes``; see
    ``_window_batches``), flushed at the end of each input batch."""
    from ..functions.normalize import py_normalize

    for batch in batches:
        pdf = batch.to_pandas()
        rows = (
            (did, np.frombuffer(py_normalize(text, cfg).encode("utf-8"), np.uint8), None)
            for did, text in zip(pdf[id_col], pdf[text_col])
            if text is not None
        )
        yield from _window_batches(rows, min_len, truncate, tgt_bytes)


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


def _normalized(
    docs: DataFrame, cfg: MatchConfig, min_len: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, norm) for every doc with >= ``min_len`` normalized UTF-8
    bytes, from one ``mapInArrow`` pass of ``py_normalize``."""
    from ..functions.normalize import py_normalize

    def run(batches):
        for batch in batches:
            keep, norms = [], []
            for i, text in enumerate(batch.column(1).to_pylist()):
                norm = None if text is None else py_normalize(text, cfg).encode("utf-8")
                if norm is not None and len(norm) >= min_len:
                    keep.append(i)
                    norms.append(norm)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(keep, pa.int64())),
                    pa.array(norms, pa.binary()),
                ],
                names=_NORM_SCHEMA.fieldNames(),
            )

    return docs.select(
        F.col(id_col).cast("long"), text_col
    ).mapInArrow(run, _NORM_SCHEMA)


def _collapsed_window_batches(batches, min_len: int, tgt_bytes: int):
    """One partition's (doc_id, norm) batches, sorted by (norm, doc_id) ->
    (suff, doc_id) ``min_len``-byte windows: the first doc of each run of
    byte-identical norms emits all its windows, each later copy only its
    first.  The previous norm is carried across batches, so a run split by
    a batch boundary still emits its windows once."""
    prev = None

    def rows(ids, norms):
        nonlocal prev
        for did, norm in zip(ids, norms):
            yield did, np.frombuffer(norm, np.uint8), 1 if norm == prev else None
            prev = norm

    for batch in batches:
        ids, norms = batch.column(0).to_numpy(), batch.column(1).to_pylist()
        yield from _window_batches(rows(ids, norms), min_len, min_len, tgt_bytes)


def _collapsed_windows(
    docs: DataFrame, cfg: MatchConfig, min_len: int, num_partitions: int,
    text_col: str, id_col: str,
) -> DataFrame:
    """(suff, doc_id): every ``min_len``-byte window of each distinct
    normalized text, plus the first window of each further copy (module
    docstring, ``substring_edges`` steps 1-3)."""
    tgt_bytes = _EMIT_BATCH_BYTES
    grouped = (
        _normalized(docs, cfg, min_len, text_col, id_col)
        .repartition(num_partitions, F.xxhash64("norm"))
        .sortWithinPartitions("norm", "doc_id")
    )
    return grouped.mapInArrow(
        lambda batches: _collapsed_window_batches(batches, min_len, tgt_bytes),
        _SUFF_SCHEMA,
    )


def _sort_partitions(docs: DataFrame, width: int) -> int:
    """Sort partitions for a suffix table of about ``width`` x the input
    text bytes, sized by the DATA, not by spark.sql.shuffle.partitions: a
    config tuned for slim-row shuffles makes these partitions tiny
    (measured 8x wall regression at 64x ~7 MB partitions vs 8x ~55 MB on
    the 120k-page fixture).  Floor at defaultParallelism so every core has
    work; ~128 MB of suffixes per sorted partition above it."""
    try:
        in_bytes = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # non-JVM-backed or stats-less plans
        in_bytes = 0
    sc = docs.sparkSession.sparkContext
    est = (in_bytes * width) // (128 << 20)
    return int(max(sc.defaultParallelism, min(est, 2_000_000)))


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
    ``min_len`` bytes — guaranteed by ``_window_batches``) as int32 of
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


def _chain_edges(batches, min_len: int):
    """One sorted partition's Arrow (suff, doc_id) batches -> per batch,
    the (left<right, lcp) numpy arrays of its chain edges: adjacent pairs
    with lcp >= min_len and distinct docs.  Same-doc adjacencies are
    dropped — the chain through them still connects the flanking docs
    transitively.  Each batch is stitched to the previous batch's last
    row, so a run straddling two batches keeps its edge."""
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
            yield lo[keep], hi[keep], lcp[keep]


def _lcp_scan(batches, min_len: int):
    """``_chain_edges`` as (left, right, span) record batches."""
    for lo, hi, lcp in _chain_edges(batches, min_len):
        yield pa.RecordBatch.from_arrays(
            [pa.array(lo), pa.array(hi), pa.array(lcp)],
            names=_EDGE_SCHEMA.fieldNames(),
        )


def _pair_scan(batches, min_len: int):
    """``_chain_edges`` as (left, right) record batches, each pair once per
    batch: two docs that share many windows meet in many sorted runs."""
    for lo, hi, _ in _chain_edges(batches, min_len):
        pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(pairs[:, 0]), pa.array(pairs[:, 1])],
            names=_PAIR_SCHEMA.fieldNames(),
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
    ``substring_edges`` or ``suffix_array_dedup`` when only the
    components are wanted).
    """
    cfg = cfg or MatchConfig()
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    truncate = truncate if truncate is not None else min_len + 32
    if truncate < min_len:
        raise ValueError("truncate must be >= min_len")

    suffixes = _emit_suffixes(docs, cfg, min_len, truncate, text_col, id_col)
    if num_partitions is None:
        num_partitions = _sort_partitions(docs, truncate)
    sorted_suff = _partition_sorted(suffixes, min_len, num_partitions)

    edges = sorted_suff.mapInArrow(
        lambda batches: _lcp_scan(batches, min_len), _EDGE_SCHEMA
    )
    return (
        edges.groupBy("left", "right")
        .agg(F.max("span").alias("span"))
        .localCheckpoint()
    )


def substring_edges(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    min_len: int = 16,
    num_partitions: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(left, right) with left < right: edges whose connected components
    are exactly those of "shares an exact normalized substring of >=
    ``min_len`` bytes" — the same components as ``suffix_array_spans``.

    Connectivity only: exact copies are collapsed before the window sort
    (module docstring), so a pair of docs may be joined through a third
    rather than by its own edge, and no span is reported.  A pair can
    appear more than once (once per scanned batch); connected components
    deduplicate.  Two hash exchanges: the normalized texts on
    ``xxhash64(norm)``, then the windows on their bytes.  ``id_col`` must
    be integral.
    """
    cfg = cfg or MatchConfig()
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    if num_partitions is None:
        num_partitions = _sort_partitions(docs, min_len)
    windows = _collapsed_windows(
        docs, cfg, min_len, num_partitions, text_col, id_col
    )
    return _partition_sorted(windows, min_len, num_partitions).mapInArrow(
        lambda batches: _pair_scan(batches, min_len), _PAIR_SCHEMA
    )


def suffix_array_dedup(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    min_len: int = 16,
    num_partitions: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(<id_col>, component): connected components over "shares an exact
    normalized substring of length >= ``min_len``" — component id = min
    doc id, singletons kept (same output contract as the flagship).  The
    edges come from ``substring_edges``."""
    from .dedup import _INTEGRAL_DTYPES, run_with_long_ids
    from .grouping import connected_components

    if dict(docs.dtypes)[id_col] not in _INTEGRAL_DTYPES:
        return run_with_long_ids(
            docs, id_col,
            lambda d, lid: suffix_array_dedup(
                d, cfg, min_len, num_partitions, text_col, lid
            ),
        )
    edges = substring_edges(docs, cfg, min_len, num_partitions, text_col, id_col)
    nodes = docs.select(F.col(id_col).cast("long").alias("node")).distinct()
    comp = connected_components(edges, nodes=nodes)
    cols = comp.columns
    return comp.select(
        F.col(cols[0]).alias(id_col), F.col(cols[1]).alias("component")
    )
