"""Web-scale candidate generators (SURVEY §7.1 M4, BASELINE north rule).

The reference scores ALL n×m pairs in a blocked C++ matmul
(/root/reference/string_grouper/string_grouper.py:709-752) — impossible at
10^12 documents.  Here interchangeable generators emit a small
candidate-pair set which the EXACT TF-IDF re-scorer
(``plans.fast_dedup.rescore_candidates_with_vecs``) then scores; recall vs
the exact path is the tested contract (>= 0.99 at matched config).

MinHash signatures and band keys are computed by the flagship's vector
pass (``plans.fast_dedup.doc_vectors``) and paired by
``plans.fast_dedup.lsh_band_candidates``; this module holds the bucket
kernels that pairing runs on (grouped one-shuffle pairing, the salted
self-join, the flat-table cap) plus the SimHash, Jaccard and substring
generators.  All signature kernels are Arrow-vectorized Python passes over
numpy — no per-row Python (input_hint requirement).

Skew design: band/bucket keys are Zipf-distributed on web text.  Buckets
larger than ``max_bucket_size`` are dropped from candidate generation (they
are near-stop-gram buckets that would contribute |bucket|^2 join rows); the
drops are measured so recall accounting stays honest.  Two functions
here count bucket keys: ``bucket_policy`` is the ONE measured pass that
decides each bucket's cap drop and salting and returns the drop
accounting; ``capped_buckets`` is the lazy, job-free cap for callers that
keep no accounting.  AQE skew-join splitting handles residual imbalance.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..config import MatchConfig
from ..functions.tfidf import DOC, GRAM, tokenize
from .similarity import LEFT, RIGHT

# --------------------------------------------------------------------------
# LSH bucket pairing and skew accounting
# --------------------------------------------------------------------------


_TARGET_PAIRS_PER_TASK = 4_000_000  # pair work one task may own unsalted


def bucket_policy(
    buckets: DataFrame, key_cols, max_bucket_size: Optional[int], salt_above
) -> Tuple[dict, Optional[DataFrame]]:
    """The ONE measured pass over a bucket table that decides every bucket's
    fate: dropped (over ``max_bucket_size``), salted (over the salt
    threshold) or paired as is (SURVEY §4.2(2): "s chosen from a
    first-pass key histogram").

    ``salt_above='auto'`` picks the threshold from the measured histogram:
    a bucket needs salting when its own pair work (sz^2/2) exceeds a fair
    per-task share of the surviving pair work — ``per_task =
    max(_TARGET_PAIRS_PER_TASK, est_pairs / defaultParallelism)``,
    threshold ``ceil(sqrt(2 * per_task))`` — and skips salting when no
    surviving bucket exceeds it (the common case, where the grouped
    one-shuffle pairing is strictly better).  An int is taken as is; None
    never salts.

    Returns ``(policy, hot)``.  ``policy``: the resolved ``salt_above``,
    the histogram summary (n_buckets / max_sz / est_pairs) and the drop
    accounting (n_buckets_dropped / n_rows_dropped / est_pairs_dropped) —
    everything a caller should LOG with the run.  ``hot``: the
    ``(*key_cols, sz)`` rows above ``min(cap, lowest salt threshold)``,
    kept (local checkpoint) by the same pass, so the drop's anti-join and
    the salted join's sizes read them instead of counting the table again.
    Every threshold ``'auto'`` can pick is at least
    ``ceil(sqrt(2 * _TARGET_PAIRS_PER_TASK))``.  With no cap and no
    salting there is nothing to decide: no job runs and ``hot`` is None.
    """
    import math

    if max_bucket_size is None and salt_above is None:
        return {
            "salt_above": None,
            "n_buckets_dropped": 0, "n_rows_dropped": 0, "est_pairs_dropped": 0,
        }, None
    lowest = salt_above
    if salt_above == "auto":
        lowest = int(math.ceil(math.sqrt(2.0 * _TARGET_PAIRS_PER_TASK)))
    bound = min(b for b in (max_bucket_size, lowest) if b is not None)
    sz = F.col("sz")
    pairs_of = sz * (sz - 1) / 2  # double arithmetic: no ANSI long overflow
    # no cap: every bucket survives
    cap = max_bucket_size if max_bucket_size is not None else 2**63 - 1
    surviving = sz <= cap
    measured = Observation()
    hot = (
        buckets.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("sz"))
        .observe(
            measured,
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.max(F.when(surviving, sz)), F.lit(0)).alias("max_sz"),
            F.coalesce(F.sum(F.when(surviving, pairs_of)), F.lit(0.0)).alias("est_pairs"),
            F.coalesce(F.count(F.when(~surviving, F.lit(1))), F.lit(0)).alias("nb_drop"),
            F.coalesce(F.sum(F.when(~surviving, sz)), F.lit(0)).alias("nr_drop"),
            F.coalesce(F.sum(F.when(~surviving, pairs_of)), F.lit(0.0)).alias("np_drop"),
        )
        .where(sz > bound)
        .localCheckpoint()
    )
    row = measured.get
    est_pairs = float(row["est_pairs"])
    if salt_above == "auto":
        parallelism = buckets.sparkSession.sparkContext.defaultParallelism
        per_task = max(float(_TARGET_PAIRS_PER_TASK), est_pairs / max(parallelism, 1))
        threshold = int(math.ceil(math.sqrt(2.0 * per_task)))
        salt_above = threshold if int(row["max_sz"]) > threshold else None
    return {
        "salt_above": salt_above,
        "n_buckets": int(row["n_buckets"]),
        "max_sz": int(row["max_sz"]),
        "est_pairs": int(est_pairs),
        "n_buckets_dropped": int(row["nb_drop"]),
        "n_rows_dropped": int(row["nr_drop"]),
        "est_pairs_dropped": int(row["np_drop"]),
    }, hot


def _salted_self_pairs(
    buckets: DataFrame, salt_above: int, key_cols, hot: DataFrame
) -> DataFrame:
    """Self-join a (*key_cols, <doc>) bucket table into pairs l<r.

    Buckets larger than ``salt_above`` are SALTED — members get
    ``nsalt = ceil(sz / salt_above)`` deterministic salt groups, the left
    side is replicated once per target salt, and the join key becomes
    (*key_cols, salt).  Every pair (a,b) with a<b is still emitted exactly
    once (by a's replica targeted at b's salt), but no single shuffle
    partition receives a whole megabucket — the s^2 work is spread over
    nsalt^2 tasks instead of one (SURVEY §4.2(2) hot-band salting).

    Sizes come from ``hot``, the ``bucket_policy`` rows (every bucket over
    ``salt_above`` is among them) by a left join; every other bucket has
    ``nsalt`` 1.  No window over the key: ``Window.partitionBy(key)``
    would land every hot key's rows in one task — the exact skew this
    function exists to avoid, paid before it could help — and AQE can
    split a skewed join but never a window.
    """
    keys = list(key_cols)
    nsalt = F.coalesce(F.ceil(F.col("sz") / F.lit(int(salt_above))), F.lit(1))
    salted = (
        buckets.join(hot, keys, "left")
        .withColumn("_nsalt", nsalt.cast("int"))
        .withColumn("_salt", F.pmod(F.xxhash64(F.col(DOC)), F.col("_nsalt")).cast("int"))
    )
    l = salted.select(
        *keys,
        F.col(DOC).alias(LEFT),
        F.explode(F.sequence(F.lit(0), F.col("_nsalt") - 1)).alias("_salt"),
    )
    r = salted.select(*keys, F.col(DOC).alias(RIGHT), "_salt")
    return (
        l.join(r, keys + ["_salt"])
        .where(F.col(LEFT) < F.col(RIGHT))
        .select(LEFT, RIGHT)
    )


_PAIR_SCHEMA = StructType(
    [StructField(LEFT, LongType(), False), StructField(RIGHT, LongType(), False)]
)


_TRIU_CACHE_MAX_SIZE = 128  # sum s^2 for s<=128 is ~11 MB of cached indices


def _emit_bucket_pairs(batches):
    """Arrow pass: collected bucket arrays -> all in-bucket pairs l<r.

    Sort each bucket once and index with cached ``triu_indices`` — buckets
    are typically tiny, so per-size caching makes emission a pair of numpy
    gathers per bucket.  Only sizes <= 128 are cached: an index pair for
    size s is O(s^2) bytes, so an unbounded cache on a large-cap run would
    retain GBs of indices for the task's lifetime; bigger buckets (rare)
    just recompute."""
    triu_cache: dict = {}
    for pdf in batches:
        ls, rs = [], []
        for arr in pdf["_ds"]:
            a = np.sort(np.asarray(arr, dtype=np.int64))
            t = triu_cache.get(len(a))
            if t is None:
                t = np.triu_indices(len(a), k=1)
                if len(a) <= _TRIU_CACHE_MAX_SIZE:
                    triu_cache[len(a)] = t
            ls.append(a[t[0]])
            rs.append(a[t[1]])
        if ls:
            yield pd.DataFrame(
                {LEFT: np.concatenate(ls), RIGHT: np.concatenate(rs)}
            )


def _grouped_bucket_pairs(buckets: DataFrame, key_cols) -> DataFrame:
    """ONE-SHUFFLE bucket pairing: group members per (band, key), emit all
    in-bucket pairs from the collected array.

    The window+self-join formulation shuffles the bucket table three times
    (size window, join left, join right) — measured 54 s at 400k docs x 64
    bands (25.6M bucket rows); this groupBy ships them once (measured ~3x
    faster).  Emission runs in a numpy ``mapInPandas`` pass: the Catalyst
    ``transform``/``slice``/``flatten`` formulation is INTERPRETED per
    element and measured ~1.4x slower (1.5 vs 1.08 s at 120k docs,
    identical 1.45M pairs) despite staying JVM-side.  Per-bucket pair
    generation is O(s^2) inside one task, so the caller drops over-cap
    buckets BEFORE this runs (anti-joined by ``bucket_policy``'s ``hot``
    rows: no task ever ``collect_list``s a megabucket) — megabucket skew
    within the cap needs the salted join instead (``_salted_self_pairs``).
    Emits one row per (bucket, pair): callers dedupe or count collisions.
    """
    grouped = buckets.groupBy(*key_cols).agg(F.collect_list(DOC).alias("_ds"))
    return (
        grouped.where(F.size("_ds") >= 2)
        .select("_ds")
        .mapInPandas(_emit_bucket_pairs, _PAIR_SCHEMA)
    )


def capped_buckets(
    buckets: DataFrame,
    max_bucket_size: Optional[int],
    key_cols=("band", "key"),
) -> DataFrame:
    """Enforce the bucket-size cap on a FLAT bucket table lazily, with no
    job of its own and without ever materializing a bucket: a count-only
    partial agg finds the over-cap keys (a tiny set) and an anti-join
    removes their rows.  For callers that keep no drop accounting (ANN,
    SimHash/image blocks, the corpus-frozen matcher's buckets, the exact
    path's stop grams); ``bucket_policy`` is the measured form.

    The grouped alternative (collect_list -> F.size filter -> explode)
    builds each bucket in one aggregation buffer first — a stop-gram
    megabucket becomes a multi-GB task buffer at web scale, and its
    shuffle ships every member row where this ships one count per key per
    map partition.

    The anti-join carries NO broadcast hint: the hot-key set is tiny in
    the designed regime (a handful of stop-gram buckets), so AQE converts
    the join to a runtime broadcast — but a pathological cap (e.g. 2 on a
    duplicate-heavy corpus) can make MOST keys hot, and a forced
    ``F.broadcast`` would then OOM the driver where a shuffled anti-join
    degrades gracefully.
    """
    if max_bucket_size is None:
        return buckets
    hot = (
        buckets.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("sz"))
        .where(F.col("sz") > max_bucket_size)
    )
    return buckets.join(hot.select(*key_cols), list(key_cols), "left_anti")


# --------------------------------------------------------------------------
# 64-bit SimHash + block probing
# --------------------------------------------------------------------------

_BIT_VALUES = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (uint64 -> uint64): turns the fast
    plan's byte-pack gram codes (only 8*ngram_size low bits populated) into
    uniformly-distributed 64-bit hashes, as SimHash's bit votes require."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def simhash_fast_batch(
    texts, cfg: MatchConfig, shingle: str = "char", shingle_words: int = 5
) -> list:
    """The SimHash kernel: iterable of texts -> int64 signatures.

    Byte-pack gram codes (plans.fast_dedup._encode_doc) splitmix64-mixed
    to uniform 64-bit hashes, tf-weighted bit votes in one numpy pass per
    doc, positive votes folded into the signature.  NULL text gives a
    ``None`` signature (a null page must not kill a streaming query);
    empty or shorter-than-``ngram_size`` text gives 0.  The batch
    ``simhash_signatures`` and the streaming ``streaming_simhash_tag``
    both call this, so stream and batch signatures are bit-identical by
    construction.

    ``shingle='word'`` votes over the DISTINCT word-``shingle_words``-gram
    blake2b codes (plans.fast_dedup._word_shingle_codes) — binary-weighted
    rather than tf-weighted, which is the standard long-document practice
    (near-dup docs share most shingles; the exact re-score downstream
    decides membership either way).
    """
    from ..plans.fast_dedup import _encode_doc, _word_shingle_codes

    texts = list(texts)
    bit_idx = np.arange(64, dtype=np.uint64)
    out = [None] * len(texts)
    with np.errstate(over="ignore"):
        for i, t in enumerate(texts):
            if t is None or (isinstance(t, float) and np.isnan(t)):
                continue  # null text -> null signature
            if shingle == "word":
                codes = _word_shingle_codes(t, cfg, shingle_words)
                tfs = None if codes is None else np.ones(len(codes))
            else:
                codes, tfs = _encode_doc(t, cfg)
            if codes is None or len(codes) == 0:
                out[i] = 0  # empty/too-short text: deterministic zero sig
                continue
            hv = _splitmix64(codes.astype(np.int64).astype(np.uint64))
            w = tfs.astype(np.float64)
            bits = ((hv[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(
                np.float64
            )
            acc = (w[:, None] * (2.0 * bits - 1.0)).sum(axis=0)
            sig = _BIT_VALUES[acc > 0].sum(dtype=np.uint64)
            out[i] = int(sig.astype(np.int64))
    return out


def simhash_signatures(
    docs: DataFrame,
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: str = "char",
    shingle_words: int = 5,
) -> DataFrame:
    """(doc_id, simhash): 64-bit signatures from ``simhash_fast_batch`` in
    ONE narrow mapInPandas pass — no shuffle, per-doc work map-side."""
    if shingle not in ("char", "word"):
        raise ValueError(f"shingle must be 'char' or 'word', got {shingle!r}")
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            # nullable: NULL text -> NULL signature
            StructField("simhash", LongType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "simhash": simhash_fast_batch(
                        pdf[text_col], cfg, shingle, shingle_words
                    ),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def simhash_candidates(
    docs: DataFrame,
    cfg: MatchConfig,
    max_hamming: int = 3,
    num_blocks: int = 4,
    max_bucket_size: Optional[int] = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "fast",
    shingle: str = "char",
    shingle_words: int = 5,
) -> DataFrame:
    """SimHash Hamming-ball candidates (master_side < dupe_side).

    Pigeonhole: any pair within Hamming distance <= num_blocks-1 shares at
    least one of the num_blocks 16-bit blocks, so the block-equality join is
    EXHAUSTIVE for max_hamming <= num_blocks-1; the bit_count filter then
    enforces the exact ball radius JVM-side.  Signatures come from
    ``simhash_signatures``; ``shingle``/``shingle_words`` select the vote
    feature space.  ``engine`` accepts only ``'fast'``, the one signature
    kernel; it stays for callers that still name it.
    """
    if engine != "fast":
        raise ValueError(f"engine must be 'fast', got {engine!r}")
    sigs = simhash_signatures(
        docs, cfg, text_col, id_col, shingle=shingle, shingle_words=shingle_words
    )
    return hamming_ball_pairs(
        sigs, max_hamming=max_hamming, num_blocks=num_blocks,
        max_bucket_size=max_bucket_size, id_col=DOC, sig_col="simhash",
    )


def hamming_ball_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    num_blocks: int = 4,
    max_bucket_size: Optional[int] = 1000,
    id_col: str = DOC,
    sig_col: str = "simhash",
) -> DataFrame:
    """Generic 64-bit-signature Hamming-ball join (master_side < dupe_side)
    — the block kernel behind ``simhash_candidates``, reusable for ANY
    int64 signature column (text SimHash, perceptual image dHash/pHash).

    Pigeonhole: any pair within Hamming distance <= num_blocks-1 shares at
    least one of the ``num_blocks`` equal-width bit blocks, so the
    block-equality join is EXHAUSTIVE for max_hamming <= num_blocks-1; the
    ``bit_count`` filter then enforces the exact ball radius JVM-side.
    """
    assert 64 % num_blocks == 0
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs num_blocks >= {max_hamming + 1} "
            f"(got {num_blocks}): the pigeonhole block join is only "
            "exhaustive for max_hamming <= num_blocks - 1 — a wider radius "
            "would silently drop pairs differing in every block"
        )
    width = 64 // num_blocks
    mask = (1 << width) - 1
    # NULL signatures (null text upstream) carry no information and must
    # not pair: groupBy — unlike an equi-join — puts all NULL keys in ONE
    # group, so without this filter every null-sig doc would bucket with
    # every other null-sig doc in every band
    sigs = sigs.where(F.col(sig_col).isNotNull())
    blocks = sigs.select(
        F.col(id_col).alias(DOC),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(sig_col, i * width).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("bk"),
    ).select(DOC, "_sig", F.col("bk.blk").alias("band"), F.col("bk.key").alias("key"))
    # The block table has THREE downstream consumers (the hot-key count
    # agg, the join's left side, the join's right side) and nothing
    # upstream is cached — without a materialization fence the signature
    # kernel upstream re-runs once per consumer (the plan showed FOUR
    # MapInPandas evaluations of the same pass).  Checkpoint the slim
    # (doc, sig, band, key) table lazily: one signature pass total, blocks
    # reclaimed with the RDD.  num_blocks rows per doc of four fixed-width
    # columns — bounded, far cheaper than 3 extra corpus passes at scale.
    blocks = blocks.localCheckpoint(eager=False)
    # cap via count-agg + anti-join (capped_buckets): a hot block key —
    # e.g. the all-zero block of short/boilerplate docs (or flat images) —
    # would land every member in one task, and AQE can split joins but not
    # the downstream O(s^2) pair emission
    blocks = capped_buckets(blocks, max_bucket_size)
    l = blocks.select("band", "key", F.col(DOC).alias(LEFT), F.col("_sig").alias("_hl"))
    r = blocks.select("band", "key", F.col(DOC).alias(RIGHT), F.col("_sig").alias("_hr"))
    return (
        l.join(r, ["band", "key"])
        .where(F.col(LEFT) < F.col(RIGHT))
        .where(F.bit_count(F.col("_hl").bitwiseXOR(F.col("_hr"))) <= max_hamming)
        .select(LEFT, RIGHT)
        .dropDuplicates([LEFT, RIGHT])
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted index — also an oracle-checkable dedup op)
# --------------------------------------------------------------------------

def jaccard_pairs(
    docs: DataFrame,
    cfg: MatchConfig,
    min_jaccard: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidate_max_df_ratio: Optional[float] = None,
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Exact distinct-3-gram Jaccard similarity join: (l, r, jaccard) l<r.

    ``candidate_max_df_ratio``: the same stop-gram guard as the cosine path
    — grams hotter than the ratio are dropped from CANDIDATE GENERATION
    only (the Zipf-skew guard for the inverted-index join at web scale);
    surviving pairs get their intersection recounted EXACTLY from packed
    per-doc gram sets, so every emitted jaccard value is exact.  Pairs
    sharing only hot grams are skipped — recall accounting is tested, never
    silently assumed.
    """
    tokens = tokenize(docs, cfg, text_col=text_col, id_col=id_col).dropDuplicates(
        [DOC, GRAM]
    )
    sizes = tokens.groupBy(DOC).agg(F.count(F.lit(1)).alias("sz"))
    if candidate_max_df_ratio is None:
        l = tokens.select(F.col(DOC).alias(LEFT), GRAM)
        r = tokens.select(F.col(DOC).alias(RIGHT), GRAM)
        inter = (
            l.join(r, GRAM)
            .where(F.col(LEFT) < F.col(RIGHT))
            .groupBy(LEFT, RIGHT)
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        from .similarity import (
            SIM,
            candidate_pairs_from_postings,
            score_pairs_packed,
        )
        from ..functions.tfidf import W

        if n_docs is None:
            n_docs = docs.count()
        max_df = max(1, int(candidate_max_df_ratio * n_docs))
        # unit-weight "postings": the packed sparse-dot kernel then computes
        # exact intersection sizes for candidate pairs only
        unit_postings = tokens.withColumn(W, F.lit(1.0))
        cand = candidate_pairs_from_postings(unit_postings, max_df)
        inter = score_pairs_packed(cand, unit_postings).select(
            LEFT, RIGHT, F.col(SIM).cast("long").alias("inter")
        ).where(F.col("inter") > 0)
    out = (
        inter.join(sizes.select(F.col(DOC).alias(LEFT), F.col("sz").alias("_szl")), LEFT)
        .join(sizes.select(F.col(DOC).alias(RIGHT), F.col("sz").alias("_szr")), RIGHT)
        .select(
            LEFT,
            RIGHT,
            (F.col("inter") / (F.col("_szl") + F.col("_szr") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= float(min_jaccard))
    )
    return out


# --------------------------------------------------------------------------
# Exact substring containment (suffix-window index + verify)
# --------------------------------------------------------------------------

def _substring_params(anchor_len: int, window_len: Optional[int], stride: Optional[int]):
    """Derive (window_len k, stride w) with the guaranteed-hit constraint
    k + 2w - 2 <= anchor_len (see substring_containment proof).

    Defaults MAXIMIZE WINDOW LENGTH (selectivity) and take a modest stride:
    w = max(2, anchor_len//5), k = anchor_len - 2w + 2.  Measured at sf0.1
    (5k docs, low-entropy synthetic text, anchor_len=24): short windows
    k=8/w=9 shrink the index 9x but explode candidates 250x (16.1M pairs,
    280s) because 8-char windows stop being selective; k=18/w=4 keeps 63k
    candidate pairs with a 4x index reduction.  High-entropy corpora can
    pass explicit (window_len, stride) to trade the other way.
    """
    if window_len is None and stride is None:
        w = max(2, anchor_len // 5)
        k = anchor_len - 2 * w + 2
    else:
        k = window_len if window_len is not None else max(6, anchor_len // 3)
        w = stride if stride is not None else (anchor_len - k) // 2 + 1
    if k > anchor_len:
        raise ValueError("window_len must be <= anchor_len")
    if k + 2 * w - 2 > anchor_len:
        raise ValueError(
            f"window_len={k}, stride={w} break the guaranteed-hit bound "
            f"k + 2*stride - 2 <= anchor_len ({anchor_len})"
        )
    return k, max(1, w)


_ROLL_P = np.uint64(0x100000001B3)  # FNV prime (odd => invertible mod 2^64)
_ROLL_PINV = np.uint64(pow(0x100000001B3, -1, 2**64))


def _roll_hash_windows(norm: str, k: int) -> Optional[np.ndarray]:
    """int64 hashes of every length-k BYTE window of ``norm`` (UTF-8):
    polynomial hash over uint64 (natural mod-2^64 wrap), splitmix64-
    finalized so sliding minima are uniform.

    TRUE O(L) rolling form via prefix sums: with T_m = sum_{j<m} b_j p^-j
    (p is odd, so p^-1 exists mod 2^64), the window hash
    h_i = sum_j b_{i+j} p^{k-1-j} equals p^{i+k-1} (T_{i+k} - T_i) —
    ~3 uint64 ops per window and no (L, k) window materialization.  The
    values are BIT-IDENTICAL to the direct sliding-window formulation
    (exact ring arithmetic), which measured 5x slower at webtext lengths
    (1.69 s -> 0.33 s for 500 x 27.5 kB docs).

    Byte windows (not char windows) keep the winnowing guarantee: a char-
    level containment is a byte-level containment in UTF-8, so inner's
    windows still appear verbatim in outer at shifted BYTE positions.
    """
    b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
    n = len(b)
    if n < k:
        return None
    pipow = np.empty(n, dtype=np.uint64)
    pipow[0] = 1
    if n > 1:
        np.cumprod(np.full(n - 1, _ROLL_PINV, dtype=np.uint64), out=pipow[1:])
    T = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(b.astype(np.uint64) * pipow, out=T[1:])
    m = n - k + 1
    ppow = np.empty(m, dtype=np.uint64)
    ppow[0] = _ROLL_P ** np.uint64(k - 1)
    if m > 1:
        np.cumprod(np.full(m - 1, _ROLL_P, dtype=np.uint64), out=ppow[1:])
        ppow[1:] *= ppow[0]
    h = (T[k:k + m] - T[:m]) * ppow
    return _splitmix64(h).astype(np.int64)


def _winnow(v: np.ndarray, w: int) -> Tuple[np.ndarray, np.ndarray]:
    """(anchors, stripes) of one doc's window hashes ``v`` (len(v) >= w):
    anchors = distinct sliding-window minima (winnowing fingerprints),
    stripes = minima of aligned non-overlapping stripes of width ``w``."""
    n = len(v)
    anchors = np.unique(np.lib.stride_tricks.sliding_window_view(v, w).min(axis=1))
    head = v[: (n // w) * w].reshape(-1, w).min(axis=1)
    tail = v[(n // w) * w:]
    stripes = np.concatenate([head, [tail.min()]]) if len(tail) else head
    return anchors, stripes


def _list_array(parts: list):
    """Arrow list<int64> column from per-row int64 arrays (no per-value
    Python objects)."""
    offsets = np.zeros(len(parts) + 1, dtype=np.int32)
    np.cumsum([len(p) for p in parts], out=offsets[1:])
    values = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _winnow_fingerprints(
    docs: DataFrame, cfg: MatchConfig, k: int, w: int, min_chars: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, norm, anchors, stripes) for every doc whose normalized text
    has >= ``min_chars`` (>= k + 2w - 2) characters, from ONE
    ``mapInArrow`` pass: ``py_normalize`` (as in the suffix emitter and the
    fast plan's terms pass), the rolling length-``k`` window hashes and
    their winnowing minima, with list columns built from numpy offsets.
    Measured and rejected: Catalyst HOF lambdas for the hashes or minima
    (interpreted, up to 60x slower), and a JVM normalize chained with NFKD
    and winnow UDFs (several ``ArrowEvalPython`` crossings per text).
    """
    from ..functions.normalize import py_normalize

    schema = (
        docs.select(F.col(id_col).alias(DOC)).schema.add("norm", "string")
        .add("anchors", ArrayType(LongType())).add("stripes", ArrayType(LongType()))
    )

    def run(batches):
        for batch in batches:
            keep, norms, anchors, stripes = [], [], [], []
            with np.errstate(over="ignore"):
                for i, text in enumerate(batch.column(1).to_pylist()):
                    norm = None if text is None else py_normalize(text, cfg)
                    if norm is None or len(norm) < min_chars:
                        continue
                    a, s = _winnow(_roll_hash_windows(norm, k), w)
                    keep.append(i)
                    norms.append(norm)
                    anchors.append(a)
                    stripes.append(s)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(keep, pa.int64())),
                    pa.array(norms, pa.string()),
                    _list_array(anchors),
                    _list_array(stripes),
                ],
                names=schema.fieldNames(),
            )

    return docs.select(id_col, text_col).mapInArrow(run, schema)


def substring_containment(
    docs: DataFrame,
    cfg: MatchConfig,
    anchor_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_len: Optional[int] = None,
    stride: Optional[int] = None,
) -> DataFrame:
    """All (inner_id, outer_id) where inner's normalized text is a substring
    of outer's (inner != outer, len(inner_norm) >= anchor_len).  EXACT: every
    candidate is verified with a JVM ``locate``.

    Distributed strategy (the suffix-array role from the north rule) with
    WINNOWING-SAMPLED fingerprints — the full positional index (one row per
    char of the corpus: O(total bytes) shuffle) is replaced by:

      * index side (outer docs): the min window-hash of each NON-OVERLAPPING
        stripe of ``stride`` consecutive length-``window_len`` windows —
        ~stride x fewer rows than the every-position index;
      * anchor side (inner docs): the distinct SLIDING-window minima
        (winnowing fingerprints, Schleimer et al. SIGMOD'03) with the same
        stripe width.

    Guaranteed hit: if inner (normalized length L >= window_len + 2*stride-2,
    implied by L >= anchor_len under the derived parameters) occurs in outer
    at any offset, the covered region spans >= 2*stride-1 consecutive outer
    window positions and therefore contains one FULL aligned outer stripe;
    that stripe's min is the min of ``stride`` consecutive window hashes of
    inner, i.e. one of inner's sliding-window minima — so the equi-join on
    fingerprint hash cannot miss a true containment.  False candidates are
    killed by the exact verify.

    Normalization is ``py_normalize`` (Python ``re``, as the reference and
    ``suffix_array_spans``): its ``\\s`` also strips ``\\x1c``-``\\x1f``
    and Unicode spaces such as ``\\xa0``, which Java's ``\\s`` keeps.
    """
    k, w = _substring_params(anchor_len, window_len, stride)
    # ONE mapInArrow pass computes normalization + rolling window hashes +
    # winnowing minima, localCheckpoint-ed (lazy) because it has THREE
    # consumers — the anchor explode, the stripe-index explode and the
    # verify join.  A ``persist()`` would leak a CacheManager entry per call
    # (no caller can safely unpersist a lazily-consumed result — the
    # bipartite sibling's documented lesson); the checkpoint runs the pass
    # once and its blocks are reclaimed with the RDD.  At corpus scale the
    # winnow pass over every normalized byte is the dominant narrow stage.
    # (Length threshold is on CHARS; byte windows only grow the window
    # count, so the guaranteed-hit bound is preserved.)
    fps = _winnow_fingerprints(
        docs, cfg, k, w, anchor_len, text_col, id_col
    ).localCheckpoint(eager=False)
    # anchors: winnowing fingerprints (distinct sliding minima) of inner
    # docs — SLIM (id, hash) rows only.  Carrying inner_norm here would
    # ship ~len(norm)/stride copies of every doc's full text through the
    # fingerprint join and the candidate dedup (the heavy-payload-shuffled-
    # twice anti-pattern); instead the norm is attached ONCE per deduped
    # candidate pair from the checkpointed fps below.
    anchors = fps.select(
        F.col(DOC).alias("inner_id"),
        F.explode("anchors").alias("wh"),
    )
    # index: one min-hash per aligned stripe of w window positions
    index = fps.select(
        F.col(DOC).alias("outer_id"),
        F.explode("stripes").alias("wh"),
    ).dropDuplicates(["outer_id", "wh"])
    cand = (
        anchors.join(index, "wh")
        .where(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id")
        .dropDuplicates(["inner_id", "outer_id"])
    )
    # both sides of every candidate come from fps (>= anchor_len docs), so
    # attaching norms from the one checkpointed frame verifies exactly the
    # candidate set the fingerprint join proposed
    verified = (
        cand.join(
            fps.select(F.col(DOC).alias("inner_id"), F.col("norm").alias("inner_norm")),
            "inner_id",
        )
        .join(
            fps.select(F.col(DOC).alias("outer_id"), F.col("norm").alias("outer_norm")),
            "outer_id",
        )
        .where(F.expr("locate(inner_norm, outer_norm) > 0"))
    )
    return verified.select("inner_id", "outer_id")


def substring_containment_bipartite(
    inner_docs: DataFrame,
    outer_docs: DataFrame,
    cfg: MatchConfig,
    anchor_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_len: Optional[int] = None,
    stride: Optional[int] = None,
    skip_stats: Optional[dict] = None,
) -> DataFrame:
    """All (inner_id, outer_id) where an ``inner_docs`` row's normalized
    text occurs verbatim inside an ``outer_docs`` row's — the DECONTAMINATION
    check of a training pipeline (does a benchmark/eval item appear in the
    training corpus?).  EXACT: every candidate is verified with ``locate``.

    Same winnowing geometry and guaranteed-hit proof as
    ``substring_containment`` (which is the self-corpus special case), with
    the sides split: the huge CORPUS side carries the sparse stripe index
    (~1/stride of its bytes), the small benchmark side the sliding-window
    minima.  Cost: one ``_winnow_fingerprints`` pass per side + one
    equi-join on the fingerprint hash; ids may overlap between sides and
    are NOT excluded (the two tables are distinct corpora).

    CONTRACT: benchmark items whose NORMALIZED length is below
    ``anchor_len`` are NOT searched for (the winnowing guarantee needs
    >= anchor_len characters) — lower ``anchor_len`` to cover shorter
    items, and pass ``skip_stats`` (a dict) to receive
    ``{"n_inner_skipped": ...}`` so short-item skips are never silent.
    The corpus side's fingerprints are localCheckpoint-ed for the two
    consumers (stripe index + verify join): eager, computed once, and its
    blocks are released by the ContextCleaper's plan GC when the result is
    dropped — ``persist()`` would leak a CacheManager entry per call for
    the session lifetime, since no caller can safely unpersist a
    lazily-consumed result (the group_rep ``_with_pos`` lesson).
    """
    k, w = _substring_params(anchor_len, window_len, stride)
    # searchable inner docs, checkpointed (lazy) for the anchor pass AND
    # the verify-time norm attach — the anchor explode itself stays SLIM
    # (id, hash): shipping inner_norm on every anchor row would move
    # ~len/stride copies of each benchmark item through the fingerprint
    # join; the norm is attached once per deduped candidate pair instead.
    searchable = (
        _winnow_fingerprints(inner_docs, cfg, k, w, anchor_len, text_col, id_col)
        .toDF("inner_id", "inner_norm", "anchors", "stripes").drop("stripes")
        .localCheckpoint(eager=False)
    )
    # an outer shorter than anchor_len cannot contain any inner
    outer = (
        _winnow_fingerprints(outer_docs, cfg, k, w, anchor_len, text_col, id_col)
        .toDF("outer_id", "outer_norm", "anchors", "stripes").drop("anchors")
        .localCheckpoint()
    )
    if skip_stats is not None:
        # counting the searchable items materializes their checkpoint
        n_skip = (
            inner_docs.where(F.col(text_col).isNotNull()).count()
            - searchable.count()
        )
        skip_stats["n_inner_skipped"] = int(n_skip)
        if n_skip:
            import logging

            logging.getLogger("string_grouper_spark.contamination").warning(
                "%d benchmark item(s) shorter than anchor_len=%d after "
                "normalization are NOT searched for", n_skip, anchor_len
            )
    anchors = searchable.select("inner_id", F.explode("anchors").alias("wh"))
    index = outer.select(
        "outer_id", F.explode("stripes").alias("wh")
    ).dropDuplicates(["outer_id", "wh"])
    cand = (
        anchors.join(index, "wh")
        .select("inner_id", "outer_id")
        .dropDuplicates(["inner_id", "outer_id"])
    )
    verified = (
        cand.join(searchable, "inner_id")
        .join(outer, "outer_id")
        .where(F.expr("locate(inner_norm, outer_norm) > 0"))
    )
    return verified.select("inner_id", "outer_id")
