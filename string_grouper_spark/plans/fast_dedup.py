"""Shuffle-minimal physical plan for the flagship LSH dedup pipeline — the
library's one MinHash-LSH engine.

The exact path (functions/tfidf.py + operators/matching.py, behind
``operators.dedup.near_duplicate_clusters``) builds TF-IDF through exploded
posting tables — 4 wide stages over |docs|*|doc_len| rows.  Profiling on
local[8..32] showed those shuffles are memory-bandwidth bound: they stop
scaling with cores long before the CPU does.

This plan exploits a property of CHARACTER n-grams the exact path can't
assume: the vocabulary is bounded (ASCII-folded 3-grams: <= ~343k distinct
codes, and a gram IS its bytes), so

  1. per-doc (gram_code, tf) arrays are computed in ONE narrow mapInPandas
     pass — numpy stride tricks over the normalized bytes, no explode;
  2. the only wide stage before the candidate join is the document-frequency
     count, whose shuffle is ~|vocab| * n_partitions rows of a single long
     (map-side partial agg collapses repeats);
  3. IDF is collected (bounded!) and BROADCAST as two sorted numpy arrays;
     weights + L2 + MinHash bands all happen in a second narrow pass;
  4. the band keys are exploded into one key-only bucket table
     (``_bucket_table``), paired within a corpus (``lsh_band_candidates``)
     or across two (``_cross_bucket_pairs``);
  5. exact re-scoring joins candidates to the per-doc packed vectors by
     doc_id and runs the same `_sparse_dot` Arrow kernel.

Numeric contract: identical tf / sklearn-idf / L2 math as functions/tfidf.py
(equality asserted in tests/test_fast_plan.py to 1e-12), with gram identity
= raw n-gram bytes instead of xxhash64(gram) — collision-free, cheaper, and
exactly the reference's vocabulary (string_grouper.py:699-707).

Scope: ngram_size <= 8 (codes must fit a uint64), a vocabulary of at most
8,000,000 grams (the broadcast IDF bound) and byte n-grams (non-ASCII text
with ``normalize_to_ascii=False`` is shingled by UTF-8 bytes, not
characters); self-join (``fast_lsh_dedup``) and master-vs-new-batch
(``fast_lsh_dedup_bipartite``) corpora — the shapes the web-scale dedup
rule needs.  Outside that scope the exact
``operators.dedup.near_duplicate_clusters`` is the route, and the plan's
errors name it.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pyspark.sql.types import FloatType, IntegerType

from ..checkpoint import in_memory_stages
from ..config import MatchConfig
from ..functions.normalize import py_normalize
from ..operators.candidates import (
    _grouped_bucket_pairs,
    _salted_self_pairs,
    bucket_policy,
    capped_buckets,
)
from ..operators.similarity import LEFT, RIGHT, SIM, _rescore_dot


def _code_type(ngram_size: int):
    """Gram codes are the raw bytes packed big-endian: 3-grams need 24 bits,
    so int32 suffices for ngram_size <= 3 — HALF the shuffle bytes of the
    codes arrays in the candidate re-score (the flagship's dominant shuffle
    at scale).  Larger shingles use the full int64."""
    return IntegerType() if ngram_size <= 3 else LongType()


def _term_schema(ngram_size: int) -> StructType:
    # tfs are per-doc term counts (bounded by doc length): int32 — the
    # terms table is the persisted input of two passes, so its row bytes
    # are cache footprint + Arrow transfer, not just schema cosmetics
    return StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("codes", ArrayType(_code_type(ngram_size)), True),
            StructField("tfs", ArrayType(IntegerType()), True),
            StructField("scodes", ArrayType(LongType()), True),
        ]
    )


def _vec_schema(ngram_size: int, weight_dtype: str = "float64") -> StructType:
    # ``weight_dtype`` mirrors the reference's ``tfidf_matrix_dtype`` option
    # (string_grouper.py:161-164,190: float32 allowed for "faster processing
    # and a smaller memory footprint").  Unlike the exact path — which only
    # ROUNDS through float32 for numeric parity — the fast plan actually
    # SHIPS 4-byte floats, cutting the ws payload of the candidate re-score
    # (the flagship's dominant shuffle) in half.
    wt = FloatType() if weight_dtype == "float32" else DoubleType()
    return StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("codes", ArrayType(_code_type(ngram_size)), True),
            StructField("ws", ArrayType(wt), True),
            StructField("bands", ArrayType(LongType()), True),
        ]
    )


# back-compat aliases (int64 codes — the general shape)
TERM_SCHEMA = _term_schema(8)
VEC_SCHEMA = _vec_schema(8)


def _encode_doc(text: str, cfg: MatchConfig):
    """Normalized text -> (sorted unique gram codes, counts) via numpy.

    A gram's code is its raw bytes packed big-endian into a uint64 — a
    PERFECT hash for ngram_size <= 8, vectorized with stride tricks (no
    per-gram Python, no string objects).
    """
    n = cfg.ngram_size
    norm = py_normalize(text, cfg)
    b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
    if len(b) < n:
        return None, None
    windows = np.lib.stride_tricks.sliding_window_view(b, n).astype(np.uint64)
    codes = np.zeros(len(windows), dtype=np.uint64)
    for i in range(n):
        codes = (codes << np.uint64(8)) | windows[:, i]
    uniq, counts = np.unique(codes, return_counts=True)
    code_dtype = np.int32 if n <= 3 else np.int64  # see _code_type
    out = uniq.astype(code_dtype)
    # np.unique sorts as uint64; the downstream searchsorted kernels
    # (_sparse_dot, the idf lookup) need INT64 order.  Only ngram_size == 8
    # can produce codes >= 2^63 (non-ASCII bytes in the top position), which
    # wrap negative and break the order — re-sort both arrays when that
    # happens (n <= 7 packs at most 56 bits; n <= 3 is int32-positive).
    if n == 8 and len(out) and out[0] > out[-1]:
        order = np.argsort(out, kind="stable")
        return out[order], counts.astype(np.int32)[order]
    return out, counts.astype(np.int32)


def _word_shingle_codes(text: str, cfg: MatchConfig, shingle_words: int):
    """Distinct word-n-gram shingle codes (blake2b-64 of the joined words).

    Word shingles are the published practice for LONG-document MinHash
    (Gopher / RefinedWeb / SlimPajama): char 3-grams give random web docs
    jaccard ~0.2 (stop-grams), flooding the LSH buckets, while word 5-grams
    make unrelated docs near-disjoint.  Normalization mirrors the reference
    tokenizer's folding (lower + NFKD + strip [,-./]) but keeps whitespace
    as the word separator.
    """
    import hashlib
    import re
    import unicodedata

    if cfg.ignore_case:
        text = text.lower()
    if cfg.normalize_to_ascii and not text.isascii():
        text = unicodedata.normalize("NFKD", text).encode("ASCII", "ignore").decode()
    words = re.sub(r"[,\-./]", " ", text).split()
    if len(words) < shingle_words:
        shingles = [" ".join(words)] if words else []
    else:
        shingles = [
            " ".join(words[i : i + shingle_words])
            for i in range(len(words) - shingle_words + 1)
        ]
    if not shingles:
        return None
    out = {
        int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")
        - (1 << 63)
        for s in shingles
    }
    return np.fromiter(out, dtype=np.int64)


def doc_term_arrays(
    docs: DataFrame,
    cfg: MatchConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: str = "char",
    shingle_words: int = 5,
) -> DataFrame:
    """Narrow pass 1: (doc_id, codes, tfs, scodes) — one row per doc, no
    shuffle.  codes/tfs = char-n-gram TF (exact-rescore features); scodes =
    the MinHash shingle set: the same char codes (``shingle='char'``,
    reference semantics for short strings) or word-n-gram hashes
    (``shingle='word'``, document-scale practice)."""
    if cfg.ngram_size > 8:
        raise ValueError(
            f"fast plan supports ngram_size <= 8 (uint64 gram codes), got "
            f"{cfg.ngram_size}; use operators.dedup.near_duplicate_clusters"
        )
    if shingle not in ("char", "word"):
        raise ValueError(shingle)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes_col, tfs_col, scodes_col = [], [], []
            for t in pdf[text_col]:
                c, f = _encode_doc(t, cfg)
                codes_col.append(c)
                tfs_col.append(f)
                if shingle == "word":
                    scodes_col.append(_word_shingle_codes(t, cfg, shingle_words))
                else:
                    # char shingles: the MinHash shingle set IS the gram-code
                    # set.  Store NULL instead of a second copy — scodes is
                    # int64 where codes is int32 (ngram_size <= 3), so the
                    # duplicate was HALF the terms-row bytes through the
                    # Arrow boundary and the terms cache; doc_vectors bands
                    # from the codes column when scodes is NULL.
                    scodes_col.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "codes": codes_col,
                    "tfs": tfs_col,
                    "scodes": scodes_col,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, _term_schema(cfg.ngram_size))


def gram_document_frequencies(terms: DataFrame) -> DataFrame:
    """(code, df): the plan's ONLY wide stage before the candidate join.
    codes are unique per doc already, so count(*) == document frequency;
    map-side partial agg reduces the shuffle to ~|vocab| rows/partition."""
    return (
        terms.select(F.explode("codes").alias("code"))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _collect_idf(spark: SparkSession, terms: DataFrame, n_docs: int,
                 max_vocab: int = 8_000_000):
    # ONE job: the size guard caps the collect at max_vocab+1 rows, so an
    # over-limit vocabulary aborts without a separate count() pass (which
    # would recompute the whole terms stage when it isn't cached)
    dfreq = gram_document_frequencies(terms)
    pdf = dfreq.limit(max_vocab + 1).toPandas()
    if len(pdf) > max_vocab:
        raise ValueError(
            f"vocabulary exceeds broadcastable bound {max_vocab}; "
            "use operators.dedup.near_duplicate_clusters"
        )
    pdf = pdf.sort_values("code")
    codes = pdf["code"].to_numpy(dtype=np.int64)
    idf = (np.log((1.0 + n_docs) / (1.0 + pdf["df"].to_numpy(dtype=np.float64))) + 1.0)
    return spark.sparkContext.broadcast((codes, idf))


_MINHASH_SEED = 0x5EED_0001


def _perm_params(num_perm: int, seed: int = _MINHASH_SEED) -> np.ndarray:
    """Deterministic odd multipliers for multiply-shift universal hashing."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**62, size=num_perm, dtype=np.int64).astype(np.uint64)
    return (a * np.uint64(2) + np.uint64(1))  # force odd


def _band_mixers(num_bands: int, seed: int = _MINHASH_SEED + 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**62, size=num_bands, dtype=np.int64).astype(np.uint64)
    return (a * np.uint64(2) + np.uint64(1))


def doc_vectors(
    docs: DataFrame,
    cfg: MatchConfig,
    num_perm: int = 128,
    num_bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
    terms: Optional[DataFrame] = None,
    shingle: str = "char",
    shingle_words: int = 5,
    idf_bc=None,
) -> DataFrame:
    """Narrow pass 2: (doc_id, codes, ws, bands) — packed L2-normalized
    TF-IDF vector + MinHash band keys per doc, computed map-side against the
    broadcast IDF table.  Band keys hash the ``scodes`` shingle set.
    ``idf_bc``: a precomputed `_collect_idf` broadcast — the bipartite plan
    passes ONE corpus-spanning IDF so both sides weigh grams identically
    (reference semantics: one vocabulary over master+duplicates)."""
    spark = docs.sparkSession
    if n_docs is None:
        n_docs = docs.count()
    terms = terms if terms is not None else doc_term_arrays(
        docs, cfg, text_col, id_col, shingle, shingle_words
    )
    if idf_bc is None:
        idf_bc = _collect_idf(spark, terms, n_docs)
    perms = _perm_params(num_perm)
    mixers = _band_mixers(num_bands)
    r = num_perm // num_bands

    out_dtype = np.int32 if cfg.ngram_size <= 3 else np.int64  # _code_type
    # reference tfidf_matrix_dtype semantics: weights are computed in f64
    # (identical math to the exact path) then stored at the configured
    # precision — see _vec_schema for the shuffle-byte rationale
    w_dtype = np.float32 if cfg.tfidf_matrix_dtype == "float32" else np.float64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab_codes, vocab_idf = idf_bc.value
        nv = len(vocab_codes)
        for pdf in batches:
            codes_col, ws_col, bands_col = [], [], []
            with np.errstate(over="ignore"):
                for codes, tfs, scodes in zip(pdf["codes"], pdf["tfs"], pdf["scodes"]):
                    if codes is None or len(codes) == 0:
                        codes_col.append(None)
                        ws_col.append(None)
                        bands_col.append(None)
                        continue
                    c = np.asarray(codes, dtype=np.int64)
                    raw_codes = c  # pre-mask: char-shingle banding source
                    t = np.asarray(tfs, dtype=np.float64)
                    idx = np.searchsorted(vocab_codes, c)
                    # grams outside the fitted vocabulary are DROPPED —
                    # sklearn transform semantics for a frozen corpus fit
                    # (reference corpus reuse, SG:546-644).  Self-fit runs
                    # have every code in-vocabulary: the mask is all-true
                    # and output == input.
                    known = (idx < nv) & (vocab_codes[np.minimum(idx, nv - 1)] == c)
                    if not known.all():
                        c, t, idx = c[known], t[known], idx[known]
                    if len(c) == 0:
                        codes_col.append(None)
                        ws_col.append(None)
                        bands_col.append(None)
                        continue
                    w = t * vocab_idf[idx]
                    w /= np.sqrt((w * w).sum())
                    codes_col.append(c.astype(out_dtype))
                    ws_col.append(w.astype(w_dtype, copy=False))
                    # NULL scodes = char shingles (the shingle set IS the
                    # raw gram-code set, stored once — see doc_term_arrays);
                    # banding uses the PRE-mask codes, exactly what the
                    # duplicated scodes column carried before
                    if scodes is None and shingle == "char":
                        scodes = raw_codes
                    if scodes is None or len(scodes) == 0:
                        bands_col.append(None)
                        continue
                    # minhash over shingle codes (multiply-shift, seeded
                    # params: equal for every call with the same num_perm)
                    cu = np.asarray(scodes, dtype=np.int64).astype(np.uint64)
                    sig = (cu[:, None] * perms[None, :]).min(axis=0)
                    bands = sig.reshape(num_bands, r)
                    acc = np.zeros(num_bands, dtype=np.uint64)
                    for col in range(r):
                        acc = (acc * np.uint64(0x9E3779B97F4A7C15)) ^ bands[:, col]
                    acc = (acc * mixers) ^ np.arange(num_bands, dtype=np.uint64)
                    bands_col.append(acc.astype(np.int64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "codes": codes_col,
                    "ws": ws_col,
                    "bands": bands_col,
                }
            )

    return terms.mapInPandas(run, _vec_schema(cfg.ngram_size, cfg.tfidf_matrix_dtype))


def _bucket_table(vecs: DataFrame) -> DataFrame:
    """(doc_id, key): one row per (doc, band key) of a ``doc_vectors``
    table — the LSH bucket table every MinHash pairing reads.

    Key-only: the band key already folds the band INDEX into the 64-bit
    hash (doc_vectors: ``(acc * mixers) ^ arange``), so carrying a separate
    band column through the bucket shuffle is redundant.  Measured at 120k
    docs/16 bands: 22.6 -> 21.4 MB bucket shuffle (lz4 compresses the
    16-valued ordinal to ~nothing — the collect_list payloads dominate),
    identical pair set (2,915,711).  A cross-band key collision (~2^-64)
    would only MERGE two buckets, adding spurious candidates that the exact
    re-score filters."""
    return vecs.where(F.col("bands").isNotNull()).select(
        "doc_id", F.explode("bands").alias("key")
    )


def _cross_bucket_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct (master_side, dupe_side) pairs of two corpora's (capped)
    bucket tables: a key equi-join, one candidate per pair however many
    bands it collides in."""
    return (
        left.select("key", F.col("doc_id").alias(LEFT))
        .join(right.select("key", F.col("doc_id").alias(RIGHT)), ["key"])
        .select(LEFT, RIGHT)
        .dropDuplicates([LEFT, RIGHT])
    )


def _measured_buckets(
    buckets: DataFrame, max_bucket_size: Optional[int], salt_above, what: str
) -> Tuple[DataFrame, dict, Optional[DataFrame]]:
    """A ``key`` bucket table through ``candidates.bucket_policy``: the
    policy's accounting is logged as ``<what> skew policy`` (WARNING when
    buckets are dropped, so drops are never silent), and the over-cap keys
    are anti-joined out, so no task ever collect_lists (or salts) a dropped
    megabucket.  Returns (kept buckets, policy, hot)."""
    import logging

    stats, hot = bucket_policy(buckets, ("key",), max_bucket_size, salt_above)
    if hot is not None:
        log = logging.getLogger("string_grouper_spark.skew")
        emit = log.warning if stats["n_buckets_dropped"] else log.info
        emit("%s skew policy: %s", what, stats)
    if stats["n_buckets_dropped"]:
        over_cap = hot.where(F.col("sz") > max_bucket_size).select("key")
        buckets = buckets.join(over_cap, ["key"], "left_anti")
    return buckets, stats, hot


def lsh_band_candidates(
    vecs: DataFrame,
    max_bucket_size: Optional[int] = 1000,
    salt_above="auto",
    drop_stats: Optional[dict] = None,
) -> DataFrame:
    """Distinct banded-LSH candidate pairs (master_side, dupe_side) from a
    ``doc_vectors`` table: two docs are a candidate when they share at
    least one band key.  The flagship's bucket stage (the ``cand_minhash``
    stage of ``dedup.near_duplicate_clusters_scale``), reusable by any
    pipeline that already holds the packed vectors.

    Hot-bucket policy (SURVEY §4.2(2)): buckets above ``max_bucket_size``
    are dropped; buckets above ``salt_above`` (but within the cap) are
    SALTED — the self-join is spread over ceil(sz/salt_above)^2 sub-tasks
    instead of skewing one.  ``salt_above='auto'`` picks the threshold from
    the bucket-size histogram.  One pass (``candidates.bucket_policy``)
    measures that histogram whenever there is a cap or salting, and its
    accounting is ALWAYS logged (WARNING when buckets are dropped), so
    drops are never silent.  Salting never changes the emitted pair set.
    A ``drop_stats`` dict receives the accounting.  The bucket table is
    counted once: dropped buckets are anti-joined out, and salted ones
    sized, by the hot rows that pass kept."""
    kc = ("key",)
    buckets, stats, hot = _measured_buckets(
        _bucket_table(vecs), max_bucket_size, salt_above, "lsh"
    )
    if drop_stats is not None:
        drop_stats.update(stats)
    if stats["salt_above"] is None:
        raw_pairs = _grouped_bucket_pairs(buckets, kc)
    else:
        raw_pairs = _salted_self_pairs(buckets, stats["salt_above"], kc, hot)
    # a pair colliding in several bands is one candidate
    return raw_pairs.dropDuplicates([LEFT, RIGHT])


def _rescore(
    cand: DataFrame, left: DataFrame, right: DataFrame, min_similarity: float
) -> DataFrame:
    """(master_side, dupe_side, similarity) for candidate id-pairs: each side
    joined to its packed (doc_id, codes, ws) vectors, the Arrow dot kernel
    evaluated once per pair, sim >= ``min_similarity`` kept."""
    pl = left.select(
        F.col("doc_id").alias(LEFT), F.col("codes").alias("_g1"), F.col("ws").alias("_w1")
    )
    pr = right.select(
        F.col("doc_id").alias(RIGHT), F.col("codes").alias("_g2"), F.col("ws").alias("_w2")
    )
    return (
        cand.join(pl, LEFT)
        .join(pr, RIGHT)
        .select(LEFT, RIGHT, _rescore_dot("_g1", "_w1", "_g2", "_w2").alias(SIM))
        .where(F.col(SIM) >= float(min_similarity))
    )


def rescore_candidates_with_vecs(
    cand: DataFrame, vecs: DataFrame, cfg: MatchConfig
) -> DataFrame:
    """Exact TF-IDF cosine over candidate id-pairs via the packed-vector
    Arrow kernel: (master_side, dupe_side, similarity), sim >= threshold.
    The flagship's re-score stage, shared by every candidate generator."""
    return _rescore(cand, vecs, vecs, cfg.min_similarity)


def fast_lsh_dedup(
    docs: DataFrame,
    cfg: Optional[MatchConfig] = None,
    num_perm: int = 128,
    num_bands: int = 16,
    max_bucket_size: Optional[int] = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: Optional[int] = None,
    shingle: str = "char",
    shingle_words: int = 5,
    salt_above="auto",
    drop_stats: Optional[dict] = None,
) -> DataFrame:
    """The web-scale flagship: narrow vectorize -> bucket join -> packed
    exact re-score -> connected components.  Returns (<id_col>,
    component), component = min id.

    It is ``dedup.near_duplicate_clusters_scale`` with the MinHash
    generator alone, under the flagship's defaults: 16 bands and the
    measured hot-bucket policy (``salt_above='auto'``, see
    ``lsh_band_candidates``), so a default run on a corpus with a
    megabucket reports its drops (WARNING log + ``drop_stats``) instead of
    dropping silently."""
    from ..operators.dedup import near_duplicate_clusters_scale

    return near_duplicate_clusters_scale(
        docs, cfg, ("minhash",), text_col, id_col, n_docs, num_perm,
        num_bands, max_bucket_size, salt_above, shingle=shingle,
        shingle_words=shingle_words, drop_stats=drop_stats,
    )


def fast_lsh_dedup_bipartite(
    master: DataFrame,
    duplicates: DataFrame,
    cfg: Optional[MatchConfig] = None,
    num_perm: int = 128,
    num_bands: int = 16,
    max_bucket_size: Optional[int] = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_master: Optional[int] = None,
    n_duplicates: Optional[int] = None,
    shingle: str = "char",
    shingle_words: int = 5,
    drop_stats: Optional[dict] = None,
) -> DataFrame:
    """Shuffle-minimal INCREMENTAL dedup: match a NEW batch (``duplicates``)
    against an EXISTING corpus (``master``) without the all-pairs join.

    Same physical plan as ``fast_lsh_dedup`` — two narrow vectorize passes
    per side, one bounded-vocab IDF collect, a bucket equi-join, packed
    exact re-score — generalized to two corpora:

      * ONE IDF spans both sides (reference semantics: a single
        vocabulary/document-frequency table over master+duplicates,
        string_grouper.py:699-707), so scores equal the exact two-series
        path's to fp noise;
      * both sides band with the same seeded permutations, so a cross-
        corpus pair collides exactly as it would in a self-join;
      * each side's bucket membership is capped at ``max_bucket_size``
        independently (a bucket contributes |m|x|d| join rows).

    Returns (master_side, dupe_side, similarity) with
    sim >= cfg.min_similarity: the exact two-series path's pairs that share
    a band key.  ``drop_stats`` (a dict) receives each side's drop
    accounting (``candidates.bucket_policy``) under ``"master"`` and
    ``"duplicates"``.
    """
    import logging

    cfg = cfg or MatchConfig()
    spark = master.sparkSession
    if n_master is None:
        n_master = master.count()
    if n_duplicates is None:
        n_duplicates = duplicates.count()
    n = n_master + n_duplicates
    sides = {"master": master, "duplicates": duplicates}

    with in_memory_stages() as stage:
        # terms feed the idf collect and the vector pass; vectors the
        # bucket table and the re-score
        terms = {
            side: stage(f"terms_{side}", partial(
                doc_term_arrays, df, cfg, text_col, id_col, shingle,
                shingle_words,
            ), reused=True)
            for side, df in sides.items()
        }
        # corpus-wide IDF: document frequencies over BOTH term tables
        idf_bc = _collect_idf(
            spark, terms["master"].unionAll(terms["duplicates"]), n
        )
        vecs, capped, dropped = {}, {}, {}
        for side, df in sides.items():
            vecs[side] = stage(f"vectors_{side}", partial(
                doc_vectors, df, cfg, num_perm, num_bands, text_col, id_col, n,
                terms=terms[side], shingle=shingle,
                shingle_words=shingle_words, idf_bc=idf_bc,
            ), reused=True)
            raw = capped[side] = _bucket_table(vecs[side])
            # the cap's drop accounting and anti-join read one measured pass
            stats, hot = bucket_policy(raw, ("key",), max_bucket_size, None)
            if stats["n_buckets_dropped"]:
                capped[side] = raw.join(hot.select("key"), "key", "left_anti")
            dropped[side] = {k: v for k, v in stats.items() if k.endswith("_dropped")}
        if drop_stats is not None:
            drop_stats.update(dropped)
        if any(d["n_buckets_dropped"] for d in dropped.values()):
            logging.getLogger("string_grouper_spark.skew").warning(
                "bipartite lsh bucket drops: %s", dropped
            )
        cand = _cross_bucket_pairs(capped["master"], capped["duplicates"])
        out = _rescore(cand, vecs["master"], vecs["duplicates"], cfg.min_similarity)
        # materialization fence: downstream actions must not re-run the
        # narrow passes once the runner has released their inputs
        return out.localCheckpoint(eager=True)


class PrefitLshMatcher:
    """Corpus-FROZEN LSH matcher: fit once on an existing corpus, then
    match arbitrary new batches against it without refitting — the
    distributed form of the reference's corpus-reuse workflow
    (StringGrouper fit once, ``match_strings`` repeatedly over one
    vocabulary, string_grouper.py:546-644) and the engine behind
    streaming incremental dedup.

    Fit state (all reusable across ``match`` calls):
      * broadcast vocabulary/IDF from the CORPUS ONLY (frozen — batch
        grams outside the vocabulary are dropped, exactly sklearn
        ``transform`` on a fitted vectorizer);
      * persisted packed corpus vectors;
      * the corpus-side bucket table, capped by one measured pass at fit
        (its drops logged like ``lsh_band_candidates``'s).

    Each ``match(batch)`` runs two narrow passes over the batch plus one
    bucket equi-join + packed exact re-score — cost scales with the BATCH,
    not the corpus (the corpus side is already vectorized and cached).

    Scores are cosines in the frozen corpus feature space; they differ
    from a joint master+batch refit exactly the way the reference's
    corpus-reuse scores differ from a fresh fit.  Call ``unpersist()``
    when done.
    """

    def __init__(
        self,
        corpus: DataFrame,
        cfg: Optional[MatchConfig] = None,
        num_perm: int = 128,
        num_bands: int = 16,
        max_bucket_size: Optional[int] = 1000,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle: str = "char",
        shingle_words: int = 5,
        compact_every: int = 16,
    ):
        self.cfg = cfg or MatchConfig()
        self.num_perm, self.num_bands = num_perm, num_bands
        self.max_bucket_size = max_bucket_size
        self.text_col, self.id_col = text_col, id_col
        self.shingle, self.shingle_words = shingle, shingle_words
        self.compact_every = compact_every
        self._extend_count = 0
        spark = corpus.sparkSession
        n = corpus.count()
        with in_memory_stages() as stage:
            terms = stage("terms", partial(
                doc_term_arrays, corpus, self.cfg, text_col, id_col, shingle,
                shingle_words,
            ), reused=True)
            self.idf_bc = _collect_idf(spark, terms, n)
            # object state, not a stage: released by unpersist()
            self.corpus_vecs = doc_vectors(
                corpus, self.cfg, num_perm, num_bands, text_col, id_col, n,
                terms=terms, shingle=shingle, shingle_words=shingle_words,
                idf_bc=self.idf_bc,
            ).persist()
            self.corpus_vecs.count()  # materialize while terms is cached
        self._base_vecs = self.corpus_vecs  # the persisted fit-time piece
        self._fit_buckets()

    def _fit_buckets(self) -> None:
        # the corpus table is measured once, at fit, so its drops are logged
        self._corpus_buckets, _, _ = _measured_buckets(
            _bucket_table(self.corpus_vecs), self.max_bucket_size, None,
            "prefit corpus lsh",
        )

    def _buckets(self, vecs: DataFrame) -> DataFrame:
        # a batch's (or extension piece's) cap, without a job of its own
        # (candidates.capped_buckets)
        return capped_buckets(
            _bucket_table(vecs), self.max_bucket_size, key_cols=("key",)
        )

    def vectorize(self, batch: DataFrame) -> DataFrame:
        """Batch -> packed (doc_id, codes, ws, bands) vectors in the FROZEN
        corpus feature space, localCheckpointed eagerly: the snapshot is
        batch-sized and every downstream consumer (bucket branch, re-score
        join, ``extend``) reuses the one materialization instead of
        re-running the narrow passes."""
        return doc_vectors(
            batch, self.cfg, self.num_perm, self.num_bands,
            self.text_col, self.id_col, n_docs=1,  # idf frozen; n unused
            shingle=self.shingle, shingle_words=self.shingle_words,
            idf_bc=self.idf_bc,
        ).localCheckpoint(eager=True)

    def match(self, batch: DataFrame, self_pairs: bool = False) -> DataFrame:
        """(master_side, dupe_side, similarity) with sim >=
        cfg.min_similarity, in the frozen corpus feature space.

        Default: corpus-vs-batch pairs only (master_side = corpus id,
        dupe_side = batch id).  ``self_pairs=True`` additionally emits
        WITHIN-batch pairs (master_side < dupe_side, both batch ids) via
        the same one-shuffle grouped-bucket kernel as the batch flagship —
        without it, two batch docs that duplicate EACH OTHER but nothing in
        the corpus are invisible (the self-join semantics of the
        reference's ``match_strings``, string_grouper.py:136-138, which a
        corpus-vs-batch join alone cannot reproduce)."""
        return self.match_vecs(self.vectorize(batch), self_pairs=self_pairs)

    def match_vecs(self, vecs_b: DataFrame, self_pairs: bool = False) -> DataFrame:
        """``match`` over pre-vectorized batch vectors (see ``vectorize``) —
        lets callers that also ``extend`` the corpus pay the narrow passes
        once per batch."""
        cand = _cross_bucket_pairs(self._corpus_buckets, self._buckets(vecs_b))
        out = _rescore(cand, self.corpus_vecs, vecs_b, self.cfg.min_similarity)
        if self_pairs:
            out = out.unionByName(self._self_pairs_vecs(vecs_b))
        return out

    def match_self(self, batch: DataFrame) -> DataFrame:
        """WITHIN-batch near-dup pairs only: (master_side < dupe_side,
        similarity), both sides batch ids, scored in the frozen corpus
        feature space."""
        return self._self_pairs_vecs(self.vectorize(batch))

    def _self_pairs_vecs(self, vecs_b: DataFrame) -> DataFrame:
        cand = lsh_band_candidates(vecs_b, self.max_bucket_size, salt_above=None)
        return _rescore(cand, vecs_b, vecs_b, self.cfg.min_similarity)

    def extend(self, batch: DataFrame) -> None:
        """Absorb a batch into the frozen index: subsequent ``match`` calls
        see corpus ∪ all extended batches.  The IDF/vocabulary stays FROZEN
        (corpus-only — sklearn ``transform`` semantics throughout), so
        scores remain in one consistent feature space across the stream."""
        self.extend_vecs(self.vectorize(batch))

    def extend_vecs(self, vecs_b: DataFrame) -> None:
        """``extend`` over pre-vectorized (checkpointed) batch vectors.

        Scale shape: NO corpus re-scan — the new piece is a checkpointed
        batch-sized frame unioned into the corpus-vector and bucket VIEWS
        (each piece stays individually cached; the union is lazy), so
        per-batch extension cost is O(batch).  Each piece's buckets are
        capped independently — a bucket can reach ``max_bucket_size`` per
        piece, the same per-side contract as the bipartite plan.  Caller
        contract: batch ids are new (streamed ids never collide with corpus
        ids); duplicate ids would double-count in downstream joins — the
        contract is enforced fail-loud at each compaction (below).

        Growth bound: a week-long stream at 1-minute triggers would stack
        ~10k union nodes into the lazy views — Catalyst analysis time and
        the number of live cached fragments would grow O(n_batches).  Every
        ``compact_every`` extensions both views are collapsed into ONE
        eagerly localCheckpoint-ed frame each (row-identical: the bucket
        rows keep their per-piece caps, so ``match`` results are unchanged
        by compaction) and the superseded fragments are released — plan
        depth and live-cache count stay O(compact_every) for any stream
        length, at an amortized O(corpus / compact_every) re-materialize
        per batch."""
        self.corpus_vecs = self.corpus_vecs.unionByName(vecs_b)
        self._corpus_buckets = self._corpus_buckets.unionByName(
            self._buckets(vecs_b)
        )
        self._extend_count += 1
        if self.compact_every and self._extend_count % self.compact_every == 0:
            self._compact()

    def _compact(self) -> None:
        """Collapse the unioned extension pieces into one checkpointed
        frame per view and enforce the new-ids contract (count vs
        count-distinct over the compacted ids — an id collision between
        corpus and any absorbed batch raises here instead of silently
        double-counting in every later join)."""
        vecs = self.corpus_vecs.localCheckpoint(eager=True)
        buckets = self._corpus_buckets.localCheckpoint(eager=True)
        row = vecs.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("nd"),
        ).first()
        if row["nd"] < row["n"]:
            raise ValueError(
                f"extend() absorbed duplicate doc ids ({row['n']} rows, "
                f"{row['nd']} distinct): streamed batch ids must be new — "
                "re-delivered or corpus-colliding batches would double-count"
            )
        # release the fit-time cache entry (the checkpoint now holds every
        # row); extension-piece checkpoints are reclaimed with their RDDs
        # once the old views are dropped
        self._base_vecs.unpersist()
        self.corpus_vecs = self._base_vecs = vecs
        self._corpus_buckets = buckets

    def save(self, path: str) -> None:
        """Persist the frozen index to ``path`` (parquet + one json meta
        row) so later jobs ``load`` and serve WITHOUT refitting — the
        cross-session form of the reference's corpus-reuse workflow.
        Everything goes through Spark writers, so the path may be any
        Hadoop-compatible filesystem (HDFS/S3/local).  Extension pieces
        absorbed via ``extend`` are included (``corpus_vecs`` is the union
        view)."""
        import dataclasses
        import json as _json

        import pandas as _pd

        spark = self.corpus_vecs.sparkSession
        self.corpus_vecs.write.mode("overwrite").parquet(f"{path}/vectors")
        codes, idf = self.idf_bc.value
        spark.createDataFrame(
            _pd.DataFrame({"code": codes, "idf": idf})
        ).write.mode("overwrite").parquet(f"{path}/idf")
        meta = {
            "cfg": dataclasses.asdict(self.cfg),
            "num_perm": self.num_perm,
            "num_bands": self.num_bands,
            "max_bucket_size": self.max_bucket_size,
            "text_col": self.text_col,
            "id_col": self.id_col,
            "shingle": self.shingle,
            "shingle_words": self.shingle_words,
        }
        spark.createDataFrame(
            [(_json.dumps(meta),)], "meta string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PrefitLshMatcher":
        """Rebuild a saved matcher: vectors re-persisted, IDF re-broadcast,
        buckets re-derived — no corpus text pass runs."""
        import json as _json

        self = cls.__new__(cls)
        meta = _json.loads(spark.read.json(f"{path}/meta").first()["meta"])
        self.cfg = MatchConfig(**meta["cfg"])
        self.num_perm, self.num_bands = meta["num_perm"], meta["num_bands"]
        self.max_bucket_size = meta["max_bucket_size"]
        self.text_col, self.id_col = meta["text_col"], meta["id_col"]
        self.shingle, self.shingle_words = meta["shingle"], meta["shingle_words"]
        idf_pdf = spark.read.parquet(f"{path}/idf").toPandas().sort_values("code")
        self.idf_bc = spark.sparkContext.broadcast(
            (
                idf_pdf["code"].to_numpy(dtype=np.int64),
                idf_pdf["idf"].to_numpy(dtype=np.float64),
            )
        )
        self.corpus_vecs = spark.read.parquet(f"{path}/vectors").persist()
        self.corpus_vecs.count()
        self._base_vecs = self.corpus_vecs
        self._fit_buckets()
        return self

    def unpersist(self) -> None:
        # base corpus vectors were persisted at fit; extension pieces are
        # localCheckpoints, which Spark reclaims with their RDDs
        self._base_vecs.unpersist()
