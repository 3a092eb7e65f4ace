"""Similarity search over embedding columns (array<float>).

Two paths:
  * ``cosine_topk_bruteforce`` — exact baseline: normalized-vector dot via a
    broadcast of the (small) query side, pure JVM expressions
    (``zip_with`` + ``aggregate``), no UDF.
  * ``lsh_cosine_topk`` — scale path: random-hyperplane (sign-LSH) bucketing
    so only docs sharing a band key are compared.  The plane matrix is a
    deterministic (seeded) numpy array broadcast once; sign keys come from
    ONE BLAS matmul per Arrow batch and candidates are re-scored by an
    Arrow-batched numpy dot — no interpreted per-pair/per-plane Catalyst
    lambdas anywhere on the scale paths (measured 10-60x slower in this
    engine's own A/Bs; see BASELINE.md optimization log).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..checkpoint import in_memory_stages
from .candidates import capped_buckets


def _norm_expr(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x))


def _dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda s, x: s + x)


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds ``unit`` (array<double>, L2=1) — precompute once, reuse in joins."""
    nrm = _norm_expr(F.col(vec_col))
    return df.withColumn(
        "unit",
        F.when(nrm > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm)),
    )


def cosine_topk_bruteforce(
    items: DataFrame,
    queries: Optional[DataFrame] = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_self_search_rows: Optional[int] = 50_000,
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, item_id, cos) per query.

    ``queries`` defaults to ``items`` (self-search, excluding self-pairs).
    The smaller side should be the query side — it is broadcast, making the
    pairwise scoring a map-only stage; the only shuffle is the top-k window
    on query_id.

    This is the EXACT BASELINE / recall oracle, O(|queries| * |items|): for
    full self-search it broadcasts the whole corpus and cross-joins it with
    itself, so above ``max_self_search_rows`` it refuses and points at
    ``lsh_cosine_topk`` (pass ``None`` to override for oracle runs).
    """
    self_search = queries is None
    if self_search and max_self_search_rows is not None:
        probe = items.limit(max_self_search_rows + 1).count()
        if probe > max_self_search_rows:
            raise ValueError(
                f"cosine_topk_bruteforce self-search on > {max_self_search_rows} "
                "rows is an O(n^2) full-corpus broadcast cross-join; use "
                "lsh_cosine_topk (scale path) or pass max_self_search_rows=None "
                "to force the exact baseline."
            )
    qs = queries if queries is not None else items
    it = with_unit_vectors(items.select(F.col(id_col).alias("item_id"), vec_col), vec_col)
    qu = with_unit_vectors(qs.select(F.col(id_col).alias("query_id"), vec_col), vec_col)
    pairs = F.broadcast(
        qu.select("query_id", F.col("unit").alias("_qu"))
    ).crossJoin(it.select("item_id", F.col("unit").alias("_iu")))
    if self_search:
        pairs = pairs.where(F.col("query_id") != F.col("item_id"))
    scored = pairs.select(
        "query_id", "item_id", _dot_expr(F.col("_qu"), F.col("_iu")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("item_id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("item_id", LongType(), False),
        StructField("cos", DoubleType(), False),
    ]
)


def cosine_topk_blocked(
    items: DataFrame,
    queries: Optional[DataFrame] = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """EXACT top-k cosine neighbors, blocked-matmul formulation — the scale
    path for exact kNN (recall 1.0 by construction).

    The query matrix is collected once (bounded by ``max_query_rows``) and
    broadcast as a single numpy array; each item partition computes one
    ``block @ Q.T`` BLAS matmul and emits only its LOCAL top-k per query
    (ties at the k-th value included, so the global winner set is never
    truncated); a final window keeps the true top-k.  Shuffle volume is
    O(n_queries * k * n_partitions) rows — independent of corpus size per
    partition.  Versus the pure-Catalyst ``cosine_topk_bruteforce`` (per-pair
    interpreted ``aggregate`` lambdas) this is the vectorized form: one C
    matmul per block instead of n*m interpreted array folds.

    Query sides larger than ``max_query_rows`` are CHUNKED automatically:
    queries are split into ceil(n/max) hash-disjoint chunks
    (pmod(xxhash64(id))), each chunk runs as an independent bounded
    broadcast + map-only matmul job, and the per-chunk results are unioned
    (each query lives in exactly one chunk, so the top-k windows never
    interact).  Total compute stays O(n_items * n_queries) — the chunking
    bounds DRIVER/broadcast memory, which is what capped the self-search.
    """
    self_search = queries is None
    qs = queries if queries is not None else items
    kk = int(k)
    # ONE scan of the query side: the slim (_id, raw vec) projection is
    # cached, then counted and collected per chunk from the cache (a scan
    # per chunk dominated the bench wall, BENCH_r03) and normalized in
    # numpy.  It is only read EAGERLY: the returned plan reads items and
    # broadcasts, so the runner may release it.
    with in_memory_stages() as stage:
        qraw = stage(
            "queries",
            lambda: qs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            reused=True,
        )
        n_q = qraw.count()
        if n_q > max_query_rows:
            # hash-disjoint chunks: sizes are binomial around n/chunks, so
            # the per-chunk collect stays near max_query_rows without a
            # global sort
            n_chunks = int(np.ceil(n_q / max_query_rows))
            qc = qraw.withColumn(
                "_chunk", F.pmod(F.xxhash64("_id"), F.lit(n_chunks)).cast("int")
            )
            parts = [
                _blocked_topk_one_chunk(
                    items, qc.where(F.col("_chunk") == c).drop("_chunk"),
                    kk, id_col, vec_col, self_search,
                )
                for c in range(n_chunks)
            ]
            local = reduce(DataFrame.unionAll, parts)
        else:
            local = _blocked_topk_one_chunk(
                items, qraw, kk, id_col, vec_col, self_search
            )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("item_id").asc())
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= kk)
        .drop("_rn")
    )


def _blocked_topk_one_chunk(
    items: DataFrame,
    qraw: DataFrame,
    kk: int,
    id_col: str,
    vec_col: str,
    self_search: bool,
) -> DataFrame:
    """One bounded query chunk: collect + broadcast the (_id, vec) frame
    (unit-normalized in numpy driver-side — no Catalyst HOF evaluation),
    emit each item partition's local top-k per query via one BLAS matmul."""
    spark = items.sparkSession
    qpdf = qraw.select("_id", "_v").toPandas()
    if not len(qpdf):
        return spark.createDataFrame([], _TOPK_SCHEMA)
    qids = qpdf["_id"].to_numpy(dtype=np.int64)
    qmat = np.stack(qpdf["_v"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0  # zero query vectors score cos 0, like the item side
    qmat = qmat / qn
    bc = spark.sparkContext.broadcast((qids, qmat))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            sims = (mat / nrm) @ qm.T  # (block, n_queries)
            if self_search:
                sims[ids[:, None] == q_ids[None, :]] = -np.inf
            b = sims.shape[0]
            if b > kk:
                kth = np.partition(sims, b - kk, axis=0)[b - kk]
                # ties at the k-th value included; -inf self-pairs never emitted
                rows, cols = np.nonzero((sims >= kth) & np.isfinite(sims))
            else:
                rows, cols = np.nonzero(np.isfinite(sims))
            yield pd.DataFrame(
                {
                    "query_id": q_ids[cols],
                    "item_id": ids[rows],
                    "cos": sims[rows, cols],
                }
            )

    return items.select(id_col, vec_col).mapInPandas(run, _TOPK_SCHEMA)


def _hyperplanes(dim: int, num_planes: int, seed: int = 0x9E3D) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(num_planes, dim)).astype(float)


def _bucket_blas_pairs(
    assigned: DataFrame,
    group_keys: list,
    schema: StructType,
    names: tuple,
    mask_fn,
    row_block: int = 1024,
) -> DataFrame:
    """Shared per-bucket BLAS kernel: one ``applyInPandas`` group per
    bucket, one row-blocked matmul over the bucket's unit vectors, rows
    selected by ``mask_fn(S, ids, s, e)`` (which may write -inf into S to
    exclude entries).  Emits (names[0]=row id, names[1]=col id,
    names[2]=score) triples — the top-k and threshold paths differ ONLY in
    their mask, so they share all scaffolding.

    This replaces the bucket self-JOIN + per-pair re-score, which shipped
    two dim-length arrays through the shuffle for EVERY candidate pair
    (O(candidates * dim) bytes, the measured bottleneck); here the shuffle
    is one slim (keys, id, unit) row per assignment in and slim triples
    out.  Memory per task is O(m * dim + row_block * m) for an m-row
    bucket — bucket-count knobs bound expected m, ``row_block`` bounds the
    score slab, and the callers' ``max_bucket_size`` caps the tail.
    """
    a_name, b_name, c_name = names

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    a_name: pd.Series([], dtype=np.int64),
                    b_name: pd.Series([], dtype=np.int64),
                    c_name: pd.Series([], dtype=np.float64),
                }
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        U = np.stack(pdf["unit"].to_numpy())
        outs = []
        for s in range(0, n, row_block):
            e = min(s + row_block, n)
            S = U[s:e] @ U.T
            r, c = np.nonzero(mask_fn(S, ids, s, e))
            outs.append(
                pd.DataFrame({a_name: ids[s + r], b_name: ids[c], c_name: S[r, c]})
            )
        return pd.concat(outs, ignore_index=True)

    return assigned.groupBy(*group_keys).applyInPandas(score, schema)


def _bucket_local_topk(
    assigned: DataFrame, group_keys: list, kk: int, row_block: int = 1024
) -> DataFrame:
    """Per-bucket LOCAL top-k (candidates tied at the k-th value
    included).  Local top-k is lossless for the global top-k over the
    candidate set — if x ranks below k-th for q inside a shared bucket,
    the k better bucketmates are also global candidates, so x can never
    enter q's global top-k (same argument as ``_blocked_topk_one_chunk``).

    Self-pairs are excluded BY ID (not by matrix position), so inputs
    carrying duplicate ids never emit (q, q) rows — matching the exact
    blocked path's ``ids == q_ids`` mask and the old join's
    ``query_id != item_id`` filter.
    """

    def topk_mask(S, ids, s, e):
        S[ids[s:e, None] == ids[None, :]] = -np.inf
        n = S.shape[1]
        if n > kk:
            kth = np.partition(S, n - kk, axis=1)[:, n - kk]
            return (S >= kth[:, None]) & np.isfinite(S)
        return np.isfinite(S)

    return _bucket_blas_pairs(
        assigned, group_keys, _TOPK_SCHEMA,
        ("query_id", "item_id", "cos"), topk_mask, row_block,
    )


def _finalize_topk(cand: DataFrame, kk: int) -> DataFrame:
    """Global top-k over bucket candidates: duplicates from multiple shared
    buckets score the same pair at most an ulp apart across BLAS block
    shapes; aggregating with max('cos') (a partial agg, not an arbitrary
    dropDuplicates pick) makes the kept score — and therefore rank-tie
    resolution at the k-th boundary — deterministic across runs."""
    dedup = cand.groupBy("query_id", "item_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("item_id").asc()
    )
    return (
        dedup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= kk)
        .drop("_rn")
    )


def _sign_lsh_buckets(
    items: DataFrame,
    dim: int,
    num_tables: int,
    planes_per_table: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec) -> (_id, unit, tbl, key): one bucket row per hash table,
    computed in ONE narrow mapInPandas pass — the plane matrix is broadcast
    once and all sign bits of a batch come from a single BLAS matmul
    (``unit @ planes.T > 0``), instead of one interpreted literal-array
    ``aggregate`` lambda per plane per row.  Unit vectors are normalized in
    the same pass (zero vectors -> zero unit, cos 0) and carried through so
    the re-score never re-evaluates a normalization expression.

    Each table hashes a vector to ``planes_per_table`` sign bits (random
    hyperplanes, deterministic seed).  P(same key per table) =
    (1 - theta/pi)^planes_per_table — multiple tables recover recall.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    planes = _hyperplanes(dim, num_tables * planes_per_table)
    spark = items.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    T, P = int(num_tables), int(planes_per_table)
    schema = StructType(
        [
            StructField("_id", LongType(), False),
            StructField("unit", ArrayType(DoubleType()), True),
            StructField("tbl", IntegerType(), False),
            StructField("key", LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        PL = bc.value
        pw = (1 << np.arange(P)).astype(np.int64)
        tbls = np.arange(T, dtype=np.int32)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            unit = mat / nrm
            bits = (unit @ PL.T) > 0  # (n, T*P), one matmul per batch
            keys = bits.reshape(n, T, P).astype(np.int64) @ pw  # (n, T)
            rep = np.repeat(np.arange(n), T)
            yield pd.DataFrame(
                {
                    "_id": ids[rep],
                    "unit": list(unit[rep]),
                    "tbl": np.tile(tbls, n),
                    "key": keys.ravel(),
                }
            )

    return items.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(assign, schema)


def lsh_cosine_topk(
    items: DataFrame,
    dim: int,
    k: int = 10,
    num_tables: int = 8,
    planes_per_table: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Approximate self top-k via sign-LSH bucketing + exact re-score.

    Only bucketmates are scored: signatures come from one broadcast-plane
    matmul pass, each (table, key) bucket scores its members with a
    row-blocked BLAS matmul and emits local top-k triples, and one slim
    dedup + window finishes — no interpreted per-pair lambdas and no pair
    join shipping dim-length arrays.

    Scale knobs: a bucket is scored in ONE task, so its members must fit
    one executor (O(m * dim) doubles + a row_block * m score slab).  Size
    ``planes_per_table`` ~ log2(n / target_bucket_size) so expected
    buckets stay small; ``max_bucket_size`` additionally DROPS over-cap
    buckets via a count-agg + anti-join (the text path's
    ``capped_buckets`` — the bucket is never materialized).  Dropping a
    megabucket is standard LSH practice (it is the low-selectivity
    noise bucket), but it is a recall trade — leave None to keep every
    bucket and rely on plane sizing.
    """
    bucketed = _sign_lsh_buckets(
        items, dim, num_tables, planes_per_table, id_col, vec_col
    )
    bucketed = capped_buckets(bucketed, max_bucket_size, ("tbl", "key"))
    return _finalize_topk(_bucket_local_topk(bucketed, ["tbl", "key"], int(k)), int(k))


def _kmeans_centroids(
    unit_sample: np.ndarray, n_centroids: int, iters: int = 10, seed: int = 0xC3A7
) -> np.ndarray:
    """Spherical k-means on a driver-side sample (numpy, deterministic).

    Lloyd iterations with cosine assignment; empty clusters re-seeded from
    the farthest points.  The sample is bounded by the caller, so this is
    O(sample * centroids * iters) driver work — the standard IVF train step.
    """
    rng = np.random.RandomState(seed)
    n = len(unit_sample)
    cents = unit_sample[rng.choice(n, size=min(n_centroids, n), replace=False)].copy()
    for _ in range(iters):
        sims = unit_sample @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = unit_sample[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    cents[c] = v / nrm
            else:
                cents[c] = unit_sample[sims.max(axis=1).argmin()]
    return cents


def ivf_cosine_topk(
    items: DataFrame,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 20_000,
    seed: int = 0xC3A7,
    max_cell_size: Optional[int] = None,
) -> DataFrame:
    """Approximate self top-k via IVF (inverted-file) bucketing.

    A cell is scored in one task (see ``lsh_cosine_topk`` scale notes):
    size ``n_centroids`` ~ n / target_cell_size; ``max_cell_size``
    optionally drops over-cap cells via count-agg + anti-join.

    Train: spherical k-means centroids on a bounded driver sample.  Assign:
    every vector joins its ``nprobe`` nearest centroid cells (multi-probe on
    BOTH sides, so two vectors are candidates iff any probed cell overlaps).
    Score: exact JVM-side dot on bucketmates only + global top-k window.

    Data-adaptive counterpart of ``lsh_cosine_topk``: on clustered
    embeddings (the realistic case) small nprobe/n_centroids gives near-1
    recall at ~nprobe/n_centroids of the brute-force comparisons; on
    uniform-random vectors (worst case, no structure) recall degrades
    gracefully with nprobe — measure on your corpus.
    """
    raw = items.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    sample_pdf = raw.select("_v").limit(train_sample).toPandas()
    sample = np.stack(sample_pdf["_v"].to_numpy()).astype(np.float64)
    snrm = np.linalg.norm(sample, axis=1, keepdims=True)
    snrm[snrm == 0] = 1.0
    cents = _kmeans_centroids(sample / snrm, n_centroids, seed=seed)
    spark = items.sparkSession
    bc = spark.sparkContext.broadcast(cents)
    npb = int(min(nprobe, len(cents)))
    # normalization happens INSIDE the assign pass and the unit vector is
    # carried through, so no (interpreted) normalization expression runs
    assigned = _ivf_assign(raw, bc, npb)
    assigned = capped_buckets(assigned, max_cell_size, ("cell",))
    return _finalize_topk(_bucket_local_topk(assigned, ["cell"], int(k)), int(k))


def _bipartite_bucket_topk(
    assigned: DataFrame, group_keys: list, kk: int, row_block: int = 1024
) -> DataFrame:
    """Per-bucket LOCAL top-k for the RETRIEVAL shape: each group holds
    item rows (``_side`` 0) and query rows (``_side`` 1); one row-blocked
    BLAS matmul scores queries against items only (never item-item or
    query-query).  Local top-k with k-th ties is lossless for the global
    top-k over each query's candidate set (pigeonhole — see
    ``_bucket_local_topk``).  Self-pairs are KEPT: explicit queries keep
    (q, q) rows, matching ``cosine_topk_bruteforce``/``_blocked`` with an
    explicit ``queries`` frame."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["_side"].to_numpy()
        qm, im = pdf[side == 1], pdf[side == 0]
        if not len(qm) or not len(im):
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype=np.int64),
                    "item_id": pd.Series([], dtype=np.int64),
                    "cos": pd.Series([], dtype=np.float64),
                }
            )
        qids = qm["_id"].to_numpy(dtype=np.int64)
        iids = im["_id"].to_numpy(dtype=np.int64)
        Q = np.stack(qm["unit"].to_numpy())
        I = np.stack(im["unit"].to_numpy())
        n = len(iids)
        outs = []
        for s in range(0, len(qids), row_block):
            e = min(s + row_block, len(qids))
            S = Q[s:e] @ I.T  # (block, n_items)
            if n > kk:
                kth = np.partition(S, n - kk, axis=1)[:, n - kk]
                r, c = np.nonzero(S >= kth[:, None])
            else:
                r, c = np.nonzero(np.ones_like(S, dtype=bool))
            outs.append(
                pd.DataFrame(
                    {"query_id": qids[s + r], "item_id": iids[c], "cos": S[r, c]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return assigned.groupBy(*group_keys).applyInPandas(score, _TOPK_SCHEMA)


def _ivf_assign(
    raw: DataFrame, bc, npb: int
) -> DataFrame:
    """(_id, _v) -> (_id, cell, unit): nearest-``npb``-centroid assignment
    in one narrow mapInPandas pass (normalization + centroid sims from one
    BLAS matmul per Arrow batch; the centroid matrix rides a broadcast)."""
    from pyspark.sql.types import ArrayType

    assign_schema = StructType(
        [
            StructField("_id", LongType(), False),
            StructField("cell", LongType(), False),
            StructField("unit", ArrayType(DoubleType()), True),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            unit = mat / nrm
            sims = unit @ C.T
            if npb >= sims.shape[1]:
                probes = np.tile(np.arange(sims.shape[1]), (len(ids), 1))
            else:
                probes = np.argpartition(-sims, npb - 1, axis=1)[:, :npb]
            rep = np.repeat(np.arange(len(ids)), probes.shape[1])
            yield pd.DataFrame(
                {
                    "_id": ids[rep],
                    "cell": probes.ravel().astype(np.int64),
                    "unit": list(unit[rep]),
                }
            )

    return raw.mapInPandas(assign, assign_schema)


class PrefitAnnIndex:
    """Query-vs-FROZEN-INDEX approximate ANN — the embedding sibling of
    ``plans.fast_dedup.PrefitLshMatcher`` and the retrieval shape an
    embedding pipeline needs (the reference's corpus-reuse workflow,
    string_grouper.py:546-644, transplanted to vector space): fit once
    over the item corpus, then serve arbitrary query batches without
    refitting or rescanning all items.

    ``method='lsh'``: the item side is sign-LSH-bucketed once (broadcast
    planes, deterministic seed) and persisted; each ``topk(queries, k)``
    buckets the query batch with the SAME planes and scores only buckets
    the queries actually touch (broadcast semi-join prune), so per-call
    cost scales with the query batch and its bucket collisions — never
    with the corpus.

    ``method='ivf'``: spherical-k-means centroids trained on a bounded
    item sample; items stored in their single nearest cell (the classic
    inverted file, O(n) index rows), queries multi-probe their ``nprobe``
    nearest cells.  ``nprobe >= n_centroids`` probes every cell, making
    retrieval EXACT by construction — the oracle configuration.

    Scoring reuses the per-bucket BLAS shape of the self-search paths:
    slim (keys, id, unit) rows in, one row-blocked matmul per touched
    bucket, slim local-top-k triples out, one global
    max-aggregate + window finish (``_finalize_topk``).  No pair join
    ever ships dim-length arrays.
    """

    def __init__(
        self,
        items: DataFrame,
        method: str = "lsh",
        dim: Optional[int] = None,
        num_tables: int = 8,
        planes_per_table: int = 8,
        n_centroids: int = 64,
        nprobe: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        train_sample: int = 20_000,
        seed: int = 0xC3A7,
        max_bucket_size: Optional[int] = None,
    ):
        if method not in ("lsh", "ivf"):
            raise ValueError(f"method must be 'lsh' or 'ivf', got {method!r}")
        self.method = method
        self.id_col, self.vec_col = id_col, vec_col
        self.num_tables, self.planes_per_table = int(num_tables), int(planes_per_table)
        self.nprobe = int(nprobe)
        self.max_bucket_size = max_bucket_size
        if method == "lsh":
            if dim is None:
                dim = len(items.select(vec_col).first()[0])
            self.dim = int(dim)
            self._keys = ["tbl", "key"]
            bucketed = _sign_lsh_buckets(
                items, self.dim, self.num_tables, self.planes_per_table,
                id_col, vec_col,
            )
        else:
            raw = items.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            sample_pdf = raw.select("_v").limit(int(train_sample)).toPandas()
            sample = np.stack(sample_pdf["_v"].to_numpy()).astype(np.float64)
            snrm = np.linalg.norm(sample, axis=1, keepdims=True)
            snrm[snrm == 0] = 1.0
            cents = _kmeans_centroids(sample / snrm, int(n_centroids), seed=seed)
            self._cents_bc = items.sparkSession.sparkContext.broadcast(cents)
            self._n_cells = len(cents)
            self._keys = ["cell"]
            # the inverted file proper: each item in its ONE nearest cell
            bucketed = _ivf_assign(raw, self._cents_bc, 1)
        bucketed = capped_buckets(bucketed, max_bucket_size, tuple(self._keys))
        self._item_buckets = bucketed.persist()
        self._item_buckets.count()  # materialize the frozen index

    def _bucket_queries(self, queries: DataFrame) -> DataFrame:
        if self.method == "lsh":
            return _sign_lsh_buckets(
                queries, self.dim, self.num_tables, self.planes_per_table,
                self.id_col, self.vec_col,
            )
        raw = queries.select(
            F.col(self.id_col).alias("_id"), F.col(self.vec_col).alias("_v")
        )
        return _ivf_assign(raw, self._cents_bc, min(self.nprobe, self._n_cells))

    def topk(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """(query_id, item_id, cos): approximate top-k items per query.

        A query sharing no bucket with any item returns no rows (the
        standard approximate-retrieval contract — raise num_tables/nprobe
        for recall).  Self-pairs are kept when a query id also exists in
        the item corpus, matching the exact explicit-queries paths."""
        qb = self._bucket_queries(queries).localCheckpoint(eager=True)
        # prune the corpus side to buckets the batch actually touches: the
        # distinct key set of a query batch is small -> broadcast semi-join
        touched = qb.select(*self._keys).dropDuplicates()
        pruned = self._item_buckets.join(F.broadcast(touched), self._keys, "leftsemi")
        assigned = pruned.select(
            *self._keys, "_id", "unit", F.lit(0).alias("_side")
        ).unionByName(
            qb.select(*self._keys, "_id", "unit", F.lit(1).alias("_side"))
        )
        return _finalize_topk(
            _bipartite_bucket_topk(assigned, self._keys, int(k)), int(k)
        )

    def save(self, path: str) -> None:
        """Persist the frozen index (bucketed items + meta; IVF also saves
        its centroids) so later jobs ``load`` and serve without re-training
        or re-bucketing the corpus.  Spark writers throughout, so ``path``
        may be any Hadoop-compatible filesystem."""
        import json as _json

        spark = self._item_buckets.sparkSession
        self._item_buckets.write.mode("overwrite").parquet(f"{path}/buckets")
        meta = {
            "method": self.method,
            "num_tables": self.num_tables,
            "planes_per_table": self.planes_per_table,
            "nprobe": self.nprobe,
            "max_bucket_size": self.max_bucket_size,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "dim": getattr(self, "dim", None),
            "n_cells": getattr(self, "_n_cells", None),
        }
        spark.createDataFrame(
            [(_json.dumps(meta),)], "meta string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
        if self.method == "ivf":
            cents = self._cents_bc.value
            spark.createDataFrame(
                [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
                "cell long, centroid array<double>",
            ).write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(cls, spark, path: str) -> "PrefitAnnIndex":
        """Rebuild a saved index: buckets re-persisted, IVF centroids
        re-broadcast (LSH planes are re-derived from the deterministic
        seed) — no item pass runs."""
        import json as _json

        self = cls.__new__(cls)
        meta = _json.loads(spark.read.json(f"{path}/meta").first()["meta"])
        self.method = meta["method"]
        self.num_tables = meta["num_tables"]
        self.planes_per_table = meta["planes_per_table"]
        self.nprobe = meta["nprobe"]
        self.max_bucket_size = meta["max_bucket_size"]
        self.id_col, self.vec_col = meta["id_col"], meta["vec_col"]
        if self.method == "lsh":
            self.dim = int(meta["dim"])
            self._keys = ["tbl", "key"]
        else:
            self._keys = ["cell"]
            self._n_cells = int(meta["n_cells"])
            cpdf = spark.read.parquet(f"{path}/centroids").toPandas().sort_values("cell")
            cents = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
            self._cents_bc = spark.sparkContext.broadcast(cents)
        self._item_buckets = spark.read.parquet(f"{path}/buckets").persist()
        self._item_buckets.count()
        return self

    def unpersist(self) -> None:
        self._item_buckets.unpersist()


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    dim: Optional[int] = None,
    num_tables: int = 8,
    planes_per_table: int = 8,
    round_digits: Optional[int] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (left_id < right_id, cos).

    ``method='lsh'`` (scale path): sign-LSH bucket equi-join generates
    candidates, exact JVM dot decides — cost scales with bucket collisions,
    not corpus^2.  ``method='exact'``: all-pairs broadcast scan, the oracle
    baseline for small corpora.  ``round_digits``: threshold on the rounded
    cosine so an independent oracle engine tie-breaks identically.
    """
    if method == "exact":
        # the ORACLE baseline: pure-Catalyst normalization + dot so the
        # independent SQL oracle (DuckDB list_cosine_similarity) tie-breaks
        # identically at the rounded threshold — keep it expression-only
        unit = with_unit_vectors(
            items.select(F.col(id_col).alias("_id"), vec_col), vec_col
        )
        l = unit.select(F.col("_id").alias("left_id"), F.col("unit").alias("_ul"))
        r = unit.select(F.col("_id").alias("right_id"), F.col("unit").alias("_ur"))
        cand = F.broadcast(l).crossJoin(r).where(F.col("left_id") < F.col("right_id"))
        cos = _dot_expr(F.col("_ul"), F.col("_ur"))
    elif method == "lsh":
        if dim is None:
            dim = len(items.select(vec_col).first()[0])
        bucketed = _sign_lsh_buckets(
            items, dim, num_tables, planes_per_table, id_col, vec_col
        )
        bucketed = capped_buckets(bucketed, max_bucket_size, ("tbl", "key"))
        # shared per-bucket BLAS kernel, thresholded INSIDE the mask (with
        # a half-ulp-of-the-rounding margin so the final rounded comparison
        # decides the boundary), ordered pairs i<j — no pair join, no
        # dim-length arrays in the shuffle
        margin = 0.5 * 10.0 ** (-round_digits) if round_digits is not None else 0.0
        cut = float(threshold) - margin
        pair_schema = StructType(
            [
                StructField("left_id", LongType(), False),
                StructField("right_id", LongType(), False),
                StructField("_cos", DoubleType(), False),
            ]
        )

        def threshold_mask(S, ids, s, e):
            return (S >= cut) & (ids[s:e, None] < ids[None, :])

        # max over multi-bucket copies, not dropDuplicates: block-shaped
        # BLAS ulp differences straddling the round_digits boundary would
        # otherwise flip the threshold decision run-to-run (same fix as
        # _finalize_topk)
        cand = (
            _bucket_blas_pairs(
                bucketed, ["tbl", "key"], pair_schema,
                ("left_id", "right_id", "_cos"), threshold_mask,
            )
            .groupBy("left_id", "right_id")
            .agg(F.max("_cos").alias("_cos"))
        )
        cos = F.col("_cos")
    else:
        raise ValueError(method)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        cand.select("left_id", "right_id", cos.alias("cos"))
        .where(F.col("cos") >= float(threshold))
    )


def embedding_dedup_clusters(
    items: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    **kwargs,
) -> DataFrame:
    """Embedding-cosine near-dup CLUSTERING: pairs >= threshold -> connected
    components.  Returns (<id_col>, component), component = min id — the
    embedding-space sibling of the text dedup pipelines (single-linkage,
    same CC kernel)."""
    from .grouping import connected_components

    pairs = embedding_near_dup_pairs(
        items, threshold, id_col=id_col, vec_col=vec_col, method=method, **kwargs
    )
    nodes = items.select(F.col(id_col))
    return connected_components(
        pairs.select(F.col("left_id").alias("u"), F.col("right_id").alias("v")), nodes
    ).withColumnRenamed("node", id_col)
