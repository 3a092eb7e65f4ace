"""Stage checkpointing + lineage/metrics + resume (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

Design: every pipeline stage is a pure DataFrame -> DataFrame function.  A
``StageCheckpointer`` wraps each stage: results are written to a stage table
(parquet in-sandbox; the layout is Iceberg-shaped — one directory per stage
under a run root — so swapping the writer for an Iceberg catalog is a
one-line change), together with

  * ``_metrics``: one row per stage (stage, fingerprint, rows_out, wall_ms,
    n_partitions, completed_at) — appended, queryable as a table.
  * ``_lineage``: one row per output partition (stage, partition_id, rows) —
    computed with ``spark_partition_id()`` during the same write-side pass.

Resume: a stage is SKIPPED (its table read back) iff a ``_SUCCESS``-marked
stage table with a MATCHING config fingerprint exists.  The fingerprint
covers the stage name + config + upstream fingerprints, so changing any
upstream invalidates everything downstream — the same invalidation rule a
lineage-aware catalog would apply.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, is_dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(*parts) -> str:
    blob = json.dumps(
        [asdict(p) if is_dataclass(p) else p for p in parts],
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def input_fingerprint(df: DataFrame, cols: Optional[list] = None) -> str:
    """Content fingerprint of an input DataFrame, order-free and
    MULTIPLICITY-EXACT: per-row xxhash64 over ``cols`` (built with column
    objects, so names needing quoting are safe), grouped to (hash, count),
    then bit_xor of xxhash64(hash, count).  A plain xor of row hashes would
    cancel any row duplicated an even number of times; folding the count in
    makes compensating edits visible.  Two small aggregations; folded into
    the run fingerprint so a resume NEVER returns stale checkpoints when
    the input data changed under the same config."""
    cols = cols or df.columns
    per_row = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("_h"))
    hist = per_row.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
    row = hist.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("_h", "_c")), F.lit(0)).alias("h"),
    ).first()
    return _fingerprint({"rows": row["n"], "hash": row["h"], "cols": cols})


class StageCheckpointer:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        run_config=None,
        input_fp: Optional[str] = None,
        io=None,
    ):
        """``input_fp``: fingerprint of the run's INPUT data (see
        ``input_fingerprint``) — without it, re-running on changed input
        under the same root+config would silently resume stale results.

        ``io``: optional ``sources.catalog.TableIO`` — stage tables are
        written/read through it, so a configured Iceberg catalog turns every
        checkpoint into a real catalog table; without it (sandbox default)
        stages are parquet directories under ``root``."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_fp = _fingerprint(run_config or {}, input_fp or "")
        self.io = io
        os.makedirs(self.root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def _meta_path(self, stage: str) -> str:
        return f"{self._stage_dir(stage)}/_stage_meta.json"

    # -- metrics/lineage tables ----------------------------------------------
    @property
    def metrics(self) -> DataFrame:
        return self.spark.read.json(f"{self.root}/_metrics")

    @property
    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/_lineage")

    def _append_metrics(self, row: dict) -> None:
        path = f"{self.root}/_metrics"
        os.makedirs(path, exist_ok=True)
        fname = f"{path}/{row['stage']}-{row['fingerprint']}.json"
        with open(fname, "w") as f:
            f.write(json.dumps(row) + "\n")

    # -- the core wrapper ----------------------------------------------------
    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        upstream_fps: Optional[list] = None,
        extra_config=None,
    ) -> DataFrame:
        """Run (or resume) a named stage.  Returns the stage's DataFrame,
        always backed by the checkpoint table (lineage cut)."""
        fp = _fingerprint(name, self.run_fp, upstream_fps or [], extra_config or {})
        sdir = self._stage_dir(name)
        meta_path = self._meta_path(name)

        # catalog tables carry the STAGE fingerprint in the identifier (it
        # folds in the run fingerprint), so two runs with different
        # roots/configs sharing one catalog namespace can never overwrite —
        # or silently resume — each other's tables
        table_name = f"{name}_{fp}_data"

        def read_stage() -> DataFrame:
            if self.io is not None:
                return self.io.read(table_name)
            return self.spark.read.parquet(f"{sdir}/data")

        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("fingerprint") == fp:
                return read_stage()

        t0 = time.time()
        df = build()
        # lineage pass: tag partition ids, write data + per-partition counts
        tagged = df.withColumn("_pid", F.spark_partition_id())
        tagged.write.mode("overwrite").parquet(f"{sdir}/data.tmp")
        written = self.spark.read.parquet(f"{sdir}/data.tmp")
        lineage = (
            written.groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("rows"))
            .select(
                F.lit(name).alias("stage"),
                F.lit(fp).alias("fingerprint"),
                F.col("_pid").alias("partition_id"),
                "rows",
            )
        )
        lineage.write.mode("append").parquet(f"{self.root}/_lineage")
        if self.io is not None:
            self.io.write(written.drop("_pid"), table_name, mode="overwrite")
        else:
            written.drop("_pid").write.mode("overwrite").parquet(f"{sdir}/data")
        rows_out = written.count()
        n_parts = written.select("_pid").distinct().count()
        # the tmp staging dir has served its purpose (lineage + final copy)
        import shutil

        shutil.rmtree(f"{sdir}/data.tmp", ignore_errors=True)
        wall_ms = int((time.time() - t0) * 1000)
        self._append_metrics(
            {
                "stage": name,
                "fingerprint": fp,
                "rows_out": rows_out,
                "wall_ms": wall_ms,
                "n_partitions": n_parts,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
        # atomic-ish completion marker LAST: a crash before this point leaves
        # no meta file, so resume re-runs the stage
        with open(meta_path, "w") as f:
            json.dump({"fingerprint": fp, "rows_out": rows_out, "wall_ms": wall_ms}, f)
        return read_stage()

    def stage_fingerprint(self, name: str) -> Optional[str]:
        meta_path = self._meta_path(name)
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            return json.load(f).get("fingerprint")


def checkpointed_dedup_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The flagship pipeline cut at its natural shuffle boundaries
    (SURVEY §3: corpus -> postings -> pairs -> components -> labels), each
    stage resumable.  Returns (<id_col>, group_rep)."""
    from .functions.tfidf import build_postings, corpus_idf, term_frequencies, tokenize
    from .operators.grouping import group_labels
    from .operators.matching import match_edges
    from .operators.similarity import LEFT, RIGHT

    ck = StageCheckpointer(
        spark, root, run_config=cfg,
        input_fp=input_fingerprint(docs, [id_col, text_col]),
    )
    n_docs = docs.count()

    tokens = ck.stage("tokens", lambda: tokenize(docs, cfg, text_col, id_col))
    fp_tokens = ck.stage_fingerprint("tokens")

    idf = ck.stage(
        "idf", lambda: corpus_idf(tokens, None, n_docs), upstream_fps=[fp_tokens]
    )
    postings = ck.stage(
        "postings",
        lambda: build_postings(term_frequencies(tokens), idf, cfg),
        upstream_fps=[fp_tokens, ck.stage_fingerprint("idf")],
    )

    def build_edges():
        from .operators.matching import _self_similarity
        from .operators.similarity import cosine_join, symmetrize, top_n_per_left

        off = cosine_join(postings, postings, cfg.min_similarity, self_join=True)
        diag = _self_similarity(postings).where(F.col("similarity") >= cfg.min_similarity)
        edges = top_n_per_left(off.unionAll(diag), cfg.max_n_matches)
        if cfg.force_symmetries:
            edges = symmetrize(
                edges.where(F.col(LEFT) != F.col(RIGHT)),
                docs.select(F.col(id_col)),
            )
        return edges

    edges = ck.stage(
        "edges", build_edges, upstream_fps=[ck.stage_fingerprint("postings")]
    )
    labels = ck.stage(
        "labels",
        lambda: group_labels(
            edges, docs.select(F.col(id_col).alias("row_id")), cfg
        ).withColumnRenamed("node", id_col),
        upstream_fps=[ck.stage_fingerprint("edges")],
    )
    return labels


def checkpointed_lsh_dedup_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg,
    root: str,
    num_perm: int = 128,
    num_bands: int = 16,
    max_bucket_size: Optional[int] = 1000,
    salt_above="auto",
    shingle: str = "char",
    shingle_words: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_stats: Optional[dict] = None,
    io=None,
) -> DataFrame:
    """The FLAGSHIP fast LSH pipeline (plans.fast_dedup semantics) cut at
    its natural shuffle boundaries, each stage resumable:

        vectors  narrow vectorize passes (packed TF-IDF + band keys)
        pairs    bucket join -> exact packed re-score, sim >= threshold
        labels   connected components (min-id)

    Output contract is IDENTICAL to ``fast_lsh_dedup``: (<id_col>,
    component) — so toggling ``--checkpoint-root`` on the CLI never changes
    the schema or semantics of the same command.  The measured skew/drop
    policy (candidates.auto_skew_policy) is recorded as a ``skew_policy``
    row in the run's ``_metrics`` table, so bucket drops are never silent.
    """
    from .operators.candidates import (
        _grouped_bucket_pairs,
        _salted_self_pairs,
        auto_skew_policy,
        bucket_drop_stats,
    )
    from .operators.dedup import _INTEGRAL_DTYPES, run_with_long_ids
    from .operators.grouping import connected_components
    from .operators.similarity import LEFT, RIGHT
    from .plans.fast_dedup import (
        doc_term_arrays,
        doc_vectors,
        rescore_candidates_with_vecs,
    )

    if dict(docs.dtypes)[id_col] not in _INTEGRAL_DTYPES:
        # xxhash64 is deterministic, so resume fingerprints stay stable
        return run_with_long_ids(
            docs, id_col,
            lambda d, lid: checkpointed_lsh_dedup_pipeline(
                spark, d, cfg, root, num_perm, num_bands, max_bucket_size,
                salt_above, shingle, shingle_words, text_col, lid,
                drop_stats, io,
            ),
        )

    knobs = {
        "plan": "fast_lsh", "num_perm": num_perm, "num_bands": num_bands,
        "max_bucket_size": max_bucket_size, "shingle": shingle,
        "shingle_words": shingle_words,
    }
    ck = StageCheckpointer(
        spark, root, run_config={"cfg": cfg, **knobs},
        input_fp=input_fingerprint(docs, [id_col, text_col]), io=io,
    )
    n_docs = docs.count()

    cache = {}

    def build_vecs():
        terms = doc_term_arrays(docs, cfg, text_col, id_col, shingle, shingle_words)
        cache["terms"] = terms.persist()
        return doc_vectors(
            docs, cfg, num_perm, num_bands, text_col, id_col, n_docs,
            terms=cache["terms"], shingle=shingle, shingle_words=shingle_words,
        )

    vecs = ck.stage("vectors", build_vecs)
    if "terms" in cache:
        cache["terms"].unpersist()
    fp_vecs = ck.stage_fingerprint("vectors")

    def build_pairs():
        # key-only buckets + drops-aware prefilter: same pairing plan as
        # fast_lsh_dedup (the band index is folded into the key; over-cap
        # keys are anti-joined out BEFORE collect_list when the measured
        # histogram shows drops — see plans/fast_dedup.py)
        kc = ("key",)
        buckets = vecs.where(F.col("bands").isNotNull()).select(
            "doc_id", F.explode("bands").alias("key")
        )
        nonlocal salt_above
        if salt_above == "auto":
            policy = auto_skew_policy(buckets, max_bucket_size, key_cols=kc)
            salt_above = policy["salt_above"]
        else:
            policy = {"salt_above": salt_above,
                      **bucket_drop_stats(buckets, max_bucket_size, key_cols=kc)}
        cache["policy"] = policy
        if drop_stats is not None:
            drop_stats.update(policy)
        if salt_above is None:
            raw = _grouped_bucket_pairs(
                buckets, max_bucket_size, key_cols=kc,
                prefilter_hot=policy.get("n_buckets_dropped", 0) > 0,
            )
        else:
            raw = _salted_self_pairs(
                buckets, salt_above, key_cols=kc, max_bucket_size=max_bucket_size
            )
        return rescore_candidates_with_vecs(
            raw.dropDuplicates([LEFT, RIGHT]), vecs, cfg
        )

    pairs = ck.stage("pairs", build_pairs, upstream_fps=[fp_vecs])
    if "policy" in cache:
        # the measured skew/drop accounting is part of the run's metrics
        ck._append_metrics(
            {"stage": "skew_policy", "fingerprint": ck.stage_fingerprint("pairs"),
             **cache["policy"]}
        )
    labels = ck.stage(
        "labels",
        lambda: connected_components(
            pairs.select(F.col(LEFT).alias("u"), F.col(RIGHT).alias("v")),
            docs.select(F.col(id_col)),
        ).withColumnRenamed("node", id_col),
        upstream_fps=[ck.stage_fingerprint("pairs")],
    )
    return labels


def checkpointed_union_dedup_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg,
    root: str,
    generators=("minhash",),
    num_perm: int = 128,
    num_bands: int = 64,
    max_bucket_size: Optional[int] = 1000,
    salt_above=None,
    max_hamming: int = 3,
    num_blocks: int = 4,
    anchor_len: int = 16,
    shingle: str = "char",
    shingle_words: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_stats: Optional[dict] = None,
    io=None,
) -> DataFrame:
    """``near_duplicate_clusters_scale`` (the north rule's three
    interchangeable candidate generators) with EVERY stage checkpointed —
    the resume granularity a 10^12-document run actually needs: each
    generator is its own stage table, so a crash during the suffix-array
    pass resumes with the MinHash and SimHash candidate tables read back,
    not recomputed.

    Stage DAG (fingerprints chain, so editing any knob invalidates only
    downstream):

        vectors         shared narrow vectorize pass (cosine generators)
        cand_minhash    LSH band bucket join -> candidate id-pairs
        cand_simhash    Hamming-ball block join -> candidate id-pairs
        edges_cosine    union of cosine candidates -> ONE exact re-score
        edges_substring verified winnowed containments (direct edges; not
                        run when 'suffix' is requested, see
                        ``dedup._union_generators``)
        edges_suffix    exact shared-window connectivity edges
                        (``suffix_array.substring_edges``)
        labels          connected components over the edge union

    Output contract is IDENTICAL to ``near_duplicate_clusters_scale``:
    (<id_col>, component), component = min id."""
    from .operators.candidates import simhash_candidates, substring_containment
    from .operators.grouping import connected_components
    from .operators.similarity import LEFT, RIGHT
    from .plans.fast_dedup import (
        doc_term_arrays,
        doc_vectors,
        lsh_band_candidates,
        rescore_candidates_with_vecs,
    )

    from .operators.dedup import (
        _INTEGRAL_DTYPES,
        _union_generators,
        run_with_long_ids,
    )

    generators = _union_generators(generators)
    if dict(docs.dtypes)[id_col] not in _INTEGRAL_DTYPES:
        return run_with_long_ids(
            docs, id_col,
            lambda d, lid: checkpointed_union_dedup_pipeline(
                spark, d, cfg, root, generators, num_perm, num_bands,
                max_bucket_size, salt_above, max_hamming, num_blocks,
                anchor_len, shingle, shingle_words, text_col, lid,
                drop_stats, io,
            ),
        )

    knobs = {
        "plan": "union", "generators": sorted(generators),
        "num_perm": num_perm, "num_bands": num_bands,
        "max_bucket_size": max_bucket_size, "max_hamming": max_hamming,
        "num_blocks": num_blocks, "anchor_len": anchor_len,
        "shingle": shingle, "shingle_words": shingle_words,
    }
    ck = StageCheckpointer(
        spark, root, run_config={"cfg": cfg, **knobs},
        input_fp=input_fingerprint(docs, [id_col, text_col]), io=io,
    )
    cos_gens = [g for g in generators if g in ("minhash", "simhash")]
    edge_fps, edge_tables = [], []

    if cos_gens:
        # only the cosine vectorizer needs the corpus count (IDF N); a
        # substring/suffix-only run must not pay a full scan for it
        n_docs = docs.count()
        cache = {}

        def build_vecs():
            terms = doc_term_arrays(
                docs, cfg, text_col, id_col, shingle, shingle_words
            )
            cache["terms"] = terms.persist()
            return doc_vectors(
                docs, cfg, num_perm, num_bands, text_col, id_col, n_docs,
                terms=cache["terms"], shingle=shingle,
                shingle_words=shingle_words,
            )

        vecs = ck.stage("vectors", build_vecs)
        if "terms" in cache:
            cache["terms"].unpersist()
        fp_vecs = ck.stage_fingerprint("vectors")

        cand_fps, cand_tables = [], []
        if "minhash" in cos_gens:
            cand_tables.append(
                ck.stage(
                    "cand_minhash",
                    lambda: lsh_band_candidates(
                        vecs, max_bucket_size, salt_above=salt_above,
                        drop_stats=drop_stats,
                    ),
                    upstream_fps=[fp_vecs],
                )
            )
            cand_fps.append(ck.stage_fingerprint("cand_minhash"))
            if drop_stats:
                ck._append_metrics(
                    {"stage": "skew_policy", "fingerprint": cand_fps[-1],
                     **drop_stats}
                )
        if "simhash" in cos_gens:
            # derives from docs directly (signatures, not the TF-IDF vector
            # stage) — so vector-knob changes must NOT invalidate it
            cand_tables.append(
                ck.stage(
                    "cand_simhash",
                    lambda: simhash_candidates(
                        docs, cfg, max_hamming=max_hamming,
                        num_blocks=num_blocks,
                        max_bucket_size=max_bucket_size, text_col=text_col,
                        id_col=id_col, shingle=shingle,
                        shingle_words=shingle_words,
                    ).select(LEFT, RIGHT),
                )
            )
            cand_fps.append(ck.stage_fingerprint("cand_simhash"))

        def build_cos_edges():
            cand = cand_tables[0]
            for extra in cand_tables[1:]:
                cand = cand.unionByName(extra)
            if len(cand_tables) > 1:
                cand = cand.dropDuplicates([LEFT, RIGHT])
            scored = rescore_candidates_with_vecs(cand, vecs, cfg)
            return scored.select(
                F.col(LEFT).alias("u"), F.col(RIGHT).alias("v")
            )

        edge_tables.append(
            ck.stage("edges_cosine", build_cos_edges, upstream_fps=[fp_vecs] + cand_fps)
        )
        edge_fps.append(ck.stage_fingerprint("edges_cosine"))

    if "substring" in generators:
        edge_tables.append(
            ck.stage(
                "edges_substring",
                lambda: substring_containment(
                    docs, cfg, anchor_len=anchor_len, text_col=text_col,
                    id_col=id_col,
                ).select(
                    F.col("inner_id").alias("u"), F.col("outer_id").alias("v")
                ),
            )
        )
        edge_fps.append(ck.stage_fingerprint("edges_substring"))

    if "suffix" in generators:
        from .operators.suffix_array import substring_edges

        edge_tables.append(
            ck.stage(
                "edges_suffix",
                # connectivity-only edges (copies collapsed); a checkpoint
                # written by an older build resumes with its own edge set,
                # whose components are the same
                lambda: substring_edges(
                    docs, cfg, min_len=anchor_len, text_col=text_col,
                    id_col=id_col,
                ).select(F.col("left").alias("u"), F.col("right").alias("v")),
            )
        )
        edge_fps.append(ck.stage_fingerprint("edges_suffix"))

    def build_labels():
        edges = edge_tables[0]
        for extra in edge_tables[1:]:
            edges = edges.unionByName(extra)
        return connected_components(
            edges, docs.select(F.col(id_col))
        ).withColumnRenamed("node", id_col)

    return ck.stage("labels", build_labels, upstream_fps=edge_fps)
