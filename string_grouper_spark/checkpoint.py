"""Stage checkpointing + lineage/metrics + resume (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

Design: every pipeline stage is a named DataFrame build.
``StageCheckpointer.stage`` runs each build once and writes its result,
tagged with ``spark_partition_id()``, to a stage table (parquet
in-sandbox; one directory per stage under a run root, or a table of a
``sources.catalog.TableIO`` catalog).  One ``groupBy(_pid).count()`` over
the written table, collected on the driver, gives

  * ``_metrics``: one row per stage (stage, fingerprint, rows_out, wall_ms,
    n_partitions, completed_at) — appended, queryable as a table.
  * ``_lineage``: one row per output partition (stage, fingerprint,
    partition_id, rows).

Reading a stage back drops the ``_pid`` tag.

Resume: a stage is SKIPPED (its table read back) iff its completion marker
carries a MATCHING fingerprint.  The fingerprint covers the stage name +
run config + input data + the fingerprints of the stages it reads, so
changing any upstream invalidates everything downstream — the same
invalidation rule a lineage-aware catalog would apply.

The pipelines below have no stage bodies of their own: each runs a plain
pipeline's stages with ``StageCheckpointer.stage`` as the stage runner, so
adding a checkpoint root never changes what a run computes.

Every multi-stage plan runs through one of two stage runners with one
call, ``stage(name, build, after=<upstream names>, reused=False)``:
``StageCheckpointer.stage`` (every stage a resumable table, nothing cached)
or ``in_memory_stages`` (``reused`` stages persisted, released when the run
exits).  A plan whose RESULT still reads a stage the runner releases
fences that result first with an eager ``localCheckpoint``, whose blocks
belong to the result and are reclaimed with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
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


@contextmanager
def in_memory_stages():
    """The in-memory stage runner: ``with in_memory_stages() as stage:``
    yields ``stage(name, build, after=(), reused=False)``, which returns
    ``build()``, persisted when ``reused``; persisted stages are released
    when the block exits.  Every read of a stage must run inside the block
    (an action, or an eager ``localCheckpoint`` fence on a result)."""
    held = []

    def stage(name, build, after=(), reused=False):
        df = build()
        if reused:
            df = df.persist()
            held.append(df)
        return df

    try:
        yield stage
    finally:
        for df in held:
            df.unpersist()


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
        self, name: str, build: Callable[[], DataFrame], after=()
    ) -> DataFrame:
        """Run (or resume) the stage ``name``; ``after`` names the stages
        its build reads, whose fingerprints key this one.  Returns the
        stage's DataFrame, always read back from its table (lineage cut)."""
        fp = _fingerprint(
            name, self.run_fp, [self.stage_fingerprint(a) for a in after], {}
        )
        sdir = self._stage_dir(name)
        meta_path = self._meta_path(name)

        # catalog tables carry the STAGE fingerprint in the identifier (it
        # folds in the run fingerprint), so two runs with different
        # roots/configs sharing one catalog namespace can never overwrite —
        # or silently resume — each other's tables
        table_name = f"{name}_{fp}_data"

        def read_tagged() -> DataFrame:
            if self.io is not None:
                return self.io.read(table_name)
            return self.spark.read.parquet(f"{sdir}/data")

        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("fingerprint") == fp:
                # tables written before the _pid tag was kept have none
                return read_tagged().drop("_pid")

        t0 = time.time()
        tagged = build().withColumn("_pid", F.spark_partition_id())
        if self.io is not None:
            self.io.write(tagged, table_name, mode="overwrite")
        else:
            tagged.write.mode("overwrite").parquet(f"{sdir}/data")
        # one job over the written table: rows per output partition
        per_part = read_tagged().groupBy("_pid").count().collect()
        self.spark.createDataFrame(
            [(name, fp, r["_pid"], r["count"]) for r in per_part],
            "stage string, fingerprint string, partition_id int, rows bigint",
        ).write.mode("append").parquet(f"{self.root}/_lineage")
        rows_out = sum(r["count"] for r in per_part)
        wall_ms = int((time.time() - t0) * 1000)
        self._append_metrics(
            {
                "stage": name,
                "fingerprint": fp,
                "rows_out": rows_out,
                "wall_ms": wall_ms,
                "n_partitions": len(per_part),
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
        # atomic-ish completion marker LAST: a crash before this point leaves
        # no meta file, so resume re-runs the stage
        os.makedirs(sdir, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump({"fingerprint": fp, "rows_out": rows_out, "wall_ms": wall_ms}, f)
        return read_tagged().drop("_pid")

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
    """``dedup.near_duplicate_clusters`` cut at its natural shuffle
    boundaries (SURVEY §3: corpus -> postings -> pairs -> components ->
    labels), each stage resumable:

        tokens    (doc, gram) rows
        idf       corpus document frequencies
        postings  L2-normalized TF-IDF postings
        edges     ``match_edges``' self-join over the postings
        labels    connected components + group representative

    Returns (<id_col>, group_rep), equal to ``near_duplicate_clusters``."""
    from .functions.tfidf import build_postings, corpus_idf, term_frequencies, tokenize
    from .operators.grouping import group_labels
    from .operators.matching import _self_join_edges

    ck = StageCheckpointer(
        spark, root, run_config={"plan": "exact", "cfg": cfg},
        input_fp=input_fingerprint(docs, [id_col, text_col]),
    )
    n_docs = docs.count()

    tokens = ck.stage("tokens", lambda: tokenize(docs, cfg, text_col, id_col))
    idf = ck.stage(
        "idf", lambda: corpus_idf(tokens, None, n_docs), after=("tokens",)
    )
    postings = ck.stage(
        "postings",
        lambda: build_postings(term_frequencies(tokens), idf, cfg),
        after=("tokens", "idf"),
    )
    edges = ck.stage(
        "edges",
        lambda: _self_join_edges(postings, docs.select(F.col(id_col)), cfg, n_docs),
        after=("postings",),
    )
    return ck.stage(
        "labels",
        lambda: group_labels(
            edges, docs.select(F.col(id_col).alias("row_id")), cfg
        ).withColumnRenamed("node", id_col),
        after=("edges",),
    )


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
    """``plans.fast_dedup.fast_lsh_dedup`` with every stage checkpointed:
    ``checkpointed_union_dedup_pipeline`` with the MinHash generator alone
    under the flagship's defaults (stages vectors, cand_minhash,
    edges_cosine, labels).  Same output as ``fast_lsh_dedup``: (<id_col>,
    component)."""
    return checkpointed_union_dedup_pipeline(
        spark, docs, cfg, root, ("minhash",), num_perm, num_bands,
        max_bucket_size, salt_above, shingle=shingle,
        shingle_words=shingle_words, text_col=text_col, id_col=id_col,
        drop_stats=drop_stats, io=io,
    )


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
    """``dedup.near_duplicate_clusters_scale`` with EVERY stage of its
    stage graph (``dedup._scale_plan``: terms, vectors, cand_minhash /
    cand_simhash, edges_cosine, edges_substring / edges_suffix, labels)
    checkpointed — the resume granularity a 10^12-document run needs: each
    generator is its own stage table, so a crash during the suffix pass
    resumes with the MinHash and SimHash candidate tables read back, not
    recomputed.  Fingerprints chain, so editing any knob invalidates only
    the stages downstream of it.

    The measured skew/drop accounting of the MinHash bucket join
    (``lsh_band_candidates``) is appended to the run's ``_metrics`` table
    as a ``skew_policy`` row whenever that stage is built, so bucket drops
    are never silent.

    Output contract is IDENTICAL to ``near_duplicate_clusters_scale``:
    (<id_col>, component), component = min id."""
    from .operators.dedup import _scale_plan, _union_generators

    knobs = {
        "plan": "union", "generators": sorted(_union_generators(generators)),
        "num_perm": num_perm, "num_bands": num_bands,
        "max_bucket_size": max_bucket_size, "max_hamming": max_hamming,
        "num_blocks": num_blocks, "anchor_len": anchor_len,
        "shingle": shingle, "shingle_words": shingle_words,
    }
    ck = StageCheckpointer(
        spark, root, run_config={"cfg": cfg, **knobs},
        input_fp=input_fingerprint(docs, [id_col, text_col]), io=io,
    )
    stats: dict = {}  # filled only when cand_minhash is built

    def stage(name, build, after=(), reused=False):
        df = ck.stage(name, build, after)
        if name == "cand_minhash" and stats:
            ck._append_metrics(
                {"stage": "skew_policy", "fingerprint": ck.stage_fingerprint(name),
                 **stats}
            )
        return df

    labels = _scale_plan(
        docs, cfg, generators, stage, text_col, id_col, None, num_perm,
        num_bands, max_bucket_size, salt_above, max_hamming, num_blocks,
        anchor_len, shingle, shingle_words, stats,
    )
    if drop_stats is not None:
        drop_stats.update(stats)
    return labels
