"""The benchmark's workloads: seeded inputs, the operation, its output gate
and its traced decomposition into public-layer calls.

Each workload is a small class with four methods:

``generate(spark, seed, path)``
    write the input parquet once and return the metadata the gate needs;
``run(spark, path, meta)``
    one operation: read the parquet and run the public entry point to a
    complete, driver-side result;
``check(out, meta, seed)``
    score the result against the generator's truth (and, at the default
    seed, against the pinned digest) -> dict with ``ok``;
``traced(spark, path, meta, span)``
    the same operation re-expressed as its public-layer calls, each wrapped
    in ``span(name)`` and materialized, returning the same result.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.functions.tfidf import DOC, GRAM, W, tfidf_postings
from string_grouper_spark.operators.grouping import (
    NODE,
    connected_components,
    group_labels,
)
from string_grouper_spark.operators.similarity import (
    LEFT,
    RIGHT,
    SIM,
    candidate_pairs_from_postings,
    cosine_join,
    top_n_per_left,
)

DEFAULT_SEED = 11

# Sizes chosen so that one run (set-up, cold operation, warm operations)
# fits the benchmark's time budget on 4 cores; see perfbench/README.md.
PAGES_N = 4000
NAMES_N = 600

# md5 of the sorted labels and the cluster count at DEFAULT_SEED.
PINNED = {
    "pages_union": ("5073fcdb45ff1f104fd1830c6a232e8c", 1000),
    "names_exact": ("ec1241dc237a767c44c5dacf4614ff95", 304),
}

FLAGSHIP_CFG = MatchConfig(
    min_similarity=0.8, max_n_matches=1_000_000, tfidf_matrix_dtype="float32"
)


def _labels_digest(ids: np.ndarray, labels: np.ndarray) -> str:
    order = np.lexsort((labels, ids))
    pairs = np.stack([ids[order], labels[order]], axis=1).astype(np.int64)
    return hashlib.md5(pairs.tobytes()).hexdigest()


def _pair_set(groups) -> set:
    """Unordered pairs inside each group of an iterable of id lists."""
    out: set = set()
    for ids in groups:
        ids = sorted(ids)
        out.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    return out


def _recall(truth: set, label) -> float:
    """Share of truth pairs whose two ids carry the same output label."""
    if not truth:
        return 1.0
    return sum(1 for a, b in truth if label[a] == label[b]) / len(truth)


def _cached(df, caches: list, span_rec):
    """Persist ``df``, count it into the span's ``rows`` and keep it in
    ``caches`` for release after the operation."""
    df = df.persist()
    caches.append(df)
    span_rec.rows = df.count()
    return df


def _pinned_ok(name: str, seed: int, digest: str, n_clusters: int) -> bool:
    return seed != DEFAULT_SEED or PINNED[name] == (digest, n_clusters)


# --------------------------------------------------------------------- pages


class PagesUnion:
    """``PAGES_N`` pages from ``sources.pages.generate_pages_distributed``:
    clusters of 4 consecutive ids (member 0 original, 1 upper-cased,
    2 comma-joined, 3 a 60% prefix).  The operation is the three-generator
    surface ``near_duplicate_clusters_scale(("minhash", "substring",
    "suffix"))`` at the flagship's MinHash settings: MinHash + exact re-score
    joins members 0-2, the substring and suffix-array passes join member 3,
    and every edge goes through one connected-components pass."""

    name = "pages_union"

    def generate(self, spark, seed, path):
        from string_grouper_spark.sources.pages import generate_pages_distributed

        pages = generate_pages_distributed(spark, PAGES_N, seed=seed)
        pages.select(F.col("page_id").alias("doc_id"), "text").write.mode(
            "overwrite"
        ).parquet(path)
        return {"n": PAGES_N}

    def run(self, spark, path, meta):
        from string_grouper_spark.operators.dedup import near_duplicate_clusters_scale

        return near_duplicate_clusters_scale(
            spark.read.parquet(path), FLAGSHIP_CFG,
            generators=("minhash", "substring", "suffix"), n_docs=meta["n"],
            num_perm=128, num_bands=16, salt_above="auto", anchor_len=48,
        ).toPandas()

    def check(self, out, meta, seed):
        ids = out["doc_id"].to_numpy(np.int64)
        comp = out["component"].to_numpy(np.int64)
        digest = _labels_digest(ids, comp)
        n_clusters = int(len(np.unique(comp)))
        label = dict(zip(ids.tolist(), comp.tolist()))
        truth = _pair_set(pd.Series(ids).groupby(ids // 4).agg(list))
        recall = _recall(truth, label)
        # no component may join pages of two generated clusters
        pure = bool((pd.Series(ids // 4).groupby(comp).nunique() == 1).all())
        ok = (
            len(out) == meta["n"]
            and recall >= 0.99
            and pure
            and _pinned_ok(self.name, seed, digest, n_clusters)
        )
        return {
            "ok": ok, "digest": digest, "n_clusters": n_clusters,
            "recall": recall, "pure": pure,
        }

    def traced(self, spark, path, meta, span):
        from string_grouper_spark.operators.candidates import substring_containment
        from string_grouper_spark.operators.suffix_array import suffix_array_spans
        from string_grouper_spark.plans.fast_dedup import (
            doc_term_arrays,
            doc_vectors,
            lsh_band_candidates,
            rescore_candidates_with_vecs,
        )

        docs = spark.read.parquet(path)
        caches: list = []
        try:
            with span("fast_dedup.terms") as s:
                terms = _cached(doc_term_arrays(docs, FLAGSHIP_CFG), caches, s)
            with span("fast_dedup.vectors") as s:
                vecs = _cached(
                    doc_vectors(docs, FLAGSHIP_CFG, 128, 16, n_docs=meta["n"], terms=terms),
                    caches, s,
                )
            with span("fast_dedup.bands") as s:
                cand = _cached(lsh_band_candidates(vecs, 1000, salt_above="auto"), caches, s)
            with span("fast_dedup.rescore") as s:
                scored = _cached(
                    rescore_candidates_with_vecs(cand, vecs, FLAGSHIP_CFG), caches, s
                )
            with span("candidates.substring") as s:
                contain = _cached(
                    substring_containment(docs, FLAGSHIP_CFG, anchor_len=48), caches, s
                )
            with span("suffix_array.spans") as s:
                spans = _cached(
                    suffix_array_spans(docs, FLAGSHIP_CFG, min_len=48, truncate=48), caches, s
                )
            edges = (
                scored.select(F.col(LEFT).alias("u"), F.col(RIGHT).alias("v"))
                .unionByName(
                    contain.select(F.col("inner_id").alias("u"), F.col("outer_id").alias("v"))
                )
                .unionByName(spans.select(F.col("left").alias("u"), F.col("right").alias("v")))
            )
            with span("grouping.cc") as s:
                out = connected_components(edges, docs.select("doc_id")).withColumnRenamed(
                    NODE, "doc_id"
                ).toPandas()
                s.rows = len(out)
            return out
        finally:
            for c in caches:
                c.unpersist()


# --------------------------------------------------------------------- names

_SYLLABLES = (
    "ka ro mi te su na lo vi pe da zu ri mo ta ne bel cor fin gar hal jen kor "
    "lin mar nor pal quin ros sil tor ul ven wes xan yor zel am ber dex on"
).split()
# legal suffixes, most frequent first (drawn Zipf-like: hot grams)
_LEGAL = ["Inc.", "Corp.", "LLC", "Ltd.", "Co.", "Group", "Holdings", "PLC", "GmbH"]
_SWAP = {
    "Inc.": "Incorporated", "Corp.": "Corporation", "LLC": "Company LLC",
    "Ltd.": "Limited", "Co.": "Company", "Group": "Group Inc.",
    "Holdings": "Holdings Inc.", "PLC": "P.L.C.", "GmbH": "G.m.b.H.",
}
_STRIP = str.maketrans("", "", ",-./ \t")


def generate_names(seed: int, n: int):
    """Seeded company names: families of a base name plus case, hyphen and
    suffix-swap variants.  Returns (names, truth pairs): the truth pairs are
    the members of one family whose normalized strings are identical (case-
    and hyphen-only variants), which the reference tokenizer must group."""
    rng = random.Random(seed)
    legal_w = [1.0 / (i + 1) for i in range(len(_LEGAL))]
    names, family = [], []
    fam = 0
    while len(names) < n:
        words = [
            "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))).capitalize()
            for _ in range(rng.randint(1, 3))
        ]
        legal = rng.choices(_LEGAL, legal_w)[0]
        members = [" ".join(words) + " " + legal]
        if rng.random() < 0.5:
            members.append(rng.choice([str.upper, str.lower])(members[0]))
        if len(words) > 1 and rng.random() < 0.5:
            members.append("-".join(words) + " " + legal)
        if rng.random() < 0.3:
            members.append(" ".join(words) + " " + _SWAP[legal])
        for m in members[: n - len(names)]:
            names.append(m)
            family.append(fam)
        fam += 1
    keys: dict = {}
    for i, (s, f) in enumerate(zip(names, family)):
        keys.setdefault((f, s.lower().translate(_STRIP)), []).append(i)
    return names, _pair_set(keys.values())


class NamesExact:
    name = "names_exact"

    def generate(self, spark, seed, path):
        names, truth = generate_names(seed, NAMES_N)
        spark.createDataFrame(
            pd.DataFrame({"row_id": np.arange(len(names), dtype=np.int64), "name": names})
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return {"n": len(names), "truth": truth}

    @staticmethod
    def series(spark, path):
        pdf = spark.read.parquet(path).toPandas().sort_values("row_id")
        return pd.Series(pdf["name"].to_numpy(), name="name")

    def run(self, spark, path, meta):
        from string_grouper_spark.pandas_api import group_similar_strings

        return group_similar_strings(self.series(spark, path), min_similarity=0.8)

    def check(self, out, meta, seed):
        # the reference default (ignore_index=False) returns (index, group rep)
        reps = (out.iloc[:, -1] if isinstance(out, pd.DataFrame) else out).to_numpy()
        digest = hashlib.md5("\n".join(map(str, reps)).encode()).hexdigest()
        n_clusters = int(len(set(reps)))
        recall = _recall(meta["truth"], reps)
        ok = (
            len(reps) == meta["n"]
            and recall >= 0.99
            and _pinned_ok(self.name, seed, digest, n_clusters)
        )
        return {"ok": ok, "digest": digest, "n_clusters": n_clusters, "recall": recall}

    def traced(self, spark, path, meta, span):
        """``group_similar_strings`` as its public-layer calls: postings ->
        gram join -> (top-n, symmetry repair, centroid grouping) -> pandas
        assembly.  ``span.counters`` receives the gram join's attempts."""
        series = self.series(spark, path)
        n = len(series)
        cfg = MatchConfig.from_kwargs(min_similarity=0.8)
        master = spark.createDataFrame(
            pd.DataFrame({"row_id": np.arange(n, dtype=np.int64), "text": series.to_numpy()})
        )
        caches: list = []
        try:
            with span("tfidf.postings") as s:
                post = _cached(
                    tfidf_postings(master, None, cfg.evolve(force_symmetries=False), n_master=n)[0],
                    caches, s,
                )
            with span("similarity.cosine_join") as s:
                off = _cached(
                    cosine_join(post, post, cfg.min_similarity, self_join=True), caches, s
                )
            with span("aux"):
                dfs = post.groupBy(GRAM).count().toPandas()["count"].to_numpy(np.int64)
                span.counters["join_rows"] = int((dfs * (dfs - 1) // 2).sum())
                span.counters["candidate_pairs"] = candidate_pairs_from_postings(post, n).count()
            with span("grouping.group_labels") as s:
                diag = (
                    post.groupBy(DOC)
                    .agg(F.sum(F.col(W) * F.col(W)).alias(SIM))
                    .select(F.col(DOC).alias(LEFT), F.col(DOC).alias(RIGHT), SIM)
                    .where(F.col(SIM) >= float(cfg.min_similarity))
                )
                pre = top_n_per_left(off.unionAll(diag), cfg.max_n_matches)
                offd = pre.where(F.col(LEFT) != F.col(RIGHT))
                mirrored = offd.select(
                    F.col(RIGHT).alias(LEFT), F.col(LEFT).alias(RIGHT), F.col(SIM)
                )
                ones = spark.range(n).select(
                    F.col("id").alias(LEFT), F.col("id").alias(RIGHT), F.lit(1.0).alias(SIM)
                )
                edges = (
                    offd.unionAll(mirrored).unionAll(ones)
                    .groupBy(LEFT, RIGHT).agg(F.max(SIM).alias(SIM))
                )
                nodes = spark.range(n).select(F.col("id").alias("row_id"))
                labels = group_labels(edges, nodes, cfg).toPandas()
                s.rows = len(labels)
        finally:
            for c in caches:
                c.unpersist()
        rep = labels.set_index(NODE)["group_rep"].reindex(range(n)).to_numpy()
        return series.iloc[rep].reset_index(drop=True)


WORKLOADS = {w.name: w for w in (PagesUnion(), NamesExact())}
