"""The north rule's three interchangeable candidate generators behind one
clustering contract (near_duplicate_clusters_scale): minhash == simhash ==
substring == exact on tokenizer-erased duplicates, and the minhash ∪
substring union closes the prefix-dup gap a cosine threshold structurally
misses."""

import re

import pandas as pd
import pytest

from string_grouper_spark.config import MatchConfig
from string_grouper_spark.operators.dedup import (
    _union_generators,
    components_only,
    near_duplicate_clusters_scale,
)

_BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark shuffles partition data across executors during wide transformations",
    "minhash signatures approximate jaccard similarity between shingle sets",
    "connected components label every node with the minimum id in its group",
    "winnowing samples rolling hashes to index substrings at scale cheaply",
    "completely unrelated content about cooking pasta with garlic and olive oil",
]


def _erased_fixture(spark):
    # duplicates differ ONLY by case / [,-./] punctuation / whitespace —
    # erased by the tokenizer, so every dup pair has identical normalized
    # text (cosine 1.0, simhash distance 0, mutual substring containment)
    rows = []
    for i, t in enumerate(_BASE):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t.upper()))
        rows.append((i * 10 + 2, t.replace(" ", " , ")))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.mark.parametrize("gen", ["minhash", "simhash", "substring"])
def test_each_generator_matches_exact_path(spark, gen):
    docs = _erased_fixture(spark)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    exact = (
        components_only(docs, cfg)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = (
        near_duplicate_clusters_scale(docs, cfg, generators=(gen,))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exact)
    # non-degenerate: the fixture really has 6 clusters of 3
    assert exact["component"].nunique() == len(_BASE)


def test_minhash_simhash_union_still_matches_exact(spark):
    docs = _erased_fixture(spark)
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    exact = (
        components_only(docs, cfg)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = (
        near_duplicate_clusters_scale(docs, cfg, generators=("minhash", "simhash"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exact)


def test_substring_union_closes_prefix_gap(spark):
    # a 60% prefix slice sits below the 0.8 cosine threshold (~0.77), so the
    # cosine path CANNOT merge it — the substring generator must
    long = (
        "data spark shuffle partition join window batch stream table column "
        "row key value hash sort merge scan filter group agg query plan "
        "stage task executor driver memory disk network latency throughput"
    )
    words = long.split()
    prefix = " ".join(words[: int(len(words) * 0.6)])
    rows = [(0, long), (1, prefix), (2, _BASE[5]), (3, _BASE[5].upper())]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)

    only_cos = near_duplicate_clusters_scale(
        docs, cfg, generators=("minhash",)
    ).toPandas().set_index("doc_id")["component"]
    assert only_cos.loc[0] != only_cos.loc[1]  # prefix dup missed by design

    full = near_duplicate_clusters_scale(
        docs, cfg, generators=("minhash", "substring")
    ).toPandas().set_index("doc_id")["component"]
    assert full.loc[0] == full.loc[1] == 0  # containment edge merges them
    assert full.loc[2] == full.loc[3] == 2  # cosine dups still clustered
    assert full.loc[0] != full.loc[2]


def test_generator_validation(spark):
    docs = _erased_fixture(spark)
    with pytest.raises(ValueError, match="unknown candidate generators"):
        near_duplicate_clusters_scale(docs, generators=("minhash", "lsh2"))
    with pytest.raises(ValueError, match="at least one"):
        near_duplicate_clusters_scale(docs, generators=())


def test_union_suffix_generator(spark):
    # 'suffix' = the exact distributed suffix-array pass: a shared
    # >= anchor_len normalized run is an edge even when cosine is far below
    # threshold (long unrelated flanks) AND no containment holds — the case
    # both the cosine leg and the winnowed containment generator miss
    shared = "an exactly repeated boilerplate sentence fragment"
    rows = [
        (0, " ".join(_BASE) + " " + shared),
        (1, shared + " " + " ".join(reversed(_BASE)) + " totally different tail"),
        (2, "nothing in common with the others at all"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    cfg = MatchConfig(min_similarity=0.95, max_n_matches=1_000_000)
    got = (
        near_duplicate_clusters_scale(
            docs, cfg, generators=("minhash", "suffix"), anchor_len=16
        )
        .toPandas()
        .set_index("doc_id")["component"]
    )
    assert got.loc[0] == got.loc[1] == 0
    assert got.loc[2] == 2
    # cosine-only at the same config does NOT join them (proves the edge
    # came from the suffix generator, not the re-score)
    cos = (
        near_duplicate_clusters_scale(docs, cfg, generators=("minhash",))
        .toPandas()
        .set_index("doc_id")["component"]
    )
    assert cos.loc[0] == 0 and cos.loc[1] == 1


def test_union_word_shingle_mode(spark):
    # the published long-webtext config: word-5-gram shingles drive both the
    # minhash banding and the exact re-score; erased-edit dups (case only —
    # word boundaries preserved) still cluster, and the substring generator
    # still contributes containment edges
    long = " ".join(_BASE) + " " + " ".join(reversed(_BASE))
    prefix = " ".join(long.split()[: int(len(long.split()) * 0.6)])
    rows = [(0, long), (1, long.upper()), (2, prefix), (3, "tiny unrelated doc here")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    cfg = MatchConfig(min_similarity=0.8, max_n_matches=1_000_000)
    got = near_duplicate_clusters_scale(
        docs, cfg, generators=("minhash", "substring"), shingle="word"
    ).toPandas().set_index("doc_id")["component"]
    assert got.loc[0] == got.loc[1] == got.loc[2] == 0
    assert got.loc[3] == 3


def _mixed_fixture(spark):
    # a prefix dup (containment and shared window, below the cosine
    # threshold), a case-only dup (cosine), two docs that share only an
    # interior run (suffix only), and an unrelated doc
    long = " ".join(_BASE[:4])
    prefix = " ".join(long.split()[: int(len(long.split()) * 0.6)])
    shared = "an exactly repeated boilerplate sentence fragment"
    rows = [
        (0, long), (1, prefix), (2, _BASE[5]), (3, _BASE[5].upper()),
        (4, "lorem ipsum dolor sit amet consectetur adipiscing elit " + shared),
        (5, shared + " sed do eiusmod tempor incididunt ut labore et dolore"),
        (6, "nothing in common with the others at all"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _labels_and_plans(monkeypatch, docs, generators):
    """(labels, plans of every frame handed to localCheckpoint): the
    connected-components input and each pass checkpointed below it."""
    plans = []
    orig = type(docs).localCheckpoint

    def capture(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", capture)
    cfg = MatchConfig(min_similarity=0.95, max_n_matches=1_000_000)
    out = near_duplicate_clusters_scale(docs, cfg, generators=generators)
    labels = out.toPandas().set_index("doc_id")["component"].sort_index()
    monkeypatch.setattr(type(docs), "localCheckpoint", orig)
    return labels.to_dict(), plans


def _ran(plans, column: str) -> bool:
    # the winnow pass outputs `stripes`, the suffix windows `suff`
    return any(re.search(rf"\b{column}#", p) for p in plans)


def test_suffix_union_skips_the_substring_pass(spark, monkeypatch):
    docs = _mixed_fixture(spark)
    got, plans = _labels_and_plans(
        monkeypatch, docs, ("minhash", "substring", "suffix")
    )
    want, want_plans = _labels_and_plans(monkeypatch, docs, ("minhash", "suffix"))
    assert got == want == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4, 6: 6}
    assert not _ran(plans, "stripes") and _ran(plans, "suff")
    assert not _ran(want_plans, "stripes")


def test_substring_union_keeps_its_plan(spark, monkeypatch):
    # the q_union_dedup oracle's generators: the winnow pass runs, the
    # suffix pass does not, and the labels are unchanged
    got, plans = _labels_and_plans(
        monkeypatch, _mixed_fixture(spark), ("minhash", "substring")
    )
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5, 6: 6}
    assert _ran(plans, "stripes") and not _ran(plans, "suff")


def test_union_generators_rule():
    assert _union_generators("suffix") == ("suffix",)
    assert _union_generators(["minhash", "substring", "suffix"]) == ("minhash", "suffix")
    assert _union_generators(("substring", "minhash")) == ("substring", "minhash")
    with pytest.raises(ValueError, match="at least one"):
        _union_generators(())
