"""group_similar_strings goldens (reference test_string_grouper.py:684-813)
plus connected-components correctness vs a union-find oracle."""

import random

import numpy as np
import pandas as pd
import pandas.testing as pdt
import pytest
from pyspark.sql import functions as F

from string_grouper_spark import group_similar_strings
from string_grouper_spark.operators import grouping
from string_grouper_spark.operators.grouping import connected_components


EXPECTED_CENTROID = [
    "Mega Enterprises Corporation",
    "Hyper Startup Inc.",
    "Hyper Startup Inc.",
    "Hyper Startup Inc.",
    "Hyper Hyper Inc.",
    "Mega Enterprises Corporation",
]

EXPECTED_FIRST = [
    "Mega Enterprises Corporation",
    "Hyper Startup Incorporated",
    "Hyper Startup Incorporated",
    "Hyper Startup Incorporated",
    "Hyper Hyper Inc.",
    "Mega Enterprises Corporation",
]


def test_group_similar_strings_centroid(spark, customers_df):
    # TSG:684-705 — centroid representative at min_similarity=0.6
    got = group_similar_strings(
        customers_df["Customer Name"], min_similarity=0.6, ignore_index=True
    )
    expected = pd.Series(EXPECTED_CENTROID, name="group_rep_Customer Name")
    pdt.assert_series_equal(expected, got)


def test_group_similar_strings_never_collects_edges(spark, customers_df):
    # the self-join grouping path must run CC on the lazy Spark edge view —
    # the edge list never round-trips through the driver (VERDICT r1 #7)
    from string_grouper_spark.pandas_api import SparkStringGrouper

    sg = SparkStringGrouper(customers_df["Customer Name"], min_similarity=0.6).fit()
    out = sg.get_groups()
    assert len(out) == len(customers_df)
    assert sg._matches_pdf is None, "edge list was collected to the driver"
    # a pandas-output access still works afterwards (lazy collect on demand)
    assert len(sg.get_matches()) > 0
    assert sg._matches_pdf is not None


def test_group_labels_centroid_reads_edges_once(spark):
    # CC and the centroid weights both consume the edges; a lazy edge plan
    # would be evaluated once per consumer, so group_labels materializes it
    # once — the counting UDF sees every edge row exactly once
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from string_grouper_spark.config import MatchConfig
    from string_grouper_spark.operators.grouping import group_labels

    reads = spark.sparkContext.accumulator(0)

    # an endpoint column: both consumers need it (the similarity column is
    # pruned from the CC read)
    @udf(returnType=LongType())
    def counted(node):
        reads.add(1)
        return node

    rows = [(0, 1, 0.9), (1, 0, 0.9), (1, 2, 0.85), (2, 1, 0.85)]
    rows += [(i, i, 1.0) for i in range(5)]
    edges = spark.createDataFrame(
        rows, ["master_side", "dupe_side", "similarity"]
    ).withColumn("master_side", counted("master_side"))
    nodes = spark.range(5).select(F.col("id").alias("row_id"))
    got = group_labels(edges, nodes, MatchConfig(group_rep="centroid")).toPandas()
    assert dict(zip(got["node"], got["group_rep"])) == {0: 1, 1: 1, 2: 1, 3: 3, 4: 4}
    assert reads.value == len(rows)


def test_group_similar_strings_first(spark, customers_df):
    # TSG:767-780
    got = group_similar_strings(
        customers_df["Customer Name"],
        min_similarity=0.6,
        ignore_index=True,
        group_rep="first",
    )
    expected = pd.Series(EXPECTED_FIRST, name="group_rep_Customer Name")
    pdt.assert_series_equal(expected, got)


def test_group_similar_strings_with_index_col(spark, customers_df):
    # TSG:753-765 — keep index column
    got = group_similar_strings(customers_df["Customer Name"], min_similarity=0.6)
    expected = pd.DataFrame(
        [
            (0, "Mega Enterprises Corporation"),
            (2, "Hyper Startup Inc."),
            (2, "Hyper Startup Inc."),
            (2, "Hyper Startup Inc."),
            (4, "Hyper Hyper Inc."),
            (0, "Mega Enterprises Corporation"),
        ],
        columns=["group_rep_index", "group_rep_Customer Name"],
    )
    pdt.assert_frame_equal(expected, got)


def test_group_similar_strings_with_ids(spark, customers_df):
    # TSG:707-729 style: string ids carried through
    got = group_similar_strings(
        customers_df["Customer Name"],
        string_ids=customers_df["Customer ID"],
        min_similarity=0.6,
        ignore_index=True,
    )
    expected = pd.DataFrame(
        {
            "group_rep_Customer ID": [
                "BB016741P",
                "AA098762D",
                "AA098762D",
                "AA098762D",
                "HH072982K",
                "BB016741P",
            ],
            "group_rep_Customer Name": EXPECTED_CENTROID,
        }
    )
    pdt.assert_frame_equal(expected, got)


def test_group_single_series_fooo(spark):
    # TSG:793-813: ['foooo','bar','baz','foooob'] -> ['foooo','bar','baz','foooo']
    got = group_similar_strings(
        pd.Series(["foooo", "bar", "baz", "foooob"]), min_similarity=0.8, ignore_index=True
    )
    expected = pd.Series(["foooo", "bar", "baz", "foooo"], name="group_rep")
    pdt.assert_series_equal(expected, got)


def _uf_oracle(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # compress to component minimum
    labels = [0] * n
    comp_min = {}
    for i in range(n):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    for i in range(n):
        labels[i] = comp_min[find(i)]
    return labels


def test_connected_components_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 60
        m = rng.choice([10, 40, 80])
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [e for e in edges if e[0] != e[1]]
        expected = _uf_oracle(n, edges)
        edf = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
        nodes = spark.range(n).select(F.col("id").alias("node"))
        got = (
            connected_components(edf, nodes)
            .toPandas()
            .sort_values("node")["component"]
            .tolist()
        )
        assert got == expected, f"trial {trial}"


def test_connected_components_chain(spark):
    # worst-case diameter: a long path 0-1-2-...-99 must converge (O(log n) rounds)
    n = 100
    edges = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    got = connected_components(edf).toPandas()
    assert set(got["component"]) == {0}
    assert len(got) == n


# --- both CC paths: star rounds (_DRIVER_MAX_EDGES = 0) and the driver finish


@pytest.fixture(params=["star", "driver"])
def cc_path(request, monkeypatch):
    if request.param == "star":
        monkeypatch.setattr(grouping, "_DRIVER_MAX_EDGES", 0)
    return request.param


def _dense_oracle(a, b):
    """(distinct ids, component = min id) by union-find over dense indices."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    mins = _uf_oracle(len(ids), zip(inv[: len(a)].tolist(), inv[len(a):].tolist()))
    return ids, ids[mins]


def _hub_and_chains(rng):
    # 20,000 spokes on a hub whose id is the component's LARGEST, a 400-node
    # chain hanging off spoke 7, and a separate chain over shuffled ids
    spokes = np.arange(1, 20_001)
    chain = np.arange(20_001, 20_401)
    shuffled = rng.permutation(np.arange(60_000, 61_000))
    e = np.concatenate([
        np.stack([spokes, np.full_like(spokes, 50_000)], 1),
        np.stack([chain[:-1], chain[1:]], 1),
        [[chain[0], 7]],
        np.stack([shuffled[:-1], shuffled[1:]], 1),
    ])
    return e[rng.permutation(len(e))]


def _shuffled_chain(rng):
    ids = rng.permutation(5_000) * 3 + 11
    e = np.stack([ids[:-1], ids[1:]], 1)
    return e[rng.permutation(len(e))]


def _random_graph(rng):
    # duplicate and reversed edges and self-loops included
    e = rng.integers(0, 300, (400, 2))
    return np.concatenate([e, e[:50, ::-1], [[5, 5]]])


GRAPHS = {
    "random": (_random_graph, "bigint"),
    "hub_and_chains": (_hub_and_chains, "bigint"),
    "shuffled_chain": (_shuffled_chain, "bigint"),
    "empty": (lambda rng: np.zeros((0, 2), np.int64), "bigint"),
    "int32": (lambda rng: _random_graph(rng).astype(np.int32), "int"),
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_connected_components_paths_agree(spark, cc_path, graph):
    make, dtype = GRAPHS[graph]
    e = make(np.random.default_rng(23))
    edf = spark.createDataFrame(
        pd.DataFrame({"u": e[:, 0], "v": e[:, 1]}), f"u {dtype}, v {dtype}"
    )
    # every endpoint plus 3 isolated nodes
    extra = np.arange(3) + (int(e.max()) + 1 if len(e) else 0)
    node_ids = np.union1d(e.ravel(), extra).astype(e.dtype)
    nodes = spark.createDataFrame(pd.DataFrame({"id": node_ids}), f"id {dtype}")
    out = connected_components(edf, nodes)
    # the endpoint type on both paths, also with no edge to infer it from
    assert [f.dataType.simpleString() for f in out.schema.fields] == [dtype, dtype]
    got = out.toPandas().sort_values("node")
    ids, comp = _dense_oracle(e[:, 0], e[:, 1])
    expected = dict(zip(node_ids.tolist(), node_ids.tolist()))
    expected.update(zip(ids.tolist(), comp.tolist()))
    assert got["node"].tolist() == sorted(expected)
    assert got["component"].tolist() == [expected[n] for n in sorted(expected)]


def test_driver_components_matches_union_find():
    rng = np.random.default_rng(5)
    # a 100k-node chain over shuffled ids, edges in random order: the
    # longest hook chains the kernel can meet
    ids = rng.permutation(100_000).astype(np.int64) * 7 + 3
    order = rng.permutation(len(ids) - 1)
    got_ids, got = grouping._driver_components(ids[:-1][order], ids[1:][order])
    assert got_ids.tolist() == sorted(ids.tolist())
    assert set(got.tolist()) == {3}
    # 1M random edges over 1M nodes: a giant component plus many small ones
    a, b = rng.integers(0, 1_000_000, (2, 1_000_000))
    got_ids, got = grouping._driver_components(a, b)
    ids, expected = _dense_oracle(a, b)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got, expected)


def test_connected_components_reads_input_edges_once(spark, cc_path):
    # the upstream edge plan is evaluated once on either path: the star
    # loop's check job materializes each lazy round checkpoint before the
    # rounds read it twice (see _is_star_forest), and the driver path fetches
    # the checkpoint once
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    reads = spark.sparkContext.accumulator(0)

    @udf(returnType=LongType())
    def counted(node):
        reads.add(1)
        return node

    e = _random_graph(np.random.default_rng(1))
    edf = spark.createDataFrame(pd.DataFrame({"u": e[:, 0], "v": e[:, 1]}))
    out = connected_components(edf.withColumn("u", counted("u")))
    ids, comp = _dense_oracle(e[:, 0], e[:, 1])
    got = out.toPandas().sort_values("node")
    assert got["component"].tolist() == comp.tolist()
    assert reads.value == len(e)


def test_connected_components_leaves_no_cache_entry(spark, cc_path, settled_persisted):
    sc = spark.sparkContext
    e = _random_graph(np.random.default_rng(2))
    edf = spark.createDataFrame(pd.DataFrame({"u": e[:, 0], "v": e[:, 1]}))
    nodes = spark.range(310).select(F.col("id").alias("node"))
    before = settled_persisted()
    out = connected_components(edf, nodes)
    if cc_path == "driver":
        # the collected checkpoint is released before return, not left to
        # the next garbage collection
        assert sc._jsc.getPersistentRDDs().size() == before
    assert len(out.toPandas()) == 310
    del out
    assert settled_persisted() == before
