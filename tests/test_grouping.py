"""group_similar_strings goldens (reference test_string_grouper.py:684-813)
plus connected-components correctness vs a union-find oracle."""

import random

import numpy as np
import pandas as pd
import pandas.testing as pdt
from pyspark.sql import functions as F

from string_grouper_spark import group_similar_strings
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
        comp_min.setdefault(r, i)  # first i touching r is NOT necessarily min
    # do a second pass for true minimum
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
