"""End-to-end curation flow: url dedup -> quality gate -> near-dup
clustering -> canonical election -> host report, function and CLI."""

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from string_grouper_spark.__main__ import main
from string_grouper_spark.plans.curate import curate_pages
from string_grouper_spark.sources.pages import wrap_html

_STOPS = "the be to of and that have with"


def _clean_text():
    words = _STOPS.split() + [f"filler{i:02d}x" for i in range(52)]
    return " ".join(words)


def _pages_pdf():
    t1 = _clean_text()
    t1_case = t1.upper()  # tokenizer-erased edit: cosine 1.0, gopher-clean
    t2 = " ".join(
        _STOPS.split() + [f"other{i:02d}z" for i in range(52)]
    )
    rows = [
        # two crawls of ONE canonical url: the later (utm) one must lose
        ("https://a.com/page?utm_source=x", dt.datetime(2024, 1, 2), t1),
        ("https://a.com/page", dt.datetime(2024, 1, 1), t1),
        # near-dup of t1 on another host, crawled later
        ("https://b.com/one", dt.datetime(2024, 1, 3), t1_case),
        # junk: fails word_count
        ("https://b.com/two", dt.datetime(2024, 1, 1), "tiny page"),
        # distinct clean doc
        ("https://c.com/solo", dt.datetime(2024, 1, 5), t2),
    ]
    return pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": [r[1] for r in rows],
            "html": [wrap_html(r[2]) for r in rows],
            "text": [r[2] for r in rows],
            "lang": ["en"] * len(rows),
        }
    )


def test_curate_pages_flow(spark):
    pages = spark.createDataFrame(_pages_pdf())
    res = curate_pages(
        spark, pages, generators=("minhash",),
        num_bands=32, max_bucket_size=None,
    )
    c = res["counters"]
    assert c == {
        "n_input": 5,
        "n_after_url_dedup": 4,
        "n_dropped_url_dedup": 1,
        "n_after_quality": 3,
        "n_clusters": 2,
        "n_curated": 2,
    }
    curated = res["curated"].toPandas().sort_values("url").reset_index(drop=True)
    # cluster {a.com/page, b.com/one}: earliest warc_ts wins
    assert list(curated["url"]) == ["https://a.com/page", "https://c.com/solo"]
    dropped = res["dropped"].toPandas().set_index("url")
    assert dropped.loc["https://a.com/page?utm_source=x", "stage"] == "url_dedup"
    assert dropped.loc["https://b.com/two", "stage"] == "quality"
    assert "word_count" in dropped.loc["https://b.com/two", "reasons"]
    hosts = res["host_stats"].toPandas().set_index("host")
    # a.com + b.com share a cluster -> cross-host syndication visible
    assert hosts.loc["a.com", "cross_host_pages"] == 1
    assert hosts.loc["b.com", "cross_host_pages"] == 1
    assert hosts.loc["c.com", "cross_host_pages"] == 0
    clusters = res["clusters"].toPandas()
    assert len(clusters) == 3  # full labeling of quality survivors


def test_curate_cli_from_warc(spark, tmp_path):
    from string_grouper_spark.sources.warc import write_warc

    pages = spark.createDataFrame(_pages_pdf())
    shards = f"{tmp_path}/shards"
    write_warc(pages, shards, num_files=2)
    out = f"{tmp_path}/out"
    assert main([
        "curate", "--input", shards, "--input-format", "warc",
        "--output-dir", out, "--num-bands", "32",
        "--checkpoint-root", f"{tmp_path}/ck",
    ]) == 0
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.count() == 2
    assert set(curated.columns) == {"url", "warc_ts", "text", "lang", "component"}
    assert spark.read.parquet(f"{out}/dropped").count() == 2
    assert spark.read.parquet(f"{out}/host_stats").count() == 3
    # the clustering stage checkpointed (resumable)
    stages = set(spark.read.json(f"{tmp_path}/ck/_metrics").toPandas()["stage"])
    assert "labels" in stages
    # the run's counters persist with the outputs (north-rule metrics table)
    metrics = (
        spark.read.json(f"{out}/_metrics").toPandas()
        .set_index("counter")["value"].to_dict()
    )
    assert metrics["n_input"] == 5 and metrics["n_curated"] == 2


def test_null_ts_page_never_elected_canonical(spark):
    """Struct-min comparison sorts NULL first; the far-future sentinel must
    keep a page whose WARC-Date failed to parse from beating every real
    earliest crawl in its cluster."""
    t1 = _clean_text()
    pdf = pd.DataFrame(
        {
            "url": ["https://a.com/real", "https://b.com/nullts"],
            "warc_ts": [dt.datetime(2024, 1, 2), None],
            "html": [wrap_html(t1), wrap_html(t1.upper())],
            "text": [t1, t1.upper()],
            "lang": ["en", "en"],
        }
    )
    pages = spark.createDataFrame(pdf)
    res = curate_pages(
        spark, pages, generators=("minhash",), num_bands=32,
        max_bucket_size=None,
    )
    curated = res["curated"].toPandas()
    assert res["counters"]["n_clusters"] == 1
    assert list(curated["url"]) == ["https://a.com/real"]


def test_recrawl_same_url_is_accounted_in_dropped(spark):
    """Two crawls with the IDENTICAL url (routine re-crawl): the losing row
    must appear in `dropped` — a url-only anti-join would hide it."""
    t1 = _clean_text()
    pdf = pd.DataFrame(
        {
            "url": ["https://a.com/p", "https://a.com/p"],
            "warc_ts": [dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)],
            "html": [wrap_html(t1)] * 2,
            "text": [t1] * 2,
            "lang": ["en"] * 2,
        }
    )
    res = curate_pages(
        spark, spark.createDataFrame(pdf), generators=("minhash",),
        num_bands=32, max_bucket_size=None,
    )
    dropped = res["dropped"].toPandas()
    assert res["counters"]["n_dropped_url_dedup"] == 1
    assert len(dropped) == 1
    assert dropped.iloc[0]["url"] == "https://a.com/p"
    assert dropped.iloc[0]["stage"] == "url_dedup"
    # the kept crawl is the earliest
    kept_ts = res["curated"].toPandas()["warc_ts"]
    assert list(kept_ts) == [dt.datetime(2024, 1, 1)]


def test_kept_null_ts_page_not_falsely_dropped(spark):
    """The drop-accounting anti-join must be null-safe on warc_ts: a KEPT
    page whose WARC-Date failed to parse must not appear in `dropped`."""
    t1 = _clean_text()
    pdf = pd.DataFrame(
        {
            "url": ["https://a.com/nullts"],
            "warc_ts": [pd.NaT],
            "html": [wrap_html(t1)],
            "text": [t1],
            "lang": ["en"],
        }
    )
    pages = spark.createDataFrame(pdf).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    res = curate_pages(
        spark, pages, generators=("minhash",), num_bands=32,
        max_bucket_size=None,
    )
    assert res["dropped"].count() == 0
    assert res["counters"]["n_dropped_url_dedup"] == 0
    assert res["curated"].count() == 1
