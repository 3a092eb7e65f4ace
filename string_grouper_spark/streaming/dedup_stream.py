"""Structured-Streaming dedup for a pages/documents stream.

The reference has no streaming story (SURVEY §2.3); at web scale ingest is a
stream, so the engine ships streaming operators, among them:

  * ``streaming_exact_dedup`` — drop exact-content duplicates within a
    watermark horizon: ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    on the content hash.  Plain ``dropDuplicates(subset)`` only evicts state
    when the event-time column is part of the subset; the WithinWatermark
    variant bounds state by the horizon for any subset — required at 10^12
    docs.
  * ``streaming_simhash_tag`` — stateless per-batch signature tagging
    with the batch SimHash kernel (the Hamming-ball join then runs as
    periodic batch compaction over the signature sink, which is the
    standard lambda design for streaming near-dup: signatures streamed,
    candidate joins batched).

``streaming_incremental_dedup`` + ``compact_incremental_matches`` close
that lambda loop end-to-end: micro-batches are matched against a frozen
corpus and appended to a pair sink; the compaction job folds the sink into
the same (id, component) labels the batch flagship produces.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup over a stream: first-seen row per content hash survives.

    State is bounded: hash entries older than the watermark horizon are
    evicted (``dropDuplicatesWithinWatermark`` — unlike ``dropDuplicates``
    on a non-event-time subset, whose state grows with stream length), so
    memory is O(rows per horizon).  A duplicate arriving AFTER its
    original's horizon expires is re-emitted — the standard
    horizon-bounded-dedup contract; the periodic batch compaction catches
    those.
    """
    return (
        stream.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def streaming_url_dedup(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """URL-level dedup over a crawl stream: first-seen row per CANONICAL
    url survives (the pass a web pipeline runs before content dedup).

    ``functions.urls.canonical_url`` is a pure Catalyst expression, so it
    runs inside Structured Streaming with no stateful operator of its own;
    state is the watermark-bounded canonical-url set, exactly like
    ``streaming_exact_dedup``'s hash set."""
    from ..functions.urls import canonical_url

    return (
        stream.withColumn("canonical_url", canonical_url(url_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


_DUPFLAG_SCHEMA = StructType(
    [
        StructField("content_hash", StringType(), False),
        StructField("id", StringType(), True),
        StructField("dup_rank", LongType(), False),
        StructField("is_duplicate", BooleanType(), False),
    ]
)

_DUPFLAG_STATE = StructType([StructField("count", LongType(), False)])


def streaming_duplicate_flags(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    id_col: str = "url",
    watermark: str = "1 hour",
    horizon_ms: int = 3_600_000,
) -> DataFrame:
    """Stateful duplicate ACCOUNTING via ``applyInPandasWithState`` — the
    custom-stateful-operator pattern ``dropDuplicates*`` cannot express:
    EVERY row is emitted, tagged with its per-content duplicate rank
    (0 = first sighting, possibly in an earlier micro-batch) and an
    ``is_duplicate`` flag, so downstream sinks can keep originals and route
    dups to a quarantine table with exact counts.

    State = one running count per content hash; evicted by EVENT-TIME
    timeout ``horizon_ms`` after the newest sighting once the watermark
    passes it, so memory is O(distinct hashes per horizon), same bound as
    ``streaming_exact_dedup``.
    """

    def flag(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (content_hash,) = key
        count = state.get[0] if state.exists else 0
        max_ts_ms = 0
        for pdf in batches:
            # deterministic within-batch order for rank assignment
            pdf = pdf.sort_values([ts_col, id_col], kind="stable")
            n = len(pdf)
            ranks = np.arange(count, count + n, dtype=np.int64)
            count += n
            max_ts_ms = max(
                max_ts_ms, int(pdf[ts_col].max().value // 1_000_000)
            )
            yield pd.DataFrame(
                {
                    "content_hash": content_hash,
                    "id": pdf[id_col].astype(str),
                    "dup_rank": ranks,
                    "is_duplicate": ranks > 0,
                }
            )
        state.update((count,))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts_ms, wm + 1) + horizon_ms)

    from pyspark.sql.streaming.state import GroupStateTimeout

    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col))).withWatermark(
        ts_col, watermark
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        flag,
        _DUPFLAG_SCHEMA,
        _DUPFLAG_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_simhash_tag(
    stream: DataFrame,
    cfg=None,
    text_col: str = "text",
) -> DataFrame:
    """Tag each streamed page with its 64-bit SimHash (stateless map).

    The batch kernel ``candidates.simhash_fast_batch`` runs in a stateless
    ``mapInPandas`` (legal in Structured Streaming: no state, no shuffle)
    with every input column passed through, so streamed signatures are
    bit-identical to batch ``simhash_signatures`` and a periodic batch
    compaction can Hamming-join them directly.  NULL text gets a NULL
    signature: a null page must not kill the streaming query.
    """
    from ..config import MatchConfig
    from ..operators.candidates import simhash_fast_batch

    cfg = cfg or MatchConfig()
    out_schema = StructType(
        list(stream.schema.fields) + [StructField("simhash", LongType(), True)]
    )

    def tag(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["simhash"] = simhash_fast_batch(pdf[text_col], cfg)
            yield pdf

    return stream.mapInPandas(tag, out_schema)


def streaming_incremental_dedup(
    stream: DataFrame,
    matcher,
    sink_path: str,
    checkpoint_path: str,
    self_pairs: bool = True,
    extend_corpus: bool = True,
):
    """Micro-batch incremental NEAR-dup matching: every arriving batch is
    matched against a corpus-frozen ``plans.fast_dedup.PrefitLshMatcher``
    and the (master_side, dupe_side, similarity, batch_id) matches are
    appended to a parquet sink.

    Pair coverage is COMPLETE by induction (the intra-stream gap fix):

      * ``self_pairs`` — each batch is also self-paired (the flagship's
        grouped-bucket kernel), so two docs arriving in the SAME
        micro-batch that duplicate each other but nothing in the corpus
        still land in the sink;
      * ``extend_corpus`` — accepted batches are absorbed into the frozen
        index (vectors stay cached; the IDF/vocabulary stays corpus-frozen
        so all scores share one feature space), so a doc duplicating one
        from an EARLIER micro-batch matches when it arrives.

    With both on (the default), every near-dup pair across corpus ∪ stream
    is emitted exactly when its later member arrives.  Turn them off for
    the pure corpus-vs-batch contract (the reference's corpus-reuse
    workflow, string_grouper.py:546-644).

    This is the streaming form of the reference's corpus-reuse workflow:
    the corpus side is vectorized/cached ONCE at matcher construction, so
    per-batch cost scales with the batch — two narrow passes + one bucket
    join + packed re-score.  ``foreachBatch`` is the right operator here
    (not a stream-stream join): the corpus is a static, pre-fitted side,
    and the per-batch output is a bounded append.

    Restart / delivery caveats (the completeness claim's boundary):

      * ``extend_corpus`` state lives in DRIVER memory.  A query restart
        from the streaming checkpoint resumes the SOURCE offsets but not
        the absorbed batches — pairs whose earlier member was absorbed
        before the crash are lost unless the matcher is also persisted:
        call ``matcher.save(path)`` periodically (e.g. from this
        ``process`` hook every K batches) and reconstruct via
        ``PrefitLshMatcher.load`` before restarting the query.
      * ``foreachBatch`` is at-least-once: a re-delivered batch re-appends
        its matches (dedupe downstream on (batch_id, pair)) and would
        double-extend the index; the matcher's per-compaction id check
        (``extend_vecs``) turns silent double-counting into a loud error.
      * The matcher compacts its union views every ``compact_every``
        batches, so plan depth and cached fragments stay bounded over an
        unbounded stream (see ``PrefitLshMatcher.extend_vecs``).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vecs = matcher.vectorize(batch_df)
        (
            matcher.match_vecs(vecs, self_pairs=self_pairs)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink_path)
        )
        if extend_corpus:
            matcher.extend_vecs(vecs)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def compact_incremental_matches(
    spark,
    sink_path: str,
    nodes: DataFrame,
    id_col: str = "doc_id",
    min_similarity: Optional[float] = None,
) -> DataFrame:
    """Fold the ``streaming_incremental_dedup`` match sink into cluster
    labels — the periodic batch compaction that closes the streaming
    near-dup lambda loop (signatures/matches streamed, the graph closure
    batched).

    Reads the appended (master_side, dupe_side, similarity, batch_id)
    pairs, optionally re-thresholds (a sink written at a lower
    min_similarity can be compacted at a stricter one), and runs the same
    O(log n) connected-components kernel as the batch flagship over
    ``nodes`` (all ids that should receive a label: corpus + streamed
    batches).  Output: (<id_col>, component), component = min id — the
    ``fast_lsh_dedup`` contract, so downstream consumers never see which
    path produced the labels.

    A missing/empty sink (no batch produced a match) degrades to all-
    singleton components.  Scale shape: one distinct over slim pair
    triples + the CC rounds; the sink itself is bounded by the true match
    volume, not the corpus.
    """
    from ..operators.grouping import connected_components

    from pyspark.errors import AnalysisException

    try:
        matches = spark.read.parquet(sink_path)
    except AnalysisException as e:
        # ONLY the genuinely-missing sink degrades (foreachBatch appends
        # nothing until the first non-empty batch matches); any other read
        # failure — permissions, corrupt footers, schema problems — must
        # surface, or a transient FS error silently labels the whole
        # corpus duplicate-free
        # Spark >=3.4 raises error class PATH_NOT_FOUND; older releases say
        # "Path does not exist: ..." — match both so the documented degrade
        # contract doesn't silently depend on the Spark version.
        msg = str(getattr(e, "getErrorClass", lambda: "")()) + " " + str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        matches = None
    nd = nodes.select(F.col(id_col).cast("long").alias(id_col))
    if matches is None:
        edges = spark.createDataFrame([], "u long, v long")
    else:
        if min_similarity is not None:
            matches = matches.where(F.col("similarity") >= float(min_similarity))
        edges = matches.select(
            F.col("master_side").cast("long").alias("u"),
            F.col("dupe_side").cast("long").alias("v"),
        ).dropDuplicates()
    return connected_components(edges, nd).withColumnRenamed("node", id_col)
