"""spark-submit-able CLI: the engine's production entry points as jobs.

    spark-submit --py-files string_grouper_spark.zip -m ... , or locally:

    python -m string_grouper_spark dedup --input docs.parquet --output out \
        --min-similarity 0.8 --shingle word
    python -m string_grouper_spark pairs --input docs.parquet --output out
    python -m string_grouper_spark exact-dedup --input docs.parquet --output out
    python -m string_grouper_spark topk --input emb.parquet --output out \
        --k 10 --method blocked

Every command reads parquet, runs one pipeline, writes parquet.  With
``--checkpoint-root``, ``dedup`` runs the same stages through
``checkpoint.checkpointed_union_dedup_pipeline`` and ``dedup-exact``
through ``checkpoint.checkpointed_dedup_pipeline``, each stage resumable.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="string_grouper_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--input", required=True, help="input parquet path")
        sp.add_argument("--output", required=True, help="output parquet path")
        sp.add_argument("--text-col", default="text")
        sp.add_argument("--id-col", default="doc_id")
        sp.add_argument("--min-similarity", type=float, default=0.8)

    d = sub.add_parser(
        "dedup",
        help="near-dup clustering (MinHash-LSH flagship; output (<id>, "
        "component), component = min id). --checkpoint-root makes the SAME "
        "pipeline resumable — schema and semantics never change.",
    )
    common(d)
    d.add_argument("--num-perm", type=int, default=128)
    d.add_argument("--num-bands", type=int, default=16)
    d.add_argument("--shingle", choices=["char", "word"], default="char")
    d.add_argument("--max-bucket-size", type=int, default=1000)
    d.add_argument("--salt-above", default="auto",
                   help="int threshold, 'auto' (histogram-picked, default) or 'none'")
    d.add_argument("--checkpoint-root", default=None,
                   help="resume-able stage tables under this root")
    d.add_argument("--html-col", default=None,
                   help="binary html column: derive <text-col> via byte-exact "
                   "text extraction first (the Common-Crawl-style pages "
                   "input shape — url, warc_ts, html binary, lang)")
    d.add_argument("--generators", default=None,
                   help="comma list from {minhash,simhash,substring,suffix} "
                   "(near_duplicate_clusters_scale; default minhash, the "
                   "flagship) — e.g. 'minhash,substring' also clusters exact "
                   "prefix/containment dupes a cosine threshold misses")
    d.add_argument("--tfidf-dtype", choices=["float32", "float64"],
                   default="float32",
                   help="weight precision (reference tfidf_matrix_dtype); "
                   "float32 halves the re-score shuffle and is this JOB's "
                   "default — the library/reference default is float64; a "
                   "pair whose exact cosine sits within ~1e-7 of the "
                   "threshold can flip, so pass float64 for bit-parity "
                   "with library/reference runs")

    de = sub.add_parser(
        "dedup-exact",
        help="exact all-pairs TF-IDF clustering with CENTROID representative "
        "(reference group_similar_strings semantics; output (<id>, "
        "group_rep)) — the small/parity path, distinct from the LSH flagship",
    )
    common(de)
    de.add_argument("--checkpoint-root", default=None,
                    help="resume-able stage tables under this root")

    di = sub.add_parser(
        "dedup-incremental",
        help="match a NEW batch (--input) against an EXISTING corpus "
        "(--corpus) via the shuffle-minimal bipartite LSH plan; output "
        "(master_side=corpus id, dupe_side=new id, similarity)",
    )
    common(di)
    di.add_argument("--corpus", required=True, help="existing-corpus parquet path")
    di.add_argument("--num-perm", type=int, default=128)
    di.add_argument("--num-bands", type=int, default=16)
    di.add_argument("--shingle", choices=["char", "word"], default="char")
    di.add_argument("--max-bucket-size", type=int, default=1000)

    dc = sub.add_parser(
        "dedup-compact",
        help="fold a streaming_incremental_dedup match sink into cluster "
        "labels via connected components; output (<id>, component), the "
        "same contract as `dedup` — the periodic batch compaction of the "
        "streaming near-dup lambda loop",
    )
    dc.add_argument("--input", required=True,
                    help="parquet of ALL docs to label (corpus + streamed batches)")
    dc.add_argument("--sink", required=True,
                    help="match-sink parquet written by the stream")
    dc.add_argument("--output", required=True)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--min-similarity", type=float, default=None,
                    help="optional stricter re-threshold over sink pairs")

    pr = sub.add_parser("pairs", help="exact TF-IDF cosine near-dup pairs")
    common(pr)

    ed = sub.add_parser("exact-dedup", help="content-hash duplicate groups")
    ed.add_argument("--input", required=True)
    ed.add_argument("--output", required=True)
    ed.add_argument("--text-col", default="text")
    ed.add_argument("--id-col", default="doc_id")

    ud = sub.add_parser(
        "url-dedup",
        help="URL-level dedup: one row per canonical url, earliest crawl "
        "wins (the pass before content dedup in a web pipeline)",
    )
    ud.add_argument("--input", required=True)
    ud.add_argument("--output", required=True)
    ud.add_argument("--url-col", default="url")
    ud.add_argument("--ts-col", default="warc_ts")

    lp = sub.add_parser(
        "line-dedup",
        help="corpus-level line dedup (C4/CCNet pass): lines duplicated "
        "across the corpus survive only at their first (doc, position) "
        "occurrence; output (<id>, <text>, n_lines_kept, n_lines_dropped)",
    )
    lp.add_argument("--input", required=True)
    lp.add_argument("--output", required=True)
    lp.add_argument("--text-col", default="text")
    lp.add_argument("--id-col", default="doc_id")

    mp = sub.add_parser(
        "mask-pii",
        help="mask emails / IPv4 / phone numbers and count them per doc",
    )
    mp.add_argument("--input", required=True)
    mp.add_argument("--output", required=True)
    mp.add_argument("--text-col", default="text")

    tk = sub.add_parser("topk", help="cosine top-k neighbors over embeddings")
    tk.add_argument("--input", required=True)
    tk.add_argument("--output", required=True)
    tk.add_argument("--id-col", default="vec_id")
    tk.add_argument("--vec-col", default="embedding")
    tk.add_argument("--k", type=int, default=10)
    tk.add_argument("--method", choices=["blocked", "lsh", "ivf"], default="blocked")

    tf = sub.add_parser(
        "topk-frozen",
        help="query-vs-frozen-index retrieval (PrefitAnnIndex): --fit builds "
        "the index from --items and saves it at --index; then (or in a later "
        "job without --fit) queries --input against it; output "
        "(query_id, item_id, cos)",
    )
    tf.add_argument("--input", required=True, help="query embeddings parquet")
    tf.add_argument("--output", required=True)
    tf.add_argument("--index", required=True, help="index save/load path")
    tf.add_argument("--fit", action="store_true",
                    help="build + save the index from --items first")
    tf.add_argument("--items", default=None, help="item embeddings parquet (with --fit)")
    tf.add_argument("--method", choices=["lsh", "ivf"], default="lsh")
    tf.add_argument("--k", type=int, default=10)
    tf.add_argument("--id-col", default="vec_id")
    tf.add_argument("--vec-col", default="embedding")

    im = sub.add_parser(
        "image-dedup",
        help="perceptual image near-dup clustering over a media parquet "
        "(binary payload column): dHash/pHash + Hamming-ball join + "
        "connected components; output (<id>, component)",
    )
    im.add_argument("--input", required=True)
    im.add_argument("--output", required=True)
    im.add_argument("--id-col", default="media_id")
    im.add_argument("--payload-col", default="payload")
    im.add_argument("--method", choices=["dhash", "phash"], default="dhash")
    im.add_argument("--max-hamming", type=int, default=6)
    im.add_argument("--num-blocks", type=int, default=8)

    cu = sub.add_parser(
        "curate",
        help="full webtext curation: [warc->] pages -> url dedup -> quality "
        "gate -> near-dup clustering -> canonical election -> host report",
    )
    cu.add_argument("--input", required=True,
                    help="pages parquet path, or a WARC shard dir with "
                    "--input-format warc")
    cu.add_argument("--output-dir", required=True,
                    help="writes curated/ clusters/ dropped/ host_stats/")
    cu.add_argument("--input-format", choices=["parquet", "warc"],
                    default="parquet")
    cu.add_argument("--extractor", choices=["wrapper", "generic"],
                    default="wrapper")
    cu.add_argument("--generators", default="minhash")
    cu.add_argument("--min-similarity", type=float, default=0.8)
    cu.add_argument("--num-perm", type=int, default=128)
    cu.add_argument("--num-bands", type=int, default=16)
    cu.add_argument("--max-bucket-size", type=int, default=1000)
    cu.add_argument("--anchor-len", type=int, default=16)
    cu.add_argument("--shingle", choices=["char", "word"], default="char")
    cu.add_argument("--no-quality-filter", action="store_true")
    cu.add_argument("--gopher-thresholds", default=None,
                    help="JSON dict of threshold overrides, e.g. "
                    '\'{"min_stop_words": 0}\'')
    cu.add_argument("--checkpoint-root", default=None)

    hs = sub.add_parser(
        "host-stats",
        help="per-host duplication/cross-host-syndication report over a "
        "labeled clusters parquet (url, component)",
    )
    hs.add_argument("--input", required=True, help="labeled parquet")
    hs.add_argument("--output", required=True)
    hs.add_argument("--url-col", default="url")
    hs.add_argument("--component-col", default="component")

    we = sub.add_parser(
        "warc-extract",
        help="Common-Crawl WARC shards -> pages parquet (url, warc_ts, html, "
        "text, lang); one task per shard",
    )
    we.add_argument("--input", required=True, help="dir of *.warc[.gz] shards")
    we.add_argument("--output", required=True, help="output parquet path")
    we.add_argument("--glob", default="*.warc*")
    we.add_argument("--extractor", choices=["wrapper", "generic"],
                    default="wrapper",
                    help="'generic' = real-crawl HTML text extraction "
                    "(script/style removal, entity decode)")

    ww = sub.add_parser(
        "warc-write",
        help="pages parquet -> per-partition WARC shards (record-level gzip "
        "members, the CC packaging)",
    )
    ww.add_argument("--input", required=True, help="pages parquet path")
    ww.add_argument("--output", required=True, help="output shard dir")
    ww.add_argument("--num-files", type=int, default=None)
    ww.add_argument("--no-compress", action="store_true")
    ww.add_argument("--url-col", default="url")
    ww.add_argument("--ts-col", default="warc_ts")
    ww.add_argument("--html-col", default="html")

    mpb = sub.add_parser(
        "media-probe",
        help="container metadata for every media payload WITHOUT decoding "
        "(MP4/MOV, MKV/WebM, AVI, WAV; malformed rows land in `err`)",
    )
    mpb.add_argument("--input", required=True, help="media parquet path")
    mpb.add_argument("--output", required=True)
    mpb.add_argument("--id-col", default="media_id")
    mpb.add_argument("--payload-col", default="payload")
    return p


def main(argv: Optional[list] = None) -> int:
    args = _build_parser().parse_args(argv)
    from .config import MatchConfig
    from .session import get_spark

    spark = get_spark(f"sgspark-{args.command}")
    spark.sparkContext.setLogLevel("WARN")
    if args.command == "warc-extract":
        from .sources.warc import warc_to_pages

        out = warc_to_pages(
            spark, args.input, glob=args.glob, extractor=args.extractor
        )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"command": args.command, "output": args.output, "rows": n}))
        return 0
    if args.command == "curate":
        from .config import MatchConfig as _MC
        from .plans.curate import curate_pages
        from .sources.warc import warc_to_pages

        if args.input_format == "warc":
            pages_df = warc_to_pages(spark, args.input, extractor=args.extractor)
        else:
            pages_df = spark.read.parquet(args.input)
        th = json.loads(args.gopher_thresholds) if args.gopher_thresholds else None
        res = curate_pages(
            spark, pages_df,
            cfg=_MC(min_similarity=args.min_similarity, max_n_matches=1_000_000),
            generators=tuple(
                g.strip() for g in args.generators.split(",") if g.strip()
            ),
            quality_filter=not args.no_quality_filter,
            gopher_thresholds=th, checkpoint_root=args.checkpoint_root,
            num_perm=args.num_perm, num_bands=args.num_bands,
            max_bucket_size=args.max_bucket_size, anchor_len=args.anchor_len,
            shingle=args.shingle,
        )
        for name in ("curated", "clusters", "dropped", "host_stats"):
            res[name].write.mode("overwrite").parquet(
                f"{args.output_dir}/{name}"
            )
        # the run's metrics table (north rule: stage counters persist with
        # the outputs, not only on stdout) — one row per counter
        spark.createDataFrame(
            [(k, int(v)) for k, v in res["counters"].items()],
            "counter string, value bigint",
        ).coalesce(1).write.mode("overwrite").json(f"{args.output_dir}/_metrics")
        print(json.dumps({"command": "curate", **res["counters"]}))
        return 0
    df = spark.read.parquet(args.input)
    if args.command == "warc-write":
        from .sources.warc import write_warc

        manifest = write_warc(
            df, args.output, num_files=args.num_files,
            compress=not args.no_compress, url_col=args.url_col,
            ts_col=args.ts_col, html_col=args.html_col,
            # the CLI's other sinks are DataFrameWriter mode("overwrite");
            # the WARC sink matches so re-running a job replaces shards
            mode="overwrite",
        )
        print(json.dumps({
            "command": args.command, "output": args.output,
            "files": int(len(manifest)),
            "rows": int(manifest["n_records"].sum()),
            "bytes": int(manifest["n_bytes"].sum()),
        }))
        return 0

    if args.command == "dedup":
        if args.html_col:
            from pyspark.sql import functions as F

            from .sources.pages import extract_text_expr

            df = df.withColumn(args.text_col, extract_text_expr(F.col(args.html_col)))
        cfg = MatchConfig(
            min_similarity=args.min_similarity,
            max_n_matches=1_000_000,
            tfidf_matrix_dtype=args.tfidf_dtype,
        )
        salt = args.salt_above
        if isinstance(salt, str):
            salt = None if salt == "none" else ("auto" if salt == "auto" else int(salt))
        stats: dict = {}
        generators = tuple(
            g.strip() for g in (args.generators or "").split(",") if g.strip()
        ) or ("minhash",)
        knobs = dict(
            generators=generators, num_perm=args.num_perm,
            num_bands=args.num_bands, max_bucket_size=args.max_bucket_size,
            salt_above=salt, shingle=args.shingle, text_col=args.text_col,
            id_col=args.id_col, drop_stats=stats,
        )
        if args.checkpoint_root:
            from .checkpoint import checkpointed_union_dedup_pipeline

            out = checkpointed_union_dedup_pipeline(
                spark, df, cfg, args.checkpoint_root, **knobs
            )
        else:
            from .operators.dedup import near_duplicate_clusters_scale

            out = near_duplicate_clusters_scale(df, cfg, **knobs)
        # skew/drop accounting goes to stderr so stdout stays one JSON line
        print(json.dumps({"skew_policy": stats}), file=sys.stderr)
    elif args.command == "dedup-exact":
        cfg = MatchConfig(min_similarity=args.min_similarity, max_n_matches=1_000_000)
        if args.checkpoint_root:
            from .checkpoint import checkpointed_dedup_pipeline

            out = checkpointed_dedup_pipeline(
                spark, df, cfg, args.checkpoint_root,
                text_col=args.text_col, id_col=args.id_col,
            )
        else:
            from .operators.dedup import near_duplicate_clusters

            out = near_duplicate_clusters(
                df, cfg, text_col=args.text_col, id_col=args.id_col
            )
    elif args.command == "dedup-incremental":
        from .plans.fast_dedup import fast_lsh_dedup_bipartite

        cfg = MatchConfig(min_similarity=args.min_similarity, max_n_matches=1_000_000)
        corpus = spark.read.parquet(args.corpus)
        stats = {}
        out = fast_lsh_dedup_bipartite(
            corpus, df, cfg,
            num_perm=args.num_perm, num_bands=args.num_bands,
            max_bucket_size=args.max_bucket_size, shingle=args.shingle,
            text_col=args.text_col, id_col=args.id_col, drop_stats=stats,
        )
        print(json.dumps({"skew_policy": stats}), file=sys.stderr)
    elif args.command == "dedup-compact":
        from .streaming.dedup_stream import compact_incremental_matches

        out = compact_incremental_matches(
            spark, args.sink, df, id_col=args.id_col,
            min_similarity=args.min_similarity,
        )
    elif args.command == "pairs":
        from .operators.dedup import near_duplicate_pairs

        cfg = MatchConfig(min_similarity=args.min_similarity, max_n_matches=1_000_000)
        out = near_duplicate_pairs(df, cfg, text_col=args.text_col, id_col=args.id_col)
    elif args.command == "exact-dedup":
        from .operators.dedup import exact_duplicate_groups

        out = exact_duplicate_groups(df, text_col=args.text_col, id_col=args.id_col)
    elif args.command == "host-stats":
        from .functions.urls import host_dup_stats

        out = host_dup_stats(
            df, url_col=args.url_col, comp_col=args.component_col
        )
    elif args.command == "url-dedup":
        from .functions.urls import url_dedup

        out = url_dedup(df, url_col=args.url_col, ts_col=args.ts_col)
    elif args.command == "line-dedup":
        from .operators.dedup import corpus_line_dedup

        out = corpus_line_dedup(df, text_col=args.text_col, id_col=args.id_col)
    elif args.command == "mask-pii":
        from .functions.pii import mask_pii

        out = mask_pii(df, text_col=args.text_col)
    elif args.command == "topk":
        from .operators import ann

        if args.method == "blocked":
            out = ann.cosine_topk_blocked(df, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
        elif args.method == "lsh":
            dim = len(df.select(args.vec_col).first()[0])
            out = ann.lsh_cosine_topk(df, dim=dim, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
        else:
            out = ann.ivf_cosine_topk(df, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
    elif args.command == "topk-frozen":
        from .operators.ann import PrefitAnnIndex

        if args.fit:
            if not args.items:
                raise SystemExit("--fit requires --items")
            items = spark.read.parquet(args.items)
            idx = PrefitAnnIndex(
                items, method=args.method, id_col=args.id_col, vec_col=args.vec_col
            )
            idx.save(args.index)
        else:
            idx = PrefitAnnIndex.load(spark, args.index)
        out = idx.topk(df, k=args.k)
    elif args.command == "image-dedup":
        from .operators.multimodal import image_near_dup_clusters

        out = image_near_dup_clusters(
            df, method=args.method, max_hamming=args.max_hamming,
            num_blocks=args.num_blocks, id_col=args.id_col,
            payload_col=args.payload_col,
        )
    elif args.command == "media-probe":
        from .operators.multimodal import media_metadata

        out = media_metadata(df, id_col=args.id_col, payload_col=args.payload_col)
    else:  # pragma: no cover
        raise SystemExit(2)

    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"command": args.command, "output": args.output, "rows": n}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
