"""spark-submit entry point: extract main content from an interleaved-docs
table (parquet/Iceberg) into a parquet output with per-bucket lineage.

    spark-submit --py-files nreadspark.zip jobs/extract.py \
        --input /path/to/docs --output /path/to/out \
        [--buckets 256] [--url-col url] [--no-resume] [--synthetic N]

    # crawl-file ingestion (streamed .warc/.warc.gz, per-FILE resume):
    spark-submit --py-files nreadspark.zip jobs/extract.py \
        --warc-glob '/crawl/segment-00/*.warc.gz' --output /path/to/out

    # crawl PLANNING (no extraction): slotted fetch-plan table from the
    # CDX index -- archival re-read plan, or sitemap-refresh plan with
    # --sitemap-glob (per-domain-bucket resume):
    spark-submit --py-files nreadspark.zip jobs/extract.py \
        --cdx-glob '/crawl/indexes/*.cdxj' --cdx-prefix 'com,example)' \
        --plan-output /path/to/plan [--sitemap-glob '/maps/*.xml'] \
        --output /ignored

Reference analogue: NReadability.Console/Program.cs:35-50 (file in/file out),
re-expressed as a distributed, resumable Spark job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", help="input table path (parquet dir)")
    parser.add_argument("--output", required=True, help="output parquet dir")
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--url-col", default=None)
    parser.add_argument("--no-resume", action="store_true")
    parser.add_argument(
        "--warc-glob",
        default=None,
        help="ingest .warc/.warc.gz files matching this glob (streamed, "
        "per-file resumable lineage) instead of reading an interleaved table",
    )
    parser.add_argument(
        "--cdx-glob",
        default=None,
        help="index-driven ingestion: parse CDXJ index shards matching this "
        "glob, plan fetches for --cdx-prefix selections, and read exactly "
        "those (offset, length) WARC members (per-file resumable lineage)",
    )
    parser.add_argument(
        "--cdx-prefix",
        action="append",
        default=[],
        help="SURT urlkey prefix to select (repeatable; e.g. 'com,example)')",
    )
    parser.add_argument(
        "--warc-base-dir",
        default=None,
        help="prefix for relative WARC filenames in the CDX index",
    )
    parser.add_argument(
        "--plan-output",
        default=None,
        help="with --cdx-glob: write the politeness-slotted fetch-plan "
        "table here INSTEAD of extracting (archival re-read plan; add "
        "--sitemap-glob for the sitemap-refresh plan). Per-domain-bucket "
        "resumable lineage.",
    )
    parser.add_argument(
        "--sitemap-glob",
        default=None,
        help="with --plan-output: sitemap XML files declaring the URL "
        "inventory; the plan becomes inventory-vs-capture refresh "
        "reasoning (new/modified/unknown)",
    )
    parser.add_argument(
        "--slot-size",
        type=int,
        default=1,
        help="max requests per domain per politeness slot (--plan-output)",
    )
    parser.add_argument(
        "--synthetic",
        type=int,
        default=0,
        help="generate N synthetic interleaved docs instead of reading --input",
    )
    parser.add_argument("--master", default=None)
    parser.add_argument(
        "--max-doc-bytes", type=int, default=None,
        help="per-document truncate-with-flag byte budget (pipeline.extract); "
        "rows over it are cut to exactly this many UTF-8 bytes before parsing "
        "and flagged metrics.truncated -- set on crawl tails so one "
        "pathological document cannot hold a task",
    )
    args = parser.parse_args()

    from nreadspark.lineage import (
        run_cdx_ingestion,
        run_extraction,
        run_warc_ingestion,
    )
    from nreadspark.pipeline import session_builder

    spark = session_builder("nreadspark-extract", args.master).getOrCreate()

    if args.plan_output:
        if not args.cdx_glob:
            parser.error("--plan-output requires --cdx-glob")
            return
        from nreadspark.lineage import run_crawl_planning

        summary = run_crawl_planning(
            spark,
            args.cdx_glob,
            args.cdx_prefix,
            args.plan_output,
            sitemap_glob=args.sitemap_glob,
            per_domain_per_slot=args.slot_size,
            n_buckets=args.buckets,
            resume=not args.no_resume,
        )
        print(json.dumps(summary))
        return

    if args.cdx_glob:
        summary = run_cdx_ingestion(
            spark,
            args.cdx_glob,
            args.cdx_prefix,
            args.output,
            warc_base_dir=args.warc_base_dir,
            n_buckets=args.buckets,
            resume=not args.no_resume,
            max_doc_bytes=args.max_doc_bytes,
        )
        print(json.dumps(summary))
        return

    if args.warc_glob:
        summary = run_warc_ingestion(
            spark,
            args.warc_glob,
            args.output,
            n_buckets=args.buckets,
            resume=not args.no_resume,
            max_doc_bytes=args.max_doc_bytes,
        )
        print(json.dumps(summary))
        return

    if args.synthetic:
        from nreadspark.corpus import build_corpus_df

        input_df = build_corpus_df(spark, args.synthetic)
        # in-memory generator: no file listing to fingerprint, so its
        # parameters are the input identity
        fingerprint = f"synthetic:{args.synthetic}"
    elif args.input:
        from nreadspark.sources import load_documents

        input_df = load_documents(spark, args.input)
        fingerprint = None  # derived from the source-file listing
    else:
        parser.error("one of --input, --warc-glob, --cdx-glob or --synthetic is required")
        return

    summary = run_extraction(
        spark,
        input_df,
        args.output,
        n_buckets=args.buckets,
        url_col=args.url_col,
        resume=not args.no_resume,
        max_doc_bytes=args.max_doc_bytes,
        in_fingerprint=fingerprint,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
