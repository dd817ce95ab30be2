"""spark-submit entry point: continuous extraction of newly-landed files.

    spark-submit --py-files nreadspark.zip jobs/extract_stream.py \
        --input /path/to/docs --output /path/to/out --checkpoint /path/ckpt \
        [--continuous] [--max-files-per-trigger 64]

Default is an ``availableNow`` catch-up run (process everything new, then
stop) -- the cron-friendly shape; ``--continuous`` keeps the query running.
Exactly-once across restarts comes from the streaming checkpoint plus
idempotent per-batch output directories (see nreadspark/streaming.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--continuous", action="store_true")
    parser.add_argument("--max-files-per-trigger", type=int, default=None)
    parser.add_argument(
        "--max-doc-bytes", type=int, default=None,
        help="per-document truncate-with-flag budget; on a live feed one "
        "pathological document would otherwise stall every later micro-batch",
    )
    parser.add_argument("--master", default=None)
    args = parser.parse_args()

    from nreadspark.pipeline import session_builder
    from nreadspark.streaming import extract_stream

    spark = session_builder("nreadspark-extract-stream", args.master).getOrCreate()

    query = extract_stream(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        trigger_available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        max_doc_bytes=args.max_doc_bytes,
    )
    query.awaitTermination()


if __name__ == "__main__":
    main()
