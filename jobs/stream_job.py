#!/usr/bin/env python
"""Incremental (Structured Streaming) KG ingest entry point.

The streaming sibling of jobs/kg_job.py: page parquet files landing in
--input-dir are picked up per micro-batch, run through the SAME batch
stage operators (foreachBatch), and appended to --output-dir.
foreachBatch is at-least-once (a restart replays a batch whose offsets
were not committed); the batch-id guard on each append plus the
deterministic transforms make the output exactly-once.

    spark-submit --py-files rex_spark.zip jobs/stream_job.py \
        --input-dir /data/pages_incoming \
        --output-dir /data/triples \
        --checkpoint /data/ckpt [--follow]

Default drains what is currently present (availableNow) and exits —
cron-friendly; --follow keeps running on new file drops.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input-dir", required=True)
    p.add_argument("--input-format", choices=["parquet", "warc"],
                   default="parquet",
                   help="'warc' treats --input-dir as a growing crawl "
                        "directory of raw *.warc(.gz) files")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=16)
    p.add_argument("--follow", action="store_true",
                   help="keep running on new drops (default: drain and exit)")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from rex_spark.session import get_session
    from rex_spark.streaming import (
        incremental_triples,
        stream_pages,
        stream_warc_pages,
    )

    spark = get_session(master=args.master, app_name="rex_spark_stream_job")
    source = stream_warc_pages if args.input_format == "warc" else stream_pages
    q = incremental_triples(
        source(
            spark, args.input_dir, max_files_per_trigger=args.max_files_per_trigger
        ),
        args.output_dir,
        args.checkpoint,
        available_now=not args.follow,
    )
    q.awaitTermination()
    # a drain that saw zero new files never creates the output dir
    try:
        n = spark.read.parquet(args.output_dir).count()
    except Exception:
        n = 0
    print(json.dumps({"triples_rows": n, "output": args.output_dir}))


if __name__ == "__main__":
    main()
