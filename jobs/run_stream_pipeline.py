"""spark-submit entry point: the composed STREAMING pipeline
(streaming/pipeline.py) -- ingest -> decode -> tile rollup -> stateful
dedup, chained through checkpointed streaming sinks.

Cluster usage:

    tools/build_pyfiles.sh   # -> dist/osm_pbf_convert_spark.zip
    spark-submit --py-files dist/osm_pbf_convert_spark.zip \
      jobs/run_stream_pipeline.py \
      --pages-stream s3://bucket/pages_landing \
      --out s3://bucket/stream_out --checkpoint s3://bucket/stream_ckpt

    # or watch a directory of .osm.pbf extract drops (no text -> no dedup):
    spark-submit --py-files dist/osm_pbf_convert_spark.zip \
      jobs/run_stream_pipeline.py --watch /data/extract_drops \
      --out /data/stream_out --checkpoint /data/stream_ckpt

Default is one ``availableNow`` drain: process everything that has
landed, then exit -- rerunning later processes ONLY newly-arrived files
(the streaming flavor of the batch job's idempotent resume; state and
file progress live in --checkpoint). ``--continuous`` instead keeps the
three queries running on a processing-time trigger until interrupted.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-stream", help="landing dir of pages parquet files "
                                           "(url, warc_ts, html, text, lang)")
    ap.add_argument("--watch", help="landing dir of .osm.pbf extract drops")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--max-zoom", type=int, default=12)
    ap.add_argument("--continuous", action="store_true",
                    help="run on a processing-time trigger until interrupted "
                         "(default: one availableNow drain, then exit)")
    ap.add_argument("--trigger-seconds", type=int, default=30)
    ap.add_argument("--dedup-bucket-cap", type=int, default=None,
                    help="max_bucket_size for the stateful LSH stage: sheds "
                         "the quadratic boilerplate-bucket tail on crawl "
                         "corpora with templated text (recommended at scale; "
                         "None = exact whole-corpus semantics)")
    ap.add_argument("--timeout", type=int, default=3600,
                    help="availableNow drain bound per stage, seconds")
    args = ap.parse_args()
    if bool(args.pages_stream) == bool(args.watch):
        ap.error("exactly one of --pages-stream / --watch is required")

    spark = (
        SparkSession.builder.appName("osm-pbf-convert-spark-stream-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from osm_pbf_convert_spark.streaming.pipeline import run_streaming_pipeline

    result = run_streaming_pipeline(
        spark,
        out=args.out,
        checkpoint=args.checkpoint,
        pages_dir=args.pages_stream,
        watch_dir=args.watch,
        max_z=args.max_zoom,
        lsh=(
            {"max_bucket_size": args.dedup_bucket_cap}
            if args.dedup_bucket_cap
            else None
        ),
        available_now=not args.continuous,
        trigger_seconds=args.trigger_seconds,
        timeout=args.timeout,
    )
    if args.continuous:
        print("stream pipeline running: " + ", ".join(n for n, _ in result))
        spark.streams.awaitAnyTermination()
    else:
        print("stream pipeline drained: " + json.dumps(result))
        spark.stop()


if __name__ == "__main__":
    main()
