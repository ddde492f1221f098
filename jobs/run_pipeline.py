"""spark-submit entry point: the full decode -> join -> tile pipeline with
per-partition checkpoint/resume.

Cluster usage (north rule):

    tools/build_pyfiles.sh   # -> dist/osm_pbf_convert_spark.zip
    spark-submit \
      --py-files dist/osm_pbf_convert_spark.zip \
      jobs/run_pipeline.py \
      --pages s3://bucket/pages_table \
      --out   s3://bucket/geo_out \
      --checkpoint s3://bucket/geo_ckpt \
      --partitions 4096

    # or straight off a standalone OSM extract (the reference's input):
    spark-submit --py-files dist/osm_pbf_convert_spark.zip \
      jobs/run_pipeline.py --pbf /data/planet.osm.pbf \
      --out /data/geo_out --checkpoint /data/geo_ckpt --partitions 4096

The job is idempotently resumable: input pages are bucketed into
``--partitions`` logical partitions by xxhash64(url); completed partitions
are recorded in the checkpoint table and skipped on re-run; output is
written with dynamic partition overwrite (plans/checkpoint.py).

No SparkSession config is hard-coded here beyond sane defaults -- master,
executor sizing, and shuffle partitions come from spark-submit --conf, as
they should on a real cluster.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (url, warc_ts, html, text, lang)")
    ap.add_argument("--pbf", help="standalone .osm.pbf file (the reference's "
                                  "input mode): distributed byte-range read; "
                                  "url lineage = <path>#<offset> per blob")
    ap.add_argument("--out", required=True, help="output root (entities/, tiles/, pages_geo/)")
    ap.add_argument("--checkpoint", required=True, help="checkpoint table path")
    ap.add_argument("--partitions", type=int, default=256, help="logical resume partitions")
    ap.add_argument("--max-zoom", type=int, default=12)
    ap.add_argument("--job-id", default="pipeline-v1")
    args = ap.parse_args()
    if bool(args.pages) == bool(args.pbf):
        ap.error("exactly one of --pages / --pbf is required")

    spark = (
        SparkSession.builder.appName("osm-pbf-convert-spark-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from osm_pbf_convert_spark.plans.checkpoint import CheckpointTable, run_with_checkpoint
    from osm_pbf_convert_spark.sources.byterange import _local_frame
    from osm_pbf_convert_spark.sources.pbf import decode_entities

    table = CheckpointTable(args.checkpoint)
    if args.pbf:
        # blob frames are deterministic per file (same offsets on every
        # re-scan), so the url-hash bucketing gives stable resume
        # partitions exactly as for a pages table
        from osm_pbf_convert_spark.sources.pbf_file import pbf_blob_frames

        pages = pbf_blob_frames(spark, args.pbf).select(
            "url", F.col("payload").alias("html")
        )
    else:
        pages = spark.read.parquet(args.pages)
    pages = pages.withColumn(
        "partition_id", F.pmod(F.xxhash64("url"), F.lit(args.partitions))
    )

    # stage 1 (resumable): decode entities per partition
    bad_acc = spark.sparkContext.accumulator(0)

    def decode_stage(pend):
        # production policy: corrupt payloads are skipped, not fatal; each
        # skip bumps the accumulator so corruption is distinguishable from
        # legitimately empty payloads and lands in the checkpoint metrics
        return decode_entities(
            pend, passthrough=("url", "partition_id"), on_error="skip", bad_counter=bad_acc
        )

    n = run_with_checkpoint(
        spark, pages, decode_stage, f"{args.out}/entities", table, f"{args.job_id}-decode"
    )
    print(f"decode: committed {n} partitions, {bad_acc.value} corrupt payloads skipped")
    if n:
        # corruption metric caveats (by construction, documented here and in
        # the metric name): (a) the accumulator is bumped inside a
        # transformation (mapInArrow), so stage/task RETRIES can overcount
        # -- treat it as approximate, an alarm threshold not a ledger;
        # (b) it is PER-BATCH: every resumed batch appends its own
        # partition_id=-1 row, so consumers must MAX/inspect per batch, not
        # SUM across the job. Exact counts, if ever needed, come from
        # per-partition row deltas (lineage n_rows vs input page counts).
        metric = _local_frame(
            spark, "partition_id bigint, n_rows bigint, metric_name string, metric_value double",
            partition_id=[-1], n_rows=[0], metric_name=["n_bad_payloads_batch_approx"],
            metric_value=[float(bad_acc.value)],
        )
        table.commit(spark, f"{args.job_id}-decode", metric)

    # stage 2 (derived, idempotent overwrite): joins + tiles from the
    # materialized entities table
    from osm_pbf_convert_spark.operators.joins import join_pages_geo, resolve_ways
    from osm_pbf_convert_spark.operators.tiling import heat_map, tile_pyramid

    entities = spark.read.parquet(f"{args.out}/entities")
    nodes = entities.filter(F.col("kind") == 0).select("url", "id", "ilat", "ilon", "tags")
    ways = entities.filter(F.col("kind") == 1).select("id", "refs", "tags")

    resolve_ways(ways, nodes.drop("url")).write.mode("overwrite").parquet(f"{args.out}/ways_resolved")
    tile_pyramid(nodes, max_z=args.max_zoom, min_z=0).write.mode("overwrite").parquet(f"{args.out}/tiles")
    heat_map(nodes).write.mode("overwrite").parquet(f"{args.out}/heat")
    if args.pages:
        # pages_geo joins the page TEXT back to its geo extent -- only
        # meaningful for the pages-table input (a raw extract has no text)
        join_pages_geo(spark.read.parquet(args.pages), nodes).write.mode("overwrite").parquet(
            f"{args.out}/pages_geo"
        )
    print("pipeline complete")
    spark.stop()


if __name__ == "__main__":
    main()
