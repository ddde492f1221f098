"""Verb-for-verb CLI facade over the engine, mirroring the reference's
entry points (``OSM-pbf-convert/Program.cs:34-97``): one verb per
processor, same names, Spark outputs instead of custom binary files.

    python jobs/cli.py <verb> --pages <pages parquet> --out <output root>
    python jobs/cli.py <verb> --pbf <extract.osm.pbf> --out <output root>

``--pbf`` reads a standalone OSM extract the way the reference's CLI
does (``PbfFileProcessor.Process``), but distributed: byte-range splits
self-sync to blob-frame boundaries (``sources/pbf_file.py``); the blob's
``<path>#<offset>`` becomes the ``url`` lineage identity.

| verb        | reference processor              | output                                    |
|-------------|----------------------------------|-------------------------------------------|
| blob-index  | IdsIndexerBlobProcessor          | out/blobs       (per-page id zone maps)   |
| nodes-index | NodesIndexBlobProcessor          | out/nodes_index (clustered node store)    |
| join        | NodesToWaysJoinProcessor         | out/ways_resolved                         |
| heat-map    | HeatMapProcessor                 | out/<name>.heat.map (reference bytes)     |
| tags        | TagsProcessor                    | out/tags_index  (value -> packed refs)    |
| tags-stat   | TagStatsProcessor                | out/tags_stat   (key counts + top-k)      |
| spatial     | SpatialProcessor / SpatialIndex  | out/spatial     (tile-partitioned store)  |
| ways-file   | WaysFileProcessor                | out/ways        (id, refs, tags)          |
| merge-rel   | RelationsProcessor               | out/relations   (assembled member rows)   |

The reference's byte-offset resume args (WaysStartOffset /
RelationsStartOffset, ``Program.cs:24-31``) are superseded by the
checkpointed pipeline (``jobs/run_pipeline.py --checkpoint``), which
resumes at logical-partition granularity instead of file offsets.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

VERBS = (
    "blob-index", "nodes-index", "join", "heat-map", "tags", "tags-stat",
    "spatial", "ways-file", "merge-rel",
)


def _spark(app: str) -> SparkSession:
    return (
        SparkSession.builder.appName(f"osm-pbf-convert-spark-{app}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # verbs persist aggregates they read twice (blob-index's per-blob
        # ids); without this, AQE may not coalesce a cached plan's shuffle,
        # so the cache keeps spark.sql.shuffle.partitions (200) partitions
        # and every join against it runs 200-task stages on a few rows
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .getOrCreate()
    )


def _payloads(spark, args):
    """Input frames: pages parquet (url+html) or a standalone .osm.pbf
    file (the reference's primary input; url = <path>#<offset> lineage).
    Both shapes feed the same decoders via (url, payload-column)."""
    if args.pbf:
        from osm_pbf_convert_spark.sources.pbf_file import pbf_blob_frames

        return pbf_blob_frames(spark, args.pbf), "payload"
    return spark.read.parquet(args.pages), "html"


def _nodes(spark, args):
    from osm_pbf_convert_spark.sources.pbf import decode_nodes

    df, col = _payloads(spark, args)
    return decode_nodes(df, payload_col=col, on_error="skip")


def _ways(spark, args):
    from osm_pbf_convert_spark.sources.pbf import decode_ways

    df, col = _payloads(spark, args)
    return decode_ways(df, payload_col=col, on_error="skip")


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("verb", choices=VERBS)
    ap.add_argument("--pages", help="pages table path (binary payload column)")
    ap.add_argument("--pbf", help="standalone .osm.pbf file or glob of region "
                                  "extracts (distributed byte-range read)")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--zoom", type=int, default=6, help="spatial store tile zoom")
    ap.add_argument("--top-k", type=int, default=400, help="tags-stat top-k")
    ap.add_argument("--heat-rows", type=int, default=16384, help="heat grid rows (reference dims)")
    ap.add_argument("--heat-cols", type=int, default=32768, help="heat grid cols (reference dims)")
    ap.add_argument("--heat-band-rows", type=int, default=512, help="rows per encoded band")
    ap.add_argument("--dat", action="store_true",
                    help="blob-index / nodes-index / ways-file / merge-rel / "
                         "spatial: additionally emit the reference's byte "
                         "files (BlobIdsInfo / NodesIndex / WaysDataFile / "
                         "RelationsProcessor / SpatialBlock parity artifacts; "
                         "the Parquet stores stay the query path)")
    args = ap.parse_args()
    if bool(args.pages) == bool(args.pbf):
        ap.error("exactly one of --pages / --pbf is required")

    spark = _spark(args.verb)
    out = args.out

    if args.verb == "blob-index":
        # per-blob id min/max/count zone maps (IdsIndexerBlobProcessor.cs:38-113);
        # the page url is the blob identity in the pages layout
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        pay, col = _payloads(spark, args)
        if args.pbf:
            # the reference indexes only OSMData blobs -- the OSMHeader
            # frame gets no record (PbfFileProcessor.cs: `if
            # (blob.Header.Type != "OSMData") continue;` before BlobRead)
            pay = pay.filter(F.col("blob_type") == "OSMData")
        # ONE payload scan and ONE decode (kind + id only) feed every
        # aggregate below: a single groupBy with per-kind conditional
        # aggregates gives the node zone map and the way/rel counts
        pay = pay.persist()
        ents = decode_entities(pay, payload_col=col, on_error="skip", columns=("kind", "id"))
        node_id = F.when(F.col("kind") == 0, F.col("id"))
        per_kind = [
            F.min(node_id).alias("min_id"), F.max(node_id).alias("max_id"),
            F.count(node_id).alias("cnt"),
        ]
        if args.dat:
            per_kind += [F.count(F.when(F.col("kind") == k, 1)).alias(a)
                         for k, a in ((1, "wc"), (2, "rc"))]
        ids = ents.groupBy("url").agg(*per_kind).persist()
        ids.filter(F.col("cnt") > 0).select("url", "min_id", "max_id", "cnt") \
            .write.mode("overwrite").parquet(f"{out}/blobs")
        if args.dat:
            # the reference's .blobs.dat byte form (BlobIdsInfo.cs:35-51):
            # per-blob node/way/rel counts; node-less blobs keep the C#
            # long.MaxValue/MinValue accumulator sentinels
            from osm_pbf_convert_spark.operators.blob_index_store import write_blobs_dat

            urls = pay.select("url").distinct()
            if args.pbf:  # url = <path>#<offset>: the true blob offset
                pos = F.element_at(F.split("url", "#"), -1).cast("long")
            else:  # pages have no byte offset; rank is the stable analog
                from pyspark.sql import Window

                pos = F.row_number().over(Window.orderBy("url")).cast("long") - 1
            # one row per blob on BOTH sides, but blob count scales with
            # corpus size (file_size/16MB): merge, not broadcast
            info = urls.select("url", pos.alias("start_position")) \
                .join(ids.hint("merge"), "url", "left")
            info = info.select(
                "start_position",
                F.coalesce("cnt", F.lit(0)).alias("nodes_count"),
                F.coalesce("min_id", F.lit((1 << 63) - 1)).alias("min_node_id"),
                F.coalesce("max_id", F.lit(-(1 << 63))).alias("max_node_id"),
                F.coalesce("wc", F.lit(0)).alias("ways_count"),
                F.coalesce("rc", F.lit(0)).alias("rels_count"),
            )
            nb = write_blobs_dat(info, f"{out}/blobs.dat")
            print(f"wrote {nb} blobs.dat bytes")
        ids.unpersist()
        pay.unpersist()

    elif args.verb == "nodes-index":
        # clustered node store (NodesIndex.cs:107-146): bucketed + sorted on
        # id so point lookups and the ways join read presorted buckets
        from osm_pbf_convert_spark.plans.partitioning import write_bucketed_nodes

        spark.sql(f"CREATE DATABASE IF NOT EXISTS cli_out LOCATION '{out}/nodes_index'")
        spark.catalog.setCurrentDatabase("cli_out")
        write_bucketed_nodes(_nodes(spark, args).select("id", "ilat", "ilon"), "nodes_index")
        if args.dat:
            from osm_pbf_convert_spark.operators.node_store import write_nodes_index_file

            nd, ni = write_nodes_index_file(
                _nodes(spark, args).select("id", "ilat", "ilon").dropDuplicates(["id"]),
                f"{out}/nodes",
            )
            print(f"wrote {nd} dat bytes, {ni} idx bytes")

    elif args.verb == "join":
        from osm_pbf_convert_spark.operators.joins import resolve_ways

        resolve_ways(
            _ways(spark, args).select("id", "refs", "tags"),
            _nodes(spark, args).select("id", "ilat", "ilon"),
        ).write.mode("overwrite").parquet(f"{out}/ways_resolved")

    elif args.verb == "heat-map":
        from osm_pbf_convert_spark.operators.tiling import heat_map, write_heat_map_file

        os.makedirs(out, exist_ok=True)
        name = os.path.basename((args.pages or args.pbf).rstrip("/"))
        n = write_heat_map_file(
            heat_map(_nodes(spark, args)), f"{out}/{name}.heat.map",
            rows=args.heat_rows, cols=args.heat_cols, band_rows=args.heat_band_rows,
        )
        print(f"wrote {n} bytes")

    elif args.verb == "tags":
        from osm_pbf_convert_spark.operators.tags import inverted_tag_index

        inverted_tag_index(
            nodes=_nodes(spark, args), ways=_ways(spark, args)
        ).write.mode("overwrite").parquet(f"{out}/tags_index")

    elif args.verb == "tags-stat":
        from osm_pbf_convert_spark.operators.tags import tag_key_stats, top_k_tags

        n = _nodes(spark, args)
        tag_key_stats(n).write.mode("overwrite").parquet(f"{out}/tags_stat/key_counts")
        top_k_tags(n, k=args.top_k).write.mode("overwrite").parquet(f"{out}/tags_stat/top_k")

    elif args.verb == "spatial":
        from osm_pbf_convert_spark.plans.partitioning import write_spatial_table

        write_spatial_table(
            _nodes(spark, args).select("id", "ilat", "ilon"),
            f"{out}/spatial", z=args.zoom,
        )
        if args.dat:
            from osm_pbf_convert_spark.operators.spatial_block import write_spatial_blocks

            n = write_spatial_blocks(
                f"{out}/spatial_blocks",
                nodes=_nodes(spark, args).select("id", "ilat", "ilon"),
                z=args.zoom,
            )
            print(f"wrote {n} block files")

    elif args.verb == "ways-file":
        _ways(spark, args).select("id", "refs", "tags").write.mode(
            "overwrite"
        ).parquet(f"{out}/ways")
        if args.dat:
            from osm_pbf_convert_spark.operators.joins import resolve_ways
            from osm_pbf_convert_spark.operators.way_store import write_ways_file

            resolved = resolve_ways(
                _ways(spark, args).select("id", "refs"),
                _nodes(spark, args).select("id", "ilat", "ilon"),
                keep_tags=False,
            )
            nd, ni = write_ways_file(resolved, f"{out}/ways.dat")
            print(f"wrote {nd} dat bytes, {ni} idx bytes")

    elif args.verb == "merge-rel":
        from osm_pbf_convert_spark.operators.joins import assemble_relations, resolve_ways
        from osm_pbf_convert_spark.sources.pbf import decode_relations

        nodes = _nodes(spark, args).select("id", "ilat", "ilon")
        ways = _ways(spark, args).select("id", "refs", "tags")
        pdf, col = _payloads(spark, args)
        rels = decode_relations(pdf, payload_col=col, on_error="skip").select(
            "id", "members"
        )
        assembled = assemble_relations(rels, nodes, resolve_ways(ways, nodes, keep_tags=False))
        assembled.write.mode("overwrite").parquet(f"{out}/relations")
        if args.dat:
            from osm_pbf_convert_spark.operators.rel_store import write_rels_file

            nd, ns = write_rels_file(assembled, f"{out}/relations.rels")
            print(f"wrote {nd} rels bytes, {ns} strings bytes")

    print("Done!")
    spark.stop()


if __name__ == "__main__":
    main()
