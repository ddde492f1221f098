"""Streaming source of ``.osm.pbf`` extracts: watch a directory and emit
each newly-arrived extract file as one (url, payload) row.

The reference processes one extract per invocation
(``PbfFileProcessor.Process``); a live pipeline instead receives
regional extract drops (Geofabrik-style dailies) and wants them decoded
as they land. Structured Streaming's ``binaryFile`` source provides
exactly-once per-file tracking (checkpointed file log), and the
``sources.pbf`` decoders (one mapInArrow loop) run UNCHANGED on the
streaming DataFrame -- ``streaming/pipeline.py`` decodes this stream
with the batch decode stack, so the batch DuckDB oracles validate the
streaming semantics.

Scale shape: one input file per task (``binaryFile`` does not split
files) -- right for the extract-drop pattern where files arrive many at
a time; a single monolithic planet file is the batch reader's job
(``sources.pbf_file``, byte-range splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pbf_extract_stream(
    spark: SparkSession, watch_dir: str, glob: str = "*.osm.pbf"
) -> DataFrame:
    """Streaming DataFrame of (url, payload) per arriving extract file:
    the same (identity, framed-bytes) contract the decoders take, with
    the file path as the lineage identity."""
    return (
        spark.readStream.format("binaryFile")
        # the source's fixed schema, stated explicitly (streaming sources
        # do not infer)
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .load(watch_dir)
        .select(F.col("path").alias("url"), F.col("content").alias("payload"))
    )

