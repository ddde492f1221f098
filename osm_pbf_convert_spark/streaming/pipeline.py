"""The composed streaming pipeline: ingest -> decode -> tile rollup ->
stateful dedup, as ONE documented product surface (the streaming twin of
jobs/run_pipeline.py; entry point jobs/run_stream_pipeline.py).

Until round 7 the streaming story was per-operator (streaming/
{pbf_extracts,tiles,dedup}.py each proven against its batch twin); this
module chains them the way a live crawl ingest actually runs, using the
standard bronze/silver multi-query pattern -- each stage is its own
streaming query with its own checkpoint, chained through the parquet
streaming sink's transaction log:

1. **decode** (bronze): pages parquet stream (url, warc_ts, html, text,
   lang -- the north-rule input shape) OR ``.osm.pbf`` extract drops
   (binaryFile source) -> stateless mapInArrow decode -> append-only
   ``{out}/entities``. Pages mode uses the FUSED decoder
   (``decode_entities_geo``, round 8): the ONE parse also emits each
   page's kind=3 geo-extent row, so the pages_geo stage no longer
   re-parses every payload (the old double decode cost ~35% extra
   ingest CPU at the 16x rehearsal); entity consumers filter
   ``kind <= 2``. Exactly-once per input file: the file source
   checkpoints which files it has consumed, the parquet sink logs which
   output files each batch committed (``_spark_metadata``), so a
   crashed/restarted query neither re-decodes nor double-writes.
2. **tiles** (silver): ``{out}/entities`` read AS A STREAM (the sink's
   metadata log makes the handoff exactly-once) -> node filter ->
   running per-finest-tile counts (update-mode stateful aggregation;
   state is bounded by the touched-tile count, <= 4^max_z keys, NOT by
   input rows) -> ``foreachBatch`` merge: changed tiles are upserted
   into ``{out}/tiles_finest`` and the z..min_z pyramid is re-derived
   from the merged finest table (``pyramid_from_finest`` -- input is the
   tile aggregate, never the node stream). The merge is idempotent
   (cumulative counts keyed by tile), so foreachBatch's at-least-once
   retry contract still yields exactly-once table contents. With plain
   parquet the upsert rewrites the finest table (bounded by tile count);
   on a lakehouse deployment the same fn is one Delta/Iceberg MERGE.
3. **pages_geo** (pages mode only): a stateless kind==3 projection of
   the fused bronze table (the extent was computed PAGE-LOCALLY inside
   the decode pass -- a page's nodes come only from its own payload, so
   the per-url aggregate needs no shuffle and no state; the batch
   pipeline joins against the materialized entities table instead,
   row-for-row equal by pytest).
4. **dedup** (pages mode only -- extracts carry no text): page text ->
   ``stream_minhash_pairs`` (stateful LSH, RocksDB state store) ->
   append ``{out}/dup_pairs``. Pair emission is at-least-once per shared
   band (streaming/dedup.py contract); consumers take
   ``DISTINCT (a, b)``, which the replay test pins equal to the batch
   operator's pair set. Page identity: ``doc_id = xxhash64(url)`` --
   streams key documents by a 64-bit url hash because the stateful
   operator packs ids into fixed-width state (collision odds at crawl
   scale ~ n^2 / 2^65 -- negligible, and a collision costs one spurious
   candidate pair, not a correctness break downstream of verify).

``availableNow`` drains the three queries SEQUENTIALLY (decode fully
lands before tiles reads; the replay/test mode and the batch-parity
proof); continuous mode starts all three concurrently and lets the
sink->source chaining stream batches through as they commit.

Scale notes (100 TB): every stage is the already-rehearsed batch plan
lifted to streams -- decode is stateless Arrow, the tile state is the
pyramid's finest aggregate (the same bound as batch), dedup state is
8 B/doc/band in RocksDB. Nothing in the chain holds input-proportional
executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_pbf_convert_spark.operators.tiling import pyramid_from_finest
from osm_pbf_convert_spark.streaming.dedup import (
    configure_state_store,
    stream_minhash_pairs,
)

# decode_entities output with passthrough=("url",): the schema the tiles
# stage uses to re-read the entities sink as a stream (file sources do
# not infer schemas). Extract mode writes this exact shape.
ENTITY_SCHEMA = (
    "url string, kind int, id bigint, lat double, lon double, ilat int,"
    " ilon int, tags map<string,string>, refs array<bigint>,"
    " members array<struct<member_type:int, ref:bigint, role:string>>"
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# pages mode (round 8, fused decode): the bronze table additionally holds
# kind=3 page-geo rows (decode_entities_geo), so every payload is parsed
# ONCE -- the old pipeline ran decode_pages_geo as a second full parse of
# the same html column (~35% extra ingest CPU at the 16x rehearsal).
# Entity consumers filter kind <= 2; the pages_geo stage is now a
# stateless kind==3 projection of this table.
_ENTITY_COLS = (
    "kind int, id bigint, lat double, lon double, ilat int,"
    " ilon int, tags map<string,string>, refs array<bigint>,"
    " members array<struct<member_type:int, ref:bigint, role:string>>"
)
_GEO_COLS = "n_geo bigint, min_ilat int, max_ilat int, min_ilon int, max_ilon int"


def fused_entity_schema(source: DataFrame, payload_col: str = "html"):
    """(schema string, passthrough column names) of the fused bronze
    table for a given pages source -- mirrors decode_entities_geo's
    url-first column order."""
    fields = {f.name: f for f in source.schema.fields if f.name != payload_col}
    ordered = ["url"] + [n for n in fields if n != "url"]
    pass_cols = ", ".join(
        f"{n} {fields[n].dataType.simpleString()}" for n in ordered
    )
    return f"{pass_cols}, {_ENTITY_COLS}, {_GEO_COLS}", ordered


FUSED_ENTITY_SCHEMA = (
    "url string, warc_ts timestamp, text string, lang string,"
    f" {_ENTITY_COLS}, {_GEO_COLS}"
)


def pages_stream(spark: SparkSession, pages_dir: str, schema: str = PAGES_SCHEMA,
                 **options) -> DataFrame:
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(pages_dir)


def decode_query(
    source: DataFrame,
    out: str,
    checkpoint: str,
    payload_col: str = "html",
    available_now: bool = True,
    trigger_seconds: int = 30,
    with_geo: bool = False,
):
    """Start the bronze decode query: payload stream -> entities parquet.
    ``with_geo=True`` (pages mode) uses the FUSED decoder: the same parse
    also emits each page's kind=3 geo-extent row (round 8 -- one parse
    per payload instead of two)."""
    from osm_pbf_convert_spark.sources.pbf import decode_entities, decode_entities_geo

    if with_geo:
        entities = decode_entities_geo(source, payload_col=payload_col, on_error="skip")
    else:
        entities = decode_entities(
            source, payload_col=payload_col, passthrough=("url",), on_error="skip"
        )
    w = (
        entities.writeStream.format("parquet")
        .option("path", f"{out}/entities")
        .option("checkpointLocation", f"{checkpoint}/decode")
        .outputMode("append")
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    return w.start()


def _hadoop_fs(sess: SparkSession, path: str):
    """(FileSystem, Path) for a URI via the session's Hadoop conf."""
    jvm = sess.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sess.sparkContext._jsc.hadoopConfiguration()), p


def _committed(fs, sess, path: str) -> bool:
    """A parquet table dir is COMMITTED iff its _SUCCESS marker exists --
    a bare directory can be the debris of a crashed overwrite."""
    jvm = sess.sparkContext._jvm
    return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS"))


def merge_finest_batch(
    sess: SparkSession,
    updated: DataFrame,
    finest_path: str,
    tmp_path: str,
    tiles_path: str,
    max_z: int,
    min_z: int,
) -> None:
    """One tile-rollup micro-batch merge: upsert the CUMULATIVE per-tile
    counts in ``updated`` into the finest table, re-derive the pyramid.

    Crash-safe by a write-then-rename swap (round 8; ADVICE r7 high):

    1. merge is computed against the last COMMITTED finest table --
       committed means the ``_SUCCESS`` marker exists; a directory
       without it is debris of a crashed overwrite and must NOT be read,
       and (the old bug) a read failure must NOT silently degrade into
       "first batch", which dropped every previously accumulated tile;
    2. the merged table is written to ``tmp`` (its own ``_SUCCESS``
       commits it), then swapped in via delete + rename -- both
       directory-atomic on HDFS/local filesystems (object-store
       deployments swap this body for a lakehouse MERGE, as the module
       docs already prescribe);
    3. a crash between the delete and the rename leaves a committed
       ``tmp`` and no committed finest: the NEXT batch (or the
       foreachBatch retry) completes the rename first, so the committed
       state is always either the old or the new table, never a blend.

    Idempotent under foreachBatch's at-least-once retries: update-mode
    rows are cumulative counts keyed by tile, so re-merging the same
    batch produces the identical table.

    Raises ``ValueError`` when ``finest_path`` holds the incremental
    ``pz=`` layout: merging over it would drop that state.
    """
    fs, _ = _hadoop_fs(sess, finest_path)
    jvm = sess.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    if _pz_dirs(fs, jvm, finest_path):
        raise ValueError(
            f"tile merge: {finest_path} holds the incremental pz= layout; "
            "use merge_finest_batch_incremental on it"
        )
    if not updated.take(1):
        return
    finest_ok = _committed(fs, sess, finest_path)
    if not finest_ok and _committed(fs, sess, tmp_path):
        # crashed mid-swap: tmp IS the committed latest state -- finish
        # the rename before merging this batch on top of it
        if fs.exists(hpath(finest_path)):
            fs.delete(hpath(finest_path), True)
        if not fs.rename(hpath(tmp_path), hpath(finest_path)):
            raise IOError(f"tile merge: swap recovery rename failed for {finest_path}")
        sess.catalog.refreshByPath(finest_path)
        finest_ok = True
    if finest_ok:
        # fail LOUD on a real read error of a committed table (transient
        # IO must retry the batch, not reset the accumulated tiles)
        old = sess.read.parquet(finest_path)
        merged = old.join(updated.select("tile"), "tile", "left_anti").unionByName(updated)
    else:
        merged = updated  # genuinely the first batch: nothing committed yet
    merged.write.mode("overwrite").parquet(tmp_path)
    if fs.exists(hpath(finest_path)):
        fs.delete(hpath(finest_path), True)
    if not fs.rename(hpath(tmp_path), hpath(finest_path)):
        raise IOError(f"tile merge: rename {tmp_path} -> {finest_path} failed")
    sess.catalog.refreshByPath(finest_path)
    sess.catalog.refreshByPath(tmp_path)
    pyramid_from_finest(
        sess.read.parquet(finest_path), max_z, min_z
    ).write.mode("overwrite").parquet(tiles_path)


def _pz_dirs(fs, jvm, root: str) -> dict:
    """``{pz value: hadoop Path}`` of a table root's partition dirs."""
    hpath = jvm.org.apache.hadoop.fs.Path
    p = hpath(root)
    if not fs.exists(p):
        return {}
    out = {}
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("pz="):
            out[int(name[3:])] = st.getPath()
    return out


def _recover_partition_swaps(fs, jvm, table_root: str, tmp_root: str) -> None:
    """Complete any partition swap a crash interrupted: a COMMITTED tmp
    (root ``_SUCCESS``) whose ``pz=k`` dir is absent from the table root
    is the authoritative latest state for that partition (the old dir was
    already moved aside; renames are per-dir atomic, so a table partition
    dir, when present, is always complete)."""
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hpath(f"{tmp_root}/_SUCCESS")):
        return
    fs.mkdirs(hpath(table_root))
    present = _pz_dirs(fs, jvm, table_root)
    for pz, path in _pz_dirs(fs, jvm, tmp_root).items():
        if pz not in present:
            if not fs.rename(path, hpath(f"{table_root}/pz={pz}")):
                raise IOError(
                    f"tile merge: swap recovery rename failed for "
                    f"{table_root}/pz={pz}"
                )


def _swap_partitions(fs, jvm, table_root: str, tmp_root: str, trash_root: str,
                     pzs) -> int:
    """Swap the listed ``pz`` partition dirs from tmp into the table:
    old dir moves aside to trash (atomic rename -- never a recursive
    delete inside the table root, which a crash could tear), new dir
    renames in (atomic). Returns bytes swapped in. A crash between the
    two renames leaves the committed tmp holding that partition's latest
    state -- ``_recover_partition_swaps`` completes it on retry."""
    hpath = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(hpath(table_root))
    fs.mkdirs(hpath(trash_root))
    nbytes = 0
    for pz in pzs:
        src = hpath(f"{tmp_root}/pz={pz}")
        if not fs.exists(src):
            continue  # zero rows planned for this partition in this batch
        nbytes += fs.getContentSummary(src).getLength()
        dst = hpath(f"{table_root}/pz={pz}")
        if fs.exists(dst):
            aside = hpath(f"{trash_root}/pz={pz}")
            if fs.exists(aside):
                fs.delete(aside, True)
            if not fs.rename(dst, aside):
                raise IOError(f"tile merge: move-aside failed for {dst}")
        if not fs.rename(src, dst):
            raise IOError(f"tile merge: rename {src} -> {dst} failed")
    return nbytes


def merge_finest_batch_incremental(
    sess: SparkSession,
    updated: DataFrame,
    finest_path: str,
    tiles_path: str,
    max_z: int,
    min_z: int,
    anchor_z: int,
    stats: list | None = None,
) -> None:
    """Incremental flavor of ``merge_finest_batch`` (round 8; VERDICT r7
    item 3): per-batch WORK AND BYTES WRITTEN are proportional to the
    tiles the batch actually changed, not to the accumulated table size.

    Both tables are laid out as parquet partition dirs keyed by the
    changed tile's ancestor at ``anchor_z`` (``pz = tile >> 2*(max_z -
    anchor_z)``, <= 4^anchor_z dirs):

    - **finest**: only partitions containing a changed tile are merged
      (partition-pruned read) and rewritten; untouched regions are not
      read, not written.
    - **pyramid**: a tile at zoom z >= anchor_z descends from exactly one
      ``pz`` region, so the changed partitions' [anchor_z..max_z] levels
      are re-derived from just the merged finest partitions; the coarse
      head [min_z..anchor_z) (< 4^anchor_z rows total) is re-aggregated
      from the anchor level and lives in the sentinel dir ``pz=-1``.

    Crash safety is the same committed-or-old contract as the full-table
    swap, at partition granularity: the batch's output commits in tmp as
    ONE write (root ``_SUCCESS``), each partition then swaps in by
    atomic renames (old aside to trash, new in); a crash mid-swap leaves
    every partition either old or new, never torn, and
    ``_recover_partition_swaps`` completes pending renames before the
    retry re-merges. Per-tile idempotence (update-mode rows are
    CUMULATIVE counts) makes re-merging on a partially swapped table
    yield the identical result. Raises ``ValueError`` when
    ``finest_path`` holds the full-table layout (a root ``_SUCCESS``):
    the partition swap would leave that table's files beside the new
    ``pz=`` dirs.
    """
    fs, _ = _hadoop_fs(sess, finest_path)
    jvm = sess.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    if _committed(fs, sess, finest_path):
        raise ValueError(
            f"tile merge: {finest_path} holds the full-table layout; "
            "use merge_finest_batch on it"
        )
    if not updated.take(1):
        return
    eff_anchor = min(max(anchor_z, min_z), max_z)
    finest_tmp = f"{finest_path}__tmp"
    tiles_tmp = f"{tiles_path}__tmp"
    finest_trash = f"{finest_path}__trash"
    tiles_trash = f"{tiles_path}__trash"
    # 1. finish anything a crashed swap left pending, then clear debris
    _recover_partition_swaps(fs, jvm, finest_path, finest_tmp)
    _recover_partition_swaps(fs, jvm, tiles_path, tiles_tmp)
    for trash in (finest_trash, tiles_trash):
        fs.delete(hpath(trash), True)

    shift = 2 * (max_z - eff_anchor)
    upd = updated.withColumn("pz", F.shiftrightunsigned("tile", shift))
    changed = sorted(r["pz"] for r in upd.select("pz").distinct().collect())
    # 2. merge ONLY the changed partitions of the finest table
    existing = _pz_dirs(fs, jvm, finest_path)
    read_dirs = [str(existing[pz]) for pz in changed if pz in existing]
    if read_dirs:
        old = sess.read.option("basePath", finest_path).parquet(*read_dirs)
        merged = (
            old.join(upd.select("tile"), "tile", "left_anti")
            .select("tile", "cnt", "pz")
            .unionByName(upd.select("tile", "cnt", "pz"))
        )
    else:
        merged = upd.select("tile", "cnt", "pz")
    # one shuffle task per changed region (capped at the core count) ->
    # exactly one data file per partition dir, no 200-task micro-stages
    n_tasks = max(1, min(len(changed), sess.sparkContext.defaultParallelism))
    merged.repartition(n_tasks, "pz").write.partitionBy("pz").mode(
        "overwrite"
    ).parquet(finest_tmp)
    nbytes = _swap_partitions(fs, jvm, finest_path, finest_tmp, finest_trash, changed)
    sess.catalog.refreshByPath(finest_path)
    # 3. re-derive the pyramid for the changed regions only: tail levels
    # [eff_anchor..max_z] from the just-committed finest partitions ...
    changed_dirs = [f"{finest_path}/pz={pz}" for pz in changed]
    mc = (
        sess.read.option("basePath", finest_path)
        .parquet(*changed_dirs)
        .select("tile", "cnt")
    )
    tail = pyramid_from_finest(mc, max_z, eff_anchor).withColumn(
        "pz", F.expr(f"shiftrightunsigned(tile, 2 * (z - {eff_anchor}))")
    )
    swap_pzs = list(changed)
    out_df = tail
    if min_z < eff_anchor:
        # ... plus the coarse head [min_z..eff_anchor), re-aggregated from
        # the GLOBAL anchor level (changed regions from the new tail,
        # unchanged regions from the committed pyramid; < 4^anchor rows)
        anchor_parts = [tail.filter(F.col("z") == eff_anchor).select("tile", "cnt")]
        unchanged_dirs = [
            str(p)
            for pz, p in _pz_dirs(fs, jvm, tiles_path).items()
            if pz not in changed and pz != -1
        ]
        if unchanged_dirs:
            anchor_parts.append(
                sess.read.option("basePath", tiles_path)
                .parquet(*unchanged_dirs)
                .filter(F.col("z") == eff_anchor)
                .select("tile", "cnt")
            )
        anchor_level = anchor_parts[0]
        for part in anchor_parts[1:]:
            anchor_level = anchor_level.unionByName(part)
        head = (
            pyramid_from_finest(anchor_level, eff_anchor, min_z)
            .filter(F.col("z") < eff_anchor)
            .withColumn("pz", F.lit(-1))
        )
        out_df = tail.unionByName(head)
        swap_pzs.append(-1)
    out_df.repartition(n_tasks, "pz").write.partitionBy("pz").mode(
        "overwrite"
    ).parquet(tiles_tmp)
    nbytes += _swap_partitions(fs, jvm, tiles_path, tiles_tmp, tiles_trash, swap_pzs)
    sess.catalog.refreshByPath(tiles_path)
    if stats is not None:
        stats.append({"changed_pz": len(changed), "bytes_written": nbytes})


def tile_rollup_query(
    spark: SparkSession,
    out: str,
    checkpoint: str,
    max_z: int = 12,
    min_z: int = 0,
    available_now: bool = True,
    trigger_seconds: int = 30,
    entity_schema: str | None = None,
    anchor_z: int | None = None,
    merge_stats: list | None = None,
):
    """Start the silver tile query: entities stream -> running finest-tile
    counts -> merged finest table + derived pyramid (crash-safe merge:
    ``merge_finest_batch``; with ``anchor_z`` set, the INCREMENTAL
    partition-pruned merge ``merge_finest_batch_incremental`` -- per-batch
    bytes written proportional to changed tiles, not table size)."""
    from osm_pbf_convert_spark.functions.cells import morton_cell_col, tile_col

    nodes = (
        spark.readStream.schema(entity_schema or ENTITY_SCHEMA)
        .parquet(f"{out}/entities")
        .filter(F.col("kind") == 0)
    )
    cell = morton_cell_col(F.col("ilat"), F.col("ilon"))
    finest = nodes.groupBy(tile_col(cell, max_z).alias("tile")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    finest_path = f"{out}/tiles_finest"
    tiles_path = f"{out}/tiles"
    tmp_path = f"{out}/_tiles_finest_tmp"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if anchor_z is not None:
            merge_finest_batch_incremental(
                batch_df.sparkSession, batch_df.select("tile", "cnt"),
                finest_path, tiles_path, max_z, min_z, anchor_z,
                stats=merge_stats,
            )
        else:
            merge_finest_batch(
                batch_df.sparkSession, batch_df.select("tile", "cnt"),
                finest_path, tmp_path, tiles_path, max_z, min_z,
            )

    w = (
        finest.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", f"{checkpoint}/tiles")
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    return w.start()


def pages_geo_query(
    spark: SparkSession,
    out: str,
    checkpoint: str,
    available_now: bool = True,
    trigger_seconds: int = 30,
    entity_schema: str = FUSED_ENTITY_SCHEMA,
    pass_cols: tuple = ("url", "warc_ts", "text", "lang"),
):
    """Start the pages_geo query: project the fused bronze table's kind=3
    rows (page-local geo extents computed inside the ONE decode pass --
    round 8; previously this stage re-parsed every html payload with
    ``decode_pages_geo``). Reads ``{out}/entities`` as a stream, so the
    sink->source handoff stays exactly-once; text passes through
    byte-identical."""
    geo = (
        spark.readStream.schema(entity_schema)
        .parquet(f"{out}/entities")
        .filter(F.col("kind") == 3)
        .select(*pass_cols, "n_geo", "min_ilat", "max_ilat", "min_ilon", "max_ilon")
    )
    w = (
        geo.writeStream.format("parquet")
        .option("path", f"{out}/pages_geo")
        .option("checkpointLocation", f"{checkpoint}/pages_geo")
        .outputMode("append")
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    return w.start()


def dedup_query(
    source: DataFrame,
    out: str,
    checkpoint: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
    state_ttl_minutes: int | None = None,
    available_now: bool = True,
    trigger_seconds: int = 30,
):
    """Start the dedup query: page text -> stateful LSH candidate pairs.
    Caller must have pointed the state store at RocksDB
    (``configure_state_store``) -- the orchestrator below does."""
    docs = source.select(
        F.xxhash64("url").alias("doc_id"), F.col("text")
    ).filter(F.col("text").isNotNull())
    pairs = stream_minhash_pairs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
        state_ttl_minutes=state_ttl_minutes,
    )
    w = (
        pairs.writeStream.format("parquet")
        .option("path", f"{out}/dup_pairs")
        .option("checkpointLocation", f"{checkpoint}/dedup")
        .outputMode("append")
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(
        processingTime=f"{trigger_seconds} seconds"
    )
    return w.start()


def _drain(q, timeout: int, name: str) -> None:
    try:
        if not q.awaitTermination(timeout):
            raise TimeoutError(
                f"streaming pipeline stage '{name}' did not drain within "
                f"{timeout}s (availableNow replay)"
            )
    finally:
        q.stop()


def run_streaming_pipeline(
    spark: SparkSession,
    out: str,
    checkpoint: str,
    pages_dir: str | None = None,
    watch_dir: str | None = None,
    pages_schema: str = PAGES_SCHEMA,
    max_z: int = 12,
    min_z: int = 0,
    lsh: dict | None = None,
    available_now: bool = True,
    trigger_seconds: int = 30,
    timeout: int = 600,
    source_options: dict | None = None,
    tile_anchor_z: int | None = None,
    merge_stats: list | None = None,
):
    """Run the composed pipeline. Exactly one of ``pages_dir`` (crawl
    pages parquet stream; enables the dedup stage) / ``watch_dir``
    (``.osm.pbf`` extract drops; no text, so no dedup stage).

    ``tile_anchor_z`` switches the tile merge to the incremental
    partition-pruned layout (``merge_finest_batch_incremental``): per
    micro-batch, only the <= 4^anchor_z coarse regions a batch touched
    are read and rewritten. Choose it once per ``out`` dir (the table
    layouts differ).

    ``available_now=True`` drains each stage sequentially and returns a
    summary dict -- the replay mode (idempotently resumable: re-running
    with the same checkpoint processes only files that arrived since).
    ``available_now=False`` starts the queries concurrently and returns
    them; the caller owns their lifecycle.
    """
    if bool(pages_dir) == bool(watch_dir):
        raise ValueError("exactly one of pages_dir / watch_dir is required")
    opts = source_options or {}
    if pages_dir:
        source = pages_stream(spark, pages_dir, pages_schema, **opts)
        payload_col = "html"
        entity_schema, pass_cols = fused_entity_schema(source, payload_col)
    else:
        from osm_pbf_convert_spark.streaming.pbf_extracts import pbf_extract_stream

        source = pbf_extract_stream(spark, watch_dir)
        payload_col = "payload"
        entity_schema, pass_cols = ENTITY_SCHEMA, ["url"]

    import time

    prev_provider = configure_state_store(spark, "rocksdb")
    stage_walls: dict[str, float] = {}
    merge_stats = [] if merge_stats is None else merge_stats
    try:
        queries = []
        t0 = time.time()
        q1 = decode_query(
            source, out, checkpoint, payload_col=payload_col,
            available_now=available_now, trigger_seconds=trigger_seconds,
            with_geo=bool(pages_dir),
        )
        queries.append(("decode", q1))
        if available_now:
            _drain(q1, timeout, "decode")
            stage_walls["decode"] = round(time.time() - t0, 1)
        t0 = time.time()
        q2 = tile_rollup_query(
            spark, out, checkpoint, max_z=max_z, min_z=min_z,
            available_now=available_now, trigger_seconds=trigger_seconds,
            entity_schema=entity_schema, anchor_z=tile_anchor_z,
            merge_stats=merge_stats,
        )
        queries.append(("tiles", q2))
        if available_now:
            _drain(q2, timeout, "tiles")
            stage_walls["tiles"] = round(time.time() - t0, 1)
        if pages_dir:
            t0 = time.time()
            qg = pages_geo_query(
                spark, out, checkpoint,
                available_now=available_now, trigger_seconds=trigger_seconds,
                entity_schema=entity_schema, pass_cols=tuple(pass_cols),
            )
            queries.append(("pages_geo", qg))
            if available_now:
                _drain(qg, timeout, "pages_geo")
                stage_walls["pages_geo"] = round(time.time() - t0, 1)
        q3 = None
        if pages_dir:
            t0 = time.time()
            q3 = dedup_query(
                source, out, checkpoint, **(lsh or {}),
                available_now=available_now, trigger_seconds=trigger_seconds,
            )
            queries.append(("dedup", q3))
            if available_now:
                _drain(q3, timeout, "dedup")
                stage_walls["dedup"] = round(time.time() - t0, 1)
        if not available_now:
            # concurrent mode: queries are still running against the
            # RocksDB conf -- the caller owns lifecycle AND conf restore
            return queries
    finally:
        if available_now:
            if prev_provider is None:
                configure_state_store(spark, "hdfs")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_provider
                )

    summary = {"out": out, "stages": [n for n, _ in queries],
               "stage_walls": stage_walls}
    if merge_stats:
        summary["tile_merge"] = {
            "batches": len(merge_stats),
            "changed_pz": [s["changed_pz"] for s in merge_stats],
            "bytes_written": [s["bytes_written"] for s in merge_stats],
        }
    try:
        # fused bronze (pages mode) holds kind=3 geo rows too: count only
        # the entity rows, matching the batch decode
        summary["n_entities"] = (
            spark.read.parquet(f"{out}/entities").filter(F.col("kind") <= 2).count()
        )
        summary["n_tile_rows"] = spark.read.parquet(f"{out}/tiles").count()
    except Exception:
        summary["n_entities"] = 0
        summary["n_tile_rows"] = 0
    if pages_dir:
        try:
            summary["n_pages_geo"] = spark.read.parquet(f"{out}/pages_geo").count()
        except Exception:
            summary["n_pages_geo"] = 0
        try:
            summary["n_dup_pairs_distinct"] = (
                spark.read.parquet(f"{out}/dup_pairs").select("a", "b").distinct().count()
            )
        except Exception:
            summary["n_dup_pairs_distinct"] = 0
    return summary
