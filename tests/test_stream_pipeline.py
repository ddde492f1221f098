"""Composed streaming pipeline (streaming/pipeline.py): one availableNow
replay must reproduce the batch e2e exactly -- entities == batch decode,
tiles == batch tile_pyramid, distinct dup pairs == batch LSH pairs -- and
a re-run against the same checkpoint must process nothing new (the
streaming flavor of the batch job's idempotent resume)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osm_pbf_convert_spark.operators import dedup
from osm_pbf_convert_spark.operators.tiling import tile_pyramid
from osm_pbf_convert_spark.sources.pages import synth_pages
from osm_pbf_convert_spark.sources.pbf import decode_entities
from osm_pbf_convert_spark.streaming.pipeline import run_streaming_pipeline

LSH = dict(num_hashes=32, bands=8, shingle_k=5)
MAX_Z = 8


def _corpus(spark, sf_dir):
    """Pages landing table: synth pages (real html payloads) plus one
    page per document (empty payload, near-dup-planted text) so the
    decode AND dedup stages both have work in one corpus."""
    pages = synth_pages(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(b"").cast("binary").alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )
    return pages.select("url", "warc_ts", "html", "text", "lang").unionByName(docs)


def _entity_checksum(ent):
    return {
        (r["kind"], r["n"], r["ids"])
        for r in ent.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("id").cast("decimal(38,0)")).alias("ids"),
        )
        .collect()
    }


@pytest.mark.spark
class TestStreamPipeline:
    @pytest.fixture(scope="class")
    def run(self, spark, sf_dir, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("stream_pipe")
        landing = str(tmp / "landing")
        corpus = _corpus(spark, sf_dir)
        corpus.repartition(3).write.parquet(landing)
        out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
        summary = run_streaming_pipeline(
            spark, out=out, checkpoint=ckpt, pages_dir=landing,
            max_z=MAX_Z, lsh=LSH, timeout=300,
            source_options={"maxFilesPerTrigger": 1},
        )
        return dict(summary=summary, landing=landing, out=out, ckpt=ckpt)

    def test_spans_micro_batches(self, run):
        # only batch-id names: Hadoop writes a hidden .N.crc beside each
        offsets = os.listdir(os.path.join(run["ckpt"], "decode", "offsets"))
        assert len([o for o in offsets if o.isdigit()]) >= 3

    def test_entities_equal_batch_decode(self, spark, run):
        batch = decode_entities(
            spark.read.parquet(run["landing"]), on_error="skip"
        )
        # fused bronze (r8): entity consumers filter out the kind=3 rows
        got = spark.read.parquet(f"{run['out']}/entities").filter(F.col("kind") <= 2)
        assert _entity_checksum(got) == _entity_checksum(batch)
        assert run["summary"]["n_entities"] == batch.count()

    def test_tiles_equal_batch_pyramid(self, spark, run):
        batch_nodes = decode_entities(
            spark.read.parquet(run["landing"]), on_error="skip"
        ).filter(F.col("kind") == 0)
        want = {
            (r["z"], r["tile"], r["cnt"])
            for r in tile_pyramid(batch_nodes, max_z=MAX_Z, min_z=0).collect()
        }
        got = {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(f"{run['out']}/tiles").collect()
        }
        assert got == want
        finest = {
            (r["tile"], r["cnt"])
            for r in spark.read.parquet(f"{run['out']}/tiles_finest").collect()
        }
        assert finest == {(t, c) for z, t, c in want if z == MAX_Z}

    def test_pages_geo_equals_batch_join(self, spark, run):
        """The stateless page-local geo extent must equal the batch
        join_pages_geo(pages, decode_nodes(pages)) rows exactly, text
        byte-identical (compared via md5 on the common columns)."""
        from osm_pbf_convert_spark.operators.joins import join_pages_geo
        from osm_pbf_convert_spark.sources.pbf import decode_nodes

        pages = spark.read.parquet(run["landing"])
        cols = ["url", "warc_ts", "text", "lang",
                "n_geo", "min_ilat", "max_ilat", "min_ilon", "max_ilon"]
        want = {
            tuple(r)
            for r in join_pages_geo(
                pages, decode_nodes(pages, on_error="skip")
            )
            .select(*cols[:2], F.md5(F.col("text").cast("binary")).alias("text"),
                    *cols[3:])
            .collect()
        }
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{run['out']}/pages_geo")
            .select(*cols[:2], F.md5(F.col("text").cast("binary")).alias("text"),
                    *cols[3:])
            .collect()
        }
        assert got == want
        assert run["summary"]["n_pages_geo"] == len(want)

    def test_dup_pairs_equal_batch_lsh(self, spark, run):
        docs = spark.read.parquet(run["landing"]).select(
            F.xxhash64("url").alias("doc_id"), "text"
        ).filter(F.col("text").isNotNull())
        want = {
            (r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs, **LSH).collect()
        }
        assert want, "corpus must carry planted near-dup pairs"
        got = {
            (r["a"], r["b"])
            for r in spark.read.parquet(f"{run['out']}/dup_pairs")
            .select("a", "b").distinct().collect()
        }
        assert got == want
        assert run["summary"]["n_dup_pairs_distinct"] == len(want)

    def test_rerun_is_idempotent(self, spark, run):
        ents = lambda: spark.read.parquet(f"{run['out']}/entities").filter(
            F.col("kind") <= 2
        ).count()
        before = ents()
        summary2 = run_streaming_pipeline(
            spark, out=run["out"], checkpoint=run["ckpt"],
            pages_dir=run["landing"], max_z=MAX_Z, lsh=LSH, timeout=300,
        )
        assert summary2["n_entities"] == before
        assert ents() == before

    def test_empty_landing_counts_zero(self, spark, tmp_path):
        """Every summary count reads its sink with the schema the stage
        writes, so a drain over nothing reports zeros with no read error
        to swallow."""
        landing = tmp_path / "landing"
        landing.mkdir()
        summary = run_streaming_pipeline(
            spark, out=str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt"),
            pages_dir=str(landing), max_z=MAX_Z, lsh=LSH, timeout=300,
        )
        counts = ("n_entities", "n_tile_rows", "n_pages_geo", "n_dup_pairs_distinct")
        assert {k: summary[k] for k in counts} == dict.fromkeys(counts, 0)


@pytest.mark.spark
class TestStreamPipelineExtracts:
    def test_extract_mode(self, spark, sf_dir, tmp_path):
        """Watch-dir mode: an .osm.pbf drop decodes and tiles identically
        to the batch reader; no dedup stage (extracts carry no text). A
        second drop of the same extract, drained against the same
        checkpoint, merges a second micro-batch into the existing finest
        tile table: every count doubles."""
        import shutil

        from osm_pbf_convert_spark.queries import _pbf_file
        from osm_pbf_convert_spark.sources.pbf_file import pbf_blob_frames

        watch = tmp_path / "drops"
        watch.mkdir()
        src = _pbf_file(spark, sf_dir)
        shutil.copy(src, watch / "extract.osm.pbf")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        summary = run_streaming_pipeline(
            spark, out=out, checkpoint=ckpt, watch_dir=str(watch),
            max_z=MAX_Z, timeout=300,
        )
        assert summary["stages"] == ["decode", "tiles"]
        batch = decode_entities(
            pbf_blob_frames(spark, src).select("url", F.col("payload").alias("html"))
        )
        got = spark.read.parquet(f"{out}/entities")
        assert _entity_checksum(got) == _entity_checksum(batch)
        want = {
            (r["z"], r["tile"], r["cnt"])
            for r in tile_pyramid(
                batch.filter(F.col("kind") == 0), max_z=MAX_Z, min_z=0
            ).collect()
        }
        got_tiles = {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(f"{out}/tiles").collect()
        }
        assert got_tiles == want

        shutil.copy(src, watch / "extract2.osm.pbf")
        run_streaming_pipeline(
            spark, out=out, checkpoint=ckpt, watch_dir=str(watch),
            max_z=MAX_Z, timeout=300,
        )
        batch_ids = [n for n in os.listdir(f"{ckpt}/tiles/offsets") if n.isdigit()]
        assert len(batch_ids) >= 2, batch_ids
        got_tiles = {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(f"{out}/tiles").collect()
        }
        assert got_tiles == {(z, tile, 2 * cnt) for z, tile, cnt in want}


@pytest.mark.spark
class TestCrashSafeMerge:
    """Round-8 durability fix (ADVICE r7 high): the tile foreachBatch
    merge must survive a crash at ANY point of the tmp->finest swap
    without silently dropping previously accumulated tiles (the old bare
    ``except Exception: merged = updated`` treated any unreadable finest
    table as 'first batch')."""

    def _merge(self, spark, tmp_path, rows):
        from osm_pbf_convert_spark.streaming.pipeline import merge_finest_batch

        upd = spark.createDataFrame(rows, schema="tile long, cnt long")
        merge_finest_batch(
            spark, upd, str(tmp_path / "finest"), str(tmp_path / "tmp"),
            str(tmp_path / "tiles"), max_z=4, min_z=2,
        )

    def _finest(self, spark, tmp_path):
        return {
            (r["tile"], r["cnt"])
            for r in spark.read.parquet(str(tmp_path / "finest")).collect()
        }

    def _tiles(self, spark, tmp_path):
        return {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(str(tmp_path / "tiles")).collect()
        }

    def _want_tiles(self, spark, finest_rows):
        from osm_pbf_convert_spark.operators.tiling import pyramid_from_finest

        df = spark.createDataFrame(list(finest_rows), "tile long, cnt long")
        return {
            (r["z"], r["tile"], r["cnt"])
            for r in pyramid_from_finest(df, 4, 2).collect()
        }

    def test_normal_merge_accumulates(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        self._merge(spark, tmp_path, [(2, 7), (9, 1)])  # cumulative upsert
        assert self._finest(spark, tmp_path) == {(1, 5), (2, 7), (9, 1)}

    def test_accumulates_and_pyramid_matches_full_rollup(self, spark, tmp_path):
        # tiles in distinct zoom-2 parents, so the derived levels aggregate
        self._merge(spark, tmp_path, [(1, 5), (17, 3), (200, 4)])
        self._merge(spark, tmp_path, [(17, 7), (2, 1)])
        want_finest = {(1, 5), (2, 1), (17, 7), (200, 4)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_retry_same_batch_is_idempotent(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(1, 5), (17, 3)])
        self._merge(spark, tmp_path, [(17, 7)])
        finest, tiles = self._finest(spark, tmp_path), self._tiles(spark, tmp_path)
        self._merge(spark, tmp_path, [(17, 7)])  # foreachBatch retry
        assert self._finest(spark, tmp_path) == finest == {(1, 5), (17, 7)}
        assert self._tiles(spark, tmp_path) == tiles == self._want_tiles(spark, finest)

    def test_crash_between_delete_and_rename_recovers(self, spark, tmp_path):
        import shutil

        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        # simulate the crash window: batch 2's merged table is committed
        # in tmp, finest was deleted, rename never happened
        self._merge(spark, tmp_path, [(2, 7)])
        shutil.move(str(tmp_path / "finest"), str(tmp_path / "tmp"))
        # the retry / next batch must first finish the swap, then merge
        self._merge(spark, tmp_path, [(9, 1)])
        want_finest = {(1, 5), (2, 7), (9, 1)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_partial_tmp_debris_is_ignored(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        # simulate a crash DURING the tmp write: directory exists but was
        # never committed (no _SUCCESS) -- it must not be swapped in
        (tmp_path / "tmp").mkdir()
        (tmp_path / "tmp" / "part-garbage.parquet").write_bytes(b"\x00junk")
        self._merge(spark, tmp_path, [(9, 1)])
        want_finest = {(1, 5), (2, 3), (9, 1)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_partial_finest_with_committed_tmp_prefers_tmp(self, spark, tmp_path):
        import shutil

        self._merge(spark, tmp_path, [(1, 5)])
        # crash later in the window: finest partially deleted (marker
        # gone), committed tmp holds the latest state
        self._merge(spark, tmp_path, [(2, 7)])
        shutil.copytree(str(tmp_path / "finest"), str(tmp_path / "tmp"))
        (tmp_path / "finest" / "_SUCCESS").unlink()
        self._merge(spark, tmp_path, [(9, 1)])
        want_finest = {(1, 5), (2, 7), (9, 1)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)


@pytest.mark.spark
class TestMixedMergeLayouts:
    """A finest directory the swap protocol cannot have left behind (no
    ``_SUCCESS``, no committed tmp to recover from) -- e.g. an older
    partitioned layout or a foreign writer -- must be refused, never
    silently treated as the first batch and overwritten."""

    def test_full_merge_rejects_incremental_layout(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from osm_pbf_convert_spark.streaming.pipeline import merge_finest_batch

        finest = tmp_path / "finest"
        finest.mkdir()
        pq.write_table(
            pa.table({"tile": pa.array([5, 300], pa.int64()),
                      "cnt": pa.array([5, 3], pa.int64())}),
            str(finest / "part-00000.parquet"),
        )
        before = {f.name: f.read_bytes() for f in finest.iterdir()}
        with pytest.raises(ValueError, match="not a committed finest table"):
            merge_finest_batch(
                spark, spark.createDataFrame([(300, 7)], "tile long, cnt long"),
                str(finest), str(tmp_path / "tmp"), str(tmp_path / "tiles"),
                max_z=6, min_z=0,
            )
        assert {f.name: f.read_bytes() for f in finest.iterdir()} == before
        assert not (tmp_path / "tiles").exists()


class TestRehearsalSinkLog:
    def test_sink_log_counts_only_added_files(self, tmp_path):
        """The rehearsal's exactly-once gate compares the sink's metadata
        log with the part files on disk, so only ``"action": "add"`` entries
        name committed files; a ``delete`` entry must not count."""
        from tools.stream_pipeline_rehearsal import _sink_log_names

        log = tmp_path / "_spark_metadata"
        log.mkdir()
        entry = lambda name, action: json.dumps(  # noqa: E731
            {"path": f"file:{tmp_path}/{name}", "size": 1, "isDir": False,
             "modificationTime": 0, "blockReplication": 1, "blockSize": 1,
             "action": action})
        (log / "0").write_text("v1\n" + entry("part-a.parquet", "add") + "\n")
        (log / "1").write_text("v1\n" + entry("part-b.parquet", "add") + "\n"
                               + entry("part-old.parquet", "delete") + "\n")
        assert _sink_log_names(str(tmp_path)) == {"part-a.parquet", "part-b.parquet"}
