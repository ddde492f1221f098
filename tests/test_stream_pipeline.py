"""Composed streaming pipeline (streaming/pipeline.py): one availableNow
replay must reproduce the batch e2e exactly -- entities == batch decode,
tiles == batch tile_pyramid, distinct dup pairs == batch LSH pairs -- and
a re-run against the same checkpoint must process nothing new (the
streaming flavor of the batch job's idempotent resume)."""

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
        offsets = os.listdir(os.path.join(run["ckpt"], "decode", "offsets"))
        assert len([o for o in offsets if not o.endswith(".tmp")]) >= 3

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


@pytest.mark.spark
class TestStreamPipelineExtracts:
    def test_extract_mode(self, spark, sf_dir, tmp_path):
        """Watch-dir mode: an .osm.pbf drop decodes and tiles identically
        to the batch reader; no dedup stage (extracts carry no text)."""
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


@pytest.mark.spark
class TestStreamPipelineIncrementalTiles:
    def test_extract_mode_incremental(self, spark, sf_dir, tmp_path):
        """The composed pipeline with ``tile_anchor_z`` set must land the
        identical pyramid through the partition-pruned merge, and the
        summary must report the per-batch changed-region/bytes stats."""
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
            max_z=MAX_Z, timeout=300, tile_anchor_z=2,
        )
        batch = decode_entities(
            pbf_blob_frames(spark, src).select("url", F.col("payload").alias("html"))
        )
        want = {
            (r["z"], r["tile"], r["cnt"])
            for r in tile_pyramid(
                batch.filter(F.col("kind") == 0), max_z=MAX_Z, min_z=0
            ).collect()
        }
        got = {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(f"{out}/tiles")
            .select("z", "tile", "cnt").collect()
        }
        assert got == want
        tm = summary["tile_merge"]
        assert tm["batches"] >= 1
        assert all(b > 0 for b in tm["bytes_written"])
        assert all(1 <= c <= 4 ** 2 for c in tm["changed_pz"])


@pytest.mark.spark
class TestIncrementalMerge:
    """Round-8 incremental tile merge (VERDICT r7 item 3): per-batch
    reads and writes touch only the ``pz`` regions the batch changed,
    the accumulated tables stay identical to the full-table merge, and
    the partition-granular swap survives the same crash windows."""

    MAX_Z, MIN_Z, ANCHOR = 6, 0, 2
    # pz = tile >> 2*(6-2) = tile >> 8
    R0A, R0B, R1, R3 = 5, 17, 300, 1000  # regions 0, 0, 1, 3

    def _merge(self, spark, tmp_path, rows, stats=None):
        from osm_pbf_convert_spark.streaming.pipeline import (
            merge_finest_batch_incremental,
        )

        upd = spark.createDataFrame(rows, schema="tile long, cnt long")
        merge_finest_batch_incremental(
            spark, upd, str(tmp_path / "finest"), str(tmp_path / "tiles"),
            max_z=self.MAX_Z, min_z=self.MIN_Z, anchor_z=self.ANCHOR,
            stats=stats,
        )

    def _finest(self, spark, tmp_path):
        return {
            (r["tile"], r["cnt"])
            for r in spark.read.parquet(str(tmp_path / "finest"))
            .select("tile", "cnt").collect()
        }

    def _tiles(self, spark, tmp_path):
        return {
            (r["z"], r["tile"], r["cnt"])
            for r in spark.read.parquet(str(tmp_path / "tiles"))
            .select("z", "tile", "cnt").collect()
        }

    def _want_tiles(self, spark, finest_rows):
        from osm_pbf_convert_spark.operators.tiling import pyramid_from_finest

        df = spark.createDataFrame(list(finest_rows), "tile long, cnt long")
        return {
            (r["z"], r["tile"], r["cnt"])
            for r in pyramid_from_finest(df, self.MAX_Z, self.MIN_Z).collect()
        }

    def test_accumulates_and_pyramid_matches_full_rollup(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(self.R0A, 5), (self.R1, 3)])
        self._merge(spark, tmp_path, [(self.R1, 7), (self.R3, 1)])
        want_finest = {(self.R0A, 5), (self.R1, 7), (self.R3, 1)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_untouched_partitions_not_rewritten(self, spark, tmp_path):
        import os

        stats = []
        self._merge(spark, tmp_path, [(self.R0A, 5), (self.R1, 3)], stats)

        def files(table, pz):
            d = os.path.join(str(tmp_path), table, f"pz={pz}")
            return sorted(os.listdir(d))

        finest_r0, tiles_r0 = files("finest", 0), files("tiles", 0)
        # batch 2 changes ONLY region 1: region 0's dirs must be untouched
        # (parquet part file names are unique per write -- identical
        # listings prove no rewrite), and the stats must say 1 region
        self._merge(spark, tmp_path, [(self.R1, 9)], stats)
        assert files("finest", 0) == finest_r0
        assert files("tiles", 0) == tiles_r0
        assert [s["changed_pz"] for s in stats] == [2, 1]
        assert all(s["bytes_written"] > 0 for s in stats)
        want_finest = {(self.R0A, 5), (self.R1, 9)}
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_retry_same_batch_is_idempotent(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(self.R0A, 5), (self.R1, 3)])
        self._merge(spark, tmp_path, [(self.R1, 7)])
        self._merge(spark, tmp_path, [(self.R1, 7)])  # foreachBatch retry
        want_finest = {(self.R0A, 5), (self.R1, 7)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_crash_mid_swap_recovers_from_committed_tmp(self, spark, tmp_path):
        import shutil

        self._merge(spark, tmp_path, [(self.R0A, 5), (self.R1, 3)])
        self._merge(spark, tmp_path, [(self.R1, 7)])
        # simulate the crash window: region 1's new dir was committed in
        # tmp, the old dir was already moved aside, the rename never ran
        shutil.rmtree(str(tmp_path / "finest__tmp"), ignore_errors=True)
        (tmp_path / "finest__tmp").mkdir()
        (tmp_path / "finest__tmp" / "_SUCCESS").touch()
        shutil.move(
            str(tmp_path / "finest" / "pz=1"),
            str(tmp_path / "finest__tmp" / "pz=1"),
        )
        # next batch (touches region 0 only) must first finish the swap
        self._merge(spark, tmp_path, [(self.R0B, 2)])
        want_finest = {(self.R0A, 5), (self.R0B, 2), (self.R1, 7)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)

    def test_uncommitted_tmp_debris_is_ignored(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(self.R0A, 5), (self.R1, 3)])
        import shutil

        shutil.rmtree(str(tmp_path / "finest__tmp"), ignore_errors=True)
        (tmp_path / "finest__tmp").mkdir()
        (tmp_path / "finest__tmp" / "pz=1").mkdir()
        (tmp_path / "finest__tmp" / "pz=1" / "part-junk.parquet").write_bytes(
            b"\x00junk"
        )  # no _SUCCESS: a crash DURING the tmp write -- must not swap in
        self._merge(spark, tmp_path, [(self.R3, 1)])
        want_finest = {(self.R0A, 5), (self.R1, 3), (self.R3, 1)}
        assert self._finest(spark, tmp_path) == want_finest
        assert self._tiles(spark, tmp_path) == self._want_tiles(spark, want_finest)


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

    def test_normal_merge_accumulates(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        self._merge(spark, tmp_path, [(2, 7), (9, 1)])  # cumulative upsert
        assert self._finest(spark, tmp_path) == {(1, 5), (2, 7), (9, 1)}

    def test_crash_between_delete_and_rename_recovers(self, spark, tmp_path):
        import shutil

        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        # simulate the crash window: batch 2's merged table is committed
        # in tmp, finest was deleted, rename never happened
        self._merge(spark, tmp_path, [(2, 7)])
        shutil.move(str(tmp_path / "finest"), str(tmp_path / "tmp"))
        # the retry / next batch must first finish the swap, then merge
        self._merge(spark, tmp_path, [(9, 1)])
        assert self._finest(spark, tmp_path) == {(1, 5), (2, 7), (9, 1)}

    def test_partial_tmp_debris_is_ignored(self, spark, tmp_path):
        self._merge(spark, tmp_path, [(1, 5), (2, 3)])
        # simulate a crash DURING the tmp write: directory exists but was
        # never committed (no _SUCCESS) -- it must not be swapped in
        (tmp_path / "tmp").mkdir()
        (tmp_path / "tmp" / "part-garbage.parquet").write_bytes(b"\x00junk")
        self._merge(spark, tmp_path, [(9, 1)])
        assert self._finest(spark, tmp_path) == {(1, 5), (2, 3), (9, 1)}

    def test_partial_finest_with_committed_tmp_prefers_tmp(self, spark, tmp_path):
        import shutil

        self._merge(spark, tmp_path, [(1, 5)])
        # crash later in the window: finest partially deleted (marker
        # gone), committed tmp holds the latest state
        self._merge(spark, tmp_path, [(2, 7)])
        shutil.copytree(str(tmp_path / "finest"), str(tmp_path / "tmp"))
        (tmp_path / "finest" / "_SUCCESS").unlink()
        self._merge(spark, tmp_path, [(9, 1)])
        assert self._finest(spark, tmp_path) == {(1, 5), (2, 7), (9, 1)}


@pytest.mark.spark
class TestMixedMergeLayouts:
    """The full-table and the incremental ``pz=`` tile-merge layouts must
    not be mixed on one finest table: each merge refuses the other's
    layout instead of silently dropping its accumulated state."""

    def _full(self, spark, tmp_path, rows):
        from osm_pbf_convert_spark.streaming.pipeline import merge_finest_batch

        merge_finest_batch(
            spark, spark.createDataFrame(rows, schema="tile long, cnt long"),
            str(tmp_path / "finest"), str(tmp_path / "tmp"),
            str(tmp_path / "tiles"), max_z=6, min_z=0,
        )

    def _incremental(self, spark, tmp_path, rows):
        from osm_pbf_convert_spark.streaming.pipeline import (
            merge_finest_batch_incremental,
        )

        merge_finest_batch_incremental(
            spark, spark.createDataFrame(rows, schema="tile long, cnt long"),
            str(tmp_path / "finest"), str(tmp_path / "tiles"),
            max_z=6, min_z=0, anchor_z=2,
        )

    def _finest(self, spark, tmp_path):
        return {
            (r["tile"], r["cnt"])
            for r in spark.read.parquet(str(tmp_path / "finest"))
            .select("tile", "cnt").collect()
        }

    def test_incremental_merge_rejects_full_table_layout(self, spark, tmp_path):
        self._full(spark, tmp_path, [(5, 5), (300, 3)])
        with pytest.raises(ValueError, match="full-table layout"):
            self._incremental(spark, tmp_path, [(300, 7)])
        assert self._finest(spark, tmp_path) == {(5, 5), (300, 3)}

    def test_full_merge_rejects_incremental_layout(self, spark, tmp_path):
        self._incremental(spark, tmp_path, [(5, 5), (300, 3)])
        with pytest.raises(ValueError, match="incremental pz= layout"):
            self._full(spark, tmp_path, [(300, 7)])
        assert self._finest(spark, tmp_path) == {(5, 5), (300, 3)}
