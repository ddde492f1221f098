"""Golden byte-parity tests for the clustered node store sink
(``NodesIndex.cs:107-146``): the distributed Spark sink must produce the
exact bytes of the pure-Python reference-writer port, and the stream must
roundtrip through the reference reader semantics."""

import numpy as np
import pytest

from osm_pbf_convert_spark.operators.node_store import (
    decode_nodes_index_py,
    encode_nodes_index_py,
    node_index_segments,
    write_nodes_index_file,
)


def _synth_nodes(n, seed=7):
    """Ascending ids with mixed-width gaps (1..2^20: 1-4 varint bytes),
    int32 coords incl. negatives and sign flips (zigzag width variety)."""
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1, 1 << 20, size=n).astype(np.int64)
    ids = np.cumsum(gaps) + 5
    lats = rng.integers(-(2**31) + 1, 2**31 - 1, size=n).astype(np.int64)
    lons = rng.integers(-(2**31) + 1, 2**31 - 1, size=n).astype(np.int64)
    # runs of near-identical coords: tiny deltas (1-byte zigzag varints)
    lats[n // 3 : n // 2] = lats[n // 3] + rng.integers(-3, 4, size=n // 2 - n // 3)
    lons[n // 3 : n // 2] = lons[n // 3] + rng.integers(-3, 4, size=n // 2 - n // 3)
    return ids, lats, lons


class TestPurePython:
    def test_roundtrip(self):
        ids, lats, lons = _synth_nodes(3000)
        dat, idx = encode_nodes_index_py(ids, lats, lons)
        assert len(dat) > 4096 * 4  # several blocks -> resets exercised
        assert len(idx) > 0
        rids, rlats, rlons = decode_nodes_index_py(dat)
        assert rids == ids.tolist()
        assert rlats == lats.tolist()
        assert rlons == lons.tolist()

    def test_index_entries_match_block_count(self):
        ids, lats, lons = _synth_nodes(3000)
        dat, idx = encode_nodes_index_py(ids, lats, lons)
        # one entry per full block boundary crossed (byte offset + >=1
        # varint byte each); last partial block has no entry
        n_boundaries = (len(dat) - 1) // 4096
        # parse idx: 1 offset byte then an MSB varint per entry
        entries = 0
        i = 0
        while i < len(idx):
            i += 1  # offset byte
            while idx[i] & 0x80:
                i += 1
            i += 1
            entries += 1
        assert entries == n_boundaries

    def test_rejects_unsorted(self):
        with pytest.raises(ValueError, match="ascending"):
            encode_nodes_index_py([5, 3], [0, 0], [0, 0])


@pytest.mark.spark
class TestDistributedSink:
    @pytest.mark.parametrize("num_chunks", [1, 4, 7])
    def test_golden_byte_equal(self, spark, tmp_path, num_chunks):
        """Distributed sink == pure-Python reference writer, byte for
        byte, across partition seams (fresh-record splice) and block
        resets."""
        ids, lats, lons = _synth_nodes(5000, seed=11)
        golden_dat, golden_idx = encode_nodes_index_py(ids, lats, lons)

        df = spark.createDataFrame(
            list(zip(ids.tolist(), lats.tolist(), lons.tolist())),
            schema="id long, ilat long, ilon long",
        )
        prefix = str(tmp_path / f"store_{num_chunks}")
        n_dat, n_idx = write_nodes_index_file(df, prefix, num_chunks=num_chunks)
        dat = open(f"{prefix}.nodes.dat", "rb").read()
        idx = open(f"{prefix}.idx", "rb").read()
        assert dat == golden_dat
        assert idx == golden_idx
        assert (n_dat, n_idx) == (len(dat), len(idx))

    def test_multi_row_segments_byte_equal(self, spark, tmp_path):
        """A partition bigger than the bytes cap emits several segment
        rows (fresh only on the first); the spliced file must stay
        byte-identical -- this is the 2 GB Arrow-limit guard for 50M+
        node partitions."""
        ids, lats, lons = _synth_nodes(5000, seed=19)
        golden_dat, golden_idx = encode_nodes_index_py(ids, lats, lons)
        df = spark.createDataFrame(
            list(zip(ids.tolist(), lats.tolist(), lons.tolist())),
            schema="id long, ilat long, ilon long",
        )
        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        try:
            seg = node_index_segments(df, num_chunks=2, max_nodes_per_row=700)
            rows = seg.collect()
            assert len(rows) > 2  # forced multiple rows per partition
            assert sum(1 for r in rows if r["fresh"]) == 2  # one per partition
            prefix = str(tmp_path / "capped")
            write_nodes_index_file(df, prefix, num_chunks=2, max_nodes_per_row=700)
            assert open(f"{prefix}.nodes.dat", "rb").read() == golden_dat
            assert open(f"{prefix}.idx", "rb").read() == golden_idx
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    def test_unsorted_input_is_sorted_by_sink(self, spark, tmp_path):
        """The sink owns the sort (repartitionByRange + sortWithinPartitions):
        shuffled input produces the same bytes."""
        ids, lats, lons = _synth_nodes(2000, seed=3)
        golden_dat, golden_idx = encode_nodes_index_py(ids, lats, lons)
        perm = np.random.default_rng(0).permutation(len(ids))
        df = spark.createDataFrame(
            list(zip(ids[perm].tolist(), lats[perm].tolist(), lons[perm].tolist())),
            schema="id long, ilat long, ilon long",
        )
        prefix = str(tmp_path / "shuffled")
        write_nodes_index_file(df, prefix, num_chunks=3)
        assert open(f"{prefix}.nodes.dat", "rb").read() == golden_dat
        assert open(f"{prefix}.idx", "rb").read() == golden_idx

    def test_segments_are_distributed(self, spark):
        """The encode stage itself is executor-side: one blob row per
        batch, no driver collect in the plan (mapInArrow over range
        partitions)."""
        ids, lats, lons = _synth_nodes(1000, seed=5)
        df = spark.createDataFrame(
            list(zip(ids.tolist(), lats.tolist(), lons.tolist())),
            schema="id long, ilat long, ilon long",
        )
        seg = node_index_segments(df, num_chunks=4)
        plan = seg._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan
        rows = seg.collect()
        # ids ship as raw little-endian int64 buffers (8 bytes per id)
        assert sum(len(r["ids"]) // 8 for r in rows) == 1000
        # every blob is pure varint bytes: last byte of each record has
        # the continuation bit clear
        assert all(r["blob"][-1] < 0x80 for r in rows)

    def test_sink_leaves_nothing_persisted(self, spark, tmp_path):
        """The ordered sink persists its segment frame only while it
        streams: after a successful write, and after the splice raises
        on a duplicate id at a segment seam, no RDD stays persisted and
        no ``*.segments.tmp`` output is left behind."""
        ids, lats, lons = _synth_nodes(1000, seed=23)

        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persisted()
        ok = spark.createDataFrame(
            list(zip(ids.tolist(), lats.tolist(), lons.tolist())),
            schema="id long, ilat long, ilon long",
        )
        write_nodes_index_file(ok, str(tmp_path / "ok"), num_chunks=2)
        assert persisted() == before
        # id 499 twice: one partition, 500-row Arrow batches, one segment
        # row per batch -> the second row starts at the first row's last id
        dup = np.insert(ids, 500, ids[499])
        bad = spark.createDataFrame(
            list(zip(dup.tolist(), np.insert(lats, 500, 0).tolist(),
                     np.insert(lons, 500, 0).tolist())),
            schema="id long, ilat long, ilon long",
        )
        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        try:
            with pytest.raises(ValueError, match="ids must be globally unique ascending"):
                write_nodes_index_file(
                    bad, str(tmp_path / "bad"), num_chunks=1, max_nodes_per_row=500
                )
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
        assert persisted() == before
        assert not list(tmp_path.rglob("*.segments.tmp"))
