"""Golden byte-parity tests for the ways data file sink
(``WaysDataFile.cs``): distributed sink == pure-Python writer port, and
the data stream roundtrips through the reader port."""

import numpy as np
import pytest

from osm_pbf_convert_spark.operators.way_store import (
    decode_ways_file_py,
    encode_ways_file_py,
    way_segments,
    write_ways_file,
)


def _synth_ways(n_ways, seed=13):
    """Ascending way ids with mixed gaps; 2-12 nodes each; int32 coords
    with sign flips and tiny/big deltas."""
    rng = np.random.default_rng(seed)
    wid = np.cumsum(rng.integers(1, 1 << 18, size=n_ways)) + 3
    ways = []
    for w in range(n_ways):
        k = int(rng.integers(2, 13))
        nid = np.cumsum(rng.integers(-(1 << 12), 1 << 20, size=k)) + (1 << 21)
        lat = rng.integers(-(2**31) + 1, 2**31 - 1, size=k)
        lon = rng.integers(-(2**31) + 1, 2**31 - 1, size=k)
        ways.append((int(wid[w]), list(zip(nid.tolist(), lat.tolist(), lon.tolist()))))
    return ways


def _mk_resolved_df(spark, ways):
    """Build the resolve_ways-shaped DataFrame for the sink."""
    rows = []
    for wid, nodes in ways:
        lats = [la for _, la, _ in nodes]
        lons = [lo for _, _, lo in nodes]
        rows.append(
            (
                wid,
                [{"id": i, "ilat": la, "ilon": lo} for i, la, lo in nodes],
                int(sum(lats) / len(lats)), int(sum(lons) / len(lons)),
                min(lats), max(lats), min(lons), max(lons),
            )
        )
    return spark.createDataFrame(
        rows,
        schema="way_id long, nodes array<struct<id:long,ilat:long,ilon:long>>, "
               "mid_ilat long, mid_ilon long, min_ilat long, max_ilat long, "
               "min_ilon long, max_ilon long",
    )


class TestPurePython:
    def test_roundtrip(self):
        ways = _synth_ways(300)
        dat, info = encode_ways_file_py(ways)
        assert len(info) > 300 * 12  # >= id + offset + 8 fixed bytes each
        back = decode_ways_file_py(dat)
        assert back == [(w, [tuple(map(int, nd)) for nd in nds]) for w, nds in ways]

    def test_info_offsets_point_at_records(self):
        """Every info record's dataOffset must land on the start of the
        matching way's data record (FindWayInfo contract)."""
        ways = _synth_ways(50, seed=2)
        dat, info = encode_ways_file_py(ways)

        pos = 0

        def varint(buf, p):
            v = 0
            while True:
                b = buf[p]
                p += 1
                v = (v << 7) | (b & 0x7F)
                if not b & 0x80:
                    return v, p

        last = 0
        for wid, _ in ways:
            v, p = varint(info, pos)
            assert v == wid
            off, p = varint(info, p)
            # decoding the data stream from `off` must yield this way id
            d, q = varint(dat, off)
            # data id is DELTA-chained; reconstruct via running last
            assert last + d == wid
            last = wid
            p += 8  # minLat/minLon int32
            for _ in range(4):
                _, p = varint(info, p)
            pos = p

    def test_rejects_unsorted(self):
        ways = [(9, [(1, 2, 3)]), (5, [(1, 2, 3)])]
        with pytest.raises(ValueError, match="ascending"):
            encode_ways_file_py(ways)


@pytest.mark.spark
class TestDistributedSink:
    @pytest.mark.parametrize("num_chunks", [1, 4, 7])
    def test_golden_byte_equal(self, spark, tmp_path, num_chunks):
        ways = _synth_ways(800, seed=21)
        golden_dat, golden_info = encode_ways_file_py(ways)
        df = _mk_resolved_df(spark, ways)
        out = str(tmp_path / f"ways_{num_chunks}.dat")
        n_dat, n_idx = write_ways_file(df, out, num_chunks=num_chunks)
        assert open(out, "rb").read() == golden_dat
        assert open(out + ".idx", "rb").read() == golden_info
        assert (n_dat, n_idx) == (len(golden_dat), len(golden_info))

    def test_from_resolve_ways(self, spark, tmp_path):
        """End-to-end: the sink consumes resolve_ways output directly and
        matches the golden built from the same resolved ways."""
        from osm_pbf_convert_spark.operators.joins import resolve_ways

        ways = spark.createDataFrame(
            [(10, [1, 2, 3]), (20, [2, 4]), (30, [4, 1, 5, 2])],
            schema="id long, refs array<long>",
        )
        nodes = spark.createDataFrame(
            [(1, 100, -5), (2, 250, 17), (3, -80, 44), (4, 9, 9), (5, -1, -1)],
            schema="id long, ilat int, ilon int",
        )
        resolved = resolve_ways(ways, nodes, keep_tags=False)
        rows = resolved.orderBy("way_id").collect()
        golden_ways = [
            (r["way_id"], [(nd["id"], nd["ilat"], nd["ilon"]) for nd in r["nodes"]])
            for r in rows
        ]
        golden_dat, golden_info = encode_ways_file_py(golden_ways)
        out = str(tmp_path / "resolved.dat")
        write_ways_file(resolved, out, num_chunks=2)
        assert open(out, "rb").read() == golden_dat
        assert open(out + ".idx", "rb").read() == golden_info

    def test_segments_distributed(self, spark):
        ways = _synth_ways(200, seed=5)
        seg = way_segments(_mk_resolved_df(spark, ways), num_chunks=3)
        plan = seg._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan
        rows = seg.collect()
        # ids ship as raw little-endian int64 buffers (8 bytes per id)
        assert sum(len(r["ids"]) // 8 for r in rows) == 200
