"""Distributed readers for reference byte files: write with the engine's
golden-tested sinks, read back distributed, compare to the source rows."""

import numpy as np
import pytest

from osm_pbf_convert_spark.sources.reference_files import (
    _parse_nodes_idx,
    read_nodes_index,
    read_ways_file,
)


@pytest.mark.spark
class TestNodesIndexReader:
    def test_roundtrip_distributed(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.node_store import write_nodes_index_file

        rng = np.random.default_rng(41)
        ids = np.cumsum(rng.integers(1, 1 << 18, size=4000)) + 7
        lats = rng.integers(-(2**31) + 1, 2**31 - 1, size=4000)
        lons = rng.integers(-(2**31) + 1, 2**31 - 1, size=4000)
        df = spark.createDataFrame(
            list(zip(ids.tolist(), lats.tolist(), lons.tolist())),
            schema="id long, ilat long, ilon long",
        )
        prefix = str(tmp_path / "store")
        write_nodes_index_file(df, prefix, num_chunks=3)

        back = read_nodes_index(spark, prefix).orderBy("id").toPandas()
        assert back["id"].tolist() == ids.tolist()
        assert back["ilat"].tolist() == lats.tolist()
        assert back["ilon"].tolist() == lons.tolist()
        # the reader really fans out: one range per index sync point
        starts, _ = _parse_nodes_idx(open(f"{prefix}.idx", "rb").read())
        assert len(starts) >= 4  # several blocks -> parallel ranges

    def test_reader_matches_pure_python_writer(self, spark, tmp_path):
        """Reads files produced by the REFERENCE writer semantics (the
        pure-Python port), not just our sink."""
        from osm_pbf_convert_spark.operators.node_store import encode_nodes_index_py

        rng = np.random.default_rng(3)
        ids = np.cumsum(rng.integers(1, 1 << 16, size=1500)) + 1
        lats = rng.integers(-(2**20), 2**20, size=1500)
        lons = rng.integers(-(2**20), 2**20, size=1500)
        dat, idx = encode_nodes_index_py(ids, lats, lons)
        prefix = str(tmp_path / "ref")
        open(f"{prefix}.nodes.dat", "wb").write(dat)
        open(f"{prefix}.idx", "wb").write(idx)
        back = read_nodes_index(spark, prefix).orderBy("id").toPandas()
        assert back["id"].tolist() == ids.tolist()


@pytest.mark.spark
class TestWaysFileReader:
    def test_roundtrip_distributed(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.way_store import encode_ways_file_py

        rng = np.random.default_rng(8)
        wid = np.cumsum(rng.integers(1, 1 << 14, size=500)) + 2
        ways = []
        for i in range(500):
            k = int(rng.integers(1, 7))
            nid = np.cumsum(rng.integers(1, 1 << 20, size=k))
            ways.append(
                (int(wid[i]),
                 list(zip(nid.tolist(),
                          rng.integers(-(2**30), 2**30, size=k).tolist(),
                          rng.integers(-(2**30), 2**30, size=k).tolist())))
            )
        dat, info = encode_ways_file_py(ways)
        path = str(tmp_path / "w.dat")
        open(path, "wb").write(dat)
        open(path + ".idx", "wb").write(info)

        back = read_ways_file(spark, path, ways_per_split=120).orderBy("id").collect()
        assert len(back) == 500
        got = [
            (r["id"], [(nd["id"], nd["ilat"], nd["ilon"]) for nd in r["nodes"]])
            for r in back
        ]
        assert got == ways
        # multiple splits -> the id chain re-seeding path is exercised
        assert (500 + 119) // 120 >= 4


@pytest.mark.spark
class TestRelsFileReader:
    @pytest.mark.parametrize("num_chunks,rels_per_split", [(1, 50), (3, 64), (6, 10**6)])
    def test_roundtrip_distributed(self, spark, tmp_path, num_chunks, rels_per_split):
        """write_rels_file -> read_rels_file recovers every relation
        (rects, ordered members, role strings, sentinels) across sink
        chunk counts and reader split sizes. The .rels format has no sync
        points, so the reader's driver skim + reseeded executor ranges is
        the distribution mechanism under test."""
        from osm_pbf_convert_spark.operators.rel_store import write_rels_file
        from osm_pbf_convert_spark.sources.reference_files import read_rels_file
        from tests.test_rel_store import TestDistributedSink, _synth_rels

        rels = _synth_rels(300, seed=41)
        out = str(tmp_path / "reader.rels")
        write_rels_file(TestDistributedSink._mk_df(spark, rels), out, num_chunks=num_chunks)
        back = read_rels_file(spark, out, rels_per_split=rels_per_split)
        got = {r["rel_id"]: r for r in back.collect()}
        assert len(got) == len(rels)
        from osm_pbf_convert_spark.operators.rel_store import INT_MAX, INT_MIN

        for rid, rect, members in rels:
            r = got[rid]
            want = rect or (INT_MAX, INT_MAX, INT_MIN, INT_MIN)
            assert (r["min_ilat"], r["min_ilon"], r["max_ilat"], r["max_ilon"]) == want
            assert [
                (m["member_type"], m["ref"], m["role"], m["mid_ilat"], m["mid_ilon"])
                for m in r["members"]
            ] == [(t, m, ro or "", la, lo) for t, m, ro, la, lo in members]

    def test_reader_is_distributed(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.rel_store import write_rels_file
        from osm_pbf_convert_spark.sources.reference_files import read_rels_file
        from tests.test_rel_store import TestDistributedSink, _synth_rels

        out = str(tmp_path / "plan.rels")
        write_rels_file(TestDistributedSink._mk_df(spark, _synth_rels(120, seed=9)), out)
        df = read_rels_file(spark, out, rels_per_split=25)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan
        assert df.count() == 120

    def test_split_of_memberless_relations(self, spark, tmp_path):
        """A split whose relations all have zero members decodes to empty
        member lists (the per-relation chain sums run over no values)."""
        from osm_pbf_convert_spark.operators.rel_store import encode_rels_file_py
        from osm_pbf_convert_spark.sources.reference_files import read_rels_file

        rels = [(5, None, []), (9, (1, 2, 3, 4), []), (12, None, [(0, 7, "a", 8, 9)])]
        dat, strs, _ = encode_rels_file_py(rels)
        out = tmp_path / "empty.rels"
        out.write_bytes(dat)
        (tmp_path / "empty.rels.strs").write_bytes(strs)
        got = {r["rel_id"]: [tuple(m) for m in r["members"]]
               for r in read_rels_file(spark, str(out), rels_per_split=2).collect()}
        assert got == {5: [], 9: [], 12: [(0, 7, "a", 8, 9)]}


@pytest.mark.spark
class TestRelsSkimWindows:
    def test_chunked_skim_equals_whole_file(self, spark, tmp_path):
        """The bounded-memory driver skim must find identical record
        boundaries/id seeds at ANY window size -- forced tiny windows
        (64 B: smaller than most records, so every carry path runs)
        against an effectively-whole-file window."""
        from osm_pbf_convert_spark.operators.rel_store import write_rels_file
        from osm_pbf_convert_spark.sources import fsio
        from osm_pbf_convert_spark.sources.reference_files import (
            _skim_rels_boundaries,
            read_rels_file,
        )
        from tests.test_rel_store import TestDistributedSink, _synth_rels

        rels = _synth_rels(250, seed=77)
        out = str(tmp_path / "win.rels")
        write_rels_file(TestDistributedSink._mk_df(spark, rels), out, num_chunks=2)
        size = fsio.file_size(out)
        whole = _skim_rels_boundaries(out, size, 10**9)
        for win in (64, 257, 4096):
            assert _skim_rels_boundaries(out, size, win) == whole, win
        # and the full reader stays correct with a forced-small window
        back = read_rels_file(spark, out, rels_per_split=40, skim_window_bytes=64)
        assert {r["rel_id"] for r in back.collect()} == {rid for rid, _, _ in rels}

    def test_corrupt_streams_fail_loud_chunked(self, tmp_path):
        from osm_pbf_convert_spark.sources.reference_files import _skim_rels_boundaries

        # truncated header: one varint only
        p1 = tmp_path / "t1.rels"
        p1.write_bytes(b"\x05\x03")
        with pytest.raises(ValueError, match="truncated header"):
            _skim_rels_boundaries(str(p1), 2, 64)
        # partial varint tail at EOF (continuation bit set, no end)
        p2 = tmp_path / "t2.rels"
        p2.write_bytes(b"\xff\xff")
        with pytest.raises(ValueError, match="trailing varints"):
            _skim_rels_boundaries(str(p2), 2, 64)


@pytest.mark.spark
class TestRemoteSchemeReaders:
    def test_nodes_index_reads_via_mock_scheme(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.node_store import write_nodes_index_file
        from osm_pbf_convert_spark.sources import fsio
        from osm_pbf_convert_spark.sources.reference_files import read_nodes_index

        rng = np.random.default_rng(13)
        ids = np.cumsum(rng.integers(1, 1 << 16, size=400)) + 7
        df = spark.createDataFrame(
            [(int(i), int(rng.integers(-(2**31), 2**31 - 1)),
              int(rng.integers(-(2**31), 2**31 - 1))) for i in ids],
            schema="id long, ilat long, ilon long")
        prefix = str(tmp_path / "rn")
        write_nodes_index_file(df, prefix)
        local = {(r["id"], r["ilat"], r["ilon"])
                 for r in read_nodes_index(spark, prefix).collect()}
        remote = {(r["id"], r["ilat"], r["ilon"])
                  for r in read_nodes_index(spark, fsio.mock_uri(prefix)).collect()}
        assert remote == local and len(remote) == 400

    def test_rels_reads_via_mock_scheme(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.rel_store import write_rels_file
        from osm_pbf_convert_spark.sources import fsio
        from osm_pbf_convert_spark.sources.reference_files import read_rels_file
        from tests.test_rel_store import TestDistributedSink, _synth_rels

        rels = _synth_rels(80, seed=55)
        out = str(tmp_path / "remote.rels")
        write_rels_file(TestDistributedSink._mk_df(spark, rels), out)
        back = read_rels_file(spark, fsio.mock_uri(out), rels_per_split=25)
        assert {r["rel_id"] for r in back.collect()} == {rid for rid, _, _ in rels}

    def test_heat_map_reads_via_mock_scheme(self, spark, tmp_path):
        from osm_pbf_convert_spark.operators.tiling import (
            heat_map,
            read_heat_map_file,
            write_heat_map_file,
        )
        from osm_pbf_convert_spark.sources import fsio

        rng = np.random.default_rng(61)
        nodes = spark.createDataFrame(
            [(int(i), int(rng.integers(-(2**31), 2**31 - 1)),
              int(rng.integers(-(2**31), 2**31 - 1))) for i in range(300)],
            schema="id long, ilat int, ilon int")
        out = str(tmp_path / "m.heat.map")
        write_heat_map_file(heat_map(nodes), out)  # the reference's fixed grid
        local = {(r["row"], r["col"], r["cnt"])
                 for r in read_heat_map_file(spark, out,
                                             split_bytes=1 << 20).collect()}
        remote = {(r["row"], r["col"], r["cnt"])
                  for r in read_heat_map_file(spark, fsio.mock_uri(out),
                                              split_bytes=1 << 20).collect()}
        assert remote == local and sum(c for _, _, c in remote) == 300
