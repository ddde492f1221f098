"""Golden byte-parity tests for the spatial block sink
(``SpatialBlock.cs`` -- the 5th and last reference byte format)."""

import numpy as np
import pytest

from osm_pbf_convert_spark.operators.spatial_block import (
    encode_spatial_block_py,
    spatial_block_blobs,
    write_spatial_blocks,
)


def _tags(rng):
    out = []
    for _ in range(int(rng.integers(0, 4))):
        form = int(rng.integers(1, 4))
        if form == 1:
            out.append({"tag_id": int(rng.integers(0, 500)), "key_id": None, "key": None, "value": None})
        elif form == 2:
            out.append({"tag_id": None, "key_id": int(rng.integers(0, 50)), "key": None,
                        "value": f"v{int(rng.integers(0, 1000))}"})
        else:
            out.append({"tag_id": None, "key_id": None, "key": f"k{int(rng.integers(0, 99))}",
                        "value": "x" * int(rng.integers(1, 200))})  # >127-byte strings too
    return out


def _synth_entities(rng, n_nodes=60, n_ways=25, n_rels=15):
    nodes, ways, rels = [], [], []
    nid = np.cumsum(rng.integers(1, 1 << 20, size=n_nodes)) + 5
    for i in range(n_nodes):
        nodes.append((int(nid[i]), int(rng.integers(-(2**31) + 1, 2**31 - 1)),
                      int(rng.integers(-(2**31) + 1, 2**31 - 1)), _tags(rng)))
    wid = np.cumsum(rng.integers(1, 1 << 16, size=n_ways)) + 9
    for i in range(n_ways):
        k = int(rng.integers(1, 6))
        wn = [(int(rng.integers(1, 1 << 40)), int(rng.integers(-(2**30), 2**30)),
               int(rng.integers(-(2**30), 2**30))) for _ in range(k)]
        ways.append((int(wid[i]), int(rng.integers(0, 12)), wn, _tags(rng)))
    rid = np.cumsum(rng.integers(1, 1 << 14, size=n_rels)) + 3
    for i in range(n_rels):
        rels.append((int(rid[i]), int(rng.integers(0, 5)), int(rng.integers(0, 4)),
                     int(rng.integers(0, 9)), int(rng.integers(-(2**30), 2**30)),
                     int(rng.integers(-(2**30), 2**30)), int(rng.integers(0, 3)),
                     int(rng.integers(1, 1 << 30)), _tags(rng)))
    return nodes, ways, rels


class TestPurePython:
    def test_sections_and_separators(self):
        rng = np.random.default_rng(1)
        nodes, ways, rels = _synth_entities(rng, 3, 2, 2)
        blob = encode_spatial_block_py(nodes, ways, rels)
        only_nodes = encode_spatial_block_py(nodes, [], [])
        # node-only block has no separator bytes appended
        assert blob.startswith(only_nodes)
        assert blob[len(only_nodes)] == 0  # section separator before ways

    def test_shared_rel_mid_chain_quirk(self):
        """relLatWriter carries BOTH mid values (SpatialBlock.cs:130-131):
        the lon delta is vs the lat value, and the next rel's lat delta is
        vs this rel's lon."""
        rels = [
            (1, 0, 0, 0, 100, 250, 0, 7, []),
            (2, 0, 0, 0, 300, -50, 0, 8, []),
        ]
        blob = encode_spatial_block_py([], [], rels)
        # parse: skip leading separators (empty nodes -> ways sep + rels sep)
        def varint(buf, p):
            v = 0
            while True:
                b = buf[p]
                p += 1
                v = (v << 7) | (b & 0x7F)
                if not b & 0x80:
                    return v, p
        def unzz(v):
            return (v >> 1) ^ -(v & 1)
        # empty nodes and empty ways write NO separators; only the rels
        # section writes its single leading 0 (SpatialBlock.cs:119-122)
        p = 1
        vals = []
        while p < len(blob):
            v, p = varint(blob, p)
            vals.append(v)
        # rel0: zz(1),0,0,0, zz(100-0), zz(250-100), 0, 7, 0 tags
        assert unzz(vals[0]) == 1
        assert unzz(vals[4]) == 100 and unzz(vals[5]) == 150
        # rel1 lat delta is vs rel0's LON (250)
        assert unzz(vals[9 + 0]) == 1  # id delta
        assert unzz(vals[9 + 4]) == 300 - 250
        assert unzz(vals[9 + 5]) == -50 - 300

    def test_rels_without_ways_backtrack(self):
        """The byte format writes ONE 0 before either the ways or rels
        section, so a nodes+rels block is ambiguous; the decoder must
        backtrack to a rels-parse instead of consuming rels as ways."""
        from osm_pbf_convert_spark.operators.spatial_block import decode_spatial_block_py

        rng = np.random.default_rng(5)
        nodes, _, rels = _synth_entities(rng, 10, 0, 6)
        blob = encode_spatial_block_py(nodes, [], rels)
        nds, wys, rls = decode_spatial_block_py(blob)
        assert wys == []
        assert [r[0] for r in nds] == [i for i, *_ in nodes]
        assert rls == rels
        # tagged variant (the ADVICE repro that raised IndexError)
        blob2 = encode_spatial_block_py(nodes, [], rels)
        assert decode_spatial_block_py(blob2, sections="nr")[2] == rels

    def test_only_rels_block(self):
        from osm_pbf_convert_spark.operators.spatial_block import decode_spatial_block_py

        rng = np.random.default_rng(6)
        _, _, rels = _synth_entities(rng, 0, 0, 4)
        blob = encode_spatial_block_py([], [], rels)
        nds, wys, rls = decode_spatial_block_py(blob)
        assert nds == [] and wys == [] and rls == rels
        assert decode_spatial_block_py(blob, sections="r")[2] == rels

    def test_sections_hint_all_shapes(self):
        """Deterministic parse with the sidecar hint for every section
        composition the writer can produce."""
        from osm_pbf_convert_spark.operators.spatial_block import decode_spatial_block_py

        rng = np.random.default_rng(8)
        nodes, ways, rels = _synth_entities(rng, 6, 4, 3)
        cases = [
            ("n", nodes, [], []), ("w", [], ways, []), ("r", [], [], rels),
            ("nw", nodes, ways, []), ("nr", nodes, [], rels),
            ("wr", [], ways, rels), ("nwr", nodes, ways, rels),
        ]
        for sec, tn, tw, tr in cases:
            blob = encode_spatial_block_py(tn, tw, tr)
            nds, wys, rls = decode_spatial_block_py(blob, sections=sec)
            assert (nds, wys, rls) == (tn, tw, tr), sec

    def test_trailing_empty_way_np_encoder(self):
        """A 0-node LAST way makes nstarts[-1] == total_nodes; the chain
        reset must skip empty ways or fancy indexing raises IndexError
        (ADVICE r4). Golden vs the pure-Python encoder, empty ways in
        mid and trailing position."""
        import numpy as np

        from osm_pbf_convert_spark.operators.spatial_block import _encode_ways_np

        ways = [
            (10, 1, [(100, 7, -7), (103, 9, -2)], []),
            (12, 2, [], []),          # mid-chain empty
            (15, 0, [(200, -4, 4)], []),
            (16, 3, [], []),          # trailing empty -> the IndexError shape
        ]
        golden = encode_spatial_block_py([], ways, [])
        cnts = np.array([len(w[2]) for w in ways], np.int64)
        flat = [np.array([v[i] for w in ways for v in w[2]], np.int64) for i in range(3)]
        got = _encode_ways_np(
            np.array([w[0] for w in ways], np.int64),
            np.array([w[1] for w in ways], np.int64),
            cnts, *flat, [b"\x00"] * len(ways),
        )
        assert b"\x00" + got == golden  # py writer's leading ways separator

    def test_dotnet_string_long_length(self):
        tags = [{"tag_id": None, "key_id": 3, "key": None, "value": "y" * 200}]
        blob = encode_spatial_block_py([(1, 0, 0, tags)], [], [])
        # varint count=1, marker 2, keyId 3, then LSB length 200 = C8 01
        i = blob.index(bytes([2, 3]))
        assert blob[i + 2] == 0xC8 and blob[i + 3] == 0x01


@pytest.mark.spark
class TestDistributedSink:
    def test_golden_per_tile(self, spark, tmp_path):
        """Each tile's file must equal the pure-Python encode of that
        tile's (id-sorted) entities."""
        from osm_pbf_convert_spark.functions.cells import morton_cell_np, tile_np

        rng = np.random.default_rng(31)
        nodes, ways, rels = _synth_entities(rng, 120, 40, 20)
        z = 2

        def tile_of(lat, lon):
            return int(tile_np(morton_cell_np(
                np.array([lat], np.int32), np.array([lon], np.int32)), z)[0])

        ndf = spark.createDataFrame(
            [(i, la, lo, t) for i, la, lo, t in nodes],
            schema="id long, ilat int, ilon int, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        wdf = spark.createDataFrame(
            [
                (i, ty, [{"id": a, "ilat": b, "ilon": c} for a, b, c in wn],
                 int(np.trunc(np.mean([b for _, b, _ in wn]))),
                 int(np.trunc(np.mean([c for _, _, c in wn]))), t)
                for i, ty, wn, t in ways
            ],
            schema="id long, way_type int, nodes array<struct<id:long,ilat:long,ilon:long>>, "
                   "mid_ilat int, mid_ilon int, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        rdf = spark.createDataFrame(
            [(i, p, rt, ro, la, lo, it, ii, t) for i, p, rt, ro, la, lo, it, ii, t in rels],
            schema="id long, position int, rel_type int, role_id int, mid_ilat int, "
                   "mid_ilon int, item_type int, item_id long, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        out = str(tmp_path / "blocks")
        n_blocks = write_spatial_blocks(out, nodes=ndf, ways=wdf, rels=rdf, z=z)

        # group golden entities by tile
        by_tile: dict = {}
        for i, la, lo, t in nodes:
            by_tile.setdefault(tile_of(la, lo), ([], [], []))[0].append((i, la, lo, t))
        for w in ways:
            i, ty, wn, t = w
            mla = int(np.trunc(np.mean([b for _, b, _ in wn])))
            mlo = int(np.trunc(np.mean([c for _, _, c in wn])))
            by_tile.setdefault(tile_of(mla, mlo), ([], [], []))[1].append(w)
        for r in rels:
            by_tile.setdefault(tile_of(r[4], r[5]), ([], [], []))[2].append(r)
        assert n_blocks == len(by_tile)
        for tile, (tn, tw, tr) in by_tile.items():
            golden = encode_spatial_block_py(
                sorted(tn), sorted(tw), sorted(tr)
            )
            got = open(f"{out}/block_{tile}.dat", "rb").read()
            assert got == golden, f"tile {tile} mismatch"

    def test_reader_roundtrip_distributed(self, spark, tmp_path):
        """write_spatial_blocks -> read_spatial_blocks recovers every
        entity (ids per kind per tile), one task per block file."""
        from osm_pbf_convert_spark.operators.spatial_block import read_spatial_blocks

        rng = np.random.default_rng(7)
        nodes, ways, rels = _synth_entities(rng, 80, 30, 12)
        z = 2
        ndf = spark.createDataFrame(
            [(i, la, lo, t) for i, la, lo, t in nodes],
            schema="id long, ilat int, ilon int, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        wdf = spark.createDataFrame(
            [
                (i, ty, [{"id": a, "ilat": b, "ilon": c} for a, b, c in wn],
                 int(np.trunc(np.mean([b for _, b, _ in wn]))),
                 int(np.trunc(np.mean([c for _, _, c in wn]))), t)
                for i, ty, wn, t in ways
            ],
            schema="id long, way_type int, nodes array<struct<id:long,ilat:long,ilon:long>>, "
                   "mid_ilat int, mid_ilon int, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        rdf = spark.createDataFrame(
            [(i, p, rt, ro, la, lo, it, ii, t) for i, p, rt, ro, la, lo, it, ii, t in rels],
            schema="id long, position int, rel_type int, role_id int, mid_ilat int, "
                   "mid_ilon int, item_type int, item_id long, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        out = str(tmp_path / "blocks_rt")
        write_spatial_blocks(out, nodes=ndf, ways=wdf, rels=rdf, z=z)
        back = read_spatial_blocks(spark, out)
        got_nodes = {r["id"] for r in back.filter("kind = 0").collect()}
        got_ways = {r["id"]: r for r in back.filter("kind = 1").collect()}
        got_rels = {r["id"] for r in back.filter("kind = 2").collect()}
        assert got_nodes == {i for i, *_ in nodes}
        assert set(got_ways) == {i for i, *_ in ways}
        assert got_rels == {i for i, *_ in rels}
        # way node lists survive exactly
        for i, ty, wn, _ in ways:
            r = got_ways[i]
            assert [(nd["id"], nd["ilat"], nd["ilon"]) for nd in r["wnodes"]] == wn
            assert r["v1"] == ty

    def test_executor_write_with_sidecars_roundtrips_mixed_tiles(self, spark, tmp_path):
        """Tiles holding nodes+rels but NO ways (the ambiguous shape) must
        survive the engine's own write->read roundtrip via the .sections
        sidecars written executor-side."""
        import os

        from osm_pbf_convert_spark.operators.spatial_block import read_spatial_blocks

        rng = np.random.default_rng(17)
        nodes, _, rels = _synth_entities(rng, 40, 0, 15)
        z = 2
        ndf = spark.createDataFrame(
            [(i, la, lo, t) for i, la, lo, t in nodes],
            schema="id long, ilat int, ilon int, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        rdf = spark.createDataFrame(
            [(i, p, rt, ro, la, lo, it, ii, t) for i, p, rt, ro, la, lo, it, ii, t in rels],
            schema="id long, position int, rel_type int, role_id int, mid_ilat int, "
                   "mid_ilon int, item_type int, item_id long, tags array<struct<tag_id:int,key_id:int,key:string,value:string>>",
        )
        out = str(tmp_path / "blocks_nr")
        n_blocks = write_spatial_blocks(out, nodes=ndf, rels=rdf, z=z)
        sidecars = [f for f in os.listdir(out) if f.endswith(".sections")]
        assert len(sidecars) == n_blocks
        back = read_spatial_blocks(spark, out)
        assert back.filter("kind = 1").count() == 0
        assert {r["id"] for r in back.filter("kind = 0").collect()} == {i for i, *_ in nodes}
        got_rels = {r["id"]: r for r in back.filter("kind = 2").collect()}
        assert set(got_rels) == {i for i, *_ in rels}
        for i, p, rt, ro, la, lo, it, ii, _t in rels:
            r = got_rels[i]
            assert (r["v1"], r["v2"], r["v3"], r["v4"], r["v5"], r["item_type"], r["v6"]) == \
                (p, rt, ro, la, lo, it, ii)

    def test_blobs_plan_is_grouped_map(self, spark):
        ndf = spark.createDataFrame(
            [(1, 5, 5, None)], schema="id long, ilat int, ilon int, "
            "tags array<struct<tag_id:int,key_id:int,key:string,value:string>>"
        )
        df = spatial_block_blobs(nodes=ndf, z=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInArrow" in plan
        assert df.count() == 1


@pytest.mark.spark
class TestRemoteSchemeSink:
    def test_executor_write_to_mock_scheme_is_golden(self, spark, tmp_path):
        """write_spatial_blocks to a non-local URI scheme must stay
        executor-side (the encode task writes via fsio; rows come back
        path-set/data-null) and produce byte-identical files to the
        local sink."""
        from osm_pbf_convert_spark.operators.spatial_block import read_spatial_blocks
        from osm_pbf_convert_spark.sources import fsio

        rng = np.random.default_rng(23)
        nodes, ways, rels = _synth_entities(rng, 30, 12, 8)
        tags_t = "array<struct<tag_id:int,key_id:int,key:string,value:string>>"
        ndf = spark.createDataFrame(nodes, schema=f"id long, ilat int, ilon int, tags {tags_t}")
        rdf = spark.createDataFrame(
            rels, schema="id long, position int, rel_type int, role_id int, "
            f"mid_ilat int, mid_ilon int, item_type int, item_id long, tags {tags_t}")

        local_dir = tmp_path / "loc"
        remote_dir = tmp_path / "rem"
        remote_dir.mkdir()
        n_local = write_spatial_blocks(str(local_dir), nodes=ndf, rels=rdf, z=2)
        # executor-path proof: the blobs rows carry path (written) not data
        blobs = spatial_block_blobs(
            nodes=ndf, rels=rdf, z=2, out_dir=fsio.mock_uri(str(remote_dir))
        ).collect()
        assert all(r["path"].startswith("mock:///") and r["data"] is None for r in blobs)
        assert len(blobs) == n_local
        for f in local_dir.iterdir():
            assert (remote_dir / f.name).read_bytes() == f.read_bytes()

        n_remote = write_spatial_blocks(
            fsio.mock_uri(str(tmp_path / "rem2")), nodes=ndf, rels=rdf, z=2)
        assert n_remote == n_local
        back = read_spatial_blocks(spark, str(tmp_path / "rem2"))
        assert {r["id"] for r in back.filter("kind = 0").collect()} == {i for i, *_ in nodes}

        # the mock:// directory reads back through fsio, entity for entity
        def tags(ts):  # tag dicts (input) and tag Rows (output) as tuples
            return [tuple(t.values() if isinstance(t, dict) else t) for t in ts or []]

        back = read_spatial_blocks(spark, fsio.mock_uri(str(tmp_path / "rem2")))
        assert sorted(
            (r["id"], r["v1"], r["v2"], tags(r["tags"])) for r in back.filter("kind = 0").collect()
        ) == sorted((i, la, lo, tags(ts)) for i, la, lo, ts in nodes)
        assert sorted(
            (r["id"], r["v1"], r["v2"], r["v3"], r["v4"], r["v5"], r["item_type"], r["v6"],
             tags(r["tags"]))
            for r in back.filter("kind = 2").collect()
        ) == sorted((i, p, rt, ro, la, lo, it, ii, tags(ts))
                    for i, p, rt, ro, la, lo, it, ii, ts in rels)
