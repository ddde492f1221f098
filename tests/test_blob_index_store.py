"""Golden byte-parity tests for the ``.blobs.dat`` per-blob zone-map
file (``BlobIdsInfo.cs`` -- the sixth reference byte format)."""

import struct

import numpy as np
import pytest

from osm_pbf_convert_spark.operators.blob_index_store import (
    RECORD_BYTES,
    decode_blob_ids_info_py,
    encode_blob_ids_info_py,
    read_blobs_dat,
    write_blobs_dat,
)


def _synth_infos(n, seed=11):
    rng = np.random.default_rng(seed)
    infos = []
    pos = 0
    nid = 1
    for _ in range(n):
        nc = int(rng.integers(0, 8000))
        if nc:
            mn, mx = nid, nid + nc - 1
            nid = mx + int(rng.integers(1, 50))
        else:  # the C# accumulator sentinels for node-less blobs
            mn, mx = (1 << 63) - 1, -(1 << 63)
        infos.append((pos, nc, mn, mx,
                      int(rng.integers(0, 300)), int(rng.integers(0, 40))))
        pos += int(rng.integers(100, 1 << 24))
    return infos


class TestPurePython:
    def test_record_layout_is_binarywriter_exact(self):
        """One record == BinaryWriter field order, little-endian, 36 B
        (BlobIdsInfo.cs:35-42)."""
        blob = encode_blob_ids_info_py([(7, 3, 100, 102, 2, 1)])
        assert len(blob) == RECORD_BYTES == 36
        assert blob == (
            struct.pack("<q", 7) + struct.pack("<i", 3)
            + struct.pack("<q", 100) + struct.pack("<q", 102)
            + struct.pack("<i", 2) + struct.pack("<i", 1)
        )

    def test_roundtrip_with_sentinels(self):
        infos = _synth_infos(40)
        assert decode_blob_ids_info_py(encode_blob_ids_info_py(infos)) == infos

    def test_truncated_raises(self):
        with pytest.raises(ValueError):
            decode_blob_ids_info_py(b"\x00" * 35)


def _blobs_case(spark, tmp_path):
    infos = _synth_infos(120, seed=31)
    df = spark.createDataFrame(
        infos,
        schema="start_position long, nodes_count int, min_node_id long, "
               "max_node_id long, ways_count int, rels_count int",
    )
    return (
        lambda uri: write_blobs_dat(df, uri, num_chunks=3),
        {"": encode_blob_ids_info_py(infos)},
        lambda uri: {tuple(r) for r in read_blobs_dat(spark, uri, split_records=50).collect()},
        set(infos),
    )


def _nodes_case(spark, tmp_path):
    from osm_pbf_convert_spark.operators.node_store import (
        encode_nodes_index_py,
        write_nodes_index_file,
    )
    from osm_pbf_convert_spark.sources.reference_files import read_nodes_index
    from tests.test_node_store import _synth_nodes

    ids, lats, lons = _synth_nodes(3000, seed=5)
    rows = list(zip(ids.tolist(), lats.tolist(), lons.tolist()))
    dat, idx = encode_nodes_index_py(ids, lats, lons)
    df = spark.createDataFrame(rows, schema="id long, ilat long, ilon long")
    return (
        lambda uri: write_nodes_index_file(df, uri, num_chunks=3),
        {".nodes.dat": dat, ".idx": idx},
        lambda uri: sorted(tuple(r) for r in read_nodes_index(spark, uri).collect()),
        rows,
    )


def _ways_case(spark, tmp_path):
    from osm_pbf_convert_spark.operators.way_store import encode_ways_file_py, write_ways_file
    from osm_pbf_convert_spark.sources.reference_files import read_ways_file
    from tests.test_way_store import _mk_resolved_df, _synth_ways

    ways = _synth_ways(300, seed=5)
    dat, info = encode_ways_file_py(ways)
    df = _mk_resolved_df(spark, ways)
    return (
        lambda uri: write_ways_file(df, uri, num_chunks=3),
        {"": dat, ".idx": info},
        lambda uri: sorted(
            (r["id"], [tuple(n) for n in r["nodes"]])
            for r in read_ways_file(spark, uri, ways_per_split=64).collect()
        ),
        ways,
    )


def _rels_case(spark, tmp_path):
    from osm_pbf_convert_spark.operators.rel_store import (
        INT_MAX,
        INT_MIN,
        encode_rels_file_py,
        write_rels_file,
    )
    from osm_pbf_convert_spark.sources.reference_files import read_rels_file
    from tests.test_rel_store import TestDistributedSink, _synth_rels

    rels = _synth_rels(200, seed=9)
    dat, strs, _ = encode_rels_file_py(rels)
    df = TestDistributedSink._mk_df(spark, rels)
    cols = ("rel_id", "min_ilat", "min_ilon", "max_ilat", "max_ilon")
    return (
        lambda uri: write_rels_file(df, uri, num_chunks=3),
        {"": dat, ".strs": strs},
        lambda uri: sorted(
            (tuple(r[c] for c in cols), [tuple(m) for m in r["members"]])
            for r in read_rels_file(spark, uri, rels_per_split=50).collect()
        ),
        [
            ((rid, *(rect or (INT_MAX, INT_MAX, INT_MIN, INT_MIN))),
             [(t, m, ro or "", la, lo) for t, m, ro, la, lo in members])
            for rid, rect, members in rels
        ],
    )


def _heat_case(spark, tmp_path):
    from osm_pbf_convert_spark.operators.tiling import (
        export_heat_map_bytes,
        read_heat_map_file,
        write_heat_map_file,
    )

    rng = np.random.default_rng(29)
    cells = {
        (int(r), int(c)): int(v)
        for r, c, v in zip(rng.integers(0, 64, 250), rng.integers(0, 128, 250),
                           rng.integers(1, 2**28, 250))
    }
    counts = spark.createDataFrame(
        [(r, c, v) for (r, c), v in cells.items()], schema="row int, col int, cnt long"
    )
    return (
        lambda uri: write_heat_map_file(counts, uri, rows=64, cols=128, band_rows=16),
        {"": export_heat_map_bytes(counts, rows=64, cols=128)},
        lambda uri: {
            (r["row"], r["col"]): r["cnt"]
            for r in read_heat_map_file(spark, uri, rows=64, cols=128, split_bytes=1024).collect()
        },
        cells,
    )


def _pbf_case(spark, tmp_path):
    """The golden is the encoder's own framing of one uncompressed dense
    block after the writer's OSMHeader frame; the input is that file's
    decode, so write -> read must return it unchanged."""
    from osm_pbf_convert_spark.sources.pbf_encoder import (
        DenseNodesSpec,
        encode_primitive_block,
        field_bytes,
        frame_blob,
    )
    from osm_pbf_convert_spark.sources.pbf_file import read_pbf_nodes, write_pbf_file

    rng = np.random.default_rng(3)
    ids = list(range(1, 301))
    block = encode_primitive_block(
        dense=DenseNodesSpec(
            ids=ids,
            lats_raw=rng.integers(-(9 * 10**8), 9 * 10**8, len(ids)).tolist(),
            lons_raw=rng.integers(-(18 * 10**8), 18 * 10**8, len(ids)).tolist(),
            tags=[{"name": f"n{i}", "k": "v"} if i % 3 == 0 else {} for i in ids],
        ),
        granularity=100,
    )
    golden = frame_blob(
        field_bytes(4, b"OsmSchema-V0.6") + field_bytes(4, b"DenseNodes"),
        blob_type="OSMHeader", compress=False,
    ) + frame_blob(block, compress=False)
    src = tmp_path / "src.osm.pbf"
    src.write_bytes(golden)
    cols = ("id", "lat", "lon", "tags")

    def read(uri):
        return sorted(
            (r["id"], r["lat"], r["lon"], sorted(r["tags"].items()))
            for r in read_pbf_nodes(spark, uri).select(*cols).collect()
        )

    return (
        lambda uri: write_pbf_file(
            uri, nodes=read_pbf_nodes(spark, str(src)), compress=False, num_chunks=1
        ),
        {"": golden},
        read,
        read(str(src)),
    )


_REMOTE_CASES = {
    "blobs_dat": _blobs_case,
    "nodes_index": _nodes_case,
    "ways_file": _ways_case,
    "rels_file": _rels_case,
    "heat_map": _heat_case,
    "pbf_file": _pbf_case,
}


@pytest.mark.spark
class TestDistributedStore:
    def test_sink_golden_vs_py_writer(self, spark, tmp_path):
        """Distributed sink output is byte-identical to the cited
        pure-Python writer port, from shuffled input."""
        infos = _synth_infos(500)
        shuffled = list(infos)
        np.random.default_rng(3).shuffle(shuffled)
        df = spark.createDataFrame(
            shuffled,
            schema="start_position long, nodes_count int, min_node_id long, "
                   "max_node_id long, ways_count int, rels_count int",
        )
        out = str(tmp_path / "ids.blobs.dat")
        n = write_blobs_dat(df, out, num_chunks=5)
        data = open(out, "rb").read()
        assert len(data) == n == len(infos) * RECORD_BYTES
        assert data == encode_blob_ids_info_py(infos)

    def test_reader_roundtrip_split_invariant(self, spark, tmp_path):
        infos = _synth_infos(700, seed=21)
        out = str(tmp_path / "r.blobs.dat")
        with open(out, "wb") as f:
            f.write(encode_blob_ids_info_py(infos))
        one = read_blobs_dat(spark, out, split_records=10**9)
        many = read_blobs_dat(spark, out, split_records=64)
        want = set(infos)
        assert {tuple(r) for r in one.collect()} == want
        assert {tuple(r) for r in many.collect()} == want

    def test_reader_rejects_misaligned_file(self, spark, tmp_path):
        out = tmp_path / "bad.blobs.dat"
        out.write_bytes(b"\x01" * 37)
        with pytest.raises(ValueError):
            read_blobs_dat(spark, str(out))

    @pytest.mark.parametrize("sink", list(_REMOTE_CASES))
    def test_remote_scheme_both_directions(self, spark, tmp_path, sink):
        """Every byte sink writes through ``fsio``: to a ``mock://`` URI
        (the generic object-store code path) each output file equals the
        pure-Python golden, and the matching reader reads the ``mock://``
        output back to the input."""
        from osm_pbf_convert_spark.sources import fsio

        write, golden, read, want = _REMOTE_CASES[sink](spark, tmp_path)
        uri = fsio.mock_uri(str(tmp_path / "m.out"))
        write(uri)
        for suffix, data in golden.items():
            assert (tmp_path / ("m.out" + suffix)).read_bytes() == data, suffix
        assert read(uri) == want
