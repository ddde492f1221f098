"""Operator tests: ways⋈nodes, relations assembly, tags, tiling, spatial."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_pbf_convert_spark.functions.cells import heat_cell_np, morton_cell_np, tile_np
from osm_pbf_convert_spark.operators.joins import assemble_relations, join_pages_geo, resolve_ways
from osm_pbf_convert_spark.operators.spatial import (
    assign_polygons,
    bbox_agg,
    compile_polygons,
    in_rect,
    knn_join,
)
from osm_pbf_convert_spark.operators.tags import (
    TagDictionary,
    inverted_tag_index,
    tag_key_stats,
    top_k_tags,
    way_type_col,
)
from osm_pbf_convert_spark.operators.tiling import heat_map, rasterize_tiles, tile_counts, tile_pyramid


@pytest.fixture(scope="module")
def nodes_df(spark):
    rng = np.random.default_rng(42)
    n = 500
    pdf = pd.DataFrame(
        {
            "id": np.arange(1, n + 1, dtype=np.int64),
            "ilat": rng.integers(-(2**30), 2**30, n).astype(np.int32),
            "ilon": rng.integers(-(2**30), 2**30, n).astype(np.int32),
        }
    )
    pdf["tags"] = [
        {"amenity": "cafe"} if i % 10 == 0 else ({"name": f"n{i}"} if i % 3 == 0 else {})
        for i in range(n)
    ]
    df = spark.createDataFrame(
        list(pdf.itertuples(index=False, name=None)),
        schema="id bigint, ilat int, ilon int, tags map<string,string>",
    )
    return df, pdf


@pytest.fixture(scope="module")
def ways_df(spark):
    rows = []
    for w in range(1, 51):
        refs = [((w * 7 + j * 13) % 500) + 1 for j in range(3 + w % 4)]
        tags = {"highway": "residential"} if w % 2 == 0 else ({"building": "yes"} if w % 3 == 0 else {})
        rows.append((w, refs, tags))
    # one way with a dangling ref (ref 9999 resolves to nothing)
    rows.append((99, [1, 9999, 2], {"highway": "path"}))
    # one way with ONLY dangling refs -> dropped entirely
    rows.append((100, [8888, 9999], {}))
    pdf = pd.DataFrame(rows, columns=["id", "refs", "tags"])
    df = spark.createDataFrame(rows, schema="id bigint, refs array<bigint>, tags map<string,string>")
    return df, pdf


@pytest.mark.spark
class TestResolveWays:
    def test_join_parity(self, spark, nodes_df, ways_df):
        ndf, npdf = nodes_df
        wdf, wpdf = ways_df
        res = resolve_ways(wdf, ndf).toPandas().set_index("way_id").sort_index()
        coords = npdf.set_index("id")
        # oracle in pandas
        total_resolved = 0
        for _, w in wpdf.iterrows():
            resolved = [r for r in w["refs"] if r in coords.index]
            total_resolved += len(resolved)
            if not resolved:
                assert w["id"] not in res.index
                continue
            row = res.loc[w["id"]]
            got = [(x["id"], x["ilat"], x["ilon"]) for x in row["nodes"]]
            exp = [(r, coords.loc[r, "ilat"], coords.loc[r, "ilon"]) for r in resolved]
            assert got == exp, f"way {w['id']} node order/content mismatch"
            lats = [coords.loc[r, "ilat"] for r in resolved]
            lons = [coords.loc[r, "ilon"] for r in resolved]
            # C# (int)Average truncates toward zero
            assert row["mid_ilat"] == int(np.mean(lats))
            assert row["mid_ilon"] == int(np.mean(lons))
            assert row["min_ilat"] == min(lats) and row["max_ilat"] == max(lats)
        assert int(res["n_resolved"].sum()) == total_resolved

    def test_dangling_refs(self, nodes_df, ways_df):
        res = resolve_ways(ways_df[0], nodes_df[0]).toPandas().set_index("way_id")
        assert res.loc[99, "n_resolved"] == 2
        assert 100 not in res.index


@pytest.mark.spark
class TestAssembleRelations:
    def test_semantics(self, spark, nodes_df, ways_df):
        ndf, npdf = nodes_df
        wdf, _ = ways_df
        ways_resolved = resolve_ways(wdf, ndf)
        members = [
            # (type, ref, role): node 1 exists, node 777777 missing,
            # way 2 exists, way 12345 missing, relation 5 deferred
            (1, [(0, 1, "stop"), (0, 777777, "gone"), (1, 2, "outer"), (1, 12345, "gone"), (2, 5, "sub")]),
        ]
        rels = spark.createDataFrame(
            [(rid, [(t, r, ro) for t, r, ro in ms], {}) for rid, ms in members],
            schema="id bigint, members array<struct<member_type:int, ref:bigint, role:string>>, tags map<string,string>",
        )
        out = assemble_relations(rels, ndf, ways_resolved).toPandas()
        assert len(out) == 1
        row = out.iloc[0]
        ms = [(m["member_type"], m["ref"], m["role"], m["mid_ilat"], m["mid_ilon"]) for m in row["members"]]
        coords = npdf.set_index("id")
        n1 = (int(coords.loc[1, "ilat"]), int(coords.loc[1, "ilon"]))
        assert ms[0] == (0, 1, "stop", n1[0], n1[1])
        assert ms[1][3] is None and ms[1][4] is None  # missing node -> null sentinel
        assert ms[2][3] is None  # found way: bbox extended but mid stays null
        assert ms[4][:3] == (2, 5, "sub") and ms[4][3] == 0  # deferred relation: 0/0
        # bbox = node1 coords extended by way 2's rect
        wres = ways_resolved.filter(F.col("way_id") == 2).toPandas().iloc[0]
        assert row["min_ilat"] == min(n1[0], wres["min_ilat"])
        assert row["max_ilat"] == max(n1[0], wres["max_ilat"])


@pytest.mark.spark
class TestTags:
    def test_way_type(self, spark):
        cases = [
            ({"highway": "motorway"}, 3),
            ({"highway": "MOTORWAY"}, 3),
            ({"HIGHWAY": "trunk"}, 4),     # key matched case-insensitively
            ({"Building": "yes"}, 100),
            ({"highway": "bridleway"}, 22),
            ({"highway": "weird_value"}, 2),
            ({"building": "yes"}, 100),
            ({"name": "x"}, 1),
            ({}, 1),
        ]
        df = spark.createDataFrame([(c[0],) for c in cases], schema="tags map<string,string>")
        got = df.select(way_type_col(F.col("tags")).alias("t")).toPandas()["t"].tolist()
        assert got == [c[1] for c in cases]

    def test_tag_stats_and_topk(self, spark, nodes_df):
        ndf, npdf = nodes_df
        stats = tag_key_stats(ndf).toPandas().set_index("key")["cnt"]
        exp_amenity = sum(1 for t in npdf["tags"] if "amenity" in t)
        exp_name = sum(1 for t in npdf["tags"] if "name" in t)
        assert stats["amenity"] == exp_amenity and stats["name"] == exp_name
        top = top_k_tags(ndf, 1).toPandas()
        assert top.iloc[0]["key"] == ("name" if exp_name > exp_amenity else "amenity")

    def test_dictionary_encode(self, spark):
        settings = {
            "KeyCodes": {"name": 1},
            "NodeTagCodes": [{"Key": "amenity", "Value": "cafe", "TagId": 10}],
            "WayTagCodes": [],
            "TagCodes": [{"Key": "highway", "Value": "path", "TagId": 20}],
            "KeyStopList": ["created_by"],
        }
        td = TagDictionary(settings)
        df = spark.createDataFrame(
            [
                (1, {"amenity": "cafe", "name": "X", "created_by": "bot"}),
                (2, {"highway": "path", "unknown_key": "v"}),
                (3, {"amenity": "restaurant"}),  # not in any dict -> dropped
            ],
            schema="id bigint, tags map<string,string>",
        )
        out = td.encode(spark, df, kind="node").toPandas()
        rows = [(r["id"], r["tag_id"], r["key_id"], r["value"]) for _, r in out.iterrows()]
        by_id = {}
        for r in rows:
            by_id.setdefault(r[0], []).append(r[1:])
        assert len(by_id[1]) == 2  # cafe (tag_id) + name (key_id); created_by stopped
        entries = {(None if pd.isna(t) else t, None if pd.isna(k) else k, v) for t, k, v in by_id[1]}
        assert entries == {(10, None, None), (None, 1, "X")}
        assert len(by_id[2]) == 1  # highway/path via generic; unknown dropped
        assert by_id[2][0][0] == 20
        assert 3 not in by_id  # fully dropped

    def test_inverted_index_packing(self, spark):
        nodes = spark.createDataFrame([(5, {"k": "v"})], schema="id bigint, tags map<string,string>")
        ways = spark.createDataFrame([(5, {"k": "v"})], schema="id bigint, tags map<string,string>")
        out = inverted_tag_index(nodes=nodes, ways=ways).toPandas()
        assert len(out) == 1
        refs = out.iloc[0]["refs"].tolist()
        assert sorted(refs) == [5 << 2 | 0, 5 << 2 | 1]


@pytest.mark.spark
class TestTiling:
    def test_heat_map_parity(self, spark, nodes_df):
        ndf, npdf = nodes_df
        got = heat_map(ndf).toPandas()
        r, c = heat_cell_np(npdf["ilat"].values, npdf["ilon"].values)
        exp = pd.DataFrame({"row": r, "col": c}).groupby(["row", "col"]).size()
        got_idx = got.set_index(["row", "col"])["cnt"].sort_index()
        assert (got_idx == exp.sort_index()).all() and len(got_idx) == len(exp)

    def test_tile_pyramid_consistency(self, spark, nodes_df):
        ndf, npdf = nodes_df
        pyr = tile_pyramid(ndf, max_z=10, min_z=0).toPandas()
        n = len(npdf)
        sums = pyr.groupby("z")["cnt"].sum()
        assert (sums == n).all(), "every zoom level must preserve total count"
        # z=10 counts match direct numpy tiling
        cells = morton_cell_np(npdf["ilat"].values, npdf["ilon"].values)
        t10 = pd.Series(tile_np(cells, 10)).value_counts().sort_index()
        got10 = pyr[pyr["z"] == 10].set_index("tile")["cnt"].sort_index()
        assert (got10.values == t10.values).all() and (got10.index == t10.index).all()
        # parent/child relation: z9 tile = z10 tile >> 2
        z10 = pyr[pyr["z"] == 10].assign(parent=lambda d: d["tile"].values >> 2)
        z9 = pyr[pyr["z"] == 9].set_index("tile")["cnt"]
        rolled = z10.groupby("parent")["cnt"].sum()
        assert (rolled.sort_index() == z9.sort_index()).all()

    def test_tile_counts_single_zoom(self, spark, nodes_df):
        ndf, npdf = nodes_df
        got = tile_counts(ndf, 4).toPandas().set_index("tile")["cnt"].sort_index()
        cells = morton_cell_np(npdf["ilat"].values, npdf["ilon"].values)
        exp = pd.Series(tile_np(cells, 4)).value_counts().sort_index()
        assert (got.values == exp.values).all()


@pytest.mark.spark
class TestSpatial:
    def test_bbox_and_rect(self, spark, nodes_df):
        ndf, npdf = nodes_df
        bb = bbox_agg(ndf).toPandas().iloc[0]
        assert bb["min_ilat"] == npdf["ilat"].min() and bb["max_ilon"] == npdf["ilon"].max()
        # min-exclusive: a point exactly on min_lat/lon is NOT contained
        df = spark.createDataFrame(pd.DataFrame({"ilat": [10, 11, 20], "ilon": [10, 11, 20]}))
        got = df.filter(in_rect(F.col("ilat"), F.col("ilon"), 10, 20, 10, 20)).toPandas()
        assert sorted(got["ilat"].tolist()) == [11, 20]

    def test_point_in_polygon(self, spark):
        # axis-aligned rect polygon (10..20 deg) + a triangle
        polys = [
            (1, [(10.0, 10.0), (10.0, 20.0), (20.0, 20.0), (20.0, 10.0)]),
            (2, [(0.0, 30.0), (10.0, 40.0), (0.0, 50.0)]),
        ]
        idx = compile_polygons(polys, z=8)
        pts = pd.DataFrame(
            {
                "pid": [1, 2, 3, 4, 5],
                "lat": [15.0, 25.0, 3.0, 9.0, 15.0],
                "lon": [15.0, 15.0, 40.0, 40.0, 19.99],
            }
        )
        from osm_pbf_convert_spark.functions.cells import quantize_np

        pts["ilat"] = quantize_np(pts["lat"].values)
        pts["ilon"] = quantize_np(pts["lon"].values)
        df = spark.createDataFrame(pts[["pid", "ilat", "ilon"]])
        out = assign_polygons(spark, df, idx).toPandas()
        got = {(r["pid"], r["polygon_id"]) for _, r in out.iterrows()}
        # triangle spans lon 39..41 at lat 9, so (9,40) is inside poly 2
        assert got == {(1, 1), (3, 2), (4, 2), (5, 1)}

    def test_concave_slit_not_full(self, spark):
        """A thin concave slit crosses tiles with both segment endpoints
        outside them: vertex-only classification marked those tiles FULL and
        reported slit points (outside the polygon) as contained. Segment-rect
        intersection must classify them EDGE -> exact ray-cast -> excluded."""
        # U-shape: a 20x20 deg square with a narrow slit (width 0.02 deg)
        # cut from the top edge down to 2 deg above the bottom.
        slit = [
            (0.0, 0.0), (20.0, 0.0), (20.0, 9.99),
            (2.0, 9.99), (2.0, 10.01), (20.0, 10.01),
            (20.0, 20.0), (0.0, 20.0),
        ]
        idx = compile_polygons([(7, slit)], z=6)
        from osm_pbf_convert_spark.functions.cells import quantize_np

        pts = pd.DataFrame(
            {
                "pid": [1, 2, 3],
                "lat": [10.0, 10.0, 10.0],   # mid-height: slit runs here
                "lon": [10.0, 5.0, 15.0],    # in-slit, in-left-arm, in-right-arm
            }
        )
        pts["ilat"] = quantize_np(pts["lat"].values)
        pts["ilon"] = quantize_np(pts["lon"].values)
        out = assign_polygons(spark, spark.createDataFrame(pts[["pid", "ilat", "ilon"]]), idx).toPandas()
        got = {(r["pid"], r["polygon_id"]) for _, r in out.iterrows()}
        assert got == {(2, 7), (3, 7)}  # slit point 1 NOT contained

    def test_knn(self, spark):
        # grid of points; queries in the middle; oracle = brute force
        rng = np.random.default_rng(9)
        n = 400
        pts = pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64),
                "ilat": rng.integers(0, 2**20, n).astype(np.int32),
                "ilon": rng.integers(0, 2**20, n).astype(np.int32),
            }
        )
        qs = pd.DataFrame(
            {
                "query_id": [0, 1],
                "ilat": np.array([2**19, 2**18], dtype=np.int32),
                "ilon": np.array([2**19, 2**18], dtype=np.int32),
            }
        )
        # z=4 -> tile size 2^28 >> point extent, so ring 1 covers everything
        out = knn_join(
            spark.createDataFrame(pts), spark.createDataFrame(qs), k=5, z=4, ring=1
        ).toPandas()
        for _, q in qs.iterrows():
            d2 = (pts["ilat"].astype(np.float64) - q["ilat"]) ** 2 + (
                pts["ilon"].astype(np.float64) - q["ilon"]
            ) ** 2
            exp = pts.assign(d2=d2).sort_values(["d2", "id"]).head(5)["id"].tolist()
            got = out[out["query_id"] == q["query_id"]].sort_values("rank")["id"].tolist()
            assert got == exp

    def test_knn_ring2_wider_coverage(self, spark):
        """ring=2 exercises the Morton inc/dec chains two steps out; with a
        fine zoom the single-tile neighborhood is too small and ring2 must
        recover the true neighbors."""
        rng = np.random.default_rng(21)
        pts = pd.DataFrame(
            {
                "id": np.arange(500, dtype=np.int64),
                "ilat": rng.integers(0, 2**24, 500).astype(np.int32),
                "ilon": rng.integers(0, 2**24, 500).astype(np.int32),
            }
        )
        qs = pd.DataFrame({"query_id": [1, 2], "ilat": [2**23, 2**22], "ilon": [2**23, 2**22]})
        # z=8 -> tile size 2^24 over a 2^24 extent: points span ~1 tile at
        # (128,128)... use z=10 so the extent covers ~2^ tiles? compute:
        # biased coords 2^31+[0,2^24); z=10 tile width 2^22 -> extent = 4 tiles
        out = knn_join(
            spark.createDataFrame(pts), spark.createDataFrame(qs), k=8, z=10, ring=2
        ).toPandas()
        for _, q in qs.iterrows():
            d2 = (pts["ilat"].astype(np.float64) - q["ilat"]) ** 2 + (
                pts["ilon"].astype(np.float64) - q["ilon"]
            ) ** 2
            exp = pts.assign(d2=d2).sort_values(["d2", "id"]).head(8)["id"].tolist()
            got = out[out["query_id"] == q["query_id"]].sort_values("rank")["id"].tolist()
            # ring-2 at z=10 covers 5x5 tiles of width 2^22 around the query:
            # all true top-8 lie within that window for these fixtures
            assert got == exp

    def test_knn_salted_same_result(self, spark):
        rng = np.random.default_rng(10)
        pts = pd.DataFrame(
            {
                "id": np.arange(200, dtype=np.int64),
                "ilat": rng.integers(0, 2**18, 200).astype(np.int32),
                "ilon": rng.integers(0, 2**18, 200).astype(np.int32),
            }
        )
        qs = pd.DataFrame({"query_id": [7], "ilat": [2**17], "ilon": [2**17]})
        a = knn_join(spark.createDataFrame(pts), spark.createDataFrame(qs), k=3, z=4, ring=1).toPandas()
        b = knn_join(
            spark.createDataFrame(pts), spark.createDataFrame(qs), k=3, z=4, ring=1, salt=4
        ).toPandas()
        assert a.sort_values("rank")["id"].tolist() == b.sort_values("rank")["id"].tolist()


@pytest.mark.spark
class TestPagesGeo:
    def test_text_passthrough_byte_identical(self, spark, nodes_df):
        ndf, npdf = nodes_df
        texts = ["plain", "", "多字节 ✓ bytes", "x" * 1000]
        pages = spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": [f"u{i}" for i in range(4)],
                    "text": texts,
                }
            )
        )
        nodes_with_url = ndf.withColumn(
            "url", F.concat(F.lit("u"), (F.col("id") % 4).cast("string"))
        )
        out = join_pages_geo(pages, nodes_with_url).toPandas().sort_values("url")
        assert out["text"].tolist() == texts  # byte-identical passthrough
        assert (out["n_geo"] > 0).all()


@pytest.mark.spark
class TestRasterize:
    def test_rasterize_inverts_tile_ids(self, spark):
        from osm_pbf_convert_spark.operators.spatial import tile_to_xy

        z = 8
        rng = np.random.default_rng(17)
        tiles = rng.integers(0, 1 << (2 * z), 300, dtype=np.int64)
        df = spark.createDataFrame(
            pd.DataFrame({"tile": tiles, "cnt": np.ones(300, dtype=np.int64)})
        )
        out = rasterize_tiles(df, z).toPandas()
        tx, ty = tile_to_xy(tiles, z)
        got = out[["y", "x"]].to_numpy()
        exp = np.stack([ty, tx], axis=1)
        assert (np.sort(got, axis=0) == np.sort(exp, axis=0)).all()


@pytest.mark.spark
class TestSkewedJoin:
    def test_hot_node_resolves_correctly(self, spark):
        """Skew correctness: thousands of ways all referencing one hot node
        (city-center pattern). AQE skew-split may repartition; results must
        be exact regardless."""
        nodes = spark.createDataFrame(
            [(1, 100, 200), (2, -5, 7)], schema="id bigint, ilat int, ilon int"
        )
        ways = spark.createDataFrame(
            [(w, [1, 2, 1]) for w in range(3000)], schema="id bigint, refs array<bigint>"
        )
        res = resolve_ways(ways, nodes, keep_tags=False)
        out = res.toPandas()
        assert len(out) == 3000
        assert (out["n_resolved"] == 3).all()
        sample = out.iloc[0]["nodes"]
        assert [(x["id"], x["ilat"]) for x in sample] == [(1, 100), (2, -5), (1, 100)]
        # duplicate refs resolve positionally, mid over all three entries
        assert (out["mid_ilat"] == int((100 - 5 + 100) / 3)).all()


@pytest.mark.spark
class TestHeatMapExport:
    def test_reference_binary_format(self, spark):
        """Byte-format parity with HeatMapProcessor.Finish: MSB-first 7-bit
        varints, row-major, zeros included."""
        from osm_pbf_convert_spark.codecs import decode_varints_msb
        from osm_pbf_convert_spark.operators.tiling import export_heat_map_bytes

        counts = spark.createDataFrame(
            pd.DataFrame({"row": [0, 1, 3], "col": [0, 2, 1], "cnt": [5, 200, 1]})
        )
        blob = export_heat_map_bytes(counts, rows=4, cols=4)
        back = decode_varints_msb(blob)
        assert len(back) == 16
        grid = np.asarray(back, dtype=np.int64).reshape(4, 4)
        assert grid[0, 0] == 5 and grid[1, 2] == 200 and grid[3, 1] == 1
        assert grid.sum() == 206
        # 200 needs two varint bytes, zeros one each -> exact length check
        assert len(blob) == 15 + 2

    def test_vectorized_msb_encoder_matches_scalar(self):
        from osm_pbf_convert_spark.codecs import encode_varints_msb, encode_varints_msb_np

        rng = np.random.default_rng(3)
        vals = np.concatenate([
            np.zeros(50, np.uint64),
            rng.integers(0, 2**63 - 1, 200).astype(np.uint64),
            np.array([0, 1, 127, 128, 2**63 - 1, 2**64 - 1], np.uint64),
            (np.uint64(1) << np.arange(64, dtype=np.uint64)),  # every group-count boundary
        ])
        assert encode_varints_msb_np(vals) == encode_varints_msb(vals.tolist())

    def test_partitioned_band_sink_golden(self, spark, tmp_path):
        """Concatenated bands must be byte-equal to the driver-side export
        on a cropped grid (including an all-zero band)."""
        from osm_pbf_convert_spark.operators.tiling import (
            export_heat_map_bytes,
            heat_map_bands,
            write_heat_map_file,
        )

        rng = np.random.default_rng(11)
        n = 300
        pdf = pd.DataFrame({
            "row": rng.integers(0, 64, n),
            "col": rng.integers(0, 128, n),
            "cnt": rng.integers(1, 10**7, n),
        }).groupby(["row", "col"], as_index=False).agg(cnt=("cnt", "first"))
        pdf = pdf[pdf["row"] // 16 != 2]  # band 2 left empty on purpose
        counts = spark.createDataFrame(pdf)
        golden = export_heat_map_bytes(counts, rows=64, cols=128)

        bands = heat_map_bands(counts, rows=64, cols=128, band_rows=16).orderBy("band").collect()
        assert [b["band"] for b in bands] == [0, 1, 2, 3]  # empty band present
        assert b"".join(b["data"] for b in bands) == golden

        out_file = str(tmp_path / "crop.heat.map")
        total = write_heat_map_file(counts, out_file, rows=64, cols=128, band_rows=16)
        with open(out_file, "rb") as f:
            assert f.read() == golden
        assert total == len(golden)

        # Hadoop FileSystem path: an explicit file:// URI must work the
        # same (the sink streams via fs.create, not builtin open)
        uri_file = tmp_path / "crop_uri.heat.map"
        write_heat_map_file(counts, f"file://{uri_file}", rows=64, cols=128, band_rows=16)
        assert uri_file.read_bytes() == golden

    @pytest.mark.parametrize("split_bytes", [64, 1024, 10**9])
    def test_heat_map_reader_roundtrip(self, spark, tmp_path, split_bytes):
        """write_heat_map_file -> read_heat_map_file recovers the exact
        sparse counts, for splits far smaller than a row (varints straddle
        split boundaries), mid-file, and bigger than the file. Counts
        >= 2^21 force multi-byte varints."""
        from osm_pbf_convert_spark.operators.tiling import (
            read_heat_map_file,
            write_heat_map_file,
        )

        rng = np.random.default_rng(29)
        n = 250
        pdf = pd.DataFrame({
            "row": rng.integers(0, 64, n),
            "col": rng.integers(0, 128, n),
            "cnt": rng.integers(1, 2**28, n),
        }).groupby(["row", "col"], as_index=False).agg(cnt=("cnt", "first"))
        counts = spark.createDataFrame(pdf)
        out_file = str(tmp_path / f"rt_{split_bytes}.heat.map")
        write_heat_map_file(counts, out_file, rows=64, cols=128, band_rows=16)
        back = read_heat_map_file(
            spark, out_file, rows=64, cols=128, split_bytes=split_bytes
        )
        got = {(r["row"], r["col"]): r["cnt"] for r in back.collect()}
        want = {(int(r), int(c)): int(v) for r, c, v in pdf.itertuples(index=False)}
        assert got == want

    def test_heat_map_reader_validates_count(self, spark, tmp_path):
        p = str(tmp_path / "bad.heat.map")
        with open(p, "wb") as f:
            f.write(bytes([1, 2, 3]))  # 3 varints, not 64*128
        from osm_pbf_convert_spark.operators.tiling import read_heat_map_file

        with pytest.raises(ValueError, match="expected"):
            read_heat_map_file(spark, p, rows=64, cols=128)

    def test_band_sink_out_of_range_errors(self, spark):
        """Cells outside the grid must FAIL the encode (silent drops would
        fake a complete byte dump); on_out_of_range='drop' opts into crop."""
        import pytest as _pytest
        from pyspark.errors.exceptions.captured import PythonException

        from osm_pbf_convert_spark.operators.tiling import heat_map_bands

        counts = spark.createDataFrame(
            pd.DataFrame({"row": [1, 70], "col": [1, 1], "cnt": [5, 7]})
        )
        with _pytest.raises(PythonException, match="outside"):
            heat_map_bands(counts, rows=64, cols=128, band_rows=16).collect()
        ok = heat_map_bands(
            counts, rows=64, cols=128, band_rows=16, on_out_of_range="drop"
        ).collect()
        assert [b["band"] for b in ok] == [0, 1, 2, 3]
