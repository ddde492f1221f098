"""End-to-end Spark decode: pages(html binary) -> nodes/ways/relations DFs."""

import numpy as np
import pandas as pd
import pytest

from osm_pbf_convert_spark.sources.pbf import decode_nodes, decode_relations, decode_ways
from osm_pbf_convert_spark.sources.pbf_encoder import (
    DenseNodesSpec,
    RelationSpec,
    WaySpec,
    build_payload,
    coords_to_raw,
    encode_primitive_block,
    frame_blob,
)


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = []
    for i in range(20):
        g = 100 if i % 2 == 0 else 1000
        lats = [40.0 + i * 0.01, 40.5 + i * 0.01]
        lons = [-3.0 - i * 0.01, -3.5 - i * 0.01]
        dense = DenseNodesSpec(
            ids=[i * 100 + 1, i * 100 + 2],
            lats_raw=coords_to_raw(lats, g, 0),
            lons_raw=coords_to_raw(lons, g, 0),
            tags=[{"amenity": "cafe"}, {}],
        )
        ways = [WaySpec(id=i * 10 + 1, refs=[i * 100 + 1, i * 100 + 2], tags={"highway": "path"})]
        rels = [RelationSpec(id=i + 1, members=[(0, i * 100 + 1, "stop"), (1, i * 10 + 1, "way")])]
        payload = build_payload(
            [
                frame_blob(encode_primitive_block(dense=dense, granularity=g), compress=i % 3 == 0),
                frame_blob(encode_primitive_block(ways=ways, relations=rels)),
            ]
        )
        rows.append((f"https://example.org/p/{i:08d}", payload))
    # plus an empty-payload page and a header-only page
    rows.append(("https://example.org/empty", b""))
    rows.append(("https://example.org/hdr", frame_blob(b"", blob_type="OSMHeader")))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "html"]))


@pytest.mark.spark
class TestDecodeNodes:
    def test_counts_and_values(self, pages_df):
        nodes = decode_nodes(pages_df).toPandas().sort_values("id").reset_index(drop=True)
        assert len(nodes) == 40  # 2 per non-empty page
        assert nodes["id"].tolist() == sorted(i * 100 + j for i in range(20) for j in (1, 2))
        first = nodes.iloc[0]
        assert first["lat"] == 40.0 and first["lon"] == -3.0
        # quantization matches C# truncation
        assert first["ilat"] == int(40.0 / 180 * 2147483647)
        tags = dict(first["tags"])
        assert tags == {"amenity": "cafe"}

    def test_empty_pages_produce_no_rows(self, pages_df):
        nodes = decode_nodes(pages_df)
        urls = {r["url"] for r in nodes.select("url").distinct().collect()}
        assert "https://example.org/empty" not in urls
        assert "https://example.org/hdr" not in urls

    def test_plan_prunes_columns(self, spark, pages_df):
        # decode_nodes must read only passthrough+payload, not other page cols
        wide = pages_df.withColumn("extra", pages_df["url"])
        plan = decode_nodes(wide)._jdf.queryExecution().executedPlan().toString()
        assert "extra" not in plan


@pytest.mark.spark
class TestDecodeWaysRels:
    def test_ways(self, pages_df):
        ways = decode_ways(pages_df).toPandas().sort_values("id").reset_index(drop=True)
        assert len(ways) == 20
        assert ways.iloc[0]["refs"].tolist() == [1, 2]
        assert dict(ways.iloc[0]["tags"]) == {"highway": "path"}

    def test_relations(self, pages_df):
        rels = decode_relations(pages_df).toPandas().sort_values("id").reset_index(drop=True)
        assert len(rels) == 20
        m = rels.iloc[0]["members"]
        assert [(x["member_type"], x["ref"], x["role"]) for x in m] == [(0, 1, "stop"), (1, 1, "way")]


@pytest.mark.spark
class TestDecodeEntities:
    def test_union_matches_separate_decodes(self, spark, pages_df):
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        ent = decode_entities(pages_df).toPandas()
        nodes = decode_nodes(pages_df).toPandas()
        ways = decode_ways(pages_df).toPandas()
        rels = decode_relations(pages_df).toPandas()
        en = ent[ent["kind"] == 0].sort_values("id").reset_index(drop=True)
        ew = ent[ent["kind"] == 1].sort_values("id").reset_index(drop=True)
        er = ent[ent["kind"] == 2].sort_values("id").reset_index(drop=True)
        nodes = nodes.sort_values("id").reset_index(drop=True)
        ways = ways.sort_values("id").reset_index(drop=True)
        rels = rels.sort_values("id").reset_index(drop=True)
        assert len(en) == len(nodes) and len(ew) == len(ways) and len(er) == len(rels)
        assert (en["id"].values == nodes["id"].values).all()
        assert (en["lat"].values == nodes["lat"].values).all()
        assert (en["ilat"].values == nodes["ilat"].values).all()
        for a, b in zip(en["tags"], nodes["tags"]):
            assert dict(a) == dict(b)
        for a, b in zip(ew["refs"], ways["refs"]):
            assert list(a) == list(b)
        for a, b in zip(ew["tags"], ways["tags"]):
            assert dict(a) == dict(b)
        for a, b in zip(er["members"], rels["members"]):
            assert [tuple(x.values()) if isinstance(x, dict) else (x["member_type"], x["ref"], x["role"]) for x in a] == \
                   [(x["member_type"], x["ref"], x["role"]) for x in b]
        # node rows have null refs/members; way rows have null lat/members
        assert en["refs"].isna().all() and en["members"].isna().all()
        assert ew["members"].isna().all()

    def test_column_subset_matches_full_decode(self, spark, pages_df):
        """``columns=`` prunes the Arrow assembly (round 8, guide §5:
        tags-only consumers skip coordinate quantization and the
        refs/members builds) without changing any emitted value."""
        from pyspark.sql import functions as F

        from osm_pbf_convert_spark.sources.pbf import decode_entities

        full = decode_entities(pages_df)
        sub = decode_entities(pages_df, passthrough=(), columns=("kind", "tags"))
        assert sub.columns == ["kind", "tags"]
        agg = lambda df: {
            (r["kind"], r["key"], r["cnt"])
            for r in df.select("kind", F.explode(F.map_keys("tags")).alias("key"))
            .groupBy("kind", "key").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert agg(sub) == agg(full)
        assert sub.count() == full.count()

        ids = decode_entities(
            pages_df, columns=("kind", "id", "ilat", "ilon")
        )
        assert ids.columns == ["url", "kind", "id", "ilat", "ilon"]
        want = {
            (r["url"], r["kind"], r["id"], r["ilat"], r["ilon"])
            for r in full.select("url", "kind", "id", "ilat", "ilon").collect()
        }
        got = {tuple(r) for r in ids.collect()}
        assert got == want

    def test_column_subset_keeps_caller_order(self, spark, pages_df):
        """``columns=`` comes back in the caller's order, in the schema and
        in the arrays, with the values of the same columns of the full
        decode."""
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        cols = ("tags", "ilon", "kind", "id")
        sub = decode_entities(pages_df, passthrough=("url",), columns=cols)
        assert sub.columns == ["url", *cols]
        full = decode_entities(pages_df).select("url", *cols)
        rows = lambda df: sorted(  # noqa: E731
            tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r)
            for r in df.collect()
        )
        assert rows(sub) == rows(full)


_MEMBERS = "array<struct<member_type:int,ref:bigint,role:string>>"
_ENTITY = (
    "kind:int,id:bigint,lat:double,lon:double,ilat:int,ilon:int,"
    f"tags:map<string,string>,refs:array<bigint>,members:{_MEMBERS}"
)


@pytest.mark.spark
@pytest.mark.parametrize("decoder, kwargs, wide, expected", [
    ("decode_nodes", {}, False,
     "struct<url:string,id:bigint,lat:double,lon:double,ilat:int,ilon:int,"
     "tags:map<string,string>>"),
    ("decode_ways", {}, False,
     "struct<url:string,id:bigint,refs:array<bigint>,tags:map<string,string>>"),
    ("decode_relations", {}, False,
     f"struct<url:string,id:bigint,members:{_MEMBERS},tags:map<string,string>>"),
    ("decode_entities", {}, False, f"struct<url:string,{_ENTITY}>"),
    ("decode_entities", {"columns": ("kind", "id")}, False,
     "struct<url:string,kind:int,id:bigint>"),
    ("decode_entities_geo", {}, True,
     f"struct<url:string,warc_ts:timestamp,text:string,lang:string,{_ENTITY},"
     "n_geo:bigint,min_ilat:int,max_ilat:int,min_ilon:int,max_ilon:int>"),
])
def test_decoder_output_schema_pinned(spark, decoder, kwargs, wide, expected):
    """Every public decoder's output schema, pinned as a string: the
    decoders share one loop and one column table, and none of them may
    change its schema through it."""
    from osm_pbf_convert_spark.sources import pbf

    cols = {"url": ["u"], "html": [b""]}
    if wide:  # the pages layout; the geo decode passes every column through
        cols = {"url": ["u"], "warc_ts": pd.to_datetime(["2024-01-01"]),
                "html": [b""], "text": ["t"], "lang": ["en"]}
    df = getattr(pbf, decoder)(spark.createDataFrame(pd.DataFrame(cols)), **kwargs)
    assert df.schema.simpleString() == expected


@pytest.mark.spark
class TestCorruptPayloads:
    def test_default_raises_like_reference(self, spark):
        bad = spark.createDataFrame(
            pd.DataFrame({"url": ["u1"], "html": [b"\x00\x00\x00\x04garbage-bytes"]})
        )
        with pytest.raises(Exception):
            decode_nodes(bad).collect()

    def test_skip_mode_survives_corruption(self, spark, pages_df):
        """on_error='skip': corrupt rows yield zero entities, healthy rows
        decode normally -- the 100TB production policy."""
        import pandas as pd

        bad = spark.createDataFrame(
            pd.DataFrame({"url": ["bad1", "bad2"], "html": [b"\x00\x00\x00\x09corrupted!!", b"\xff" * 40]})
        )
        mixed = pages_df.select("url", "html").unionByName(bad)
        nodes = decode_nodes(mixed, on_error="skip").toPandas()
        assert len(nodes) == 40  # all healthy pages decoded
        assert not nodes["url"].str.startswith("bad").any()
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        ents = decode_entities(mixed, on_error="skip")
        assert ents.count() > 0

    def test_skip_mode_counts_bad_payloads(self, spark, pages_df):
        """Corrupt payloads bump the accumulator so they are
        distinguishable from legitimately empty ones (checkpoint metric)."""
        import pandas as pd

        bad = spark.createDataFrame(
            pd.DataFrame({"url": ["bad1", "bad2"], "html": [b"\x00\x00\x00\x09corrupted!!", b"\xff" * 40]})
        )
        mixed = pages_df.select("url", "html").unionByName(bad)
        acc = spark.sparkContext.accumulator(0)
        decode_nodes(mixed, on_error="skip", bad_counter=acc).count()
        assert acc.value == 2

    def test_overlong_varint_raises(self):
        """>10-byte varint groups would shift past 64 bits (undefined in
        numpy) -- both decode paths must raise instead of silently wrapping."""
        from osm_pbf_convert_spark.codecs import decode_varints

        bad_group = b"\x80" * 10 + b"\x01"
        with pytest.raises(ValueError, match="10 bytes"):
            decode_varints(bad_group)  # small/scalar path
        with pytest.raises(ValueError, match="10 bytes"):
            decode_varints(b"\x01" * 100 + bad_group)  # vectorized path
        # a maximal LEGAL 10-byte varint still decodes on both paths
        legal = b"\xff" * 9 + b"\x01"
        assert decode_varints(legal)[0] == decode_varints(b"\x00" * 100 + legal)[-1]
