"""The engine's query catalog: one entry per operator family from
SURVEY.md §2 plus the training-data-pipeline extensions.

Each query is ``(spark, sf_dir) -> DataFrame`` over the driver's seeded
parquet tables (TESTDATA.md); where SQL-expressible, ``ORACLES`` carries
the equivalent DuckDB SQL over the same tables. Column names and types are
aligned on both sides (the driver sorts columns by name and value-hashes).

Derived geo inputs: node ids / int32 coords come from sql_fixtures --
identical modular arithmetic on both sides.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_pbf_convert_spark import sql_fixtures as SX
from osm_pbf_convert_spark.functions import cells as C
from osm_pbf_convert_spark.operators import dedup, similarity, spatial, text, tiling
from osm_pbf_convert_spark.operators.joins import assemble_relations, join_pages_geo, resolve_ways
from osm_pbf_convert_spark.operators.tags import way_type_col
from osm_pbf_convert_spark.sources.pbf import decode_nodes, decode_ways
from osm_pbf_convert_spark.sources.pages import synth_pages


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _li_pairs(spark, sf_dir) -> DataFrame:
    """Distinct (orderkey, linenumber) pairs -- the synthetic entity keys.
    (The seeded lineitem table is NOT unique on this pair.)"""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )


def _li_nodes(spark, sf_dir) -> DataFrame:
    """One node per distinct (orderkey, linenumber): id + int32 coords."""
    nid = SX.node_id_sql("l_orderkey", "l_linenumber")
    return _li_pairs(spark, sf_dir).select(
        F.expr(nid).alias("id"),
        F.expr(SX.ilat_sql(nid)).cast("int").alias("ilat"),
        F.expr(SX.ilon_sql(nid)).cast("int").alias("ilon"),
    )


def _part_nodes(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.expr(SX.ilat_sql("p_partkey")).cast("int").alias("ilat"),
        F.expr(SX.ilon_sql("p_partkey")).cast("int").alias("ilon"),
    )


def _li_ways(spark, sf_dir) -> DataFrame:
    """One way per order: refs = that order's node ids in linenumber order."""
    nid = SX.node_id_sql("l_orderkey", "l_linenumber")
    return (
        _li_pairs(spark, sf_dir)
        .select(F.col("l_orderkey").alias("id"), F.col("l_linenumber").alias("ln"), F.expr(nid).alias("nid"))
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ln", "nid"))), lambda s: s["nid"]
            ).alias("refs")
        )
    )


_LI_PAIRS_SQL = "(SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)"

_LI_NODE_ORACLE = (
    "SELECT {nid} AS id, {ilat} AS ilat, {ilon} AS ilon FROM " + _LI_PAIRS_SQL + " li"
).format(
    nid=SX.node_id_sql("l_orderkey", "l_linenumber"),
    ilat=SX.ilat_sql(SX.node_id_sql("l_orderkey", "l_linenumber")),
    ilon=SX.ilon_sql(SX.node_id_sql("l_orderkey", "l_linenumber")),
)


# ---------------------------------------------------------------------------
# scan -> hash agg (SURVEY §2 #22) and top-k (#24)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    base_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    disc_c = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast("long")
    charge_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100 + 0.5
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(base_c).alias("sum_base_cents"),
            F.sum(disc_c).alias("sum_disc_cents"),
            F.sum(charge_c).alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM({SX.cents_sql('l_extendedprice')}) AS BIGINT) AS sum_base_cents,
       CAST(SUM({SX.cents_sql('l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS sum_disc_cents,
       CAST(SUM({SX.cents_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}) AS BIGINT) AS sum_charge_cents,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_brand_topk(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("p_brand"))
        .limit(10)
    )


_Q_BRAND_ORACLE = """
SELECT p_brand, COUNT(*) AS cnt FROM part
GROUP BY p_brand ORDER BY cnt DESC, p_brand ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# the flagship ways⋈nodes join (#18) + bbox/midpoint aggregate (#17)
# ---------------------------------------------------------------------------

def q_ways_nodes_join(spark, sf_dir):
    res = resolve_ways(_li_ways(spark, sf_dir), _li_nodes(spark, sf_dir), keep_tags=False)
    return res.select(
        F.col("way_id"), F.posexplode("nodes").alias("pos", "n")
    ).select(
        "way_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("n.id").alias("id"),
        F.col("n.ilat").cast("long").alias("ilat"),
        F.col("n.ilon").cast("long").alias("ilon"),
    )


_Q_WAYS_JOIN_ORACLE = f"""
SELECT l_orderkey AS way_id,
       ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS pos,
       {SX.node_id_sql('l_orderkey', 'l_linenumber')} AS id,
       {SX.ilat_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))} AS ilat,
       {SX.ilon_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))} AS ilon
FROM {{pairs}} li
""".format(pairs="(SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)")


def q_way_bbox(spark, sf_dir):
    res = resolve_ways(_li_ways(spark, sf_dir), _li_nodes(spark, sf_dir), keep_tags=False)
    return res.select(
        "way_id",
        F.col("n_resolved"),
        F.col("mid_ilat").cast("long").alias("mid_ilat"),
        F.col("mid_ilon").cast("long").alias("mid_ilon"),
        F.col("min_ilat").cast("long").alias("min_ilat"),
        F.col("max_ilat").cast("long").alias("max_ilat"),
        F.col("min_ilon").cast("long").alias("min_ilon"),
        F.col("max_ilon").cast("long").alias("max_ilon"),
    )


_Q_WAY_BBOX_ORACLE = f"""
WITH n AS ({_LI_NODE_ORACLE.replace(' AS ilon FROM', ' AS ilon, l_orderkey AS way_id FROM')})
SELECT way_id, COUNT(*) AS n_resolved,
       CAST(TRUNC(AVG(ilat)) AS BIGINT) AS mid_ilat,
       CAST(TRUNC(AVG(ilon)) AS BIGINT) AS mid_ilon,
       MIN(ilat) AS min_ilat, MAX(ilat) AS max_ilat,
       MIN(ilon) AS min_ilon, MAX(ilon) AS max_ilon
FROM n GROUP BY way_id
"""


# ---------------------------------------------------------------------------
# relations⋈members assembly (#20)
# ---------------------------------------------------------------------------

def _rels(spark, sf_dir) -> DataFrame:
    """Synthetic relations: rel = orderkey; one member per distinct
    linenumber. Even linenumbers are node members (ref into part keys,
    sometimes deliberately missing), odd are way members (ref into way
    ids = orderkeys). All derivations are pair arithmetic so the DuckDB
    oracle reproduces them exactly."""
    pairs = _li_pairs(spark, sf_dir)
    nid = SX.node_id_sql("l_orderkey", "l_linenumber")
    member = F.struct(
        (F.col("l_linenumber") % 2).cast("int").alias("member_type"),
        F.when(
            F.col("l_linenumber") % 2 == 0,
            F.expr(f"({nid}) % 2000") + F.when(F.expr("(l_orderkey + l_linenumber) % 19") == 0, 1000000).otherwise(0),
        )
        .otherwise(F.expr(f"(l_orderkey * 7 + l_linenumber) % 15000"))
        .cast("long")
        .alias("ref"),
        F.concat(F.lit("r"), F.col("l_linenumber").cast("string")).alias("role"),
    )
    return (
        pairs.select(F.col("l_orderkey").alias("id"), F.col("l_linenumber").alias("ln"), member.alias("m"))
        .groupBy("id")
        .agg(F.transform(F.sort_array(F.collect_list(F.struct("ln", "m"))), lambda s: s["m"]).alias("members"))
        .withColumn("tags", F.map_from_arrays(F.array(), F.array()).cast("map<string,string>"))
    )


def q_relation_members(spark, sf_dir):
    rels = _rels(spark, sf_dir)
    nodes = _part_nodes(spark, sf_dir)
    ways_res = resolve_ways(_li_ways(spark, sf_dir), _li_nodes(spark, sf_dir), keep_tags=False)
    out = assemble_relations(rels, nodes, ways_res)
    return out.select(F.col("rel_id"), F.posexplode("members").alias("pos", "m")).select(
        "rel_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("m.member_type").cast("long").alias("member_type"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
        F.col("m.mid_ilat").cast("long").alias("mid_ilat"),
        F.col("m.mid_ilon").cast("long").alias("mid_ilon"),
    )


_REL_MEMBERS_CTE = f"""
mem AS (
  SELECT l_orderkey AS rel_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS pos,
         CAST(l_linenumber % 2 AS BIGINT) AS member_type,
         CAST(CASE WHEN l_linenumber % 2 = 0
              THEN (((l_orderkey) * 8 + (l_linenumber))) % 2000
                   + CASE WHEN (l_orderkey + l_linenumber) % 19 = 0 THEN 1000000 ELSE 0 END
              ELSE (l_orderkey * 7 + l_linenumber) % 15000 END AS BIGINT) AS ref,
         'r' || CAST(l_linenumber AS VARCHAR) AS role
  FROM {_LI_PAIRS_SQL} li
)
"""

_Q_REL_MEMBERS_ORACLE = f"""
WITH {_REL_MEMBERS_CTE}
SELECT m.rel_id, m.pos, m.member_type, m.ref, m.role,
       CASE WHEN m.member_type = 0 AND p.p_partkey IS NOT NULL
            THEN {SX.ilat_sql('m.ref')} END AS mid_ilat,
       CASE WHEN m.member_type = 0 AND p.p_partkey IS NOT NULL
            THEN {SX.ilon_sql('m.ref')} END AS mid_ilon
FROM mem m LEFT JOIN part p ON m.member_type = 0 AND m.ref = p.p_partkey
"""


def q_relation_bbox(spark, sf_dir):
    rels = _rels(spark, sf_dir)
    nodes = _part_nodes(spark, sf_dir)
    ways_res = resolve_ways(_li_ways(spark, sf_dir), _li_nodes(spark, sf_dir), keep_tags=False)
    out = assemble_relations(rels, nodes, ways_res)
    return out.select(
        "rel_id",
        F.col("min_ilat").cast("long").alias("min_ilat"),
        F.col("max_ilat").cast("long").alias("max_ilat"),
        F.col("min_ilon").cast("long").alias("min_ilon"),
        F.col("max_ilon").cast("long").alias("max_ilon"),
    )


_Q_REL_BBOX_ORACLE = f"""
WITH {_REL_MEMBERS_CTE},
way_bbox AS (
  SELECT l_orderkey AS way_id,
         MIN({SX.ilat_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))}) AS w_min_ilat,
         MAX({SX.ilat_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))}) AS w_max_ilat,
         MIN({SX.ilon_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))}) AS w_min_ilon,
         MAX({SX.ilon_sql(SX.node_id_sql('l_orderkey', 'l_linenumber'))}) AS w_max_ilon
  FROM {_LI_PAIRS_SQL} li GROUP BY l_orderkey
),
joined AS (
  SELECT m.rel_id,
         CASE WHEN m.member_type = 0 AND p.p_partkey IS NOT NULL THEN {SX.ilat_sql('m.ref')} END AS n_ilat,
         CASE WHEN m.member_type = 0 AND p.p_partkey IS NOT NULL THEN {SX.ilon_sql('m.ref')} END AS n_ilon,
         w.w_min_ilat, w.w_max_ilat, w.w_min_ilon, w.w_max_ilon
  FROM mem m
  LEFT JOIN part p ON m.member_type = 0 AND m.ref = p.p_partkey
  LEFT JOIN way_bbox w ON m.member_type = 1 AND m.ref = w.way_id
)
SELECT rel_id,
       LEAST(MIN(n_ilat), MIN(w_min_ilat)) AS min_ilat,
       GREATEST(MAX(n_ilat), MAX(w_max_ilat)) AS max_ilat,
       LEAST(MIN(n_ilon), MIN(w_min_ilon)) AS min_ilon,
       GREATEST(MAX(n_ilon), MAX(w_max_ilon)) AS max_ilon
FROM joined GROUP BY rel_id
"""


# ---------------------------------------------------------------------------
# Morton cells (#13), tiles (#26), heat map (#26), pyramid
# ---------------------------------------------------------------------------

def q_morton_cells(spark, sf_dir):
    n = _part_nodes(spark, sf_dir)
    return n.select("id", C.morton_cell_col(F.col("ilat"), F.col("ilon")).alias("cell"))


_PART_CELL = C.morton_cell_sql(SX.ilat_sql("p_partkey"), SX.ilon_sql("p_partkey"))
_Q_MORTON_ORACLE = f"SELECT p_partkey AS id, {_PART_CELL} AS cell FROM part"

_LI_NID = SX.node_id_sql("l_orderkey", "l_linenumber")
_LI_CELL = C.morton_cell_sql(SX.ilat_sql(_LI_NID), SX.ilon_sql(_LI_NID))


def q_tile_counts_z8(spark, sf_dir):
    return tiling.tile_counts(_li_nodes(spark, sf_dir), 8)


_Q_TILE_Z8_ORACLE = f"""
SELECT {C.tile_sql(_LI_CELL, 8)} AS tile, COUNT(*) AS cnt FROM {_LI_PAIRS_SQL} li GROUP BY 1
"""


def q_heat_map(spark, sf_dir):
    return tiling.heat_map(_li_nodes(spark, sf_dir))


_Q_HEAT_ORACLE = f"""
SELECT {C.heat_row_sql(SX.ilat_sql(_LI_NID))} AS row,
       {C.heat_col_sql(SX.ilon_sql(_LI_NID))} AS col,
       COUNT(*) AS cnt
FROM {_LI_PAIRS_SQL} li GROUP BY 1, 2
"""


def q_tile_pyramid(spark, sf_dir):
    return tiling.tile_pyramid(_li_nodes(spark, sf_dir), max_z=8, min_z=4).select(
        F.col("z").cast("long").alias("z"), "tile", "cnt"
    )


_Q_PYRAMID_ORACLE = "\nUNION ALL\n".join(
    f"SELECT CAST({z} AS BIGINT) AS z, {C.tile_sql(_LI_CELL, z)} AS tile, COUNT(*) AS cnt FROM {_LI_PAIRS_SQL} li GROUP BY 2"
    for z in range(4, 9)
)


# ---------------------------------------------------------------------------
# point-in-rect (#16), zone maps (#27)
# ---------------------------------------------------------------------------

_RECT = (-1000000000, 1000000000, -500000000, 1500000000)


def q_point_in_rect(spark, sf_dir):
    n = _li_nodes(spark, sf_dir)
    return n.filter(spatial.in_rect(F.col("ilat"), F.col("ilon"), *_RECT)).select(
        "id", F.col("ilat").cast("long").alias("ilat"), F.col("ilon").cast("long").alias("ilon")
    )


_Q_RECT_ORACLE = f"""
WITH n AS ({_LI_NODE_ORACLE})
SELECT id, ilat, ilon FROM n
WHERE {_RECT[0]} < ilat AND {_RECT[1]} >= ilat AND {_RECT[2]} < ilon AND {_RECT[3]} >= ilon
"""


def q_zone_maps(spark, sf_dir):
    n = _li_nodes(spark, sf_dir)
    return (
        n.groupBy(F.shiftright(F.col("id"), 13).alias("bucket"))
        .agg(
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


_Q_ZONE_ORACLE = f"""
WITH n AS ({_LI_NODE_ORACLE})
SELECT id >> 13 AS bucket, MIN(id) AS min_id, MAX(id) AS max_id, COUNT(*) AS cnt
FROM n GROUP BY 1
"""


# ---------------------------------------------------------------------------
# way classification (#15)
# ---------------------------------------------------------------------------

def q_way_classification(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    idx = F.pmod(F.col("o_orderkey"), F.lit(27))
    hv_arr = F.array(*[F.lit(v) for v in SX.HIGHWAY_VALUES], F.lit("weird_value"))
    tags = (
        F.when(idx <= 25, F.map_from_arrays(F.array(F.lit("highway")), F.array(F.element_at(hv_arr, (idx + 1).cast("int")))))
        .when(idx == 26, F.map_from_arrays(F.array(F.lit("building")), F.array(F.lit("yes"))))
        .otherwise(F.map_from_arrays(F.array(), F.array()).cast("map<string,string>"))
    )
    # idx 26 -> building; idx > 26 unreachable (kept for clarity)
    return o.select(
        F.col("o_orderkey").alias("way_id"),
        way_type_col(tags).cast("long").alias("way_type"),
    )


_WT_CASE = " ".join(
    f"WHEN {i} THEN {code}" for i, code in enumerate(SX.HIGHWAY_CODES)
)
_Q_WAYTYPE_ORACLE = f"""
SELECT o_orderkey AS way_id,
       CASE (o_orderkey % 27) {_WT_CASE} WHEN 25 THEN 2 WHEN 26 THEN 100 ELSE 1 END :: BIGINT AS way_type
FROM orders
"""


# ---------------------------------------------------------------------------
# tag dictionary encode (#14) -- OSM-pbf-convert/TagsConverter.cs:40-110
# ---------------------------------------------------------------------------
#
# Exercises every level of the 3-tier dictionary: stoplist filter, exact
# (key,value) -> TagId in the kind dict, exact in the generic dict,
# key -> KeyId keeping the value, and DROP-if-unknown. The oracle replays
# the same decision chain as DuckDB CASE expressions generated from the
# SAME data/tags_map.json, so the two sides cannot drift.

_TAGS_MAP_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "tags_map.json"
)

# idx = o_orderkey % 8 selects the variable pos-0 tag; pos-1 is always
# maxspeed=<id%50> (key-dict hit, value kept).
_TDE_KEYS = ["amenity", "oneway", "name", "created_by", "randomkey", "highway", "brand", "amenity"]
_TDE_VALS = ["cafe", "yes", None, "josm", "zz", "bus_stop", "acme", "fountain"]  # None -> 'name_'||id


def q_tag_dict_encode(spark, sf_dir):
    from osm_pbf_convert_spark.operators.tags import TagDictionary

    td = TagDictionary.load(_TAGS_MAP_PATH)
    o = _t(spark, sf_dir, "orders")
    idx = F.pmod(F.col("o_orderkey"), F.lit(8))
    key0 = F.element_at(F.array(*[F.lit(k) for k in _TDE_KEYS]), (idx + 1).cast("int"))
    val_arr = F.array(*[
        F.lit(v) if v is not None else F.concat(F.lit("name_"), F.col("o_orderkey").cast("string"))
        for v in _TDE_VALS
    ])
    val0 = F.element_at(val_arr, (idx + 1).cast("int"))
    tagged = o.select(
        F.col("o_orderkey").alias("id"),
        F.map_from_arrays(
            F.array(key0, F.lit("maxspeed")),
            F.array(val0, F.pmod(F.col("o_orderkey"), F.lit(50)).cast("string")),
        ).alias("tags"),
    )
    out = td.encode(spark, tagged, kind="node")
    return out.select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.col("tag_id").cast("long").alias("tag_id"),
        F.col("key_id").cast("long").alias("key_id"),
        "value",
    )


def _tde_oracle() -> str:
    import json

    with open(_TAGS_MAP_PATH) as f:
        s = json.load(f)

    def esc(x: str) -> str:
        return x.replace("'", "''")

    def pair_case(entries) -> str:
        whens = " ".join(
            f"WHEN key = '{esc(e['Key'])}' AND value = '{esc(e['Value'])}' THEN {e['TagId']}"
            for e in entries
        )
        return f"CASE {whens} END" if whens else "CAST(NULL AS INTEGER)"

    key_case = "CASE key " + " ".join(
        f"WHEN '{esc(k)}' THEN {v}" for k, v in s["KeyCodes"].items()
    ) + " END"
    stop = ", ".join(f"'{esc(k)}'" for k in s["KeyStopList"])
    key0 = "CASE idx " + " ".join(f"WHEN {i} THEN '{k}'" for i, k in enumerate(_TDE_KEYS)) + " END"
    val0 = "CASE idx " + " ".join(
        f"WHEN {i} THEN " + (f"'{v}'" if v is not None else "'name_' || CAST(id AS VARCHAR)")
        for i, v in enumerate(_TDE_VALS)
    ) + " END"
    return f"""
WITH base AS (SELECT o_orderkey AS id, o_orderkey % 8 AS idx FROM orders),
exploded AS (
  SELECT id, 0 AS pos, {key0} AS key, {val0} AS value FROM base
  UNION ALL
  SELECT id, 1, 'maxspeed', CAST(id % 50 AS VARCHAR) FROM base
),
filtered AS (SELECT * FROM exploded WHERE key NOT IN ({stop})),
coded AS (
  SELECT id, pos, key, value,
         COALESCE({pair_case(s['NodeTagCodes'])}, {pair_case(s['TagCodes'])}) AS tag_id,
         {key_case} AS key_id
  FROM filtered
)
SELECT id, CAST(pos AS BIGINT) AS pos, CAST(tag_id AS BIGINT) AS tag_id,
       CAST(CASE WHEN tag_id IS NULL THEN key_id END AS BIGINT) AS key_id,
       CASE WHEN tag_id IS NULL THEN value END AS value
FROM coded WHERE tag_id IS NOT NULL OR key_id IS NOT NULL
"""


_Q_TAG_DICT_ORACLE = _tde_oracle()


# ---------------------------------------------------------------------------
# tag key stats (#22), top-k (#24), inverted index (#25)
# ---------------------------------------------------------------------------

def _part_words(spark, sf_dir):
    return _t(spark, sf_dir, "part").select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("key")
    )


def q_tag_key_stats(spark, sf_dir):
    return _part_words(spark, sf_dir).groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))


_Q_TAGSTATS_ORACLE = """
SELECT key, COUNT(*) AS cnt
FROM (SELECT UNNEST(string_split(p_name, ' ')) AS key FROM part) GROUP BY key
"""


def q_tag_topk(spark, sf_dir):
    return (
        q_tag_key_stats(spark, sf_dir)
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(5)
    )


_Q_TAGTOPK_ORACLE = _Q_TAGSTATS_ORACLE.strip() + " ORDER BY cnt DESC, key ASC LIMIT 5"


def q_inverted_index(spark, sf_dir):
    w = _part_words(spark, sf_dir)
    packed = F.shiftleft(F.col("p_partkey").cast("long"), 2).bitwiseOR(F.lit(1))
    return w.groupBy("key").agg(
        F.countDistinct(packed).alias("n_refs"),
        F.min(packed).alias("min_ref"),
        F.max(packed).alias("max_ref"),
    )


_Q_INVIDX_ORACLE = """
SELECT key, COUNT(DISTINCT packed) AS n_refs, MIN(packed) AS min_ref, MAX(packed) AS max_ref
FROM (SELECT (CAST(p_partkey AS BIGINT) << 2) | 1 AS packed, UNNEST(string_split(p_name, ' ')) AS key FROM part)
GROUP BY key
"""


# ---------------------------------------------------------------------------
# dedup / set ops / text
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id")


_Q_DEDUP_ORACLE = "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)"


def q_events_dedup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_events"))
    )


_Q_EVENTS_ORACLE = """
SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_events
FROM events GROUP BY user_id, event_type
"""


def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.whitespace_token_count(F.col("text")).cast("long").alias("n_ws"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


_Q_TOKENS_ORACLE = r"""
SELECT doc_id,
       CASE WHEN TRIM(text) = '' THEN 0
            ELSE array_length(regexp_split_to_array(TRIM(text), '\s+')) END AS n_ws,
       LENGTH(text) AS n_chars_computed
FROM documents
"""


# ---------------------------------------------------------------------------
# kNN (#north-rule) -- exact within covered neighborhood, oracle brute force
# ---------------------------------------------------------------------------

def q_knn(spark, sf_dir):
    pts = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.expr(SX.knn_ilat_sql("p_partkey")).cast("int").alias("ilat"),
        F.expr(SX.knn_ilon_sql("p_partkey")).cast("int").alias("ilon"),
    )
    qs = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 5)
        .select(
            F.col("s_suppkey").alias("query_id"),
            F.expr(SX.knn_q_ilat_sql("s_suppkey")).cast("int").alias("ilat"),
            F.expr(SX.knn_q_ilon_sql("s_suppkey")).cast("int").alias("ilon"),
        )
    )
    out = spatial.knn_join(pts, qs, k=10, z=2, ring=1)
    return out.select(
        "query_id", "id", F.col("dist2").cast("long").alias("dist2"), F.col("rank").cast("long").alias("rank")
    )


_Q_KNN_ORACLE = f"""
WITH pts AS (
  SELECT p_partkey AS id, {SX.knn_ilat_sql('p_partkey')} AS ilat, {SX.knn_ilon_sql('p_partkey')} AS ilon FROM part
),
qs AS (
  SELECT s_suppkey AS query_id, {SX.knn_q_ilat_sql('s_suppkey')} AS ilat, {SX.knn_q_ilon_sql('s_suppkey')} AS ilon
  FROM supplier WHERE s_suppkey < 5
),
scored AS (
  SELECT q.query_id, p.id,
         CAST((p.ilat - q.ilat) * (p.ilat - q.ilat) + (p.ilon - q.ilon) * (p.ilon - q.ilon) AS BIGINT) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY (p.ilat - q.ilat) * (p.ilat - q.ilat) + (p.ilon - q.ilon) * (p.ilon - q.ilon), p.id) AS rank
  FROM qs q CROSS JOIN pts p
)
SELECT query_id, id, dist2, rank FROM scored WHERE rank <= 10
"""



def q_knn_multi_tile(spark, sf_dir):
    """kNN where points span multiple zoom-12 tiles (tile width 2^20 over a
    3*2^20 extent) -- candidates really traverse the ring neighborhood.
    Exactness on this deterministic fixture is verified against the
    brute-force oracle (k-th neighbor distances are far below one tile
    width at this density)."""
    pts = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.expr("((p_partkey * 48271) % 3145728)").cast("int").alias("ilat"),
        F.expr("((p_partkey * 69621) % 3145728)").cast("int").alias("ilon"),
    )
    qs = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 8)
        .select(
            F.col("s_suppkey").alias("query_id"),
            F.expr("((s_suppkey * 104729 + 7) % 3145728)").cast("int").alias("ilat"),
            F.expr("((s_suppkey * 15485863 + 11) % 3145728)").cast("int").alias("ilon"),
        )
    )
    out = spatial.knn_join(pts, qs, k=10, z=12, ring=1)
    return out.select(
        "query_id", "id", F.col("dist2").cast("long").alias("dist2"),
        F.col("rank").cast("long").alias("rank"),
    )


_Q_KNN_MULTI_ORACLE = """
WITH pts AS (
  SELECT p_partkey AS id, ((p_partkey * 48271) % 3145728) AS ilat,
         ((p_partkey * 69621) % 3145728) AS ilon FROM part
),
qs AS (
  SELECT s_suppkey AS query_id, ((s_suppkey * 104729 + 7) % 3145728) AS ilat,
         ((s_suppkey * 15485863 + 11) % 3145728) AS ilon
  FROM supplier WHERE s_suppkey < 8
),
scored AS (
  SELECT q.query_id, p.id,
         CAST((p.ilat - q.ilat) * (p.ilat - q.ilat) + (p.ilon - q.ilon) * (p.ilon - q.ilon) AS BIGINT) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY (p.ilat - q.ilat) * (p.ilat - q.ilat) + (p.ilon - q.ilon) * (p.ilon - q.ilon), p.id) AS rank
  FROM qs q CROSS JOIN pts p
)
SELECT query_id, id, dist2, rank FROM scored WHERE rank <= 10
"""


def q_sessionization(spark, sf_dir):
    """Window-function showcase (the reference has no window operators --
    SURVEY §2): sessionize events per user with a 30-minute inactivity gap.
    lag() marks session starts; a running sum over the boolean assigns
    session ids; one aggregate emits per-session stats."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    new_sess = F.when(
        (F.col("t") - F.lag("t").over(w) > 1800) | F.lag("t").over(w).isNull(), 1
    ).otherwise(0)
    sess = ev.withColumn("sess", F.sum(new_sess).over(w))
    return sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("t_start"),
        F.max("t").alias("t_end"),
    ).select(
        "user_id", F.col("sess").cast("long").alias("sess"), "n_events", "t_start", "t_end"
    )


_Q_SESSION_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_id FROM events
),
marked AS (
  SELECT user_id, t, event_id,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800
                   OR LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev
),
sess AS (
  SELECT user_id, t,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
)
SELECT user_id, CAST(sess AS BIGINT) AS sess, COUNT(*) AS n_events,
       MIN(t) AS t_start, MAX(t) AS t_end
FROM sess GROUP BY user_id, sess
"""

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(emb, qs, k=5)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


_Q_EMB_ORACLE = """
WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id) AS rank
  FROM qs q CROSS JOIN embeddings e
)
SELECT query_id, vec_id, rank FROM scored WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# end-to-end decode (#1-#10) + pages⋈geo -- oracle re-derives page content
# ---------------------------------------------------------------------------

_PAGES_CACHE: dict = {}


def _pages(spark, sf_dir) -> DataFrame:
    key = sf_dir.rstrip("/")
    if key not in _PAGES_CACHE:
        # per-process path: avoids write races if several driver processes
        # evaluate queries concurrently; synthesis is seconds at test SFs
        tag = key.replace("/", "_").strip("_")
        path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_pages_{tag}_{os.getpid()}"
        )
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            synth_pages(spark, sf_dir).write.mode("overwrite").parquet(path)
        _PAGES_CACHE[key] = path
    # one mapInArrow task per core: the fixed per-task Python-worker
    # round-trip (~7ms) dominates at test file sizes (BENCH/NOTES.md);
    # at 100 TB the same rule is maxPartitionBytes ~ 128-512MB
    return spark.read.parquet(_PAGES_CACHE[key]).coalesce(
        spark.sparkContext.defaultParallelism
    )


_PAGE_SQL = "CAST(FLOOR(l_orderkey / 20) AS BIGINT)"  # must match synth_pages orders_per_page=20
_URL_SQL = f"printf('https://example.org/p/%010d', {_PAGE_SQL})"


def q_decode_nodes(spark, sf_dir):
    """Full decode path: synthesized pages -> mapInArrow decode -> per-url
    node count + coordinate checksum. The oracle re-derives the same values
    from lineitem arithmetic -- exact decode parity incl. requantization."""
    nodes = decode_nodes(_pages(spark, sf_dir))
    return nodes.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("ilat").cast("long")).alias("sum_ilat"),
        F.sum(F.col("ilon").cast("long")).alias("sum_ilon"),
        F.sum("id").alias("sum_id"),
    )


_Q_DECODE_ORACLE = f"""
SELECT {_URL_SQL} AS url, COUNT(*) AS n_nodes,
       CAST(SUM({SX.ilat_sql(_LI_NID)}) AS BIGINT) AS sum_ilat,
       CAST(SUM({SX.ilon_sql(_LI_NID)}) AS BIGINT) AS sum_ilon,
       CAST(SUM({_LI_NID}) AS BIGINT) AS sum_id
FROM lineitem GROUP BY 1
"""


_PBF_FILE_CACHE: dict = {}


def _pbf_file(spark, sf_dir) -> str:
    """Standalone ``.osm.pbf`` fixture: the synthesized pages' framed
    payloads concatenated in url order into ONE file (the reference's
    input shape, ``PbfFileProcessor.cs:24``). Assembly is a driver-local
    pyarrow step -- building a single test file is fixture work; the
    DISTRIBUTED byte-range read of it is the operator under test."""
    key = sf_dir.rstrip("/")
    if key not in _PBF_FILE_CACHE:
        import pyarrow.parquet as pq

        _pages(spark, sf_dir)  # ensure the pages parquet fixture exists
        t = pq.read_table(
            _PAGES_CACHE[key], columns=["url", "html"]
        ).sort_by([("url", "ascending")])
        tag = key.replace("/", "_").strip("_")
        path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_pbf_{tag}_{os.getpid()}.osm.pbf"
        )
        with open(path, "wb") as f:
            for h in t["html"].to_pylist():
                f.write(h)
        _PBF_FILE_CACHE[key] = path
    return _PBF_FILE_CACHE[key]


def q_pbf_file_nodes(spark, sf_dir):
    """Decode a standalone .osm.pbf file distributed: byte-range splits
    self-sync to blob-frame boundaries (``sources/pbf_file.py``), frames
    feed the same mapInArrow decode, aggregated per id bucket so the
    oracle replays the decode arithmetic from lineitem. Split size is
    scale-adaptive (r8): sized so the file fans out across the cluster's
    cores (floor 64 KiB), capped at 64 MiB -- the fixed 1 MiB split
    underfilled a 32-core box on a ~7 MiB fixture (7 decode tasks) and
    is equally wrong in the other direction at extract scale."""
    import os as _os

    from osm_pbf_convert_spark.sources.pbf_file import read_pbf_nodes

    path = _pbf_file(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    split = max(1 << 16, min(64 << 20, _os.path.getsize(path) // par + 1))
    nodes = read_pbf_nodes(spark, path, split_bytes=split)
    return nodes.groupBy(F.pmod(F.col("id"), F.lit(97)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("ilat").cast("long")).alias("sum_ilat"),
        F.sum(F.col("ilon").cast("long")).alias("sum_ilon"),
        F.sum("id").alias("sum_id"),
    )


_Q_PBF_FILE_ORACLE = f"""
SELECT {_LI_NID} % 97 AS bucket, COUNT(*) AS n_nodes,
       CAST(SUM({SX.ilat_sql(_LI_NID)}) AS BIGINT) AS sum_ilat,
       CAST(SUM({SX.ilon_sql(_LI_NID)}) AS BIGINT) AS sum_ilon,
       CAST(SUM({_LI_NID}) AS BIGINT) AS sum_id
FROM lineitem GROUP BY 1
"""


def q_pbf_roundtrip_nodes(spark, sf_dir):
    """The full file-interop circle under the hash gate: read the .pbf
    fixture distributed -> write_pbf_file re-encodes it (executor block
    encode, driver frame stream) -> read the REWRITTEN file distributed
    -> same per-bucket aggregate. Any loss anywhere in decode ->
    re-quantize -> re-encode -> re-decode breaks the oracle hash."""
    import tempfile

    from osm_pbf_convert_spark.sources.pbf_file import read_pbf_nodes, write_pbf_file

    src = _pbf_file(spark, sf_dir)
    out = src.replace(".osm.pbf", ".rt.osm.pbf")
    if not os.path.exists(out):
        # granularity=1 matches the fixture encode (pages.py synth), so
        # coords_to_raw recovers the exact raw integers and the re-decoded
        # float64 coordinates are bit-identical
        write_pbf_file(
            out, nodes=read_pbf_nodes(spark, src, split_bytes=1 << 20),
            entities_per_block=4000, granularity=1,
        )
    nodes = read_pbf_nodes(spark, out, split_bytes=1 << 20)
    return nodes.groupBy(F.pmod(F.col("id"), F.lit(97)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("ilat").cast("long")).alias("sum_ilat"),
        F.sum(F.col("ilon").cast("long")).alias("sum_ilon"),
        F.sum("id").alias("sum_id"),
    )


def q_decode_ways(spark, sf_dir):
    ways = decode_ways(_pages(spark, sf_dir))
    return ways.select(
        "id",
        F.size("refs").cast("long").alias("n_refs"),
        F.aggregate("refs", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_refs"),
        F.element_at(F.map_keys("tags"), 1).alias("tag_key"),
    )


_Q_DECODE_WAYS_ORACLE = f"""
SELECT l_orderkey AS id, COUNT(*) AS n_refs, CAST(SUM({_LI_NID}) AS BIGINT) AS sum_refs,
       CASE WHEN l_orderkey % 2 = 0 THEN 'highway' ELSE 'building' END AS tag_key
FROM lineitem GROUP BY l_orderkey
"""


def q_pages_geo(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    nodes = decode_nodes(pages)
    out = join_pages_geo(pages, nodes)
    return out.select(
        "url",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),  # byte-identity check
        "lang",
        "n_geo",
        F.col("min_ilat").cast("long").alias("min_ilat"),
        F.col("max_ilat").cast("long").alias("max_ilat"),
        F.col("min_ilon").cast("long").alias("min_ilon"),
        F.col("max_ilon").cast("long").alias("max_ilon"),
    )


_LANGS = "['en','de','fr','uk','ja']"
_Q_PAGES_GEO_ORACLE = f"""
SELECT {_URL_SQL} AS url,
       md5('document body ' || CAST({_PAGE_SQL} AS VARCHAR) || ' ✓ ' || repeat('x', CAST({_PAGE_SQL} % 64 AS INT))) AS text_md5,
       ({_LANGS})[CAST({_PAGE_SQL} % 5 AS INT) + 1] AS lang,
       COUNT(*) AS n_geo,
       MIN({SX.ilat_sql(_LI_NID)}) AS min_ilat,
       MAX({SX.ilat_sql(_LI_NID)}) AS max_ilat,
       MIN({SX.ilon_sql(_LI_NID)}) AS min_ilon,
       MAX({SX.ilon_sql(_LI_NID)}) AS max_ilon
FROM lineitem GROUP BY 1, 2, 3
"""



def q_tag_stats_by_kind(spark, sf_dir):
    """The reference's phase-split tag stats (TagStatsProcessor emits
    node-stats / way-stats separately): decode the pages payloads ONCE via
    decode_entities, explode tag keys, count per (kind, key). End-to-end:
    framing -> zlib -> string table -> tags -> agg, oracle-checked."""
    from osm_pbf_convert_spark.sources.pbf import decode_entities

    # columns= prunes the Arrow assembly itself (round 8, guide §5): a
    # tags-only consumer skips coordinate quantization and the
    # refs/members builds, which Catalyst cannot prune out of a Python
    # stage on its own. Values are pytest-pinned identical to the full
    # decode; the DuckDB oracle is unchanged.
    ent = decode_entities(_pages(spark, sf_dir), passthrough=(), columns=("kind", "tags"))
    return (
        ent.select(F.col("kind").cast("long").alias("kind"), F.explode(F.map_keys("tags")).alias("key"))
        .groupBy("kind", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# synth tags: node gets {amenity: cafe} iff node_id % 10 == 0; every way
# gets exactly one tag: highway iff orderkey even else building
_Q_TAGKIND_ORACLE = f"""
SELECT CAST(0 AS BIGINT) AS kind, 'amenity' AS key, COUNT(*) AS cnt
FROM lineitem WHERE ({_LI_NID}) % 10 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), 'highway', COUNT(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey % 2 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), 'building', COUNT(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey % 2 = 1
"""

# ---------------------------------------------------------------------------
# dedup family -- exact inverted-index n-gram Jaccard (string shingles)
# ---------------------------------------------------------------------------

def q_ngram_jaccard(spark, sf_dir):
    # Exact inverted-index variant. max_doc_freq bounds the O(df^2)
    # candidate blowup of corpus-common shingles; this synthetic corpus is
    # template-heavy (near-dup pairs share shingles with df up to ~400 at
    # sf0.01), so the guard sits just above that. The corpus-profile-free
    # scale path is q_ngram_lsh_rolling below.
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=6, threshold=0.6, min_common=5,
        max_doc_freq=400,
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


# Exact replay of ngram_jaccard_pairs: distinct 6-gram shingles of the
# lowered text, stop-shingle guard on candidate generation only (sizes
# count every shingle), inverted-index self-join, jaccard threshold.
_Q_NGRAM_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           [substr(lower(text), i, 6) FOR i IN generate_series(1, greatest(length(text) - 5, 0))]
         )) AS sh
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 400),
cand AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
common AS (
  SELECT ca.doc_id AS a, cb.doc_id AS b, COUNT(*) AS common
  FROM cand ca JOIN cand cb USING (sh)
  WHERE ca.doc_id < cb.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT a, b, ROUND(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE common / (sa.sz + sb.sz - common) >= 0.6
"""


# ---------------------------------------------------------------------------
# signature dedup entries: the one hash family of the text signature
# operators (operators/rolling.py) under the driver's rows+schema+hash gate,
# replayed bit for bit -- no oracle-only hash flavor exists. Karp-Rabin
# mod 2^64 and the affine permutation family are deterministic integer
# arithmetic, so DuckDB replays them in HUGEINT with explicit `% 2^64`
# reductions; 64-bit products that would overflow HUGEINT (A*w with both
# factors < 2^64) are computed via the hi/lo 32-bit split
#   A*w mod 2^64 = (A*(w mod 2^32) + ((A*(w div 2^32)) mod 2^32)*2^32) mod 2^64.
# The Spark side hashes the lower-cased UTF-8 BYTES; the SQL side hashes
# codepoints of lower(text) -- identical on the driver corpus, which is
# pure ASCII (verified: octet_length(encode(text)) == length(text) for
# every sf0.01 row). Non-ASCII corpora keep the pytest brute-force parity
# evidence (tests/test_rolling.py) instead.
# ---------------------------------------------------------------------------

_MOD64 = 1 << 64
_SIGNED64 = (
    "CAST(CASE WHEN {v} >= 9223372036854775808::HUGEINT "
    "THEN {v} - 18446744073709551616::HUGEINT ELSE {v} END AS BIGINT)"
)


def _sql_mulmod(a: int, x: str) -> str:
    """({a} * {x}) % 2^64 in HUGEINT via the hi/lo split (a < 2^64, x a
    HUGEINT expression in [0, 2^64))."""
    return (
        f"(({a}::HUGEINT * (({x}) % 4294967296::HUGEINT)"
        f" + (({a}::HUGEINT * (({x}) // 4294967296::HUGEINT)) % 4294967296::HUGEINT)"
        f" * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT)"
    )


def _kr_window_list(k: int) -> str:
    """SQL list expression (over CTE columns ``cps``/``text``): every
    k-window Karp-Rabin hash, replaying
    rolling.batch_window_hash_segments' polynomial sum_j byte_j *
    KR_BASE^(k-1-j) mod 2^64 (codepoint*power < 2^85, k-term sum < 2^88:
    well inside HUGEINT)."""
    from osm_pbf_convert_spark.operators.rolling import window_powers

    powers = window_powers(k).tolist()
    terms = " + ".join(f"cps[i+{j}]*{p}::HUGEINT" for j, p in enumerate(powers))
    return (
        f"list_transform(range(1, greatest(length(text) - {k - 1}, 0) + 1), "
        f"i -> ({terms}) % 18446744073709551616::HUGEINT)"
    )


def _kr_windows_cte(k: int) -> str:
    """CTEs: documents -> (doc_id, ws = distinct window-hash list)."""
    return f"""ch AS (
  SELECT doc_id, text,
         list_transform(string_split(lower(text), ''), c -> unicode(c)::HUGEINT) AS cps
  FROM documents
),
wh AS (
  SELECT doc_id, list_distinct({_kr_window_list(k)}) AS ws FROM ch
)"""


def _rolling_banded_cte(num_hashes: int, bands: int, shingle_k: int) -> str:
    """CTE chain replaying minhash_lsh_pairs: distinct
    KR window hashes -> per-seed min of A_i*w + B_i mod 2^64 (the SAME
    affine_family(seed=42) literals numpy uses) -> per-band Horner bucket
    fold(acc*KR_BASE + h, acc0=band) mod 2^64 (rolling.band_buckets)."""
    from osm_pbf_convert_spark.operators.rolling import KR_BASE, affine_family

    A, B = affine_family(num_hashes)
    r = num_hashes // bands
    mins = ",\n         ".join(
        f"min(({_sql_mulmod(int(A[i]), 'w')} + {int(B[i])}::HUGEINT)"
        f" % 18446744073709551616::HUGEINT) AS h{i}"
        for i in range(num_hashes)
    )

    def bucket(b: int) -> str:
        acc = f"{b}::HUGEINT"
        for i in range(r):
            acc = (f"(({acc}) * {KR_BASE} + h{b * r + i})"
                   f" % 18446744073709551616::HUGEINT")
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket(b)} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""{_kr_windows_cte(shingle_k)},
whr AS (SELECT doc_id, unnest(ws) AS w FROM wh),
sig AS (
  SELECT doc_id, {mins}
  FROM whr GROUP BY doc_id
),
banded AS (
{band_selects}
)"""


def q_fingerprint_rolling(spark, sf_dir):
    """The fingerprint operator (the 30x-measured no-substring window
    hash) under the full DuckDB hash gate."""
    return text.fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def _fingerprint_rolling_oracle() -> str:
    from osm_pbf_convert_spark.operators.text import _KR_COMBINE

    bottom_k = 8
    terms = " + ".join(
        f"COALESCE({_sql_mulmod(pow(_KR_COMBINE, bottom_k - 1 - j, _MOD64), f'sws[{j + 1}]')}, 0::HUGEINT)"
        for j in range(bottom_k)
    )
    fp = f"(({terms}) % 18446744073709551616::HUGEINT)"
    return f"""
WITH {_kr_windows_cte(8)},
bot AS (SELECT doc_id, list_sort(ws) AS sws FROM wh)
SELECT doc_id, {_SIGNED64.format(v=fp)} AS fingerprint
FROM bot
"""


def q_minhash_pairs_rolling(spark, sf_dir):
    """The minhash-LSH operator: zero-shuffle Arrow signature+banding
    stage, 8-byte Horner band keys."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=32, bands=8, shingle_k=5,
    )


_Q_MINHASH_ROLLING_ORACLE = f"""
WITH {_rolling_banded_cte(32, 8, 5)}
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x JOIN banded y USING (band, bucket)
WHERE x.doc_id < y.doc_id
"""


def _stream_docs_workspace(spark, sf_dir, prefix):
    """(stream_df, workspace dir): symlink the docs parquet into a private
    directory (the file source needs a directory basePath) and open it as
    a stream."""
    import tempfile

    from osm_pbf_convert_spark.streaming.dedup import stream_documents

    docs_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(docs_path).schema
    work = tempfile.mkdtemp(prefix=prefix)
    docs_dir = f"{work}/docs"
    os.makedirs(docs_dir)
    os.symlink(docs_path, f"{docs_dir}/documents.parquet")
    return stream_documents(spark, docs_dir, schema), work


def _replay_to_memory(spark, sdf, work, name, timeout=300):
    """availableNow replay into a memory sink under the PRODUCTION state
    store (RocksDB -- streaming/dedup.py module docs): asserts the replay
    actually finished (a silent partial read would surface as a spurious
    oracle mismatch), stops the query, restores the provider conf, and
    removes the checkpoint/symlink workspace. The memory sink's rows live
    on the driver, so the returned table survives the cleanup."""
    import shutil

    from osm_pbf_convert_spark.streaming.dedup import configure_state_store

    prev = configure_state_store(spark, "rocksdb")
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", f"{work}/ck").start()
    )
    try:
        if not q.awaitTermination(timeout):
            raise TimeoutError(
                f"stream {name} did not terminate within {timeout}s"
            )
    finally:
        q.stop()
        configure_state_store(spark, prev if prev is not None else "hdfs")
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name)


def q_minhash_pairs_stream(spark, sf_dir):
    """The STREAMING dedup surface (streaming/dedup.py): stateful
    per-(band, bucket) pair emission over a document stream, replayed
    with availableNow into a memory sink (RocksDB state store -- the
    production provider). The distinct pair set equals the batch rolling
    op's with the same parameters, so the entry shares the
    `minhash_pairs_rolling` oracle -- a full rows+schema+hash gate over
    a custom stateful streaming operator."""
    import uuid

    from osm_pbf_convert_spark.streaming.dedup import stream_minhash_pairs

    stream_df, work = _stream_docs_workspace(spark, sf_dir, "mhp_stream_")
    name = f"mhp_stream_{uuid.uuid4().hex[:8]}"
    sdf = stream_minhash_pairs(stream_df, num_hashes=32, bands=8, shingle_k=5)
    return _replay_to_memory(spark, sdf, work, name).select("a", "b").distinct()


def q_ngram_lsh_rolling(spark, sf_dir):
    """The ngram-LSH scale recipe end to end: rolling signatures +
    Horner band buckets + exact verify on the window-hash sets -- no
    substring materializes anywhere. Candidate generation follows true
    pair similarity, not shingle document frequency."""
    # r=4 rows/band: background pairs (s~0.12 on this corpus) collide with
    # P = 1-(1-0.12^4)^16 = 0.33%, while s>=0.6 pairs are found with 89%+
    # probability -- candidates stay proportional to true near-dups
    return dedup.ngram_jaccard_lsh_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=6, threshold=0.6,
        num_hashes=64, bands=16,
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _ngram_lsh_rolling_oracle(max_bucket_size: int | None = None) -> str:
    """Rolling banding for candidates, then the exact jaccard verify on
    the distinct window-hash sets; with ``max_bucket_size``, band buckets
    larger than the cap are excluded via a window count (the replay of
    minhash_lsh_pairs' guard)."""
    kept = "" if max_bucket_size is None else f"""
kept AS (
  SELECT band, bucket, doc_id FROM (
    SELECT band, bucket, doc_id,
           COUNT(*) OVER (PARTITION BY band, bucket) AS _sz
    FROM banded
  ) WHERE _sz <= {max_bucket_size}
),"""
    src = "banded" if max_bucket_size is None else "kept"
    return f"""
WITH {_rolling_banded_cte(64, 16, 6)},{kept}
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM {src} x JOIN {src} y USING (band, bucket)
  WHERE x.doc_id < y.doc_id
),
scored AS (
  SELECT c.a, c.b,
         len(list_intersect(wa.ws, wb.ws)) AS common,
         len(wa.ws) AS za, len(wb.ws) AS zb
  FROM cand c
  JOIN wh wa ON wa.doc_id = c.a
  JOIN wh wb ON wb.doc_id = c.b
)
SELECT a, b, ROUND(common / (za + zb - common), 6) AS jaccard
FROM scored
WHERE common / (za + zb - common) >= 0.6
"""


def q_ngram_lsh_bucket_cap(spark, sf_dir):
    """The LSH-at-scale bucket-cap guard under the FULL oracle: band
    buckets holding more than ``max_bucket_size`` docs are excluded from
    candidate generation (boilerplate band signatures grow pair counts
    quadratically with corpus size -- found by the 64x rehearsal gate,
    see dedup.minhash_lsh_pairs). cap=2 BITES at this corpus (buckets of
    3-4 docs exist), so the row proves the guard's exclusion semantics
    against DuckDB's window replay, not just its plumbing."""
    return dedup.ngram_jaccard_lsh_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=6, threshold=0.6,
        num_hashes=64, bands=16, max_bucket_size=2,
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_rolling(spark, sf_dir):
    """The simhash operator: per-doc 64-bit signatures straight from the
    zero-shuffle token-hash pass -- every one of the 500 signatures value-hashed against the DuckDB replay
    (a per-doc check, strictly stronger than the group/pair entries)."""
    return dedup.simhash_signatures(_t(spark, sf_dir, "documents")).select(
        "doc_id", "simhash"
    )


def _simhash_rolling_sig_cte() -> str:
    """CTE chain replaying dedup.simhash_signatures: Java-\\s tokens ->
    finalized Karp-Rabin Horner token hash -> per-bit majority ->
    ``sig(doc_id, u HUGEINT unsigned, simhash BIGINT signed)``;
    token-less docs get 0."""
    from osm_pbf_convert_spark.operators.rolling import (
        KR_BASE, TOK_FIN_A, TOK_FIN_B,
    )

    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h // {1 << i}::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    assemble = "\n    + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END)"
        for i in range(64)
    )
    # RE2's \s EXCLUDES \x0b while Java's includes it: the explicit class
    # below is Java \s == Python bytes.split() == the numpy delimiter set
    return f"""tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'), x -> x != '')) AS tok
  FROM documents
),
th0 AS (
  SELECT doc_id,
         list_reduce(list_transform(string_split(tok, ''), c -> unicode(c)::HUGEINT),
                     (a, x) -> (a * {KR_BASE} + x) % 18446744073709551616::HUGEINT) AS h0
  FROM tok
),
th AS (
  -- affine finalizer (rolling.TOK_FIN_A/B): raw Horner of a short token
  -- zeroes the high bits; same hi/lo mulmod split as the minhash family
  SELECT doc_id,
         ({_sql_mulmod(TOK_FIN_A, 'h0')} + {TOK_FIN_B}::HUGEINT)
           % 18446744073709551616::HUGEINT AS h
  FROM th0
),
sums AS (
  SELECT doc_id, {bit_sums}
  FROM th GROUP BY doc_id
),
sig0 AS (SELECT doc_id, ({assemble}) AS s FROM sums),
sig AS (
  SELECT d.doc_id, COALESCE(s.s, 0::HUGEINT) AS u,
         COALESCE({_SIGNED64.format(v='s.s')}, 0) AS simhash
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
)"""


def _simhash_rolling_oracle() -> str:
    return f"""
WITH {_simhash_rolling_sig_cte()}
SELECT doc_id, simhash FROM sig
"""


def q_simhash_groups(spark, sf_dir):
    return dedup.simhash_dedup_groups(_t(spark, sf_dir, "documents")).select("simhash", "n")


_Q_SIMHASH_GROUPS_ORACLE = f"""
WITH {_simhash_rolling_sig_cte()}
SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n
FROM sig GROUP BY simhash HAVING COUNT(*) > 1
"""


def q_simhash_pairs_stream(spark, sf_dir):
    """The VERIFIED streaming dedup surface (streaming/dedup.py): its
    stateful grouped map carries (id, signature) in the bucket state
    and emits only popcount-verified pairs -- the stream's output is
    final pairs, not candidates. availableNow replay under the RocksDB
    state store (the production provider); the oracle replays the full
    production arithmetic (finalized rolling token hashes -> bit
    majority -> pigeonhole bands -> bit_count verify) in DuckDB."""
    import uuid

    from osm_pbf_convert_spark.streaming.dedup import stream_simhash_pairs

    stream_df, work = _stream_docs_workspace(spark, sf_dir, "shp_stream_")
    name = f"shp_stream_{uuid.uuid4().hex[:8]}"
    sdf = stream_simhash_pairs(stream_df, max_hamming=8)
    return (
        _replay_to_memory(spark, sdf, work, name)
        .select("a", "b", "hamming").distinct()
    )


def _simhash_pairs_stream_oracle() -> str:
    # pigeonhole over the UNSIGNED signature: 9 bands x 7 bits (bits
    # 0-62), literal power-of-two divisors -- exactly Spark's
    # shiftrightunsigned(simhash, band*7) & 127
    union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS band,"
        f" (u // {1 << (7 * i)}::HUGEINT) % 128 AS chunk FROM sig"
        for i in range(9)
    )
    return f"""
WITH {_simhash_rolling_sig_cte()},
banded AS (
{union}
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM banded x JOIN banded y USING (band, chunk)
WHERE x.doc_id < y.doc_id AND bit_count(xor(x.simhash, y.simhash)) <= 8
"""


def q_simhash_hamming_pairs(spark, sf_dir):
    """The batch SimHash pair operator at max_hamming=8 (9 pigeonhole
    bands x 7 bits): the same pair set as the verified stream, so the
    entry shares the `simhash_pairs_stream` oracle."""
    return dedup.simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=8
    ).select("a", "b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# pair graph -> dedup groups: connected components (per-partition
# contraction, then large-star/small-star rounds; operators/graph.py) over
# the minhash-LSH pair stream, oracled with a
# DuckDB RECURSIVE transitive closure over the SAME replayed pairs
# ---------------------------------------------------------------------------

def _minhash_pair_graph(spark, sf_dir):
    from osm_pbf_convert_spark.operators.graph import near_dup_groups

    pairs = dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=32, bands=8, shingle_k=5,
    )
    return near_dup_groups(pairs)


# pairs is MATERIALIZED: the recursive step would otherwise re-run the
# whole signature replay on every iteration (at sf0.01 the closure had
# not finished after 3 minutes; materialized it takes 13 s)
_Q_CC_CTE = f"""{_rolling_banded_cte(32, 8, 5)},
pairs AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y USING (band, bucket)
  WHERE x.doc_id < y.doc_id
),
e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
),
lbl AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)"""


def q_dedup_groups(spark, sf_dir):
    """Near-dup GROUP labels: minhash-LSH pairs ->
    connected components (contraction, then large-star/small-star rounds
    to an exact star-forest fixpoint). The oracle is an independent
    algorithm entirely -- DuckDB's recursive transitive closure over the
    same replayed pairs -- so a hash match here checks the fixpoint
    labels, not just the pair stream."""
    return _minhash_pair_graph(spark, sf_dir)


_Q_DEDUP_GROUPS_ORACLE = f"""
WITH RECURSIVE {_Q_CC_CTE}
SELECT doc_id, component FROM lbl
"""


def q_dedup_survivors(spark, sf_dir):
    """Keep-one-per-cluster: longest text per component (ties -> min id),
    with the cluster size -- the pipeline step that turns near-dup pairs
    into a drop list."""
    from osm_pbf_convert_spark.operators.graph import dedup_survivors

    labels = _minhash_pair_graph(spark, sf_dir)
    return dedup_survivors(_t(spark, sf_dir, "documents"), labels)


_Q_DEDUP_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {_Q_CC_CTE}
SELECT component, doc_id AS survivor_id, n_docs FROM (
  SELECT l.component, l.doc_id,
         ROW_NUMBER() OVER (PARTITION BY l.component
                            ORDER BY length(d.text) DESC, l.doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY l.component) AS BIGINT) AS n_docs
  FROM lbl l JOIN documents d USING (doc_id)
) WHERE rn = 1
"""


def q_lang_id(spark, sf_dir):
    # fan_out (r8): 3 regex scans + 4 array_intersects per row are the
    # per-row-heavy class that must not run on a 1-split scan (guide §2.5)
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    return text.lang_id(fan_out(_t(spark, sf_dir, "documents"), key="doc_id")).select(
        "doc_id", "lang_pred"
    )


def _lang_oracle() -> str:
    """Replays lang_id in DuckDB: per-language distinct-stopword hit counts
    (list_intersect == Spark array_intersect set semantics; RE2 and Java
    both treat \\W as ASCII), argmax by (hits, code) DESCENDING -- matching
    Spark's sort_array(desc) on (hits, code) structs -- then the script
    overrides."""
    hit_exprs = []
    for code, sw in sorted(text.STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in sw)
        hit_exprs.append(f"len(list_intersect(words, [{lst}])) AS h_{code}")
    codes_desc = [c for c, _ in sorted(text.STOPWORDS.items(), reverse=True)]
    best_code = "CASE " + " ".join(
        f"WHEN h_{c} = bh THEN '{c}'" for c in codes_desc[:-1]
    ) + f" ELSE '{codes_desc[-1]}' END"
    return f"""
WITH w AS (
  SELECT doc_id, text,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x != '')) AS words
  FROM documents
),
h0 AS (SELECT doc_id, text, {', '.join(hit_exprs)} FROM w),
h AS (
  SELECT *, greatest({', '.join('h_' + c for c, _ in sorted(text.STOPWORDS.items()))}) AS bh
  FROM h0
),
s AS (
  SELECT doc_id, bh, {best_code} AS bc,
         len(regexp_extract_all(text, '[぀-ヿ一-鿿]')) AS cjk,
         len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS cyr,
         greatest(length(text), 1) AS n_chars
  FROM h
)
SELECT doc_id,
       CASE WHEN cjk / n_chars > 0.1 THEN 'ja'
            WHEN cyr / n_chars > 0.3 AND bh = 0 THEN 'uk'
            WHEN bh > 0 THEN bc
            ELSE 'und' END AS lang_pred
FROM s
"""


_Q_LANG_ORACLE = _lang_oracle()


def q_quality(spark, sf_dir):
    # fan_out (r8): same per-row regex-heavy class as q_lang_id
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    return text.quality_features(fan_out(_t(spark, sf_dir, "documents"), key="doc_id")).select(
        "doc_id",
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.round("quality_score", 6).alias("quality_score"),
    )


_Q_QUALITY_ORACLE = r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS ws,
         len(regexp_extract_all(text, '[\.,;:!\?"''\(\)\[\]]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits,
         list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x != '') AS words
  FROM documents
),
r AS (
  SELECT doc_id, ws,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN n_digits / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN len(words) > 0
              THEN len(list_intersect(words, ['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'])) / len(words)
              ELSE 0.0 END AS stopword_ratio
  FROM f
)
SELECT doc_id, CAST(ws AS BIGINT) AS n_tokens_ws,
       ROUND(CASE WHEN ws = 0 THEN 0.0 ELSE
         least(ws / 100.0, 1.0) * 0.4
         + (1.0 - least(punct_ratio * 5, 1.0)) * 0.2
         + (1.0 - least(digit_ratio * 5, 1.0)) * 0.2
         + least(stopword_ratio * 10, 1.0) * 0.2
       END, 6) AS quality_score
FROM r
"""


def _plane_signs(seed: int, planes: int = 4, dim: int = 64) -> list:
    """Deterministic +-1.0 hyperplane sign matrix (fixed-centroid trick of
    ivf_topk applied to LSH: literals let DuckDB replay bucket assignment)."""
    import numpy as _np

    rng = _np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(planes, dim)) * 2.0 - 1.0).tolist()


def q_embedding_neardup(spark, sf_dir):
    # fixed hyperplanes (two tables OR-ed for recall); the xxhash64-derived
    # production normals stay the operator default
    emb = _t(spark, sf_dir, "embeddings")
    p1 = dedup.embedding_neardup_pairs(emb, threshold=0.3, hyperplanes=_plane_signs(42))
    p2 = dedup.embedding_neardup_pairs(emb, threshold=0.3, hyperplanes=_plane_signs(43))
    return (
        p1.unionByName(p2).dropDuplicates(["a", "b"])
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def _embedding_neardup_oracle(threshold: float = 0.3, dim: int = 64) -> str:
    """Replays q_embedding_neardup: per-table sign-pattern buckets from the
    SAME literal hyperplanes, exact float64 cosine inside buckets. All
    element arithmetic on embedding::DOUBLE[] in array order, matching
    Spark's left-to-right aggregate folds bit-for-bit."""
    def bucket_expr(signs):
        parts = []
        for p, plane in enumerate(signs):
            dot = " + ".join(f"v[{i + 1}] * {s:.1f}" for i, s in enumerate(plane))
            parts.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
        return " + ".join(parts)

    dot_ab = " + ".join(f"va[{i + 1}] * vb[{i + 1}]" for i in range(dim))
    na = " + ".join(f"va[{i + 1}] * va[{i + 1}]" for i in range(dim))
    nb = " + ".join(f"vb[{i + 1}] * vb[{i + 1}]" for i in range(dim))
    branches = []
    for t, seed in enumerate((42, 43)):
        branches.append(
            f"b{t} AS (SELECT vec_id, v, {bucket_expr(_plane_signs(seed))} AS bucket FROM e)"
        )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{', '.join(branches)},
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
  FROM b0 x JOIN b0 y USING (bucket) WHERE x.vec_id < y.vec_id
  UNION ALL
  SELECT x.vec_id, y.vec_id, x.v, y.v
  FROM b1 x JOIN b1 y USING (bucket) WHERE x.vec_id < y.vec_id
),
scored AS (
  SELECT a, b, ({dot_ab}) / (sqrt({na}) * sqrt({nb})) AS cosine
  FROM cand
)
SELECT DISTINCT a, b, ROUND(cosine, 6) AS cosine
FROM scored WHERE cosine >= {threshold}
"""


def q_ivf_topk(spark, sf_dir):
    """IVF probe with FIXED centroids (the embeddings rows vec_id 0..7) so
    a DuckDB oracle can replay cell assignment + probing exactly. The
    k-means-trained production path (train_centroids) is exercised by the
    recall-bound pytest; the probe machinery (broadcast centroid matrix,
    Arrow UDF argmin assignment, nprobe cell join, exact in-cell cosine)
    is identical here."""
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"],
                       filters=[("vec_id", "<", 8)]).sort_by("vec_id")
    cents = similarity._vector_matrix(t.column("embedding").combine_chunks())

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.ivf_topk(emb, qs, k=5, ncells=8, nprobe=3, centroids=cents).select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    )


# Replays the fixed-centroid IVF: nearest cell per vector (ties -> lower
# cell id, matching the stable argsort), nprobe=3 cells per query, exact
# cosine rank within candidates.
_Q_IVF_ORACLE = """
WITH cents AS (
  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
),
v AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cell FROM cents c
          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.cell LIMIT 1) AS cell
  FROM embeddings e
),
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
qcells AS (
  SELECT q.query_id, q.qv, c.cell,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_distance(q.qv::DOUBLE[], c.cv), c.cell) AS r
  FROM qs q CROSS JOIN cents c
),
cand AS (
  SELECT p.query_id, p.qv, v.vec_id, v.embedding
  FROM (SELECT query_id, qv, cell FROM qcells WHERE r <= 3) p JOIN v USING (cell)
),
scored AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC, vec_id) AS rank
  FROM cand
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM scored WHERE rank <= 5
"""


_POLYGONS = [
    (1, [(10.0, 10.0), (10.0, 60.0), (60.0, 60.0), (60.0, 10.0)]),
    (2, [(-40.0, -120.0), (-40.0, -60.0), (0.0, -60.0), (0.0, -120.0)]),
    (3, [(-80.0, 100.0), (-40.0, 140.0), (-80.0, 170.0)]),
]


def q_point_in_polygon(spark, sf_dir):
    idx = spatial.compile_polygons(_POLYGONS, z=6)
    pts = _li_nodes(spark, sf_dir)
    return spatial.assign_polygons(spark, pts, idx).select("id", "polygon_id")


def q_multimodal_features(spark, sf_dir):
    """REAL image decode end-to-end, fully oracled: each doc's md5 hex
    (repeated to 48 ASCII bytes) becomes the raster of a genuine 4x4 PPM
    (P6) container, which ``extract_features`` actually parses into
    pixels before computing the grayscale-histogram feature. Because the
    raster bytes are ASCII hex chars, DuckDB replays the decode
    arithmetic with ascii(substr(...)); bin parity of
    the float32 matmul vs float64 SQL was verified exhaustively over all
    4096 possible (r,g,b) hex-char pixels (min edge distance 1e-3)."""
    from osm_pbf_convert_spark.operators.multimodal import extract_features

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        # header + 48-byte ASCII raster = a valid binary PPM
        F.concat(
            F.lit("P6\n4 4\n255\n").cast("binary"),
            F.substring(F.repeat(F.md5(F.col("text").cast("binary")), 2), 1, 48).cast("binary"),
        ).alias("content"),
        F.expr(
            "named_struct('width', 4, 'height', 4, 'sample_rate', CAST(NULL AS INT), "
            "'n_frames', CAST(NULL AS INT), 'mime', 'image/x-portable-pixmap')"
        ).alias("meta"),
    )
    out = extract_features(media, dim=8)
    return out.select(
        "media_id",
        *[F.round(F.element_at("feature", j + 1).cast("double"), 6).alias(f"f{j}") for j in range(8)],
    )


def _multimodal_oracle() -> str:
    """Replays q_multimodal_features: 16 pixels from the 48 ASCII hex
    chars, gray = 0.299r+0.587g+0.114b, 8 histogram bins of width 32
    (counts/16 are exact in both engines; bin parity proven exhaustively)."""
    gray = ("0.299*ascii(substr(hx, 3*i+1, 1)) + 0.587*ascii(substr(hx, 3*i+2, 1)) "
            "+ 0.114*ascii(substr(hx, 3*i+3, 1))")
    fcols = ",\n       ".join(
        f"ROUND(len(list_filter(bins, x -> x = {j})) / 16.0, 6) AS f{j}" for j in range(8)
    )
    return f"""
WITH h AS (SELECT doc_id, substr(repeat(md5(text), 2), 1, 48) AS hx FROM documents),
g AS (
  SELECT doc_id,
         [LEAST(CAST(FLOOR(({gray}) / 32) AS INT), 7) FOR i IN generate_series(0, 15)] AS bins
  FROM h
)
SELECT doc_id AS media_id,
       {fcols}
FROM g
"""



# ---------------------------------------------------------------------------
# way size stats (#28), heavy hitters (#23), event-time windows (streaming
# semantics validated in batch)
# ---------------------------------------------------------------------------

def q_way_size_histogram(spark, sf_dir):
    from osm_pbf_convert_spark.operators.stats import way_size_histogram

    res = resolve_ways(_li_ways(spark, sf_dir), _li_nodes(spark, sf_dir), keep_tags=False)
    return way_size_histogram(res)


_Q_WAYSIZE_ORACLE = f"""
WITH per_way AS (
  SELECT l_orderkey, COUNT(*) AS n_nodes FROM {{_LI_PAIRS_SQL}} li GROUP BY l_orderkey
)
SELECT n_nodes, COUNT(*) AS n_ways FROM per_way GROUP BY n_nodes
""".format(_LI_PAIRS_SQL=_LI_PAIRS_SQL)


def q_heavy_hitters(spark, sf_dir):
    from osm_pbf_convert_spark.operators.stats import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "events"), "event_type", min_count=100)


_Q_HEAVY_ORACLE = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type HAVING COUNT(*) >= 100
"""


def q_event_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


_Q_EVENTWIN_ORACLE = """
SELECT (CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600) AS window_start,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_tile_windows(spark, sf_dir):
    """Windowed per-tile counts over geo-tagged events (one-hour
    event-time windows, zoom 8)."""
    ev = _t(spark, sf_dir, "events").select(
        "ts",
        F.expr(SX.ilat_sql("event_id")).cast("int").alias("ilat"),
        F.expr(SX.ilon_sql("event_id")).cast("int").alias("ilon"),
    )
    return tiling.windowed_tile_counts(ev, z=8, window="1 hour")


_Q_TILE_WINDOWS_ORACLE = f"""
SELECT (CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600) AS window_start,
       {C.tile_sql(C.morton_cell_sql(SX.ilat_sql("event_id"), SX.ilon_sql("event_id")), 8)} AS tile,
       COUNT(*) AS cnt
FROM events GROUP BY 1, 2
"""


def q_pip_rects(spark, sf_dir):
    """Point-in-polygon restricted to the axis-aligned rect polygons so a
    SQL oracle exists: ray casting on a rect ring reduces to exact
    half-open containment lat in [ymin,ymax), lon in [xmin,xmax) -- the
    same engine path (compile_polygons + broadcast probe) checked
    value-for-value against that closed form."""
    rects = [p for p in _POLYGONS if p[0] in (1, 2)]
    idx = spatial.compile_polygons(rects, z=6)
    pts = _li_nodes(spark, sf_dir)
    return spatial.assign_polygons(spark, pts, idx).select("id", "polygon_id")


def _pip_oracle() -> str:
    """Exact closed-form oracle for the general PIP query: replays the
    engine's even-odd ray cast ((y1 > y) != (y2 > y), x < x-intersection)
    edge by edge as SQL over the SAME quantized ring constants. Every
    arithmetic step mirrors the numpy float64 evaluation order in
    spatial._ray_cast, so the doubles are bit-identical; horizontal edges
    (y1 == y2) are skipped -- their crossing condition is always false."""
    import numpy as _np

    from osm_pbf_convert_spark.functions.cells import quantize_np as _q

    selects = []
    for pid, ring in _POLYGONS:
        rl = _q(_np.array([p[0] for p in ring])).astype(float)
        rn = _q(_np.array([p[1] for p in ring])).astype(float)
        n = len(rl)
        terms = []
        for i in range(n):
            y1, x1 = rl[i], rn[i]
            y2, x2 = rl[(i + 1) % n], rn[(i + 1) % n]
            if y1 == y2:
                continue  # crossing test (y1>y) != (y2>y) is always false
            xs = f"(({x2 - x1!r} * (CAST(ilat AS DOUBLE) - {y1!r})) / {y2 - y1!r} + {x1!r})"
            terms.append(
                f"(CASE WHEN (({y1!r} > ilat) != ({y2!r} > ilat))"
                f" AND CAST(ilon AS DOUBLE) < {xs} THEN 1 ELSE 0 END)"
            )
        selects.append(
            f"SELECT id, CAST({pid} AS BIGINT) AS polygon_id FROM n"
            f" WHERE ({' + '.join(terms)}) % 2 = 1"
        )
    return "WITH n AS ({node_oracle})\n".format(node_oracle=_LI_NODE_ORACLE) + "\nUNION ALL\n".join(selects)


_Q_PIP_ORACLE = _pip_oracle()


# quantized rect bounds (quantize_np of the _POLYGONS degree corners)
_Q_PIP_RECTS_ORACLE = f"""
WITH n AS ({{node_oracle}})
SELECT id, CAST(1 AS BIGINT) AS polygon_id FROM n
WHERE ilat >= 119304647 AND ilat < 715827882 AND ilon >= 119304647 AND ilon < 715827882
UNION ALL
SELECT id, CAST(2 AS BIGINT) AS polygon_id FROM n
WHERE ilat >= -477218588 AND ilat < 0 AND ilon >= -1431655764 AND ilon < -715827882
""".format(node_oracle=_LI_NODE_ORACLE)

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Catalog ordering policy (driver correctness harness checks the FIRST 50
# entries only -- see CORRECTNESS_r06 / VERDICT round 6):
#   1. Entries that have NEVER had a driver correctness row, or that were
#      displaced in a prior round, go FIRST so they are guaranteed a row.
#   2. New entries added in a round must be inserted inside the first 50
#      (top of the dict), never appended at the end.
#   3. The LAST three positions (51-53) hold long-stable entries whose
#      primary twin IS inside the cap:
#        ngram_jaccard       (brute-force oracle; LSH variants in cap)
#        simhash_groups      (GROUP BY over the signatures simhash_rolling
#                             checks per doc)
#        pbf_roundtrip_nodes (same oracle as pbf_file_nodes; byte-parity
#                             roundtrip is pytest-golden-checked)
#      Each tail entry stays in the catalog and keeps its ORACLES row, and
#      every entry past the cap is replayed against DuckDB on every pytest
#      run (tests/test_catalog_policy.py::TestOracleTail, tools/selfcheck
#      compare; the tail is read from this dict, not listed there).
#   4. If the catalog grows, rotate another stable pin flavor into the tail
#      rather than letting a new or never-checked entry fall past the cap.
QUERIES = {
    # -- never-driver-checked before r7 / displaced in r6: keep first -------
    "ngram_lsh_rolling": q_ngram_lsh_rolling,
    "simhash_rolling": q_simhash_rolling,
    "dedup_groups": q_dedup_groups,
    "dedup_survivors": q_dedup_survivors,
    "embedding_neardup": q_embedding_neardup,
    "multimodal_features": q_multimodal_features,
    # -- stable catalog (green in every round checked) ----------------------
    "pricing_summary": q_pricing_summary,
    "brand_topk": q_brand_topk,
    "ways_nodes_join": q_ways_nodes_join,
    "way_bbox": q_way_bbox,
    "relation_members": q_relation_members,
    "relation_bbox": q_relation_bbox,
    "morton_cells": q_morton_cells,
    "tile_counts_z8": q_tile_counts_z8,
    "heat_map": q_heat_map,
    "tile_pyramid": q_tile_pyramid,
    "point_in_rect": q_point_in_rect,
    "zone_maps": q_zone_maps,
    "way_classification": q_way_classification,
    "tag_dict_encode": q_tag_dict_encode,
    "tag_key_stats": q_tag_key_stats,
    "tag_stats_by_kind": q_tag_stats_by_kind,
    "tag_topk": q_tag_topk,
    "inverted_index": q_inverted_index,
    "exact_dedup": q_exact_dedup,
    "events_dedup": q_events_dedup,
    "token_counts": q_token_counts,
    "knn": q_knn,
    "knn_multi_tile": q_knn_multi_tile,
    "embedding_topk": q_embedding_topk,
    "decode_nodes": q_decode_nodes,
    "decode_ways": q_decode_ways,
    "pbf_file_nodes": q_pbf_file_nodes,
    "pages_geo": q_pages_geo,
    "way_size_histogram": q_way_size_histogram,
    "heavy_hitters": q_heavy_hitters,
    "event_windows": q_event_windows,
    "tile_windows": q_tile_windows,
    "sessionization": q_sessionization,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "point_in_polygon": q_point_in_polygon,
    "pip_rects": q_pip_rects,
    "ivf_topk": q_ivf_topk,
    "ngram_lsh_bucket_cap": q_ngram_lsh_bucket_cap,
    "simhash_hamming_pairs": q_simhash_hamming_pairs,
    "fingerprint_rolling": q_fingerprint_rolling,
    "minhash_pairs_rolling": q_minhash_pairs_rolling,
    "minhash_pairs_stream": q_minhash_pairs_stream,
    "simhash_pairs_stream": q_simhash_pairs_stream,
    # -- rotation tail (positions 51+): entries whose primary twin is inside
    # -- the cap; replayed against DuckDB by tier-1 pytest ------------------
    "ngram_jaccard": q_ngram_jaccard,
    "simhash_groups": q_simhash_groups,
    "pbf_roundtrip_nodes": q_pbf_roundtrip_nodes,
}

ORACLES = {
    "pricing_summary": _Q_PRICING_ORACLE,
    "brand_topk": _Q_BRAND_ORACLE,
    "ways_nodes_join": _Q_WAYS_JOIN_ORACLE,
    "way_bbox": _Q_WAY_BBOX_ORACLE,
    "relation_members": _Q_REL_MEMBERS_ORACLE,
    "relation_bbox": _Q_REL_BBOX_ORACLE,
    "morton_cells": _Q_MORTON_ORACLE,
    "tile_counts_z8": _Q_TILE_Z8_ORACLE,
    "heat_map": _Q_HEAT_ORACLE,
    "tile_pyramid": _Q_PYRAMID_ORACLE,
    "point_in_rect": _Q_RECT_ORACLE,
    "zone_maps": _Q_ZONE_ORACLE,
    "way_classification": _Q_WAYTYPE_ORACLE,
    "tag_dict_encode": _Q_TAG_DICT_ORACLE,
    "tag_key_stats": _Q_TAGSTATS_ORACLE,
    "tag_topk": _Q_TAGTOPK_ORACLE,
    "inverted_index": _Q_INVIDX_ORACLE,
    "exact_dedup": _Q_DEDUP_ORACLE,
    "events_dedup": _Q_EVENTS_ORACLE,
    "token_counts": _Q_TOKENS_ORACLE,
    "knn": _Q_KNN_ORACLE,
    "knn_multi_tile": _Q_KNN_MULTI_ORACLE,
    "embedding_topk": _Q_EMB_ORACLE,
    "decode_nodes": _Q_DECODE_ORACLE,
    "decode_ways": _Q_DECODE_WAYS_ORACLE,
    "pbf_file_nodes": _Q_PBF_FILE_ORACLE,
    "pbf_roundtrip_nodes": _Q_PBF_FILE_ORACLE,
    "pages_geo": _Q_PAGES_GEO_ORACLE,
    "way_size_histogram": _Q_WAYSIZE_ORACLE,
    "heavy_hitters": _Q_HEAVY_ORACLE,
    "event_windows": _Q_EVENTWIN_ORACLE,
    "tile_windows": _Q_TILE_WINDOWS_ORACLE,
    "pip_rects": _Q_PIP_RECTS_ORACLE,
    "point_in_polygon": _Q_PIP_ORACLE,
    "ngram_jaccard": _Q_NGRAM_ORACLE,
    "ivf_topk": _Q_IVF_ORACLE,
    "lang_id": _Q_LANG_ORACLE,
    "quality": _Q_QUALITY_ORACLE,
    "sessionization": _Q_SESSION_ORACLE,
    "tag_stats_by_kind": _Q_TAGKIND_ORACLE,
    "simhash_groups": _Q_SIMHASH_GROUPS_ORACLE,
    "simhash_hamming_pairs": _simhash_pairs_stream_oracle(),
    "ngram_lsh_bucket_cap": _ngram_lsh_rolling_oracle(max_bucket_size=2),
    "fingerprint_rolling": _fingerprint_rolling_oracle(),
    "minhash_pairs_rolling": _Q_MINHASH_ROLLING_ORACLE,
    "minhash_pairs_stream": _Q_MINHASH_ROLLING_ORACLE,
    "simhash_pairs_stream": _simhash_pairs_stream_oracle(),
    "ngram_lsh_rolling": _ngram_lsh_rolling_oracle(),
    "simhash_rolling": _simhash_rolling_oracle(),
    "dedup_groups": _Q_DEDUP_GROUPS_ORACLE,
    "dedup_survivors": _Q_DEDUP_SURVIVORS_ORACLE,
    "embedding_neardup": _embedding_neardup_oracle(),
    "multimodal_features": _multimodal_oracle(),
}
