"""Tag operators: dictionary encode, way classification, tag statistics,
top-k, inverted index.

Reference semantics reimplemented:

- 3-level dictionary encode with drop-if-unknown
  (``OSM-pbf-convert/TagsConverter.cs:40-110``): stoplist filter first, then
  exact (key,value) -> TagId in the kind-specific dict, else the generic
  dict, else key -> KeyId keeping the value, else DROP the tag. Implemented
  as broadcast joins after ``explode(map_entries(tags))`` -- the dictionary
  is a small dim table, the fact side never shuffles.
- way classification (``NodesToWaysJoinProcessor.cs:194-242``): highway
  value (case-insensitive) -> 3..22, else tagged-highway-other -> 2; no
  highway but building -> 100; tags but neither -> 1 (reference returns 1
  for untagged AND for tag sets without highway/building).
- tag-key frequency (``TagStatsProcessor.cs:144-157``): explode map keys ->
  hash agg (Catalyst partial+final).
- top-k by count (``TagStatsProcessor.cs:103-120``): orderBy desc limit k
  (Spark TakeOrdered -- no full sort).
- inverted index (``TagsProcessor.cs:36-152``): value -> packed refs
  ``(id << 2) | type`` (``TagsProcessor.cs:204-229``), per-key distinct
  sorted ref lists.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_pbf_convert_spark.sources.byterange import _local_frame

# way-type mapping, exact copy of the reference CASE values
HIGHWAY_TYPES = {
    "motorway": 3, "motorway_link": 3, "trunk": 4, "trunk_link": 4,
    "primary": 5, "primary_link": 5, "secondary": 6, "secondary_link": 6,
    "tertiary": 7, "tertiary_link": 7, "unclassified": 8, "residential": 9,
    "living_street": 10, "service": 11, "pedestrian": 12, "track": 13,
    "bus_guideway": 14, "escape": 15, "raceway": 16, "road": 17,
    "footway": 18, "steps": 19, "path": 20, "cycleway": 21, "bridleway": 22,
}


def _tag_value_ci(tags, key: str):
    """First value whose key matches case-insensitively -- the reference's
    ``FirstOrDefault(x => x.Key.Equals(key, OrdinalIgnoreCase))``.
    (map_from_entries would fail on case-duplicate keys; array filter keeps
    first-match semantics.)"""
    hits = F.filter(F.map_entries(tags), lambda e: F.lower(e["key"]) == key.lower())
    return F.when(F.size(hits) > 0, F.element_at(hits, 1)["value"])


def way_type_col(tags):
    """tags map<string,string> -> int way type. Matches GetWayType exactly,
    including case-insensitive KEY matching (the reference compares keys
    with OrdinalIgnoreCase) and case-insensitive highway VALUES."""
    hw = F.lower(_tag_value_ci(tags, "highway"))
    expr = None
    for value, code in HIGHWAY_TYPES.items():
        branch = F.when(hw == value, code)
        expr = branch if expr is None else expr.when(hw == value, code)
    expr = expr.otherwise(
        F.when(hw.isNotNull(), 2).otherwise(
            F.when(_tag_value_ci(tags, "building").isNotNull(), 100).otherwise(1)
        )
    )
    return expr


class TagDictionary:
    """Loads the reference-shaped settings JSON: {KeyCodes, NodeTagCodes,
    WayTagCodes, TagCodes, KeyStopList}; TagCodes entries are
    {Key, Value, TagId}."""

    def __init__(self, settings: dict):
        self.key_codes = settings.get("KeyCodes") or {}
        self.node_tag_codes = settings.get("NodeTagCodes") or []
        self.way_tag_codes = settings.get("WayTagCodes") or []
        self.tag_codes = settings.get("TagCodes") or []
        self.stoplist = set(settings.get("KeyStopList") or [])

    @classmethod
    def load(cls, path: str) -> "TagDictionary":
        with open(path) as f:
            return cls(json.load(f))

    def _dim(self, spark: SparkSession, entries, idcol: str) -> DataFrame:
        entries = entries or [{"Key": "\x00__none__", "Value": "\x00", "TagId": -1}]
        return _local_frame(
            spark, f"key string, value string, {idcol} int",
            key=[e["Key"] for e in entries], value=[e["Value"] for e in entries],
            **{idcol: [e["TagId"] for e in entries]},
        )

    def encode(self, spark: SparkSession, df: DataFrame, kind: str) -> DataFrame:
        """df(id, tags map) -> (id, pos, tag_id, key_id, value) rows; tags
        not reaching any dictionary level are DROPPED (reference semantics).

        kind in {node, way, generic} selects the level-1 dictionary.
        """
        level1 = {"node": self.node_tag_codes, "way": self.way_tag_codes, "generic": []}[kind]
        exploded = df.select(
            F.col("id").alias("_id"), F.posexplode(F.map_entries("tags")).alias("pos", "e")
        ).select("_id", "pos", F.col("e.key").alias("key"), F.col("e.value").alias("value"))
        if self.stoplist:
            exploded = exploded.filter(~F.col("key").isin(sorted(self.stoplist)))

        d1 = self._dim(spark, level1, "tag_id1")
        d2 = self._dim(spark, self.tag_codes, "tag_id2")
        codes = self.key_codes or {"\x00__none__": -1}
        kc = _local_frame(spark, "key string, key_id int",
                          key=list(codes), key_id=list(codes.values()))
        out = (
            exploded.join(F.broadcast(d1), ["key", "value"], "left")
            .join(F.broadcast(d2), ["key", "value"], "left")
            .join(F.broadcast(kc), ["key"], "left")
        )
        out = out.withColumn("tag_id", F.coalesce("tag_id1", "tag_id2"))
        out = out.filter(F.col("tag_id").isNotNull() | F.col("key_id").isNotNull())
        return out.select(
            F.col("_id").alias("id"),
            "pos",
            "tag_id",
            F.when(F.col("tag_id").isNull(), F.col("key_id")).alias("key_id"),
            F.when(F.col("tag_id").isNull(), F.col("value")).alias("value"),
        )


def tag_key_stats(df: DataFrame) -> DataFrame:
    """tags map -> (key, count) hash aggregate."""
    return (
        df.select(F.explode(F.map_keys("tags")).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def top_k_tags(df: DataFrame, k: int = 400) -> DataFrame:
    """Top-k tag keys by count; deterministic tiebreak on key."""
    return tag_key_stats(df).orderBy(F.desc("cnt"), F.asc("key")).limit(k)


def packed_ref_col(type_code: int):
    """(id << 2) | type -- the reference's inverted-index ref packing."""
    return F.shiftleft(F.col("id").cast("long"), 2).bitwiseOR(F.lit(type_code))


def inverted_tag_index(
    nodes: DataFrame | None = None,
    ways: DataFrame | None = None,
    relations: DataFrame | None = None,
) -> DataFrame:
    """(key, value) -> sorted distinct packed refs across entity kinds.
    Type codes follow RelationMemberTypes: Node=0, Way=1, Relation=2."""
    parts = []
    for df, code in ((nodes, 0), (ways, 1), (relations, 2)):
        if df is None:
            continue
        parts.append(
            df.select(
                packed_ref_col(code).alias("ref"),
                F.explode(F.map_entries("tags")).alias("e"),
            ).select("ref", F.col("e.key").alias("key"), F.col("e.value").alias("value"))
        )
    if not parts:
        raise ValueError("need at least one entity DataFrame")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return union.groupBy("key", "value").agg(
        F.sort_array(F.collect_set("ref"), asc=False).alias("refs"),
        F.count(F.lit(1)).alias("n_refs"),
    )
