"""Join operators: ways⋈nodes resolution (the flagship), relations⋈members
assembly, and pages⋈geo.

Reference semantics reimplemented Spark-first:

- ways⋈nodes (``OSM-pbf-convert/NodesToWaysJoinProcessor.cs:103-192``): the
  reference buffers 10M way-nodes, sorts distinct node ids, and merge-scans a
  clustered node store -- that hand-rolled batching IS a sort-merge join.
  Here: ``posexplode(refs)`` -> equi-join on node id -> ``groupBy(way_id)``
  with an order-preserving ``sort_array(collect_list(struct(pos, ...)))``.
  Catalyst picks SMJ for large sides / broadcast for small ones; AQE splits
  skewed node-id partitions.
- way midpoint = truncated average of member node int32 coords
  (``SWay.cs:16-17`` -- C# ``(int)Average`` truncates toward zero);
  bbox = min/max fold (``SWay.cs:19-24``).
- relations⋈(nodes ∪ ways) (``RelationsProcessor.cs:173-258``): two LEFT
  OUTER joins after ``explode(members)``. Missing members: the reference
  stores ``int.MinValue`` sentinels; we keep SQL nulls. Found WAY members
  extend the relation bbox but still get sentinel (null) midpoints --
  faithful to ``RelationsProcessor.cs:219-243``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_way_refs(ways: DataFrame) -> DataFrame:
    """ways(id, refs, ...) -> one row per (way_id, pos, ref)."""
    return ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "ref"),
    )


def resolve_ways(
    ways: DataFrame,
    nodes: DataFrame,
    keep_tags: bool = True,
) -> DataFrame:
    """Resolve each way's node-id list to coordinates.

    Returns ``ways_resolved(way_id, nodes: array<struct<id,ilat,ilon>>,
    n_resolved, mid_ilat, mid_ilon, min_ilat, max_ilat, min_ilon, max_ilon
    [, tags])`` with the nodes array in original ref order.

    Ways whose refs resolve to zero nodes are dropped (the reference's
    dictionary lookup would fault on them; its join emits only resolved
    pairs). Join-row-count parity: ``n_resolved`` summed over ways equals
    the reference's per-batch found counter.
    """
    exploded = explode_way_refs(ways)
    node_side = nodes.select(
        F.col("id").alias("ref"), F.col("ilat"), F.col("ilon")
    )
    joined = exploded.join(node_side, "ref", "inner")
    resolved = joined.groupBy("way_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", F.col("ref").alias("id"), "ilat", "ilon"))),
            lambda s: F.struct(s["id"].alias("id"), s["ilat"].alias("ilat"), s["ilon"].alias("ilon")),
        ).alias("nodes"),
        F.count(F.lit(1)).alias("n_resolved"),
        # C# (int)Average(...) truncates toward zero; Spark cast long->int of
        # a double also truncates toward zero.
        F.avg("ilat").cast("long").cast("int").alias("mid_ilat"),
        F.avg("ilon").cast("long").cast("int").alias("mid_ilon"),
        F.min("ilat").alias("min_ilat"),
        F.max("ilat").alias("max_ilat"),
        F.min("ilon").alias("min_ilon"),
        F.max("ilon").alias("max_ilon"),
    )
    if keep_tags and "tags" in ways.columns:
        resolved = resolved.join(
            ways.select(F.col("id").alias("way_id"), "tags"), "way_id", "left"
        )
    return resolved


def explode_relation_members(rels: DataFrame) -> DataFrame:
    return rels.select(
        F.col("id").alias("rel_id"),
        F.posexplode("members").alias("pos", "m"),
    ).select(
        "rel_id",
        "pos",
        F.col("m.member_type").alias("member_type"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
    )


def assemble_relations(
    rels: DataFrame, nodes: DataFrame, ways_resolved: DataFrame
) -> DataFrame:
    """Per-relation bbox + per-member midpoints, reference semantics:

    - node member found  -> mid = node coords, extends bbox
    - node member absent -> null mids (reference: int.MinValue sentinel)
    - way member found   -> extends bbox with the way rect, mids stay null
      (RelationsProcessor.cs:231-243 stores MinValue even when found)
    - way member absent  -> null mids
    - relation member    -> mid 0/0, no bbox effect (deferred recursion)
    """
    m = explode_relation_members(rels)
    n = nodes.select(
        F.col("id").alias("ref"),
        F.col("ilat").alias("n_ilat"),
        F.col("ilon").alias("n_ilon"),
    )
    w = ways_resolved.select(
        F.col("way_id").alias("ref"),
        F.col("min_ilat").alias("w_min_ilat"),
        F.col("max_ilat").alias("w_max_ilat"),
        F.col("min_ilon").alias("w_min_ilon"),
        F.col("max_ilon").alias("w_max_ilon"),
    )
    w_null = [F.lit(None).cast("int").alias(c) for c in ("w_min_ilat", "w_max_ilat", "w_min_ilon", "w_max_ilon")]
    n_null = [F.lit(None).cast("int").alias(c) for c in ("n_ilat", "n_ilon")]
    base = ["rel_id", "pos", "member_type", "ref", "role"]
    # join each member-type subset against only the side it can match --
    # smaller shuffles than one wide composite-condition join
    node_members = (
        m.filter(m.member_type == 0)
        .join(n, "ref", "left")
        .select(*base, "n_ilat", "n_ilon", *w_null)
    )
    way_members = (
        m.filter(m.member_type == 1)
        .join(w, "ref", "left")
        .select(*base, *n_null, "w_min_ilat", "w_max_ilat", "w_min_ilon", "w_max_ilon")
    )
    rel_members = m.filter(m.member_type == 2).select(*base, *n_null, *w_null)
    joined = node_members.unionByName(way_members).unionByName(rel_members)
    members = joined.select(
        *base,
        F.when(joined.member_type == 0, joined.n_ilat)
        .when(joined.member_type == 2, F.lit(0))
        .alias("mid_ilat"),
        F.when(joined.member_type == 0, joined.n_ilon)
        .when(joined.member_type == 2, F.lit(0))
        .alias("mid_ilon"),
        "n_ilat",
        "n_ilon",
        "w_min_ilat",
        "w_max_ilat",
        "w_min_ilon",
        "w_max_ilon",
    )
    assembled = members.groupBy("rel_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct("pos", "member_type", "ref", "role", "mid_ilat", "mid_ilon")
                )
            ),
            lambda s: F.struct(
                s["member_type"].alias("member_type"),
                s["ref"].alias("ref"),
                s["role"].alias("role"),
                s["mid_ilat"].alias("mid_ilat"),
                s["mid_ilon"].alias("mid_ilon"),
            ),
        ).alias("members"),
        F.least(F.min("n_ilat"), F.min("w_min_ilat")).alias("min_ilat"),
        F.greatest(F.max("n_ilat"), F.max("w_max_ilat")).alias("max_ilat"),
        F.least(F.min("n_ilon"), F.min("w_min_ilon")).alias("min_ilon"),
        F.greatest(F.max("n_ilon"), F.max("w_max_ilon")).alias("max_ilon"),
    )
    return assembled


def join_pages_geo(pages: DataFrame, nodes: DataFrame, how: str = "inner") -> DataFrame:
    """Join geocoded records back to the pages table by url (north rule:
    the `text` column passes through byte-identical -- it is never touched
    by the decode/join pipeline, only carried)."""
    geo = nodes.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_geo"),
        F.min("ilat").alias("min_ilat"),
        F.max("ilat").alias("max_ilat"),
        F.min("ilon").alias("min_ilon"),
        F.max("ilon").alias("max_ilon"),
    )
    return pages.join(geo, "url", how)
