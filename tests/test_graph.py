"""Connected components (contraction, large-star/small-star, exact
fixpoint) and survivor selection."""

import random

import pytest
from pyspark.sql import functions as F

from osm_pbf_convert_spark.operators.graph import (
    connected_components,
    dedup_survivors,
    near_dup_groups,
)


@pytest.fixture
def spread(spark):
    """Keep every shuffle partition: AQE would coalesce a test-sized edge
    set into one partition, where the contraction alone finishes it."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def _union_find(edges):
    """Reference labeling: plain union-find, component = min member."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for x in list(parent):
        roots.setdefault(find(x), []).append(x)
    out = {}
    for members in roots.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_star_forest_matches_union_find(seed):
    """The contraction body alone, on batches split anywhere: one (root,
    node) edge per non-root node, root = its component's minimum."""
    import pyarrow as pa

    from osm_pbf_convert_spark.operators.graph import _star_forest

    rng = random.Random(seed)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    # plus a 300-edge path, listed back to front
    edges += [(1000 + i, 1001 + i) for i in range(300)][::-1]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    cut = len(edges) // 3
    batches = [
        pa.RecordBatch.from_pydict(
            {"u": [a for a, _ in part], "v": [b for _, b in part]},
            schema=pa.schema([("u", pa.int64()), ("v", pa.int64())]),
        )
        for part in (edges[:cut], [], edges[cut:])
    ]
    out = pa.Table.from_batches(list(_star_forest(iter(batches))))
    stars = dict(zip(out["v"].to_pylist(), out["u"].to_pylist()))
    want = _union_find(edges)
    assert len(stars) == out.num_rows
    assert stars == {x: c for x, c in want.items() if x != c}
    assert list(_star_forest(iter([]))) == []


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_collapses(spark):
    # a 40-node path: diameter 39, yet one contraction pass collapses it
    edges = [(i, i + 1) for i in range(40)]
    got = _labels(spark, edges)
    assert got == {i: 0 for i in range(41)}


def test_duplicate_and_reversed_edges(spark):
    got = _labels(spark, [(2, 1), (1, 2), (2, 3), (3, 2), (5, 5)])
    # (5,5) is a self-loop: contributes no node
    assert got == {1: 1, 2: 1, 3: 1}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _labels(spark, edges)
    assert got == _union_find(edges)


def test_broom_graph_rounds_follow_log_diameter(spark, spread):
    """The adversarial shape (long chain + hot-minimum star + hubs), its
    edges spread over every shuffle partition, must converge in
    ~log2(diameter) rounds with every label == the hot min -- the
    small-scale twin of tools/scale_rehearsal.py --cc-adversarial."""
    import math
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.scale_rehearsal import broom_graph

    chain_n, leaf_n = 2000, 8000
    edges = broom_graph(spark, chain_n, leaf_n, hub_every=100, hub_leaves=5)
    n_edges = edges.count()
    stats = {}
    labels = connected_components(edges, stats=stats).toPandas()
    assert len(labels) == n_edges + 1  # a tree
    assert (labels["component"] == 0).all()
    assert stats["rounds"] <= math.ceil(math.log2(chain_n)) + 3


def test_max_iter_raises(spark, spread):
    # spread over 8 partitions, the contraction leaves most of a 200-node
    # path standing (one pass collapses it in a single partition)
    df = spark.createDataFrame([(i, i + 1) for i in range(200)], "a long, b long")
    stats = {}
    connected_components(df, stats=stats).count()
    assert stats["rounds"] >= 2
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)


def test_components_spanning_partitions_match_union_find(spark, spread):
    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    stats = {}
    got = _labels(spark, edges, stats=stats)
    assert got == _union_find(edges)
    assert stats["rounds"] >= 1
    # one fixpoint test after the contraction, then one per round
    assert len(stats["edges"]) == stats["rounds"] + 1


def test_one_partition_needs_no_round(spark):
    edges = [(i, i + 1) for i in range(30)] + [(7, 100 + i) for i in range(20)]
    edges += [(500, 501), (502, 501)]
    stats = {}
    got = _labels(spark, edges, stats=stats)
    want = _union_find(edges)
    assert got == want
    assert stats["rounds"] == 0
    non_root = sum(1 for x, c in want.items() if x != c)
    assert stats["final_edges"] == non_root
    assert stats["edges"] == [non_root]


def test_two_center_leaf_is_not_a_fixpoint(spark):
    """(1, 5), (2, 5): centres {1, 2} and leaves {5} are disjoint, yet 5
    has two centres, so 1 and 2 are one component."""
    from osm_pbf_convert_spark.operators.graph import _fixpoint

    _, counts = _fixpoint(
        spark.createDataFrame([(1, 5), (2, 5)], "u long, v long"), pin=False
    )
    assert counts["bad"] == 1
    assert _labels(spark, [(1, 5), (2, 5)]) == {1: 1, 2: 1, 5: 1}


@pytest.mark.parametrize("edges, bad", [
    ([(1, 2), (1, 2), (1, 3), (4, 5)], 0),  # repeated star edges pass
    ([(1, 2), (2, 3)], 1),                  # 2 is a centre and a leaf
    ([(5, 1)], 1),                          # backward edge
])
def test_fixpoint_test_is_exact(spark, edges, bad):
    from osm_pbf_convert_spark.operators.graph import _fixpoint

    labels, counts = _fixpoint(
        spark.createDataFrame(edges, "u long, v long"), pin=False
    )
    assert (counts["edges"], counts["bad"]) == (len(edges), bad)
    if not bad:
        assert counts["leaves"] == 3
        got = {r["id"]: r["component"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_survivors_pick_longest_then_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaaaaaa"), (3, "bb"), (7, "cc"), (8, "dd"), (9, "xyz")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    labels = near_dup_groups(pairs)
    out = {
        r["component"]: (r["survivor_id"], r["n_docs"])
        for r in dedup_survivors(docs, labels).collect()
    }
    # component 1: doc 2 has the longest text; component 7: tie on length
    # 2 -> min id 7. doc 9 is a singleton: absent from the pair graph.
    assert out == {1: (2, 3), 7: (7, 2)}


def test_survivors_match_window_ranking(spark):
    """The aggregate picks exactly what a row_number window ordered by
    (length DESC NULLS LAST, doc_id) picks: longest text, ties to the
    smallest id, null text last, an empty text ahead of a null one."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "bbbb"), (3, "cccc"), (4, None), (5, None), (6, ""),
         (7, None), (8, "x"), (10, None), (11, "y" * 40), (12, "\u20ac" * 40)],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (7, 6), (6, 6), (8, 8),
         (9, 8), (10, 10), (11, 11), (12, 11)],
        "doc_id long, component long",
    )
    j = labels.join(docs.select("doc_id", F.length("text").alias("_len")), "doc_id")
    w = Window.partitionBy("component")
    want = {
        (r["component"], r["doc_id"], r["n"])
        for r in j.select(
            "component", "doc_id",
            F.row_number().over(w.orderBy(F.col("_len").desc(), "doc_id")).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        ).filter("rn = 1").collect()
    }
    got = {tuple(r) for r in dedup_survivors(docs, labels).collect()}
    assert got == want == {(1, 2, 3), (4, 4, 2), (6, 6, 2), (8, 8, 1),
                           (10, 10, 1), (11, 11, 2)}


def test_star_rounds_never_broadcast(spark):
    """The mins side of a star round is node-sized (fact-sized at scale):
    it must sort-merge/shuffled-hash join, never auto-broadcast. The
    per-round localCheckpoint makes input stats unknown (treated as huge),
    which guarantees this -- pin that property."""
    from osm_pbf_convert_spark.operators.graph import (
        _canonical_edges,
        _large_star,
        _small_star,
    )

    pairs = spark.createDataFrame([(i, i + 1) for i in range(100)], "a long, b long")
    edges = _canonical_edges(pairs).localCheckpoint(eager=True)
    for step in (_large_star, _small_star):
        plan = step(edges)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_catalog_entries_match_oracle_semantics(spark, sf_dir):
    """dedup_groups labels partition exactly the nodes of minhash pairs,
    and every pair's endpoints share a component."""
    from osm_pbf_convert_spark.operators import dedup
    from osm_pbf_convert_spark import queries as Q

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, shingle_k=5).collect()
    labels = {
        r["doc_id"]: r["component"]
        for r in Q.QUERIES["dedup_groups"](spark, sf_dir).collect()
    }
    nodes = {p["a"] for p in pairs} | {p["b"] for p in pairs}
    assert set(labels) == nodes
    for p in pairs:
        assert labels[p["a"]] == labels[p["b"]]
    assert labels == _union_find([(p["a"], p["b"]) for p in pairs])
