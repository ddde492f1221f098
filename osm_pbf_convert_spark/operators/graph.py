"""Distributed connected components over near-duplicate pair graphs.

The dedup family (operators/dedup.py) emits PAIRS (a, b) of near-duplicate
documents; a training-data pipeline needs GROUPS -- "keep one document per
duplicate cluster" is a connected-components problem over the pair graph
(a ~ b and b ~ c must collapse into ONE group even though (a, c) was never
emitted as a pair).

Algorithm, in three steps:

1. Canonical edges: (u, v) with u < v, self-loops dropped, ``distinct``
   -- the one shuffle every input pays.
2. Map-side contraction (``_star_forest``): one ``mapInArrow`` pass over
   each post-shuffle partition of those edges runs a vectorized numpy
   union-find (``np.unique`` local ids, root hooking with
   ``np.minimum.at``, pointer jumping; no per-row Python) and emits one
   (root, node) star edge per non-root node of each local component,
   root = the local component's minimum id. A graph whose edges share one
   partition -- AQE coalesces a small shuffle into one -- leaves this
   pass as its final star forest.
3. Alternating large-star / small-star rounds (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", ACM SoCC 2014) over
   the contracted edges, for components the contraction saw in pieces:

   - large-star: every node connects its LARGER neighbors to the minimum
     of its closed neighborhood;
   - small-star: every node connects its smaller-or-equal neighbors (and
     itself) to that minimum.

   A round is two window exchanges plus one ``distinct``.

Exact fixpoint test (``_fixpoint``), run before every round: one per-node
aggregate plus a global count. The edge set is at its fixpoint -- every
component one star centred on its minimum -- exactly when u < v on every
edge, no node is both a centre u and a leaf v, and every leaf has ONE
distinct centre (min(u) == max(u) over its edges). Duplicate edges pass
(contracted stars from different partitions can repeat); a leaf with two
centres, e.g. (1, 5), (2, 5), does not. The same aggregate yields the
labels: a leaf's component is its centre, a centre labels itself.

Round law: 0 star rounds when every component lies in one post-shuffle
partition at contraction (e.g. the near-dup graph of perfbench's
text_dedup workload); otherwise O(log^2 n) rounds worst-case, measured
~log2(diameter) on the adversarial broom graph (17 rounds for a
100,000-edge chain; tools/scale_rehearsal.py --cc-adversarial). The
canonical ``distinct`` hash-partitions edges, so a long chain spread over
P partitions keeps most of its length through the contraction (two
consecutive chain edges share a partition with odds ~1/P). By that law
the default ``max_iter=25`` covers diameters up to ~2^24. Naive label
propagation would instead need as many rounds as the diameter itself.

Scale notes (100 TB):
- Contraction memory is one post-shuffle partition's edges (their two
  endpoint columns plus local ids), which AQE's coalescing bounds by its
  advisory partition size (``spark.sql.adaptive
  .advisoryPartitionSizeInBytes``); a hash partition that is larger on
  its own is not split.
- Edges are deduplicated every round, so the working set shrinks
  monotonically toward one star per component.
- Each round's result is checkpointed to truncate lineage -- otherwise
  the plan doubles per round and the driver OOMs on plan serialization
  long before data is the problem. Local mode uses localCheckpoint();
  on a cluster set a reliable checkpoint dir (spark.sparkContext
  .setCheckpointDir on HDFS/S3) and pass use_local_checkpoint=False.
- The fixpoint test returns one row of counts to the driver per round,
  never the edges themselves.

No reference counterpart (the reference is a spatial engine); this is a
training-data-pipeline extension, same family as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


def _canonical_edges(pairs: DataFrame) -> DataFrame:
    """(u, v) with u = smaller endpoint, self-loops dropped, deduped."""
    return (
        pairs.select(
            F.least(F.col("a"), F.col("b")).alias("u"),
            F.greatest(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_forest(batches):
    """``mapInArrow`` body: one partition's (u, v) edges -> one (root,
    node) edge per non-root node of each local component, root = the
    component's minimum id."""
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    u = np.concatenate([batch.column(0).to_numpy() for batch in batches])
    v = np.concatenate([batch.column(1).to_numpy() for batch in batches])
    ids, local = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = local[: len(u)], local[len(u):]
    # parent[x] <= x throughout, so a root is its component's minimum
    parent = np.arange(len(ids))
    while not np.array_equal(ra := parent[a], rb := parent[b]):
        # hook every root to the smallest root across its edges, then
        # jump pointers until every node points at a root again
        np.minimum.at(parent, ra, rb)
        np.minimum.at(parent, rb, ra)
        while not np.array_equal(up := parent[parent], parent):
            parent = up
    leaf = parent != np.arange(len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[parent[leaf]]), pa.array(ids[leaf])], names=["u", "v"]
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor v of u to
    m = min(N(u) + {u}).

    Round 8 (guide §2.4 "window functions partitioned by the same key as
    a preceding aggregation do not need a second shuffle"): the
    per-center minimum is a window MIN over the same ``u`` partitioning
    the old groupBy+self-join pair re-shuffled for -- one exchange per
    star instead of two, same output. No ``distinct``: at most one row
    per input edge, and ``_small_star``'s window min ignores repeats
    and its own ``distinct`` drops them."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        sym.withColumn("mn", F.min("v").over(w))
        .filter(F.col("v") > F.col("u"))
        .select(F.least("u", "mn").alias("u"), F.col("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Directed so u >= v; connect every small neighbor (and u itself) to
    m = min(N_small(u) + {u}). Window-min form, one exchange (see
    ``_large_star``); the (m, u) self rows ride the same windowed frame,
    deduped by the final distinct."""
    d = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    w = Window.partitionBy("u")
    wd = d.withColumn("m", F.min("v").over(w))
    out = wd.select(F.col("m").alias("u"), F.col("v")).union(
        wd.select(F.col("m").alias("u"), F.col("u").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _fixpoint(edges: DataFrame, pin: bool) -> tuple[DataFrame, Row]:
    """(labels, counts) from one per-node aggregate over the edge ends.

    ``counts``: ``edges`` (edge rows in), ``leaves`` (nodes that are some
    edge's v) and ``bad`` (leaves that break the fixpoint: a backward
    edge, also a centre, or two distinct centres). ``bad == 0`` exactly
    at the fixpoint, where ``labels`` is the (id, component) answer.
    ``pin`` local-checkpoints the aggregate as the counting job computes
    it, so the labels read it back instead of aggregating again."""
    ends = edges.select(F.inline(F.array(
        F.struct(F.col("u").alias("id"), F.lit(None).cast("long").alias("center")),
        F.struct(F.col("v").alias("id"), F.col("u").alias("center")),
    )))
    nodes = ends.groupBy("id").agg(
        F.min("center").alias("lo"),
        F.max("center").alias("hi"),
        F.count("center").alias("n_in"),
        F.count(F.lit(1)).alias("n_ends"),
    )
    bad = F.col("lo").isNotNull() & (
        (F.col("hi") >= F.col("id"))
        | (F.col("n_ends") > F.col("n_in"))
        | (F.col("lo") != F.col("hi"))
    )
    nodes = nodes.select(
        "id", F.coalesce("lo", "id").alias("component"), "n_in", bad.alias("bad")
    )
    if pin:
        nodes = nodes.localCheckpoint(eager=False)
    counts = nodes.agg(
        F.coalesce(F.sum("n_in"), F.lit(0)).alias("edges"),
        F.count(F.when(F.col("n_in") > 0, 1)).alias("leaves"),
        F.count(F.when(F.col("bad"), 1)).alias("bad"),
    ).first()
    return nodes.select("id", "component"), counts


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    use_local_checkpoint: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Labels (id, component) for every node appearing in ``pairs(a, b)``;
    component = the minimum node id of its connected component.

    The canonical edges are contracted per partition, then star rounds
    run until the exact fixpoint test passes; the test runs before every
    round, so a graph the contraction finished needs none. ``max_iter``
    bounds the star rounds (O(log^2 n) needed; 25 covers any graph that
    fits in a cluster). Raises if not converged -- a silent partial
    labeling would merge dedup groups incorrectly. Contraction memory is
    one post-shuffle partition's edges, which AQE's advisory partition
    size bounds.

    ``stats``: pass a dict to receive {"rounds": star rounds executed
    (0 when the contraction reached the fixpoint), "final_edges": non-root
    nodes at the fixpoint, "edges": edge rows entering each fixpoint test,
    after the contraction and then after each round} -- the
    adversarial-graph rehearsal gates on the round count
    (tools/scale_rehearsal.py).
    """
    def _ckpt(df: DataFrame) -> DataFrame:
        # local: executor-storage blocks, zero write latency, but blocks
        # stay pinned for the run -- at deep-graph round counts that
        # evicted executors (measured, 20M edges x 23 rounds), which is
        # why use_local_checkpoint=False + setCheckpointDir is the
        # cluster deployment mode (measured equal wall at the adversarial
        # rehearsal: an eager reliable checkpoint materializes once).
        # A lazy local checkpoint is written by the first job that reads
        # it, the next fixpoint test, so it costs no job of its own.
        return (
            df.localCheckpoint(eager=False)
            if use_local_checkpoint
            else df.checkpoint(eager=True)
        )

    edges = _ckpt(
        _canonical_edges(pairs).mapInArrow(_star_forest, "u long, v long")
    )
    edges_in = []
    rounds = 0
    while True:
        labels, counts = _fixpoint(edges, pin=use_local_checkpoint)
        edges_in.append(counts["edges"])
        if counts["bad"] == 0:
            break
        if rounds == max_iter:
            raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
        edges = _ckpt(_small_star(_large_star(edges)))
        rounds += 1
    if stats is not None:
        stats.update(rounds=rounds, final_edges=counts["leaves"], edges=edges_in)
    return labels


def near_dup_groups(
    pairs: DataFrame, stats: dict | None = None, use_local_checkpoint: bool = True,
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, component) labels over a near-dup pair stream (a, b) -- the
    grouping step between pair emission (minhash/simhash/ngram/embedding
    operators) and survivor selection.

    ``use_local_checkpoint=False`` switches the per-round checkpoints to
    the RELIABLE checkpoint dir (``spark.sparkContext.setCheckpointDir``
    first): local checkpoints pin every round's edge set, and the
    per-node aggregate of every fixpoint test, in executor storage for
    the run's lifetime, which at deep-graph round counts
    (log2(diameter) rounds x full edge set) evicts executors -- measured
    at the 20M-edge adversarial rehearsal; disk checkpoints hold each
    round on stable storage instead."""
    return connected_components(
        pairs, stats=stats, use_local_checkpoint=use_local_checkpoint, max_iter=max_iter,
    ).select(F.col("id").alias("doc_id"), "component")


def dedup_survivors(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """One survivor per duplicate component: the LONGEST text (ties -> min
    id; a null text ranks last) -- the usual "keep the most complete
    copy" training-data policy.

    Returns (component, survivor_id, n_docs). Documents absent from
    ``labels`` are singletons and survive by definition; callers drop dups
    with an anti-join of (labels minus survivors) against the corpus.
    One aggregate over the component key -- a single shuffle after the
    join, with a map-side partial aggregate: the survivor is the minimum
    of the struct (-length, doc_id), a null length mapped past every
    real one, so the struct order is the ranking."""
    j = labels.join(docs.select("doc_id", F.length("text").alias("_len")), "doc_id")
    rank = F.struct(F.coalesce(-F.col("_len"), F.lit(2**31 - 1)), F.col("doc_id"))
    return j.groupBy("component").agg(
        F.min(rank).alias("_best"), F.count(F.lit(1)).alias("n_docs")
    ).select("component", F.col("_best.doc_id").alias("survivor_id"), "n_docs")
