"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: broadcast the (small) query set, JVM-side dot
  products via zip_with/aggregate, window top-k. Exact baseline.
- IVF-style top-k: coarse centroids (deterministic sample -> driver
  k-means-lite), probe only the nprobe nearest inverted lists. The scale
  path: candidate set shrinks by ~ncells/nprobe; exactness bounded by probe
  coverage (standard IVF contract).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vector_matrix(vecs: pa.Array, ids: pa.Array | None = None) -> np.ndarray:
    """(rows, dim) float64 matrix of an Arrow ``list<float|double>``
    array, one vector per row, built from the flat values with a
    reshape. A null or ragged vector raises ``ValueError`` naming its
    ``vec_id`` (``ids[row]``), or its row without ``ids``."""
    lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
    dim = int(lens.max(initial=0))
    bad = np.flatnonzero(lens != dim)
    if bad.size:
        i = int(bad[0])
        at = f"vec_id={ids[i].as_py()!r}" if ids is not None else f"row {i}"
        raise ValueError(f"null or ragged embedding at {at}")
    flat = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(lens.size, dim)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact cosine top-k: queries broadcast against every vector."""
    q = queries.select(F.col("query_id"), F.col("query_vec"))
    v = vectors.select(F.col("vec_id"), F.col("embedding"))
    joined = v.crossJoin(F.broadcast(q))
    scored = joined.withColumn(
        "cosine", cosine_col(F.col("embedding").cast("array<double>"), F.col("query_vec").cast("array<double>"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def train_centroids(
    vectors: DataFrame, ncells: int, sample: int = 4096, iters: int = 5, seed: int = 42,
) -> np.ndarray:
    """Driver-side Lloyd iterations on a deterministic sample (ORDER BY
    xxhash64(id) LIMIT sample). ncells is small (sqrt(N) rule); the model
    ships back as a broadcast literal array."""
    sample_tbl = (
        vectors.select("embedding")
        .orderBy(F.xxhash64(F.col(vectors.columns[0]).cast("string"), F.lit(seed)))
        .limit(sample)
        .toArrow()
    )
    X = _vector_matrix(sample_tbl.column("embedding").combine_chunks())
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(ncells, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(0)
    return cents


def _nearest_cells_udf(spark: SparkSession, cents: np.ndarray, nprobe: int):
    """Vectorized (Arrow-batched) nearest-centroid assignment against a
    BROADCAST centroid matrix: one numpy matmul per batch, plan size
    independent of ncells (the centroid-per-literal unrolling capped the
    old plan at a few hundred cells; 100 TB corpora need sqrt(N) ~ 1e4-1e5
    cells). Ties break by cell id, matching sort by (distance, cell)."""
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(cents, dtype=np.float64))

    @F.arrow_udf("array<int>")
    def nearest(vecs: pa.Array) -> pa.Array:
        C = bc.value  # (ncells, dim)
        p = min(nprobe, C.shape[0])
        X = _vector_matrix(vecs)  # (n, dim)
        # squared euclid up to the |x|^2 constant (rank-invariant per row)
        d = X @ (-2.0 * C.T) + (C * C).sum(1)[None, :]
        if C.shape[0] > max(64, 8 * p):
            cth = min(C.shape[0], 8 * p)
            part = np.argpartition(d, cth - 1, axis=1)[:, :cth]
            dv = np.take_along_axis(d, part, axis=1)
            order = np.lexsort((part, dv), axis=1)[:, :p]
            idx = np.take_along_axis(part, order, axis=1)
            # argpartition picks the cth boundary arbitrarily among equal
            # distances, which can deviate from the stable (distance, cell)
            # order when cells outside the partition tie with the selected
            # boundary. Detect those rows exactly (<= boundary count beyond
            # cth) and re-rank just them with the full stable sort -- rare
            # on continuous distances, so the fast path stays vectorized.
            boundary = dv.max(axis=1)
            tied = (d <= boundary[:, None]).sum(axis=1) > cth
            if tied.any():
                exact = np.argsort(d[tied], axis=1, kind="stable")[:, :p]
                idx[tied] = exact
        else:
            # stable argsort of d breaks ties by cell id (array is in cell order)
            idx = np.argsort(d, axis=1, kind="stable")[:, :p]
        offsets = np.arange(idx.shape[0] + 1, dtype=np.int32) * p
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(idx.astype(np.int32).ravel()))

    return nearest


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    ncells: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: vectors assigned to their nearest
    centroid cell once; queries probe nprobe cells; exact cosine within."""
    if centroids is None:
        centroids = train_centroids(vectors, ncells)
    spark = vectors.sparkSession
    assign1 = _nearest_cells_udf(spark, centroids, 1)
    probe = _nearest_cells_udf(spark, centroids, nprobe)
    v = vectors.select(
        F.col("vec_id"), F.col("embedding"),
        assign1(F.col("embedding"))[0].alias("cell"),
    )
    q = queries.select(
        F.col("query_id"), F.col("query_vec"),
        F.explode(probe(F.col("query_vec"))).alias("cell"),
    )
    cand = v.join(q, "cell")
    scored = cand.withColumn(
        "cosine", cosine_col(F.col("embedding").cast("array<double>"), F.col("query_vec").cast("array<double>"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
