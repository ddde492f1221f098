"""Deduplication operators for large-scale text corpora.

All shapes are shuffle-conscious:

- exact: hash-groupBy on a content digest -- one shuffle, map-side partial
  agg; survivor = min(doc_id) for determinism.
- MinHash + LSH: signature stage = one zero-shuffle ``mapInArrow`` pass
  over Karp-Rabin window hashes (operators/rolling.py), sort-free
  per-seed minima, emitting the (doc_id, band, bucket) rows itself ->
  bucket self-join emits candidate pairs -> optional exact Jaccard
  verify on the same window hashes. Band/bucket join is equi-join on the
  band hash: broadcast-free, AQE handles hot buckets; oversized
  boilerplate buckets can be capped (max_bucket_size).
- SimHash: 64-bit signature from Karp-Rabin token hashes; the per-bit
  majority (one int64 ``add.reduceat`` per bit) is a numpy pass inside
  the same Arrow map.
- n-gram Jaccard: candidate pairs from shared shingles (inverted index),
  Jaccard = |common| / (|a|+|b|-|common|).
- embedding cosine near-dup: random-hyperplane LSH buckets, exact cosine
  inside buckets.

Every signature is deterministic integer arithmetic mod 2^64, so the
DuckDB catalog oracles (``*_rolling`` entries in queries.py) replay the
production operators bit for bit; there is one hash family.

No reference counterpart (the reference is a spatial engine); these are the
training-data-pipeline extensions the engine needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_pbf_convert_spark.sources.byterange import _local_frame


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one row (min id) per distinct content digest."""
    digest = F.md5(F.col("text").cast("binary")).alias("_digest")
    w = df.select(F.col("doc_id"), digest)
    keep = w.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
    # merge hint: `keep` is corpus-sized (one row per distinct digest) but
    # DERIVED, so Catalyst's size estimate undershoots and auto-broadcasts
    # it -- the exit-52 OOM class the 16x rehearsal exposed in the LSH
    # joins. A fact-sized side must shuffle, never broadcast.
    return df.join(keep.select("doc_id").hint("merge"), "doc_id", "left_semi")


def shingles_col(text, k: int = 5):
    """Character k-gram shingle array (distinct) of the lower-cased text.
    JVM-only: substring via transform over an index sequence."""
    t = F.lower(text)
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n)
    return F.when(
        n > 0, F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(k))))
    ).otherwise(F.array().cast("array<string>"))


def _kr_hash_arrays(df: DataFrame, k: int) -> DataFrame:
    """(id, shs array<long>): each doc's unique Karp-Rabin k-byte
    window hashes (operators/rolling.py), the sets the exact-jaccard
    verify of ``ngram_jaccard_lsh_pairs`` intersects. One ``mapInArrow``
    pass: ``shs`` is a ListArray over the sorted-unique
    ``(flat, offsets)`` segments, with no per-row Python."""
    import numpy as np
    import pyarrow as pa

    from osm_pbf_convert_spark.operators.rolling import batch_window_hash_segments
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    def batches(it):
        for batch in it:
            flat, off = batch_window_hash_segments(batch.column("text"), k)
            shs = pa.ListArray.from_arrays(pa.array(off.astype(np.int32)),
                                           pa.array(flat.view(np.int64)))
            yield pa.RecordBatch.from_arrays([batch.column("doc_id"), shs],
                                             names=["doc_id", "shs"])

    id_type = df.schema["doc_id"].dataType.simpleString()
    return fan_out(df.select("doc_id", "text"), key="doc_id").mapInArrow(
        batches, schema=f"doc_id {id_type}, shs array<long>"
    )


def _minhash_signatures_rolling(df: DataFrame, num_hashes: int, shingle_k: int,
                                bands: int | None = None) -> DataFrame:
    """The MinHash signature stage: one ``mapInArrow`` pass -- a narrow
    map with ZERO shuffle and no per-shingle rows. Per Arrow batch, every
    in-document Karp-Rabin window hash (``rolling.batch_window_hashes``,
    duplicates kept) feeds ``rolling.segment_affine_min``: sig_i = min
    over the doc's window hashes w of A_i*w + B_i mod 2^64 (odd A_i: a
    bijection on Z_2^64, a textbook permutation family). Docs with no
    window (shorter than k) emit NO row.

    No sort and no windows x seeds matrix: the minima are taken one seed
    at a time, so the peak transient is one window-length uint64 vector
    per batch, whatever ``num_hashes`` or the document lengths are.

    Without ``bands`` the output is ``(doc_id, sig array<long>)``, the
    signature a ListArray over the flat signature matrix. With ``bands``
    it is the LSH banding rows ``(doc_id, band int, bucket bigint)``
    directly: one row per (doc, band), the bucket the band's Horner key
    (``rolling.band_buckets``, DuckDB-replayable), so no signature column
    is shipped and nothing is exploded downstream."""
    import numpy as np
    import pyarrow as pa

    from osm_pbf_convert_spark.operators import rolling
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    A, B = rolling.affine_family(num_hashes)

    def batches(it):
        for batch in it:
            flat, off = rolling.batch_window_hashes(batch.column("text"), shingle_k)
            nonempty = np.nonzero(np.diff(off))[0]
            if not nonempty.size:
                continue  # no shingles -> no row
            sig = rolling.segment_affine_min(flat, off, A, B)[nonempty]
            ids = batch.column("doc_id")
            if bands is None:
                sigs = pa.ListArray.from_arrays(
                    pa.array(np.arange(0, sig.size + 1, num_hashes, dtype=np.int32)),
                    pa.array(sig.view(np.int64).ravel()))
                yield pa.RecordBatch.from_arrays([ids.take(nonempty), sigs],
                                                 names=["doc_id", "sig"])
            else:
                yield pa.RecordBatch.from_arrays([
                    ids.take(np.repeat(nonempty, bands)),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), nonempty.size)),
                    pa.array(rolling.band_buckets(sig, bands).view(np.int64).ravel()),
                ], names=["doc_id", "band", "bucket"])

    id_type = df.schema["doc_id"].dataType.simpleString()
    schema = (f"doc_id {id_type}, sig array<long>" if bands is None
              else f"doc_id {id_type}, band int, bucket bigint")
    return fan_out(df.select("doc_id", "text"), key="doc_id").mapInArrow(
        batches, schema=schema
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing >= 1 LSH band.

    rows_per_band = num_hashes // bands; two docs collide in a band iff all
    its rows agree -> P(collide) = s^rows per band (s = true Jaccard).
    The (doc_id, band, bucket) rows come out of the zero-shuffle
    signature pass itself (``_minhash_signatures_rolling``; the bucket is
    an 8-byte Horner key the DuckDB oracle replays in HUGEINT).

    ``max_bucket_size`` is the LSH-at-scale guard: band buckets holding
    more than this many docs are EXCLUDED from the self-join. Oversized
    buckets are boilerplate-band collisions (shared template shingles)
    whose pair count grows quadratically with corpus size while real
    near-dup groups stay small -- measured at 64x bench volume, 450
    buckets >64 docs carried ~1/3 of all raw candidate slots and drove
    superlinear shuffle/spill. Recall cost: only pairs colliding in NO
    small bucket are lost; each true pair has ``bands`` independent
    chances (verified zero loss on the rehearsal corpus -- see
    BENCH/NOTES.md). None (default) keeps exact banding semantics --
    callers at corpus scale should set it deliberately, not silently."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    banded = _minhash_signatures_rolling(df, num_hashes, shingle_k, bands=bands)
    if max_bucket_size is not None:
        # window count shuffles by (band, bucket) -- the SAME key the
        # self-join below uses, so the exchange is reused, not added
        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_sz", F.count(F.lit(1)).over(w))
            .filter(F.col("_sz") <= max_bucket_size)
            .drop("_sz")
        )
    a = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    # merge hint: both sides are the corpus-sized banded table -- the
    # compressed-columnar scan estimate can sneak a side under the
    # auto-broadcast threshold, and the row-format hash relation then
    # explodes ~100x on every executor (measured: exit-52 OOM at 16x bench
    # volume). A fact-fact self-join must shuffle, never broadcast.
    return (
        a.join(b.hint("merge"), ["band", "bucket"])
        .filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    shingle_k: int = 5, threshold: float = 0.8, min_common: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share >= min_common
    shingles (inverted-index join).

    Scale guard: ``max_doc_freq`` drops shingles appearing in more than
    that many docs from CANDIDATE GENERATION only (stop-shingles produce
    O(df^2) pairs); sizes still count every shingle, so the jaccard value
    of surviving pairs is exact -- only recall on pairs related solely
    through ultra-common shingles is traded away.

    The guard defaults OFF (``None``): exact recall by default, opt in at
    call sites (the catalog passes 400; anything unbounded should) --
    silently losing recall in a dedup pipeline retains duplicates, the
    worse failure. For corpora where candidate generation is the wall,
    ``ngram_jaccard_lsh_pairs`` is the scale path."""
    if max_doc_freq is None:
        # plan-time pointer, not a data-dependent check: measuring the
        # actual shingle doc-frequency here would trigger an eager job
        # inside a lazy transformation
        import warnings

        warnings.warn(
            "ngram_jaccard_pairs without max_doc_freq generates O(df^2) "
            "candidate pairs per stop-shingle; set max_doc_freq or use "
            "ngram_jaccard_lsh_pairs on large/templated corpora",
            UserWarning,  # visible by default (ResourceWarning is filtered)
            stacklevel=2,
        )
    sh = df.select(F.col("doc_id"), F.explode(shingles_col(F.col("text"), shingle_k)).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    cand_sh = sh
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        cand_sh = sh.join(rare, "sh", "left_semi")
    a = cand_sh.select(F.col("doc_id").alias("a"), "sh")
    b = cand_sh.select(F.col("doc_id").alias("b"), "sh")
    common = (
        a.join(b.hint("merge"), "sh").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    out = (
        common.join(sa.hint("merge"), "a").join(sb.hint("merge"), "b")
        .withColumn("jaccard", F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def ngram_jaccard_lsh_pairs(
    df: DataFrame,
    shingle_k: int = 5, threshold: float = 0.8,
    num_hashes: int = 64, bands: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Scale path for n-gram Jaccard: MinHash-LSH candidate generation +
    EXACT Jaccard verify on the candidates.

    The inverted-index path (ngram_jaccard_pairs) generates O(df^2) pairs
    per shared shingle -- quadratic on template-heavy corpora where most
    shingles are corpus-common. LSH banding collides pairs with probability
    1-(1-s^r)^b driven by the PAIR's similarity s, independent of shingle
    document frequency; surviving jaccard values are exact (computed on the
    full window sets), so only recall is probabilistic. This is the shape
    that holds at 100 TB: candidates scale with true duplicates.

    ``max_bucket_size`` (see minhash_lsh_pairs) additionally guards the
    band join against boilerplate buckets, whose pair count -- and the
    window-hash arrays the verify join ships per pair -- otherwise
    grows quadratically with corpus size (measured 9x wall at 4x volume
    without it; the exact-verify stage keeps precision unchanged, the
    cap affects recall only through pairs with no small-bucket
    collision).

    The verify intersects each pair's sets of 64-bit Karp-Rabin window
    hashes (``_kr_hash_arrays``) -- the same k-byte windows of the
    lower-cased UTF-8 text the signatures minimize over, so no substring
    materializes anywhere. On ASCII text these are the character k-grams
    of ``ngram_jaccard_pairs``; on multi-byte text the jaccard is over
    UTF-8 byte windows, not char k-grams. Array bytes, not pair count,
    dominate the verify join's shuffle/spill at scale, and 8-byte hashes
    halve them against shingle strings (measured at 64x volume). Jaccard
    is exact up to within-doc hash collisions (~|S|^2 / 2^64 -- odds of
    one affected doc per ~10^9 docs)."""
    cands = minhash_lsh_pairs(df, num_hashes, bands, shingle_k, max_bucket_size)
    sh = _kr_hash_arrays(df, shingle_k)
    # merge hints: the hash-ARRAY side is corpus-sized; its columnar
    # scan estimate undershoots the exploded row format by ~100x, so the
    # auto-broadcast threshold would hash-build it on every executor
    # (measured exit-52 OOM at 16x bench volume, 8 GB executors)
    return (
        cands
        .join(sh.select(F.col("doc_id").alias("a"), F.col("shs").alias("sha")).hint("merge"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("shs").alias("shb")).hint("merge"), "b")
        .withColumn("common", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sha") + F.size("shb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """(id, simhash long): per-doc 64-bit SimHash in one zero-shuffle
    Arrow pass, no per-token rows. Every token occurrence of
    ``lower(text)`` gets its affine-finalized Karp-Rabin Horner hash and
    the per-bit majority is taken per doc
    (``rolling.batch_token_hash_segments`` + ``segment_bit_majority``).
    Tokens split on the ASCII ``\\s`` class exactly like Java's
    ``split(lower(text), '\\s+')``; majority ties -> 0, zero-token docs ->
    0. Deterministic integer math mod 2^64 -- replayed by the DuckDB
    ``simhash_rolling`` oracle entry."""
    import numpy as np
    import pyarrow as pa

    from osm_pbf_convert_spark.operators import rolling

    def batches(it):
        for batch in it:
            hashes, off = rolling.batch_token_hash_segments(batch.column("text"))
            sig = rolling.segment_bit_majority(hashes, off)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(sig.view(np.int64))],
                names=["doc_id", "simhash"],
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select("doc_id", "text").mapInArrow(
        batches, schema=f"doc_id {id_type}, simhash long"
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3, bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with simhash Hamming distance <= max_hamming.

    Pigeonhole banding: split the signature into max_hamming+1 chunks --
    any pair within distance d agrees exactly on >= 1 chunk, so an
    equi-join per chunk finds ALL such pairs (no recall loss; bits the
    chunks don't cover only ADD candidates -- fewer covered differences
    need even fewer clean chunks -- and the exact popcount verify uses
    every bit); exact popcount (bit_count, JVM) verifies candidates.
    Chunks are 64 // bands bits wide, over the unsigned signature.
    """
    b = bands or (max_hamming + 1)
    width = 64 // b
    s = simhash_signatures(df)
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1) if width < 64 else F.lit(-1))
                .alias("chunk"),
            )
            for i in range(b)
        ]
    )
    banded = s.select("doc_id", "simhash", F.explode(chunk_arr).alias("c")).select(
        "doc_id", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk")
    )
    a = banded.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"), "band", "chunk")
    b_ = banded.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sh_b"), "band", "chunk")
    # merge hint: corpus-sized self-join (see minhash_lsh_pairs)
    pairs = (
        a.join(b_.hint("merge"), ["band", "chunk"]).filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )
    return pairs


def simhash_dedup_groups(df: DataFrame) -> DataFrame:
    """Groups of docs with IDENTICAL simhash (near-dup at hamming 0); for
    hamming <= d banding, split the bits into d+1 chunks upstream."""
    s = simhash_signatures(df)
    return (
        s.groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def _hyperplane_sign_matrix(spark, planes: int, dim: int, seed: int) -> list:
    """The xxhash64-derived +-1.0 normals as a literal matrix: evaluated
    IN Spark with the exact expression the pre-round-7 Catalyst path used
    (``pmod(xxhash64(seed, plane, dim_index), 2)`` over INT inputs), so
    production bucket assignment is unchanged. planes x dim values -- a
    bounded driver collect (16 x 64 = 1 KB at the defaults), same class
    as similarity.py's centroid sample."""
    rows = (
        spark.range(dim)
        .select(
            F.col("id").cast("int").alias("d"),
            *[
                (F.pmod(F.xxhash64(F.lit(seed), F.lit(p), F.col("id").cast("int")), F.lit(2)) == 1)
                .alias(f"p{p}")
                for p in range(planes)
            ],
        )
        .orderBy("d")
        .collect()
    )
    return [
        [1.0 if r[f"p{p}"] else -1.0 for r in rows] for p in range(planes)
    ]


def _assign_hyperplane_buckets(df: DataFrame, signs: list) -> DataFrame:
    """(id, vec, bucket) via one Arrow pass: all plane dots per batch,
    accumulated dimension-by-dimension so each row's float64 sum order is
    the sequential left fold (bit-identical to the Catalyst/DuckDB
    replays). Zero shuffle -- a map-only stage like rolling.py's."""
    import numpy as np
    import pyarrow as pa

    from osm_pbf_convert_spark.operators.similarity import _vector_matrix

    S = np.asarray(signs, dtype=np.float64)  # planes x dim
    planes = S.shape[0]
    weights = (np.int64(1) << np.arange(planes, dtype=np.int64))

    def fn(it):
        for batch in it:
            if not batch.num_rows:
                continue
            # a null or ragged embedding fails the job naming its vec_id
            # (the pre-r7 zip_with expression silently nulled such rows)
            V = _vector_matrix(batch.column("embedding"), batch.column("vec_id"))
            n, d = V.shape
            k = min(d, S.shape[1])  # zip_with semantics: shorter side wins
            acc = np.zeros((n, planes), dtype=np.float64)
            for j in range(k):
                # SEQUENTIAL over dims: ((0 + v0*s0) + v1*s1) + ...
                acc += V[:, j, None] * S[None, :, j]
            bucket = ((acc > 0.0).astype(np.int64) * weights).sum(axis=1)
            yield batch.append_column("bucket", pa.array(bucket))

    in_schema = df.select("vec_id", "embedding").schema
    out_schema = T.StructType(
        list(in_schema.fields) + [T.StructField("bucket", T.LongType())]
    )
    return df.select("vec_id", "embedding").mapInArrow(fn, schema=out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95, planes: int = 16, seed: int = 42,
    hyperplanes: list | None = None,
) -> DataFrame:
    """Cosine near-duplicates via random-hyperplane LSH.

    Hyperplane normals are derived deterministically from xxhash64(seed,
    plane, dim) -- no driver-side RNG state to ship. Docs sharing the full
    sign-pattern bucket get exact cosine; pairs >= threshold survive.
    Recall note: single-table LSH; OR-construction = union over several
    seeds.

    ``hyperplanes``: optional explicit sign matrix (planes x dim of +-1.0
    floats) replacing the xxhash64-derived normals -- the
    DuckDB-replayable oracle variant (literal signs make bucket
    assignment a plain +- sum both engines evaluate in the same float64
    order); `planes`/`seed` are ignored when given.

    Bucket assignment is ONE ``mapInArrow`` pass computing all
    plane dots per batch (round-7 rework; the previous per-plane Catalyst
    ``aggregate``/``zip_with`` chains evaluated planes x dim expression
    nodes per row). The accumulation loops over dimensions SEQUENTIALLY
    (``acc += V[:, j] * s[j]``), so every float64 add happens in the same
    left-to-right order as the old Catalyst fold and as DuckDB's ``+``
    chain -- bucket bits are bit-identical across all three
    (pytest-pinned). Embeddings must be fixed-dimension (they are by the
    table contract).
    """
    # all arithmetic in float64: float32 inputs are widened BEFORE any
    # multiply, so products/sums round identically in Spark and DuckDB
    df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    if hyperplanes is not None:
        signs = [[float(s) for s in row] for row in hyperplanes]
    else:
        row = df.select(F.size("embedding")).first()  # one-row driver probe
        if row is None:  # empty input: no pairs (ADVICE r7 guard)
            id_type = df.schema["vec_id"].dataType.simpleString()
            return _local_frame(df.sparkSession, f"a {id_type}, b {id_type}, cosine double",
                                a=[], b=[], cosine=[])
        dim = row[0]
        signs = _hyperplane_sign_matrix(df.sparkSession, planes, dim, seed)
    withb = _assign_hyperplane_buckets(df, signs)
    a = withb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"), "bucket")
    b_ = withb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), "bucket")
    # merge hint: corpus-sized self-join carrying full embedding vectors
    pairs = a.join(b_.hint("merge"), "bucket").filter(F.col("a") < F.col("b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (
        pairs.withColumn("cosine", dot / (na * nb))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
        .distinct()
    )
