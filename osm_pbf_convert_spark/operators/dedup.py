"""Deduplication operators for large-scale text corpora.

All shapes are shuffle-conscious:

- exact: hash-groupBy on a content digest -- one shuffle, map-side partial
  agg; survivor = min(doc_id) for determinism.
- MinHash + LSH: signature stage = one zero-shuffle Arrow window pass
  (``hash_fn="rolling"``: a ``mapInArrow`` over Karp-Rabin window
  hashes, sort-free per-seed minima, emitting the (doc_id, band, bucket)
  rows itself, operators/rolling.py; ``hash_fn="md5"``: md5 window
  digests, operators/md5win.py, banded in Catalyst) -> bucket
  self-join emits candidate pairs -> optional exact
  Jaccard verify. Band/bucket join is equi-join on the band hash:
  broadcast-free, AQE handles hot buckets; oversized boilerplate buckets
  can be capped (max_bucket_size).
- SimHash: 64-bit (rolling) or 60-bit (md5) signature from token hashes;
  the per-bit majority (one int64 ``add.reduceat`` per bit) is a numpy
  pass inside the same Arrow map.
- n-gram Jaccard: candidate pairs from shared shingles (inverted index),
  Jaccard = |common| / (|a|+|b|-|common|).
- embedding cosine near-dup: random-hyperplane LSH buckets, exact cosine
  inside buckets.

Every signature operator has two hash flavors: ``"rolling"`` is the
production default, ``"md5"`` the flavor the DuckDB catalog oracles
replay bit-identically. Any other ``hash_fn`` raises ``ValueError``.

No reference counterpart (the reference is a spatial engine); these are the
training-data-pipeline extensions the engine needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


MERSENNE31 = (1 << 31) - 1


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic Carter-Wegman coefficients (a_i, b_i) in Z_p,
    p = 2^31-1, a_i != 0 -- shared by the Spark md5-variant minhash and
    its generated DuckDB oracle SQL."""
    a = (2654435761 * (i + 1) + 0x9E3779B9) % MERSENNE31 or 1
    b = (40503 * (i + 7) * 2654435789 + i) % MERSENNE31
    return a, b


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64, shingle_k: int = 5, hash_fn: str = "rolling",
) -> DataFrame:
    """(id, sig array[num_hashes]) -- min over shingle hashes per seed,
    computed in one zero-shuffle Arrow pass.

    hash_fn: "rolling" (no-substring Karp-Rabin window hashes + affine
    mod-2^64 permutation family -- the production flavor, see
    ``_minhash_signatures_rolling``) or "md5" (the DuckDB-replayable
    oracle flavor): ONE md5 per shingle supplies a 60-bit base hash x
    (first 15 hex chars), and the seed family is Carter-Wegman universal
    hashing h_i = (a_i*x + b_i) mod (2^31-1) -- textbook-valid for
    minhash, exact in 64-bit arithmetic (a_i, x < 2^31), and replayed
    bit-identically in SQL (``operators/md5win.py``: numpy window
    extraction, one ``hashlib.md5`` per globally unique window,
    vectorized Carter-Wegman mins). Docs with no k-char window emit no
    row."""
    if hash_fn == "rolling":
        return _minhash_signatures_rolling(df, num_hashes, shingle_k)
    if hash_fn == "md5":
        return _minhash_signatures_md5(df, num_hashes, shingle_k)
    raise ValueError(f"unknown hash_fn {hash_fn!r}; expected 'rolling' or 'md5'")


def _kr_hash_arrays(df: DataFrame, k: int) -> DataFrame:
    """(id, shs array<long>): each doc's unique Karp-Rabin window
    hashes (operators/rolling.py) -- the substring-free stand-in for
    ``shingles_col`` in exact-jaccard verification (set semantics are
    identical up to ~|S|^2/2^64 within-doc collisions). One
    ``mapInArrow`` pass: ``shs`` is a ListArray over the sorted-unique
    ``(flat, offsets)`` segments, with no per-row Python."""
    import numpy as np
    import pyarrow as pa

    from osm_pbf_convert_spark.operators.rolling import batch_window_hash_segments
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    def batches(it):
        for batch in it:
            flat, off = batch_window_hash_segments(batch.column("text").to_pandas(), k)
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
    """The no-substring signature stage (``hash_fn="rolling"``): one
    ``mapInArrow`` pass -- a narrow map with ZERO shuffle and no
    per-shingle rows. Per Arrow batch, every in-document Karp-Rabin
    window hash (``rolling.batch_window_hashes``, duplicates kept) feeds
    ``rolling.segment_affine_min``: sig_i = min over the doc's window
    hashes w of A_i*w + B_i mod 2^64 (odd A_i: a bijection on Z_2^64, a
    textbook permutation family). Docs with no window (shorter than k)
    emit NO row, like the md5 flavor.

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
            flat, off = rolling.batch_window_hashes(batch.column("text").to_pandas(), shingle_k)
            nonempty = np.nonzero(np.diff(off))[0]
            if not nonempty.size:
                continue  # no shingles -> no row (same as the md5 flavor)
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


def _minhash_signatures_md5(df: DataFrame, num_hashes: int, shingle_k: int) -> DataFrame:
    """The md5 oracle flavor as ONE zero-shuffle Arrow pass: distinct
    k-char window md5 digests per doc (``md5win``), 60-bit base hash x =
    first 15 hex chars, vectorized Carter-Wegman mins. Docs with no
    window emit NO row. Input is fanned out first
    (``plans.partitioning.fan_out``): the heavy per-row work must not
    run on one or two scan splits."""
    import numpy as np
    import pandas as pd

    from osm_pbf_convert_spark.operators import md5win
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    A = np.array([minhash_coeffs(i)[0] for i in range(num_hashes)], dtype=np.int64)
    B = np.array([minhash_coeffs(i)[1] for i in range(num_hashes)], dtype=np.int64)

    def batches(it):
        for pdf in it:
            digs, off = md5win.batch_window_md5_segments(pdf["text"], shingle_k)
            nonempty = np.nonzero(np.diff(off) > 0)[0]
            if not nonempty.size:
                continue
            x = md5win.digests_to_x60(digs)
            sig = md5win.segment_cw_min(x, off, A, B)[nonempty]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[nonempty],
                "sig": list(sig),
            })

    id_type = df.schema["doc_id"].dataType.simpleString()
    return fan_out(df.select("doc_id", "text"), key="doc_id").mapInPandas(
        batches, schema=f"doc_id {id_type}, sig array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
    hash_fn: str = "rolling", max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing >= 1 LSH band.

    rows_per_band = num_hashes // bands; two docs collide in a band iff all
    its rows agree -> P(collide) = s^rows per band (s = true Jaccard).
    hash_fn as in minhash_signatures ("md5" = the DuckDB-replayable oracle
    variant; band buckets become the joined hex strings).

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
    r = num_hashes // bands
    if hash_fn == "rolling":
        # the (doc_id, band, bucket) rows come out of the SAME zero-shuffle
        # Arrow pass as the signatures (rolling.band_buckets: 8-byte
        # Horner keys, a 10x byte win over joined-string buckets AND
        # replayable in DuckDB HUGEINT -- the production default carries
        # the oracle)
        banded = _minhash_signatures_rolling(df, num_hashes, shingle_k, bands=bands)
        return _bucket_join_pairs(banded, max_bucket_size)
    sig = minhash_signatures(df, num_hashes, shingle_k, hash_fn)
    # md5: bucket = the band's hash values joined as a string -- band id
    # is already a separate join column, so no re-hash is needed (and
    # DuckDB replays string concatenation exactly)
    band_arr = F.array(
        *[
            F.concat_ws(
                "|", *[F.element_at("sig", b * r + i + 1).cast("string") for i in range(r)]
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(band_arr).alias("band", "bucket"))
    return _bucket_join_pairs(banded, max_bucket_size)


def _bucket_join_pairs(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(band, bucket) self-join -> distinct (a < b) candidate pairs,
    with the optional oversized-bucket guard (see minhash_lsh_pairs)."""
    if max_bucket_size is not None:
        # window count shuffles by (band, bucket) -- the SAME key the
        # self-join below uses, so the exchange is reused, not added
        from pyspark.sql import Window

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
    pairs = (
        a.join(b.hint("merge"), ["band", "bucket"])
        .filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )
    return pairs


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
    num_hashes: int = 64, bands: int = 16, hash_fn: str = "rolling",
    max_bucket_size: int | None = None, verify_on_hashes: bool = False,
) -> DataFrame:
    """Scale path for n-gram Jaccard: MinHash-LSH candidate generation +
    EXACT Jaccard verify on the candidates.

    The inverted-index path (ngram_jaccard_pairs) generates O(df^2) pairs
    per shared shingle -- quadratic on template-heavy corpora where most
    shingles are corpus-common. LSH banding collides pairs with probability
    1-(1-s^r)^b driven by the PAIR's similarity s, independent of shingle
    document frequency; surviving jaccard values are exact (computed on the
    full shingle sets), so only recall is probabilistic. This is the shape
    that holds at 100 TB: candidates scale with true duplicates.

    ``max_bucket_size`` (see minhash_lsh_pairs) additionally guards the
    band join against boilerplate buckets, whose pair count -- and the
    shingle-array bytes the verify join ships per pair -- otherwise
    grows quadratically with corpus size (measured 9x wall at 4x volume
    without it; the exact-verify stage keeps precision unchanged, the
    cap affects recall only through pairs with no small-bucket
    collision).

    ``verify_on_hashes`` intersects the 64-bit Karp-Rabin window hashes
    the rolling signatures minimized over instead of shingle strings
    (no substring materializes anywhere): the verify join must carry one
    shingle array per CANDIDATE through its second merge-join sort, so
    array bytes -- not pair count -- dominate its shuffle/spill at
    scale; long arrays halve them (measured at 64x volume). Jaccard
    stays exact up to within-doc hash collisions (~|S|^2 / 2^64 -- odds
    of one affected doc per ~10^9 docs), so this is the 100 TB recipe
    alongside ``max_bucket_size``. It needs ``hash_fn="rolling"``; the
    md5 oracle flavor verifies on the shingle strings (default False:
    bit-exact string-set semantics)."""
    if verify_on_hashes and hash_fn != "rolling":
        raise ValueError("verify_on_hashes intersects rolling window hashes; "
                         "it needs hash_fn='rolling'")
    cands = minhash_lsh_pairs(df, num_hashes, bands, shingle_k, hash_fn, max_bucket_size)
    if verify_on_hashes:
        sh = _kr_hash_arrays(df, shingle_k)
    else:
        from osm_pbf_convert_spark.plans.partitioning import fan_out

        # fan out BEFORE the substring materialization: shingles_col is
        # the per-row-heavy step here (guide §2.5 input skew)
        sh = fan_out(df, key="doc_id").select(
            F.col("doc_id"), shingles_col(F.col("text"), shingle_k).alias("shs")
        )
    # merge hints: the shingle-ARRAY side is corpus-sized; its columnar
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


def _simhash_signatures_rolling(df: DataFrame) -> DataFrame:
    """The no-token-row SimHash stage (``hash_fn="rolling"``): one Arrow
    pass per batch computes every token occurrence's Karp-Rabin Horner
    hash and the per-doc 64-bit majority (``rolling.batch_token_hash_
    segments`` + ``segment_bit_majority``) -- ZERO shuffle and zero
    per-token rows. Tokens split on the ASCII ``\\s`` class exactly like
    Java's ``split(lower(text), '\\s+')``; majority ties -> 0, zero-token
    docs -> 0. Deterministic integer math mod 2^64 -- replayed by the
    DuckDB ``simhash_rolling`` oracle entry."""
    import numpy as np
    import pandas as pd

    from osm_pbf_convert_spark.operators import rolling

    def batches(it):
        for pdf in it:
            hashes, off = rolling.batch_token_hash_segments(pdf["text"])
            sig = rolling.segment_bit_majority(hashes, off)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "simhash": sig.astype(np.int64),
            })

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select("doc_id", "text").mapInPandas(
        batches, schema=f"doc_id {id_type}, simhash long"
    )


def _simhash_signatures_md5(df: DataFrame, bits: int) -> DataFrame:
    """The md5 oracle SimHash as ONE zero-shuffle Arrow pass: 60-bit md5
    token hashes per occurrence (``md5win``, one real md5 per distinct
    token per batch) + the shared numpy bit-majority
    (``rolling.segment_bit_majority``); token-less docs get 0 (the
    majority of an empty segment) and ties -> 0. The signature is masked
    to the low ``bits`` bits."""
    import numpy as np
    import pandas as pd

    from osm_pbf_convert_spark.operators import md5win, rolling
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    mask = np.uint64((1 << bits) - 1)

    def batches(it):
        for pdf in it:
            h60, off = md5win.batch_token_md5_segments(pdf["text"])
            sig = rolling.segment_bit_majority(h60, off) & mask
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "simhash": sig.astype(np.int64),
            })

    id_type = df.schema["doc_id"].dataType.simpleString()
    return fan_out(df.select("doc_id", "text"), key="doc_id").mapInPandas(
        batches, schema=f"doc_id {id_type}, simhash long"
    )


def simhash_signatures(
    df: DataFrame,
    bits: int = 64, hash_fn: str = "rolling",
) -> DataFrame:
    """(id, simhash long): per-bit majority over the token hashes of each
    doc, tokens = ``lower(text)`` split on Java's ``\\s+``, in one
    zero-shuffle Arrow pass (no per-token rows).

    hash_fn: "rolling" (production default, 64-bit Karp-Rabin token
    hashes -- see ``_simhash_signatures_rolling``; requires bits=64) or
    "md5" (token hash = first 15 hex chars of md5 as a 60-bit long, so
    bits must be <= 60; DuckDB replays it via
    CAST('0x'||substr(md5(tok),1,15) AS BIGINT) -- the correctness-oracle
    flavor; the sign bit stays clear, so signed and unsigned shifts agree
    across engines)."""
    if hash_fn == "rolling":
        if bits != 64:
            raise ValueError("rolling simhash is 64-bit; pass hash_fn='md5' "
                             "for bits <= 60")
        return _simhash_signatures_rolling(df)
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 variant carries 60 hash bits; pass bits<=60")
        return _simhash_signatures_md5(df, bits)
    raise ValueError(f"unknown hash_fn {hash_fn!r}; expected 'rolling' or 'md5'")


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3, bands: int | None = None,
    bits: int = 64, hash_fn: str = "rolling",
) -> DataFrame:
    """Near-duplicate pairs with simhash Hamming distance <= max_hamming.

    Pigeonhole banding: split the signature into max_hamming+1 chunks --
    any pair within distance d agrees exactly on >= 1 chunk, so an
    equi-join per chunk finds ALL such pairs (no recall loss; bits the
    chunks don't cover only ADD candidates -- fewer covered differences
    need even fewer clean chunks -- and the exact popcount verify uses
    every bit); exact popcount (bit_count, JVM) verifies candidates.

    bits/hash_fn as in simhash_signatures (md5 = 60-bit oracle variant).
    """
    b = bands or (max_hamming + 1)
    width = bits // b
    s = simhash_signatures(df, bits=bits, hash_fn=hash_fn)
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


def simhash_dedup_groups(
    df: DataFrame,
    bits: int = 64, hash_fn: str = "rolling",
) -> DataFrame:
    """Groups of docs with IDENTICAL simhash (near-dup at hamming 0); for
    hamming <= d banding, split the bits into d+1 chunks upstream."""
    s = simhash_signatures(df, bits=bits, hash_fn=hash_fn)
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
    import pandas as pd

    S = np.asarray(signs, dtype=np.float64)  # planes x dim
    planes = S.shape[0]
    weights = (np.int64(1) << np.arange(planes, dtype=np.int64))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            vecs = pdf["embedding"].to_numpy()
            # robustness (ADVICE r7): a single null/ragged embedding must
            # not crash the whole job -- name the offending id instead
            # (the pre-r7 zip_with expression silently nulled such rows;
            # an explicit error is the safer dedup-pipeline behavior)
            lens = {len(v) if v is not None else -1 for v in vecs}
            if len(lens) > 1 or -1 in lens:
                bad = next(
                    i for v, i in zip(vecs, pdf["vec_id"])
                    if v is None or len(v) != max(lens)
                )
                raise ValueError(
                    f"embedding_neardup: null or ragged embedding at vec_id={bad!r}"
                )
            V = np.stack(vecs)  # n x dim float64
            n, d = V.shape
            k = min(d, S.shape[1])  # zip_with semantics: shorter side wins
            acc = np.zeros((n, planes), dtype=np.float64)
            for j in range(k):
                # SEQUENTIAL over dims: ((0 + v0*s0) + v1*s1) + ...
                acc += V[:, j, None] * S[None, :, j]
            bucket = ((acc > 0.0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": pdf["embedding"], "bucket": bucket}
            )

    in_schema = df.select("vec_id", "embedding").schema
    out_schema = T.StructType(
        list(in_schema.fields) + [T.StructField("bucket", T.LongType())]
    )
    return df.select("vec_id", "embedding").mapInPandas(fn, schema=out_schema)


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

    Bucket assignment is ONE Arrow ``mapInPandas`` pass computing all
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
            return df.sparkSession.createDataFrame(
                [], schema="a long, b long, cosine double"
            ).select(
                F.col("a").cast(df.schema["vec_id"].dataType).alias("a"),
                F.col("b").cast(df.schema["vec_id"].dataType).alias("b"),
                "cosine",
            )
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
