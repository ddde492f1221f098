"""Streaming near-duplicate detection: the dedup family's stateful
streaming surface.

A training-data pipeline rarely gets its corpus as one batch -- crawls
land continuously. This module turns the batch MinHash-LSH operator
(operators/dedup.py) into a Structured Streaming pipeline with the SAME
pair semantics under ``availableNow`` replay:

1. band rows: the identical zero-shuffle Arrow pass as batch
   (``_minhash_signatures_rolling`` emits ``(doc_id, band, bucket)``
   rows -- ``mapInArrow`` is stateless, so it lifts to streams
   unchanged);
2. candidate pairs: ``applyInPandasWithState`` keyed by (band, bucket).
   State per key = the doc ids seen in that bucket (packed int64
   bytes); each arriving doc emits one pair against every doc already
   in the bucket -- including earlier docs of the same micro-batch --
   then joins the state. A near-dup pair is therefore emitted exactly
   once PER SHARED BAND when its later member arrives.

Cross-band multiplicity is deliberate: collapsing it would need a
second stateful operator (pair-keyed dropDuplicates) downstream of
``applyInPandasWithState``, a chain Structured Streaming does not
support in one query -- so the operator contract is at-least-once pair
emission (at most ``bands`` copies), with the exact-set edge at the
sink: ``.distinct()`` on the materialized table (what the catalog
entry does), a Delta/upsert merge, or an idempotent key-value write.

Scale shape (100 TB): band-bucket state is hash-partitioned across
executors by the state store on exactly the key the batch op shuffles
on; per-key memory is 8 bytes/doc -- the same bucket occupancy the
batch self-join materializes per task. The oversized-bucket guard
mirrors the batch scale recipe's ``max_bucket_size``: a bucket past
the cap stops emitting NEW pairs AND stops growing its state (the
already-emitted prefix cannot be recalled from a stream; batch drops
the whole bucket retroactively -- both shed the quadratic
boilerplate-bucket tail, and the oracled catalog entry runs uncapped
where the semantics are identical).

State store provider: total state is linear in corpus x bands (8 B per
(doc, band) slot -- 71.4 MB at 50k docs x 8 bands, measured), so at
crawl scale it must NOT live on the executor heap. Production default
for this surface is RocksDB (``configure_state_store``, or set
``spark.sql.streaming.stateStore.providerClass`` to
``ROCKSDB_PROVIDER`` before starting the query): state moves to native
memory + local SSD with incremental checkpointing, and executor heap
stays flat no matter how large the corpus grows. The default
HDFSBackedStateStoreProvider keeps every key on-heap -- fine for tests,
an OOM at 10^12 docs. Parity between the two providers is
pytest-enforced and replayed at 10x (tools/stream_replay.py).

No reference counterpart (the reference has no streaming).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PAIR_SCHEMA = "a bigint, b bigint"
STATE_SCHEMA = "ids binary"

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def configure_state_store(spark: SparkSession, provider: str = "rocksdb") -> str | None:
    """Point Structured Streaming state at RocksDB (``provider='rocksdb'``,
    the production default for the dedup surface -- native memory + local
    disk, bounded heap) or back at the on-heap default
    (``provider='hdfs'``). Applies to queries STARTED after the call;
    returns the previous conf value (None if unset) so callers can
    restore it."""
    try:
        prev = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        prev = None
    if provider == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
    elif provider == "hdfs":
        spark.conf.unset(_PROVIDER_KEY)
    else:
        spark.conf.set(_PROVIDER_KEY, provider)
    return prev


def _pair_fn(max_bucket_size: int | None, state_ttl_ms: int | None = None):
    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            # idle-bucket expiry (state_ttl): docs this old no longer pair
            # with new arrivals -- the documented recall cut that bounds
            # state on unbounded streams
            state.remove()
            return
        seen = (
            np.frombuffer(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        chunks = [pdf["_id"].to_numpy(dtype=np.int64) for pdf in pdfs]
        new = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.int64)
        if not new.size:
            return
        out_a, out_b = [], []
        n0 = seen.size
        allids = np.concatenate([seen, new])
        for j in range(new.size):
            if max_bucket_size is not None and n0 + j >= max_bucket_size:
                break
            prior = allids[: n0 + j]
            nid = allids[n0 + j]
            if prior.size:
                lo = np.minimum(prior, nid)
                hi = np.maximum(prior, nid)
                ne = lo != hi
                out_a.append(lo[ne])
                out_b.append(hi[ne])
        if max_bucket_size is not None and allids.size > max_bucket_size:
            # ids past the cap can never emit (the loop above breaks at the
            # cap), so storing them would grow hot-bucket state without
            # bound -- truncate so state is capped at 8*max_bucket_size B
            allids = allids[:max_bucket_size]
        state.update((allids.tobytes(),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out_a:
            a = np.concatenate(out_a)
            if a.size:
                yield pd.DataFrame({"a": a, "b": np.concatenate(out_b)})

    return fn


def stream_minhash_pairs(
    stream_df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Near-dup candidate pair stream over a document stream; under
    ``availableNow`` replay the DISTINCT output equals the batch
    ``minhash_lsh_pairs`` pair set with the same
    parameters (pytest-enforced, single- and multi-micro-batch).

    ``state_ttl_minutes`` bounds state on UNBOUNDED streams: a bucket
    idle that long is dropped, so docs older than the TTL no longer
    pair with new arrivals -- an explicit recall horizon (None keeps
    exact whole-stream semantics; at 100 TB/day a horizon is how
    production crawl dedup bounds memory)."""
    from osm_pbf_convert_spark.operators.dedup import _minhash_signatures_rolling

    if num_hashes % bands != 0:
        # mirror the batch operator: band_buckets would silently truncate
        # the tail hashes and break the documented batch-parity contract
        raise ValueError("bands must divide num_hashes")
    banded = _minhash_signatures_rolling(stream_df, num_hashes, shingle_k, bands=bands).select(
        F.col("doc_id").cast("long").alias("_id"), "band", "bucket"
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60_000
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _pair_fn(max_bucket_size, ttl_ms),
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


SIMHASH_PAIR_SCHEMA = "a bigint, b bigint, hamming int"


def _popcount64(x):
    import numpy as np

    return (
        np.unpackbits(np.ascontiguousarray(x).view(np.uint8))
        .reshape(x.size, 64)
        .sum(axis=1)
        .astype(np.int64)
    )


def _simhash_pair_fn(max_hamming: int, state_ttl_ms: int | None = None):
    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        seen = (
            np.frombuffer(state.get[0], dtype=np.int64).reshape(-1, 2)
            if state.exists
            else np.empty((0, 2), dtype=np.int64)
        )
        chunks = [
            np.column_stack(
                [pdf["_id"].to_numpy(np.int64), pdf["simhash"].to_numpy(np.int64)]
            )
            for pdf in pdfs
        ]
        new = (
            np.concatenate(chunks)
            if chunks
            else np.empty((0, 2), dtype=np.int64)
        )
        if not new.size:
            return
        allrows = np.concatenate([seen, new])
        n0 = seen.shape[0]
        out = []
        for j in range(new.shape[0]):
            prior = allrows[: n0 + j]
            if not prior.size:
                continue
            nid, nsig = allrows[n0 + j]
            ham = _popcount64(np.bitwise_xor(prior[:, 1], nsig))
            hit = (ham <= max_hamming) & (prior[:, 0] != nid)
            if hit.any():
                pid = prior[hit, 0]
                out.append(
                    np.column_stack(
                        [
                            np.minimum(pid, nid),
                            np.maximum(pid, nid),
                            ham[hit],
                        ]
                    )
                )
        state.update((allrows.tobytes(),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out:
            m = np.concatenate(out)
            yield pd.DataFrame(
                {"a": m[:, 0], "b": m[:, 1], "hamming": m[:, 2].astype(np.int32)}
            )

    return fn


def stream_simhash_pairs(
    stream_df: DataFrame,
    max_hamming: int = 8,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """VERIFIED near-dup pair stream: SimHash signatures (the rolling
    zero-shuffle Arrow pass -- stateless, lifts to streams) -> pigeonhole
    chunk banding -> stateful per-(band, chunk) emission where state
    carries (id, signature) rows and only pairs with exact popcount
    Hamming distance <= ``max_hamming`` are emitted. The stronger
    streaming pattern vs ``stream_minhash_pairs``: verification happens
    IN the stateful operator (the signature travels with the state), so
    the stream emits final pairs, not candidates. Same at-least-once
    contract across bands; distinct output under availableNow replay
    equals batch ``simhash_hamming_pairs`` (pytest-enforced)."""
    from osm_pbf_convert_spark.operators.dedup import simhash_signatures

    bands = max_hamming + 1
    width = 64 // bands
    sig = simhash_signatures(stream_df)
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk"),
            )
            for i in range(bands)
        ]
    )
    banded = sig.select(
        F.col("doc_id").cast("long").alias("_id"),
        "simhash",
        F.explode(chunk_arr).alias("c"),
    ).select("_id", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk"))
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60_000
    return banded.groupBy("band", "chunk").applyInPandasWithState(
        _simhash_pair_fn(max_hamming, ttl_ms),
        outputStructType=SIMHASH_PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def stream_documents(spark: SparkSession, docs_dir: str, schema, **options) -> DataFrame:
    """File-source document stream (pass ``maxFilesPerTrigger=1`` to
    replay a multi-file corpus one micro-batch per file -- how the tests
    exercise cross-batch state)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(docs_dir)
