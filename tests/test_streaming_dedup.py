"""Streaming dedup: availableNow replay must reproduce the batch pair
set, including pairs whose members arrive in DIFFERENT micro-batches
(the stateful part), and the at-least-once contract must collapse to
the exact set under a sink-side distinct."""

import pytest

from osm_pbf_convert_spark.operators import dedup
from osm_pbf_convert_spark.streaming.dedup import (
    stream_documents,
    stream_minhash_pairs,
    stream_simhash_pairs,
)

PARAMS = dict(num_hashes=32, bands=8, shingle_k=5)


def _materialize(spark, sf_dir, tmp_path, nfiles):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs")
    docs.repartition(nfiles).write.parquet(out)
    return out


def _run_stream(spark, sdf, tmp_path, name, timeout=180):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .start()
    )
    q.awaitTermination(timeout)
    return q


@pytest.mark.spark
class TestStreamMinhashPairs:
    def test_single_batch_equals_batch(self, spark, sf_dir, tmp_path):
        path = _materialize(spark, sf_dir, tmp_path, 1)
        docs = spark.read.parquet(path)
        batch = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_pairs(docs, **PARAMS).collect()
        }
        assert batch, "corpus must carry planted near-dup pairs"
        sdf = stream_minhash_pairs(
            stream_documents(spark, path, docs.schema), **PARAMS
        )
        _run_stream(spark, sdf, tmp_path, "mhps_one")
        got = spark.table("mhps_one")
        got_set = {
            (r["a"], r["b"]) for r in got.select("a", "b").distinct().collect()
        }
        assert got_set == batch
        # at-least-once, at most one emission per shared band
        assert got.count() <= len(batch) * PARAMS["bands"]

    def test_cross_batch_state(self, spark, sf_dir, tmp_path):
        """One file per micro-batch: pairs whose members land in different
        micro-batches exist only if the bucket STATE carries earlier docs
        forward -- equality with batch proves the stateful path."""
        path = _materialize(spark, sf_dir, tmp_path, 4)
        docs = spark.read.parquet(path)
        batch = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_pairs(docs, **PARAMS).collect()
        }
        sdf = stream_minhash_pairs(
            stream_documents(spark, path, docs.schema, maxFilesPerTrigger=1),
            **PARAMS,
        )
        q = _run_stream(spark, sdf, tmp_path, "mhps_multi")
        batches_run = max(
            (p["batchId"] for p in (q.recentProgress or []) if "batchId" in p),
            default=0,
        )
        assert batches_run >= 2, "replay must actually span micro-batches"
        got_set = {
            (r["a"], r["b"])
            for r in spark.table("mhps_multi").select("a", "b").distinct().collect()
        }
        assert got_set == batch

    def test_state_ttl_wiring(self, spark, sf_dir, tmp_path):
        """A generous TTL must not change replay results (timeouts cannot
        fire within a fast availableNow replay) -- exercises the
        ProcessingTimeTimeout wiring, remove-on-timeout path excluded."""
        path = _materialize(spark, sf_dir, tmp_path, 2)
        docs = spark.read.parquet(path)
        batch = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_pairs(docs, **PARAMS).collect()
        }
        sdf = stream_minhash_pairs(
            stream_documents(spark, path, docs.schema, maxFilesPerTrigger=1),
            state_ttl_minutes=60, **PARAMS,
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("mhps_ttl")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck_ttl"))
            .start()
        )
        # ProcessingTimeTimeout keeps scheduling timer batches past the
        # data batches (same caveat as the sessions test): wait, then stop
        q.awaitTermination(30)
        q.stop()
        got = {
            (r["a"], r["b"])
            for r in spark.table("mhps_ttl").select("a", "b").distinct().collect()
        }
        assert got == batch

    def test_bucket_cap_stops_quadratic_tail(self, spark, sf_dir, tmp_path):
        path = _materialize(spark, sf_dir, tmp_path, 1)
        docs = spark.read.parquet(path)
        sdf = stream_minhash_pairs(
            stream_documents(spark, path, docs.schema),
            max_bucket_size=2, **PARAMS,
        )
        _run_stream(spark, sdf, tmp_path, "mhps_cap")
        capped = spark.table("mhps_cap").select("a", "b").distinct().count()
        uncapped = dedup.minhash_lsh_pairs(docs, **PARAMS).count()
        assert capped < uncapped  # the cap must actually shed pairs

    def test_bands_must_divide_num_hashes(self, spark, sf_dir, tmp_path):
        """Mirror of the batch operator's guard: rolling band_buckets
        would silently truncate the tail hashes otherwise."""
        path = _materialize(spark, sf_dir, tmp_path, 1)
        docs = spark.read.parquet(path)
        with pytest.raises(ValueError, match="bands must divide"):
            stream_minhash_pairs(
                stream_documents(spark, path, docs.schema),
                num_hashes=32, bands=7,
            )

    def test_rocksdb_provider_parity(self, spark, sf_dir, tmp_path):
        """The production state store (RocksDB) must yield the exact same
        pair set as the on-heap default across micro-batches."""
        from osm_pbf_convert_spark.streaming.dedup import configure_state_store

        path = _materialize(spark, sf_dir, tmp_path, 3)
        docs = spark.read.parquet(path)
        batch = {
            (r["a"], r["b"])
            for r in dedup.minhash_lsh_pairs(docs, **PARAMS).collect()
        }
        prev = configure_state_store(spark, "rocksdb")
        try:
            sdf = stream_minhash_pairs(
                stream_documents(spark, path, docs.schema, maxFilesPerTrigger=1),
                **PARAMS,
            )
            _run_stream(spark, sdf, tmp_path, "mhps_rocks")
        finally:
            configure_state_store(spark, prev if prev is not None else "hdfs")
        got = {
            (r["a"], r["b"])
            for r in spark.table("mhps_rocks").select("a", "b").distinct().collect()
        }
        assert got == batch


class TestPairFnState:
    """Direct unit tests of the stateful kernel with a fake GroupState --
    the state-size contract is not observable through the pair output."""

    class _FakeState:
        def __init__(self):
            self._val = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._val is not None

        @property
        def get(self):
            return self._val

        def update(self, v):
            self._val = v

        def remove(self):
            self._val = None

        def setTimeoutDuration(self, ms):
            pass

    def test_capped_bucket_state_stops_growing(self):
        """ADVICE r6: ids past the cap can never emit pairs, so appending
        them to state would grow hot buckets without bound."""
        import numpy as np
        import pandas as pd

        from osm_pbf_convert_spark.streaming.dedup import _pair_fn

        fn = _pair_fn(max_bucket_size=3)
        state = self._FakeState()
        for batch in ([1, 2], [3, 4, 5], [6]):
            list(fn(None, iter([pd.DataFrame({"_id": batch})]), state))
            stored = np.frombuffer(state.get[0], dtype=np.int64)
            assert stored.size <= 3, "state must be truncated at the cap"
        assert list(np.frombuffer(state.get[0], dtype=np.int64)) == [1, 2, 3]

    def test_uncapped_state_and_pairs(self):
        import numpy as np
        import pandas as pd

        from osm_pbf_convert_spark.streaming.dedup import _pair_fn

        fn = _pair_fn(max_bucket_size=None)
        state = self._FakeState()
        out1 = list(fn(None, iter([pd.DataFrame({"_id": [1, 2]})]), state))
        out2 = list(fn(None, iter([pd.DataFrame({"_id": [3]})]), state))
        pairs = {
            (a, b)
            for df in out1 + out2
            for a, b in zip(df["a"], df["b"])
        }
        assert pairs == {(1, 2), (1, 3), (2, 3)}
        assert list(np.frombuffer(state.get[0], dtype=np.int64)) == [1, 2, 3]


@pytest.mark.spark
class TestStreamSimhashPairs:
    def test_verified_pairs_equal_batch_cross_batch(self, spark, sf_dir, tmp_path):
        """The stream emits VERIFIED (a, b, hamming) rows; the distinct
        set must equal batch simhash_hamming_pairs (rolling default),
        including pairs split across micro-batches."""
        path = _materialize(spark, sf_dir, tmp_path, 3)
        docs = spark.read.parquet(path)
        batch = {
            (r["a"], r["b"], r["hamming"])
            for r in dedup.simhash_hamming_pairs(docs, max_hamming=8).collect()
        }
        assert batch, "corpus must carry simhash near-dups"
        sdf = stream_simhash_pairs(
            stream_documents(spark, path, docs.schema, maxFilesPerTrigger=1),
            max_hamming=8,
        )
        _run_stream(spark, sdf, tmp_path, "shps")
        got = {
            (r["a"], r["b"], r["hamming"])
            for r in spark.table("shps").distinct().collect()
        }
        assert got == batch

