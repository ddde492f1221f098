"""Numpy-level contracts of the Karp-Rabin rolling core
(operators/rolling.py) against brute-force pure-Python references, plus
the SimHash rolling flavor's Spark-side parity. These are the ground
truth the DuckDB ``*_rolling`` oracle replays are generated against."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_pbf_convert_spark.operators import rolling


def ref_window_hashes(text: str, k: int) -> list[int]:
    """Brute force: sorted unique KR polynomial over each k-byte window
    of the lower-cased utf-8 bytes."""
    b = text.lower().encode("utf-8")
    out = set()
    for i in range(len(b) - k + 1):
        h = 0
        for c in b[i:i + k]:
            h = (h * rolling.KR_BASE + c) % rolling.MOD64
        out.add(h)
    return sorted(out)


def ref_token_hashes(text: str) -> list[int]:
    toks = text.lower().encode("utf-8").split()  # bytes.split: ASCII \s runs
    out = []
    for t in toks:
        h = 0
        for c in t:
            h = (h * rolling.KR_BASE + c) % rolling.MOD64
        out.append((h * rolling.TOK_FIN_A + rolling.TOK_FIN_B) % rolling.MOD64)
    return out


class TestWindowSegments:
    @given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=40),
                    max_size=12),
           st.integers(min_value=1, max_value=6))
    @settings(max_examples=60, deadline=None)
    def test_matches_bruteforce(self, texts, k):
        flat, off = rolling.batch_window_hash_segments(pd.Series(texts), k)
        assert off.size == len(texts) + 1 and off[-1] == flat.size
        for i, t in enumerate(texts):
            got = flat[off[i]:off[i + 1]]
            assert list(got) == ref_window_hashes(t, k), (i, t)

    def test_boundary_windows_never_cross_docs(self):
        # "abcde"+"fghij" concatenated must NOT hash the "defg" window
        flat, off = rolling.batch_window_hash_segments(
            pd.Series(["abcde", "fghij"]), 4)
        joined = set(ref_window_hashes("abcdefghij", 4))
        per_doc = set(flat)
        crossing = joined - set(ref_window_hashes("abcde", 4)) - set(
            ref_window_hashes("fghij", 4))
        assert crossing and not (per_doc & crossing)

    def test_empty_and_short_rows(self):
        flat, off = rolling.batch_window_hash_segments(
            pd.Series(["", "ab", None, "abcdef"]), 3)
        assert list(np.diff(off)[:3]) == [0, 0, 0]
        assert off[4] - off[3] == 4  # 4 distinct 3-grams in "abcdef"


class TestSegmentAffineMin:
    @given(st.lists(st.lists(st.integers(0, 2**64 - 1), max_size=30),
                    min_size=1, max_size=8),
           st.integers(1, 8), st.integers(1, 5))
    @settings(max_examples=40, deadline=None)
    def test_matches_dense(self, segs, num_hashes, chunk):
        A, B = rolling.affine_family(num_hashes)
        flat = np.array([x for s in segs for x in s], dtype=np.uint64)
        off = np.zeros(len(segs) + 1, dtype=np.int64)
        np.cumsum([len(s) for s in segs], out=off[1:])
        got = rolling.segment_affine_min(flat, off, A, B, chunk=chunk)
        for i, s in enumerate(segs):
            if not s:
                assert (got[i] == rolling.U64_MAX).all()
                continue
            exp = [min((a * x + b) % rolling.MOD64 for x in s)
                   for a, b in zip(A.tolist(), B.tolist())]
            assert got[i].tolist() == exp, i

    def test_chunk_boundary_inside_segment(self):
        # one segment spanning several chunks must still take the global min
        A, B = rolling.affine_family(4)
        flat = np.arange(1000, dtype=np.uint64)
        off = np.array([0, 1000], dtype=np.int64)
        small = rolling.segment_affine_min(flat, off, A, B, chunk=7)
        big = rolling.segment_affine_min(flat, off, A, B, chunk=1 << 20)
        assert (small == big).all()


class TestBandBuckets:
    def test_horner_replay(self):
        sig = np.array([[1, 2, 3, 4], [1, 2, 3, 5]], dtype=np.uint64)
        got = rolling.band_buckets(sig, 2)
        for d in range(2):
            for b in range(2):
                acc = b
                for i in range(2):
                    acc = (acc * rolling.KR_BASE + int(sig[d, b * 2 + i])) % rolling.MOD64
                assert int(got[d, b]) == acc
        # bands sharing values collide; differing values don't
        assert got[0, 0] == got[1, 0] and got[0, 1] != got[1, 1]


class TestTokenHashes:
    @given(st.lists(st.text(
        alphabet=st.sampled_from("ab \t\n\x0b\x0c\rXyZ.,0"), max_size=60),
        max_size=10))
    @settings(max_examples=60, deadline=None)
    def test_matches_bruteforce(self, texts):
        flat, off = rolling.batch_token_hash_segments(pd.Series(texts))
        for i, t in enumerate(texts):
            assert flat[off[i]:off[i + 1]].tolist() == ref_token_hashes(t), (i, t)

    def test_tokens_never_merge_across_docs(self):
        # no trailing whitespace: "ab"+"cd" must stay two tokens
        flat, off = rolling.batch_token_hash_segments(pd.Series(["ab", "cd"]))
        assert np.diff(off).tolist() == [1, 1]
        assert flat.tolist() == [ref_token_hashes("ab")[0], ref_token_hashes("cd")[0]]

    def test_long_token_chunking(self):
        # a token longer than the gather budget exercises the chunked path
        big = "x" * 300000
        flat, off = rolling.batch_token_hash_segments(pd.Series([big, "x"]))
        assert np.diff(off).tolist() == [1, 1]
        h = 0
        for _ in range(300000):
            h = (h * rolling.KR_BASE + 120) % rolling.MOD64
        fin = lambda x: (x * rolling.TOK_FIN_A + rolling.TOK_FIN_B) % rolling.MOD64
        assert flat[0] == fin(h) and flat[1] == fin(120)


class TestBitMajority:
    @given(st.lists(st.lists(st.integers(0, 2**64 - 1), max_size=9),
                    min_size=1, max_size=6))
    @settings(max_examples=40, deadline=None)
    def test_matches_bruteforce(self, segs):
        flat = np.array([x for s in segs for x in s], dtype=np.uint64)
        off = np.zeros(len(segs) + 1, dtype=np.int64)
        np.cumsum([len(s) for s in segs], out=off[1:])
        got = rolling.segment_bit_majority(flat, off)
        for i, s in enumerate(segs):
            exp = 0
            for bit in range(64):
                cnt = sum((x >> bit) & 1 for x in s)
                if 2 * cnt > len(s):
                    exp |= 1 << bit
            assert int(got[i]) == exp, i


@pytest.mark.spark
class TestSimhashRollingSpark:
    def test_rolling_matches_reference_math_and_flavor_contract(self, spark):
        """The Spark rolling flavor must equal the pure-Python KR+majority
        reference bit-for-bit and keep the flavor contract (identical
        docs -> identical simhash, zero-token docs -> 0)."""
        from osm_pbf_convert_spark.operators import dedup

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely different content with other words entirely"),
            (5, ""),
            (6, "  \t \n "),
            (7, "one-token"),
        ]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        got = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df, hash_fn="rolling").collect()
        }
        for doc_id, text in rows:
            toks = ref_token_hashes(text)
            exp = 0
            for bit in range(64):
                cnt = sum((h >> bit) & 1 for h in toks)
                if 2 * cnt > len(toks):
                    exp |= 1 << bit
            exp_signed = exp - rolling.MOD64 if exp >= 1 << 63 else exp
            assert got[doc_id] == exp_signed, doc_id
        assert got[1] == got[2] != got[4]
        assert got[5] == got[6] == 0

    def test_rolling_is_zero_shuffle(self, spark):
        from osm_pbf_convert_spark.operators import dedup

        df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        plan = dedup.simhash_signatures(df, hash_fn="rolling")._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan

    def test_groups_and_hamming_pairs_on_rolling_default(self, spark):
        from osm_pbf_convert_spark.operators import dedup

        variants = ["alpha beta gamma delta epsilon zeta " * 3,
                    "one two three four five six seven eight nine " * 3]
        rows = [(i, variants[i % 2]) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        groups = dedup.simhash_dedup_groups(df).collect()  # default = rolling
        found = {frozenset(g["ids"]) for g in groups}
        assert frozenset([0, 2, 4]) in found and frozenset([1, 3, 5]) in found
        pairs = dedup.simhash_hamming_pairs(df, max_hamming=3).collect()
        got = {(r["a"], r["b"]) for r in pairs}
        assert (0, 2) in got and (1, 3) in got
