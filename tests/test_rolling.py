"""Numpy-level contracts of the Karp-Rabin rolling core
(operators/rolling.py) against brute-force pure-Python references, plus
the Spark-side parity of the SimHash, MinHash and fingerprint operators. These are the ground
truth the DuckDB ``*_rolling`` oracle replays are generated against."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
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


def ref_all_window_hashes(text, k: int) -> list[int]:
    """Brute force: every KR window polynomial of the lower-cased utf-8
    bytes, in document order, duplicates kept (None -> no windows)."""
    b = (text or "").lower().encode("utf-8")
    out = []
    for i in range(len(b) - k + 1):
        h = 0
        for c in b[i:i + k]:
            h = (h * rolling.KR_BASE + c) % rolling.MOD64
        out.append(h)
    return out


# texts that exercise every window-front-end edge: None, empty, shorter
# than k, repeated windows (a two-letter alphabet), multi-byte UTF-8,
# and whitespace; consecutive rows make windows span doc boundaries
TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from("ab AB\n\u00e9\u20ac\U0001f600\u0130"),
                max_size=40),
    ),
    max_size=10,
)


# a fixed edge corpus: exact and near dups, empty, shorter than k,
# Cyrillic, CJK, mixed case, every Java-\s delimiter, and ASCII with
# scattered multi-byte letters
EDGE_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "the quick brown fox jumped over the lazy dog!"),
    (4, "der schnelle braune fuchs springt über den faulen hund gut"),
    (5, "це зовсім інший текст про щось не схоже на інші документи"),
    (6, ""),
    (7, "ab"),
    (8, "日本語のテキストです これはテストです 日本語のテキスト"),
    (9, "MiXeD CaSe TeXt WiTh UPPER and lower"),
    (10, "tabs\tand\nnewlines\x0bweird\fspaces\r end"),
    (11, "ASCII with ünïcödé mixed in the middle of things"),
]
EDGE_TEXTS = [t for _, t in EDGE_ROWS]


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
    @example(EDGE_TEXTS, 8)
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


class TestWindowHashes:
    """The window front end: every in-document window, document order,
    duplicates kept."""

    @given(TEXTS, st.integers(min_value=1, max_value=6))
    @settings(max_examples=80, deadline=None)
    def test_matches_bruteforce(self, texts, k):
        flat, off = rolling.batch_window_hashes(pd.Series(texts, dtype=object), k)
        assert off.size == len(texts) + 1 and off[-1] == flat.size
        for i, t in enumerate(texts):
            assert flat[off[i]:off[i + 1]].tolist() == ref_all_window_hashes(t, k), (i, t)

    def test_keeps_repeats_and_never_crosses_docs(self):
        flat, off = rolling.batch_window_hashes(pd.Series(["aaaaa", "bbb", "ab"]), 3)
        assert np.diff(off).tolist() == [3, 1, 0]
        aaa, bbb = ref_all_window_hashes("aaa", 3)[0], ref_all_window_hashes("bbb", 3)[0]
        # "aaaaa"+"bbb" would add "aab" and "abb" if windows crossed
        assert flat.tolist() == [aaa, aaa, aaa, bbb]


def ref_minhash(text, k: int, A, B):
    """Brute force: per-seed min of A*w + B mod 2^64 over the doc's SET
    of window hashes (None when the doc has no window)."""
    ws = set(ref_all_window_hashes(text, k))
    if not ws:
        return None
    return [min((a * w + b) % rolling.MOD64 for w in ws)
            for a, b in zip(A.tolist(), B.tolist())]


class TestSegmentAffineMin:
    @given(st.lists(st.lists(st.integers(0, 2**64 - 1), max_size=30),
                    min_size=1, max_size=8),
           st.integers(1, 8))
    @settings(max_examples=40, deadline=None)
    def test_matches_dense(self, segs, num_hashes):
        A, B = rolling.affine_family(num_hashes)
        flat = np.array([x for s in segs for x in s], dtype=np.uint64)
        off = np.zeros(len(segs) + 1, dtype=np.int64)
        np.cumsum([len(s) for s in segs], out=off[1:])
        got = rolling.segment_affine_min(flat, off, A, B)
        for i, s in enumerate(segs):
            if not s:
                assert (got[i] == rolling.U64_MAX).all()
                continue
            exp = [min((a * x + b) % rolling.MOD64 for x in s)
                   for a, b in zip(A.tolist(), B.tolist())]
            assert got[i].tolist() == exp, i

    @given(TEXTS, st.integers(min_value=1, max_value=6), st.integers(1, 6))
    @example(EDGE_TEXTS, 5, 6)
    @example(EDGE_TEXTS, 10, 2)
    @settings(max_examples=60, deadline=None)
    def test_texts_match_bruteforce_set_minhash(self, texts, k, num_hashes):
        """Minima over the duplicates-kept windows equal the minima over
        each doc's window SET, i.e. the sort-unique path's signatures."""
        A, B = rolling.affine_family(num_hashes)
        series = pd.Series(texts, dtype=object)
        got = rolling.segment_affine_min(*rolling.batch_window_hashes(series, k), A, B)
        dedup = rolling.segment_affine_min(
            *rolling.batch_window_hash_segments(series, k), A, B)
        assert (got == dedup).all()
        for i, t in enumerate(texts):
            exp = ref_minhash(t, k, A, B)
            if exp is None:
                assert (got[i] == rolling.U64_MAX).all(), (i, t)
            else:
                assert got[i].tolist() == exp, (i, t)

    def test_long_segment_between_empty_ones(self):
        # a 200k-value segment flanked by empty segments takes its global
        # min, and the empty segments stay at uint64 max
        A, B = rolling.affine_family(3)
        rng = np.random.default_rng(7)
        flat = rng.integers(0, 2**63, size=200_001, dtype=np.uint64)
        off = np.array([0, 0, 200_000, 200_000, 200_001], dtype=np.int64)
        got = rolling.segment_affine_min(flat, off, A, B)
        with np.errstate(over="ignore"):
            mapped = flat[:, None] * A[None, :] + B[None, :]
        assert (got[1] == mapped[:200_000].min(axis=0)).all()
        assert (got[3] == mapped[200_000]).all()
        assert (got[[0, 2]] == rolling.U64_MAX).all()


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

    @given(st.lists(st.one_of(st.none(), st.text(
        alphabet=st.sampled_from("ab \t\nXy\u00e9\u20ac\U0001f600"), max_size=50)),
        max_size=10))
    @example(EDGE_TEXTS)
    @settings(max_examples=60, deadline=None)
    def test_texts_match_bruteforce(self, texts):
        """Rolling SimHash of raw texts (None, empty, whitespace-only,
        repeated and multi-byte tokens) against the pure-Python
        token-hash majority."""
        flat, off = rolling.batch_token_hash_segments(pd.Series(texts, dtype=object))
        got = rolling.segment_bit_majority(flat, off)
        for i, t in enumerate(texts):
            toks = ref_token_hashes(t or "")
            exp = 0
            for bit in range(64):
                if 2 * sum((h >> bit) & 1 for h in toks) > len(toks):
                    exp |= 1 << bit
            assert int(got[i]) == exp, (i, t)

    def test_long_segment_and_ties(self):
        # 100k tokens where bit 0 is set in exactly half (a tie -> 0) and
        # bit 63 in all but one (-> 1); the trailing single-token segment
        # is its own majority
        h = np.zeros(100_000, dtype=np.uint64)
        h[::2] |= np.uint64(1)
        h[1:] |= np.uint64(1 << 63)
        flat = np.concatenate([h, np.array([5], dtype=np.uint64)])
        off = np.array([0, 100_000, 100_000, 100_001], dtype=np.int64)
        got = rolling.segment_bit_majority(flat, off)
        assert got.tolist() == [1 << 63, 0, 5]


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
        ] + [(100 + i, t) for i, t in EDGE_ROWS]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        got = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df).collect()
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
        plan = dedup.simhash_signatures(df)._jdf.queryExecution(
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


@pytest.mark.spark
class TestMinhashRollingSpark:
    ROWS = [(1, "the quick brown fox"), (2, "ab"), (3, None),
            (4, "aaaaaaaa aaaa"), (5, "\u00e9t\u00e9 \u20ac\u20ac \U0001f600 caf\u00e9")
            ] + [(100 + i, t) for i, t in EDGE_ROWS]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id bigint, text string")

    @staticmethod
    def _signed(values):
        return [v - rolling.MOD64 if v >= 1 << 63 else v for v in values]

    def test_signature_schema_and_values(self, spark):
        from pyspark.sql import types as T

        from osm_pbf_convert_spark.operators import dedup

        out = dedup._minhash_signatures_rolling(self._df(spark), 8, 3)
        assert out.schema == T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ])
        A, B = rolling.affine_family(8)
        exp = {i: ref_minhash(t, 3, A, B) for i, t in self.ROWS}
        got = {r["doc_id"]: r["sig"] for r in out.collect()}
        # docs with no 3-byte window (short, null) emit no row
        assert got == {i: self._signed(s) for i, s in exp.items() if s is not None}

    def test_band_rows_schema_and_values(self, spark):
        from pyspark.sql import types as T

        from osm_pbf_convert_spark.operators import dedup

        out = dedup._minhash_signatures_rolling(self._df(spark), 8, 3, bands=4)
        assert out.schema == T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ])
        A, B = rolling.affine_family(8)
        exp = set()
        for i, t in self.ROWS:
            s = ref_minhash(t, 3, A, B)
            if s is None:
                continue
            buckets = rolling.band_buckets(np.array([s], dtype=np.uint64), 4)[0]
            exp |= {(i, b, v) for b, v in enumerate(self._signed(buckets.tolist()))}
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(exp) and set(got) == exp


def ref_fingerprint(text, k: int, bottom_k: int) -> int:
    """Brute force: the bottom_k smallest distinct window hashes combined
    as sum_j h_j * _KR_COMBINE^(bottom_k-1-j) mod 2^64, as a signed long
    (no window -> 0)."""
    from osm_pbf_convert_spark.operators.text import _KR_COMBINE

    bot = ref_window_hashes(text or "", k)[:bottom_k]
    fp = sum(h * pow(_KR_COMBINE, bottom_k - 1 - j, rolling.MOD64)
             for j, h in enumerate(bot)) % rolling.MOD64
    return fp - rolling.MOD64 if fp >= 1 << 63 else fp


@pytest.mark.spark
class TestFingerprintRollingSpark:
    def test_matches_reference_on_edge_rows(self, spark):
        from osm_pbf_convert_spark.operators import text

        df = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
        for k, b in ((8, 8), (5, 3), (10, 4)):
            got = {r["doc_id"]: r["fingerprint"]
                   for r in text.fingerprint(df, shingle_k=k, bottom_k=b).collect()}
            assert got == {i: ref_fingerprint(t, k, b) for i, t in EDGE_ROWS}, k
        assert got[1] == got[2] and got[6] == got[7] == 0
