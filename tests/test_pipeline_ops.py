"""Tests for training-data pipeline operators: dedup, text, similarity,
multimodal plumbing, checkpoint/resume."""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_pbf_convert_spark.operators import dedup, multimodal, similarity, text
from osm_pbf_convert_spark.plans.checkpoint import CheckpointTable, pending_only, run_with_checkpoint


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog!", "en"),  # near dup
        (4, "der schnelle braune fuchs springt über den faulen hund und das ist gut", "de"),
        (5, "le renard brun rapide saute par dessus le chien paresseux dans la forêt", "fr"),
        (6, "це зовсім інший текст про щось не схоже на інші документи", "uk"),
        (7, "completely unrelated content about databases and distributed systems for all", "en"),
        (8, "", "en"),  # empty edge case
    ]
    return spark.createDataFrame(rows, schema="doc_id bigint, text string, lang string"), rows


@pytest.mark.spark
class TestDedup:
    def test_exact(self, docs_df):
        df, rows = docs_df
        out = dedup.exact_dedup(df).toPandas()
        assert sorted(out["doc_id"]) == [1, 3, 4, 5, 6, 7, 8]  # 2 removed (dup of 1)

    def test_minhash_lsh_finds_near_dup(self, docs_df):
        df, _ = docs_df
        pairs = dedup.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=4).toPandas()
        got = {tuple(r) for r in pairs[["a", "b"]].itertuples(index=False)}
        assert (1, 2) in got  # identical docs always collide
        assert (1, 3) in got or (2, 3) in got  # near dup collides w.h.p.
        assert (4, 7) not in got and (5, 7) not in got  # unrelated don't

    def test_hash_variants_agree_on_labeled_dups(self, docs_df):
        """The md5 oracle variant and the rolling production default are
        the same algorithm with the hash family swapped: both must find
        the identical pair and the near-dup, and reject unrelated docs;
        simhash variants must agree on hamming-0 groups."""
        df, _ = docs_df
        for fn in ("rolling", "md5"):
            pairs = dedup.minhash_lsh_pairs(
                df, num_hashes=32, bands=16, shingle_k=4, hash_fn=fn
            ).toPandas()
            got = {tuple(r) for r in pairs[["a", "b"]].itertuples(index=False)}
            assert (1, 2) in got, fn
            assert (1, 3) in got or (2, 3) in got, fn
            assert (4, 7) not in got and (5, 7) not in got, fn
        g64 = dedup.simhash_dedup_groups(df).toPandas()
        g60 = dedup.simhash_dedup_groups(df, bits=60, hash_fn="md5").toPandas()
        # identical docs (1, 2) form a hamming-0 group under either hash
        assert any({1, 2} <= set(ids) for ids in g64["ids"])
        assert any({1, 2} <= set(ids) for ids in g60["ids"])

    def test_hash_fn_accepts_only_rolling_and_md5(self, docs_df):
        """Every public signature entry point takes exactly "rolling" and
        "md5"; any other flavor name fails at call time, and so does the
        hash-set verify on the md5 flavor (it intersects rolling hashes)."""
        df, _ = docs_df
        entry_points = (
            dedup.minhash_signatures, dedup.minhash_lsh_pairs,
            dedup.ngram_jaccard_lsh_pairs, dedup.simhash_signatures,
            dedup.simhash_hamming_pairs, dedup.simhash_dedup_groups,
            text.fingerprint,
        )
        for fn in entry_points:
            for bad in ("xxhash64", "sha1"):
                with pytest.raises(ValueError, match="hash_fn"):
                    fn(df, hash_fn=bad)
        with pytest.raises(ValueError, match="verify_on_hashes"):
            dedup.ngram_jaccard_lsh_pairs(df, hash_fn="md5", verify_on_hashes=True)

    def test_ngram_jaccard(self, docs_df):
        df, _ = docs_df
        out = dedup.ngram_jaccard_pairs(df, shingle_k=4, threshold=0.5).toPandas()
        got = {(r["a"], r["b"]): r["jaccard"] for _, r in out.iterrows()}
        assert got[(1, 2)] == 1.0
        assert 0.5 <= got[(1, 3)] < 1.0
        assert (4, 5) not in got

    def test_ngram_jaccard_stop_shingle_guard(self, spark):
        """A shingle shared by d docs generates O(d^2) candidate pairs;
        max_doc_freq must drop it from candidate generation while keeping
        jaccard exact for surviving pairs (sizes count every shingle)."""
        hot = "alpha beta gamma delta epsilon zeta "  # one hot 6-shingle prefix
        rows = [(i, hot + f"unique{i} token{i} filler{i} pad{i} word{i} end{i}") for i in range(40)]
        rows += [(100, "totally distinct pair one two three four five six seven"),
                 (101, "totally distinct pair one two three four five six seven")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")

        # unguarded: every hot-prefix doc pairs with every other (>=780 pairs share >=1 shingle)
        cand_unguarded = (
            df.select("doc_id", F.explode(dedup.shingles_col(F.col("text"), 6)).alias("sh"))
            .alias("x").join(
                df.select(F.col("doc_id").alias("b"), F.explode(dedup.shingles_col(F.col("text"), 6)).alias("sh")),
                "sh")
            .filter(F.col("doc_id") < F.col("b")).select("doc_id", "b").distinct().count()
        )
        assert cand_unguarded >= 780

        # guarded: shingles in >5 docs are dropped from candidate gen
        out = dedup.ngram_jaccard_pairs(df, shingle_k=6, threshold=0.9, max_doc_freq=5).toPandas()
        got = {tuple(r) for r in out[["a", "b"]].itertuples(index=False)}
        assert (100, 101) in got  # rare-shingle dup still found, jaccard exact
        assert all(a == 100 for a, _ in got)  # hot-prefix docs produce no pairs at 0.9

    def test_ngram_jaccard_lsh_matches_exact(self, spark):
        """LSH-candidates + exact verify finds the same >= threshold pairs
        as the exhaustive inverted-index path (surviving jaccard values are
        exact; recall loss at these (r, b) is negligible for s >= 0.6)."""
        base = "the quick brown fox jumps over the lazy sleeping dog tonight "
        rows = [(i, base + f"variant {i} unique tail content number {i}") for i in range(20)]
        rows += [(100, base * 3), (101, base * 3 + "x"), (102, base * 3 + "yz")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        exact = dedup.ngram_jaccard_pairs(
            df, shingle_k=5, threshold=0.6, max_doc_freq=None
        ).toPandas()
        lsh = dedup.ngram_jaccard_lsh_pairs(
            df, shingle_k=5, threshold=0.6, num_hashes=32, bands=16
        ).toPandas()
        e = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in exact.iterrows()}
        l = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in lsh.iterrows()}
        assert set(l) == set(e)  # same pairs
        assert l == e  # identical exact jaccard values

    def test_bucket_cap_noop_when_large(self, docs_df):
        """max_bucket_size above every bucket's size must change nothing."""
        df, _ = docs_df
        base = dedup.minhash_lsh_pairs(df, num_hashes=32, bands=16, shingle_k=4).toPandas()
        capped = dedup.minhash_lsh_pairs(
            df, num_hashes=32, bands=16, shingle_k=4, max_bucket_size=10_000
        ).toPandas()
        key = lambda p: sorted(map(tuple, p[["a", "b"]].itertuples(index=False)))
        assert key(capped) == key(base)

    def test_bucket_cap_drops_boilerplate_bucket_keeps_real_pair(self, spark):
        """A planted boilerplate cluster (many identical docs -> one
        oversized bucket in EVERY band) is excluded by the cap, while a
        distinct near-dup pair in its own small buckets survives -- the
        LSH-at-scale guard semantics (found superlinear at the 64x
        rehearsal, zero verified-pair loss with the cap there)."""
        template = "identical boilerplate navigation header footer text " * 3
        rows = [(i, template) for i in range(40)]  # one 40-doc bucket per band
        rows += [(100, "a genuinely distinctive document about owls and rivers flowing"),
                 (101, "a genuinely distinctive document about owls and rivers flowing!")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        capped = dedup.minhash_lsh_pairs(
            df, num_hashes=32, bands=8, shingle_k=4, max_bucket_size=8
        ).toPandas()
        got = {tuple(r) for r in capped[["a", "b"]].itertuples(index=False)}
        assert (100, 101) in got  # the real pair survives
        assert not any(a < 40 and b < 40 for a, b in got)  # boilerplate capped
        # and the verify stage composes: ngram LSH with the cap still
        # returns the real pair with its exact jaccard
        v = dedup.ngram_jaccard_lsh_pairs(
            df, shingle_k=4, threshold=0.5, num_hashes=32, bands=8, max_bucket_size=8
        ).toPandas()
        vg = {tuple(r) for r in v[["a", "b"]].itertuples(index=False)}
        assert (100, 101) in vg
        assert not any(a < 40 and b < 40 for a, b in vg)

    def test_bucket_cap_plan_adds_no_join(self, docs_df):
        """The cap is a window count over the SAME (band, bucket) key the
        self-join shuffles on -- it must not introduce a broadcast join
        or cartesian."""
        df, _ = docs_df
        plan = dedup.minhash_lsh_pairs(
            df, num_hashes=32, bands=16, shingle_k=4, max_bucket_size=64
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        assert "BroadcastHashJoin" not in plan

    def test_full_rolling_lsh_matches_exact_path(self, spark):
        """hash_fn="rolling" + verify_on_hashes (zero substrings end to
        end) finds the same >= threshold pairs WITH the same exact
        jaccard values as the exhaustive inverted-index path (ASCII
        text: byte k-grams == char k-grams)."""
        base = "the quick brown fox jumps over the lazy sleeping dog tonight "
        rows = [(i, base + f"variant {i} unique tail content number {i}") for i in range(20)]
        rows += [(100, base * 3), (101, base * 3 + "x"), (102, base * 3 + "yz")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        exact = dedup.ngram_jaccard_pairs(
            df, shingle_k=5, threshold=0.6, max_doc_freq=None
        ).toPandas()
        roll = dedup.ngram_jaccard_lsh_pairs(
            df, shingle_k=5, threshold=0.6, num_hashes=32, bands=16,
            hash_fn="rolling", verify_on_hashes=True
        ).toPandas()
        e = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in exact.iterrows()}
        g = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in roll.iterrows()}
        assert g == e and len(g) > 0

    def test_rolling_signature_stage_has_no_shuffle(self, spark):
        """The rolling signature stage is a narrow Arrow map: its plan
        contains no Exchange."""
        df = spark.createDataFrame(
            [(1, "some document text body here")], "doc_id long, text string")
        plan = dedup.minhash_signatures(df, num_hashes=16, shingle_k=4)\
            ._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Exchange" not in plan

    def test_verify_on_hashes_parity(self, spark):
        """The 64-bit-hash verify flavor returns identical pairs AND
        identical exact jaccard values to the string-set verify (hash
        collisions are ~|S|^2/2^64; none at test scale)."""
        base = "the quick brown fox jumps over the lazy sleeping dog tonight "
        rows = [(i, base + f"variant {i} tail {i}") for i in range(15)]
        rows += [(100, base * 3), (101, base * 3 + "x")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        kw = dict(shingle_k=5, threshold=0.6, num_hashes=32, bands=16)
        a = dedup.ngram_jaccard_lsh_pairs(df, **kw).toPandas()
        b = dedup.ngram_jaccard_lsh_pairs(df, verify_on_hashes=True, **kw).toPandas()
        key = lambda p: sorted(
            (r["a"], r["b"], round(r["jaccard"], 9)) for _, r in p.iterrows())
        assert key(a) == key(b) and len(a) > 0

    def test_simhash_groups(self, docs_df):
        df, _ = docs_df
        groups = dedup.simhash_dedup_groups(df).toPandas()
        assert any(set(g) >= {1, 2} for g in groups["ids"])

    def test_embedding_neardup(self, spark):
        base = np.eye(4, dtype=np.float32)
        rows = [
            (1, base[0].tolist()),
            (2, (base[0] + 0.01 * base[1]).tolist()),  # ~same direction
            (3, base[2].tolist()),
        ]
        df = spark.createDataFrame(rows, schema="vec_id bigint, embedding array<float>")
        out = dedup.embedding_neardup_pairs(df, threshold=0.99, planes=8).toPandas()
        got = {tuple(r) for r in out[["a", "b"]].itertuples(index=False)}
        assert (1, 2) in got and (1, 3) not in got

    def test_embedding_neardup_empty_input(self, spark):
        """ADVICE r7: the dimension probe must not TypeError on an empty
        table -- an empty pair frame with the right schema comes back."""
        empty = spark.createDataFrame([], schema="vec_id bigint, embedding array<double>")
        out = dedup.embedding_neardup_pairs(empty, threshold=0.5)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["a", "b", "cosine"]

    def test_embedding_neardup_null_vector_raises_with_id(self, spark):
        """ADVICE r7: a single null/ragged embedding must fail loudly and
        NAME the offending row, not crash with a bare numpy stack error."""
        bad = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None)], schema="vec_id bigint, embedding array<double>"
        )
        with pytest.raises(Exception, match="vec_id=2"):
            dedup.embedding_neardup_pairs(bad, threshold=0.5).count()

    def _catalyst_buckets(self, df, signs):
        """The pre-round-7 per-plane Catalyst aggregate chain, kept here
        as the parity reference for the Arrow bucketing pass."""
        df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
        bucket = None
        for p, plane in enumerate(signs):
            sc = F.array(*[F.lit(float(s)) for s in plane])
            dot = F.aggregate(
                F.zip_with(F.col("embedding"), sc, lambda v, s: v * s),
                F.lit(0.0), lambda a, x: a + x,
            )
            b = F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long"))
            bucket = b if bucket is None else bucket.bitwiseOR(b)
        return df.select("vec_id", bucket.alias("bucket")).toPandas()

    def test_arrow_buckets_match_catalyst_fold(self, spark):
        """The mapInPandas bucketing must reproduce the sequential-fold
        Catalyst buckets BIT-IDENTICALLY -- including vectors engineered
        to put plane dots within one ulp of zero, where any summation
        reorder would flip a bit."""
        rng = np.random.default_rng(7)
        dim, planes, n = 16, 12, 400
        signs = (rng.integers(0, 2, size=(planes, dim)) * 2.0 - 1.0).tolist()
        vecs = rng.normal(size=(n, dim))
        # adversarial rows: dot within float64 rounding of zero for plane 0
        s0 = np.asarray(signs[0])
        for i in range(0, 40):
            v = rng.normal(size=dim)
            v -= s0 * (v @ s0) / dim  # orthogonalize against plane 0
            vecs[i] = v + rng.normal(scale=1e-16, size=dim)
        rows = [(int(i), vecs[i].tolist()) for i in range(n)]
        df = spark.createDataFrame(rows, schema="vec_id bigint, embedding array<double>")
        want = self._catalyst_buckets(df, signs).set_index("vec_id")["bucket"]
        got = (
            dedup._assign_hyperplane_buckets(
                df.withColumn("embedding", F.col("embedding").cast("array<double>")),
                "vec_id", "embedding", signs,
            ).toPandas().set_index("vec_id")["bucket"]
        )
        assert (got.sort_index() == want.sort_index()).all()

    def test_xxhash_sign_matrix_matches_expression(self, spark):
        """The literalized xxhash64 normals must equal the per-row
        expression the old path evaluated (same INT input types)."""
        dim, planes, seed = 16, 8, 42
        signs = dedup._hyperplane_sign_matrix(spark, planes, dim, seed)
        expr = spark.range(dim).select(
            F.col("id").cast("int").alias("d"),
            *[(F.pmod(F.xxhash64(F.lit(seed), F.lit(p), F.col("id").cast("int")),
                      F.lit(2)) == 1).alias(f"p{p}") for p in range(planes)],
        ).orderBy("d").collect()
        for p in range(planes):
            want = [1.0 if r[f"p{p}"] else -1.0 for r in expr]
            assert signs[p] == want


JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s class


def _md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _kgrams(text: str, k: int) -> set:
    t = text.lower()
    return {t[i: i + k] for i in range(len(t) - k + 1)}


def ref_md5_minhash(text: str, num_hashes: int, k: int):
    """Per-doc md5 minhash: distinct character k-grams of lower(text),
    60-bit base hash = first 15 hex chars of md5, Carter-Wegman mins.
    None when the doc has no k-gram (the operator emits no row)."""
    p = dedup.MERSENNE31
    xs = [int(_md5_hex(w)[:15], 16) % p for w in _kgrams(text, k)]
    if not xs:
        return None
    coeffs = [dedup.minhash_coeffs(i) for i in range(num_hashes)]
    return [min((a * x + b) % p for x in xs) for a, b in coeffs]


def ref_md5_simhash(text: str, bits: int) -> int:
    """Per-doc md5 simhash: tokens of lower(text) split on Java \\s, 60-bit
    md5 token hash, bit set iff set in a strict majority of tokens."""
    hs = [int(_md5_hex(t)[:15], 16) for t in JAVA_WS.split(text.lower()) if t]
    return sum(1 << i for i in range(bits)
               if 2 * sum((h >> i) & 1 for h in hs) > len(hs))


def ref_md5_fingerprint(text: str, k: int, bottom_k: int) -> str:
    """Per-doc md5 fingerprint: sorted hex digests of the distinct
    k-grams, bottom-k joined with ',', md5 of that string."""
    digs = sorted(_md5_hex(w) for w in _kgrams(text, k))
    return _md5_hex(",".join(digs[:bottom_k]))


@pytest.mark.spark
class TestMd5ArrowParity:
    """The md5 oracle flavors run as zero-shuffle Arrow passes
    (operators/md5win.py). They must equal a per-document hashlib
    reference VALUE-FOR-VALUE (the DuckDB oracle pins hash values, not
    just equality classes) on a corpus that exercises every edge:
    exact/near dups, empty text, text shorter than k, non-ASCII scripts
    (the per-doc fallback path), mixed-case, and every Java-\\s
    whitespace delimiter."""

    ROWS = [
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

    @pytest.fixture(scope="class")
    def mixed_df(self, spark):
        return spark.createDataFrame(self.ROWS, schema="doc_id bigint, text string")

    def test_minhash_signatures_exact(self, mixed_df):
        for k, h in ((5, 32), (6, 64), (8, 16), (10, 16)):
            got = {
                r["doc_id"]: list(r["sig"])
                for r in dedup.minhash_signatures(
                    mixed_df, num_hashes=h, shingle_k=k, hash_fn="md5").collect()
            }
            want = {i: ref_md5_minhash(t, h, k) for i, t in self.ROWS}
            assert got == {i: s for i, s in want.items() if s is not None}, k

    def test_simhash_signatures_exact(self, mixed_df):
        for bits in (60, 32):
            got = {
                r["doc_id"]: r["simhash"]
                for r in dedup.simhash_signatures(
                    mixed_df, bits=bits, hash_fn="md5").collect()
            }
            assert got == {i: ref_md5_simhash(t, bits) for i, t in self.ROWS}, bits

    def test_fingerprint_exact(self, mixed_df):
        for k, b in ((8, 8), (5, 3), (10, 4)):
            got = {
                r["doc_id"]: r["fingerprint"]
                for r in text.fingerprint(
                    mixed_df, shingle_k=k, bottom_k=b, hash_fn="md5").collect()
            }
            assert got == {i: ref_md5_fingerprint(t, k, b) for i, t in self.ROWS}, k


@pytest.mark.spark
class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([("hello world, 42 times!",), ("",)], schema="text string")
        out = df.select(
            text.whitespace_token_count(F.col("text")).alias("ws"),
            text.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
        assert out[0]["ws"] == 4
        # hello | world | , | 42 | times | !
        assert out[0]["bpe"] == 6
        assert out[1]["ws"] == 0 and out[1]["bpe"] == 0

    def test_quality(self, docs_df):
        df, _ = docs_df
        out = text.quality_features(df).toPandas().set_index("doc_id")
        assert out.loc[8, "n_tokens_ws"] == 0 and out.loc[8, "quality_score"] < 0.3
        assert out.loc[1, "stopword_ratio"] > 0.1
        assert (out["quality_score"] >= 0).all() and (out["quality_score"] <= 1).all()

    def test_lang_id(self, docs_df):
        df, rows = docs_df
        out = text.lang_id(df).toPandas().set_index("doc_id")["lang_pred"]
        assert out[1] == "en" and out[4] == "de" and out[5] == "fr" and out[6] == "uk"
        assert out[8] == "und"

    def test_fingerprint_matches_dups(self, docs_df):
        df, _ = docs_df
        out = text.fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
        assert out[1] == out[2]
        assert out[1] != out[7]

    def test_fingerprint_flavors_same_equality_classes(self, docs_df):
        """rolling / md5 differ by hash family but must induce the SAME
        duplicate partition of the corpus (the operator's contract);
        rolling handles sub-k and empty texts as 0."""
        from itertools import combinations

        df, rows = docs_df
        fps = {h: text.fingerprint(df, hash_fn=h).toPandas()
               .set_index("doc_id")["fingerprint"]
               for h in ("rolling", "md5")}
        ids = [r[0] for r in rows if len(r[1]) >= 8]
        for a, b in combinations(ids, 2):
            dup = fps["md5"][a] == fps["md5"][b]
            assert (fps["rolling"][a] == fps["rolling"][b]) == dup, (a, b)
        assert fps["rolling"][8] == 0  # empty text

    def test_fingerprint_rolling_batch_boundaries(self, spark):
        """Window hashes are computed over a concatenated batch buffer --
        windows must never leak across document boundaries: permuting
        the batch order cannot change any fingerprint."""
        import hashlib

        # genuinely distinct bodies (a shared prefix with one digit changed
        # legitimately shares a bottom-k sketch -- that is the operator
        # working, not a boundary leak)
        rows = [(i, hashlib.sha256(str(i).encode()).hexdigest() * 3)
                for i in range(50)]
        a = text.fingerprint(
            spark.createDataFrame(rows, "doc_id long, text string"),
            hash_fn="rolling").toPandas().set_index("doc_id")["fingerprint"]
        b = text.fingerprint(
            spark.createDataFrame(rows[::-1], "doc_id long, text string"),
            hash_fn="rolling").toPandas().set_index("doc_id")["fingerprint"]
        assert a.sort_index().equals(b.sort_index())
        assert a.nunique() == 50


@pytest.mark.spark
class TestSimilarity:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        rng = np.random.default_rng(5)
        X = rng.normal(size=(200, 8)).astype(np.float32)
        rows = [(int(i), X[i].tolist()) for i in range(200)]
        return spark.createDataFrame(rows, schema="vec_id bigint, embedding array<float>"), X

    def test_brute_force_exact(self, spark, vectors):
        vdf, X = vectors
        q = X[:3]
        qdf = spark.createDataFrame(
            [(i, q[i].tolist()) for i in range(3)], schema="query_id bigint, query_vec array<float>"
        )
        out = similarity.brute_force_topk(vdf, qdf, k=5).toPandas()
        Xd = X.astype(np.float64)
        for qi in range(3):
            cos = (Xd @ Xd[qi]) / (np.linalg.norm(Xd, axis=1) * np.linalg.norm(Xd[qi]))
            exp = np.lexsort((np.arange(len(cos)), -cos))[:5].tolist()
            got = out[out["query_id"] == qi].sort_values("rank")["vec_id"].tolist()
            assert got == exp
            assert got[0] == qi  # self is nearest

    def test_ivf_recall(self, spark, vectors):
        vdf, X = vectors
        qdf = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(5)], schema="query_id bigint, query_vec array<float>"
        )
        exact = similarity.brute_force_topk(vdf, qdf, k=3).toPandas()
        approx = similarity.ivf_topk(vdf, qdf, k=3, ncells=8, nprobe=4).toPandas()
        # recall@3 with half the cells probed should be high on random data
        rec = 0
        for qi in range(5):
            e = set(exact[exact["query_id"] == qi]["vec_id"])
            a = set(approx[approx["query_id"] == qi]["vec_id"])
            rec += len(e & a) / 3
        assert rec / 5 >= 0.6
        # self always found (its cell is always probed)
        for qi in range(5):
            assert qi in set(approx[approx["query_id"] == qi]["vec_id"])

    def test_ivf_plan_independent_of_ncells(self, spark, vectors):
        """Centroids ship as a broadcast variable, not plan literals: the
        physical plan must not grow with ncells (the old expr-unrolled
        probe exploded at the 1e4-1e5 cells a 100 TB corpus needs)."""
        vdf, X = vectors
        qdf = spark.createDataFrame(
            [(0, X[0].tolist())], schema="query_id bigint, query_vec array<float>"
        )
        plans = {}
        for nc in (8, 128):
            cents = np.asarray(X[: min(nc, len(X))], dtype=np.float64)
            df = similarity.ivf_topk(vdf, qdf, k=3, ncells=nc, nprobe=2, centroids=cents)
            plans[nc] = df._jdf.queryExecution().executedPlan().toString()
        assert len(plans[128]) < 1.2 * len(plans[8])

    def test_ivf_trained_recall_gate(self, spark):
        """The trained PRODUCTION path end to end (train_centroids ->
        ivf_topk) against the exact baseline on the real sf0.1 embeddings
        table. That corpus is ISOTROPIC random -- IVF's adversarial case,
        where recall can only track probed cell mass -- so the gate is
        curve-matched: recall@10 >= 0.80 at nprobe=24 of ncells=sqrt(N)=44
        (measured 0.872; tools/ivf_recall.py records the full curve and
        additionally gates the structured 10x corpus at 0.90)."""
        import math
        import os

        from pyspark.sql import functions as F

        sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        vdf = spark.read.parquet(f"{sf}/embeddings.parquet")
        n = vdf.count()
        q = (
            vdf.orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(7)))
            .limit(20)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"))
        )
        exact = similarity.brute_force_topk(vdf, q, k=10).toPandas()
        cents = similarity.train_centroids(vdf, max(16, int(math.sqrt(n))))
        approx = similarity.ivf_topk(vdf, q, k=10, nprobe=24, centroids=cents).toPandas()
        qs = exact["query_id"].unique()
        rec = sum(
            len(set(exact[exact["query_id"] == qi]["vec_id"])
                & set(approx[approx["query_id"] == qi]["vec_id"])) / 10
            for qi in qs
        ) / len(qs)
        assert rec >= 0.80, rec

    def test_ivf_many_cells(self, spark, vectors):
        """ncells larger than the corpus (argpartition path) still returns
        self as nearest for every query."""
        vdf, X = vectors
        qdf = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(4)], schema="query_id bigint, query_vec array<float>"
        )
        out = similarity.ivf_topk(vdf, qdf, k=1, ncells=4096, nprobe=3).toPandas()
        for qi in range(4):
            assert set(out[out["query_id"] == qi]["vec_id"]) == {qi}


@pytest.mark.spark
class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            (1, "image", b"\x89PNGfake1", (64, 48, None, None, "image/png")),
            (2, "image", b"\x89PNGfake2", (32, 32, None, None, "image/png")),
            (3, "video", b"RIFFfake", (640, 480, None, 30, "video/avi")),
            (4, "audio", None, (None, None, 44100, None, "audio/wav")),
        ]
        return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)

    def test_stub_raises(self, media):
        with pytest.raises(Exception) as ei:
            multimodal.extract_features(media, decoder="stub").collect()
        assert "NotImplementedError" in str(ei.value) or "decode" in str(ei.value)

    def test_fake_features_deterministic(self, media):
        a = multimodal.extract_features(media, dim=16, decoder="fake").toPandas()
        b = multimodal.extract_features(media, dim=16, decoder="fake").toPandas()
        a = a.sort_values("media_id").reset_index(drop=True)
        b = b.sort_values("media_id").reset_index(drop=True)
        assert all(len(v) == 16 for v in a["feature"])
        for x, y in zip(a["feature"], b["feature"]):
            assert np.array_equal(np.asarray(x), np.asarray(y))

    def test_frame_sampling(self, media):
        frames = multimodal.sample_frames(media.filter("kind='video'"), every_n=10, decoder="fake").toPandas()
        assert frames["frame_index"].tolist() == [0, 10, 20]
        assert frames["media_id"].nunique() == 1

    def test_numpy_codecs_roundtrip(self):
        """Pure-numpy BMP and PPM codecs: encode -> decode is pixel-exact
        (incl. non-multiple-of-4 BMP row padding)."""
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image_np(multimodal.encode_bmp(px)), px)
        assert np.array_equal(multimodal.decode_image_np(multimodal.encode_ppm(px)), px)
        # PPM with comments and multi-whitespace header
        hdr = b"P6\n# a comment\n 7\t13 \n255\n" + px.tobytes()
        assert np.array_equal(multimodal.decode_image_np(hdr), px)

    def test_numpy_real_decode_features(self, spark):
        """decoder='numpy' exercises the FULL path -- real bytes -> real
        pixels -> histogram feature -- and the same pixels encoded as BMP
        vs PPM must produce the identical feature vector."""
        rng = np.random.default_rng(4)
        px1 = rng.integers(0, 256, size=(24, 16, 3), dtype=np.uint8)
        px2 = np.zeros((8, 8, 3), dtype=np.uint8)  # all-black: known histogram
        rows = [
            (1, "image", multimodal.encode_bmp(px1), (16, 24, None, None, "image/bmp")),
            (2, "image", multimodal.encode_ppm(px1), (16, 24, None, None, "image/x-portable-pixmap")),
            (3, "image", multimodal.encode_ppm(px2), (8, 8, None, None, "image/x-portable-pixmap")),
        ]
        df = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
        out = (
            multimodal.extract_features(df, dim=8, decoder="numpy")
            .toPandas().sort_values("media_id").reset_index(drop=True)
        )
        f_bmp, f_ppm, f_black = (np.asarray(v) for v in out["feature"])
        assert np.array_equal(f_bmp, f_ppm)  # same pixels, either container
        assert f_black[0] == 1.0 and f_black[1:].sum() == 0  # black -> first bin
        assert abs(f_bmp.sum() - 1.0) < 1e-6  # normalized histogram

    def test_numpy_real_resize(self, spark):
        """decoder='numpy' really resamples: output decodes to the target
        dims with nearest-neighbor-selected source pixels."""
        px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
        df = spark.createDataFrame(
            [(1, "image", multimodal.encode_bmp(px), (6, 4, None, None, "image/bmp"))],
            schema=multimodal.MEDIA_SCHEMA,
        )
        out = multimodal.resize_images(df, width=3, height=2, decoder="numpy").collect()[0]
        rp = multimodal.decode_image_np(bytes(out["content"]))
        assert rp.shape == (2, 3, 3)
        assert np.array_equal(rp, px[[0, 2]][:, [0, 2, 4]])  # nn index sampling
        assert out["meta"]["width"] == 3 and out["meta"]["height"] == 2

    def test_numpy_decoder_rejects_unknown_magic(self, media):
        from pyspark.errors.exceptions.captured import PythonException

        with pytest.raises(PythonException, match="unsupported image magic"):
            multimodal.extract_features(
                media.filter("media_id = 1"), decoder="numpy"
            ).collect()

    def test_pil_decoder_when_available(self, spark):
        pytest.importorskip("PIL")
        px = np.random.default_rng(2).integers(0, 256, size=(5, 5, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, "image", multimodal.encode_bmp(px), (5, 5, None, None, "image/bmp"))],
            schema=multimodal.MEDIA_SCHEMA,
        )
        out = multimodal.extract_features(df, dim=8, decoder="pil").collect()
        assert len(out[0]["feature"]) == 8


@pytest.mark.spark
class TestCheckpoint:
    def test_exists_probes_hadoop_fs_uri(self, spark, tmp_path):
        """_exists goes through the Hadoop FileSystem API, so scheme-
        qualified URIs (file://, s3a://, hdfs://) work -- a driver-local
        os.path probe silently returned False for them, making resume
        reprocess everything on object stores."""
        path = tmp_path / "ckpt_uri"
        table = CheckpointTable(f"file://{path}")
        assert not table._exists(spark)
        rows = spark.createDataFrame([(0, 5)], schema="partition_id bigint, n_rows bigint")
        table.commit(spark, "job-uri", rows)
        assert table._exists(spark)
        got = table.completed(spark, "job-uri").toPandas()
        assert got["partition_id"].tolist() == [0]

    def test_resume_skips_committed(self, spark, tmp_path):
        table = CheckpointTable(str(tmp_path / "ckpt"))
        sink = str(tmp_path / "out")
        df = spark.range(100).withColumn("partition_id", F.pmod("id", F.lit(4)))

        calls = []

        def process(pend):
            calls.append(1)
            return pend.withColumn("doubled", F.col("id") * 2)

        n1 = run_with_checkpoint(spark, df, process, sink, table, "job1")
        assert n1 == 4
        out1 = spark.read.parquet(sink)
        assert out1.count() == 100
        # second run: nothing pending
        n2 = run_with_checkpoint(spark, df, process, sink, table, "job1")
        assert n2 == 0
        # pending_only filters committed partitions
        assert pending_only(spark, df, table, "job1").count() == 0
        # metrics recorded per partition
        m = table.metrics(spark, "job1").toPandas()
        assert set(m["partition_id"]) == {0, 1, 2, 3}
        assert m[m["metric_name"] == "n_rows"]["metric_value"].sum() == 100

    def test_partial_resume(self, spark, tmp_path):
        table = CheckpointTable(str(tmp_path / "ckpt2"))
        sink = str(tmp_path / "out2")
        df = spark.range(40).withColumn("partition_id", F.pmod("id", F.lit(4)))
        # pre-commit partitions 0 and 1 manually (simulating a prior run)
        pre = spark.createDataFrame([(0, 10), (1, 10)], "partition_id bigint, n_rows bigint")
        table.commit(spark, "job2", pre)
        seen = []

        def process(pend):
            seen.append(pend)
            return pend
        n = run_with_checkpoint(spark, df, process, sink, table, "job2")
        assert n == 2  # only 2 and 3 processed
        got_parts = {r["partition_id"] for r in spark.read.parquet(sink).select("partition_id").distinct().collect()}
        assert got_parts == {2, 3}


@pytest.mark.spark
class TestStats:
    def test_median_split_invariant(self, spark):
        """Port of the reference QuickSortSplitTests invariant: split within
        count/100 of the median, max(left) <= split <= min(right)."""
        import random

        rng = random.Random(125)
        vals = [rng.randint(0, 10**6) for _ in range(1000)]
        df = spark.createDataFrame([(v,) for v in vals], "v bigint")
        from osm_pbf_convert_spark.operators.stats import median_split

        m = median_split(df, "v", rel_err=0.01)
        below = sorted(vals).index(sorted(vals, key=lambda x: abs(x - m))[0])
        rank = sum(1 for v in vals if v <= m)
        assert abs(rank - 500) <= 1000 // 100 + 1
        left = [v for v in vals if v <= m]
        right = [v for v in vals if v > m]
        assert max(left) <= min(right)

    def test_median_split_duplicates(self, spark):
        vals = [i % 300 for i in range(900)]
        df = spark.createDataFrame([(v,) for v in vals], "v bigint")
        from osm_pbf_convert_spark.operators.stats import median_split

        m = median_split(df, "v", rel_err=0.01)
        rank = sum(1 for v in vals if v <= m)
        assert abs(rank - 450) <= 900 // 100 + 150  # duplicate plateaus shift rank

    def test_way_size_summary(self, spark, sf_dir):
        from osm_pbf_convert_spark import queries as Q
        from osm_pbf_convert_spark.operators.joins import resolve_ways
        from osm_pbf_convert_spark.operators.stats import way_size_summary

        res = resolve_ways(Q._li_ways(spark, sf_dir), Q._li_nodes(spark, sf_dir), keep_tags=False)
        s = way_size_summary(res)
        assert s["max_nodes"] >= 1 and s["n_ways"] > 0
        assert len(s["box_size_quantiles"]) == 6
        assert s["box_size_quantiles"] == sorted(s["box_size_quantiles"])


@pytest.mark.spark
class TestTagDictionaryFile:
    def test_load_from_json(self, spark):
        from osm_pbf_convert_spark.operators.tags import TagDictionary

        td = TagDictionary.load("data/tags_map.json")
        assert td.key_codes["name"] == 1
        assert "created_by" in td.stoplist
        df = spark.createDataFrame(
            [(1, {"amenity": "cafe", "created_by": "x", "name": "N", "zzz": "drop"})],
            schema="id bigint, tags map<string,string>",
        )
        out = td.encode(spark, df, kind="node").toPandas()
        assert len(out) == 2  # cafe -> 1001, name -> key 1; created_by+zzz dropped


@pytest.mark.spark
class TestStreaming:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        """availableNow streaming run over the events parquet produces the
        same windowed counts as the batch transformation."""
        from osm_pbf_convert_spark.streaming.windows import (
            stream_windowed_event_counts,
            windowed_event_counts,
        )

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        batch = (
            windowed_event_counts(events)
            .select("window_start", "event_type", "n_events")
            .toPandas()
            .sort_values(["window_start", "event_type"])
            .reset_index(drop=True)
        )
        schema = events.schema.simpleString()[7:-1].replace(":", " ")
        evdir = tmp_path / "events_only"
        evdir.mkdir()
        (evdir / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
        sdf = stream_windowed_event_counts(spark, str(evdir), schema)
        q = (
            sdf.writeStream.format("memory")
            .queryName("wincounts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.sql("select * from wincounts")
            .toPandas()
            .sort_values(["window_start", "event_type"])
            .reset_index(drop=True)
        )
        assert got.equals(batch[["window_start", "event_type", "n_events"]])

    def test_stream_tile_counts_match_batch(self, spark, sf_dir, tmp_path):
        """Streaming geo rollup (windowed per-tile counts) under
        availableNow replay equals the batch transformation."""
        from pyspark.sql import functions as F

        from osm_pbf_convert_spark import sql_fixtures as SX
        from osm_pbf_convert_spark.streaming.tiles import (
            stream_windowed_tile_counts,
            windowed_tile_counts,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "ts",
            F.expr(SX.ilat_sql("event_id")).cast("int").alias("ilat"),
            F.expr(SX.ilon_sql("event_id")).cast("int").alias("ilon"),
        )
        pts_dir = tmp_path / "pts"
        ev.write.mode("overwrite").parquet(str(pts_dir))
        batch = (
            windowed_tile_counts(spark.read.parquet(str(pts_dir)), z=8)
            .toPandas().sort_values(["window_start", "tile"]).reset_index(drop=True)
        )
        sdf = stream_windowed_tile_counts(
            spark, str(pts_dir), "ts timestamp_ntz, ilat int, ilon int", z=8
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("tilewin")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "tckpt"))
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.sql("select * from tilewin")
            .toPandas().sort_values(["window_start", "tile"]).reset_index(drop=True)
        )
        assert got.equals(batch[["window_start", "tile", "cnt"]])


@pytest.mark.spark
class TestSimhashHamming:
    def test_pairs_vs_bruteforce(self, spark, docs_df):
        df, _ = docs_df
        got = dedup.simhash_hamming_pairs(df, max_hamming=6).toPandas()
        got_pairs = {(r["a"], r["b"]): r["hamming"] for _, r in got.iterrows()}
        # brute force oracle over the same (rolling) signatures
        sigs = (
            dedup.simhash_signatures(df)
            .toPandas().set_index("doc_id")["simhash"].to_dict()
        )
        ids = sorted(sigs)
        exp = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if h <= 6:
                    exp[(a, b)] = h
        assert got_pairs == exp
        assert (1, 2) in got_pairs and got_pairs[(1, 2)] == 0


@pytest.mark.spark
class TestStatefulSessions:
    def test_stream_sessions_match_batch(self, spark, sf_dir, tmp_path):
        """applyInPandasWithState sessionizer vs the exact batch window
        computation: every CLOSED streamed session must appear in the batch
        session set with identical (user, start, end, count)."""
        from osm_pbf_convert_spark import queries as Q
        from osm_pbf_convert_spark.streaming.sessions import stream_sessionize

        batch = Q.q_sessionization(spark, sf_dir).toPandas()
        batch_keys = {
            (r["user_id"], r["t_start"], r["t_end"], r["n_events"]) for _, r in batch.iterrows()
        }
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        schema = events.schema.simpleString()[7:-1].replace(":", " ")
        evdir = tmp_path / "events_only"
        evdir.mkdir()
        (evdir / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
        sdf = stream_sessionize(spark, str(evdir), schema, gap_seconds=1800)
        q = (
            sdf.writeStream.format("memory")
            .queryName("sessions_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        # ProcessingTimeTimeout keeps scheduling timer batches, so the query
        # outlives availableNow; wait for the data batches then stop.
        q.awaitTermination(25)
        q.stop()
        got = spark.sql("select * from sessions_out").toPandas()
        assert len(got) > 0, "expected at least some closed sessions"
        for _, r in got.iterrows():
            key = (r["user_id"], r["t_start"], r["t_end"], r["n_events"])
            assert key in batch_keys, f"streamed session {key} not in batch sessions"
