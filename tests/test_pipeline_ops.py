"""Tests for training-data pipeline operators: dedup, text, similarity,
image features, checkpoint/resume."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_pbf_convert_spark.operators import dedup, multimodal, similarity, text
from osm_pbf_convert_spark.plans.checkpoint import CheckpointTable, run_with_checkpoint


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
        """The window-hash verify (zero substrings end to end) finds the
        same >= threshold pairs WITH the same exact jaccard values as the
        exhaustive inverted-index path (ASCII text: byte k-grams == char
        k-grams)."""
        base = "the quick brown fox jumps over the lazy sleeping dog tonight "
        rows = [(i, base + f"variant {i} unique tail content number {i}") for i in range(20)]
        rows += [(100, base * 3), (101, base * 3 + "x"), (102, base * 3 + "yz")]
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        exact = dedup.ngram_jaccard_pairs(
            df, shingle_k=5, threshold=0.6, max_doc_freq=None
        ).toPandas()
        roll = dedup.ngram_jaccard_lsh_pairs(
            df, shingle_k=5, threshold=0.6, num_hashes=32, bands=16
        ).toPandas()
        e = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in exact.iterrows()}
        g = {(r["a"], r["b"]): round(r["jaccard"], 9) for _, r in roll.iterrows()}
        assert g == e and len(g) > 0

    def test_lsh_jaccard_is_over_utf8_byte_windows(self, spark):
        """The verify intersects the k-byte window sets the signatures
        minimize over: on multi-byte text the returned jaccard equals a
        brute-force jaccard of UTF-8 byte k-grams, not of char k-grams."""
        k = 5

        def grams(t, as_bytes):
            s = t.lower().encode("utf-8") if as_bytes else t.lower()
            return {s[i:i + k] for i in range(len(s) - k + 1)}

        def jac(x, y, as_bytes):
            a, b = grams(x, as_bytes), grams(y, as_bytes)
            return len(a & b) / len(a | b)

        base = "größere übung für äpfel, öfen und straßenbahn "
        rows = [(1, base * 2), (2, base * 2 + "é"), (3, base + "ЖЖ" + base),
                (4, "совсем другой текст без общих слов"), (5, "日本語のテキストです")]
        texts = dict(rows)
        df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
        # 32 bands of 2 rows: every pair with s >= 0.5 collides w.h.p.;
        # threshold 0 keeps every verified candidate
        got = dedup.ngram_jaccard_lsh_pairs(
            df, shingle_k=k, threshold=0.0, num_hashes=64, bands=32).collect()
        got = {(r["a"], r["b"]): r["jaccard"] for r in got}
        assert {(1, 2), (1, 3), (2, 3)} <= set(got)
        for (a, b), j in got.items():
            assert j == pytest.approx(jac(texts[a], texts[b], True), abs=1e-12), (a, b)
        # the planted pairs tell byte windows from char k-grams apart
        assert any(jac(texts[a], texts[b], True) != jac(texts[a], texts[b], False)
                   for a, b in ((1, 2), (1, 3), (2, 3)))

    def test_rolling_signature_stage_has_no_shuffle(self, spark):
        """The rolling signature stage is a narrow Arrow map: its plan
        contains no Exchange."""
        df = spark.createDataFrame(
            [(1, "some document text body here")], "doc_id long, text string")
        plan = dedup._minhash_signatures_rolling(df, 16, 4)\
            ._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Exchange" not in plan

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
                df.withColumn("embedding", F.col("embedding").cast("array<double>")), signs
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
        ).toPandas().set_index("doc_id")["fingerprint"]
        b = text.fingerprint(
            spark.createDataFrame(rows[::-1], "doc_id long, text string"),
        ).toPandas().set_index("doc_id")["fingerprint"]
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


MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, mime:string>"
)


def _encode_ppm(px: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> binary PPM (P6)."""
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(px, dtype=np.uint8).tobytes()


@pytest.mark.spark
class TestMultimodal:
    def test_numpy_codecs_roundtrip(self):
        """The pure-numpy PPM decoder is pixel-exact, including headers
        with comments and runs of whitespace."""
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_image_np(_encode_ppm(px)), px)
        # PPM with comments and multi-whitespace header
        hdr = b"P6\n# a comment\n 7\t13 \n255\n" + px.tobytes()
        assert np.array_equal(multimodal.decode_image_np(hdr), px)

    def test_numpy_real_decode_features(self, spark):
        """extract_features exercises the FULL path -- real bytes -> real
        pixels -> histogram feature."""
        rng = np.random.default_rng(4)
        px1 = rng.integers(0, 256, size=(24, 16, 3), dtype=np.uint8)
        px2 = np.zeros((8, 8, 3), dtype=np.uint8)  # all-black: known histogram
        rows = [
            (2, "image", _encode_ppm(px1), (16, 24, None, None, "image/x-portable-pixmap")),
            (3, "image", _encode_ppm(px2), (8, 8, None, None, "image/x-portable-pixmap")),
        ]
        df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
        out = (
            multimodal.extract_features(df, dim=8)
            .toPandas().sort_values("media_id").reset_index(drop=True)
        )
        f_ppm, f_black = (np.asarray(v) for v in out["feature"])
        assert np.array_equal(f_ppm, multimodal._pixel_feature(px1, 8))  # decoded pixels
        assert f_black[0] == 1.0 and f_black[1:].sum() == 0  # black -> first bin
        assert abs(f_ppm.sum() - 1.0) < 1e-6  # normalized histogram

    def test_numpy_decoder_rejects_unknown_magic(self, spark):
        from pyspark.errors.exceptions.captured import PythonException

        media = spark.createDataFrame(
            [(1, "image", b"\x89PNGfake1", (64, 48, None, None, "image/png"))],
            schema=MEDIA_SCHEMA,
        )
        with pytest.raises(PythonException, match="unsupported image magic"):
            multimodal.extract_features(media).collect()


def _capture(seen: list):
    """A ``process_fn`` that records the pending frame it is given."""
    def process(pend):
        seen.append(pend)
        return pend
    return process


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
        assert table.completed_ids(spark, "job-uri") == {0}

    def test_resume_skips_committed(self, spark, tmp_path):
        table = CheckpointTable(str(tmp_path / "ckpt"))
        sink = str(tmp_path / "out")
        df = spark.range(100).withColumn("partition_id", F.pmod("id", F.lit(4)))

        seen = []

        def process(pend):
            seen.append(pend)
            return pend.withColumn("doubled", F.col("id") * 2)

        n1 = run_with_checkpoint(spark, df, process, sink, table, "job1")
        assert n1 == 4
        out1 = spark.read.parquet(sink)
        assert out1.count() == 100
        # second run: nothing pending, the committed partitions are filtered
        n2 = run_with_checkpoint(spark, df, process, sink, table, "job1")
        assert n2 == 0
        assert seen[-1].count() == 0
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
        n = run_with_checkpoint(spark, df, _capture(seen), sink, table, "job2")
        assert n == 2  # only 2 and 3 processed
        assert {r[0] for r in seen[0].select("partition_id").distinct().collect()} == {2, 3}
        got_parts = {r["partition_id"] for r in spark.read.parquet(sink).select("partition_id").distinct().collect()}
        assert got_parts == {2, 3}

    def test_resume_reads_no_committed_partition(self, spark, tmp_path):
        """The sink read-back filters on the committed set, so committed
        partition directories are pruned and never opened: a file that is
        not Parquet inside one cannot fail the resumed batch."""
        table = CheckpointTable(str(tmp_path / "ckpt3"))
        sink = tmp_path / "out3"
        df = spark.range(40).withColumn("partition_id", F.pmod("id", F.lit(4)))
        first = df.filter(F.col("partition_id") < 2)
        assert run_with_checkpoint(spark, first, lambda p: p, str(sink), table, "job3") == 2
        (sink / "partition_id=0" / "part-99999-corrupt.parquet").write_bytes(b"not parquet")
        assert run_with_checkpoint(spark, df, lambda p: p, str(sink), table, "job3") == 2
        lineage = table.metrics(spark, "job3").toPandas()
        assert sorted(lineage["partition_id"]) == [0, 1, 2, 3]
        assert lineage["n_rows"].tolist() == [10, 10, 10, 10]

    def test_null_partition_ids_stay_pending(self, spark, tmp_path):
        """A null partition_id never counts as committed (the anti-join
        semantics): its rows are re-processed, replaced and re-counted on
        every run, and they never make the committed ids drop other rows."""
        table = CheckpointTable(str(tmp_path / "ckpt4"))
        sink = str(tmp_path / "out4")
        pid = F.when(F.col("id") < 6, F.lit(None)).otherwise(F.pmod("id", F.lit(3)))
        df = spark.range(30).withColumn("partition_id", pid.cast("bigint"))
        assert run_with_checkpoint(spark, df, lambda p: p, sink, table, "job4") == 4
        assert table.completed_ids(spark, "job4") == {0, 1, 2}
        seen = []
        assert run_with_checkpoint(spark, df, _capture(seen), sink, table, "job4") == 1
        assert seen[0].count() == 6
        assert spark.read.parquet(sink).count() == 30
        null_rows = table.metrics(spark, "job4").filter(F.col("partition_id").isNull())
        assert [r["n_rows"] for r in null_rows.collect()] == [6, 6]

    def test_pending_plan_is_a_filter(self, spark, tmp_path):
        """Resume filters on the driver-side committed set: no join and no
        broadcast, and no filter at all while the table does not exist."""
        df = spark.range(20).withColumn("partition_id", F.pmod("id", F.lit(4)))
        plan = lambda d: d._jdf.queryExecution().executedPlan().toString()  # noqa: E731
        seen = []
        fresh_table = CheckpointTable(str(tmp_path / "ckpt5_fresh"))
        run_with_checkpoint(spark, df, _capture(seen), str(tmp_path / "out5_fresh"),
                            fresh_table, "job5")
        fresh = plan(seen[0])
        assert "Join" not in fresh and "BroadcastExchange" not in fresh
        assert "Filter" not in fresh
        table = CheckpointTable(str(tmp_path / "ckpt5"))
        table.commit(spark, "job5", df.groupBy("partition_id").count()
                     .withColumnRenamed("count", "n_rows").filter("partition_id = 1"))
        run_with_checkpoint(spark, df, _capture(seen), str(tmp_path / "out5"), table, "job5")
        resumed = plan(seen[1])
        assert "Join" not in resumed and "BroadcastExchange" not in resumed
        assert seen[1].count() == 15

    def test_lineage_counts_match_sink(self, spark, tmp_path):
        """Per-partition lineage n_rows equal the sink's per-partition
        counts, and a second run appends no lineage row."""
        table = CheckpointTable(str(tmp_path / "ckpt6"))
        sink = str(tmp_path / "out6")
        df = spark.range(200).withColumn("partition_id", F.pmod(F.xxhash64("id"), F.lit(8)))
        assert run_with_checkpoint(spark, df, lambda p: p, sink, table, "job6") == 8
        lineage = {r["partition_id"]: r["n_rows"] for r in table.metrics(spark, "job6").collect()}
        written = spark.read.parquet(sink).groupBy("partition_id").count().collect()
        assert lineage == {r["partition_id"]: r["count"] for r in written}
        assert len(set(lineage.values())) > 1  # uneven partitions, not a constant
        n_lineage = table.read(spark).count()
        assert run_with_checkpoint(spark, df, lambda p: p, sink, table, "job6") == 0
        assert table.read(spark).count() == n_lineage

    def test_lineage_commits_a_local_relation(self, spark, tmp_path, monkeypatch):
        """A batch builds no frame from a Python list (each execution of one
        runs a Python task), and the committed lineage rows are a driver-side
        local relation, so the per-partition aggregate is not run again."""
        from pyspark.sql import SparkSession

        table = CheckpointTable(str(tmp_path / "ckpt7"))
        sink = str(tmp_path / "out7")
        df = spark.range(40).withColumn("partition_id", F.pmod("id", F.lit(4)))

        def no_list_frames(*a, **k):
            raise AssertionError("frame built from a Python list")

        monkeypatch.setattr(SparkSession, "_create_dataframe", no_list_frames)
        committed, commit = [], table.commit

        def spy(spark_, job_id, rows, attempt=0):
            committed.append(rows._jdf.queryExecution().optimizedPlan().toString())
            commit(spark_, job_id, rows, attempt)

        monkeypatch.setattr(table, "commit", spy)
        assert run_with_checkpoint(spark, df.filter("partition_id < 2"), lambda p: p,
                                   sink, table, "job7") == 2
        assert run_with_checkpoint(spark, df, lambda p: p, sink, table, "job7") == 2
        assert len(committed) == 2
        for p in committed:
            assert "LocalRelation" in p and "Aggregate" not in p and "parquet" not in p.lower()


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

    def test_stoplist_filter_lists_keys_sorted(self, spark):
        """The stoplist ``IN (...)`` list is sorted, so the plan text does
        not depend on the interpreter's string-hash seed."""
        from osm_pbf_convert_spark.operators.tags import TagDictionary

        td = TagDictionary.load("data/tags_map.json")
        df = spark.createDataFrame([(1, {"a": "b"})], schema="id bigint, tags map<string,string>")
        plan = td.encode(spark, df, kind="node")._jdf.queryExecution().analyzed().toString()
        listed = re.search(r"key#\d+ IN \(([^)]*)\)", plan).group(1).split(",")
        assert listed == sorted(td.stoplist)


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

