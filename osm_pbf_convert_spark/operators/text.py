"""Text analysis operators for the documents table: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Everything is built-in ``pyspark.sql.functions`` (JVM, codegen) -- no
Python in the hot path, with ONE deliberate exception: ``fingerprint``
is an Arrow-batched numpy pass in both of its flavors ("rolling", the
production Karp-Rabin window hash, and "md5", the DuckDB-replayable
oracle), taken because round-4 profiling showed the substring-building
expression chains spend ~90% of their time materializing substrings
(measured win in BENCH/NOTES.md). These are training-data-pipeline
extensions (no reference counterpart).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish word/number/punct splitter: word runs, digit runs, single
# non-space symbols -- a cheap proxy for subword token counts.
TOKEN_REGEX = r"[A-Za-zÀ-ɏЀ-ӿ]+|[0-9]+|[^\sA-Za-zÀ-ɏЀ-ӿ0-9]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as", "his", "on", "be"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des", "nicht", "ein", "eine", "auf", "im"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans", "que", "qui", "pour", "pas", "au"],
    "uk": ["та", "і", "в", "на", "не", "що", "з", "до", "як", "це", "за", "від", "був", "для", "або"],
}


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of TOKEN_REGEX matches (regexp_count is JVM-side)."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def quality_features(df: DataFrame) -> DataFrame:
    """Adds length / token / punctuation / stopword-ratio features and a
    composite quality score in [0,1] (heuristic, documented, deterministic).
    """
    t = F.col("text")
    n_chars = F.length(t)
    ws_tokens = whitespace_token_count(t)
    n_punct = F.regexp_count(t, F.lit(r"[\.,;:!\?\"'\(\)\[\]]"))
    n_digits = F.regexp_count(t, F.lit(r"[0-9]"))
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    words = F.filter(F.split(F.lower(t), r"\W+"), lambda w: w != "")
    stop_hits = F.size(F.array_intersect(words, en_stop))
    out = (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens_ws", ws_tokens)
        .withColumn("n_tokens_bpe", bpe_ish_token_count(t))
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)))
        .withColumn("digit_ratio", F.when(n_chars > 0, n_digits / n_chars).otherwise(F.lit(0.0)))
        .withColumn(
            "mean_word_len",
            F.when(ws_tokens > 0, (n_chars - ws_tokens + 1) / ws_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(F.size(words) > 0, stop_hits / F.size(words)).otherwise(F.lit(0.0)),
        )
    )
    score = (
        F.least(F.col("n_tokens_ws") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
        + (F.lit(1.0) - F.least(F.col("digit_ratio") * 5, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 10, F.lit(1.0)) * 0.2
    )
    return out.withColumn(
        "quality_score",
        F.when(F.col("n_tokens_ws") == 0, F.lit(0.0)).otherwise(score),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: distinct-stopword hits per language + script
    detection (CJK -> ja, cyrillic dominates -> uk). Deterministic ties ->
    lexicographically first language code.
    """
    t = F.col("text")
    words = F.array_distinct(F.filter(F.split(F.lower(t), r"\W+"), lambda w: w != ""))
    scores = []
    for code, sw in sorted(STOPWORDS.items()):
        arr = F.array([F.lit(w) for w in sw])
        scores.append(F.struct(F.size(F.array_intersect(words, arr)).alias("hits"), F.lit(code).alias("code")))
    best = F.sort_array(F.array(*scores), asc=False)[0]
    n_chars = F.greatest(F.length(t), F.lit(1))
    cjk = F.regexp_count(t, F.lit(r"[぀-ヿ一-鿿]"))
    cyr = F.regexp_count(t, F.lit(r"[Ѐ-ӿ]"))
    pred = (
        F.when(cjk / n_chars > 0.1, F.lit("ja"))
        .when((cyr / n_chars > 0.3) & (best["hits"] == 0), F.lit("uk"))
        .when(best["hits"] > 0, best["code"])
        .otherwise(F.lit("und"))
    )
    return df.withColumn("lang_pred", pred)


def fingerprint(df: DataFrame, shingle_k: int = 8, bottom_k: int = 8,
                hash_fn: str = "rolling") -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest shingle hashes combined
    into one fingerprint; equal fingerprints => highly likely
    near-identical content.

    hash_fn flavors (equality contract identical, values differ by hash
    family):
    - "rolling" (production default): Arrow-batched numpy Karp-Rabin --
      window hashes without substring materialization, a long
      fingerprint (see ``_fingerprint_rolling``).
    - "md5": hex-string fingerprint, bit-identical in DuckDB -- the
      correctness-oracle flavor (the catalog query pins it)."""
    if hash_fn == "rolling":
        return _fingerprint_rolling(df, shingle_k, bottom_k)
    if hash_fn == "md5":
        return _fingerprint_md5(df, shingle_k, bottom_k)
    raise ValueError(f"unknown hash_fn {hash_fn!r}; expected 'rolling' or 'md5'")


def _fingerprint_md5(df: DataFrame, shingle_k: int, bottom_k: int) -> DataFrame:
    """The md5 bottom-k fingerprint as ONE zero-shuffle Arrow pass:
    per-doc distinct k-char window md5 digests from
    ``operators/md5win.py`` (already sorted by digest bytes, which IS the
    lexicographic order of their hex strings), take the first
    ``bottom_k``, join the hex forms with ',', md5 again -- the value
    DuckDB's ``md5(array_to_string(list_sort(...)[1:k], ','))`` gives,
    incl. the empty-doc case (fingerprint = md5(''))."""
    import hashlib

    import numpy as np
    import pandas as pd

    from osm_pbf_convert_spark.operators import md5win
    from osm_pbf_convert_spark.plans.partitioning import fan_out

    out_fields = list(df.schema.fields)
    schema_str = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema_str += ", fingerprint string"
    empty_fp = hashlib.md5(b"").hexdigest()

    def batches(it):
        for pdf in it:
            digs, off = md5win.batch_window_md5_segments(pdf["text"], shingle_k)
            fps = []
            for i in range(off.size - 1):
                s, e = off[i], min(off[i] + bottom_k, off[i + 1])
                if e == s:
                    fps.append(empty_fp)
                    continue
                msg = b",".join(digs[j].tobytes().hex().encode() for j in range(s, e))
                fps.append(hashlib.md5(msg).hexdigest())
            out = pdf.copy()
            out["fingerprint"] = pd.Series(fps, index=pdf.index)
            yield out

    return fan_out(df, key="doc_id").mapInPandas(batches, schema=schema_str)


# bottom-k combine multiplier for the "rolling" flavor (window-hash
# core lives in operators/rolling.py)
_KR_COMBINE = 1099511628211  # FNV-64 prime


def _fingerprint_rolling(df: DataFrame, shingle_k: int, bottom_k: int) -> DataFrame:
    """The true ROLLING-hash fingerprint: Arrow batches in, one numpy
    polynomial pass per batch, zero substring materialization.

    Round-4 profiling pinned ~90% of a substring-based fingerprint's
    cost on materializing every k-char substring (`shingles_col`)
    before hashing; this flavor never builds a substring. All of a batch's
    lower-cased texts are concatenated into ONE uint8 buffer, every
    k-byte window hash is computed as a Karp-Rabin polynomial with
    8 vectorized shifted multiply-adds (mod 2^64 by natural uint64
    wrap), windows crossing document boundaries are masked out, and
    per-doc bottom-k of the UNIQUE window hashes is combined into one
    long. Semantics match the md5 flavor (distinct shingles -> bottom-k
    sketch -> combine); values differ by hash family, so equal-text docs
    get equal fingerprints and the md5 catalog flavor stays the oracle.

    Byte-level windows over UTF-8 (the md5 flavor windows over
    CHARACTERS) shift k-gram boundaries only on multi-byte text --
    fingerprint equality, the operator's contract, is unaffected.

    The bottom-k gather is fully vectorized over the batch (one padded
    index matrix against the sorted-unique segment layout of
    ``rolling.batch_window_hash_segments``) -- zero per-row Python, and
    the combine is deterministic mod-2^64 arithmetic the DuckDB
    ``fingerprint_rolling`` oracle entry replays in HUGEINT."""
    import numpy as np

    from osm_pbf_convert_spark.operators.rolling import batch_window_hash_segments

    out_fields = list(df.schema.fields)
    schema_str = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema_str += ", fingerprint long"
    k = shingle_k

    def batches(it):
        import pandas as pd

        comb_pow = np.array(
            [pow(_KR_COMBINE, bottom_k - 1 - j, 1 << 64) for j in range(bottom_k)],
            dtype=np.uint64,
        )
        for pdf in it:
            flat, off = batch_window_hash_segments(pdf["text"], k)
            cnt = np.diff(off)
            # per-doc bottom-k of the sorted-unique segment: gather the
            # first min(cnt, bottom_k) hashes, zero-pad the rest (a zero
            # value times its power contributes 0, matching the
            # truncated comb_pow[:bot.size] of the per-row form); docs
            # with no window keep fingerprint 0
            cols = np.arange(bottom_k, dtype=np.int64)[None, :]
            mask = cols < cnt[:, None]
            vals = np.zeros((cnt.size, bottom_k), dtype=np.uint64)
            idx = off[:-1, None] + cols
            vals[mask] = flat[idx[mask]]
            with np.errstate(over="ignore"):
                fps = (vals * comb_pow[None, :]).sum(axis=1, dtype=np.uint64)
            out = pdf.copy()
            out["fingerprint"] = pd.Series(fps.astype(np.int64), index=pdf.index)
            yield out

    from osm_pbf_convert_spark.plans.partitioning import fan_out

    return fan_out(df, key="doc_id").mapInPandas(batches, schema=schema_str)
