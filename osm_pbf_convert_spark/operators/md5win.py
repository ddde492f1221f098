"""Batched md5 shingle/token hashing for the DuckDB-replayable md5 oracle
flavors (minhash/fingerprint/simhash ``hash_fn="md5"``).

Computes md5 shingle and token hashes batch-at-a-time with numpy window
extraction + one ``hashlib.md5`` call per *globally unique* window, so
every md5 signature stage is a zero-shuffle Arrow map, mirroring the
rolling (Karp-Rabin) production path in ``operators/rolling.py``.

Exactness contract (the md5 oracle pins hash VALUES, not just equality
classes):

- windows are CHARACTER k-grams of ``lower(text)`` (Spark ``substr`` /
  DuckDB ``substr`` are character-based).  For pure-ASCII documents byte
  windows equal character windows and everything vectorizes; documents
  containing any non-ASCII character take an exact per-document Python
  fallback (substring + md5 of the UTF-8 encoding).  ASCII-ness is
  detected per document (byte length == char length).
- md5 is the real ``hashlib.md5`` (OpenSSL) over the window's UTF-8
  bytes -- identical digests to Spark's ``md5(cast(sh as binary))`` and
  DuckDB's ``md5(sh)``.
- duplicated windows are hashed once: per-batch global dedupe keyed on
  each window's k raw bytes (a fixed-width void view, so any k works and
  NUL bytes are fine).

Shared by ``dedup.minhash_signatures(hash_fn="md5")``,
``text.fingerprint(hash_fn="md5")`` and
``dedup.simhash_signatures(hash_fn="md5")``.
"""

from __future__ import annotations

import hashlib

import numpy as np

MERSENNE31 = (1 << 31) - 1


def _lowered(texts):
    """(lowered pandas str Series, utf8 byte lens, char lens)."""
    low = texts.fillna("").str.lower()
    raw = low.str.encode("utf-8")
    blens = raw.str.len().to_numpy(np.int64)
    clens = low.str.len().to_numpy(np.int64)
    return low, raw, blens, clens


def _md5_unique_windows(wins: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """wins: (n, k) uint8 byte windows -> (digests (u, 16) uint8 for the
    unique windows, inverse index (n,)). One hashlib.md5 per unique window
    (OpenSSL beats a vectorized-numpy md5 ~2.5x on short messages --
    measured in BENCH/NOTES.md r08)."""
    key = np.ascontiguousarray(wins).view(np.dtype((np.void, k))).reshape(-1)
    _, first_idx, inv = np.unique(key, return_index=True, return_inverse=True)
    ub = wins[first_idx].tobytes()
    md5 = hashlib.md5
    digs = b"".join(md5(ub[i: i + k]).digest() for i in range(0, len(ub), k))
    dig_arr = np.frombuffer(digs, dtype=np.uint8).reshape(-1, 16)
    return dig_arr, inv


def batch_window_md5_segments(texts, k: int) -> tuple[np.ndarray, np.ndarray]:
    """``(digests, offsets)`` for a pandas Series of strings: the slice
    ``digests[offsets[i]:offsets[i+1]]`` is row i's md5 digests ((cnt, 16)
    uint8) of its DISTINCT k-CHARACTER windows of ``lower(text)``, sorted
    by digest bytes (= lexicographic md5-hex order). Docs shorter than k
    chars have an empty slice."""
    low, raw, blens, clens = _lowered(texts)
    ndocs = blens.size
    counts = np.zeros(ndocs, dtype=np.int64)
    per_doc: list = [None] * ndocs
    ascii_doc = blens == clens

    # ---- vectorized ASCII path: byte windows == char windows ----
    a_idx = np.nonzero(ascii_doc & (clens >= k))[0]
    if a_idx.size:
        buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
        starts = np.zeros(ndocs + 1, dtype=np.int64)
        np.cumsum(blens, out=starts[1:])
        n = buf.size
        sw = np.lib.stride_tricks.sliding_window_view(buf, k)
        pos = np.arange(n - k + 1, dtype=np.int64)
        owner = np.searchsorted(starts, pos, side="right") - 1
        valid = (pos + k <= starts[owner + 1]) & ascii_doc[owner]
        wins = sw[valid]
        owner = owner[valid]
        dig_u, inv = _md5_unique_windows(wins, k)
        # distinct windows per doc == distinct digests per doc (md5 of
        # distinct inputs could collide only at ~2^-128); sort by
        # (owner, digest) and dedupe adjacent
        dv = dig_u.view(">u8").reshape(-1, 2)
        hi, lo = dv[inv, 0], dv[inv, 1]
        order = np.lexsort((lo, hi, owner))
        owner, hi, lo, inv = owner[order], hi[order], lo[order], inv[order]
        if owner.size:
            keep = np.empty(owner.size, dtype=bool)
            keep[0] = True
            keep[1:] = (owner[1:] != owner[:-1]) | (hi[1:] != hi[:-1]) | (lo[1:] != lo[:-1])
            owner, inv = owner[keep], inv[keep]
        digs = dig_u[inv]
        cnt = np.bincount(owner, minlength=ndocs)
        counts[a_idx] = cnt[a_idx]
        bounds = np.zeros(ndocs + 1, dtype=np.int64)
        np.cumsum(cnt, out=bounds[1:])
        for i in a_idx:
            per_doc[i] = digs[bounds[i]:bounds[i + 1]]

    # ---- exact per-doc fallback for non-ASCII docs: char substrings ----
    for i in np.nonzero(~ascii_doc)[0]:
        t = low.iloc[i]
        if len(t) < k:
            continue
        uniq = {t[j: j + k] for j in range(len(t) - k + 1)}
        ds = sorted(hashlib.md5(w.encode("utf-8")).digest() for w in uniq)
        per_doc[i] = np.frombuffer(b"".join(ds), dtype=np.uint8).reshape(-1, 16)
        counts[i] = len(ds)

    offsets = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] == 0:
        return np.empty((0, 16), dtype=np.uint8), offsets
    flat = np.concatenate([d for d in per_doc if d is not None and len(d)])
    return flat, offsets


def digests_to_x60(digests: np.ndarray) -> np.ndarray:
    """First 15 hex chars of each digest as a uint64 (the 60-bit base hash
    of the md5 oracle family): top 60 bits of the big-endian digest."""
    if not len(digests):
        return np.empty(0, dtype=np.uint64)
    hi = np.ascontiguousarray(digests[:, :8]).view(">u8").reshape(-1).astype(np.uint64)
    return hi >> np.uint64(4)


def segment_cw_min(x: np.ndarray, offsets: np.ndarray,
                   A: np.ndarray, B: np.ndarray,
                   chunk: int = 1 << 16) -> np.ndarray:
    """Per-segment min of the Carter-Wegman family ``(A_i*x + B_i) mod p``
    (p = 2^31-1) -- the md5-minhash signature matrix, (nseg, |A|) int64,
    empty segments = p (never attained; callers drop empty segments).
    Products stay < 2^62 (A_i, x < 2^31), exact in uint64."""
    nseg = offsets.size - 1
    P = np.uint64(MERSENNE31)
    out = np.full((nseg, A.size), P, dtype=np.uint64)
    Au = A.astype(np.uint64)
    Bu = B.astype(np.uint64)
    n = int(x.size)
    xm = x % P
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        m = (xm[s:e, None] * Au[None, :] + Bu[None, :]) % P
        inner = np.unique(offsets[(offsets > s) & (offsets < e)])
        red_at = np.concatenate((np.zeros(1, np.int64), inner - s))
        part = np.minimum.reduceat(m, red_at, axis=0)
        segs = np.searchsorted(offsets, np.concatenate(([s], inner)), side="right") - 1
        out[segs] = np.minimum(out[segs], part)
    return out.astype(np.int64)


def batch_token_md5_segments(texts) -> tuple[np.ndarray, np.ndarray]:
    """``(h60, offsets)``: per-row 60-bit md5 token hashes (one per token
    OCCURRENCE, document order) of the ASCII-whitespace tokens of
    ``lower(text)`` -- the md5 simhash base hashes. Token boundaries are
    byte-level on the UTF-8 buffer (ASCII whitespace never occurs inside a
    multi-byte sequence, so byte tokens == char tokens for ANY text);
    each distinct token is md5-hashed once per batch."""
    from osm_pbf_convert_spark.operators.rolling import batch_token_spans

    buf, starts, tok_a, tok_b, offsets = batch_token_spans(texts)
    t = tok_a.size
    if not t:
        return np.empty(0, dtype=np.uint64), offsets
    B = buf.tobytes()
    md5 = hashlib.md5
    cache: dict = {}
    h60 = np.empty(t, dtype=np.uint64)
    for i in range(t):
        key = B[tok_a[i]:tok_b[i]]
        v = cache.get(key)
        if v is None:
            v = int.from_bytes(md5(key).digest()[:8], "big") >> 4
            cache[key] = v
        h60[i] = v
    return h60, offsets
