"""Shared no-substring Karp-Rabin hash core (window + token flavors).

Round-4 profiling showed ~90% of the shingle family's cost is the JVM
materializing every k-char substring before hashing (`shingles_col`).
This module computes the k-byte window hashes of a whole Arrow batch
WITHOUT building a single substring: the batch's lower-cased texts are
concatenated into ONE uint8 buffer, every window hash is a Karp-Rabin
polynomial computed with k vectorized Horner steps (mod 2^64 by natural
uint64 wrap), and windows crossing document boundaries are masked out
(``batch_window_hashes``, the one window front end). Measured 30x on
the fingerprint operator (BENCH/NOTES.md); consumed by
``text.fingerprint``, the MinHash signature stage of
``dedup.minhash_lsh_pairs``, the exact-jaccard verify of
``dedup.ngram_jaccard_lsh_pairs`` and (token flavor)
``dedup.simhash_signatures`` -- the one hash family of every text
signature operator.

The segment reductions do O(windows) numpy work per output column and
never sort: ``segment_affine_min`` takes one ``np.minimum.reduceat``
per hash seed, ``segment_bit_majority`` one ``np.add.reduceat`` per
bit, each into a single reused vector, so peak transient memory is one
window- (or token-) length vector per batch.

Everything here is deterministic integer arithmetic mod 2^64 -- numpy
computes it by natural uint64 wrap, DuckDB replays it in HUGEINT with
an explicit ``% 2**64`` (see the ``*_rolling`` oracle entries in
``queries.py``), which is what puts the production defaults under the
driver's rows+schema+hash gate.
"""

from __future__ import annotations

import random

import numpy as np

KR_BASE = 1000003  # classic string-hash prime; < 2^20 so a DuckDB
#                    HUGEINT Horner step (acc*BASE + byte) stays < 2^85

# Token-hash affine finalizer (odd multiplier -> bijection on Z_2^64).
# A raw base-KR_BASE Horner hash of a length-L token is < 2^(20L+8):
# every 1-3 char token leaves bits 48-63 at ZERO, which biases simhash's
# high bits toward 0 and collapses the high-bit pigeonhole bands into
# giant buckets (measured: the 64x-rehearsal simhash_rolling row shuffled
# 2x the xxhash64 flavor's bytes before this finalizer). A*h+B with a
# full-width odd A separates the small raw hashes across all 64 bits;
# DuckDB replays it with the same hi/lo 32-bit mulmod split as the
# minhash affine family. Window hashes don't need this: a k>=5-byte
# window polynomial already wraps mod 2^64.
TOK_FIN_A = 0x9E3779B97F4A7C15  # 2^64/golden ratio, odd
TOK_FIN_B = 0x2545F4914F6CDD1D

MOD64 = 1 << 64
U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def window_powers(k: int) -> np.ndarray:
    return np.array([pow(KR_BASE, k - 1 - j, MOD64) for j in range(k)],
                    dtype=np.uint64)


def _lowered_utf8(texts):
    """``(buf, lens)``: the concatenated lower-cased UTF-8 bytes of a
    pandas Series of strings (None -> "") and each row's byte length."""
    raw = texts.fillna("").str.lower().str.encode("utf-8")
    lens = raw.str.len().to_numpy(np.int64)
    return np.frombuffer(b"".join(raw), dtype=np.uint8), lens


def batch_window_hashes(texts, k: int):
    """``(flat, offsets)`` for a pandas Series of strings: the per-row
    slice ``flat[offsets[i]:offsets[i+1]]`` is EVERY in-document k-byte
    window hash of row i's lower-cased UTF-8 bytes, in document order,
    duplicates kept (a row shorter than k has none). The one window
    front end: in-place Horner steps over the batch's concatenated
    byte buffer, then one boolean compress that drops the windows
    crossing a document boundary -- the mask is an ``np.repeat`` of
    (valid, invalid) runs over the document lengths."""
    buf, lens = _lowered_utf8(texts)
    nwin = np.maximum(lens - (k - 1), 0)
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(nwin, out=offsets[1:])
    if not offsets[-1]:
        return np.empty(0, dtype=np.uint64), offsets
    m = buf.size - k + 1
    h = buf[:m].astype(np.uint64)
    C = np.uint64(KR_BASE)
    with np.errstate(over="ignore"):
        for j in range(1, k):
            h *= C
            h += buf[j:m + j]
    # doc i's starts: nwin[i] valid windows, then lens[i] - nwin[i]
    # starts whose window runs past the doc's end
    runs = np.column_stack((nwin, lens - nwin)).ravel()
    valid = np.repeat(np.tile([True, False], lens.size), runs)[:m]
    return h[valid], offsets


def batch_window_hash_segments(texts, k: int):
    """``batch_window_hashes`` with each row's slice SORTED and UNIQUE
    (one global sort by (owner, hash) + boundary-diff dedupe, zero
    per-row Python) -- the set form the bottom-k fingerprint and the
    exact-Jaccard verify need. A minimum never needs it
    (``segment_affine_min``)."""
    h, offsets = batch_window_hashes(texts, k)
    owner = np.repeat(np.arange(offsets.size - 1), np.diff(offsets))
    # sort by hash, then stable-sort by owner: the (owner, hash) order of
    # a two-key lexsort, faster (958k windows of 2,000 docs, one core,
    # best of 5: 0.29 s lexsort, 0.20 s here)
    order = np.argsort(h)
    order = order[np.argsort(owner[order], kind="stable")]
    h, owner = h[order], owner[order]
    if h.size:
        keep = np.empty(h.size, dtype=bool)
        keep[0] = True
        keep[1:] = (h[1:] != h[:-1]) | (owner[1:] != owner[:-1])
        h, owner = h[keep], owner[keep]
    out = np.zeros_like(offsets)
    np.cumsum(np.bincount(owner, minlength=offsets.size - 1), out=out[1:])
    return h, out


def affine_family(num_hashes: int, seed: int = 42):
    """(A, B) uint64 arrays: h_i(x) = A_i*x + B_i mod 2^64. Odd A_i
    makes each h_i a bijection on Z_2^64 -- a valid minhash
    permutation family; deterministic across runs."""
    rng = random.Random(seed)
    A = np.array([rng.getrandbits(64) | 1 for _ in range(num_hashes)],
                 dtype=np.uint64)
    B = np.array([rng.getrandbits(64) for _ in range(num_hashes)],
                 dtype=np.uint64)
    return A, B


def segment_affine_min(flat: np.ndarray, offsets: np.ndarray,
                       A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-segment elementwise min of ``A_j*x + B_j mod 2^64`` over each
    segment of ``flat`` -- the minhash signature matrix, (nseg, |A|)
    uint64, empty segments = uint64 max.

    One hash at a time: ``A_j*x + B_j`` into one reused window-length
    vector, then ``np.minimum.reduceat`` at the non-empty segments'
    starts. Segments may hold repeated values (the minimum of a multiset
    is the minimum of its set), so no sort or dedupe is needed, and the
    peak transient is one window-length vector whatever ``len(A)`` is."""
    nseg = offsets.size - 1
    out = np.full((nseg, A.size), U64_MAX, dtype=np.uint64)
    nonempty = np.nonzero(np.diff(offsets))[0]
    if not nonempty.size:
        return out
    at = offsets[nonempty]
    x = np.empty(flat.size, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(A.size):
            np.multiply(flat, A[j], out=x)
            x += B[j]
            out[nonempty, j] = np.minimum.reduceat(x, at)
    return out


def band_buckets(sig: np.ndarray, bands: int) -> np.ndarray:
    """(ndocs, bands) uint64 band-bucket keys for a signature matrix:
    ``bucket_b = fold(acc = acc*KR_BASE + sig[b*r+i] mod 2^64, acc0=b)``
    over the band's r signature values. Two docs share a bucket iff all
    r values agree (up to a ~2^-64 polynomial collision) -- an 8-byte
    band key that shuffles 10x fewer bytes than the joined-string form
    and that DuckDB replays exactly (HUGEINT Horner, multiplier < 2^20
    keeps every step under 2^85)."""
    nd, H = sig.shape
    r = H // bands
    out = np.empty((nd, bands), dtype=np.uint64)
    C = np.uint64(KR_BASE)
    with np.errstate(over="ignore"):
        for b in range(bands):
            acc = np.full(nd, b, dtype=np.uint64)
            for i in range(r):
                acc = acc * C + sig[:, b * r + i]
            out[:, b] = acc
    return out


def batch_token_hash_segments(texts):
    """``(flat, offsets)`` for a pandas Series of strings: the per-row
    slice is the affine-finalized Karp-Rabin Horner hash
    (``TOK_FIN_A * horner + TOK_FIN_B`` mod 2^64, base ``KR_BASE``) of
    every ASCII-whitespace-separated token OCCURRENCE of the lower-cased
    text, in document order (multiplicity preserved -- simhash weights
    by occurrence; see ``TOK_FIN_A`` for why the finalizer exists).
    The delimiter class [ \\t\\n\\x0b\\f\\r] is exactly Java's ``\\s`` (as
    in ``split(lower(text), '\\s+')``); byte-level splitting equals
    char-level splitting for ANY text because ASCII whitespace never
    occurs inside a multi-byte UTF-8 sequence.

    Vectorized end to end: token runs come from mask transitions on the
    concatenated byte buffer; token hashes come from one dense gather per
    token-LENGTH group (so total multiplies equal total token bytes --
    no padding to the batch's longest token), chunked so peak transient
    memory stays bounded."""
    buf, lens = _lowered_utf8(texts)
    n = buf.size
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    if n == 0:
        return np.empty(0, dtype=np.uint64), offsets
    starts = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    nonws = ~np.isin(buf, np.frombuffer(b" \t\n\x0b\x0c\r", dtype=np.uint8))
    # docs are concatenated without separators: a doc start always breaks
    # a token run
    docstart = np.zeros(n + 1, dtype=bool)
    docstart[starts[:-1]] = True
    prev_break = np.empty(n, dtype=bool)
    prev_break[0] = True
    prev_break[1:] = ~nonws[:-1]
    tok_a = np.nonzero(nonws & (prev_break | docstart[:n]))[0]
    next_break = np.empty(n, dtype=bool)
    next_break[-1] = True
    next_break[:-1] = ~nonws[1:]
    tok_b = np.nonzero(nonws & (next_break | docstart[1:n + 1]))[0] + 1
    tok_owner = np.searchsorted(starts, tok_a, side="right") - 1
    np.cumsum(np.bincount(tok_owner, minlength=lens.size), out=offsets[1:])
    tlens = tok_b - tok_a
    t = tok_a.size
    hashes = np.zeros(t, dtype=np.uint64)
    if t:
        # tokens grouped by LENGTH, one dense (count, L) gather per group:
        # total multiplies = total token bytes (the padded single-matrix
        # form paid t * max_len -- one URL-sized token in a batch made
        # every token's row that wide); results scatter back to document
        # order, chunked so peak transient stays bounded
        order = np.argsort(tlens, kind="stable")
        sl = tlens[order]
        bounds = np.nonzero(np.diff(sl))[0] + 1
        for grp in np.split(order, bounds):
            L = int(tlens[grp[0]])
            powers = np.array([pow(KR_BASE, L - 1 - j, MOD64) for j in range(L)],
                              dtype=np.uint64)
            cols = np.arange(L, dtype=np.int64)[None, :]
            step = max(1, (1 << 21) // L)
            for s in range(0, grp.size, step):
                g = grp[s:s + step]
                vals = buf[tok_a[g][:, None] + cols].astype(np.uint64)
                with np.errstate(over="ignore"):
                    hashes[g] = (vals * powers[None, :]).sum(
                        axis=1, dtype=np.uint64
                    )
    with np.errstate(over="ignore"):
        hashes = hashes * np.uint64(TOK_FIN_A) + np.uint64(TOK_FIN_B)
    return hashes, offsets


def segment_bit_majority(hashes: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-segment 64-bit SimHash from token hashes: bit i of the output
    is set iff strictly more than half the segment's token hashes carry
    bit i (ties -> 0, matching the JVM flavors' ``sum(+-1) > 0``).
    Zero-token segments get 0. One pass per bit: shift and mask into one
    reused token-length vector, then an int64 ``np.add.reduceat`` at the
    non-empty segments' starts -- no tokens x 64 bit matrix."""
    nseg = offsets.size - 1
    out = np.zeros(nseg, dtype=np.uint64)
    cnt = np.diff(offsets)
    nonempty = np.nonzero(cnt)[0]
    if not nonempty.size:
        return out
    h = np.asarray(hashes, dtype=np.uint64)
    at = offsets[nonempty]
    cnt = cnt[nonempty]
    bit = np.empty(h.size, dtype=np.uint64)
    maj = np.zeros(nonempty.size, dtype=np.uint64)
    one = np.uint64(1)
    for i in range(64):
        np.right_shift(h, np.uint64(i), out=bit)
        bit &= one
        ones = np.add.reduceat(bit.view(np.int64), at)
        maj |= (2 * ones > cnt).astype(np.uint64) << np.uint64(i)
    out[nonempty] = maj
    return out
