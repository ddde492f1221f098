"""Vectorized numpy codecs for the PBF-style wire and storage formats.

Reimplements (from scratch, numpy-first) the byte-level semantics of the
reference codecs so decoded values are bit-identical:

- protobuf LSB-first base-128 varints (reference:
  ``ProtocolBuffers/ProtobufReader.cs:208-242`` -- ``result += (b & 0x7f) << shift``)
- zigzag transform (reference: ``ProtocolBuffers/EncodeHelpers.cs:22-48``)
- delta (prefix-sum) coding (reference: ``HuffmanCoding/DeltaWriter.cs:30-45``,
  ``DeltaReader.cs:24-35``)
- MSB-first 7-bit varints used by the reference's *storage* files -- NOT the
  protobuf flavor (reference: ``HuffmanCoding/StorageHelpers.cs:13-31`` writes
  most-significant group first; reader at ``:55-70`` does ``res = (res<<7)+b``)
- C# ``(int)`` coordinate quantization, truncation toward zero (reference:
  ``OSM-pbf-convert/Helpers.cs:3-10``)

All decoders are batch-oriented: they take a whole buffer and return numpy
arrays, so the Spark decode path (``mapInArrow``) never loops per row for the
heavy packed arrays.
"""

from __future__ import annotations

import numpy as np

INT32_MAX = 2147483647  # C# int.MaxValue


# ---------------------------------------------------------------------------
# protobuf LSB-first varints (wire format)
# ---------------------------------------------------------------------------

def encode_varints(values) -> bytes:
    """Encode an iterable of non-negative ints as concatenated LSB-first
    base-128 varints (protobuf wire flavor)."""
    out = bytearray()
    for v in values:
        v = int(v) & 0xFFFFFFFFFFFFFFFF  # two's-complement view of negatives
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _decode_varints_small(b) -> np.ndarray:
    """Scalar decode for short runs -- numpy's fixed per-call overhead
    (~30us) dwarfs a Python loop below ~100 bytes."""
    out = []
    res = 0
    shift = 0
    for byte in b:
        res |= (int(byte) & 0x7F) << shift
        if byte < 0x80:
            out.append(res & 0xFFFFFFFFFFFFFFFF)
            res = 0
            shift = 0
        else:
            shift += 7
            if shift > 63:  # >10-byte group: corrupt (uint64 max)
                raise ValueError("varint group longer than 10 bytes (corrupt stream)")
    if shift:
        raise ValueError("truncated varint stream")
    return np.array(out, dtype=np.uint64)


def decode_varints(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode ALL concatenated LSB-first varints in *buf* -> uint64 array.

    Vectorized for long runs (O(len) numpy ops), scalar fast path for short
    ones. Semantics match the reference reader
    ``result += (b & 0x7f) << shift`` with uint64 wrap.
    """
    if isinstance(buf, np.ndarray):
        if buf.size == 0:
            return np.empty(0, dtype=np.uint64)
        if buf.size < 96:
            return _decode_varints_small(buf.tobytes())  # native-int iteration
        b = buf
    else:
        if len(buf) == 0:
            return np.empty(0, dtype=np.uint64)
        if len(buf) < 96:
            return _decode_varints_small(buf)
        b = np.frombuffer(buf, dtype=np.uint8)
    is_end = b < 0x80
    n = int(is_end.sum())
    if n == 0 or not is_end[-1]:
        raise ValueError("truncated varint stream")
    ends = np.nonzero(is_end)[0]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # a uint64 varint is at most 10 bytes; longer groups would produce
    # shifts >= 64, which numpy leaves undefined (x86: mod 64) -> silently
    # wrong values. Raise so the corruption policy (on_error) can count it.
    if int((ends - starts).max()) > 9:
        raise ValueError("varint group longer than 10 bytes (corrupt stream)")
    # byte position within its own varint = index - start-of-group
    group_start = np.repeat(starts, ends - starts + 1)
    shifts = ((np.arange(b.size, dtype=np.int64) - group_start) * 7).astype(np.uint64)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << shifts
    return np.add.reduceat(payload, starts)


# ---------------------------------------------------------------------------
# zigzag
# ---------------------------------------------------------------------------

def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag. 0->0, -1->1, 1->2, -2->3 ..."""
    v = np.asarray(values, dtype=np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def zigzag_int(v: int) -> int:
    """Scalar ``zigzag_encode`` for one Python int (the per-record writers)."""
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """uint64 zigzag -> int64. Matches ``EncodeHelpers.DecodeZigZag``:
    value = (long)(u >> 1); if (u & 1) value = -1 ^ value."""
    u = np.asarray(values, dtype=np.uint64)
    if u.size < 32:  # scalar path: numpy overhead dominates tiny arrays
        return np.array(
            [-1 ^ (int(x) >> 1) if int(x) & 1 else int(x) >> 1 for x in u.tolist()],
            dtype=np.int64,
        )
    half = (u >> np.uint64(1)).astype(np.int64)
    return np.where((u & np.uint64(1)).astype(bool), np.int64(-1) ^ half, half)


# ---------------------------------------------------------------------------
# delta / prefix-sum
# ---------------------------------------------------------------------------

def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Prefix-sum of int64 deltas (reference ``PrimitiveDecoder.DecodeDeltaItems``).
    Kept as the test oracle that inverts ``delta_encode``."""
    return np.cumsum(np.asarray(deltas, dtype=np.int64), dtype=np.int64)


def delta_encode(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0]
        np.subtract(v[1:], v[:-1], out=out[1:])
    return out


# ---------------------------------------------------------------------------
# MSB-first 7-bit varints (reference storage files, NOT protobuf)
# ---------------------------------------------------------------------------

def encode_varints_msb(values) -> bytes:
    """MSB-first 7-bit groups; continuation bit on every group except the
    LAST. Matches ``StorageHelpers.Write7BitEncodedInt`` byte-for-byte."""
    out = bytearray()
    for v in values:
        v = int(v) & 0xFFFFFFFFFFFFFFFF
        groups = [v & 0x7F]
        v >>= 7
        while v:
            groups.append(0x80 | (v & 0x7F))
            v >>= 7
        out.extend(reversed(groups))
    return bytes(out)


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Byte length of each 7-bit-group varint (either group order), by
    exact threshold compares (no float log)."""
    v = np.asarray(values, dtype=np.uint64)
    g = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        g += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    return g


def encode_dotnet_string(s: str) -> bytes:
    """``BinaryWriter.Write(string)``: LSB-first 7-bit length + UTF-8
    (the .NET length prefix, NOT the storage files' MSB varint)."""
    b = s.encode("utf-8")
    n = len(b)
    out = bytearray()
    while True:
        if n < 0x80:
            out.append(n)
            break
        out.append(0x80 | (n & 0x7F))
        n >>= 7
    return bytes(out) + b


def encode_varints_msb_np(values: np.ndarray) -> bytes:
    """Vectorized ``encode_varints_msb``: same bytes, numpy throughput.

    Group counts come from ``varint_lengths``; groups are filled
    most-significant-first with <= 10 vectorized passes. Used by the
    heat-map band sink, where a band is millions of cells."""
    v = np.ascontiguousarray(values, dtype=np.uint64).ravel()
    if v.size == 0:
        return b""
    g = varint_lengths(v)
    offsets = np.cumsum(g)
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    pos = offsets - 1
    out[pos] = (v & np.uint64(0x7F)).astype(np.uint8)
    rem = v >> np.uint64(7)
    mask = rem > 0
    while mask.any():
        pos = pos - 1
        out[pos[mask]] = (np.uint64(0x80) | (rem[mask] & np.uint64(0x7F))).astype(np.uint8)
        rem = rem >> np.uint64(7)
        mask = rem > 0
    return out.tobytes()


def decode_varints_msb(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode all MSB-first varints: ``res = (res << 7) + (b & 0x7f)`` while
    the continuation bit is set. Vectorized via reversed-shift reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = b < 0x80
    n = int(is_end.sum())
    if n == 0 or not is_end[-1]:
        raise ValueError("truncated msb varint stream")
    ends = np.nonzero(is_end)[0]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group_end = np.repeat(ends, ends - starts + 1)
    shifts = ((group_end - np.arange(b.size, dtype=np.int64)) * 7).astype(np.uint64)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << shifts
    return np.add.reduceat(payload, starts)


# ---------------------------------------------------------------------------
# coordinate quantization (C# truncation semantics)
# ---------------------------------------------------------------------------

def coord_as_int(deg: np.ndarray) -> np.ndarray:
    """``(int)(value / 180 * int.MaxValue)`` -- C# cast truncates toward
    zero (NOT floor; differs for negative coordinates). Kept as the test
    oracle of the reference's coordinate quantization."""
    scaled = np.asarray(deg, dtype=np.float64) / 180.0 * INT32_MAX
    return np.trunc(scaled).astype(np.int64).astype(np.int32)


def int_to_coord(ival: np.ndarray) -> np.ndarray:
    """``value * 180.0 / int.MaxValue`` (reference Helpers.cs:8-10). Kept
    as the test oracle that inverts ``coord_as_int``."""
    return np.asarray(ival, dtype=np.float64) * 180.0 / INT32_MAX
