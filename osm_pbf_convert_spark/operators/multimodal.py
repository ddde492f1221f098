"""Multimodal column plumbing: images as opaque binary columns with typed
metadata, decoded into features inside ``mapInArrow``.

``decode_image_np`` is a pure-numpy decoder for binary PPM (P6, maxval
255), the uncompressed format the ``multimodal_features`` catalog query
builds: it exercises the full decode -> pixels -> feature path with no
native dependency. Any other payload raises ``ValueError``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def decode_image_np(content: bytes) -> np.ndarray:
    """bytes -> (H, W, 3) uint8 RGB from binary PPM (P6, maxval 255)."""
    if content is None or len(content) < 2:
        raise ValueError("empty image payload")
    magic = bytes(content[:2])
    if magic != b"P6":
        raise ValueError(f"unsupported image magic {magic!r} (numpy decoder: PPM)")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    i, fields = 2, []
    n = len(content)
    while len(fields) < 3:
        while i < n and content[i : i + 1].isspace():
            i += 1
        if i < n and content[i : i + 1] == b"#":  # comment to EOL
            while i < n and content[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < n and not content[j : j + 1].isspace():
            j += 1
        fields.append(int(content[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval 255 PPM supported")
    need = width * height * 3
    if n - i < need:
        raise ValueError("truncated PPM raster")
    return (
        np.frombuffer(content, dtype=np.uint8, count=need, offset=i)
        .reshape(height, width, 3)
        .copy()
    )


def _pixel_feature(px: np.ndarray, dim: int) -> np.ndarray:
    """Real image feature: normalized grayscale histogram over `dim` bins
    -- deterministic, resolution-invariant, computed from decoded pixels."""
    gray = px.astype(np.float32) @ np.array([0.299, 0.587, 0.114], dtype=np.float32)
    hist, _ = np.histogram(gray, bins=dim, range=(0.0, 256.0))
    return (hist / max(1, gray.size)).astype(np.float32)


def extract_features(df: DataFrame, dim: int = 32) -> DataFrame:
    """media -> (all columns..., feature array<float>).

    ``mapInArrow``; batch shape = input batch rows, one feature vector
    per row: each ``content`` payload is REALLY decoded
    (``decode_image_np``) into pixels and summarized as a ``dim``-bin
    grayscale histogram.
    """
    out_schema = df.schema.simpleString()[7:-1] + ", feature array<float>"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats = [_pixel_feature(decode_image_np(c), dim)
                     for c in batch.column("content").to_pylist()]
            flat = np.concatenate(feats) if feats else np.empty(0, dtype=np.float32)
            offsets = np.arange(batch.num_rows + 1, dtype=np.int32) * dim
            yield batch.append_column(
                "feature", pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
            )

    from osm_pbf_convert_spark.plans.partitioning import fan_out

    # per-row image decode is the per-row-heavy class (guide §2.5): never
    # run it on the 1-2 splits a small media table scans as
    return fan_out(df).mapInArrow(fn, out_schema)
