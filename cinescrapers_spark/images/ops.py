"""Image operators: phash, smart square thumbnail, stand-in detector,
deterministic embedder — each exposed as an Arrow-batched mapInPandas /
pandas-UDF stage over the ``images`` table (binary column in, binary/long/
array column out). All math is numpy; no per-row Python beyond the
unavoidable per-image codec call inside each Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cinescrapers_spark.functions.udf import lazy_pandas_udf
from cinescrapers_spark.images.codecs import decode_image, encode_ppm


# --------------------------------------------------------------------------
# perceptual hash: classic 8×8-DCT pHash (input_hint `phash:int64` column)
# --------------------------------------------------------------------------
def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT32 = _dct_matrix(32)


def _resize_area(gray: np.ndarray, out: int = 32) -> np.ndarray:
    """Area-style resize via index binning (deterministic, no deps): each
    output row averages a band of ``max(1, h // out)`` source rows starting
    at ``r * h // out``, then each output column averages its column bin
    through one prefix sum. One gather for all bands; every sum runs in the
    same order as a per-row loop, so the result is bit-identical to it."""
    h, w = gray.shape
    band = max(1, h // out)
    ys = np.arange(out) * h // out
    xs = np.arange(out) * w // out
    xe = xs + max(1, w // out)
    cs = np.zeros((out, w + 1))
    bands = gray[ys[:, None] + np.arange(band)]  # (out, band, w)
    np.cumsum(bands.mean(axis=1), axis=1, out=cs[:, 1:])
    return (cs[:, xe] - cs[:, xs]) / (xe - xs)


def phash64(arr: np.ndarray) -> int:
    """32×32 gray → 2-D DCT-II → low-frequency 8×8 block (skipping DC) →
    bits = coeff > median → packed signed int64 (bit 0 is the dropped DC,
    always 0; bit i is coefficient i of the flattened block)."""
    gray = arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    g32 = _resize_area(gray, 32)
    dct = _DCT32 @ g32 @ _DCT32.T
    block = dct[:8, :8].flatten()
    bits = block > np.median(block[1:])
    bits[0] = False  # DC
    return int(np.packbits(bits, bitorder="little").view("<i8")[0])


@lazy_pandas_udf("long")
def phash_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if d is None else phash64(decode_image(bytes(d), f))
            for d, f in zip(data, fmt)
        ],
        index=data.index,
        dtype="Int64",
    )


# --------------------------------------------------------------------------
# stand-in detector (replaces YOLO/Haar, keeping the operator shape:
# ref thumbnailing.py:21-55 — "first box" centre, else fallback)
# --------------------------------------------------------------------------
def detect_centre(arr: np.ndarray, block: int = 8) -> tuple[int, int] | None:
    """Deterministic 'object detector': centre of the brightest block×block
    tile if its mean beats the global mean by 1.25×, else None (maps to the
    reference's ImageCentreNotFound fallback chain)."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    if h < block or w < block:
        return None
    th, tw = h // block, w // block
    tiles = gray[: th * block, : tw * block].reshape(th, block, tw, block).mean(axis=(1, 3))
    r, c = np.unravel_index(np.argmax(tiles), tiles.shape)
    if tiles[r, c] < gray.mean() * 1.25:
        return None
    cy = int(r * block + block // 2)
    cx = int(c * block + block // 2)
    return cx, cy


def _resize_bilinear(arr: np.ndarray, size: int) -> np.ndarray:
    h, w, _ = arr.shape
    y = np.linspace(0, h - 1, size)
    x = np.linspace(0, w - 1, size)
    y0 = np.floor(y).astype(int)
    x0 = np.floor(x).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (y - y0)[:, None, None]
    wx = (x - x0)[None, :, None]
    a = arr[np.ix_(y0, x0)]
    b = arr[np.ix_(y0, x1)]
    c = arr[np.ix_(y1, x0)]
    d = arr[np.ix_(y1, x1)]
    out = (
        a * (1 - wy) * (1 - wx)
        + b * (1 - wy) * wx
        + c * wy * (1 - wx)
        + d * wy * wx
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def detect_face_centre(arr: np.ndarray, block: int = 8) -> tuple[int, int] | None:
    """Second-stage stand-in for the Haar face cascade
    (thumbnailing.py:43-55): centre of the most skin-tone-dominant tile
    (R>G>B warm dominance) when its score clears a floor, else None. A
    different signal than detect_centre, so the chain has three genuinely
    distinct stages like the reference's yolo → facial → centre."""
    h, w = arr.shape[:2]
    if h < block or w < block:
        return None
    a = arr.astype(np.float64)
    warm = (a[..., 0] - a[..., 1]) + (a[..., 1] - a[..., 2])  # R−B gradient
    th, tw = h // block, w // block
    tiles = warm[: th * block, : tw * block].reshape(th, block, tw, block).mean(
        axis=(1, 3)
    )
    r, c = np.unravel_index(np.argmax(tiles), tiles.shape)
    if tiles[r, c] < 30.0:  # no warm-dominant region: "no face found"
        return None
    return int(c * block + block // 2), int(r * block + block // 2)


def smart_square_thumbnail(arr: np.ndarray, size: int) -> tuple[np.ndarray, str]:
    """Crop-clamp math cloned from the reference
    (thumbnailing.py:79-94): largest square, centre clamped so the square
    fits, then resize to size×size. Detector chain mirrors the reference's
    three stages (thumbnailing.py:66-77): yolo stand-in → face stand-in →
    geometric centre."""
    height, width = arr.shape[:2]
    centre = detect_centre(arr)
    method = "yolo"
    if centre is None:
        centre = detect_face_centre(arr)
        method = "facial"
    if centre is None:
        centre = (width // 2, height // 2)
        method = "centre"
    cx, cy = centre
    crop_size = min(width, height)
    half = crop_size // 2
    cx = max(half, min(width - half, cx))
    cy = max(half, min(height - half, cy))
    cropped = arr[cy - half : cy + half, cx - half : cx + half]
    return _resize_bilinear(cropped, size), method


@lazy_pandas_udf("binary")
def thumbnail_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """bytes → 64×64 ppm thumbnail bytes."""
    out = []
    for d, f in zip(data, fmt):
        if d is None:
            out.append(None)
            continue
        thumb, _ = smart_square_thumbnail(decode_image(bytes(d), f), 64)
        out.append(encode_ppm(thumb))
    return pd.Series(out, index=data.index, dtype=object)


@lazy_pandas_udf("binary")
def thumbnail_jpeg_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """bytes → 64×64 JPEG thumbnail bytes — the reference's actual sink
    format (thumbnailing.py:58-97 saves JPEG), now a real encode via
    images/jpeg.py. ~10× smaller than the ppm path, which matters at the
    blob-cache sink: thumbnail bytes dominate its volume at 100 TB."""
    from cinescrapers_spark.images.jpeg import encode_jpeg

    out = []
    for d, f in zip(data, fmt):
        if d is None:
            out.append(None)
            continue
        thumb, _ = smart_square_thumbnail(decode_image(bytes(d), f), 64)
        out.append(encode_jpeg(thumb, quality=90))
    return pd.Series(out, index=data.index, dtype=object)


# --------------------------------------------------------------------------
# deterministic stand-in embedders (replace CLIP/MiniLM,
# ref film_identification.py:83-108, keeping ArrayType(float) shape)
# --------------------------------------------------------------------------
EMBED_DIM = 64


def _projection(seed: int, n_in: int, n_out: int = EMBED_DIM) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_in, n_out)) / np.sqrt(n_in)


_IMG_PROJ = _projection(1234, 48)
_TXT_PROJ = _projection(5678, 256)


def embed_image(arr: np.ndarray) -> np.ndarray:
    """48-bin RGB histogram → seeded projection → L2-normalized float32."""
    feats = np.concatenate(
        [np.histogram(arr[..., c], bins=16, range=(0, 256))[0] for c in range(3)]
    ).astype(np.float64)
    feats = feats / max(1.0, feats.sum())
    v = feats @ _IMG_PROJ
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


def embed_text(s: str) -> np.ndarray:
    """Byte-bigram hashed bag → seeded projection → L2-normalized."""
    feats = np.zeros(256, dtype=np.float64)
    b = s.encode("utf-8")
    for i in range(len(b) - 1):
        feats[(b[i] * 31 + b[i + 1]) % 256] += 1.0
    feats = feats / max(1.0, feats.sum())
    v = feats @ _TXT_PROJ
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


@lazy_pandas_udf("array<float>")
def embed_image_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if d is None else embed_image(decode_image(bytes(d), f)).tolist()
            for d, f in zip(data, fmt)
        ],
        index=data.index,
        dtype=object,
    )


@lazy_pandas_udf("array<float>")
def embed_text_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: None if x is None else embed_text(x).tolist())
