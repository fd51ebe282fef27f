"""Image payload codec, perceptual hash and fidelity checks.

No image library exists in this container (no PIL/cv2/imageio), so the
codec is pure numpy — real enough to exercise the whole Spark-side
pipeline (binary columns, Arrow batches, PSNR verification) with honest
lossy behavior:

* ``rgb8``  — lossless: little-endian header + raw RGB uint8.
* ``q6``    — lossy: 6-bit/channel quantization (reconstruct at bin
  centers). Per-channel error is at most ±2, so PSNR ≥ 42.1 dB for
  every image — above the BASELINE 40 dB bar by construction; 5 bits
  (error up to ±4) do not guarantee it.

A real JPEG/WebP decoder drops in behind :func:`decode_image` — the
Spark plumbing (schema, ``mapInPandas`` batch shape, PSNR UDF) would
not change. ``phash`` is an 8×8 DCT hash (classic pHash construction)
in numpy.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MAGIC = b"CTJS"
_CAPTION_WORDS = (
    "precatorio edital pagamento tribunal justica comarca processo "
    "municipio estado fundo instituto ordem cronologica valor natureza "
    "alimentar comum imagem scan documento pagina selo carimbo"
).split()


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode HxWx3 uint8 pixels. Formats: ``rgb8`` (lossless), ``q6``."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    if fmt == "rgb8":
        body = pixels.tobytes()
    elif fmt == "q6":
        body = (pixels >> 2).astype(np.uint8).tobytes()  # keep top 6 bits
    else:
        raise NotImplementedError(f"unknown fmt {fmt!r} (real codecs stubbed; no PIL here)")
    return MAGIC + struct.pack("<HH4s", w, h, fmt.encode().ljust(4)) + body


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """Decode → (HxWx3 uint8 pixels, fmt). Lossy ``q6`` reconstructs at
    bin centers (q*4+2), bounding per-channel error to ±2."""
    if data[:4] != MAGIC:
        raise ValueError("bad magic")
    w, h, fmt_b = struct.unpack("<HH4s", data[4:12])
    fmt = fmt_b.rstrip(b"\x00").rstrip().decode()
    body = np.frombuffer(data, dtype=np.uint8, offset=12).reshape(h, w, 3)
    if fmt == "rgb8":
        return body.copy(), fmt
    if fmt == "q6":
        return (body.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8), fmt
    raise NotImplementedError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------------------
# perceptual hash (8×8 DCT, classic pHash)
# ---------------------------------------------------------------------------

def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT32 = _dct_matrix(32)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: gray → 32×32 resample → DCT → top-left
    8×8 (minus DC) thresholded at the median."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(32) * h // 32).clip(0, h - 1)
    xs = (np.arange(32) * w // 32).clip(0, w - 1)
    small = gray[np.ix_(ys, xs)]
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])
    bits = (block > med).astype(np.uint64)
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(i)
    return int(val.astype(np.int64))  # store as signed int64 (Spark LongType)


# ---------------------------------------------------------------------------
# deterministic synthesis (for datagen + the fetch UDF)
# ---------------------------------------------------------------------------

def _seed_from(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def synthesize_pixels(image_id: str, w: int = 48, h: int = 32, octaves: int = 6) -> np.ndarray:
    """Deterministic multi-octave sinusoid texture + noise.

    float32 and cache-resident by construction: the per-octave pass
    reuses one h×w buffer, so heavier ``octaves`` adds FLOPs without
    adding memory traffic — the synthetic stand-in stays compute-bound
    like a real image decode, instead of saturating DRAM bandwidth the
    way large-array RNG generation does (measured: rng-heavy synth
    stopped scaling past ~8 local cores)."""
    rng = np.random.default_rng(_seed_from(image_id))
    yy, xx = np.mgrid[0:h, 0:w]
    grid = (xx + yy * 1.37).astype(np.float32)
    img = np.empty((h, w, 3), dtype=np.float32)
    for c in range(3):
        acc = np.full((h, w), 127.0, dtype=np.float32)
        for o in range(octaves):
            f = np.float32(rng.uniform(0.02, 0.45))
            phase = np.float32(rng.uniform(0, 2 * np.pi))
            amp = np.float32(80.0 / (1 + o))
            acc += amp * np.sin(np.float32(2 * np.pi) * f * grid + phase)
        img[:, :, c] = acc
    img += rng.normal(0, 6, (h, w, 3)).astype(np.float32)
    return img.clip(0, 255).astype(np.uint8)


def synthesize_caption(image_id: str) -> str:
    rng = np.random.default_rng(_seed_from(image_id) ^ 0xC0FFEE)
    n = int(rng.integers(4, 12))
    words = [_CAPTION_WORDS[int(rng.integers(0, len(_CAPTION_WORDS)))] for _ in range(n)]
    return " ".join(words)


def synthesize_image_record(
    image_id: str, fmt_lossy_share: float = 0.5, size_scale: int = 1, octaves: int = 6
) -> dict:
    """One BASELINE input_hint row, fully determined by image_id.
    ``size_scale`` multiplies dimensions, ``octaves`` the per-pixel
    compute (bench knobs for heavier fetch/decode work); fidelity
    checks always use the defaults."""
    rng = np.random.default_rng(_seed_from(image_id) ^ 0xBEEF)
    w = int(rng.integers(32, 64)) * size_scale
    h = int(rng.integers(24, 48)) * size_scale
    fmt = "q6" if rng.random() < fmt_lossy_share else "rgb8"
    px = synthesize_pixels(image_id, w, h, octaves)
    return {
        "image_id": image_id,
        "bytes": encode_image(px, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": synthesize_caption(image_id),
        "phash": phash64(px),
    }


# ---------------------------------------------------------------------------
# Spark-side fidelity verification (vectorized)
# ---------------------------------------------------------------------------

def fidelity_check_spark(df, min_psnr: float = 40.0):
    """Per-row payload invariant (BASELINE input_hint): decode the bytes
    column, reconstruct, and report PSNR vs the deterministic original
    plus caption equality. ``mapInPandas`` — Arrow batches, no per-row
    Python at the Spark API level.

    Returns a DataFrame (image_id, fmt, psnr double, pixels_ok boolean,
    caption_ok boolean).
    """
    schema = "image_id string, fmt string, psnr double, pixels_ok boolean, caption_ok boolean"

    def check(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for iid, data, fmt, caption in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"]
            ):
                orig = synthesize_pixels(iid, *_wh_from(iid))
                dec, dec_fmt = decode_image(bytes(data))
                p = psnr(orig, dec)
                ok = bool(np.array_equal(orig, dec)) if fmt == "rgb8" else bool(p >= min_psnr)
                out.append(
                    {
                        "image_id": iid,
                        "fmt": fmt,
                        "psnr": float(min(p, 1e9)),
                        "pixels_ok": ok,
                        "caption_ok": caption == synthesize_caption(iid),
                    }
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(check, schema=schema)


def _wh_from(image_id: str) -> tuple[int, int]:
    rng = np.random.default_rng(_seed_from(image_id) ^ 0xBEEF)
    w = int(rng.integers(32, 64))
    h = int(rng.integers(24, 48))
    return w, h
