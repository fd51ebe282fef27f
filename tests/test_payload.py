"""Image payload codec + fidelity tests (BASELINE input_hint invariants:
lossless decode exact, lossy PSNR ≥ 40 dB, captions byte-equal)."""

from __future__ import annotations

import numpy as np
import pytest

from crawler_tjce_spark import payload as P


def test_rgb8_roundtrip_exact():
    px = P.synthesize_pixels("img-test-1", 48, 32)
    dec, fmt = P.decode_image(P.encode_image(px, "rgb8"))
    assert fmt == "rgb8"
    assert np.array_equal(px, dec)
    assert P.psnr(px, dec) == float("inf")


def test_q6_lossy_psnr_above_40db():
    cases = [(f"img-{i}", 56, 40) for i in range(10)]
    # decoded at 39.96 dB under the former 5-bit codec (world seed 13)
    iid = "img-8c9d51bc3f767722"
    cases.append((iid, *P._wh_from(iid)))
    for image_id, w, h in cases:
        px = P.synthesize_pixels(image_id, w, h)
        dec, _ = P.decode_image(P.encode_image(px, "q6"))
        p = P.psnr(px, dec)
        assert p >= 40.0, (image_id, p)
        assert np.abs(px.astype(int) - dec.astype(int)).max() <= 2


def test_q6_error_bound_every_byte_value():
    """Every channel value 0..255 reconstructs within +-2 (the bin
    midpoint), including both ends of the range, and the lossy body is
    one byte per channel like rgb8."""
    v = np.arange(256, dtype=np.uint8)
    px = np.stack([v, v[::-1], np.roll(v, 85)], axis=-1).reshape(16, 16, 3)
    enc = P.encode_image(px, "q6")
    dec, fmt = P.decode_image(enc)
    assert fmt == "q6"
    assert dec.shape == px.shape and dec.dtype == np.uint8
    assert np.abs(px.astype(int) - dec.astype(int)).max() <= 2
    assert len(enc) == len(P.encode_image(px, "rgb8"))


def test_unknown_format_is_explicit_stub():
    px = P.synthesize_pixels("img-x", 8, 8)
    with pytest.raises(NotImplementedError):
        P.encode_image(px, "jpeg")  # real codecs stubbed (no PIL here)


def test_phash_properties():
    a = P.phash64(P.synthesize_pixels("img-a", 48, 32))
    a2 = P.phash64(P.synthesize_pixels("img-a", 48, 32))
    b = P.phash64(P.synthesize_pixels("img-b", 48, 32))
    assert a == a2  # deterministic
    assert a != b
    # lossy encode barely perturbs the hash (perceptual robustness)
    px = P.synthesize_pixels("img-a", 48, 32)
    dec, _ = P.decode_image(P.encode_image(px, "q6"))
    ham = bin((P.phash64(px) ^ P.phash64(dec)) & (2**64 - 1)).count("1")
    assert ham <= 6, ham


def test_record_determinism_and_schema():
    r1 = P.synthesize_image_record("img-42")
    r2 = P.synthesize_image_record("img-42")
    assert r1 == r2
    assert set(r1) == {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}
    assert isinstance(r1["phash"], int) and isinstance(r1["bytes"], bytes)


def test_spark_generation_and_fidelity(spark):
    from crawler_tjce_spark.datagen import generate_images_spark

    ids = spark.createDataFrame([(f"img-{i}",) for i in range(40)], "image_id string")
    df = generate_images_spark(spark, ids)
    assert df.count() == 40
    checked = P.fidelity_check_spark(df)
    rows = checked.collect()
    assert all(r["pixels_ok"] and r["caption_ok"] for r in rows)
    lossy = [r for r in rows if r["fmt"] == "q6"]
    assert lossy and all(r["psnr"] >= 40.0 for r in lossy)
