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


def test_q5_lossy_psnr_above_40db():
    for i in range(10):
        px = P.synthesize_pixels(f"img-{i}", 56, 40)
        dec, _ = P.decode_image(P.encode_image(px, "q5"))
        p = P.psnr(px, dec)
        assert p >= 40.0, p
        assert np.abs(px.astype(int) - dec.astype(int)).max() <= 4


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
    dec, _ = P.decode_image(P.encode_image(px, "q5"))
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
    lossy = [r for r in rows if r["fmt"] == "q5"]
    assert lossy and all(r["psnr"] >= 40.0 for r in lossy)


def test_spark_generation_one_task_per_core(spark):
    """One Python task per core: each pays a fixed worker set-up, so
    the payload stage is not split finer than the cores it runs on."""
    from crawler_tjce_spark.datagen import generate_images_spark

    ids = spark.createDataFrame([(f"img-{i}",) for i in range(40)], "image_id string")
    df = generate_images_spark(spark, ids)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
