"""Multimodal column operators: fake-container decode and features —
distributed plumbing with deterministic payloads."""

from __future__ import annotations

import pytest

from adaptive_pdf_extractor_spark.operators import media


def test_fake_image_roundtrip():
    data = media.make_fake_image(seed=5, width=8, height=4, channels=3)
    img = media.decode_image(data)
    assert img.shape == (4, 8, 3)
    img2 = media.decode_image(media.make_fake_image(seed=5, width=8, height=4))
    assert (img == img2).all()  # deterministic
    img3 = media.decode_image(media.make_fake_image(seed=6, width=8, height=4))
    assert (img != img3).any()


def test_real_codec_is_gated():
    if media._PIL_Image is None:
        with pytest.raises(NotImplementedError):
            media.decode_image(b"\x89PNG\r\n\x1a\nxxxx")


def test_synthetic_media_and_features(spark):
    m = media.synthetic_media_df(spark, 30, partitions=3).cache()
    assert m.count() == 30
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    feats = media.image_features(m)
    rows = feats.collect()
    assert len(rows) == 10  # every 3rd is an image
    for r in rows:
        assert r["width"] == 32 and r["height"] == 24 and r["channels"] == 3
        assert 0 <= r["mean_0"] <= 255 and r["n_bytes"] > 0
    # deterministic across recomputation
    rows2 = media.image_features(m).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pixel_stream_vectorized_matches_reference_loop():
    """The vectorized splitmix expansion must be bit-identical to the
    sequential reference formulation."""
    import numpy as np

    from adaptive_pdf_extractor_spark.operators import media

    def reference(seed, n):
        chunks = []
        x = seed & 0xFFFFFFFFFFFFFFFF
        for _ in range((n + 7) // 8):
            x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            chunks.append((z ^ (z >> 31)).to_bytes(8, "little"))
        return np.frombuffer(b"".join(chunks), dtype=np.uint8)[:n].copy()

    for seed, n in [(0, 1), (7, 8), (123, 33), (2**63 + 5, 1000)]:
        assert np.array_equal(media._pixel_stream(seed, n), reference(seed, n))


def test_parse_fake_rejects_real_bytes_loudly():
    """_parse_fake raises a container-format ValueError (the bytes may be
    merely corrupt); the import-gated NotImplementedError lives at the
    decoder dispatch layer instead (decode_image for real images)."""
    import pytest

    from adaptive_pdf_extractor_spark.operators import media

    with pytest.raises(ValueError, match="FAKEMEDIA"):
        media._parse_fake(b"\x00\x00\x00\x08realdata")
    with pytest.raises(NotImplementedError, match="PIL"):
        media.decode_image(b"\x89PNG\r\n\x1a\nnotreally")
