"""Native lossless-WebP (VP8L) decoder tests: pinned encoder payloads
(``fixtures/media/``) across the full feature matrix (transforms, color
cache, LZ77, meta groups, sub-byte palette packing) decode back to their
source arrays; container handling, structural spec invariants, and
dispatch through the distributed operators."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from conte_to_fresco_etl_spark.operators.media import (
    decode_stats,
    numpy_codec,
)
from conte_to_fresco_etl_spark.operators.media_webp import (
    _DIST_MAP,
    _prefix_value,
    decode_webp,
)
from conte_to_fresco_etl_spark.schemas import MEDIA_SCHEMA
from helpers import decoded, encoded


def _roundtrip(img: np.ndarray, **kw) -> bytes:
    payload = encoded("encode_webp", img, **kw)
    out = decoded(decode_webp, "encode_webp", img, **kw)
    assert out.dtype == np.float32
    np.testing.assert_array_equal(out, img.astype(np.float32))
    return payload


def test_plain_literals_rgb_and_rgba():
    rng = np.random.default_rng(3)
    _roundtrip(rng.integers(0, 256, (13, 17, 3), dtype=np.uint8), lz77=False)
    _roundtrip(rng.integers(0, 256, (9, 9, 4), dtype=np.uint8))


def test_alpha_hint_controls_channel_count():
    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (5, 7, 4), dtype=np.uint8)
    assert decoded(decode_webp, "encode_webp", rgb).shape == (5, 7, 3)
    assert decoded(decode_webp, "encode_webp", rgba).shape == (5, 7, 4)


def test_lz77_vertical_and_long_distance_copies():
    rng = np.random.default_rng(5)
    tile = rng.integers(0, 256, (3, 20, 3), dtype=np.uint8)
    rep = np.tile(tile, (8, 1, 1))
    lit = encoded("encode_webp", rep, lz77=False)
    lz = encoded("encode_webp", rep)
    _roundtrip(rep)
    assert len(lz) < len(lit) / 2  # the copies actually compress
    # period 16 rows x width 32 = distance 512 >> the 120-code 2D map
    big = np.tile(rng.integers(0, 256, (16, 32, 3), dtype=np.uint8), (4, 1, 1))
    _roundtrip(big)


def test_color_cache_modes():
    rng = np.random.default_rng(6)
    few = rng.integers(0, 4, (16, 16), dtype=np.uint8)
    img = np.stack([few * 60, few * 30 + 5, 255 - few * 50], axis=2).astype(
        np.uint8
    )
    plain = encoded("encode_webp", img, lz77=False)
    cached = encoded("encode_webp", img, cache_bits=4, lz77=False)
    _roundtrip(img, cache_bits=4, lz77=False)
    _roundtrip(img, cache_bits=6)
    _roundtrip(img, cache_bits=1)
    assert len(cached) < len(plain)  # cache hits replace literals


def test_subtract_green_and_cross_color_transforms():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    _roundtrip(img, subtract_green=True)
    _roundtrip(img, color_transform=(37, -20, 100))
    _roundtrip(img, color_transform=(-128, 127, -1), subtract_green=True)


def test_predictor_transform_all_block_sizes():
    # smooth gradient: the per-block mode search picks varied modes and
    # the residual image compresses far below the literal encoding
    grad = (
        np.arange(24)[:, None, None] * 7
        + np.arange(31)[None, :, None] * 3
        + np.arange(3)[None, None, :] * 11
    ).astype(np.uint8)
    lit = encoded("encode_webp", grad, lz77=False)
    for bits in (2, 3, 4, 6):
        _roundtrip(grad, predictor_bits=bits)
    assert len(encoded("encode_webp", grad, predictor_bits=3)) < len(lit) / 3
    rng = np.random.default_rng(8)
    _roundtrip(
        rng.integers(0, 256, (13, 17, 4), dtype=np.uint8), predictor_bits=2
    )


def test_palette_packing_all_widths():
    rng = np.random.default_rng(9)
    for ncolors, shape in [(2, (11, 23)), (4, (10, 10)), (13, (12, 19)),
                           (150, (20, 20))]:
        v = rng.integers(0, ncolors, shape, dtype=np.uint8)
        img = np.stack(
            [(v * 19) % 256, 255 - (v * 11) % 256, (v * 7 + 2) % 256], axis=2
        ).astype(np.uint8)
        _roundtrip(img, palette=True)


def test_meta_prefix_groups():
    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, (16, 64, 3), dtype=np.uint8)
    _roundtrip(img, meta_bits=5)
    _roundtrip(img, meta_bits=4, cache_bits=5)


def test_stacked_transforms_and_degenerate_shapes():
    rng = np.random.default_rng(11)
    grad = (
        np.arange(24)[:, None, None] * 5
        + np.arange(31)[None, :, None] * 2
    ).astype(np.uint8).repeat(3, axis=2)
    _roundtrip(grad, predictor_bits=3, color_transform=(12, -9, 44),
               subtract_green=True, cache_bits=5)
    _roundtrip(rng.integers(0, 256, (1, 1, 3), dtype=np.uint8))
    _roundtrip(rng.integers(0, 256, (1, 37, 3), dtype=np.uint8))
    _roundtrip(rng.integers(0, 256, (29, 1, 4), dtype=np.uint8))
    _roundtrip(np.full((8, 8, 3), 137, dtype=np.uint8))


def test_distance_map_spec_invariants():
    """RFC 9649 §4.2.2.2 structural properties: 120 unique offsets,
    dy in 0..7, dx in -7..8, strictly 'behind' the current pixel,
    squared distance non-decreasing."""
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120
    d2 = [dx * dx + dy * dy for dx, dy in _DIST_MAP]
    assert d2 == sorted(d2)
    for dx, dy in _DIST_MAP:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        assert dy > 0 or dx > 0
    assert _DIST_MAP[0] == (0, 1) and _DIST_MAP[1] == (1, 0)
    assert _DIST_MAP[119] == (8, 7)


def test_lz77_prefix_code_roundtrip():
    class _Bits:
        def __init__(self, vals):
            self.vals = list(vals)

        def read(self, n):
            return self.vals.pop(0) if n else 0

    # (value, prefix code, extra bits value, extra bit count), RFC 9649
    # §5.2.2: the encoder's output for each value
    pinned = [
        (1, 0, 0, 0), (2, 1, 0, 0), (3, 2, 0, 0), (4, 3, 0, 0),
        (5, 4, 0, 1), (6, 4, 1, 1), (7, 5, 0, 1), (8, 5, 1, 1),
        (12, 6, 3, 2), (120, 13, 23, 5), (121, 13, 24, 5),
        (4096, 23, 1023, 10),
    ]
    for v, code, extra, nbits in pinned:
        assert 0 <= code < 24 or v > 4096
        assert _prefix_value(_Bits([extra]), code) == v


def test_container_vp8x_walk_and_errors():
    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (6, 6, 3), dtype=np.uint8)
    payload = encoded("encode_webp", img)
    # re-wrap the VP8L chunk behind a VP8X header chunk
    vp8l = payload[12:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    body = b"WEBP" + vp8x + vp8l
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    np.testing.assert_array_equal(
        decode_webp(wrapped), img.astype(np.float32)
    )
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE")
    # a lossy `VP8 ` chunk now dispatches to the native key-frame
    # decoder (media_vp8.py); an EMPTY frame body is a truncation error
    with pytest.raises(ValueError, match="truncated VP8 frame"):
        decode_webp(
            b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 "
            + struct.pack("<I", 0)
        )
    with pytest.raises(ValueError, match="no VP8L"):
        decode_webp(b"RIFF" + struct.pack("<I", 4) + b"WEBP")
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(payload[:24])
    with pytest.raises(ValueError, match="bad VP8L signature"):
        decode_webp(payload[:20])  # empty chunk body


def test_numpy_codec_dispatch_and_distributed(spark):
    rng = np.random.default_rng(13)
    imgs = {
        1: rng.integers(0, 256, (8, 12, 3), dtype=np.uint8),
        2: rng.integers(0, 256, (5, 5, 4), dtype=np.uint8),
    }
    local = numpy_codec(encoded("encode_webp", imgs[1]), "image")
    np.testing.assert_array_equal(local, imgs[1].astype(np.float32))
    rows = [
        (
            int(i),
            "image",
            encoded("encode_webp", img, cache_bits=4),
            ("image/webp", img.shape[1], img.shape[0], None, None),
        )
        for i, img in imgs.items()
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in decode_stats(df, codec=numpy_codec).collect()
    }
    assert set(out) == {1, 2}
    for i, img in imgs.items():
        assert out[i]["n_values"] == img.size
        assert out[i]["mean"] == pytest.approx(
            float(img.astype(np.float64).mean()), abs=1e-6
        )
