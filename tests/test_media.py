"""Multimodal operator tests: the Spark plumbing (schemas, Arrow batch
shapes, per-modality routing) is exercised for real with the
deterministic fake codec; the strict stub is asserted to raise."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.media import (
    decode_stats,
    extract_features,
    strict_codec,
)
from conte_to_fresco_etl_spark.schemas import MEDIA_SCHEMA
from helpers import decoded, digest, encoded, fake_codec, pinned


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", b"img-payload-1", ("image/png", 640, 480, None, None)),
        (2, "image", b"img-payload-2", ("image/png", 64, 64, None, None)),
        (3, "audio", b"audio-payload", ("audio/wav", None, None, 2500, 16000)),
        (4, "video", b"video-payload", ("video/mp4", 1920, 1080, 3500, None)),
        (5, "image", None, ("image/png", 1, 1, None, None)),  # null payload
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_stats_deterministic(spark, media_df):
    out = decode_stats(media_df, codec=fake_codec)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,modality:string,n_bytes:bigint,"
        "payload_md5:string,n_values:bigint,mean:double,std:double,"
        "skip_reason:string>"
    )
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}  # null payload dropped
    assert rows[1]["n_values"] == 64  # 8x8 image grid
    assert rows[3]["n_values"] == 64  # audio sample vector
    # payload fidelity across the Arrow boundary: length + content hash
    assert rows[1]["n_bytes"] == len(b"img-payload-1")
    assert rows[1]["payload_md5"] == hashlib.md5(b"img-payload-1").hexdigest()
    # exact reproducibility against a local decode of the same payload
    expected = float(
        fake_codec(b"img-payload-1", "image").astype("float64").mean()
    )
    assert rows[1]["mean"] == pytest.approx(expected, abs=1e-12)


def test_extract_features_feeds_similarity(spark, media_df):
    feats = extract_features(media_df, codec=fake_codec, dim=64)
    assert feats.schema.simpleString() == (
        "struct<media_id:bigint,embedding:array<float>>"
    )
    got = {r["media_id"]: r["embedding"] for r in feats.collect()}
    assert all(len(v) == 64 for v in got.values())
    # embedding column is consumable by the similarity operators
    from conte_to_fresco_etl_spark.operators.similarity import brute_force_topk

    renamed = feats.withColumnRenamed("media_id", "vec_id")
    topk = brute_force_topk(renamed, renamed.filter(F.col("vec_id") == 1), k=2)
    assert [r["rank"] for r in topk.collect()] == [1, 2]


def test_strict_codec_raises():
    with pytest.raises(NotImplementedError):
        strict_codec(b"x", "image")


def test_fake_codec_stable():
    a = fake_codec(b"same-bytes", "image")
    b = fake_codec(b"same-bytes", "image")
    assert np.array_equal(a, b)
    assert a.shape == (8, 8) and a.dtype == np.float32
    digest = hashlib.md5(b"same-bytes").digest()
    assert digest  # seeding is content-derived, not time/random


def _ppm_bytes(w, h, pixels):
    """pixels: list of (r, g, b) rows-major."""
    head = f"P6\n# test comment\n{w} {h}\n255\n".encode()
    return head + bytes(v for px in pixels for v in px)


def _wav_bytes(samples, channels=1, rate=8000):
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_decode_ppm_exact():
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_ppm

    img = decode_ppm(
        _ppm_bytes(2, 2, [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)])
    )
    assert img.shape == (2, 2, 3) and img.dtype == np.float32
    assert img[0, 0].tolist() == [255.0, 0.0, 0.0]
    assert img[1, 1].tolist() == [9.0, 9.0, 9.0]


def test_decode_wav_exact():
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_wav

    wav = decode_wav(_wav_bytes([0, 16384, -32768, 32767], channels=2))
    assert wav.shape == (2, 2) and wav.dtype == np.float32
    assert wav[0].tolist() == [0.0, 0.5]
    assert wav[1, 0] == -1.0 and 0.9999 < wav[1, 1] < 1.0


def test_numpy_codec_end_to_end_distributed(spark):
    """Real PPM/WAV payloads decode through the same distributed
    operators the fake exercised — stats and features both running
    a REAL decoder with no media library."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        extract_features,
        numpy_codec,
    )

    ppm = _ppm_bytes(
        2, 2, [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    )
    wav = _wav_bytes([0, 16384, -16384, 32767])
    rows = [(1, "image", bytearray(ppm), None), (2, "audio", bytearray(wav), None)]
    df = spark.createDataFrame(
        rows,
        "media_id long, modality string, payload binary, "
        "meta map<string,string>",
    )
    stats = {
        r["media_id"]: r
        for r in decode_stats(df, codec=numpy_codec).collect()
    }
    assert stats[1]["n_values"] == 12
    assert abs(stats[1]["mean"] - (255 * 3 + 27) / 12) < 1e-6
    assert stats[2]["n_values"] == 4

    feats = {
        r["media_id"]: r["embedding"]
        for r in extract_features(df, codec=numpy_codec, dim=16).collect()
    }
    assert feats[1][:3] == [255.0, 0.0, 0.0]
    assert abs(feats[2][1] - 0.5) < 1e-6


def test_decode_png_roundtrip_all_filters():
    """Every scanline filter must invert exactly: the same image encoded
    under filters 0-4 decodes to identical pixels."""
    from conte_to_fresco_etl_spark.operators.media import (
        decode_png,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
    outs = [
        decoded(decode_png, "encode_png", img, filter_type=f) for f in range(5)
    ]
    for d in outs:
        assert d.shape == (13, 7, 3)
        assert np.array_equal(d, img.astype(np.float32))


def test_decode_png_color_types_and_depth():
    from conte_to_fresco_etl_spark.operators.media import (
        decode_png,
    )

    rng = np.random.default_rng(5)
    # gray, gray+alpha, RGB, RGBA at 8-bit
    for channels in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(6, 5, channels), dtype=np.uint8)
        out = decoded(decode_png, "encode_png", img, filter_type=4)
        assert out.shape == (6, 5, channels)
        assert np.array_equal(out, img.astype(np.float32))
    # 16-bit RGB: big-endian samples survive exactly
    img16 = rng.integers(0, 65536, size=(4, 3, 3), dtype=np.uint16)
    out16 = decoded(
        decode_png, "encode_png", img16, bit_depth=16, filter_type=2
    )
    assert np.array_equal(out16, img16.astype(np.float32))


def test_decode_png_palette():
    """Hand-built palette (color type 3) PNG expands through PLTE."""
    import struct
    import zlib

    from conte_to_fresco_etl_spark.operators.media import (
        _PNG_SIG,
        decode_png,
    )

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    palette = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250])  # R, G, B entries
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    scanlines = b"".join(b"\x00" + row.tobytes() for row in idx)
    payload = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    out = decode_png(payload)
    assert out.shape == (2, 3, 3)
    assert out[0, 0].tolist() == [250.0, 0.0, 0.0]
    assert out[1, 0].tolist() == [0.0, 0.0, 250.0]


def test_decode_png_interlace_supported_and_garbage_rejected():
    import struct
    import zlib

    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        _PNG_SIG,
        decode_png,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b"\x00" * 16)

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    # Adam7 is now SUPPORTED: a 1x1 interlaced gray image is pass 1
    # alone (one filter byte + one sample) and must decode
    interlaced = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
        + chunk(b"IEND", b"")
    )
    assert decode_png(interlaced).tolist() == [[[7.0]]]
    unknown_method = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 2))
        + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        decode_png(unknown_method)


def test_png_through_decode_stats_distributed(spark):
    """A real (spec-conformant, zlib-compressed) PNG rides the binary
    column through mapInPandas and decodes via numpy_codec's magic-byte
    dispatch — the closed r3 'compressed codec' gap, end-to-end."""
    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        extract_features,
        numpy_codec,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(9, 9, 3), dtype=np.uint8)
    flat_png = encoded("encode_png", img, filter_type=1)
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    df = spark.createDataFrame(
        [(1, "image", bytearray(flat_png)), (2, "image", bytearray(ppm))],
        "media_id long, modality string, payload binary",
    )
    stats = {
        r["media_id"]: r for r in decode_stats(df, codec=numpy_codec).collect()
    }
    assert stats[1]["n_values"] == 9 * 9 * 3
    assert abs(stats[1]["mean"] - img.astype(np.float64).mean()) < 1e-9
    assert abs(stats[1]["std"] - img.astype(np.float64).std()) < 1e-9
    assert stats[1]["n_bytes"] == len(flat_png)
    assert stats[2]["n_values"] == 12
    feats = {
        r["media_id"]: r["embedding"]
        for r in extract_features(df, codec=numpy_codec, dim=8).collect()
    }
    assert feats[1] == img.ravel()[:8].astype(np.float32).tolist()


def test_decode_png_rejects_out_of_range_palette_index():
    import struct
    import zlib

    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        _PNG_SIG,
        decode_png,
    )

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    # 2-entry palette, pixel index 5 -> ValueError, not a numpy IndexError
    payload = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([1, 2, 3, 4, 5, 6]))
        + chunk(b"IDAT", zlib.compress(b"\x00\x05"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        decode_png(payload)
    # PLTE not a multiple of 3
    bad_plte = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([1, 2, 3, 4]))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE length"):
        decode_png(bad_plte)


def _real_lzw_gif(img):
    """A genuinely COMPRESSING GIF LZW encoder (dictionary codes, not
    the literal-only fixture encoder) so the decoder's dictionary and
    KwKwK paths face a real stream."""
    import struct

    import numpy as np

    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    bits = max(2, int(np.ceil(np.log2(max(2, len(palette))))))
    ct = np.zeros((1 << bits, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    pixels = bytes(inverse.reshape(-1).astype(np.uint8))

    clear, end = 1 << bits, (1 << bits) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, code_size = end + 1, bits + 1
    out, acc, nacc = bytearray(), 0, 0

    def emit(code, size):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += size
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear, code_size)
    run = b""
    for b in pixels:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], code_size)
        table[cand] = next_code
        next_code += 1
        # the decoder's table runs ONE entry behind (its add for this
        # code happens when it reads the NEXT one), so widen at 2^n+1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code >= 4096:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code, code_size = end + 1, bits + 1
        run = bytes([b])
    if run:
        emit(table[run], code_size)
    emit(end, code_size)
    if nacc:
        out.append(acc & 0xFF)

    body = bytearray(b"GIF89a")
    body += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    body += ct.tobytes()
    body += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    body.append(bits)
    data = bytes(out)
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        body.append(len(chunk))
        body += chunk
    body += b"\x00\x3b"
    return bytes(body)


def test_gif_roundtrip_fixture_encoder():
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_gif,
    )

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 16, size=(9, 14))]
    for kwargs in ({}, {"interlace": True}, {"use_clear_codes": True}):
        out = decoded(decode_gif, "encode_gif", img, **kwargs)
        assert out.shape == (9, 14, 3)
        assert np.array_equal(out.astype(np.uint8), img), kwargs


def test_gif_decodes_real_lzw_compression():
    """Pattern-heavy images produce dictionary hits and the aaaa...
    KwKwK case; the decoder must reproduce pixels exactly."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_gif

    # solid runs (KwKwK) + repeated rows (dictionary reuse)
    img = np.zeros((20, 30, 3), dtype=np.uint8)
    img[::2] = [200, 10, 10]
    img[5, 10:20] = [0, 255, 0]
    out = decode_gif(_real_lzw_gif(img))
    assert np.array_equal(out.astype(np.uint8), img)
    # worst case for KwKwK: one color everywhere
    solid = np.full((11, 13, 3), 77, dtype=np.uint8)
    assert np.array_equal(
        decode_gif(_real_lzw_gif(solid)).astype(np.uint8), solid
    )


def test_gif_dispatch_through_decode_stats(spark):
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    img = pal[np.eye(8, dtype=int)]
    payload = encoded("encode_gif", img)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, modality string, payload binary",
    )
    row = decode_stats(df, codec=numpy_codec).collect()[0]
    assert row["n_values"] == 8 * 8 * 3
    expect = img.astype(np.float64)
    assert abs(row["mean"] - expect.mean()) < 1e-6


def test_jpeg_roundtrip_quality_bounds():
    """Baseline JPEG round trips: solid blocks are DC-only (tight
    bound); smooth gradients stay within small per-pixel error at high
    quality; grayscale, 4:2:0 subsampling, and non-multiple-of-8
    dimensions all reconstruct."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_jpeg,
    )

    solid = np.full((16, 24, 3), [120, 60, 200], dtype=np.uint8)
    out = decoded(decode_jpeg, "encode_jpeg", solid, quality=95)
    assert out.shape == (16, 24, 3)
    assert np.abs(out - solid).max() < 1.0

    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)
    out = decoded(decode_jpeg, "encode_jpeg", grad, quality=95)
    assert np.abs(out - grad).mean() < 1.0

    g = (yy * 5 % 256).astype(np.uint8)
    out = decoded(decode_jpeg, "encode_jpeg", g, quality=95)
    assert out.shape == (32, 48, 1)
    assert np.abs(out[..., 0] - g).mean() < 1.0

    out = decoded(decode_jpeg, "encode_jpeg", grad, quality=95, subsample=True)
    assert out.shape == (32, 48, 3)
    assert np.abs(out - grad).mean() < 3.0  # chroma halved

    odd = grad[:29, :43]
    out = decoded(decode_jpeg, "encode_jpeg", odd, quality=95)
    assert out.shape == (29, 43, 3)
    assert np.abs(out - odd).mean() < 1.0


def test_jpeg_restart_markers_and_sharp_content():
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_jpeg,
    )

    rng = np.random.default_rng(9)
    noisy = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    plain = decoded(decode_jpeg, "encode_jpeg", noisy, quality=95)
    restarted = decoded(
        decode_jpeg, "encode_jpeg", noisy, quality=95, restart_interval=3
    )
    # restart markers change framing, not content
    assert np.array_equal(plain, restarted)
    # high-frequency noise at q=95 still lands in the right ballpark
    assert np.abs(plain - noisy).mean() < 20.0


def test_jpeg_progressive_matches_baseline_bit_exact():
    """The progressive decoder reconstructs the IDENTICAL image as the
    baseline path for the same source array and quantizer: both recover
    the same quantized coefficients, so the IDCT outputs are bit-equal.
    Covers 4:4:4 color, 4:2:0 subsampling (non-interleaved AC scans
    over different per-component block grids), grayscale, and
    non-multiple-of-8 dimensions across spectral band splits."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_jpeg,
    )

    rng = np.random.default_rng(7)
    cases = [
        ((24, 31, 3), False),
        ((16, 16, 3), True),
        ((19, 23), False),
    ]
    for shape, sub in cases:
        arr = (
            rng.integers(0, 256, size=shape).astype(np.float64) * 0.3
            + 128 * 0.7
        ).astype(np.uint8)
        base = decoded(
            decode_jpeg, "encode_jpeg", arr, quality=95, subsample=sub
        )
        prog_bytes = encoded(
            "encode_jpeg_progressive", arr, quality=95, subsample=sub
        )
        assert b"\xff\xc2" in prog_bytes  # SOF2 frame
        prog = decode_jpeg(prog_bytes)
        assert prog.shape == base.shape
        assert np.array_equal(prog, base), (shape, sub)


def test_jpeg_progressive_adversarial_coefficient_patterns():
    """Patterns that force every Annex-G entropy path: all-zero AC
    (pure EOB runs across blocks), per-block impulses (ZRL bursts),
    dense noise at low quality (many refinement correction bits
    interleaved with zero runs), checkerboard (max high-frequency), and
    a gradient — each across three spectral band splits, all bit-exact
    against the baseline decode."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_jpeg,
    )

    rng = np.random.default_rng(42)
    impulse = np.zeros((64, 64), np.uint8)
    impulse[::8, ::8] = 255
    checker = ((np.indices((40, 40)).sum(axis=0) % 2) * 255).astype(np.uint8)
    grad = np.linspace(0, 255, 72 * 80).reshape(72, 80).astype(np.uint8)
    cases = [
        (np.full((64, 64, 3), 200, np.uint8), 90, False),
        (impulse, 90, False),
        (rng.integers(0, 256, (48, 56, 3)).astype(np.uint8), 50, True),
        (checker, 75, False),
        (grad, 95, False),
    ]
    for arr, q, sub in cases:
        base = decoded(
            decode_jpeg, "encode_jpeg", arr, quality=q, subsample=sub
        )
        for bs in (6, 32, 63):
            prog = decoded(
                decode_jpeg, "encode_jpeg_progressive", arr, quality=q,
                subsample=sub, band_split=bs,
            )
            assert np.array_equal(prog, base), (q, sub, bs)


def test_jpeg_progressive_dispatch_through_decode_stats(spark):
    """A progressive payload flows through the Spark-side decode-stats
    operator exactly like a baseline one (same FFD8 magic dispatch)."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )

    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    payload = encoded("encode_jpeg_progressive", img, quality=95)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, modality string, payload binary",
    )
    row = decode_stats(df, codec=numpy_codec).collect()[0]
    assert row["n_values"] == 8 * 8 * 3
    assert abs(row["mean"] - 128.0) < 1.0


def test_jpeg_scanless_still_raises():
    import pytest

    from conte_to_fresco_etl_spark.operators.media import decode_jpeg

    fake_sof2 = b"\xff\xd8\xff\xc2\x00\x0b" + b"\x08\x00\x10\x00\x10\x01" + b"\x01\x11\x00"
    with pytest.raises(ValueError, match="no scan"):
        decode_jpeg(fake_sof2)


def test_jpeg_dispatch_through_decode_stats(spark):
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )

    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    payload = encoded("encode_jpeg", img, quality=95)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, modality string, payload binary",
    )
    row = decode_stats(df, codec=numpy_codec).collect()[0]
    assert row["n_values"] == 8 * 8 * 3
    assert abs(row["mean"] - 128.0) < 1.0


def test_jpeg_asymmetric_422_subsampling():
    """4:2:2 (horizontal-only chroma halving) exercises the asymmetric
    upsampling path: rows repeat by the VERTICAL factor, columns by the
    HORIZONTAL one — a factor-axis swap breaks the plane shapes."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:40]
    grad = np.stack(
        [yy * 5 % 256, xx * 4 % 256, (yy + xx) * 3 % 256], -1
    ).astype(np.uint8)
    out = decoded(
        decode_jpeg, "encode_jpeg", grad, quality=95, subsample="422"
    )
    assert out.shape == (24, 40, 3)
    assert np.abs(out - grad).mean() < 3.0


def test_jpeg_non_interleaved_scan_raises():
    import struct

    import pytest

    from conte_to_fresco_etl_spark.operators.media import decode_jpeg

    # minimal SOF0 3-component frame followed by a 1-component scan
    sof = struct.pack(">BHHB", 8, 16, 16, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    dqt = bytes([0]) + bytes([16] * 64)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    payload = (
        b"\xff\xd8"
        + b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
        + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        + b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    )
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(payload)


def test_png_adam7_interlace_roundtrip():
    """Adam7 round trips exactly for every filter, bit depth, channel
    count, and edge sizes where several passes are empty."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_png,
    )

    rng = np.random.default_rng(5)
    cases = [
        (13, 7, 3, 8, 0), (16, 16, 3, 8, 2), (9, 11, 1, 8, 4),
        (5, 3, 4, 8, 1), (8, 8, 3, 16, 0), (1, 1, 3, 8, 0),
        (7, 2, 2, 8, 3), (2, 9, 3, 8, 4),
    ]
    for h, w, ch, depth, ft in cases:
        hi = 65536 if depth == 16 else 256
        img = rng.integers(0, hi, size=(h, w, ch)).astype(
            np.uint16 if depth == 16 else np.uint8
        )
        out = decoded(
            decode_png, "encode_png", img, bit_depth=depth, filter_type=ft,
            interlace=True,
        )
        assert out.shape == (h, w, ch)
        assert np.array_equal(out.astype(img.dtype), img), (h, w, ch, depth, ft)


def test_extract_features_all_null_batch(spark):
    from conte_to_fresco_etl_spark.operators.media import extract_features

    df = spark.createDataFrame(
        [(1, "image", None), (2, "image", None)],
        "media_id long, modality string, payload binary",
    )
    assert extract_features(df, codec=fake_codec, dim=8).collect() == []


def test_png_truncated_interlaced_idat_raises_valueerror():
    import struct
    import zlib

    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        _PNG_SIG,
        decode_png,
    )

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    truncated = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x07"))  # pass 1 only
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_png(truncated)


def test_flac_roundtrip_exact_and_compressing():
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
    )

    t = np.arange(3000)
    tone = (2000 * np.sin(2 * np.pi * t / 50)).astype(np.int16)
    stereo = np.stack([tone, (tone // 2).astype(np.int16)], axis=1)
    for s, ch in [(tone, 1), (stereo, 2), (tone[:100], 1)]:
        payload = encoded("encode_flac", s, block_size=512)
        out = decode_flac(payload)
        n = s.shape[0]
        want = np.asarray(s, dtype=np.int64).reshape(n, ch).astype(
            np.float32
        ) / np.float32(32768.0)
        assert out.shape == (n, ch)
        assert np.array_equal(out, want)
    # fixed predictors genuinely compress tonal audio
    payload = encoded("encode_flac", tone, block_size=512)
    assert len(payload) < 0.6 * tone.size * 2


def test_flac_crc_corruption_detected():
    import numpy as np
    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
    )

    tone = (500 * np.sin(np.arange(1500) / 20)).astype(np.int16)
    payload = bytearray(encoded("encode_flac", tone, block_size=512))
    payload[-40] ^= 0xFF  # flip a bit inside the last frame
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(payload))


def test_flac_through_decode_stats_distributed(spark):
    """Compressed audio rides the binary column end-to-end: a FLAC
    payload is dispatched by magic inside the distributed decode_stats
    operator and matches the local decode."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
        decode_stats,
        numpy_codec,
    )

    t = np.arange(3000)
    tone = (2000 * np.sin(2 * np.pi * t / 50)).astype(np.int16)
    payload = encoded("encode_flac", tone, block_size=512)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload))],
        "media_id long, modality string, payload binary",
    )
    row = decode_stats(df, codec=numpy_codec).collect()[0]
    local = decode_flac(payload).astype(np.float64)
    assert row["skip_reason"] is None and row["n_values"] == local.size
    assert abs(row["mean"] - local.mean()) < 1e-9


def test_flac_mid_side_stereo_roundtrip_and_gain():
    """Mid/side decorrelation reconstructs exactly (including the
    +/-32768 extremes whose side channel needs the 17th bit) and
    shrinks the stream when channels are correlated."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
    )

    t = np.arange(3000)
    L = (2000 * np.sin(2 * np.pi * t / 50)).astype(np.int16)
    identical = np.stack([L, L], axis=1)
    ind = encoded("encode_flac", identical, block_size=512)
    ms = encoded("encode_flac", identical, block_size=512, stereo="mid-side")
    for mode in ("independent", "left-side", "right-side", "mid-side"):
        out = decoded(
            decode_flac, "encode_flac", identical, block_size=512, stereo=mode
        )
        assert np.array_equal(
            out, identical.astype(np.float32) / np.float32(32768.0)
        ), mode
    assert len(ms) < 0.75 * len(ind)  # side channel ~free when L == R

    edge = np.array(
        [[-32768, 32767], [32767, -32768], [0, 0], [1, -1]] * 100,
        dtype=np.int16,
    )
    for mode in ("left-side", "right-side", "mid-side"):
        out = decoded(
            decode_flac, "encode_flac", edge, block_size=128, stereo=mode
        )
        assert np.array_equal(
            out, edge.astype(np.float32) / np.float32(32768.0)
        ), mode


def test_flac_lpc_beats_fixed_predictors():
    """The LPC path reconstructs exactly and compresses multi-tone
    audio tighter than the fixed predictors it competes against."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
    )

    rng = np.random.default_rng(5)
    t = np.arange(3000)
    multi = (
        2500 * np.sin(2 * np.pi * t / 37)
        + 800 * np.sin(2 * np.pi * t / 11)
        + rng.normal(0, 25, t.size)
    ).astype(np.int16)
    fixed_only = encoded("encode_flac", multi, block_size=1024, lpc_order=0)
    with_lpc = encoded("encode_flac", multi, block_size=1024, lpc_order=8)
    for pay in (fixed_only, with_lpc):
        out = decode_flac(pay)
        assert np.array_equal(
            out[:, 0], multi.astype(np.float32) / np.float32(32768.0)
        )
    assert len(with_lpc) < 0.9 * len(fixed_only)


def test_flac_long_stream_truncation_and_edges():
    """Streams beyond 128 frames round-trip (multi-byte UTF-8 frame
    numbers); truncated payloads raise the ValueError contract at any
    cut point; zero-length input round-trips to an empty array."""
    import numpy as np
    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        decode_flac,
    )

    t = np.arange(200 * 64)  # 200 frames at block_size=64
    sig = (900 * np.sin(2 * np.pi * t / 31)).astype(np.int16)
    payload = encoded("encode_flac", sig, block_size=64)
    out = decode_flac(payload)
    assert np.array_equal(
        out[:, 0], sig.astype(np.float32) / np.float32(32768.0)
    )

    for cut in (len(payload) - 3, len(payload) // 2, 60):
        with pytest.raises(ValueError):
            decode_flac(payload[:cut])

    empty = decoded(decode_flac, "encode_flac", np.zeros((0,), dtype=np.int16))
    assert empty.shape == (0, 1)


# ---------------------------------------------------------------------------
# aHash image near-dup
# ---------------------------------------------------------------------------

def _ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.astype(np.uint8).tobytes()


def _ref_ahash(pixels: np.ndarray, bits: int = 32) -> int:
    px = pixels.astype(np.int64)
    gray = ((px[:, :, 0] + 2 * px[:, :, 1] + px[:, :, 2]) >> 2).ravel()[:bits]
    s = int(gray.sum())
    return sum(1 << p for p in range(bits) if bits * int(gray[p]) > s)


def test_ahash_signature_matches_reference(spark):
    from conte_to_fresco_etl_spark.operators.media import (
        ahash_signatures,
        numpy_codec,
    )

    rng = np.random.default_rng(7)
    imgs = {i: rng.integers(0, 256, (4, 8, 3)) for i in range(3)}
    rows = [(i, "image", _ppm(a), (None, 8, 4, None, None)) for i, a in imgs.items()]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["ahash"]
        for r in ahash_signatures(df, codec=numpy_codec).collect()
    }
    assert got == {i: _ref_ahash(a) for i, a in imgs.items()}


def test_ahash_neardup_twins_found_cross_pairs_not(spark):
    """A perturbed twin (3 gray deltas) pairs with its base at small
    Hamming; independent random images do not, and the banded join's
    pair set equals the brute-force Hamming<=3 set (pigeonhole exact)."""
    from conte_to_fresco_etl_spark.operators.media import (
        ahash_neardup_pairs,
        ahash_signatures,
        numpy_codec,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (4, 8, 3))
    twin = base.copy()
    twin[0, :3, 0] = (twin[0, :3, 0] + 96) % 256  # 3 red bytes shifted
    others = [rng.integers(0, 256, (4, 8, 3)) for _ in range(6)]
    imgs = [base, twin, *others]
    rows = [
        (i, "image", _ppm(a), (None, 8, 4, None, None))
        for i, a in enumerate(imgs)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(df, codec=numpy_codec).collect()
    }
    sigs = {
        r["media_id"]: r["ahash"]
        for r in ahash_signatures(df, codec=numpy_codec).collect()
    }
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert pairs == brute
    assert (0, 1) in pairs  # the twin pair survives


def test_ahash_guards():
    from conte_to_fresco_etl_spark.operators.media import (
        ahash_neardup_pairs,
        ahash_signatures,
    )

    with pytest.raises(ValueError, match="bits"):
        ahash_signatures(None, bits=64)  # 64 needs the sign bit
    with pytest.raises(ValueError, match="pigeonhole"):
        ahash_neardup_pairs(None, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="bands"):
        ahash_neardup_pairs(None, bits=30, n_bands=4)


def test_audio_energy_signature_matches_reference(spark):
    """Energy-hash over a real WAV round-trip equals the integer
    reference; a 3-low-byte perturbed twin pairs with its base."""
    import struct

    from conte_to_fresco_etl_spark.operators.media import (
        audio_energy_signatures,
        audio_neardup_pairs,
        numpy_codec,
    )

    def wav(samples):
        body = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(body)) + body
        )

    def ref_hash(samples, n_windows=32):
        e = [
            sum(abs(s) for s in samples[i::1][: len(samples) // n_windows])
            for i in range(0, len(samples), len(samples) // n_windows)
        ]
        tot = sum(e)
        return sum(
            1 << w for w in range(n_windows) if n_windows * e[w] > tot
        )

    rng = np.random.default_rng(5)
    base = rng.integers(-32768, 32768, 64).tolist()
    twin = list(base)
    for i in range(3):  # change the low byte of samples 0..2
        twin[i] = (twin[i] & ~0xFF) | ((twin[i] + 77) & 0xFF)
    other = rng.integers(-32768, 32768, 64).tolist()
    rows = [
        (1, "audio", wav(base), (None, None, None, 64, 8000)),
        (2, "audio", wav(twin), (None, None, None, 64, 8000)),
        (3, "audio", wav(other), (None, None, None, 64, 8000)),
        (4, "audio", wav(base[:62]), (None, None, None, 62, 8000)),  # skip
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    sigs = {
        r["media_id"]: r["ehash"]
        for r in audio_energy_signatures(df, codec=numpy_codec).collect()
    }
    assert 4 not in sigs  # 62 samples don't fill the 32-window grid
    for mid, samples in [(1, base), (2, twin), (3, other)]:
        assert sigs[mid] == ref_hash(samples)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_neardup_pairs(df, codec=numpy_codec).collect()
    }
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert pairs == brute
    assert (1, 2) in pairs


# ---------------------------------------------------------------------------
# Lossy WebP: VP8 key frames (media_vp8.py)
# ---------------------------------------------------------------------------

def test_vp8_bool_coder_round_trip():
    """The RFC 6386 boolean arithmetic coder: 5000 bools at random
    probabilities plus literals/signed values decode exactly from the
    pinned encoder output (carry propagation included)."""
    import random

    from conte_to_fresco_etl_spark.operators.media_vp8 import BoolDecoder

    rng = random.Random(7)
    bits = [(rng.randrange(1, 255), rng.randrange(2)) for _ in range(5000)]
    bd = BoolDecoder(encoded("BoolEncoder", bits, (12345, 14), (-9, 4)))
    assert all(bd.read_bool(p) == b for p, b in bits)
    assert bd.read_literal(14) == 12345
    assert bd.read_signed(4) == -9


def test_vp8_transforms_exact_and_paired():
    """The spec inverse transforms are exact integer; the pinned
    coefficients of the reference-style forward transforms invert
    through them within +-1 (both pairs carry a >>3/>>4 rounding step,
    the same tolerance the reference encoder accepts — the codec's
    bit-exactness comes from the decoder-in-the-loop reconstruction,
    not from lossless transforms)."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        idct4x4,
        iwht4x4,
    )

    rng = np.random.default_rng(5)
    blks, dcss = [], []
    for _ in range(50):
        blks.append(rng.integers(-255, 256, (4, 4)))
        dcss.append([int(x) for x in rng.integers(-2048, 2048, 16)])
    dct = np.frombuffer(encoded("fdct4x4", blks), "<i4").reshape(50, 16)
    wht = np.frombuffer(encoded("fwht4x4", dcss), "<i4").reshape(50, 16)
    for blk, dcs, c, w in zip(blks, dcss, dct, wht):
        rec = idct4x4([int(x) for x in c])
        assert np.abs(rec - blk).max() <= 1
        got = iwht4x4([int(x) for x in w])
        assert max(abs(a - b) for a, b in zip(got, dcs)) <= 1
    # a lone DC of 8 must reconstruct to the flat +1 block (the exact
    # (dc + 4) >> 3 rounding path)
    assert (idct4x4([8] + [0] * 15) == 1).all()


def test_vp8_round_trip_bit_exact_and_bounded():
    """decode_vp8_planes of each pinned key frame equals the encoder's
    own decoder-in-the-loop reconstruction (pinned by hash)
    BIT-EXACTLY (solid, gradient, noise; fine and coarse quantizers;
    odd dimensions), and the RGB
    round trip stays within lossy-codec error bounds mirroring the
    JPEG test's conventions."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8,
        decode_vp8_planes,
    )

    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    solid = np.full((16, 16, 3), [120, 60, 200], dtype=np.uint8)

    for img, qi in [
        (solid, 4), (grad, 4), (grad, 40), (noise, 4), (noise, 60),
        (grad[:29, :43], 4),
    ]:
        data = encoded("encode_vp8", img, qi=qi)
        recon = pinned("encode_vp8", img, qi=qi)["planes_sha256"]
        planes, w, h = decode_vp8_planes(data)
        assert (w, h) == (img.shape[1], img.shape[0])
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], (k, qi)

    # quality bounds (4:2:0 chroma: gradient bound mirrors JPEG's)
    out = decoded(decode_vp8, "encode_vp8", solid, qi=4)
    assert out.shape == (16, 16, 3)
    assert np.abs(out - solid).max() < 1.5
    out = decoded(decode_vp8, "encode_vp8", grad, qi=4)
    assert np.abs(out - grad).mean() < 3.0
    odd = grad[:29, :43]
    out = decoded(decode_vp8, "encode_vp8", odd, qi=4)
    assert out.shape == (29, 43, 3)
    assert np.abs(out - odd).mean() < 3.0
    # coarser quantizer must cost quality monotonically on luma
    def luma(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

    fine = decoded(decode_vp8, "encode_vp8", noise, qi=4)
    coarse = decoded(decode_vp8, "encode_vp8", noise, qi=60)
    e_fine = np.abs(luma(fine) - luma(noise.astype(float))).mean()
    e_coarse = np.abs(luma(coarse) - luma(noise.astype(float))).mean()
    assert e_fine < 3.0 < e_coarse


def test_vp8_b_pred_modes_shape_and_range():
    """All ten 4x4 B_PRED sub-mode predictors stay in [0, 255] and
    honor the spec edge fills (127 above / 129 left) at the frame
    corner."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        B_DC,
        B_HU,
        predict_b,
    )

    rng = np.random.default_rng(3)
    plane = rng.integers(0, 256, (16, 16)).astype(np.int64)
    for mode in range(B_DC, B_HU + 1):
        for (r, c) in [(0, 0), (0, 4), (4, 0), (8, 8), (12, 12)]:
            p = predict_b(plane, r, c, mode)
            assert p.shape == (4, 4)
            assert p.min() >= 0 and p.max() <= 255
    # corner DC: (4*127 above + 4*129 left + 4) >> 3 = 128
    corner = predict_b(np.zeros((8, 8), dtype=np.int64), 0, 0, B_DC)
    assert (corner == 128).all()


def test_vp8_webp_container_and_decode_stats_dispatch(spark):
    """A pinned lossy WebP (a VP8 key frame in RIFF): decode_webp
    dispatches the `VP8 ` chunk to the native decoder (the former
    plug-point), and the payload flows through the distributed
    decode_stats operator."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import (
        decode_stats,
        numpy_codec,
    )
    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8,
    )
    from conte_to_fresco_etl_spark.operators.media_webp import decode_webp

    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)
    payload = encoded("encode_webp_lossy", grad, qi=8)
    via_container = decoded(decode_webp, "encode_webp_lossy", grad, qi=8)
    assert via_container.shape == (32, 48, 3)
    assert np.abs(via_container - grad).mean() < 3.0

    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, modality string, payload binary",
    )
    row = decode_stats(df, codec=numpy_codec).collect()[0]
    assert row["n_values"] == 32 * 48 * 3
    expect = decode_vp8(payload[20:]).astype(np.float64)
    assert abs(row["mean"] - expect.mean()) < 1e-6


def test_vp8_loop_filter_bit_exact_and_effective():
    """The in-loop deblocking post-pass (normal filter with and
    without hev thresholds, simple filter, nonzero sharpness): the
    decoder's filtered planes equal the encoder's decoder-in-the-loop
    reconstruction (pinned by hash) bit-for-bit, and each filter
    configuration actually changes pixels relative to the decode of the
    same frame coded unfiltered."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8_planes,
    )

    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)

    cases = [
        (noise, dict(qi=40, filter_level=20)),            # normal
        (grad, dict(qi=60, filter_level=63, sharpness=3)),  # sharpness
        (noise, dict(qi=40, filter_level=25, filter_type=1)),  # simple
        (noise, dict(qi=60, filter_level=45)),            # hev >= 40
    ]
    for img, kw in cases:
        data = encoded("encode_vp8", img, **kw)
        recon = pinned("encode_vp8", img, **kw)["planes_sha256"]
        planes, _, _ = decode_vp8_planes(data)
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], (k, kw)
        unfiltered, _, _ = decode_vp8_planes(
            encoded("encode_vp8", img, qi=kw["qi"])
        )
        assert any(
            not np.array_equal(unfiltered[k], planes[k])
            for k in ("y", "u", "v")
        ), kw


def test_vp8_loop_filter_frame_level_equals_uniform_grid():
    """Both loop filters take one frame level or a per-MB grid (the
    decoder passes the grid segmentation builds): a scalar level must
    filter exactly like the uniform grid, and must change pixels.  The
    decode also reports the frame's persistent-entropy outcome through
    ``state_out``."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        COEF_PROBS,
        decode_vp8_planes,
        loop_filter_frame,
        loop_filter_frame_simple,
    )

    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)
    state = {}
    planes, w, h = decode_vp8_planes(
        encoded("encode_vp8", grad, qi=60), state_out=state
    )
    assert set(state) == {"coef_probs", "refresh_entropy"}
    assert len(state["coef_probs"]) == len(COEF_PROBS)
    rows, cols = (h + 15) // 16, (w + 15) // 16
    interior = [[True] * cols for _ in range(rows)]
    for filt in (loop_filter_frame, loop_filter_frame_simple):
        flat = {k: v.copy() for k, v in planes.items()}
        grid = {k: v.copy() for k, v in planes.items()}
        filt(flat, rows, cols, 63, 0, interior)
        filt(grid, rows, cols, [[63] * cols for _ in range(rows)], 0,
             interior)
        for k in ("y", "u", "v"):
            assert np.array_equal(flat[k], grid[k]), (filt.__name__, k)
        assert not np.array_equal(flat["y"], planes["y"]), filt.__name__


def test_vp8_b_pred_round_trip_covers_all_sub_modes():
    """b_pred=True codes every macroblock as B_PRED with per-4x4
    sub-modes chosen by SAD: round trips stay bit-exact (including
    under the loop filter), and across the three fixture images the
    DECODER exercises all ten sub-mode predictors through the real
    bitstream — not just unit-shape checks."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators import media_vp8 as M

    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)
    diag = np.zeros((32, 32, 3), dtype=np.uint8)
    for i in range(32):
        diag[i, :, 0] = (np.arange(32) * 8 + i * 3) % 256
        diag[i, :, 1] = (i * 8) % 256
        diag[i, :, 2] = ((np.arange(32) - i) * 5) % 256

    cases = [
        (grad, dict(qi=8, b_pred=True)),
        (noise, dict(qi=30, b_pred=True)),
        (diag, dict(qi=8, b_pred=True, filter_level=12)),
        (noise, dict(qi=20, b_pred=True)),
    ]
    datas = []
    for img, kw in cases:
        data = encoded("encode_vp8", img, **kw)
        recon = pinned("encode_vp8", img, **kw)["planes_sha256"]
        planes, _, _ = M.decode_vp8_planes(data)
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], (k, kw)
        datas.append(data)

    used = set()
    orig = M.predict_b

    def spy(plane, r, c, mode):
        used.add(mode)
        return orig(plane, r, c, mode)

    M.predict_b = spy
    try:
        for d in datas:
            M.decode_vp8_planes(d)
    finally:
        M.predict_b = orig
    assert used == set(range(10)), sorted(used)


def test_vp8_multi_partition_token_streams():
    """VP8's row-parallel decode hook: tokens split across 1/2/4/8
    partitions (row r -> partition r % n).  Every count round-trips
    bit-exactly AND reconstructs identically to the single-partition
    stream — partitioning reroutes bool streams, never values (entropy
    contexts stay spatial)."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8_planes,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (80, 64, 3), dtype=np.uint8)
    base = None
    for nparts in (1, 2, 4, 8):
        data = encoded("encode_vp8", img, qi=30, n_partitions=nparts)
        recon = pinned("encode_vp8", img, qi=30, n_partitions=nparts)[
            "planes_sha256"
        ]
        planes, _, _ = decode_vp8_planes(data)
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], (k, nparts)
        if base is None:
            base = recon
        for k in ("y", "u", "v"):
            assert base[k] == recon[k], (k, nparts)


def test_vp8_rfc_default_probability_tables():
    """The three RFC 6386 default probability tables (transcribed r8,
    replacing the r7 fixtures): structural invariants plus well-known
    anchor rows, so any transcription slip fails loudly rather than
    desynchronizing a third-party stream.

    Anchors are the spec's famous first rows: kf_bmode_prob[0][0] =
    {231,120,48,89,115,113,120,152,112} and default_coef_probs type 0
    band 1 ctx 0 = {253,136,254,255,228,219,...} (band 0 of type 0 is
    all-128 filler — coefficient 0 of a Y-after-Y2 block is carried in
    the Y2 block)."""
    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        COEF_PROBS,
        COEF_UPDATE_PROBS,
        IMPLIED_BMODE,
        KF_BMODE_PROBS,
        B_DC, B_HE, B_TM, B_VE,
        DC_PRED, H_PRED, TM_PRED, V_PRED,
    )

    # shapes
    assert len(COEF_PROBS) == 4 and len(COEF_UPDATE_PROBS) == 4
    for tab in (COEF_PROBS, COEF_UPDATE_PROBS):
        for t in tab:
            assert len(t) == 8
            for band in t:
                assert len(band) == 3
                for row in band:
                    assert len(row) == 11
                    # probabilities are never 0 (p/256 with p>=1)
                    assert all(1 <= v <= 255 for v in row)
    assert len(KF_BMODE_PROBS) == 10
    for a in KF_BMODE_PROBS:
        assert len(a) == 10
        for row in a:
            assert len(row) == 9
            assert all(1 <= v <= 255 for v in row)

    # anchor rows (RFC 6386 reference-code constants)
    assert KF_BMODE_PROBS[0][0] == [231, 120, 48, 89, 115, 113, 120, 152, 112]
    assert KF_BMODE_PROBS[0][1] == [152, 179, 64, 126, 170, 118, 46, 70, 95]
    assert COEF_PROBS[0][0][0] == [128] * 11
    assert COEF_PROBS[0][1][0] == [
        253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128
    ]
    # update probs skew hard toward "no update" (values near 255)
    flat_upd = [
        v for t in COEF_UPDATE_PROBS for b in t for c in b for v in c
    ]
    assert min(flat_upd) >= 176
    assert flat_upd.count(255) > 800

    # the non-B_PRED context mapping follows the spec's mode algebra
    assert IMPLIED_BMODE == {
        DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM
    }


def test_vp8_bmode_context_actually_used():
    """Contextual kf_bmode_prob coding is live, not decorative: the
    decoder reproduces the encoder's B_PRED frame (bit-exact planes,
    pinned by hash), and decoding the same stream with a context-free
    table choice does NOT — i.e. the [above][left] indexing really
    steers the arithmetic decoder."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators import media_vp8 as m

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (24, 24, 3)).astype(np.float32)
    payload = encoded("encode_vp8", img, qi=40, b_pred=True)
    recon = pinned("encode_vp8", img, qi=40, b_pred=True)["planes_sha256"]
    planes, w, h = m.decode_vp8_planes(payload)
    assert (w, h) == (24, 24)
    assert {k: digest(planes[k]) for k in ("y", "u", "v")} == recon

    # decode with a patched constant table: the planes must differ
    flat = [m.KF_BMODE_PROBS[0][0]] * 10
    patched = [list(flat) for _ in range(10)]
    orig = m.KF_BMODE_PROBS
    try:
        m.KF_BMODE_PROBS = patched
        try:
            planes2, _, _ = m.decode_vp8_planes(payload)
        except ValueError:  # a desynchronized stream may also overrun
            planes2 = None
    finally:
        m.KF_BMODE_PROBS = orig
    assert planes2 is None or any(
        not np.array_equal(planes[k], planes2[k]) for k in ("y", "u", "v")
    )


def _ogg_opus_fixture() -> bytes:
    """A spec-valid 3-page OGG-Opus stream: OpusHead page (BOS),
    OpusTags page, and an audio page whose SECOND packet is continued
    onto a fourth page (exercises cross-page reassembly and the
    255-lacing rule)."""
    from conte_to_fresco_etl_spark.operators.media_ogg import (
        build_ogg_page,
    )

    import struct

    head = (
        b"OpusHead" + bytes([1, 2])          # version 1, 2 channels
        + struct.pack("<H", 312)              # pre-skip
        + struct.pack("<I", 48000)            # input sample rate
        + struct.pack("<h", 0) + bytes([0])   # gain, mapping family
    )
    tags = b"OpusTags" + struct.pack("<I", 4) + b"test" + struct.pack("<I", 0)
    pkt1 = bytes(range(256)) * 2              # 512 bytes: lacing 255,255,2
    pkt2 = b"\xaa" * 300                      # continued across pages
    p0 = build_ogg_page(7, 0, 0, [head], header_type=0x02)      # BOS
    p1 = build_ogg_page(7, 1, 0, [tags])
    p2 = build_ogg_page(
        7, 2, 960, [pkt1[:255], pkt1[255:510], pkt1[510:], pkt2[:255]]
    )
    # continuation page: first segment continues pkt2 (flag 0x01); EOS
    p3 = build_ogg_page(7, 3, 1920, [pkt2[255:]], header_type=0x05)
    return p0 + p1 + p2 + p3


def test_ogg_container_walk_and_stream_info():
    """RFC 3533 walk: pages parse with CRC verified, packets
    reassemble across lacing boundaries AND page continuations, and
    the OpusHead ident header yields the stream description."""
    from conte_to_fresco_etl_spark.operators.media_ogg import (
        ogg_stream_info,
        parse_ogg,
    )

    stream = _ogg_opus_fixture()
    parsed = parse_ogg(stream)
    assert len(parsed["pages"]) == 4
    assert [p["seq"] for p in parsed["pages"]] == [0, 1, 2, 3]
    assert len(parsed["packets"]) == 4          # head, tags, audio x2
    assert parsed["packets"][2] == bytes(range(256)) * 2
    assert parsed["packets"][3] == b"\xaa" * 300
    assert parsed["last_granule"] == 1920

    info = ogg_stream_info(stream)
    assert info["codec"] == "opus"
    assert info["channels"] == 2
    assert info["sample_rate"] == 48000
    assert info["pre_skip"] == 312
    assert info["n_pages"] == 4 and info["n_packets"] == 4


def test_ogg_rejects_corruption():
    """Bitstream-supplied structure is untrusted: a flipped body byte
    fails the page CRC, a truncated tail fails loudly, and garbage is
    not an OGG stream — never silent misparse (the VP8 bounds-check
    discipline)."""
    import pytest

    from conte_to_fresco_etl_spark.operators.media_ogg import parse_ogg

    stream = _ogg_opus_fixture()
    flipped = bytearray(stream)
    flipped[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        parse_ogg(bytes(flipped))
    with pytest.raises(ValueError, match="truncated"):
        parse_ogg(stream[:-5])
    with pytest.raises(ValueError, match="OggS"):
        parse_ogg(b"not an ogg stream at all")
    # CRC check can be waived explicitly (diagnostics on damaged files)
    assert parse_ogg(bytes(flipped), verify_crc=False)["pages"]


def test_ogg_numpy_codec_dispatch_and_container_stats(spark):
    """numpy_codec recognizes OggS and raises the honest plug-point
    error NAMING the identified codec; container_stats triages a
    mixed-format payload column distributed (ogg fields populated,
    image rows labeled with NULL audio fields, corrupt ogg flagged)."""
    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        container_stats,
        numpy_codec,
    )

    stream = _ogg_opus_fixture()
    with pytest.raises(NotImplementedError, match="codec=opus"):
        numpy_codec(stream, "audio")

    ppm = b"P6\n2 2\n255\n" + bytes(12)
    corrupt = bytearray(stream)
    corrupt[-1] ^= 0xFF
    rows = [
        (1, stream),
        (2, ppm),
        (3, bytes(corrupt)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in container_stats(df).collect()}
    assert got[1]["format"] == "ogg" and got[1]["codec"] == "opus"
    assert got[1]["sample_rate"] == 48000 and got[1]["n_packets"] == 4
    assert got[2]["format"] == "ppm" and got[2]["codec"] is None
    assert got[3]["format"] == "corrupt-ogg"


def _mp4_fixture() -> bytes:
    """A spec-valid minimal MP4: ftyp(isom) + moov(mvhd v0 @600 scale
    1200 units = 2 s, video trak with hdlr 'vide' + stsd avc1, audio
    trak with hdlr 'soun' + stsd mp4a stereo 48 kHz)."""
    import struct

    from conte_to_fresco_etl_spark.operators.media_mp4 import build_box

    ftyp = build_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isomavc1")
    mvhd = build_box(
        b"mvhd",
        bytes(4)                      # version 0 + flags
        + bytes(8)                    # ctime/mtime
        + struct.pack(">I", 600)      # timescale
        + struct.pack(">I", 1200)     # duration => 2.0 s
        + bytes(80),
    )
    avc1 = struct.pack(">I", 16) + b"avc1" + bytes(8)
    stsd_v = build_box(
        b"stsd", bytes(4) + struct.pack(">I", 1) + avc1
    )
    hdlr_v = build_box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    trak_v = build_box(
        b"trak",
        build_box(
            b"mdia", hdlr_v + build_box(b"minf", build_box(b"stbl", stsd_v))
        ),
    )
    mp4a = (
        struct.pack(">I", 36) + b"mp4a" + bytes(6)
        + struct.pack(">H", 1)        # data ref index
        + bytes(8)
        + struct.pack(">H", 2)        # channels
        + struct.pack(">H", 16)       # bits
        + bytes(4)
        + struct.pack(">I", 48000 << 16)
    )
    stsd_a = build_box(
        b"stsd", bytes(4) + struct.pack(">I", 1) + mp4a
    )
    hdlr_a = build_box(b"hdlr", bytes(8) + b"soun" + bytes(12))
    trak_a = build_box(
        b"trak",
        build_box(
            b"mdia", hdlr_a + build_box(b"minf", build_box(b"stbl", stsd_a))
        ),
    )
    moov = build_box(b"moov", mvhd + trak_v + trak_a)
    return ftyp + moov


def test_mp4_container_walk_and_stream_info():
    """ISO BMFF walk: brand, mvhd duration, track count, per-track
    codec fourccs (video first), and mp4a channels/sample rate."""
    from conte_to_fresco_etl_spark.operators.media_mp4 import (
        mp4_stream_info,
    )

    info = mp4_stream_info(_mp4_fixture())
    assert info["brand"] == "isom"
    assert info["duration_s"] == 2.0
    assert info["n_tracks"] == 2
    assert info["codecs"] == ["avc1", "mp4a"]
    assert info["codec"] == "avc1"
    assert info["channels"] == 2 and info["sample_rate"] == 48000


def test_mp4_rejects_corruption():
    """Truncated headers and boxes overrunning their parent fail
    loudly; garbage is not an MP4."""
    import pytest

    from conte_to_fresco_etl_spark.operators.media_mp4 import (
        mp4_stream_info,
        walk_boxes,
    )

    stream = _mp4_fixture()
    with pytest.raises(ValueError, match="ftyp"):
        mp4_stream_info(b"garbage bytes not a container")
    with pytest.raises(ValueError, match="truncated|overrun"):
        list(walk_boxes(stream[:-6]))
    # a box claiming to be larger than its parent
    bad = bytearray(stream)
    bad[0:4] = (len(stream) + 100).to_bytes(4, "big")
    with pytest.raises(ValueError, match="overrun"):
        list(walk_boxes(bytes(bad)))


def test_mp4_numpy_codec_dispatch_and_container_stats(spark):
    """numpy_codec recognizes ftyp and raises naming the codec found;
    container_stats triages an MP4 payload distributed."""
    import pytest

    from conte_to_fresco_etl_spark.operators.media import (
        container_stats,
        numpy_codec,
    )

    stream = _mp4_fixture()
    with pytest.raises(NotImplementedError, match="codec=avc1"):
        numpy_codec(stream, "video")
    df = spark.createDataFrame(
        [(1, stream)], "media_id long, payload binary"
    )
    r = container_stats(df).collect()[0]
    assert r["format"] == "mp4" and r["codec"] == "avc1"
    assert r["n_pages"] == 2 and r["n_packets"] == 2
    assert r["channels"] == 2 and r["sample_rate"] == 48000


#: A REAL third-party lossy WebP stream: the 190-byte "VP8 " chunk of
#: CPython's test fixture ``Lib/test/test_email/data/python.webp``
#: (PSF-licensed test data; a 16x16 B_PRED key frame produced by a
#: real encoder against the RFC 6386 default probability tables, with
#: normal loop filter level 12).  This is the interop case no
#: round-trip test can cover: encoder and decoder here do NOT share
#: an implementation.
_THIRD_PARTY_VP8_B64 = (
    "kAIAnQEqEAAQAAMANCWwAnQwTwiFDHwDHQgs/egA/v10oP0Cmx+K90N8nDf20gyv"
    "0/81aOLup73Jbxv0qsVjrrqfl4TfQaI72lvk7/jL8b1/4a/6P+UJ7PS7Zl//qinZ"
    "f8ls54bmrJe55Mb0kyOMX92POVUgf5VP/Dn4/2/SawPon7yDmGZtsdUT/3YX5rH+"
    "XYrkn0e/s/q//h0d8xKP/lzPwfr5GMO9z88fkTmgAf2aAUsxLN682XuqrAAAAA=="
)


def test_vp8_third_party_stream_interop():
    """Decode a REAL third-party VP8 stream bit-exactly.  The pinned
    plane hashes were verified equal to the system libwebp reference
    decoder's output (WebPDecodeYUV, loop filter included) when this
    test was written; if libwebp is loadable the comparison also runs
    live.  This is the round-8 'FIXTURE tables are gone' proof — the
    transcribed RFC 6386 default probabilities, the contextual
    kf_bmode coding, the token decoder, the dequant/IDCT path, AND
    the normal loop filter all interoperate with an independent
    encoder."""
    import base64
    import hashlib
    import struct

    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8_planes,
    )

    vp8 = base64.b64decode(_THIRD_PARTY_VP8_B64)
    planes, w, h = decode_vp8_planes(vp8)
    assert (w, h) == (16, 16)
    got = {
        k: hashlib.md5(planes[k].astype("int64").tobytes()).hexdigest()
        for k in ("y", "u", "v")
    }
    assert got == {
        "y": "67dbdab1d19b6227193a77c4937af24c",
        "u": "1394cec0dbd4df9cc7ddf78d2192cf7b",
        "v": "8b4a1fbe8c76b8cba4421f76ab751cb1",
    }

    # live cross-check against the system libwebp when present
    try:
        import ctypes

        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return
    lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    cw = ctypes.c_int()
    chh = ctypes.c_int()
    u = ctypes.POINTER(ctypes.c_uint8)()
    v = ctypes.POINTER(ctypes.c_uint8)()
    stride = ctypes.c_int()
    uv_stride = ctypes.c_int()
    pad = b"\x00" if len(vp8) & 1 else b""
    simple = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(vp8) + len(pad))
        + b"WEBP"
        + b"VP8 "
        + struct.pack("<I", len(vp8))
        + vp8
        + pad
    )
    yptr = lib.WebPDecodeYUV(
        simple, len(simple), ctypes.byref(cw), ctypes.byref(chh),
        ctypes.byref(u), ctypes.byref(v),
        ctypes.byref(stride), ctypes.byref(uv_stride),
    )
    ly = np.ctypeslib.as_array(yptr, shape=(16, stride.value))[:, :16]
    lu = np.ctypeslib.as_array(u, shape=(8, uv_stride.value))[:, :8]
    lv = np.ctypeslib.as_array(v, shape=(8, uv_stride.value))[:, :8]
    assert np.array_equal(planes["y"][:16, :16], ly)
    assert np.array_equal(planes["u"][:8, :8], lu)
    assert np.array_equal(planes["v"][:8, :8], lv)


def test_webp_vp8x_container_with_third_party_vp8():
    """The WebP container walker handles the extended (VP8X + ALPH)
    layout: wrap the third-party VP8 chunk in a VP8X container and
    decode through decode_webp."""
    import base64
    import struct

    from conte_to_fresco_etl_spark.operators.media_webp import (
        decode_webp,
    )

    vp8 = base64.b64decode(_THIRD_PARTY_VP8_B64)
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(4) + b"\x0f\x00\x00\x0f\x00\x00"
    chunk = b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    body = b"WEBP" + vp8x + chunk
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    img = decode_webp(payload)
    assert img.shape == (16, 16, 3)


def test_vp8_libwebp_encoder_interop_matrix():
    """Round-trip through the SYSTEM libwebp ENCODER (when loadable):
    multi-macroblock frames at several sizes (including non-aligned)
    and qualities — segmentation enabled by the real encoder, per-MB
    segment quantizers/filter levels, normal loop filter — must decode
    bit-identically to libwebp's own reference decoder on all three
    planes.  This is the widest third-party interop net we can cast
    without network access."""
    import ctypes
    import struct

    import numpy as np
    import pytest

    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        pytest.skip("system libwebp not loadable")
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8_planes,
    )

    for (H, W, seed) in ((48, 64, 7), (33, 49, 11)):
        rng = np.random.default_rng(seed)
        yy, xx = np.mgrid[0:H, 0:W]
        base = np.zeros((H, W, 3), np.uint8)
        base[..., 0] = (xx * 3 + yy * 2) % 256
        base[..., 1] = (xx * 5) % 256
        base[..., 2] = (yy * 4) % 256
        base = (
            base.astype(int) + rng.integers(0, 12, base.shape)
        ).clip(0, 255).astype(np.uint8)
        for q in (20.0, 80.0):
            out = ctypes.c_void_p()
            n = lib.WebPEncodeRGB(
                base.tobytes(), W, H, W * 3, q, ctypes.byref(out)
            )
            assert n > 0
            payload = ctypes.string_at(out.value, n)
            i = 12
            vp8 = None
            while i < len(payload) - 8:
                tag = payload[i:i + 4]
                (sz,) = struct.unpack("<I", payload[i + 4:i + 8])
                if tag == b"VP8 ":
                    vp8 = payload[i + 8:i + 8 + sz]
                i += 8 + sz + (sz & 1)
            planes, w, h = decode_vp8_planes(vp8)
            assert (w, h) == (W, H)
            cw = ctypes.c_int()
            chh = ctypes.c_int()
            u = ctypes.POINTER(ctypes.c_uint8)()
            v = ctypes.POINTER(ctypes.c_uint8)()
            stride = ctypes.c_int()
            uvs = ctypes.c_int()
            yptr = lib.WebPDecodeYUV(
                payload, len(payload), ctypes.byref(cw),
                ctypes.byref(chh), ctypes.byref(u), ctypes.byref(v),
                ctypes.byref(stride), ctypes.byref(uvs),
            )
            ly = np.ctypeslib.as_array(yptr, shape=(H, stride.value))[:, :W]
            cw2, ch2 = (W + 1) // 2, (H + 1) // 2
            lu = np.ctypeslib.as_array(u, shape=(ch2, uvs.value))[:, :cw2]
            lv = np.ctypeslib.as_array(v, shape=(ch2, uvs.value))[:, :cw2]
            assert np.array_equal(planes["y"][:H, :W], ly), (W, H, q)
            assert np.array_equal(planes["u"][:ch2, :cw2], lu), (W, H, q)
            assert np.array_equal(planes["v"][:ch2, :cw2], lv), (W, H, q)


# ---------------------------------------------------------------------------
# Opus packet-level triage (RFC 6716 TOC semantics, no DSP)
# ---------------------------------------------------------------------------


def test_opus_toc_config_table_matches_rfc6716():
    """All 32 TOC configs decode to the RFC 6716 Table 2 triples:
    SILK NB/MB/WB x 10/20/40/60 ms, Hybrid SWB/FB x 10/20 ms,
    CELT NB/WB/SWB/FB x 2.5/5/10/20 ms."""
    from conte_to_fresco_etl_spark.operators.media_ogg import (
        opus_packet_info,
    )

    expect = {}
    for c in range(12):
        expect[c] = ("silk", ("nb", "mb", "wb")[c // 4],
                     (480, 960, 1920, 2880)[c % 4])
    expect[12] = ("hybrid", "swb", 480)
    expect[13] = ("hybrid", "swb", 960)
    expect[14] = ("hybrid", "fb", 480)
    expect[15] = ("hybrid", "fb", 960)
    for c in range(16, 32):
        expect[c] = ("celt", ("nb", "wb", "swb", "fb")[(c - 16) // 4],
                     (120, 240, 480, 960)[c % 4])
    for config, (mode, bw, spf) in expect.items():
        info = opus_packet_info(bytes([config << 3]) + b"\x00")
        assert (info["mode"], info["bandwidth"],
                info["samples_per_frame"]) == (mode, bw, spf), config
        assert info["n_frames"] == 1
        assert info["duration_samples"] == spf
        assert info["duration_ms"] == spf / 48.0


def test_opus_toc_frame_count_codes():
    """Code 0 = one frame, codes 1/2 = two frames, code 3 reads the
    count byte (low 6 bits); stereo is TOC bit 2; the 120 ms packet
    ceiling, zero-count and truncated code-3 packets raise."""
    import pytest

    from conte_to_fresco_etl_spark.operators.media_ogg import (
        opus_packet_info,
    )

    base = 17 << 3  # CELT NB 5 ms (240 samples)
    assert opus_packet_info(bytes([base]))["n_frames"] == 1
    assert opus_packet_info(bytes([base | 1, 0]))["n_frames"] == 2
    assert opus_packet_info(bytes([base | 2, 0, 7]))["n_frames"] == 2
    info = opus_packet_info(bytes([base | 3, 0x80 | 24]))  # VBR, 24 frames
    assert info["n_frames"] == 24
    assert info["duration_samples"] == 24 * 240  # 120 ms exactly
    assert not info["stereo"]
    assert opus_packet_info(bytes([base | 4]))["stereo"]  # bit 2
    with pytest.raises(ValueError, match="empty"):
        opus_packet_info(b"")
    with pytest.raises(ValueError, match="frame-count"):
        opus_packet_info(bytes([base | 3]))
    with pytest.raises(ValueError, match="zero frames"):
        opus_packet_info(bytes([base | 3, 0x80]))
    with pytest.raises(ValueError, match="120 ms"):
        # SILK NB 60 ms (2880) x 3 frames = 180 ms > ceiling
        opus_packet_info(bytes([3 << 3 | 3, 3]))


def test_opus_stream_stats_and_ogg_duration_triage():
    """ogg_stream_info on an Opus stream now carries the TOC-summed
    duration plus mode/bandwidth histograms, and the granule-delta
    duration agrees when granules follow RFC 7845 (pre_skip offset)."""
    import struct

    from conte_to_fresco_etl_spark.operators.media_ogg import (
        build_ogg_page,
        ogg_stream_info,
    )

    head = (
        b"OpusHead" + bytes([1, 1])
        + struct.pack("<H", 120)
        + struct.pack("<I", 16000)
        + struct.pack("<h", 0) + bytes([0])
    )
    tags = b"OpusTags" + struct.pack("<I", 2) + b"xy" + struct.pack("<I", 0)
    # three audio packets: SILK WB 20ms (cfg 9), CELT FB 2.5ms (cfg 28),
    # hybrid FB 10ms (cfg 14) => 960 + 120 + 480 = 1560 samples
    pkts = [bytes([9 << 3]) + b"\x01", bytes([28 << 3]), bytes([14 << 3])]
    pages = [
        build_ogg_page(5, 0, 0, [head], header_type=0x02),
        build_ogg_page(5, 1, 0, [tags]),
        build_ogg_page(5, 2, 120 + 1080, pkts[:2]),
        build_ogg_page(5, 3, 120 + 1560, [pkts[2]], header_type=0x04),
    ]
    info = ogg_stream_info(b"".join(pages))
    assert info["codec"] == "opus"
    assert info["duration_samples"] == 1560
    assert info["duration_ms"] == 1560 / 48.0
    assert info["granule_duration_samples"] == 1560
    assert info["modes"] == {"silk": 1, "celt": 1, "hybrid": 1}
    assert info["bandwidths"] == {"wb": 1, "fb": 2}


def test_vp8_loop_filter_deltas_round_trip_and_libwebp_interop():
    """RFC 6386 §9.4 loop-filter adjustments: streams carrying the
    INTRA_FRAME reference delta and/or the B_PRED mode delta decode
    bit-exactly against the encoder's in-loop reconstruction (pinned
    by hash), the deltas demonstrably change the output vs the
    no-delta stream, the clamp and the frame-level-0 gate follow
    libvpx — and when the system libwebp is present, its reference
    decoder produces the SAME planes from our delta-enabled streams
    (third-party interop in the decode direction)."""
    import struct

    import numpy as np

    from conte_to_fresco_etl_spark.operators.media_vp8 import (
        decode_vp8_planes,
    )

    rng = np.random.default_rng(23)
    noise = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack(
        [yy * 4 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], -1
    ).astype(np.uint8)

    def planes_of(img, **kw):
        data = encoded("encode_vp8", img, **kw)
        planes, _, _ = decode_vp8_planes(data)
        recon = pinned("encode_vp8", img, **kw)["planes_sha256"]
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], (k, kw)
        return data, planes

    cases = [
        (noise, dict(qi=40, filter_level=14, ref_lf_delta=8)),
        (noise, dict(qi=40, filter_level=30, ref_lf_delta=-12)),
        (grad, dict(qi=30, filter_level=20, b_pred=True,
                    i4x4_lf_delta=-9)),
        (noise, dict(qi=30, filter_level=18, b_pred=True,
                    ref_lf_delta=7, i4x4_lf_delta=11)),
        # clamp at 63
        (noise, dict(qi=50, filter_level=60, ref_lf_delta=20)),
    ]
    streams = []
    for img, kw in cases:
        data, recon = planes_of(img, **kw)
        # the adjustment must actually move pixels vs the same stream
        # without deltas
        _, plain = planes_of(
            img,
            **{k: v for k, v in kw.items()
               if k not in ("ref_lf_delta", "i4x4_lf_delta")},
        )
        assert any(
            not np.array_equal(plain[k], recon[k]) for k in ("y", "u", "v")
        ), kw
        streams.append((img.shape[0], img.shape[1], data, recon))

    # frame-level 0 gates the pass even with a positive delta (libvpx)
    _, planes0 = planes_of(noise, qi=40, filter_level=0, ref_lf_delta=30)
    _, unfiltered = planes_of(noise, qi=40)
    for k in ("y", "u", "v"):
        assert np.array_equal(planes0[k], unfiltered[k])

    # delta drives the effective level to 0: stream still round-trips
    _, planes_z = planes_of(noise, qi=40, filter_level=9, ref_lf_delta=-30)
    for k in ("y", "u", "v"):
        assert np.array_equal(planes_z[k], unfiltered[k])

    # live third-party decode of our delta-enabled bitstreams
    try:
        import ctypes

        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return
    lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    for h, w, data, recon in streams:
        pad = b"\x00" if len(data) & 1 else b""
        payload = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(data) + len(pad))
            + b"WEBP" + b"VP8 " + struct.pack("<I", len(data)) + data + pad
        )
        cw = ctypes.c_int()
        chh = ctypes.c_int()
        u = ctypes.POINTER(ctypes.c_uint8)()
        v = ctypes.POINTER(ctypes.c_uint8)()
        stride = ctypes.c_int()
        uvs = ctypes.c_int()
        yptr = lib.WebPDecodeYUV(
            payload, len(payload), ctypes.byref(cw), ctypes.byref(chh),
            ctypes.byref(u), ctypes.byref(v),
            ctypes.byref(stride), ctypes.byref(uvs),
        )
        assert (cw.value, chh.value) == (w, h)
        ly = np.ctypeslib.as_array(yptr, shape=(h, stride.value))[:, :w]
        cw2, ch2 = (w + 1) // 2, (h + 1) // 2
        lu = np.ctypeslib.as_array(u, shape=(ch2, uvs.value))[:, :cw2]
        lv = np.ctypeslib.as_array(v, shape=(ch2, uvs.value))[:, :cw2]
        assert np.array_equal(recon["y"][:h, :w], ly)
        assert np.array_equal(recon["u"][:ch2, :cw2], lu)
        assert np.array_equal(recon["v"][:ch2, :cw2], lv)


# ---------------------------------------------------------------------------
# Per-row decode budget (MAX_DECODE_BYTES): the memory contract for real
# crawl corpora, where a single media cell can be hundreds of MB.  Rows
# over the limit must never reach a codec — decode_stats accounts them
# with a skip_reason, extract_features nulls the embedding, and the
# signature walkers skip them.
# ---------------------------------------------------------------------------

def _make_bomb_codec():
    """Codec that must never see an oversized payload.  Built as a
    nested function so cloudpickle ships it by VALUE — the tests module
    is not importable inside Spark's Python workers."""

    def bomb_codec(payload: bytes, modality: str) -> np.ndarray:
        if len(payload) > 64:
            raise AssertionError(
                f"budget breached: codec called on {len(payload)}-byte "
                "payload"
            )
        return fake_codec(payload, modality)

    return bomb_codec


@pytest.fixture(scope="module")
def oversized_media_df(spark):
    big = b"X" * 4096  # deliberately above the 64-byte test budget
    rows = [
        (1, "image", b"small-img", ("image/png", 8, 8, None, None)),
        (2, "image", big, ("image/png", 640, 480, None, None)),
        (3, "audio", big, ("audio/wav", None, None, 2500, 16000)),
        (4, "video", big, ("video/mp4", 64, 64, 3000, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_stats_oversize_skip_with_reason(spark, oversized_media_df):
    rows = {
        r["media_id"]: r
        for r in decode_stats(
            oversized_media_df, codec=_make_bomb_codec(), max_bytes=64
        ).collect()
    }
    # every input row accounted for — no silent drops
    assert set(rows) == {1, 2, 3, 4}
    ok, skipped = rows[1], rows[2]
    assert ok["skip_reason"] is None and ok["n_values"] == 64
    # byte-identity columns still pin the oversized payload
    assert skipped["n_bytes"] == 4096
    assert skipped["payload_md5"] == hashlib.md5(b"X" * 4096).hexdigest()
    assert skipped["n_values"] == 0
    assert skipped["mean"] is None and skipped["std"] is None
    assert "oversize: 4096 bytes > max_bytes=64" == skipped["skip_reason"]


def test_extract_features_oversize_null_embedding(spark, oversized_media_df):
    rows = {
        r["media_id"]: r["embedding"]
        for r in extract_features(
            oversized_media_df, codec=_make_bomb_codec(), dim=8, max_bytes=64
        ).collect()
    }
    assert rows[1] is not None and len(rows[1]) == 8
    assert rows[2] is None and rows[3] is None and rows[4] is None


def test_signature_and_frame_walkers_respect_budget(
    spark, oversized_media_df
):
    from conte_to_fresco_etl_spark.operators.media import (
        ahash_signatures,
        audio_energy_signatures,
    )

    assert ahash_signatures(
        oversized_media_df, codec=_make_bomb_codec(), bits=32, max_bytes=64
    ).count() == 1  # only the small image hashes
    assert audio_energy_signatures(
        oversized_media_df, codec=_make_bomb_codec(), n_windows=32, max_bytes=64
    ).count() == 0  # the only audio row is oversized


def test_default_budget_comes_from_module_constant():
    from conte_to_fresco_etl_spark.operators import media

    assert media.MAX_DECODE_BYTES == 32 << 20
