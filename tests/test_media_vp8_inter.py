"""The IVF container (``media_vp8_inter``: ``build_ivf`` / ``parse_ivf`` /
``ivf_frame_stats``, which q_ivf_stats reaches) over pinned VP8 frames
(``fixtures/media/``), and the key-frame decoder's refusal of an inter
frame."""

from __future__ import annotations

import numpy as np
import pytest

from conte_to_fresco_etl_spark.operators.media_vp8 import decode_vp8_planes
from conte_to_fresco_etl_spark.operators.media_vp8_inter import (
    build_ivf,
    ivf_frame_stats,
    parse_ivf,
)
from helpers import digest, encoded, pinned


def _video(h=48, w=64, seed=3):
    """A synthetic clip with real motion: a textured background that
    pans plus a block that moves against it."""
    rng = np.random.default_rng(seed)
    bg = rng.integers(0, 256, (h * 2, w * 2, 3), dtype=np.uint8)
    frames = []
    for t in range(4):
        f = bg[t: t + h, 2 * t: 2 * t + w].copy()
        r0, c0 = 8 + 3 * t, 10 + 5 * t
        f[r0: r0 + 12, c0: c0 + 12] = (40 * (t + 1)) % 255
        frames.append(f)
    return frames


def test_ivf_round_trip():
    """Two pinned key frames in an IVF: the container parses back to
    the same frames, the tag-level triage counts them without decoding,
    and each frame still decodes to its pinned planes."""
    vid = _video(seed=23)
    kfs = [encoded("encode_vp8", f, qi=16) for f in vid[:2]]
    ivf = build_ivf(kfs, 64, 48)
    parsed = parse_ivf(ivf)
    assert parsed["fourcc"] == "VP80"
    assert (parsed["width"], parsed["height"]) == (64, 48)
    assert parsed["n_frames"] == 2
    assert [ts for ts, _ in parsed["frames"]] == [0, 1]
    assert [f for _, f in parsed["frames"]] == kfs
    assert ivf_frame_stats(ivf) == {
        "n_frames": 2, "n_keyframes": 2, "n_shown": 2,
        "width": 64, "height": 48,
        "total_frame_bytes": sum(map(len, kfs)),
        "max_frame_bytes": max(map(len, kfs)),
    }
    for f, (_, frame) in zip(vid, parsed["frames"]):
        planes, w, h = decode_vp8_planes(frame)
        recon = pinned("encode_vp8", f, qi=16)["planes_sha256"]
        assert (w, h) == (64, 48)
        for k in ("y", "u", "v"):
            assert digest(planes[k]) == recon[k], k


def test_ivf_corrupt_rejected():
    with pytest.raises(ValueError, match="not an IVF"):
        parse_ivf(b"NOPE" + b"\x00" * 40)
    with pytest.raises(ValueError, match="not an IVF"):
        ivf_frame_stats(b"NOPE" + b"\x00" * 40)
    vid = _video()
    kf = encoded("encode_vp8", vid[0], qi=16)
    ivf = build_ivf([kf], 64, 48)
    with pytest.raises(ValueError, match="truncated IVF frame"):
        parse_ivf(ivf[:-5])  # truncated last frame
    with pytest.raises(ValueError, match="contradict"):
        ivf_frame_stats(build_ivf([kf], 32, 48))
    with pytest.raises(ValueError, match="start code"):
        ivf_frame_stats(build_ivf([kf[:3] + b"\x00" + kf[4:]], 64, 48))


def test_single_frame_decoder_rejects_inter_frames():
    """A pinned inter frame (the encoder's P-frame for ``vid[1]``
    against key frame ``vid[0]``) names the stream decoder it needs."""
    vid = _video()
    p1 = encoded("encode_vp8_inter", vid[0], vid[1], (64, 48), qi=12,
                 search_range=1)
    with pytest.raises(ValueError, match="decode_vp8_stream"):
        decode_vp8_planes(p1)
