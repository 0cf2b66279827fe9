"""The IVF container (the standard raw-VP8 file format): parse, build,
and tag-level frame triage without decoding (``ivf_frame_stats``, which
q_ivf_stats runs).  Key frames decode with ``media_vp8.py``; inter
frames are not decoded here.

Renaming this module would move query fingerprints, which hash
``__module__``.
"""

from __future__ import annotations

import struct


def parse_ivf(payload: bytes) -> dict:
    """Parse an IVF file (32-byte "DKIF" header + per-frame 12-byte
    headers): returns {"fourcc", "width", "height", "timebase_den",
    "timebase_num", "n_frames", "frames": [(timestamp, bytes), ...]}.
    Truncated headers or frame overruns raise ``ValueError``."""
    if len(payload) < 32 or payload[:4] != b"DKIF":
        raise ValueError("not an IVF file")
    (version, hdr_len) = struct.unpack_from("<HH", payload, 4)
    if version != 0 or hdr_len < 32:
        raise ValueError(f"bad IVF header (version={version})")
    fourcc = payload[8:12].decode("ascii", "replace")
    w, h = struct.unpack_from("<HH", payload, 12)
    den, num = struct.unpack_from("<II", payload, 16)
    (n_frames,) = struct.unpack_from("<I", payload, 24)
    frames = []
    off = hdr_len
    while off + 12 <= len(payload):
        (sz,) = struct.unpack_from("<I", payload, off)
        (ts,) = struct.unpack_from("<Q", payload, off + 4)
        off += 12
        if off + sz > len(payload):
            raise ValueError("truncated IVF frame")
        frames.append((ts, payload[off: off + sz]))
        off += sz
    return {
        "fourcc": fourcc, "width": w, "height": h,
        "timebase_den": den, "timebase_num": num,
        "n_frames": n_frames, "frames": frames,
    }


def build_ivf(
    frames: list[bytes], width: int, height: int,
    fourcc: bytes = b"VP80", den: int = 30, num: int = 1,
) -> bytes:
    """Assemble an IVF file from raw VP8 frame payloads."""
    out = bytearray()
    out += b"DKIF" + struct.pack("<HH", 0, 32) + fourcc
    out += struct.pack("<HH", width, height)
    out += struct.pack("<II", den, num)
    out += struct.pack("<I", len(frames)) + b"\x00" * 4
    for i, f in enumerate(frames):
        out += struct.pack("<I", len(f)) + struct.pack("<Q", i) + f
    return bytes(out)


def ivf_frame_stats(payload: bytes) -> dict:
    """Tag-level triage of a VP8 IVF file WITHOUT decoding: per-frame
    uncompressed-header fields (keyframe bit, version, show_frame) and
    keyframe start-code / dimension validation — the video inventory a
    crawl pipeline wants before committing to a full decode.  Raises
    ``ValueError`` on container corruption, a bad keyframe start code,
    a frame too short for its own header, or a keyframe whose coded
    dimensions contradict the IVF header."""
    ivf = parse_ivf(payload)
    if ivf["fourcc"] != "VP80":
        raise ValueError(f"not a VP8 IVF stream ({ivf['fourcc']})")
    n_key = n_shown = 0
    total = max_bytes = 0
    width = height = None
    for _ts, frame in ivf["frames"]:
        if len(frame) < 3:
            raise ValueError("truncated VP8 frame in IVF")
        tag = frame[0] | frame[1] << 8 | frame[2] << 16
        keyframe = not (tag & 1)
        version = (tag >> 1) & 7
        if version > 3:
            raise ValueError(f"bad VP8 version {version}")
        show = (tag >> 4) & 1
        part1 = tag >> 5
        hdr = 10 if keyframe else 3
        if hdr + part1 > len(frame):
            raise ValueError("VP8 first-partition size overruns frame")
        if keyframe:
            if frame[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 start code in IVF keyframe")
            w = (frame[6] | frame[7] << 8) & 0x3FFF
            h = (frame[8] | frame[9] << 8) & 0x3FFF
            if width is None:
                width, height = w, h
                if (w, h) != (ivf["width"], ivf["height"]):
                    raise ValueError(
                        "IVF header dimensions contradict keyframe"
                    )
            n_key += 1
        n_shown += show
        total += len(frame)
        max_bytes = max(max_bytes, len(frame))
    return {
        "n_frames": len(ivf["frames"]),
        "n_keyframes": n_key,
        "n_shown": n_shown,
        "width": width,
        "height": height,
        "total_frame_bytes": total,
        "max_frame_bytes": max_bytes,
    }
