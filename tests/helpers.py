"""Helpers shared by the test modules.

* ``fake_codec``: a deterministic stand-in media codec for the Spark
  plumbing tests (``decode_stats``/``extract_features``).
* ``explain_shuffle_count``: the Exchange count of a physical plan, the
  unit of the plan-shape tests.
* ``encoded``/``decoded``: pinned codec payloads under ``fixtures/media/``.
  Each file holds the bytes one encoder call produced; ``manifest.json``
  records that call (encoder, parameters, the source array's shape, dtype
  and sha256), the payload's sha256 and the sha256, shape and dtype of its
  decoded array.  A test rebuilds its source array from its seed and looks
  the payload up by the call, so a payload can only be found for the array
  it was made from.
"""

from __future__ import annotations

import functools
import hashlib
import json
import pathlib
import sys

import numpy as np
from pyspark import cloudpickle

# Spark's Python workers cannot import this module: ship its functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures" / "media"
_FAKE_DIM = 8


def fake_codec(payload: bytes, modality: str) -> np.ndarray:
    """Deterministic fake decode: md5-seeded uniform grid.  Same payload
    → same 'pixels'/'samples' on every executor, so distributed tests
    assert exact values without any media library."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    if modality == "audio":
        return rng.random(64, dtype=np.float64).astype(np.float32)
    return rng.random((_FAKE_DIM, _FAKE_DIM), dtype=np.float64).astype(
        np.float32
    )


def explain_shuffle_count(df) -> int:
    """Count Exchange operators in the physical plan — the unit of
    shuffle cost reviews (`0` = map-only, `1` per logical regroup)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def digest(arr) -> str:
    return hashlib.sha256(np.ascontiguousarray(arr).tobytes()).hexdigest()


def _feed(h, v) -> None:
    if isinstance(v, np.ndarray):
        h.update(f"{v.dtype.str}{v.shape}".encode() + v.tobytes())
    elif isinstance(v, (list, tuple)):
        h.update(f"{type(v).__name__}{len(v)}".encode())
        for x in v:
            _feed(h, x)
    else:
        h.update(repr(v).encode())


def fixture_name(call: str, *args, **kw) -> str:
    """File name of the payload ``call(*args, **kw)`` produced."""
    h = hashlib.sha256(call.encode())
    for v in (*args, *sorted(kw.items())):
        _feed(h, v)
    return f"{call}-{h.hexdigest()[:12]}.bin"


@functools.cache
def _manifest() -> dict:
    return json.loads((FIXTURES / "manifest.json").read_text())


def pinned(call: str, *args, **kw) -> dict:
    """The manifest entry of the payload ``call(*args, **kw)`` produced."""
    return _manifest()[fixture_name(call, *args, **kw)]


def encoded(call: str, *args, **kw) -> bytes:
    """The payload ``call(*args, **kw)`` produced, checked against its pinned sha256."""
    name = fixture_name(call, *args, **kw)
    data = (FIXTURES / name).read_bytes()
    assert hashlib.sha256(data).hexdigest() == _manifest()[name]["payload_sha256"], name
    return data


def decoded(decode, call: str, *args, **kw) -> np.ndarray:
    """``decode`` of the pinned payload, checked against the decoded array pinned with it."""
    out = decode(encoded(call, *args, **kw))
    entry = pinned(call, *args, **kw)
    assert (digest(out), list(out.shape), str(out.dtype)) == (
        entry["decoded_sha256"], entry["shape"], entry["dtype"]), call
    return out
