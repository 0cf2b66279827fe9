"""Lossy WebP (VP8) key-frame codec — the RFC 6386 bitstream machinery
behind the `media.py:61` / `media_webp.py` plug-point, implemented
natively: boolean arithmetic coder, two-partition key-frame layout,
intra prediction (16x16 DC/V/H/TM, chroma 8x8, B_PRED 4x4 sub-modes),
coefficient token trees with band/neighbor contexts, per-plane
dequantization from the spec's quantizer lookup tables, and the exact
integer 4x4 inverse DCT + Walsh-Hadamard second-order transform.

Provenance & scope: every STRUCTURAL element here — header layout,
boolean coder, trees, token semantics, quantizer tables, transforms,
prediction formulas — follows RFC 6386 (public spec).  As of r8 the
spec's three large default probability tables are transcribed
(``COEF_PROBS`` / ``COEF_UPDATE_PROBS`` / ``KF_BMODE_PROBS`` below),
key-frame 4x4 sub-modes code against the contextual
``kf_bmode_prob[above][left]`` table, SEGMENTATION is fully decoded
(per-segment quantizers and loop-filter levels, per-MB segment map),
and the B_PRED above-right quirk matches the spec (right-column
sub-blocks read the row above the MACROBLOCK).  Third-party interop
is PROVEN, not claimed: real libwebp-encoded key frames across sizes
(MB-aligned and not) and qualities — segmentation on, multi-MB,
normal loop filter — decode with all three planes BIT-IDENTICAL to
the system libwebp reference decoder
(tests/test_media.py::test_vp8_libwebp_encoder_interop_matrix and
::test_vp8_third_party_stream_interop).  Still honestly
unimplemented (explicit raise, never silent corruption): loop-filter
deltas and inter-frame machinery.

Our own key frames are pinned as test fixtures (tests/fixtures/media/):
they were encoded decoder-in-the-loop, so each manifest entry's plane
hashes are the encoder's reconstruction, and the decoder must match
them bit-exactly.

Reference parity target: conte-to-fresco-etl has no media surface;
this module belongs to the training-data-pipeline extension
(multimodal ingest), sibling to media.py (PPM/PNG/GIF/JPEG/WAV/FLAC)
and media_webp.py (lossless VP8L).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Boolean arithmetic coder (RFC 6386 section 7)
# ---------------------------------------------------------------------------


class BoolDecoder:
    """RFC 6386 boolean decoder: an arithmetic decoder over 8-bit
    probabilities (P(bit=0) = prob/256) with a 16-bit value window."""

    def __init__(self, data: bytes):
        self._d = data
        self._pos = 2
        self.value = (
            (data[0] << 8 | data[1]) if len(data) >= 2
            else (data[0] << 8 if data else 0)
        )
        self.range = 255
        self.bit_count = 0

    def read_bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value = (self.value << 1) & 0xFFFF
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self._pos < len(self._d):
                    self.value |= self._d[self._pos]
                    self._pos += 1
        return ret

    def read_literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bool(128)
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_literal(n)
        return -v if self.read_bool(128) else v

    def read_tree(self, tree: list[int], probs: list[int], start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.read_bool(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# Spec constant tables (RFC 6386 sections 13-14)
# ---------------------------------------------------------------------------

ZIGZAG = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

COEF_BANDS = [0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7]

DC_QLOOKUP = [
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
]

AC_QLOOKUP = [
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
]

#: Coefficient tokens.
DCT_0, DCT_1, DCT_2, DCT_3, DCT_4 = 0, 1, 2, 3, 4
CAT1, CAT2, CAT3, CAT4, CAT5, CAT6 = 5, 6, 7, 8, 9, 10
EOB = 11

COEF_TREE = [
    -EOB, 2,
    -DCT_0, 4,
    -DCT_1, 6,
    8, 12,
    -DCT_2, 10,
    -DCT_3, -DCT_4,
    14, 16,
    -CAT1, -CAT2,
    18, 20,
    -CAT3, -CAT4,
    -CAT5, -CAT6,
]

#: Category base values and extra-bit probabilities (RFC 6386 "Pcat").
CAT_BASE = {CAT1: 5, CAT2: 7, CAT3: 11, CAT4: 19, CAT5: 35, CAT6: 67}
CAT_PROBS = {
    CAT1: [159],
    CAT2: [165, 145],
    CAT3: [173, 148, 140],
    CAT4: [176, 155, 140, 135],
    CAT5: [180, 157, 141, 134, 130],
    CAT6: [254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129],
}

#: Intra modes.
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
KF_YMODE_TREE = [-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED]
KF_YMODE_PROBS = [145, 156, 163, 128]
UV_MODE_TREE = [-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED]
KF_UV_PROBS = [142, 114, 183]

#: 4x4 sub-modes (B_PRED).
B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU = range(10)
BMODE_TREE = [
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
]

#: Implied 4x4 sub-mode of a whole-macroblock intra mode — the
#: kf_bmode_prob CONTEXT a non-B_PRED neighbor contributes
#: (RFC 6386 §11.5; blocks outside the frame contribute B_DC).
IMPLIED_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# ---------------------------------------------------------------------------
# RFC 6386 default probability tables (transcribed r8; replaces the r7
# FIXTURE_* stand-ins).  These are the spec's normative constants:
# - COEF_PROBS: default coefficient probabilities
#   [block_type 4][coef_band 8][prev-nonzero ctx 3][11 tree nodes]
#   (RFC 6386 §13.5 "default_coef_probs"); block type 0 band 0 is
#   all-128 filler because coefficient 0 of a Y-after-Y2 block is
#   carried in the Y2 block and band 0 is never coded there.
# - COEF_UPDATE_PROBS: the per-node probabilities that gate the
#   "update this coefficient probability" flag in the frame header
#   (RFC 6386 §13.4 "coeff_update_probs").
# - KF_BMODE_PROBS: key-frame 4x4 sub-mode probabilities, contextual
#   on the ABOVE and LEFT neighboring sub-blocks' modes
#   (RFC 6386 §11.5 "kf_bmode_prob"[above][left]).
# Transcription source: the tables as embedded in this container's
# system libwebp decoder (libwebp.so.7.1.5 .rodata — the same
# normative values printed in the RFC's reference code), extracted
# and cross-validated against the binary's two independent copies
# (byte-identical) plus structural invariants (sizes 1056/1056/900,
# all values in [1, 255], known anchor rows).  ONE transcription trap:
# libwebp's internal B-mode enum permutes the RFC's (libwebp RD=4,
# VR=5, LD=6 vs RFC LD=4, RD=5, VR=6), so its kBModesProba context
# axes are libwebp-ordered — KF_BMODE_PROBS below is UN-permuted back
# into RFC mode order on both axes (the per-row 9 probabilities index
# structural TREE NODES and need no change).  Getting this wrong
# decodes self-coded streams fine but desyncs mode selection on real
# files — caught by, and now pinned with, the third-party-stream
# interop test (tests/test_media.py::test_vp8_third_party_stream_
# interop: bit-exact Y/U/V agreement with the system libwebp reference
# decoder on a real encoder's 16x16 B_PRED key frame, loop filter
# included).
# ---------------------------------------------------------------------------

COEF_PROBS = [
    [  # block type 0
        [  # band 0
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
        [  # band 1
            [253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128],
            [189, 129, 242, 255, 227, 213, 255, 219, 128, 128, 128],
            [106, 126, 227, 252, 214, 209, 255, 255, 128, 128, 128],
        ],
        [  # band 2
            [1, 98, 248, 255, 236, 226, 255, 255, 128, 128, 128],
            [181, 133, 238, 254, 221, 234, 255, 154, 128, 128, 128],
            [78, 134, 202, 247, 198, 180, 255, 219, 128, 128, 128],
        ],
        [  # band 3
            [1, 185, 249, 255, 243, 255, 128, 128, 128, 128, 128],
            [184, 150, 247, 255, 236, 224, 128, 128, 128, 128, 128],
            [77, 110, 216, 255, 236, 230, 128, 128, 128, 128, 128],
        ],
        [  # band 4
            [1, 101, 251, 255, 241, 255, 128, 128, 128, 128, 128],
            [170, 139, 241, 252, 236, 209, 255, 255, 128, 128, 128],
            [37, 116, 196, 243, 228, 255, 255, 255, 128, 128, 128],
        ],
        [  # band 5
            [1, 204, 254, 255, 245, 255, 128, 128, 128, 128, 128],
            [207, 160, 250, 255, 238, 128, 128, 128, 128, 128, 128],
            [102, 103, 231, 255, 211, 171, 128, 128, 128, 128, 128],
        ],
        [  # band 6
            [1, 152, 252, 255, 240, 255, 128, 128, 128, 128, 128],
            [177, 135, 243, 255, 234, 225, 128, 128, 128, 128, 128],
            [80, 129, 211, 255, 194, 224, 128, 128, 128, 128, 128],
        ],
        [  # band 7
            [1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [246, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [255, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
    ],
    [  # block type 1
        [  # band 0
            [198, 35, 237, 223, 193, 187, 162, 160, 145, 155, 62],
            [131, 45, 198, 221, 172, 176, 220, 157, 252, 221, 1],
            [68, 47, 146, 208, 149, 167, 221, 162, 255, 223, 128],
        ],
        [  # band 1
            [1, 149, 241, 255, 221, 224, 255, 255, 128, 128, 128],
            [184, 141, 234, 253, 222, 220, 255, 199, 128, 128, 128],
            [81, 99, 181, 242, 176, 190, 249, 202, 255, 255, 128],
        ],
        [  # band 2
            [1, 129, 232, 253, 214, 197, 242, 196, 255, 255, 128],
            [99, 121, 210, 250, 201, 198, 255, 202, 128, 128, 128],
            [23, 91, 163, 242, 170, 187, 247, 210, 255, 255, 128],
        ],
        [  # band 3
            [1, 200, 246, 255, 234, 255, 128, 128, 128, 128, 128],
            [109, 178, 241, 255, 231, 245, 255, 255, 128, 128, 128],
            [44, 130, 201, 253, 205, 192, 255, 255, 128, 128, 128],
        ],
        [  # band 4
            [1, 132, 239, 251, 219, 209, 255, 165, 128, 128, 128],
            [94, 136, 225, 251, 218, 190, 255, 255, 128, 128, 128],
            [22, 100, 174, 245, 186, 161, 255, 199, 128, 128, 128],
        ],
        [  # band 5
            [1, 182, 249, 255, 232, 235, 128, 128, 128, 128, 128],
            [124, 143, 241, 255, 227, 234, 128, 128, 128, 128, 128],
            [35, 77, 181, 251, 193, 211, 255, 205, 128, 128, 128],
        ],
        [  # band 6
            [1, 157, 247, 255, 236, 231, 255, 255, 128, 128, 128],
            [121, 141, 235, 255, 225, 227, 255, 255, 128, 128, 128],
            [45, 99, 188, 251, 195, 217, 255, 224, 128, 128, 128],
        ],
        [  # band 7
            [1, 1, 251, 255, 213, 255, 128, 128, 128, 128, 128],
            [203, 1, 248, 255, 255, 128, 128, 128, 128, 128, 128],
            [137, 1, 177, 255, 224, 255, 128, 128, 128, 128, 128],
        ],
    ],
    [  # block type 2
        [  # band 0
            [253, 9, 248, 251, 207, 208, 255, 192, 128, 128, 128],
            [175, 13, 224, 243, 193, 185, 249, 198, 255, 255, 128],
            [73, 17, 171, 221, 161, 179, 236, 167, 255, 234, 128],
        ],
        [  # band 1
            [1, 95, 247, 253, 212, 183, 255, 255, 128, 128, 128],
            [239, 90, 244, 250, 211, 209, 255, 255, 128, 128, 128],
            [155, 77, 195, 248, 188, 195, 255, 255, 128, 128, 128],
        ],
        [  # band 2
            [1, 24, 239, 251, 218, 219, 255, 205, 128, 128, 128],
            [201, 51, 219, 255, 196, 186, 128, 128, 128, 128, 128],
            [69, 46, 190, 239, 201, 218, 255, 228, 128, 128, 128],
        ],
        [  # band 3
            [1, 191, 251, 255, 255, 128, 128, 128, 128, 128, 128],
            [223, 165, 249, 255, 213, 255, 128, 128, 128, 128, 128],
            [141, 124, 248, 255, 255, 128, 128, 128, 128, 128, 128],
        ],
        [  # band 4
            [1, 16, 248, 255, 255, 128, 128, 128, 128, 128, 128],
            [190, 36, 230, 255, 236, 255, 128, 128, 128, 128, 128],
            [149, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
        [  # band 5
            [1, 226, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [247, 192, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [240, 128, 255, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
        [  # band 6
            [1, 134, 252, 255, 255, 128, 128, 128, 128, 128, 128],
            [213, 62, 250, 255, 255, 128, 128, 128, 128, 128, 128],
            [55, 93, 255, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
        [  # band 7
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
            [128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
    ],
    [  # block type 3
        [  # band 0
            [202, 24, 213, 235, 186, 191, 220, 160, 240, 175, 255],
            [126, 38, 182, 232, 169, 184, 228, 174, 255, 187, 128],
            [61, 46, 138, 219, 151, 178, 240, 170, 255, 216, 128],
        ],
        [  # band 1
            [1, 112, 230, 250, 199, 191, 247, 159, 255, 255, 128],
            [166, 109, 228, 252, 211, 215, 255, 174, 128, 128, 128],
            [39, 77, 162, 232, 172, 180, 245, 178, 255, 255, 128],
        ],
        [  # band 2
            [1, 52, 220, 246, 198, 199, 249, 220, 255, 255, 128],
            [124, 74, 191, 243, 183, 193, 250, 221, 255, 255, 128],
            [24, 71, 130, 219, 154, 170, 243, 182, 255, 255, 128],
        ],
        [  # band 3
            [1, 182, 225, 249, 219, 240, 255, 224, 128, 128, 128],
            [149, 150, 226, 252, 216, 205, 255, 171, 128, 128, 128],
            [28, 108, 170, 242, 183, 194, 254, 223, 255, 255, 128],
        ],
        [  # band 4
            [1, 81, 230, 252, 204, 203, 255, 192, 128, 128, 128],
            [123, 102, 209, 247, 188, 196, 255, 233, 128, 128, 128],
            [20, 95, 153, 243, 164, 173, 255, 203, 128, 128, 128],
        ],
        [  # band 5
            [1, 222, 248, 255, 216, 213, 128, 128, 128, 128, 128],
            [168, 175, 246, 252, 235, 205, 255, 255, 128, 128, 128],
            [47, 116, 215, 255, 211, 212, 255, 255, 128, 128, 128],
        ],
        [  # band 6
            [1, 121, 236, 253, 212, 214, 255, 255, 128, 128, 128],
            [141, 84, 213, 252, 201, 202, 255, 219, 128, 128, 128],
            [42, 80, 160, 240, 162, 185, 255, 205, 128, 128, 128],
        ],
        [  # band 7
            [1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [244, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
            [238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128],
        ],
    ],
]

COEF_UPDATE_PROBS = [
    [  # block type 0
        [  # band 0
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 1
            [176, 246, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [223, 241, 252, 255, 255, 255, 255, 255, 255, 255, 255],
            [249, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 2
            [255, 244, 252, 255, 255, 255, 255, 255, 255, 255, 255],
            [234, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 3
            [255, 246, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [239, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 4
            [255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [251, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 5
            [255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [251, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 6
            [255, 254, 253, 255, 254, 255, 255, 255, 255, 255, 255],
            [250, 255, 254, 255, 254, 255, 255, 255, 255, 255, 255],
            [254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 7
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
    ],
    [  # block type 1
        [  # band 0
            [217, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [225, 252, 241, 253, 255, 255, 254, 255, 255, 255, 255],
            [234, 250, 241, 250, 253, 255, 253, 254, 255, 255, 255],
        ],
        [  # band 1
            [255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [223, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [238, 253, 254, 254, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 2
            [255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [249, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 3
            [255, 253, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [247, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 4
            [255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [252, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 5
            [255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 6
            [255, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 7
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
    ],
    [  # block type 2
        [  # band 0
            [186, 251, 250, 255, 255, 255, 255, 255, 255, 255, 255],
            [234, 251, 244, 254, 255, 255, 255, 255, 255, 255, 255],
            [251, 251, 243, 253, 254, 255, 254, 255, 255, 255, 255],
        ],
        [  # band 1
            [255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [236, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [251, 253, 253, 254, 254, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 2
            [255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 3
            [255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 4
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 5
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 6
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 7
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
    ],
    [  # block type 3
        [  # band 0
            [248, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [250, 254, 252, 254, 255, 255, 255, 255, 255, 255, 255],
            [248, 254, 249, 253, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 1
            [255, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [246, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [252, 254, 251, 254, 254, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 2
            [255, 254, 252, 255, 255, 255, 255, 255, 255, 255, 255],
            [248, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [253, 255, 254, 254, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 3
            [255, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [245, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [253, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 4
            [255, 251, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [252, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 5
            [255, 252, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [249, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 6
            [255, 255, 253, 255, 255, 255, 255, 255, 255, 255, 255],
            [250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
        [  # band 7
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
            [255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255],
        ],
    ],
]

KF_BMODE_PROBS = [
    [  # above sub-mode 0 (RFC order)
        [231, 120, 48, 89, 115, 113, 120, 152, 112],
        [152, 179, 64, 126, 170, 118, 46, 70, 95],
        [175, 69, 143, 80, 85, 82, 72, 155, 103],
        [56, 58, 10, 171, 218, 189, 17, 13, 152],
        [144, 71, 10, 38, 171, 213, 144, 34, 26],
        [114, 26, 17, 163, 44, 195, 21, 10, 173],
        [121, 24, 80, 195, 26, 62, 44, 64, 85],
        [170, 46, 55, 19, 136, 160, 33, 206, 71],
        [63, 20, 8, 114, 114, 208, 12, 9, 226],
        [81, 40, 11, 96, 182, 84, 29, 16, 36],
    ],
    [  # above sub-mode 1 (RFC order)
        [134, 183, 89, 137, 98, 101, 106, 165, 148],
        [72, 187, 100, 130, 157, 111, 32, 75, 80],
        [66, 102, 167, 99, 74, 62, 40, 234, 128],
        [41, 53, 9, 178, 241, 141, 26, 8, 107],
        [104, 79, 12, 27, 217, 255, 87, 17, 7],
        [74, 43, 26, 146, 73, 166, 49, 23, 157],
        [65, 38, 105, 160, 51, 52, 31, 115, 128],
        [87, 68, 71, 44, 114, 51, 15, 186, 23],
        [47, 41, 14, 110, 182, 183, 21, 17, 194],
        [66, 45, 25, 102, 197, 189, 23, 18, 22],
    ],
    [  # above sub-mode 2 (RFC order)
        [88, 88, 147, 150, 42, 46, 45, 196, 205],
        [43, 97, 183, 117, 85, 38, 35, 179, 61],
        [39, 53, 200, 87, 26, 21, 43, 232, 171],
        [56, 34, 51, 104, 114, 102, 29, 93, 77],
        [107, 54, 32, 26, 51, 1, 81, 43, 31],
        [39, 28, 85, 171, 58, 165, 90, 98, 64],
        [34, 22, 116, 206, 23, 34, 43, 166, 73],
        [68, 25, 106, 22, 64, 171, 36, 225, 114],
        [34, 19, 21, 102, 132, 188, 16, 76, 124],
        [62, 18, 78, 95, 85, 57, 50, 48, 51],
    ],
    [  # above sub-mode 3 (RFC order)
        [193, 101, 35, 159, 215, 111, 89, 46, 111],
        [60, 148, 31, 172, 219, 228, 21, 18, 111],
        [112, 113, 77, 85, 179, 255, 38, 120, 114],
        [40, 42, 1, 196, 245, 209, 10, 25, 109],
        [100, 80, 8, 43, 154, 1, 51, 26, 71],
        [88, 43, 29, 140, 166, 213, 37, 43, 154],
        [61, 63, 30, 155, 67, 45, 68, 1, 209],
        [142, 78, 78, 16, 255, 128, 34, 197, 171],
        [41, 40, 5, 102, 211, 183, 4, 1, 221],
        [51, 50, 17, 168, 209, 192, 23, 25, 82],
    ],
    [  # above sub-mode 4 (RFC order)
        [125, 98, 42, 88, 104, 85, 117, 175, 82],
        [95, 84, 53, 89, 128, 100, 113, 101, 45],
        [75, 79, 123, 47, 51, 128, 81, 171, 1],
        [57, 17, 5, 71, 102, 57, 53, 41, 49],
        [115, 21, 2, 10, 102, 255, 166, 23, 6],
        [38, 33, 13, 121, 57, 73, 26, 1, 85],
        [41, 10, 67, 138, 77, 110, 90, 47, 114],
        [101, 29, 16, 10, 85, 128, 101, 196, 26],
        [57, 18, 10, 102, 102, 213, 34, 20, 43],
        [117, 20, 15, 36, 163, 128, 68, 1, 26],
    ],
    [  # above sub-mode 5 (RFC order)
        [138, 31, 36, 171, 27, 166, 38, 44, 229],
        [67, 87, 58, 169, 82, 115, 26, 59, 179],
        [63, 59, 90, 180, 59, 166, 93, 73, 154],
        [40, 40, 21, 116, 143, 209, 34, 39, 175],
        [57, 46, 22, 24, 128, 1, 54, 17, 37],
        [47, 15, 16, 183, 34, 223, 49, 45, 183],
        [46, 17, 33, 183, 6, 98, 15, 32, 183],
        [65, 32, 73, 115, 28, 128, 23, 128, 205],
        [40, 3, 9, 115, 51, 192, 18, 6, 223],
        [87, 37, 9, 115, 59, 77, 64, 21, 47],
    ],
    [  # above sub-mode 6 (RFC order)
        [104, 55, 44, 218, 9, 54, 53, 130, 226],
        [64, 90, 70, 205, 40, 41, 23, 26, 57],
        [54, 57, 112, 184, 5, 41, 38, 166, 213],
        [30, 34, 26, 133, 152, 116, 10, 32, 134],
        [75, 32, 12, 51, 192, 255, 160, 43, 51],
        [39, 19, 53, 221, 26, 114, 32, 73, 255],
        [31, 9, 65, 234, 2, 15, 1, 118, 73],
        [88, 31, 35, 67, 102, 85, 55, 186, 85],
        [56, 21, 23, 111, 59, 205, 45, 37, 192],
        [55, 38, 70, 124, 73, 102, 1, 34, 98],
    ],
    [  # above sub-mode 7 (RFC order)
        [102, 61, 71, 37, 34, 53, 31, 243, 192],
        [69, 60, 71, 38, 73, 119, 28, 222, 37],
        [68, 45, 128, 34, 1, 47, 11, 245, 171],
        [62, 17, 19, 70, 146, 85, 55, 62, 70],
        [75, 15, 9, 9, 64, 255, 184, 119, 16],
        [37, 43, 37, 154, 100, 163, 85, 160, 1],
        [63, 9, 92, 136, 28, 64, 32, 201, 85],
        [86, 6, 28, 5, 64, 255, 25, 248, 1],
        [56, 8, 17, 132, 137, 255, 55, 116, 128],
        [58, 15, 20, 82, 135, 57, 26, 121, 40],
    ],
    [  # above sub-mode 8 (RFC order)
        [164, 50, 31, 137, 154, 133, 25, 35, 218],
        [51, 103, 44, 131, 131, 123, 31, 6, 158],
        [86, 40, 64, 135, 148, 224, 45, 183, 128],
        [22, 26, 17, 131, 240, 154, 14, 1, 209],
        [83, 12, 13, 54, 192, 255, 68, 47, 28],
        [45, 16, 21, 91, 64, 222, 7, 1, 197],
        [56, 21, 39, 155, 60, 138, 23, 102, 213],
        [85, 26, 85, 85, 128, 128, 32, 146, 171],
        [18, 11, 7, 63, 144, 171, 4, 4, 246],
        [35, 27, 10, 146, 174, 171, 12, 26, 128],
    ],
    [  # above sub-mode 9 (RFC order)
        [190, 80, 35, 99, 180, 80, 126, 54, 45],
        [85, 126, 47, 87, 176, 51, 41, 20, 32],
        [101, 75, 128, 139, 118, 146, 116, 128, 85],
        [56, 41, 15, 176, 236, 85, 37, 9, 62],
        [146, 36, 19, 30, 171, 255, 97, 27, 20],
        [71, 30, 17, 119, 118, 255, 17, 18, 138],
        [101, 38, 60, 138, 55, 70, 43, 26, 142],
        [138, 45, 61, 62, 219, 1, 81, 188, 64],
        [32, 41, 20, 117, 151, 142, 20, 21, 163],
        [112, 19, 12, 61, 195, 128, 48, 4, 24],
    ],
]



def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


def dequant_factors(
    qi: int,
    y1dc_delta: int = 0,
    y2dc_delta: int = 0,
    y2ac_delta: int = 0,
    uvdc_delta: int = 0,
    uvac_delta: int = 0,
) -> dict:
    """Per-plane (dc, ac) dequantization factors from the frame
    quantizer index + deltas (RFC 6386 section 9.6/14.1)."""
    y2ac = (AC_QLOOKUP[_clamp_q(qi + y2ac_delta)] * 155) // 100
    uvdc = DC_QLOOKUP[_clamp_q(qi + uvdc_delta)]
    return {
        "y1": (DC_QLOOKUP[_clamp_q(qi + y1dc_delta)], AC_QLOOKUP[_clamp_q(qi)]),
        "y2": (DC_QLOOKUP[_clamp_q(qi + y2dc_delta)] * 2, max(8, y2ac)),
        "uv": (min(uvdc, 132), AC_QLOOKUP[_clamp_q(qi + uvac_delta)]),
    }


# ---------------------------------------------------------------------------
# Transforms (RFC 6386 section 14.2-14.3) — exact integer arithmetic
# ---------------------------------------------------------------------------

_C1 = 20091  # (sqrt(2)*cos(pi/8) - 1) << 16
_C2 = 35468  # (sqrt(2)*sin(pi/8)) << 16


def idct4x4(coeffs: list[int]) -> np.ndarray:
    """Exact spec inverse DCT: 16 coefficients (raster order) -> 4x4
    residual block (int)."""
    ip = list(coeffs)
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[i + 8]
        b1 = ip[i] - ip[i + 8]
        t1 = (ip[i + 4] * _C2) >> 16
        t2 = ip[i + 12] + ((ip[i + 12] * _C1) >> 16)
        c1 = t1 - t2
        t1 = ip[i + 4] + ((ip[i + 4] * _C1) >> 16)
        t2 = (ip[i + 12] * _C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[i + 12] = a1 - d1
        tmp[i + 4] = b1 + c1
        tmp[i + 8] = b1 - c1
    out = np.zeros((4, 4), dtype=np.int64)
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 2]
        b1 = tmp[r] - tmp[r + 2]
        t1 = (tmp[r + 1] * _C2) >> 16
        t2 = tmp[r + 3] + ((tmp[r + 3] * _C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[r + 1] + ((tmp[r + 1] * _C1) >> 16)
        t2 = (tmp[r + 3] * _C2) >> 16
        d1 = t1 + t2
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out


def iwht4x4(coeffs: list[int]) -> list[int]:
    """Exact spec inverse Walsh-Hadamard (second-order) transform: the
    Y2 block's 16 coefficients -> the 16 luma DC values."""
    ip = list(coeffs)
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[i + 12]
        b1 = ip[i + 4] + ip[i + 8]
        c1 = ip[i + 4] - ip[i + 8]
        d1 = ip[i] - ip[i + 12]
        tmp[i] = a1 + b1
        tmp[i + 4] = c1 + d1
        tmp[i + 8] = a1 - b1
        tmp[i + 12] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 3]
        b1 = tmp[r + 1] + tmp[r + 2]
        c1 = tmp[r + 1] - tmp[r + 2]
        d1 = tmp[r] - tmp[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# Intra prediction (RFC 6386 section 12)
# ---------------------------------------------------------------------------


def _edges(plane: np.ndarray, r: int, c: int, size: int):
    """(above[size], left[size], above_left) with the spec's
    out-of-frame fills: above row = 127, left column = 129."""
    h, w = plane.shape
    above = (
        plane[r - 1, c: c + size].astype(np.int64)
        if r > 0
        else np.full(size, 127, dtype=np.int64)
    )
    left = (
        plane[r: r + size, c - 1].astype(np.int64)
        if c > 0
        else np.full(size, 129, dtype=np.int64)
    )
    if r > 0 and c > 0:
        al = int(plane[r - 1, c - 1])
    elif r > 0:
        al = 129
    else:
        al = 127
    return above, left, al


def predict_block(
    plane: np.ndarray, r: int, c: int, size: int, mode: int
) -> np.ndarray:
    """16x16 / 8x8 whole-block intra prediction (DC/V/H/TM)."""
    above, left, al = _edges(plane, r, c, size)
    if mode == DC_PRED:
        has_a, has_l = r > 0, c > 0
        if has_a and has_l:
            dc = (int(above.sum() + left.sum()) + size) >> (
                size.bit_length() + 0
            )
        elif has_a:
            dc = (int(above.sum()) + size // 2) >> (size.bit_length() - 1)
        elif has_l:
            dc = (int(left.sum()) + size // 2) >> (size.bit_length() - 1)
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int64)
    if mode == V_PRED:
        return np.tile(above, (size, 1))
    if mode == H_PRED:
        return np.tile(left.reshape(-1, 1), (1, size))
    # TM_PRED: clamp(left + above - above_left)
    p = left.reshape(-1, 1) + above.reshape(1, -1) - al
    return np.clip(p, 0, 255)


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def predict_b(plane: np.ndarray, r: int, c: int, mode: int) -> np.ndarray:
    """4x4 sub-block intra prediction (the ten B_PRED modes).

    Above-right sourcing is the spec's famous quirk (RFC 6386 §12.3,
    verified bit-exact against libwebp on real multi-MB streams): for
    sub-blocks in the macroblock's RIGHT column the four above-right
    pixels always come from the row above the MACROBLOCK (the next
    sub-block row to the upper-right is not yet reconstructed), while
    interior columns read the row directly above the sub-block
    (reconstructed within this MB).  On the frame's top row they are
    127; past the right frame edge the last in-frame pixel of that
    row replicates."""
    h, w = plane.shape
    above, left, al = _edges(plane, r, c, 4)
    # right-column sub-blocks take above-right from the MB's top
    # neighbor row; others from the row directly above the sub-block
    ar_row = ((r >> 4) << 4) - 1 if (c & 15) == 12 else r - 1
    if ar_row >= 0:
        ar = [
            int(plane[ar_row, min(c + 4 + i, w - 1)]) for i in range(4)
        ]
    else:
        ar = [127] * 4
    A = [int(x) for x in above] + ar
    L = [int(x) for x in left]
    out = np.zeros((4, 4), dtype=np.int64)
    if mode == B_DC:
        dc = (sum(A[:4]) + sum(L) + 4) >> 3
        out[:] = dc
    elif mode == B_TM:
        for i in range(4):
            for j in range(4):
                out[i, j] = min(max(L[i] + A[j] - al, 0), 255)
    elif mode == B_VE:
        row = [
            _avg3(al, A[0], A[1]),
            _avg3(A[0], A[1], A[2]),
            _avg3(A[1], A[2], A[3]),
            _avg3(A[2], A[3], A[4]),
        ]
        out[:] = np.array(row)
    elif mode == B_HE:
        col = [
            _avg3(al, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ]
        out[:] = np.array(col).reshape(-1, 1)
    elif mode == B_LD:
        for i in range(4):
            for j in range(4):
                k = i + j
                out[i, j] = (
                    _avg3(A[k], A[k + 1], A[k + 2])
                    if k < 6
                    else _avg3(A[6], A[7], A[7])
                )
    elif mode == B_RD:
        e = [
            L[3], L[2], L[1], L[0], al, A[0], A[1], A[2], A[3],
        ]
        for i in range(4):
            for j in range(4):
                out[i, j] = _avg3(
                    e[j - i + 3], e[j - i + 4], e[j - i + 5]
                ) if j - i + 5 <= 8 else _avg3(e[6], e[7], e[8])
    elif mode == B_VR:
        e = [L[3], L[2], L[1], L[0], al, A[0], A[1], A[2], A[3]]
        out[0, 0] = _avg2(e[4], e[5])
        out[0, 1] = _avg2(e[5], e[6])
        out[0, 2] = _avg2(e[6], e[7])
        out[0, 3] = _avg2(e[7], e[8])
        out[1, 0] = _avg3(e[3], e[4], e[5])
        out[1, 1] = _avg3(e[4], e[5], e[6])
        out[1, 2] = _avg3(e[5], e[6], e[7])
        out[1, 3] = _avg3(e[6], e[7], e[8])
        out[2, 0] = _avg3(e[2], e[3], e[4])
        out[2, 1:] = out[0, :3]
        out[3, 0] = _avg3(e[1], e[2], e[3])
        out[3, 1:] = out[1, :3]
    elif mode == B_VL:
        out[0, 0] = _avg2(A[0], A[1])
        out[0, 1] = _avg2(A[1], A[2])
        out[0, 2] = _avg2(A[2], A[3])
        out[0, 3] = _avg2(A[3], A[4])
        out[1, 0] = _avg3(A[0], A[1], A[2])
        out[1, 1] = _avg3(A[1], A[2], A[3])
        out[1, 2] = _avg3(A[2], A[3], A[4])
        out[1, 3] = _avg3(A[3], A[4], A[5])
        out[2, :3] = out[0, 1:]
        out[2, 3] = _avg3(A[4], A[5], A[6])
        out[3, :3] = out[1, 1:]
        out[3, 3] = _avg3(A[5], A[6], A[7])
    elif mode == B_HD:
        e = [L[3], L[2], L[1], L[0], al, A[0], A[1], A[2]]
        out[3, 0] = _avg2(e[0], e[1])
        out[3, 1] = _avg3(e[0], e[1], e[2])
        out[2, 0] = _avg2(e[1], e[2])
        out[2, 1] = _avg3(e[1], e[2], e[3])
        out[1, 0] = _avg2(e[2], e[3])
        out[1, 1] = _avg3(e[2], e[3], e[4])
        out[0, 0] = _avg2(e[3], e[4])
        out[0, 1] = _avg3(e[3], e[4], e[5])
        out[0, 2] = _avg3(e[4], e[5], e[6])
        out[0, 3] = _avg3(e[5], e[6], e[7])
        out[1, 2:] = out[0, :2]
        out[2, 2:] = out[1, :2]
        out[3, 2:] = out[2, :2]
    elif mode == B_HU:
        out[0, 0] = _avg2(L[0], L[1])
        out[0, 1] = _avg3(L[0], L[1], L[2])
        out[0, 2] = _avg2(L[1], L[2])
        out[0, 3] = _avg3(L[1], L[2], L[3])
        out[1, :2] = out[0, 2:]
        out[1, 2] = _avg2(L[2], L[3])
        out[1, 3] = _avg3(L[2], L[3], L[3])
        out[2, :2] = out[1, 2:]
        out[2, 2] = L[3]
        out[2, 3] = L[3]
        out[3, :] = L[3]
    else:  # pragma: no cover - tree cannot produce others
        raise ValueError(f"bad b-mode {mode}")
    return out


# ---------------------------------------------------------------------------
# Macroblock reconstruction
# ---------------------------------------------------------------------------


def _add_clamp(plane, r, c, pred, resid):
    plane[r: r + pred.shape[0], c: c + pred.shape[1]] = np.clip(
        pred + resid, 0, 255
    )


def reconstruct_mb(
    planes: dict,
    mb_r: int,
    mb_c: int,
    ymode: int,
    uvmode: int,
    bmodes: list[int] | None,
    qcoef: dict,
    dqf: dict,
) -> None:
    """Dequantize + inverse-transform + predict + clamp one macroblock
    into the working planes.  ``qcoef``: {"y2": [16] | None,
    "y": [16][16], "u": [4][16], "v": [4][16]} quantized coefficients
    in RASTER order (already un-zigzagged)."""
    y, u, v = planes["y"], planes["u"], planes["v"]
    ry, cy = mb_r * 16, mb_c * 16
    rc, cc = mb_r * 8, mb_c * 8
    y1dc, y1ac = dqf["y1"]
    uvdc, uvac = dqf["uv"]

    if ymode != B_PRED:
        y2dc, y2ac = dqf["y2"]
        y2 = [
            qcoef["y2"][i] * (y2dc if i == 0 else y2ac) for i in range(16)
        ]
        dcs = iwht4x4(y2)
        pred = predict_block(y, ry, cy, 16, ymode)
        recon = np.zeros((16, 16), dtype=np.int64)
        for b in range(16):
            co = [
                qcoef["y"][b][i] * (y1dc if i == 0 else y1ac)
                for i in range(16)
            ]
            co[0] = dcs[b]
            br, bc = (b // 4) * 4, (b % 4) * 4
            recon[br: br + 4, bc: bc + 4] = (
                pred[br: br + 4, bc: bc + 4] + idct4x4(co)
            )
        y[ry: ry + 16, cy: cy + 16] = np.clip(recon, 0, 255)
    else:
        for b in range(16):
            br, bc = ry + (b // 4) * 4, cy + (b % 4) * 4
            pred = predict_b(y, br, bc, bmodes[b])
            co = [
                qcoef["y"][b][i] * (y1dc if i == 0 else y1ac)
                for i in range(16)
            ]
            _add_clamp(y, br, bc, pred, idct4x4(co))

    _reconstruct_chroma(planes, mb_r, mb_c, uvmode, qcoef, dqf)


def _reconstruct_chroma(
    planes: dict, mb_r: int, mb_c: int, uvmode: int, qcoef: dict, dqf: dict
) -> None:
    rc, cc = mb_r * 8, mb_c * 8
    uvdc, uvac = dqf["uv"]
    for plane, key in ((planes["u"], "u"), (planes["v"], "v")):
        pred = predict_block(plane, rc, cc, 8, uvmode)
        recon = np.zeros((8, 8), dtype=np.int64)
        for b in range(4):
            co = [
                qcoef[key][b][i] * (uvdc if i == 0 else uvac)
                for i in range(16)
            ]
            br, bc = (b // 2) * 4, (b % 2) * 4
            recon[br: br + 4, bc: bc + 4] = (
                pred[br: br + 4, bc: bc + 4] + idct4x4(co)
            )
        plane[rc: rc + 8, cc: cc + 8] = np.clip(recon, 0, 255)


# ---------------------------------------------------------------------------
# Loop filter (RFC 6386 section 15) — a post-pass over the
# reconstructed planes: for key frames every intra prediction reads
# pre-filter pixels, so encoder and decoder apply the identical filter
# to their finished planes and stay bit-exact.
# ---------------------------------------------------------------------------


def _lf_limits(level: int, sharpness: int) -> tuple[int, int, int, int]:
    """(interior_limit, mbedge_limit, subblock_edge_limit,
    hev_threshold) for a key frame at the given filter level."""
    il = level
    if sharpness:
        il >>= 2 if sharpness > 4 else 1
        il = min(il, 9 - sharpness)
    il = max(il, 1)
    mbe = (level + 2) * 2 + il
    sbe = level * 2 + il
    hev = 2 if level >= 40 else (1 if level >= 15 else 0)
    return il, mbe, sbe, hev


def _s(x):  # unsigned pixel -> signed (-128..127) domain
    return x.astype(np.int64) - 128


def _clamp128(x):
    return np.clip(x, -128, 127)


def _common_adjust(p1, p0, q0, q1, use_outer):
    """RFC 6386 common adjustment in the signed domain: returns
    (dp0, dq0, F) — deltas to ADD to p0/q0 plus the filter value F
    the callers derive outer-tap adjustments from."""
    a = _clamp128(np.where(use_outer, _clamp128(p1 - q1), 0) + 3 * (q0 - p0))
    f1 = _clamp128(a + 4) >> 3
    f2 = _clamp128(a + 3) >> 3
    return f2, -f1, f1


def _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, il, edge_limit):
    return (
        (np.abs(p3 - p2) <= il)
        & (np.abs(p2 - p1) <= il)
        & (np.abs(p1 - p0) <= il)
        & (np.abs(q1 - q0) <= il)
        & (np.abs(q2 - q1) <= il)
        & (np.abs(q3 - q2) <= il)
        & (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= edge_limit)
    )


def _hev_mask(p1, p0, q0, q1, thresh):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _filter_segments(px: np.ndarray, mb_edge: bool, il, el, hev_t):
    """Filter one edge: ``px`` is (n, 8) = [p3 p2 p1 p0 q0 q1 q2 q3]
    per independent segment, unsigned.  Returns the filtered (n, 8)."""
    s = _s(px)
    p3, p2, p1, p0, q0, q1, q2, q3 = (s[:, i] for i in range(8))
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, il, el)
    hev = _hev_mask(p1, p0, q0, q1, hev_t)
    out = s.copy()
    if mb_edge:
        # hev segments: common adjustment with outer taps
        dp0, dq0, _ = _common_adjust(p1, p0, q0, q1, True)
        sel = mask & hev
        out[:, 3] = np.where(sel, _clamp128(p0 + dp0), out[:, 3])
        out[:, 4] = np.where(sel, _clamp128(q0 + dq0), out[:, 4])
        # non-hev segments: the 27/18/9 wide taps
        w = _clamp128(_clamp128(p1 - q1) + 3 * (q0 - p0))
        sel = mask & ~hev
        a = _clamp128((27 * w + 63) >> 7)
        out[:, 3] = np.where(sel, _clamp128(p0 + a), out[:, 3])
        out[:, 4] = np.where(sel, _clamp128(q0 - a), out[:, 4])
        a = _clamp128((18 * w + 63) >> 7)
        out[:, 2] = np.where(sel, _clamp128(p1 + a), out[:, 2])
        out[:, 5] = np.where(sel, _clamp128(q1 - a), out[:, 5])
        a = _clamp128((9 * w + 63) >> 7)
        out[:, 1] = np.where(sel, _clamp128(p2 + a), out[:, 1])
        out[:, 6] = np.where(sel, _clamp128(q2 - a), out[:, 6])
    else:
        dp0, dq0, f1 = _common_adjust(p1, p0, q0, q1, hev)
        out[:, 3] = np.where(mask, _clamp128(p0 + dp0), out[:, 3])
        out[:, 4] = np.where(mask, _clamp128(q0 + dq0), out[:, 4])
        a = (f1 + 1) >> 1
        sel = mask & ~hev
        out[:, 2] = np.where(sel, _clamp128(p1 + a), out[:, 2])
        out[:, 5] = np.where(sel, _clamp128(q1 - a), out[:, 5])
    return np.clip(out + 128, 0, 255)


def _filter_v_edge(plane, r0, c, n, mb_edge, lim):
    """Vertical edge at column ``c`` (pixels c-4..c+3), rows r0..r0+n."""
    px = plane[r0: r0 + n, c - 4: c + 4]
    plane[r0: r0 + n, c - 4: c + 4] = _filter_segments(px, mb_edge, *lim)


def _filter_h_edge(plane, r, c0, n, mb_edge, lim):
    """Horizontal edge at row ``r`` (pixels r-4..r+3), cols c0..c0+n."""
    px = plane[r - 4: r + 4, c0: c0 + n].T
    plane[r - 4: r + 4, c0: c0 + n] = _filter_segments(
        px, mb_edge, *lim
    ).T


def loop_filter_frame_simple(
    planes: dict,
    mb_rows: int,
    mb_cols: int,
    level: int,
    sharpness: int,
    interior: list[list[bool]],
) -> None:
    """The SIMPLE loop filter (RFC 6386 section 15.1): luma only, the
    short |p0-q0|/|p1-q1| mask plus the common adjustment with outer
    taps — no hev logic, no wide taps.  ``level`` is either one frame
    level or a per-MB [mb_rows][mb_cols] grid (segmentation assigns
    per-segment filter levels)."""
    levels = (
        level
        if isinstance(level, list)
        else [[level] * mb_cols for _ in range(mb_rows)]
    )
    if not any(any(lv > 0 for lv in row) for row in levels):
        return
    lim_cache: dict[int, tuple] = {}

    def limits(lv: int) -> tuple:
        if lv not in lim_cache:
            lim_cache[lv] = _lf_limits(lv, sharpness)
        return lim_cache[lv]

    s = _s  # signed domain

    def simple_edge(px: np.ndarray, edge_limit: int) -> np.ndarray:
        sx = s(px)
        p1, p0, q0, q1 = (sx[:, i] for i in range(4))
        mask = np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= edge_limit
        dp0, dq0, _ = _common_adjust(p1, p0, q0, q1, True)
        out = sx.copy()
        out[:, 1] = np.where(mask, _clamp128(p0 + dp0), out[:, 1])
        out[:, 2] = np.where(mask, _clamp128(q0 + dq0), out[:, 2])
        return np.clip(out + 128, 0, 255)

    y = planes["y"]
    for mb_r in range(mb_rows):
        for mb_c in range(mb_cols):
            lv = levels[mb_r][mb_c]
            if lv == 0:
                continue
            _il, mbe, sbe, _ = limits(lv)
            ry, cy = mb_r * 16, mb_c * 16
            if mb_c > 0:
                y[ry: ry + 16, cy - 2: cy + 2] = simple_edge(
                    y[ry: ry + 16, cy - 2: cy + 2], mbe
                )
            if interior[mb_r][mb_c]:
                for dx in (4, 8, 12):
                    c = cy + dx
                    y[ry: ry + 16, c - 2: c + 2] = simple_edge(
                        y[ry: ry + 16, c - 2: c + 2], sbe
                    )
            if mb_r > 0:
                y[ry - 2: ry + 2, cy: cy + 16] = simple_edge(
                    y[ry - 2: ry + 2, cy: cy + 16].T, mbe
                ).T
            if interior[mb_r][mb_c]:
                for dy in (4, 8, 12):
                    r = ry + dy
                    y[r - 2: r + 2, cy: cy + 16] = simple_edge(
                        y[r - 2: r + 2, cy: cy + 16].T, sbe
                    ).T


def loop_filter_frame(
    planes: dict,
    mb_rows: int,
    mb_cols: int,
    level: int,
    sharpness: int,
    interior: list[list[bool]],
) -> None:
    """Apply the NORMAL loop filter in place, macroblock raster order,
    per RFC 6386 section 15.3: left/top macroblock edges always filter;
    the interior 4x4 edges filter only when ``interior[r][c]`` (the MB
    had nonzero coefficients or was B_PRED-coded).  ``level`` is one
    frame level or a per-MB grid (per-segment filter levels); a level-0
    MB is skipped entirely."""
    levels = (
        level
        if isinstance(level, list)
        else [[level] * mb_cols for _ in range(mb_rows)]
    )
    if not any(any(lv > 0 for lv in row) for row in levels):
        return
    lim_cache: dict[int, tuple] = {}

    def limits(lv: int) -> tuple:
        if lv not in lim_cache:
            il, mbe, sbe, hev_t = _lf_limits(lv, sharpness)
            lim_cache[lv] = ((il, mbe, hev_t), (il, sbe, hev_t))
        return lim_cache[lv]

    y, u, v = planes["y"], planes["u"], planes["v"]
    for mb_r in range(mb_rows):
        for mb_c in range(mb_cols):
            lv = levels[mb_r][mb_c]
            if lv == 0:
                continue
            mlim, slim = limits(lv)
            ry, cy = mb_r * 16, mb_c * 16
            rc, cc = mb_r * 8, mb_c * 8
            inner = interior[mb_r][mb_c]
            if mb_c > 0:
                _filter_v_edge(y, ry, cy, 16, True, mlim)
                _filter_v_edge(u, rc, cc, 8, True, mlim)
                _filter_v_edge(v, rc, cc, 8, True, mlim)
            if inner:
                for dx in (4, 8, 12):
                    _filter_v_edge(y, ry, cy + dx, 16, False, slim)
                _filter_v_edge(u, rc, cc + 4, 8, False, slim)
                _filter_v_edge(v, rc, cc + 4, 8, False, slim)
            if mb_r > 0:
                _filter_h_edge(y, ry, cy, 16, True, mlim)
                _filter_h_edge(u, rc, cc, 8, True, mlim)
                _filter_h_edge(v, rc, cc, 8, True, mlim)
            if inner:
                for dy in (4, 8, 12):
                    _filter_h_edge(y, ry + dy, cy, 16, False, slim)
                _filter_h_edge(u, rc + 4, cc, 8, False, slim)
                _filter_h_edge(v, rc + 4, cc, 8, False, slim)


# ---------------------------------------------------------------------------
# Token coding (RFC 6386 section 13)
# ---------------------------------------------------------------------------


def decode_coeffs(
    bd: BoolDecoder,
    block_type: int,
    first_coeff: int,
    ctx: int,
    probs,
) -> tuple[list[int], int]:
    """Decode one 4x4 block's coefficients.  Returns (raster-order
    coefficient list, nonzero_flag)."""
    out = [0] * 16
    i = first_coeff
    skip_eob = False  # after a ZERO token the EOB branch is skipped
    nz = 0
    while i < 16:
        band = COEF_BANDS[i]
        p = probs[block_type][band][ctx]
        tok = bd.read_tree(COEF_TREE, p, start=2 if skip_eob else 0)
        if tok == EOB:
            break
        if tok == DCT_0:
            val = 0
            ctx = 0
            skip_eob = True
        else:
            if tok <= DCT_4:
                mag = tok
            else:
                extra = 0
                for pr in CAT_PROBS[tok]:
                    extra = (extra << 1) | bd.read_bool(pr)
                mag = CAT_BASE[tok] + extra
            sign = bd.read_bool(128)
            val = -mag if sign else mag
            ctx = 1 if mag == 1 else 2
            skip_eob = False
            nz = 1
        out[ZIGZAG[i]] = val
        i += 1
    return out, nz


# ---------------------------------------------------------------------------
# Frame decode
# ---------------------------------------------------------------------------


def decode_vp8_planes(
    payload: bytes, state_out: dict | None = None
) -> tuple[dict, int, int]:
    """Decode a VP8 key frame to its raw reconstructed YUV420 planes
    (the spec-defined output, before any display color conversion):
    ({"y", "u", "v"}, width, height) with planes padded to whole
    macroblocks.  ``decode_vp8`` wraps this with the RGB conversion;
    the round-trip tests compare these planes BIT-EXACTLY against the
    encoder's decoder-in-the-loop reconstruction.  ``state_out``, when
    given, receives the frame's persistent-entropy outcome
    ({"coef_probs", "refresh_entropy"}) — the stream driver
    (media_vp8_inter.decode_vp8_stream) needs it to carry coefficient
    probabilities into following inter frames."""
    if len(payload) < 10:
        raise ValueError("truncated VP8 frame")
    tag = payload[0] | payload[1] << 8 | payload[2] << 16
    keyframe = not (tag & 1)
    part1_size = tag >> 5
    if not keyframe:
        raise ValueError(
            "inter frame: single-frame decode has no reference buffers "
            "— decode the stream with media_vp8_inter.decode_vp8_stream"
        )
    if payload[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 start code")
    (wcode,) = struct.unpack("<H", payload[6:8])
    (hcode,) = struct.unpack("<H", payload[8:10])
    w, h = wcode & 0x3FFF, hcode & 0x3FFF
    if 10 + part1_size > len(payload):
        # a corrupt/oversized header size would silently shorten the
        # slice and the bool decoder would feed implicit zero bits —
        # garbage planes instead of an error on a bad crawl file
        raise ValueError("truncated VP8 frame")
    bd = BoolDecoder(payload[10: 10 + part1_size])

    bd.read_bool(128)  # color space
    bd.read_bool(128)  # clamping type
    # segmentation (RFC 6386 section 9.3; real encoders — libwebp
    # included — enable it by default): up to four segments, each with
    # its own quantizer and loop-filter level (absolute or
    # base-relative), and a per-MB segment id coded with a 3-prob tree
    # in the header partition
    seg_enabled = bd.read_bool(128)
    seg_update_map = False
    seg_abs = False
    seg_tree_probs = [255, 255, 255]
    seg_quant = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    if seg_enabled:
        seg_update_map = bd.read_bool(128)
        if bd.read_bool(128):  # update segment feature data
            seg_abs = bool(bd.read_bool(128))
            for i in range(4):
                if bd.read_bool(128):
                    seg_quant[i] = bd.read_signed(7)
            for i in range(4):
                if bd.read_bool(128):
                    seg_lf[i] = bd.read_signed(6)
        if seg_update_map:
            for i in range(3):
                if bd.read_bool(128):
                    seg_tree_probs[i] = bd.read_literal(8)
    filter_type = bd.read_bool(128)
    filter_level = bd.read_literal(6)
    sharpness = bd.read_literal(3)
    # loop-filter adjustments (RFC 6386 section 9.4): per-reference and
    # per-mode level deltas.  On a key frame only INTRA_FRAME (index 0)
    # and the B_PRED mode delta (index 0) can apply — libvpx's
    # lf_init_lut maps every other intra mode to the no-delta row.
    lf_delta_enabled = bd.read_bool(128)
    ref_lf_deltas = [0, 0, 0, 0]
    mode_lf_deltas = [0, 0, 0, 0]
    if lf_delta_enabled:
        if bd.read_bool(128):  # mode_ref_lf_delta_update
            for i in range(4):
                if bd.read_bool(128):
                    ref_lf_deltas[i] = bd.read_signed(6)
            for i in range(4):
                if bd.read_bool(128):
                    mode_lf_deltas[i] = bd.read_signed(6)
    n_parts = 1 << bd.read_literal(2)
    qi = bd.read_literal(7)
    deltas = []
    for _ in range(5):  # y1dc, y2dc, y2ac, uvdc, uvac
        deltas.append(bd.read_signed(4) if bd.read_bool(128) else 0)
    refresh_entropy = bd.read_bool(128)
    # per-segment dequant factors and loop-filter levels (segment 0 is
    # the whole frame when segmentation is off)
    if seg_enabled:
        seg_dqf = [
            dequant_factors(
                _clamp_q(seg_quant[s] if seg_abs else qi + seg_quant[s]),
                *deltas,
            )
            for s in range(4)
        ]
        seg_level = [
            min(max(seg_lf[s] if seg_abs else filter_level + seg_lf[s], 0), 63)
            for s in range(4)
        ]
    else:
        seg_dqf = [dequant_factors(qi, *deltas)] * 4
        seg_level = [filter_level] * 4

    probs = [
        [[list(COEF_PROBS[t][b][c]) for c in range(3)]
         for b in range(8)]
        for t in range(4)
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for pi in range(11):
                    if bd.read_bool(COEF_UPDATE_PROBS[t][b][c][pi]):
                        probs[t][b][c][pi] = bd.read_literal(8)

    mb_no_skip = bd.read_bool(128)
    prob_skip_false = bd.read_literal(8) if mb_no_skip else 0
    if state_out is not None:
        state_out["coef_probs"] = probs
        state_out["refresh_entropy"] = bool(refresh_entropy)

    mb_cols, mb_rows = (w + 15) // 16, (h + 15) // 16
    planes = {
        "y": np.zeros((mb_rows * 16, mb_cols * 16), dtype=np.int64),
        "u": np.zeros((mb_rows * 8, mb_cols * 8), dtype=np.int64),
        "v": np.zeros((mb_rows * 8, mb_cols * 8), dtype=np.int64),
    }
    # token partitions: rows decode from partition (mb_row % n_parts) —
    # VP8's row-parallel decode hook.  N-1 three-byte sizes precede the
    # partition bytes; the last partition runs to end of payload.
    rest = payload[10 + part1_size:]
    tds = []
    off = 3 * (n_parts - 1)
    if off > len(rest):
        raise ValueError("truncated VP8 frame")
    for p in range(n_parts):
        if p < n_parts - 1:
            sz = rest[3 * p] | rest[3 * p + 1] << 8 | rest[3 * p + 2] << 16
        else:
            sz = len(rest) - off
        # bitstream-supplied sizes are untrusted: an oversized value
        # (or a size table bigger than the payload, sz < 0 above)
        # must fail loudly, never decode from a short slice
        if sz < 0 or off + sz > len(rest):
            raise ValueError("truncated VP8 frame")
        tds.append(BoolDecoder(rest[off: off + sz]))
        off += sz

    above = {
        "y": np.zeros(mb_cols * 4, dtype=np.int8),
        "u": np.zeros(mb_cols * 2, dtype=np.int8),
        "v": np.zeros(mb_cols * 2, dtype=np.int8),
        "y2": np.zeros(mb_cols, dtype=np.int8),
    }
    # per-4x4-column sub-modes of the row above — the kf_bmode_prob
    # context (B_DC outside the frame)
    above_bm = np.zeros(mb_cols * 4, dtype=np.int8)
    interior = [[False] * mb_cols for _ in range(mb_rows)]
    lf_levels = [[filter_level] * mb_cols for _ in range(mb_rows)]

    for mb_r in range(mb_rows):
        td = tds[mb_r % n_parts]
        left = {
            "y": np.zeros(4, dtype=np.int8),
            "u": np.zeros(2, dtype=np.int8),
            "v": np.zeros(2, dtype=np.int8),
            "y2": np.zeros(1, dtype=np.int8),
        }
        left_bm = np.zeros(4, dtype=np.int8)
        for mb_c in range(mb_cols):
            seg_id = 0
            if seg_enabled and seg_update_map:
                # mb_segment_tree: 3-prob binary tree over 4 segments
                if bd.read_bool(seg_tree_probs[0]):
                    seg_id = 2 + bd.read_bool(seg_tree_probs[2])
                else:
                    seg_id = bd.read_bool(seg_tree_probs[1])
            dqf = seg_dqf[seg_id]
            skip = bd.read_bool(prob_skip_false) if mb_no_skip else 0
            ymode = bd.read_tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            # per-MB filter level: segment base, then the RFC 6386 §9.4
            # adjustments (key frame: INTRA_FRAME ref delta always; the
            # mode delta row 0 applies to B_PRED macroblocks only —
            # libvpx vp8_loop_filter_frame_init), clamped at the end
            lvl = seg_level[seg_id]
            if lf_delta_enabled:
                lvl += ref_lf_deltas[0]
                if ymode == B_PRED:
                    lvl += mode_lf_deltas[0]
                lvl = min(max(lvl, 0), 63)
            lf_levels[mb_r][mb_c] = lvl
            bmodes = None
            if ymode == B_PRED:
                bmodes = []
                for bi in range(16):
                    br, bc2 = divmod(bi, 4)
                    a = (
                        int(above_bm[mb_c * 4 + bc2])
                        if br == 0
                        else bmodes[bi - 4]
                    )
                    ll = int(left_bm[br]) if bc2 == 0 else bmodes[bi - 1]
                    bmodes.append(
                        bd.read_tree(BMODE_TREE, KF_BMODE_PROBS[a][ll])
                    )
                above_bm[mb_c * 4: mb_c * 4 + 4] = bmodes[12:16]
                left_bm[:] = bmodes[3::4]
            else:
                imp = IMPLIED_BMODE[ymode]
                above_bm[mb_c * 4: mb_c * 4 + 4] = imp
                left_bm[:] = imp
            uvmode = bd.read_tree(UV_MODE_TREE, KF_UV_PROBS)
            has_y2 = ymode != B_PRED

            qcoef = {
                "y2": [0] * 16 if has_y2 else None,
                "y": [[0] * 16 for _ in range(16)],
                "u": [[0] * 16 for _ in range(4)],
                "v": [[0] * 16 for _ in range(4)],
            }
            mb_nz = 0
            if skip:
                left["y"][:] = 0
                left["u"][:] = 0
                left["v"][:] = 0
                above["y"][mb_c * 4: mb_c * 4 + 4] = 0
                above["u"][mb_c * 2: mb_c * 2 + 2] = 0
                above["v"][mb_c * 2: mb_c * 2 + 2] = 0
                if has_y2:
                    left["y2"][0] = 0
                    above["y2"][mb_c] = 0
            else:
                if has_y2:
                    ctx = int(left["y2"][0]) + int(above["y2"][mb_c])
                    co, nz = decode_coeffs(td, 1, 0, ctx, probs)
                    qcoef["y2"] = co
                    left["y2"][0] = nz
                    above["y2"][mb_c] = nz
                    mb_nz |= nz
                ytype = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for b in range(16):
                    br, bc = b // 4, b % 4
                    ctx = int(left["y"][br]) + int(
                        above["y"][mb_c * 4 + bc]
                    )
                    co, nz = decode_coeffs(td, ytype, first, ctx, probs)
                    qcoef["y"][b] = co
                    left["y"][br] = nz
                    above["y"][mb_c * 4 + bc] = nz
                    mb_nz |= nz
                for key in ("u", "v"):
                    for b in range(4):
                        br, bc = b // 2, b % 2
                        ctx = int(left[key][br]) + int(
                            above[key][mb_c * 2 + bc]
                        )
                        co, nz = decode_coeffs(td, 2, 0, ctx, probs)
                        qcoef[key][b] = co
                        left[key][br] = nz
                        above[key][mb_c * 2 + bc] = nz
                        mb_nz |= nz
            interior[mb_r][mb_c] = bool(mb_nz) or ymode == B_PRED

            reconstruct_mb(
                planes, mb_r, mb_c, ymode, uvmode, bmodes, qcoef, dqf
            )

    # libvpx gates the whole pass on the FRAME-level filter_level (a
    # zero header level skips filtering even when segment/delta math
    # would yield positive per-MB levels); per-MB zero levels are then
    # skipped inside loop_filter_frame
    if filter_level > 0 and any(
        any(lv > 0 for lv in row) for row in lf_levels
    ):
        lf = loop_filter_frame if filter_type == 0 else (
            loop_filter_frame_simple
        )
        lf(planes, mb_rows, mb_cols, lf_levels, sharpness, interior)
    return planes, w, h


def decode_vp8(payload: bytes) -> np.ndarray:
    """Decode a VP8 key frame (RFC 6386) to an (h, w, 3) float32 RGB
    array.  4:2:0 chroma is upsampled by replication and converted
    with the same JFIF matrix the JPEG codec uses (an out-of-spec
    display choice, consistent across this module's codecs)."""
    planes, w, h = decode_vp8_planes(payload)
    yp = planes["y"][:h, :w].astype(np.float64)
    up = np.repeat(np.repeat(planes["u"], 2, axis=0), 2, axis=1)[:h, :w]
    vp = np.repeat(np.repeat(planes["v"], 2, axis=0), 2, axis=1)[:h, :w]
    cb, cr = up.astype(np.float64) - 128, vp.astype(np.float64) - 128
    rgb = np.stack(
        [
            yp + 1.402 * cr,
            yp - 0.344136 * cb - 0.714136 * cr,
            yp + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(rgb, 0, 255).astype(np.float32)
