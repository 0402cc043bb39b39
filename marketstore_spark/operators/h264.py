"""H.264/AVC baseline codec (IDR intra + P-slice inter) — pure
stdlib + numpy.

Real crawled .mp4s overwhelmingly carry 'avc1' essence; the repo's
honest fence (mp4.py) probes them but refuses to decode.  This module
removes that fence for the CAVLC baseline core of the format:

- INTRA: baseline-profile IDR frames — CAVLC entropy coding,
  Intra_4x4 (all 9 prediction modes), Intra_16x16 (all 4, with the
  4x4 Hadamard DC path), 8x8 chroma prediction (all 4, with the 2x2
  Hadamard DC path), the 4x4 integer transform with the normative
  dequant/rescale tables, 4:2:0, 8-bit, frame_mbs_only, I_PCM, and
  frame cropping.
- INTER: P slices — quarter-pel motion compensation (the 6-tap
  half-pel filter with the unrounded-intermediate centre position,
  eighth-pel bilinear chroma), median motion-vector prediction with
  the 16x8/8x16 directional rules, all partition shapes down to 4x4
  sub-MBs, P_Skip with its zero-MV conditions, intra MBs inside P
  slices, te(v) multi-reference indices, and sliding-window reference
  management with frame_num continuity checks.
- PICTURE STRUCTURE: multi-slice pictures (first_mb_in_slice > 0,
  raster slice order) with the spec's slice-boundary availability —
  intra prediction, nC derivation, and MVP treat cross-slice
  neighbours as unavailable (6.4.8), and the mb_qp_delta chain and
  skip runs restart per slice; rate-control syntax (non-zero
  slice_qp_delta, chained per-MB mb_qp_delta with the mod-52 wrap).

B slices, CABAC, 8x8 transforms, weighted prediction, reference-list
modification, adaptive marking, field coding, arbitrary slice order,
slice groups (FMO), and deblocking-enabled streams raise
NotImplementedError or ValueError — the same decode-fence contract as
the rest of the codec family (callers record decoded_ok=0 or
probe-only): decode is either right or refused, never silently wrong.

Validation follows the repo's encoder-twin strategy (the
progressive-JPEG / G.711 precedent): :func:`encode_h264` emits
spec-shaped Annex-B streams — all-intra by default, IDR+P GOPs with
``keyint`` (block-matching integer search refined to quarter-pel
through the decoder's own interpolation) — and returns (optionally)
its own reconstruction; tests pin ``decode(encode(x)) == recon``
BITWISE at multiple QPs/sizes/mode mixes and partition shapes, plus
near-losslessness at QP 0 and two EXTERNAL pins that do not share
code with the codec: a literal-loop reimplementation of the
interpolation filters, and exact-prediction checks on integer-pel
translated scenes.  The deblocking loop filter is disabled in the
slice header (disable_deblocking_filter_idc=1) so the reconstruction
path is closed without implementing the loop filter; that is a
spec-legal encoder choice, not a shortcut in the decoder.

Syntax, prediction, transform, and entropy coding follow ITU-T
Rec. H.264 (public): 7.3/7.4 (NAL + RBSP syntax), 8.3 (intra
prediction), 8.4 (inter prediction), 8.5 (transform + scaling),
9.1/9.2 (Exp-Golomb + CAVLC).  The VLC tables are transcribed from
Tables 9-4 / 9-5 / 9-7 / 9-9 / 9-10; tests assert each table is
prefix-free and bijective, and the encoder twin consumes the same
tables through the independent decode path.

Reference parity: marketstore has no video path at all; this extends
the multimodal family (SURVEY §2 rows 41/41c/62-66).  Everything here
is serial bit I/O + per-macroblock numpy — correctness-first, meant
for thumbnail/clip-scale payloads inside an Arrow batch; a hot 100 TB
video pipeline swaps in a compiled decoder behind the same
``decode_video_frames`` seam.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------
# bit I/O + Exp-Golomb (spec 9.1)
# ---------------------------------------------------------------------


class BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        if val < 0 or (n < 32 and val >= 1 << n):
            raise ValueError(f"u({n}) cannot hold {val}")
        for i in range(n - 1, -1, -1):
            self._bits.append((val >> i) & 1)

    def ue(self, val: int) -> None:
        if val < 0:
            raise ValueError("ue(v) is unsigned")
        code = val + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, val: int) -> None:
        self.ue(2 * val - 1 if val > 0 else -2 * val)

    def bits(self, s: str) -> None:
        for ch in s:
            self._bits.append(1 if ch == "1" else 0)

    def rbsp_trailing(self) -> None:
        self._bits.append(1)
        while len(self._bits) % 8:
            self._bits.append(0)

    def tobytes(self) -> bytes:
        if len(self._bits) % 8:
            raise ValueError("bitstream not byte-aligned")
        out = bytearray()
        for i in range(0, len(self._bits), 8):
            b = 0
            for bit in self._bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # bit position

    def u(self, n: int) -> int:
        if self._pos + n > len(self._data) * 8:
            raise ValueError("bitstream truncated")
        val = 0
        for _ in range(n):
            byte = self._data[self._pos >> 3]
            val = (val << 1) | ((byte >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return val

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("Exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def byte_align(self) -> None:
        self._pos = (self._pos + 7) & ~7

    def more_rbsp_data(self) -> bool:
        # True unless only the rbsp_stop_one_bit (+ zero padding)
        # remains; the last set bit is a property of the buffer, so
        # scan for it once (per-MB callers would otherwise be O(n^2))
        if not hasattr(self, "_last_set_bit"):
            last = len(self._data) * 8 - 1
            while last >= 0:
                if (self._data[last >> 3] >> (7 - (last & 7))) & 1:
                    break
                last -= 1
            self._last_set_bit = last
        return self._pos < self._last_set_bit


def rbsp_to_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation-prevention 0x03 bytes (spec 7.4.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def ebsp_to_rbsp(ebsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2 and b == 3 and i + 1 < len(ebsp) and ebsp[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ---------------------------------------------------------------------
# CAVLC tables (ITU-T H.264 Tables 9-5, 9-7, 9-9, 9-10) — transcribed;
# tests assert prefix-freeness/bijection and the encoder twin consumes
# them through the independent decode path.
# ---------------------------------------------------------------------

# Table 9-5: (trailing_ones, total_coeff) -> codeword, one dict per nC
# class: 0 <= nC < 2, 2 <= nC < 4, 4 <= nC < 8, and nC == -1 (chroma
# DC, 4:2:0).  nC >= 8 is the fixed 6-bit code handled in code.
_COEFF_TOKEN_NC0 = {
    (0, 0): "1",
    (0, 1): "000101", (1, 1): "01",
    (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
    (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101", (3, 3): "00011",
    (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101", (3, 4): "000011",
    (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101", (3, 5): "0000100",
    (0, 6): "0000000001111", (1, 6): "00000000110", (2, 6): "0000000101", (3, 6): "00000100",
    (0, 7): "0000000001011", (1, 7): "0000000001110", (2, 7): "00000000101", (3, 7): "000000100",
    (0, 8): "0000000001000", (1, 8): "0000000001010", (2, 8): "0000000001101", (3, 8): "0000000100",
    (0, 9): "00000000001111", (1, 9): "00000000001110", (2, 9): "0000000001001", (3, 9): "00000000100",
    (0, 10): "00000000001011", (1, 10): "00000000001010", (2, 10): "00000000001101", (3, 10): "0000000001100",
    (0, 11): "000000000001111", (1, 11): "000000000001110", (2, 11): "00000000001001", (3, 11): "00000000001100",
    (0, 12): "000000000001011", (1, 12): "000000000001010", (2, 12): "000000000001101", (3, 12): "00000000001000",
    (0, 13): "0000000000001111", (1, 13): "000000000000001", (2, 13): "000000000001001", (3, 13): "000000000001100",
    (0, 14): "0000000000001011", (1, 14): "0000000000001110", (2, 14): "0000000000001101", (3, 14): "000000000001000",
    (0, 15): "0000000000000111", (1, 15): "0000000000001010", (2, 15): "0000000000001001", (3, 15): "0000000000001100",
    (0, 16): "0000000000000100", (1, 16): "0000000000000110", (2, 16): "0000000000000101", (3, 16): "0000000000001000",
}

_COEFF_TOKEN_NC2 = {
    (0, 0): "11",
    (0, 1): "001011", (1, 1): "10",
    (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
    (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001", (3, 3): "0101",
    (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101", (3, 4): "0100",
    (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101", (3, 5): "00110",
    (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101", (3, 6): "001000",
    (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101", (3, 7): "000100",
    (0, 8): "00000001011", (1, 8): "00000001110", (2, 8): "00000001101", (3, 8): "0000100",
    (0, 9): "000000001111", (1, 9): "00000001010", (2, 9): "00000001001", (3, 9): "000000100",
    (0, 10): "000000001011", (1, 10): "000000001110", (2, 10): "000000001101", (3, 10): "00000001100",
    (0, 11): "000000001000", (1, 11): "000000001010", (2, 11): "000000001001", (3, 11): "00000001000",
    (0, 12): "0000000001111", (1, 12): "0000000001110", (2, 12): "0000000001101", (3, 12): "000000001100",
    (0, 13): "0000000001011", (1, 13): "0000000001010", (2, 13): "0000000001001", (3, 13): "0000000001100",
    (0, 14): "0000000000111", (1, 14): "00000000001011", (2, 14): "0000000000110", (3, 14): "0000000001000",
    (0, 15): "00000000001001", (1, 15): "00000000001000", (2, 15): "00000000001010", (3, 15): "0000000000001",
    (0, 16): "00000000000111", (1, 16): "00000000000110", (2, 16): "00000000000101", (3, 16): "00000000000100",
}

_COEFF_TOKEN_NC4 = {
    (0, 0): "1111",
    (0, 1): "001111", (1, 1): "1110",
    (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
    (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
    (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
    (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
    (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101", (3, 6): "1001",
    (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
    (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101", (3, 8): "01101",
    (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010", (3, 9): "001100",
    (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101", (3, 10): "0001100",
    (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001", (3, 11): "00001100",
    (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101", (3, 12): "00001000",
    (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001", (3, 13): "000001100",
    (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011", (3, 14): "0000001010",
    (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111", (3, 15): "0000000110",
    (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011", (3, 16): "0000000010",
}

_COEFF_TOKEN_CHROMA_DC = {
    (0, 0): "01",
    (0, 1): "000111", (1, 1): "1",
    (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
    (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010", (3, 3): "000101",
    (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010", (3, 4): "0000000",
}

# Table 9-7 / 9-8: total_zeros for 4x4 blocks, indexed by TotalCoeff
# (1..15); entry i is the codeword for total_zeros == i.
_TOTAL_ZEROS_4x4 = {
    1: ["1", "011", "010", "0011", "0010", "00011", "00010", "000011",
        "000010", "0000011", "0000010", "00000011", "00000010",
        "000000011", "000000010", "000000001"],
    2: ["111", "110", "101", "100", "011", "0101", "0100", "0011",
        "0010", "00011", "00010", "000011", "000010", "000001", "000000"],
    3: ["0101", "111", "110", "101", "0100", "0011", "100", "011",
        "0010", "00011", "00010", "000001", "00001", "000000"],
    4: ["00011", "111", "0101", "0100", "110", "101", "100", "0011",
        "011", "0010", "00010", "00001", "00000"],
    5: ["0101", "0100", "0011", "111", "110", "101", "100", "011",
        "0010", "00001", "0001", "00000"],
    6: ["000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"],
    7: ["000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"],
    8: ["000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"],
    9: ["000001", "000000", "0001", "11", "10", "001", "01", "00001"],
    10: ["00001", "00000", "001", "11", "10", "01", "0001"],
    11: ["0000", "0001", "001", "010", "1", "011"],
    12: ["0000", "0001", "01", "1", "001"],
    13: ["000", "001", "1", "01"],
    14: ["00", "01", "1"],
    15: ["0", "1"],
}

# Table 9-9 (a): total_zeros for chroma DC (maxNumCoeff 4, 4:2:0)
_TOTAL_ZEROS_CHROMA_DC = {
    1: ["1", "01", "001", "000"],
    2: ["1", "01", "00"],
    3: ["1", "0"],
}

# Table 9-10: run_before, indexed by min(zerosLeft, 7); entry i is the
# codeword for run_before == i.
_RUN_BEFORE = {
    1: ["1", "0"],
    2: ["1", "01", "00"],
    3: ["11", "10", "01", "00"],
    4: ["11", "10", "01", "001", "000"],
    5: ["11", "10", "011", "010", "001", "000"],
    6: ["11", "000", "001", "011", "010", "101", "100"],
    7: ["111", "110", "101", "100", "011", "010", "001", "0001",
        "00001", "000001", "0000001", "00000001", "000000001",
        "0000000001", "00000000001"],
}


def _invert(table: dict | list) -> dict:
    """codeword string -> symbol, for prefix decode."""
    if isinstance(table, dict):
        return {code: sym for sym, code in table.items()}
    return {code: i for i, code in enumerate(table)}


_COEFF_TOKEN_DEC = {
    0: _invert(_COEFF_TOKEN_NC0),
    2: _invert(_COEFF_TOKEN_NC2),
    4: _invert(_COEFF_TOKEN_NC4),
    -1: _invert(_COEFF_TOKEN_CHROMA_DC),
}
_COEFF_TOKEN_ENC = {
    0: _COEFF_TOKEN_NC0,
    2: _COEFF_TOKEN_NC2,
    4: _COEFF_TOKEN_NC4,
    -1: _COEFF_TOKEN_CHROMA_DC,
}
_TOTAL_ZEROS_DEC = {tc: _invert(t) for tc, t in _TOTAL_ZEROS_4x4.items()}
_TOTAL_ZEROS_CDC_DEC = {tc: _invert(t) for tc, t in _TOTAL_ZEROS_CHROMA_DC.items()}
_RUN_BEFORE_DEC = {z: _invert(t) for z, t in _RUN_BEFORE.items()}


def _nc_class(nc: int) -> int:
    if nc == -1:
        return -1
    if nc < 2:
        return 0
    if nc < 4:
        return 2
    if nc < 8:
        return 4
    return 8


def _read_vlc(r: BitReader, dec: dict, what: str):
    code = ""
    for _ in range(20):
        code += "1" if r.u(1) else "0"
        if code in dec:
            return dec[code]
    raise ValueError(f"invalid {what} VLC code")


# ---------------------------------------------------------------------
# CAVLC residual block (spec 9.2) — coefficients in scan order
# ---------------------------------------------------------------------


def cavlc_decode_block(r: BitReader, nc: int, max_coeff: int) -> list[int]:
    """Decode one residual block; returns ``max_coeff`` coefficient
    levels in (zigzag) scan order."""
    cls = _nc_class(nc)
    if cls == 8:
        code = r.u(6)
        if code == 3:
            total, t1s = 0, 0
        else:
            total, t1s = (code >> 2) + 1, code & 3
    else:
        t1s, total = _read_vlc(r, _COEFF_TOKEN_DEC[cls], "coeff_token")
    if total == 0:
        return [0] * max_coeff
    if total > max_coeff:
        raise ValueError("coeff_token exceeds block size")
    levels = []
    for _ in range(t1s):
        levels.append(-1 if r.u(1) else 1)
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i in range(total - t1s):
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 31:
                raise ValueError("level_prefix too long")
        size = suffix_len
        if prefix == 14 and suffix_len == 0:
            size = 4
        elif prefix >= 15:
            size = prefix - 3
        suffix = r.u(size) if size else 0
        code = (min(15, prefix) << suffix_len) + suffix
        if prefix >= 15 and suffix_len == 0:
            code += 15
        if prefix >= 16:
            code += (1 << (prefix - 3)) - 4096
        if i == 0 and t1s < 3:
            code += 2
        level = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeff:
        if nc == -1:
            tz = _read_vlc(
                r, _TOTAL_ZEROS_CDC_DEC[total], "total_zeros(chroma DC)"
            )
        else:
            tz = _read_vlc(r, _TOTAL_ZEROS_DEC[total], "total_zeros")
    else:
        tz = 0
    runs = []
    zeros_left = tz
    for i in range(total - 1):
        if zeros_left > 0:
            run = _read_vlc(
                r, _RUN_BEFORE_DEC[min(zeros_left, 7)], "run_before"
            )
        else:
            run = 0
        if run > zeros_left:
            raise ValueError("run_before exceeds zeros left")
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)
    out = [0] * max_coeff
    pos = tz + total - 1  # scan index of the highest-frequency coeff
    for lev, run in zip(levels, runs):
        if pos >= max_coeff:
            raise ValueError("coefficient position out of range")
        out[pos] = lev
        pos -= 1 + run
    return out


def cavlc_encode_block(w: BitWriter, coeffs: list[int], nc: int) -> int:
    """Encode one residual block (scan-order coefficients); returns
    TotalCoeff for the caller's nC bookkeeping."""
    max_coeff = len(coeffs)
    nz = [(i, c) for i, c in enumerate(coeffs) if c]
    total = len(nz)
    # trailing ones: up to 3 consecutive |1| at the high-frequency end
    t1s = 0
    for _, c in reversed(nz):
        if abs(c) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    cls = _nc_class(nc)
    if cls == 8:
        w.u(3 if total == 0 else ((total - 1) << 2) | t1s, 6)
    else:
        key = (t1s, total)
        table = _COEFF_TOKEN_ENC[cls]
        if key not in table:
            raise ValueError(f"no coeff_token for {key}")
        w.bits(table[key])
    if total == 0:
        return 0
    rev = list(reversed(nz))  # highest frequency first
    for _, c in rev[:t1s]:
        w.u(1 if c < 0 else 0, 1)
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i, (_, c) in enumerate(rev[t1s:]):
        code = 2 * (c - 1) if c > 0 else -2 * c - 1
        if i == 0 and t1s < 3:
            code -= 2
        if suffix_len == 0 and code < 14:
            w.u(0, code)
            w.u(1, 1)
        elif suffix_len == 0 and code < 30:
            w.u(0, 14)
            w.u(1, 1)
            w.u(code - 14, 4)
        elif suffix_len == 0 and code < 30 + 4096:
            w.u(0, 15)
            w.u(1, 1)
            w.u(code - 30, 12)
        elif suffix_len > 0 and (code >> suffix_len) < 15:
            w.u(0, code >> suffix_len)
            w.u(1, 1)
            w.u(code & ((1 << suffix_len) - 1), suffix_len)
        elif suffix_len > 0 and code - (15 << suffix_len) < 4096:
            w.u(0, 15)
            w.u(1, 1)
            w.u(code - (15 << suffix_len), 12)
        else:
            # level_prefix >= 16 escape: levelSuffixSize = prefix - 3,
            # levelCode -= (1 << (prefix-3)) - 4096 (spec 9.2.2.1)
            prefix = 16
            while prefix <= 28:
                base = (15 << suffix_len) + (15 if suffix_len == 0 else 0)
                base += (1 << (prefix - 3)) - 4096
                if 0 <= code - base < (1 << (prefix - 3)):
                    break
                prefix += 1
            else:
                raise ValueError("level magnitude beyond H.264 range")
            w.u(0, prefix)
            w.u(1, 1)
            w.u(code - base, prefix - 3)
        # suffix-length adaptation mirrors the decoder's, on the TRUE
        # level magnitude (the first-level +2 bias is a code offset,
        # not a level change)
        if suffix_len == 0:
            suffix_len = 1
        if abs(c) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    tz = nz[-1][0] + 1 - total
    if total < max_coeff:
        if nc == -1:
            w.bits(_TOTAL_ZEROS_CHROMA_DC[total][tz])
        else:
            w.bits(_TOTAL_ZEROS_4x4[total][tz])
    zeros_left = tz
    for j in range(total - 1, 0, -1):
        run = nz[j][0] - nz[j - 1][0] - 1
        if zeros_left > 0:
            w.bits(_RUN_BEFORE[min(zeros_left, 7)][run])
        elif run:
            raise ValueError("internal: run with no zeros left")
        zeros_left -= run
    return total


# ---------------------------------------------------------------------
# transform + quantization (spec 8.5; encoder side is the JM-informative
# forward pair of the normative inverse)
# ---------------------------------------------------------------------

ZIGZAG_4x4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# position class: 0 for (i,j) both even-corner {(0,0),(0,2),(2,0),(2,2)},
# 1 for both odd, 2 otherwise
_POS_CLASS = np.array(
    [[0, 2, 0, 2], [2, 1, 2, 1], [0, 2, 0, 2], [2, 1, 2, 1]], np.int64
)
_MF = np.array(  # forward quant multipliers, [qp%6][class]
    [
        [13107, 5243, 8066],
        [11916, 4660, 7490],
        [10082, 4194, 6554],
        [9362, 3647, 5825],
        [8192, 3355, 5243],
        [7282, 2893, 4559],
    ],
    np.int64,
)
_V = np.array(  # dequant scale, [qp%6][class]
    [
        [10, 16, 13],
        [11, 18, 14],
        [13, 20, 16],
        [14, 23, 18],
        [16, 25, 20],
        [18, 29, 23],
    ],
    np.int64,
)

_CF = np.array([[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]], np.int64)
_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]], np.int64)

# Table 8-15: chroma QP from luma QP (chroma_qp_index_offset 0)
_QPC = list(range(30)) + [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36,
                          37, 37, 37, 38, 38, 38, 39, 39, 39, 39]


def _fwd4x4(x: np.ndarray) -> np.ndarray:
    return _CF @ x.astype(np.int64) @ _CF.T


def _quant4x4(w: np.ndarray, qp: int, intra_dc_skip: bool = False) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _MF[qp % 6][_POS_CLASS]
    lev = (np.abs(w) * mf + f) >> qbits
    out = np.sign(w) * lev
    if intra_dc_skip:
        out[0, 0] = 0
    return out


def _dequant4x4(c: np.ndarray, qp: int) -> np.ndarray:
    return (c.astype(np.int64) * _V[qp % 6][_POS_CLASS]) << (qp // 6)


def _inv4x4(d: np.ndarray) -> np.ndarray:
    """Normative inverse transform (8.5.12.2), output BEFORE adding the
    prediction; includes the final (x+32)>>6."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal
    for i in range(4):
        a, b, c2, dd = d[i]
        e0, e1 = a + c2, a - c2
        e2, e3 = (b >> 1) - dd, b + (dd >> 1)
        e[i] = [e0 + e3, e1 + e2, e1 - e2, e0 - e3]
    f = np.empty_like(e)
    for j in range(4):
        a, b, c2, dd = e[:, j]
        e0, e1 = a + c2, a - c2
        e2, e3 = (b >> 1) - dd, b + (dd >> 1)
        f[:, j] = [e0 + e3, e1 + e2, e1 - e2, e0 - e3]
    return (f + 32) >> 6


def _luma_dc_quant(dcs: np.ndarray, qp: int) -> np.ndarray:
    wd = (_H4 @ dcs.astype(np.int64) @ _H4) >> 1
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _MF[qp % 6][0]
    return np.sign(wd) * ((np.abs(wd) * mf + 2 * f) >> (qbits + 1))


def _luma_dc_dequant(c: np.ndarray, qp: int) -> np.ndarray:
    f = _H4 @ c.astype(np.int64) @ _H4
    v = _V[qp % 6][0]
    if qp >= 36:
        return (f * v) << (qp // 6 - 6)
    return (f * v + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def _chroma_dc_quant(dcs: np.ndarray, qp: int) -> np.ndarray:
    h2 = np.array([[1, 1], [1, -1]], np.int64)
    wd = h2 @ dcs.astype(np.int64) @ h2
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _MF[qp % 6][0]
    return np.sign(wd) * ((np.abs(wd) * mf + 2 * f) >> (qbits + 1))


def _chroma_dc_dequant(c: np.ndarray, qp: int) -> np.ndarray:
    h2 = np.array([[1, 1], [1, -1]], np.int64)
    f = h2 @ c.astype(np.int64) @ h2
    return ((f * _V[qp % 6][0]) << (qp // 6)) >> 5


# ---------------------------------------------------------------------
# intra prediction (spec 8.3)
# ---------------------------------------------------------------------


def _pred4x4(mode: int, top: np.ndarray | None, left: np.ndarray | None,
             topleft: int | None, topright: np.ndarray | None) -> np.ndarray:
    """9 Intra_4x4 modes.  ``top``/``left`` are the 4 neighbor samples
    (int arrays) or None; ``topright`` the 4 above-right samples with
    the p[3] substitution already applied by the caller when needed."""
    p = np.zeros((4, 4), np.int64)
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("Intra_4x4 Vertical without top samples")
        p[:] = top
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("Intra_4x4 Horizontal without left samples")
        p[:] = left[:, None]
    elif mode == 2:  # DC
        if top is not None and left is not None:
            p[:] = (int(top.sum()) + int(left.sum()) + 4) >> 3
        elif top is not None:
            p[:] = (int(top.sum()) + 2) >> 2
        elif left is not None:
            p[:] = (int(left.sum()) + 2) >> 2
        else:
            p[:] = 128
    elif mode == 3:  # Diagonal Down-Left
        if top is None or topright is None:
            raise ValueError("DDL without top samples")
        t = np.concatenate([top, topright])
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    p[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    p[y, x] = (t[x + y] + 2 * t[x + y + 1] + t[x + y + 2] + 2) >> 2
    elif mode in (4, 5, 6):  # DDR / VR / HD share the full-neighbor set
        if top is None or left is None or topleft is None:
            raise ValueError("DDR/VR/HD without full neighbors")

        def t(i: int) -> int:  # p[i, -1], i == -1 -> corner
            return int(topleft) if i < 0 else int(top[i])

        def le(j: int) -> int:  # p[-1, j], j == -1 -> corner
            return int(topleft) if j < 0 else int(left[j])

        for y in range(4):
            for x in range(4):
                if mode == 4:  # Diagonal Down-Right (8.3.1.2.4)
                    if x > y:
                        p[y, x] = (t(x - y - 2) + 2 * t(x - y - 1) + t(x - y) + 2) >> 2
                    elif x < y:
                        p[y, x] = (le(y - x - 2) + 2 * le(y - x - 1) + le(y - x) + 2) >> 2
                    else:
                        p[y, x] = (t(0) + 2 * t(-1) + le(0) + 2) >> 2
                elif mode == 5:  # Vertical-Right (8.3.1.2.5)
                    z = 2 * x - y
                    if z >= 0 and z % 2 == 0:
                        p[y, x] = (t(x - (y >> 1) - 1) + t(x - (y >> 1)) + 1) >> 1
                    elif z >= 0:
                        p[y, x] = (t(x - (y >> 1) - 2) + 2 * t(x - (y >> 1) - 1)
                                   + t(x - (y >> 1)) + 2) >> 2
                    elif z == -1:
                        p[y, x] = (le(0) + 2 * t(-1) + t(0) + 2) >> 2
                    else:  # z == -2 or -3
                        p[y, x] = (le(y - 2 * x - 1) + 2 * le(y - 2 * x - 2)
                                   + le(y - 2 * x - 3) + 2) >> 2
                else:  # Horizontal-Down (8.3.1.2.6)
                    z = 2 * y - x
                    if z >= 0 and z % 2 == 0:
                        p[y, x] = (le(y - (x >> 1) - 1) + le(y - (x >> 1)) + 1) >> 1
                    elif z >= 0:
                        p[y, x] = (le(y - (x >> 1) - 2) + 2 * le(y - (x >> 1) - 1)
                                   + le(y - (x >> 1)) + 2) >> 2
                    elif z == -1:
                        p[y, x] = (t(0) + 2 * t(-1) + le(0) + 2) >> 2
                    else:  # z == -2 or -3
                        p[y, x] = (t(x - 2 * y - 1) + 2 * t(x - 2 * y - 2)
                                   + t(x - 2 * y - 3) + 2) >> 2
    elif mode == 7:  # Vertical-Left
        if top is None or topright is None:
            raise ValueError("VL without top samples")
        t = np.concatenate([top, topright])
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 8:  # Horizontal-Up
        if left is None:
            raise ValueError("HU without left samples")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z < 5 and z % 2 == 0:
                    p[y, x] = (left[y + (x >> 1)] + left[y + (x >> 1) + 1] + 1) >> 1
                elif z < 5:
                    p[y, x] = (left[y + (x >> 1)] + 2 * left[y + (x >> 1) + 1]
                               + left[y + (x >> 1) + 2] + 2) >> 2
                elif z == 5:
                    p[y, x] = (left[2] + 3 * left[3] + 2) >> 2
                else:
                    p[y, x] = left[3]
    else:
        raise ValueError(f"invalid Intra_4x4 mode {mode}")
    return p


def _pred16x16(mode: int, top: np.ndarray | None, left: np.ndarray | None,
               topleft: int | None) -> np.ndarray:
    p = np.zeros((16, 16), np.int64)
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("Intra_16x16 Vertical without top")
        p[:] = top
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("Intra_16x16 Horizontal without left")
        p[:] = left[:, None]
    elif mode == 2:  # DC
        if top is not None and left is not None:
            p[:] = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top is not None:
            p[:] = (int(top.sum()) + 8) >> 4
        elif left is not None:
            p[:] = (int(left.sum()) + 8) >> 4
        else:
            p[:] = 128
    elif mode == 3:  # Plane
        if top is None or left is None or topleft is None:
            raise ValueError("Intra_16x16 Plane without full neighbors")
        tl = int(topleft)
        hsum = sum((x + 1) * (int(top[8 + x]) - (int(top[6 - x]) if 6 - x >= 0 else tl))
                   for x in range(8))
        vsum = sum((y + 1) * (int(left[8 + y]) - (int(left[6 - y]) if 6 - y >= 0 else tl))
                   for y in range(8))
        a = 16 * (int(left[15]) + int(top[15]))
        b = (5 * hsum + 32) >> 6
        c2 = (5 * vsum + 32) >> 6
        yy, xx = np.mgrid[0:16, 0:16]
        p = np.clip((a + b * (xx - 7) + c2 * (yy - 7) + 16) >> 5, 0, 255)
    else:
        raise ValueError(f"invalid Intra_16x16 mode {mode}")
    return p


def _pred_chroma(mode: int, top: np.ndarray | None, left: np.ndarray | None,
                 topleft: int | None) -> np.ndarray:
    p = np.zeros((8, 8), np.int64)
    if mode == 0:  # DC, per 4x4 quadrant (8.3.4.1)
        for by in (0, 4):
            for bx in (0, 4):
                t = top[bx : bx + 4] if top is not None else None
                le = left[by : by + 4] if left is not None else None
                if bx == by:  # corners prefer both
                    if t is not None and le is not None:
                        v = (int(t.sum()) + int(le.sum()) + 4) >> 3
                    elif t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    elif le is not None:
                        v = (int(le.sum()) + 2) >> 2
                    else:
                        v = 128
                elif bx > by:  # top-right quadrant prefers top
                    if t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    elif le is not None:
                        v = (int(le.sum()) + 2) >> 2
                    else:
                        v = 128
                else:  # bottom-left quadrant prefers left
                    if le is not None:
                        v = (int(le.sum()) + 2) >> 2
                    elif t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    else:
                        v = 128
                p[by : by + 4, bx : bx + 4] = v
    elif mode == 1:  # Horizontal
        if left is None:
            raise ValueError("chroma Horizontal without left")
        p[:] = left[:, None]
    elif mode == 2:  # Vertical
        if top is None:
            raise ValueError("chroma Vertical without top")
        p[:] = top
    elif mode == 3:  # Plane
        if top is None or left is None or topleft is None:
            raise ValueError("chroma Plane without full neighbors")
        tl = int(topleft)
        hsum = sum((x + 1) * (int(top[4 + x]) - (int(top[2 - x]) if 2 - x >= 0 else tl))
                   for x in range(4))
        vsum = sum((y + 1) * (int(left[4 + y]) - (int(left[2 - y]) if 2 - y >= 0 else tl))
                   for y in range(4))
        a = 16 * (int(left[7]) + int(top[7]))
        b = (17 * hsum + 16) >> 5
        c2 = (17 * vsum + 16) >> 5
        yy, xx = np.mgrid[0:8, 0:8]
        p = np.clip((a + b * (xx - 3) + c2 * (yy - 3) + 16) >> 5, 0, 255)
    else:
        raise ValueError(f"invalid chroma pred mode {mode}")
    return p


# ---------------------------------------------------------------------
# coded_block_pattern mapping (Table 9-4, intra column)
# ---------------------------------------------------------------------

_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(_CBP_INTRA)}

# Table 9-4, inter column (P/B macroblocks).  Same transcription-risk
# caveat as the module's other VLC tables; tests assert it is a
# bijection over 0..47 and permutes the same value set as the intra
# column, and the encoder twin consumes it through the decode path.
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {cbp: i for i, cbp in enumerate(_CBP_INTER)}

# z-scan order of the 16 luma 4x4 blocks: (bx, by) in 4x4 units
_LUMA_BLOCK_ORDER = [
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3),
]

# ---------------------------------------------------------------------
# color conversion (full-range BT.601 integer, the JPEG convention, so
# MJPEG and H.264 clips of the same content land in the same space)
# ---------------------------------------------------------------------


def rgb_to_yuv420(frame: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = frame[..., 0].astype(np.int64)
    g = frame[..., 1].astype(np.int64)
    b = frame[..., 2].astype(np.int64)
    y = (299 * r + 587 * g + 114 * b + 500) // 1000
    cb = (-169 * r - 331 * g + 500 * b + 500 * 256) // 1000
    cr = (500 * r - 419 * g - 81 * b + 500 * 256) // 1000
    y = np.clip(y, 0, 255).astype(np.uint8)
    cb = np.clip(cb, 0, 255).astype(np.uint8)
    cr = np.clip(cr, 0, 255).astype(np.uint8)
    # 2x2 average subsample (even dims guaranteed by the MB padding)
    cb = ((cb[0::2, 0::2].astype(np.int64) + cb[0::2, 1::2] + cb[1::2, 0::2]
           + cb[1::2, 1::2] + 2) // 4).astype(np.uint8)
    cr = ((cr[0::2, 0::2].astype(np.int64) + cr[0::2, 1::2] + cr[1::2, 0::2]
           + cr[1::2, 1::2] + 2) // 4).astype(np.uint8)
    return y, cb, cr


def yuv420_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    h, w = y.shape
    cb_f = np.repeat(np.repeat(cb.astype(np.int64), 2, 0), 2, 1)[:h, :w] - 128
    cr_f = np.repeat(np.repeat(cr.astype(np.int64), 2, 0), 2, 1)[:h, :w] - 128
    yy = y.astype(np.int64)
    r = yy + (1402 * cr_f + 500) // 1000
    g = yy - (344 * cb_f + 714 * cr_f + 500) // 1000
    b = yy + (1772 * cb_f + 500) // 1000
    return np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------
# parameter sets (spec 7.3.2.1 / 7.3.2.2)
# ---------------------------------------------------------------------


def _write_sps(w: BitWriter, width: int, height: int, num_ref: int = 1) -> None:
    mb_w = (width + 15) // 16
    mb_h = (height + 15) // 16
    w.u(66, 8)       # profile_idc: baseline
    w.u(0xC0, 8)     # constraint_set0/1 + reserved
    w.u(30, 8)       # level_idc 3.0
    w.ue(0)          # seq_parameter_set_id
    w.ue(0)          # log2_max_frame_num_minus4
    w.ue(2)          # pic_order_cnt_type (2: derived, no extra syntax)
    w.ue(num_ref)    # max_num_ref_frames
    w.u(0, 1)        # gaps_in_frame_num_value_allowed_flag
    w.ue(mb_w - 1)   # pic_width_in_mbs_minus1
    w.ue(mb_h - 1)   # pic_height_in_map_units_minus1
    w.u(1, 1)        # frame_mbs_only_flag
    w.u(0, 1)        # direct_8x8_inference_flag
    crop_r = mb_w * 16 - width
    crop_b = mb_h * 16 - height
    if crop_r or crop_b:
        w.u(1, 1)    # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r // 2)
        w.ue(0)
        w.ue(crop_b // 2)
    else:
        w.u(0, 1)
    w.u(0, 1)        # vui_parameters_present_flag
    w.rbsp_trailing()


def parse_sps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    level = r.u(8)
    sps_id = r.ue()
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        # high profiles: chroma_format_idc etc.
        chroma_format = r.ue()
        if chroma_format == 3:
            r.u(1)
        bit_depth_luma = r.ue() + 8
        bit_depth_chroma = r.ue() + 8
        r.u(1)  # qpprime_y_zero_transform_bypass
        if r.u(1):  # seq_scaling_matrix_present
            raise NotImplementedError("SPS scaling matrices")
        if chroma_format != 1 or bit_depth_luma != 8 or bit_depth_chroma != 8:
            raise NotImplementedError("non-4:2:0 or >8-bit H.264")
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    max_num_ref = r.ue()
    r.u(1)   # gaps_in_frame_num_value_allowed_flag
    mb_w = r.ue() + 1
    mb_h = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError("field/MBAFF coding")
    r.u(1)  # direct_8x8_inference_flag
    crop = [0, 0, 0, 0]
    if r.u(1):
        crop = [r.ue(), r.ue(), r.ue(), r.ue()]
    return {
        "sps_id": sps_id,
        "profile": profile,
        "level": level,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "max_num_ref": max_num_ref,
        "mb_w": mb_w,
        "mb_h": mb_h,
        "width": mb_w * 16 - 2 * (crop[0] + crop[1]),
        "height": mb_h * 16 - 2 * (crop[2] + crop[3]),
        "crop": crop,
    }


def _write_pps(w: BitWriter, qp: int, pps_id: int = 0) -> None:
    w.ue(pps_id)     # pic_parameter_set_id
    w.ue(0)          # seq_parameter_set_id
    w.u(0, 1)        # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)        # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)          # num_slice_groups_minus1
    w.ue(0)          # num_ref_idx_l0_default_active_minus1
    w.ue(0)          # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)        # weighted_pred_flag
    w.u(0, 2)        # weighted_bipred_idc
    w.se(qp - 26)    # pic_init_qp_minus26
    w.se(0)          # pic_init_qs_minus26
    w.se(0)          # chroma_qp_index_offset
    w.u(1, 1)        # deblocking_filter_control_present_flag
    w.u(0, 1)        # constrained_intra_pred_flag
    w.u(0, 1)        # redundant_pic_cnt_present_flag
    w.rbsp_trailing()


def parse_pps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    cabac = r.u(1)
    if cabac:
        raise NotImplementedError("CABAC entropy coding")
    bottom_field = r.u(1)
    n_slice_groups = r.ue() + 1
    if n_slice_groups != 1:
        raise NotImplementedError("slice groups (FMO)")
    num_ref_l0 = r.ue() + 1
    num_ref_l1 = r.ue() + 1
    weighted_pred = r.u(1)
    weighted_bipred = r.u(2)
    qp = r.se() + 26
    r.se()
    chroma_qp_off = r.se()
    deblock_ctl = r.u(1)
    constrained_intra = r.u(1)
    if constrained_intra:
        # with the flag set, intra MBs in P slices must exclude inter
        # neighbours from sample prediction — refusing beats silently
        # predicting from samples the encoder excluded
        raise NotImplementedError("constrained intra prediction")
    redundant = r.u(1)
    # PPS extension (7.3.2.2, present in High-profile streams):
    # 8x8 transform and scaling matrices change the residual layer
    if r.more_rbsp_data():
        if r.u(1):
            raise NotImplementedError("8x8 transform (High profile)")
        if r.u(1):
            raise NotImplementedError("PPS scaling matrices")
        second_chroma_off = r.se()
        if second_chroma_off != chroma_qp_off:
            raise NotImplementedError("per-plane chroma QP offsets")
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "bottom_field": bottom_field,
        "num_ref_l0": num_ref_l0,
        "num_ref_l1": num_ref_l1,
        "weighted_pred": weighted_pred,
        "weighted_bipred": weighted_bipred,
        "init_qp": qp,
        "chroma_qp_offset": chroma_qp_off,
        "deblock_ctl": deblock_ctl,
        "constrained_intra": constrained_intra,
        "redundant": redundant,
    }


# ---------------------------------------------------------------------
# frame state: reconstruction canvases + CAVLC/intra context maps
# ---------------------------------------------------------------------


class _FrameCtx:
    """Shared encode/decode per-frame state.  The decoded-block mask at
    4x4 granularity implements the spec's decode-order availability
    exactly (a neighbor sample is available iff its block was decoded
    earlier); total-coeff maps feed nC (9.2.1); the intra-mode map
    feeds the Intra_4x4 most-probable-mode rule (8.3.1.1)."""

    def __init__(self, mb_w: int, mb_h: int) -> None:
        self.mb_w, self.mb_h = mb_w, mb_h
        w16, h16 = mb_w * 16, mb_h * 16
        self.y = np.zeros((h16, w16), np.int64)
        self.cb = np.zeros((h16 // 2, w16 // 2), np.int64)
        self.cr = np.zeros((h16 // 2, w16 // 2), np.int64)
        self.decoded = np.zeros((mb_h * 4, mb_w * 4), bool)   # luma 4x4 mask
        self.mb_done = np.zeros((mb_h, mb_w), bool)
        self.nzl = np.zeros((mb_h * 4, mb_w * 4), np.int64)   # luma total_coeff
        self.nzc = np.zeros((2, mb_h * 2, mb_w * 2), np.int64)  # chroma tc
        self.i4modes = np.full((mb_h * 4, mb_w * 4), -1, np.int64)
        # inter (P-slice) motion state, at 4x4 granularity: quarter-pel
        # L0 motion vectors, reference indices (-1: intra/unset), and
        # the parse-order availability mask the MVP derivation uses
        # (spec 6.4.11.7: a neighbour partition is available iff it
        # precedes the current one in decode order)
        self.mvs = np.zeros((mb_h * 4, mb_w * 4, 2), np.int64)
        self.refidx = np.full((mb_h * 4, mb_w * 4), -1, np.int64)
        self.mv_done = np.zeros((mb_h * 4, mb_w * 4), bool)
        # QP state (7.4.5: mb_qp_delta chains off the previous coded
        # MB's luma QP, starting from the slice QP): cur_qp is the
        # decoder's running value / the encoder's previous signalled
        # value; chroma_qp_offset comes from the active PPS
        self.cur_qp = 26
        self.chroma_qp_offset = 0
        # slice map (6.4.8: a neighbouring MB is available only when
        # it lies in the SAME slice): -1 = not yet decoded
        self.slice_ids = np.full((mb_h, mb_w), -1, np.int64)
        self.cur_slice = 0

    def qpc(self) -> int:
        return _QPC[min(max(self.cur_qp + self.chroma_qp_offset, 0), 51)]

    def enter_mb(self, mbx: int, mby: int) -> None:
        """Claim an MB for the current slice (before any in-MB
        neighbour fetch; overlap across slices = corrupt stream;
        idempotent within a slice for nested encode paths)."""
        existing = self.slice_ids[mby, mbx]
        if existing == self.cur_slice:
            return
        if existing != -1:
            raise ValueError("slices overlap (MB decoded twice)")
        self.slice_ids[mby, mbx] = self.cur_slice

    def blk_avail(self, bx: int, by: int) -> bool:
        return bool(
            self.decoded[by, bx]
            and self.slice_ids[by >> 2, bx >> 2] == self.cur_slice
        )

    # -- neighbor fetch for a luma 4x4 block at absolute block coords --
    def luma_neighbors(self, bx: int, by: int):
        x, y = bx * 4, by * 4
        top = self.y[y - 1, x : x + 4].copy() if by > 0 and self.blk_avail(bx, by - 1) else None
        left = self.y[y : y + 4, x - 1].copy() if bx > 0 and self.blk_avail(bx - 1, by) else None
        topleft = (
            int(self.y[y - 1, x - 1])
            if by > 0 and bx > 0 and self.blk_avail(bx - 1, by - 1)
            else None
        )
        topright = None
        if by > 0 and bx + 1 < self.mb_w * 4 and self.blk_avail(bx + 1, by - 1):
            topright = self.y[y - 1, x + 4 : x + 8].copy()
        elif top is not None:  # substitution: replicate p[3,-1] (8.3.1.2)
            topright = np.full(4, top[3], np.int64)
        return top, left, topleft, topright

    def nc_luma(self, bx: int, by: int) -> int:
        na = self.nzl[by, bx - 1] if bx > 0 and self.blk_avail(bx - 1, by) else None
        nb = self.nzl[by - 1, bx] if by > 0 and self.blk_avail(bx, by - 1) else None
        if na is not None and nb is not None:
            return int(na + nb + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0

    def nc_chroma(self, plane: int, bx: int, by: int) -> int:
        w, h = self.mb_w * 2, self.mb_h * 2
        mbx_a, mbx_b = (bx - 1) // 2, bx // 2
        mby_a, mby_b = by // 2, (by - 1) // 2
        na = (
            self.nzc[plane, by, bx - 1]
            if bx > 0 and self.mb_avail(mbx_a, by // 2)
            else None
        )
        nb = (
            self.nzc[plane, by - 1, bx]
            if by > 0 and self.mb_avail(bx // 2, mby_b)
            else None
        )
        if na is not None and nb is not None:
            return int(na + nb + 1) >> 1
        if na is not None:
            return int(na)
        if nb is not None:
            return int(nb)
        return 0

    def mb_avail(self, mbx: int, mby: int) -> bool:
        return (
            0 <= mbx < self.mb_w and 0 <= mby < self.mb_h
            and bool(self.mb_done[mby, mbx])
            and self.slice_ids[mby, mbx] == self.cur_slice
        )

    def pred_i4_mode(self, bx: int, by: int) -> int:
        ma = self.i4modes[by, bx - 1] if bx > 0 and self.blk_avail(bx - 1, by) else None
        mb = self.i4modes[by - 1, bx] if by > 0 and self.blk_avail(bx, by - 1) else None
        if ma is None or mb is None:
            return 2
        # a neighbor that is not Intra_4x4 (I_16x16 / I_PCM) counts DC
        ma = 2 if ma < 0 else int(ma)
        mb = 2 if mb < 0 else int(mb)
        return min(ma, mb)

    def mb16_neighbors(self, mbx: int, mby: int):
        x, y = mbx * 16, mby * 16
        top = self.y[y - 1, x : x + 16].copy() if self.mb_avail(mbx, mby - 1) else None
        left = self.y[y : y + 16, x - 1].copy() if self.mb_avail(mbx - 1, mby) else None
        topleft = (
            int(self.y[y - 1, x - 1]) if self.mb_avail(mbx - 1, mby - 1) else None
        )
        return top, left, topleft

    def chroma_neighbors(self, plane: np.ndarray, mbx: int, mby: int):
        x, y = mbx * 8, mby * 8
        top = plane[y - 1, x : x + 8].copy() if self.mb_avail(mbx, mby - 1) else None
        left = plane[y : y + 8, x - 1].copy() if self.mb_avail(mbx - 1, mby) else None
        topleft = (
            int(plane[y - 1, x - 1]) if self.mb_avail(mbx - 1, mby - 1) else None
        )
        return top, left, topleft


def _zig(block: np.ndarray) -> list[int]:
    flat = block.reshape(-1)
    return [int(flat[i]) for i in ZIGZAG_4x4]


def _unzig(coeffs: list[int]) -> np.ndarray:
    out = np.zeros(16, np.int64)
    for scan_pos, flat_idx in enumerate(ZIGZAG_4x4):
        out[flat_idx] = coeffs[scan_pos]
    return out.reshape(4, 4)


# ---------------------------------------------------------------------
# macroblock layer (spec 7.3.5 / 7.4.5) — encode and decode twins
# ---------------------------------------------------------------------

# chroma 4x4 block offsets within the 8x8, in chroma4x4BlkIdx order
_CHROMA_BLOCK_ORDER = [(0, 0), (1, 0), (0, 1), (1, 1)]


def _sad(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.abs(a.astype(np.int64) - b.astype(np.int64)).sum())


class _MBData:
    """Everything one macroblock contributes to the bitstream."""

    __slots__ = (
        "mb_type", "i4_modes", "i16_mode", "chroma_mode", "cbp_luma",
        "cbp_chroma", "luma_dc", "luma_blocks", "chroma_dc",
        "chroma_blocks", "pcm", "qp",
        # inter (P-slice) fields
        "inter", "sub_types", "refs", "mvds", "nref",
    )

    def __init__(self) -> None:
        self.inter = False


def _encode_mb(ctx: _FrameCtx, src_y, src_cb, src_cr, mbx: int, mby: int,
               qp: int, qpc: int, i16_threshold: int, pcm: bool) -> _MBData:
    """Mode-decide, transform, quantize, and RECONSTRUCT one MB into
    ``ctx`` (the reconstruction is what the decoder will produce, so
    later MBs predict from decoder-identical samples)."""
    ctx.enter_mb(mbx, mby)
    mb = _MBData()
    mb.qp = qp
    x0, y0 = mbx * 16, mby * 16
    cx0, cy0 = mbx * 8, mby * 8
    s16 = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
    scb = src_cb[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64)
    scr = src_cr[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int64)

    if pcm:
        mb.pcm = True
        mb.mb_type = 25
        ctx.y[y0 : y0 + 16, x0 : x0 + 16] = s16
        ctx.cb[cy0 : cy0 + 8, cx0 : cx0 + 8] = scb
        ctx.cr[cy0 : cy0 + 8, cx0 : cx0 + 8] = scr
        ctx.decoded[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = True
        ctx.mb_done[mby, mbx] = True
        ctx.nzl[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        ctx.nzc[:, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        # i4modes stays -1: PCM neighbors count as DC for the MPM rule
        return mb
    mb.pcm = False

    # ---- luma mode decision: I_16x16 when one whole-MB predictor is
    # already close (flat / gradient content), else I_4x4 ----
    top16, left16, tl16 = ctx.mb16_neighbors(mbx, mby)
    best16, best16_mode = None, None
    for mode in range(4):
        if mode == 0 and top16 is None:
            continue
        if mode == 1 and left16 is None:
            continue
        if mode == 3 and (top16 is None or left16 is None or tl16 is None):
            continue
        pred = _pred16x16(mode, top16, left16, tl16)
        sad = _sad(s16, pred)
        if best16 is None or sad < best16:
            best16, best16_mode = sad, mode

    use_i16 = best16 is not None and best16 <= i16_threshold * 256

    if use_i16:
        mb.i4_modes = None
        mb.i16_mode = best16_mode
        pred = _pred16x16(best16_mode, top16, left16, tl16)
        resid = s16 - pred
        # per-block forward transforms
        w_blocks = {}
        dcs = np.zeros((4, 4), np.int64)
        for by in range(4):
            for bx in range(4):
                w = _fwd4x4(resid[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
                w_blocks[(bx, by)] = w
                dcs[by, bx] = w[0, 0]
        dc_lev = _luma_dc_quant(dcs, qp)
        dc_deq = _luma_dc_dequant(dc_lev, qp)
        mb.luma_dc = _zig(dc_lev)
        mb.luma_blocks = {}
        any_ac = False
        recon = np.empty((16, 16), np.int64)
        for bx, by in _LUMA_BLOCK_ORDER:
            lev = _quant4x4(w_blocks[(bx, by)], qp, intra_dc_skip=True)
            ac = _zig(lev)[1:]
            mb.luma_blocks[(bx, by)] = ac
            if any(ac):
                any_ac = True
        mb.cbp_luma = 15 if any_ac else 0
        for bx, by in _LUMA_BLOCK_ORDER:
            if mb.cbp_luma:
                d = _dequant4x4(_unzig([0] + mb.luma_blocks[(bx, by)]), qp)
            else:
                d = np.zeros((4, 4), np.int64)
                mb.luma_blocks[(bx, by)] = [0] * 15
            d[0, 0] = dc_deq[by, bx]
            blk = np.clip(
                pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            recon[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = blk
        ctx.y[y0 : y0 + 16, x0 : x0 + 16] = recon
    else:
        mb.i16_mode = None
        mb.i4_modes = []
        mb.luma_dc = None
        mb.luma_blocks = {}
        base_bx, base_by = mbx * 4, mby * 4
        for bx4, by4 in _LUMA_BLOCK_ORDER:
            bx, by = base_bx + bx4, base_by + by4
            # the block must be visible to its own prediction fetches
            top, left, tl, tr = ctx.luma_neighbors(bx, by)
            sblk = s16[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4]
            best, best_mode, best_pred = None, None, None
            for mode in range(9):
                if mode in (0, 3, 7) and top is None:
                    continue
                if mode in (1, 8) and left is None:
                    continue
                if mode in (4, 5, 6) and (top is None or left is None or tl is None):
                    continue
                predb = _pred4x4(mode, top, left, tl, tr)
                sad = _sad(sblk, predb)
                if best is None or sad < best:
                    best, best_mode, best_pred = sad, mode, predb
            lev = _quant4x4(_fwd4x4(sblk - best_pred), qp)
            coeffs = _zig(lev)
            mb.i4_modes.append(best_mode)
            mb.luma_blocks[(bx4, by4)] = coeffs
            d = _dequant4x4(_unzig(coeffs), qp)
            blk = np.clip(best_pred + _inv4x4(d), 0, 255)
            ctx.y[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = blk
            ctx.decoded[by, bx] = True
            ctx.i4modes[by, bx] = best_mode
        # CBP per 8x8 group: drop all-zero groups and re-reconstruct
        # those blocks as pure prediction (what the decoder will see)
        cbp = 0
        for g, (gx, gy) in enumerate([(0, 0), (2, 0), (0, 2), (2, 2)]):
            blocks = [(bx4, by4) for bx4, by4 in _LUMA_BLOCK_ORDER
                      if gx <= bx4 < gx + 2 and gy <= by4 < gy + 2]
            if any(any(mb.luma_blocks[b]) for b in blocks):
                cbp |= 1 << g
        mb.cbp_luma = cbp

    # ---- chroma ----
    topb, leftb, tlb = ctx.chroma_neighbors(ctx.cb, mbx, mby)
    topr, leftr, tlr = ctx.chroma_neighbors(ctx.cr, mbx, mby)
    best, best_mode = None, None
    for mode in range(4):
        if mode == 1 and leftb is None:
            continue
        if mode == 2 and topb is None:
            continue
        if mode == 3 and (topb is None or leftb is None or tlb is None):
            continue
        sad = _sad(scb, _pred_chroma(mode, topb, leftb, tlb)) + _sad(
            scr, _pred_chroma(mode, topr, leftr, tlr)
        )
        if best is None or sad < best:
            best, best_mode = sad, mode
    mb.chroma_mode = best_mode
    mb.chroma_dc = []
    mb.chroma_blocks = []
    any_dc = any_ac = False
    preds, deq_dcs, acs = [], [], []
    for s_pl, top, left, tl in ((scb, topb, leftb, tlb), (scr, topr, leftr, tlr)):
        pred = _pred_chroma(best_mode, top, left, tl)
        preds.append(pred)
        resid = s_pl - pred
        w_blocks, dcs = {}, np.zeros((2, 2), np.int64)
        for bx, by in _CHROMA_BLOCK_ORDER:
            w = _fwd4x4(resid[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
            w_blocks[(bx, by)] = w
            dcs[by, bx] = w[0, 0]
        dc_lev = _chroma_dc_quant(dcs, qpc)
        deq_dcs.append(_chroma_dc_dequant(dc_lev, qpc))
        dc_scan = [int(dc_lev[0, 0]), int(dc_lev[0, 1]),
                   int(dc_lev[1, 0]), int(dc_lev[1, 1])]
        mb.chroma_dc.append(dc_scan)
        if any(dc_scan):
            any_dc = True
        plane_acs = {}
        for bx, by in _CHROMA_BLOCK_ORDER:
            lev = _quant4x4(w_blocks[(bx, by)], qpc, intra_dc_skip=True)
            ac = _zig(lev)[1:]
            plane_acs[(bx, by)] = ac
            if any(ac):
                any_ac = True
        acs.append(plane_acs)
    mb.cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
    for pl, (pred, dc_deq, plane_acs) in enumerate(zip(preds, deq_dcs, acs)):
        plane = ctx.cb if pl == 0 else ctx.cr
        mb.chroma_blocks.append(plane_acs)
        recon = np.empty((8, 8), np.int64)
        for bx, by in _CHROMA_BLOCK_ORDER:
            if mb.cbp_chroma == 2:
                d = _dequant4x4(_unzig([0] + plane_acs[(bx, by)]), qpc)
            else:
                d = np.zeros((4, 4), np.int64)
                plane_acs[(bx, by)] = [0] * 15
            d[0, 0] = dc_deq[by, bx] if mb.cbp_chroma >= 1 else 0
            blk = np.clip(
                pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            recon[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = blk
        plane[cy0 : cy0 + 8, cx0 : cx0 + 8] = recon
    if mb.cbp_chroma == 0:
        mb.chroma_dc = [[0] * 4, [0] * 4]

    if use_i16:
        mb.mb_type = 1 + best16_mode + 4 * mb.cbp_chroma + 12 * (
            1 if mb.cbp_luma else 0
        )
        ctx.decoded[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = True
    else:
        mb.mb_type = 0
    ctx.mb_done[mby, mbx] = True
    return mb


def _write_mb(w: BitWriter, ctx: _FrameCtx, mb: _MBData, mbx: int, mby: int,
              mb_type_offset: int = 0) -> None:
    """Entropy-code one (intra) MB; updates the nC bookkeeping maps.
    ``mb_type_offset`` is 5 inside P slices (7.4.5: intra mb_types
    follow the five inter types)."""
    w.ue(mb.mb_type + mb_type_offset)
    if mb.pcm:
        while len(w._bits) % 8:
            w._bits.append(0)  # pcm_alignment_zero_bit
        y0, x0 = mby * 16, mbx * 16
        for yy in range(16):
            for xx in range(16):
                w.u(int(ctx.y[y0 + yy, x0 + xx]), 8)
        for plane in (ctx.cb, ctx.cr):
            for yy in range(8):
                for xx in range(8):
                    w.u(int(plane[mby * 8 + yy, mbx * 8 + xx]), 8)
        return
    base_bx, base_by = mbx * 4, mby * 4
    if mb.mb_type == 0:  # I_4x4: prediction-mode syntax
        for i, (bx4, by4) in enumerate(_LUMA_BLOCK_ORDER):
            pred_mode = ctx.pred_i4_mode(base_bx + bx4, base_by + by4)
            # modes/decoded maps were populated during _encode_mb; the
            # MPM rule only looks at left/top which are final by now
            mode = mb.i4_modes[i]
            if mode == pred_mode:
                w.u(1, 1)
            else:
                w.u(0, 1)
                w.u(mode if mode < pred_mode else mode - 1, 3)
        w.ue(mb.chroma_mode)
        w.ue(_CBP_INTRA_INV[mb.cbp_luma | (mb.cbp_chroma << 4)])
    else:
        w.ue(mb.chroma_mode)
    if mb.mb_type != 0 or mb.cbp_luma or mb.cbp_chroma:
        _write_qp_delta(w, ctx, mb.qp)
    # ---- residual ----
    if mb.mb_type != 0:  # Intra16x16DCLevel, nC as for luma block 0
        nc = ctx.nc_luma(base_bx, base_by)
        cavlc_encode_block(w, mb.luma_dc, nc)
    for bx4, by4 in _LUMA_BLOCK_ORDER:
        group = (bx4 // 2) + 2 * (by4 // 2)
        bx, by = base_bx + bx4, base_by + by4
        if not (mb.cbp_luma & (1 << group)):
            ctx.nzl[by, bx] = 0
            continue
        coeffs = mb.luma_blocks[(bx4, by4)]
        nc = ctx.nc_luma(bx, by)
        ctx.nzl[by, bx] = cavlc_encode_block(w, coeffs, nc)
    _write_chroma_residual(w, ctx, mb, mbx, mby)


def _write_qp_delta(w: BitWriter, ctx: _FrameCtx, qp: int) -> None:
    """mb_qp_delta vs the running QP — the shortest mod-52 residue is
    always in the legal [-26, 25] range (7.4.5)."""
    delta = (qp - ctx.cur_qp + 26) % 52 - 26
    w.se(delta)
    ctx.cur_qp = (ctx.cur_qp + delta + 52) % 52


def _write_chroma_residual(w: BitWriter, ctx: _FrameCtx, mb: _MBData,
                           mbx: int, mby: int) -> None:
    if mb.cbp_chroma:
        for pl in range(2):
            cavlc_encode_block(w, mb.chroma_dc[pl], -1)
    for pl in range(2):
        for bx4, by4 in _CHROMA_BLOCK_ORDER:
            bx, by = mbx * 2 + bx4, mby * 2 + by4
            if mb.cbp_chroma != 2:
                ctx.nzc[pl, by, bx] = 0
                continue
            nc = ctx.nc_chroma(pl, bx, by)
            ctx.nzc[pl, by, bx] = cavlc_encode_block(
                w, mb.chroma_blocks[pl][(bx4, by4)], nc
            )


def _decode_mb(r: BitReader, ctx: _FrameCtx, mbx: int, mby: int,
               mb_type: int | None = None) -> None:
    if mb_type is None:
        mb_type = r.ue()
    ctx.enter_mb(mbx, mby)
    qp, qpc = ctx.cur_qp, ctx.qpc()
    x0, y0 = mbx * 16, mby * 16
    cx0, cy0 = mbx * 8, mby * 8
    base_bx, base_by = mbx * 4, mby * 4
    if mb_type > 25:
        raise ValueError(f"invalid I-slice mb_type {mb_type}")
    # the current MB is "available" to its own later blocks (nC and
    # neighbor fetches only ever look LEFT/TOP, which decode first) —
    # mirror the encoder, whose entropy pass runs after reconstruction
    ctx.mb_done[mby, mbx] = True
    if mb_type == 25:  # I_PCM
        r.byte_align()
        for yy in range(16):
            for xx in range(16):
                ctx.y[y0 + yy, x0 + xx] = r.u(8)
        for plane in (ctx.cb, ctx.cr):
            for yy in range(8):
                for xx in range(8):
                    plane[cy0 + yy, cx0 + xx] = r.u(8)
        ctx.decoded[base_by : base_by + 4, base_bx : base_bx + 4] = True
        ctx.mb_done[mby, mbx] = True
        ctx.nzl[base_by : base_by + 4, base_bx : base_bx + 4] = 16
        ctx.nzc[:, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        return

    i4_modes = None
    if mb_type == 0:  # I_4x4
        i4_modes = []
        flags = []
        for _ in range(16):
            if r.u(1):
                flags.append(None)  # use predicted mode
            else:
                flags.append(r.u(3))
        chroma_mode = r.ue()
        cbp_code = r.ue()
        if cbp_code >= len(_CBP_INTRA):
            raise ValueError("invalid coded_block_pattern code")
        cbp = _CBP_INTRA[cbp_code]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    else:
        t = mb_type - 1
        i16_mode = t % 4
        cbp_chroma = (t // 4) % 3
        cbp_luma = 15 if t >= 12 else 0
        chroma_mode = r.ue()
    if cbp_chroma > 2:
        raise ValueError("invalid chroma CBP")
    if mb_type != 0 or cbp_luma or cbp_chroma:
        qd = r.se()
        if not -26 <= qd <= 25:
            raise ValueError("mb_qp_delta out of range")
        ctx.cur_qp = (ctx.cur_qp + qd + 52) % 52
        qp, qpc = ctx.cur_qp, ctx.qpc()

    # ---- luma ----
    if mb_type != 0:
        nc = ctx.nc_luma(base_bx, base_by)
        dc_scan = cavlc_decode_block(r, nc, 16)
        dc_deq = _luma_dc_dequant(_unzig(dc_scan), qp)
        top16, left16, tl16 = ctx.mb16_neighbors(mbx, mby)
        pred = _pred16x16(i16_mode, top16, left16, tl16)
        # in-MB left/top 4x4 blocks must read as available during the
        # AC parse (the encoder's entropy pass sees them all set)
        ctx.decoded[base_by : base_by + 4, base_bx : base_bx + 4] = True
        ac = {}
        # spec residual order interleaves nC updates block by block
        for bx4, by4 in _LUMA_BLOCK_ORDER:
            bx, by = base_bx + bx4, base_by + by4
            if cbp_luma:
                nc = ctx.nc_luma(bx, by)
                coeffs = cavlc_decode_block(r, nc, 15)
                ctx.nzl[by, bx] = sum(1 for c in coeffs if c)
            else:
                coeffs = [0] * 15
                ctx.nzl[by, bx] = 0
            ac[(bx4, by4)] = coeffs
        for bx4, by4 in _LUMA_BLOCK_ORDER:
            d = _dequant4x4(_unzig([0] + ac[(bx4, by4)]), qp)
            d[0, 0] = dc_deq[by4, bx4]
            blk = np.clip(
                pred[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            ctx.y[y0 + by4 * 4 : y0 + by4 * 4 + 4,
                  x0 + bx4 * 4 : x0 + bx4 * 4 + 4] = blk
        ctx.decoded[base_by : base_by + 4, base_bx : base_bx + 4] = True
    else:
        for i, (bx4, by4) in enumerate(_LUMA_BLOCK_ORDER):
            bx, by = base_bx + bx4, base_by + by4
            pred_mode = ctx.pred_i4_mode(bx, by)
            if flags[i] is None:
                mode = pred_mode
            else:
                rem = flags[i]
                mode = rem if rem < pred_mode else rem + 1
            i4_modes.append(mode)
            group = (bx4 // 2) + 2 * (by4 // 2)
            if cbp_luma & (1 << group):
                nc = ctx.nc_luma(bx, by)
                coeffs = cavlc_decode_block(r, nc, 16)
                ctx.nzl[by, bx] = sum(1 for c in coeffs if c)
            else:
                coeffs = [0] * 16
                ctx.nzl[by, bx] = 0
            top, left, tl, tr = ctx.luma_neighbors(bx, by)
            predb = _pred4x4(mode, top, left, tl, tr)
            d = _dequant4x4(_unzig(coeffs), qp)
            blk = np.clip(predb + _inv4x4(d), 0, 255)
            ctx.y[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = blk
            ctx.decoded[by, bx] = True
            ctx.i4modes[by, bx] = mode

    # ---- chroma ----
    dc_levels = []
    if cbp_chroma:
        for _pl in range(2):
            dc_levels.append(cavlc_decode_block(r, -1, 4))
    else:
        dc_levels = [[0] * 4, [0] * 4]
    ac_levels = [[None] * 4, [None] * 4]
    if cbp_chroma == 2:
        for pl in range(2):
            for bi, (bx4, by4) in enumerate(_CHROMA_BLOCK_ORDER):
                bx, by = mbx * 2 + bx4, mby * 2 + by4
                nc = ctx.nc_chroma(pl, bx, by)
                coeffs = cavlc_decode_block(r, nc, 15)
                ctx.nzc[pl, by, bx] = sum(1 for c in coeffs if c)
                ac_levels[pl][bi] = coeffs
    else:
        ctx.nzc[:, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
    for pl, plane in enumerate((ctx.cb, ctx.cr)):
        top, left, tl = ctx.chroma_neighbors(plane, mbx, mby)
        pred = _pred_chroma(chroma_mode, top, left, tl)
        dcl = dc_levels[pl]
        dc_deq = _chroma_dc_dequant(
            np.array([[dcl[0], dcl[1]], [dcl[2], dcl[3]]], np.int64), qpc
        )
        for bi, (bx4, by4) in enumerate(_CHROMA_BLOCK_ORDER):
            coeffs = ac_levels[pl][bi] if ac_levels[pl][bi] is not None else [0] * 15
            d = _dequant4x4(_unzig([0] + coeffs), qpc)
            d[0, 0] = dc_deq[by4, bx4] if cbp_chroma >= 1 else 0
            blk = np.clip(
                pred[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            plane[cy0 + by4 * 4 : cy0 + by4 * 4 + 4,
                  cx0 + bx4 * 4 : cx0 + bx4 * 4 + 4] = blk
    ctx.mb_done[mby, mbx] = True


# ---------------------------------------------------------------------
# inter prediction (P slices): fractional-sample interpolation
# (spec 8.4.2.2), motion-vector prediction (8.4.1.3), and the P
# macroblock layer (7.3.5.2 / 7.4.5.1).  Motion vectors are L0-only
# quarter-pel (mvx, mvy) pairs; reference samples outside the picture
# are edge-clamped per 8.4.2.2.1's coordinate Clip3.
# ---------------------------------------------------------------------


def _interp_luma(refy: np.ndarray, px: int, py: int, mvx: int, mvy: int,
                 w: int, h: int) -> np.ndarray:
    """Quarter-pel luma prediction block: (h, w) int64 for the
    partition whose top-left luma sample is (px, py), displaced by the
    quarter-pel MV.  Half-pel via the 6-tap (1,-5,20,20,-5,1) filter;
    the centre position j filters the UNROUNDED horizontal
    intermediates; quarter positions average the clipped values
    (8.4.2.2.1)."""
    x0q, y0q = 4 * px + mvx, 4 * py + mvy
    xi, yi = x0q >> 2, y0q >> 2
    xf, yf = x0q & 3, y0q & 3
    H, W = refy.shape
    ys = np.clip(np.arange(yi - 2, yi + h + 4), 0, H - 1)
    xs = np.clip(np.arange(xi - 2, xi + w + 4), 0, W - 1)
    win = refy[np.ix_(ys, xs)].astype(np.int64)  # (h+6, w+6)
    # integer grid aligned at the partition origin, one extra row/col
    G = win[2 : 3 + h, 2 : 3 + w]
    if xf == 0 and yf == 0:
        return G[:h, :w].copy()
    tap = (1, -5, 20, 20, -5, 1)
    bA = hA = jA = None
    if xf:
        # horizontal half-pel intermediates b1 for ALL rows (j needs
        # them even at non-integer rows)
        b1 = sum(t * win[:, k : k + w + 1] for k, t in enumerate(tap))
        bA = np.clip((b1[2 : 3 + h] + 16) >> 5, 0, 255)
    if yf:
        h1 = sum(t * win[k : k + h + 1, :] for k, t in enumerate(tap))
        hA = np.clip((h1[:, 2 : 3 + w] + 16) >> 5, 0, 255)
    if xf and yf:
        # j: vertical 6-tap over the unrounded b1 columns
        j1 = sum(t * b1[k : k + h + 1, :] for k, t in enumerate(tap))
        jA = np.clip((j1 + 512) >> 10, 0, 255)
    if yf == 0:  # a, b, c
        if xf == 1:
            out = (G + bA + 1) >> 1
        elif xf == 2:
            out = bA
        else:
            out = (win[2 : 3 + h, 3 : 4 + w] + bA + 1) >> 1
        return out[:h, :w]
    if xf == 0:  # d, h, n
        if yf == 1:
            out = (G + hA + 1) >> 1
        elif yf == 2:
            out = hA
        else:
            out = (win[3 : 4 + h, 2 : 3 + w] + hA + 1) >> 1
        return out[:h, :w]
    if xf == 2 and yf == 2:
        return jA[:h, :w]
    if xf == 2:  # f (yf 1), q (yf 3)
        other = bA if yf == 1 else bA[1:, :]
        return ((other[:h, :w] + jA[:h, :w] + 1) >> 1)
    if yf == 2:  # i (xf 1), k (xf 3)
        other = hA if xf == 1 else hA[:, 1:]
        return ((other[:h, :w] + jA[:h, :w] + 1) >> 1)
    # diagonal quarters e/g/p/r: average of the nearest b- and h-type
    # half samples (8.4.2.2.1 Table 8-12)
    bsel = bA if yf == 1 else bA[1:, :]          # s = b one row down
    hsel = hA if xf == 1 else hA[:, 1:]          # m = h one col right
    return ((bsel[:h, :w] + hsel[:h, :w] + 1) >> 1)


def _interp_chroma(refc: np.ndarray, cx: int, cy: int, mvx: int, mvy: int,
                   w: int, h: int) -> np.ndarray:
    """Eighth-pel bilinear chroma prediction (8.4.2.2.2): the luma MV
    applies unscaled because chroma is half-resolution."""
    x08, y08 = 8 * cx + mvx, 8 * cy + mvy
    xi, yi = x08 >> 3, y08 >> 3
    xf, yf = x08 & 7, y08 & 7
    H, W = refc.shape
    ys = np.clip(np.arange(yi, yi + h + 1), 0, H - 1)
    xs = np.clip(np.arange(xi, xi + w + 1), 0, W - 1)
    win = refc[np.ix_(ys, xs)].astype(np.int64)
    A = win[:h, :w]
    B = win[:h, 1 : w + 1]
    C = win[1 : h + 1, :w]
    D = win[1 : h + 1, 1 : w + 1]
    return (
        (8 - xf) * (8 - yf) * A + xf * (8 - yf) * B
        + (8 - xf) * yf * C + xf * yf * D + 32
    ) >> 6


def _mv_neighbor(ctx: _FrameCtx, nbx: int, nby: int):
    """(refIdx, mv) of the 4x4 block, or None when outside the picture
    or slice, or not yet decoded (parse-order availability,
    6.4.11.7)."""
    if not (0 <= nbx < ctx.mb_w * 4 and 0 <= nby < ctx.mb_h * 4):
        return None
    if not ctx.mv_done[nby, nbx]:
        return None
    if ctx.slice_ids[nby >> 2, nbx >> 2] != ctx.cur_slice:
        return None
    return (
        int(ctx.refidx[nby, nbx]),
        (int(ctx.mvs[nby, nbx, 0]), int(ctx.mvs[nby, nbx, 1])),
    )


def _mvp(ctx: _FrameCtx, bx: int, by: int, w4: int, h4: int, ref: int,
         special: str | None = None) -> tuple[int, int]:
    """Motion-vector predictor (8.4.1.3): median of neighbours A/B/C
    (C falls back to D above-left), the single-matching-reference
    shortcut, the A-only top-row rule, and the 16x8/8x16 directional
    rules.  Intra or unavailable neighbours contribute ref -1 and
    mv (0,0)."""
    A = _mv_neighbor(ctx, bx - 1, by)
    B = _mv_neighbor(ctx, bx, by - 1)
    C = _mv_neighbor(ctx, bx + w4, by - 1)
    if C is None:
        C = _mv_neighbor(ctx, bx - 1, by - 1)  # D substitution
    if special == "16x8_top" and B is not None and B[0] == ref:
        return B[1]
    if special == "16x8_bot" and A is not None and A[0] == ref:
        return A[1]
    if special == "8x16_left" and A is not None and A[0] == ref:
        return A[1]
    if special == "8x16_right" and C is not None and C[0] == ref:
        return C[1]
    if A is not None and B is None and C is None:
        return A[1]
    refs = [n[0] if n is not None else -1 for n in (A, B, C)]
    mvs = [n[1] if n is not None else (0, 0) for n in (A, B, C)]
    matches = [i for i in range(3) if refs[i] == ref]
    if len(matches) == 1:
        return mvs[matches[0]]
    xs = sorted(m[0] for m in mvs)
    ys = sorted(m[1] for m in mvs)
    return (xs[1], ys[1])


def _skip_mv(ctx: _FrameCtx, mbx: int, mby: int) -> tuple[int, int]:
    """P_Skip motion vector (8.4.1.1): zero when a 16x16 A/B neighbour
    is missing or is a zero-motion ref-0 block, else the 16x16 MVP."""
    bx, by = mbx * 4, mby * 4
    A = _mv_neighbor(ctx, bx - 1, by)
    B = _mv_neighbor(ctx, bx, by - 1)
    if A is None or B is None:
        return (0, 0)
    if A == (0, (0, 0)) or B == (0, (0, 0)):
        return (0, 0)
    return _mvp(ctx, bx, by, 4, 4, 0)


# partition layouts: mb_type -> list of (bx4, by4, w4, h4, special)
_P_PARTS = {
    0: [(0, 0, 4, 4, None)],
    1: [(0, 0, 4, 2, "16x8_top"), (0, 2, 4, 2, "16x8_bot")],
    2: [(0, 0, 2, 4, "8x16_left"), (2, 0, 2, 4, "8x16_right")],
}
# sub_mb_type -> list of (dx4, dy4, w4, h4) within the 8x8
_P_SUB_PARTS = {
    0: [(0, 0, 2, 2)],
    1: [(0, 0, 2, 1), (0, 1, 2, 1)],
    2: [(0, 0, 1, 2), (1, 0, 1, 2)],
    3: [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)],
}


def _read_te_ref(r: BitReader, nref: int) -> int:
    """te(v)-coded ref_idx_l0 (9.1.1): absent when one reference is
    active, a single inverted bit for two, ue(v) beyond."""
    if nref <= 1:
        return 0
    if nref == 2:
        return 1 - r.u(1)
    return r.ue()


def _write_te_ref(w: BitWriter, ref: int, nref: int) -> None:
    if nref <= 1:
        return
    if nref == 2:
        w.u(1 - ref, 1)
    else:
        w.ue(ref)


def _mc_partition(ctx: _FrameCtx, dpb: list, mbx: int, mby: int,
                  bx4: int, by4: int, w4: int, h4: int, ref: int,
                  mv: tuple[int, int], pred_y: np.ndarray,
                  pred_cb: np.ndarray, pred_cr: np.ndarray) -> None:
    """Motion-compensate one partition into the MB prediction arrays."""
    ry, rcb, rcr = dpb[ref]
    px, py = mbx * 16 + bx4 * 4, mby * 16 + by4 * 4
    pred_y[by4 * 4 : by4 * 4 + h4 * 4, bx4 * 4 : bx4 * 4 + w4 * 4] = \
        _interp_luma(ry, px, py, mv[0], mv[1], w4 * 4, h4 * 4)
    cx, cy = px // 2, py // 2
    pred_cb[by4 * 2 : by4 * 2 + h4 * 2, bx4 * 2 : bx4 * 2 + w4 * 2] = \
        _interp_chroma(rcb, cx, cy, mv[0], mv[1], w4 * 2, h4 * 2)
    pred_cr[by4 * 2 : by4 * 2 + h4 * 2, bx4 * 2 : bx4 * 2 + w4 * 2] = \
        _interp_chroma(rcr, cx, cy, mv[0], mv[1], w4 * 2, h4 * 2)


def _set_part_mv(ctx: _FrameCtx, bx: int, by: int, w4: int, h4: int,
                 ref: int, mv: tuple[int, int]) -> None:
    ctx.mvs[by : by + h4, bx : bx + w4] = mv
    ctx.refidx[by : by + h4, bx : bx + w4] = ref
    ctx.mv_done[by : by + h4, bx : bx + w4] = True


def _mark_intra_mvs(ctx: _FrameCtx, mbx: int, mby: int) -> None:
    """Intra (and PCM) MBs in P slices are available MVP neighbours
    with ref -1 / mv 0."""
    ctx.mv_done[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = True


def _decode_skip_mb(ctx: _FrameCtx, dpb: list, mbx: int, mby: int) -> None:
    ctx.enter_mb(mbx, mby)
    mv = _skip_mv(ctx, mbx, mby)
    pred_y = np.empty((16, 16), np.int64)
    pred_cb = np.empty((8, 8), np.int64)
    pred_cr = np.empty((8, 8), np.int64)
    _mc_partition(ctx, dpb, mbx, mby, 0, 0, 4, 4, 0, mv,
                  pred_y, pred_cb, pred_cr)
    x0, y0 = mbx * 16, mby * 16
    ctx.y[y0 : y0 + 16, x0 : x0 + 16] = np.clip(pred_y, 0, 255)
    ctx.cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = np.clip(pred_cb, 0, 255)
    ctx.cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = np.clip(pred_cr, 0, 255)
    _set_part_mv(ctx, mbx * 4, mby * 4, 4, 4, 0, mv)
    ctx.decoded[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = True
    ctx.mb_done[mby, mbx] = True


def _parse_inter_motion(r: BitReader, ctx: _FrameCtx, mbx: int, mby: int,
                        mb_type: int, nref: int):
    """mb_pred / sub_mb_pred syntax → ordered partition list
    [(bx4, by4, w4, h4, ref, mv)], with ctx motion state updated in
    partition decode order (later MVPs see earlier partitions)."""
    base_bx, base_by = mbx * 4, mby * 4
    if mb_type <= 2:
        layout = _P_PARTS[mb_type]
        refs = [_read_te_ref(r, nref) for _ in layout]
        mvds = [(r.se(), r.se()) for _ in layout]
        parts = []
        for (bx4, by4, w4, h4, special), ref, mvd in zip(layout, refs, mvds):
            if ref >= nref:
                raise ValueError("ref_idx_l0 out of range")
            mvp = _mvp(ctx, base_bx + bx4, base_by + by4, w4, h4, ref, special)
            mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
            _set_part_mv(ctx, base_bx + bx4, base_by + by4, w4, h4, ref, mv)
            parts.append((bx4, by4, w4, h4, ref, mv))
        return parts
    # P_8x8 (3) / P_8x8ref0 (4)
    sub_types = []
    for _ in range(4):
        st = r.ue()
        if st > 3:
            raise ValueError("invalid P sub_mb_type")
        sub_types.append(st)
    if mb_type == 3:
        refs = [_read_te_ref(r, nref) for _ in range(4)]
    else:
        refs = [0, 0, 0, 0]
    if any(ref >= nref for ref in refs):
        raise ValueError("ref_idx_l0 out of range")
    mvds = [[(r.se(), r.se()) for _ in _P_SUB_PARTS[st]] for st in sub_types]
    parts = []
    for i8 in range(4):
        ox, oy = (i8 % 2) * 2, (i8 // 2) * 2
        for (dx4, dy4, w4, h4), mvd in zip(_P_SUB_PARTS[sub_types[i8]], mvds[i8]):
            bx4, by4 = ox + dx4, oy + dy4
            ref = refs[i8]
            mvp = _mvp(ctx, base_bx + bx4, base_by + by4, w4, h4, ref)
            mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
            _set_part_mv(ctx, base_bx + bx4, base_by + by4, w4, h4, ref, mv)
            parts.append((bx4, by4, w4, h4, ref, mv))
    return parts


def _decode_mb_inter(r: BitReader, ctx: _FrameCtx, dpb: list, mbx: int,
                     mby: int, mb_type: int, nref: int) -> None:
    """One coded P-slice inter MB: motion parse → MC → residual →
    reconstruction (7.3.5 / 8.4)."""
    ctx.enter_mb(mbx, mby)
    qp, qpc = ctx.cur_qp, ctx.qpc()
    x0, y0 = mbx * 16, mby * 16
    cx0, cy0 = mbx * 8, mby * 8
    base_bx, base_by = mbx * 4, mby * 4
    parts = _parse_inter_motion(r, ctx, mbx, mby, mb_type, nref)
    pred_y = np.empty((16, 16), np.int64)
    pred_cb = np.empty((8, 8), np.int64)
    pred_cr = np.empty((8, 8), np.int64)
    for bx4, by4, w4, h4, ref, mv in parts:
        _mc_partition(ctx, dpb, mbx, mby, bx4, by4, w4, h4, ref, mv,
                      pred_y, pred_cb, pred_cr)
    cbp_code = r.ue()
    if cbp_code >= len(_CBP_INTER):
        raise ValueError("invalid coded_block_pattern code")
    cbp = _CBP_INTER[cbp_code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma > 2:
        raise ValueError("invalid chroma CBP")
    if cbp:
        qd = r.se()
        if not -26 <= qd <= 25:
            raise ValueError("mb_qp_delta out of range")
        ctx.cur_qp = (ctx.cur_qp + qd + 52) % 52
        qp, qpc = ctx.cur_qp, ctx.qpc()
    ctx.mb_done[mby, mbx] = True  # own later blocks see left/top state
    # ---- luma residual: 16 plain 4x4 blocks (no Intra16x16 DC) ----
    for bx4, by4 in _LUMA_BLOCK_ORDER:
        bx, by = base_bx + bx4, base_by + by4
        group = (bx4 // 2) + 2 * (by4 // 2)
        if cbp_luma & (1 << group):
            nc = ctx.nc_luma(bx, by)
            coeffs = cavlc_decode_block(r, nc, 16)
            ctx.nzl[by, bx] = sum(1 for c in coeffs if c)
        else:
            coeffs = [0] * 16
            ctx.nzl[by, bx] = 0
        d = _dequant4x4(_unzig(coeffs), qp)
        blk = np.clip(
            pred_y[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4] + _inv4x4(d),
            0, 255,
        )
        ctx.y[y0 + by4 * 4 : y0 + by4 * 4 + 4,
              x0 + bx4 * 4 : x0 + bx4 * 4 + 4] = blk
        ctx.decoded[by, bx] = True
    # ---- chroma residual: DC Hadamard + AC, as in intra MBs ----
    dc_levels = []
    if cbp_chroma:
        for _pl in range(2):
            dc_levels.append(cavlc_decode_block(r, -1, 4))
    else:
        dc_levels = [[0] * 4, [0] * 4]
    ac_levels = [[None] * 4, [None] * 4]
    if cbp_chroma == 2:
        for pl in range(2):
            for bi, (bx4, by4) in enumerate(_CHROMA_BLOCK_ORDER):
                bx, by = mbx * 2 + bx4, mby * 2 + by4
                nc = ctx.nc_chroma(pl, bx, by)
                coeffs = cavlc_decode_block(r, nc, 15)
                ctx.nzc[pl, by, bx] = sum(1 for c in coeffs if c)
                ac_levels[pl][bi] = coeffs
    else:
        ctx.nzc[:, mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
    for pl, (plane, pred) in enumerate(
        ((ctx.cb, pred_cb), (ctx.cr, pred_cr))
    ):
        dcl = dc_levels[pl]
        dc_deq = _chroma_dc_dequant(
            np.array([[dcl[0], dcl[1]], [dcl[2], dcl[3]]], np.int64), qpc
        )
        for bi, (bx4, by4) in enumerate(_CHROMA_BLOCK_ORDER):
            coeffs = ac_levels[pl][bi] if ac_levels[pl][bi] is not None else [0] * 15
            d = _dequant4x4(_unzig([0] + coeffs), qpc)
            d[0, 0] = dc_deq[by4, bx4] if cbp_chroma >= 1 else 0
            blk = np.clip(
                pred[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            plane[cy0 + by4 * 4 : cy0 + by4 * 4 + 4,
                  cx0 + bx4 * 4 : cx0 + bx4 * 4 + 4] = blk


# ---------------------------------------------------------------------
# P-slice encoder: block-matching motion search (integer → half →
# quarter refinement through the same interpolation the decoder uses),
# partition/skip mode selection, and the inter write twin.
# ---------------------------------------------------------------------


def _mv_sad(refy: np.ndarray, src: np.ndarray, px: int, py: int,
            mv: tuple[int, int]) -> int:
    pred = _interp_luma(refy, px, py, mv[0], mv[1], src.shape[1], src.shape[0])
    return int(np.abs(src - pred).sum())


def _search_partition(refy: np.ndarray, src: np.ndarray, px: int, py: int,
                      sr: int, mvp: tuple[int, int],
                      extra: list | None = None) -> tuple[tuple[int, int], int]:
    """Best quarter-pel MV for one partition: integer full search in a
    ±sr box around (0,0) and around the predictor, then half- and
    quarter-pel refinement; ``extra`` quarter-pel candidates (e.g. the
    skip MV) are always evaluated."""
    cands = set()
    for cx, cy in ((0, 0), (mvp[0] >> 2, mvp[1] >> 2)):
        for dy in range(-sr, sr + 1):
            for dx in range(-sr, sr + 1):
                cands.add((4 * (cx + dx), 4 * (cy + dy)))
    for mv in extra or ():
        cands.add(tuple(mv))
    best_mv, best = None, None
    for mv in sorted(cands):
        sad = _mv_sad(refy, src, px, py, mv)
        if best is None or sad < best:
            best, best_mv = sad, mv
    for step in (2, 1):  # half, then quarter
        improved = True
        while improved:
            improved = False
            for dy in (-step, 0, step):
                for dx in (-step, 0, step):
                    if dx == 0 and dy == 0:
                        continue
                    mv = (best_mv[0] + dx, best_mv[1] + dy)
                    sad = _mv_sad(refy, src, px, py, mv)
                    if sad < best:
                        best, best_mv = sad, mv
                        improved = True
    return best_mv, best


def _inter_chroma_encode(ctx: _FrameCtx, mb: _MBData, scb, scr,
                         pred_cb, pred_cr, qpc: int,
                         mbx: int, mby: int) -> None:
    """Chroma residual for an inter MB (2x2 DC Hadamard + AC, 8.5.4),
    reconstructing into ``ctx`` exactly as the decoder will."""
    mb.chroma_dc = []
    mb.chroma_blocks = []
    any_dc = any_ac = False
    deq_dcs, acs = [], []
    for s_pl, pred in ((scb, pred_cb), (scr, pred_cr)):
        resid = s_pl - pred
        w_blocks, dcs = {}, np.zeros((2, 2), np.int64)
        for bx, by in _CHROMA_BLOCK_ORDER:
            wb = _fwd4x4(resid[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
            w_blocks[(bx, by)] = wb
            dcs[by, bx] = wb[0, 0]
        dc_lev = _chroma_dc_quant(dcs, qpc)
        deq_dcs.append(_chroma_dc_dequant(dc_lev, qpc))
        dc_scan = [int(dc_lev[0, 0]), int(dc_lev[0, 1]),
                   int(dc_lev[1, 0]), int(dc_lev[1, 1])]
        mb.chroma_dc.append(dc_scan)
        if any(dc_scan):
            any_dc = True
        plane_acs = {}
        for bx, by in _CHROMA_BLOCK_ORDER:
            lev = _quant4x4(w_blocks[(bx, by)], qpc, intra_dc_skip=True)
            ac = _zig(lev)[1:]
            plane_acs[(bx, by)] = ac
            if any(ac):
                any_ac = True
        acs.append(plane_acs)
    mb.cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
    cx0, cy0 = mbx * 8, mby * 8
    for pl, (pred, dc_deq, plane_acs) in enumerate(
        zip((pred_cb, pred_cr), deq_dcs, acs)
    ):
        plane = ctx.cb if pl == 0 else ctx.cr
        mb.chroma_blocks.append(plane_acs)
        for bx, by in _CHROMA_BLOCK_ORDER:
            if mb.cbp_chroma == 2:
                d = _dequant4x4(_unzig([0] + plane_acs[(bx, by)]), qpc)
            else:
                d = np.zeros((4, 4), np.int64)
                plane_acs[(bx, by)] = [0] * 15
            d[0, 0] = dc_deq[by, bx] if mb.cbp_chroma >= 1 else 0
            blk = np.clip(
                pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + _inv4x4(d),
                0, 255,
            )
            plane[cy0 + by * 4 : cy0 + by * 4 + 4,
                  cx0 + bx * 4 : cx0 + bx * 4 + 4] = blk
    if mb.cbp_chroma == 0:
        mb.chroma_dc = [[0] * 4, [0] * 4]


def _encode_mb_p(ctx: _FrameCtx, dpb: list, src_y, src_cb, src_cr,
                 mbx: int, mby: int, qp: int, qpc: int, sr: int,
                 i16_threshold: int, nref: int, spec) -> _MBData | None:
    """Mode-decide and reconstruct one P-slice MB; returns None when
    the MB is skipped (P_Skip), an inter or intra ``_MBData``
    otherwise.  ``spec`` forces a shape for coverage: "i4"/"i16"/
    "16x16"/"16x8"/"8x16"/("8x8", [sub_types]) or None (auto:
    16x16-vs-skip)."""
    ctx.enter_mb(mbx, mby)
    x0, y0 = mbx * 16, mby * 16
    base_bx, base_by = mbx * 4, mby * 4
    if spec in ("i4", "i16"):
        mb = _encode_mb(ctx, src_y, src_cb, src_cr, mbx, mby, qp, qpc,
                        10**9 if spec == "i16" else -1, False)
        _mark_intra_mvs(ctx, mbx, mby)
        return mb
    s16 = src_y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
    scb = src_cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)
    scr = src_cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)
    skip_mv = _skip_mv(ctx, mbx, mby)

    mb = _MBData()
    mb.qp = qp
    mb.inter = True
    mb.pcm = False
    mb.nref = nref
    mb.sub_types = None
    mb.refs, mb.mvds = [], []
    pred_y = np.empty((16, 16), np.int64)
    pred_cb = np.empty((8, 8), np.int64)
    pred_cr = np.empty((8, 8), np.int64)

    if spec is None or spec in ("skip", "16x16"):
        mb.mb_type = 0
        layout = _P_PARTS[0]
    elif spec == "16x8":
        mb.mb_type = 1
        layout = _P_PARTS[1]
    elif spec == "8x16":
        mb.mb_type = 2
        layout = _P_PARTS[2]
    elif isinstance(spec, tuple) and spec[0] == "8x8":
        mb.mb_type = 3
        mb.sub_types = list(spec[1])
        if len(mb.sub_types) != 4 or any(
            s not in _P_SUB_PARTS for s in mb.sub_types
        ):
            raise ValueError("8x8 spec needs four sub_mb_types in 0..3")
        layout = None
    else:
        raise ValueError(f"unknown P-MB spec {spec!r}")

    parts = []  # (bx4, by4, w4, h4, ref, mv)
    if layout is not None:
        for bx4, by4, w4, h4, special in layout:
            px, py = x0 + bx4 * 4, y0 + by4 * 4
            sblk = s16[by4 * 4 : by4 * 4 + h4 * 4, bx4 * 4 : bx4 * 4 + w4 * 4]
            best = None
            for ref in range(nref):
                mvp = _mvp(ctx, base_bx + bx4, base_by + by4, w4, h4, ref,
                           special)
                extra = [skip_mv] if mb.mb_type == 0 and ref == 0 else None
                mv, sad = _search_partition(
                    dpb[ref][0], sblk, px, py, sr, mvp, extra
                )
                if best is None or sad < best[0]:
                    best = (sad, ref, mv, mvp)
            _sad_val, ref, mv, mvp = best
            _set_part_mv(ctx, base_bx + bx4, base_by + by4, w4, h4, ref, mv)
            mb.refs.append(ref)
            mb.mvds.append((mv[0] - mvp[0], mv[1] - mvp[1]))
            parts.append((bx4, by4, w4, h4, ref, mv))
    else:
        for i8 in range(4):
            ox, oy = (i8 % 2) * 2, (i8 // 2) * 2
            # one reference per 8x8 (chosen on the whole 8x8 at sub 0's
            # search would complicate; use ref 0 beyond-1 search per 8x8)
            best_ref = 0
            if nref > 1:
                s8 = s16[oy * 4 : oy * 4 + 8, ox * 4 : ox * 4 + 8]
                sads = [
                    _mv_sad(dpb[ref][0], s8, x0 + ox * 4, y0 + oy * 4, (0, 0))
                    for ref in range(nref)
                ]
                best_ref = int(np.argmin(sads))
            mb.refs.append(best_ref)
            sub_mvds = []
            for dx4, dy4, w4, h4 in _P_SUB_PARTS[mb.sub_types[i8]]:
                bx4, by4 = ox + dx4, oy + dy4
                px, py = x0 + bx4 * 4, y0 + by4 * 4
                sblk = s16[by4 * 4 : by4 * 4 + h4 * 4,
                           bx4 * 4 : bx4 * 4 + w4 * 4]
                mvp = _mvp(ctx, base_bx + bx4, base_by + by4, w4, h4, best_ref)
                mv, _sad_val = _search_partition(
                    dpb[best_ref][0], sblk, px, py, sr, mvp
                )
                _set_part_mv(ctx, base_bx + bx4, base_by + by4, w4, h4,
                             best_ref, mv)
                sub_mvds.append((mv[0] - mvp[0], mv[1] - mvp[1]))
                parts.append((bx4, by4, w4, h4, best_ref, mv))
            mb.mvds.append(sub_mvds)

    for bx4, by4, w4, h4, ref, mv in parts:
        _mc_partition(ctx, dpb, mbx, mby, bx4, by4, w4, h4, ref, mv,
                      pred_y, pred_cb, pred_cr)

    # ---- luma residual ----
    resid = s16 - pred_y
    mb.luma_dc = None
    mb.luma_blocks = {}
    for bx4, by4 in _LUMA_BLOCK_ORDER:
        lev = _quant4x4(
            _fwd4x4(resid[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4]), qp
        )
        mb.luma_blocks[(bx4, by4)] = _zig(lev)
    cbp = 0
    for g, (gx, gy) in enumerate([(0, 0), (2, 0), (0, 2), (2, 2)]):
        blocks = [(bx4, by4) for bx4, by4 in _LUMA_BLOCK_ORDER
                  if gx <= bx4 < gx + 2 and gy <= by4 < gy + 2]
        if any(any(mb.luma_blocks[b]) for b in blocks):
            cbp |= 1 << g
    mb.cbp_luma = cbp
    for bx4, by4 in _LUMA_BLOCK_ORDER:
        group = (bx4 // 2) + 2 * (by4 // 2)
        if cbp & (1 << group):
            d = _dequant4x4(_unzig(mb.luma_blocks[(bx4, by4)]), qp)
        else:
            d = np.zeros((4, 4), np.int64)
            mb.luma_blocks[(bx4, by4)] = [0] * 16
        blk = np.clip(
            pred_y[by4 * 4 : by4 * 4 + 4, bx4 * 4 : bx4 * 4 + 4] + _inv4x4(d),
            0, 255,
        )
        ctx.y[y0 + by4 * 4 : y0 + by4 * 4 + 4,
              x0 + bx4 * 4 : x0 + bx4 * 4 + 4] = blk

    # ---- chroma residual ----
    _inter_chroma_encode(ctx, mb, scb, scr, pred_cb, pred_cr, qpc, mbx, mby)

    ctx.decoded[base_by : base_by + 4, base_bx : base_bx + 4] = True
    ctx.mb_done[mby, mbx] = True

    if (
        mb.mb_type == 0 and mb.refs == [0] and parts[0][5] == skip_mv
        and mb.cbp_luma == 0 and mb.cbp_chroma == 0 and spec != "16x16"
    ):
        # P_Skip: reconstruction (pure clipped MC prediction) and all
        # bookkeeping are already exactly what the decoder derives
        return None
    return mb


def _write_mb_p(w: BitWriter, ctx: _FrameCtx, mb: _MBData,
                mbx: int, mby: int) -> None:
    if not mb.inter:
        _write_mb(w, ctx, mb, mbx, mby, mb_type_offset=5)
        return
    w.ue(mb.mb_type)
    if mb.mb_type in (3, 4):
        for st in mb.sub_types:
            w.ue(st)
    if mb.mb_type != 4:
        for ref in mb.refs:
            _write_te_ref(w, ref, mb.nref)
    if mb.mb_type <= 2:
        for dx, dy in mb.mvds:
            w.se(dx)
            w.se(dy)
    else:
        for sub_mvds in mb.mvds:
            for dx, dy in sub_mvds:
                w.se(dx)
                w.se(dy)
    w.ue(_CBP_INTER_INV[mb.cbp_luma | (mb.cbp_chroma << 4)])
    if mb.cbp_luma or mb.cbp_chroma:
        _write_qp_delta(w, ctx, mb.qp)
    base_bx, base_by = mbx * 4, mby * 4
    for bx4, by4 in _LUMA_BLOCK_ORDER:
        bx, by = base_bx + bx4, base_by + by4
        group = (bx4 // 2) + 2 * (by4 // 2)
        if not (mb.cbp_luma & (1 << group)):
            ctx.nzl[by, bx] = 0
            continue
        nc = ctx.nc_luma(bx, by)
        ctx.nzl[by, bx] = cavlc_encode_block(w, mb.luma_blocks[(bx4, by4)], nc)
    _write_chroma_residual(w, ctx, mb, mbx, mby)


def _encode_p_slice(src_y, src_cb, src_cr, mb_w: int, mb_h: int, qp: int,
                    frame_num: int, dpb: list, sr: int, i16_threshold: int,
                    nref: int, force: dict | None,
                    pps_qp: int | None = None,
                    qp_map: dict | None = None,
                    ctx: _FrameCtx | None = None, first_mb: int = 0,
                    n_mbs: int | None = None,
                    slice_idx: int = 0) -> tuple[bytes, _FrameCtx]:
    if ctx is None:
        ctx = _FrameCtx(mb_w, mb_h)
    ctx.cur_slice = slice_idx
    ctx.cur_qp = qp            # the mb_qp_delta chain restarts per slice
    if n_mbs is None:
        n_mbs = mb_w * mb_h - first_mb
    w = BitWriter()
    w.ue(first_mb)             # first_mb_in_slice
    w.ue(5)                    # slice_type: P (all slices of picture)
    w.ue(0)                    # pic_parameter_set_id
    w.u(frame_num & 15, 4)     # frame_num (log2_max_frame_num == 4)
    if nref != 1:
        w.u(1, 1)              # num_ref_idx_active_override_flag
        w.ue(nref - 1)
    else:
        w.u(0, 1)
    w.u(0, 1)                  # ref_pic_list_modification_flag_l0
    w.u(0, 1)                  # adaptive_ref_pic_marking_mode_flag
    w.se(qp - (pps_qp if pps_qp is not None else qp))  # slice_qp_delta
    w.ue(1)                    # disable_deblocking_filter_idc: OFF
    skip_run = 0
    for idx in range(first_mb, first_mb + n_mbs):
        mbx, mby = idx % mb_w, idx // mb_w
        spec = force.get((mbx, mby)) if force else None
        mbqp = qp_map.get((mbx, mby), qp) if qp_map else qp
        mb = _encode_mb_p(ctx, dpb, src_y, src_cb, src_cr, mbx, mby,
                          mbqp, _QPC[min(max(mbqp, 0), 51)], sr,
                          i16_threshold, nref, spec)
        if mb is None:
            skip_run += 1
            continue
        w.ue(skip_run)
        skip_run = 0
        _write_mb_p(w, ctx, mb, mbx, mby)
    if skip_run:
        w.ue(skip_run)
    w.rbsp_trailing()
    return w.tobytes(), ctx


# ---------------------------------------------------------------------
# slice + NAL layer and the public codec API
# ---------------------------------------------------------------------


def _nal(nal_type: int, rbsp: bytes, ref_idc: int = 3) -> bytes:
    return b"\x00\x00\x00\x01" + bytes([(ref_idc << 5) | nal_type]) + rbsp_to_ebsp(rbsp)


def _encode_idr_slice(src_y, src_cb, src_cr, mb_w: int, mb_h: int, qp: int,
                      idr_pic_id: int, i16_threshold: int,
                      pcm_mbs: set | None, pps_qp: int | None = None,
                      qp_map: dict | None = None,
                      ctx: _FrameCtx | None = None, first_mb: int = 0,
                      n_mbs: int | None = None,
                      slice_idx: int = 0) -> tuple[bytes, _FrameCtx]:
    if ctx is None:
        ctx = _FrameCtx(mb_w, mb_h)
    ctx.cur_slice = slice_idx
    ctx.cur_qp = qp       # the mb_qp_delta chain restarts per slice
    if n_mbs is None:
        n_mbs = mb_w * mb_h - first_mb
    w = BitWriter()
    w.ue(first_mb)        # first_mb_in_slice
    w.ue(7)               # slice_type: I (all slices of this picture)
    w.ue(0)               # pic_parameter_set_id
    w.u(0, 4)             # frame_num (log2_max_frame_num == 4)
    w.ue(idr_pic_id)      # idr_pic_id
    w.u(0, 1)             # no_output_of_prior_pics_flag
    w.u(0, 1)             # long_term_reference_flag
    w.se(qp - (pps_qp if pps_qp is not None else qp))  # slice_qp_delta
    w.ue(1)               # disable_deblocking_filter_idc: OFF
    for idx in range(first_mb, first_mb + n_mbs):
        mbx, mby = idx % mb_w, idx // mb_w
        pcm = pcm_mbs is not None and (mbx, mby) in pcm_mbs
        mbqp = qp_map.get((mbx, mby), qp) if qp_map else qp
        mb = _encode_mb(ctx, src_y, src_cb, src_cr, mbx, mby, mbqp,
                        _QPC[min(max(mbqp, 0), 51)], i16_threshold, pcm)
        _write_mb(w, ctx, mb, mbx, mby)
    w.rbsp_trailing()
    return w.tobytes(), ctx


def _pad_to_mb(plane: np.ndarray, mb: int) -> np.ndarray:
    h, w = plane.shape
    ph = (h + mb - 1) // mb * mb
    pw = (w + mb - 1) // mb * mb
    if ph == h and pw == w:
        return plane
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def encode_h264(
    frames: np.ndarray,
    qp: int = 28,
    i16_threshold: int = 3,
    pcm_mbs: set | None = None,
    return_recon: bool = False,
    keyint: int | None = None,
    search_range: int = 4,
    num_refs: int = 1,
    force_mb: dict | None = None,
    slice_qps: list | None = None,
    qp_map: dict | None = None,
    slices: int = 1,
):
    """(n, H, W, 3) uint8 RGB → Annex-B baseline H.264 bytes.

    With the default ``keyint=None`` every frame is an independently
    decodable IDR slice (the all-intra form screen recorders and
    editing intermediates use).  With ``keyint=k`` frame i is IDR when
    ``i % k == 0`` and a P slice otherwise: block-matching motion
    search (integer ±``search_range`` then half/quarter refinement
    through the decoder's own interpolation), P_Skip detection, up to
    ``num_refs`` sliding-window reference frames, and per-MB shape
    forcing via ``force_mb`` {(frame, mbx, mby): "16x16"/"16x8"/
    "8x16"/("8x8", [sub_mb_types])/"i4"/"i16"} for coverage tests.

    ``i16_threshold`` is the mean-absolute-error gate below which a
    whole-MB Intra_16x16 predictor is chosen over per-block Intra_4x4;
    ``pcm_mbs`` forces I_PCM at those (mbx, mby) in IDR frames.

    Rate-control syntax: ``slice_qps`` gives frame i the slice QP
    ``slice_qps[i]`` (signalled via slice_qp_delta against the PPS
    ``qp``); ``qp_map`` {(frame, mbx, mby): qp} overrides single MBs
    (signalled via the chained mb_qp_delta).  An MB whose residual
    codes empty cannot carry a delta — the spec's own rule — so its
    override only affects its (all-zero) quantization.

    With ``return_recon`` the encoder's own reconstruction (== what
    any conforming decoder must output, since deblocking is disabled)
    is returned alongside the bitstream for bitwise round-trip
    pinning."""
    frames = np.asarray(frames)
    if frames.ndim != 4 or frames.shape[-1] != 3 or frames.dtype != np.uint8:
        raise ValueError("frames must be (n, H, W, 3) uint8 RGB")
    n, height, width, _ = frames.shape
    if width % 2 or height % 2:
        raise ValueError("H.264 4:2:0 needs even frame dimensions")
    if not 0 <= qp <= 51:
        raise ValueError("qp must be in [0, 51]")
    if keyint is not None and keyint < 1:
        raise ValueError("keyint must be >= 1")
    if not 1 <= num_refs <= 16:
        raise ValueError("num_refs must be in [1, 16]")
    if slice_qps is not None:
        if len(slice_qps) != n or any(not 0 <= q <= 51 for q in slice_qps):
            raise ValueError("slice_qps needs one QP in [0, 51] per frame")
    if qp_map is not None and any(
        not 0 <= q <= 51 for q in qp_map.values()
    ):
        raise ValueError("qp_map values must be in [0, 51]")
    mb_h_check = (height + 15) // 16
    if not 1 <= slices <= mb_h_check:
        raise ValueError("slices must be in [1, mb rows]")
    mb_w = (width + 15) // 16
    mb_h = (height + 15) // 16
    sps = BitWriter()
    _write_sps(sps, width, height, num_ref=num_refs)
    pps = BitWriter()
    _write_pps(pps, qp)
    out = bytearray(_nal(7, sps.tobytes()) + _nal(8, pps.tobytes()))
    recons = []
    dpb: list = []
    frame_num = 0
    idr_count = 0
    for i in range(n):
        y, cb, cr = rgb_to_yuv420(frames[i])
        y = _pad_to_mb(y, 16)
        cb = _pad_to_mb(cb, 8)
        cr = _pad_to_mb(cr, 8)
        idr = keyint is None or i % keyint == 0
        sqp = slice_qps[i] if slice_qps is not None else qp
        fmap = (
            {
                (mbx, mby): q
                for (fi, mbx, mby), q in qp_map.items()
                if fi == i
            }
            if qp_map
            else None
        )
        # horizontal MB-row bands, one slice each (the common encoder
        # slicing shape); neighbour availability stops at band edges
        starts = [round(s * mb_h / slices) for s in range(slices + 1)]
        bands = [
            (starts[s], starts[s + 1])
            for s in range(slices)
            if starts[s + 1] > starts[s]
        ]
        if idr:
            ctx = None
            for si, (r0, r1) in enumerate(bands):
                rbsp, ctx = _encode_idr_slice(
                    y, cb, cr, mb_w, mb_h, sqp, idr_count % 2,
                    i16_threshold, pcm_mbs, pps_qp=qp, qp_map=fmap,
                    ctx=ctx, first_mb=r0 * mb_w, n_mbs=(r1 - r0) * mb_w,
                    slice_idx=si,
                )
                out += _nal(5, rbsp)
            idr_count += 1
            dpb = []
            frame_num = 0
        else:
            nref = min(num_refs, len(dpb))
            force = (
                {
                    (mbx, mby): spc
                    for (fi, mbx, mby), spc in force_mb.items()
                    if fi == i
                }
                if force_mb
                else None
            )
            frame_num = (frame_num + 1) % 16
            ctx = None
            for si, (r0, r1) in enumerate(bands):
                rbsp, ctx = _encode_p_slice(
                    y, cb, cr, mb_w, mb_h, sqp, frame_num, dpb,
                    search_range, i16_threshold, nref, force,
                    pps_qp=qp, qp_map=fmap,
                    ctx=ctx, first_mb=r0 * mb_w, n_mbs=(r1 - r0) * mb_w,
                    slice_idx=si,
                )
                out += _nal(1, rbsp)
        dpb.insert(0, (ctx.y, ctx.cb, ctx.cr))
        del dpb[num_refs:]
        if return_recon:
            recons.append(
                yuv420_to_rgb(
                    ctx.y[:height, :width].astype(np.uint8),
                    ctx.cb[: (height + 1) // 2, : (width + 1) // 2].astype(np.uint8),
                    ctx.cr[: (height + 1) // 2, : (width + 1) // 2].astype(np.uint8),
                )
            )
    if return_recon:
        return bytes(out), np.stack(recons)
    return bytes(out)


def _parse_slice_header(r: BitReader, sps_map: dict, pps_map: dict,
                        idr: bool, ref_idc: int) -> dict:
    first_mb = r.ue()
    slice_type = r.ue() % 5
    if slice_type not in (0, 2):
        raise NotImplementedError(
            "B / SP / SI slice (bi-prediction or switching slices)"
        )
    if idr and slice_type != 2:
        raise ValueError("IDR picture with a non-I slice")
    pps_id = r.ue()  # pic_parameter_set_id selects the active sets
    if pps_id not in pps_map:
        raise ValueError(f"slice references unknown PPS {pps_id}")
    pps = pps_map[pps_id]
    if pps["sps_id"] not in sps_map:
        raise ValueError(f"PPS references unknown SPS {pps['sps_id']}")
    sps = sps_map[pps["sps_id"]]
    frame_num = r.u(sps["log2_max_frame_num"])
    if idr:
        r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])
        if pps["bottom_field"]:
            r.se()
    if pps["redundant"]:
        r.ue()
    num_ref = pps["num_ref_l0"]
    if slice_type == 0:  # P
        if r.u(1):  # num_ref_idx_active_override_flag
            num_ref = r.ue() + 1
        if r.u(1):  # ref_pic_list_modification_flag_l0
            raise NotImplementedError("reference picture list modification")
        if pps["weighted_pred"]:
            raise NotImplementedError("weighted prediction")
    if ref_idc:
        if idr:
            r.u(1)  # no_output_of_prior_pics_flag
            if r.u(1):  # long_term_reference_flag
                raise NotImplementedError("long-term reference pictures")
        elif r.u(1):  # adaptive_ref_pic_marking_mode_flag
            raise NotImplementedError("adaptive reference marking")
    qd = r.se()  # slice_qp_delta
    if pps["deblock_ctl"]:
        idc = r.ue()
        if idc != 1:
            raise NotImplementedError(
                "deblocking loop filter (decode would be silently unfiltered)"
            )
    else:
        raise NotImplementedError(
            "deblocking loop filter (decode would be silently unfiltered)"
        )
    return {
        "first_mb": first_mb,
        "slice_type": slice_type,
        "frame_num": frame_num,
        "num_ref": num_ref,
        "slice_qp_delta": qd,
        "sps": sps,   # the sets this slice actually activates
        "pps": pps,
    }


def _ctx_to_rgb(ctx: _FrameCtx, sps: dict) -> np.ndarray:
    crop = sps["crop"]
    x0, x1 = 2 * crop[0], sps["mb_w"] * 16 - 2 * crop[1]
    y0, y1 = 2 * crop[2], sps["mb_h"] * 16 - 2 * crop[3]
    return yuv420_to_rgb(
        ctx.y[y0:y1, x0:x1].astype(np.uint8),
        ctx.cb[y0 // 2 : (y1 + 1) // 2, x0 // 2 : (x1 + 1) // 2].astype(np.uint8),
        ctx.cr[y0 // 2 : (y1 + 1) // 2, x0 // 2 : (x1 + 1) // 2].astype(np.uint8),
    )


def peek_first_mb(rbsp: bytes) -> int:
    """first_mb_in_slice without consuming the header — 0 starts a new
    picture, >0 continues the pending one (7.4.1.2.4)."""
    return BitReader(rbsp).ue()


def _decode_slice(rbsp: bytes, sps_map: dict, pps_map: dict, idr: bool,
                  ref_idc: int, dpb: list,
                  ctx: _FrameCtx | None = None,
                  slice_idx: int = 0) -> tuple[_FrameCtx, dict]:
    """Decode one slice (I or P) against the reference list ``dpb``
    (most-recently-decoded first).  The slice's pic_parameter_set_id
    selects the active PPS/SPS from the id-keyed maps (a stream may
    carry several).  With ``ctx`` given, the slice is a CONTINUATION
    of a pending picture (first_mb > 0): MBs decode into the shared
    canvas, but neighbours across the slice boundary are unavailable
    to prediction/nC/MVP (6.4.8).  Returns the frame context + parsed
    header (with the resolved sets under hdr['sps']/'pps'); the caller
    finalizes the picture when all its slices are in."""
    r = BitReader(rbsp)
    hdr = _parse_slice_header(r, sps_map, pps_map, idr, ref_idc)
    sps, pps = hdr["sps"], hdr["pps"]
    qp = pps["init_qp"] + hdr["slice_qp_delta"]
    if not 0 <= qp <= 51:
        raise ValueError("slice QP out of range")
    mb_w, mb_h = sps["mb_w"], sps["mb_h"]
    if ctx is not None and (ctx.mb_w, ctx.mb_h) != (mb_w, mb_h):
        raise ValueError("slice SPS geometry changes mid-picture")
    total = mb_w * mb_h
    first_mb = hdr["first_mb"]
    if first_mb >= total:
        raise ValueError("first_mb_in_slice beyond picture")
    if ctx is None:
        if first_mb != 0 or slice_idx != 0:
            raise ValueError("slice continuation without a pending picture")
        ctx = _FrameCtx(mb_w, mb_h)
    elif first_mb == 0:
        raise ValueError("new picture while one is pending")
    ctx.cur_slice = slice_idx
    ctx.cur_qp = qp  # the mb_qp_delta chain restarts per slice
    ctx.chroma_qp_offset = pps["chroma_qp_offset"]
    if hdr["slice_type"] == 2:  # I
        idx = first_mb
        while True:
            if idx >= total:
                raise ValueError("slice data beyond last macroblock")
            _decode_mb(r, ctx, idx % mb_w, idx // mb_w)
            idx += 1
            if not r.more_rbsp_data():
                break
        return ctx, hdr
    # P slice
    nref = hdr["num_ref"]
    if nref > len(dpb):
        raise ValueError(
            f"P slice needs {nref} reference frame(s), {len(dpb)} decoded"
        )
    idx = first_mb
    while r.more_rbsp_data():
        run = r.ue()
        if run > total - idx:
            raise ValueError("mb_skip_run overruns picture")
        for _ in range(run):
            _decode_skip_mb(ctx, dpb, idx % mb_w, idx // mb_w)
            idx += 1
        if not r.more_rbsp_data():
            break
        if idx >= total:
            raise ValueError("slice data beyond last macroblock")
        mbx, mby = idx % mb_w, idx // mb_w
        mb_type = r.ue()
        if mb_type <= 4:
            _decode_mb_inter(r, ctx, dpb, mbx, mby, mb_type, nref)
        elif mb_type <= 30:
            _decode_mb(r, ctx, mbx, mby, mb_type - 5)
            _mark_intra_mvs(ctx, mbx, mby)
        else:
            raise ValueError(f"invalid P-slice mb_type {mb_type}")
        idx += 1
    return ctx, hdr


def _check_picture_complete(ctx: _FrameCtx) -> None:
    if not ctx.mb_done.all():
        raise ValueError("picture incomplete (slices do not cover it)")


def split_annexb(data: bytes) -> list[bytes]:
    """Annex-B byte stream → list of NAL units (header byte + EBSP)."""
    nals = []
    i = 0
    n = len(data)
    while i < n:
        # find start code
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        j += 3
        k = data.find(b"\x00\x00\x01", j)
        end = n if k < 0 else (k - 1 if k > 0 and data[k - 1] == 0 else k)
        nals.append(data[j:end])
        i = j if k < 0 else k
        if k < 0:
            break
    if not nals:
        raise ValueError("no NAL start codes in Annex-B stream")
    return nals


def decode_h264_frames(data: bytes, every_n: int = 1):
    """Yield (frame_idx, H×W×3 uint8 RGB) for every ``every_n``-th
    frame of an Annex-B baseline stream: all-intra IDR and
    IDR+P-slice (CAVLC inter prediction, sliding-window references)
    streams decode; B slices, CABAC, and deblocking-enabled streams
    raise NotImplementedError (honest fence); corrupt syntax raises
    ValueError.  All-intra streams keep the sampling fast path
    (non-yielded frames are never decoded); once a P slice is present
    every frame decodes in order because later frames reference it."""
    nals = [n for n in split_annexb(data) if n]
    has_inter = any((n[0] & 0x1F) == 1 for n in nals)
    sps_map: dict = {}
    pps_map: dict = {}
    idx = 0
    dpb: list = []
    prev_fn = None
    pending: dict | None = None   # picture being assembled from slices
    skipping = False              # all-intra fast path: drop this picture

    def finish(p):
        nonlocal prev_fn
        _check_picture_complete(p["ctx"])
        sps = p["sps"]
        maxfn = 1 << sps["log2_max_frame_num"]
        if not p["idr"] and (
            prev_fn is None
            or p["frame_num"] not in (prev_fn, (prev_fn + 1) % maxfn)
        ):
            raise ValueError("frame_num gap (lost reference frame)")
        if p["ref_idc"]:
            ctx = p["ctx"]
            dpb.insert(0, (ctx.y, ctx.cb, ctx.cr))
            del dpb[max(sps["max_num_ref"], 1):]
            prev_fn = p["frame_num"]
        return _ctx_to_rgb(p["ctx"], sps) if p["want"] else None

    for nal in nals:
        hdr = nal[0]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set")
        nal_type = hdr & 0x1F
        ref_idc = (hdr >> 5) & 3
        if nal_type == 7:
            s = parse_sps(ebsp_to_rbsp(nal[1:]))
            sps_map[s["sps_id"]] = s
        elif nal_type == 8:
            p = parse_pps(ebsp_to_rbsp(nal[1:]))
            pps_map[p["pps_id"]] = p
        elif nal_type in (1, 5):
            idr = nal_type == 5
            if not sps_map or not pps_map:
                raise ValueError("slice before SPS/PPS")
            rbsp = ebsp_to_rbsp(nal[1:])
            if peek_first_mb(rbsp) == 0:   # new picture
                if pending is not None:
                    out = finish(pending)
                    if out is not None:
                        yield pending["idx"], out
                    pending = None
                want = idx % every_n == 0
                cur_idx = idx
                idx += 1
                if not want and not has_inter:
                    skipping = True  # drop this picture's other slices too
                    continue
                skipping = False
                if idr:
                    dpb = []
                ctx, shdr = _decode_slice(
                    rbsp, sps_map, pps_map, idr, ref_idc, dpb
                )
                pending = {
                    "ctx": ctx, "idr": idr, "ref_idc": ref_idc,
                    "frame_num": shdr["frame_num"], "n_slices": 1,
                    "want": want, "idx": cur_idx, "sps": shdr["sps"],
                }
            else:                          # continuation slice
                if skipping:
                    continue
                if pending is None:
                    raise ValueError("continuation slice without a picture")
                if idr != pending["idr"]:
                    raise ValueError("mixed IDR/non-IDR slices in a picture")
                _ctx, shdr = _decode_slice(
                    rbsp, sps_map, pps_map, idr, ref_idc, dpb,
                    ctx=pending["ctx"], slice_idx=pending["n_slices"],
                )
                if shdr["frame_num"] != pending["frame_num"]:
                    raise ValueError("frame_num changes mid-picture")
                pending["n_slices"] += 1
        # SEI (6), AUD (9), filler (12)... are skipped
    if pending is not None:
        out = finish(pending)
        if out is not None:
            yield pending["idx"], out


def decode_h264(data: bytes) -> np.ndarray:
    """Annex-B all-intra stream → (n, H, W, 3) uint8 RGB stack."""
    frames = [f for _, f in decode_h264_frames(data)]
    if not frames:
        raise ValueError("no IDR frames in stream")
    return np.stack(frames)


# ---------------------------------------------------------------------
# MP4 ('avc1' + avcC) integration helpers (ISO/IEC 14496-15)
# ---------------------------------------------------------------------


def annexb_to_avcc_samples(data: bytes) -> tuple[bytes, list[bytes]]:
    """Annex-B stream → (avcC box payload, per-picture length-prefixed
    samples) — the shape an 'avc1' track stores.  A sample is one
    ACCESS UNIT: every slice NAL (IDR type 5 or P type 1) of one
    picture, grouped by the first_mb_in_slice == 0 boundary."""
    sps_nal = pps_nal = None
    samples = []
    for nal in split_annexb(data):
        t = nal[0] & 0x1F
        if t == 7:
            sps_nal = nal
        elif t == 8:
            pps_nal = nal
        elif t in (1, 5):
            chunk = struct.pack(">I", len(nal)) + nal
            if peek_first_mb(ebsp_to_rbsp(nal[1:])) == 0 or not samples:
                samples.append(chunk)
            else:
                samples[-1] += chunk
    if sps_nal is None or pps_nal is None or not samples:
        raise ValueError("stream lacks SPS/PPS/slice NALs")
    avcc = bytes([
        1,                   # configurationVersion
        sps_nal[1],          # AVCProfileIndication
        sps_nal[2],          # profile_compatibility
        sps_nal[3],          # AVCLevelIndication
        0xFF,                # lengthSizeMinusOne = 3 (4-byte lengths)
        0xE1,                # 1 SPS
    ]) + struct.pack(">H", len(sps_nal)) + sps_nal + bytes([1]) + struct.pack(
        ">H", len(pps_nal)
    ) + pps_nal
    return avcc, samples


def annexb_to_avc3_samples(data: bytes) -> tuple[bytes, list[bytes]]:
    """Annex-B stream → (parameter-set-free avcC payload, per-picture
    samples with SPS/PPS carried IN-BAND before each IDR) — the
    'avc3' convention DASH packagers use so streams can switch
    parameter sets mid-track."""
    avcc, samples = annexb_to_avcc_samples(data)
    sps_nal = pps_nal = None
    for nal in split_annexb(data):
        t = nal[0] & 0x1F
        if t == 7:
            sps_nal = nal
        elif t == 8:
            pps_nal = nal
    out = []
    for sample in samples:
        first_nal_type = sample[4] & 0x1F if len(sample) > 4 else 0
        if first_nal_type == 5:  # prepend in-band sets at each IDR
            sample = (
                struct.pack(">I", len(sps_nal)) + sps_nal
                + struct.pack(">I", len(pps_nal)) + pps_nal
                + sample
            )
        out.append(sample)
    bare = bytes(avcc[:5]) + b"\xe0\x00"  # lengthSize kept, 0 SPS, 0 PPS
    return bare, out


def parse_avcc_maps(
    avcc: bytes, require_sets: bool = True
) -> tuple[dict, dict, int]:
    """avcC payload → (sps_map, pps_map, nal_length_size) — ALL
    parameter sets keyed by id (wild tracks may carry several; the
    slice header's pic_parameter_set_id selects among them).
    ``require_sets=False`` accepts an empty record — the 'avc3'
    convention, where parameter sets arrive IN-BAND inside samples."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("bad avcC configuration record")
    length_size = (avcc[4] & 3) + 1
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps_map: dict = {}
    pps_map: dict = {}
    for _ in range(n_sps):
        if pos + 2 > len(avcc):
            raise ValueError("truncated avcC SPS list")
        (ln,) = struct.unpack_from(">H", avcc, pos)
        pos += 2
        nal = avcc[pos : pos + ln]
        pos += ln
        if len(nal) < 2:
            raise ValueError("truncated avcC SPS NAL")
        s = parse_sps(ebsp_to_rbsp(nal[1:]))
        sps_map[s["sps_id"]] = s
    if pos >= len(avcc):
        raise ValueError("truncated avcC PPS count")
    n_pps = avcc[pos]
    pos += 1
    for _ in range(n_pps):
        if pos + 2 > len(avcc):
            raise ValueError("truncated avcC PPS list")
        (ln,) = struct.unpack_from(">H", avcc, pos)
        pos += 2
        nal = avcc[pos : pos + ln]
        pos += ln
        if len(nal) < 2:
            raise ValueError("truncated avcC PPS NAL")
        p = parse_pps(ebsp_to_rbsp(nal[1:]))
        pps_map[p["pps_id"]] = p
    if require_sets and (not sps_map or not pps_map):
        raise ValueError("avcC lacks SPS or PPS")
    return sps_map, pps_map, length_size


def _iter_sample_nals(sample: bytes, length_size: int):
    pos = 0
    while pos + length_size <= len(sample):
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if pos + ln > len(sample):
            raise ValueError("NAL length overruns sample")
        nal = sample[pos : pos + ln]
        pos += ln
        if nal:
            yield nal


def sample_has_inter(sample: bytes, length_size: int) -> bool:
    """True when a length-prefixed 'avc1' sample carries a non-IDR
    (type 1) slice NAL — a cheap header scan, no decode."""
    return any(
        (nal[0] & 0x1F) == 1 for nal in _iter_sample_nals(sample, length_size)
    )


class AvccDecoder:
    """Stateful 'avc1' track decoder: carries the reference DPB and
    frame_num continuity across samples so IDR+P tracks decode in
    sample order (each sample = one picture, ISO/IEC 14496-15)."""

    def __init__(self, avcc: bytes) -> None:
        # require_sets=False: 'avc3' tracks ship an empty record and
        # deliver SPS/PPS in-band inside the samples
        self.sps_map, self.pps_map, self.length_size = parse_avcc_maps(
            avcc, require_sets=False
        )
        self.sps = (
            next(iter(self.sps_map.values())) if self.sps_map else None
        )  # probe convenience (None until in-band sets arrive)
        self._dpb: list = []
        self._prev_fn: int | None = None

    def decode_sample(self, sample: bytes) -> np.ndarray:
        ctx = None
        hdr0 = None
        idr0 = False
        ref0 = 0
        n_slices = 0
        for nal in _iter_sample_nals(sample, self.length_size):
            nal_type = nal[0] & 0x1F
            ref_idc = (nal[0] >> 5) & 3
            if nal_type == 7:   # in-band SPS ('avc3'; harmless for avc1)
                s = parse_sps(ebsp_to_rbsp(nal[1:]))
                self.sps_map[s["sps_id"]] = s
                if self.sps is None:
                    self.sps = s
                continue
            if nal_type == 8:   # in-band PPS
                p = parse_pps(ebsp_to_rbsp(nal[1:]))
                self.pps_map[p["pps_id"]] = p
                continue
            if nal_type not in (1, 5):
                continue  # SEI/AUD/filler inside a sample
            idr = nal_type == 5
            rbsp = ebsp_to_rbsp(nal[1:])
            if ctx is None:
                if peek_first_mb(rbsp) != 0:
                    raise ValueError("sample starts mid-picture")
                if idr:
                    self._dpb = []
                ctx, hdr0 = _decode_slice(
                    rbsp, self.sps_map, self.pps_map, idr, ref_idc,
                    self._dpb
                )
                idr0, ref0 = idr, ref_idc
                n_slices = 1
            else:
                if peek_first_mb(rbsp) == 0:
                    raise ValueError("two pictures in one sample")
                if idr != idr0:
                    raise ValueError("mixed IDR/non-IDR slices in a sample")
                _c, shdr = _decode_slice(
                    rbsp, self.sps_map, self.pps_map, idr, ref_idc,
                    self._dpb, ctx=ctx, slice_idx=n_slices,
                )
                if shdr["frame_num"] != hdr0["frame_num"]:
                    raise ValueError("frame_num changes mid-picture")
                n_slices += 1
        if ctx is None:
            raise ValueError("sample contains no slice NAL")
        _check_picture_complete(ctx)
        sps = hdr0["sps"]
        maxfn = 1 << sps["log2_max_frame_num"]
        if not idr0 and (
            self._prev_fn is None
            or hdr0["frame_num"]
            not in (self._prev_fn, (self._prev_fn + 1) % maxfn)
        ):
            raise ValueError("frame_num gap (lost reference frame)")
        if ref0:
            self._dpb.insert(0, (ctx.y, ctx.cb, ctx.cr))
            del self._dpb[max(sps["max_num_ref"], 1):]
            self._prev_fn = hdr0["frame_num"]
        return _ctx_to_rgb(ctx, sps)
