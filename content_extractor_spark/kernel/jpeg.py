"""Baseline JPEG codec — pure Python + numpy, no image library.

``decode_jpeg`` implements baseline sequential JPEG (SOF0):
marker walk, DQT/DHT/SOF0/SOS/DRI, huffman entropy decode with 0xFF00
unstuffing and restart markers, dequantization, de-zigzag, float64
IDCT (exact DCT-III basis, not libjpeg's fixed-point approximation),
nearest-neighbor chroma upsampling, and BT.601 YCbCr->RGB with
floor(x+0.5) rounding. Progressive (SOF2), arithmetic coding, 12-bit,
and >2x subsampling factors return None (callers surface
status='unsupported').

``encode_jpeg_solid`` emits a spec-valid baseline JPEG of a solid
color with FLAT quantization tables (all ones): a constant block has
only a DC coefficient, which quantizes losslessly, so decode returns
the encoder's YCbCr values EXACTLY — the roundtrip is bit-exact by
construction and the DuckDB oracle can reproduce the decoded means
with plain arithmetic (the same floor(x+0.5) color conversions).

Note the honesty boundary: against other encoders' output the pixel
values are within normal IDCT-implementation tolerance of libjpeg,
not bit-equal (no two JPEG decoders agree bit-for-bit unless they
share an IDCT); the structural walk, huffman, and color math are
general.
"""

from __future__ import annotations

import struct

import numpy as np

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# exact orthonormal 8-point DCT-II basis; IDCT = M.T @ block @ M
_DCT_M = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _c = np.sqrt(0.125) if _k == 0 else 0.5
        _DCT_M[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16)


class _BitReader:
    """MSB-first entropy-coded segment reader with byte unstuffing.

    A scan that needs a bit past the end of the data, or past a marker
    it has not been told to skip, is truncated or corrupt: ``bit``
    raises instead of inventing zero bits."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # pending restart/terminating marker

    def _fill(self):
        d = self.data
        while self.nbits <= 24 and self.marker is None:
            if self.pos >= len(d):
                return
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    self.marker = nxt
                    return
                else:
                    self.marker = nxt
                    return
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                raise ValueError("entropy data ended before the last MCU")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def skip_restart(self):
        """Consume a pending RSTn marker and resync."""
        # drop partial bits, step past the 2-byte marker
        self.acc = 0
        self.nbits = 0
        d = self.data
        # self.pos points AT the 0xFF of the marker
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        self.pos += 2
        self.marker = None


def _build_huffman(bits_counts, symbols):
    """JPEG canonical huffman -> {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits_counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude v to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes):
    """(fmt, width, height, channels, samples) for a baseline JPEG, or
    None if not baseline/structurally unsupported. ``samples`` is the
    row-major interleaved 8-bit raster (gray, or RGB) with every IDCT /
    color-converted value rounded floor(x+0.5) and clipped to 0..255."""
    try:
        return _decode(data)
    except Exception:
        return None


def _decode(data: bytes):
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    qt = {}
    huff_dc = {}
    huff_ac = {}
    frame = None
    restart_interval = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2
            continue
        if marker == 0xD9:
            return None  # EOI before SOS
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq == 0:
                    qt[tq] = np.array(list(seg[j : j + 64]), dtype=np.float64)
                    j += 64
                else:
                    vals = struct.unpack(">64H", seg[j : j + 128])
                    qt[tq] = np.array(vals, dtype=np.float64)
                    j += 128
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                counts = list(seg[j + 1 : j + 17])
                total = sum(counts)
                syms = list(seg[j + 17 : j + 17 + total])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(
                    counts, syms
                )
                j += 17 + total
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if prec != 8 or nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid = seg[6 + c * 3]
                hv = seg[7 + c * 3]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                     "tq": seg[8 + c * 3]}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive/arithmetic/lossless
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            ns = seg[0]
            if ns != len(frame["comps"]):
                # multi-scan baseline (one scan per component) would
                # silently decode as grayscale — refuse instead
                return None
            scan = []
            for c in range(ns):
                cs = seg[1 + c * 2]
                td_ta = seg[2 + c * 2]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append((comp, td_ta >> 4, td_ta & 0x0F))
            return _decode_scan(
                data, i + 2 + seg_len, frame, scan, qt, huff_dc, huff_ac,
                restart_interval,
            )
        i += 2 + seg_len
    return None


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac, dri):
    w, h = frame["w"], frame["h"]
    if not w or not h:
        return None  # zero-area frame (e.g. height left to a DNL marker)
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    if hmax > 2 or vmax > 2 or hmax < 1 or vmax < 1:
        return None
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # every block costs at least 2 bits (a 1-bit DC code and a 1-bit
    # EOB): refuse a declared area the remaining bytes cannot cover
    # before allocating planes for it
    blocks = mcux * mcuy * sum(c["h"] * c["v"] for c, _, _ in scan)
    if (len(data) - pos) * 8 < 2 * blocks:
        return None
    planes = []
    for comp, _, _ in scan:
        pw, ph = mcux * 8 * comp["h"], mcuy * 8 * comp["v"]
        planes.append(np.zeros((ph, pw)))
    reader = _BitReader(data, pos)
    dc_pred = [0] * len(scan)
    mt = _DCT_M.T
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                reader.skip_restart()
                dc_pred = [0] * len(scan)
            mcu_count += 1
            for ci, (comp, td, ta) in enumerate(scan):
                dct = huff_dc[td]
                act = huff_ac[ta]
                q = qt[comp["tq"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef = np.zeros(64)
                        t = _huff_decode(reader, dct)
                        diff = _extend(reader.bits(t), t)
                        dc_pred[ci] += diff
                        coef[0] = dc_pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC overflow")
                            coef[k] = _extend(reader.bits(s), s)
                            k += 1
                        block = np.zeros(64)
                        block[_ZIGZAG] = coef * q
                        px = mt @ block.reshape(8, 8) @ _DCT_M + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
    # upsample to full resolution (nearest) and crop
    full = []
    for (comp, _, _), plane in zip(scan, planes):
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        chans = full
    else:
        y, cb, cr = full
        chans = [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ]
    px = np.clip(np.floor(np.stack(chans, axis=-1) + 0.5), 0, 255)
    return ("jpeg", w, h, len(chans), px.astype(np.uint8).tobytes())


# --------------------------------------------------------------------------
# encoder (solid color, flat quant tables -> lossless roundtrip)
# --------------------------------------------------------------------------

# ITU T.81 Annex K.3 typical huffman tables (public spec data)
_DC_LUM_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_SYMS = list(range(12))
_AC_LUM_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_SYMS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _encode_table(counts, syms):
    """canonical huffman -> {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[syms[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0


def rgb_to_ycbcr(r: int, g: int, b: int):
    """BT.601 with floor(x+0.5) rounding — mirrored by the oracle."""
    import math

    y = math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
    cb = math.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 + 0.5 * b)
    cr = math.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)
    clamp = lambda v: max(0, min(255, v))
    return clamp(y), clamp(cb), clamp(cr)


def encode_jpeg_solid(w: int, h: int, rgb, restart_every: int = 0) -> bytes:
    """Spec-valid baseline JPEG of a solid color, flat quant tables.

    Every 8x8 block of a constant image has a single DC coefficient
    8*(value-128), an integer — with quant=1 it survives quantization
    exactly, so the decoder recovers the encoder's YCbCr values
    bit-for-bit (IDCT of a DC-only block is constant to ~1e-13, far
    under the 0.5 rounding margin).
    """
    y, cb, cr = rgb_to_ycbcr(*rgb)
    segs = [b"\xff\xd8"]
    flat = bytes([0]) + bytes([1] * 64)
    segs.append(b"\xff\xdb" + struct.pack(">H", 2 + len(flat)) + flat)
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])  # no subsampling, quant table 0
    segs.append(b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof)
    for tc_th, counts, syms in (
        (0x00, _DC_LUM_COUNTS, _DC_LUM_SYMS),
        (0x10, _AC_LUM_COUNTS, _AC_LUM_SYMS),
    ):
        payload = bytes([tc_th]) + bytes(counts) + bytes(syms)
        segs.append(b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload)
    if restart_every:
        # DRI: restart markers every `restart_every` MCUs (exercises
        # decoder resync + DC-predictor reset)
        segs.append(b"\xff\xdd" + struct.pack(">HH", 4, restart_every))
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    segs.append(b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos)

    dc_tab = _encode_table(_DC_LUM_COUNTS, _DC_LUM_SYMS)
    ac_tab = _encode_table(_AC_LUM_COUNTS, _AC_LUM_SYMS)
    wtr = _BitWriter()
    bx = (w + 7) // 8
    by = (h + 7) // 8
    dc_prev = [0, 0, 0]
    vals = [y, cb, cr]
    entropy_parts = []
    rst = 0
    for mcu in range(bx * by):
        if restart_every and mcu and mcu % restart_every == 0:
            wtr.flush()
            entropy_parts.append(bytes(wtr.buf))
            entropy_parts.append(bytes([0xFF, 0xD0 + (rst % 8)]))
            rst += 1
            wtr = _BitWriter()
            dc_prev = [0, 0, 0]  # predictors reset at a restart
        for ci in range(3):
            dc = 8 * (vals[ci] - 128)
            diff = dc - dc_prev[ci]
            dc_prev[ci] = dc
            if diff == 0:
                t = 0
            else:
                t = diff.bit_length() if diff > 0 else (-diff).bit_length()
            code, length = dc_tab[t]
            wtr.write(code, length)
            if t:
                mag = diff if diff > 0 else diff + (1 << t) - 1
                wtr.write(mag, t)
            code, length = ac_tab[0x00]  # EOB
            wtr.write(code, length)
    wtr.flush()
    entropy_parts.append(bytes(wtr.buf))
    segs.append(b"".join(entropy_parts))
    segs.append(b"\xff\xd9")
    return b"".join(segs)
