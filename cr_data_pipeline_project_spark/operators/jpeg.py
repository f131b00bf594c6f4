"""Baseline JPEG (ITU-T T.81) codec — from scratch, stdlib + numpy.

The last image-codec seam closed for real: a complete baseline
sequential DCT encoder/decoder pair with no PIL/libjpeg —

- encoder: JFIF markers, RGB→YCbCr (BT.601 full-range, the JFIF
  convention), optional 4:2:0 chroma subsampling (2×2 box average),
  8×8 FDCT via the orthonormal DCT-II matrix, Annex-K quantization
  tables, zigzag, DC differencing, the Annex-K canonical Huffman
  tables, byte stuffing;
- decoder: marker walk (SOI/APP*/COM skip, DQT, SOF0, DHT, DRI, SOS,
  EOI), canonical Huffman table reconstruction, bit reader with
  0xFF00 unstuffing and RSTn handling, DC-predictor chains, run-
  length AC with ZRL/EOB, dezigzag, dequantize, IDCT, chroma
  upsample by replication, YCbCr→RGB, crop to the true dimensions.

Exactness seam used by the gate query (q237): a CONSTANT fill with
an even 8-bit value survives the whole lossy pipeline bit-exactly —
only the DC coefficient is nonzero, Annex-K Q[0,0]=16 divides 8·
(v−128) when v is even, so quantize→dequantize→IDCT reproduces v.
That closed form is what the DuckDB oracle predicts; any corruption
in the marker layout, Huffman tables, bit packing, zigzag, or DCT
normalization breaks it.

Scale posture: identical to every other codec kernel here — decode
runs inside Arrow batches in ``multimodal.decode_media_features``;
payload bytes never shuffle. The entropy loop is per-symbol Python
(the honest algorithm; a production deployment swaps in libjpeg-
turbo behind the same kernel signature) — partition sizing by bytes
is what matters at 100 TB, not this constant factor.

Reference parity note: the reference pipeline stores media as opaque
URLs and never decodes (SURVEY §2 multimodal gap); this module is
part of the beyond-reference training-data surface.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 — the example quantization tables, used
# unscaled (the "quality 50" point every JPEG tool derives from).
QTABLE_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

QTABLE_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient
_Z = []
for s in range(15):
    ks = range(0, s + 1)
    diag = [(s - j, j) for j in ks if s - j < 8 and j < 8]
    _Z.extend(diag if s % 2 else diag[::-1])
ZIGZAG = _Z

# Annex K.3 canonical Huffman specs: (BITS[1..16], HUFFVAL)
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
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
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II matrix: FDCT = M @ B @ M.T scaled so a
# constant block of value c yields DC = 8c and zero AC
_M = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _M[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_M *= 0.5
_M[0] *= 1.0 / np.sqrt(2.0)


def _canonical_codes(bits, huffval):
    """BITS/HUFFVAL → {symbol: (code, length)} per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits, huffval):
    """BITS/HUFFVAL → {(length, code): symbol} for the bit reader."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _category(v: int) -> int:
    """Bit category of a DC difference / AC value (T.81 F.1.2.1)."""
    return int(abs(v)).bit_length()


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def write_value(self, v: int) -> None:
        """Amplitude bits: negative values use the one's-complement
        convention (T.81 F.1.4.1)."""
        cat = _category(v)
        if cat:
            self.write(v if v >= 0 else v + (1 << cat) - 1, cat)

    def pad_to_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits

    def emit_marker(self, byte2: int) -> None:
        """Byte-align and write a bare marker (used for RSTn)."""
        self.pad_to_byte()
        self.buf.append(0xFF)
        self.buf.append(byte2)

    def finish(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.buf)


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 unstuffing, RSTn exposed
    to the caller, EOI stops the stream."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # a real marker terminates entropy data
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.read_bit()
        return v

    def huff_decode(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def restart(self) -> None:
        """Consume an RSTn marker between restart intervals and
        realign to a byte boundary."""
        self.acc = 0
        self.nbits = 0
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            self.pos += 2
            self.marker = None
            return
        # marker may not have been reached yet: scan forward
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing JPEG restart marker")


def _extend(v: int, cat: int) -> int:
    """Inverse of the amplitude convention (T.81 F.2.2.1)."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _fdct_quant(block, qtable):
    """Level-shifted 8×8 block → quantized coefficient grid.
    Quantization rounds half away from zero (deterministic, no
    banker's surprises)."""
    coef = _M @ block @ _M.T
    scaled = coef / qtable
    return (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int32)


def _rgb_to_ycbcr(rgb):
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return y, cb, cr


def _ycbcr_to_rgb(y, cb, cr):
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _pad_to(arr, bh: int, bw: int):
    """Edge-replicate to multiples of (bh, bw)."""
    h, w = arr.shape
    ph = (-h) % bh
    pw = (-w) % bw
    return np.pad(arr, ((0, ph), (0, pw)), mode="edge")


def _encode_component_block(writer, block_q, pred, dc_codes, ac_codes):
    """One quantized block → Huffman bits. Returns the new DC
    predictor."""
    zz = [int(block_q[r, c]) for r, c in ZIGZAG]
    diff = zz[0] - pred
    cat = _category(diff)
    writer.write(*dc_codes[cat])
    writer.write_value(diff)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            writer.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        writer.write(*ac_codes[(run << 4) | _category(v)])
        writer.write_value(v)
        run = 0
    if last_nz != 63:
        writer.write(*ac_codes[0x00])  # EOB
    return zz[0]


def encode_baseline(
    img, subsample: str = "444", restart_interval: int = 0
) -> bytes:
    """Encode an (H, W, 3) RGB or (H, W) grayscale uint8 array as a
    genuine baseline JFIF JPEG (Annex-K tables, ``subsample`` =
    '444' or '420' for 2×2 box-averaged chroma;
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    with DC-predictor resets every N MCUs — the error-resilience
    layout big scanned corpora actually contain)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsample not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsample}")
    if gray:
        comps = [(_pad_to(img.astype(np.float64), 8, 8), 0, (1, 1))]
    else:
        y, cb, cr = _rgb_to_ycbcr(img)
        if subsample == "420":
            yp = _pad_to(y, 16, 16)
            # 2x2 box average, then pad chroma to 8
            cbp = _pad_to(cb, 2, 2)
            crp = _pad_to(cr, 2, 2)
            cbs = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            crs = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            comps = [
                (yp, 0, (2, 2)),
                (_pad_to(cbs, 8, 8), 1, (1, 1)),
                (_pad_to(crs, 8, 8), 1, (1, 1)),
            ]
        else:
            comps = [
                (_pad_to(y, 8, 8), 0, (1, 1)),
                (_pad_to(cb, 8, 8), 1, (1, 1)),
                (_pad_to(cr, 8, 8), 1, (1, 1)),
            ]

    qts = [QTABLE_LUMA, QTABLE_CHROMA]
    dc_codes = [_canonical_codes(*DC_LUMA_SPEC), _canonical_codes(*DC_CHROMA_SPEC)]
    ac_codes = [_canonical_codes(*AC_LUMA_SPEC), _canonical_codes(*AC_CHROMA_SPEC)]

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid in range(1 if gray else 2):
        zz = bytes(int(qts[tid][r, c]) for r, c in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz
    # SOF0
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    hv = [(c[2][0] << 4) | c[2][1] for c in comps]
    for i, (_, tid, _) in enumerate(comps):
        sof += bytes([i + 1, hv[i], tid])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for cls, tid, spec in (
        (0, 0, DC_LUMA_SPEC), (1, 0, AC_LUMA_SPEC),
        (0, 1, DC_CHROMA_SPEC), (1, 1, AC_CHROMA_SPEC),
    ):
        if gray and tid == 1:
            continue
        bits, huffval = spec
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(huffval)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for i, (_, tid, _) in enumerate(comps):
        sos += bytes([i + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    preds = [0] * len(comps)
    mcu_count = 0
    rst = 0
    hmax = max(c[2][0] for c in comps)
    vmax = max(c[2][1] for c in comps)
    mcu_w = 8 * hmax
    mcu_h = 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    # pre-quantize every block per component
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.emit_marker(0xD0 + rst % 8)
                rst += 1
                preds = [0] * len(comps)
            mcu_count += 1
            for ci, (plane, tid, (ch_, cv_)) in enumerate(comps):
                for by in range(cv_):
                    for bx in range(ch_):
                        y0 = (my * cv_ + by) * 8
                        x0 = (mx * ch_ + bx) * 8
                        # planes were padded to full MCU coverage
                        block = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        q = _fdct_quant(block, qts[tid])
                        preds[ci] = _encode_component_block(
                            writer, q, preds[ci], dc_codes[tid], ac_codes[tid]
                        )
    out += writer.finish()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _parse_jpeg(payload: bytes):
    """Decode a baseline JPEG → (width, height, channels, H×W×C
    uint8 grid). Supports 8-bit baseline sequential (SOF0), 1 or 3
    components, sampling factors 1–2, restart intervals."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables = {}
    dc_tables = {}
    ac_tables = {}
    sof = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            raise ValueError("JPEG ended before scan data")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("unsupported 16-bit quant table")
                tbl = np.zeros((8, 8), dtype=np.int32)
                for k, (r, c) in enumerate(ZIGZAG):
                    tbl[r, c] = seg[p + 1 + k]
                qtables[tq] = tbl
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                huffval = list(seg[p + 17 : p + 17 + n])
                (dc_tables if cls == 0 else ac_tables)[tid] = _decode_table(bits, huffval)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            hh, ww = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            sof = (ww, hh, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG SOF type 0x{marker:02x} (baseline only)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tids = seg[1 + 2 * i : 3 + 2 * i]
                scan.append((cs, tids >> 4, tids & 0x0F))
            return _decode_scan(
                payload, pos + 2 + seglen, sof, scan,
                qtables, dc_tables, ac_tables, restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("JPEG has no SOS marker")


def _decode_scan(payload, pos, sof, scan, qtables, dc_tables, ac_tables, dri):
    w, h, comps = sof
    if w <= 0 or h <= 0:
        raise ValueError("degenerate JPEG dimensions")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("unsupported JPEG sampling factors > 2")
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {cid: (ch, cv, tq) for cid, ch, cv, tq in comps}
    planes = {}
    for cid, ch, cv, tq in comps:
        planes[cid] = np.zeros((mcus_y * cv * 8, mcus_x * ch * 8), dtype=np.float64)
    reader = _BitReader(payload, pos)
    preds = {cid: 0 for cid, _, _, _ in comps}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                reader.restart()
                preds = {cid: 0 for cid in preds}
            for cs, dtid, atid in scan:
                ch, cv, tq = by_id[cs]
                if tq not in qtables or dtid not in dc_tables or atid not in ac_tables:
                    raise ValueError("JPEG scan references missing table")
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int32)
                        sym = reader.huff_decode(dc_tables[dtid])
                        diff = _extend(reader.receive(sym), sym)
                        preds[cs] += diff
                        zz[0] = preds[cs]
                        k = 1
                        while k < 64:
                            rs = reader.huff_decode(ac_tables[atid])
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            zz[k] = _extend(reader.receive(rs & 0x0F), rs & 0x0F)
                            k += 1
                        coef = np.zeros((8, 8), dtype=np.float64)
                        for kk, (r, c) in enumerate(ZIGZAG):
                            coef[r, c] = zz[kk]
                        coef *= qtables[tq]
                        block = _M.T @ coef @ _M + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[cs][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1
    # upsample subsampled components to full resolution by replication
    full = {}
    for cid, ch, cv, tq in comps:
        p = planes[cid]
        if ch < hmax:
            p = np.repeat(p, hmax // ch, axis=1)
        if cv < vmax:
            p = np.repeat(p, vmax // cv, axis=0)
        full[cid] = p[:h, :w]
    if len(comps) == 1:
        g = np.clip(np.round(full[comps[0][0]]), 0, 255).astype(np.uint8)
        return w, h, 1, g[:, :, None]
    if len(comps) == 3:
        ids = [c[0] for c in comps]
        rgb = _ycbcr_to_rgb(full[ids[0]], full[ids[1]], full[ids[2]])
        return w, h, 3, rgb
    raise ValueError(f"unsupported JPEG component count {len(comps)}")


def decode_jpeg_features(payload: bytes) -> dict:
    """REAL baseline JPEG decode → the image feature contract of
    ``multimodal`` (its module docstring: per-channel means + Rec.601
    luma in [0, 1]; a gray JPEG follows the gray rule)."""
    from . import multimodal

    return multimodal._image_features("image/jpeg", payload)


def synth_jpeg(width: int, height: int, value: int, subsample: str = "444") -> bytes:
    """Deterministic JPEG synthesizer: a genuine baseline JFIF
    container filled with one constant 8-bit value. With an EVEN
    value the whole lossy pipeline is exact (DC = 8·(v−128) divides
    Annex-K Q[0,0] = 16), which is what the q237 oracle predicts."""
    return encode_baseline(
        np.full((height, width, 3), value % 256, dtype=np.uint8),
        subsample=subsample,
    )
