"""Pure-numpy baseline JPEG codec (ITU-T T.81 sequential DCT, Huffman).

Closes the last stubbed media format in the multimodal layer: JFIF
payloads decode to real pixels with no PIL/libjpeg, matching the other
stdlib codecs (imagecodec.py PPM/BMP/PNG, audiocodec.py WAV,
videocodec.py AVI).  The encoder exists so tests and synthetic corpora
can mint genuine JPEG bytes; the decoder is the production path behind
operators/multimodal.py.

Scope (the baseline process, T.81 Annex F):
* decode — SOI / APPn / COM / DQT (8-bit tables) / DRI / SOF0 / DHT /
  SOS, interleaved scan, byte-stuffing (FF 00), restart markers (RSTn),
  1- or 3-component images with 1x1 sampling factors (4:4:4) — the shape
  this encoder and most synthetic/thumbnail JPEGs use.  Progressive
  (SOF2), arithmetic coding, and subsampled chroma raise
  ``JpegDecodeError`` and fall back to the marked stub path upstream.
* encode — grayscale or YCbCr 4:4:4 baseline with the Annex K.1/K.3
  example quantization and Huffman tables, libjpeg-style quality
  scaling.

Per-block math is vectorized (the 2-D DCT/IDCT is two 8x8 matrix
products); only the entropy coder walks bit-by-bit, which is the
unavoidable serial part of the format.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegDecodeError(ValueError):
    pass


# ---- constant tables (T.81 Annex K — part of the public standard) -------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# K.1 example quantization tables (luminance / chrominance), zigzag order
_QUANT_LUM = np.array(
    [
        16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
        26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
        56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
        95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
        103, 99,
    ],
    dtype=np.int64,
)
_QUANT_CHROM = np.array(
    [
        17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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

# orthonormal 8-point DCT-II matrix: dct2d(B) = T @ B @ T.T
_T = np.zeros((8, 8))
_T[0, :] = 1.0 / np.sqrt(8.0)
for _k in range(1, 8):
    for _n in range(8):
        _T[_k, _n] = 0.5 * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-serial decoder."""
    return {(ln, code): sym for sym, (code, ln) in _build_codes(bits, vals).items()}


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table (zigzag order)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _magnitude(v: int) -> tuple[int, int]:
    """DPCM/AC coefficient -> (category, extra bits) per T.81 F.1.2.1:
    negatives are stored as the value minus one in `category` bits."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = int(a).bit_length()
    return cat, (v if v >= 0 else v + (1 << cat) - 1)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    """Entropy-segment reader: un-stuffs FF 00, stops at markers, and
    byte-aligns across RSTn restarts."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf
        if self.pos >= len(b):
            raise JpegDecodeError("truncated entropy segment")
        byte = b[self.pos]
        self.pos += 1
        if byte == 0xFF:
            nxt = b[self.pos] if self.pos < len(b) else 0xD9
            if nxt == 0x00:
                self.pos += 1
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker()
            else:
                raise JpegDecodeError("marker inside entropy segment")
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        """Next Huffman symbol under ``table`` ((length, code) -> symbol)."""
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise JpegDecodeError("invalid Huffman code")

    def restart(self) -> None:
        """Consume the RSTn marker and byte-align (T.81 E.2.4)."""
        self.acc = 0
        self.nbits = 0
        # skip to and past the FF Dn pair
        b = self.buf
        while self.pos < len(b) and b[self.pos] != 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(b) or not (0xD0 <= b[self.pos + 1] <= 0xD7):
            raise JpegDecodeError("expected restart marker")
        self.pos += 2


class _RestartMarker(Exception):
    pass


def _extend(v: int, cat: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if cat == 0:
        return 0
    if v < (1 << (cat - 1)):
        return v - (1 << cat) + 1
    return v


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=2,
    )


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H8, W8) float plane -> (n_blocks, 8, 8) in MCU raster order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def encode_baseline_jpeg(
    arr: np.ndarray, quality: int = 75, restart_interval: int = 0
) -> bytes:
    """(H, W), (H, W, 1) or (H, W, 3) uint8 -> baseline JFIF bytes
    (grayscale or YCbCr 4:4:4).  ``restart_interval`` > 0 emits DRI and
    RSTn markers every that many MCUs (exercises the decoder's restart
    path; real encoders use it for error resilience)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in (1, 3):
        raise ValueError(f"unsupported channel count {ch}")
    if h == 0 or w == 0:
        raise ValueError("empty image")
    # pad to 8x8 multiples by edge replication
    ph, pw = -h % 8, -w % 8
    padded = np.pad(arr, ((0, ph), (0, pw), (0, 0)), mode="edge")
    planes = (
        [padded[:, :, 0].astype(np.float64)]
        if ch == 1
        else list(np.moveaxis(_rgb_to_ycbcr(padded), 2, 0))
    )

    qlum = _scale_quant(_QUANT_LUM, quality)
    qchrom = _scale_quant(_QUANT_CHROM, quality)
    qtabs = [qlum] if ch == 1 else [qlum, qchrom]
    comp_q = [0] if ch == 1 else [0, 1, 1]

    # quantized zigzag coefficients per component: (n_blocks, 64) int
    coefs = []
    for ci, plane in enumerate(planes):
        b = _blocks(plane) - 128.0
        dct = np.einsum("ij,njk,lk->nil", _T, b, _T)
        zz = dct.reshape(-1, 64)[:, ZIGZAG]
        q = qtabs[comp_q[ci]]
        coefs.append(np.round(zz / q).astype(np.int64))

    dc_codes = [_build_codes(*_DC_LUM)]
    ac_codes = [_build_codes(*_AC_LUM)]
    if ch == 3:
        dc_codes.append(_build_codes(*_DC_CHROM))
        ac_codes.append(_build_codes(*_AC_CHROM))
    comp_h = [0] if ch == 1 else [0, 1, 1]

    wr = _BitWriter()
    pred = [0] * ch
    n_mcu = coefs[0].shape[0]
    rst = 0
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            wr.out = bytearray(wr.flush())  # byte-align before the marker
            wr.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            pred = [0] * ch
        for ci in range(ch):
            blk = coefs[ci][m]
            dc_tab, ac_tab = dc_codes[comp_h[ci]], ac_codes[comp_h[ci]]
            diff = int(blk[0]) - pred[ci]
            pred[ci] = int(blk[0])
            cat, extra = _magnitude(diff)
            code, ln = dc_tab[cat]
            wr.write(code, ln)
            if cat:
                wr.write(extra, cat)
            run = 0
            last_nz = int(np.max(np.nonzero(blk)[0])) if np.any(blk[1:]) else 0
            for k in range(1, last_nz + 1):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tab[0xF0]  # ZRL
                    wr.write(code, ln)
                    run -= 16
                cat, extra = _magnitude(v)
                code, ln = ac_tab[(run << 4) | cat]
                wr.write(code, ln)
                wr.write(extra, cat)
                run = 0
            if last_nz < 63:
                code, ln = ac_tab[0x00]  # EOB
                wr.write(code, ln)
    scan = wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(qtabs):
        out += seg(0xDB, bytes([ti]) + bytes(int(x) for x in q))
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for ci in range(ch):
        sof += bytes([ci + 1, 0x11, comp_q[ci]])  # id, 1x1 sampling, quant
    out += seg(0xC0, sof)
    huffs = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if ch == 3:
        huffs += [(0x01, _DC_CHROM), (0x11, _AC_CHROM)]
    for tc, (bits, vals) in huffs:
        out += seg(0xC4, bytes([tc]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ch])
    for ci in range(ch):
        td_ta = comp_h[ci] * 0x11  # same index for DC and AC
        sos += bytes([ci + 1, td_ta])
    sos += b"\x00\x3f\x00"  # spectral selection (baseline fixed)
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_baseline_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (H, W, 1|3) uint8.  Raises JpegDecodeError
    for non-baseline / subsampled / corrupt payloads."""
    b = bytes(buf)
    if b[:2] != b"\xff\xd8":
        raise JpegDecodeError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, [(comp_id, qidx)])
    restart_interval = 0
    scan_comps = None
    n = len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            raise JpegDecodeError("expected marker")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = struct.unpack_from(">H", b, pos + 2)[0]
        payload = b[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 0xF
                if pq != 0:
                    raise JpegDecodeError("16-bit quant tables unsupported")
                qtabs[tq] = np.frombuffer(
                    payload, dtype=np.uint8, count=64, offset=i + 1
                ).astype(np.int64)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(payload):
                tc, th = payload[i] >> 4, payload[i] & 0xF
                bits = list(payload[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(payload[i + 17 : i + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise JpegDecodeError("truncated DHT segment")
                huff[(tc, th)] = _build_decode_map(bits, vals)
                i += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise JpegDecodeError(f"unsupported precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                if hv != 0x11:
                    raise JpegDecodeError("subsampled chroma unsupported")
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise JpegDecodeError("non-baseline JPEG process")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", payload, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = payload[0]
            scan_comps = [
                (payload[1 + 2 * i], payload[2 + 2 * i] >> 4, payload[2 + 2 * i] & 0xF)
                for i in range(ns)
            ]
            break  # entropy data follows at `pos`
        # APPn / COM / others: skipped
    if frame is None or scan_comps is None:
        raise JpegDecodeError("missing SOF/SOS")
    h, w, comps = frame
    if len(scan_comps) != len(comps):
        raise JpegDecodeError("scan/frame component mismatch")
    qidx = {cid: tq for cid, tq in comps}

    mh, mw = (h + 7) // 8, (w + 7) // 8
    n_mcu = mh * mw
    nc = len(comps)
    coefs = np.zeros((nc, n_mcu, 64), dtype=np.int64)
    rd = _BitReader(b, pos)
    pred = [0] * nc

    m = 0
    while m < n_mcu:
        if restart_interval and m and m % restart_interval == 0:
            rd.restart()
            pred = [0] * nc
        try:
            for ci, (cid, td, ta) in enumerate(scan_comps):
                dc_tab = huff.get((0, td))
                ac_tab = huff.get((1, ta))
                if dc_tab is None or ac_tab is None:
                    raise JpegDecodeError("missing Huffman table")
                cat = rd.read_symbol(dc_tab)
                diff = _extend(rd.receive(cat), cat)
                pred[ci] += diff
                coefs[ci, m, 0] = pred[ci]
                k = 1
                while k < 64:
                    rs = rd.read_symbol(ac_tab)
                    run, size = rs >> 4, rs & 0xF
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        raise JpegDecodeError("AC run past block end")
                    coefs[ci, m, k] = _extend(rd.receive(size), size)
                    k += 1
        except _RestartMarker as exc:
            raise JpegDecodeError("unexpected restart marker") from exc
        m += 1

    planes = []
    inv_zigzag = np.argsort(ZIGZAG)
    for ci, (cid, _td, _ta) in enumerate(scan_comps):
        q = qtabs.get(qidx[cid])
        if q is None:
            raise JpegDecodeError("missing quant table")
        deq = (coefs[ci] * q)[:, inv_zigzag].reshape(-1, 8, 8).astype(np.float64)
        spatial = np.einsum("ji,njk,kl->nil", _T, deq, _T) + 128.0
        plane = (
            spatial.reshape(mh, mw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(mh * 8, mw * 8)[:h, :w]
        )
        planes.append(plane)
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    if nc == 3:
        return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
    raise JpegDecodeError(f"unsupported component count {nc}")


# ------------------------------------------------- progressive (SOF2)
# ITU T.81 Annex G: spectral selection + successive approximation.  The
# encoder emits a fixed scan script (DC first [+ DC refine], one AC
# first scan per component [+ one AC refine scan per component]) using
# only the baseline Huffman tables (EOB runs are emitted per block, so
# no EOBn symbols beyond 0x00 are needed); the decoder implements the
# GENERAL Annex G algorithms — arbitrary scan scripts, EOBRUN batching,
# ZRL-in-refinement, table redefinition between scans — in the
# IJG-documented form.  Correctness anchor: with identical quantization
# the progressive pipeline must reconstruct the EXACT same coefficient
# tensor as the baseline pipeline, so decode(progressive encode(x)) ==
# decode(baseline encode(x)) bit-for-bit (pinned in tests) — the
# transmission layers are validated against each other, not just
# round-tripped.


def encode_progressive_jpeg(
    arr: np.ndarray, quality: int = 75, successive: bool = True
) -> bytes:
    """(H, W), (H, W, 1) or (H, W, 3) uint8 -> progressive JFIF bytes
    (4:4:4, SOF2).  ``successive=True`` adds successive-approximation
    scans (Al=1 first passes + refinement passes) on top of spectral
    selection."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in (1, 3):
        raise ValueError(f"unsupported channel count {ch}")
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ph, pw = -h % 8, -w % 8
    padded = np.pad(arr, ((0, ph), (0, pw), (0, 0)), mode="edge")
    planes = (
        [padded[:, :, 0].astype(np.float64)]
        if ch == 1
        else list(np.moveaxis(_rgb_to_ycbcr(padded), 2, 0))
    )
    qlum = _scale_quant(_QUANT_LUM, quality)
    qchrom = _scale_quant(_QUANT_CHROM, quality)
    qtabs = [qlum] if ch == 1 else [qlum, qchrom]
    comp_q = [0] if ch == 1 else [0, 1, 1]
    coefs = []
    for ci, plane in enumerate(planes):
        blk = _blocks(plane) - 128.0
        dct = np.einsum("ij,njk,lk->nil", _T, blk, _T)
        zz = dct.reshape(-1, 64)[:, ZIGZAG]
        coefs.append(np.round(zz / qtabs[comp_q[ci]]).astype(np.int64))

    dc_codes = [_build_codes(*_DC_LUM)]
    ac_codes = [_build_codes(*_AC_LUM)]
    if ch == 3:
        dc_codes.append(_build_codes(*_DC_CHROM))
        ac_codes.append(_build_codes(*_AC_CHROM))
    comp_h = [0] if ch == 1 else [0, 1, 1]
    n_blocks = coefs[0].shape[0]

    def dc_first_scan(al: int) -> bytes:
        wr = _BitWriter()
        pred = [0] * ch
        for m in range(n_blocks):
            for ci in range(ch):
                v = int(coefs[ci][m][0]) >> al  # DC point transform: arith shift
                diff = v - pred[ci]
                pred[ci] = v
                cat, extra = _magnitude(diff)
                code, ln = dc_codes[comp_h[ci]][cat]
                wr.write(code, ln)
                if cat:
                    wr.write(extra, cat)
        return wr.flush()

    def dc_refine_scan(al: int) -> bytes:
        wr = _BitWriter()
        for m in range(n_blocks):
            for ci in range(ch):
                wr.write((int(coefs[ci][m][0]) >> al) & 1, 1)
        return wr.flush()

    def ac_first_scan(ci: int, al: int) -> bytes:
        wr = _BitWriter()
        tab = ac_codes[comp_h[ci]]
        for m in range(n_blocks):
            blk = coefs[ci][m]
            # point transform: magnitude shift (truncate toward zero)
            vals = [
                (abs(int(v)) >> al) * (1 if v >= 0 else -1) for v in blk
            ]
            last_nz = 0
            for k in range(1, 64):
                if vals[k]:
                    last_nz = k
            run = 0
            for k in range(1, last_nz + 1):
                v = vals[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = tab[0xF0]
                    wr.write(code, ln)
                    run -= 16
                cat, extra = _magnitude(v)
                code, ln = tab[(run << 4) | cat]
                wr.write(code, ln)
                wr.write(extra, cat)
                run = 0
            if last_nz < 63:
                code, ln = tab[0x00]  # EOB (run of 1)
                wr.write(code, ln)
        return wr.flush()

    def ac_refine_scan(ci: int, al: int) -> bytes:
        # IJG jcphuff.c encode_mcu_AC_refine, per-block EOB flush
        wr = _BitWriter()
        tab = ac_codes[comp_h[ci]]
        ah = al + 1
        for m in range(n_blocks):
            blk = coefs[ci][m]
            absv = [abs(int(v)) >> al for v in blk]
            eob = 0
            for k in range(1, 64):
                if absv[k] == 1:
                    eob = k  # last NEWLY significant coefficient
            run = 0
            pending: list[int] = []
            for k in range(1, 64):
                t = absv[k]
                if t == 0:
                    run += 1
                    continue
                while run > 15 and k <= eob:
                    code, ln = tab[0xF0]
                    wr.write(code, ln)
                    run -= 16
                    for bit in pending:
                        wr.write(bit, 1)
                    pending = []
                if t > 1:
                    # previously significant: buffer the correction bit
                    pending.append(t & 1)
                    continue
                code, ln = tab[(run << 4) | 1]
                wr.write(code, ln)
                wr.write(1 if blk[k] >= 0 else 0, 1)
                for bit in pending:
                    wr.write(bit, 1)
                pending = []
                run = 0
            if run > 0 or pending:
                code, ln = tab[0x00]  # EOBRUN of 1
                wr.write(code, ln)
                for bit in pending:
                    wr.write(bit, 1)
        return wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(qtabs):
        out += seg(0xDB, bytes([ti]) + bytes(int(x) for x in q))
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for ci in range(ch):
        sof += bytes([ci + 1, 0x11, comp_q[ci]])
    out += seg(0xC2, sof)  # SOF2: progressive
    huffs = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if ch == 3:
        huffs += [(0x01, _DC_CHROM), (0x11, _AC_CHROM)]
    for tc, (bits, vals) in huffs:
        out += seg(0xC4, bytes([tc]) + bytes(bits) + bytes(vals))

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        p = bytes([len(comp_ids)])
        for ci in comp_ids:
            td = comp_h[ci]
            ta = comp_h[ci]
            p += bytes([ci + 1, (td << 4) | ta])
        return seg(0xDA, p + bytes([ss, se, (ah << 4) | al]))

    al0 = 1 if successive else 0
    out += sos(list(range(ch)), 0, 0, 0, al0)
    out += dc_first_scan(al0)
    if successive:
        out += sos(list(range(ch)), 0, 0, 1, 0)
        out += dc_refine_scan(0)
    for ci in range(ch):
        out += sos([ci], 1, 63, 0, al0)
        out += ac_first_scan(ci, al0)
    if successive:
        for ci in range(ch):
            out += sos([ci], 1, 63, 1, 0)
            out += ac_refine_scan(ci, 0)
    out += b"\xff\xd9"
    return bytes(out)


def _find_next_marker(b: bytes, pos: int) -> int:
    """Skip entropy-coded data (stuffed 0xFF00 and RST markers) to the
    next segment marker position."""
    n = len(b)
    while pos + 1 < n:
        if b[pos] == 0xFF and b[pos + 1] != 0x00 and not (
            0xD0 <= b[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    raise JpegDecodeError("ran off the end looking for a marker")


def decode_progressive_jpeg(buf: bytes) -> np.ndarray:
    """Progressive JFIF bytes (SOF2, 4:4:4 or grayscale) -> (H, W, 1|3)
    uint8.  Implements the general Annex G scan algebra: spectral
    selection, successive approximation (DC and AC first + refinement),
    EOBRUN batching, ZRL inside refinement, interleaved DC scans."""
    b = bytes(buf)
    if b[:2] != b"\xff\xd8":
        raise JpegDecodeError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    coefs = None
    comp_idx: dict[int, int] = {}
    n_blocks = 0
    n = len(b)
    while pos + 2 <= n:
        if b[pos] != 0xFF:
            raise JpegDecodeError("expected marker")
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        length = struct.unpack_from(">H", b, pos + 2)[0]
        payload = b[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 0xF
                if pq != 0:
                    raise JpegDecodeError("16-bit quant tables unsupported")
                qtabs[tq] = np.frombuffer(
                    payload, dtype=np.uint8, count=64, offset=i + 1
                ).astype(np.int64)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(payload):
                tc, th = payload[i] >> 4, payload[i] & 0xF
                bits = list(payload[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(payload[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _build_decode_map(bits, vals)
                i += 17 + nv
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8:
                raise JpegDecodeError(f"unsupported precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                if hv != 0x11:
                    raise JpegDecodeError("subsampled chroma unsupported")
                comps.append((cid, tq))
                comp_idx[cid] = ci
            frame = (h, w, comps)
            n_blocks = ((h + 7) // 8) * ((w + 7) // 8)
            coefs = np.zeros((nc, n_blocks, 64), dtype=np.int64)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise JpegDecodeError("not a progressive (SOF2) JPEG")
        elif marker == 0xDA:
            if frame is None or coefs is None:
                raise JpegDecodeError("SOS before SOF2")
            ns = payload[0]
            scan_comps = []
            for i in range(ns):
                cid = payload[1 + 2 * i]
                tdta = payload[2 + 2 * i]
                scan_comps.append((comp_idx[cid], tdta >> 4, tdta & 0xF))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            rd = _BitReader(b, pos)
            _decode_prog_scan(
                rd, coefs, scan_comps, ss, se, ah, al, huff, n_blocks
            )
            pos = _find_next_marker(b, rd.pos)
    if frame is None or coefs is None:
        raise JpegDecodeError("missing SOF2")
    h, w, comps = frame
    mh, mw = (h + 7) // 8, (w + 7) // 8
    planes = []
    inv_zigzag = np.argsort(ZIGZAG)
    for ci, (cid, tq) in enumerate(comps):
        q = qtabs.get(tq)
        if q is None:
            raise JpegDecodeError("missing quant table")
        deq = (coefs[ci] * q)[:, inv_zigzag].reshape(-1, 8, 8).astype(np.float64)
        spatial = np.einsum("ji,njk,kl->nil", _T, deq, _T) + 128.0
        plane = (
            spatial.reshape(mh, mw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(mh * 8, mw * 8)[:h, :w]
        )
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    if len(planes) == 3:
        return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
    raise JpegDecodeError(f"unsupported component count {len(planes)}")


def _decode_prog_scan(
    rd, coefs, scan_comps, ss, se, ah, al, huff, n_blocks
) -> None:
    if ss == 0:  # DC scan (interleaved over all scan components)
        if se != 0:
            raise JpegDecodeError("DC scan with Se != 0")
        if ah == 0:
            pred = [0] * len(scan_comps)
            for m in range(n_blocks):
                for si, (ci, td, _ta) in enumerate(scan_comps):
                    tab = huff.get((0, td))
                    if tab is None:
                        raise JpegDecodeError("missing DC Huffman table")
                    cat = rd.read_symbol(tab)
                    diff = _extend(rd.receive(cat), cat)
                    pred[si] += diff
                    coefs[ci, m, 0] = pred[si] << al
        else:
            for m in range(n_blocks):
                for ci, _td, _ta in scan_comps:
                    if rd.bit():
                        coefs[ci, m, 0] |= 1 << al
        return
    # AC scan: single component required
    if len(scan_comps) != 1:
        raise JpegDecodeError("interleaved AC scan")
    ci, _td, ta = scan_comps[0]
    tab = huff.get((1, ta))
    if tab is None:
        raise JpegDecodeError("missing AC Huffman table")
    eobrun = 0
    p1 = 1 << al
    m1 = -(1 << al)
    if ah == 0:  # AC first scan
        for m in range(n_blocks):
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = rd.read_symbol(tab)
                run, size = rs >> 4, rs & 0xF
                if size == 0:
                    if run == 15:
                        k += 16
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += rd.receive(run)
                    break
                k += run
                if k > se:
                    raise JpegDecodeError("AC run past band end")
                coefs[ci, m, k] = _extend(rd.receive(size), size) << al
                k += 1
        return
    # AC refinement scan (IJG jdphuff.c decode_mcu_AC_refine)
    for m in range(n_blocks):
        blk = coefs[ci, m]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = rd.read_symbol(tab)
                run, size = rs >> 4, rs & 0xF
                newval = 0
                if size == 0:
                    if run != 15:
                        eobrun = (1 << run)
                        if run:
                            eobrun += rd.receive(run)
                        break
                    # ZRL: skip 16 zero-history positions
                else:
                    if size != 1:
                        raise JpegDecodeError("AC refine size != 1")
                    newval = p1 if rd.bit() else m1
                while k <= se:
                    if blk[k] != 0:
                        if rd.bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        run -= 1
                        if run < 0:
                            break
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    if rd.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            eobrun -= 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Any supported JFIF payload -> (H, W, 1|3) uint8: routes to the
    baseline or progressive decoder by the frame marker."""
    b = bytes(buf)
    pos = 2
    n = len(b)
    while pos + 4 <= n and b[pos] == 0xFF:
        marker = b[pos + 1]
        if marker == 0xC2:
            return decode_progressive_jpeg(b)
        if marker in (0xC0, 0xC1):
            return decode_baseline_jpeg(b)
        if marker in (0xD9, 0xDA):
            break
        length = struct.unpack_from(">H", b, pos + 2)[0]
        pos += 2 + length
    return decode_baseline_jpeg(b)
