"""Pure-python/numpy image codecs: PNG and JPEG (+ dispatch).

Round 2 left compressed formats as a declared plug-in boundary
(``decode_ppm`` was the only real decode).  The reference corpus arrives
compressed — ``.jpg`` scans (ML/google_vision/run_gvision_ocr.py:86) fed
to autocrop (data_prep/NMAH_Ledgers/autocrop.py:22-55) — so this module
closes the boundary with no codec libraries, which the container lacks:

- **PNG**: full decoder across bit depths — 1/2/4/8-bit gray and
  palette, 8-bit RGB / gray+alpha / RGBA, 16-bit gray/RGB/alpha
  (high-byte reduction), all five scanline filters, Adam7 interlace
  (seven independently filtered sub-images scattered onto the raster),
  zlib (stdlib) inflate; plus a filter-0 RGB encoder (fixtures + sinks).
- **JPEG**: 8-bit Huffman-coded decoder — baseline sequential (SOF0),
  extended sequential (SOF1, decoded through the baseline path) and
  progressive (SOF2): canonical Huffman, spectral selection +
  successive approximation (DC/AC first and refinement scans, EOB
  runs), dequant, batched 8×8 IDCT, chroma upsampling for 4:4:4 /
  4:2:2 / 4:2:0, restart markers — plus baseline and progressive
  encoders used by fixtures.  Lossless (SOF3), hierarchical (DHP,
  SOF5-7), arithmetic (SOF9-11, SOF13-15) and non-8-bit frames raise a
  ``ValueError`` that names the marker.

Performance shape: the bit-serial parts (Huffman, PNG sub/avg/paeth
filters) are honest per-element Python — fine because decode
PARALLELISM comes from Spark partitions (one image per row inside an
Arrow batch), not from the per-image kernel; everything block-shaped
(IDCT, dequant, color transform, upsample) is vectorized numpy over all
blocks of a component at once.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per color type: gray, RGB, palette, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8 RGB (alpha dropped, palette resolved)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(data):
        ln, typ = struct.unpack(">I4s", data[pos : pos + 8])
        pos += 8
        chunk = data[pos : pos + ln]
        pos += ln + 4  # payload + CRC (CRC not verified: decode, don't audit)
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    if depth != 8:
        # non-8-bit depths: filtering is byte-domain (PNG spec §9 — bpp
        # rounds up to 1 for sub-byte), then samples unpack MSB-first
        # (sub-byte) or reduce to the high byte (16-bit).  Interlaced
        # non-8-bit streams are rare enough to reject explicitly.
        if interlace != 0:
            raise ValueError(
                f"interlaced {depth}-bit PNG not supported (Adam7 is "
                "implemented for 8-bit only)"
            )
        if depth == 16:
            if color == 3:
                raise ValueError("16-bit paletted PNG is illegal")
            rows = _png_unfilter_rows(raw, 0, w * ch * 2, h, ch * 2)
            if rows.shape[0] * (rows.shape[1] + 1) != len(raw):
                raise ValueError("PNG raster size mismatch")
            img = rows.reshape(h, w, ch, 2)[:, :, :, 0]  # big-endian hi
        else:
            if color not in (0, 3):
                raise ValueError(
                    f"depth {depth} is only legal for gray/palette PNG"
                )
            row_bytes = (w * depth + 7) // 8
            if len(raw) != h * (row_bytes + 1):
                raise ValueError("PNG raster size mismatch")
            rows = _png_unfilter_rows(raw, 0, row_bytes, h, 1)
            bits = np.unpackbits(rows, axis=1)
            if depth == 1:
                vals = bits[:, :w]
            else:
                weights = (1 << np.arange(depth - 1, -1, -1)).astype(
                    np.uint8
                )
                vals = (
                    (bits.reshape(h, -1, depth) * weights).sum(axis=2)
                )[:, :w]
            if color == 3:
                if plte is None:
                    raise ValueError("paletted PNG missing PLTE")
                return plte[vals]
            # gray sample scaling v * 255/(2^d - 1) is exact for d=1,2,4
            g = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
            return np.repeat(g[:, :, None], 3, axis=2)
    elif interlace == 0:
        if len(raw) != h * (w * ch + 1):
            raise ValueError("PNG raster size mismatch")
        img = _png_unfilter(raw, 0, w, h, ch).reshape(h, w, ch)
    else:
        img = _adam7_deinterlace(raw, w, h, ch)
    if color == 3:
        if plte is None:
            raise ValueError("paletted PNG missing PLTE")
        return plte[img[:, :, 0]]
    if ch == 1:
        return np.repeat(img, 3, axis=2)
    if ch == 2:  # gray+alpha → gray replicated
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]  # RGB / RGBA → RGB


def _png_unfilter(raw: bytes, pos: int, w: int, h: int, ch: int) -> np.ndarray:
    """Reverse PNG scanline filters over one 8-bit sub-image region:
    consumes ``h * (w*ch + 1)`` bytes at ``pos``, returns (h, w*ch)."""
    return _png_unfilter_rows(raw, pos, w * ch, h, ch)


def _png_unfilter_rows(
    raw: bytes, pos: int, stride: int, h: int, ch: int
) -> np.ndarray:
    """Byte-domain unfilter (PNG spec §9): ``stride`` bytes per scanline,
    ``ch`` = filter displacement in BYTES (bpp, min 1 — so sub-byte
    depths pass 1 and 16-bit depths pass channels*2)."""
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += stride + 1
        if f == 0:
            pass
        elif f == 2:  # up — fully vectorized (uint8 wraps mod 256)
            line += prev
        elif f == 1:  # sub — serial in x
            ln = line.tolist()
            for i in range(ch, stride):
                ln[i] = (ln[i] + ln[i - ch]) & 0xFF
            line = np.asarray(ln, np.uint8)
        elif f == 3:  # average
            ln, pv = line.tolist(), prev.tolist()
            for i in range(stride):
                a = ln[i - ch] if i >= ch else 0
                ln[i] = (ln[i] + ((a + pv[i]) >> 1)) & 0xFF
            line = np.asarray(ln, np.uint8)
        elif f == 4:  # paeth
            ln, pv = line.tolist(), prev.tolist()
            for i in range(stride):
                a = ln[i - ch] if i >= ch else 0
                b = pv[i]
                c = pv[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                ln[i] = (ln[i] + pred) & 0xFF
            line = np.asarray(ln, np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = line
        prev = line
    return out


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _adam7_deinterlace(raw: bytes, w: int, h: int, ch: int) -> np.ndarray:
    """Adam7: seven independently-filtered sub-images scattered onto the
    full raster (each pass restarts filtering with a zero 'prior' line —
    PNG spec §8.2; empty passes contribute zero bytes)."""
    img = np.zeros((h, w, ch), np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        sub = _png_unfilter(raw, pos, pw, ph, ch).reshape(ph, pw, ch)
        pos += ph * (pw * ch + 1)
        img[y0::dy, x0::dx] = sub
    if pos != len(raw):
        raise ValueError("PNG raster size mismatch (Adam7)")
    return img


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → PNG, filter 0 scanlines (lossless);
    ``interlace=True`` writes the Adam7 pass layout."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    if not interlace:
        raster = np.concatenate(
            [np.zeros((h, 1), np.uint8), img.reshape(h, w * 3)], axis=1
        ).tobytes()
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            parts.append(
                np.concatenate(
                    [np.zeros((ph, 1), np.uint8), sub.reshape(ph, pw * 3)],
                    axis=1,
                ).tobytes()
            )
        raster = b"".join(parts)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raster, 6))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# JPEG (baseline SOF0 + progressive SOF2)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8x8 DCT-II basis matrix: _DCT_C[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_DCT_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
        _DCT_C[_u, _x] = 0.5 * _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# ITU-T T.81 Annex K.1 quantization tables
QTABLE_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QTABLE_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (BITS counts 1..16, HUFFVAL)
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _build_huff(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: {(length, code) -> value}."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data with 0xFF00
    byte-stuffing removal and restart-marker awareness."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif 0xD0 <= nxt <= 0xD7:
                # restart marker reached mid-read: feed 0 padding; the MCU
                # loop consumes the marker via expect_rst()
                self.pos -= 1
                self.acc = (self.acc << 8) & 0xFFFFFFFFFFFF
                self.n += 8
                return
            else:
                # EOI or other marker: pad with zeros (spec: scan ends)
                self.pos -= 1
                self.acc = (self.acc << 8) & 0xFFFFFFFFFFFF
                self.n += 8
                return
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFFFF
        self.n += 8

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            self._fill()
        self.n -= nbits
        v = (self.acc >> self.n) & ((1 << nbits) - 1)
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | self.read(1)
            length += 1
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def expect_rst(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc, self.n = 0, 0  # drop padding bits
        d = self.data
        while d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


def _extend(v: int, s: int) -> int:
    """JPEG EXTEND: map s-bit magnitude to signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _ScanState:
    """Per-scan entropy state: DC predictors + shared EOB run."""

    def __init__(self, comps: list) -> None:
        self.preds = {cid: 0 for cid, *_ in comps}
        self.eobrun = 0

    def reset(self) -> None:
        for k in self.preds:
            self.preds[k] = 0
        self.eobrun = 0


def _decode_dc(
    br: _BitReader, st: _ScanState, coef: np.ndarray, cid: int,
    dc_t: dict, ah: int, al: int,
) -> None:
    """DC band of one block: first pass decodes a shifted diff, a
    refinement pass (Ah > 0) appends one correction bit (spec G.1.2.1)."""
    if ah == 0:
        s = br.huff(dc_t)
        diff = _extend(br.read(s), s) if s else 0
        st.preds[cid] += diff
        coef[0] = st.preds[cid] << al
    elif br.read(1):
        coef[0] |= 1 << al

def _decode_ac_first(
    br: _BitReader, st: _ScanState, coef: np.ndarray,
    ac_t: dict, ss: int, se: int, al: int,
) -> None:
    """AC band, first pass (Ah = 0): run-length + EOBn codes, new
    coefficients arrive shifted by Al (spec G.1.2.2).  With
    ss=1→se=63, al=0 this is exactly the baseline AC loop (EOB ≡ EOB0)."""
    if st.eobrun > 0:
        st.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = br.huff(ac_t)
        r, sz = rs >> 4, rs & 15
        if sz == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            st.eobrun = (1 << r) - 1
            if r:
                st.eobrun += br.read(r)
            break  # EOBn covers this block
        k += r
        if k > se:
            raise ValueError("AC index overflow")
        coef[k] = _extend(br.read(sz), sz) << al
        k += 1


def _decode_ac_refine(
    br: _BitReader, st: _ScanState, coef: np.ndarray,
    ac_t: dict, ss: int, se: int, al: int,
) -> None:
    """AC band, refinement pass (Ah > 0): correction bits for
    already-nonzero coefficients, newly-significant ±1<<Al insertions
    (spec G.1.2.3 / the libjpeg decode_mcu_AC_refine algorithm)."""
    p1 = 1 << al

    def correct(k: int) -> None:
        # EOB region: only correction bits, at nonzero positions
        while k <= se:
            if coef[k] != 0:
                if br.read(1) and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else -p1
            k += 1

    if st.eobrun > 0:
        # whole block lies inside an existing EOB run
        correct(ss)
        st.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = br.huff(ac_t)
        r, sz = rs >> 4, rs & 15
        val = 0
        if sz == 0:
            if r < 15:
                # EOBn: this block's remainder gets correction bits; the
                # run then covers the NEXT (run-1) whole blocks
                st.eobrun = (1 << r) - 1
                if r:
                    st.eobrun += br.read(r)
                correct(k)
                return
            # r == 15 (ZRL): skip over 16 zero-history positions
        else:
            if sz != 1:
                raise ValueError("bad refinement magnitude")
            val = p1 if br.read(1) else -p1
        while k <= se:
            if coef[k] != 0:
                # correction bit for an already-nonzero coefficient
                if br.read(1) and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else -p1
            else:
                if r == 0:
                    if val:
                        coef[k] = val
                    k += 1
                    break
                r -= 1
            k += 1


def _skip_entropy(data: bytes, pos: int) -> int:
    """Advance past entropy-coded bytes to the next real marker."""
    while pos < len(data) - 1:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return len(data)


# Frame markers outside the decoder: lossless (SOF3), differential /
# hierarchical (SOF5-7 and the DHP header) and arithmetic-coded
# (SOF9-11, SOF13-15).  Each is rejected by name rather than skipped as
# an unknown segment, which would surface later as "missing SOF/SOS".
_UNSUPPORTED_FRAMES = frozenset(
    (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF, 0xDE)
)


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG → (h, w, 3) uint8 RGB.  8-bit Huffman-coded frames only:
    baseline sequential (SOF0), extended sequential (SOF1) and
    progressive (SOF2: spectral selection + successive approximation,
    DC/AC first and refinement scans, EOB runs, restart intervals)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None
    restart = 0
    coefs: dict[int, np.ndarray] = {}  # cid -> (bh, bw, 64) zigzag-order
    grid: dict[int, tuple[int, int, int, int]] = {}  # cid -> bw,bh grid+used
    n_scans = 0
    hmax = vmax = mcux = mcuy = 0
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if marker in _UNSUPPORTED_FRAMES:
            name = "DHP" if marker == 0xDE else f"SOF{marker - 0xC0}"
            raise ValueError(
                f"unsupported JPEG frame 0xFF{marker:02X} ({name})"
            )
        ln = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                # 16-bit tables (pq=1) belong to 12-bit frames, which
                # the SOF precision check rejects by name
                if pq == 0:
                    qtables[tq] = np.frombuffer(
                        seg, np.uint8, 64, i + 1
                    ).astype(np.int64)
                i += 65 + 64 * pq
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(
                    f"unsupported JPEG frame 0xFF{marker:02X} "
                    f"(SOF{marker - 0xC0}) precision {prec}: 8-bit only"
                )
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for cid, hi, v, _ in comps:
                # padded MCU grid; non-interleaved scans cover only
                # the component's true block dims (spec A.2.2)
                gw, gh = mcux * hi, mcuy * v
                cw = -(-(w * hi) // hmax)  # component dims (ceil)
                ch = -(-(h * v) // vmax)
                bw = -(-cw // 8)
                bh = -(-ch // 8)
                coefs[cid] = np.zeros((gh, gw, 64), np.int64)
                grid[cid] = (gw, gh, bw, bh)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _build_huff(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            pos += ln
            h, w, comps = frame
            scan_tabs = {cs: (dc, ac) for cs, dc, ac in scan}
            br = _BitReader(data, pos)
            st = _ScanState(comps)
            if len(scan) > 1 or (ss == 0 and len(scan) == len(comps)):
                # interleaved MCU order (DC and/or baseline full-band)
                scomps = [c for c in comps if c[0] in scan_tabs]
                for m in range(mcux * mcuy):
                    if restart and m and m % restart == 0:
                        br.expect_rst()
                        st.reset()
                    my, mx = divmod(m, mcux)
                    for cid, hi, v, _tq in scomps:
                        dc_id, ac_id = scan_tabs[cid]
                        for by in range(v):
                            for bx in range(hi):
                                coef = coefs[cid][my * v + by, mx * hi + bx]
                                if ss == 0:
                                    _decode_dc(
                                        br, st, coef, cid,
                                        huff[(0, dc_id)], ah, al,
                                    )
                                if se > 0 and ah == 0:
                                    _decode_ac_first(
                                        br, st, coef, huff[(1, ac_id)],
                                        max(ss, 1), se, al,
                                    )
            else:
                # non-interleaved: one component, its true block raster
                cid = scan[0][0]
                dc_id, ac_id = scan_tabs[cid]
                _gw, _gh, bw, bh = grid[cid]
                for b in range(bw * bh):
                    if restart and b and b % restart == 0:
                        br.expect_rst()
                        st.reset()
                    by, bx = divmod(b, bw)
                    coef = coefs[cid][by, bx]
                    if ss == 0:
                        _decode_dc(
                            br, st, coef, cid, huff[(0, dc_id)], ah, al
                        )
                    elif ah == 0:
                        _decode_ac_first(
                            br, st, coef, huff[(1, ac_id)], ss, se, al
                        )
                    else:
                        _decode_ac_refine(
                            br, st, coef, huff[(1, ac_id)], ss, se, al
                        )
            n_scans += 1
            pos = _skip_entropy(data, br.pos)
            continue
        pos += ln
    if frame is None or n_scans == 0:
        raise ValueError("JPEG missing SOF/SOS")
    h, w, comps = frame

    # dequantize + inverse zigzag + batched IDCT per component
    out_planes = []
    for cid, hi, v, tq in comps:
        deq = coefs[cid] * qtables[tq]  # (bh, bw, 64) zigzag order
        nat = np.zeros_like(deq, dtype=np.float64)
        nat[..., ZIGZAG] = deq
        blocks = nat.reshape(*nat.shape[:2], 8, 8)
        blk = np.einsum(
            "ij,mnjk,kl->mnil", _DCT_C.T, blocks, _DCT_C, optimize=True
        )
        plane = blk.transpose(0, 2, 1, 3).reshape(
            nat.shape[0] * 8, nat.shape[1] * 8
        )
        p = np.clip(plane + 128.0, 0, 255.0)
        p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // hi, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = out_planes[0]
        return np.repeat(
            np.clip(np.rint(y), 0, 255).astype(np.uint8)[:, :, None], 3, axis=2
        )
    if len(out_planes) != 3:
        raise ValueError(f"{len(out_planes)}-component JPEG not supported")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.rint(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


# --- baseline JPEG encoder (fixtures; gray or 4:4:4/4:2:2/4:2:0 color) ------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length)."""
    enc: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _write_block_zz(
    bw: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_enc: dict,
    ac_enc: dict,
) -> int:
    """Entropy-write one quantized zigzag block (sequential Huffman)."""
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, ln = dc_enc[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_enc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_enc[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _block_mean_pool(p: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Downsample by block mean (pad-replicate to factor multiples)."""
    if fy == 1 and fx == 1:
        return p
    h, w = p.shape
    ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
    pp = np.empty((ph, pw))
    pp[:h, :w] = p
    pp[h:, :w] = p[h - 1 : h, :]
    pp[:, w:] = pp[:, w - 1 : w]
    return pp.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _coef_tensors(img: np.ndarray, quality: int, subsampling: str):
    """Forward path of both encoders: per-component zigzag-order
    quantized coefficient tensors (gh, gw, 64) over the padded MCU grid,
    plus frame metadata."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((QTABLE_LUMA * scale + 50) // 100, 1, 255)
    qc = np.clip((QTABLE_CHROMA * scale + 50) // 100, 1, 255)
    samp = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    factors = [(1, 1)] if gray else [samp, (1, 1), (1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    if gray:
        planes = [img.astype(np.float64)]
        qs = [ql]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qs = [ql, qc, qc]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    tensors, dims = [], []
    for ci, p in enumerate(planes):
        hi, vi = factors[ci]
        sub = _block_mean_pool(p, vmax // vi, hmax // hi)
        sh, sw = sub.shape
        pp = np.empty((mcuy * vi * 8, mcux * hi * 8))
        pp[:sh, :sw] = sub
        pp[sh:, :sw] = sub[sh - 1 : sh, :]
        pp[:, sw:] = pp[:, sw - 1 : sw]
        pp = np.clip(pp, 0, 255)
        gh, gw = mcuy * vi, mcux * hi
        blocks = pp.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3) - 128.0
        cf = np.einsum(
            "ij,mnjk,kl->mnil", _DCT_C, blocks, _DCT_C.T, optimize=True
        )
        nat = np.rint(
            cf.reshape(gh, gw, 64) / qs[ci].astype(np.float64)
        ).astype(np.int64)
        tensors.append(nat[..., ZIGZAG])
        dims.append((-(-sw // 8), -(-sh // 8)))  # true (bw, bh)
    return h, w, factors, mcux, mcuy, tensors, dims, ql, qc


def _frame_header(
    sof: int, h: int, w: int, factors: list, ql: np.ndarray, qc: np.ndarray
) -> bytearray:
    """SOI + JFIF APP0 + 8-bit DQT (luma, plus chroma for color) + the
    ``sof`` frame header with one component per sampling factor."""
    nc = len(factors)
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    for tq, q in ((0, ql),) if nc == 1 else ((0, ql), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(q[z]) for z in ZIGZAG
        )
    payload = struct.pack(">BHHB", 8, h, w, nc)
    for i, (hi, vi) in enumerate(factors):
        payload += bytes([i + 1, hi << 4 | vi, 0 if i == 0 else 1])
    out += bytes([0xFF, sof]) + struct.pack(">H", len(payload) + 2) + payload
    return out


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 → baseline (SOF0) JFIF.

    ``subsampling``: '444', '422' or '420' (ignored for gray);
    ``restart_interval``: emit DRI + RSTn every N MCUs (0 = none)."""
    h, w, factors, mcux, mcuy, tensors, _dims, ql, qc = _coef_tensors(
        img, quality, subsampling
    )
    nc = len(factors)
    out = _frame_header(0xC0, h, w, factors, ql, qc)
    out += _dht_segment(0, 0, *HUFF_DC_LUMA)
    out += _dht_segment(1, 0, *HUFF_AC_LUMA)
    if nc == 3:
        out += _dht_segment(0, 1, *HUFF_DC_CHROMA)
        out += _dht_segment(1, 1, *HUFF_AC_CHROMA)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_l = _huff_encode_map(*HUFF_DC_LUMA)
    ac_l = _huff_encode_map(*HUFF_AC_LUMA)
    dc_c = _huff_encode_map(*HUFF_DC_CHROMA)
    ac_c = _huff_encode_map(*HUFF_AC_CHROMA)
    encs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (nc - 1)
    bwr = _BitWriter()
    preds = [0] * nc
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bwr.flush()
            bwr.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0] * nc
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi, vi = factors[ci]
            for by in range(vi):
                for bx in range(hi):
                    preds[ci] = _write_block_zz(
                        bwr, tensors[ci][my * vi + by, mx * hi + bx],
                        preds[ci], *encs[ci],
                    )
    bwr.flush()
    out += bwr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive JPEG encoder (fixtures; exercises the SOF2 decoder) --------


class _OpBuf:
    """Scan op recorder: symbols + raw bits, replayed once the scan's
    Huffman tables are built from the actual symbol sets (Annex K tables
    lack the EOBn codes progressive scans need)."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []

    def sym(self, tclass: int, tid: int, s: int) -> None:
        self.ops.append(("s", tclass, tid, s))

    def bits(self, v: int, n: int) -> None:
        if n:
            self.ops.append(("b", v, n))

    def emit(self, out: bytearray, header: bytes) -> None:
        used: dict[tuple[int, int], set] = {}
        for op in self.ops:
            if op[0] == "s":
                used.setdefault((op[1], op[2]), set()).add(op[3])
        encs = {}
        for (tc, th), syms in sorted(used.items()):
            vals = sorted(syms)
            depth = max(2, (len(vals) + 1).bit_length())  # all-1s unused
            bits = [0] * 16
            bits[depth - 1] = len(vals)
            out += _dht_segment(tc, th, bits, vals)
            encs[(tc, th)] = _huff_encode_map(bits, vals)
        out += b"\xff\xda" + struct.pack(">H", len(header) + 2) + header
        bwr = _BitWriter()
        for op in self.ops:
            if op[0] == "s":
                code, ln = encs[(op[1], op[2])][op[3]]
                bwr.write(code, ln)
            else:
                bwr.write(op[1], op[2])
        bwr.flush()
        out += bwr.out


def _enc_ac_first(
    buf: _OpBuf, tid: int, zz: np.ndarray, bw: int, bh: int,
    ss: int, se: int, al: int,
) -> None:
    """AC first scan body for one component (spec G.1.2.2 encoder side:
    magnitude point transform, ZRL, accumulated EOB runs)."""
    eob_run = 0

    def flush() -> None:
        nonlocal eob_run
        if eob_run:
            r = eob_run.bit_length() - 1
            buf.sym(1, tid, r << 4)
            buf.bits(eob_run & ((1 << r) - 1), r)
            eob_run = 0

    for b in range(bw * bh):
        by, bx = divmod(b, bw)
        band = zz[by, bx, ss : se + 1]
        mags = np.abs(band) >> al
        if not mags.any():
            eob_run += 1
            if eob_run == 0x7FFF:
                flush()
            continue
        flush()
        r = 0
        for i in range(len(band)):
            t = int(mags[i])
            if t == 0:
                r += 1
                continue
            while r > 15:
                buf.sym(1, tid, 0xF0)
                r -= 16
            tv = t if band[i] >= 0 else -t
            s = _category(tv)
            buf.sym(1, tid, (r << 4) | s)
            buf.bits(tv if tv >= 0 else tv + (1 << s) - 1, s)
            r = 0
        if r > 0:
            eob_run += 1
    flush()


def _enc_ac_refine(
    buf: _OpBuf, tid: int, zz: np.ndarray, bw: int, bh: int,
    ss: int, se: int, al: int,
) -> None:
    """AC refinement scan body (spec G.1.2.3 encoder side: runs count
    zero-HISTORY positions only; correction bits for already-nonzero
    coefficients are buffered and flushed with the next symbol)."""
    # Two correction-bit pools (libjpeg's BE vs BR split): bits from
    # blocks folded into the pending EOB run travel WITH the EOBn symbol;
    # the current block's own bits follow its next emitted symbol.
    eob_run = 0
    be_bits: list[int] = []  # bits owned by the pending EOB run
    br_bits: list[int] = []  # current block's bits since its last symbol

    def emit_br() -> None:
        nonlocal br_bits
        for bit in br_bits:
            buf.bits(bit, 1)
        br_bits = []

    def flush_eob() -> None:
        # EOBn symbol + extension bits, then the run's buffered correction
        # bits (decoder consumes them while sweeping the run's
        # nonzero-history positions)
        nonlocal eob_run, be_bits
        if eob_run:
            r = eob_run.bit_length() - 1
            buf.sym(1, tid, r << 4)
            buf.bits(eob_run & ((1 << r) - 1), r)
            eob_run = 0
            for bit in be_bits:
                buf.bits(bit, 1)
            be_bits = []

    for b in range(bw * bh):
        by, bx = divmod(b, bw)
        band = zz[by, bx, ss : se + 1]
        mags = np.abs(band) >> al
        newly = np.nonzero(mags == 1)[0]
        last_new = int(newly[-1]) if len(newly) else -1
        r = 0
        for i in range(len(band)):
            t = int(mags[i])
            if t == 0:
                r += 1
                continue
            # ZRLs are emitted only when another newly-significant coef
            # follows; trailing runs fold into the EOB run
            while r > 15 and i <= last_new:
                flush_eob()
                buf.sym(1, tid, 0xF0)
                r -= 16
                emit_br()
            if t > 1:
                br_bits.append(t & 1)
                continue
            flush_eob()
            buf.sym(1, tid, (r << 4) | 1)
            buf.bits(1 if band[i] > 0 else 0, 1)
            emit_br()
            r = 0
        if r > 0 or br_bits:
            eob_run += 1
            be_bits += br_bits
            br_bits = []
            if eob_run == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 → progressive (SOF2) JFIF.

    Scan script (libjpeg-style): interleaved DC first at Al=1 → per-
    component AC bands 1-5 and 6-63 at Al=1 → interleaved DC refinement
    → per-component AC refinement to Al=0.  Huffman tables are built per
    scan from the actual symbol histogram (Annex K tables lack EOBn
    codes)."""
    h, w, factors, mcux, mcuy, tensors, dims, ql, qc = _coef_tensors(
        img, quality, subsampling
    )
    nc = len(factors)
    out = _frame_header(0xC2, h, w, factors, ql, qc)

    tid_of = [0] + [1] * (nc - 1)

    # scan 1: DC first, interleaved, Al=1
    buf = _OpBuf()
    preds = [0] * nc
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi, vi = factors[ci]
            for by in range(vi):
                for bx in range(hi):
                    d = int(tensors[ci][my * vi + by, mx * hi + bx, 0]) >> 1
                    diff = d - preds[ci]
                    preds[ci] = d
                    s = _category(diff)
                    buf.sym(0, tid_of[ci], s)
                    buf.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
    hdr = bytes([nc])
    for ci in range(nc):
        hdr += bytes([ci + 1, tid_of[ci] << 4])
    buf.emit(out, hdr + bytes([0, 0, 0x01]))  # Ss=0 Se=0 Ah=0 Al=1

    # scans 2..: AC first bands at Al=1, per component
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(nc):
            buf = _OpBuf()
            bw, bh = dims[ci]
            _enc_ac_first(buf, tid_of[ci], tensors[ci], bw, bh, ss, se, 1)
            hdr = bytes([1, ci + 1, tid_of[ci]])
            buf.emit(out, hdr + bytes([ss, se, 0x01]))

    # DC refinement (bits only, no Huffman symbols)
    bwr = _BitWriter()
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi, vi = factors[ci]
            for by in range(vi):
                for bx in range(hi):
                    bwr.write(
                        int(tensors[ci][my * vi + by, mx * hi + bx, 0]) & 1, 1
                    )
    bwr.flush()
    hdr = bytes([nc])
    for ci in range(nc):
        hdr += bytes([ci + 1, 0])
    out += b"\xff\xda" + struct.pack(">H", len(hdr) + 5) + hdr
    out += bytes([0, 0, 0x10])  # Ss=0 Se=0 Ah=1 Al=0
    out += bwr.out

    # AC refinement to Al=0, per component
    for ci in range(nc):
        buf = _OpBuf()
        bw, bh = dims[ci]
        _enc_ac_refine(buf, tid_of[ci], tensors[ci], bw, bh, 1, 63, 0)
        hdr = bytes([1, ci + 1, tid_of[ci]])
        buf.emit(out, hdr + bytes([1, 63, 0x10]))

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    """Magic-sniffing decode: PPM (P6) / PNG / JPEG → RGB."""
    if data[:2] == b"P6":
        from .pixels import decode_ppm

        return decode_ppm(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    raise ValueError("unrecognized image format (not PPM/PNG/JPEG)")
