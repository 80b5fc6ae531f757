"""Pure-numpy codec tests: PNG (all filters/color types), baseline JPEG
(gray/color, 4:4:4/4:2:2/4:2:0, restart markers), dispatch, rejections.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from dpo_ocr_spark.ops.codecs import (
    decode_image,
    decode_jpeg,
    decode_png,
    encode_jpeg,
    encode_png,
)

RNG = np.random.default_rng(42)


# --- PNG --------------------------------------------------------------------


def test_png_rgb_roundtrip_exact():
    img = RNG.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


def _filter_line(f, line, prev, ch):
    """Forward PNG filter (test-side reference) to craft filtered files."""
    out = np.empty_like(line)
    for i in range(len(line)):
        a = int(line[i - ch]) if i >= ch else 0
        b = int(prev[i])
        c = int(prev[i - ch]) if i >= ch else 0
        x = int(line[i])
        if f == 0:
            v = x
        elif f == 1:
            v = x - a
        elif f == 2:
            v = x - b
        elif f == 3:
            v = x - ((a + b) >> 1)
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = x - pred
        out[i] = v & 0xFF
    return out


def _craft_png(img, filters, color=2, plte=None):
    """Hand-build a PNG using a chosen filter type per scanline."""
    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    flat = img.reshape(h, w * ch)
    raw = bytearray()
    prev = np.zeros(w * ch, np.uint8)
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        raw += _filter_line(f, flat[y], prev, ch).tobytes()
        prev = flat[y]

    def chunk(typ, payload):
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", crc)
        )

    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_png_all_five_filters():
    img = RNG.integers(0, 256, (15, 11, 3), dtype=np.uint8)
    data = _craft_png(img, filters=[0, 1, 2, 3, 4])
    assert (decode_png(data) == img).all()


def test_png_gray_palette_alpha_variants():
    gray = RNG.integers(0, 256, (9, 7, 1), dtype=np.uint8)
    out = decode_png(_craft_png(gray, [0, 1, 2, 3, 4], color=0))
    assert (out == np.repeat(gray, 3, axis=2)).all()

    plte = RNG.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = RNG.integers(0, 16, (6, 8, 1), dtype=np.uint8)
    out = decode_png(_craft_png(idx, [0, 2], color=3, plte=plte))
    assert (out == plte[idx[:, :, 0]]).all()

    rgba = RNG.integers(0, 256, (5, 5, 4), dtype=np.uint8)
    out = decode_png(_craft_png(rgba, [0, 1, 4], color=6))
    assert (out == rgba[:, :, :3]).all()

    ga = RNG.integers(0, 256, (5, 4, 2), dtype=np.uint8)
    out = decode_png(_craft_png(ga, [2, 3], color=4))
    assert (out == np.repeat(ga[:, :, :1], 3, axis=2)).all()


def test_png_rejections():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"nope")
    img = RNG.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    data = bytearray(encode_png(img))
    # unknown interlace method inside IHDR (Adam7 itself is supported —
    # see test_png_adam7_roundtrip; only method 0/1 exist in the spec)
    data[8 + 8 + 12] = 2
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bytes(data))
    # a NON-interlaced raster mislabeled as Adam7 must fail loudly, not
    # decode garbage (pass sizes won't tile the stream)
    data[8 + 8 + 12] = 1
    with pytest.raises(ValueError):
        decode_png(bytes(data))


# --- JPEG -------------------------------------------------------------------


def _maxerr(a, b):
    return int(np.abs(a.astype(int) - b.astype(int)).max())


def test_jpeg_gray_roundtrip_close():
    x = np.linspace(0, 255, 64)
    gray = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(gray, quality=90))
    assert dec.shape == (64, 64, 3)
    assert _maxerr(dec[:, :, 0], gray) < 12


@pytest.mark.parametrize("mode", ["444", "422", "420"])
@pytest.mark.parametrize("restart", [0, 3])
def test_jpeg_color_modes_and_restarts(mode, restart):
    from dpo_ocr_spark.ops.pixels import synth_page

    pg = synth_page(13)  # sharp-edged 64x96 page, non-MCU-aligned for 420
    dec = decode_jpeg(encode_jpeg(pg, 92, mode, restart))
    assert dec.shape == pg.shape
    assert _maxerr(dec, pg) <= 16  # ringing at block edges only
    # flat regions must be essentially exact
    assert _maxerr(dec[30:34, 2:4], pg[30:34, 2:4]) <= 4


def test_jpeg_odd_dimensions():
    img = RNG.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, 95, "420"))
    assert dec.shape == (17, 23, 3)  # crops MCU padding correctly


def test_jpeg_rejections():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01")
    # a differential frame (SOF5) is rejected by name: flip FFC0 → FFC5
    # in a plain sequential stream
    data = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = 0xC5
    with pytest.raises(ValueError, match="0xFFC5 \\(SOF5\\)"):
        decode_jpeg(bytes(data))


# lossless, hierarchical and arithmetic-coded frames: outside the decoder
RETIRED_SOF = [0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]


@pytest.mark.parametrize(
    "marker, precision",
    [(m, 8) for m in RETIRED_SOF] + [(0xDE, 8), (0xC1, 12)],
    ids=lambda v: f"FF{v:02X}" if v > 16 else f"p{v}",
)
def test_decode_jpeg_rejects_retired_frames(marker, precision):
    """Flipping the SOF0 marker of a valid baseline stream to a retired
    frame marker, to DHP, or to a 12-bit SOF1 raises one ValueError
    naming that marker — never a silent skip that would surface later
    as "missing SOF/SOS"."""
    data = bytearray(encode_jpeg(RNG.integers(0, 256, (9, 11, 3), np.uint8)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = marker
    data[i + 4] = precision  # P, the first byte of the frame header
    name = "DHP" if marker == 0xDE else f"SOF{marker - 0xC0}"
    match = rf"0xFF{marker:02X} \({name}\)"
    if precision != 8:
        match += f" precision {precision}"
    with pytest.raises(ValueError, match=match):
        decode_jpeg(bytes(data))


def test_jpeg_sof1_8bit_is_baseline_compatible():
    """SOF1 at 8-bit is decode-identical to SOF0 (same scan syntax);
    flipping the marker byte must not change the pixels."""
    img = RNG.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(img, 85, "444"))
    base = decode_jpeg(bytes(data))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = 0xC1
    assert np.array_equal(decode_jpeg(bytes(data)), base)


def test_jpeg_progressive_matches_baseline():
    """SOF2 decode: the progressive encoder (DC/AC first at Al=1,
    refinement scans to Al=0, EOB runs, per-scan Huffman tables) must
    reconstruct the SAME quantized coefficients as the baseline stream —
    so decoded pixels are byte-identical to the baseline decode."""
    from dpo_ocr_spark.ops.codecs import encode_jpeg_progressive

    for shape, sub in [
        ((16, 16), "444"),        # gray, aligned
        ((7, 9), "444"),          # gray, sub-MCU
        ((24, 40, 3), "444"),
        ((20, 12, 3), "420"),     # padded grid vs true block dims
        ((17, 23, 3), "422"),
        ((33, 31, 3), "420"),
    ]:
        img = RNG.integers(0, 256, shape, dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, 80, sub if img.ndim == 3 else "444"))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, 80, sub if img.ndim == 3 else "444")
        )
        assert np.array_equal(base, prog), (shape, sub)


# --- dispatch ---------------------------------------------------------------


def test_dispatch_and_unknown():
    from dpo_ocr_spark.ops.pixels import encode_ppm

    img = RNG.integers(0, 256, (6, 6, 3), dtype=np.uint8)
    assert (decode_image(encode_png(img)) == img).all()
    assert (decode_image(encode_ppm(img)) == img).all()
    assert decode_image(encode_jpeg(img)).shape == (6, 6, 3)
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"RIFF....WAVE")


# --- property-based (hypothesis) -------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_any_shape(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    quality=st.integers(30, 95),
    mode=st.sampled_from(["444", "422", "420"]),
    seed=st.integers(0, 2**31),
)
def test_jpeg_decode_total_on_own_encoder(h, w, quality, mode, seed):
    """decode(encode(x)) must never raise and must keep the shape, for
    any dims (incl. 1x1 with 4:2:0 MCU padding) and quality."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality, mode))
    assert dec.shape == (h, w, 3)


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31),
)
def test_png_adam7_roundtrip_any_shape(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img, interlace=True)) == img).all()


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    quality=st.integers(30, 95),
    mode=st.sampled_from(["444", "422", "420"]),
    seed=st.integers(0, 2**31),
)
def test_jpeg_progressive_equals_baseline_any_shape(h, w, quality, mode, seed):
    """For any dims/quality/subsampling, the progressive stream must
    decode to EXACTLY the baseline decode of the same image."""
    from dpo_ocr_spark.ops.codecs import encode_jpeg_progressive

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality, mode))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality, mode))
    assert np.array_equal(base, prog)


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_decoders_raise_cleanly_on_garbage(data):
    """Arbitrary bytes (incl. valid-magic prefixes) must raise a clean
    error, never hang or segfault.  IndexError/struct.error count as
    clean truncation errors; zlib.error for corrupt IDAT."""
    for prefix in (b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8"):
        try:
            decode_image(prefix + data)
        except (ValueError, IndexError, struct.error, zlib.error, KeyError):
            pass


def test_png_adam7_roundtrip():
    """Adam7-interlaced PNG decodes to the same pixels as the
    non-interlaced encoding of the same image.  The interlaced stream is
    hand-built (PNG spec §8.2 pass grid, filter 0 per scanline) since no
    codec library ships in this container."""
    import struct
    import zlib

    import numpy as np

    from dpo_ocr_spark.ops.codecs import (
        _ADAM7,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (3, 5), (8, 8), (13, 21)]:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        # build the interlaced raster: per pass, filter-0 scanlines
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                parts.append(b"\x00" + row.tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png(png)
        assert np.array_equal(got, img), (h, w)
        # and both encoder modes round-trip to the same pixels
        assert np.array_equal(decode_png(encode_png(img)), img)
        assert np.array_equal(
            decode_png(encode_png(img, interlace=True)), img
        )


# --- non-8-bit PNG depths (r5: sub-byte gray/palette + 16-bit) --------------


def _craft_png_depth(w, h, depth, color, raster, plte=None):
    """Hand-build a PNG at an arbitrary bit depth from pre-filtered
    scanline bytes (each row: 1 filter byte + packed samples)."""

    def chunk(typ, payload):
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", crc)
        )

    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    out += chunk(b"IDAT", zlib.compress(raster))
    return out + chunk(b"IEND", b"")


def _pack_row(row, depth):
    """MSB-first sub-byte sample packing (PNG spec §7.2)."""
    bits = np.unpackbits(row[:, None].astype(np.uint8), axis=1)[:, 8 - depth:]
    flat = bits.flatten()
    flat = np.concatenate([flat, np.zeros((-len(flat)) % 8, np.uint8)])
    return np.packbits(flat).tobytes()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_subbyte_gray(depth):
    w, h = 13, 5  # w chosen so rows need end-of-byte padding
    maxv = (1 << depth) - 1
    px = RNG.integers(0, maxv + 1, (h, w)).astype(np.uint8)
    rows = bytearray()
    prev = None
    for y in range(h):
        packed = _pack_row(px[y], depth)
        if y % 2 == 1 and prev is not None:  # exercise the 'up' filter
            rows += b"\x02" + bytes(
                (a - b) & 0xFF for a, b in zip(packed, prev)
            )
        else:
            rows += b"\x00" + packed
        prev = packed
    img = decode_png(_craft_png_depth(w, h, depth, 0, bytes(rows)))
    scale = 255 // maxv  # exact PNG sample scaling for d = 1, 2, 4
    assert (img == np.repeat((px * scale)[:, :, None], 3, axis=2)).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_subbyte_palette(depth):
    w, h = 11, 4
    n = 1 << depth
    plte = RNG.integers(0, 256, (n, 3), dtype=np.uint8)
    idx = RNG.integers(0, n, (h, w)).astype(np.uint8)
    rows = b"".join(b"\x00" + _pack_row(idx[y], depth) for y in range(h))
    img = decode_png(_craft_png_depth(w, h, depth, 3, rows, plte))
    assert (img == plte[idx]).all()


def test_png_16bit_gray_and_rgb():
    w, h = 9, 6
    g16 = (np.arange(w * h, dtype=np.uint16).reshape(h, w) * 523) % 65536
    rows = bytearray()
    for y in range(h):
        be = bytearray(g16[y].astype(">u2").tobytes())
        for i in range(len(be) - 1, 1, -1):  # 'sub' filter, bpp=2
            be[i] = (be[i] - be[i - 2]) & 0xFF
        rows += b"\x01" + bytes(be)
    img = decode_png(_craft_png_depth(w, h, 16, 0, bytes(rows)))
    hi = (g16 >> 8).astype(np.uint8)
    assert (img == np.repeat(hi[:, :, None], 3, axis=2)).all()

    rgb = (np.arange(w * h * 3, dtype=np.uint16).reshape(h, w, 3) * 997) % 65536
    rows = b"".join(b"\x00" + rgb[y].astype(">u2").tobytes() for y in range(h))
    img = decode_png(_craft_png_depth(w, h, 16, 2, rows))
    assert (img == (rgb >> 8).astype(np.uint8)).all()


def test_png_16bit_rgba_drops_alpha():
    w, h = 5, 3
    rgba = (np.arange(w * h * 4, dtype=np.uint16).reshape(h, w, 4) * 811) % 65536
    rows = b"".join(b"\x00" + rgba[y].astype(">u2").tobytes() for y in range(h))
    img = decode_png(_craft_png_depth(w, h, 16, 6, rows))
    assert (img == (rgba[:, :, :3] >> 8).astype(np.uint8)).all()


def test_png_depth_rejections():
    w, h = 4, 2
    plte = np.zeros((2, 3), np.uint8)
    rows = b"\x00" + b"\x00" * 16
    with pytest.raises(ValueError, match="illegal"):
        decode_png(_craft_png_depth(w, h, 16, 3, rows * h, plte))
    with pytest.raises(ValueError, match="bad PNG bit depth"):
        decode_png(_craft_png_depth(w, h, 3, 0, rows * h))
    with pytest.raises(ValueError, match="only legal for gray/palette"):
        decode_png(_craft_png_depth(w, h, 4, 2, rows * h))
    # interlaced sub-byte: explicit reject, not garbage
    data = bytearray(_craft_png_depth(w, h, 1, 0, b"\x00\x00" * h))
    data[8 + 8 + 12] = 1  # interlace byte inside IHDR
    # CRC is not verified by the decoder, so flipping the byte is enough
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(bytes(data))
