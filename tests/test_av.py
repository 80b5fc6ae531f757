"""Audio container path (ops/av.py): WAV decode pinned against the
stdlib ``wave`` module and the designed-fixture closed forms the
audio_features oracle relies on; plus the EXHAUSTIVE JPEG-quantization
border-safety sweep the image_autocrop_jpeg oracle's correctness claim
("exhaustive over the id space", queries_curation.py) rests on."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from dpo_ocr_spark.ops.av import (
    _audio_params,
    decode_wav,
    encode_wav,
    synth_wav,
)

RNG = np.random.default_rng(11)


# --- WAV --------------------------------------------------------------------


@pytest.mark.parametrize("sampwidth,lim", [(1, 120), (2, 30000),
                                           (3, 8_000_000), (4, 2**30)])
@pytest.mark.parametrize("channels", [1, 2])
def test_wav_roundtrip_and_stdlib_interop(sampwidth, lim, channels):
    frames = RNG.integers(-lim, lim, size=(57, channels)).astype(np.int64)
    data = encode_wav(frames, 44100, sampwidth)

    rate, ch, sw, out = decode_wav(data)
    assert (rate, ch, sw) == (44100, channels, sampwidth)
    assert np.array_equal(out, frames)

    # stdlib wave parses our file and agrees on every header field
    wf = wave.open(io.BytesIO(data))
    assert (wf.getframerate(), wf.getnchannels(), wf.getsampwidth(),
            wf.getnframes()) == (44100, channels, sampwidth, 57)

    # and a stdlib-WRITTEN file carrying the same raw frames decodes
    # identically through our chunk walker
    buf = io.BytesIO()
    ww = wave.open(buf, "wb")
    ww.setnchannels(channels)
    ww.setsampwidth(sampwidth)
    ww.setframerate(44100)
    ww.writeframes(wf.readframes(57))
    ww.close()
    _, _, _, out2 = decode_wav(buf.getvalue())
    assert np.array_equal(out2, frames)


def test_wav_chunk_walk_skips_unknown_chunks():
    frames = RNG.integers(-100, 100, size=(11, 1))
    d = encode_wav(frames, 8000, 2)
    # splice an odd-sized LIST chunk (with its pad byte) before fmt
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    d2 = d[:12] + extra + d[12:]
    d2 = d2[:4] + struct.pack("<I", len(d2) - 8) + d2[8:]
    rate, ch, sw, out = decode_wav(d2)
    assert (rate, ch, sw) == (8000, 1, 2)
    assert np.array_equal(out, frames)


def test_wav_rejections():
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + b"\x00" * 40)
    # format code 3 (IEEE float) is an honest reject, not a silent zero
    d = bytearray(encode_wav(np.zeros((4, 1), dtype=np.int64), 8000, 2))
    d[20:22] = struct.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(d))


def test_synth_payloads_decode():
    rate, ch, sw, out = decode_wav(synth_wav(7))
    assert rate == 8000
    with pytest.raises(ValueError):
        decode_wav(b"\x00\x01\x02\x03" + b"junk" * 8)


# --- designed-fixture closed forms (what the oracle asserts) ----------------


@pytest.mark.parametrize("doc_id", list(range(24)) + [123, 457, 499, 4999])
def test_audio_closed_forms(doc_id):
    h, c, a, sw, ch = _audio_params(doc_id)
    rate, ch2, sw2, frames = decode_wav(synth_wav(doc_id))
    assert (rate, ch2, sw2) == (8000, ch, sw)
    x = frames[:, 0].astype(np.int64)
    assert len(x) == 2 * h * c
    assert int(np.abs(x).max()) == a
    assert int((x * x).sum()) == 2 * h * c * a * a
    assert int(np.count_nonzero(x[1:] * x[:-1] < 0)) == 2 * c - 1
    if ch == 2:  # channel 1 carries the inverted signal
        assert np.array_equal(frames[:, 1], -frames[:, 0])


def test_video_frame_geometry_exhaustive_over_residue_space():
    """The image_autocrop_jpeg oracle re-derives each page's crop
    box/gutter arithmetically, which is only sound if JPEG q92 4:2:0
    quantization never moves a border/gutter under the WHITE=250
    threshold.  The fixture image is fully determined by gid mod
    lcm(5,4,7,6,10)=420, so sweeping gid 0..419 covers EVERY possible
    doc_id input."""
    from dpo_ocr_spark.ops.codecs import decode_jpeg, encode_jpeg
    from dpo_ocr_spark.ops.pixels import (
        GUTTER_W, IMG_H, IMG_W, _gray, autocrop_bounds, find_gutter,
        synth_page,
    )

    for gid in range(420):
        img = decode_jpeg(encode_jpeg(synth_page(gid), 92, "420"))
        g = _gray(img)
        box = autocrop_bounds(g)
        assert box == (
            gid % 5 + 2,
            IMG_H - 1 - (gid % 4 + 2),
            gid % 7 + 2,
            IMG_W - 1 - (gid % 6 + 2),
        ), gid
        assert find_gutter(g, box) == (
            gid % 7 + 2 + 10 + gid % 10 + (GUTTER_W - 1) // 2
        ), gid
