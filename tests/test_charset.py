"""Charset sniffing ladder (extract/charset.py) + the charset-mix corpus.

Pins: BOM beats meta beats ladder; WHATWG latin-1→cp1252 aliasing; the
strict-UTF-8-else-cp1252 total fallback; and byte-identical extracted
text across the UTF-8 / declared-cp1252 / BOM'd-UTF-16 page mix, with the
segmenter and its stdlib reference agreeing on every page.
"""

from __future__ import annotations

import pytest

from dpo_ocr_spark.extract.charset import decode_html, detect_charset
from dpo_ocr_spark.extract.html import extract_html, segment_html
from html_reference import segment_html as reference_segment_html
from dpo_ocr_spark.corpus import expected_text, render_html, render_html_cs
from sf_fixture import SD


def test_bom_detection_and_strip():
    s = "héllo wörld"
    assert decode_html(b"\xef\xbb\xbf" + s.encode("utf-8")) == s
    assert decode_html(s.encode("utf-16")) == s  # LE BOM
    assert decode_html(b"\xfe\xff" + s.encode("utf-16-be")) == s
    assert detect_charset(s.encode("utf-16")) == "utf-16"
    assert detect_charset(b"\xef\xbb\xbfx") == "utf-8-sig"


def test_meta_charset_declarations():
    body = "caf\xe9 au lait — pr\xeat"
    for label in ("windows-1252", "iso-8859-1", "latin-1", "US-ASCII"):
        page = f'<html><head><meta charset="{label}"></head><body>{body}'
        assert decode_html(page.encode("cp1252")) == page
        assert detect_charset(page.encode("cp1252")) == "cp1252"
    # legacy http-equiv form
    page = (
        '<html><head><meta http-equiv="Content-Type" '
        f'content="text/html; charset=windows-1252"></head><body>{body}'
    )
    assert decode_html(page.encode("cp1252")) == page
    # meta must be within the first 1024 bytes
    far = "<html>" + " " * 1100 + '<meta charset="windows-1252">\xe9'
    assert detect_charset(far.encode("cp1252")) == ""


def test_meta_non_latin_codecs():
    page = '<meta charset="shift_jis"><p>日本語</p>'
    assert decode_html(page.encode("shift_jis")) == page
    page = '<meta charset="koi8-r"><p>русский</p>'
    assert decode_html(page.encode("koi8-r")) == page
    page = '<meta charset="gb2312"><p>中文</p>'
    assert decode_html(page.encode("gbk")) == page


def test_undeclared_ladder():
    # valid UTF-8 → UTF-8
    assert decode_html("emoji \U0001f600".encode("utf-8")) == "emoji \U0001f600"
    # invalid UTF-8 → every byte decodes via cp1252 (total fallback)
    raw = b"caf\xe9 \x93quoted\x94"
    assert decode_html(raw) == "café “quoted”"
    # unknown label falls back to the ladder, not an exception
    raw = b'<meta charset="x-no-such-charset">ok'
    assert decode_html(raw) == '<meta charset="x-no-such-charset">ok'


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 4 + 1, 6, 7, 8])
def test_charset_mix_text_identical(doc_id):
    text = "Lorem ipsum dolor sit amet " * 5 + "café précis — fin"
    a = render_html(doc_id, text)
    b = render_html_cs(doc_id, text)
    if doc_id % 3 == 0:
        assert a == b  # mode 0 is the plain UTF-8 page
    else:
        assert a != b
    ta, *_ = extract_html(a)
    tb, *_ = extract_html(b)
    assert ta == tb == expected_text(text)
    # the segmenter and its reference agree on the exotic bytes
    assert segment_html(b) == reference_segment_html(b)


def test_charset_mix_non_latin_falls_to_utf16():
    text = " ".join(["日本語 no cp1252 for this"] * 3)
    payload = render_html_cs(1, text)  # mode 1 but unencodable → UTF-16
    assert payload[:2] == b"\xff\xfe"
    t, *_ = extract_html(payload)
    assert t == expected_text(text)


def test_charset_mix_gate_query(spark):
    """extract_text_charsets == extract_text on the same sf dir."""
    from dpo_ocr_spark.queries import QUERIES

    a = {
        (r["url"], r["text"])
        for r in QUERIES["extract_text_charsets"](spark, SD).collect()
    }
    b = {
        (r["url"], r["text"])
        for r in QUERIES["extract_text"](spark, SD).collect()
    }
    assert a == b
