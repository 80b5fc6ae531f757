"""PDF content-stream extraction (extract/pdf.py) + the PDF corpus mix, and
the token-offset contract on hostile text for PDF and layout payloads."""

from __future__ import annotations

import zlib

from hypothesis import given, settings, strategies as st

from dpo_ocr_spark.corpus import (
    expected_text,
    is_layout_doc,
    render_layout,
    render_pdf,
)
from dpo_ocr_spark.extract.pdf import (
    _decode_pdf_string,
    _parse_content,
    extract_pdf,
)
from dpo_ocr_spark.extract.stage import _extract_one
from sf_fixture import SD

TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "short one",
    "double  space preserved here and  there",
    "日本語 mixed ascii テスト words and ünïcödé",
    "paren (tricky) and \\backslash\\ word",
    "x",
]


def test_roundtrip_flate_and_raw():
    for i, t in enumerate(TEXTS):
        for doc_id in (i * 2, i * 2 + 1):  # even = FlateDecode, odd = raw
            got, tokens = extract_pdf(render_pdf(doc_id, t))
            assert got == expected_text(t), (doc_id, t)
            n_lines = expected_text(t).count("\n") + 1
            assert len({tok[1] for tok in tokens}) == n_lines
            # token shape mirrors extract_html: block == word_line == line
            for tok in tokens:
                assert tok[1] == tok[3] and tok[6] == 1.0 and tok[7] is None
                start, end = tok[8], tok[9]
                assert got[start:end] == tok[5]


def test_dispatch_kind_pdf():
    kind, text, tokens, nb = _extract_one(render_pdf(2, TEXTS[0]), None)
    assert kind == "pdf" and nb > 0
    assert text == expected_text(TEXTS[0]) and len(tokens) == 10
    # garbage that claims to be PDF quarantines instead of aborting
    kind, text, *_ = _extract_one(b"%PDF-1.4\nstream\n\x00\xff", None)
    assert kind == "error"


def test_pdf_without_a_complete_stream_quarantines():
    """A truncated stream (no endstream) and a header with no stream at
    all are unreadable, not valid pages with no text."""
    for payload in (
        b"%PDF-1.4\n1 0 obj << /Length 99 >> stream\nxx",
        b"%PDF-\xff\xfe\x00",
    ):
        kind, text, tokens, nb = _extract_one(payload, None)
        assert (kind, text, tokens, nb) == ("error", None, [], len(payload))


def test_string_escapes():
    assert _decode_pdf_string(rb"a\(b\)c\\d", False) == "a(b)c\\d"
    assert _decode_pdf_string(rb"tab\there\nnl", False) == "tab\there\nnl"
    assert _decode_pdf_string(rb"\101\102\103", False) == "ABC"
    assert _decode_pdf_string(rb"\61\62", False) == "12"
    # line continuation joins
    assert _decode_pdf_string(b"ab\\\ncd", False) == "abcd"
    # hex: UTF-16BE with BOM vs plain latin-1 bytes
    assert _decode_pdf_string(b"FEFF65E5672C", True) == "日本"
    assert _decode_pdf_string(b"48 49", True) == "HI"
    assert _decode_pdf_string(b"484", True) == "H@"  # odd digit pads 0


def test_td_tstar_tj_array_parsing():
    content = (
        b"BT /F1 10 Tf 20 TL 72 700 Td (first) Tj "
        b"T* (second) Tj 0 -20 Td [(thi)(rd)] TJ ET"
    )
    shows = _parse_content(content)
    assert [s for _x, _y, s in shows] == ["first", "second", "thi", "rd"]
    ys = [y for _x, y, s in shows]
    assert ys[0] == 700 and ys[1] == 680 and ys[2] == 660
    # grouping: three lines, TJ pieces share the third line
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    text, tokens = extract_pdf(pdf)
    assert text == "first\nsecond\nthi rd"


def test_pdf_gate_query(spark):
    from dpo_ocr_spark.queries import QUERIES

    a = {
        (r["url"], r["text"])
        for r in QUERIES["extract_text_pdf"](spark, SD).collect()
    }
    b = {
        (r["url"], r["text"])
        for r in QUERIES["extract_text"](spark, SD).collect()
    }
    assert a == b


def test_inline_dict_does_not_hang_or_show():
    # marked-content dicts (every tagged PDF): scanner must both make
    # progress and not emit the dict's string operands as shows
    shows = _parse_content(
        b"BT /Span << /ActualText (hidden) >> BDC (visible) Tj EMC ET"
    )
    assert [s for _x, _y, s in shows] == ["visible"]


def test_indirect_length_falls_back_to_heuristic():
    from dpo_ocr_spark.extract.pdf import _streams_of

    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 2 0 R >>\nstream\n"
        b"BT (ok) Tj ET\nendstream\nendobj\n2 0 obj\n13\nendobj\n"
    )
    assert _streams_of(pdf) == [b"BT (ok) Tj ET"]
    text, *_ = extract_pdf(pdf)
    assert text == "ok"


def test_token_offsets_after_blank_line():
    # "a  b" renders a middle line whose only show is "()": that line is
    # empty text plus one '\n', so it moves later offsets by exactly one
    kind, text, tokens, _nb = _extract_one(render_pdf(1, "a  b"), None)
    assert kind == "pdf" and text == "a\n\nb"
    assert [(t[5], t[8], t[9]) for t in tokens] == [("a", 0, 1), ("b", 3, 4)]


_HOSTILE_PIECES = [
    "a", "word", "x", " ", "  ", "\n", "\x0b", "\x0c", "\x1c", "\x1d",
    "\x85", "　", "(", ")", "\\", "()", "日本語", "テスト", "ünï",
]


@given(
    st.lists(st.sampled_from(_HOSTILE_PIECES), max_size=30).map("".join),
    st.sampled_from([0, 1, 4, 9]),
)
@settings(max_examples=1000, derandomize=True, deadline=None)
def test_token_offsets_slice_text_on_hostile_input(raw, doc_id):
    # layout doc ids (doc_id % 5 == 4) render the layout JSON; otherwise
    # doc_id parity picks the PDF's FlateDecode or raw content stream
    kind = "layout" if is_layout_doc(doc_id) else "pdf"
    render = render_layout if kind == "layout" else render_pdf
    got, text, tokens, _nb = _extract_one(render(doc_id, raw), None)
    assert got == kind
    for tok in tokens:
        start, end = tok[8], tok[9]
        assert 0 <= start <= end <= len(text), (tok, text)
        assert text[start:end] == tok[5], (tok, text)
