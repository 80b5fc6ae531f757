"""Minimal PDF text extraction: content-stream parse → positioned words.

The north-star pipeline decodes "HTML rows and binary/PDF payloads"
(BASELINE.json north_star); this module handles the PDF side for real —
no PDF library exists in the container, so it implements the subset of
ISO 32000 a text extractor needs:

- object/stream layout: ``stream … endstream`` segments located by
  scanning, ``/FlateDecode`` streams inflated with zlib (the compression
  virtually every real PDF uses), raw streams passed through;
- content-stream text operators: ``BT/ET`` text objects, ``Tf`` (size),
  ``Tm`` (text+line matrix set), ``Td``/``TD`` (line translate), ``TL``,
  ``T*``, ``Tj`` (show), ``TJ`` (array show with kerning);
- string syntax: literal ``(…)`` with the full escape set (\\n \\r \\t
  \\b \\f \\( \\) \\\\, octal \\ddd, line continuations) and hex
  ``<…>`` — a ``FEFF`` BOM selects UTF-16BE (how Unicode text is
  carried), anything else decodes as PDFDocEncoding≈latin-1;
- geometry → reading order: shown strings collect as (x, y, text);
  lines group by y (PDF y grows upward, so descending y = top-to-bottom)
  and words sort by x within a line — the same reading-order assembly
  the OCR family uses.

Glyph-width advance after a show uses the nominal 0.6·size average (no
font metrics on board) — positions from explicit ``Tm``/``Td`` are
exact, so extraction is exact for any writer that positions runs, and
approximate only for writers that rely on intra-run advances.

Output shape mirrors ``extract_html``: ``(text, tokens)`` with tokens
``(page, block=line, para=line, word_line=line, widx, word, 1.0, None,
start, end)`` so PDF pages flow through assembly/spans/eval identically
to HTML pages.
"""

from __future__ import annotations

import re
import zlib

_STREAM_START_RE = re.compile(rb"stream\r?\n")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_WS = b"\x00\t\n\x0c\r "


def _streams_of(data: bytes) -> list[bytes]:
    """All stream payloads, inflated when the owning object dict says
    /FlateDecode.  The dict is the text between the nearest preceding
    'obj' and the stream keyword — nesting-safe for this lookup because
    we only probe for the Filter name."""
    out = []
    for m in _STREAM_START_RE.finditer(data):
        end = data.find(b"endstream", m.end())
        if end < 0:
            continue
        head = data[max(0, data.rfind(b"obj", 0, m.start())) : m.start()]
        # direct /Length only — '/Length 5 0 R' (indirect reference, the
        # form most real writers emit) must NOT match its object number
        lm = re.search(rb"/Length\s+(\d+)(?![\s]+\d+[\s]+R)", head)
        if lm:
            # the dict's byte count is authoritative — compressed data
            # may itself end in CR/LF bytes, so EOL-stripping heuristics
            # can eat real data (the direct-/Length form only; indirect
            # length objects fall back to the heuristic below)
            raw = data[m.end() : m.end() + int(lm.group(1))]
        else:
            raw = data[m.end() : end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith(b"\n"):
                raw = raw[:-1]
        if b"/FlateDecode" in head:
            raw = zlib.decompress(raw)
        out.append(raw)
    return out


def _decode_pdf_string(raw: bytes, is_hex: bool) -> str:
    if is_hex:
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", raw)
        if len(hx) % 2:
            hx += b"0"
        b = bytes.fromhex(hx.decode("ascii"))
        if b[:2] == b"\xfe\xff":
            return b[2:].decode("utf-16-be")
        return b.decode("latin-1")
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        e = raw[i]
        if e in b"nrtbf()\\":
            out.append(
                {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(e, e)
            )
            i += 1
        elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
            j = i
            while j < min(i + 3, n) and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif e in b"\r\n":  # line continuation
            i += 1
            if e == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:
            out.append(e)
            i += 1
    # literal bytes: latin-1 unless the writer put a UTF-16BE BOM inside
    b = bytes(out)
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be")
    return b.decode("latin-1")


def _lex_string(data: bytes, i: int) -> tuple[str, int]:
    """Lex a literal string starting at data[i] == '(' — returns
    (decoded, next_index); handles balanced parens and escapes."""
    depth = 0
    j = i
    while j < len(data):
        c = data[j]
        if c == 0x5C:
            j += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return _decode_pdf_string(data[i + 1 : j], False), j + 1
        j += 1
    raise ValueError("unterminated PDF string")


def _parse_content(stream: bytes) -> list[tuple[float, float, str]]:
    """Content stream → [(x, y, shown string)] in emission order."""
    shows: list[tuple[float, float, str]] = []
    stack: list = []
    tm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]  # a b c d e f
    lm = list(tm)
    size = 12.0
    leading = 0.0
    i, n = 0, len(stream)

    def op_show(s: str) -> None:
        nonlocal tm
        shows.append((tm[4], tm[5], s))
        tm = tm[:4] + [tm[4] + 0.6 * size * len(s), tm[5]]

    while i < n:
        c = stream[i]
        if c in _WS:
            i += 1
            continue
        if c == 0x25:  # comment
            j = stream.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == 0x28:  # literal string
            s, i = _lex_string(stream, i)
            stack.append(s)
            continue
        if c == 0x3C and i + 1 < n and stream[i + 1] != 0x3C:  # hex string
            j = stream.index(b">", i)
            stack.append(_decode_pdf_string(stream[i + 1 : j], True))
            i = j + 1
            continue
        if stream[i : i + 2] in (b"<<", b">>"):  # inline dict delimiters
            i += 2  # operands of BDC/DP etc. — consumed with the operator
            continue
        if c in b"<>)":  # stray delimiter: never stall the scanner
            i += 1
            continue
        if c in b"[]":
            stack.append(b"[" if c == 0x5B else b"]")
            i += 1
            continue
        if c == 0x2F:  # name
            j = i + 1
            while j < n and stream[j] not in _WS and stream[j] not in b"/[]<>(":
                j += 1
            stack.append(stream[i:j])
            i = j
            continue
        m = _NUM_RE.match(stream, i)
        if m and (c in b"0123456789+-." ):
            stack.append(float(m.group()))
            i = m.end()
            continue
        # operator token
        j = i
        while j < n and stream[j] not in _WS and stream[j] not in b"/[]<>(":
            j += 1
        if j == i:  # delimiter byte that matched no rule above
            i += 1
            continue
        op = stream[i:j]
        i = j
        if op == b"Tf" and len(stack) >= 2:
            size = float(stack[-1])
            stack.clear()
        elif op == b"Tm" and len(stack) >= 6:
            tm = [float(v) for v in stack[-6:]]
            lm = list(tm)
            stack.clear()
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            tx, ty = float(stack[-2]), float(stack[-1])
            if op == b"TD":
                leading = -ty
            lm = lm[:4] + [lm[4] + tx * lm[0] + ty * lm[2],
                           lm[5] + tx * lm[1] + ty * lm[3]]
            tm = list(lm)
            stack.clear()
        elif op == b"TL" and stack:
            leading = float(stack[-1])
            stack.clear()
        elif op == b"T*":
            lm = lm[:4] + [lm[4] - leading * lm[2], lm[5] - leading * lm[3]]
            tm = list(lm)
            stack.clear()
        elif op == b"Tj" and stack:
            op_show(stack[-1])
            stack.clear()
        elif op == b"TJ":
            # array contents are on the stack between [ and ]
            items: list = []
            while stack and stack[-1] != b"[":
                items.append(stack.pop())
            if stack:
                stack.pop()
            for item in reversed(items):
                if isinstance(item, str):
                    op_show(item)
                elif isinstance(item, float):
                    tm[4] -= item / 1000.0 * size
            stack.clear()
        elif op in (b"BT", b"ET"):
            tm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
            lm = list(tm)
            stack.clear()
        else:
            # any other operator: consume its operands
            stack.clear()
    return shows


def extract_pdf(payload: bytes) -> tuple[str, list[tuple]]:
    """bytes → (text, tokens) — extract_html's exact shapes.

    Reading order: lines by descending y, words by ascending x; empty
    shown strings are positional placeholders that reconstruct runs of
    consecutive spaces (the writer emits one per empty word so
    double-spaced source text round-trips byte-identically).

    A payload with no complete ``stream … endstream`` segment has no
    content to read: it raises, and the stage quarantines it as
    ``payload_kind='error'`` instead of emitting an empty page."""
    streams = _streams_of(payload)
    if not streams:
        raise ValueError("PDF payload has no complete stream … endstream segment")
    shows: list[tuple[float, float, str]] = []
    for stream in streams:
        shows.extend(_parse_content(stream))
    # group by y (rounded: FP-stable), top-to-bottom = descending y
    lines: dict[float, list[tuple[float, str]]] = {}
    for x, y, s in shows:
        lines.setdefault(round(y, 3), []).append((x, s))
    ordered = []
    for y in sorted(lines, reverse=True):
        ordered.append([s for _x, s in sorted(lines[y], key=lambda t: t[0])])
    text = "\n".join(" ".join(words) for words in ordered)
    tokens: list[tuple] = []
    widx = 0
    pos = 0  # offsets follow the join: one ' ' or '\n' after each word
    for li, words in enumerate(ordered):
        for w in words:
            if w:
                end = pos + len(w)
                tokens.append((1, li, li, li, widx, w, 1.0, None, pos, end))
                widx += 1
            pos += len(w) + 1
    return text, tokens
