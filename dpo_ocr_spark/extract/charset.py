"""Charset detection + decoding for crawled HTML payloads.

Real crawls are not all UTF-8: Common-Crawl-scale corpora carry
windows-1252/ISO-8859 long tails, UTF-16 BOM'd pages, and meta-declared
charsets that disagree with the HTTP header.  The extraction contract is
byte-identical TEXT per url, so the decode step must recover the same
characters whatever the byte encoding was — this module implements the
standard sniffing ladder (the WHATWG encoding-standard shape that
browsers and html5lib follow):

1. **BOM** wins over everything: UTF-8 / UTF-16LE / UTF-16BE.
2. **``<meta charset>``** (or the legacy ``http-equiv="Content-Type"``
   form) scanned in the first 1024 bytes, ASCII-compatibly.
3. No declaration → try **strict UTF-8**; on failure fall back to
   **windows-1252** (the browsers' de-facto latin-1 superset — every
   byte decodes, so the ladder is total).

Per the WHATWG alias rules, latin-1 labels (iso-8859-1, ascii, us-ascii)
map to windows-1252.  Unknown labels fall back to the UTF-8 ladder.

Used by the HTML segmenter (extract/html.py) and by its stdlib
reference twin (tests/html_reference.py), so their equivalence tests
cover the decode layer too.  Layout payloads (Document-AI-shaped JSON) stay plain
UTF-8 — JSON is UTF-8 by spec.
"""

from __future__ import annotations

import re

_META_RE = re.compile(
    rb"""<meta(?=[^>]*charset)[^>]*?charset\s*=\s*["']?([a-zA-Z0-9._\-:]+)""",
    re.I,
)

# WHATWG-style label → Python codec (the subset that matters in crawls)
_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "l1": "cp1252", "ascii": "cp1252", "us-ascii": "cp1252",
    "iso-8859-15": "iso-8859-15", "windows-1251": "cp1251",
    "cp1251": "cp1251", "koi8-r": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc_jp", "euc-kr": "euc_kr",
    "gbk": "gbk", "gb2312": "gbk", "gb18030": "gb18030", "big5": "big5",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def detect_charset(payload: bytes) -> str:
    """The codec the sniffing ladder picks (before the strict-UTF-8
    fallback step; ``decode_html`` applies that last rung)."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"  # BOM-stripping decode
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # Python's utf-16 honours + strips either BOM
    m = _META_RE.search(payload[:1024])
    if m:
        label = m.group(1).decode("ascii", "replace").strip().lower()
        codec = _ALIASES.get(label)
        if codec:
            return codec
    return ""  # undeclared → UTF-8-else-cp1252 ladder


def decode_html(payload: bytes) -> str:
    """payload bytes → text via the full sniffing ladder (total: every
    byte string decodes to something deterministic)."""
    codec = detect_charset(payload)
    if codec:
        try:
            return payload.decode(codec, errors="replace")
        except LookupError:  # alias table gave an unavailable codec
            pass
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("cp1252", errors="replace")
