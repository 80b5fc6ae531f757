"""Reference HTML segmenter: the stdlib ``html.parser`` twin of
``dpo_ocr_spark.extract.html.segment_html``.

The production lexer must produce the same segments as this parser; the
equivalence and differential fuzz tests compare the two.  It lives in
``tests/`` because nothing on the production path calls it.
"""

from __future__ import annotations

from html.parser import HTMLParser

from dpo_ocr_spark.extract.charset import decode_html
from dpo_ocr_spark.extract.html import BLOCK_TAGS, KILL_TAGS, MAX_LINK_DENSITY


class _Segmenter(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.segments: list[tuple[str, int, int]] = []  # (text, chars, link_chars)
        self._parts: list[str] = []
        self._chars = 0
        self._link_chars = 0
        self._kill = 0
        self._a = 0

    def _flush(self) -> None:
        if self._parts:
            text = "".join(self._parts)
            self.segments.append((text, self._chars, self._link_chars))
        self._parts = []
        self._chars = 0
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in KILL_TAGS:
            self._kill += 1
            return
        if self._kill:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._a += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in KILL_TAGS:
            self._kill = max(0, self._kill - 1)
            return
        if self._kill:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._a = max(0, self._a - 1)

    def handle_data(self, data: str) -> None:
        if self._kill or not data:
            return
        self._parts.append(data)
        self._chars += len(data)
        if self._a:
            self._link_chars += len(data)

    def close(self) -> None:  # flush trailing segment
        super().close()
        self._flush()


def segment_html(payload: bytes) -> list[str]:
    """payload bytes → kept main-content segments (boilerplate stripped)."""
    parser = _Segmenter()
    parser.feed(decode_html(payload))
    parser.close()
    kept: list[str] = []
    for text, chars, link_chars in parser.segments:
        stripped = text.strip()
        if not stripped:
            continue
        if chars > 0 and link_chars / chars > MAX_LINK_DENSITY:
            continue
        kept.append(stripped)
    return kept
