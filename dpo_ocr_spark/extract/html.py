"""HTML main-content extraction: tag-tree segmentation + boilerplate strip.

A deterministic single-regex lexer — the engine's stand-in for the
reference's external OCR/decode call (ML/google_vision/run_gvision_ocr.py:
148-155): a pure function of the raw bytes, executed inside Arrow batches
(zero per-row Python at the Spark level; the per-document loop lives
inside one vectorized UDF invocation).

Algorithm (text-density + link-density heuristics, tag-tree segmentation —
north_star):
1. decode the byte payload (charset ladder, extract/charset.py) and lex it;
2. kill entire subtrees of non-content tags (script/style/nav/header/
   footer/aside/form/...);
3. segment remaining character data at block-level tag boundaries
   (p/div/h*/li/td/...);
4. score each segment: link_density = chars inside <a> / total chars;
5. keep segments with non-empty stripped text and link_density ≤ 1/3;
6. main text = kept segments joined with '\\n' (the reference's fulltext
   convention: '\\n'-separated lines, run_gvision_ocr.py:164-168).

Lexing semantics are those of the stdlib ``html.parser`` (fed the whole
document, then closed), which is the reference: tests/html_reference.py
holds that twin, and the equivalence and differential fuzz tests
(tests/test_html_fast.py) compare the two.  Profiling showed ~90% of
``html.parser`` time in tag machinery this engine does not need
(attribute lists, position bookkeeping); the lexer keeps only tag names,
tag kind and character data, and runs ~4× faster (5,000 sf0.1 pages).

Token records are derived from the kept segments: whitespace tokenization
with [start,end) char spans into the final text (the Document-AI text-anchor
convention, run_docai.py:84-93), confidence 1.0 (native text has no OCR
uncertainty), reading-order ids assigned with running counters exactly like
the reference's b/p/w walk (run_gvision_ocr.py:179-181, 187, 283).  Each
kept segment is one block; the decoder returns (text, tokens) only, and
block records are built from the tokens by ``assemble.py``.
"""

from __future__ import annotations

import re
from html import unescape

from .charset import decode_html

# Subtrees that never contribute main content.
KILL_TAGS = frozenset(
    # NB: only tags that reliably carry an end tag — void elements (meta,
    # link, br, hr) never fire an end tag and would wedge the counter.
    """title script style nav footer header aside noscript template form
    iframe svg button select option label figure figcaption""".split()
)

# Tags that open/close a text segment.
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody
    pre blockquote article section main body br hr""".split()
)

MAX_LINK_DENSITY = 1.0 / 3.0

# One alternative per html.parser construct, all behind one '<' (a
# literal prefix the regex engine scans for).  ``lastindex`` names the
# alternative:
#   1    start tag, common shape (name, double-quoted attributes, '>');
#   2-4  start tag, any shape (4 once terminated, 3 if not);
#   5-6  end tag; 7 unterminated comment; 8 marked section;
#   None constructs that only vanish (closed comment, declaration, bogus
#        comment, ``</>``, PI).
_TOKEN_RE = re.compile(
    r"<(?:"
    # 1: the common shape, a fast path the general grammar agrees with
    r"([a-zA-Z][a-zA-Z0-9]*+)(?: [a-zA-Z][-a-zA-Z]*+=\"[^\"]*+\")*+>"
    # 2-4: html.parser's tag name and locatestarttagend_tolerant
    # attribute grammar (nothing after it can fail, so the regex engine
    # keeps its first, greedy match, as ``re.match`` there does)
    r"|([a-zA-Z][^\t\n\r\f />\x00]*)"  # 2: name
    r"((?:[\s/]*(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"
    r"(?:\s*=+\s*(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*)\s*)?"
    r"(?:\s|/(?!>))*)*)?\s*)"  # 3: attributes
    r"(/?>)?"  # 4: terminator
    r"|/\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # 5: end tag (endtagfind)
    r"|/([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>"  # 6: tolerant end tag
    r"|/[^>]*>"  # ``</>`` and bogus end tags
    r"|!--.*?--\s*>"  # comment
    r"|!-(-)"  # 7: unterminated comment
    r"|!(\[)"  # 8: marked section (CDATA, MS Office conditionals)
    r"|![^>]*>"  # doctype / bogus comment
    r"|\?[^>]*>"  # processing instruction
    r")",
    re.S,
)
_RARE = frozenset((3, 7, 8))

_RAWTEXT = frozenset(("script", "style"))
# end-of-rawtext patterns searched with a start position — slicing
# text[last:] per rawtext element copied ~the whole document twice/page
_RAW_END = {name: re.compile(rf"</\s*{name}\s*>", re.I) for name in _RAWTEXT}
_ONLY_WS_SLASH = re.compile(r"[\s/]*")
_DECL_NAME = re.compile(r"([a-zA-Z][-_.a-zA-Z0-9]*)\s*")
_SECTION_END = re.compile(r"]\s*]\s*>")
_MS_SECTION_END = re.compile(r"]\s*>")
# check_for_whole_start_tag: these after the attributes mean "tag not
# finished yet", which at end of input is the unterminated fallback
_UNFINISHED = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")


def _unterminated_end(text: str, s: int) -> int:
    """End of the text html.parser emits for a construct at ``s`` it
    cannot finish at end of input: through the next '>', else up to the
    next '<', else the lone '<'."""
    k = text.find(">", s + 1)
    if k >= 0:
        return k + 1
    k = text.find("<", s + 1)
    return k if k >= 0 else s + 1


def _marked_section_end(text: str, s: int) -> int:
    """End of the ``<![`` section at ``s``, or -1 if it is unterminated.

    html.parser raises on an unknown or missing keyword; this lexer ends
    such a section at the next '>' instead (HTML5's bogus comment)."""
    m = _DECL_NAME.match(text, s + 3)
    if s + 3 == len(text) or (m is not None and m.end() == len(text)):
        return -1
    name = m.group(1).lower() if m is not None else ""
    if name in ("temp", "cdata", "ignore", "include", "rcdata"):
        end = _SECTION_END.search(text, s + 3)
    elif name in ("if", "else", "endif"):
        end = _MS_SECTION_END.search(text, s + 3)
    else:
        k = text.find(">", s + 2)
        return k + 1 if k >= 0 else -1
    return end.end() if end is not None else -1


def segment_html(payload: bytes) -> list[str]:
    """payload bytes → kept main-content segments (boilerplate stripped).

    Loop shape: one C-level ``finditer`` pass.  Rawtext bodies are
    skipped by position (matches inside them are discarded); the
    iterator is restarted only when a match straddles the end of a
    rawtext body, or after a construct html.parser cannot finish (its
    text is then re-lexed).  The search-per-token loop this replaced
    measured ~8% slower on the corpus."""
    text = decode_html(payload)
    segments: list[tuple[str, int, int]] = []
    parts: list[str] = []
    parts_append = parts.append
    chars = 0
    link_chars = 0
    kill = 0
    a_depth = 0
    kill_tags = KILL_TAGS
    block_tags = BLOCK_TAGS
    rawtext = _RAWTEXT
    n = len(text)
    last = 0  # start of the character data not yet emitted
    skip = 0  # rawtext skip boundary (matches starting before it drop)
    pos = 0  # where the current iterator started
    while True:
        for m in _TOKEN_RE.finditer(text, pos):
            s = m.start()
            if s < skip:
                if m.end() > skip:  # straddles the rawtext end: re-lex
                    pos = skip
                    break
                continue
            kind = m.lastindex
            if kind in _RARE:
                if kind == 7 or (
                    kind == 3 and (m.end() == n or text[m.end()] in _UNFINISHED)
                ):
                    # unfinished at end of input: its text is character
                    # data, and what follows it is lexed again
                    pos = _unterminated_end(text, s)
                    break
            if s > last and not kill:
                data = text[last:s]
                if "&" in data:
                    data = unescape(data)
                parts_append(data)
                chars += len(data)
                if a_depth:
                    link_chars += len(data)
            if kind == 8:
                pos = _marked_section_end(text, s)
                if pos >= 0:
                    last = pos
                else:  # unterminated: its text is character data
                    last = s
                    pos = _unterminated_end(text, s)
                break
            last = m.end()
            if kind is None:  # comment / declaration / PI / bogus end tag
                continue
            if kind == 3:  # junk after the name: its text, not unescaped
                if not kill:
                    data = text[s:last]
                    parts_append(data)
                    chars += len(data)
                    if a_depth:
                        link_chars += len(data)
                continue
            # the name is in the matched group, except general start tags (2)
            name = m.group(kind if kind != 4 else 2).lower()
            if kind >= 5:  # end tag
                if name in kill_tags:
                    if kill:
                        kill -= 1
                    continue
                if kill:
                    continue
                if name in block_tags:
                    if parts:
                        segments.append(("".join(parts), chars, link_chars))
                        parts = []
                        parts_append = parts.append
                        chars = 0
                        link_chars = 0
                elif name == "a":
                    if a_depth:
                        a_depth -= 1
                continue
            if name in kill_tags or name == "a":
                # html.parser: ``<x/>`` is a start+end pair; the '/' of a
                # bare attribute value (``<x y=z/>``) does not count
                if kind == 4 and (
                    m.group(4) == "/>"
                    or (
                        text[last - 2] == "/"
                        and _ONLY_WS_SLASH.fullmatch(m.group(3)) is not None
                    )
                ):
                    continue
                if name in rawtext:
                    # raw-text element: skip body to the matching end tag
                    # (both tags + body contribute nothing — rawtext tags
                    # are all KILL_TAGS)
                    end = _RAW_END[name].search(text, last)
                    skip = end.end() if end else n
                    last = skip
                    continue
                if name == "a":
                    if not kill:
                        a_depth += 1
                    continue
                kill += 1
                continue
            if kill:
                continue
            if name in block_tags:
                if parts:
                    segments.append(("".join(parts), chars, link_chars))
                    parts = []
                    parts_append = parts.append
                    chars = 0
                    link_chars = 0
        else:
            break
    if last < n and not kill:
        data = text[last:]
        if "&" in data:
            data = unescape(data)
        parts_append(data)
        chars += len(data)
        if a_depth:
            link_chars += len(data)
    if parts:
        segments.append(("".join(parts), chars, link_chars))

    kept: list[str] = []
    for seg_text, seg_chars, seg_links in segments:
        stripped = seg_text.strip()
        if not stripped:
            continue
        if seg_chars > 0 and seg_links / seg_chars > MAX_LINK_DENSITY:
            continue
        kept.append(stripped)
    return kept


def extract_html(payload: bytes) -> tuple[str, list[tuple]]:
    """bytes → (text, tokens).

    tokens: (page, block, para, word_line, word, word_text, confidence,
             bbox|None, start, end) — TOKEN schema order; each kept
             segment is one block.
    """
    segments = segment_html(payload)
    text = "\n".join(segments)
    tokens: list[tuple] = []
    tokens_append = tokens.append
    widx = 0
    seg_start = 0
    for b, seg in enumerate(segments):
        # Offsets are arithmetic, not searched: ``text`` is exactly the
        # segments joined by '\n' and words within a segment are joined
        # by single ' ' (split(' ') round-trips), so item j+1 starts at
        # end(item j) + 1 and the first item starts at the segment start.
        offset = seg_start
        for w in seg.split(" "):
            if w == "":
                offset += 1
                continue
            end = offset + len(w)
            tokens_append((1, b, b, b, widx, w, 1.0, None, offset, end))
            widx += 1
            offset = end + 1
        seg_start += len(seg) + 1  # '\n' between segments
    return text, tokens
