"""Layout/OCR payload parse: Document-AI-shaped JSON → text + tokens.

Handles the binary payload family (stand-in for image/PDF OCR responses).
The payload shape mirrors the reference's Document-AI result
(ML/google_documentai/run_docai.py:84-93 and the sample JSON under
ML/google_documentai/results/): a flat ``text`` field plus a page→block→word
hierarchy where every word carries a [start,end) char span into ``text``,
a quad bbox, and a confidence.

Reading-order flattening reproduces the reference's Google-Vision walk
(run_gvision_ocr.py:184-309): running block/para/word counters (A9),
word_line derived from the extracted text's '\\n' boundaries — the same
invariant the reference's monotone line scan establishes
(run_gvision_ocr.py:304-309): a word's line is the fulltext line containing
its span.

The decoder returns (text, tokens) only.  A block's confidence and bbox
are aggregates of its tokens: ``assemble.py`` computes the confidence
(A2), and the ``minmax_envelope`` and ``crop_rects`` queries the bbox
envelope (A5).
"""

from __future__ import annotations

import json
from bisect import bisect_right


def extract_layout(payload: bytes) -> tuple[str, list[tuple]]:
    """bytes → (text, tokens); token tuples follow the TOKEN schema."""
    doc = json.loads(payload.decode("utf-8"))
    text: str = doc["text"]
    # Precompute char-offset → line index (count of '\n' before offset):
    # C-level str.find scan instead of a per-char Python loop.
    line_starts = [0]
    nl = text.find("\n")
    while nl != -1:
        line_starts.append(nl + 1)
        nl = text.find("\n", nl + 1)

    def line_of(offset: int) -> int:
        # bisect over monotone line starts (same result as the reference
        # scan, C implementation instead of a Python binary-search loop)
        return bisect_right(line_starts, offset) - 1

    tokens: list[tuple] = []
    widx = 0
    for page in doc.get("pages", []):
        pno = int(page.get("page", 1))
        for blk in page.get("blocks", []):
            b = int(blk["block"])
            words = blk.get("words", [])
            for w in words:
                start, end = int(w["span"][0]), int(w["span"][1])
                tokens.append(
                    (
                        pno,
                        b,
                        b,  # one para per block in this payload family
                        line_of(start),
                        widx,
                        str(w["text"]),
                        float(w["conf"]),
                        w.get("bbox"),
                        start,
                        end,
                    )
                )
                widx += 1
    return text, tokens
