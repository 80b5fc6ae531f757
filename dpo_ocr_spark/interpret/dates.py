"""Rule-based block interpretation: the reference's date/elevation cascade.

Byte-exact reproduction of block_identification.py:84-200 — including its
load-bearing quirks, each preserved deliberately (SURVEY.md §7.3):

- C1: ``re.sub(r'\\W+ ,-/', '', text)`` — the pattern only strips non-word
  runs followed by literal " ,-/", a near-no-op; NOT "fixed".
- C2: year accepted iff 1800 <= y < CUR_YEAR (``range`` excludes the
  current year, :98).
- C4: roman-month map has ``"X11": "Dec"`` and *no* ``XII`` key (:143);
  substring containment (``"I" in "VI"``) and replace-all quirks kept.
- C5: century fix subtracts 1000, not 100 (:171: year 2064 → 1064).
- C6: elevation formats the *list* from ``re.findall`` — e.g. ``['500']'``
  (:120); the ``== "masl"`` comparison is dead code (a single char can
  never equal it) and stays dead here.
- Loop-order quirks: stage-1 format loop has no break (last successful
  DATE_ORDER wins, :136-141) while stage-2 breaks on first success
  (:176); the roman branch runs unconditionally and overwrites the direct
  parse when it succeeds (:142-155 is not guarded by interpreted_value).

The O(225×) re-evaluation of the year loop is collapsed to the equivalent
single evaluation (the loop body is i-independent except the ``str(i) in
text`` membership test) — same output, linear cost.
"""

from __future__ import annotations

import re

from .dims import COLLECTOR_STRINGS
from .mini_dateparser import parse

ROMAN_MONTH = {
    "I": "Jan", "II": "Feb", "III": "Mar", "IV": "Apr", "V": "May",
    "VI": "Jun", "VII": "Jul", "VIII": "Aug", "IX": "Sep", "X": "Oct",
    "XI": "Nov", "X11": "Dec",  # sic — reference quirk (no XII)
}

FROM_YEAR = 1800  # block_identification.py:79
CUR_YEAR = 2026  # the "current year" bound, pinned so output is reproducible
# the reference's (ineffective) alpha scrub — kept verbatim; auto_match's
# candidate generation shares it through alpha_of
_ALPHA_RE = re.compile(r"\W+ ,-/")
_NONWORD_RE = re.compile(r"\W+")
_DIGITS_RE = re.compile(r"\d+")

DATE_ORDERS = ("DMY", "YMD", "MDY")


def alpha_of(text: str) -> str:
    return _ALPHA_RE.sub("", text).strip()


def _parse_last_wins(alpha: str) -> tuple[int, int, int] | None:
    """Stage-1 format loop (:136-141): every success overwrites → the last
    successful DATE_ORDER wins."""
    result = None
    for fmt in DATE_ORDERS:
        p = parse(alpha, fmt)
        if p is not None:
            result = p
    return result


def _parse_first_wins(alpha: str) -> tuple[int, int, int] | None:
    """Stage-2 format loop (:166-176): break on first success."""
    for fmt in DATE_ORDERS:
        p = parse(alpha, fmt)
        if p is not None:
            return p
    return None


def _roman(text: str, first_wins: bool) -> tuple[tuple[int, int, int], str] | None:
    """Roman-month substitution branch (:142-155 / :178-195): for each map
    key present in the *original* text (substring test), replace all its
    occurrences and try to parse; later keys overwrite earlier results."""
    result = None
    for m, month in ROMAN_MONTH.items():
        if m in text:
            alpha = alpha_of(text.replace(m, month))
            p = _parse_first_wins(alpha) if first_wins else _parse_last_wins(alpha)
            if p is not None:
                result = (p, alpha)
    return result


def _century_fix(y: int) -> int:
    """:169-171 — 'if it interprets year 64 as 2064' subtract 1000 (sic)."""
    return y - 1000 if y > CUR_YEAR else y


def interpret_block(text: str) -> tuple[str, str, str, str] | None:
    """One block text → (data_type, data_format, interpreted_value,
    verbatim_value) or None; mirrors the :84-200 per-block control flow."""
    alpha_block = alpha_of(text)
    stripped = _NONWORD_RE.sub("", text).strip()

    # too-short guard + bare-year rule (:92-107).  Quirk: a short block whose
    # 4-digit token is NOT in the year range falls THROUGH to the rest of
    # the cascade (the try/for at :97-103 has no else), while a short block
    # without a 4-digit token is skipped (:106-107 else: continue).
    if len(alpha_block) < 5 or len(stripped) < 5:
        alpha_yr = _NONWORD_RE.sub("", alpha_block).strip()
        if len(alpha_yr) != 4:
            return None
        try:
            y = int(alpha_yr)
        except ValueError:
            return None
        if FROM_YEAR <= y < CUR_YEAR:
            return ("verbatim_date", "Date (year)", alpha_yr, alpha_block)
        # fall through — e.g. "1,500'" (digits 1500 < 1800) continues on
        # to the elevation rule

    # keyword guards (:110-115)
    if alpha_block in COLLECTOR_STRINGS:
        return None
    if "No." in alpha_block:
        return None

    # elevation (:116-131)
    if alpha_block[-1] == "'":
        elev_text = alpha_block.split(" ")[-1].strip()
        value = "{}'".format(_DIGITS_RE.findall(elev_text))
        return ("elevation", "elevation", value, elev_text)
    if alpha_block[-1] == "m":
        elev_text = alpha_block.split(" ")[-1].strip()
        value = "{}m".format(_DIGITS_RE.findall(elev_text))
        return ("elevation", "elevation", value, elev_text)

    # stage 1: 4-digit year in text → direct parse; roman overrides (:132-155)
    interpreted = ""
    verbatim = ""
    roman1 = _roman(text, first_wins=False)
    if roman1 is not None:
        (y, mo, d), alpha = roman1
        interpreted = f"{y:04d}-{mo:02d}-{d:02d}"
        verbatim = alpha
    elif any(str(i) in text for i in range(FROM_YEAR, CUR_YEAR)):
        p = _parse_last_wins(alpha_block)
        if p is not None:
            y, mo, d = p
            interpreted = f"{y:04d}-{mo:02d}-{d:02d}"
            verbatim = alpha_block

    # stage 2: 2-digit year suffix retry with century fix (:156-195)
    if interpreted == "":
        for i in range(99):
            nn = f"0{i}" if i < 10 else str(i)
            if (
                f"-{nn}" in text or f"'{nn}" in text
                or f" {nn}" in text or f"/{nn}" in text
            ):
                p = _parse_first_wins(alpha_of(text))
                if p is not None:
                    y, mo, d = p
                    y = _century_fix(y)
                    interpreted = f"{y}-{mo:02d}-{d:02d}"
                    verbatim = alpha_of(text)
                roman2 = _roman(text, first_wins=True)
                if roman2 is not None:
                    (y, mo, d), alpha = roman2
                    y = _century_fix(y)
                    interpreted = f"{y}-{mo:02d}-{d:02d}"
                    verbatim = alpha
                break  # only the first matching NN is processed (:158 guard)

    if interpreted != "":
        return ("verbatim_date", "Date (Y-M-D)", interpreted, verbatim)
    return None
