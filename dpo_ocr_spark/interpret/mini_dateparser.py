"""Deterministic subset date parser standing in for ``dateparser.parse``.

The reference calls dateparser with settings
``DATE_ORDER ∈ {DMY,YMD,MDY}``, ``PREFER_DATES_FROM='past'``,
``PREFER_DAY_OF_MONTH='first'``, ``REQUIRE_PARTS=['month','year']``
(block_identification.py:136-138).  That library isn't available here, so
this module implements the subset of its behavior the pipeline relies on,
deterministically (no locale, no current-time dependence):

- tokenization on whitespace / '-' / '/' / ',' / '.';
- month = English month name or abbreviation (case-insensitive), or a
  numeric 1-12 slot per DATE_ORDER;
- REQUIRE month+year: returns None unless both are found;
- PREFER_DAY_OF_MONTH='first': missing day → 1;
- 2-digit years resolve to 2000+YY — matching the behavior the reference
  observed and then "fixed" by subtracting 1000
  (block_identification.py:169-171: "If it interprets year 64 as 2064");
- ordinal day tokens ("3rd", "21st") and fr/de/es/it/pt month names
  (accent-folded variants included) — the slice of dateparser's wider
  format/locale surface real corpora hit (format matrix pinned in
  tests/test_interpret.py::test_dateparser_format_matrix);
- connector words dropped ("5 de mayo de 2021", "the 3rd of May 2021"),
  fused YYYYMMDD, and ISO time suffixes ("2021-01-05T10:30:00") — r3
  widening, still fully deterministic;
- returns (year, month, day) or None.
"""

from __future__ import annotations

import re

MONTHS = {
    "jan": 1, "january": 1, "feb": 2, "february": 2, "mar": 3, "march": 3,
    "apr": 4, "april": 4, "may": 5, "jun": 6, "june": 6, "jul": 7,
    "july": 7, "aug": 8, "august": 8, "sep": 9, "sept": 9, "september": 9,
    "oct": 10, "october": 10, "nov": 11, "november": 11, "dec": 12,
    "december": 12,
}

# dateparser's multi-locale surface, the deterministic unambiguous subset
# (fr/de/es/it/pt full names + common abbreviations; accent-folded ASCII
# variants included — real OCR output often loses diacritics).  Strictly
# additive: every English key above keeps its meaning, and no locale form
# collides with a different month.
_LOCALE_MONTHS = {
    # French
    "janvier": 1, "janv": 1, "fevrier": 2, "février": 2, "fevr": 2,
    "mars": 3, "avril": 4, "avr": 4, "mai": 5, "juin": 6, "juillet": 7,
    "juil": 7, "aout": 8, "août": 8, "septembre": 9, "octobre": 10,
    "novembre": 11, "decembre": 12, "décembre": 12,
    # German
    "januar": 1, "februar": 2, "marz": 3, "märz": 3, "maerz": 3,
    "april": 4, "juni": 6, "juli": 7, "okt": 10, "oktober": 10,
    "dez": 12, "dezember": 12,
    # Spanish
    "enero": 1, "ene": 1, "febrero": 2, "marzo": 3, "abril": 4, "abr": 4,
    "mayo": 5, "junio": 6, "julio": 7, "agosto": 8, "ago": 8,
    "septiembre": 9, "setiembre": 9, "set": 9, "octubre": 10,
    "noviembre": 11, "diciembre": 12, "dic": 12,
    # Italian
    "gennaio": 1, "gen": 1, "febbraio": 2, "maggio": 5, "mag": 5,
    "giugno": 6, "giu": 6, "luglio": 7, "lug": 7, "settembre": 9,
    "ottobre": 10, "ott": 10, "dicembre": 12,
    # Portuguese
    "janeiro": 1, "fevereiro": 2, "marco": 3, "março": 3, "maio": 5,
    "junho": 6, "julho": 7, "setembro": 9, "outubro": 10, "out": 10,
    "novembro": 11, "dezembro": 12,
}
MONTHS = {**_LOCALE_MONTHS, **MONTHS}  # English wins any residual overlap

_SPLIT = re.compile(r"[\s\-/,.]+")

# dateparser drops connector words between date parts ("5 de mayo de
# 2021", "the 3rd of May 2021"); the unambiguous multi-locale set —
# none of these collide with a month name or number
_CONNECTORS = frozenset(
    ["de", "del", "of", "the", "den", "le", "el", "di", "am", "на"]
)

# ISO datetime ("2021-01-05T10:30:00", "2021-01-05 10:30"): keep the
# date part, drop the time.  Anchored on a FULL ISO date prefix so
# non-ISO strings with trailing times ("May 3 12:30") are untouched —
# stripping those would leave "May 3" and misread the day as a 2-digit
# year (found in review; dateparser reads day=3 there, so refusing the
# whole string is the safe subset behavior).
_ISO_DATETIME = re.compile(
    r"^(\d{4}-\d{2}-\d{2})[T ]\d{1,2}:\d{2}(:\d{2})?(\.\d+)?Z?$"
)

# dateparser accepts ordinal day tokens ("3rd", "21st"); digits + suffix
_ORDINAL = re.compile(r"^(\d+)(st|nd|rd|th)$", re.IGNORECASE)

_DAYS_IN_MONTH = [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]


def _valid_day(day: int, month: int) -> bool:
    return 1 <= day <= _DAYS_IN_MONTH[month - 1]


def parse(text: str, date_order: str) -> tuple[int, int, int] | None:
    """Parse per DATE_ORDER; None when no (month, year) interpretation."""
    stripped = text.strip()
    iso = _ISO_DATETIME.match(stripped)
    if iso:
        stripped = iso.group(1)
    raw = [
        t2
        for t in _SPLIT.split(stripped)
        for t2 in (re.sub(r"^\W+|\W+$", "", t),)  # dateparser-style leniency
        if t2 and t2.lower() not in _CONNECTORS
    ]
    # fused YYYYMMDD (archive/filename form) — dateparser accepts it for
    # every DATE_ORDER (the 4-digit year anchors the layout)
    if len(raw) == 1 and raw[0].isdigit() and len(raw[0]) == 8:
        y, m, d = int(raw[0][:4]), int(raw[0][4:6]), int(raw[0][6:])
        if 1000 <= y <= 2999 and 1 <= m <= 12 and _valid_day(d, m):
            return (y, m, d)
        return None
    if not raw or len(raw) > 3:
        return None
    month_name: int | None = None
    nums: list[str] = []
    ordinals: set[int] = set()  # indices of '3rd'-style tokens: DAYS, never years
    for t in raw:
        ordinal = _ORDINAL.match(t)
        if t.lower() in MONTHS:
            if month_name is not None:
                return None  # two month words — ambiguous, refuse
            month_name = MONTHS[t.lower()]
        elif t.isdigit():
            nums.append(t)
        elif ordinal:
            ordinals.add(len(nums))
            nums.append(ordinal.group(1))  # '3rd' → '3' (day ordinal)
        else:
            return None  # stray token — not a pure date string

    def year_of(tok: str) -> int | None:
        if len(tok) == 4 and 1000 <= int(tok) <= 2999:
            return int(tok)
        if len(tok) <= 2:
            return 2000 + int(tok)  # dateparser-observed behavior
        return None

    if month_name is not None:
        if len(nums) == 1:
            if 0 in ordinals:
                return None  # '21st May': an explicit DAY, no year → refuse
            y = year_of(nums[0])
            return (y, month_name, 1) if y else None
        if len(nums) == 2:
            # day + year in either position; an ordinal token is always the
            # day, else the 4-digit (or the later) token is the year
            a, b = nums
            if 0 in ordinals and 1 in ordinals:
                return None  # two explicit DAY ordinals, no year slot left
            if 0 in ordinals or 1 in ordinals:
                d_idx = 0 if 0 in ordinals else 1
                y = year_of(nums[1 - d_idx])
                if y is None:
                    return None
                d = int(nums[d_idx])
            elif len(a) == 4 and 1000 <= int(a) <= 2999:
                y, d = int(a), int(b)
            elif len(b) == 4 and 1000 <= int(b) <= 2999:
                y, d = int(b), int(a)
            else:
                y2 = year_of(b)
                if y2 is None:
                    return None
                y, d = y2, int(a)
            return (y, month_name, d) if _valid_day(d, month_name) else None
        return None

    # pure-numeric: need exactly 2 or 3 tokens, assigned per DATE_ORDER.
    # Ordinal tokens ('3rd') are explicitly DAYS — they may never fill the
    # month or year slot (dateparser with REQUIRE_PARTS month+year refuses
    # '3rd 2020': the remaining token cannot be both month and year).
    if len(nums) == 2:
        if ordinals:
            return None
        a, b = nums
        # one of them must be a plausible year (4-digit); the other a month
        if len(a) == 4 and 1000 <= int(a) <= 2999 and 1 <= int(b) <= 12:
            return (int(a), int(b), 1)
        if len(b) == 4 and 1000 <= int(b) <= 2999 and 1 <= int(a) <= 12:
            return (int(b), int(a), 1)
        return None
    if len(nums) == 3:
        order = {"DMY": (2, 1, 0), "YMD": (0, 1, 2), "MDY": (2, 0, 1)}[
            date_order
        ]
        if any(i in ordinals for i in (order[0], order[1])):
            return None  # an ordinal day token landed in the y/m slot
        y_tok, m_tok, d_tok = (nums[order[0]], nums[order[1]], nums[order[2]])
        y = year_of(y_tok)
        if y is None:
            return None
        m, d = int(m_tok), int(d_tok)
        if not (1 <= m <= 12) or not _valid_day(d, m):
            return None
        return (y, m, d)
    return None
