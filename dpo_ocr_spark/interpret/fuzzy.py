"""Fuzzy string-similarity kernels (pure Python, deterministic).

Reimplements from public semantics — no fuzzy library ships in this
environment:

- ``ratio``/``partial_ratio``/``token_set_ratio``: the
  fuzzywuzzy/rapidfuzz family the reference scores with
  (block_identification.py:249, 261, 294; auto_id_compare.py:289-292, 545).
  Its token_sort_ratio is ``ratio`` over ``_sorted_tokens`` forms, which
  the matchers precompute once per string.
  ratio = round(100 * (1 - indel_distance/(len1+len2))) — Levenshtein with
  substitutions forbidden (cost-2), the python-Levenshtein definition.
- ``word_similarity``: PostgreSQL pg_trgm semantics
  (block_identification.py:342, 362; ui/app_ento.R:572): greatest
  similarity between the trigram set of s1 and any continuous extent of
  s2's ordered trigram array, similarity = |∩| / |∪|.

All functions are plain CPython designed to be called *inside* Arrow
batches (pandas UDFs) — the per-pair DP never crosses the JVM boundary.
An upper-bound prune (``ratio_upper_bound``) lets cross-join scoring skip
pairs that cannot reach the accept threshold.
"""

from __future__ import annotations

import re
from functools import lru_cache

_NON_WORD = re.compile(r"\W+")


@lru_cache(maxsize=1 << 18)
def indel_distance(a: str, b: str) -> int:
    """Levenshtein distance with substitution cost 2 (= insertions +
    deletions only); classic two-row DP, O(len(a)*len(b)).  Cached: block
    texts and dictionary names repeat heavily within a batch."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    if la < lb:  # iterate over the shorter row
        a, b, la, lb = b, a, lb, la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1]
            else:
                cur[j] = 1 + min(prev[j], cur[j - 1])
        prev = cur
    return prev[lb]


def ratio(a: str, b: str) -> int:
    """fuzz.ratio: 0-100 int."""
    lensum = len(a) + len(b)
    if lensum == 0:
        return 100
    return round(100 * (lensum - indel_distance(a, b)) / lensum)


def ratio_upper_bound(len_a: int, len_b: int) -> float:
    """Max achievable ratio given only lengths (indel ≥ |len_a - len_b|)."""
    lensum = len_a + len_b
    if lensum == 0:
        return 100.0
    return 100.0 * (lensum - abs(len_a - len_b)) / lensum


def partial_ratio(a: str, b: str) -> int:
    """Best ratio of the shorter string against any same-length window of
    the longer (fuzzywuzzy partial_ratio semantics)."""
    if len(a) > len(b):
        a, b = b, a
    if len(a) == 0:
        return 100 if len(b) == 0 else 0
    if len(a) == len(b):
        return ratio(a, b)
    best = 0
    for i in range(len(b) - len(a) + 1):
        r = ratio(a, b[i : i + len(a)])
        if r > best:
            best = r
            if best == 100:
                break
    return best


@lru_cache(maxsize=1 << 16)
def _sorted_tokens(s: str) -> str:
    """Tokenize, lowercase, sort, rejoin (fuzzywuzzy's token_sort form)."""
    return " ".join(sorted(_NON_WORD.sub(" ", s.lower()).split()))


def token_set_ratio(a: str, b: str) -> int:
    """fuzzywuzzy token_set_ratio: max ratio over (sorted-intersection,
    intersection+rest_a, intersection+rest_b) pairings."""
    ta = set(_NON_WORD.sub(" ", a.lower()).split())
    tb = set(_NON_WORD.sub(" ", b.lower()).split())
    inter = " ".join(sorted(ta & tb))
    ra = " ".join(sorted(ta - tb))
    rb = " ".join(sorted(tb - ta))
    combined_a = f"{inter} {ra}".strip()
    combined_b = f"{inter} {rb}".strip()
    return max(
        ratio(inter, combined_a),
        ratio(inter, combined_b),
        ratio(combined_a, combined_b),
    )


# ---------------------------------------------------------------------------
# pg_trgm
# ---------------------------------------------------------------------------


@lru_cache(maxsize=65536)
def _trigram_list(s: str) -> tuple[str, ...]:
    """Ordered trigram array per pg_trgm: each word lowercased, non-alnum
    stripped, padded with 2 leading + 1 trailing space."""
    out: list[str] = []
    for word in re.findall(r"[a-zA-Z0-9]+", s.lower()):
        padded = f"  {word} "
        out.extend(padded[i : i + 3] for i in range(len(padded) - 2))
    return tuple(out)


def word_similarity(a: str, b: str) -> float:
    """pg_trgm word_similarity(a, b): greatest similarity between a's
    trigram set and any continuous extent of b's ordered trigram array."""
    return word_similarity_pre(frozenset(_trigram_list(a)), _trigram_list(b))


def word_similarity_upper_bound(sa: frozenset, tb_set: frozenset) -> float:
    """Cheap bound: any extent's similarity ≤ |sa ∩ tb| / |sa|."""
    if not sa:
        return 1.0 if not tb_set else 0.0
    return len(sa & tb_set) / len(sa)


def word_similarity_pre(sa: frozenset, tb: tuple[str, ...]) -> float:
    """word_similarity with precomputed trigram forms (hot-path variant:
    batch scoring precomputes sa/tb once per string, not per pair)."""
    if not sa:
        return 1.0 if not tb else 0.0
    if not tb:
        return 0.0
    best = 0.0
    n = len(tb)
    la = len(sa)
    for i in range(n):
        seen: set[str] = set()
        inter = 0
        for j in range(i, n):
            t = tb[j]
            if t not in seen:
                seen.add(t)
                if t in sa:
                    inter += 1
            denom = la + len(seen) - inter
            sim = inter / denom if denom else 0.0
            if sim > best:
                best = sim
    return best
