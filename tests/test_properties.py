"""Property-based tests (hypothesis) for the pure kernels."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from dpo_ocr_spark.corpus import expected_text, split_paragraphs
from dpo_ocr_spark.extract.html import segment_html
from dpo_ocr_spark.interpret.dates import interpret_block
from dpo_ocr_spark.interpret.fuzzy import (
    _sorted_tokens,
    indel_distance,
    ratio,
    ratio_upper_bound,
    word_similarity,
)
from dpo_ocr_spark.interpret.mini_dateparser import parse
from html_reference import segment_html as reference_segment_html

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=10,
)
texts = st.lists(words, min_size=1, max_size=40).map(" ".join)


@given(texts)
def test_paragraph_split_losslessness(t):
    # splitting never loses or reorders words
    assert " ".join(split_paragraphs(t)) == t
    assert expected_text(t).replace("\n", " ") == t


@given(st.text(max_size=80), st.text(max_size=80))
def test_ratio_properties(a, b):
    r = ratio(a, b)
    assert 0 <= r <= 100
    assert r == ratio(b, a)  # symmetric
    assert ratio(a, a) == 100
    assert r <= ratio_upper_bound(len(a), len(b)) + 0.5  # bound holds


@given(st.text(max_size=60), st.text(max_size=60), st.text(max_size=60))
def test_indel_triangle(a, b, c):
    assert indel_distance(a, c) <= indel_distance(a, b) + indel_distance(b, c)


@given(st.text(max_size=60), st.text(max_size=60))
def test_token_sort_invariance(a, b):
    # reordering words never changes the token-sorted form the matchers
    # score with (fuzzywuzzy's token_sort_ratio)
    ra = ratio(_sorted_tokens(a + " " + b), _sorted_tokens(b + " " + a))
    assert ra == 100 or (not a.strip() and not b.strip())


@given(st.text(max_size=40), st.text(max_size=40))
def test_word_similarity_range(a, b):
    s = word_similarity(a, b)
    assert 0.0 <= s <= 1.0
    if a and any(ch.isalnum() for ch in a):
        assert word_similarity(a, a) == 1.0


@given(st.text(max_size=60))
@settings(max_examples=200)
def test_interpret_block_never_crashes(t):
    r = interpret_block(t)
    if r is not None:
        dt, fmt, iv, vv = r
        assert dt in ("verbatim_date", "elevation")
        assert isinstance(iv, str) and iv


@given(st.text(max_size=40), st.sampled_from(["DMY", "YMD", "MDY"]))
@settings(max_examples=200)
def test_parse_never_crashes_and_validates(t, order):
    p = parse(t, order)
    if p is not None:
        y, m, d = p
        assert 1000 <= y <= 2999 or y >= 2000
        assert 1 <= m <= 12 and 1 <= d <= 31


@given(st.binary(max_size=400))
@settings(max_examples=300)
def test_segmenters_never_crash(payload):
    a = reference_segment_html(payload)
    b = segment_html(payload)
    assert isinstance(a, list) and isinstance(b, list)


@given(texts)
def test_segmenters_agree_on_wellformed(t):
    from dpo_ocr_spark.corpus import render_html

    p = render_html(0, t)
    assert segment_html(p) == reference_segment_html(p)
