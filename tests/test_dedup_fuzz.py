"""Differential fuzz of the Arrow dedup kernels against their SQL twins.

The shingle kernel (``sized_shingles_of``) and the MinHash signature kernel
(``_signature_batches``) restate in Python the shingle rule that
tests/dedup_reference.py states in Spark SQL: lower-case, collapse
ASCII whitespace, split on ' ', clip to word-3-grams, keep the first
occurrence of each.  The two must agree on text no corpus generator
produces: runs of control whitespace, whitespace that only Unicode
calls whitespace, characters whose lower-case form changes length or
depends on context, and empty, NULL and short texts.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

import dedup_reference as R
from dpo_ocr_spark.ops import dedup as D

# ASCII whitespace (Java's and re.ASCII's \s), then whitespace only
# Unicode knows: NBSP, LINE SEPARATOR, NEL and the \x1c-\x1f separators
_ASCII_WS = " \t\n\x0b\x0c\r"
_UNICODE_WS = "\u00a0\u2028\u0085\x1c\x1d\x1e\x1f"
# İ lower-cases to two code points, Σ to σ or (word-final) ς, ẞ to ß,
# the Kelvin and Angstrom signs to k and å; ﬁ has no lower-case mapping
_CASE = "\u0130\u03a3\u1e9e\ufb01\u03c3\u03c2\u00df\u212b\u212a"

_words = st.one_of(
    st.sampled_from(
        ["a", "ab", "The", "ΟΔΟΣ", "ΣΑΣ.", "İstanbul", "STRAẞE", "ﬁle", "x"]
    ),
    st.text(alphabet="abAB" + _CASE, min_size=1, max_size=4),
)
_seps = st.text(alphabet=_ASCII_WS + _UNICODE_WS, min_size=1, max_size=4)
_texts = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.one_of(_words, _seps), max_size=14).map("".join),
    st.text(alphabet="ab " + _ASCII_WS + _UNICODE_WS + _CASE, max_size=10),
)

_SIG_SCHEMA = "doc_id long, " + ", ".join(
    f"mh_{i} long" for i in range(D.MINHASH_K)
)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@given(st.lists(_texts, min_size=1, max_size=150))
@example(
    [
        _ASCII_WS,
        "a\t\tb\x0b\x0cc\r\nd e",
        "a\u00a0b\u2028c\x1cd\x1fe f",
        "İİ ΣΑΣ ΟΔΟΣ. ẞ ﬁ ﬁ",
        "",
        None,
        "one two",
        "x",
        " ",
    ]
)
@settings(
    max_examples=6,
    derandomize=True,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)
def test_dedup_kernels_match_reference_on_hostile_text(spark, texts):
    # one partition: one Python task per kernel, whatever the core count
    rows = spark.sparkContext.parallelize(list(enumerate(texts)), 1)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = docs.select("doc_id", F.explode(R._shingles()).alias("shingle"))
    want = _rows(ref)

    sized = D.sized_shingles_of(docs)
    assert _rows(sized.select("doc_id", "shingle")) == want
    n = Counter(doc_id for doc_id, _ in want)
    assert _rows(sized) == sorted(
        (doc_id, s, n[doc_id]) for doc_id, s in want
    )
    sig = docs.select("doc_id", "text").mapInArrow(
        D._signature_batches, schema=_SIG_SCHEMA
    )
    assert _rows(sig) == _rows(R.minhash_of(ref))
