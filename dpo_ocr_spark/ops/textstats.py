"""Text-analysis operators for a training-data pipeline (brief: first-class).

All hot paths are built-in ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python in any of these operators:

- token counting: whitespace split + a BPE-ish subword regex count;
- quality scoring: length / punctuation-ratio / stopword-ratio signals;
- language-ID: distinct-stopword-overlap argmax over per-language lists
  (n-gram-free heuristic variant that is exactly reproducible in SQL);
- document fingerprint: md5 (exact dedup key) — the rolling/simhash
  variants live in ops/dedup.py.

Ratios are emitted ×1000 as integers (FP-hash-safe oracle contract).
"""

from __future__ import annotations

from .dedup import _docs, _norm_text, md5_int63
from pyspark.sql import DataFrame, SparkSession, functions as F

# tiny per-language stopword lists (deterministic, shared with oracle SQL)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "was"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht", "mit"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "en"],
}

# BPE-ish subword pieces: alternating letter-digit boundaries, word pieces
# of ≤4 chars — a cheap deterministic stand-in for a real tokenizer's
# piece count (regexp only, stays in codegen)
# NOTE: whitespace is the explicit class, not \s — Java's \s includes
# vertical tab, RE2's does not, and this constant is interpolated into
# BOTH engines' regexes (r3 review finding)
SUBWORD_REGEX = r"[a-z]{1,4}|[A-Z][a-z]{0,3}|\d{1,4}|[^ \t\n\x0b\f\ra-zA-Z0-9]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece count per document."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("n_words"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(SUBWORD_REGEX), 0)
        ).alias("n_subwords"),
        F.length("text").alias("n_chars"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword quality signals, integer-scaled ×1000."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), r"\s+")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_words = F.size(words)
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[a-zA-Z0-9 \t\n\x0b\f\r]+", ""))
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(n_punct * 1000 / F.length("text")).cast("long").alias(
            "punct_ratio_x1000"
        ),
        F.floor(n_stop * 1000 / n_words).cast("long").alias(
            "stopword_ratio_x1000"
        ),
        (
            (F.length("text") >= 100)
            & (n_stop * 1000 / n_words >= F.lit(10))
        ).alias("keep"),
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language heuristic: distinct-match count per
    language, argmax with deterministic tie-break on language code."""
    docs = _docs(spark, sf_dir)
    words = F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
    scores = [
        F.size(
            F.array_intersect(
                words, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            )
        ).alias(f"s_{lang}")
        for lang in sorted(STOPWORDS)
    ]
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *scores)
    langs = sorted(STOPWORDS)
    # argmax via greatest + chained when (ties → first lang asc)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"s_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", "labeled_lang", best.alias("best_score"),
        pred.alias("pred_lang"),
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup fingerprint: md5 of lowercase-collapsed text (identical
    in DuckDB), plus a 60-bit integer form for bucketing."""
    docs = _docs(spark, sf_dir)
    norm = _norm_text()
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        md5_int63(norm)
        .alias("fp_int"),
    )


def host_stats(spark, sf_dir: str):
    """Host-level skew statistics over the web corpus — the planning
    input for salting decisions at 100 TB (which hosts exceed a uniform
    partition's share; FIXTURES.md §1 deliberately concentrates ~10% of
    urls on one host).  Pure JVM expressions: regexp host parse, one
    groupBy, integer-exact share (×10000 floored basis points).  The
    corpus total is a window sum over the per-host rows, so the corpus
    is generated once, by the aggregate's own job.
    """
    from pyspark.sql import Window, functions as F

    from ..corpus import build_web_pages
    from ..scale import decode_partitions

    # salt BEFORE the generation UDF (guide §8: move heavy bytes once —
    # the old post-gen ensure_parallelism ran generation on the scan's
    # single task and then shuffled the generated payload bytes)
    pages = build_web_pages(
        spark, sf_dir, partitions=decode_partitions(spark, sf_dir)
    )
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    # one row per host (19 in the fixture): the global window is tiny
    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        pages.groupBy(host.alias("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("html")).alias("n_bytes"),
        )
        .select(
            "host",
            "n_docs",
            "n_bytes",
            F.floor(F.col("n_docs") * 10000 / total)
            .cast("long")
            .alias("share_bp"),
            (F.col("n_docs") * 20 > total).alias("salt_candidate"),
        )
    )


def _stopword_ratio_x1000() -> F.Column:
    words = F.split(F.col("text"), r"\s+")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    return F.floor(n_stop * 1000 / F.size(words)).cast("long")


def _pred_lang() -> F.Column:
    """Stopword-overlap argmax (same contract as language_id)."""
    words = F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
    langs = sorted(STOPWORDS)
    scores = {
        lang: F.size(
            F.array_intersect(
                words, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            )
        )
        for lang in langs
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict with the FIRST failing rule — the
    decision record a training-data curation pipeline actually emits,
    composing the oracle-checked signals:

      1. 'dup'          — not the smallest doc_id of its exact-text group
      2. 'short'        — extracted text under 100 chars
      3. 'low_stopword' — stopword ratio < 1% (gibberish heuristic)
      4. 'lang_mismatch'— predicted language ≠ labeled language
      5. 'keep'

    Scale shape: ONE scan of documents and ONE shuffle (the window over
    the exact-text fingerprint); every other signal is a narrow codegen
    expression in the same projection.  Rule order is the verdict
    contract: a short duplicate reports 'dup', not 'short'."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    is_keeper = F.col("doc_id") == F.min("doc_id").over(
        W.partitionBy(F.md5(_norm_text()))
    )
    verdict = (
        F.when(~is_keeper, "dup")
        .when(F.length("text") < 100, "short")
        .when(_stopword_ratio_x1000() < 10, "low_stopword")
        .when(_pred_lang() != F.col("lang"), "lang_mismatch")
        .otherwise("keep")
    )
    return docs.select(
        "doc_id",
        verdict.alias("verdict"),
        (verdict == F.lit("keep")).alias("keep"),
    )


SAMPLE_RATES_X1000 = {"en": 500, "fr": 200}  # stratum keep-rates
SAMPLE_DEFAULT_X1000 = 100  # keep-rate of every other language
SHARD_TOKEN_BUDGET = 2_000  # whitespace tokens per training shard


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample (the sampleBy analog
    training pipelines use for language rebalancing) — membership is a
    pure hash predicate, so the sample is reproducible across runs,
    engines and cluster sizes: keep iff md5int(doc_id) % 1000 < rate[lang].
    No shuffle at all: a filter over one scan."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    bucket = (
        md5_int63(F.col("doc_id").cast("string")) % 1000
    )
    rate = F.lit(SAMPLE_DEFAULT_X1000)
    for lang, r in sorted(SAMPLE_RATES_X1000.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.select(
        "doc_id", "lang", bucket.alias("sample_bucket")
    ).filter(F.col("sample_bucket") < rate)


def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/shard packing: assign each document to a training shard
    so shards hold ~SHARD_TOKEN_BUDGET whitespace tokens, per language, in
    deterministic doc_id order (the pre-tokenization packing step of an
    LLM data pipeline).  shard_id = floor(exclusive-prefix-sum / budget):
    a document lands in the shard its FIRST token falls into, so every
    shard except the last is filled past the budget boundary exactly
    once.  One window shuffle partitioned by language — at 10¹² docs the
    real job sub-partitions the window key by a date/bucket column the
    same way."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(F.split("text", r"\s+")).alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start / SHARD_TOKEN_BUDGET).cast("long").alias("shard_id"),
    )


HOST_CAP = 40  # max documents kept per host (C4/RefinedWeb-style cap)


def host_cap(spark, sf_dir: str):
    """Per-domain document cap — the C4/RefinedWeb anti-spam rule: keep at
    most HOST_CAP docs per host, chosen deterministically by
    (md5(url), url) rank so the sample is reproducible across runs,
    engines and cluster sizes.

    One shuffle (rank window per host); hosts are naturally bounded by
    the cap downstream, and a mega-host's rank sort is a single task's
    sort spill — for crawl-scale hot hosts, pre-filter with host_stats'
    salt_candidate list or raise shuffle partitions; the cap semantics
    are unchanged.
    """
    from pyspark.sql import Window as W, functions as F

    from ..corpus import build_web_pages
    from ..scale import decode_partitions

    # salt before the generation UDF (see host_stats)
    pages = build_web_pages(
        spark, sf_dir, partitions=decode_partitions(spark, sf_dir)
    )
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    w = W.partitionBy("host").orderBy(F.md5("url"), "url")
    return (
        pages.select("url", host.alias("host"))
        .select(
            "url",
            "host",
            F.row_number().over(w).alias("host_rank"),
        )
        .select(
            "url",
            "host",
            "host_rank",
            (F.col("host_rank") <= HOST_CAP).alias("kept"),
        )
    )
