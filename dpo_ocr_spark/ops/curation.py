"""Corpus-curation operators: decontamination, repetition signals,
deterministic training order, TF-IDF, PII scrubbing, and the composed
curated-training-set pipeline.

First-class LLM-training-data ops, each in its 100 TB shape:

- **decontaminate**: flag corpus documents sharing any word-N-gram with a
  held-out evaluation set (the GPT-3/Llama n-gram-overlap decontamination
  step; N=4 here, 8-13 in production — a constant).  The eval side is
  tiny by construction (benchmarks are ~10⁴ docs, here doc_id % 97 = 0),
  so its distinct n-grams BROADCAST and the probe is a map-side hash
  join: the only shuffle is the per-doc hit count groupBy.  Never joins
  corpus×corpus.
- **repetition_stats**: Gopher-style within-document repetition signals
  (duplicate-token fraction, most-frequent-2-gram share).  Computed
  entirely IN-ROW with higher-order array expressions — zero shuffles,
  embarrassingly parallel, whole-stage-codegen.  The in-row scan is
  O(words²) per document, bounded by the upstream extract stage's
  document-length cap.
- **training_order**: deterministic shuffle of the corpus into training
  shards — shard by md5-derived hash, position by (hash, doc_id) within
  shard.  Reproducible across runs, engines and cluster sizes (no
  Math.random, no zipWithIndex); one shuffle, and the per-shard sort is
  bounded by shard size (shard count scales with corpus).  This is the
  "global shuffle" every pretraining pipeline runs before sequence
  packing (see textstats.shard_packing for the token-budget step).

All outputs integer/bool/string-exact; DuckDB oracle twins re-derive the
same values from the md5 / list-function contracts shared with ops.dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from .dedup import NORM_SQL, _words

N_DECON = 4  # words per decontamination n-gram
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> held-out eval document
N_SHARDS = 8  # training shards (scales with corpus in production)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ngrams(words: Column, n: int) -> Column:
    """Ordered word-n-grams; texts shorter than n words yield one clipped
    gram (identical slice semantics to tests/dedup_reference._shingles)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per corpus doc: distinct word-4-grams shared with the eval split.

    Returns (doc_id, lang, n_hits, contaminated) for every NON-eval doc.

    The eval n-gram set is broadcast, which is valid when the eval side is
    a true fixed-size benchmark suite (the production case: MMLU/GSM8K/…
    -style sets whose size is independent of corpus size).  This fixture
    derives eval from ``doc_id % 97 == 0`` — ~1% of the corpus, so here
    the broadcast side grows linearly with the corpus.
    """
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(_words(), N_DECON))).alias("gram"),
    )
    eval_grams = F.broadcast(
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", "lang")
        # hits is corpus-proportional on boilerplate-heavy corpora — a
        # plain shuffled equi-join, NOT a broadcast (only the eval n-gram
        # set above is guaranteed small)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


_WS_SQL = f"regexp_split_to_array({NORM_SQL}, ' ')"

DECONTAMINATE_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, {_WS_SQL} AS w FROM documents
), g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - {N_DECON - 1}, 1)),
             i -> array_to_string(w[i:i + {N_DECON - 1}], ' '))) AS gram
    FROM ws) t
), ev AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0
), hits AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
  FROM g JOIN ev USING (gram)
  WHERE g.doc_id % {EVAL_MOD} <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id, d.lang,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {EVAL_MOD} <> 0
"""

# repetition thresholds (x1000 integer ratios); the top-2-gram criterion
# only applies to docs of >= MIN_WORDS_TOP2 words (on a 4-word doc any
# 2-gram covers 50% — Gopher likewise length-gates its repetition rules)
DUP_FRAC_MAX = 600
TOP2_SHARE_MAX = 180
MIN_WORDS_TOP2 = 20


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals, zero-shuffle in-row arrays.

    (doc_id, n_words, dup_word_frac_x1000, top2_count, top2_share_x1000,
    repetitive) — duplicate-token fraction and most-frequent-2-gram word
    share, floor(x*1000) integer ratios.
    """
    docs = _docs(spark, sf_dir).select("doc_id", _words().alias("w"))
    grams = _ngrams(F.col("w"), 2)
    top2 = F.array_max(
        F.transform(
            grams,
            lambda g: F.size(F.filter(grams, lambda y: y == g)),
        )
    )
    out = docs.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.expr(
            "size(filter(w, x -> size(filter(w, y -> y = x)) > 1))"
            " * 1000 div size(w)"
        ).alias("dup_word_frac_x1000"),
        top2.alias("top2_count"),
        (top2 * 2 * 1000).alias("_t2w"),
    ).withColumn(
        "top2_share_x1000", F.expr("_t2w div n_words")
    )
    return out.select(
        "doc_id",
        "n_words",
        "dup_word_frac_x1000",
        "top2_count",
        "top2_share_x1000",
        (
            (F.col("dup_word_frac_x1000") > DUP_FRAC_MAX)
            | (
                (F.col("n_words") >= MIN_WORDS_TOP2)
                & (F.col("top2_share_x1000") > TOP2_SHARE_MAX)
            )
        ).alias("repetitive"),
    )


REPETITION_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, {_WS_SQL} AS w FROM documents
), g AS (
  SELECT doc_id, w, len(w) AS n_words,
         list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i + 1], ' ')) AS grams
  FROM ws
), m AS (
  SELECT doc_id, n_words,
         len(list_filter(w, x -> len(list_filter(w, y -> y = x)) > 1))
           * 1000 // n_words AS dup_word_frac_x1000,
         list_max(list_transform(grams,
           x -> len(list_filter(grams, y -> y = x)))) AS top2_count
  FROM g
)
SELECT doc_id, n_words, dup_word_frac_x1000, top2_count,
       top2_count * 2 * 1000 // n_words AS top2_share_x1000,
       (dup_word_frac_x1000 > {DUP_FRAC_MAX}
        OR (n_words >= {MIN_WORDS_TOP2}
            AND top2_count * 2 * 1000 // n_words > {TOP2_SHARE_MAX}))
         AS repetitive
FROM m
"""


def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: (doc_id, shard, pos) — md5-hash shard
    assignment + rank within shard.  Engine/run/cluster-size independent."""
    return order_frame(_docs(spark, sf_dir))


TRAINING_ORDER_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, h % {N_SHARDS} AS shard,
       row_number() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id)
         AS pos
FROM h
"""


# --- TF-IDF top terms ---------------------------------------------------------

TOP_TERMS = 3  # terms kept per document


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N characteristic terms per document by integer-exact TF-IDF.

    idf_x1000 = (1000 * n_docs) div df (integer floor — no log, so both
    engines hash identically); score = tf * idf_x1000; top TOP_TERMS per
    doc by (score desc, term asc).

    Scale shape: tf is one groupBy on (doc_id, term); document frequency
    is one groupBy on term (vocabulary-bounded) whose result BROADCASTS;
    the per-doc top-N window partitions on doc_id (unbounded
    parallelism).  n_docs is a driver-side scalar (one count job).
    """
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(_words()).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .select(
            "term",
            F.expr(f"(1000 * {n_docs}) div df").alias("idf_x1000"),
        )
    )
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        "tf",
        "idf_x1000",
        (F.col("tf") * F.col("idf_x1000")).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= TOP_TERMS)
    )


TFIDF_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, {_WS_SQL} AS w FROM documents
), terms AS (
  SELECT doc_id, unnest(w) AS term FROM ws
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfq AS (
  SELECT term,
         (1000 * (SELECT COUNT(*) FROM documents)) // COUNT(*) AS idf_x1000
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.idf_x1000,
         tf.tf * dfq.idf_x1000 AS score
  FROM tf JOIN dfq USING (term)
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, idf_x1000, score, rank
FROM rk WHERE rank <= {TOP_TERMS}
"""


def order_frame(docs: DataFrame) -> DataFrame:
    """Deterministic (shard, pos) assignment for any doc_id frame — the
    md5-hash shard + in-shard rank shared by training_order and the
    composed curated_training_set."""
    from .dedup import md5_int63

    h = md5_int63(F.col("doc_id").cast("string"))
    sharded = docs.select(
        "doc_id", h.alias("h"), F.pmod(h, F.lit(N_SHARDS)).alias("shard")
    )
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


def curated_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END composition: the corpus a curation pipeline actually
    ships — documents passing the curation verdict (dedup-keeper + length
    + stopword + language rules), shuffled deterministically into training
    shards.  Composes the oracle-checked curation_verdict and
    training_order stages; the DuckDB twin chains their oracle SQL."""
    from .textstats import curation_verdict

    kept = (
        curation_verdict(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return order_frame(kept)


# --- PII scrubbing -------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backreferences) so Spark and DuckDB replace/count the
# identical spans; cross-engine equality on PII-rich text is pinned in
# tests (the fixture corpus itself is PII-free by construction).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
# Phone heuristic: require a structural marker (leading +, parens, dash
# groups) or one long CONTIGUOUS digit run.  Bare space-separated digit
# groups like '2020 2021 2022' are prose (year lists, tables) and must
# survive scrubbing — the previous any-digit-run pattern silently
# replaced them, degrading curated training text.
PII_PHONE = (
    r"\+\d[\d\-() ]{5,}\d"  # international: leading +
    r"|\(\d{1,4}\) ?\d[\d\- ]{3,9}\d"  # (area) local
    r"|\b\d{2,4}(?:-\d{2,4}){2,4}\b"  # multi-dash groups 555-123-4567
    r"|\b\d{3}-\d{4}\b"  # 7-digit local 555-1234
    r"|\b\d{7,15}\b"  # contiguous digit run
)


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4 addresses / phone-like digit runs with typed
    placeholders and count them — the privacy-filtering pass a
    pre-training pipeline runs before export.  Pure JVM regexp
    (whole-stage codegen, zero shuffles); replacement order is
    email → ip → phone so the cheaper patterns can't eat an email's
    digits first.
    """
    docs = _docs(spark, sf_dir)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    # counts follow the SAME cascade as the replacement (email -> ip ->
    # phone): each stage counts on the previous stage's output, so the
    # counts always equal the placeholders actually written (an IP inside
    # an email's domain is part of the <EMAIL>, not a separate <IP>)
    after_email = F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PII_PHONE)).alias("n_phones"),
        scrubbed.alias("text_scrubbed"),
    )


PII_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}')) AS n_ips,
       len(regexp_extract_all(
             regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                            '{PII_IPV4}', '<IP>', 'g'),
             '{PII_PHONE}')) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
         '{PII_PHONE}', '<PHONE>', 'g') AS text_scrubbed
FROM documents
"""


# --- token-window document chunking --------------------------------------------

CHUNK_TOKENS = 64  # tokens per chunk
CHUNK_STRIDE = 48  # start-to-start distance (=> 16-token overlap)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the embedding/RAG prep step:
    each document becomes ceil-strided windows of CHUNK_TOKENS words with
    CHUNK_TOKENS−CHUNK_STRIDE overlap; the final window is the last
    stride whose start is still inside the doc, so every token is
    covered and short docs yield exactly one chunk.

    Pure in-row array work (sequence → transform → posexplode): ZERO
    shuffles at any corpus size; chunk boundaries are word-index
    arithmetic, so the oracle rebuilds text slices exactly.  Emits
    (doc_id, chunk_id, start_tok, n_tokens, chunk_text)."""
    docs = _docs(spark, sf_dir)
    w = _words()
    starts = F.expr(
        f"transform(sequence(0, greatest(cast(ceil((size(w) - {CHUNK_TOKENS})"
        f" / {CHUNK_STRIDE}.0) as int), 0)), i -> i * {CHUNK_STRIDE})"
    )
    return (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", "w", F.posexplode(starts).alias("chunk_id", "start_tok"))
        .select(
            "doc_id",
            "chunk_id",
            "start_tok",
            F.least(
                F.lit(CHUNK_TOKENS), F.size("w") - F.col("start_tok")
            ).alias("n_tokens"),
            F.array_join(
                F.slice("w", F.col("start_tok") + 1, F.lit(CHUNK_TOKENS)), " "
            ).alias("chunk_text"),
        )
    )


CHUNK_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, {_WS_SQL} AS w FROM documents
), st AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(CAST(ceil((len(w) - {CHUNK_TOKENS})
                                  / {CHUNK_STRIDE}.0) AS INT), 0) + 1))
           AS chunk_id
  FROM ws
)
SELECT doc_id, chunk_id,
       chunk_id * {CHUNK_STRIDE} AS start_tok,
       least({CHUNK_TOKENS}, len(w) - chunk_id * {CHUNK_STRIDE}) AS n_tokens,
       array_to_string(
         w[chunk_id * {CHUNK_STRIDE} + 1 :
           chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM st
"""


# --- crawl URL filtering --------------------------------------------------------

URL_BLOCK_HOSTS = ("host-3.example.org", "host-7.example.org")
_BAD_EXT = r"\.(exe|zip|apk)$"
_BAD_PATH = r"/(casino|warez)/"


def url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL filtering — the C4/RefinedWeb pre-download
    gate: drop blocklisted hosts (broadcast anti-list), non-http(s)
    schemes, binary-download extensions and spam path segments.

    URLs are synthesized deterministically messy from doc_id (residue
    toggles inject each defect class) so the oracle can rebuild the SAME
    strings and re-run the SAME regex/host checks in SQL — the parity is
    on the filtering logic, not just the toggle arithmetic.  The host
    blocklist is a tiny broadcast dim (real lists are ~1e5 rows — still
    broadcast-sized); everything else is zero-shuffle JVM regex."""
    docs = _docs(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 23 == 0, F.lit("ftp://")).otherwise(F.lit("https://")),
        F.lit("host-"),
        (d % 20).cast("string"),
        F.lit(".example.org"),
        F.when(d % 17 == 0, F.lit("/casino")).otherwise(F.lit("")),
        F.lit("/doc/"),
        d.cast("string"),
        F.when(d % 17 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit(".zip")).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", url.alias("url")).select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        (~F.col("url").rlike(r"^https?://")).alias("bad_scheme"),
        F.col("url").rlike(_BAD_EXT).alias("bad_ext"),
        F.col("url").rlike(_BAD_PATH).alias("bad_path"),
    )
    block = spark.createDataFrame(
        [(h,) for h in URL_BLOCK_HOSTS], "bhost string"
    )
    return (
        base.join(
            F.broadcast(block), base.host == block.bhost, "left"
        )
        .select(
            "doc_id",
            "url",
            "bad_scheme",
            F.col("bhost").isNotNull().alias("bad_domain"),
            "bad_ext",
            "bad_path",
            (
                ~F.col("bad_scheme")
                & F.col("bhost").isNull()
                & ~F.col("bad_ext")
                & ~F.col("bad_path")
            ).alias("keep"),
        )
    )


URL_FILTER_ORACLE = f"""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 23 = 0 THEN 'ftp://' ELSE 'https://' END
          || 'host-' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
          || CASE WHEN doc_id % 17 = 0 THEN '/casino' ELSE '' END
          || '/doc/' || CAST(doc_id AS VARCHAR)
          || CASE WHEN doc_id % 17 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 13 = 0 THEN '.zip' ELSE '' END) AS url
  FROM documents
), b AS (
  SELECT doc_id, url,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
         NOT regexp_matches(url, '^https?://') AS bad_scheme,
         regexp_matches(url, '{_BAD_EXT}') AS bad_ext,
         regexp_matches(url, '{_BAD_PATH}') AS bad_path
  FROM u
)
SELECT doc_id, url, bad_scheme,
       host IN {URL_BLOCK_HOSTS!r} AS bad_domain,
       bad_ext, bad_path,
       (NOT bad_scheme AND host NOT IN {URL_BLOCK_HOSTS!r}
        AND NOT bad_ext AND NOT bad_path) AS keep
FROM b
"""


# --- data-mixing weights per source --------------------------------------------

MIX_LAMBDA_X10 = 3  # uniform-smoothing weight λ = 0.3 (×10 fixed point)


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for training-data mixing — the
    Pile/DoReMi-lite step that turns raw per-domain token masses into a
    smoothed sampling distribution: w_i = λ/n + (1−λ)·t_i/T (uniform-
    interpolated proportional mixing; λ pulls tiny domains up and giant
    crawl domains down).

    Emitted ×1e6 fixed point via single-division integer arithmetic —
    ``floor(1e6·(λ₁₀·T + (10−λ₁₀)·n·t_i) / (10·n·T))`` — exact in both
    engines.  Scale: one groupBy(source) over a token-count scan; the
    weight arithmetic joins against two scalar aggregates (driver-sized
    broadcast).  Overflow headroom: numerator < 2^63 while
    7·n·t_i·1e6 < 9.2e18, i.e. corpus token mass t_i ≲ 1.3e12/n per
    source — beyond that use DECIMAL(38,0) in both engines (same
    expression, wider type).
    """
    docs = _docs(spark, sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_words())).alias("tokens"),
    )
    tot = per_src.agg(
        F.sum("tokens").alias("t_total"), F.count("*").alias("n_sources")
    )
    lam = MIX_LAMBDA_X10
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.expr(
            f"(1000000 * ({lam} * t_total + {10 - lam} * n_sources * tokens))"
            " div (10 * n_sources * t_total)"
        ).alias("weight_x1e6"),
    )


DOMAIN_MIX_ORACLE = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(len({_WS_SQL})) AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(tokens) AS t_total, COUNT(*) AS n_sources FROM per_src
)
SELECT source, n_docs, CAST(tokens AS BIGINT) AS tokens,
       CAST((1000000 * ({MIX_LAMBDA_X10} * t_total
                   + {10 - MIX_LAMBDA_X10} * n_sources * tokens))
         // (10 * n_sources * t_total) AS BIGINT) AS weight_x1e6
FROM per_src, tot
"""


# --- corpus-trained bigram LM fluency score -----------------------------------

LM_SCALE = 1_000_000  # likelihood fixed-point scale (integer-exact gate)


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical fluency scoring: a bigram LM trained ON THE CORPUS
    ITSELF (the classic cheap quality signal — gibberish and shuffled
    text have rare transitions; fluent prose has common ones).

    MLE transition likelihood per bigram instance, fixed-point integer:
    ``(LM_SCALE * c(w1,w2)) div c(w1→·)`` where ``c(w1→·)`` counts w1 as
    a LEFT context (so per-w1 likelihoods sum to exactly LM_SCALE
    modulo flooring).  Per doc: instance count, likelihood sum, and
    mean — all BIGINT, so the DuckDB twin hashes identically (no
    float log-probs; a log-space score would hinge on engine ``ln``
    bit-patterns).

    Scale shape: train = two corpus-wide groupBys (unigram-context +
    bigram counts — vocabulary-sized results, sublinear in corpus);
    score = two equi-joins of the instance stream against those count
    tables (hot stopword bigrams are AQE skew-split — deliberately
    joins, NOT count-over-window, which would sort a billion-row
    partition for 'the' at corpus scale) + one final groupBy(doc_id).
    Overflow headroom: LM_SCALE * c2 stays < 2^63 while total bigram
    instances < 9.2e12 — beyond that drop LM_SCALE to 1e4 or go
    DECIMAL.

    Reference tie-in: the same shape as the reference's frequency-based
    candidate ranking (block_identification.py word-frequency dictionary
    lookups), lifted from per-field dictionaries to a corpus LM.
    """
    docs = _docs(spark, sf_dir)
    # zip each word with its successor; <2-word docs zip to an empty
    # array (slice length 0) and explode drops them — re-attached with
    # zero counts by the final left join
    inst = (
        docs.select("doc_id", _words().alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(w, 1, size(w) - 1),"
                    " slice(w, 2, size(w) - 1),"
                    " (x, y) -> named_struct('w1', x, 'w2', y))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    c1 = inst.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = inst.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    scored = (
        inst.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.expr(f"({LM_SCALE} * c2) div c1")).alias("lik_sum_x1e6"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("lik_sum_x1e6", F.lit(0)).alias("lik_sum_x1e6"),
        F.expr(
            "CASE WHEN n_bigrams > 0"
            " THEN lik_sum_x1e6 div n_bigrams ELSE 0 END"
        ).alias("fluency_x1e6"),
    )


LM_BIGRAM_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, {_WS_SQL} AS w FROM documents
), inst AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM ws, unnest(range(1, len(w))) AS t(i)
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM inst GROUP BY w1
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(({LM_SCALE} * c2) // c1) AS lik_sum_x1e6
  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(p.lik_sum_x1e6, 0) AS BIGINT) AS lik_sum_x1e6,
       CAST(CASE WHEN coalesce(p.n_bigrams, 0) > 0
            THEN p.lik_sum_x1e6 // p.n_bigrams ELSE 0 END AS BIGINT)
         AS fluency_x1e6
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# --- URL canonicalization ------------------------------------------------------

def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization, pure JVM string expressions
    (zero shuffles): lowercase scheme+authority, strip the default :443
    port, drop fragments, sort query parameters, trim trailing path
    slashes.  The raw URLs are synthesized deterministically messy from
    doc_id (uppercase host, default port, unsorted query, fragment — each
    toggled by a doc_id residue) so the oracle predicts the canonical
    form arithmetically while the engine does the real normalization.
    """
    docs = _docs(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(d % 2 == 0, F.lit("Host-")).otherwise(F.lit("host-")),
        (d % 20).cast("string"),
        F.lit(".Example.ORG"),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Doc/"),
        d.cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    no_frag = F.regexp_replace(raw, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z]+)://", 1))
    authority = F.lower(
        F.regexp_extract(no_frag, r"^[A-Za-z]+://([^/?#]+)", 1)
    )
    authority = F.regexp_replace(authority, r":443$", "")
    path = F.when(
        F.col("_p").rlike(r"^.+/$"), F.expr("rtrim('/', _p)")
    ).otherwise(F.col("_p"))
    query = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return (
        docs.select(
            "doc_id",
            raw.alias("raw_url"),
            scheme.alias("_s"),
            authority.alias("_a"),
            F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
            .alias("_p"),
            sorted_q.alias("_q"),
        )
        .select(
            "doc_id",
            "raw_url",
            F.concat(
                F.col("_s"),
                F.lit("://"),
                F.col("_a"),
                path,
                F.when(
                    F.col("_q") != "", F.concat(F.lit("?"), F.col("_q"))
                ).otherwise(F.lit("")),
            ).alias("url_norm"),
        )
    )


URL_NORMALIZE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Host-' ELSE 'https://host-'
         END
       || CAST(doc_id % 20 AS VARCHAR) || '.Example.ORG'
       || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
       || '/Doc/' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
       || CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1' ELSE '' END
       || CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END AS raw_url,
       'https://host-' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
       || '/Doc/' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' ELSE '' END AS url_norm
FROM documents
"""


# --- Unicode normalization -----------------------------------------------------

def unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize document text — the unicode-canonicalization pass a
    web corpus needs before hashing/dedup (decomposed accents, ligature
    variants hash differently otherwise).  Spark has no NFC builtin, so
    this is an Arrow-vectorized pandas_udf over ``unicodedata`` (the one
    sanctioned Python path: no JVM equivalent exists); zero shuffles.
    DuckDB twin: ``nfc_normalize`` — both implement Unicode NFC, so the
    gate compares real normalization outputs (combining-character inputs
    pinned in pytest; the fixture corpus is ASCII where NFC = identity).
    """
    def nfc_batches(it):
        import unicodedata

        for pdf in it:
            pdf = pdf.copy()
            pdf["text_nfc"] = pdf["text"].map(
                lambda t: unicodedata.normalize("NFC", t)
                if t is not None
                else None
            )
            yield pdf

    docs = _docs(spark, sf_dir)
    out = docs.select("doc_id", "text").mapInPandas(
        nfc_batches, schema="doc_id long, text string, text_nfc string"
    )
    return out.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length("text_nfc").alias("n_chars_nfc"),
        (F.col("text") != F.col("text_nfc")).alias("changed"),
        F.md5("text_nfc").alias("nfc_md5"),
    )


UNICODE_NORMALIZE_ORACLE = """
SELECT doc_id,
       length(text) AS n_chars_raw,
       length(nfc_normalize(text)) AS n_chars_nfc,
       text <> nfc_normalize(text) AS changed,
       md5(nfc_normalize(text)) AS nfc_md5
FROM documents
"""
