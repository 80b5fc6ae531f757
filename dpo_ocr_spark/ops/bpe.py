"""Distributed BPE tokenizer training: iterative pair counting over the
distinct-word table.

The canonical 100 TB shape: BPE training never needs the corpus after
one aggregation — it needs the DISTINCT words with their corpus counts
(the classic Sennrich et al. 2016 trick; arXiv:1508.07909).  Each merge
iteration is then one pass over the word-shape table: explode adjacent
symbol pairs weighted by word count, groupBy pair, take the argmax
(count desc, pair asc — fully deterministic), and apply the winning
merge to every word shape.  The only driver-side materialization per
iteration is the single winning row.

Merge application uses a delimited-string representation shared
verbatim by the DuckDB oracle: a word's segmentation is
``SEP + symbol + SEP`` concatenated (``_w_SEP_o_SEP`` →
``\\x1fw\\x1f\\x1fo\\x1f``), and applying merge (a, b) is the plain
leftmost-non-overlapping ``replace('\\x1fa\\x1f\\x1fb\\x1f' →
'\\x1fab\\x1f')`` — which is exactly classic BPE's left-to-right
non-overlapping pair replacement (pinned against a reference Python
implementation in tests).  Both engines' ``replace`` are
leftmost-non-overlapping, so the oracle reproduces every iteration
bit-for-bit, including the data-driven argmax via scalar subqueries.

Reference parity: the reference has no tokenizer layer; this is a
§"beyond the reference" training-data operator (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _words

SEP = "\x1f"
N_MERGES = 8


def _word_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seg, n): delimited single-char segmentation per DISTINCT word,
    weighted by corpus frequency."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(F.explode(_words()).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(
                F.lit(SEP),
                F.array_join(F.split(F.col("word"), ""), SEP + SEP),
                F.lit(SEP),
            ).alias("seg"),
            "n",
        )
    )


def _pair_counts(shapes: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the current segmentations, weighted by
    word frequency: split the delimited string on the DOUBLE separator
    to recover symbols, then zip neighbours."""
    syms = F.split(
        F.regexp_replace(F.col("seg"), f"^{SEP}|{SEP}$", ""), SEP + SEP
    )
    pairs = F.filter(
        F.zip_with(
            syms,
            F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1))),
            lambda a, b: F.when(
                b.isNotNull(), F.struct(a.alias("l"), b.alias("r"))
            ),
        ),
        lambda p: p.isNotNull(),
    )
    return (
        shapes.select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("n").alias("pair_n"))
    )


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn N_MERGES BPE merges; returns (rank, left, right, pair_n).

    Each iteration shuffles only the pair-count aggregation over the
    word-shape table (vocabulary-sized, not corpus-sized) and collects
    exactly ONE row (the argmax).  At 10^12 documents the distinct-word
    table is large but DataFrame-sized; the per-iteration pass is the
    standard distributed BPE cost, and no corpus-scale data ever
    reaches the driver."""
    shapes = _word_shapes(spark, sf_dir)
    # the shape table is reused N_MERGES+1 times — cache it (bounded:
    # distinct words, not corpus rows)
    shapes = shapes.cache()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(N_MERGES):
        best = (
            _pair_counts(shapes)
            .orderBy(
                F.col("pair_n").desc(), F.col("left"), F.col("right")
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, n = best[0]["left"], best[0]["right"], best[0]["pair_n"]
        merges.append((rank, left, right, int(n)))
        shapes = shapes.select(
            F.replace(
                F.col("seg"),
                F.lit(f"{SEP}{left}{SEP}{SEP}{right}{SEP}"),
                F.lit(f"{SEP}{left}{right}{SEP}"),
            ).alias("seg"),
            "n",
        ).cache()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_n long"
    )


def bpe_oracle() -> str:
    """DuckDB twin: the same N_MERGES iterations as chained CTEs; the
    argmax of each round feeds the next round's replace via scalar
    subqueries, so the oracle is data-driven end-to-end."""
    ws = (
        "regexp_split_to_array(regexp_replace(lower(text),"
        " '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')"
    )
    sep = "chr(31)"
    parts = [f"""
shapes0 AS MATERIALIZED (
  SELECT {sep} || array_to_string(
           list_transform(split(word, ''), c -> c), {sep} || {sep})
         || {sep} AS seg,
         n
  FROM (
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest({ws}) AS word FROM documents) t
    WHERE word <> '' GROUP BY word)
)"""]
    for r in range(N_MERGES):
        parts.append(f"""
pc{r} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(SUM(n) AS BIGINT) AS pair_n
  FROM (
    SELECT str_split(trim(seg, {sep}), {sep} || {sep}) AS syms, n
    FROM shapes{r}) s,
    unnest(generate_series(1, greatest(len(syms) - 1, 0))) AS u(i)
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT l, r, pair_n, {r} AS rank
  FROM pc{r} ORDER BY pair_n DESC, l, r LIMIT 1
),
shapes{r + 1} AS MATERIALIZED (
  SELECT replace(seg,
                 {sep} || (SELECT l FROM best{r}) || {sep} ||
                 {sep} || (SELECT r FROM best{r}) || {sep},
                 {sep} || (SELECT l FROM best{r}) ||
                 (SELECT r FROM best{r}) || {sep}) AS seg,
         n
  FROM shapes{r}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT rank, l AS \"left\", r AS \"right\", pair_n FROM best{r}"
        for r in range(N_MERGES)
    )
    return "WITH " + ",".join(parts) + "\n" + union
