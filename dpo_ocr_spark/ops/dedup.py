"""Deduplication operators (brief: first-class training-data ops).

Scale shapes:
- **exact**: one groupBy on a hash key — the canonical 100 TB dedup is a
  single shuffle on md5(normalized text), keep min(doc_id).
- **MinHash + LSH**: shingle → k minhashes (md5-derived, engine-portable)
  → band into b groups of r rows → bucket-join: only same-bucket pairs are
  candidates, then exact-jaccard verify.  At 10¹² docs the bucket join is
  the only shuffle and its fan-out is controlled by (b, r); never an
  all-pairs crossJoin.
- **n-gram Jaccard** (exact, small-scale verifier): shingle explode +
  self-join on shared shingles + |∩|/|∪| from group counts.
- **SimHash**: 64-bit sign-aggregated word-hash fingerprint; hamming-ball
  candidates.  Oracle-checked: FNV-1a + bit-majority re-derived in DuckDB
  HUGEINT arithmetic (see queries_ops._FNV_SQL), plus a pytest reference.

All outputs are integer/string-exact (no raw float in oracle-checked
columns).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..nogc import nogc_batches

SHINGLE_K = 3  # words per shingle
MINHASH_K = 12  # signature length
LSH_BANDS = 4  # → rows per band = MINHASH_K / LSH_BANDS
# Hot-key fan-out caps (the 100 TB safety valve): a boilerplate shingle
# ("click here to") or a degenerate LSH bucket otherwise materializes an
# m²/2 pair array in ONE row → multi-GB single value → executor OOM.
# Groups larger than the cap are DROPPED (with an observed drop count, see
# drop_stats) — exact semantics below the cap, explicit degradation above
# it.  The oracle SQL applies the identical cap so the hash gate stays
# aligned at any SF (at sf≤0.1 no group comes near the cap).
MAX_GROUP = 1_000
_DROP_SOURCES: dict[str, DataFrame] = {}
# connected components: label-propagation rounds before dedup_clusters
# gives up (a path of n nodes needs about log2(n) + 1 rounds)
CC_MAX_ROUNDS = 25


def _capped_groups(grouped: DataFrame, what: str) -> DataFrame:
    """Keep groups with 2..MAX_GROUP members; register the grouped frame so
    drop_stats(what) can report how many groups/ids the cap excluded.
    ``grouped`` must carry a sorted ``ids`` array column.

    (DataFrame.observe would record drops in the same job, but AQE's
    empty-relation propagation prunes the CollectMetrics node whenever the
    capped result is empty — exactly the degenerate corpora the cap
    exists for — so stats are an explicit side aggregation instead.)"""
    _DROP_SOURCES[what] = grouped
    return grouped.filter((F.size("ids") > 1) & (F.size("ids") <= MAX_GROUP))


def drop_stats(what: str) -> dict:
    """Hot-group drop counts for the LAST-BUILT '{what}' plan.  Runs a
    dedicated aggregate job over the grouped frame — production jobs
    persist the grouped stage or log this next to the output commit.

    Registry semantics: one slot per op name (bounded — at most one
    retained grouped frame per dedup family), overwritten on each plan
    build; stats always describe the most recent corpus/params, and the
    frame is only valid while its SparkSession lives."""
    grouped = _DROP_SOURCES.get(what)
    if grouped is None:
        return {"dropped_groups": 0, "dropped_ids": 0}
    hot = F.size("ids") > MAX_GROUP
    row = grouped.agg(
        F.sum(F.when(hot, 1).otherwise(0)).alias("g"),
        F.sum(F.when(hot, F.size("ids")).otherwise(0)).alias("i"),
    ).first()
    return {"dropped_groups": int(row["g"] or 0), "dropped_ids": int(row["i"] or 0)}


JACCARD_X1000 = 300  # shingle-Jaccard near-dup gate (×1000)
CLUSTER_JACCARD_X1000 = 100  # dedup_clusters' edge gate (×1000)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan at size-derived parallelism: the text kernels here
    cost ~constant work per input byte, so the decode_partitions rule
    (one task per 32 KB compressed, clamp 2×cores) applies — a fixed
    core-count fan-out paid ~32 task dispatches per tiny gate corpus.
    The codec paths (pixels/av) keep full ensure_parallelism:
    their per-row work is huge regardless of byte size."""
    from ..scale import decode_partitions, ensure_parallelism

    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        min_parts=decode_partitions(spark, sf_dir),
    )


def md5_int63(col: F.Column) -> F.Column:
    """int64 from the first 15 hex chars of md5 — THE cross-engine hash
    contract (DuckDB twin: queries_ops._MD5INT).  Shared by shingle
    minhashing, fingerprints, stratified sampling and training-order
    sharding; the 15-hex width is load-bearing for oracle parity."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _norm_text() -> F.Column:
    return F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")


def _words() -> F.Column:
    """THE word contract: lowercase, collapse whitespace runs, split on
    ' '.  An empty text yields one empty word."""
    return F.split(_norm_text(), " ")


# the DuckDB twin of _norm_text(), the one spelling every oracle uses:
# RE2's \s lacks vertical tab, so the ASCII whitespace class is explicit
NORM_SQL = r"regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')"


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the smallest doc_id per exact (normalized) text: one shuffle."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.md5(_norm_text()).alias("fp")
    )
    return docs.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )


# Java \s is ASCII-only — re.ASCII keeps Python identical to _words()
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def _distinct_shingles(text: str | None) -> list[str]:
    """The text's distinct word-SHINGLE_K shingles in first-occurrence
    order: _words()'s lower → ASCII-whitespace normalize → split, then
    every K-word window; a text shorter than K words (empty and NULL
    included) yields one clipped shingle."""
    words = _WS_ASCII.sub(" ", (text or "").lower()).split(" ")
    n = max(len(words) - (SHINGLE_K - 1), 1)
    return list(
        dict.fromkeys(" ".join(words[i : i + SHINGLE_K]) for i in range(n))
    )


@nogc_batches
def _sized_shingle_batches(it):
    """Arrow shingle kernel — hot path.  Emits each document's distinct
    shingles with its distinct-shingle count ``n`` on every row.
    Python ASCII-\\s regex + slicing replicates the SQL definition
    exactly (equivalence pinned by
    tests/test_ops.py::test_shingle_kernel_equivalence): the nested
    transform/slice SQL expression measured 4.3s warm at sf0.1 vs ~0.4s
    here (the JVM evaluates the O(words·k) slice chain per row without
    loop fusion; Python does one linear pass).  Carrying the size on the
    rows lets the Jaccard consumers run as ONE consumption chain — a
    (sizes ⋈ pairs ⋈ sizes) form re-executes the kernel (and its scan)
    once per join side."""
    import pyarrow as pa

    for batch in it:
        ids: list[int] = []
        shingles: list[str] = []
        ns: list[int] = []
        for doc_id, text in zip(
            batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
        ):
            uniq = _distinct_shingles(text)
            ids.extend([doc_id] * len(uniq))
            shingles.extend(uniq)
            ns.extend([len(uniq)] * len(uniq))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.int64()),
                pa.array(shingles, pa.string()),
                pa.array(ns, pa.int64()),
            ],
            names=["doc_id", "shingle", "n"],
        )


def sized_shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle, n) with n = the doc's distinct-shingle count."""
    return docs.select("doc_id", "text").mapInArrow(
        _sized_shingle_batches, schema="doc_id long, shingle string, n long"
    )


SUBSTR_K = 8  # tokens per window for exact-substring duplicate spans


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-substring detection (the
    suffix-duplication method of "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022, at word granularity): a
    SUBSTR_K-token window is a duplicate when its exact text occurs ≥2 times
    anywhere in the corpus (within- or cross-document); overlapping
    duplicate windows merge into maximal spans per document.

    Output per document (all integers, oracle-exact): token count,
    number of maximal duplicate spans, duplicated-token total, and
    per-mille duplicated fraction — the per-doc signal a curation pass
    thresholds on (consumers can equally cut the spans themselves, which
    are (min_i, max_i + SUBSTR_K - 1) per span group).

    Scale shape at 10¹² docs: window fingerprints are md5-int64 of the
    k-gram — positions shuffle ONCE on fp for the global count, the
    duplicate-fp set joins back fp-partitioned (no row explosion: each
    position matches exactly one fp row, hot boilerplate fps cost counts
    only), then ONE shuffle on doc_id for the gaps-and-islands merge.
    No pair enumeration anywhere — unlike MinHash/Jaccard this never
    materializes doc×doc candidates."""
    spans = substring_dup_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id", "n_words").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_dup_tokens"),
    )
    ws = _substring_words(spark, sf_dir)
    return (
        ws.select("doc_id", "n_words")
        .join(per_doc.drop("n_words"), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.expr(
                "CAST(coalesce(n_dup_tokens, 0) * 1000 DIV n_words AS BIGINT)"
            ).alias("dup_per_mille"),
        )
    )


def _substring_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _words().alias("w"))
        .withColumn("n_words", F.size("w"))
    )


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicate token intervals per document — the SINGLE
    implementation of the fingerprint → dup-set → gaps-and-islands
    pipeline (both the per-doc summary and the span-level cut list
    derive from this frame, so the merge rule cannot drift between
    them).  Columns: (doc_id, n_words, span_id, s, e), token positions
    1-based inclusive."""
    from pyspark.sql import Window as W

    k = SUBSTR_K
    ws = _substring_words(spark, sf_dir)
    grams = (
        ws.filter(F.col("n_words") >= k)
        .select(
            "doc_id", "n_words", "w",
            F.explode(F.expr(f"sequence(1, size(w) - {k} + 1)")).alias("i"),
        )
        .select(
            "doc_id", "n_words", "i",
            md5_int63(F.expr(f"concat_ws(' ', slice(w, i, {k}))")).alias("fp"),
        )
    )
    dup_fp = grams.groupBy("fp").agg(F.count("*").alias("c")).filter(
        F.col("c") >= 2
    ).select("fp")
    w_doc = W.partitionBy("doc_id").orderBy("i")
    flagged = grams.join(dup_fp, "fp").withColumn(
        "new_span",
        F.when(F.col("i") - F.lag("i").over(w_doc) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            w_doc.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return flagged.groupBy("doc_id", "n_words", "span_id").agg(
        F.min("i").alias("s"), (F.max("i") + k - 1).alias("e")
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold_x1000: int = JACCARD_X1000
) -> DataFrame:
    return ngram_jaccard_from_sized_shingles(
        sized_shingles_of(_docs(spark, sf_dir)), threshold_x1000
    )


def ngram_jaccard_from_sized_shingles(
    sh: DataFrame, threshold_x1000: int = JACCARD_X1000
) -> DataFrame:
    """Single-consumption Jaccard pipeline over a (doc_id, shingle, n)
    frame: the doc sizes ride inside the bucket structs, so the plan is
    scan → kernel → groupBy(shingle) → pair fan-out → groupBy(pair) —
    two shuffles, ONE kernel execution.  Row-identical to the three-join
    reference form in tests/dedup_reference.py (pinned by a pytest), which
    re-ran the shingle kernel and its scan once per join side."""
    inter = (
        _capped_groups(
            sh.groupBy("shingle").agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_id", "n"))
                ).alias("ids")
            ),
            "ngram_jaccard",
        )
        .select(F.explode(_pair_combos("ids")).alias("p"))
        .groupBy(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_a.n").alias("n_a"),
            F.col("p.doc_b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            F.floor(
                F.col("n_inter") * 1000
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).cast("long").alias("jaccard_x1000"),
        )
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
    )


_MERSENNE31 = 2_147_483_647


@nogc_batches
def _signature_batches(it):
    """Whole-signature Arrow kernel: shingle → md5-base → k universal
    hashes → per-doc min, all inside one Python pass (one md5 per
    shingle via hashlib, the k derivations + min as two vectorized numpy
    ops).  Replaces the (doc_id, shingle)-explode + groupBy(doc_id) form
    whose JVM aggregate evaluated ``md5(shingle)`` once per hash
    function (k=12 md5s per shingle — codegen does not CSE across
    aggregate expressions, visible in the r6 before-plan) and shuffled
    every shingle string.  Row-identical to the SQL reference form in
    tests/dedup_reference.py over the kernel's (doc_id, shingle) rows
    (pinned by a pytest)."""
    from hashlib import md5

    import numpy as np
    import pyarrow as pa

    # h_i = (base * (2i+3) + 7i+1) mod M31 — the DuckDB oracle's contract
    A = np.arange(MINHASH_K, dtype=np.int64) * 2 + 3
    B = np.arange(MINHASH_K, dtype=np.int64) * 7 + 1
    for batch in it:
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        bases: list[int] = []
        offsets = [0]
        for text in texts:
            bases.extend(
                int(md5(s.encode("utf-8")).hexdigest()[:15], 16) % _MERSENNE31
                for s in _distinct_shingles(text)
            )
            offsets.append(len(bases))
        if not doc_ids:
            continue
        base_arr = np.array(bases, dtype=np.int64)
        h = (base_arr[:, None] * A[None, :] + B[None, :]) % _MERSENNE31
        # per-doc minimum over each doc's contiguous base rows (every doc
        # has ≥1 shingle, so the reduceat segments are all non-empty)
        mins = np.minimum.reduceat(h, np.array(offsets[:-1]), axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.int64())]
            + [pa.array(mins[:, i]) for i in range(MINHASH_K)],
            names=["doc_id"] + [f"mh_{i}" for i in range(MINHASH_K)],
        )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "doc_id long, " + ", ".join(
        f"mh_{i} long" for i in range(MINHASH_K)
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_signature_batches, schema=schema)
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_pairs_from_signatures(minhash_signatures(spark, sf_dir))


def lsh_pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """LSH banding: same (band, band-hash) bucket → candidate pair.

    Each band hashes r = K/b consecutive signature rows; a pair collides if
    ANY band matches (union over bands, dedup).  Only bucket-joins — scale
    cost is Σ bucket² not n², and buckets larger than MAX_GROUP are
    dropped with an observed count (drop_stats('minhash_lsh')): a
    degenerate bucket (boilerplate-heavy corpora hash thousands of docs
    into one) otherwise fans out m²/2 structs inside one row."""
    rows_per_band = MINHASH_K // LSH_BANDS
    # all bands in ONE pass over the signature frame (a per-band select +
    # union re-computed the full shingle→signature chain once per band)
    band_structs = []
    for band in range(LSH_BANDS):
        cols = [
            F.col(f"mh_{band * rows_per_band + j}").cast("string")
            for j in range(rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws("-", *cols)).alias("bucket"),
            )
        )
    bucketed = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    # pairs per bucket WITHOUT a self-join (which would recompute the
    # signature chain for each side): one groupBy, then in-expression
    # combination fan-out — scale cost is still Σ bucket², one shuffle.
    return (
        _capped_groups(
            bucketed.groupBy("band", "bucket").agg(
                F.sort_array(F.collect_list("doc_id")).alias("ids")
            ),
            "minhash_lsh",
        )
        .select(F.explode(_pair_combos("ids")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _pair_combos(ids_col: str) -> F.Column:
    """array<struct<doc_a,doc_b>> of ordered pairs from a sorted id array.

    Callers pre-filter through _capped_groups so the in-array fan-out is
    bounded at MAX_GROUP²/2 structs per row."""
    return F.expr(
        f"flatten(transform({ids_col}, (x, i) -> "
        f"transform(slice({ids_col}, i + 2, size({ids_col})), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )


# ---------------------------------------------------------------------------
# SimHash (rows-only oracle; pytest-pinned against the Python reference)
# ---------------------------------------------------------------------------


def simhash64_py(words: list[str]) -> int:
    """Pure-Python reference: 64-bit sign-majority of FNV-1a word hashes."""
    acc = [0] * 64
    for w in words:
        h = 0xCBF29CE484222325
        for ch in w.encode("utf-8"):
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if acc[bit] > 0:
            out |= 1 << bit
    return out


def simhash_tokens(text: str | None) -> list[str]:
    """The simhash tokenization contract, shared by kernel and tests:
    lowercase, then split on ASCII whitespace ONLY.  Deliberately NOT
    ``str.split()`` (which also splits on Unicode whitespace like U+00A0)
    so the DuckDB oracle tokenizes identically on any corpus; the oracle
    spells the set as the explicit class ``[ \\t\\n\\x0b\\f\\r]+``
    because RE2's ``\\s`` lacks vertical tab while Java's and Python's
    include it (r3 review finding)."""
    return [w for w in _WS_ASCII.split((text or "").lower()) if w]


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints via Arrow batches (bit-majority not portably
    SQL-expressible; emitted as two 32-bit halves to stay in signed longs).

    Unicode contract (oracle-exact on real corpora): the kernel hashes
    UTF-8 BYTES with FNV-1a and the DuckDB twin expands each code point
    to its UTF-8 bytes before the same fold, so non-ASCII text hashes
    identically in both engines; tokenization is pinned to ASCII
    whitespace (``simhash_tokens``).  Known residual divergence: exotic
    context-sensitive casings where Python ``str.lower()`` and DuckDB's
    utf8proc disagree (Greek final sigma, dotted İ) — irrelevant for
    fingerprint QUALITY, only for oracle equality on such text."""
    import pandas as pd
    from collections.abc import Iterator

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    @nogc_batches
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs = [simhash64_py(simhash_tokens(t)) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash_hi": [h >> 32 for h in hs],
                    "simhash_lo": [h & 0xFFFFFFFF for h in hs],
                }
            )

    return docs.mapInPandas(
        run, schema="doc_id long, simhash_hi long, simhash_lo long"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    labeled with the smallest doc_id in its component (the canonical
    representative a dedup pipeline keeps).

    Algorithm: min-label propagation with POINTER JUMPING — each round
    (1) takes the min label over graph neighbors, (2) replaces each
    label by its label's label (path halving, the classic PRAM
    pointer-jumping idea used by the large-star/small-star MapReduce CC
    family — Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14).  Jumping makes chains converge in O(log n) rounds
    instead of O(diameter) — the property that matters at 10¹² docs
    where a boilerplate chain can be millions long.  Each round is two shuffles on bounded keys; the loop is
    driver-side control flow over DataFrames (no data ever collects).
    Convergence is detected by an unchanged label sum (a run that needs
    more than 25 rounds raises), and the label frame
    is ``localCheckpoint``-ed every round so the logical plan stays O(1)
    in the round count — without truncation the final action re-plans the
    fully unrolled loop (measured: 2,922 Exchanges at 25 rounds), which
    blows up planner/driver cost with rounds × graph size.  On a real
    cluster swap in reliable ``checkpoint()`` with an HDFS/S3 dir for
    executor-loss tolerance; the plan-shape effect is identical.

    Deterministic: the min-label fixpoint is unique, so the result is
    execution-order independent — the DuckDB oracle re-derives it with a
    recursive reachability CTE."""
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir, CLUSTER_JACCARD_X1000).select(
        "doc_a", "doc_b"
    )
    return clusters_from_edges(docs, pairs)


def clusters_from_edges(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Core CC loop over (doc_id) nodes and (doc_a, doc_b) edges.

    Raises RuntimeError if the labels still change in round
    ``CC_MAX_ROUNDS``."""

    def label_sum(frame: DataFrame):
        # DECIMAL(38,0) keeps the sum exact at any corpus size (sum(long)
        # could wrap at ~10^12 doc ids and alias a change as convergence)
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    sym = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .cache()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label")).cache()
    prev_sum = label_sum(labels)
    for _ in range(CC_MAX_ROUNDS):
        nbr = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("nbr_min", "label")
            ).alias("label"),
        )
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        # localCheckpoint (eager) materializes the round AND truncates
        # lineage: round k+1 plans over a scan of round k's partitions,
        # not the unrolled k-round join tree.
        jumped = (
            stepped.join(parent, stepped.label == parent.p_id, "left")
            .select(
                "doc_id", F.coalesce("p_label", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
        # Convergence via the label-sum invariant instead of a
        # join-against-old-labels count (one cheap aggregate vs a full
        # shuffle join per round — guide §2.4): every step takes a min,
        # so each node's label is non-increasing and the sum strictly
        # decreases unless the round was a no-op.
        new_sum = label_sum(jumped)
        labels.unpersist()
        labels = jumped
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    sym.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# --- incremental dedup (new batch vs indexed corpus) -------------------------

BATCH_MOD = 5  # doc_id % BATCH_MOD == 0 -> the "incoming" batch


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus dedup — the nightly-crawl shape: the incoming
    batch (doc_id % 5 == 0) is checked against the already-indexed corpus
    (the rest), NEVER corpus×corpus.

    exact_dup: md5(normalized text) matches any corpus doc.
    near_dup:  word-shingle Jaccard ≥ JACCARD_X1000 against some corpus doc;
    best match = argmax (jaccard, then smallest corpus doc_id).

    Scale shape: the corpus sides (fingerprint index, shingle inverted
    index) are the big relations and are probed with equi-joins keyed on
    fp/shingle — at real scale they're the pre-bucketed/stored index.
    The final verdict joins carry NO broadcast hints (the match frames
    are batch-proportional — TBs for a real crawl); AQE upgrades them to
    broadcast only when the batch actually fits.  Corpus shingles with document
    frequency > MAX_GROUP are dropped from the probe (stop-shingle cap,
    mirrored in the oracle); one pair-count shuffle + one argmax window
    per new doc.
    """
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    is_batch = F.col("doc_id") % BATCH_MOD == 0

    fps = docs.select("doc_id", F.md5(_norm_text()).alias("fp"), is_batch.alias("b"))
    exact = (
        fps.filter("b")
        .join(
            fps.filter(~F.col("b")).select(F.col("fp")).distinct(),
            "fp",
            "left_semi",
        )
        .select("doc_id", F.lit(True).alias("exact_dup"))
    )

    # doc sizes ride on the shingle rows: no per-doc size groupBy, no
    # size joins (each would re-run the kernel and its scan).  Membership
    # is a pure doc_id predicate, filtered BELOW the kernel: Spark cannot
    # push a filter through mapInArrow, and a doc's shingle rows depend on
    # that doc alone, so each side shingles only its own documents.
    new_sh = sized_shingles_of(docs.filter(is_batch))
    # stop-shingle cap on the corpus index side: the document frequency is
    # a window count, so the corpus is shingled once (a groupBy joined back
    # would re-run the kernel for each of its two consumers)
    corp_idx = (
        sized_shingles_of(docs.filter(~is_batch))
        .select("*", F.count("*").over(W.partitionBy("shingle")).alias("df"))
        .filter(F.col("df") <= MAX_GROUP)
    )
    scored = (
        new_sh.select(
            F.col("doc_id").alias("new_id"), "shingle", F.col("n").alias("n_new")
        )
        .join(
            corp_idx.select(
                F.col("doc_id").alias("corp_id"),
                "shingle",
                F.col("n").alias("n_corp"),
            ),
            "shingle",
        )
        .groupBy("new_id", "corp_id", "n_new", "n_corp")
        .agg(F.count("*").alias("n_inter"))
        .select(
            "new_id",
            "corp_id",
            F.floor(
                F.col("n_inter") * 1000
                / (F.col("n_new") + F.col("n_corp") - F.col("n_inter"))
            ).cast("long").alias("jaccard_x1000"),
        )
    )
    w = W.partitionBy("new_id").orderBy(
        F.desc("jaccard_x1000"), F.asc("corp_id")
    )
    best = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter("rn = 1")
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("corp_id").alias("best_match_id"),
            F.col("jaccard_x1000").alias("best_jaccard_x1000"),
        )
    )
    return (
        docs.filter(is_batch)
        .select("doc_id")
        # NO broadcast hints: both sides are batch-proportional (TBs for a
        # real nightly crawl) — plain equi-joins on doc_id let AQE pick
        # broadcast only when the batch actually fits.
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce(
                F.col("best_jaccard_x1000") >= JACCARD_X1000, F.lit(False)
            ).alias("near_dup"),
            "best_match_id",
            "best_jaccard_x1000",
        )
    )


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup selection — the production policy: within each
    near-dup cluster keep the HIGHEST-QUALITY document (stopword-ratio
    signal, integer-exact; ties to the smaller doc_id), not merely the
    smallest id.  Composes dedup_clusters (pointer-jumping connected
    components) with textstats.quality_scores; one extra join + one
    window per cluster.  Emits every doc with its cluster, quality, the
    chosen representative, and an is_rep flag."""
    from pyspark.sql import Window as W

    from .textstats import quality_scores

    clusters = dedup_clusters(spark, sf_dir)
    quality = quality_scores(spark, sf_dir).select(
        "doc_id", F.col("stopword_ratio_x1000").alias("quality_x1000")
    )
    joined = clusters.join(quality, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("quality_x1000"), "doc_id"
    )
    rep = F.first("doc_id").over(w)
    return joined.select(
        "doc_id",
        "cluster_id",
        "quality_x1000",
        rep.alias("rep_doc_id"),
        (F.col("doc_id") == rep).alias("is_rep"),
    )
