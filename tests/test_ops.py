"""Training-data ops: dedup / similarity / textstats."""

from __future__ import annotations

import pytest

from dpo_ocr_spark.ops.dedup import simhash64_py

import dedup_reference as R
from sf_fixture import SD


def test_simhash_reference_properties():
    a = simhash64_py("the quick brown fox".split())
    b = simhash64_py("the quick brown fox".split())
    c = simhash64_py("the quick brown foxes jumped".split())
    d = simhash64_py("completely different words entirely".split())
    assert a == b  # deterministic
    ham_ac = bin(a ^ c).count("1")
    ham_ad = bin(a ^ d).count("1")
    assert ham_ac < ham_ad  # similar texts → closer fingerprints
    assert 0 <= a < 2**64


def test_simhash_spark_matches_python(spark):
    import duckdb

    from dpo_ocr_spark.ops.dedup import simhash

    got = {r.doc_id: (r.simhash_hi << 32) | r.simhash_lo
           for r in simhash(spark, SD).collect()}
    rows = duckdb.sql(
        f"select doc_id, text from '{SD}/documents.parquet' limit 20"
    ).fetchall()
    from dpo_ocr_spark.ops.dedup import simhash_tokens

    for doc_id, text in rows:
        assert got[doc_id] == simhash64_py(simhash_tokens(text))


def test_lsh_recall_vs_brute_force(spark):
    """Bucketed ANN must find a decent share of true top-k neighbors and
    must never invent a candidate that brute force scores differently."""
    from dpo_ocr_spark.ops.similarity import brute_force_topk, lsh_topk

    bf = {(r.query_id, r.cand_id): r.cos_r6
          for r in brute_force_topk(spark, SD).collect()}
    lsh = {(r.query_id, r.cand_id): r.cos_r6
           for r in lsh_topk(spark, SD).collect()}
    assert lsh, "LSH returned nothing"
    # every LSH pair's cosine must agree with an exact recompute (subset
    # of brute force when in its top-k; otherwise at least consistent)
    overlap = set(bf) & set(lsh)
    for k in overlap:
        assert bf[k] == lsh[k]
    # recall over the true top-k pairs: 8 tables × 4 planes + Hamming-1
    # multiprobe measures 0.98 on this corpus; 0.8 guards regressions
    # without flaking on corpus changes
    recall = len(overlap) / len(bf)
    assert recall >= 0.8, f"LSH recall collapsed: {recall}"


def test_exact_dedup_partitions_docs(spark):
    from dpo_ocr_spark.ops.dedup import exact_dedup

    out = exact_dedup(spark, SD).collect()
    total = sum(r.n_dups for r in out)
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    assert total == n_docs  # every doc in exactly one group


def test_minhash_lsh_supersets_high_jaccard(spark):
    """Pairs with very high exact Jaccard should collide in some band
    (b=4, r=3: P[collide] = 1-(1-j^3)^4 ≈ 97% at j=0.9)."""
    from dpo_ocr_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    high = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(spark, SD, threshold_x1000=900).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(spark, SD).collect()}
    missed = high - lsh
    assert len(missed) <= max(1, len(high) // 5), (
        f"LSH missed too many near-identical pairs: {missed}"
    )


def test_quality_keep_flag(spark):
    from dpo_ocr_spark.ops.textstats import quality_scores

    out = quality_scores(spark, SD).collect()
    assert out
    for r in out:
        if r.keep:
            # keep ⇒ the stopword-ratio arm of the predicate held
            assert r.stopword_ratio_x1000 >= 10 or r.n_words == 0
        assert 0 <= r.punct_ratio_x1000 <= 1000


def test_shingle_kernel_equivalence(spark):
    """The Arrow shingle kernel is row-identical to the pure-SQL
    reference definition (same ASCII-\\s normalization, same clipped
    slices, same first-occurrence distinct)."""
    from dpo_ocr_spark.ops import dedup as D

    sql_rows = sorted(map(tuple, R.shingle_frame_sql(spark, SD).collect()))
    sh = D.sized_shingles_of(D._docs(spark, SD)).select("doc_id", "shingle")
    py_rows = sorted(map(tuple, sh.collect()))
    assert py_rows == sql_rows


def test_signature_kernel_equivalence(spark):
    """The whole-signature Arrow kernel (one md5/shingle + numpy min)
    is row-identical to the SQL reference minhash_of over the shingle
    kernel's (doc_id, shingle) rows
    — the r6 optimization moved the k-hash derivation into the kernel
    so the JVM no longer computes k md5s per shingle nor shuffles the
    shingle strings."""
    from dpo_ocr_spark.ops import dedup as D

    sh = D.sized_shingles_of(D._docs(spark, SD)).select("doc_id", "shingle")
    sql_rows = sorted(map(tuple, R.minhash_of(sh).collect()))
    py_rows = sorted(map(tuple, D.minhash_signatures(spark, SD).collect()))
    assert py_rows == sql_rows


def test_sized_jaccard_equivalence(spark):
    """The single-consumption Jaccard pipeline (sizes carried through
    the bucket structs) is row-identical to the three-join reference
    form at threshold 0 (every candidate pair surfaces)."""
    from dpo_ocr_spark.ops import dedup as D

    docs = D._docs(spark, SD)
    ref = sorted(
        map(
            tuple,
            R.ngram_jaccard_from_shingles(
                D.sized_shingles_of(docs).select("doc_id", "shingle"),
                threshold_x1000=0,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            D.ngram_jaccard_from_sized_shingles(
                D.sized_shingles_of(docs), threshold_x1000=0
            ).collect(),
        )
    )
    assert got == ref


def test_ivf_recall_vs_brute_force(spark):
    """IVF probes nprobe/cells of the corpus; on these near-uniform
    embeddings recall ≈ fraction probed (measured 0.56 at 4/16) — the
    floor guards the machinery, LSH multiprobe is the primary path."""
    from dpo_ocr_spark.ops.similarity import brute_force_topk, ivf_topk

    bf = {(r.query_id, r.cand_id): r.cos_r6
          for r in brute_force_topk(spark, SD).collect()}
    ivf = {(r.query_id, r.cand_id): r.cos_r6
           for r in ivf_topk(spark, SD).collect()}
    assert ivf, "IVF returned nothing"
    overlap = set(bf) & set(ivf)
    for key in overlap:  # exact re-rank → identical cosines
        assert bf[key] == ivf[key]
    assert len(overlap) / len(bf) >= 0.4


def test_hot_group_caps_bound_fanout(spark):
    """Degenerate corpus: every doc shares boilerplate shingles.  With the
    cap, hot groups are dropped with an observed count instead of fanning
    out m²/2 pair structs inside one row (the 100 TB OOM mode)."""
    from dpo_ocr_spark.ops import dedup as D

    def shingles(n):
        docs = spark.createDataFrame(
            [(i, f"click here to see unique page {i}") for i in range(n)],
            "doc_id long, text string",
        )
        return D.sized_shingles_of(docs).select("doc_id", "shingle")

    # 4 shared shingles have df = MAX_GROUP + 1 → dropped; the unique 5th
    # can't pair
    n = D.MAX_GROUP + 1
    pairs = R.ngram_jaccard_from_shingles(shingles(n), threshold_x1000=0)
    assert pairs.count() == 0
    stats = D.drop_stats("ngram_jaccard")
    assert stats["dropped_groups"] == 4
    assert stats["dropped_ids"] == 4 * n

    # control: under the cap semantics stay exact (4/6 jaccard → all pairs)
    n = 50
    pairs = R.ngram_jaccard_from_shingles(shingles(n), threshold_x1000=300)
    assert pairs.count() == n * (n - 1) // 2
    assert D.drop_stats("ngram_jaccard") == {
        "dropped_groups": 0,
        "dropped_ids": 0,
    }


def test_hot_lsh_bucket_cap(spark):
    """Identical docs collapse into one LSH bucket per band; the cap drops
    those buckets explicitly rather than materializing m²/2 pairs."""
    from pyspark.sql import functions as F

    from dpo_ocr_spark.ops import dedup as D

    # a synthetic signature frame: MAX_GROUP + 1 docs, one signature
    n = D.MAX_GROUP + 1
    sig = spark.range(n).select(
        F.col("id").alias("doc_id"),
        *(F.lit(7).cast("long").alias(f"mh_{j}") for j in range(D.MINHASH_K)),
    )
    capped = D.lsh_pairs_from_signatures(sig)
    assert capped.count() == 0
    stats = D.drop_stats("minhash_lsh")
    assert stats["dropped_groups"] == D.LSH_BANDS
    assert stats["dropped_ids"] == D.LSH_BANDS * n

    n = 40  # under the cap: every pair of identical docs surfaces
    docs = spark.createDataFrame(
        [(i, "the very same text for every single doc") for i in range(n)],
        "doc_id long, text string",
    )
    sig = R.minhash_of(D.sized_shingles_of(docs).select("doc_id", "shingle"))
    assert D.lsh_pairs_from_signatures(sig).count() == n * (n - 1) // 2


def test_embedding_neardup_lsh_vs_allpairs(spark):
    """The registered LSH-gated near-dup must be a SUBSET of the exact
    all-pairs twin (the gate is identical; only candidates differ), with
    recall above the multi-table collision bound, and its plan must not
    contain the O(n²) self-join."""
    from dpo_ocr_spark.ops import similarity as S

    exact = {
        (r.vec_a, r.vec_b) for r in R.embedding_neardup_pairs(spark, SD).collect()
    }
    lsh_df = S.embedding_neardup_lsh(spark, SD)
    lsh = {(r.vec_a, r.vec_b) for r in lsh_df.collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5, f"recall {len(lsh)}/{len(exact)}"
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_non_ascii_oracle_green(spark, tmp_path):
    """The byte-level DuckDB twin must hash-match the UTF-8 kernel on a
    crafted NON-ASCII corpus (2-, 3- and 4-byte UTF-8, NBSP, mixed
    scripts) — the round-2 ascii_guard is gone because the oracle now
    folds over UTF-8 bytes, not code points."""
    import duckdb

    import __spark_entry__ as E
    from dpo_ocr_spark.ops.dedup import simhash, simhash64_py, simhash_tokens

    texts = [
        (1, "café au lait"),
        (2, "straße größer übermaß"),
        (3, "привет мир ёжик"),
        (4, "日本語のテスト 中文测试"),
        (5, "emoji🙂mix 🚀rocket"),
        (6, "nbsp stays-one-token plain second"),
        (7, None),
        (8, ""),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sd = str(tmp_path)
    docs.write.mode("overwrite").parquet(sd + "/documents.parquet")

    got = {
        r.doc_id: (r.simhash_hi, r.simhash_lo)
        for r in simhash(spark, sd).collect()
    }
    # python reference agrees with the kernel (incl. NBSP as ONE token)
    for doc_id, text in texts:
        h = simhash64_py(simhash_tokens(text))
        assert got[doc_id] == (h >> 32, h & 0xFFFFFFFF)
    # the registered DuckDB oracle agrees byte-for-byte
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sd}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(E.oracle_sql()["simhash"]).fetchall()
    }
    assert got == want


def test_dedup_clusters_topologies(spark):
    """Connected components: chain (pointer-jumping convergence), cycle,
    singleton, and two separate components all labeled by component min."""
    from dpo_ocr_spark.ops.dedup import clusters_from_edges

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # chain 1-2-3-4-5, cycle 6-7-8-6, pair 0-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (8, 6), (0, 9)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in clusters_from_edges(docs, edges).collect()
    }
    assert got == {0: 0, 9: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   6: 6, 7: 6, 8: 6}


def test_dedup_clusters_stop_rule(spark, monkeypatch):
    """A 16-node path needs 4 label-changing rounds plus one that
    confirms the fixpoint: a 4-round limit raises instead of returning
    unconverged labels, the default converges.  A graph with no edges
    is converged from the start, so one round suffices."""
    from dpo_ocr_spark.ops import dedup as D

    docs = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in D.clusters_from_edges(docs, path).collect()}
    assert got == {i: 0 for i in range(16)}
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 4)
    with pytest.raises(RuntimeError, match="did not converge in 4 rounds"):
        D.clusters_from_edges(docs, path)
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 1)
    no_edges = path.limit(0)
    got = D.clusters_from_edges(docs, no_edges).collect()
    assert {r.doc_id: r.cluster_id for r in got} == {i: i for i in range(16)}


def test_kmeans_centroids_fit(spark):
    """Integer-exact Lloyd's fit: counts cover the corpus, centroids move
    off the md5-sample init, the fit is deterministic, and the fitted
    centroids drive the same IVF search path."""
    from dpo_ocr_spark.ops import similarity as S

    cents = S.kmeans_centroids(spark, SD).collect()
    assert len(cents) == S.IVF_CELLS
    emb = S._emb(spark, SD)
    assert sum(r.n_members for r in cents) == emb.count()  # all assigned
    M0, _ = S._ivf_centroids(emb)
    init_csv = {",".join(str(int(x)) for x in M0[i]) for i in range(len(M0))}
    moved = [r for r in cents if r.centroid_csv not in init_csv]
    assert moved, "no centroid moved after Lloyd's iterations"
    again = S.kmeans_centroids(spark, SD).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, cents))
    # fitted centroids plug into the identical search path
    topk = S.ivf_topk(spark, SD, fit="kmeans").collect()
    assert topk and all(r["rank"] <= S.TOP_K for r in topk)


def test_curation_verdict_rule_order(spark, tmp_path):
    """First-failing-rule contract: dup beats short beats low_stopword
    beats lang_mismatch; the exact-dedup keeper of a dup group is judged
    by the LATER rules."""
    from dpo_ocr_spark.ops.textstats import curation_verdict

    good = ("the quick brown fox and the lazy dog were on a hill " * 3).strip()
    nostop = "zxqwv " * 30  # long enough, zero English stopwords
    rows = [
        (1, good, "en"),            # keep
        (2, good, "en"),            # dup of 1 (dup even though text is fine)
        (3, "tiny", "en"),          # short
        (4, nostop.strip(), "en"),  # low_stopword
        (5, good + " extra words here", "de"),  # lang_mismatch (pred en)
        (7, "tinydup", "en"),       # keeper of a SHORT dup group → short
        (8, "tinydup", "en"),       # dup beats short
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.verdict
        for r in curation_verdict(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: "keep", 2: "dup", 3: "short", 4: "low_stopword",
        5: "lang_mismatch", 7: "short", 8: "dup",
    }


def test_shard_packing_budget_property(spark):
    """Every shard except the last (per language) starts before the
    budget boundary and is contiguous in doc_id order; shard token sums
    overshoot the budget at most by one document."""
    from dpo_ocr_spark.ops.textstats import SHARD_TOKEN_BUDGET, shard_packing

    rows = shard_packing(spark, SD).collect()
    by_lang: dict = {}
    for r in sorted(rows, key=lambda r: (r.lang, r.doc_id)):
        by_lang.setdefault(r.lang, []).append(r)
    for lang, docs in by_lang.items():
        # shard ids are non-decreasing in doc_id order and start at 0
        sids = [d.shard_id for d in docs]
        assert sids[0] == 0 and all(a <= b for a, b in zip(sids, sids[1:]))
        run = 0
        for d in docs:
            assert d.shard_id == run // SHARD_TOKEN_BUDGET
            run += d.n_tokens


def test_vertical_tab_corpus_oracle_green(spark, tmp_path):
    """Java/Python \\s includes vertical tab (\\x0b); RE2's does not.  The
    oracles spell the explicit class [ \\t\\n\\x0b\\f\\r]+ so a corpus with
    \\v and \\f still hash-matches across engines (r3 review finding) —
    pinned here for a representative slice of the token-based queries."""
    import duckdb

    import __spark_entry__ as E

    texts = [
        (1, "alpha\x0bbeta gamma"),          # vertical tab between words
        (2, "one\ftwo\vthree  four"),        # form feed + vt + double space
        (3, "plain words only here"),
        (4, "alpha\x0bbeta gamma"),          # exact dup of 1 after norm
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    qs, oracles = E.queries(), E.oracle_sql()
    for name in ("token_counts", "simhash", "exact_dedup", "chunk_documents",
                 "lm_bigram_score"):
        got = sorted(
            tuple(r) for r in qs[name](spark, str(tmp_path)).collect()
        )
        want = sorted(tuple(r) for r in con.execute(oracles[name]).fetchall())
        assert got == want, f"{name}: {got[:3]} != {want[:3]}"
    # the \v doc tokenizes to 3 words in BOTH engines (not 1, not 2)
    tc = {r.doc_id: r.n_words
          for r in qs["token_counts"](spark, str(tmp_path)).collect()}
    assert tc[1] == 3


def test_substring_dedup_spans(spark, tmp_path):
    """ExactSubstr-style spans: a k-gram repeated across docs (or within
    one doc) marks overlapping windows that merge into maximal spans;
    unique text scores zero."""
    import pandas as pd

    from dpo_ocr_spark.ops.dedup import SUBSTR_K, substring_dedup

    k = SUBSTR_K
    shared = " ".join(f"tok{i}" for i in range(k + 2))       # k+2 tokens
    uniq_a = " ".join(f"aaa{i}" for i in range(5))
    uniq_b = " ".join(f"bbb{i}" for i in range(7))
    inner = " ".join(f"rep{i % k}" for i in range(2 * k))     # self-repeat
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                f"{uniq_a} {shared}",      # shares the k+2 window with doc 1
                f"{shared} {uniq_b}",
                "only unique words here never repeated anywhere else at all",
                inner,                      # within-doc period-k repetition
            ],
            "lang": ["en"] * 4,
        }
    )
    sd = str(tmp_path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(docs), f"{sd}/documents.parquet")
    out = {r.doc_id: r for r in substring_dedup(spark, sd).collect()}
    assert len(out) == 4
    # docs 0/1: the shared (k+2)-token run yields 3 duplicate k-windows
    # merging into ONE span of k+2 tokens
    assert out[0].n_dup_spans == 1 and out[0].n_dup_tokens == k + 2
    assert out[1].n_dup_spans == 1 and out[1].n_dup_tokens == k + 2
    # doc 2: nothing repeated
    assert out[2].n_dup_spans == 0 and out[2].dup_per_mille == 0
    # doc 3: period-k self repetition → every window duplicated → one
    # span covering the whole doc
    assert out[3].n_dup_spans == 1 and out[3].n_dup_tokens == 2 * k
    assert out[3].dup_per_mille == 1000
