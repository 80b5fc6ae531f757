"""ops.events (as-of join, sessionize) + ops.curation semantics pins."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from sf_fixture import SD

_EPOCH = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=s)


def _write_events_orders(spark, tmp_path, events, orders):
    spark.createDataFrame(
        [(i, t, u, "click", 1.0, "{}") for i, (t, u) in enumerate(events)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [
            (k, u, "O", p, t, "1-URGENT")
            for k, (u, t, p) in enumerate(orders)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))


def test_asof_tie_and_before_first_order(spark, tmp_path):
    """at-or-before semantics: an order AT the event timestamp matches;
    equal-time orders break to the larger o_orderkey; events before the
    user's first order get NULLs."""
    from dpo_ocr_spark.ops.events import asof_join

    events = [
        (_ts(5), 1),  # event 0: before any order of user 1 -> NULL
        (_ts(10), 1),  # event 1: exactly at order time -> matched
        (_ts(30), 1),  # event 2: after both same-ts orders -> max orderkey
        (_ts(30), 2),  # event 3: other user, no orders -> NULL
    ]
    orders = [
        (1, _ts(10), 11.0),  # orderkey 0
        (1, _ts(20), 22.0),  # orderkey 1 (same ts as orderkey 2)
        (1, _ts(20), 33.0),  # orderkey 2 wins ties (larger key)
    ]
    _write_events_orders(spark, tmp_path, events, orders)
    got = {
        r.event_id: (r.o_orderkey, r.o_total_e4)
        for r in asof_join(spark, str(tmp_path)).collect()
    }
    assert got[0] == (None, None)
    assert got[1] == (0, 110000)
    assert got[2] == (2, 330000)
    assert got[3] == (None, None)


def test_sessionize_gap_boundary(spark, tmp_path):
    """Gap strictly greater than GAP_S starts a new session; a gap of
    exactly GAP_S does not."""
    from dpo_ocr_spark.ops.events import GAP_S, sessionize

    events = [
        (_ts(0), 1),
        (_ts(GAP_S), 1),  # exactly the threshold -> same session
        (_ts(2 * GAP_S + 1), 1),  # 1s over -> new session
        (_ts(0), 2),  # other user: independent sessions
    ]
    _write_events_orders(spark, tmp_path, events, [])
    rows = sorted(
        sessionize(spark, str(tmp_path)).collect(),
        key=lambda r: (r.user_id, r.session_id),
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert [r.n_events for r in by_user[1]] == [2, 1]
    assert by_user[1][0].duration_s == GAP_S
    assert [r.n_events for r in by_user[2]] == [1]


def test_sessionize_single_exchange(spark):
    """The (user_id, session_id) aggregate must reuse the window's hash
    exchange on user_id — one shuffle total."""
    from dpo_ocr_spark.ops.events import sessionize

    plan = (
        sessionize(spark, SD)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontaminate_crafted(spark, tmp_path):
    """A corpus doc sharing one 4-gram with the eval split (doc_id 0) is
    flagged; disjoint docs are not; eval docs are excluded from output."""
    from dpo_ocr_spark.ops.curation import decontaminate

    docs = [
        (0, "alpha beta gamma delta epsilon", "en"),  # eval (0 % 97 == 0)
        (1, "noise alpha beta gamma delta tail", "en"),  # shares 1 gram
        (2, "zeta eta theta iota kappa lambda", "en"),  # disjoint
    ]
    spark.createDataFrame(
        [(i, t, l, "s", len(t)) for i, t, l in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontaminate(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (1, True)
    assert got[2] == (0, False)


def test_repetition_stats_crafted(spark, tmp_path):
    """Integer ratios: all-same-word doc maxes out; all-distinct doc
    scores zero duplicate fraction."""
    from dpo_ocr_spark.ops.curation import repetition_stats

    docs = [(0, "spam spam spam spam"), (1, "one two three four")]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in repetition_stats(spark, str(tmp_path)).collect()}
    assert got[0].dup_word_frac_x1000 == 1000
    assert got[0].top2_count == 3  # "spam spam" x3
    assert got[0].repetitive
    assert got[1].dup_word_frac_x1000 == 0
    assert got[1].top2_count == 1
    assert not got[1].repetitive


def test_training_order_is_permutation_and_deterministic(spark):
    from dpo_ocr_spark.ops.curation import N_SHARDS, training_order

    a = training_order(spark, SD).collect()
    b = training_order(spark, SD).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard = {}
    for r in a:
        assert 0 <= r.shard < N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    n_docs = spark.read.parquet(f"{SD}/documents.parquet").count()
    assert sum(len(v) for v in by_shard.values()) == n_docs
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_semantic_prune_fraction_and_order(spark):
    from dpo_ocr_spark.ops.similarity import PRUNE_BOTTOM_X1000, semantic_prune

    rows = semantic_prune(spark, SD).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    for label, rs in by_label.items():
        n = len(rs)
        keep_n = (n * (1000 - PRUNE_BOTTOM_X1000)) // 1000
        assert sum(r.pruned for r in rs) == n - keep_n
        rs.sort(key=lambda r: r.rank)
        # ranks are a permutation and cosine is non-increasing along them
        assert [r.rank for r in rs] == list(range(1, n + 1))
        cos = [r.cos_r6 for r in rs]
        assert cos == sorted(cos, reverse=True)
        # pruned set is exactly the rank tail
        assert all(r.pruned == (r.rank > keep_n) for r in rs)


def test_tfidf_rare_term_outranks_ubiquitous(spark, tmp_path):
    """A term unique to one doc must outrank a term present in every doc
    even when the common term has higher tf."""
    from dpo_ocr_spark.ops.curation import tfidf_top_terms

    docs = [
        (0, "common common common rare", "en"),
        (1, "common common filler words", "en"),
        (2, "common other stuff here", "en"),
    ]
    spark.createDataFrame(
        [(i, t, l, "s", len(t)) for i, t, l in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = tfidf_top_terms(spark, str(tmp_path)).collect()
    doc0 = sorted(
        (r for r in out if r.doc_id == 0), key=lambda r: r.rank
    )
    # rare: tf=1, idf=3000 -> 3000; common: tf=3, idf=1000 -> 3000 — tie
    # breaks alphabetically ('common' < 'rare'); verify scores + order
    assert [(r.term, r.score) for r in doc0[:2]] == [
        ("common", 3000),
        ("rare", 3000),
    ]
    assert all(r.rank <= 3 for r in out)


def test_streaming_window_withholds_unfinalized(spark, tmp_path):
    """Append mode must emit only windows whose end <= max(ts) - 1h: with
    events in hours 0, 1 and 5, the hour-5 window (and only windows past
    the watermark) stay withheld."""
    from dpo_ocr_spark.streaming.stream import stream_window_counts

    events = [(_ts(0), 1), (_ts(3600), 1), (_ts(5 * 3600 + 10), 1)]
    _write_events_orders(spark, tmp_path, events, [])
    spark.read.parquet(str(tmp_path / "events.parquet")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "src"))
    out = stream_window_counts(
        spark, str(tmp_path / "src"), str(tmp_path / "ckpt"),
        str(tmp_path / "sink"),
    )
    got = {r.start_us // 3_600_000_000: r.n_events for r in out.collect()}
    # watermark = (5h+10s) - 1h -> hour-0 and hour-1 windows finalized
    # (end <= watermark); the hour-5 window is withheld
    epoch_hour0 = int(
        (_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()
    ) // 3600
    assert got == {epoch_hour0: 1, epoch_hour0 + 1: 1}


def test_asof_and_sessionize_vs_python_reference(spark, tmp_path):
    """Randomized (seeded) cross-check against a dict-based reference:
    2000 events / 300 orders over 40 users with deliberate timestamp
    collisions (second-granularity draws force at-ts and equal-ts ties)."""
    import random

    from dpo_ocr_spark.ops.events import GAP_S, asof_join, sessionize

    rng = random.Random(20240816)
    events = [
        (_ts(rng.randrange(0, 40_000)), rng.randrange(40)) for _ in range(2000)
    ]
    orders = [
        (rng.randrange(40), _ts(rng.randrange(0, 40_000)),
         round(rng.uniform(1, 500), 2))
        for _ in range(300)
    ]
    _write_events_orders(spark, tmp_path, events, orders)

    # --- python as-of reference ------------------------------------------
    by_user_orders = {}
    for k, (u, t, p) in enumerate(orders):
        by_user_orders.setdefault(u, []).append((t, k, int(round(p * 10000))))
    for v in by_user_orders.values():
        v.sort()  # (ts, orderkey) — larger key wins equal-ts ties
    expect = {}
    for i, (t, u) in enumerate(events):
        cands = [o for o in by_user_orders.get(u, []) if o[0] <= t]
        expect[i] = (cands[-1][1], cands[-1][2]) if cands else (None, None)
    got = {
        r.event_id: (r.o_orderkey, r.o_total_e4)
        for r in asof_join(spark, str(tmp_path)).collect()
    }
    assert got == expect

    # --- python sessionize reference --------------------------------------
    by_user_ev = {}
    for t, u in events:
        by_user_ev.setdefault(u, []).append(t)
    ref_sessions = set()
    for u, ts in by_user_ev.items():
        ts.sort()
        sid, start, prev, n = 0, ts[0], ts[0], 0
        for t in ts:
            if (t - prev).total_seconds() > GAP_S:
                ref_sessions.add((u, sid, start, prev, n))
                sid, start, n = sid + 1, t, 0
            prev = t
            n += 1
        ref_sessions.add((u, sid, start, prev, n))
    # engine session_id is 1-based running sum; normalize both to
    # (user, start, end, n_events)
    ref_norm = {(u, s, e, n) for (u, _sid, s, e, n) in ref_sessions}
    got_norm = {
        (
            r.user_id,
            _EPOCH + dt.timedelta(microseconds=r.start_us - int(
                (_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)),
            _EPOCH + dt.timedelta(microseconds=r.end_us - int(
                (_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)),
            r.n_events,
        )
        for r in sessionize(spark, str(tmp_path)).collect()
    }
    assert got_norm == ref_norm


def test_value_quantiles_vs_numpy(spark):
    """Exact order statistics: element at ceil(q*n) must equal the sorted
    array's element at that (1-based) position."""
    import math

    from dpo_ocr_spark.ops.events import value_quantiles

    got = {r.event_type: r for r in value_quantiles(spark, SD).collect()}
    ev = spark.read.parquet(f"{SD}/events.parquet").collect()
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(math.floor(r.value * 100))
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        row = got[et]
        assert row.n_events == n
        assert row.p50_x100 == vals[(1 * n + 1) // 2 - 1]
        assert row.p90_x100 == vals[(9 * n + 9) // 10 - 1]
        assert row.p99_x100 == vals[(99 * n + 99) // 100 - 1]


def test_host_cap_bounds_and_determinism(spark):
    from dpo_ocr_spark.ops.textstats import HOST_CAP, host_cap

    a = host_cap(spark, SD).collect()
    b = host_cap(spark, SD).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    kept_per_host = {}
    total_per_host = {}
    for r in a:
        total_per_host[r.host] = total_per_host.get(r.host, 0) + 1
        if r.kept:
            kept_per_host[r.host] = kept_per_host.get(r.host, 0) + 1
    for host, n in total_per_host.items():
        assert kept_per_host.get(host, 0) == min(n, HOST_CAP)
    # the fixture concentrates ~10% of urls on host-hot -> it must be
    # the host that actually gets capped at sf0.001 (50 docs, cap 40)
    assert total_per_host["host-hot.example.org"] > HOST_CAP
    assert kept_per_host["host-hot.example.org"] == HOST_CAP


def test_incremental_dedup_crafted(spark, tmp_path):
    """Batch docs (doc_id % 5 == 0): one exact copy of a corpus doc, one
    near-dup (high shingle overlap), one unique."""
    from dpo_ocr_spark.ops.dedup import incremental_dedup

    corpus_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, corpus_text),                                   # corpus
        (2, "totally different words entirely here now"),   # corpus
        (0, corpus_text),                                   # batch: exact copy of 1
        (5, "alpha beta gamma delta epsilon zeta eta iota"),  # batch: near-dup of 1
        (10, "unrelated content nothing shared at all ok"),  # batch: unique
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in incremental_dedup(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 5, 10}
    assert got[0].exact_dup and got[0].near_dup
    assert got[0].best_match_id == 1 and got[0].best_jaccard_x1000 == 1000
    assert (not got[5].exact_dup) and got[5].near_dup
    assert got[5].best_match_id == 1
    assert not got[10].exact_dup and not got[10].near_dup
    assert got[10].best_match_id is None


def test_pii_scrub_cross_engine_on_pii_rich_text(spark, tmp_path):
    """The fixture corpus is PII-free, so the driver gate can't exercise
    the regexes — pin Spark vs DuckDB vs Python-re on PII-rich docs."""
    import re

    import duckdb

    from dpo_ocr_spark.ops.curation import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        pii_scrub,
    )

    docs = [
        (0, "contact john.doe+spam@sub.example.co.uk or call +1 (415) 555-0199 now"),
        (1, "server at 192.168.001.1 and 10.0.0.255, backup none"),
        (2, "mixed a@b.io x 8005551212 y 1.2.3.4 z a@b.io"),
        (3, "clean text with no identifiers at all"),
        # an IP inside an email's domain is part of the <EMAIL>, not a
        # separate <IP> — counts must match the placeholders written
        (4, "bob@1.2.3.4.example.com pinged 5.6.7.8"),
        # numeric prose must SURVIVE: year lists / ranges are not phones
        (5, "seasons 2020 2021 2022 and the 2020-2021 range, page 1234"),
        (6, "call 555-123-4567 or 555-1234 or 8005551212 today"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {r.doc_id: r for r in pii_scrub(spark, str(tmp_path)).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    from dpo_ocr_spark.ops.curation import PII_ORACLE

    oracle = {r[0]: r for r in con.execute(PII_ORACLE).fetchall()}

    for i, text in docs:
        # python-re reference — counts follow the SAME cascade as the
        # replacement (each stage counts on the previous stage's output)
        s = re.sub(PII_EMAIL, "<EMAIL>", text)
        n_ips_ref = len(re.findall(PII_IPV4, s))
        s = re.sub(PII_IPV4, "<IP>", s)
        n_phones_ref = len(re.findall(PII_PHONE, s))
        s = re.sub(PII_PHONE, "<PHONE>", s)
        r = got[i]
        assert r.text_scrubbed == s, (i, r.text_scrubbed, s)
        assert r.n_emails == len(re.findall(PII_EMAIL, text))
        assert r.n_ips == n_ips_ref
        assert r.n_phones == n_phones_ref
        # duckdb twin agrees column-for-column
        o = oracle[i]
        assert (o[1], o[2], o[3], o[4]) == (
            r.n_emails,
            r.n_ips,
            r.n_phones,
            r.text_scrubbed,
        )
    # the explicit contract, independent of the reference impls: numeric
    # prose survives, structured phones are caught
    assert got[5].n_phones == 0
    assert got[5].text_scrubbed == docs[5][1]
    assert got[6].n_phones == 3
    assert "<PHONE>" in got[6].text_scrubbed
    assert got[0].n_emails == 1 and got[0].n_phones == 1
    assert got[1].n_ips == 2
    assert got[2].n_emails == 2 and got[2].n_ips == 1 and got[2].n_phones == 1
    assert got[3].text_scrubbed == docs[3][1]
    assert got[4].n_emails == 1 and got[4].n_ips == 1  # NOT 2
    assert got[4].text_scrubbed == "<EMAIL> pinged <IP>"


def test_ppm_roundtrip_and_comment_header():
    import numpy as np

    from dpo_ocr_spark.ops.pixels import decode_ppm, encode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # header comments must be skipped like a real parser
    with_comment = b"P6\n# a comment\n9 13\n255\n" + img.tobytes()
    assert (decode_ppm(with_comment) == img).all()


def test_autocrop_gutter_and_empty():
    import numpy as np

    from dpo_ocr_spark.ops.pixels import (
        autocrop_bounds,
        find_gutter,
        _gray,
        synth_page,
        _geometry,
        IMG_H,
        IMG_W,
        GUTTER_W,
    )

    for doc_id in (0, 7, 123, 9999):
        top, bottom, left, right, g0 = _geometry(doc_id)
        g = _gray(synth_page(doc_id))
        box = autocrop_bounds(g)
        assert box == (top, IMG_H - 1 - bottom, left, IMG_W - 1 - right)
        assert find_gutter(g, box) == g0 + (GUTTER_W - 1) // 2
    blank = np.full((8, 8), 255.0)
    assert autocrop_bounds(blank) == (-1, -1, -1, -1)
    assert find_gutter(blank, (-1, -1, -1, -1)) == -1


def test_cluster_representatives_pick_quality_not_min_id(spark, tmp_path):
    """Within a near-dup cluster the HIGHEST-quality doc wins even when it
    has the larger doc_id (the production selection policy)."""
    from dpo_ocr_spark.ops.dedup import cluster_representatives

    # docs 0 and 1 are near-dups (share most 3-gram shingles); doc 1 has
    # more stopwords -> higher quality; doc 2 is its own cluster
    base = "the quick brown fox jumps over lazy dog near river bank today"
    docs = [
        (0, base + " xx yy zz"),
        (1, base + " and the of to"),
        (2, "completely different content entirely unrelated words here"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in
           cluster_representatives(spark, str(tmp_path)).collect()}
    assert got[0].cluster_id == got[1].cluster_id == 0
    assert got[0].rep_doc_id == got[1].rep_doc_id == 1  # quality beats min-id
    assert got[1].is_rep and not got[0].is_rep
    assert got[2].is_rep and got[2].cluster_id == 2
    # exactly one representative per cluster
    reps = {}
    for r in got.values():
        reps.setdefault(r.cluster_id, 0)
        reps[r.cluster_id] += int(r.is_rep)
    assert all(v == 1 for v in reps.values())


def test_unicode_normalize_cross_engine_on_accents(spark, tmp_path):
    """The fixture corpus is ASCII (NFC = identity) — pin real NFC on
    combining characters: Spark (unicodedata) vs DuckDB (nfc_normalize)
    must agree on change flags, lengths and hashes."""
    import duckdb

    from dpo_ocr_spark.ops.curation import (
        UNICODE_NORMALIZE_ORACLE,
        unicode_normalize,
    )

    docs = [
        (0, "café touché"),  # decomposed e + combining acute
        (1, "café touché"),    # precomposed form (already NFC)
        (2, "plain ascii text"),
        (3, "Å ring"),             # A + combining ring -> Å
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in
           unicode_normalize(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {r[0]: r for r in con.execute(UNICODE_NORMALIZE_ORACLE).fetchall()}
    for i, _ in docs:
        r, o = got[i], oracle[i]
        assert (r.n_chars_raw, r.n_chars_nfc, r.changed, r.nfc_md5) == (
            o[1], o[2], o[3], o[4],
        ), i
    assert got[0].changed and got[0].n_chars_nfc < got[0].n_chars_raw
    assert not got[1].changed
    assert got[0].nfc_md5 == got[1].nfc_md5  # both normalize to one form
    assert not got[2].changed
    assert got[3].changed


def test_approx_count_distinct_within_bounds(spark):
    """The HLL scale path for count_distinct: approx_count_distinct must
    land within its documented rsd bound of the exact count (the
    estimator queries a 100 TB pipeline actually runs — exact
    count_distinct is the oracle-checked verifier)."""
    docs = spark.read.parquet(f"{SD}/documents.parquet")
    exact = docs.select(F.countDistinct("text")).first()[0]
    approx = docs.select(
        F.approx_count_distinct("text", rsd=0.02)
    ).first()[0]
    assert abs(approx - exact) <= max(3 * 0.02 * exact, 2), (approx, exact)


def test_lm_bigram_score_crafted(spark, tmp_path):
    """Corpus-trained bigram fluency: a doc made of the corpus's dominant
    phrase scores near LM_SCALE; a doc of corpus-unique transitions
    scores low; <2-word docs get zeros."""
    from dpo_ocr_spark.ops.curation import LM_SCALE, lm_bigram_score

    common = "the cat sat on the mat"
    docs = [
        (0, common), (1, common), (2, common), (3, common),
        (4, "zq xv jk wp bn"),  # every transition unique in the corpus
        (5, "single"),
        (6, ""),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in lm_bigram_score(spark, str(tmp_path)).collect()}
    assert set(got) == set(range(7))
    # dominant-phrase docs: every transition has c2/c1 = 1 except
    # 'the'->('cat'|'mat') which split the 'the' context 50/50
    assert got[0].n_bigrams == 5
    assert got[0].fluency_x1e6 > LM_SCALE * 7 // 10
    # unique-transition doc still has c2/c1 = 1 per its own contexts
    # (self-trained LM); its absolute likelihoods are maximal but its
    # transitions appear exactly once corpus-wide
    assert got[4].n_bigrams == 4
    assert got[5].n_bigrams == 0 and got[5].fluency_x1e6 == 0
    assert got[6].n_bigrams == 0
    # mixed corpus: make doc 4's words collide with fluent contexts
    docs2 = docs + [(7, "the zq the xv the bn the wp")]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs2],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got2 = {r.doc_id: r for r in lm_bigram_score(spark, str(tmp_path)).collect()}
    # now 'the'->rare-word transitions dilute: doc 7 scores well below
    # the dominant-phrase docs
    assert got2[7].fluency_x1e6 < got2[0].fluency_x1e6


def test_domain_mix_weights(spark, tmp_path):
    """Uniform smoothing: weights sum to ~1e6, a zero-token source still
    gets λ/n, and a dominant source is pulled below its raw share."""
    from dpo_ocr_spark.ops.curation import domain_mix

    docs = [
        (0, "a " * 90, "big"),   # 90% of tokens (split yields 91 incl. trailing)
        (1, "b c d e f", "mid"),
        (2, "", "tiny"),
    ]
    spark.createDataFrame(
        [(i, t.strip(), "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in domain_mix(spark, str(tmp_path)).collect()}
    total = sum(r.weight_x1e6 for r in got.values())
    assert abs(total - 1_000_000) <= 3  # flooring slack
    raw_big = got["big"].tokens * 1_000_000 // sum(
        r.tokens for r in got.values()
    )
    assert got["big"].weight_x1e6 < raw_big  # smoothed DOWN
    assert got["tiny"].weight_x1e6 >= 100_000 - 1  # ≥ λ/n = 0.3/3


def test_chunk_documents_coverage_and_overlap(spark, tmp_path):
    """Every token covered, overlap = CHUNK_TOKENS - CHUNK_STRIDE, short
    docs yield exactly one chunk, boundaries exact."""
    from dpo_ocr_spark.ops.curation import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )

    words_a = [f"w{i}" for i in range(150)]  # 3 chunks: 0,48,96
    docs = [(0, " ".join(words_a)), (1, "short doc"), (2, "x " * 64)]
    spark.createDataFrame(
        [(i, t.strip(), "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = chunk_documents(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    a = sorted(by_doc[0], key=lambda r: r.chunk_id)
    assert [r.start_tok for r in a] == [0, 48, 96]
    assert [r.n_tokens for r in a] == [64, 64, 54]
    assert a[0].chunk_text.split() == words_a[:64]
    assert a[2].chunk_text.split() == words_a[96:150]
    # overlap: tail of chunk 0 == head of chunk 1
    ov = CHUNK_TOKENS - CHUNK_STRIDE
    assert a[0].chunk_text.split()[-ov:] == a[1].chunk_text.split()[:ov]
    [b] = by_doc[1]
    assert (b.start_tok, b.n_tokens, b.chunk_text) == (0, 2, "short doc")
    [c] = by_doc[2]  # exactly CHUNK_TOKENS tokens -> one full chunk
    assert (c.start_tok, c.n_tokens) == (0, 64)
