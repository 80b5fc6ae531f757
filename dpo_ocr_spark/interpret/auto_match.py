"""§3.3 auto-match cascade (reference auto_id_compare.py:276-311, 519-555;
thresholds settings.py.template:50-56: insert_min=180, token_set_ratio_min=96,
geo_min=96).

Per test-split block, per field: every word-substring candidate is scored
against the ref-split golden dictionary with fuzz.ratio + fuzz.partial_ratio;
the best (score, string_len) candidate is upserted when score > 180, else the
token_set_ratio fallback fires, else the geo gazetteer pass (fuzz.ratio > 96,
inserting the GAZETTEER name, not the candidate).

Pinned reference quirks (do not "fix"):
- candidates are ``' '.join(words[i:j])`` for ``i < n-1, i+1 <= j <= n-1``
  (auto_id_compare.py:283-285): the slice is exclusive and j never reaches n,
  so NO candidate ever contains the block's last word, and a 1-word block has
  no candidates at all.
- ``alpha_block = re.sub(r'\\W+ ,-/', '', text)`` matches a run of non-word
  chars followed by the literal " ,-/" — i.e. almost never; string_len is
  effectively len(candidate) after whitespace-collapse + '.'→'. ' respacing
  (:286-288).
- stage 2 computes ``max(score3)`` and the rows achieving it (res_top) but
  then takes ``nsmallest(1, 'string_len')`` over ALL scored rows and gates on
  THAT row's score3 (:304-309) — res_top is dead code; the globally-shortest
  candidate row decides, not the best token_set row.
- stage 1 inserts the CANDIDATE substring; the geo stage inserts the
  gazetteer NAME (:310 vs :553).
- upsert ON CONFLICT (filename, reference_size) DO UPDATE SET field: the
  last-processed block of a document wins per field (:310).

Determinism policy (the reference iterates DB result order, which is
unspecified): dictionary values are deduped + sorted ascending; pandas
nlargest/nsmallest keep='first' tie-breaks are reproduced with strict
comparisons over that pinned order.

Scale shape: blocks×sizes is a broadcast-dim join; dictionaries are
vocabulary-sized (distinct golden values), collected + broadcast — the same
documented tiny-dim pattern as interpret/match.py.  All scoring runs inside
Arrow batches (mapInPandas); no per-row Python UDFs, no driver loops over
data.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from bisect import bisect_left
from functools import lru_cache

from .dates import alpha_of
from .fuzzy import partial_ratio, ratio, token_set_ratio

AUTO_SIZES = ["0.05", "0.1", "0.2"]  # the sizes the reference loop runs
INSERT_MIN = 180
TOKEN_SET_MIN = 96
GEO_MIN = 96
# dict field order = the 8-field UNION order of the reference's
# query_transcription (auto_id_compare.py:58-200)
FIELD_ORDER = [
    "collector", "verbatim_date", "verbatim_locality", "country",
    "state_territory", "district_county", "precise_locality", "elevation",
]

AUTO_SCHEMA = (
    "url string, reference_size string, field string, value string, "
    "stage string, pass_no int, block int"
)


def candidates_of(block_text: str) -> list[tuple[str, int]]:
    """(candidate, string_len) pairs in reference generation order."""
    words = (block_text or "").split(" ")
    n = len(words)
    out: list[tuple[str, int]] = []
    for i in range(n - 1):
        for j in range(i + 1, n):  # j < n: the last word is never included
            text = " ".join(words[i:j])
            alpha = (
                " ".join(alpha_of(text).split())
                .replace(" .", ".")
                .replace(".", ". ")
                .strip()
            )
            if len(alpha) > 3:
                out.append((text, len(alpha)))
    return out


@lru_cache(maxsize=4096)
def _lowered(values: tuple[str, ...]) -> list[tuple[str, str, int]]:
    """(original, lowercase, length) per value — lowered once per distinct
    dictionary instead of once per candidate×value pair."""
    # length of the LOWERED form: that is what ratio() sees, and Unicode
    # lowering can change length (e.g. 'İ' lowers to 2 chars)
    return [(v, v.lower(), len(v.lower())) for v in values]


@lru_cache(maxsize=4096)
def _by_length(values: tuple[str, ...]) -> tuple[
    list[tuple[str, str, int]], list[int]
]:
    """Lowered values sorted by lowered length, plus the length array for
    bisect — the field loop scans them outward from the candidate's own
    length, i.e. in non-increasing ratio_upper_bound order."""
    low = sorted(_lowered(values), key=lambda t: t[2])
    return low, [t[2] for t in low]


def cascade_rows(
    block_text: str,
    dict_by_field: list[tuple[str, list[str]]],
    gazetteer: list[str],
) -> list[tuple[str, str, str]]:
    """(field, value, stage) emissions for one block.

    Hot path of the auto cascade: the candidate×dictionary double loop is
    pruned with ``ratio_upper_bound`` (pair-level: partial ≤ 100 and
    ratio is length-bounded; second level: after the cheap single-DP
    ratio, the O(windows·DP) partial_ratio runs only if ``ratio + 100``
    can still beat the running best).  Every skip is provably outside
    the argmax, so emissions are byte-identical to the unpruned loop
    (pinned by the auto_cascade_kernel oracle + test_auto_match)."""
    cands = candidates_of(block_text)
    out: list[tuple[str, str, str]] = []
    if not cands:
        return out
    cl = [
        (text, slen, text.lower(), len(text.lower()))
        for text, slen in cands
    ]
    for field, values in dict_by_field:
        if not values:
            continue
        # Value-scan order is free here: ``best`` stores the CANDIDATE
        # text, and for a fixed candidate the loop just maxes the score
        # over values — so unlike the geo pass (which stores the value
        # side), reordering values cannot change the result.  Scan them
        # by length outward from the candidate's own length: upper bounds
        # are then non-increasing, so the first unbeatable bound ends the
        # whole value scan (break, not skip).
        vals, lds = _by_length(tuple(values))
        nv = len(vals)
        best: tuple[int, int, str] | None = None  # (score, slen, text)
        # min_row quirk re-derived closed-form: the inner-loop update
        # fires only while slen strictly drops, i.e. on the FIRST value
        # of each new shortest candidate — so min_row is the earliest
        # globally-shortest candidate paired with values[0]
        mr_text = min(cl, key=lambda t: t[1])[0]
        # ``best`` is only consulted through ``best[0] > INSERT_MIN`` (the
        # token_set fallback reads min_row, not best), so INSERT_MIN is a
        # valid prune floor: a pair whose bound cannot clear it can never
        # change the emission, whatever its exact score.  Tracking best
        # only over >INSERT_MIN pairs is therefore exact.
        for text, slen, tl, lt in cl:
            i = bisect_left(lds, lt) - 1
            j = i + 1
            while i >= 0 or j < nv:
                # pick the side with the larger upper bound (merged
                # sequence stays non-increasing)
                ub_i = (
                    200.0 * (lt if lt < lds[i] else lds[i]) / (lt + lds[i])
                    if i >= 0 else -1.0
                )
                ub_j = (
                    200.0 * (lt if lt < lds[j] else lds[j]) / (lt + lds[j])
                    if j < nv else -1.0
                )
                if ub_j >= ub_i:
                    k = j
                    j += 1
                    ub = 100.0 + ub_j
                else:
                    k = i
                    i -= 1
                    ub = 100.0 + ub_i
                if ub <= INSERT_MIN:
                    break  # every later value's bound is ≤ this one
                if best is not None:
                    # ratio() rounds half-even, so the max achievable
                    # score is 100 + round(raw bound), not 100 + bound:
                    # a .5 bound below best still reaches it when the
                    # half rounds up.  round() is monotone, so the
                    # merged-scan break stays safe on the rounded bound.
                    rub = 100 + round(ub - 100.0)
                    bs, bl = best[0], best[1]
                    if rub < bs or (rub == bs and slen <= bl):
                        break
                _, dl, _ = vals[k]
                r = ratio(tl, dl)
                s_ub = r + 100
                if s_ub <= INSERT_MIN:
                    continue  # partial ≤ 100 → score can't clear the gate
                if best is not None and (
                    s_ub < bs or (s_ub == bs and slen <= bl)
                ):
                    continue
                score = partial_ratio(tl, dl) + r
                if score <= INSERT_MIN:
                    continue
                if best is None or (score, slen) > (best[0], best[1]):
                    best = (score, slen, text)
        if best is not None:
            out.append((field, best[2], "score"))
        else:
            # quirk: the globally-shortest row decides, not the max-score3 row
            s3 = token_set_ratio(mr_text.lower(), values[0].lower())
            if s3 > TOKEN_SET_MIN:
                out.append((field, mr_text, "token_set"))
    # Geo pass: gbest stores the VALUE side (the gazetteer name), so the
    # scan order must stay the reference's — prune with skips only, never
    # reorder.  GEO_MIN is a valid prune floor by the same argument as
    # INSERT_MIN above (gbest is only consulted through > GEO_MIN).
    gbest: tuple[int, int, str] | None = None  # (score2, slen, name)
    gaz_l = _lowered(tuple(gazetteer))
    for text, slen, tl, lt in cl:
        for name, nl, ln in gaz_l:
            ub = 200.0 * (lt if lt < ln else ln) / (lt + ln)
            if ub <= GEO_MIN:
                continue
            if gbest is not None:
                # rounded bound: ratio() = round(half-even) of the same
                # float, so round(ub) is the exact max achievable score2
                rub = round(ub)
                gs, gl = gbest[0], gbest[1]
                if rub < gs or (rub == gs and slen <= gl):
                    continue
            s2 = ratio(tl, nl)
            if s2 <= GEO_MIN:
                continue
            if gbest is None or (s2, slen) > (gbest[0], gbest[1]):
                gbest = (s2, slen, name)
    if gbest is not None:
        out.append(("country", gbest[2], "geo"))  # the gazetteer name
    return out


def _ref_dictionaries(
    spark: SparkSession, sf_dir: str
) -> dict[str, dict[str, list[str]]]:
    """{size: {field: sorted distinct ref-split golden values}}."""
    from ..eval.harness import golden_long, splits

    ref = (
        golden_long(spark, sf_dir)
        .join(
            splits(spark, sf_dir).filter(F.col("ref_or_test") == "ref"),
            "url",
        )
        .filter(F.col("reference_size").isin(AUTO_SIZES))
        .select("reference_size", "field", "data")
        .distinct()
        .collect()  # vocabulary-sized by construction
    )
    dicts: dict[str, dict[str, list[str]]] = {s: {} for s in AUTO_SIZES}
    for r in ref:
        dicts[r["reference_size"]].setdefault(r["field"], []).append(r["data"])
    for by_field in dicts.values():
        for vals in by_field.values():
            vals.sort()
    return dicts


def _test_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_blocks × their test-split sizes (broadcast dim join)."""
    from ..eval.harness import splits
    from .labels import auto_blocks

    return auto_blocks(spark, sf_dir).join(
        F.broadcast(
            splits(spark, sf_dir).filter(
                (F.col("ref_or_test") == "test")
                & F.col("reference_size").isin(AUTO_SIZES)
            )
        ),
        "url",
    )


_COLS = ["url", "reference_size", "field", "value", "stage", "pass_no", "block"]


def _typed_empty() -> pd.DataFrame:
    # typed empty frame: all-NA object int columns trip pandas'
    # concat-dtype FutureWarning in the Arrow serializer
    return pd.DataFrame(
        {
            c: pd.Series(
                dtype="int64" if c in ("pass_no", "block") else object
            )
            for c in _COLS
        }
    )


def _dedup_upserts(out: DataFrame) -> DataFrame:
    """ON CONFLICT (filename, reference_size) DO UPDATE SET field → the
    last writer wins per (url, size, field).  Write order is pinned as
    (pass_no, block): each pass is a separate full loop over the test
    blocks in the reference (cascade, then geo country, then the geo
    state/county passes), blocks ascending within a pass."""
    w = W.partitionBy("url", "reference_size", "field").orderBy(
        F.col("pass_no").desc(), F.col("block").desc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "pass_no", "block")
    )


def _auto_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-dedup upsert rows of the auto table: the 8-field dictionary
    cascade (pass 0) + the active geo country pass (pass 1,
    auto_id_compare.py:519-560 — the gazetteer is the gadm0/country
    level, here the initcap region names).

    Stage-cached: auto_match AND auto_geo both consume these rows, and
    the fuzzy-DP cascade is the most expensive interpret stage — without
    the memo a gate run would execute it twice."""
    from ..stagecache import shared

    return shared(
        spark, f"auto_rows:{sf_dir}", lambda: _auto_rows_uncached(spark, sf_dir)
    )


def _auto_rows_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dims import _gadm

    dicts = _ref_dictionaries(spark, sf_dir)
    gazetteer = sorted(
        r[0] for r in _gadm(spark, sf_dir).select("country").distinct().collect()
    )
    bc = spark.sparkContext.broadcast((dicts, gazetteer))
    work = _test_blocks(spark, sf_dir)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d_all, gaz = bc.value
        for pdf in it:
            rows: list[tuple[Any, ...]] = []
            for url, size, block, text in zip(
                pdf["url"], pdf["reference_size"], pdf["block"],
                pdf["block_text"],
            ):
                by_field = d_all.get(size, {})
                ordered = [
                    (f_, by_field[f_]) for f_ in FIELD_ORDER if f_ in by_field
                ]
                for field, value, stage in cascade_rows(text, ordered, gaz):
                    rows.append(
                        (url, size, field, value, stage,
                         1 if stage == "geo" else 0, int(block))
                    )
            yield pd.DataFrame(rows, columns=_COLS) if rows else _typed_empty()

    return work.mapInPandas(run, schema=AUTO_SCHEMA)


def auto_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto table (long form): one row per (url, size, field) upsert."""
    return _dedup_upserts(_auto_rows(spark, sf_dir))


def auto_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ocr_transcription_ento_auto_geo`` analog: the auto table
    (auto_id_compare.py:369: CREATE TABLE ..._geo AS SELECT * FROM auto)
    plus the gadm1/state (pass 2) and gadm2/county (pass 3) geo passes.

    Per the reference's geo-pass spec (auto_id_compare.py:601-637 state,
    :685-720 county — present as commented-out pseudocode whose executable
    SQL is placeholder-broken; we implement the documented intent and pin
    the semantics here):
    - candidates are scored with **case-sensitive** ``fuzz.ratio``
      (match_state/match_county call it without ``.lower()``, unlike the
      active country pass at :545);
    - the argmax is ``nlargest(1, ['score2', 'string_len'])`` gated
      strictly above ``geo_min``.  Disclosure (r4 advice): the reference
      pseudocode actually gates ``res.iloc[0]['score']`` — a column it
      never populates (only ``score2`` is computed), so a literal
      transcription would compare NaN > geo_min and insert NO geo rows at
      all; we gate on ``score2`` as the documented intent, like the active
      country pass does;
    - the matched FIELD gets the **candidate text** (``res.iloc[0]['text']``
      — unlike the country pass, which inserts the gazetteer *name*),
      while the parent admin levels get the gazetteer row's **hierarchy
      values** (state pass → country; county pass → state_territory +
      country);
    - tie-breaks follow the pinned dictionary order (name-sorted), pandas
      keep='first'."""
    from .dims import _gadm

    base_rows = _auto_rows(spark, sf_dir)
    g = _gadm(spark, sf_dir)
    states = [
        (n, c, len(n))
        for n, c in sorted(
            (r["state"], r["country"])
            for r in g.select("state", "country").distinct().collect()
        )
    ]
    counties = [
        (n, s, c, len(n))
        for n, s, c in sorted(
            (r["county"] + " Co., " + r["state"], r["state"], r["country"])
            for r in g.select(
                "county", "state", "country"
            ).distinct().collect()
        )
    ]
    bc = spark.sparkContext.broadcast((states, counties))
    work = _test_blocks(spark, sf_dir)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states_l, counties_l = bc.value
        for pdf in it:
            rows: list[tuple[Any, ...]] = []
            for url, size, block, text in zip(
                pdf["url"], pdf["reference_size"], pdf["block"],
                pdf["block_text"],
            ):
                cands = candidates_of(text)
                if not cands:
                    continue
                # GEO_MIN is a valid prune floor (the argmax is only
                # consulted through > GEO_MIN, as in cascade_rows); the
                # value side carries hierarchy parents, so scan order is
                # the reference's — skips only, never reordered.
                cl = [(cand, slen, len(cand)) for cand, slen in cands]
                # pass 2: state level
                best = None  # (score2, slen, cand_text, country)
                for cand, slen, lc in cl:
                    for name, country, ln in states_l:
                        ub = 200.0 * (lc if lc < ln else ln) / (lc + ln)
                        if ub <= GEO_MIN:
                            continue
                        if best is not None:
                            # rounded bound — see cascade_rows: ratio()
                            # rounds half-even, round(ub) is the exact
                            # max achievable score for this pair
                            rub = round(ub)
                            bs, bl = best[0], best[1]
                            if rub < bs or (rub == bs and slen <= bl):
                                continue
                        s2 = ratio(cand, name)  # case-sensitive (quirk)
                        if s2 <= GEO_MIN:
                            continue
                        if best is None or (s2, slen) > (best[0], best[1]):
                            best = (s2, slen, cand, country)
                if best is not None:
                    rows.append((url, size, "state_territory", best[2],
                                 "geo_state", 2, int(block)))
                    rows.append((url, size, "country", best[3],
                                 "geo_state", 2, int(block)))
                # pass 3: county level
                best = None  # (score2, slen, cand_text, state, country)
                for cand, slen, lc in cl:
                    for name, state, country, ln in counties_l:
                        ub = 200.0 * (lc if lc < ln else ln) / (lc + ln)
                        if ub <= GEO_MIN:
                            continue
                        if best is not None:
                            # rounded bound — see cascade_rows: ratio()
                            # rounds half-even, round(ub) is the exact
                            # max achievable score for this pair
                            rub = round(ub)
                            bs, bl = best[0], best[1]
                            if rub < bs or (rub == bs and slen <= bl):
                                continue
                        s2 = ratio(cand, name)
                        if s2 <= GEO_MIN:
                            continue
                        if best is None or (s2, slen) > (best[0], best[1]):
                            best = (s2, slen, cand, state, country)
                if best is not None:
                    rows.append((url, size, "district_county", best[2],
                                 "geo_county", 3, int(block)))
                    rows.append((url, size, "state_territory", best[3],
                                 "geo_county", 3, int(block)))
                    rows.append((url, size, "country", best[4],
                                 "geo_county", 3, int(block)))
            yield pd.DataFrame(rows, columns=_COLS) if rows else _typed_empty()

    geo_rows = work.mapInPandas(run, schema=AUTO_SCHEMA)
    return _dedup_upserts(base_rows.unionByName(geo_rows))
