"""Dictionary matching + interpretation stages (SURVEY.md §3.2 stages 3-9).

Scale design: the reference cross-scores every block against every
gazetteer/taxonomy name with row-wise pandas .apply
(block_identification.py:249, 261, 294).  The naive Spark translation is a
crossJoin + window argmax — an |blocks| × |dims| row explosion plus a
shuffle.  Since the dims are small (10⁴-10⁵ names) we instead ship them as
a Spark broadcast variable into an Arrow-batched ``mapInPandas`` and
compute the per-block argmax *inside the batch*: no row explosion, no
shuffle, and the candidate n-grams (C9) never leave the batch either.
A length-bound prune (ratio_upper_bound) skips pairs that cannot reach the
accept threshold.

Determinism pins (the reference iterates DB rows in unspecified order; we
pin explicit orders and document them):
- the reference's block query returns line-grain rows that all upsert the
  same (url, block, data_type) key; we pin last-writer-wins to the highest
  word_line (reading order), via ``dedup_line_grain``;
- tie-breaks on equal scores follow the reference's stable pandas sorts:
  first occurrence in dictionary order (localities), highest sortorder
  then dictionary order (taxonomy, block_identification.py:295);
- collector's other-field subtraction applies in data_type ASC order;
- ON CONFLICT semantics (:49): a later-stage row for an existing
  (url, block, data_type) key updates ONLY interpreted_value and
  verbatim_value — data_format/data_source/match_score keep their first
  values.  Reproduced in ``merge_fields``.
"""

from __future__ import annotations

import re as _re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from ..schemas import FIELD
from .dates import alpha_of, interpret_block
from .dims import COLLECTOR_STRINGS
from .fuzzy import (
    _sorted_tokens,
    _trigram_list,
    ratio,
    ratio_upper_bound,
    word_similarity_pre,
    word_similarity_upper_bound,
)

SIM_THRESHOLD = 80  # settings.py.template:27
WORD_SIM_THRESHOLD = 0.8  # block_identification.py:362

# stage output: FIELD columns + the originating word_line (used only for
# deterministic last-writer-wins dedup, then dropped)
FIELD_WL = T.StructType(
    list(FIELD.fields) + [T.StructField("word_line", T.IntegerType(), True)]
)
_COLS = [f.name for f in FIELD_WL.fields]


def _emit(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=_COLS)


# ---------------------------------------------------------------------------
# Stage: date/elevation cascade (C2-C6)
# ---------------------------------------------------------------------------


def interpret_dates(blocks: DataFrame) -> DataFrame:
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                r = interpret_block(text)
                if r is not None:
                    dt, fmt, iv, vv = r
                    rows.append(
                        (url, int(block), dt, fmt, iv, vv, "", 0.0, int(wl))
                    )
            yield _emit(rows)

    return blocks.mapInPandas(run, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Stage: locality match (J6 ×2 — name level then best-substring level)
# ---------------------------------------------------------------------------


def match_localities(
    spark: SparkSession, blocks: DataFrame, gazetteer: DataFrame
) -> DataFrame:
    dims = [(r["name"], r["name_type"], r["uid"]) for r in gazetteer.collect()]
    bc = spark.sparkContext.broadcast(dims)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # precompute token-sorted forms of dictionary names once per task
        names = [
            (name, _sorted_tokens(name), name_type, uid)
            for name, name_type, uid in bc.value
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                bt = _sorted_tokens(text)
                lbt = len(bt)
                best_score, best = -1, None
                for name, ns, name_type, uid in names:
                    # prune: can't strictly beat current best nor reach the
                    # accept threshold → skip (argmax over ≥threshold
                    # candidates is exact; sub-threshold never emits)
                    ub = ratio_upper_bound(lbt, len(ns))
                    if ub <= best_score or ub < SIM_THRESHOLD:
                        continue
                    s = ratio(bt, ns)
                    if s > best_score:  # stable: first occurrence wins ties
                        best_score, best = s, (name, name_type, uid)
                if best is None or best_score < SIM_THRESHOLD:
                    continue
                name, name_type, _ = best
                # best-substring re-match (C9, block_identification.py:254-262)
                ns_best = _sorted_tokens(name)
                words = text.split(" ")
                sub_best, sub_text = -1, text
                for i in range(len(words)):
                    for j in range(i + 1, len(words) + 1):
                        cand = " ".join(words[i:j])
                        cs = _sorted_tokens(cand)
                        if ratio_upper_bound(len(ns_best), len(cs)) <= sub_best:
                            continue
                        s = ratio(ns_best, cs)
                        if s > sub_best:  # stable: generation order on ties
                            sub_best, sub_text = s, cand
                rows.append(
                    (url, int(block), "verbatim_locality", name_type, name,
                     sub_text, "", 0.0, int(wl))
                )
            yield _emit(rows)

    return blocks.mapInPandas(run, schema=FIELD_WL)


def expand_locality(
    loc_fields: DataFrame, blocks: DataFrame, hierarchy: DataFrame
) -> DataFrame:
    """Derive the golden schema's locality family from a matched gazetteer
    entry (database/transcription_ento.sql:6-10; the reference's geo
    passes carry the matched row's name_1/name_0 hierarchy,
    auto_id_compare.py:500-510, 637, 720):

    - ``district_county`` / ``state_territory`` / ``country``: the admin
      hierarchy of the matched (name, name_type) — broadcast join against
      ``dims.gazetteer_hierarchy`` (≤ 530 rows), all JVM-side;
    - ``precise_locality``: the block text with the matched verbatim
      substring removed (literal replace + trim) — the un-gazetteered
      remainder, emitted only when non-empty.

    Input is the deduped ``verbatim_locality`` FIELD rows; output is new
    FIELD rows (one per derived non-null value), unique per
    (url, block_id, data_type) by construction."""
    loc = loc_fields.filter(F.col("data_type") == "verbatim_locality")
    j = loc.join(
        F.broadcast(
            hierarchy.select(
                F.col("name").alias("_h_name"),
                F.col("name_type").alias("_h_type"),
                F.col("district_county").alias("_h_county"),
                F.col("state_territory").alias("_h_state"),
                F.col("country").alias("_h_country"),
            )
        ),
        (F.col("interpreted_value") == F.col("_h_name"))
        & (F.col("data_format") == F.col("_h_type")),
        "inner",
    ).join(
        blocks.select(
            "url", F.col("block").alias("block_id"), "block_text"
        ),
        ["url", "block_id"],
    )
    remainder = F.trim(
        F.replace(F.col("block_text"), F.col("verbatim_value"), F.lit(""))
    )
    e = F.explode(
        F.array(
            F.struct(
                F.lit("district_county").alias("dt"),
                F.col("_h_county").alias("iv"),
            ),
            F.struct(F.lit("state_territory").alias("dt"),
                     F.col("_h_state").alias("iv")),
            F.struct(F.lit("country").alias("dt"),
                     F.col("_h_country").alias("iv")),
            F.struct(F.lit("precise_locality").alias("dt"),
                     remainder.alias("iv")),
        )
    )
    return (
        j.select(
            "url", "block_id", e.alias("e"),
            "data_format", "verbatim_value",
        )
        .filter(F.col("e.iv").isNotNull() & (F.col("e.iv") != ""))
        .select(
            "url",
            "block_id",
            F.col("e.dt").alias("data_type"),
            F.when(
                F.col("e.dt") == "precise_locality",
                F.lit("locality:precise"),
            ).otherwise(F.col("data_format")).alias("data_format"),
            F.col("e.iv").alias("interpreted_value"),
            F.when(
                F.col("e.dt") == "precise_locality", F.col("e.iv")
            ).otherwise(F.col("verbatim_value")).alias("verbatim_value"),
            F.lit("gazetteer").alias("data_source"),
            F.lit(0.0).alias("match_score"),
        )
    )


# ---------------------------------------------------------------------------
# Stage: taxonomy match (U1 + J6 with sortorder tie-break)
# ---------------------------------------------------------------------------


def match_taxonomy(
    spark: SparkSession, blocks: DataFrame, taxonomy: DataFrame
) -> DataFrame:
    dims = [
        (r["sciname"], r["sortorder"], r["name_type"])
        for r in taxonomy.collect()  # already ORDER BY sciname, sortorder
    ]
    bc = spark.sparkContext.broadcast(dims)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [
            (sciname, _sorted_tokens(sciname), sortorder, name_type)
            for sciname, sortorder, name_type in bc.value
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text in zip(
                pdf["url"], pdf["block"], pdf["word_line"], pdf["block_text"]
            ):
                bt = _sorted_tokens(text)
                lbt = len(bt)
                # argmax by (score desc, sortorder desc, stable dict order)
                # — pandas sort_values(['score','sortorder'], ascending=False)
                # over a frame ordered by (sciname, sortorder)  (:293-295)
                best_key, best = None, None
                for idx, (sciname, ns, sortorder, name_type) in enumerate(names):
                    # NB no strict prune here: the tie-break on sortorder
                    # means an equal score can still displace the best, so
                    # only skip when the bound is strictly below both the
                    # current best score and the threshold
                    ub = ratio_upper_bound(lbt, len(ns))
                    if best_key is not None and (
                        ub < best_key[0] or ub < SIM_THRESHOLD
                    ):
                        continue
                    s = ratio(bt, ns)
                    key = (s, sortorder, -idx)
                    if best_key is None or key > best_key:
                        best_key, best = key, (sciname, name_type)
                if best_key is None or best_key[0] < SIM_THRESHOLD:
                    continue
                sciname, name_type = best
                rows.append(
                    (url, int(block), "taxonomy", name_type, sciname, "",
                     "", 0.0, int(wl))
                )
            yield _emit(rows)

    return blocks.mapInPandas(run, schema=FIELD_WL)


# catalog-number pattern; whitespace spelled explicitly (Java ∩ RE2 rule:
# \s includes \x0b in Java/Python but not RE2, so shared regexes never
# use it)
OTHER_NUMBERS_RE = r"No\.[ \t\n\x0b\f\r]*([0-9]+)"


def match_other_numbers(blocks: DataFrame) -> DataFrame:
    """Catalog-number rule for the golden ``other_numbers`` column
    (database/transcription_ento.sql:12).  The reference's date cascade
    explicitly SKIPS 'No.' blocks (block_identification.py:110-115) and
    the column is human-filled; this rule auto-extracts the digit run so
    the engine can populate it.  Pure JVM regexp — no Python, no
    shuffle."""
    num = F.regexp_extract("block_text", OTHER_NUMBERS_RE, 1)
    return blocks.filter(num != "").select(
        "url",
        F.col("block").cast("int").alias("block_id"),
        F.lit("other_numbers").alias("data_type"),
        F.lit("other_numbers").alias("data_format"),
        num.alias("interpreted_value"),
        F.col("block_text").alias("verbatim_value"),
        F.lit("").alias("data_source"),
        F.lit(0.0).alias("match_score"),
    )


# ---------------------------------------------------------------------------
# Stage: collector (F6 + J9 self-subtraction)
# ---------------------------------------------------------------------------


def match_collector(blocks: DataFrame, fields_so_far: DataFrame) -> DataFrame:
    others = (
        fields_so_far.filter(F.col("data_type") != "collector")
        .groupBy(F.col("url"), F.col("block_id").alias("block"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("data_type", "verbatim_value"))
            ).alias("other_vals")
        )
    )
    joined = blocks.join(others, ["url", "block"], "left")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text, other in zip(
                pdf["url"], pdf["block"], pdf["word_line"],
                pdf["block_text"], pdf["other_vals"],
            ):
                for coll in COLLECTOR_STRINGS:
                    if coll not in text:
                        continue
                    interpreted = text
                    if other is not None and len(other) > 0:
                        for item in other:  # data_type ASC (pinned order)
                            vv = item["verbatim_value"]
                            if vv:
                                interpreted = interpreted.replace(vv, "").strip()
                    interpreted = interpreted.replace(coll, "").strip()
                    # quirk :319-321 — skip when the remainder equals any
                    # collector string with itself removed
                    coll2 = [c.replace(interpreted, "") for c in COLLECTOR_STRINGS]
                    if interpreted in coll2:
                        continue
                    if len(interpreted) > 3:
                        rows.append(
                            (url, int(block), "collector", "collector",
                             interpreted, text, "", 0.0, int(wl))
                        )
                        break
            yield _emit(rows)

    return joined.mapInPandas(run, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Stage: similarity fallback (C8 + F7 + T1)
# ---------------------------------------------------------------------------


SIM_DICT_CAP = 100_000  # semantic knob: top-N most frequent dictionary values


def similarity_fallback(
    spark: SparkSession, blocks: DataFrame, fields: DataFrame
) -> DataFrame:
    """block_identification.py:330-364 — a block missing any known
    data_type gets the globally most word-similar existing
    interpreted_value (any data_type: the similarity_query at :342 has no
    type filter, and the inserted row takes the *matched* row's
    data_type).  Computed against the pre-fallback snapshot (the
    reference's insert-while-iterating feedback is order-dependent over an
    unspecified DB order; snapshot semantics is the deterministic batch
    equivalent).

    Scale shape: the snapshot is a DISTINCT (type, format, value)
    dictionary aggregated distributedly and bounded to the ``SIM_DICT_CAP``
    most frequent entries (TakeOrdered — never a full sort, never a
    corpus-sized collect; the fields table itself is corpus-sized at
    10¹² docs, its distinct dictionary is vocabulary-sized).  Below the
    cap semantics are exact; above it the least-frequent dictionary tail
    stops attracting fallback matches — a documented knob, not an OOM."""
    dict_rows = (
        fields.groupBy("data_type", "data_format", "interpreted_value")
        .agg(F.count("*").alias("freq"))
        .orderBy(
            F.col("freq").desc(),
            "data_type",
            "interpreted_value",
            "data_format",
        )
        .limit(SIM_DICT_CAP)
        .collect()
    )
    snapshot = [
        (r["data_type"], r["data_format"], r["interpreted_value"])
        for r in dict_rows
    ]
    snapshot.sort(key=lambda t: (t[0], t[2] or "", t[1] or ""))
    # the F7 existence guard needs every type, even one whose values all
    # fell out of the cap: a handful of distinct types, collected cheaply
    all_types = sorted(
        r[0] for r in fields.select("data_type").distinct().collect()
    )
    bc = spark.sparkContext.broadcast((snapshot, all_types))

    present = fields.groupBy(
        F.col("url"), F.col("block_id").alias("block")
    ).agg(F.collect_set("data_type").alias("present_types"))
    joined = blocks.join(present, ["url", "block"], "left")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        snap_raw, types = bc.value
        # precompute trigram sets of the snapshot once per task
        snap = [
            (dt, fmt, frozenset(_trigram_list(iv)))
            for dt, fmt, iv in snap_raw
            if iv
        ]
        for pdf in it:
            rows: list[tuple] = []
            for url, block, wl, text, ptypes in zip(
                pdf["url"], pdf["block"], pdf["word_line"],
                pdf["block_text"], pdf["present_types"],
            ):
                have = set(ptypes) if ptypes is not None else set()
                if not (set(types) - have):
                    continue  # F7 existence guard: nothing missing
                alpha = alpha_of(text)
                if len(alpha) < 5 or len(_re.sub(r"\W+", "", text).strip()) < 5:
                    continue  # too short (:354)
                tb = _trigram_list(text)
                tb_set = frozenset(tb)
                best_sml, best = -1.0, None
                for dt, fmt, sa in snap:
                    ub = word_similarity_upper_bound(sa, tb_set)
                    if ub <= best_sml or ub <= WORD_SIM_THRESHOLD:
                        continue  # can't beat best / can't clear the gate
                    sml = word_similarity_pre(sa, tb)
                    if sml > best_sml:  # ties → first in pinned order
                        best_sml, best = sml, (dt, fmt)
                if best is not None and best_sml > WORD_SIM_THRESHOLD:
                    dt, fmt = best
                    rows.append(
                        (url, int(block), dt, fmt, text, text,
                         "similarity", float(best_sml), int(wl))
                    )
            yield _emit(rows)

    return joined.mapInPandas(run, schema=FIELD_WL)


# ---------------------------------------------------------------------------
# Upsert semantics + full pipeline
# ---------------------------------------------------------------------------


def dedup_line_grain(fields_wl: DataFrame) -> DataFrame:
    """Line-grain rows share (url, block): keep the highest word_line
    (last writer in reading order), then drop the helper column."""
    w = W.partitionBy("url", "block_id", "data_type").orderBy(
        F.col("word_line").desc()
    )
    return (
        fields_wl.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "word_line")
    )


def merge_fields(base: DataFrame, update: DataFrame) -> DataFrame:
    """ON CONFLICT (url, block_id, data_type) DO UPDATE SET
    interpreted_value, verbatim_value (:49) — only those two columns take
    the new row's values; the rest keep the base row's."""
    key = ["url", "block_id", "data_type"]
    upd = update.select(
        *key,
        F.col("interpreted_value").alias("_new_iv"),
        F.col("verbatim_value").alias("_new_vv"),
        F.col("data_format").alias("_new_fmt"),
        F.col("data_source").alias("_new_src"),
        F.col("match_score").alias("_new_score"),
    )
    return base.join(upd, key, "full_outer").select(
        *key,
        F.coalesce("data_format", "_new_fmt").alias("data_format"),
        F.coalesce("_new_iv", "interpreted_value").alias("interpreted_value"),
        F.coalesce("_new_vv", "verbatim_value").alias("verbatim_value"),
        F.coalesce("data_source", "_new_src").alias("data_source"),
        F.coalesce("match_score", "_new_score").alias("match_score"),
    )


def interpret_all(
    spark: SparkSession,
    blocks: DataFrame,
    gazetteer: DataFrame,
    taxonomy: DataFrame,
    hierarchy: DataFrame,
) -> DataFrame:
    """Full §3.2 pipeline: dates → localities → admin-hierarchy
    expansion → taxonomy → collector → similarity fallback, merged with
    reference upsert semantics."""
    blocks = blocks.cache()
    dates = dedup_line_grain(interpret_dates(blocks))
    locs = dedup_line_grain(match_localities(spark, blocks, gazetteer))
    locs = locs.unionByName(expand_locality(locs, blocks, hierarchy))
    taxo = dedup_line_grain(match_taxonomy(spark, blocks, taxonomy))
    base = merge_fields(merge_fields(dates, locs), taxo)
    coll = dedup_line_grain(match_collector(blocks, base))
    merged = merge_fields(base, coll).cache()
    fb = dedup_line_grain(similarity_fallback(spark, blocks, merged))
    return merge_fields(merged, fb)
