"""Driver-checkable queries for the operators that were unit-only through
r4 (VERDICT r4 coverage table: S6/S8/S9, F3/F7, J7, U3, C1/C5/C7/C9) —
each re-expressed as a DataFrame query with a byte-exact DuckDB oracle so
the gate value-checks them instead of trusting pytest alone.

Shared determinism contracts: the token-geometry CTE (corpus.py layout
contract, same derivation as the zonal/crop oracles), the label fixture
CTE (queries_cascade._CASCADE_CTE), and the fuzzy-kernel length formulas
(ratio on containment pairs reduces to round(200·|a|/(|a|+|b|)) — the DP
runs for real on the Spark side, the oracle computes the closed form; the
only half-integer the fixture produces is 87.5, which rounds to 88 under
both Python's half-even and SQL's half-away)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import (
    _COUNTY_SQL,
    _ETEXT_CTE,
    _TOKENS_CTE,
    _extracted,
    _tokens,
    register,
)
from .queries_cascade import _CASCADE_CTE, _SQL_DATES, _full_frame

# ---------------------------------------------------------------------------
# S8: CSV sink cells (QUOTE_NONNUMERIC rendering, run_gvision_ocr.py:173-174)
# ---------------------------------------------------------------------------

# Python-str-compatible double rendering, DuckDB side (export._pystr_double)
_CONF_SQL = """
CASE WHEN rtrim(printf('%.6f', conf_x100 / 100.0), '0') LIKE '%.'
     THEN rtrim(printf('%.6f', conf_x100 / 100.0), '0') || '0'
     ELSE rtrim(printf('%.6f', conf_x100 / 100.0), '0') END
"""


@register(
    "csv_cells",
    f"""
WITH {_TOKENS_CTE},
lay AS (
  SELECT url, block, word_line, word, widx, conf_x100,
         COALESCE(SUM(8 * length(word) + 8) OVER (
           PARTITION BY doc_id, block ORDER BY widx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wx0
  FROM tok WHERE doc_id % 5 = 4
)
SELECT url,
       '"' || replace(word, '"', '""') || '"' || ','
       || CAST(block AS VARCHAR) || ',1,'
       || CAST(widx AS VARCHAR) || ','
       || CAST(word_line AS VARCHAR) || ','
       || {_CONF_SQL} || ','
       || CAST(wx0 AS VARCHAR) || ','
       || CAST(24 * block AS VARCHAR) || ','
       || CAST(wx0 + 8 * length(word) AS VARCHAR) || ','
       || CAST(24 * block AS VARCHAR) || ','
       || CAST(wx0 + 8 * length(word) AS VARCHAR) || ','
       || CAST(24 * block + 18 AS VARCHAR) || ','
       || CAST(wx0 AS VARCHAR) || ','
       || CAST(24 * block + 18 AS VARCHAR) AS value
FROM lay
""",
)
def _q_csv_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokens_csv sink's rendered data rows (layout docs — the OCR
    word stream the reference's CSV artifact holds), via the exact line
    expression the sink writes."""
    from .export import csv_line_col

    toks = _tokens(spark, sf_dir).filter(
        F.substring("url", -6, 6).cast("int") % 5 == 4
    )
    return toks.select("url", csv_line_col().alias("value"))


# ---------------------------------------------------------------------------
# S9: JSON response envelope (json_response_sink's scalar fields)
# ---------------------------------------------------------------------------


@register(
    "json_response",
    """
WITH docs AS (
  SELECT doc_id,
         'https://host-' || CASE WHEN doc_id % 10 = 0 THEN 'hot'
            ELSE CAST(doc_id % 20 AS VARCHAR) END || '.example.org/doc/'
            || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url,
         text, str_split(text, ' ') AS ws
  FROM documents
),
paras AS (
  SELECT doc_id, url,
    CASE WHEN len(ws) < 3 THEN text
         ELSE array_to_string(ws[1:CAST(ceil(len(ws)/3.0) AS INT)], ' ')
              || chr(10) ||
              array_to_string(ws[CAST(ceil(len(ws)/3.0) AS INT)+1:
                                 CAST(ceil(2*len(ws)/3.0) AS INT)], ' ')
              || chr(10) ||
              array_to_string(ws[CAST(ceil(2*len(ws)/3.0) AS INT)+1:len(ws)],
                              ' ')
    END AS etext,
    len(ws) AS n_tokens
  FROM docs
)
SELECT url,
       CAST(to_json(struct_pack(
         url := url,
         payload_kind := CASE WHEN doc_id % 5 = 4
                              THEN 'layout' ELSE 'html' END,
         n_tokens := CAST(n_tokens AS INT),
         text := etext)) AS VARCHAR) AS value
FROM paras
""",
)
def _q_json_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_response_sink's per-url JSON envelope restricted to its scalar
    fields (url/payload_kind/n_tokens/text) — the token-array tail is
    covered value-wise by csv_cells/span_records; a byte-exact SQL twin
    of nested struct arrays would pin DuckDB's JSON writer, not ours."""
    return _extracted(spark, sf_dir).select(
        "url",
        F.to_json(
            F.struct("url", "payload_kind", "n_tokens", "text")
        ).alias("value"),
    )


# ---------------------------------------------------------------------------
# S7: checkpoint resume (delete-by-project + rerun analog,
# block_identification.py:63; scale.py lineage/resume_filter)
# ---------------------------------------------------------------------------


@register(
    "resume_extract",
    f"""
WITH {_ETEXT_CTE}
SELECT url, etext AS text FROM paras
""",
)
def _q_resume_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 end-to-end value check: an extraction run that died after
    committing only salt-partitions 0-3 of 8 (its per-partition lineage
    rows landed with the results), resumed via the content-based
    ``resume_filter``, must produce output byte-identical to a clean
    full run — so the oracle is exactly ``extract_text``'s.  Exercises
    the real job path: ``salted_repartition`` → ``extract_pages`` →
    ``with_lineage`` on the first run, then lineage-driven anti-join and
    re-extraction of ONLY the failed partitions' pages."""
    from .corpus import build_web_pages
    from .extract import extract_pages
    from .scale import (
        resume_bucket,
        resume_filter,
        salted_repartition,
        with_lineage,
    )

    pages = build_web_pages(spark, sf_dir)
    # the dead run: only the pages of salt-buckets 0-3 were processed
    first_half = pages.filter(resume_bucket(8) < 4)
    committed, lineage = with_lineage(
        extract_pages(salted_repartition(first_half, 8)), num_buckets=8
    )
    # the resume run: pending rows recomputed from lineage alone
    pending = resume_filter(pages, lineage)
    resumed = extract_pages(salted_repartition(pending, 8))
    return committed.select("url", "text").unionByName(
        resumed.select("url", "text")
    )


# ---------------------------------------------------------------------------
# S6: upsert merge semantics (ON CONFLICT ... DO UPDATE SET iv, vv — :49)
# ---------------------------------------------------------------------------


@register(
    "merge_upsert",
    f"""
WITH {_CASCADE_CTE}
SELECT url, 0 AS block_id, 'verbatim_date' AS data_type,
       'Date (Y-M-D)' AS data_format,
       date_text AS interpreted_value, date_text AS verbatim_value,
       '' AS data_source, CAST(0.0 AS DOUBLE) AS match_score
FROM lbl2 WHERE month(d) != 12
UNION ALL
-- conflict rows: iv/vv take the update's values, everything else keeps
-- the base row's (format stays 'Date (year)', source stays '', score 0.0)
SELECT url, 2, 'verbatim_date', 'Date (year)',
       'U:' || CAST(year(d) AS VARCHAR), 'UV:' || CAST(year(d) AS VARCHAR),
       '', CAST(0.0 AS DOUBLE)
FROM lbl2
UNION ALL
-- new key: the update row inserts wholesale
SELECT url, 9, 'note', 'note:new',
       'N:' || CAST(k AS VARCHAR), 'NV:' || CAST(k AS VARCHAR),
       'upd', CAST(0.25 AS DOUBLE)
FROM lbl2
""",
)
def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_fields (the reference's ON CONFLICT (url, block_id,
    data_type) DO UPDATE SET interpreted_value, verbatim_value) driven by
    a deterministic update set: a conflicting update per year row plus a
    brand-new key per url."""
    from .interpret.labels import _label_base
    from .interpret.match import merge_fields

    base = _full_frame(spark, sf_dir).filter(
        (F.col("data_type") == "verbatim_date")
        & (F.col("data_source") == "")
    )
    # fixture base (url scheme, %100 filter) from the one shared builder
    o = _label_base(spark, sf_dir).select(
        "url", "k", F.year("d").cast("string").alias("yr")
    )
    u1 = o.select(
        "url", F.lit(2).alias("block_id"),
        F.lit("verbatim_date").alias("data_type"),
        F.lit("Date (upd)").alias("data_format"),
        F.concat(F.lit("U:"), "yr").alias("interpreted_value"),
        F.concat(F.lit("UV:"), "yr").alias("verbatim_value"),
        F.lit("upd").alias("data_source"),
        F.lit(0.5).alias("match_score"),
    )
    u2 = o.select(
        "url", F.lit(9).alias("block_id"),
        F.lit("note").alias("data_type"),
        F.lit("note:new").alias("data_format"),
        F.concat(F.lit("N:"), F.col("k").cast("string"))
        .alias("interpreted_value"),
        F.concat(F.lit("NV:"), F.col("k").cast("string"))
        .alias("verbatim_value"),
        F.lit("upd").alias("data_source"),
        F.lit(0.25).alias("match_score"),
    )
    return merge_fields(base, u1.unionByName(u2))


# ---------------------------------------------------------------------------
# F3: ignore-list / keyword guards (block_identification.py:110-115)
# ---------------------------------------------------------------------------


@register(
    "ignore_list_filter",
    f"""
WITH {_CASCADE_CTE}
SELECT url, 6 AS block,
       'No. ' || CAST(CAST(k / 100 + 100000 AS INT) AS VARCHAR)
         AS block_text,
       'no_keyword' AS reason
FROM lbl2
""",
)
def _q_ignore_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocks the cascade's guard list rejects, with the firing guard:
    exact membership in COLLECTOR_STRINGS first, then the 'No.' catalog
    keyword (reference order).  On the fixture only the catalog blocks
    (block 6) trip a guard — pinned by the oracle."""
    from .interpret.dims import COLLECTOR_STRINGS
    from .interpret.labels import label_blocks_with_dims

    blocks = label_blocks_with_dims(spark, sf_dir)
    alpha = F.trim(
        F.regexp_replace("block_text", "[^a-zA-Z0-9_]+ ,-/", "")
    )
    reason = F.when(
        alpha.isin(*COLLECTOR_STRINGS), F.lit("collector_string")
    ).when(alpha.contains("No."), F.lit("no_keyword"))
    return blocks.select(
        "url", "block", "block_text", reason.alias("reason")
    ).filter(F.col("reason").isNotNull())


# ---------------------------------------------------------------------------
# F7: existence check (the fallback's per-block present-types guard)
# ---------------------------------------------------------------------------


@register(
    "existence_check",
    f"""
WITH {_CASCADE_CTE},
allrows AS (
{_SQL_DATES}
UNION ALL
SELECT url, 0, 'verbatim_date', 'Date (year)', date_text, date_text,
       'similarity', CAST(1.0 AS DOUBLE)
FROM lbl2 WHERE month(d) = 12
UNION ALL
SELECT url, 1, 'elevation', 'elevation', '', '', '', CAST(0.0 AS DOUBLE)
FROM lbl2
UNION ALL
SELECT url, 3, 'collector', 'collector', '', '', '', CAST(0.0 AS DOUBLE)
FROM lbl2
UNION ALL
SELECT url, 4, t.t, '', '', '', '', CAST(0.0 AS DOUBLE)
FROM lbl2, (VALUES ('verbatim_locality'), ('district_county'),
                   ('state_territory'), ('country'),
                   ('precise_locality')) t(t)
UNION ALL
SELECT url, 5, 'taxonomy', '', '', '', '', CAST(0.0 AS DOUBLE)
FROM lbl2
)
SELECT url, block_id, COUNT(*) AS n_types,
       string_agg(data_type, ',' ORDER BY data_type) AS types_csv
FROM allrows GROUP BY url, block_id
""",
)
def _q_existence_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (url, block): which data_types exist — the F7 guard input the
    similarity fallback consults (fields with every type present are
    exempt).  Types are unique per key (upsert invariant), so COUNT(*)
    is the type count."""
    return (
        _full_frame(spark, sf_dir)
        .groupBy("url", "block_id")
        .agg(
            F.count("*").alias("n_types"),
            F.array_join(
                F.sort_array(F.collect_list("data_type")), ","
            ).alias("types_csv"),
        )
    )


# ---------------------------------------------------------------------------
# J7: dimension equi join (matched locality → gazetteer hierarchy)
# ---------------------------------------------------------------------------


@register(
    "dims_join",
    f"""
WITH {_CASCADE_CTE}
SELECT url, gaz_name AS name,
       {_COUNTY_SQL} AS district_county,
       state_name AS state_territory,
       country_name AS country
FROM lbl2
""",
)
def _q_dims_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi join of the matched verbatim_locality rows against
    the gazetteer_hierarchy dimension (≤530 rows) on (name, name_type) —
    the J7 dim-join shape the locality expansion uses."""
    from .interpret.dims import gazetteer_hierarchy

    loc = _full_frame(spark, sf_dir).filter(
        F.col("data_type") == "verbatim_locality"
    )
    h = gazetteer_hierarchy(spark, sf_dir).select(
        F.col("name"), F.col("name_type"),
        "district_county", "state_territory", "country",
    )
    return loc.join(
        F.broadcast(h),
        (loc.interpreted_value == h.name)
        & (loc.data_format == h.name_type),
    ).select("url", "name", "district_county", "state_territory", "country")


# ---------------------------------------------------------------------------
# U3: vertical append (the 7-family block union the fixtures are built on)
# ---------------------------------------------------------------------------


@register(
    "vertical_append",
    f"""
WITH {_CASCADE_CTE}
SELECT url, 0 AS block, 0 AS word_line, date_text AS block_text FROM lbl2
UNION ALL
SELECT url, 1, 1,
       'Alt ' || CAST((k % 40) * 100 + 100 AS VARCHAR) || chr(39)
FROM lbl2
UNION ALL
SELECT url, 2, 2, CAST(year(d) AS VARCHAR) FROM lbl2
UNION ALL
SELECT url, 3, 3, 'Coll. ' || cname FROM lbl2
UNION ALL
SELECT url, 4, 4, loc_text FROM lbl2
UNION ALL
SELECT url, 5, 5, sci FROM lbl2
UNION ALL
SELECT url, 6, 6,
       'No. ' || CAST(CAST(k / 100 + 100000 AS INT) AS VARCHAR)
FROM lbl2
""",
)
def _q_vertical_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_blocks_with_dims IS a unionByName of seven per-family frames
    (U3) — the oracle re-derives every family and unions them in SQL."""
    from .interpret.labels import label_blocks_with_dims

    return label_blocks_with_dims(spark, sf_dir).select(
        "url", "block", "word_line", "block_text"
    )


# ---------------------------------------------------------------------------
# C1: the (near-no-op) alpha strip quirk — re.sub(r'\\W+ ,-/', '', text)
# ---------------------------------------------------------------------------

_ALPHA_CRAFTED = [
    # (url, block, text): cases where the quirky pattern DOES something
    ("const://strip-1", 90, "foo!! ,-/bar"),       # \W+ run then ' ,-/'
    ("const://strip-2", 91, "  padded  "),          # strip() only
    ("const://strip-3", 92, "a!b ,-/c ,-/d"),       # never matches: the
    # run before ' ,-/' must be non-word AND non-overlapping
    ("const://strip-4", 93, "x ,-/ ,-/y"),          # doubled: one match
]

_ALPHA_CRAFTED_SQL = ", ".join(
    f"('{u}', {b}, '{t}')" for u, b, t in _ALPHA_CRAFTED
)


@register(
    "alpha_strip",
    f"""
WITH {_CASCADE_CTE},
src AS (
  SELECT url, 0 AS block, date_text AS block_text FROM lbl2
  UNION ALL SELECT url, 4, loc_text FROM lbl2
  UNION ALL SELECT url, 6,
    'No. ' || CAST(CAST(k / 100 + 100000 AS INT) AS VARCHAR) FROM lbl2
  UNION ALL SELECT * FROM (VALUES {_ALPHA_CRAFTED_SQL}) v(url, block, t)
)
SELECT url, block,
       trim(regexp_replace(block_text, '[^a-zA-Z0-9_]+ ,-/', '', 'g'))
         AS alpha
FROM src
""",
)
def _q_alpha_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 pinned as-is: the pattern only strips a non-word run followed
    by the literal ' ,-/' (near-never), NOT all non-word chars.  Runs
    over real fixture blocks plus crafted texts where the pattern does /
    deliberately does not fire.  ASCII domain → Java, RE2 and Python \\W
    agree as the explicit class."""
    from .interpret.labels import label_blocks_with_dims

    crafted = spark.createDataFrame(
        _ALPHA_CRAFTED, ["url", "block", "block_text"]
    )
    src = (
        label_blocks_with_dims(spark, sf_dir)
        .filter(F.col("block").isin(0, 4, 6))
        .select("url", "block", "block_text")
        .unionByName(crafted)
    )
    return src.select(
        "url", "block",
        F.trim(
            F.regexp_replace("block_text", "[^a-zA-Z0-9_]+ ,-/", "")
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# C5: century fix — 2-digit years resolve to 2000+YY, then minus 1000 (sic)
# ---------------------------------------------------------------------------

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


@register(
    "century_fix",
    f"""
WITH {_CASCADE_CTE}
SELECT url, 'verbatim_date' AS data_type, 'Date (Y-M-D)' AS data_format,
       CAST(CASE WHEN 2000 + year(d) % 100 > 2026
                 THEN 1000 + year(d) % 100
                 ELSE 2000 + year(d) % 100 END AS VARCHAR)
         || '-' || lpad(CAST(month(d) AS VARCHAR), 2, '0') || '-01'
         AS interpreted_value,
       strftime(d, '%b') || ' ' || chr(39)
         || lpad(CAST(year(d) % 100 AS VARCHAR), 2, '0') AS verbatim_value
FROM lbl2
WHERE year(d) % 100 != 99
""",
)
def _q_century_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 through the real cascade: ``<Mon> 'YY`` blocks take the stage-2
    two-digit-year path (mini_dateparser resolves 'YY → 2000+YY,
    PREFER_DAY_OF_MONTH=first → day 1), then the reference's
    subtract-1000 century fix (:169-171) fires whenever 20YY exceeds the
    current year (fixture years '95-'98 → 1095-1098; '00/'01 → 2000/2001
    untouched).  ``'99`` never parses at all — the reference's stage-2
    retry loop is ``range(99)`` (:158), which excludes 99 — so the
    oracle excludes those rows, pinning the quirk at value level."""
    from .interpret.labels import _label_base
    from .interpret.match import interpret_dates

    o = _label_base(spark, sf_dir).select("url", "d")
    mon = F.element_at(
        F.array(*[F.lit(m) for m in _MONTHS]), F.month("d")
    )
    blocks = o.select(
        "url", F.lit(0).alias("block"), F.lit(0).alias("word_line"),
        F.concat(
            mon, F.lit(" '"),
            F.lpad((F.year("d") % 100).cast("string"), 2, "0"),
        ).alias("block_text"),
    )
    return interpret_dates(blocks).select(
        "url", "data_type", "data_format",
        "interpreted_value", "verbatim_value",
    )


# ---------------------------------------------------------------------------
# C7: fuzzywuzzy kernels on containment pairs (closed-form oracle)
# ---------------------------------------------------------------------------


@register(
    "fuzzy_scores",
    f"""
WITH {_CASCADE_CTE},
pairs AS (
  SELECT url, 'collector' AS pair, cname AS a, 'Coll. ' || cname AS b
  FROM lbl2
  UNION ALL
  SELECT url, 'locality', gaz_name, loc_text FROM lbl2
)
SELECT url, pair,
       CAST(round(100.0 * (2 * length(a))
                  / (length(a) + length(b))) AS BIGINT) AS r,
       CAST(100 AS BIGINT) AS pr,
       CAST(100 AS BIGINT) AS tsr
FROM pairs
""",
)
def _q_fuzzy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio / partial_ratio / token_set_ratio (C7) computed by the real
    DP kernels inside Arrow batches over containment pairs (b = a plus a
    prefix/suffix), where the expected scores have closed forms: indel =
    |b|-|a| → ratio = round(200|a|/(|a|+|b|)); the contained window makes
    partial_ratio 100; the shared token set makes token_set_ratio 100."""
    import pandas as pd

    from .interpret.fuzzy import partial_ratio, ratio, token_set_ratio

    from .interpret.labels import _label_base, _locality_text, county_col

    base = _label_base(spark, sf_dir, nation=True)
    gaz = F.concat(county_col(F.col("k")), F.lit(" Co., "), F.col("state"))
    p1 = base.select(
        "url", F.lit("collector").alias("pair"),
        F.col("cname").alias("a"),
        F.concat(F.lit("Coll. "), "cname").alias("b"),
    )
    # b is exactly the block-4 locality text; a is its gazetteer prefix
    p2 = base.select(
        "url", F.lit("locality").alias("pair"),
        gaz.alias("a"),
        _locality_text().alias("b"),
    )

    def score(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "pair": pdf["pair"],
                    "r": [ratio(a, b) for a, b in zip(pdf["a"], pdf["b"])],
                    "pr": [
                        partial_ratio(a, b)
                        for a, b in zip(pdf["a"], pdf["b"])
                    ],
                    "tsr": [
                        token_set_ratio(a, b)
                        for a, b in zip(pdf["a"], pdf["b"])
                    ],
                }
            )

    return p1.unionByName(p2).mapInPandas(
        score, "url string, pair string, r long, pr long, tsr long"
    )


# ---------------------------------------------------------------------------
# C9: n-gram candidate generation (auto_id_compare.py:283-288 quirks)
# ---------------------------------------------------------------------------


@register(
    "ngram_candidates",
    f"""
WITH {_CASCADE_CTE},
w AS (SELECT url, str_split(loc_text, ' ') AS ws FROM lbl2),
idx AS (SELECT unnest(generate_series(0, 63)) AS i),
cands AS (
  SELECT url, array_to_string(ws[i.i + 1:j.i], ' ') AS cand
  FROM w, idx i, idx j
  WHERE i.i <= len(ws) - 2
    AND j.i BETWEEN i.i + 1 AND len(ws) - 1
),
scored AS (
  SELECT url, cand,
         trim(replace(replace(
           trim(regexp_replace(
             regexp_replace(cand, '[^a-zA-Z0-9_]+ ,-/', '', 'g'),
             '[ \t\n\x0b\f\r]+', ' ', 'g')),
           ' .', '.'), '.', '. ')) AS alpha
  FROM cands
)
SELECT url, cand AS candidate, CAST(length(alpha) AS INT) AS string_len
FROM scored WHERE length(alpha) > 3
""",
)
def _q_ngram_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """candidates_of over the locality blocks: every ' '.join(words[i:j])
    with j < n (the last word is NEVER a candidate member), alpha-scrub +
    '.'-respacing applied to the LENGTH only, len > 3 gate — all the
    :283-288 quirks, enumerated identically by the SQL twin."""
    import pandas as pd

    from .interpret.auto_match import candidates_of
    from .interpret.labels import label_blocks_with_dims

    blocks = label_blocks_with_dims(spark, sf_dir).filter(
        F.col("block") == 4
    )

    def gen(it):
        for pdf in it:
            urls, cands, lens = [], [], []
            for url, text in zip(pdf["url"], pdf["block_text"]):
                for cand, slen in candidates_of(text):
                    urls.append(url)
                    cands.append(cand)
                    lens.append(slen)
            yield pd.DataFrame(
                {"url": urls, "candidate": cands, "string_len": lens}
            )

    return blocks.mapInPandas(
        gen, "url string, candidate string, string_len int"
    )


# ---------------------------------------------------------------------------
# Auto-match cascade kernel (auto_id_compare.py:290-360) on crafted blocks
# ---------------------------------------------------------------------------

# One crafted block per quirk; the full cross product (every block scored
# against every field dictionary + the gazetteer) emits exactly these five
# rows, each hand-derivable:
#   A  exact containment: cand == value → partial+ratio = 200 > INSERT_MIN
#      (180) → 'score' insert of the CANDIDATE text;
#   B  token_set quirk: no pair clears 180, and the fallback scores the
#      GLOBALLY SHORTEST candidate ('Smith', not the permuted full name)
#      against the field's FIRST value — token sets equal → 100 > 96;
#   C  disjoint alphabets: every kernel scores ~0 → no row;
#   D  geo pass: a candidate equals the gazetteer name → ratio 100 > 96;
#      the emitted value is the GAZETTEER name under field 'country';
#   E  near-miss gazetteer text stays below 96 → no geo row;
#   F  two candidates tie at score 200 → larger string_len wins
#      ('aa bb cc' beats 'aa bb');
#   G  the value sits at the block END: the last word is never a
#      candidate member (C9 quirk), so the exact match is INVISIBLE and
#      the block emits nothing;
#   H  multi-field block: only the containment field emits (the permuted
#      collector loses the min_row fallback to a different shortest cand).
_AUTO_DICT = [
    ("precise_locality", ["Riverside Lodge"]),
    ("collector", ["Smith J. B."]),
    ("verbatim_locality", ["aa bb", "aa bb cc"]),
    ("elevation", ["qqqq qq"]),
]
_AUTO_GAZ = ["Clark Co., Indiana"]
_AUTO_BLOCKS = [
    ("auto://A", "aa Riverside Lodge zz end"),
    ("auto://B", "J. B. Smith zz yy"),
    ("auto://C", "zzzz yyyy xxxx ww"),
    ("auto://D", "near Clark Co., Indiana then tail"),
    ("auto://E", "near Klark County Indi tail"),
    ("auto://F", "aa bb cc dd"),
    ("auto://G", "aa zz Riverside Lodge"),
    ("auto://H", "Riverside Lodge and J. B. Smith zz"),
]
_AUTO_EXPECT = [
    ("auto://A", "precise_locality", "Riverside Lodge", "score"),
    ("auto://B", "collector", "Smith", "token_set"),
    ("auto://D", "country", "Clark Co., Indiana", "geo"),
    ("auto://F", "verbatim_locality", "aa bb cc", "score"),
    ("auto://H", "precise_locality", "Riverside Lodge", "score"),
]


@register(
    "auto_cascade_kernel",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{u}', '{f}', '{v}', '{s}')" for u, f, v, s in _AUTO_EXPECT
    )
    + ") t(url, field, value, stage)",
)
def _q_auto_cascade_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-match cascade kernel (candidates → fuzzy score/token_set/
    geo passes with the reference's thresholds and tie-breaks) run for
    real inside Arrow batches over crafted blocks whose outcomes are
    hand-derivable — the driver value check for the fuzzy cascade that
    the corpus-scale ``auto_match`` (rows-only) cannot get: arbitrary
    candidate-vs-dictionary DP scores have no SQL twin, but on these
    blocks every argmax is provable (see the case table above)."""
    import pandas as pd

    from .interpret.auto_match import cascade_rows

    blocks = spark.createDataFrame(_AUTO_BLOCKS, ["url", "block_text"])

    def run(it):
        for pdf in it:
            rows = []
            for url, text in zip(pdf["url"], pdf["block_text"]):
                for f, v, s in cascade_rows(text, _AUTO_DICT, _AUTO_GAZ):
                    rows.append((url, f, v, s))
            yield pd.DataFrame(
                rows, columns=["url", "field", "value", "stage"]
            )

    return blocks.mapInPandas(
        run, "url string, field string, value string, stage string"
    )


# ---------------------------------------------------------------------------
# S5: append sink (sources/iceberg.write_results parquet fallback —
# block_identification.py's to_sql(..., if_exists='append') analog)
# ---------------------------------------------------------------------------


@register(
    "append_sink",
    """
SELECT CAST(doc_id % 3 AS INT) AS slice,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM documents
WHERE doc_id % 3 < 2
GROUP BY 1
""",
)
def _q_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 end-to-end value check through a REAL double append: two
    designed slices of ``documents`` are written to the same parquet
    target via ``write_results`` (which only appends), then the target
    is read back and aggregated — the second write must ADD files, not
    clobber the first (an overwrite would lose slice 0 and fail the
    hash)."""
    from .session import scratch_dir
    from .sources.iceberg import write_results

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("slice")
    )
    target = scratch_dir("append_sink_") + "/out"
    write_results(docs.filter(F.col("slice") == 0), target)
    write_results(docs.filter(F.col("slice") == 1), target)
    return (
        spark.read.parquet(target)
        .groupBy("slice")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
    )
