"""Physical-plan regression gates (the cheap subset of tools/explain_plans.py).

These fail loudly if a future change silently breaks predicate pushdown,
column pruning, or broadcast-dim selection — the plan properties the
100 TB story depends on.
"""

from __future__ import annotations

SD = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()  # AQE finalizes the executed plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    import __spark_entry__ as E

    p = _plan(E.queries()["filter_scan"](spark, SD))
    assert "GreaterThan(value,50.0)" in p  # predicate reached parquet
    assert (
        "ReadSchema: struct<event_id:bigint,user_id:bigint,"
        "event_type:string,value:double>" in p
    )  # scan reads exactly the projected + filter columns


def test_small_dims_broadcast(spark):
    import __spark_entry__ as E

    p = _plan(E.queries()["multiway_join"](spark, SD))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # no dim should fall back to SMJ


def test_bucketed_join_colocates_without_shuffle(spark, tmp_path):
    """Scale lever SURVEY §4: pre-bucketing both fact tables on the join
    key lets repeated joins run with ZERO exchanges — the bucketed scan
    IS the required distribution.  Gate: the bucketed join plan contains
    no Exchange on either side; an unbucketed control join does."""
    import __spark_entry__  # noqa: F401 — path setup

    li = spark.read.parquet(f"{SD}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SD}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    for name, df, key in (
        ("b_lineitem", li, "l_orderkey"),
        ("b_orders", orders, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    # the fixture tables are broadcast-sized; disable broadcast so the
    # plan shows the co-located path a 100 TB fact⋈fact join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey
            == spark.table("b_orders").o_orderkey,
        )
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan
        control = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert "Exchange hashpartitioning" in _plan(control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_loop_lineage_truncated(spark):
    """clusters_from_edges localCheckpoints the label frame each round, so
    the downstream plan is O(1) in the round count.  Before the fix the
    25-round unrolled loop compiled cluster_representatives to 2,922
    Exchanges — a planner/driver blow-up at real graph sizes.  Gate: the
    executed plan stays under 50 Exchanges."""
    import __spark_entry__ as E

    df = E.queries()["cluster_representatives"](spark, SD)
    plan = _plan(df)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges < 50, f"{n_exchanges} Exchanges — lineage not truncated"


def test_incremental_dedup_shingle_kernel_runs(spark):
    """incremental_dedup takes each doc's shingle count from the kernel's
    rows, so no per-doc size groupBy and no size joins re-run the kernel
    and its scan: the final plan runs the Python shingle kernel at most
    three times (the batch side, the corpus index and its stop-shingle
    counts).  The size-join form ran it five times."""
    from dpo_ocr_spark.ops.dedup import incremental_dedup

    plan = _plan(incremental_dedup(spark, SD)).split("== Initial Plan ==")[0]
    assert plan.count("MapInArrow") <= 3, plan


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines under tree-string node ``lines[i]``: every following line
    whose ``+-`` marker sits deeper than the node's own."""
    depth = lines[i].find("+- ")
    out = []
    for line in lines[i + 1 :]:
        if line.find("+- ") <= depth:
            break
        out.append(line)
    return out


def test_incremental_dedup_filters_below_shingle_kernel(spark):
    """Spark cannot push a filter through the opaque mapInArrow kernel, so
    incremental_dedup splits batch from corpus BEFORE shingling: in the
    final plan every shingle-kernel input is filtered on doc_id % 5.
    Filtered above the kernel instead, each of its runs shingled the
    whole corpus.  The kernel runs exactly twice, batch once and corpus
    once: the stop-shingle count is a window over the one corpus run, where
    a groupBy joined back made Spark re-run the kernel for each consumer."""
    import re

    from dpo_ocr_spark.ops.dedup import incremental_dedup

    lines = (
        _plan(incremental_dedup(spark, SD))
        .split("== Initial Plan ==")[0]
        .splitlines()
    )
    kernels = [i for i, l in enumerate(lines) if "MapInArrow _sized_shingle" in l]
    assert len(kernels) == 2, "\n".join(lines)
    for i in kernels:
        below = _subtree(lines, i)
        for line in below:
            # a reused exchange's subtree is printed under its first use
            if (m := re.search(r"ReusedExchange .*(\[plan_id=\d+\])", line)):
                first = next(
                    j for j, l in enumerate(lines)
                    if m.group(1) in l and "ReusedExchange" not in l
                )
                below = below + _subtree(lines, first)
        assert any(
            re.search(r"Filter .*\(doc_id#\d+L % 5\)", l) for l in below
        ), "\n".join([lines[i]] + below)


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Results written partitionBy(lang) must scan ONLY the filtered
    partition on read — PartitionFilters at the source, other-language
    files never opened.  This is the scan-pruning lever the 100 TB
    curated-output layout depends on (partition by lang/crawl-date)."""
    docs = spark.read.parquet(f"{SD}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    out = str(tmp_path / "by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter("lang = 'en'")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    n_en = docs.filter("lang = 'en'").count()
    assert df.count() == n_en


def test_form_fields_single_shuffle(spark):
    """form_fields is ONE conditional aggregation: exactly one hash
    exchange (the groupBy), no join, no second pass over the tokens —
    the shape that holds at 10^12 documents."""
    from pyspark.sql import functions as F

    from dpo_ocr_spark.export import form_fields

    tokens = spark.createDataFrame(
        [("u", 1, 0, 0, "k", 0.9, [0, 0, 40, 0, 40, 18, 0, 18]),
         ("u", 1, 0, 1, "v", 0.8, [400, 0, 440, 0, 440, 18, 400, 18])],
        "url string, page int, block int, word int, word_text string,"
        "confidence double, bbox array<int>",
    )
    df = form_fields(tokens)
    # AQE's toString appends the pre-adaptive Initial Plan — count
    # exchanges in the executed Final Plan section only
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine present


def test_expand_locality_broadcasts_hierarchy(spark):
    """expand_locality joins the corpus-sized locality rows against the
    ≤530-row admin hierarchy: both joins (hierarchy, blocks) must stay
    broadcast — never a shuffled join keyed on the big side."""
    import __spark_entry__  # noqa: F401 — path setup

    from dpo_ocr_spark.interpret.dims import gazetteer, gazetteer_hierarchy
    from dpo_ocr_spark.interpret.labels import ento_blocks
    from dpo_ocr_spark.interpret.match import (
        dedup_line_grain,
        expand_locality,
        match_localities,
    )

    sd = SD
    blocks = ento_blocks(spark, sd)
    locs = dedup_line_grain(match_localities(spark, blocks, gazetteer(spark, sd)))
    df = expand_locality(locs, blocks, gazetteer_hierarchy(spark, sd))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_verify_join_is_broadcast(spark):
    """decontaminate_bloom's verify join must broadcast the (bounded)
    eval gram set against the prescreen SURVIVORS — if it ever becomes a
    shuffled join of the full corpus gram stream, the prescreen bought
    nothing."""
    from dpo_ocr_spark.ops.sketches import decontaminate_bloom

    df = decontaminate_bloom(spark, SD)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" in plan, plan  # the vectorized bloom probe
    # the hits aggregation + final doc join: bounded Exchange count
    assert plan.count("Exchange hashpartitioning") <= 4, plan
