"""Physical-plan evidence: writes PLANS.md with the properties the brief
demands be verified — predicate pushdown (PushedFilters), column pruning
(ReadSchema), broadcast joins, whole-stage codegen spans, shuffle counts.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# evidence must show the production plans, not the gate's shared-stage
# memo (a checkpoint scan would hide the real extraction DAG)
os.environ["SPARK_GRAFT_STAGE_CACHE"] = "0"


def plan_of(df) -> str:  # noqa: ANN001
    df.collect()  # execute THIS plan so AQE finalizes (count() would be
    # a different query and leave this one unexecuted)
    return df._jdf.queryExecution().executedPlan().toString()


def summarize(name: str, plan: str) -> str:
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    out = [f"### {name}\n"]
    out.append(f"- shuffles (Exchange): {plan.count('Exchange')}")
    out.append(f"- BroadcastHashJoin: {plan.count('BroadcastHashJoin')}")
    out.append(
        f"- BroadcastNestedLoopJoin: {plan.count('BroadcastNestedLoopJoin')}"
    )
    out.append(f"- SortMergeJoin: {plan.count('SortMergeJoin')}")
    # codegen'd operators carry a '*(n)' prefix in the plan string
    n_codegen = len(re.findall(r"\*\(\d+\)", plan))
    out.append(f"- whole-stage-codegen operators: {n_codegen}")
    nonempty = [p for p in pushed if p.strip()]
    out.append(
        "- PushedFilters: " + (nonempty[0][:120] if nonempty else "(none)")
    )
    if schemas:
        cols = schemas[0][:160]
        out.append(f"- ReadSchema: struct<{cols}>")
    return "\n".join(out) + "\n"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from dpo_ocr_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("explain", cpus=8)
    qs = E.queries()
    targets = [
        "filter_scan",        # pushdown + pruning
        "multiway_join",      # broadcast dim selection
        "topk_window",        # window w/o global sort
        "block_assembly",     # single-shuffle aggregate
        "range_join",         # broadcast nested loop
        "exact_dedup",        # one-shuffle dedup
        "rollup_summary",     # partial aggregation
        "minhash_lsh_pairs",  # single-pass banding, bucket-pair fan-out
        "ngram_jaccard",      # inverted-index pair generation
        "embedding_neardup",  # LSH-bucketed (no all-pairs self-join)
        "annotate_plan",      # one-shuffle draw plan
        "paragraph_dedup",    # one-shuffle boilerplate detection
        "host_stats",         # one-shuffle skew stats
        "asof_join",          # union-and-carry window (no range join)
        "sessionize",         # window exchange reused by aggregate
        "decontaminate",      # broadcast eval-gram probe
        "repetition_stats",   # zero-shuffle in-row arrays
        "training_order",     # one-shuffle shard + in-shard rank
        "semantic_prune",     # broadcast centroids, linear agg
        "tfidf_top_terms",    # broadcast df side, per-doc window
        "value_quantiles",    # exact order statistics per group
        "host_cap",           # per-domain rank cap
        "incremental_dedup",  # batch-vs-index probe joins
        "curated_training_set",  # verdict keepers -> shards
        "cluster_representatives",  # CC labels + quality argmax
        "url_normalize",      # zero-shuffle string pipeline
        "unicode_normalize",  # Arrow NFC kernel, zero shuffles
        "image_autocrop",     # Arrow pixel kernel, zero shuffles
        "image_autocrop_jpeg",  # same geometry through the JPEG codec path
        "form_fields",        # one conditional aggregation (r4)
        "eval_accuracy_exact",  # 8-field accuracy harness (r4)
        "interp_other_numbers",  # zero-shuffle regexp rule (r4)
        "pii_scrub",          # zero-shuffle regexp pipeline
        "lm_bigram_score",    # vocab groupBys + skew-tolerant instance joins
        "domain_mix",         # one groupBy + scalar-aggregate broadcast
        "audio_features",     # Arrow WAV decode kernel, zero shuffles (r5)
    ]
    sections = ["# PLANS — physical-plan evidence (auto-generated)\n"]
    sections.append(
        "Generated by tools/explain_plans.py; re-run after plan-affecting "
        "changes.  Checks the brief's explicit asks: filters reach the "
        "scan, scans read only needed columns, small dims broadcast, "
        "codegen spans cover the non-UDF stages.\n"
    )
    for name in targets:
        plan = plan_of(qs[name](spark, sf_dir))
        sections.append(summarize(name, plan))
    # hand-checked assertions (fail loudly if a plan regresses)
    p = plan_of(qs["filter_scan"](spark, sf_dir))
    assert "PushedFilters: [" in p and "GreaterThan(value,50.0)" in p, p
    assert (
        "ReadSchema: struct<event_id:bigint,user_id:bigint,"
        "event_type:string,value:double>" in p
    ), p  # projected cols + the filter col only — pruning reached parquet
    p = plan_of(qs["multiway_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    p = plan_of(qs["range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    p = plan_of(qs["embedding_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = plan_of(qs["cluster_representatives"](spark, sf_dir))
    assert p.count("Exchange") < 50, (
        f"{p.count('Exchange')} Exchanges — CC loop lineage not truncated"
    )
    p = plan_of(qs["audio_features"](spark, sf_dir))
    # the only allowed Exchange is ensure_parallelism's local-fixture
    # round-robin split (same as image_autocrop); no join/agg shuffles
    assert p.count("Exchange") <= 2, p
    for op in ("SortMergeJoin", "HashAggregate", "BroadcastHashJoin"):
        assert op not in p, f"audio_features grew a {op}:\n{p}"
    sections.append(
        "## Asserted invariants\n\n"
        "- `filter_scan`: `GreaterThan(value,50.0)` + equality filter are "
        "in PushedFilters; ReadSchema is exactly the 3 projected columns "
        "(+filter col) — pushdown and pruning both reach parquet.\n"
        "- `multiway_join`: nation joins as BroadcastHashJoin.\n"
        "- `range_join`: tiny zone dim executes as BroadcastNestedLoopJoin "
        "(the correct physical strategy for a containment join on an O(10)-"
        "row dim).\n"
        "- `embedding_neardup`: NO CartesianProduct / nested-loop join — "
        "the registered near-dup query is the LSH-bucketed plan.\n"
        "- `cluster_representatives`: < 50 Exchanges — the CC loop "
        "localCheckpoints each round, so the plan is O(1) in round count "
        "(was 2,922 Exchanges before truncation).\n"
        "- `audio_features`: no join/aggregate shuffles — the WAV "
        "container decode kernel is a pure per-partition Arrow stage "
        "over a pruned doc_id scan (the "
        "scan→decode shape that scales linearly with input splits); the "
        "only Exchange is ensure_parallelism's local-fixture split, a "
        "metadata no-op on a production multi-split table.\n"
    )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(sections))
    print("PLANS.md written; all plan assertions held")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
