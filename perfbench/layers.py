"""Per-layer metrics of a traced run.

``PER_LAYER`` is the catalogue (name → unit) every traced run computes,
whatever its workload: a layer the workload does not run reads 0.  The run
prints the ones ``BENCHMARK.json`` lists and writes all of them to its
trace file.
Stage metrics come from the Spark event log folded per span name
(``trace.fold_event_log``); wall times come from the spans; counts come
from the outputs (``Workload.layer_counts``).
"""

from __future__ import annotations

import statistics

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "corpus.gen_s": "s",
    "corpus.input_mb": "MB",
    "scale.salt_shuffle_mb": "MB",
    "scale.decode_task_skew": "ratio",
    "scale.lineage_s": "s",
    "extract.wall_s": "s",
    "extract.records": "count",
    "extract.payload_mb": "MB",
    "extract.tokens": "count",
    "extract.quarantined": "count",
    "extract.python_s": "s",
    "extract.to_python_mb": "MB",
    "extract.from_python_mb": "MB",
    "extract.gc_s": "s",
    "extract.vs_control": "ratio",
    "assemble.wall_s": "s",
    "assemble.tokens_in": "count",
    "assemble.rows_out": "count",
    "assemble.exchanges": "count",
    "assemble.shuffle_write_mb": "MB",
    "assemble.spill_mb": "MB",
    "sources.read_s": "s",
    "sources.archive_mb": "MB",
    "sources.write_s": "s",
    "sources.wet_mb": "MB",
    "sources.wet_bytes_per_text_byte": "ratio",
    "dedup.signature_s": "s",
    "dedup.lsh_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.hot_group_drops": "count",
    "jvm.gc_s": "s",
    "jvm.executor_cpu_s": "s",
    "jvm.tasks": "count",
    "jvm.spill_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "host.steal_frac": "frac",
    "host.control_docs_per_s": "1/s",
    "host.trace_overhead_frac": "frac",
    "error_frac": "frac",
}

# span name → wall-time metric (the span includes its child spans)
SPAN_WALL = {
    "scale.lineage": "scale.lineage_s",
    "extract": "extract.wall_s",
    "assemble": "assemble.wall_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "dedup.signatures": "dedup.signature_s",
    "dedup.lsh": "dedup.lsh_s",
}

MB = 1e6


def _sum(folded: dict, prefix: str, key: str) -> float:
    """Sum a folded stage metric over every span name under ``prefix``."""
    return sum(
        m.get(key, 0.0)
        for name, m in folded.items()
        if name == prefix or name.startswith(prefix + ".")
    )


def layer_metrics(
    tracer, folded: dict, counts: dict, n_traced: int, extra: dict
) -> dict[str, tuple[float, str]]:
    """Fold spans, event-log stage metrics and output counts into the
    ``PER_LAYER`` catalogue.  Stage sums are per traced pass."""
    n = max(n_traced, 1)
    v = dict.fromkeys(PER_LAYER, 0.0)
    for span, metric in SPAN_WALL.items():
        v[metric] = tracer.seconds(span) / n
    v["scale.salt_shuffle_mb"] = _sum(folded, "scale.salt", "shuffle_write_b") / MB / n
    ex = folded.get("extract", {})
    task_ms = ex.get("task_ms") or []
    if len(task_ms) > 1 and statistics.median(task_ms) > 0:
        v["scale.decode_task_skew"] = max(task_ms) / statistics.median(task_ms)
    v["extract.python_s"] = _sum(folded, "extract", "python_ms") / 1e3 / n
    v["extract.to_python_mb"] = _sum(folded, "extract", "to_python_b") / MB / n
    v["extract.from_python_mb"] = _sum(folded, "extract", "from_python_b") / MB / n
    v["extract.gc_s"] = _sum(folded, "extract", "gc_ms") / 1e3 / n
    v["assemble.exchanges"] = _sum(folded, "assemble", "exchanges") / n
    v["assemble.shuffle_write_mb"] = _sum(folded, "assemble", "shuffle_write_b") / MB / n
    v["assemble.spill_mb"] = (
        _sum(folded, "assemble", "spill_mem_b") + _sum(folded, "assemble", "spill_disk_b")
    ) / MB / n
    traced = {k: m for k, m in folded.items() if k}  # jobs of traced spans only
    v["jvm.gc_s"] = sum(m.get("gc_ms", 0.0) for m in traced.values()) / 1e3 / n
    v["jvm.executor_cpu_s"] = sum(m.get("cpu_ns", 0.0) for m in traced.values()) / 1e9 / n
    v["jvm.tasks"] = sum(m.get("tasks", 0.0) for m in traced.values()) / n
    v["jvm.spill_mb"] = sum(
        m.get("spill_mem_b", 0.0) + m.get("spill_disk_b", 0.0) for m in traced.values()
    ) / MB / n
    v.update(counts)
    v.update(extra)
    if v["extract.wall_s"] > 0 and v["host.control_docs_per_s"] > 0:
        v["extract.vs_control"] = (
            v["extract.records"] / v["extract.wall_s"] / v["host.control_docs_per_s"]
        )
    return {k: (float(v[k]), u) for k, u in PER_LAYER.items()}
