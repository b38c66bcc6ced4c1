"""Metric names and how the per-layer ones are computed from a traced pass.

``END_TO_END`` and ``PER_LAYER`` are the names ``BENCHMARK.json`` declares;
a layer a workload bypasses reports 0.
"""

from __future__ import annotations

import statistics

from .trace import JobStats, covered
from .workloads import MIX_MODULES

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "output_mb": "MB",
    "driver_rss_mb": "MB",
}

EXPORT_PHASES = ("identifiers", "nodes", "rels", "model")
CALL_STATS = {"s": "s", "construct_s": "s", "jobs": "count", "shuffle_mb": "MB"}
ALGO_STATS = {**CALL_STATS, "core_util": "frac"}
SPARK_STATS = {
    "jobs": "count", "stages": "count", "stages_skipped_frac": "frac", "tasks": "count",
    "failed_tasks": "count", "executor_run_ms": "ms", "gc_ms": "ms",
    "shuffle_write_mb": "MB", "core_util": "frac", "no_job_s": "s",
}

PER_LAYER = {
    "sources.load_s": "s",
    **{f"plans.exporter.{p}_s": "s" for p in EXPORT_PHASES},
    "sinks.csv_sink.write_s": "s",
    "sinks.csv_sink.write_max_s": "s",
    "sinks.csv_sink.readback_s": "s",
    "sinks.csv_sink.jobs": "count",
    "sinks.csv_sink.output_mb": "MB",
    "sinks.csv_sink.core_util": "frac",
    "operators.rel_export.shuffle_mb": "MB",
    "sinks.zip_sink.s": "s",
    "sinks.zip_sink.in_mb": "MB",
    "sinks.zip_sink.out_mb": "MB",
    **{f"operators.graph_algos.k_core.{k}": u for k, u in ALGO_STATS.items()},
    "operators.graph_algos.k_core.rounds": "count",
    **{f"operators.{mod}.{k}": u for mod in MIX_MODULES for k, u in CALL_STATS.items()},
    **{f"spark.{k}": u for k, u in SPARK_STATS.items()},
    "bench.trace_overhead": "ratio",
}

MB = 1e6


def _sum(stats: dict[int, JobStats], spans) -> JobStats:
    total = JobStats()
    for s in spans:
        total.add(stats[s.id])
    return total


def _util(st: JobStats, wall_s: float, cores: int) -> float:
    return st.executor_run_ms / (wall_s * 1000.0 * cores) if wall_s > 0 else 0.0


def layer_metrics(tracer, pass_span, stats: dict[int, JobStats], cores: int,
                  pass_info: dict) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass, plus the names of the slowest
    exporter phase and table (``notes``)."""
    spans = [s for s in tracer.spans if s.pass_id == pass_span.pass_id]
    named = lambda n: [s for s in spans if s.name == n]
    m = dict.fromkeys(PER_LAYER, 0.0)
    notes = {}

    phases = {p: named(f"plans.exporter.{p}") for p in EXPORT_PHASES}
    if any(phases.values()):
        for p, ss in phases.items():
            m[f"plans.exporter.{p}_s"] = sum(s.seconds for s in ss)
        notes["slowest_phase"] = max(EXPORT_PHASES, key=lambda p: m[f"plans.exporter.{p}_s"])
        writes = named("sinks.csv_sink.write")
        w = _sum(stats, writes)
        write_wall = covered([(s.start, s.end) for s in writes], pass_span.start, pass_span.end)
        slowest = max(writes, key=lambda s: s.seconds)
        notes["slowest_table"] = slowest.attrs.get("table")
        m.update({
            "sinks.csv_sink.write_s": sum(s.seconds for s in writes),
            "sinks.csv_sink.write_max_s": slowest.seconds,
            "sinks.csv_sink.readback_s": sum(s.seconds for s in named("sinks.csv_sink.readback")),
            "sinks.csv_sink.jobs": w.jobs,
            "sinks.csv_sink.output_mb": pass_info["csv_bytes"] / MB,
            "sinks.csv_sink.core_util": _util(w, write_wall, cores),
        })
        rels = {s.id for s in phases["rels"]}
        rel_spans = [s for s in spans if s.id in rels or s.parent in rels]
        m["operators.rel_export.shuffle_mb"] = _sum(stats, rel_spans).shuffle_write_bytes / MB
        zips = named("sinks.zip_sink")
        if zips:
            m["sinks.zip_sink.s"] = sum(s.seconds for s in zips)
            m["sinks.zip_sink.in_mb"] = pass_info["zip_in_bytes"] / MB
            m["sinks.zip_sink.out_mb"] = pass_info["zip_bytes"] / MB

    calls = {"operators.graph_algos.k_core": ALGO_STATS}
    calls.update({f"operators.{mod}": CALL_STATS for mod in MIX_MODULES})
    for prefix, keys in calls.items():
        construct, action = named(f"{prefix}.construct"), named(f"{prefix}.action")
        if not construct:
            continue
        st = _sum(stats, construct + action)
        secs = sum(s.seconds for s in construct + action)
        values = {"s": secs, "construct_s": sum(s.seconds for s in construct), "jobs": st.jobs,
                  "shuffle_mb": st.shuffle_write_bytes / MB, "core_util": _util(st, secs, cores)}
        m.update({f"{prefix}.{k}": values[k] for k in keys})
    if "k_core_rounds" in pass_info:
        m["operators.graph_algos.k_core.rounds"] = pass_info["k_core_rounds"]

    total = _sum(stats, spans)
    wall = pass_span.seconds
    m.update({
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.stages_skipped_frac": total.skipped_stages / total.stages if total.stages else 0.0,
        "spark.tasks": total.tasks,
        "spark.failed_tasks": total.failed_tasks,
        "spark.executor_run_ms": total.executor_run_ms,
        "spark.gc_ms": total.gc_ms,
        "spark.shuffle_write_mb": total.shuffle_write_bytes / MB,
        "spark.core_util": _util(total, wall, cores),
        "spark.no_job_s": wall - covered(total.intervals, pass_span.start, pass_span.end),
    })
    return m, notes


def median_of(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
