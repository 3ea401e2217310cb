"""Per-layer metrics of a traced run, named after the package's modules.

Every figure is a median over the traced passes of that pass's total, so a
query_mix figure covers the whole mix and an ingest figure one ``run_ingest``
call. A layer the workload does not use reads 0. ``per_layer`` emits the
names in ``NAMES`` order on every workload; see ``README.md`` for which
end-to-end metric each one should move, and where it should stay flat.
"""

from __future__ import annotations

import statistics
from collections import Counter

from tracing import Tracer, self_times

# Per-op names are appended: ingest.<op>.* and query.<name>.* (see names()).
NAMES = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tables.load_table.calls": "count",
    "tables.load_table.s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.planning_ms": "ms",
    "spark.idle_core_share": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.python_run_s": "s",
    "spark.python_init_s": "s",
    "spark.python_bytes_sent": "B",
    "spark.python_bytes_returned": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_left": "count",
    "sources.line_scan.s": "s",
    "sources.line_scan.jobs": "count",
    "sources.csv_parse.python_run_s": "s",
    "sources.outcome.counts_s": "s",
    "sinks.ledger.write_status_s": "s",
    "sinks.ledger.write_run_s": "s",
    "sinks.ledger.bytes_per_record": "B/rec",
    "sinks.rest_sink.python_run_s": "s",
    "sinks.rest_sink.posts_per_record": "ratio",
    "sinks.rest_sink.connections_per_post": "ratio",
    "sinks.rest_sink.inflight_mean": "count",
    "sinks.rest_sink.failed_records": "count",
    "engine.run_ingest.jobs": "count",
    "engine.run_ingest.self_s": "s",
    "ops_failed_ratio": "ratio",
    "peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
}

# Spark counters summed over a pass, by metric name.
_SPARK = {
    name: name.split(".", 1)[1]
    for name in NAMES
    if name.startswith("spark.") and name != "spark.idle_core_share"
}
# Span name -> (seconds metric, metric for the jobs fired inside it or None).
_SPANS = {
    "operators.build": ("operators.build_s", "operators.build_jobs"),
    "sources.line_scan": ("sources.line_scan.s", "sources.line_scan.jobs"),
    "sources.outcome.counts": ("sources.outcome.counts_s", None),
    "sinks.ledger.write_status": ("sinks.ledger.write_status_s", None),
    "sinks.ledger.write_run": ("sinks.ledger.write_run_s", None),
}
# Counters the stub reports for the one rest op of a pass.
_INGEST = {
    "sinks.rest_sink.posts_per_record": "posts_per_record",
    "sinks.rest_sink.connections_per_post": "connections_per_post",
    "sinks.rest_sink.inflight_mean": "inflight_mean",
}


INGEST_OPS = ("csv", "rest")


def op_prefix(name: str) -> str:
    return f"ingest.{name}" if name in INGEST_OPS else f"query.{name}"


def names(mix: list[str]) -> dict[str, str]:
    out = dict(NAMES)
    for op in (*INGEST_OPS, *mix):
        out[f"{op_prefix(op)}.wall_s"] = "s"
        out[f"{op_prefix(op)}.jobs"] = "count"
    return out


def _pass_figures(tracer: Tracer, ops, cores: int, records: int) -> Counter:
    fig: Counter = Counter()
    wall = sum(op.wall_s for op in ops)
    for op in ops:
        spans = tracer.of_trace(op.trace_id)
        for sp in spans:
            if sp.name == "tables.load_table":
                fig["tables.load_table.s"] += sp.duration
                fig["tables.load_table.calls"] += 1
            elif sp.name in _SPANS:
                secs, jobs = _SPANS[sp.name]
                fig[secs] += sp.duration
                if jobs:
                    fig[jobs] += sp.jobs
        c = op.counters
        for metric, key in _SPARK.items():
            fig[metric] += c[key]
        fig["sources.csv_parse.python_run_s"] += c["csv_python_run_s"]
        fig["sinks.rest_sink.python_run_s"] += c["rest_python_run_s"]
        fig["sinks.rest_sink.failed_records"] += c["failed_records"]
        for metric, key in _INGEST.items():
            fig[metric] += c[key]
        if c["ledger_bytes"]:
            fig["sinks.ledger.bytes_per_record"] += c["ledger_bytes"] / records
        selfs = self_times(spans)
        for sp in spans:
            if sp.name == "engine.run_ingest":
                fig["engine.run_ingest.self_s"] += selfs[sp.span_id]
                fig["engine.run_ingest.jobs"] += c["jobs"]
        fig[f"{op_prefix(op.name)}.wall_s"] += op.wall_s
        fig[f"{op_prefix(op.name)}.jobs"] += c["jobs"]
    fig["spark.idle_core_share"] = 1.0 - fig["spark.executor_run_s"] / (wall * cores)
    return fig


def per_layer(tracer, ops, passes, mix, cores, records, run_facts) -> dict:
    """Metric name -> (value, unit) for a traced run; ``run_facts`` gives the
    values measured once per run (session times, peak RSS)."""
    traced = sorted({op.pass_no for op in ops if op.traced})
    untraced = [p for p in passes if p not in traced]
    figs = [
        _pass_figures(tracer, [op for op in ops if op.pass_no == p], cores, records)
        for p in traced
    ]
    out = {}
    for name, unit in names(mix).items():
        out[name] = (statistics.median(f[name] for f in figs) if figs else 0.0, unit)
    for name, value in run_facts.items():
        out[name] = (value, out[name][1])
    failed = sum(1 for op in ops if op.problems)
    out["ops_failed_ratio"] = (failed / len(ops), "ratio")
    overhead = 0.0
    if traced and untraced:
        overhead = statistics.median(passes[p] for p in traced) - statistics.median(
            passes[p] for p in untraced
        )
    out["trace.overhead_s"] = (overhead, "s")
    return out
