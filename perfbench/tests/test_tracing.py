"""Self-time arithmetic, span nesting and metric parsing."""

from __future__ import annotations

import json
import types

import pytest

import layers
import run
import tracing
from sparkstats import parse_metric
from tracing import Span, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(3.0)
    assert covered(0.0, 10.0, [(-5.0, 1.0), (9.0, 12.0)]) == pytest.approx(2.0)
    assert covered(0.0, 10.0, [(5.0, 6.0), (1.0, 2.0)]) == pytest.approx(2.0)


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, None, "t", "engine.run_ingest", 0.0, 10.0),
        Span(2, 1, "t", "sources.line_scan", 1.0, 3.0),
        Span(3, 1, "t", "sinks.ledger.write_status", 5.0, 9.0),
        Span(4, 3, "t", "tables.load_table", 6.0, 7.0),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 2.0 - 4.0)
    assert selfs[3] == pytest.approx(4.0 - 1.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)


def test_tracer_nests_and_counts_jobs():
    jobs = iter(range(100))
    t = tracing.Tracer(job_count=lambda: next(jobs))
    t.trace_id = "q#0"
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent_id == outer.span_id and outer.parent_id is None
    assert {s.trace_id for s in t.spans} == {"q#0"}
    assert inner.jobs == 1 and outer.jobs == 3
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_patches_restore_the_original_binding():
    mod = types.SimpleNamespace(fn=lambda x: x + 1)
    original = mod.fn
    t = tracing.Tracer()
    p = tracing.Patches(t)
    p.wrap(mod, "fn", "layer.fn")
    assert mod.fn(1) == 2 and mod.fn is not original
    p.undo()
    assert mod.fn is original
    assert [s.name for s in t.spans] == ["layer.fn"]


def test_parse_metric_reads_totals():
    assert parse_metric("478 ms") == pytest.approx(0.478)
    assert parse_metric("total (min, med, max (stageId: taskId))\n19.6 s (4.8 s, 4.8 s, 5.2 s)") == pytest.approx(19.6)
    assert parse_metric("total (min, med, max)\n1.5 m (0 ms, 1 s, 2 s)") == pytest.approx(90.0)
    assert parse_metric("total (min, med, max)\n15.1 KiB (3.7 KiB, 3.8 KiB, 3.9 KiB)") == pytest.approx(15.1 * 1024)
    assert parse_metric(None) == 0.0


def test_benchmark_json_names_every_metric_the_run_emits():
    import os

    import workloads

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == layers.names(list(workloads.MIX))
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    wl = types.SimpleNamespace(records_per_pass=100)
    ops = [workloads.Op("csv", 0, False, wall_s=2.0)]
    e2e = run.end_to_end(wl, 3.0, ops)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}


def test_pass_wall_sums_per_op_medians():
    import workloads

    walls = {"a": [1.0, 5.0, 1.2], "b": [2.0, 2.2, 9.0]}
    ops = [workloads.Op(n, p, False, wall_s=w) for n, ws in walls.items() for p, w in enumerate(ws)]
    e2e = run.end_to_end(types.SimpleNamespace(records_per_pass=100), 3.0, ops)
    assert e2e["pass_wall_s"][0] == pytest.approx(1.2 + 2.2)
    assert e2e["records_per_s"][0] == pytest.approx(100 / 3.4)
