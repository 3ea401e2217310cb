"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_csv --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) against the package in the checkout
that holds this file. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with no
wrappers installed. With ``--trace 1`` they are the per-layer ones: passes
alternate between traced and untraced, the layer figures come from the traced
passes, and ``trace.overhead_s`` is the traced minus the untraced median pass
wall. Spans are written to ``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout,
apart from the package's own shipped-code zip (see ``check_shipped_zip``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oe_batch_processing_spark"
# registry._ship_package zips the package here and reuses the zip while it is
# newer than the newest source file, even if it came from another checkout.
SHIPPED_ZIP = "/tmp/oe_batch_processing_spark_pyfiles.zip"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def package_sources() -> dict[str, bytes]:
    """Zip member name -> bytes of every ``.py`` file of this checkout's package."""
    out = {}
    pkg = os.path.join(ROOT, PACKAGE)
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.join(PACKAGE, os.path.relpath(full, pkg))] = fh.read()
    return out


def members_hash(members: dict[str, bytes]) -> str:
    h = hashlib.sha256()
    for name in sorted(members):
        h.update(name.encode() + b"\0" + hashlib.sha256(members[name]).digest())
    return h.hexdigest()[:16]


def check_shipped_zip(expected: dict[str, bytes], remove_stale: bool) -> str | None:
    """Hash of the shipped zip's members, or None when there is no zip.

    A zip whose members differ from this checkout's sources is deleted when
    ``remove_stale`` is set, so that the registry rebuilds it from here;
    otherwise the mismatch is an error.
    """
    if not os.path.exists(SHIPPED_ZIP):
        return None
    with zipfile.ZipFile(SHIPPED_ZIP) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    if members != expected:
        if not remove_stale:
            raise RuntimeError(f"{SHIPPED_ZIP} does not hold this checkout's package")
        os.remove(SHIPPED_ZIP)
        return None
    return members_hash(members)


def end_to_end(wl, setup_s: float, ops) -> dict:
    """The pass wall is the sum over the workload's ops of each op's median
    wall, so one slow op in a pass moves it less than a median of pass totals."""
    per_op: dict[str, list[float]] = {}
    for op in ops:
        per_op.setdefault(op.name, []).append(op.wall_s)
    pass_wall = sum(median(v) for v in per_op.values())
    return {
        "setup_s": (setup_s, "s"),
        "pass_wall_s": (pass_wall, "s"),
        "op_geomean_s": (geomean([median(v) for v in per_op.values()]), "s"),
        "records_per_s": (wl.records_per_pass / pass_wall if pass_wall else 0.0, "rec/s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="oe_batch_processing_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "engine.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    sources = package_sources()
    check_shipped_zip(sources, remove_stale=True)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, cores)
    os.environ["SPARK_GRAFT_CPUS"] = str(wl.cores)
    tracer = patches = None
    try:
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.start_session()
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        if args.trace:
            import tracing

            tracer = tracing.Tracer(job_count=lambda: wl.group_job_count(tracer.trace_id))
            wl.tracer = tracer
        ops, passes = [], {}
        spent, pass_no = 0.0, 0
        while spent < args.seconds or pass_no < wl.min_passes:
            traced = bool(args.trace) and pass_no % 2 == 0
            if traced:
                patches = tracing.install(tracer)
            try:
                got = wl.run_pass(pass_no, traced)
            finally:
                if patches is not None:
                    patches.undo()
                    patches = None
            passes[pass_no] = sum(op.wall_s for op in got)
            spent += passes[pass_no]
            ops += got
            pass_no += 1

        late = wl.final_checks()
        for op in ops:
            if op.name in late:
                op.problems.append(late[op.name])
        shipped = check_shipped_zip(sources, remove_stale=False)
        peak_rss_mb = wl.reader.jvm_peak_rss_mb()
    finally:
        wl.close()

    failed = [op for op in ops if op.problems]
    for op in failed:
        print(f"FAILED {op.trace_id}: {'; '.join(op.problems)}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work_root, "traces", f"{args.workload}-{args.seed}.json"))
        run_facts = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = layers.per_layer(
            tracer, ops, passes, list(workloads.MIX), wl.cores, wl.records_per_pass, run_facts
        )
    else:
        metrics = end_to_end(wl, start_s + warmup_s, ops)
    shutil.rmtree(work, ignore_errors=True)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "spark_cores": wl.cores,
        "passes": len(passes),
        "records_per_pass": wl.records_per_pass,
        "gen_s": round(gen_s, 3),
        "session_start_s": round(start_s, 3),
        "warmup_s": round(warmup_s, 3),
        "pass_walls_s": [round(passes[p], 3) for p in sorted(passes)],
        "op_walls_s": [[op.name, round(op.wall_s, 3)] for op in ops],
        "package_hash": members_hash(sources),
        "shipped_zip_hash": shipped,
    }
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
