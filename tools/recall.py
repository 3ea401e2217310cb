"""ANN recall tracker — measures recall@k of the approximate similarity
queries against the exact brute-force oracle (`similarity_topk_cosine`),
and sweeps the IVFPQ rerank depth to chart the recall/cost curve.

Usage:
    python tools/recall.py [sf_dir]                  # recall@5 of lsh/ivf/ivfpq
    python tools/recall.py [sf_dir] --rerank 30,60,120,240   # IVFPQ depth sweep
    python tools/recall.py [sf_dir] --ivf-geometry 37x16x0,17x30x2
        # IVF cells_mod x nprobe x lloyd-rounds sweep with total-budget
        # accounting (centroid dots + candidate dots per query) — the
        # round-9 protocol behind the Lloyd-refinement finding

This is the committed protocol behind COVERAGE.md's recall table — the
numbers there must come from this tool, same discipline as
tools/bench_table.py for perf claims.
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.operators import similarity2
from oe_batch_processing_spark.session import get_spark


def topk_sets(df, k=5):
    """{query_id: frozenset(top-k neighbor ids)} from a (query_id, vec_id
    [, neighbor_id]) result frame; tolerant of column naming across the
    similarity family."""
    cols = df.columns
    qcol = "query_id" if "query_id" in cols else cols[0]
    ncol = next(c for c in ("neighbor_id", "vec_id", "nbr") if c in cols and c != qcol)
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r[qcol], set()).add(r[ncol])
    return out


def recall_vs_exact(spark, sf_dir, name, exact):
    t0 = time.time()
    approx = topk_sets(registry.QUERIES[name](spark, sf_dir))
    dt = time.time() - t0
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    return hits / total, dt


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    rerank_depths = None
    if "--rerank" in args:
        rerank_depths = [int(x) for x in args[args.index("--rerank") + 1].split(",")]
    lsh_geoms = None
    if "--lsh-geometry" in args:
        lsh_geoms = [
            tuple(int(v) for v in g.split("x"))
            for g in args[args.index("--lsh-geometry") + 1].split(",")
        ]

    spark = get_spark("recall")
    exact = topk_sets(registry.QUERIES["similarity_topk_cosine"](spark, sf_dir))
    print(f"exact top-5 over {len(exact)} queries @ {sf_dir}")

    if rerank_depths:
        base = similarity2.IVFPQ_RERANK
        try:
            for depth in rerank_depths:
                similarity2.IVFPQ_RERANK = depth
                r, dt = recall_vs_exact(spark, sf_dir, "similarity_topk_ivfpq", exact)
                print(f"ivfpq rerank={depth}: recall@5={r:.3f} ({dt:.1f}s)")
        finally:
            similarity2.IVFPQ_RERANK = base
        return

    if "--ivf-geometry" in args:
        from oe_batch_processing_spark.operators import similarity as _sim

        geoms = [
            tuple(int(v) for v in g.split("x"))
            for g in args[args.index("--ivf-geometry") + 1].split(",")
        ]
        base = (_sim.N_CELLS_MOD, _sim.N_PROBE, _sim._IVF_LLOYD)
        try:
            for cells_mod, nprobe, lloyd in geoms:
                _sim.N_CELLS_MOD, _sim.N_PROBE, _sim._IVF_LLOYD = (
                    cells_mod, nprobe, lloyd,
                )
                t0 = time.time()
                approx = topk_sets(
                    registry.QUERIES["similarity_topk_ivf"](spark, sf_dir)
                )
                dt = time.time() - t0
                hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
                total = sum(len(v) for v in exact.values())
                # budget accounting: every query scores all centroids, then
                # rescored candidates ~ N * nprobe / ncells on average
                emb = registry.QUERIES["similarity_topk_cosine"]  # noqa: F841
                from oe_batch_processing_spark.tables import load_table

                n_vec = load_table(spark, sf_dir, "embeddings").count()
                ncells = sum(
                    1 for v in range(n_vec) if v % cells_mod == 1
                )  # init count; Lloyd may drop empty cells
                budget = ncells + n_vec * min(nprobe, ncells) / max(ncells, 1)
                print(
                    f"ivf cells_mod={cells_mod} (~{ncells} cells) "
                    f"nprobe={nprobe} lloyd={lloyd}: "
                    f"recall@5={hits / total:.3f} "
                    f"(~{budget:.0f} dots/query, {dt:.1f}s)"
                )
        finally:
            _sim.N_CELLS_MOD, _sim.N_PROBE, _sim._IVF_LLOYD = base
        return

    if lsh_geoms:
        import time as _t

        from oe_batch_processing_spark.operators.similarity import lsh_topk

        for planes, tables in lsh_geoms:
            t0 = _t.time()
            approx = topk_sets(lsh_topk(spark, sf_dir, planes, tables))
            dt = _t.time() - t0
            hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
            total = sum(len(v) for v in exact.values())
            budget = tables / (1 << planes)
            print(
                f"lsh {planes}planes x {tables}tables "
                f"(candidate budget {budget:.3f}·N): "
                f"recall@5={hits / total:.3f} ({dt:.1f}s)"
            )
        return

    for name in ("similarity_topk_lsh", "similarity_topk_ivf", "similarity_topk_ivfpq"):
        r, dt = recall_vs_exact(spark, sf_dir, name, exact)
        print(f"{name}: recall@5={r:.3f} ({dt:.1f}s)")


if __name__ == "__main__":
    main()
