"""10x scale probe — measure how the headline operators actually scale.

The committed testdata caps at sf0.1, so 100x-readiness claims in SCALE.md
were plan-level arguments. This tool turns them into measurements:

1. **Synthesize** a factor-N input (default 10x) from sf0.1 by key-shifted
   unions per table: replica ``r`` adds ``r * 1_000_000_000`` to every key
   column, so joins stay consistent *within* a replica and replicas never
   collide. ``region``/``nation`` are copied once (TPC-H semantics: fixed
   25/5 rows at every SF); everything else scales by N. Non-key columns are
   byte-identical across replicas — deliberately: duplicate text clusters
   growing ~linearly with corpus size is exactly what web-scale dedup sees,
   so the dedup probes run in the adversarial-duplicates regime (their
   OUTPUT therefore grows faster than N; the artifact records output rows so
   time ratios can be read against row ratios).
2. **Run** the probe queries at 1x (sf0.1 itself) and Nx, repeat-K minimum
   wall time per (query, scale), ``spark.catalog.clearCache()`` before every
   timed run, the same ``.count()`` action bench.py uses.
3. **Audit plans**: count ``Exchange SinglePartition`` occurrences in the
   executed plan at both scales — a query that gains single-partition
   exchanges at 10x has a scale bug regardless of its wall time. (Streaming
   probes are exempt: the returned frame is a post-stream result, not the
   micro-batch plan.)

Writes one JSON artifact (default ``SCALEPROBE_r10.json``) with per-query
``t_base`` / ``t_scaled`` / ``time_ratio`` / ``rows_base`` / ``rows_scaled``
/ ``sp_exchanges_{base,scaled}`` and a summary naming every query whose time
ratio exceeds the flag threshold (15x for a 10x input by default).

Usage:
    python tools/scaleprobe.py [--factor 10] [--repeat 2] [--skip-synth]
                               [--out SCALEPROBE_r10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import oe_batch_processing_spark.operators  # noqa: F401
import oe_batch_processing_spark.streaming  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.session import get_spark
from oe_batch_processing_spark.tables import TABLE_NAMES, load_table

BASE_DIR = "/root/testdata/sf0.1"
DATA_DIR = os.path.join(REPO_ROOT, "scaleprobe_data")
KEY_OFFSET = 1_000_000_000  # far above any sf0.1 key; BIGINT-safe at r<=99

# Key columns shifted per replica. Shifting BOTH sides of every FK pair by
# the same offset keeps per-replica join integrity; region/nation are
# unscaled dims (their keys appear in customer/supplier unshifted).
KEY_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
UNSCALED = frozenset({"region", "nation"})

# Probe set: the heaviest protocol-r9 queries plus at least one per SURVEY
# §2.2 family. Excluded by design: udaf_user_value_trend (the declared
# Python extension demo — its JVM twin win_rolling_distinct_users is in),
# ingest_* (fixed-size synthetic inputs, no sf_dir scaling).
PROBES: tuple[str, ...] = (
    # heavy hitters from BENCH_PROTOCOL_r09
    "stream_split_leakage_gate",
    "graph_label_propagation",
    "pipeline_bpe_train_apply",
    "graph_connected_components_star",
    "graph_kcore_trade",
    "stream_tws_type_stats",
    "embedding_pca_power_iteration",
    "multimodal_webp_lossless_decode",
    "multimodal_webp_palette_decode",
    "recursive_cte_custkey_tree",
    "docs_duplicate_ngram_spans",
    "pipeline_contamination_screen",  # r15: broadcast-dictionary screen
    "text_bm25_shingle_retrieval",    # r15: postings-join retrieval
    "dedup_jaccard_shingles",
    "dedup_jaccard_prefix_filter",   # r13: representative-rewrite coverage
    "dedup_simhash",                 # r13: pairs-side rewrite coverage
    "dedup_shingle_containment",     # r13: representative-rewrite coverage
    "dedup_semdedup_clusters",
    "similarity_topk_lsh",
    "dedup_embedding_cosine",
    "udtf_table_arg_streaks",
    # family coverage
    "q1_pricing_summary",
    "flagship_revenue_by_nation",
    "q18_large_volume_customers",
    "win_rolling_distinct_users",
    "events_hourly_rollup",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_clusters",   # r11: cluster-summary emit mode
    "dedup_simhash_clusters",       # r11: clusters mode, simhash relation
    "similarity_topk_ivf",
    "similarity_topk_ivfpq",        # r11: sample-trained Lloyd coverage
    "similarity_topk_pq",           # r12: PQ codebook (the r11 26x fix)
    "embedding_kmeans_assign",      # r11: centroid-family coverage
    "multimodal_webp_color_decode", # r11: cross-color RGB pipeline
    "similarity_topk_matmul",
    "multimodal_jpeg_decode",        # r14: codec-family 30x gap (verdict item 7)
    "multimodal_gif_decode",         # r14: codec-family 30x gap (verdict item 7)
    "similarity_topk_cosine",        # r13: rep-collapsed brute-force baseline
    "similarity_pairs_above",        # r13: rep-collapsed all-pairs primitive
    "dedup_embedding_cosine_clusters",   # r12: clusters emit, cosine
    "dedup_shingle_containment_clusters",  # r12: clusters emit, containment
    "join_salted_orders_segment",
    "asof_nearest_click",
    "events_session_window_native",
    "text_token_counts",
    "stream_tumbling_counts",
)

# ANN queries probed a SECOND time with a FIXED 20-query batch (round-12,
# verdict item 5): the registered queries' query set is vec_id % 100 == 0,
# which SCALES with the corpus, so their total-time ratios conflate
# per-query cost with query count. The fixed-QPS pass bounds the set to
# vec_id < FIXED_QUERY_CAP — the replica key-shift (+1e9/replica) means
# exactly the base corpus's 20 queries survive at every factor — making
# the per-query slope a first-class artifact field (fixedq_time_ratio)
# instead of prose arithmetic.
ANN_FIXED_QPS: tuple[str, ...] = (
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_ivfpq",
    "similarity_topk_pq",
    "similarity_topk_matmul",
)
FIXED_QUERY_CAP = 2000  # sf0.1 corpus size: 20 queries at every factor


# per-table sort applied within the single output file so the scaled data
# mirrors the generator's physical order (events arrive in ts order; facts
# in primary-key order) — streaming watermark behavior depends on it
SORT_KEYS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("ts", "event_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def synthesize(spark, factor: int, dst: str) -> dict[str, int]:
    """Write the factor-N dataset with the SAME physical layout as the
    driver's testdata: exactly one parquet FILE per table directly in
    ``dst`` (streaming sources select it via pathGlobFilter, so a directory
    of part files would match nothing). Returns scaled row counts."""
    import glob as globmod

    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    counts: dict[str, int] = {}
    for name in TABLE_NAMES:
        src_df = load_table(spark, BASE_DIR, name)
        if name in UNSCALED:
            out = src_df
        else:
            replicas = [
                src_df.select(
                    *[
                        (F.col(c) + F.lit(r * KEY_OFFSET)).alias(c)
                        if c in KEY_COLUMNS[name]
                        else F.col(c)
                        for c in src_df.columns
                    ]
                )
                for r in range(factor)
            ]
            out = replicas[0]
            for rep in replicas[1:]:
                out = out.unionByName(rep)
            # one output file, generator-order rows; repartition (a shuffle)
            # keeps the upstream union parallel where coalesce(1) would not
            out = out.repartition(1).sortWithinPartitions(*SORT_KEYS[name])
        tmp = os.path.join(dst, f"_tmp_{name}")
        out.write.mode("overwrite").parquet(tmp)
        parts = globmod.glob(os.path.join(tmp, "part-*.parquet"))
        assert len(parts) == 1, f"{name}: expected 1 part file, got {parts}"
        final = os.path.join(dst, f"{name}.parquet")
        if os.path.exists(final):
            os.remove(final)
        shutil.move(parts[0], final)
        shutil.rmtree(tmp)
        counts[name] = spark.read.parquet(final).count()
    return counts


def validate_synthesis(spark, factor: int, dst: str) -> dict[str, object]:
    """Row-count and join-integrity assertions on the synthesized data."""
    from pyspark.sql import functions as F  # noqa: F401

    report: dict[str, object] = {}
    for name in TABLE_NAMES:
        base_n = load_table(spark, BASE_DIR, name).count()
        scaled_n = load_table(spark, dst, name).count()
        want = base_n if name in UNSCALED else base_n * factor
        if scaled_n != want:
            raise AssertionError(
                f"{name}: expected {want} rows at {factor}x, got {scaled_n}"
            )
        report[name] = scaled_n
    # join integrity: orders joined to customer must scale exactly N-fold
    def join_count(d: str) -> int:
        o = load_table(spark, d, "orders")
        c = load_table(spark, d, "customer")
        return o.join(c, o.o_custkey == c.c_custkey).count()

    base_join = join_count(BASE_DIR)
    scaled_join = join_count(dst)
    if scaled_join != base_join * factor:
        raise AssertionError(
            f"join integrity: {base_join}x{factor} != {scaled_join}"
        )
    report["join_check_orders_customer"] = scaled_join
    return report


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def run_probe(spark, names, sf_dir: str, repeat: int):
    """Repeat-K minimum wall time per query at one scale; first run also
    records output rows and the executed plan's SinglePartition count."""
    out: dict[str, dict[str, object]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        best, rows, sp = None, None, None
        err = None
        for k in range(repeat):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as e:  # noqa: BLE001
                err = f"{type(e).__name__}: {e}"
                break
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
            if k == 0:
                rows = n
                if not name.startswith("stream_"):
                    plan = _executed_plan(df)
                    sp = plan.count("Exchange SinglePartition")
        out[name] = {"t": best, "rows": rows, "sp_exchanges": sp, "err": err}
        status = f"{best:.2f}s {rows} rows" if err is None else f"ERR {err}"
        print(f"  {name}: {status}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--flag-ratio", type=float, default=None)  # None -> 1.5 * factor (15 at 10x, 45 at 30x — the r12 convention)
    ap.add_argument("--skip-synth", action="store_true")
    ap.add_argument("--only", nargs="*", help="probe only these queries")
    ap.add_argument(
        "--merge",
        action="store_true",
        help="update only the probed queries inside an existing --out "
        "artifact (refreshing rows after a fix) instead of rewriting it",
    )
    ap.add_argument("--out", default="SCALEPROBE_r10.json")
    args = ap.parse_args()

    if args.flag_ratio is None:
        args.flag_ratio = 1.5 * args.factor
    dst = os.path.join(DATA_DIR, f"x{args.factor}")
    spark = get_spark("scaleprobe")
    names = tuple(args.only) if args.only else PROBES
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"unknown probe queries: {unknown}")

    if not args.skip_synth:
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        print(f"synthesizing {args.factor}x into {dst} ...", flush=True)
        t0 = time.perf_counter()
        synthesize(spark, args.factor, dst)
        print(f"  synthesized in {time.perf_counter() - t0:.1f}s", flush=True)
    synth_report = validate_synthesis(spark, args.factor, dst)
    print("synthesis validated (counts + join integrity)", flush=True)

    # warmup: touch every probe once at sf0.01 so cold-JIT lands outside
    # the timed runs (bench protocol's warmup convention)
    print("warmup at sf0.01 ...", flush=True)
    for name in names:
        try:
            registry.QUERIES[name](spark, "/root/testdata/sf0.01").count()
        except Exception as e:  # noqa: BLE001
            print(f"  warmup {name}: {type(e).__name__}: {e}", flush=True)

    print(f"probing at 1x ({BASE_DIR}) ...", flush=True)
    base = run_probe(spark, names, BASE_DIR, args.repeat)
    print(f"probing at {args.factor}x ({dst}) ...", flush=True)
    scaled = run_probe(spark, names, dst, args.repeat)

    # fixed-QPS second pass for the ANN family (constant 20-query batch)
    ann = tuple(n for n in names if n in ANN_FIXED_QPS)
    fq_base: dict[str, dict[str, object]] = {}
    fq_scaled: dict[str, dict[str, object]] = {}
    if ann:
        from oe_batch_processing_spark.operators import similarity as _sim

        print(
            f"fixed-QPS ANN pass (vec_id < {FIXED_QUERY_CAP}: 20 queries "
            f"at every factor) ...",
            flush=True,
        )
        _sim.QUERY_ID_CAP = FIXED_QUERY_CAP
        try:
            fq_base = run_probe(spark, ann, BASE_DIR, args.repeat)
            fq_scaled = run_probe(spark, ann, dst, args.repeat)
        finally:
            _sim.QUERY_ID_CAP = None

    # 30x (or any non-10x) rows carry their 10x trend point as a first-
    # class field, read from the newest committed 10x artifact
    tenx: dict[str, dict[str, object]] | None = None
    if args.factor != 10:
        import glob as globmod
        import re as remod

        tens = globmod.glob(os.path.join(REPO_ROOT, "SCALEPROBE_r*.json"))
        if tens:
            newest = max(
                tens, key=lambda p: int(remod.search(r"r(\d+)", p).group(1))
            )
            with open(newest) as f:
                tenx = json.load(f)["queries"]

    queries: dict[str, dict[str, object]] = {}
    flagged: list[str] = []
    new_sp: list[str] = []
    for name in names:
        b, s = base[name], scaled[name]
        entry: dict[str, object] = {
            "t_base": b["t"],
            "t_scaled": s["t"],
            "rows_base": b["rows"],
            "rows_scaled": s["rows"],
            "sp_exchanges_base": b["sp_exchanges"],
            "sp_exchanges_scaled": s["sp_exchanges"],
        }
        if b["err"] or s["err"]:
            entry["err"] = b["err"] or s["err"]
        elif b["t"]:
            ratio = s["t"] / b["t"]
            entry["time_ratio"] = round(ratio, 2)
            entry["row_ratio"] = (
                round(s["rows"] / b["rows"], 2) if b["rows"] else None
            )
            if ratio > args.flag_ratio:
                flagged.append(name)
            if (
                s["sp_exchanges"] is not None
                and b["sp_exchanges"] is not None
                and s["sp_exchanges"] > b["sp_exchanges"]
            ):
                new_sp.append(name)
        if name in fq_base:
            fb, fs = fq_base[name], fq_scaled[name]
            entry["fixedq_queries"] = 20
            entry["fixedq_t_base"] = fb["t"]
            entry["fixedq_t_scaled"] = fs["t"]
            if fb["err"] or fs["err"]:
                entry["fixedq_err"] = fb["err"] or fs["err"]
            elif fb["t"]:
                entry["fixedq_time_ratio"] = round(fs["t"] / fb["t"], 2)
        if tenx is not None:
            entry["trend_10x"] = tenx.get(name, {}).get("time_ratio")
        queries[name] = entry

    if args.merge:
        with open(args.out) as f:
            artifact = json.load(f)
        artifact["queries"].update(queries)
        flagged = sorted(
            n
            for n, e in artifact["queries"].items()
            if e.get("time_ratio", 0) > args.flag_ratio
        )
        new_sp = sorted(
            set(artifact.get("new_single_partition_exchanges_at_scale", []))
            - set(names)
            | set(new_sp)
        )
        artifact["flag_ratio"] = args.flag_ratio
        artifact["flagged_over_ratio"] = flagged
        artifact["new_single_partition_exchanges_at_scale"] = new_sp
        with open(args.out, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=False)
            f.write("\n")
        print(json.dumps({
            "merged": sorted(names),
            "flagged_over_ratio": flagged,
            "out": args.out,
        }))
        return 0

    artifact = {
        "metric": f"scaleprobe_{args.factor}x",
        "factor": args.factor,
        "base": BASE_DIR,
        "repeat": args.repeat,
        "action": "count() after clearCache(), repeat-min",
        "flag_ratio": args.flag_ratio,
        "queries": queries,
        "flagged_over_ratio": flagged,
        "new_single_partition_exchanges_at_scale": new_sp,
        "synthesis": synth_report,
        "notes": (
            "Non-key columns are identical across replicas, so duplicate "
            "clusters grow ~factor-fold — the realistic web-dedup regime; "
            "pair-emitting dedup probes therefore legitimately produce "
            "super-linear OUTPUT (see row_ratio) and must be read as "
            "time-vs-output, not time-vs-input. similarity_topk_* corpora "
            "contain factor-fold exact-duplicate vectors (tie-heavy top-k)."
        ),
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=False)
        f.write("\n")
    print(json.dumps({
        "flagged_over_ratio": flagged,
        "new_sp_exchanges": new_sp,
        "out": args.out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
