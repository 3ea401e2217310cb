"""Guard: the committed local-sweep artifact must cover every registered
query (VERDICT r5 item 5 — r5's CHECK_LOCAL header claimed "every
registered query" while 20 late additions were missing from its body;
this turns that judge finding into a failing test).

The newest CHECK_LOCAL_r*.md must contain a PASS/ok line for each name in
the registry, and no FAIL lines. Adding a query without re-running
``tools/check.py`` (full, or incrementally appending the new names'
lines) makes this test fail — which is the intended forcing function.
"""

from __future__ import annotations

import glob
import os
import re

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_sweep() -> str:
    paths = glob.glob(os.path.join(REPO, "CHECK_LOCAL_r*.md"))
    assert paths, "no CHECK_LOCAL_r*.md sweep artifact committed"
    return max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))


def test_sweep_covers_every_registered_query():
    path = _newest_sweep()
    with open(path) as f:
        body = f.read()
    covered = set(re.findall(r"^(?:PASS|ok)\s+(\w+):", body, re.MULTILINE))
    missing = sorted(set(registry.QUERIES) - covered)
    assert not missing, (
        f"{os.path.basename(path)} lacks a sweep line for {len(missing)} "
        f"registered queries: {missing[:10]}{'...' if len(missing) > 10 else ''} "
        f"— run tools/check.py on them and append/regenerate the artifact"
    )


def test_sweep_has_no_recorded_failures():
    with open(_newest_sweep()) as f:
        fails = [ln for ln in f if ln.startswith("FAIL ")]
    assert not fails, f"sweep artifact records failures: {fails[:5]}"


# Oracled queries whose output is legitimately empty at the CONTRACT scale
# (sf0.01), each with a reason. Empty-vs-empty is a vacuous check (round-6
# verdict: the m=2^16 bloom prefilter passed 6 rounds of sweeps that way),
# so any new name landing here must argue its case — ideally by also
# carrying a non-contract-SF or unit-test exercise of the non-empty path.
VACUOUS_ALLOWLIST: dict[str, str] = {}


def test_sweep_vacuous_passes_are_allowlisted():
    """tools/check.py marks oracled 0-row passes as ``PASS name: 0 rows
    (VACUOUS)``; every such line in the newest contract-SF sweep must have
    an allowlist entry explaining why 0 rows is the real answer."""
    with open(_newest_sweep()) as f:
        body = f.read()
    vacuous = set(re.findall(r"^PASS\s+(\w+): 0 rows \(VACUOUS\)", body, re.MULTILINE))
    unjustified = sorted(vacuous - set(VACUOUS_ALLOWLIST))
    assert not unjustified, (
        f"oracled queries pass vacuously (0 rows == 0 rows) at the contract "
        f"SF with no allowlist justification: {unjustified} — make the "
        f"output non-empty at sf0.01, add a unit test of the non-empty "
        f"path, or justify an allowlist entry"
    )


def _newest_sf0001_sweep() -> str:
    paths = glob.glob(os.path.join(REPO, "CHECK_LOCAL_SF0001_r*.md"))
    assert paths, "no CHECK_LOCAL_SF0001_r*.md sweep artifact committed"
    return max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))


def test_sweep_header_counts_match_registry():
    """VERDICT r7 item 2: the header counts drifted from the registry twice
    (r6 and r7) because operators landed after the doc-sync commit. The
    sweep-line guard above catches missing LINES; this catches stale
    HEADERS: the `**N/M passed**` claim in the newest sweep artifacts must
    say M == len(registry.QUERIES)."""
    for path in (_newest_sweep(), _newest_sf0001_sweep()):
        with open(path) as f:
            head = f.read(2000)
        m = re.search(r"\*\*(\d+)/(\d+) passed\*\*", head)
        assert m, f"{os.path.basename(path)} header lacks a '**N/M passed**' claim"
        claimed = int(m.group(2))
        assert claimed == len(registry.QUERIES), (
            f"{os.path.basename(path)} header claims {claimed} registered "
            f"queries but the registry has {len(registry.QUERIES)} — "
            f"regenerate the header from `cli counts`"
        )


# The declared irreducible approximates (COVERAGE.md): registered without an
# oracle BY DESIGN, each carrying a pytest accuracy gate instead. Any other
# window name without an oracle is a wasted slot and fails the guard below.
ROWS_ONLY: frozenset[str] = frozenset(
    {
        "agg_approx_count_distinct",
        "sample_stratified_documents",
        "similarity_topk_ivf",
        "similarity_topk_ivfpq",
        "similarity_topk_lsh",
        "sketch_hll_user_rollup",
        "sketch_theta_segment_overlap",
    }
)


def test_rows_only_set_matches_registry():
    """The declared rows-only approximates must be exactly the registry's
    oracle-less names — a new oracle-less query must either gain an oracle
    or be argued into this declared set."""
    actual = set(registry.QUERIES) - set(registry.ORACLE)
    assert actual == set(ROWS_ONLY), (
        f"undeclared rows-only queries: {sorted(actual - ROWS_ONLY)}; "
        f"stale declarations: {sorted(ROWS_ONLY - actual)}"
    )


def test_bench_headline_names_are_registered():
    """VERDICT r7 item 7 (second half): a rename would silently drop a
    bench row. Parse bench.py's HEADLINE literal and resolve every name."""
    with open(os.path.join(REPO, "bench.py")) as f:
        src = f.read()
    m = re.search(r"HEADLINE = \[(.*?)\]", src, re.S)
    assert m, "bench.py HEADLINE literal not found"
    names = re.findall(r'"([^"]+)"', m.group(1))
    assert len(names) == len(set(names)), "duplicate names in bench HEADLINE"
    unknown = [n for n in names if n not in registry.QUERIES]
    assert not unknown, f"bench HEADLINE names missing from registry: {unknown}"


def _newest_protocol_bench() -> str:
    paths = glob.glob(os.path.join(REPO, "BENCH_PROTOCOL_r*.json"))
    assert paths, "no BENCH_PROTOCOL_r*.json artifact committed"
    return max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))


def test_bench_headline_has_committed_protocol_rows():
    """VERDICT r8 item 1 (and the r7 'operators landed after the final
    protocol bench' drift): every bench HEADLINE name must have a
    repeat-median row in the NEWEST committed protocol bench artifact, so
    a query can no longer ship without a committed clean-room number."""
    import json

    with open(os.path.join(REPO, "bench.py")) as f:
        src = f.read()
    names = re.findall(r'"([^"]+)"', re.search(r"HEADLINE = \[(.*?)\]", src, re.S).group(1))
    with open(_newest_protocol_bench()) as f:
        bench = json.load(f)
    rows = bench.get("queries", {})
    missing = [n for n in names if n not in rows]
    assert not missing, (
        f"{os.path.basename(_newest_protocol_bench())} lacks bench rows for "
        f"{missing} — re-run `python bench.py --repeat 3` (uncontended) and "
        f"commit the artifact"
    )


def test_documented_counts_match_registry():
    """VERDICT r9 item 5 (the recurring r6/r7/r8/r9 prose-drift class):
    every registered/oracled/rows_only count stated in COVERAGE.md and
    README.md must equal the live registry — `cli counts` is the source of
    truth, and docs now fail the suite when they lag it."""
    live_reg = len(registry.QUERIES)
    live_orc = sum(1 for n in registry.QUERIES if n in registry.ORACLE)
    live_ro = live_reg - live_orc
    for doc in ("COVERAGE.md", "README.md"):
        body = open(os.path.join(REPO, doc)).read()
        for m in re.finditer(
            r"registered=(\d+) oracled=(\d+) rows_only=(\d+)", body
        ):
            assert tuple(map(int, m.groups())) == (live_reg, live_orc, live_ro), (
                f"{doc}: stale count line {m.group(0)!r} — live is "
                f"registered={live_reg} oracled={live_orc} rows_only={live_ro}"
            )
        for m in re.finditer(r"(\d+) registered, (\d+) oracled", body):
            assert tuple(map(int, m.groups())) == (live_reg, live_orc), (
                f"{doc}: stale count phrase {m.group(0)!r} — live is "
                f"{live_reg} registered, {live_orc} oracled"
            )


def test_documented_pytest_count_matches_collection(request):
    """The 'pytest N passed' lines in COVERAGE.md lagged HEAD in four
    straight rounds (r6-r9). On any FULL-suite run (the committed claim is
    about the full suite), the documented N must equal the number of
    collected tests. Partial runs (pytest tests/test_x.py) can't see the
    full collection and pass trivially."""
    items = request.session.items
    files = {str(getattr(i, "fspath", "")) for i in items}
    if len(files) < 15:  # partial invocation, not the full suite
        return
    body = open(os.path.join(REPO, "COVERAGE.md")).read()
    claims = [int(m) for m in re.findall(r"pytest[* ]+(\d+) passed", body)]
    assert claims, "COVERAGE.md lost its 'pytest N passed' line"
    # earlier claims are historical per-round summaries (point-in-time
    # facts about past rounds); only the LAST one states the current count
    n = claims[-1]
    assert n == len(items), (
        f"COVERAGE.md's current-round line claims 'pytest {n} passed' but "
        f"the full suite collects {len(items)} tests — regenerate the line"
    )


def test_scaleprobe_artifact_consistency():
    """VERDICT r9 items 1+8: the committed scale-probe artifact must stay
    coherent with the code — every probed name registered, every PROBES
    name present with both timings, no unexplained errors, no NEW
    single-partition exchanges at scale, and every >flag_ratio grower
    carries a written finding (the 'fix or written finding' contract)."""
    import json

    paths = glob.glob(os.path.join(REPO, "SCALEPROBE_r*.json"))
    assert paths, "no SCALEPROBE_r*.json artifact committed"
    newest = max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    with open(newest) as f:
        art = json.load(f)

    from tools.scaleprobe import PROBES

    rows = art["queries"]
    missing = [n for n in PROBES if n not in rows]
    assert not missing, f"{newest}: PROBES without artifact rows: {missing}"
    unknown = [n for n in rows if n not in registry.QUERIES]
    assert not unknown, f"{newest}: probed names not in registry: {unknown}"
    for n, e in rows.items():
        assert "err" not in e, (
            f"{newest}: {n} recorded an error — re-probe after fixing "
            f"(tools/scaleprobe.py --merge --only {n})"
        )
        assert e["t_base"] and e["t_scaled"], f"{newest}: {n} missing timings"
    assert not art["new_single_partition_exchanges_at_scale"], (
        f"{newest}: queries GAINED SinglePartition exchanges at scale: "
        f"{art['new_single_partition_exchanges_at_scale']}"
    )
    findings = art.get("findings", {})
    unexplained = [
        n for n in art["flagged_over_ratio"] if n not in findings
    ]
    assert not unexplained, (
        f"{newest}: flagged >{art['flag_ratio']}x growers without a "
        f"written finding: {unexplained}"
    )


def test_scaleprobe_30x_artifact_consistency():
    """VERDICT r10 item 2: the second-decade probe. The committed 30x
    heavy-tail artifact must stay coherent — every probed name registered
    and also present in the 10x artifact (so both decades of the trend
    line exist), both timings recorded, no errors, no new SinglePartition
    exchanges, a written finding for every >flag_ratio grower, and the
    centroid family (the round-10 quadratic class) must be in the tail."""
    import json

    paths = glob.glob(os.path.join(REPO, "SCALEPROBE30X_r*.json"))
    assert paths, "no SCALEPROBE30X_r*.json artifact committed"
    newest = max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    with open(newest) as f:
        art = json.load(f)
    assert art["factor"] == 30
    rows = art["queries"]
    for must in (
        "similarity_topk_ivf",
        "similarity_topk_ivfpq",
        "dedup_semdedup_clusters",
        "embedding_kmeans_assign",
    ):
        assert must in rows, f"{newest}: centroid-family probe {must} missing"
    unknown = [n for n in rows if n not in registry.QUERIES]
    assert not unknown, f"{newest}: probed names not in registry: {unknown}"
    ten_paths = glob.glob(os.path.join(REPO, "SCALEPROBE_r*.json"))
    ten = json.load(open(max(
        ten_paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1))
    )))
    not_in_ten = [n for n in rows if n not in ten["queries"]]
    assert not not_in_ten, (
        f"{newest}: 30x rows without a 10x trend point: {not_in_ten}"
    )
    for n, e in rows.items():
        assert "err" not in e, f"{newest}: {n} recorded an error"
        assert e["t_base"] and e["t_scaled"], f"{newest}: {n} missing timings"
    assert not art["new_single_partition_exchanges_at_scale"], (
        f"{newest}: queries GAINED SinglePartition exchanges at 30x: "
        f"{art['new_single_partition_exchanges_at_scale']}"
    )
    findings = art.get("findings", {})
    unexplained = [n for n in art["flagged_over_ratio"] if n not in findings]
    assert not unexplained, (
        f"{newest}: flagged >{art['flag_ratio']}x growers without a "
        f"written finding: {unexplained}"
    )


def test_scaleprobe_30x_fixedqps_and_trend_fields():
    """VERDICT r11 item 5 (round-12 guard): from r12 on, every 30x row
    must carry its 10x trend point as a first-class non-null field
    (trend_10x), and every ANN row must carry the fixed-QPS per-query
    ratio fields — per-query slopes are artifact data, not prose."""
    import json

    paths = glob.glob(os.path.join(REPO, "SCALEPROBE30X_r*.json"))
    assert paths
    newest = max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    rnd = int(re.search(r"r(\d+)", newest).group(1))
    if rnd < 12:
        return  # pre-fixed-QPS artifact layout
    with open(newest) as f:
        art = json.load(f)
    from tools.scaleprobe import ANN_FIXED_QPS

    for n, e in art["queries"].items():
        assert e.get("trend_10x") is not None, (
            f"{newest}: {n} missing its 10x trend point (re-run the 10x "
            f"artifact first, then the 30x probe stamps trend_10x)"
        )
        if n in ANN_FIXED_QPS:
            assert "fixedq_time_ratio" in e, (
                f"{newest}: ANN row {n} missing fixed-QPS fields"
            )


def test_scaleprobe_coverage_never_shrinks():
    """VERDICT r11 item 7: the newest scale-probe artifact must cover
    every query the previous one did — dropped probes hide regressions —
    unless the drop is disclosed in the artifact's 'dropped' map
    (name -> reason)."""
    import json

    for pattern in ("SCALEPROBE_r*.json", "SCALEPROBE30X_r*.json"):
        paths = sorted(
            glob.glob(os.path.join(REPO, pattern)),
            key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
        )
        if len(paths) < 2:
            continue
        prev, newest = paths[-2], paths[-1]
        with open(prev) as f:
            prev_q = set(json.load(f)["queries"])
        with open(newest) as f:
            art = json.load(f)
        dropped = set(art.get("dropped", {}))
        missing = prev_q - set(art["queries"]) - dropped
        assert not missing, (
            f"{newest} silently dropped probes {sorted(missing)} that "
            f"{prev} covered — re-add them or disclose in 'dropped'"
        )


def test_sweep_splices_disclosed_and_capped():
    """VERDICT r11 item 7: sweep artifacts must carry a machine-readable
    splice disclosure from r12 on — a header line 'splices: none' or
    'splices: name, name' (every name registered, at most 10), replacing
    the prose-only policing of spliced lines."""
    for pattern in ("CHECK_LOCAL_r*.md", "CHECK_LOCAL_SF0001_r*.md"):
        paths = glob.glob(os.path.join(REPO, pattern))
        assert paths
        newest = max(
            paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1))
        )
        rnd = int(re.search(r"r(\d+)", newest).group(1))
        if rnd < 12:
            continue  # prose-disclosure era
        with open(newest) as f:
            text = f.read()
        m = re.search(r"^splices: (.+)$", text, re.MULTILINE)
        assert m, f"{newest}: missing the 'splices: ...' disclosure line"
        val = m.group(1).strip()
        if val != "none":
            names = [x.strip() for x in val.split(",")]
            assert len(names) <= 10, (
                f"{newest}: {len(names)} splices exceeds the cap of 10 — "
                f"re-run the sweep instead of splicing"
            )
            unknown = [x for x in names if x not in registry.QUERIES]
            assert not unknown, f"{newest}: spliced non-queries {unknown}"


def test_documented_probe_ratios_match_committed_artifacts():
    """VERDICT r12 'minor' + r13 item 4 (the number-drift cousin of the
    count guards): any scale-probe ratio quoted in a COVERAGE round
    summary must match the COMMITTED artifact within rounding — round 12
    quoted a mid-round semdedup re-probe (24.5x) while the committed
    artifact read 37.1x. Each quoted (artifact, query) claim is pinned by
    a regex over COVERAGE.md; quoting a new ratio means adding its row
    here (same forcing function as the sweep-coverage guard)."""
    import json

    body = open(os.path.join(REPO, "COVERAGE.md")).read()
    claims = [
        (
            "SCALEPROBE30X_r12.json",
            "dedup_semdedup_clusters",
            r"30x 88\.7x -> \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r12.json",
            "dedup_semdedup_clusters",
            r"10x 16\.5x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r12.json",
            "dedup_jaccard_shingles",
            r"committed-\s+artifact ratio 133\.8x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r12.json",
            "graph_connected_components_star",
            r"141x ->\s+([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "dedup_simhash_clusters",
            r"re-probed 30x 109\.28x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "dedup_minhash_lsh",
            r"re-probed 30x: pairs\s+15\.7x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "dedup_minhash_lsh_clusters",
            r"clusters 20\.15x ->\s+([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_topk_lsh",
            r"LSH\s+total 97\.0x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_topk_pq",
            r"PQ\s+53\.6x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE_r13.json",
            "similarity_topk_lsh",
            r"10x: LSH 11\.55x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE_r13.json",
            "similarity_topk_pq",
            r"PQ 9\.7x ->\s+([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "dedup_semdedup_clusters",
            r"30x 72\.4x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE_r13.json",
            "dedup_semdedup_clusters",
            r"10x 11\.34x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE_r13.json",
            "dedup_jaccard_prefix_filter",
            r"first probe rows ([\d.]+)x at 10x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "dedup_jaccard_prefix_filter",
            r"first probe rows [\d.]+x at 10x / ([\d.]+)x\s+at 30x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_topk_ivf",
            r"IVF 30x 12\.73x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_topk_ivfpq",
            r"IVFPQ 10\.08x ->\s+([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_topk_cosine",
            r"topk_cosine [\d.]+x at 10x /\s+([\d.]+)x at 30x",
        ),
        (
            "SCALEPROBE30X_r13.json",
            "similarity_pairs_above",
            r"pairs_above [\d.]+x at\s+10x / ([\d.]+)x at 30x",
        ),
        # round-14 continuation quotes
        (
            "SCALEPROBE_r14.json",
            "pipeline_split_leakage_report",
            r"Final probe\s+rows: 10x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE30X_r14.json",
            "pipeline_split_leakage_report",
            r"Final probe\s+rows: 10x \*\*[\d.]+x\*\*, 30x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r14.json",
            "q18_large_volume_customers",
            r"10x\s+4\.29x -> \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE30X_r14.json",
            "q18_large_volume_customers",
            r"30x 9\.44x -> \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE30X_r14.json",
            "graph_kcore_trade",
            r"\*\*([\d.]+)x at 30x input\*\*",
        ),
        (
            "SCALEPROBE30X_r14.json",
            "udaf_user_value_trend",
            r"`udaf_user_value_trend` \(0\.95x @10x, ([\d.]+)x @30x",
        ),
        (
            "SCALEPROBE_r14.json",
            "pipeline_dsir_importance",
            r"Final probe rows: 10x \*\*([\d.]+)x\*\*, 30x\s+\*\*[\d.]+x\*\*\s+\(scaled wall\s+22\.2",
        ),
        (
            "SCALEPROBE30X_r14.json",
            "pipeline_dsir_importance",
            r"Final probe rows: 10x \*\*[\d.]+x\*\*, 30x\s+\*\*([\d.]+)x\*\*\s+\(scaled wall\s+22\.2",
        ),
        # round 15
        (
            "SCALEPROBE_r15.json",
            "graph_kcore_trade",
            r"10x 5\.94x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE30X_r15.json",
            "graph_kcore_trade",
            r"30x 11\.91x -> \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r15.json",
            "pipeline_contamination_screen",
            r"rows \*\*([\d.]+)x\*\* @10x / \*\*[\d.]+x\*\* @30x",
        ),
        (
            "SCALEPROBE30X_r15.json",
            "pipeline_contamination_screen",
            r"rows \*\*[\d.]+x\*\* @10x / \*\*([\d.]+)x\*\* @30x",
        ),
        (
            "SCALEPROBE_r15.json",
            "dedup_embedding_cosine_clusters",
            r"10x probe ratio 2\.33x -> ([\d.]+)x",
        ),
        (
            "SCALEPROBE_r15.json",
            "text_bm25_shingle_retrieval",
            r"bm25 10x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE30X_r15.json",
            "text_bm25_shingle_retrieval",
            r"bm25 10x \*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\*",
        ),
        # round 16
        (
            "SCALEPROBE_r16.json",
            "text_bm25_shingle_retrieval",
            r"bm25 10x\s+\*\*([\d.]+)x\*\* and 30x \*\*[\d.]+x\*\* \(r15",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "text_bm25_shingle_retrieval",
            r"bm25 10x\s+\*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\* \(r15",
        ),
        (
            "SCALEPROBE_r16.json",
            "graph_kcore_trade",
            r"kcore 10x ([\d.]+)x and 30x [\d.]+x \(r15",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "graph_kcore_trade",
            r"kcore 10x [\d.]+x and 30x ([\d.]+)x \(r15",
        ),
        (
            "SCALEPROBE_r16.json",
            "pipeline_quality_classifier",
            r"classifier 10x\s+\*\*([\d.]+)x\*\* and 30x \*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "pipeline_quality_classifier",
            r"classifier 10x\s+\*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE30X_r15.json",
            "multimodal_webp_lossless_decode",
            r"lossless 30x ([\d.]+)x -> \*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "multimodal_webp_lossless_decode",
            r"lossless 30x [\d.]+x -> \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r16.json",
            "pipeline_perplexity_buckets",
            r"perplexity 10x \*\*([\d.]+)x\*\* and 30x \*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "pipeline_perplexity_buckets",
            r"perplexity 10x \*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r16.json",
            "stream_quality_classifier",
            r"stream classifier 10x \*\*([\d.]+)x\*\* and 30x \*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "stream_quality_classifier",
            r"stream classifier 10x \*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r16.json",
            "text_winnowing_fingerprints",
            r"winnowing 10x \*\*([\d.]+)x\*\* and 30x\s+\*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "text_winnowing_fingerprints",
            r"winnowing 10x \*\*[\d.]+x\*\* and 30x\s+\*\*([\d.]+)x\*\*",
        ),
        (
            "SCALEPROBE_r16.json",
            "dedup_winnowing_pairs",
            r"winnowing pairs 10x \*\*([\d.]+)x\*\* and 30x \*\*[\d.]+x\*\*",
        ),
        (
            "SCALEPROBE30X_r16.json",
            "dedup_winnowing_pairs",
            r"winnowing pairs 10x \*\*[\d.]+x\*\* and 30x \*\*([\d.]+)x\*\*",
        ),
    ]
    for artifact, qname, rx in claims:
        m = re.search(rx, body)
        assert m, f"COVERAGE.md lost the {qname} ratio claim ({rx})"
        quoted = float(m.group(1))
        row = json.load(open(os.path.join(REPO, artifact)))["queries"][qname]
        actual = row["time_ratio"]
        assert abs(quoted - actual) <= 0.06 + 0.005 * actual, (
            f"COVERAGE.md quotes {quoted}x for {qname} but the committed "
            f"{artifact} reads {actual}x — quote the committed artifact"
        )


def test_documented_baseline_bench_rows_match_committed_artifacts():
    """VERDICT r13 item 4 (blemish a): the ONE bench row graded against
    the reference's published number (`ingest_csv_100k_fidelity` vs the
    38.6 rec/s throttle-bound baseline) drifted doc-vs-artifact in r13 —
    BENCH_NOTES quoted the quiet run-A bracket (1.022 s) while the
    committed run-E artifact read 1.761 s. The ratio-pinning guard above
    covers probe ratios only; this one covers the baseline-comparison
    bench quote: the LAST bold `ingest_csv_100k_fidelity **X s**` claim
    in BENCH_NOTES.md (the current-round statement — earlier matches are
    historical per-round records) must equal the NEWEST committed
    protocol artifact's row."""
    import json

    body = open(os.path.join(REPO, "BENCH_NOTES.md")).read()
    ms = re.findall(r"`ingest_csv_100k_fidelity` \*\*([\d.]+) s", body)
    assert ms, "BENCH_NOTES.md lost its bold csv-ingest baseline quote"
    quoted = float(ms[-1])
    with open(_newest_protocol_bench()) as f:
        actual = json.load(f)["queries"]["ingest_csv_100k_fidelity"]
    assert abs(quoted - actual) < 0.0005, (
        f"BENCH_NOTES.md's current csv-ingest quote ({quoted} s) != the "
        f"committed {os.path.basename(_newest_protocol_bench())} row "
        f"({actual} s) — quote the committed artifact, not a bracket run"
    )
