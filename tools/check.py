"""Local differential checker — mirrors the driver's DuckDB-oracle harness.

Usage:
    python tools/check.py [sf_dir] [query_name ...]

Note on scale factors: the correctness contract is sf0.01 (the driver's t2).
At sf0.1+ a handful of money-sum queries (q1 family) exceed the 2^53
decimal->double exactness bound (registry.py) and will show last-ULP
mismatches against DuckDB — that is a property of cross-engine comparison,
not of the engine; the pre-scaling pattern in stats_exact_moments is the
remedy if a larger-SF gate ever appears.
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.session import get_spark
from oe_batch_processing_spark.testing import compare, duckdb_connection


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    names = args or sorted(registry.QUERIES)

    con = duckdb_connection(sf_dir)
    spark = get_spark("check")

    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            spdf = registry.QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        sql = registry.ORACLE.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only, {len(spdf)} rows ({dt:.1f}s)")
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        mismatch = compare(spdf, odf)
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            n_fail += 1
        elif len(spdf) == 0:
            # 0 == 0 proves nothing: any bug that yields an empty frame
            # would "pass" (round-6 verdict: the m=2^16 bloom prefilter
            # did exactly that). Mark it so the sweep guard can demand an
            # explicit allowlist justification.
            print(f"PASS {name}: 0 rows (VACUOUS) ({dt:.1f}s)")
        else:
            print(f"PASS {name}: {len(spdf)} rows ({dt:.1f}s)")
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
