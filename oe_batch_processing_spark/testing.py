"""One harness for running registered queries, plus the differential
comparator.

Callers: ``bench.py`` (``warm_session`` + ``time_query``),
``tools/scaleprobe.py`` (``time_query``), ``tools/check.py`` and
``tests/test_differential.py`` (``check_query``), ``tests/test_harness.py``,
and ``perfbench`` (``compare`` + ``duckdb_connection``).

Comparison contract mirrors the driver: row count + column-name set +
order-insensitive values. Values must match exactly — including doubles,
which is achievable because every aggregate goes through exact decimal
summation (registry.dsum) and every per-row double expression is composed of
IEEE-deterministic ops.

Both runners clear the session's cached frames after their action, because
queries return lazy frames and cannot release what they persist;
``time_query`` also clears before each timed run, so a repeat pays its own
cache build instead of reusing the previous repeat's.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Any

import duckdb
from pyspark.sql import DataFrame, SparkSession

from oe_batch_processing_spark import registry
from oe_batch_processing_spark.tables import TABLE_NAMES, load_table, table_path


@dataclass
class QueryRun:
    """What :func:`time_query` observed. ``walls`` holds one entry per
    completed timed run; errors are ``"Type: message"`` strings."""

    walls: list[float] = field(default_factory=list)
    rows: int | None = None
    df: DataFrame | None = None
    warmup_error: str | None = None
    error: str | None = None


@dataclass
class QueryCheck:
    """What :func:`check_query` observed: ``mismatch`` is None when Spark
    and the oracle agree (or the query is rows-only)."""

    mismatch: str | None
    rows: int
    wall_s: float


def _describe(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM, codegen and parquet footers with one cheap pass over
    every table, and spin up the Python/Arrow workers once, so per-query
    timings measure the queries, not first-touch session setup."""
    spark.range(1).count()
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()
    spark.range(0, 1000, 1, 8).mapInPandas(lambda it: it, schema="id long").count()


def time_query(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    *,
    repeat: int,
    warm_dir: str | None = None,
    action: str = "count",
) -> QueryRun:
    """Time ``repeat`` runs of a registered query at ``sf_dir``.

    One untimed ``count`` at ``warm_dir`` (when given) first compiles the
    query's generated code, so the timed runs measure steady-state,
    data-proportional cost. Each timed run builds the frame and executes
    ``action``: ``"count"`` (row count recorded) or ``"noop"`` (a noop-format
    write: every column of every row computed, nothing kept). Runs are
    labelled ``"<name> run<k>"`` in the Spark UI. The last built frame is
    kept with its executed plan already planned. Errors are recorded, not
    raised; timing stops at the first failed run."""
    fn = registry.QUERIES[name]
    run = QueryRun()
    if warm_dir:
        try:
            fn(spark, warm_dir).count()
        except Exception as exc:  # noqa: BLE001 — recorded for the caller
            run.warmup_error = _describe(exc)
    sc = spark.sparkContext
    try:
        for k in range(repeat):
            spark.catalog.clearCache()
            sc.setJobDescription(f"{name} run{k}")
            t0 = time.perf_counter()
            run.df = fn(spark, sf_dir)
            if action == "noop":
                run.df.write.format("noop").mode("overwrite").save()
            else:
                run.rows = run.df.count()
            run.walls.append(time.perf_counter() - t0)
        if run.df is not None:
            # plan the frame while its run's caches still exist, so a
            # later read of its executed plan shows the plan that ran
            run.df._jdf.queryExecution().executedPlan()
    except Exception as exc:  # noqa: BLE001 — recorded for the caller
        run.error = _describe(exc)
    finally:
        sc.setJobDescription(None)
        spark.catalog.clearCache()
    return run


def check_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    sf_dir: str,
) -> QueryCheck:
    """Build the query, collect it with ``toPandas`` and compare it with its
    oracle SQL on ``con``. A Spark error propagates; an oracle error is
    returned as the mismatch ``"oracle error: ..."``. ``wall_s`` covers the
    build and the collect."""
    t0 = time.perf_counter()
    try:
        spdf = registry.QUERIES[name](spark, sf_dir).toPandas()
        wall_s = time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()
    sql = registry.ORACLE.get(name)
    mismatch = None
    if sql is not None:
        try:
            odf = con.execute(sql).fetchdf()
        except duckdb.Error as exc:
            mismatch = f"oracle error: {exc}"
        else:
            mismatch = compare(spdf, odf)
    return QueryCheck(mismatch, len(spdf), wall_s)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def norm_cell(v: Any):
    if v is None:
        return ("N",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    return ("o", str(type(v).__name__), str(v))


def df_to_rows(pdf):
    """(sorted column names, sorted normalized row tuples) for a pandas DF."""
    import numpy as np

    cols = sorted(pdf.columns)
    out = []
    for t in pdf[cols].itertuples(index=False, name=None):
        out.append(
            tuple(norm_cell(v.tolist() if isinstance(v, np.ndarray) else v) for v in t)
        )
    out.sort()
    return cols, out


def compare(spark_pdf, oracle_pdf) -> str | None:
    """Return None when equal, else a human-readable mismatch description."""
    scols, srows = df_to_rows(spark_pdf)
    ocols, orows = df_to_rows(oracle_pdf)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    if srows != orows:
        n_bad = sum(1 for a, b in zip(srows, orows) if a != b)
        first = next((a, b) for a, b in zip(srows, orows) if a != b)
        return f"{n_bad}/{len(srows)} rows differ; first: spark={first[0]} oracle={first[1]}"
    return None
