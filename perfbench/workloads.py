"""The benchmark's workloads: ``ingest`` and ``query_mix``.

Each workload generates its inputs from the seed, starts one session, warms
it up with untimed passes, then runs timed passes one operation at a time
and checks every operation's output outside its timed region. An operation
is one ``engine.run_ingest`` call (ops ``csv`` and ``rest``) or one query
execution; a pass is one run through all of a workload's operations.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing
from sparkstats import StatusReader

# ingest: lines per csv op and per rest op (REST_DOMAINS x REST_CONCURRENT
# requests in flight).
CSV_LINES = 40_000
REST_LINES = 800
REST_DOMAINS, REST_CONCURRENT = 2, 2

# query_mix: tables at this scale factor.
MIX_SF = 0.01
# Name -> tables its recipe is specified over (for records_per_s).
MIX = {
    # fixed per-query floor
    "q6_forecast_revenue": ("lineitem",),
    "agg_count_distinct": ("orders",),
    # shuffle and join
    "q18_large_volume_customers": ("orders", "lineitem", "customer"),
    # Python worker
    "multimodal_jpeg_decode": ("documents",),
    # many jobs, fired while the frame is built
    "graph_kcore_trade": ("orders", "lineitem"),
}


@dataclass
class Op:
    """One timed operation and what was learned about it afterwards."""

    name: str
    pass_no: int
    traced: bool
    wall_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    counters: Counter = field(default_factory=Counter)

    @property
    def trace_id(self) -> str:
        return f"{self.name}#{self.pass_no}"


class Workload:
    """Shared session handling; subclasses add inputs, warm-up and ops."""

    records_per_pass = 0
    # Pass walls keep falling for several passes after a cold start (JIT and
    # Python-worker start-up), so set-up runs untimed passes, and a run times
    # at least ``min_passes`` and reports medians. Each subclass sets both.
    warm_passes: int
    min_passes: int

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.spark = None
        self.reader: StatusReader | None = None
        self.tracer: tracing.Tracer | None = None

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        from oe_batch_processing_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.work, "tmp"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.reader = StatusReader(self.spark)

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def begin_op(self, op: Op) -> str:
        """Tag the op's Spark jobs with its own job group; returns the group."""
        self.spark.sparkContext.setJobGroup(op.trace_id, op.trace_id)
        if op.traced:
            self.tracer.trace_id = op.trace_id
        return op.trace_id

    def span(self, op: Op, name: str):
        return self.tracer.span(name) if op.traced else nullcontext()

    def group_job_count(self, group: str) -> int:
        return len(self.reader.group_jobs(group))

    # -- hooks -------------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed passes, so that the timed ones run near steady state."""
        for pass_no in range(-self.warm_passes, 0):
            for op in self.run_pass(pass_no, traced=False):
                if op.problems:
                    raise RuntimeError(f"warm-up {op.name}: {'; '.join(op.problems)}")

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> dict[str, str]:
        """Op name -> problem, for checks made once after the timed passes."""
        return {}

    # -- per-op Spark counters ---------------------------------------------
    def spark_counters(self, op: Op, group: str, sql_mark: int) -> dict[str, Counter]:
        """Add the op's Spark counters to ``op.counters``; returns its
        Python-worker counters by plan node, for the caller to attribute."""
        r = self.reader
        op.counters.update(r.job_counters(r.group_jobs(group)))
        py = r.python_counters(sql_mark)
        for node_counters in py.values():
            op.counters.update(node_counters)
        return py


# --- ingest -----------------------------------------------------------------


@dataclass
class IngestFile:
    """One generated input file and the per-recId outcome it must produce."""

    op_name: str
    path: str
    expect: gen.IngestExpectation
    rest: bool

    def __post_init__(self) -> None:
        n = self.expect.n_lines
        self.want_status = np.full(n + 1, "SUCCESS", dtype=object)
        self.want_code = np.full(n + 1, 200, dtype=np.int64)
        failed = list(self.expect.malformed) + (list(self.expect.rejected) if self.rest else [])
        self.want_status[failed] = "FAILED"
        self.want_code[failed] = 422


class IngestWorkload(Workload):
    """Each pass runs op ``csv`` (CSV_LINES lines, parquet success sink, no
    HTTP) and then op ``rest`` (REST_LINES lines POSTed to the stub)."""

    # Its ~2 s ops vary more from pass to pass than the mix does, so it times
    # more passes; their median also absorbs the first one's slower start.
    warm_passes = 1
    min_passes = 5

    def prepare(self) -> None:
        inputs = os.path.join(self.work, "inputs")
        os.makedirs(inputs, exist_ok=True)
        self.files = []
        for op_name, lines, rest, seed in (
            ("csv", CSV_LINES, False, self.seed),
            ("rest", REST_LINES, True, self.seed + 1),
        ):
            path = os.path.join(inputs, f"{op_name}.csv")
            expect = gen.write_ingest_csv(path, lines, seed, stub_seed=self.seed)
            self.files.append(IngestFile(op_name, path, expect, rest))
        self.records_per_pass = CSV_LINES + REST_LINES
        cap = REST_DOMAINS * REST_CONCURRENT
        self.stub = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "stub.py"),
             "--seed", str(self.seed), "--cap", str(cap)],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.stub.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"stub did not start: {line!r}")
        self.base_url = f"http://127.0.0.1:{int(line.split()[1])}"

    def _job(self, f: IngestFile, opdir: str):
        from oe_batch_processing_spark.engine import IngestJob
        from oe_batch_processing_spark.sinks.rest_sink import RestSinkOptions
        from oe_batch_processing_spark.sources.csv_source import CsvOptions

        rest = RestSinkOptions(
            app_base_url=self.base_url,
            model_api="records",
            max_concurrent=REST_CONCURRENT,
            min_time_ms=0,
            rate_domains=REST_DOMAINS,
        )
        return IngestJob(
            file_path=f.path,
            parser="csv",
            csv_options=CsvOptions(csv_headers=gen.CSV_HEADERS, csv_header_data_types=gen.CSV_TYPES),
            sink_path=None if f.rest else os.path.join(opdir, "success"),
            rest_options=rest if f.rest else None,
            ledger_dir=os.path.join(opdir, "ledger"),
        )

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        return [self._run_one(f, pass_no, traced) for f in self.files]

    def _run_one(self, f: IngestFile, pass_no: int, traced: bool) -> Op:
        from oe_batch_processing_spark import engine

        op = Op(f.op_name, pass_no, traced)
        opdir = os.path.join(self.work, "ops", f"{f.op_name}-{pass_no}")
        job = self._job(f, opdir)
        if f.rest:
            self._stub("/reset")
        group = self.begin_op(op)
        sql_mark = self.reader.sql_mark() if traced else 0
        t0 = time.perf_counter()
        try:
            with self.span(op, "engine.run_ingest"):
                res = engine.run_ingest(self.spark, job)
        except Exception as e:  # noqa: BLE001 — a failed op is reported, not fatal
            op.wall_s = time.perf_counter() - t0
            op.problems.append(f"run_ingest raised {type(e).__name__}: {e}"[:300])
            return op
        op.wall_s = time.perf_counter() - t0
        op.problems += self._check_ledger(f, res, opdir, op)
        if f.rest:
            op.problems += self._check_posts(f, op)
        if traced:
            for node, counters in self.spark_counters(op, group, sql_mark).items():
                key = "rest_python_run_s" if "statusCode" in node else "csv_python_run_s"
                op.counters[key] += counters["python_run_s"]
            op.counters["ledger_bytes"] = _dir_bytes(os.path.join(opdir, "ledger", "batch_status"))
        shutil.rmtree(opdir, ignore_errors=True)
        return op

    def _check_ledger(self, f: IngestFile, res, opdir: str, op: Op) -> list[str]:
        import pyarrow.parquet as pq

        problems = []
        want = f.expect.counts(f.rest)
        if res.counts != want:
            problems.append(f"counts {res.counts} != expected {want}")
        status = pq.read_table(os.path.join(opdir, "ledger", "batch_status")).to_pandas()
        n = f.expect.n_lines
        rec = status["fileRecordData"].map(lambda d: d["recId"]).to_numpy(dtype=np.int64)
        if len(status) != n:
            problems.append(f"BatchStatus has {len(status)} rows, expected {n}")
        elif not np.array_equal(np.sort(rec), np.arange(1, n + 1)):
            problems.append("BatchStatus recIds are not exactly 1..N once each")
        else:
            if (status["batchRunId"] != res.run.batch_run_id).any():
                problems.append("BatchStatus rows carry another batchRunId")
            bad = (status["statusText"].to_numpy() != f.want_status[rec]).sum()
            if bad:
                problems.append(f"{bad} BatchStatus rows have the wrong statusText")
            bad = (status["statusCode"].to_numpy() != f.want_code[rec]).sum()
            if bad:
                problems.append(f"{bad} BatchStatus rows have the wrong statusCode")
            errors = dict(zip(rec.tolist(), status["error"].tolist()))
            wrong = [
                r for r, kind in f.expect.malformed.items()
                if gen.ERROR_TEXT[kind] not in (errors.get(r) or "")
            ]
            if wrong:
                problems.append(f"{len(wrong)} malformed records lack their error text")
            transport = status["error"].fillna("").str.contains("transport error|job expired")
            op.counters["failed_records"] = int(transport.sum())
        runs = pq.read_table(os.path.join(opdir, "ledger", "batch_run")).to_pandas()
        if len(runs) != 1 or runs["batchRunId"].iloc[0] != res.run.batch_run_id:
            problems.append(f"{len(runs)} BatchRun rows, expected exactly this run's one")
        else:
            row = runs.iloc[0]
            got = {k: int(row[k]) for k in want}
            if got != want or row["error"] is not None:
                problems.append(f"BatchRun {got} error={row['error']!r} != {want}")
        if not f.rest:
            sink_rows = pq.read_table(os.path.join(opdir, "success")).num_rows
            if sink_rows != want["successCount"]:
                problems.append(f"success sink has {sink_rows} rows, expected {want['successCount']}")
        return problems

    def _stub(self, path: str) -> dict:
        data = b"" if path == "/reset" else None
        with urllib.request.urlopen(self.base_url + path, data=data, timeout=30) as resp:
            return json.loads(resp.read() or b"{}")

    def _check_posts(self, f: IngestFile, op: Op) -> list[str]:
        """Every parsed record was POSTed exactly once, and nothing else was."""
        problems = []
        stats = self._stub("/stats")
        posts = stats["posts"]
        want_keys = {gen.rec_key(r) for r in f.expect.parsed_ids()}
        missing = len(want_keys - posts.keys())
        extra = len(posts.keys() - want_keys)
        repeated = sum(1 for v in posts.values() if v != 1)
        if missing or extra or repeated:
            problems.append(
                f"POSTs: {missing} parsed records never sent, {extra} unexpected ids, "
                f"{repeated} ids sent more than once"
            )
        total_posts = sum(posts.values())
        op.counters["posts_per_record"] = total_posts / max(1, len(want_keys))
        op.counters["connections_per_post"] = stats["connections"] / max(1, total_posts)
        op.counters["inflight_mean"] = stats["inflight_mean"]
        cap = REST_DOMAINS * REST_CONCURRENT
        if stats["max_inflight"] > cap:
            problems.append(f"{stats['max_inflight']} requests in flight, cap is {cap}")
        return problems

    def close(self) -> None:
        super().close()
        stub = getattr(self, "stub", None)
        if stub is not None:
            stub.terminate()
            try:
                stub.wait(timeout=10)
            except subprocess.TimeoutExpired:
                stub.kill()
                stub.wait()
            stub.stdout.close()


# --- query mix --------------------------------------------------------------


class QueryMixWorkload(Workload):
    """Each pass runs every query of ``MIX`` once, in a seed-permuted order."""

    # Pass walls fall for about four passes after the collecting one (36-job
    # graph_kcore_trade most of all) before they level off; timing from there
    # keeps how far a run got down that curve out of its figures.
    warm_passes = 3
    min_passes = 4

    def __init__(self, work: str, seed: int, cores: int):
        # Spark gets half the cores. The mix is bound by planning and job
        # scheduling, not by task slots: its median pass was no slower on
        # local[2] than on local[4] of a 4-vCPU VM, while the spare cores
        # (JIT, GC, Python workers) cut the slowdown per 1% of host CPU steal
        # from about 10% to about 3%.
        super().__init__(work, seed, max(1, cores // 2))

    def prepare(self) -> None:
        self.data_dir = os.path.join(self.work, "inputs", "mix")
        self.rows = gen.write_tables(self.data_dir, MIX_SF, self.seed)
        self.records_per_pass = sum(self.rows[t] for tabs in MIX.values() for t in tabs)
        order = list(MIX)
        np.random.default_rng(self.seed).shuffle(order)
        self.order = order

    def _queries(self):
        import oe_batch_processing_spark.operators  # noqa: F401 — registers queries
        from oe_batch_processing_spark import registry

        return registry

    def warmup(self) -> None:
        """Run and collect every query once (the results are checked against
        the oracle after the timed passes), then the untimed passes."""
        registry = self._queries()
        self.results = {}
        for name in self.order:
            self.spark.catalog.clearCache()
            self.results[name] = registry.QUERIES[name](self.spark, self.data_dir).toPandas()
        super().warmup()

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        registry = self._queries()
        ops = []
        for name in self.order:
            op = Op(name, pass_no, traced)
            self.spark.catalog.clearCache()
            group = self.begin_op(op)
            if traced:
                sql_mark = self.reader.sql_mark()
                rdds0 = self.reader.persisted_rdds()
            t0 = time.perf_counter()
            try:
                with self.span(op, "query"):
                    with self.span(op, "operators.build"):
                        df = registry.QUERIES[name](self.spark, self.data_dir)
                    with self.span(op, "query.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failed op is reported, not fatal
                op.problems.append(f"{name} raised {type(e).__name__}: {e}"[:300])
            op.wall_s = time.perf_counter() - t0
            if traced and not op.problems:
                self.spark_counters(op, group, sql_mark)
                op.counters["persisted_rdds_left"] = self.reader.persisted_rdds() - rdds0
                op.counters["planning_ms"] = self.reader.planning_ms(df)
            ops.append(op)
        return ops

    def final_checks(self) -> dict[str, str]:
        """Hash-exact comparison of each query's warm-up result with its
        DuckDB oracle, made once per run after the timed passes."""
        from oe_batch_processing_spark.testing import compare, duckdb_connection

        registry = self._queries()
        con = duckdb_connection(self.data_dir)
        problems = {}
        try:
            for name in self.order:
                pdf = self.results[name]
                oracle = con.execute(registry.ORACLE[name]).fetchdf()
                mismatch = compare(pdf, oracle)
                if mismatch:
                    problems[name] = f"oracle mismatch: {mismatch}"[:300]
                elif len(pdf) == 0:
                    problems[name] = "returned no rows, so the oracle check is vacuous"
        finally:
            con.close()
        return problems


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


WORKLOADS = {
    "ingest": IngestWorkload,
    "query_mix": QueryMixWorkload,
}
