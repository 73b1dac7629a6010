"""The benchmark's workloads. Each drives the program only through its
public functions and checks every result it measures.

- ``ingest``: ``pipeline.run_batch`` over raw JSON telemetry written by
  ``testing.write_raw_batches``; parse, validate, gate and parquet write,
  no shuffle.
- ``analytics``: five scan/shuffle-join/aggregate/window queries and one
  text operator (normalized line scrub) into the noop sink.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

import datagen
from oracle import Oracle
from probes import SparkCounters, Tracer

# Tables each query reads; their parquet row counts are the query's input
# rows (a table read twice by one query is counted once).
QUERY_TABLES = {
    "q10_agg_distinct": ["orders"],
    "q13_window_topk_per_key": ["orders"],
    "q17_set_ops": ["orders"],
    "q31_range_join_bands": ["events"],
    "q86_tpch_q21_waiting_supplier": ["supplier", "orders", "lineitem"],
    "q209_normalized_line_scrub": ["documents"],
}


@dataclass(frozen=True)
class Sizes:
    sf: float
    n_docs: int


@dataclass
class OpResult:
    rows: int  # input rows the op processed
    error: str | None = None
    counts: dict | None = None
    spans: dict | None = None  # (start, end) perf_counter of each query


def _plateaued(times: list[float], tol: float = 0.05) -> bool:
    """True once neither of the last two warm-up ops beat the best earlier
    one by more than ``tol``."""
    if len(times) < 3:
        return False
    return min(times[-2:]) >= (1.0 - tol) * min(times[:-2])


class Workload:
    """Common driver: ``setup`` builds inputs, checks outputs once and warms
    up to a plateau; ``op`` is the measured unit."""

    max_warmup: int
    warmup_budget_s: float

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer,
                 counters: SparkCounters):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.counters = counters
        self.warmup_times: list[float] = []
        self.failures: list[str] = []
        self.failed_ops = 0

    def warm_up(self) -> None:
        """Untraced ops until op time plateaus, or the op budget or the time
        budget for ops after the first (cold) one is spent."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        try:
            while len(self.warmup_times) < self.max_warmup:
                t = time.perf_counter()
                res = self.op(-1 - len(self.warmup_times))
                self.warmup_times.append(time.perf_counter() - t)
                if res.error:
                    self.failed_ops += 1
                    self.failures.append(f"warm-up: {res.error}")
                if _plateaued(self.warmup_times):
                    break
                if sum(self.warmup_times[1:]) > self.warmup_budget_s:
                    break
        finally:
            self.tracer.enabled = traced


class Ingest(Workload):
    n_events = 50_000
    n_files = 8
    max_warmup = 12
    warmup_budget_s = 8.0

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from project_1_greentech_logistics_data_pipeline_spark import pipeline, testing

        self.pipeline = pipeline
        self.testing = testing
        self.raw_dir = os.path.join(self.work_dir, "raw")

    def setup(self) -> None:
        with self.tracer.span("testing.write_raw_batches"):
            self.expected = self.testing.write_raw_batches(
                self.raw_dir, n_events=self.n_events, n_files=self.n_files,
                seed=self.seed,
            )
        self.input_rows = self.expected["n_events"]
        self.warm_up()

    def op(self, op_id: int) -> OpResult:
        """One ``run_batch`` into a fresh lake directory. The check, the
        file listing and the directory removal happen after the op's timed
        region: see ``after_op``."""
        self.lake = os.path.join(self.work_dir, f"lake-{op_id}")
        self.counters.set_group(f"op{op_id}")
        try:
            with self.tracer.span("pipeline.run_batch"):
                res = self.pipeline.run_batch(self.spark, self.raw_dir, self.lake)
        finally:
            self.counters.set_group(None)
        exp = self.expected
        counts = {
            "curated_rows": res.curated_count,
            "rejected_rows": res.rejected_count,
            "corrupt_rows": res.corrupt_count,
        }
        want = {
            "curated_rows": exp["curated"],
            "rejected_rows": exp["rejected"] + exp["n_corrupt_lines"],
            "corrupt_rows": exp["n_corrupt_lines"],
        }
        error = None if counts == want else f"run_batch counts {counts} != {want}"
        return OpResult(self.input_rows, error, counts)

    def groups(self, op_id: int) -> list[str]:
        return [f"op{op_id}"]

    def after_op(self) -> dict:
        files = size = 0
        for root, _, names in os.walk(self.lake):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        shutil.rmtree(self.lake, ignore_errors=True)
        return {"files_written": files, "bytes_written": size}

    def install_probes(self) -> None:
        """Time ``quality_gate`` and ``write_table`` as ``run_batch`` calls
        them, by wrapping the names ``pipeline`` looks up at call time."""
        tracer, p = self.tracer, self.pipeline
        self._orig = (p.quality_gate, p.write_table)
        gate, write = self._orig

        def quality_gate(*a, **kw):
            with tracer.span("pipeline.quality_gate"):
                return gate(*a, **kw)

        def write_table(*a, **kw):
            with tracer.span("sources.write_table"):
                return write(*a, **kw)

        p.quality_gate, p.write_table = quality_gate, write_table

    def remove_probes(self) -> None:
        self.pipeline.quality_gate, self.pipeline.write_table = self._orig


class Analytics(Workload):
    """One op is one pass over ``ANALYTICS``, in order, into the noop sink,
    with ``release_session_state`` after every query."""

    max_warmup = 6
    warmup_budget_s = 5.0

    def __init__(self, *args, queries: dict, oracle_sql: dict, **kwargs):
        super().__init__(*args, **kwargs)
        from project_1_greentech_logistics_data_pipeline_spark import session

        self.session = session
        self.names = list(ANALYTICS)
        self.fns = {n: queries[n] for n in self.names}
        self.sql = {n: oracle_sql[n] for n in self.names}
        self.table_dir = os.path.join(self.work_dir, "tables")

    def setup(self) -> None:
        with self.tracer.span("perfbench.write_tables"):
            datagen.write_tables(
                self.table_dir, self.seed, ANALYTICS_SIZES.sf, ANALYTICS_SIZES.n_docs
            )
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.table_dir, f"{t}.parquet")).metadata.num_rows
            for n in self.names for t in QUERY_TABLES[n]
        )
        t = time.perf_counter()
        self.check_outputs()
        self.warmup_times.append(time.perf_counter() - t)
        self.warm_up()

    def check_outputs(self) -> None:
        """The first (cold) pass: collect every query and compare it with its
        DuckDB twin."""
        tables = sorted({t for n in self.names for t in QUERY_TABLES[n]})
        oracle = Oracle(self.table_dir, tables)
        try:
            for n in self.names:
                df = self.fns[n](self.spark, self.table_dir)
                why = oracle.mismatch(self.sql[n], df.columns, df.collect())
                self.session.release_session_state(self.spark)
                if why:
                    self.failures.append(f"{n}: {why}")
        finally:
            oracle.close()
        self.failed_ops += bool(self.failures)

    def op(self, op_id: int) -> OpResult:
        """Each query's time covers its build, its run and the release."""
        tr, spark = self.tracer, self.spark
        spans = {}
        try:
            for n in self.names:
                t = time.perf_counter()
                self.counters.set_group(f"op{op_id}/{n}")
                with tr.span(f"operators.{n}"):
                    with tr.span(f"operators.{n}.build"):
                        df = self.fns[n](spark, self.table_dir)
                    df.write.format("noop").mode("overwrite").save()
                self.counters.set_group(None)
                with tr.span("session.release"):
                    self.session.release_session_state(spark)
                spans[n] = (t, time.perf_counter())
        finally:
            self.counters.set_group(None)
        return OpResult(self.input_rows, spans=spans)

    def groups(self, op_id: int) -> list[str]:
        return [f"op{op_id}/{n}" for n in self.names]

    def after_op(self) -> dict:
        return {}

    def install_probes(self) -> None:
        pass

    def remove_probes(self) -> None:
        pass


ANALYTICS = [
    "q10_agg_distinct",
    "q13_window_topk_per_key",
    "q17_set_ops",
    "q31_range_join_bands",
    "q86_tpch_q21_waiting_supplier",
    "q209_normalized_line_scrub",
]
ANALYTICS_SIZES = Sizes(sf=0.01, n_docs=500)
