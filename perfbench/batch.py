"""Batch workloads: registry queries run construct -> plan -> execute.

One *pass* runs every query of the workload once, in a fixed order.
An untraced pass times each query from ``Query.fn`` through
``toPandas``; a traced pass additionally tags each phase with a Spark
job group, forces Catalyst planning on its own
(``queryExecution().executedPlan()``) and reads the status store.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd

from demo_apache_flink_streaming_mode_spark.plans import registry
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

import datagen
from sparkstore import ExecStats, StatusStore
from spans import Tracer
from stats import count_exchanges
from workloads import DATA_SF

FAMILY = {q: fam for fam, members in registry.FAMILIES.items() for q in members}


@dataclass
class QueryLayers:
    """Per-layer numbers of one traced query execution."""
    construct_s: float = 0.0
    construct_jobs: int = 0
    plan_s: float = 0.0
    shuffle_exchanges: int = 0
    exec_s: float = 0.0
    exec: ExecStats = field(default_factory=ExecStats)


@dataclass
class Op:
    name: str
    seconds: float
    rows: int
    ok: bool
    error: str = ""
    layers: QueryLayers | None = None

    @property
    def samples_ms(self) -> list[float]:
        return [self.seconds * 1e3]


class _Collected:
    """A finished result in the shape ``tests.oracle.compare`` reads
    (it calls ``toPandas()`` on its first argument)."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class BatchWorkload:
    kind = "batch"

    def __init__(self, name: str, queries: tuple[str, ...],
                 tables: tuple[str, ...], oracle) -> None:
        """``oracle`` is the repository's ``tests/oracle.py`` module."""
        self.name = name
        self._oracle = oracle
        self.queries = [registry.get(q) for q in queries]
        self.tables = tables
        self.expected_rows: dict[str, int] = {}
        self._inputs: dict = {}

    # --- setup -----------------------------------------------------------
    def make_inputs(self, seed: int) -> None:
        self._inputs = datagen.make_tables(seed, DATA_SF)

    def stage(self, data_dir: str) -> None:
        datagen.write_tables(self._inputs, data_dir)

    def warm_up(self, spark, data_dir: str) -> dict[str, pd.DataFrame | Exception]:
        """Run every query once; return each result, or what it raised."""
        out: dict[str, pd.DataFrame | Exception] = {}
        for q in self.queries:
            try:
                out[q.name] = q.fn(spark, data_dir).toPandas()
            except Exception as e:  # reported by check(), not fatal
                out[q.name] = e
        return out

    def check_warm_up(self, spark, results: dict[str, pd.DataFrame | Exception],
                      data_dir: str) -> tuple[int, list[str]]:
        """Compare warm-up results with each query's DuckDB oracle
        (row count only where the registry has no oracle); remember the
        row counts that every later execution must reproduce. Returns
        (queries checked, problems)."""
        problems = []
        con = self._oracle.duckdb_con(data_dir)
        try:
            for q in self.queries:
                pdf = results[q.name]
                if isinstance(pdf, Exception):
                    problems.append(f"{q.name}: {type(pdf).__name__}: {pdf}")
                    self.expected_rows[q.name] = -1  # every later run fails
                    continue
                self.expected_rows[q.name] = len(pdf)
                if q.oracle is None:
                    if len(pdf) == 0:
                        problems.append(f"{q.name}: empty result")
                    continue
                for p in self._oracle.compare(_Collected(pdf), con, q.oracle):
                    problems.append(f"{q.name}: {p}")
        finally:
            con.close()
        return len(self.queries), problems

    def check_pass(self, spark, data_dir: str, ops: list[Op]) -> list[str]:
        return []  # run_pass already held each result to its row count

    # --- measured passes -------------------------------------------------
    def run_pass(self, spark, data_dir: str, tracer: Tracer,
                 store: StatusStore | None) -> list[Op]:
        ops = []
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                if store is None:
                    rows, layers = len(q.fn(spark, data_dir).toPandas()), None
                else:
                    rows, layers = self._traced(spark, q, data_dir, tracer, store)
                err = ""
            except Exception as e:  # a failed query is counted, not fatal
                rows, layers, err = -1, None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            ok = not err and rows == self.expected_rows[q.name]
            if not ok and not err:
                err = f"{rows} rows, expected {self.expected_rows[q.name]}"
            ops.append(Op(q.name, dt, rows, ok, err, layers))
        return ops

    def _traced(self, spark, q, data_dir: str, tracer: Tracer,
                store: StatusStore) -> tuple[int, QueryLayers]:
        sc = spark.sparkContext
        lay = QueryLayers()
        tag = f"{q.name}:{time.monotonic_ns()}"
        with tracer.span("query", query=q.name, family=FAMILY[q.name]):
            sc.setJobGroup(f"{tag}:construct", q.name)
            with tracer.span("construct"):
                t0 = time.perf_counter()
                df = q.fn(spark, data_dir)
                lay.construct_s = time.perf_counter() - t0
            with tracer.span("plan"):
                t0 = time.perf_counter()
                plan = df._jdf.queryExecution().executedPlan().toString()
                lay.plan_s = time.perf_counter() - t0
            lay.shuffle_exchanges = count_exchanges(plan)
            sc.setJobGroup(f"{tag}:execute", q.name)
            with tracer.span("execute"):
                t0 = time.perf_counter()
                rows = len(df.toPandas())
                lay.exec_s = time.perf_counter() - t0
            sc._jsc.clearJobGroup()
        lay.exec = store.group_stats(f"{tag}:execute")  # settles the bus
        lay.construct_jobs = len(store.job_ids(f"{tag}:construct"))
        return rows, lay

    def load_sources(self, spark, data_dir: str) -> float:
        """Seconds for one direct ``load_table`` of each input table."""
        t0 = time.perf_counter()
        for t in self.tables:
            load_table(spark, data_dir, t)
        return time.perf_counter() - t0
