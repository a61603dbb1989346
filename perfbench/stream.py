"""``stream_replay``: time-ordered event files drained through three
Structured Streaming twins of registry queries.

The events table is staged as ``n_files`` parquet files with increasing
modification times, so the file source hands them out in event-time
order, ``files_per_trigger`` at a time (a closed loop: the next
micro-batch starts when the previous one commits). Each pipeline is
drained with ``streaming.sinks.drain_available`` under a time bound
into a parquet file sink:

- ``a4_tumbling_count_keyed``: watermark + keyed 1-day tumbling count;
- ``a6_session_stats``: watermark + 6-hour session windows;
- ``st1_repeat_action_alert``: ``applyInPandasWithState`` keyed state.

Each drained sink must equal the registry query of the same name (its
batch twin) run on the same rows; for the append-mode windowed
pipelines only the windows the final watermark has closed are compared.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from demo_apache_flink_streaming_mode_spark.plans import registry
from demo_apache_flink_streaming_mode_spark.plans.queries_events import (
    SESSION_GAP_MS, ST1_THRESHOLD_MS)
from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
from demo_apache_flink_streaming_mode_spark.streaming import (
    pipelines, sinks, sources, stateful)

import datagen
from sparkstore import ExecStats, StatusStore
from spans import Tracer
from stats import count_exchanges

DELAY = "1 hour"
DAY_MS = 86_400_000
DRAIN_TIMEOUT_S = 60
PIPELINES = ("a4_tumbling_count_keyed", "a6_session_stats",
             "st1_repeat_action_alert")


def _build(name: str, src):
    if name == "a4_tumbling_count_keyed":
        return pipelines.tumbling_count(
            pipelines.with_event_time(src, "ts", DELAY), "ts", "1 day",
            keys=["user_id", "event_type"])
    if name == "a6_session_stats":
        return pipelines.session_stats(
            pipelines.with_event_time(src, "ts", DELAY), "ts", "6 hours",
            "user_id")
    return stateful.repeat_action_alert(
        src, "user_id", "ts", "event_type", action="error",
        threshold_ms=ST1_THRESHOLD_MS)


def _closed(name: str, row: dict, watermark_ms: int) -> bool:
    """Whether an append-mode pipeline has emitted this batch-twin row
    once the watermark reached ``watermark_ms``."""
    if name == "a4_tumbling_count_keyed":
        return row["window_start"] + DAY_MS <= watermark_ms
    if name == "a6_session_stats":
        return row["max_ts"] + SESSION_GAP_MS <= watermark_ms
    return True


def _iso_ms(s: str) -> int:
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(r) for r in pdf[cols].itertuples(index=False))


@dataclass
class DrainLayers:
    """Per-layer numbers of one traced pipeline drain."""
    construct_s: float = 0.0
    construct_jobs: int = 0
    plan_s: float = 0.0            # sum of progress queryPlanning
    exec_s: float = 0.0            # sum of progress addBatch
    shuffle_exchanges: int = 0
    microbatches: int = 0
    overhead_ms: float = 0.0       # triggerExecution - addBatch, summed
    wal_commit_ms: float = 0.0
    state_rows: int = 0
    state_memory_bytes: int = 0
    state_commit_ms: float = 0.0
    rows_dropped_by_watermark: int = 0
    exec: ExecStats = field(default_factory=ExecStats)


@dataclass
class Drain:
    name: str
    seconds: float
    input_rows: int
    batch_ms: list[float]          # triggerExecution of batches with input
    watermark_ms: int | None
    sink_dir: str
    ok: bool
    error: str = ""
    layers: DrainLayers | None = None

    @property
    def samples_ms(self) -> list[float]:
        return self.batch_ms


class StreamWorkload:
    kind = "stream"

    def __init__(self, name: str, rows: int, users: int, n_files: int,
                 files_per_trigger: int, warm_files: int) -> None:
        if rows % n_files:
            raise ValueError("rows must split evenly into n_files")
        self.name = name
        self.rows, self.users, self.n_files = rows, users, n_files
        self.files_per_trigger, self.warm_files = files_per_trigger, warm_files
        self.expected_rows: dict[str, int] = {}
        self._runs = 0

    def make_inputs(self, seed: int) -> None:
        self._events = datagen.events_table(
            np.random.default_rng([seed, 99]), self.rows, self.users)

    def stage(self, data_dir: str) -> None:
        """Write the full table (for the batch twins) and its time-ordered
        split into ``stream/`` plus a small ``warm/`` prefix."""
        events = self._events
        pq.write_table(events, os.path.join(data_dir, "events.parquet"))
        per = self.rows // self.n_files
        mtime = time.time() - self.n_files - 10
        for sub, count in (("stream", self.n_files), ("warm", self.warm_files)):
            os.makedirs(os.path.join(data_dir, sub))
            for i in range(count):
                path = os.path.join(data_dir, sub, f"part-{i:05d}.parquet")
                pq.write_table(events.slice(i * per, per), path)
                os.utime(path, (mtime + i, mtime + i))

    def _drain_all(self, spark, in_dir: str, data_dir: str, tracer: Tracer,
                   store: StatusStore | None, side_by_side: bool) -> list[Drain]:
        """Drain every pipeline over ``in_dir``: one after another, or
        (``side_by_side``) all started first and then drained in turn."""
        pending, drains = [], []
        for name in PIPELINES:
            pending.append(self._start(spark, name, in_dir, data_dir, tracer))
            if not side_by_side:
                drains.append(self._finish(*pending.pop(), tracer, store))
        return drains + [self._finish(*p, tracer, store) for p in pending]

    def _start(self, spark, name: str, in_dir: str, data_dir: str,
               tracer: Tracer) -> tuple:
        out_dir = self._out_dir(data_dir, name)
        t0, span_t0 = time.perf_counter(), tracer.now()
        src = sources.file_stream(spark, in_dir, TESTDATA_TABLES["events"],
                                  "parquet", self.files_per_trigger)
        q = (sinks.file_sink(_build(name, src), os.path.join(out_dir, "out"),
                             os.path.join(out_dir, "ckpt"), fmt="parquet")
             .trigger(availableNow=True).start())
        return name, q, out_dir, t0, span_t0, time.perf_counter() - t0

    def _finish(self, name: str, q, out_dir: str, t0: float, span_t0: float,
                construct_s: float, tracer: Tracer,
                store: StatusStore | None) -> Drain:
        # stop once one input-free batch has run: a pipeline with a
        # processing-time timeout never ends on its own
        sinks.drain_available(q, DRAIN_TIMEOUT_S, settle_batches=1)
        seconds = time.perf_counter() - t0
        progress = q.recentProgress
        fed = [p for p in progress if p["numInputRows"] > 0]
        wm = progress[-1]["eventTime"].get("watermark") if progress else None
        d = Drain(name, seconds, sum(p["numInputRows"] for p in fed),
                  [float(p["durationMs"]["triggerExecution"]) for p in fed],
                  _iso_ms(wm) if wm else None, os.path.join(out_dir, "out"),
                  ok=q.exception() is None)
        if not d.ok:
            d.error = str(q.exception())
        if store is not None:
            sid = tracer.add("drain", span_t0, span_t0 + seconds,
                             tracer.current(), pipeline=name)
            d.layers = self._layers(q, progress, fed, tracer, sid, store)
            d.layers.construct_s = construct_s
        return d

    def _layers(self, q, progress, fed, tracer: Tracer, parent: int | None,
                store: StatusStore) -> DrainLayers:
        lay = DrainLayers(microbatches=len(fed))
        for p in progress:
            dm = p["durationMs"]
            lay.plan_s += dm.get("queryPlanning", 0) / 1e3
            lay.exec_s += dm.get("addBatch", 0) / 1e3
            lay.overhead_ms += dm.get("triggerExecution", 0) - dm.get("addBatch", 0)
            lay.wal_commit_ms += dm.get("walCommit", 0)
            for op in p["stateOperators"]:
                lay.state_commit_ms += op.get("commitTimeMs", 0)
                lay.rows_dropped_by_watermark += op.get("numRowsDroppedByWatermark", 0)
        if progress and progress[-1]["stateOperators"]:
            last = progress[-1]["stateOperators"]
            lay.state_rows = sum(op["numRowsTotal"] for op in last)
            lay.state_memory_bytes = sum(op["memoryUsedBytes"] for op in last)
        execution = q._jsq.streamingQuery().lastExecution()
        if execution is not None:
            lay.shuffle_exchanges = count_exchanges(
                execution.executedPlan().toString())
        lay.exec = store.group_stats(str(q.runId))
        epoch = time.time() - tracer.now()
        for p in progress:
            start = _iso_ms(p["timestamp"]) / 1e3 - epoch
            tracer.add("microbatch", start,
                       start + p["durationMs"]["triggerExecution"] / 1e3, parent,
                       batch_id=p["batchId"], input_rows=p["numInputRows"],
                       duration_ms=dict(p["durationMs"]))
        return lay

    # --- setup -----------------------------------------------------------
    def warm_up(self, spark, data_dir: str) -> None:
        """One small drain per pipeline, side by side (the first drain of
        a pipeline in a fresh JVM is much slower than later ones)."""
        self._drain_all(spark, os.path.join(data_dir, "warm"), data_dir,
                        Tracer(False), None, side_by_side=True)

    def _out_dir(self, data_dir: str, name: str) -> str:
        self._runs += 1
        return os.path.join(data_dir, "drains", f"{self._runs:04d}-{name}")

    def check_warm_up(self, spark, warm, data_dir: str) -> tuple[int, list[str]]:
        return 0, []  # the full-size drains of each pass are checked

    def check_pass(self, spark, data_dir: str, drains: list[Drain]) -> list[str]:
        """Each drained sink against its batch twin on the same rows; once
        a pipeline has passed, later drains need only its row count."""
        problems = []
        for d in drains:
            if not d.ok:
                continue
            if d.name in self.expected_rows:
                n = spark.read.parquet(d.sink_dir).count()
                if n != self.expected_rows[d.name]:
                    problems.append(f"{d.name}: sink has {n} rows, expected "
                                    f"{self.expected_rows[d.name]}")
                continue
            sink = _rows(spark.read.parquet(d.sink_dir).toPandas())
            twin = registry.get(d.name).fn(spark, data_dir).toPandas()
            if d.name != "st1_repeat_action_alert":
                if d.watermark_ms is None:
                    problems.append(f"{d.name}: no watermark reported")
                    continue
                keep = [_closed(d.name, r, d.watermark_ms)
                        for r in twin.to_dict("records")]
                twin = twin[keep]
            if sink != _rows(twin):
                problems.append(f"{d.name}: sink has {len(sink)} rows, "
                                f"batch twin {len(twin)}; contents differ")
            else:
                self.expected_rows[d.name] = len(sink)
        return problems

    # --- measured passes -------------------------------------------------
    def run_pass(self, spark, data_dir: str, tracer: Tracer,
                 store: StatusStore | None) -> list[Drain]:
        drains = self._drain_all(spark, os.path.join(data_dir, "stream"),
                                 data_dir, tracer, store, side_by_side=False)
        for d in drains:
            if d.ok and d.input_rows != self.rows:
                d.ok, d.error = False, f"drained {d.input_rows} of {self.rows} rows"
        return drains

    def load_sources(self, spark, data_dir: str) -> float:
        t0 = time.perf_counter()
        load_table(spark, data_dir, "events")
        return time.perf_counter() - t0
