"""Set-up, measured passes and metrics for one benchmark run.

A run sets up ``SETUPS`` times (session start, input staging, warm-up)
and reports the median as ``setup_s``; a batch workload's first warm-up
is checked against the oracle, untimed. After ``SETTLE_PASSES``
untimed passes it runs whole passes of the workload's fixed work for
``seconds`` (at least ``MIN_PASSES``; a pass starts only if a pass of
median length still fits in the window). Every pass is checked.
End-to-end metrics come from untraced passes only. With tracing on,
traced and untraced passes alternate, so the per-layer numbers and the
tracing overhead come from the same run.
"""

from __future__ import annotations

import os
import subprocess
import time
from statistics import median

from demo_apache_flink_streaming_mode_spark.session import get_spark

from batch import FAMILY, BatchWorkload
from procstat import TreeMeter, host_steal
from sparkstore import ExecStats, StatusStore
from spans import Tracer
from stats import tail
from stream import StreamWorkload

SETUPS = 3
MIN_PASSES = 1
# Untimed, checked passes between set-up and the measured window: the
# first batch passes after the last session restart are still ~5 %
# slower; a stream pass is 18 micro-batches, about as long as the whole
# measured window.
SETTLE_PASSES = {"batch": 2, "stream": 0}


class Session:
    """Owns the SparkSession (and the JVM behind it) for one run."""

    def __init__(self, app: str) -> None:
        self.app = app
        self.spark = None

    def restart(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(self.app)
        return self.spark

    def close(self, timeout_s: float = 30.0) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout_s)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout_s)


def _exec_layers(ex: ExecStats, exec_s: float, cores: int) -> dict:
    return {
        "operators.exec_s": exec_s,
        "operators.jobs": ex.jobs,
        "operators.stages": ex.stages,
        "operators.tasks": ex.tasks,
        "operators.executor_run_s": ex.executor_run_s,
        "operators.executor_cpu_s": ex.executor_cpu_s,
        "operators.gc_s": ex.gc_s,
        "operators.shuffle_read_bytes": ex.shuffle_read_bytes,
        "operators.shuffle_write_bytes": ex.shuffle_write_bytes,
        "operators.spill_bytes": ex.spill_bytes,
        "operators.busy_share": (ex.executor_run_s / (exec_s * cores)
                                 if exec_s > 0 else 0.0),
        "operators.task_skew": ex.task_skew,
        "sources.input_rows": ex.input_rows,
        "sources.input_bytes": ex.input_bytes,
    }


def _pass_layers(wl, items, cores: int) -> tuple[dict, dict, dict]:
    """(layer totals, per-family layer totals, per-pipeline streaming
    numbers) for one traced pass."""
    groups: dict[str, list] = {}
    for it in items:
        if it.layers is not None:
            groups.setdefault(FAMILY[it.name], []).append(it)

    def totals(members) -> dict:
        ex, out = ExecStats(), {"plans.construct_s": 0.0,
                                "plans.construct_jobs": 0, "plans.plan_s": 0.0,
                                "plans.shuffle_exchanges": 0}
        exec_s = 0.0
        micro = {"streaming.microbatches": 0, "streaming.state_rows": 0,
                 "streaming.state_memory_bytes": 0,
                 "streaming.rows_dropped_by_watermark": 0}
        for it in members:
            lay = it.layers
            out["plans.construct_s"] += lay.construct_s
            out["plans.construct_jobs"] += lay.construct_jobs
            out["plans.plan_s"] += lay.plan_s
            out["plans.shuffle_exchanges"] += lay.shuffle_exchanges
            exec_s += lay.exec_s
            ex.add(lay.exec)
            if wl.kind == "stream":
                micro["streaming.microbatches"] += lay.microbatches
                micro["streaming.state_rows"] += lay.state_rows
                micro["streaming.state_memory_bytes"] += lay.state_memory_bytes
                micro["streaming.rows_dropped_by_watermark"] += \
                    lay.rows_dropped_by_watermark
        out.update(_exec_layers(ex, exec_s, cores))
        out.update(micro)
        return out

    every = [it for its in groups.values() for it in its]
    streaming = {}
    if wl.kind == "stream":
        for it in every:
            lay = it.layers
            streaming[it.name] = {
                "streaming.add_batch_ms": lay.exec_s * 1e3,
                "streaming.overhead_ms": lay.overhead_ms,
                "streaming.query_planning_ms": lay.plan_s * 1e3,
                "streaming.wal_commit_ms": lay.wal_commit_ms,
                "streaming.state_rows": lay.state_rows,
                "streaming.state_memory_bytes": lay.state_memory_bytes,
                "streaming.state_commit_ms": lay.state_commit_ms,
                "streaming.rows_dropped_by_watermark": lay.rows_dropped_by_watermark,
                "streaming.microbatches": lay.microbatches,
            }
    return (totals(every), {f: totals(m) for f, m in groups.items()},
            streaming)


def _medians(dicts: list[dict]) -> dict:
    if not dicts:
        return {}
    return {k: median([d[k] for d in dicts]) for k in dicts[0]}


def make_workload(name: str, oracle) -> BatchWorkload | StreamWorkload:
    from workloads import BATCH, STREAM
    if name in BATCH:
        queries, tables = BATCH[name]
        return BatchWorkload(name, queries, tables, oracle)
    return StreamWorkload(name, **STREAM[name])


def run(workload: str, seed: int, seconds: float, trace: bool,
        work_dir: str, oracle, cores: int) -> dict:
    """Run one workload; return every number the report needs."""
    meter = TreeMeter()
    wl = make_workload(workload, oracle)
    wl.make_inputs(seed)
    session = Session(f"perfbench-{workload}")
    problems: list[str] = []
    attempted = failed = 0
    setups = []
    try:
        for k in range(SETUPS):
            data_dir = os.path.join(work_dir, f"data{k}")
            os.makedirs(data_dir)
            t0 = time.perf_counter()
            spark = session.restart()
            t1 = time.perf_counter()
            wl.stage(data_dir)
            t2 = time.perf_counter()
            warm = wl.warm_up(spark, data_dir)
            t3 = time.perf_counter()
            setups.append({"setup_s": t3 - t0, "session_s": t1 - t0,
                           "stage_s": t2 - t1, "warm_up_s": t3 - t2})
            if k == 0:  # untimed: the oracle's own time is not set-up
                n, found = wl.check_warm_up(spark, warm, data_dir)
                attempted += n
                failed += len({p.split(":", 1)[0] for p in found})
                problems += found
        meter.poll()

        def checked(items) -> None:
            nonlocal attempted, failed
            attempted += len(items)
            bad = [f"{it.name}: {it.error}" for it in items if not it.ok]
            bad += wl.check_pass(spark, data_dir, items)
            failed += len({b.split(":", 1)[0] for b in bad})
            problems.extend(bad)

        off = Tracer(False)
        for _ in range(SETTLE_PASSES[wl.kind]):
            checked(wl.run_pass(spark, data_dir, off, None))

        store = StatusStore(spark.sparkContext) if trace else None
        tracer = Tracer(trace)
        untraced, traced = [], []
        steal0 = host_steal()
        t_end = time.perf_counter() + seconds
        took: list[float] = []  # each pass with its checks
        i = 0
        while (len(untraced) < MIN_PASSES or (trace and len(traced) < MIN_PASSES)
               or time.perf_counter() + median(took) <= t_end):
            t_pass = time.perf_counter()
            on = trace and i % 2 == 1
            load_s = wl.load_sources(spark, data_dir) if on else 0.0
            meter.poll()
            cpu0, py0, jit0 = meter.cpu_s(), meter.python_cpu_s(), meter.jit_cpu_s()
            with (tracer if on else off).span("pass", index=i):
                items = wl.run_pass(spark, data_dir, tracer if on else off,
                                    store if on else None)
            meter.poll()
            jit = meter.jit_cpu_s() - jit0
            (traced if on else untraced).append({
                "wall_s": sum(it.seconds for it in items),
                "cpu_s": meter.cpu_s() - cpu0 - jit,
                "jit_cpu_s": jit,
                "python_cpu_s": meter.python_cpu_s() - py0,
                "items": items, "load_s": load_s})
            checked(items)
            took.append(time.perf_counter() - t_pass)
            i += 1
        steal1 = host_steal()
        steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        meter.poll()
    finally:
        session.close()
    out = _report(wl, seed, setups, untraced, traced, meter, attempted,
                  failed, problems, tracer, cores)
    out["extra"]["host_steal_share"] = steal_share
    return out


def _report(wl, seed, setups, untraced, traced, meter, attempted, failed,
            problems, tracer, cores) -> dict:
    by_name: dict[str, list[float]] = {}
    for r in untraced:
        for it in r["items"]:
            by_name.setdefault(it.name, []).extend(it.samples_ms)
    pooled = [ms for v in by_name.values() for ms in v]
    t = tail(pooled)
    tail_p, tail_ms = t if t is not None else (100.0, max(pooled))
    e2e = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "wall_s": median([r["wall_s"] for r in untraced]),
        # the typical query (pipeline) at its typical time: a pooled
        # median would jump between the cost clusters of a small mix
        "op_p50_ms": median([median(v) for v in by_name.values()]),
        "op_tail_ms": tail_ms,
        # JIT compilation left out: warm-up work of the JVM, not of the
        # program, and how much of it lands in a pass varies per JVM
        "cpu_s": median([r["cpu_s"] for r in untraced]),
        "peak_rss_mb": meter.peak_rss_kb / 1024.0,
    }
    extra = {"tail_percentile": tail_p, "op_samples": len(pooled),
             "passes": len(untraced), "error_rate": failed / max(1, attempted),
             "jit_cpu_s": median([r["jit_cpu_s"] for r in untraced])}
    if wl.kind == "stream":
        extra["stream_rows_per_s"] = median(
            [wl.rows * len(r["items"]) / r["wall_s"] for r in untraced])
    out = {"workload": wl.name, "seed": seed, "kind": wl.kind,
           "end_to_end": e2e, "extra": extra, "attempted": attempted,
           "failed": failed, "problems": problems, "setups": setups,
           "op_median_ms": {k: median(v) for k, v in by_name.items()}}
    if traced:
        per_pass, fams, pipes = [], [], []
        for r in traced:
            layers, fam, streaming = _pass_layers(wl, r["items"], cores)
            layers["session.start_s"] = median([s["session_s"] for s in setups])
            layers["sources.load_s"] = r["load_s"]
            layers["operators.python_cpu_s"] = r["python_cpu_s"]
            per_pass.append(layers)
            fams.append(fam)
            pipes.append(streaming)
        out["per_layer"] = _medians(per_pass)
        out["families"] = {f: _medians([x[f] for x in fams if f in x])
                           for f in fams[0]}
        if wl.kind == "stream":
            out["pipelines"] = {p: _medians([x[p] for x in pipes])
                                for p in pipes[0]}
        out["tracing_overhead_share"] = (
            median([r["wall_s"] for r in traced]) / e2e["wall_s"] - 1.0)
        out["spans"] = tracer.to_json()
    return out
