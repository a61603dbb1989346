#!/usr/bin/env python3
"""Benchmark of the streaming engine: one workload per run.

    python3 perfbench/run.py --workload ref_ops --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):
``ref_ops`` and ``stream_replay``, the two in ``BENCHMARK.json``, plus
``llm_train`` and ``media_decode``, which run the same way but are left
out of ``BENCHMARK.json`` to keep its full set of runs within its time
budget. Inputs are generated from ``--seed`` inside a scratch directory
of the checkout, which is removed at exit.

Prints one human-readable line per metric, then, as the last line of
standard output, a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. A traced run also writes every per-layer number, the
per-family and per-pipeline rollups, the spans and the tracing overhead
to ``.perfbench_out/<workload>-seed<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "demo_apache_flink_streaming_mode_spark"
ORACLE = os.path.join(ROOT, "tests", "oracle.py")

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def host_settings(work_dir: str) -> dict[str, str]:
    """Launcher settings fitted to this host: every core, a driver heap
    that fits in a quarter of physical RAM (at most 2 GiB), local dirs
    and temp files inside the run's scratch directory, the repository
    root on every Python worker's import path, and a JVM that settles
    fast enough for a one-minute run."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work_dir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(512, min(2048, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        # -UsePerfData: no /tmp/hsperfdata_<user> file either.
        # TieredStopAtLevel=1: C1 only. With C2 the JIT was still compiling
        # (1-4 CPU s per pass) a minute into a run, and how far it had got
        # set pass times +-20 % from one JVM to the next; C1 settles within
        # set-up, at the price of slower JVM-side code than a warm C2.
        # A fixed set of compiler threads, so none exits with uncounted CPU.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:TieredStopAtLevel=1 "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _load_oracle():
    spec = importlib.util.spec_from_file_location("perfbench_oracle", ORACLE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _human(res: dict, settings: dict) -> list[str]:
    """All ten end-to-end metrics by name, with units (``n/a``
    where one does not apply to the workload); ``BENCHMARK.json`` bounds
    only some of them."""
    e, x, stream = res["end_to_end"], res["extra"], res["kind"] == "stream"

    def fmt(v, unit):
        return "n/a" if v is None else f"{v:.6g} {unit}"
    tail = (f"(p{x['tail_percentile']:g} of n={x['op_samples']})")
    rows = [
        ("setup_s", e["setup_s"], "s", f"(median of {len(res['setups'])} set-ups)"),
        ("wall_s", e["wall_s"], "s", f"(median of {x['passes']} passes)"),
        ("query_p50_s", None if stream else e["op_p50_ms"] / 1e3, "s", ""),
        ("query_tail_s", None if stream else e["op_tail_ms"] / 1e3, "s",
         "" if stream else tail),
        ("stream_rows_per_s", x.get("stream_rows_per_s"), "rows/s", ""),
        ("microbatch_p50_ms", e["op_p50_ms"] if stream else None, "ms", ""),
        ("microbatch_tail_ms", e["op_tail_ms"] if stream else None, "ms",
         tail if stream else ""),
        ("cpu_s", e["cpu_s"], "s",
         "(process tree, per pass, without JIT compiler threads)"),
        ("peak_rss_mb", e["peak_rss_mb"], "MB", "(process tree)"),
        ("error_rate", x["error_rate"], "share",
         f"({res['failed']} of {res['attempted']})"),
    ]
    notes = [("jit_cpu_s", x["jit_cpu_s"], "s", "(JVM JIT compiler threads, per pass)"),
             ("host_steal_share", x["host_steal_share"], "share",
              "(CPU time other guests took from this machine while measuring;"
              " every time above grows with it)")]
    lines = [f"{res['workload']:<14} {n:<20} {fmt(v, u):<22} {note}".rstrip()
             for n, v, u, note in rows + notes]
    lines.append(f"{res['workload']:<14} settings             " + " ".join(
        f"{k}={v}" for k, v in settings.items() if k != "PYTHONPATH"))
    lines += [f"{res['workload']:<14} problem              {p}"
              for p in res["problems"][:20]]
    return lines


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE)) and os.path.isfile(ORACLE)
            and os.path.isfile(BENCHMARK)):
        print(f"perfbench: {PACKAGE}/, tests/oracle.py and BENCHMARK.json "
              "must sit beside perfbench/ (run from a full checkout)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import NAMES
    if args.workload not in NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {NAMES}",
              file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    settings = host_settings(work_dir)
    os.makedirs(settings["TMPDIR"])
    os.environ.update(settings)
    cwd = os.getcwd()
    os.chdir(work_dir)  # spark-warehouse / metastore land in the scratch dir
    try:
        import harness
        res = harness.run(args.workload, args.seed, args.seconds,
                          bool(args.trace), work_dir, _load_oracle(),
                          int(settings["SPARK_GRAFT_CPUS"]))
    finally:
        os.chdir(cwd)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run still has its scratch dir there
            pass

    with open(BENCHMARK) as f:
        declared = json.load(f)
    for line in _human(res, settings):
        print(line)
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"settings": settings, **res}, f, indent=1, default=str)
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        units["operators.python_cpu_s"] = "s"
        for k, v in res["per_layer"].items():
            print(f"{args.workload:<14} {k:<36} {v:.6g} {units[k]}")
        print(f"{args.workload:<14} tracing_overhead     "
              f"{res['tracing_overhead_share']:+.3f} (traced/untraced wall - 1)")
        print(f"{args.workload:<14} trace                {os.path.relpath(path, cwd)}")
        values, section = res["per_layer"], "per_layer"
    else:
        values, section = res["end_to_end"], "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared[section]}
    print(json.dumps({"correct": res["failed"] == 0 and not res["problems"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
