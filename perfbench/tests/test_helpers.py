"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]

import procstat  # noqa: E402
from stats import count_exchanges, percentile, tail  # noqa: E402


# --- tail percentile ---------------------------------------------------------

def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([7.0], 99) == 7.0


def test_tail_needs_ten_beyond():
    assert tail([1.0] * 19) is None                       # p50 leaves 9 beyond
    assert tail([float(i) for i in range(20)]) == (50.0, 9.0)
    assert tail([float(i) for i in range(40)]) == (75.0, 29.0)
    assert tail([float(i) for i in range(100)])[0] == 90.0
    assert tail([float(i) for i in range(200)])[0] == 95.0
    assert tail([float(i) for i in range(1000)]) == (99.0, 989.0)


def test_tail_counts_samples_strictly_beyond_rank():
    xs = [float(i) for i in range(1, 101)]
    p, v = tail(xs)
    assert sum(x > v for x in xs) >= 10
    # the next rung up would leave fewer than ten beyond
    assert sum(x > percentile(xs, 95) for x in xs) < 10


def test_tail_order_independent():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(xs) == tail(sorted(xs))


# --- /proc reader -------------------------------------------------------------

def test_parse_stat_command_with_spaces_and_parens():
    tick = os.sysconf("SC_CLK_TCK")
    fields = ["S", "41"] + ["0"] * 9 + [str(3 * tick), str(tick)] + ["0"] * 30
    text = f"1234 (odd ) name (x)) {' '.join(fields)}\n"
    ppid, cpu = procstat.parse_stat(text)
    assert ppid == 41
    assert cpu == pytest.approx(4.0)


def test_parse_status_kb():
    text = "Name:\tjava\nVmHWM:\t  204800 kB\nVmRSS:\t  102400 kB\n"
    assert procstat.parse_status_kb(text, "VmRSS") == 102400
    assert procstat.parse_status_kb(text, "VmHWM") == 204800
    assert procstat.parse_status_kb(text, "VmSwap") == 0


def test_parse_host_steal():
    text = ("cpu  100 5 20 800 3 0 2 70 0 0\n"
            "cpu0 25 1 5 200 1 0 1 17 0 0\n")
    assert procstat.parse_host_steal(text) == (70, 1000)
    with pytest.raises(ValueError):
        procstat.parse_host_steal("intr 1 2 3\n")


def test_host_steal_reads_this_machine():
    steal, total = procstat.host_steal()
    assert 0 <= steal <= total and total > 0


def _fake_proc(root, pid, ppid, cmd, cpu_ticks, rss_kb, hwm_kb):
    d = root / str(pid)
    d.mkdir()
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(cpu_ticks), "0"] + ["0"] * 30
    (d / "stat").write_text(f"{pid} ({cmd.split()[0]}) {' '.join(fields)}\n")
    (d / "status").write_text(f"VmHWM:\t{hwm_kb} kB\nVmRSS:\t{rss_kb} kB\n")
    (d / "cmdline").write_bytes(cmd.replace(" ", "\0").encode())


def test_tree_meter_on_fake_proc(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 10, 1, "python3 run.py", 2 * tick, 100, 150)
    _fake_proc(tmp_path, 11, 10, "java -cp spark", 5 * tick, 1000, 1200)
    _fake_proc(tmp_path, 12, 11, "python3 -m pyspark.daemon", 1 * tick, 50, 60)
    _fake_proc(tmp_path, 99, 1, "unrelated", 50 * tick, 9000, 9000)
    m = procstat.TreeMeter(root=10, proc=str(tmp_path))
    assert m.cpu_s() == pytest.approx(8.0)
    assert m.python_cpu_s() == pytest.approx(1.0)
    assert m.peak_rss_kb == 150 + 1200 + 60
    # the worker exits: its CPU stays counted, the peak does not drop
    for f in (tmp_path / "12").iterdir():
        f.unlink()
    (tmp_path / "12").rmdir()
    m.poll()
    assert m.python_cpu_s() == pytest.approx(1.0)
    assert m.peak_rss_kb == 150 + 1200 + 60


def test_tree_meter_counts_jit_threads_apart(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 10, 1, "python3 run.py", 2 * tick, 100, 150)
    _fake_proc(tmp_path, 11, 10, "/usr/bin/java -cp spark", 9 * tick, 1000, 1200)
    fields = " ".join(["S", "10"] + ["0"] * 9 + [str(3 * tick), "0"])
    for tid, name in ((12, "C2 CompilerThre"), (13, "C1 CompilerThre"),
                      (14, "Executor task l")):
        d = tmp_path / "11" / "task" / str(tid)
        d.mkdir(parents=True)
        (d / "stat").write_text(f"{tid} ({name}) {fields}\n")
    m = procstat.TreeMeter(root=10, proc=str(tmp_path))
    assert m.cpu_s() == pytest.approx(11.0)
    assert m.jit_cpu_s() == pytest.approx(6.0)


def test_tree_meter_reads_this_process():
    m = procstat.TreeMeter()
    sum(i * i for i in range(200_000))
    m.poll()
    assert m.cpu_s() > 0
    assert m.peak_rss_kb > 1000


# --- Exchange counter ----------------------------------------------------------

_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[o_orderpriority#1], functions=[count(1)])
   +- Exchange hashpartitioning(o_orderpriority#1, 4), ENSURE_REQUIREMENTS, [plan_id=40]
      +- HashAggregate(keys=[o_orderpriority#1], functions=[partial_count(1)])
         +- Project [o_orderpriority#1]
            +- BroadcastHashJoin [o_orderkey#0], [l_orderkey#5], Inner, BuildRight
               :- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=31]
               :  +- FileScan parquet [o_orderkey#0,o_orderpriority#1]
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false])), [plan_id=36]
                  +- *(2) Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=35]
                     +- ReusedExchange [l_orderkey#5], Exchange RoundRobinPartitioning(4)
"""


def test_count_exchanges_skips_broadcast_and_reused():
    assert count_exchanges(_PLAN) == 3


def test_count_exchanges_final_adaptive_plan_only():
    plan = ("AdaptiveSparkPlan isFinalPlan=true\n"
            "+- == Final Plan ==\n"
            "   ShuffleQueryStage 0\n"
            "   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS\n"
            "+- == Initial Plan ==\n"
            "   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS\n"
            "   +- Exchange hashpartitioning(k#2, 4), ENSURE_REQUIREMENTS\n")
    assert count_exchanges(plan) == 1


def test_count_exchanges_none():
    assert count_exchanges("LocalTableScan [a#1]\n") == 0


# --- input generator ----------------------------------------------------------

def test_tables_are_seeded_and_match_declared_schemas():
    import datagen
    from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES

    a, b = datagen.make_tables(7, 0.001), datagen.make_tables(7, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.make_tables(8, 0.001)["events"].equals(a["events"])
    assert set(a) == set(TESTDATA_TABLES)
    for name, schema in TESTDATA_TABLES.items():
        assert a[name].column_names == [f.name for f in schema.fields]
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(ts)  # the stream workload replays events in order
