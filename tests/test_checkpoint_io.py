"""Streaming checkpoint commits fork no ``readlink`` process.

Without Hadoop's native library the local file system runs ``chmod`` and
``readlink`` as child processes. Spark's default ``FileContext``-based
checkpoint manager looks up the links of every path it renames (16
``readlink`` per state-store commit); the ``FileSystem``-based manager
that ``session.RUNTIME_CONFS`` selects renames with one ``rename(2)``.
A ``PATH`` shim logs every ``readlink`` and ``chmod`` the driver JVM
starts while a keyed tumbling count drains into a checkpointed file sink.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAY_US = 86_400_000_000


def _shim(bin_dir, tool: str, log) -> None:
    real = shutil.which(tool)
    assert real, f"no {tool} on PATH"
    path = bin_dir / tool
    path.write_text(f'#!/bin/sh\nprintf "%s\\n" "$*" >> "{log}"\n'
                    f'exec "{real}" "$@"\n')
    path.chmod(0o755)


def _stage_events(in_dir, n_files: int = 3, per_file: int = 20) -> None:
    """``n_files`` time-ordered parquet files of the events schema, with
    increasing modification times so the source replays them in order."""
    in_dir.mkdir()
    for f in range(n_files):
        n = f * per_file
        ts = [1_704_067_200_000_000 + (n + i) * _DAY_US // 8
              for i in range(per_file)]
        table = pa.table({
            "event_id": pa.array(range(n, n + per_file), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 3 for i in range(per_file)], pa.int64()),
            "event_type": ["click", "view"] * (per_file // 2),
            "value": [1.0] * per_file,
            "props": ["{}"] * per_file,
        })
        path = in_dir / f"part-{f:05d}.parquet"
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + f * 100,) * 2)


def test_checkpoint_commits_fork_no_readlink(tmp_path):
    bin_dir, logs = tmp_path / "bin", tmp_path / "logs"
    bin_dir.mkdir()
    logs.mkdir()
    for tool in ("readlink", "chmod"):
        _shim(bin_dir, tool, logs / f"{tool}.log")
    _stage_events(tmp_path / "in")
    ckpt, sink = tmp_path / "ckpt", tmp_path / "sink"

    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES
        from demo_apache_flink_streaming_mode_spark.session import get_spark
        from demo_apache_flink_streaming_mode_spark.streaming import (
            pipelines, sinks, sources)

        spark = get_spark("checkpoint_io", cpus=1)
        src = sources.file_stream(spark, {str(tmp_path / "in")!r},
                                  TESTDATA_TABLES["events"], "parquet", 1)
        counts = pipelines.tumbling_count(
            pipelines.with_event_time(src, "ts", "1 hour"), "ts", "1 day",
            keys=["user_id", "event_type"])
        q = (sinks.file_sink(counts, {str(sink)!r}, {str(ckpt)!r},
                             fmt="parquet")
             .trigger(availableNow=True).start())
        sinks.drain_available(q)
        assert q.exception() is None, q.exception()
        fed = sum(p["numInputRows"] for p in q.recentProgress)
        assert fed == 60, fed
        assert spark.read.parquet({str(sink)!r}).count() > 0
        spark.stop()
        print("OK")
    """))
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               SPARK_DRIVER_MEM="512m",
               SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("OK")

    def lines(tool):
        log = logs / f"{tool}.log"
        return log.read_text().splitlines() if log.exists() else []

    ours = (str(ckpt), str(sink))
    readlinks = [ln for ln in lines("readlink") if any(d in ln for d in ours)]
    assert readlinks == [], (f"{len(readlinks)} readlink processes on "
                             f"checkpoint/sink paths, e.g. {readlinks[:3]}")
    # the shim does intercept the JVM's shell-outs: files created under
    # the checkpoint still get a chmod each
    assert any(str(ckpt) in ln for ln in lines("chmod"))
