"""The engine's Python worker daemon (``worker_daemon``): its stat-checked
``zipimporter.invalidate_caches``, that sessions from ``get_spark`` run their
workers under it, and that those workers start from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from demo_apache_flink_streaming_mode_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport re-reads lazily; install() leaves it "
                           "alone (next test)")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    # restored at teardown, so the patch does not outlive the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_probe_a").X == 1
    reads = _count_reads(monkeypatch, archive)

    importlib.invalidate_caches()
    first = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == first  # unchanged archive: no directory re-read

    _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == first + 1
    assert importlib.import_module("wd_probe_b").Y == 2


def test_install_leaves_zipimport_alone_on_lazy_pythons(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_session_workers_run_the_patched_daemon(spark):
    def worker_state(batches):  # local, so cloudpickle ships it by value
        import sys
        import zipimport

        import pandas as pd
        for b in batches:
            yield pd.DataFrame({
                "installed": [hasattr(zipimport.zipimporter.invalidate_caches,
                                      "stat_checked")] * len(b),
                "lazy": [sys.version_info >= (3, 13)] * len(b)})

    rows = (spark.range(0, 16, 1, 4)
            .mapInPandas(worker_state, "installed boolean, lazy boolean")
            .distinct().collect())
    assert len(rows) == 1
    assert rows[0]["installed"] != rows[0]["lazy"]


def test_workers_start_outside_the_repo_without_pythonpath(tmp_path):
    """The daemon module must be importable by the workers even when the
    driver process was started elsewhere with no ``PYTHONPATH``."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from demo_apache_flink_streaming_mode_spark.session import get_spark

        def double(batches):
            for b in batches:
                yield b * 2

        spark = get_spark("worker_daemon_cwd", cpus=1)
        got = sorted(r.id for r in spark.range(0, 4)
                     .mapInPandas(double, "id long").collect())
        spark.stop()
        assert got == [0, 2, 4, 6], got
        print("OK")
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="512m", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("OK")
