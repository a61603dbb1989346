"""Mimic the driver's verify pass through the public contract.

Builds a PLAIN SparkSession (none of the engine's confs — the driver
won't have them), imports __spark_entry__, smoke-checks entry(), then
runs every queries() entry at the given sf dir and compares against
oracle_sql() via DuckDB (row count + columns + order-insensitive
values). Usage: python tools/driver_check.py [sf_dir]

The driver heap is ``SPARK_DRIVER_MEM`` (a JVM size such as ``4g``),
by default a quarter of host RAM, the rule ``tests/conftest.py`` uses.
"""
import os, sys, time
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from pyspark.sql import SparkSession

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# local[16], NOT bench.py's local[32]: correctness is
# scale-independent, and the smaller footprint lets this gate run
# alongside other work (sweeps, the driver's own runs) without
# starving the host — bench owns the full-width configuration. A
# fixed 32g heap let the JVM outgrow a 16 GB host and be OOM-killed
# mid-run, so the heap follows the host.
ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{ram_mb // 4}m")
spark = (SparkSession.builder.master("local[16]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.driver.memory", driver_mem)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as ep
from tests.oracle import compare, duckdb_con

t0 = time.time()
rows = ep.entry(spark).collect()
print(f"SMOKE entry(): {len(rows)} rows in {time.time()-t0:.1f}s  schema-stable={len(set(tuple(r.asDict().keys()) for r in rows[:5]))<=1}")
assert len(rows) > 0

qs, oracles = ep.queries(), ep.oracle_sql()
con = duckdb_con(sf_dir)
fails = []
for name, fn in qs.items():
    t0 = time.time()
    try:
        if name in oracles:
            problems = compare(fn(spark, sf_dir), con, oracles[name])
            status = "OK " if not problems else "FAIL"
            if problems:
                fails.append((name, problems))
        else:
            n = fn(spark, sf_dir).count()
            status, problems = f"OK (rows-only, {n} rows)", []
    except Exception as e:
        status, problems = "ERROR", [str(e)[:200]]
        fails.append((name, problems))
    print(f"{status:12s} {name:32s} {time.time()-t0:6.1f}s {problems if problems else ''}")
print(f"\n{len(qs)-len(fails)}/{len(qs)} queries match; FAILURES: {[f[0] for f in fails]}")
sys.exit(1 if fails else 0)
