"""``sources.batch.load_table`` reads the declared schemas.

Every load takes its schema from ``schemas.TESTDATA_TABLES`` and its
footer facts from a pyarrow read, so it starts no Spark job. These tests
hold the declarations to what Spark would infer from the testdata, and
cover the footer cases the declared read has to get right: nanosecond
timestamps, a file rewritten in place, a column the file lacks and one
the declaration lacks.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F, types as T

from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES
from demo_apache_flink_streaming_mode_spark.session import ensure_runtime_confs
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

_SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.orderBy("event_id").collect()]


def _events(sf_dir: str) -> pa.Table:
    return pq.read_table(os.path.join(sf_dir, "events.parquet"))


def _as_nanos(events: pa.Table) -> pa.Table:
    i = events.schema.get_field_index("ts")
    return events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns")))


@pytest.mark.parametrize("sf", _SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_inferred(spark, sf):
    """Spark's inferred schema of each testdata table (names, types and
    nullability) is its declaration, and ``load_table`` returns it."""
    ensure_runtime_confs(spark)
    for name, declared in TESTDATA_TABLES.items():
        inferred = spark.read.parquet(os.path.join(sf, f"{name}.parquet")).schema
        assert inferred == declared, name
        assert load_table(spark, sf, name).schema == declared, name


def test_load_table_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_load_table_starts_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        for name in TESTDATA_TABLES:
            load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_load_table_reads_nanosecond_events(spark, sf_dir, tmp_path):
    """TIMESTAMP(NANOS) ``ts`` reads as nanos longs and comes back as the
    declared timestamp, equal row for row to the microsecond file."""
    pq.write_table(_as_nanos(_events(sf_dir)), tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == \
        pa.timestamp("ns")
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema["ts"].dataType == T.TimestampType()
    assert got.schema == TESTDATA_TABLES["events"]
    assert _rows(got) == _rows(load_table(spark, sf_dir, "events"))


def test_load_table_sees_a_file_rewritten_in_place(spark, sf_dir, tmp_path):
    path = tmp_path / "events.parquet"
    shutil.copyfile(os.path.join(sf_dir, "events.parquet"), path)
    events = _events(sf_dir)
    assert load_table(spark, str(tmp_path), "events").count() == events.num_rows
    fewer = events.slice(0, events.num_rows // 3)
    pq.write_table(_as_nanos(fewer), path)  # same path, ns instead of µs
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == TESTDATA_TABLES["events"]
    want = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").isin(fewer["event_id"].to_pylist()))
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == fewer.num_rows


def test_undeclared_column_raises(spark, sf_dir, tmp_path):
    events = _events(sf_dir)
    events = events.append_column("surprise", pa.array(range(events.num_rows)))
    pq.write_table(events, tmp_path / "events.parquet")
    with pytest.raises(ValueError, match="surprise"):
        load_table(spark, str(tmp_path), "events")


def test_missing_column_fails_at_analysis(spark, sf_dir, tmp_path):
    """A declared column the file lacks is not read as nulls."""
    pq.write_table(_events(sf_dir).drop(["props"]), tmp_path / "events.parquet")
    got = load_table(spark, str(tmp_path), "events")
    assert "props" not in got.columns
    with pytest.raises(AnalysisException):
        got.select("props")
