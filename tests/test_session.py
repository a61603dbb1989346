"""Runtime-conf normalization on a live session."""

from __future__ import annotations

from demo_apache_flink_streaming_mode_spark.session import (
    RUNTIME_CONFS, ensure_runtime_confs)


def test_ensure_runtime_confs_reapplies_after_reset(spark):
    ensure_runtime_confs(spark)
    for k in ("spark.sql.legacy.parquet.nanosAsLong",
              "spark.sql.parquet.inferTimestampNTZ.enabled",
              "spark.sql.streaming.checkpointFileManagerClass"):
        spark.conf.unset(k)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true"
    ensure_runtime_confs(spark)
    for k, v in RUNTIME_CONFS.items():
        assert spark.conf.get(k) == v, k
