"""Streaming-vs-batch parity (SURVEY.md §5.3).

The reference runs every pipeline in streaming mode; our correctness
gate is batch. These tests close the loop: feed the SAME rows through
the streaming form (file source -> availableNow -> memory sink) and the
batch form, and assert result-set equality.

Events are staged as CSV files (the reference's wire format) with
microsecond epoch longs so timestamps round-trip exactly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from demo_apache_flink_streaming_mode_spark.operators import joins, stateful as batch_stateful, windows
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
from demo_apache_flink_streaming_mode_spark.streaming import pipelines, sinks, sources, stateful
from pyspark.sql.types import LongType, StringType, StructField, StructType, DoubleType

EVENTS_CSV = StructType([
    StructField("event_id", LongType()),
    StructField("ts_us", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])

_N_FILES = 4


@pytest.fixture(scope="module")
def events_csv_dir(spark, sf_dir, tmp_path_factory):
    """Stage sf0.001 events as N CSV files (a monitored directory)."""
    d = tmp_path_factory.mktemp("events_csv")
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id", "event_type", "value")
          .withColumn("bucket", F.col("event_id") % _N_FILES))
    ev.write.partitionBy("bucket").mode("overwrite").csv(str(d))
    return str(d) + "/bucket=*"


def _typed(df):
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")


@pytest.fixture(scope="module")
def batch_events(spark, events_csv_dir):
    return _typed(spark.read.schema(EVENTS_CSV).csv(events_csv_dir))


@pytest.fixture(scope="module")
def stream_events(spark, events_csv_dir):
    return _typed(sources.file_stream(spark, events_csv_dir, EVENTS_CSV))


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _drain(df, name, mode="append"):
    q = sinks.run_to_memory(df, name, output_mode=mode)
    assert q.lastProgress is not None
    return q


def test_tumbling_count_parity(spark, batch_events, stream_events):
    _drain(pipelines.tumbling_count(stream_events, "ts", "1 hour"),
           "t_a3", mode="complete")
    got = _rows(spark.table("t_a3"), "window_start")
    want = _rows(windows.tumbling_count(batch_events, "ts", "1 hour"),
                 "window_start")
    assert got == want


def test_keyed_tumbling_parity(spark, batch_events, stream_events):
    _drain(pipelines.tumbling_count(stream_events, "ts", "1 day",
                                    keys=["user_id", "event_type"]),
           "t_a4", mode="complete")
    got = _rows(spark.table("t_a4"), "user_id", "event_type", "window_start")
    want = _rows(windows.tumbling_count(batch_events, "ts", "1 day",
                                        keys=["user_id", "event_type"]),
                 "user_id", "event_type", "window_start")
    assert got == want


def test_sliding_stats_parity(spark, batch_events, stream_events):
    _drain(pipelines.sliding_stats(stream_events, "ts", "2 hours", "1 hour"),
           "t_a5", mode="complete")
    got = _rows(spark.table("t_a5"), "window_start")
    want = _rows(windows.sliding_stats(batch_events, "ts", "2 hours", "1 hour"),
                 "window_start")
    assert got == want


def test_session_stats_parity(spark, batch_events, stream_events):
    _drain(pipelines.session_stats(stream_events, "ts", "6 hours", "user_id"),
           "t_a6", mode="complete")
    got = _rows(spark.table("t_a6"), "user_id", "session_start")
    want = _rows(windows.session_stats(batch_events, "ts", "6 hours", "user_id"),
                 "user_id", "session_start")
    assert got == want


def test_dynamic_session_parity(spark, batch_events, stream_events):
    """A13: per-record session gaps (Flink withDynamicGap analog) run
    as the SAME session_window expressions on the stream; the merged
    sessions must match the batch result exactly — including merges
    driven by a long-gap event spanning past its successors."""
    gap_ms = (F.when(F.col("event_type") == "error",
                     F.lit(10 * 3_600_000))
              .otherwise(F.lit(4 * 3_600_000)))
    _drain(windows.dynamic_session_stats(stream_events, "ts", "user_id",
                                         gap_ms),
           "t_a13", mode="complete")
    got = _rows(spark.table("t_a13"), "user_id", "session_start")
    want = _rows(windows.dynamic_session_stats(batch_events, "ts",
                                               "user_id", gap_ms),
                 "user_id", "session_start")
    assert got == want and len(got) > 0


def test_session_tie_parity_streaming(spark, tmp_path):
    """Boundary-tie rule holds in the STREAMING state-store merge too:
    exact-touch intervals (event at the running max of prior ends)
    MERGE — Flink's inclusive ``TimeWindow.intersects`` (r8 revert) —
    matching the batch operator, the DuckDB oracle and the property
    reference. Rows: ties at 1ms gaps, a fixed-gap tie at 5000ms, a
    long-gap event spanning past its successors, and a 1us-past-the-
    gap control that must still SPLIT."""
    rows = [(1, 0, 1, 1), (2, 1_000, 1, 1),                   # 1ms tie
            (3, 5_000_000, 2, 5_000), (4, 10_000_000, 2, 5_000),  # 5s tie
            (5, 0, 3, 100_000), (6, 10_000_000, 3, 10_000),
            (7, 50_000_000, 3, 10_000), (8, 200_000_000, 3, 10_000),
            (9, 0, 4, 1), (10, 1_001, 4, 1)]  # 1us past the gap
    d = tmp_path / "ties"
    d.mkdir()
    with open(d / "ties.csv", "w") as f:
        for eid, us, uid, gap_ms in rows:
            f.write(f"{eid},{us},{uid},g{gap_ms},1.0\n")

    def sessions(df):
        # per-row gap carried in event_type as "g<ms>"
        gap = F.substring("event_type", 2, 12).cast("long")
        return windows.dynamic_session_stats(df, "ts", "user_id", gap)

    s = _typed(sources.file_stream(spark, str(d), EVENTS_CSV))
    _drain(sessions(s), "t_ties", mode="complete")
    got = _rows(spark.table("t_ties"), "user_id", "session_start")
    batch = _typed(spark.read.schema(EVENTS_CSV).csv(str(d)))
    want = _rows(sessions(batch), "user_id", "session_start")
    assert got == want
    # and the boundary rule actually bit: exact touches merged (keys
    # 1 and 2 -> ONE session each, as Flink's testMergeConsecutiveWindows
    # demands), while 1us past the gap still split (key 4)
    per_key = {}
    for uid, *_ in got:
        per_key[uid] = per_key.get(uid, 0) + 1
    assert per_key == {1: 1, 2: 1, 3: 2, 4: 2}


def test_running_total_update_mode(spark, batch_events, stream_events):
    """A2: last update per key == the key's batch total."""
    _drain(pipelines.running_total(stream_events, "user_id", "value"),
           "t_a2", mode="update")
    # memory sink in update mode appends each emitted update; the final
    # snapshot per key is the last row emitted for it
    upd = spark.table("t_a2").collect()
    final = {}
    for r in upd:
        final[r["user_id"]] = r["running_sum"]
    want = {r["user_id"]: r["total"]
            for r in batch_events.groupBy("user_id")
            .agg(F.sum(F.col("value").cast("decimal(38,6)"))
                 .cast("double").alias("total")).collect()}
    assert final == want


def test_window_join_parity(spark, batch_events, stream_events):
    clicks_s = stream_events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    buys_s = stream_events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    _drain(pipelines.window_join(clicks_s, buys_s, "user_id", "ts",
                                 "1 hour", "10 minutes"), "t_j1")
    got = _rows(spark.table("t_j1"), "user_id", "window_start",
                "event_id_l", "event_id_r")

    clicks_b = batch_events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    buys_b = batch_events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    want = _rows(joins.window_join(clicks_b, buys_b, "user_id", "ts", "1 hour")
                 .select("user_id", "window_start", "event_id_l", "event_id_r"),
                 "user_id", "window_start", "event_id_l", "event_id_r")
    assert got == want


def test_st1_stateful_parity(spark, batch_events, stream_events):
    _drain(stateful.repeat_action_alert(
        stream_events, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000), "t_st1")
    got = _rows(spark.table("t_st1"), "user_id", "event_id")
    want = _rows(batch_stateful.repeat_action_alert(
        batch_events, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000), "user_id", "event_id")
    assert got == want
    assert len(got) > 0  # the fixture data must actually exercise alerts


def _has_protobuf() -> bool:
    # transformWithStateInPandas' driver worker speaks protobuf to the
    # JVM; without the package the query crashes at runtime (plan
    # construction and analysis are unaffected)
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def test_st1_transform_with_state_builds(spark, stream_events):
    """The modern-API ST1 must survive analysis: correct output schema,
    TransformWithStateInPySpark node in the plan. Execution needs
    protobuf (absent in this container) — covered by the parity test
    below when available."""
    out = stateful.repeat_action_alert_tws(
        stream_events, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000)
    assert [f.simpleString() for f in out.schema.fields] == [
        "user_id:bigint", "event_id:bigint", "time_diff_ms:bigint"]
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "TransformWithStateInPySpark" in plan


@pytest.mark.skipif(not _has_protobuf(),
                    reason="google.protobuf not installed: "
                           "transformWithStateInPandas runtime unavailable")
def test_st1_transform_with_state_parity(spark, batch_events, stream_events):
    """ST1 on the modern transformWithStateInPandas API (native state
    TTL) must produce exactly the legacy/batch answer."""
    _drain(stateful.repeat_action_alert_tws(
        stream_events, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000), "t_st1_tws")
    got = _rows(spark.table("t_st1_tws"), "user_id", "event_id")
    want = _rows(batch_stateful.repeat_action_alert(
        batch_events, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000), "user_id", "event_id")
    assert got == want
    assert len(got) > 0


def test_st2_stateful_parity(spark, batch_events, stream_events):
    _drain(stateful.action_durations(
        stream_events, "user_id", "ts", "event_type",
        start_action="signup", end_action="purchase"), "t_st2")
    got = _rows(spark.table("t_st2"), "user_id", "event_id")
    want = _rows(batch_stateful.action_durations(
        batch_events, "user_id", "ts", "event_type",
        start_action="signup", end_action="purchase")
        .select("user_id", "event_id", "prev_action", "duration_ms"),
        "user_id", "event_id")
    assert got == want
    assert len(got) > 0


def test_file_sink_roundtrip(spark, batch_events, stream_events, tmp_path):
    """K1: stream -> csv file sink -> batch read-back (row-exact)."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    proj = stream_events.select("event_id", "user_id", "event_type")
    q = (sinks.file_sink(proj, out, ckpt, fmt="csv")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    back = spark.read.schema("event_id long, user_id long, event_type string").csv(out)
    expected = batch_events.count()
    assert expected > 0
    assert back.count() == expected


def test_drain_available_does_not_raise_for_a_failed_query(spark,
                                                           stream_events):
    """A query that fails mid-drain ends the drain; the failure is read
    from ``q.exception()``, not raised by ``drain_available``."""
    boom = stream_events.select(F.raise_error(F.lit("boom")).alias("x"))
    q = (boom.writeStream.format("memory").queryName("t_drain_failed")
         .trigger(availableNow=True).start())
    sinks.drain_available(q, timeout_s=60)
    assert not q.isActive
    assert "boom" in str(q.exception())


def test_streaming_corpus_quality_dedup_parity(spark, sf_dir, tmp_path):
    """The LLM-pipeline composition on a document STREAM: exact dedup
    (first-arrival keeper) + quality scoring, all stateless/bounded
    ops, must yield exactly the batch pipeline's (text_hash, quality)
    set — identical texts score identically, so keeper identity
    drops out of the comparison."""
    from demo_apache_flink_streaming_mode_spark.operators.text import (
        quality_score)
    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs")
    docs.write.parquet(d)

    stream = (spark.readStream.schema(docs.schema).parquet(d)
              .withColumn("text_hash", F.md5("text")))
    kept = pipelines.dedup_stream(stream, ["text_hash"])
    scored = (quality_score(kept.select("doc_id", "text"))
              .join(kept.select("doc_id", "text_hash"), "doc_id"))
    sinks.run_to_memory(scored.select("text_hash", "quality"), "t_corpus_s")
    got = _rows(spark.table("t_corpus_s"), "text_hash")

    b = docs.withColumn("text_hash", F.md5("text")).dropDuplicates(["text_hash"])
    want = _rows(quality_score(b.select("doc_id", "text"))
                 .join(b.select("doc_id", "text_hash"), "doc_id")
                 .select("text_hash", "quality"), "text_hash")
    assert got == want
    assert len(got) > 0


def test_stream_static_anomaly_join_parity(spark, batch_events,
                                           stream_events):
    """Stream-static join: streamed rows scored against a batch-built
    per-type stats table flag exactly the rows the batch anomaly query
    flags."""
    stats = (batch_events.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(38,6)"))
                  .cast("double").alias("s1"),
                  F.sum((F.col("value") * F.col("value"))
                        .cast("decimal(38,6)")).cast("double").alias("s2"))
             .select("event_type",
                     (F.col("s1") / F.col("n")).alias("mean"),
                     F.sqrt(F.col("s2") / F.col("n")
                            - (F.col("s1") / F.col("n"))
                            * (F.col("s1") / F.col("n"))).alias("std")))
    out = pipelines.anomaly_stream(
        stream_events.select("event_id", "event_type", "value"),
        stats, "event_type", "value")
    _drain(out.select("event_type", "event_id", "z"), "t_anom")
    got = _rows(spark.table("t_anom"), "event_type", "event_id")
    want = _rows(
        pipelines.anomaly_stream(
            batch_events.select("event_id", "event_type", "value"),
            stats, "event_type", "value")
        .select("event_type", "event_id", "z"),
        "event_type", "event_id")
    assert got == want
    assert len(got) > 0


def test_rocksdb_state_store_parity(spark, batch_events, stream_events):
    """The documented 100 TB state-store config actually runs: the
    keyed tumbling aggregate under RocksDBStateStoreProvider (state
    off-heap + on-disk, the large-key-space provider) produces exactly
    the default-provider/batch answer."""
    conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf, None)
    spark.conf.set(
        conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        _drain(pipelines.tumbling_count(stream_events, "ts", "1 day",
                                        keys=["user_id"]),
               "t_rocks", mode="complete")
        got = _rows(spark.table("t_rocks"), "user_id", "window_start")
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    want = _rows(windows.tumbling_count(batch_events, "ts", "1 day",
                                        keys=["user_id"]),
                 "user_id", "window_start")
    assert got == want and len(got) > 0


def test_idempotent_foreach_batch_sink(spark, batch_events, stream_events,
                                       tmp_path):
    """K2 delta: the epoch-keyed foreachBatch sink is exactly-once
    under micro-batch replay.

    1. Drain the stream once; read-back must be row-exact.
    2. Simulate Spark's failure mode (same epoch_id replayed with the
       same data after a crash between write and checkpoint commit) by
       re-writing epoch 0's payload through the sink's own batch
       writer; the read-back must be unchanged — no duplicates.
    """
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    proj = stream_events.select("event_id", "user_id", "event_type")
    q = (sinks.idempotent_foreach_batch_sink(proj, out, ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    expected = batch_events.count()
    assert expected > 0
    assert spark.read.parquet(out).count() == expected

    # replay epoch 0: exactly what a recovered query re-delivers
    # (materialized first — a real replay re-reads the SOURCE, not the
    # sink directory it is about to overwrite)
    epoch0_rows = spark.read.parquet(f"{out}/epoch=0").collect()
    assert len(epoch0_rows) > 0
    replay = spark.createDataFrame(
        epoch0_rows, "event_id long, user_id long, event_type string")
    replay.write.format("parquet").mode("overwrite").save(f"{out}/epoch=0")
    assert spark.read.parquet(out).count() == expected  # still no dups


def test_watermark_drops_late_rows(spark, tmp_path):
    """W2: a row older than watermark - delay is dropped from the agg.

    Two micro-batches via checkpoint restart: batch 1 advances the
    watermark past t0+2h; batch 2 delivers a t0 row (too late) and a
    fresh row. The late row must not appear; the metric records it.
    """
    d, ckpt, out = tmp_path / "in", str(tmp_path / "ckpt"), str(tmp_path / "out")
    d.mkdir()
    t0 = 1_700_000_000_000_000  # epoch micros

    def run_batch():
        s = _typed(sources.file_stream(spark, str(d), EVENTS_CSV))
        agg = pipelines.tumbling_count(
            pipelines.with_event_time(s, "ts", "1 hour"), "ts", "1 hour")
        q = (sinks.file_sink(agg, out, ckpt, fmt="csv")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    HOUR_US = 3_600_000_000
    (d / "f1.csv").write_text(
        f"1,{t0},10,click,1.0\n2,{t0 + 3 * HOUR_US},10,click,1.0\n")
    run_batch()
    # watermark now max_ts - 1h = t0 + 2h; a t0 row is > 1 window late
    (d / "f2.csv").write_text(
        f"3,{t0 + 1},10,click,1.0\n4,{t0 + 4 * HOUR_US},10,click,1.0\n")
    q = run_batch()
    counts = {r["window_start"]: r["n"]
              for r in spark.read.schema("window_start long, n long")
              .csv(out).collect()}
    w0 = (t0 // 1000 // 3_600_000) * 3_600_000  # t0's aligned hour bucket
    # t0's window closed in batch 1 with n=1; the late row (event 3) is gone
    assert counts.get(w0) == 1
    from demo_apache_flink_streaming_mode_spark.streaming import runner
    metrics = runner.watermark_metrics(q)
    assert metrics["dropped_rows"] == 1
    assert metrics["watermark"] is not None


def test_sliding_count_window_stream_parity(spark, batch_events,
                                            stream_events):
    """Streaming countWindow(size, slide) (bounded keyed state, emits
    on every slide-th record) == batch sliding_count_window_agg on the
    same rows, including the DECIMAL-exact sum."""
    size, slide = 7, 3
    _drain(stateful.count_window_stream(
        stream_events, "user_id", "ts", "value", size, slide), "t_cws")
    got = sorted(tuple(r) for r in spark.table("t_cws").collect())
    want = sorted(tuple(r) for r in windows.sliding_count_window_agg(
        batch_events, "user_id", ["ts", "event_id"], "value", size, slide)
        .select("user_id", "window_id", "trigger_rn", "n",
                "sum_value", "min_value", "max_value").collect())
    assert got == want and len(got) > 0


def test_moving_features_stream_parity(spark, batch_events, stream_events):
    """Streaming rolling-feature extraction (bounded keyed state, one
    feature row per record) == batch moving_features on the same rows,
    including the windowed DECIMAL-exact moving sum and the NULL
    prev_value/delta on each key's first row."""
    window = 3
    _drain(stateful.moving_features_stream(
        stream_events, "user_id", "ts", "value", window), "t_mvf")
    got = sorted(tuple(r) for r in spark.table("t_mvf").collect())
    from demo_apache_flink_streaming_mode_spark.operators import timeseries
    want = sorted(tuple(r) for r in timeseries.moving_features(
        batch_events, "user_id", ["ts", "event_id"], "value", window)
        .select("user_id", "event_id", "value", "prev_value", "delta",
                "moving_sum", "n_window").collect())
    assert got == want and len(got) > 0
    assert any(r[3] is None for r in got)  # first-row NULL lag survives


def test_w3_drop_metric_equals_batch_classifier(spark, tmp_path):
    """W3 loop-closer (r4 VERDICT #7): on the same out-of-order feed,
    the streaming drop metric (numRowsDroppedByWatermark, summed over
    runs by runner.watermark_metrics) must EQUAL the batch twin
    classify_late's is_late count — the documented W3 delta measured,
    not just narrated.

    One row per micro-batch (checkpoint-restart per file) so the
    streaming watermark granularity (advances at batch boundaries)
    matches the classifier's row granularity exactly; late rows are
    engineered deep-late (behind the watermark by more than any
    boundary effect) and on-time rows strictly ahead of it, so the
    equality is exact rather than gray-zone-dependent.
    """
    d, ckpt, out = tmp_path / "in", str(tmp_path / "ckpt"), str(tmp_path / "out")
    d.mkdir()
    from demo_apache_flink_streaming_mode_spark.operators.eventtime import (
        classify_late)
    from demo_apache_flink_streaming_mode_spark.streaming import runner
    t0 = 1_700_000_000_000_000  # epoch micros
    HOUR_US = 3_600_000_000
    # (event_id, ts) in arrival order; delay = 1 hour
    feed = [(1, t0 + 3 * HOUR_US),   # wm -> t0+2h
            (2, t0),                 # LATE  (t0 < t0+2h)
            (3, t0 + 5 * HOUR_US),   # wm -> t0+4h
            (4, t0 + 1 * HOUR_US),   # LATE  (t0+1h < t0+4h)
            (5, t0 + 4 * HOUR_US + 60_000_000),  # on-time (> wm)
            (6, t0 + 10 * HOUR_US)]  # on-time

    dropped = 0
    for i, (eid, ts) in enumerate(feed):
        (d / f"f{i}.csv").write_text(f"{eid},{ts},10,click,1.0\n")
        s = _typed(sources.file_stream(spark, str(d), EVENTS_CSV))
        dd = pipelines.dedup_stream(s, ["event_id"], ts="ts", delay="1 hour")
        q = (sinks.file_sink(dd.select("event_id"), out, ckpt, fmt="csv")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        dropped += runner.watermark_metrics(q)["dropped_rows"]

    batch = _typed(spark.createDataFrame(
        [(eid, ts, 10, "click", 1.0) for eid, ts in feed], EVENTS_CSV))
    late = classify_late(batch, "ts", [F.col("event_id")],
                         buffer_ms=3_600_000)
    n_late = late.filter("is_late").count()
    assert n_late == 2  # pin the engineered feed
    assert dropped == n_late
    # and the surviving streamed rows are exactly the on-time set
    got = sorted(r["event_id"] for r in
                 spark.read.schema("event_id long").csv(out).collect())
    want = sorted(r["event_id"] for r in
                  late.filter("NOT is_late").collect())
    assert got == want


def test_asof_join_streaming_parity(spark, batch_events, stream_events):
    """J2: keyed-state streaming as-of == batch union+carry as-of."""
    def sides(ev):
        clicks = (ev.filter(F.col("event_type") == "click")
                  .select("user_id", F.col("event_id").alias("click_id"),
                          F.unix_millis("ts").alias("click_ms")))
        views = (ev.filter(F.col("event_type") == "view")
                 .select("user_id", F.col("event_id").alias("view_id"),
                         F.unix_millis("ts").alias("view_ms")))
        return clicks, views

    clicks_s, views_s = sides(stream_events)
    _drain(stateful.asof_join(clicks_s, views_s, "user_id",
                              "click_ms", "view_ms"), "t_j2")
    got = _rows(spark.table("t_j2"), "user_id", "click_id")
    clicks_b, views_b = sides(batch_events)
    want = _rows(joins.asof_join(clicks_b, views_b, "user_id",
                                 "click_ms", "view_ms"),
                 "user_id", "click_id")
    assert got == want
    assert len(got) > 0
    # the data must exercise both matched and unmatched left rows
    assert any(r[3] is None for r in got) and any(r[3] is not None for r in got)


@pytest.fixture(scope="module")
def events_csv_timeordered(spark, sf_dir, tmp_path_factory):
    """Events staged as 4 time-contiguous CSV files with increasing
    mtimes, so the file stream (maxFilesPerTrigger=1) replays them in
    event-time order and the watermark never drops an on-time row."""
    import os as _os

    d = tmp_path_factory.mktemp("events_csv_t")
    rows = (load_table(spark, sf_dir, "events")
            .select("event_id", F.unix_micros("ts").alias("ts_us"),
                    "user_id", "event_type", "value")
            .orderBy("ts_us").collect())
    chunk = (len(rows) + 3) // 4
    for i in range(4):
        part = rows[i * chunk:(i + 1) * chunk]
        p = d / f"part{i}.csv"
        p.write_text("".join(
            f"{r['event_id']},{r['ts_us']},{r['user_id']},"
            f"{r['event_type']},{r['value']!r}\n" for r in part))
        _os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return str(d)


def _final_watermark_ms(q) -> int:
    from datetime import datetime

    wm = q.lastProgress["eventTime"]["watermark"]
    return int(datetime.fromisoformat(wm.replace("Z", "+00:00"))
               .timestamp() * 1000)


def test_sliding_append_emits_only_closed_windows(spark, events_csv_timeordered):
    """A5 in production form: append mode + watermark. Emitted set ==
    batch twin restricted to windows closed by the final watermark."""
    s = _typed(sources.file_stream(spark, events_csv_timeordered, EVENTS_CSV,
                                   max_files_per_trigger=1))
    agg = pipelines.sliding_stats(
        pipelines.with_event_time(s, "ts", "30 minutes"),
        "ts", "2 hours", "1 hour")
    q = _drain(agg, "t_a5_append", mode="append")
    wm = _final_watermark_ms(q)
    got = _rows(spark.table("t_a5_append"), "window_start")
    batch = _typed(spark.read.schema(EVENTS_CSV).csv(events_csv_timeordered))
    want = _rows(windows.sliding_stats(batch, "ts", "2 hours", "1 hour")
                 .filter(F.col("window_start") + 7_200_000 <= wm),
                 "window_start")
    assert len(got) > 0
    assert got == want


def test_session_append_emits_only_closed_sessions(spark, events_csv_timeordered):
    """A6 in production form: append mode + watermark. A session is
    closed once the watermark passes its last event + gap."""
    s = _typed(sources.file_stream(spark, events_csv_timeordered, EVENTS_CSV,
                                   max_files_per_trigger=1))
    agg = pipelines.session_stats(
        pipelines.with_event_time(s, "ts", "30 minutes"),
        "ts", "6 hours", "user_id")
    q = _drain(agg, "t_a6_append", mode="append")
    wm = _final_watermark_ms(q)
    got = _rows(spark.table("t_a6_append"), "user_id", "session_start")
    batch = _typed(spark.read.schema(EVENTS_CSV).csv(events_csv_timeordered))
    want = _rows(windows.session_stats(batch, "ts", "6 hours", "user_id")
                 .filter(F.col("max_ts") + 21_600_000 <= wm),
                 "user_id", "session_start")
    assert len(got) > 0
    assert got == want


def test_dedup_stream_global_parity(spark, batch_events, stream_events):
    """Streaming dropDuplicates: one row per key, key set == batch
    distinct (the kept row per key is arrival-order-dependent, so
    parity is on the key multiset, not full rows)."""
    _drain(pipelines.dedup_stream(
        stream_events.select("user_id", "event_type"),
        ["user_id", "event_type"]), "t_dedup")
    got = sorted((r["user_id"], r["event_type"])
                 for r in spark.table("t_dedup").collect())
    want = sorted((r["user_id"], r["event_type"])
                  for r in batch_events.select("user_id", "event_type")
                  .distinct().collect())
    assert got == want and len(got) > 0


def test_dedup_stream_watermark_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the horizon
    collapse; once the watermark passes key-ts + delay the state is
    evicted and a later duplicate is re-emitted (bounded state)."""
    d, ckpt, out = tmp_path / "in", str(tmp_path / "ckpt"), str(tmp_path / "out")
    d.mkdir()
    t0 = 1_700_000_000_000_000  # epoch micros
    HOUR_US = 3_600_000_000

    def run_batch():
        s = _typed(sources.file_stream(spark, str(d), EVENTS_CSV))
        dd = pipelines.dedup_stream(
            s, ["user_id", "event_type"], ts="ts", delay="30 minutes")
        q = (sinks.file_sink(
                dd.select("event_id", "user_id", "event_type"),
                out, ckpt, fmt="csv")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: duplicate key 1 min apart -> collapses to the first row;
    # a second key 3h ahead advances the watermark past t0 + 30min
    (d / "f1.csv").write_text(
        f"1,{t0},10,click,1.0\n"
        f"2,{t0 + 60_000_000},10,click,1.0\n"
        f"3,{t0 + 3 * HOUR_US},99,view,1.0\n")
    run_batch()
    # batch 2: key 10/click again, far beyond the horizon -> state was
    # evicted, so it is re-emitted
    (d / "f2.csv").write_text(f"4,{t0 + 4 * HOUR_US},10,click,1.0\n")
    run_batch()
    back = spark.read.schema(
        "event_id long, user_id long, event_type string").csv(out)
    ids = sorted(r["event_id"] for r in back.collect())
    assert ids == [1, 3, 4]


def test_kafka_source_plan(spark):
    """S2: the Kafka reader builds its plan when the connector is on the
    classpath; otherwise it must fail with the documented missing-source
    error (this container ships no Kafka broker/connector)."""
    try:
        df = sources.kafka_stream(spark, "localhost:9092", "events",
                                  group_id="flink-learn",
                                  sasl_plain=("user", "pass"))
        assert df.schema.fieldNames() == ["key", "value", "timestamp"]
    except Exception as e:
        assert "KAFKA" in str(e).upper() or "kafka" in str(e)


def test_interval_join_parity(spark, batch_events, stream_events):
    """J3: streaming time-range join == batch grid-binned interval join."""
    HALF = 3_600_000  # +/- 1 hour
    err_s = stream_events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts"))
    clk_s = stream_events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("clk_ts"))
    _drain(pipelines.interval_join(err_s, clk_s, "err_ts", "clk_ts",
                                   -HALF, HALF, "10 minutes")
           .select("error_id", "click_id"), "t_j3")
    got = _rows(spark.table("t_j3"), "error_id", "click_id")

    err_b = batch_events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.unix_millis("ts").alias("err_ms"))
    clk_b = batch_events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.unix_millis("ts").alias("clk_ms"))
    want = _rows(joins.interval_join(err_b, clk_b, "err_ms", "clk_ms",
                                     -HALF, HALF)
                 .select("error_id", "click_id"), "error_id", "click_id")
    assert got == want


def test_hll_registers_streaming_parity(spark, batch_events, stream_events):
    """HLL register aggregation (operators.sketches.hll_registers) is a
    plain keyed max -> runs unchanged as an update-mode streaming agg;
    the final per-(key, bucket) register must equal the batch sketch."""
    from demo_apache_flink_streaming_mode_spark.operators import sketches

    _drain(sketches.hll_registers(stream_events, ["event_type"], "user_id"),
           "t_hll", mode="update")
    final = {}
    for r in spark.table("t_hll").collect():
        final[(r["event_type"], r["bucket"])] = r["reg"]
    want = {(r["event_type"], r["bucket"]): r["reg"]
            for r in sketches.hll_registers(
                batch_events, ["event_type"], "user_id").collect()}
    assert final == want


def test_cms_sketch_streaming_parity(spark, batch_events, stream_events):
    """CMS counter build (operators.sketches.cms_sketch) is a plain
    keyed count -> runs unchanged as an update-mode streaming agg; the
    final per-(row, bucket) counters must equal the batch sketch over
    the same rows (counter addition is what makes the sketch mergeable
    across workers, so equality here proves the distributed-combine
    contract too)."""
    from demo_apache_flink_streaming_mode_spark.operators import sketches
    from pyspark.sql import functions as SF_

    _drain(sketches.cms_sketch(
        stream_events.select(SF_.col("event_type").alias("term")),
        d=3, w=64), "t_cms", mode="update")
    got = {(r["row"], r["bucket"]): r["cnt"]
           for r in spark.table("t_cms").collect()}
    want = {(r["row"], r["bucket"]): r["cnt"]
            for r in sketches.cms_sketch(
                batch_events.select(SF_.col("event_type").alias("term")),
                d=3, w=64).collect()}
    assert got == want and len(got) > 0


def test_cep_funnel_streaming_parity(spark, batch_events, stream_events):
    """Streaming CEP funnel (k-long keyed state) == batch window form."""
    from demo_apache_flink_streaming_mode_spark.operators import cep

    steps = ["view", "click", "purchase"]
    within = 12 * 3_600_000
    _drain(stateful.funnel_matches(stream_events, steps, within),
           "t_cep")
    got = _rows(spark.table("t_cep"), "user_id", "event_id")
    want = _rows(cep.funnel_matches(batch_events, steps, within),
                 "user_id", "event_id")
    assert got == want
    assert len(got) > 0


def test_hll_windowed_append_watermark(spark, events_csv_timeordered):
    """Windowed HLL registers in production form: append mode +
    watermark evicting closed windows. Emitted register set == batch
    registers restricted to windows closed by the final watermark."""
    from demo_apache_flink_streaming_mode_spark.operators import sketches

    s = _typed(sources.file_stream(spark, events_csv_timeordered, EVENTS_CSV,
                                   max_files_per_trigger=1))
    bucket, rho = sketches.hll_bucket_rho("user_id")
    agg = (pipelines.with_event_time(s, "ts", "30 minutes")
           .select("ts", "event_type", bucket, rho)
           .groupBy(F.window("ts", "1 hour"), "event_type", "bucket")
           .agg(F.max("rho").alias("reg"))
           .select(F.unix_millis(F.col("window.start")).alias("window_start"),
                   "event_type", "bucket", "reg"))
    q = _drain(agg, "t_hll_w", mode="append")
    wm = _final_watermark_ms(q)
    got = _rows(spark.table("t_hll_w"), "window_start", "event_type", "bucket")
    batch = _typed(spark.read.schema(EVENTS_CSV).csv(events_csv_timeordered))
    bw = batch.select(
        "user_id", "event_type",
        F.unix_millis(F.window("ts", "1 hour").start).alias("window_start"))
    want = _rows(sketches.hll_registers(
        bw, ["window_start", "event_type"], "user_id")
        .filter(F.col("window_start") + 3_600_000 <= wm)
        .select("window_start", "event_type", "bucket", "reg"),
        "window_start", "event_type", "bucket")
    assert len(got) > 0
    assert got == want


def test_cms_inline_sketch_streaming_parity(spark, batch_events, stream_events):
    """Count-min sketch state is additive counts -> runs unchanged as an
    update-mode streaming agg; final per-(row, bucket) counter equals
    the batch sketch (here over event_type as the item stream, with the
    counter build written inline rather than through the operator)."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long

    def sketch(df):
        rows = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("row")
        return (df.select(F.col("event_type").alias("term"), rows)
                .withColumn("bucket",
                            hex_to_long(F.md5(F.concat_ws(":", "row", "term")),
                                        1, 4) % 256)
                .groupBy("row", "bucket").agg(F.count("*").alias("cnt")))

    _drain(sketch(stream_events), "t_cms_inline", mode="update")
    final = {}
    for r in spark.table("t_cms_inline").collect():
        final[(r["row"], r["bucket"])] = r["cnt"]
    want = {(r["row"], r["bucket"]): r["cnt"]
            for r in sketch(batch_events).collect()}
    assert final == want
    assert len(final) > 0


# ---------------------------------------------------------------------------
# State TTL / eviction (ProcessingTimeTimeout)
# ---------------------------------------------------------------------------

def _write_events_csv(path, rows):
    """rows: (event_id, ts_us, user_id, event_type, value)."""
    import os
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(",".join(str(c) for c in r) + "\n")


def _drain_ck(df, out, checkpoint):
    """availableNow pass into a CSV file sink with an explicit
    checkpoint (the memory sink refuses checkpoint recovery), so
    successive passes resume source offsets AND persisted keyed state
    (incl. the processing-time timeout deadlines)."""
    q = (sinks.file_sink(df, out, checkpoint, fmt="csv")
         .trigger(availableNow=True).start())
    sinks.drain_available(q)
    assert q.lastProgress is not None
    return q


_T0_US = 1_600_000_000_000_000  # stable epoch anchor (micros)


def _st1_eviction_run(spark, tmp_path, name, ttl_ms, sleep_s):
    """Three availableNow passes over one checkpoint:
    1. key 1 + key 2 'error' events (key 1 state is set);
    2. (after sleeping `sleep_s`) key 2 filler — triggers a batch in
       which key 1 has no data, so an expired timeout evicts it;
    3. a second key-1 'error' well inside the event-time threshold —
       alerts ONLY if key 1's state survived.
    Returns all alert rows for key 1 across the three passes.
    """
    import os
    import time
    d = str(tmp_path / f"in_{name}")
    ck = str(tmp_path / f"ck_{name}")
    out = str(tmp_path / f"out_{name}")
    os.makedirs(d, exist_ok=True)  # source dir must exist at plan time
    stream = _typed(sources.file_stream(spark, d, EVENTS_CSV))
    alerts = stateful.repeat_action_alert(
        stream, "user_id", "ts", "event_type",
        action="error", threshold_ms=3_600_000, state_ttl_ms=ttl_ms)

    _write_events_csv(f"{d}/f1.csv", [
        (1, _T0_US, 1, "error", 0.0),
        (2, _T0_US, 2, "error", 0.0),
    ])
    _drain_ck(alerts, out, ck)

    time.sleep(sleep_s)
    _write_events_csv(f"{d}/f2.csv", [(3, _T0_US + 5_000_000, 2, "noise", 0.0)])
    _drain_ck(alerts, out, ck)

    _write_events_csv(f"{d}/f3.csv", [(4, _T0_US + 10_000_000, 1, "error", 0.0)])
    _drain_ck(alerts, out, ck)
    back = spark.read.schema(
        "user_id long, event_id long, time_diff_ms long").csv(out)
    return [tuple(r) for r in back.filter(F.col("user_id") == 1).collect()]


def test_st1_idle_state_evicted(spark, tmp_path):
    """A key idle past its TTL is evicted: the next event is treated as
    a first occurrence (no alert), exactly as if state never existed."""
    got = _st1_eviction_run(spark, tmp_path, "ev", ttl_ms=1_000, sleep_s=2.5)
    assert got == []


def test_st1_in_horizon_state_survives(spark, tmp_path):
    """Control for the eviction test: with a TTL far beyond the idle
    gap the same sequence DOES alert — proving the eviction test
    detects state survival rather than passing vacuously."""
    got = _st1_eviction_run(spark, tmp_path, "ctrl",
                            ttl_ms=3_600_000, sleep_s=0)
    assert len(got) == 1 and got[0][1] == 4  # event_id 4 alerted


def test_text_quality_pipeline_streaming_parity(spark, sf_dir, tmp_path):
    """§2.10 ops run in streaming mode too: the quality-score pipeline
    is a stateless projection, so feeding the documents table through a
    monitored-directory stream must reproduce the batch result row for
    row (the reference's streaming-first posture applied to the LLM
    pipeline)."""
    from demo_apache_flink_streaming_mode_spark.operators import text
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    from pyspark.sql.types import StructType

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "docs_json")
    docs.coalesce(2).write.mode("overwrite").json(d)

    schema = StructType([docs.schema["doc_id"], docs.schema["text"]])
    stream = sources.file_stream(spark, d + "/part-*", schema, fmt="json")
    _drain(text.quality_score(stream), "t_docq")
    got = _rows(spark.table("t_docq"), "doc_id")
    want = _rows(text.quality_score(docs), "doc_id")
    assert got == want and len(got) > 0


def test_near_dup_stream_parity(spark, sf_dir, tmp_path):
    """Online near-dup detection: documents streamed through the
    stateless MinHash + LSH band probe against a static corpus index
    must flag exactly the pairs the batch increment-vs-corpus operator
    flags (per-pair dedup applied downstream, as documented)."""
    from demo_apache_flink_streaming_mode_spark.operators import dedup
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        BANDS, INC_MOD, NUM_HASHES, ROWS_PER_BAND, SHINGLE_N)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    from pyspark.sql.types import StructType

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % INC_MOD == 0)
    corpus_sigs = dedup.minhash_signature(
        docs.filter(F.col("doc_id") % INC_MOD != 0),
        shingle_n=SHINGLE_N, num_hashes=NUM_HASHES)

    d = str(tmp_path / "new_docs")
    new.coalesce(2).write.mode("overwrite").json(d)
    schema = StructType([docs.schema["doc_id"], docs.schema["text"]])
    stream = sources.file_stream(spark, d + "/part-*", schema, fmt="json")
    _drain(pipelines.near_dup_stream(
        stream, corpus_sigs, shingle_n=SHINGLE_N, num_hashes=NUM_HASHES,
        bands=BANDS, rows_per_band=ROWS_PER_BAND), "t_ndup")
    got = {(r["doc_id"], r["corpus_doc_id"]): r["est_jaccard"]
           for r in spark.table("t_ndup").collect()}  # min == the value
    want = {(r["doc_id"], r["corpus_doc_id"]): r["est_jaccard"]
            for r in dedup.lsh_candidates_against(
                dedup.minhash_signature(new, shingle_n=SHINGLE_N,
                                        num_hashes=NUM_HASHES),
                corpus_sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND,
                num_hashes=NUM_HASHES).collect()}
    assert got == want and len(got) > 0


def test_minhash_stateless_equals_batch(spark, sf_dir):
    """The per-row fold signature (append-mode streaming form) is
    bit-identical to the explode+groupBy batch signature on every
    document — the equivalence near_dup_stream's correctness rests
    on."""
    from demo_apache_flink_streaming_mode_spark.operators import dedup
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {r["doc_id"]: r["sig"]
           for r in dedup.minhash_signature_stateless(docs).collect()}
    want = {r["doc_id"]: r["sig"]
            for r in dedup.minhash_signature(docs).collect()}
    assert got == want and len(got) > 0


def test_upsert_state_parity(spark, batch_events, stream_events):
    """Changelog upsert stream (Flink dynamic-table analog): the FINAL
    update-mode emission per key — payload, n_changes, tombstone flag —
    equals the batch ``apply_changelog`` materialization over the same
    rows, including delete tombstones."""
    from demo_apache_flink_streaming_mode_spark.operators import changelog

    def as_cl(df):
        return changelog.derive_ops(df, F.col("event_type") == "error")

    _drain(pipelines.upsert_state_stream(
        as_cl(stream_events), "user_id", ["ts", "event_id"],
        ["event_type", "value"]), "t_upsert", mode="update")
    final = {}
    for r in spark.table("t_upsert").collect():
        final[r["user_id"]] = (r["event_type"], r["value"],
                               r["n_changes"], r["is_deleted"])
    want = {r["user_id"]: (r["event_type"], r["value"],
                           r["n_changes"], r["is_deleted"])
            for r in changelog.apply_changelog(
                as_cl(batch_events), "user_id", ["ts", "event_id"]).collect()}
    assert final == want and len(final) > 0
    assert any(v[3] for v in final.values())  # tombstones do occur


def test_window_join_left_outer_streaming(spark, batch_events, stream_events):
    """Watermarked LEFT outer stream-stream join: every emitted row
    matches the batch left join, all inner matches are present, and
    unmatched clicks (null right side) do emit once their window
    closes. Rows whose window the final watermark never passed may be
    withheld — so the subset check, not equality, is the contract for
    the null rows."""
    def legs(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id")
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id")
        return clicks, purchases

    sc, sp = legs(stream_events)
    _drain(pipelines.window_join(sc, sp, "user_id", "ts", "1 hour",
                                 "10 minutes", how="left"), "t_j1_left")
    got = set((r["user_id"], r["window_start"], r["event_id_l"],
               r["event_id_r"]) for r in spark.table("t_j1_left").collect())

    bc, bp = legs(batch_events)
    want = set((r["user_id"], r["window_start"], r["event_id_l"],
                r["event_id_r"])
               for r in joins.window_join(bc, bp, "user_id", "ts", "1 hour",
                                          how="left").collect())
    inner = {t for t in want if t[3] is not None}
    assert got <= want
    assert inner <= got                      # all matches emitted
    assert any(t[3] is None for t in got)    # closed-window tombstones emitted


def test_quality_rules_gate_streaming_parity(spark, sf_dir, tmp_path):
    """The Gopher rule gate is the ingest-filter shape: a stateless
    projection + filter that must behave identically as a streaming
    admission gate and as a batch pass — same kept doc set, same
    signal values."""
    from demo_apache_flink_streaming_mode_spark.operators import text
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    from pyspark.sql.types import StructType

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "docs_json")
    docs.coalesce(2).write.mode("overwrite").json(d)

    schema = StructType([docs.schema["doc_id"], docs.schema["text"]])
    stream = sources.file_stream(spark, d + "/part-*", schema, fmt="json")
    gated = text.quality_rules(stream).filter("keep")
    _drain(gated, "t_docrules")
    got = _rows(spark.table("t_docrules"), "doc_id")
    want = _rows(text.quality_rules(docs).filter("keep"), "doc_id")
    assert got == want and 0 < len(got) < docs.count()


def test_span_probe_stream_static_parity(spark, sf_dir, tmp_path):
    """span_overlap_against's docstring claims the probe is stateless
    expressions + an equi-join, so the SAME dataflow runs
    stream-static: new docs streamed against the batch-built corpus
    span-hash index must produce exactly the batch probe's span hits
    (the per-doc island rollup is the batch reporting layer)."""
    from demo_apache_flink_streaming_mode_spark.operators.text import (
        _span_base, _span_occ)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    from pyspark.sql.types import StructType

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = _span_occ(_span_base(corpus, "text", 13)).select("h").distinct()

    want = sorted((r.doc_id, r.start) for r in
                  _span_occ(_span_base(new, "text", 13))
                  .join(idx, "h").select("doc_id", "start").collect())

    d = str(tmp_path / "new_docs_json")
    new.coalesce(2).write.mode("overwrite").json(d)
    schema = StructType([docs.schema["doc_id"], docs.schema["text"]])
    stream = sources.file_stream(spark, d + "/part-*", schema, fmt="json")
    hits = (_span_occ(_span_base(stream, "text", 13))
            .join(idx, "h").select("doc_id", "start"))
    _drain(hits, "t_spanprobe")
    got = sorted((r.doc_id, r.start)
                 for r in spark.table("t_spanprobe").collect())
    assert got == want and len(got) > 0


def test_pq_rerank_stream_static_parity(spark, sf_dir, tmp_path):
    """Two-stage PQ->exact re-rank in serve shape (VERDICT r7 item 8):
    the PQ index (codebooks, corpus codes, corpus unit vectors) is
    built ONCE as a frozen static side (similarity.pq_index), then
    streaming micro-batches of queries probe it via foreachBatch
    stream-static dataflow. Each query lands in exactly one
    micro-batch and ranking is per-query, so the union over batches
    must equal the batch top-k exactly — and the index-backed batch
    form must equal the train-inline form (the plumbing changes no
    values)."""
    from demo_apache_flink_streaming_mode_spark.operators import similarity
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        DIM, PQ_CODES, PQ_ITERS, PQ_M, PQ_RERANK_MULT, PQ_SUB_DIM,
        QUERY_MOD, TOPK)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    idx = similarity.pq_index(embs, PQ_M, PQ_SUB_DIM, PQ_CODES, PQ_ITERS)

    def rerank(q, index=None):
        return similarity.topk_pq_rerank(
            q, embs, TOPK, m_sub=PQ_M, sub_dim=PQ_SUB_DIM,
            n_codes=PQ_CODES, iters=PQ_ITERS, mult=PQ_RERANK_MULT,
            dim=DIM, index=index)

    want = sorted(tuple(r) for r in rerank(queries, index=idx).collect())
    scratch = sorted(tuple(r) for r in rerank(queries).collect())
    assert want == scratch and len(want) > 0

    d = str(tmp_path / "query_batches")
    queries.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", queries.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in rerank(batch_df, index=idx).collect())
        n_batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(300)
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_phash_incremental_stream_static_parity(spark, sf_dir, tmp_path):
    """Incremental perceptual dedup in serve shape: the corpus hash
    index is frozen once (multimodal.phash_band_index), then
    micro-batches of NEW documents probe it via foreachBatch — each
    new doc is independent, so the union over batches must equal the
    batch phash_incremental_pairs exactly."""
    from demo_apache_flink_streaming_mode_spark.operators import multimodal
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        INC_MOD)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % INC_MOD == 0)
    corpus = multimodal.to_media(
        docs.filter(F.col("doc_id") % INC_MOD != 0))
    idx = multimodal.phash_band_index(corpus)
    want = sorted(tuple(r) for r in multimodal.phash_incremental_pairs(
        multimodal.to_media(new), None, index=idx).collect())
    assert len(want) > 0

    d = str(tmp_path / "new_batches")
    new.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", new.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in multimodal.phash_incremental_pairs(
            multimodal.to_media(batch_df), None, index=idx).collect())
        n_batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(300)
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_fuzzy_decontam_stream_static_parity(spark, sf_dir, tmp_path):
    """Fuzzy decontamination in serve shape: the benchmark side is
    STATIC and each micro-batch of candidate documents probes it —
    contamination is decided per (candidate, benchmark) pair and the
    worst-match argmax is per candidate, so running the operator over
    (benchmark + one candidate micro-batch) per batch must union to
    exactly the whole-corpus batch answer."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import (
        hex_to_long)
    from demo_apache_flink_streaming_mode_spark.operators import dedup
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        BANDS, DECON_MOD, JACCARD_DEN, JACCARD_NUM, NUM_HASHES,
        ROWS_PER_BAND, SHINGLE_N)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    is_bench = (hex_to_long(F.md5(F.concat(F.lit("bench:"),
                                           F.col("doc_id").cast("string"))))
                % DECON_MOD == 0)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def fuzzy(frame):
        return dedup.fuzzy_contamination(
            frame, is_bench, JACCARD_NUM, JACCARD_DEN, shingle_n=SHINGLE_N,
            num_hashes=NUM_HASHES, bands=BANDS,
            rows_per_band=ROWS_PER_BAND)

    want = sorted(tuple(r) for r in fuzzy(docs).collect())
    assert len(want) > 0

    bench_docs = docs.filter(is_bench).persist()
    cands = docs.filter(~is_bench)
    d = str(tmp_path / "cand_batches")
    cands.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", cands.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r)
                   for r in fuzzy(bench_docs.unionByName(batch_df)).collect())
        n_batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(300)
    bench_docs.unpersist()
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_ivfpq_stream_static_parity(spark, sf_dir, tmp_path):
    """IVF-PQ in serve shape: the frozen index (coarse centroids,
    shared residual codebook, inverted-list codes, unit vectors) is
    built ONCE (similarity.ivfpq_index), then streaming micro-batches
    of queries probe it via foreachBatch stream-static dataflow. Each
    query lands in exactly one micro-batch and ranking is per-query,
    so the union over batches must equal the batch top-k exactly — and
    the index-backed batch form must equal the train-inline form (the
    plumbing changes no values)."""
    from demo_apache_flink_streaming_mode_spark.operators import similarity
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        DIM, IVFPQ_NPROBE, KMEANS_ITERS, N_CELLS, PQ_CODES, PQ_ITERS, PQ_M,
        PQ_SUB_DIM, QUERY_MOD, TOPK)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    idx = similarity.ivfpq_index(embs, N_CELLS, PQ_M, PQ_SUB_DIM, PQ_CODES,
                                 coarse_iters=KMEANS_ITERS,
                                 pq_iters=PQ_ITERS, dim=DIM)

    def topk(q, index=None):
        return similarity.topk_ivfpq(
            q, embs, TOPK, n_cells=N_CELLS, m_sub=PQ_M,
            sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
            coarse_iters=KMEANS_ITERS, pq_iters=PQ_ITERS,
            nprobe=IVFPQ_NPROBE, dim=DIM, index=index)

    want = sorted(tuple(r) for r in topk(queries, index=idx).collect())
    scratch = sorted(tuple(r) for r in topk(queries).collect())
    assert want == scratch and len(want) > 0

    d = str(tmp_path / "query_batches")
    queries.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", queries.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in topk(batch_df, index=idx).collect())
        n_batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(300)
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_jaccard_incremental_stream_static_parity(spark, sf_dir, tmp_path):
    """Incremental exact-Jaccard in serve shape: the prefix index
    (corpus prefixes + grams + df order) is frozen once
    (dedup.jaccard_prefix_index), then micro-batches of NEW documents
    probe it via foreachBatch — each new doc is independent, so the
    union over batches must equal the batch jaccard_incremental_pairs
    exactly."""
    from demo_apache_flink_streaming_mode_spark.operators import dedup
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        INC_MOD, JACCARD_DEN, JACCARD_NUM, SHINGLE_N)

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % INC_MOD == 0).select("doc_id",
                                                             "text")
    corpus = docs.filter(F.col("doc_id") % INC_MOD != 0)
    idx = dedup.jaccard_prefix_index(corpus, JACCARD_NUM, JACCARD_DEN,
                                     shingle_n=SHINGLE_N)

    def probe_df(n):
        return dedup.jaccard_incremental_pairs(
            n, None, JACCARD_NUM, JACCARD_DEN, shingle_n=SHINGLE_N,
            index=idx)

    want = sorted(tuple(r) for r in probe_df(new).collect())
    assert len(want) > 0

    d = str(tmp_path / "new_docs_jac")
    new.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", new.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in probe_df(batch_df).collect())
        batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_jac")).start())
    q.awaitTermination(300)
    assert len(batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_dsir_scoring_stream_static_parity(spark, sf_dir, tmp_path):
    """DSIR in serve shape: the importance-weight table is trained ONCE
    on the standing pool and frozen (curation.dsir_index), then
    streaming micro-batches of documents are scored against the
    broadcast table via foreachBatch — each doc's score depends only
    on the frozen weights, so the union over batches must equal the
    batch score_docs exactly."""
    from demo_apache_flink_streaming_mode_spark.operators import curation
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        DSIR_BUCKETS, DSIR_TGT_MOD)

    docs = load_table(spark, sf_dir, "documents")
    idx = curation.dsir_index(docs, DSIR_BUCKETS, DSIR_TGT_MOD)
    want = sorted(tuple(r) for r in
                  curation.score_docs(docs, idx, DSIR_BUCKETS).collect())
    assert len(want) > 0

    d = str(tmp_path / "doc_batches")
    feed = docs.select("doc_id", "text")
    feed.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", feed.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    batches = []

    def score(batch_df, epoch_id):
        got.extend(tuple(r) for r in
                   curation.score_docs(batch_df, idx,
                                       DSIR_BUCKETS).collect())
        batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(score)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_dsir")).start())
    q.awaitTermination(300)
    assert len(batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_semantic_dedup_stream_static_parity(spark, sf_dir, tmp_path):
    """Incremental SemDeDup in serve shape: the semantic index
    (corpus-trained centroids + corpus cell placement) is frozen once
    (similarity.semantic_index), then micro-batches of NEW embeddings
    probe it via foreachBatch — each new doc is independent, so the
    union over batches must equal the batch
    cosine_incremental_clustered exactly."""
    from demo_apache_flink_streaming_mode_spark.operators import similarity
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        COS_DUP_THRESHOLD, DIM, INC_MOD, KMEANS_ITERS, N_CELLS)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    new = embs.filter(F.col("vec_id") % INC_MOD == 0)
    corpus = embs.filter(F.col("vec_id") % INC_MOD != 0)
    idx = similarity.semantic_index(corpus, N_CELLS,
                                    train_iters=KMEANS_ITERS, dim=DIM)

    def probe_df(n, index=None):
        return similarity.cosine_incremental_clustered(
            n, corpus, COS_DUP_THRESHOLD, n_cells=N_CELLS,
            train_iters=KMEANS_ITERS, dim=DIM, index=index)

    want = sorted(tuple(r) for r in probe_df(new, index=idx).collect())
    scratch = sorted(tuple(r) for r in probe_df(new).collect())
    assert want == scratch and len(want) > 0

    d = str(tmp_path / "new_embs")
    new.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", new.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in probe_df(batch_df, index=idx).collect())
        batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_sem")).start())
    q.awaitTermination(300)
    assert len(batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_ivf_topk_stream_static_parity(spark, sf_dir, tmp_path):
    """IVF ANN in serve shape — the third frozen-index sibling: the
    trained IVF index (centroids, corpus placement, corpus unit
    vectors; similarity.ivf_index) is built once, then micro-batches
    of queries probe it via foreachBatch. Per-query top-k is
    independent, so the union over batches must equal the batch
    topk_ivf exactly, and the index-backed batch form must equal the
    train-inline form."""
    from demo_apache_flink_streaming_mode_spark.operators import similarity
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        DIM, KMEANS_ITERS, N_CELLS, QUERY_MOD, TOPK)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    idx = similarity.ivf_index(embs, N_CELLS, train_iters=KMEANS_ITERS,
                               dim=DIM)

    def topk(q, index=None):
        return similarity.topk_ivf(q, embs, TOPK, n_cells=N_CELLS, dim=DIM,
                                   train_iters=KMEANS_ITERS, index=index)

    want = sorted(tuple(r) for r in topk(queries, index=idx).collect())
    scratch = sorted(tuple(r) for r in topk(queries).collect())
    assert want == scratch and len(want) > 0

    d = str(tmp_path / "ivf_queries")
    queries.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", queries.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    batches = []

    def probe(batch_df, epoch_id):
        got.extend(tuple(r) for r in topk(batch_df, index=idx).collect())
        batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(probe)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_ivf")).start())
    q.awaitTermination(300)
    assert len(batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_quality_filter_model_serve_stream_parity(spark, sf_dir, tmp_path):
    """The trained quality filter in SERVE shape: the model is trained
    ONCE (closed-form probe — 4 doubles, the frozen artifact), then
    streaming micro-batches of documents are scored with those weights
    via foreachBatch. Each document is scored independently, so the
    union over micro-batches must equal the batch train-then-filter
    output exactly — the model-deploy twin of the frozen-index parity
    tests."""
    from demo_apache_flink_streaming_mode_spark.operators import ml

    docs = load_table(spark, sf_dir, "documents")
    trained = {r["feature"]: r["weight"]
               for r in ml.train_quality_probe(docs).collect()}
    w = [trained[f] for f in ml.QF_FEATURES]
    want = sorted(tuple(r)
                  for r in ml.apply_quality_filter(docs, w).collect())
    assert want == sorted(tuple(r)
                          for r in ml.train_and_filter(docs).collect())
    assert len(want) > 0 and any(r[2] for r in want) \
        and any(not r[2] for r in want)

    d = str(tmp_path / "doc_batches")
    docs.select("doc_id", "text").repartition(3) \
        .write.mode("overwrite").parquet(d)
    schema = docs.select("doc_id", "text").schema
    stream = sources.file_stream(spark, d + "/part-*", schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def score(batch_df, epoch_id):
        got.extend(tuple(r) for r in
                   ml.apply_quality_filter(batch_df, w).collect())
        n_batches.append(epoch_id)

    q = (stream.writeStream.foreachBatch(score)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(300)
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want


def test_curation_stream_end_to_end_parity(spark, sf_dir, tmp_path):
    """The COMPOSED ingest pipeline (r9 verdict item 6): micro-batches
    of new documents flow through exact-dedup probe -> MinHash near-dup
    probe -> frozen quality gate in one foreachBatch dataflow
    (streaming.pipelines.curation_query). All three stores are FROZEN
    (digest index, band index, d=4 model), every decision is
    per-document, so the union over micro-batches must equal one batch
    curate_batch run over the same rows — the full keep/drop stream a
    100 TB curation ingest actually runs."""
    from demo_apache_flink_streaming_mode_spark.operators import dedup, ml

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    exact_index = dedup.exact_hash_index(corpus).persist()
    band_index = dedup.minhash_band_index(
        dedup.minhash_signature(corpus)).persist()
    feats = ml.quality_filter_features(corpus).persist()
    w, n = ml.fit_quality_weights(feats)
    feats.unpersist()
    assert n > 0

    batch_out = pipelines.curate_batch(new, exact_index, band_index, w)
    want = sorted(tuple(r) for r in batch_out.collect())
    assert len(want) == new.count()
    decisions = {r[-1] for r in want}
    assert "keep" in decisions and len(decisions) >= 2, (
        f"fixture too weak to exercise the gauntlet: {decisions}")

    d = str(tmp_path / "new_docs")
    new.repartition(3).write.mode("overwrite").parquet(d)
    stream = sources.file_stream(spark, d + "/part-*", new.schema,
                                 fmt="parquet", max_files_per_trigger=1)
    got: list[tuple] = []
    n_batches = []

    def emit(decisions_df, epoch_id):
        got.extend(tuple(r) for r in decisions_df.collect())
        n_batches.append(epoch_id)

    q = pipelines.curation_query(stream, exact_index, band_index, w,
                                 str(tmp_path / "ckpt_curate"), emit)
    q.awaitTermination(300)
    assert len(n_batches) > 1, "expected multiple micro-batches"
    assert sorted(got) == want
    exact_index.unpersist()
    band_index.unpersist()
