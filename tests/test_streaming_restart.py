"""Restart parity of the ``stream_replay`` twins (A4, A6, ST1).

Each twin drains the first half of a time-ordered file split into a
checkpointed parquet sink, stops, and is started again from the same
checkpoint once the second half has landed. The second run must resume
the source offsets, the state store and the watermark, so the sink ends
equal to the registry batch twin on the same rows: all of them for ST1,
and for the append-mode windows only those the final watermark closed
(the Structured Streaming prefix-consistency contract).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from demo_apache_flink_streaming_mode_spark.plans import registry
from demo_apache_flink_streaming_mode_spark.plans.queries_events import (
    SESSION_GAP_MS, ST1_THRESHOLD_MS)
from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES
from demo_apache_flink_streaming_mode_spark.streaming import (
    pipelines, sinks, sources, stateful)

_N_FILES = 6
_DAY_MS = 86_400_000


@pytest.fixture(scope="module")
def staged(sf_dir, tmp_path_factory):
    """The events table (for the batch twins) and its time-ordered split
    into ``_N_FILES`` parquet files with increasing mtimes."""
    d = tmp_path_factory.mktemp("restart")
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    events = events.take(pc.sort_indices(
        events, [("ts", "ascending"), ("event_id", "ascending")]))
    pq.write_table(events, d / "events.parquet")
    (d / "parts").mkdir()
    per = -(-events.num_rows // _N_FILES)
    parts = []
    for i in range(_N_FILES):
        path = d / "parts" / f"part-{i:05d}.parquet"
        pq.write_table(events.slice(i * per, per), path)
        os.utime(path, (1_700_000_000 + i * 100,) * 2)
        parts.append((path, min(per, events.num_rows - i * per)))
    return str(d), parts


def _build(name: str, src):
    if name == "a4_tumbling_count_keyed":
        return pipelines.tumbling_count(
            pipelines.with_event_time(src, "ts", "1 hour"), "ts", "1 day",
            keys=["user_id", "event_type"])
    if name == "a6_session_stats":
        return pipelines.session_stats(
            pipelines.with_event_time(src, "ts", "1 hour"), "ts", "6 hours",
            "user_id")
    return stateful.repeat_action_alert(
        src, "user_id", "ts", "event_type", action="error",
        threshold_ms=ST1_THRESHOLD_MS)


def _closed(name: str, row: dict, watermark_ms: int) -> bool:
    """Whether the append-mode twin has emitted this batch-twin row once
    the watermark reached ``watermark_ms``."""
    if name == "a4_tumbling_count_keyed":
        return row["window_start"] + _DAY_MS <= watermark_ms
    if name == "a6_session_stats":
        return row["max_ts"] + SESSION_GAP_MS <= watermark_ms
    return True


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(r) for r in pdf[cols].itertuples(index=False))


def _watermark_ms(q) -> int:
    wm = q.lastProgress["eventTime"]["watermark"]
    return int(datetime.fromisoformat(wm.replace("Z", "+00:00"))
               .timestamp() * 1000)


@pytest.mark.parametrize("name", ["a4_tumbling_count_keyed",
                                  "a6_session_stats",
                                  "st1_repeat_action_alert"])
def test_restart_from_checkpoint_matches_batch_twin(spark, staged, tmp_path,
                                                    name):
    data_dir, parts = staged
    in_dir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    half = _N_FILES // 2

    def drain(files):
        for path, _ in files:
            shutil.copy2(path, in_dir)
        src = sources.file_stream(spark, str(in_dir), TESTDATA_TABLES["events"],
                                  "parquet", max_files_per_trigger=1)
        q = (sinks.file_sink(_build(name, src), str(out), str(ckpt),
                             fmt="parquet")
             .trigger(availableNow=True).start())
        sinks.drain_available(q)
        assert q.exception() is None, q.exception()
        return q

    first = drain(parts[:half])
    resumed_at = first.lastProgress["batchId"] + 1
    second = drain(parts[half:])

    # the second run resumed: later batch ids, and only the new files read
    progress = second.recentProgress
    assert progress[0]["batchId"] >= resumed_at
    assert (sum(p["numInputRows"] for p in progress)
            == sum(n for _, n in parts[half:]))

    sink = _rows(spark.read.parquet(str(out)).toPandas())
    twin = registry.get(name).fn(spark, data_dir).toPandas()
    if name != "st1_repeat_action_alert":
        wm = _watermark_ms(second)
        twin = twin[[_closed(name, r, wm) for r in twin.to_dict("records")]]
    assert len(sink) > 0
    assert sink == _rows(twin)
