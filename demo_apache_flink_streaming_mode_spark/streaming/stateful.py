"""True keyed-state streaming operators (SURVEY.md §2.7, ST1/ST2).

The reference implements these with RichMapFunction + ValueState
(``chapter5/StatefulOperations.java:83-143``,
``chapter6_exercise/AnalyzeBrowserEvents.java:115-181``). The Spark
extension point for arbitrary keyed state is
``groupBy(key).applyInPandasWithState`` — Arrow-batched per-key state
functions, the sanctioned equivalent of Flink's keyed process function.

Semantics parity with the batch twins (``operators.stateful``): state
transitions follow (ts, tiebreak) order. Spark does not order rows
within a micro-batch, so the handler sorts each key's batch — correct
whenever a key's events arrive in-order ACROSS micro-batches (the
reference makes the same in-order assumption: Flink keyed streams
preserve per-key arrival order, and its generators emit in order).

Scale: state is one small tuple per key in the state store (RocksDB
provider for large key spaces); Arrow transfer is batched per
micro-batch, not per row. Under ``ProcessingTimeTimeout`` each state
partition's task makes two Python round trips per micro-batch: one for
the keys with new data and one for the timed-out keys, even when none
timed out. Any fixed per-invocation worker cost is therefore paid
triggers x partitions x 2 times (``worker_daemon`` removes the largest).

State eviction: with an open key domain (user_id at 100 TB), per-key
state must not live forever. Every operator here registers a
processing-time timeout (``GroupStateTimeout.ProcessingTimeTimeout``)
and evicts keys idle past ``state_ttl_ms``. Defaults are tied to each
operator's own semantic horizon (ST1: 10x its ``threshold_ms``; CEP
funnel: 10x its ``within_ms`` — the x10 is processing-time slack over
the event-time horizon, since a key's events can arrive slower than
wall-clock). ST2 sessionization and the as-of join have no intrinsic
horizon, so they default to ``_DEFAULT_IDLE_TTL_MS`` (1 day idle);
eviction there is semantically a session restart / dropped carry row,
exactly what an explicit end-of-session event would produce. For any
key whose events all arrive within its TTL, eviction never fires and
outputs are identical to the batch twins (parity-tested, plus explicit
eviction tests in tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_MS = 1_000_000  # ns -> ms divisor

# Idle-key TTL for operators with no intrinsic event-time horizon
# (ST2 sessionization, as-of carry state): one day of processing-time
# idleness before the key's state is evicted.
_DEFAULT_IDLE_TTL_MS = 24 * 60 * 60 * 1000


def _to_ms(col: pd.Series) -> pd.Series:
    return col.astype("int64") // _MS


def _sql_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def repeat_action_alert(df: DataFrame, key: str, ts: str, action_col: str,
                        action: str, threshold_ms: int,
                        tiebreak: str = "event_id",
                        state_ttl_ms: int | None = None) -> DataFrame:
    """ST1 streaming — same outputs as ``operators.stateful.repeat_action_alert``.

    State: last `action` timestamp per key (one long). A key idle
    (processing-time) past ``state_ttl_ms`` (default 10x
    ``threshold_ms``) is evicted — its stored timestamp could only
    matter to an event arriving within ``threshold_ms`` event-time,
    so for keys arriving within the TTL the output is unchanged.
    """
    ttl_ms = state_ttl_ms if state_ttl_ms is not None else 10 * threshold_ms

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_ms = state.get[0] if state.exists else None
        out_ids, out_diffs = [], []
        for pdf in pdfs:
            pdf = pdf[pdf[action_col] == action]
            if pdf.empty:
                continue
            pdf = pdf.sort_values([ts, tiebreak])
            ms = _to_ms(pdf[ts])
            for eid, m in zip(pdf[tiebreak], ms):
                if last_ms is not None and m - last_ms < threshold_ms:
                    out_ids.append(eid)
                    out_diffs.append(m - last_ms)
                last_ms = int(m)
        if last_ms is not None:
            state.update((last_ms,))
            state.setTimeoutDuration(ttl_ms)
        if out_ids:
            yield pd.DataFrame({key: key_tuple[0], "event_id": out_ids,
                                "time_diff_ms": out_diffs})

    out_schema = (f"{key} {_sql_type(df, key)}, "
                  f"event_id {_sql_type(df, tiebreak)}, time_diff_ms long")
    return df.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType="last_ms long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


def action_durations(df: DataFrame, key: str, ts: str, action_col: str,
                     start_action: str, end_action: str,
                     tiebreak: str = "event_id",
                     state_ttl_ms: int = _DEFAULT_IDLE_TTL_MS) -> DataFrame:
    """ST2 streaming — same outputs as ``operators.stateful.action_durations``.

    State: (last_action, last_ms) per key; `end_action` clears it
    (session end), every other event overwrites it. A key idle past
    ``state_ttl_ms`` is evicted — the operator has no intrinsic
    event-time horizon, so eviction is defined as a session restart:
    the key's next event behaves exactly as if an ``end_action`` had
    been seen (no duration, session restarts).
    """

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        prev_a, prev_ms = state.get if state.exists else (None, None)
        rows: list[tuple] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([ts, tiebreak])
            ms = _to_ms(pdf[ts])
            for eid, act, m in zip(pdf[tiebreak], pdf[action_col], ms):
                empty = prev_a is None
                no_dur = empty or act == start_action
                rows.append((key_tuple[0], eid,
                             "None" if no_dur else prev_a,
                             0 if no_dur else int(m) - prev_ms))
                if act == end_action:
                    prev_a, prev_ms = None, None
                else:
                    prev_a, prev_ms = act, int(m)
        if prev_a is None:
            state.remove()
        else:
            state.update((prev_a, prev_ms))
            state.setTimeoutDuration(state_ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=[key, "event_id",
                                              "prev_action", "duration_ms"])

    out_schema = (f"{key} {_sql_type(df, key)}, "
                  f"event_id {_sql_type(df, tiebreak)}, "
                  "prev_action string, duration_ms long")
    return df.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType="last_action string, last_ms long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


def repeat_action_alert_tws(df: DataFrame, key: str, ts: str,
                            action_col: str, action: str, threshold_ms: int,
                            tiebreak: str = "event_id",
                            state_ttl_ms: int | None = None) -> DataFrame:
    """ST1 on the ``transformWithStateInPandas`` API (Spark 4.x) —
    bit-identical outputs to ``repeat_action_alert``.

    Same per-key fold, but state lifecycle moves to the modern
    processor model: ``getValueState(..., ttlDurationMs)`` gives
    NATIVE state-store TTL (the store expires idle keys itself — no
    hand-registered processing-time timeout, no timed-out-key callback
    in the handler), which is the forward path for arbitrary keyed
    state now that ``applyInPandasWithState`` is the legacy API.
    Eviction semantics match the legacy form: an expired key simply
    reads as absent, exactly like ``state.remove()`` on timeout.

    Runtime dependency: the transformWithState driver worker speaks
    protobuf to the JVM (``google.protobuf``); in environments without
    it the plan builds and analyzes but the query crashes at start —
    the parity test skips there and the legacy operator remains the
    executable path.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    ttl_ms = state_ttl_ms if state_ttl_ms is not None else 10 * threshold_ms
    out_schema = (f"{key} {_sql_type(df, key)}, "
                  f"event_id {_sql_type(df, tiebreak)}, time_diff_ms long")

    class _Alert(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last_ms", "last_ms long",
                                              ttl_ms)

        def handleInputRows(self, key_tuple, rows, timer_values):
            got = self._last.get()
            last_ms = got[0] if got is not None else None
            out_ids, out_diffs = [], []
            for pdf in rows:
                pdf = pdf[pdf[action_col] == action]
                if pdf.empty:
                    continue
                pdf = pdf.sort_values([ts, tiebreak])
                ms = _to_ms(pdf[ts])
                for eid, m in zip(pdf[tiebreak], ms):
                    if last_ms is not None and m - last_ms < threshold_ms:
                        out_ids.append(eid)
                        out_diffs.append(m - last_ms)
                    last_ms = int(m)
            if last_ms is not None:
                self._last.update((last_ms,))
            if out_ids:
                yield pd.DataFrame({key: key_tuple[0], "event_id": out_ids,
                                    "time_diff_ms": out_diffs})

        def close(self) -> None:
            pass

    return df.groupBy(key).transformWithStateInPandas(
        statefulProcessor=_Alert(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="ProcessingTime")


def count_window_stream(df: DataFrame, key: str, ts: str, value: str,
                        size: int, slide: int, tiebreak: str = "event_id",
                        state_ttl_ms: int = _DEFAULT_IDLE_TTL_MS) -> DataFrame:
    """Flink ``keyBy(..).countWindow(size, slide)`` as TRUE keyed
    streaming state (CountTrigger(slide) + CountEvictor(size)): per key,
    a record count plus the last <= ``size`` values; every ``slide``-th
    record emits an aggregate over the retained values. Batch twin:
    ``operators.windows.sliding_count_window_agg`` (parity-tested in
    tests/test_streaming.py).

    State per key: one long + <= ``size`` doubles — bounded regardless
    of stream length, exactly Flink's evictor bound. ``sum_value``
    reproduces the batch twin's DECIMAL(38,6) math bit-for-bit: each
    double is quantized from its shortest decimal repr (what Spark's
    double->decimal cast does), summed exactly, rounded to double once.
    Keys idle past ``state_ttl_ms`` are evicted — count windows have no
    intrinsic event-time horizon, so eviction means the key's count
    restarts, as after a Flink state-TTL purge.
    """
    from decimal import ROUND_HALF_UP, Decimal
    q6 = Decimal("0.000001")

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        cnt, vals = state.get if state.exists else (0, [])
        vals = [float(v) for v in vals]
        rows: list[tuple] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([ts, tiebreak])
            for v in pdf[value]:
                cnt += 1
                vals.append(float(v))
                if len(vals) > size:
                    del vals[0]
                if cnt % slide == 0:
                    s = sum((Decimal(repr(x)).quantize(q6, ROUND_HALF_UP)
                             for x in vals), Decimal(0))
                    rows.append((key_tuple[0], cnt // slide, cnt, len(vals),
                                 float(s), min(vals), max(vals)))
        state.update((cnt, vals))
        state.setTimeoutDuration(state_ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=[key, "window_id", "trigger_rn",
                                              "n", "sum_value", "min_value",
                                              "max_value"])

    out_schema = (f"{key} {_sql_type(df, key)}, window_id long, "
                  "trigger_rn long, n long, sum_value double, "
                  "min_value double, max_value double")
    return df.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType="cnt long, vals array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


def moving_features_stream(df: DataFrame, key: str, ts: str, value: str,
                           window: int = 3, tiebreak: str = "event_id",
                           state_ttl_ms: int = _DEFAULT_IDLE_TTL_MS
                           ) -> DataFrame:
    """J6 streaming — per-key rolling feature extraction (lag / delta /
    trailing ``window``-row moving sum+count) as TRUE keyed state.
    Batch twin: ``operators.timeseries.moving_features`` (parity test
    in tests/test_streaming.py); this is the online form of the
    event-stream-to-model-features pass, emitting one feature row per
    input record.

    State per key: one long + one double + <= ``window`` doubles —
    bounded regardless of stream length, same evictor bound as
    ``count_window_stream``. ``moving_sum`` reproduces the batch
    twin's windowed DECIMAL(38,6) sum bit-for-bit (quantize each
    double from its shortest decimal repr, sum exactly, round to
    double once). First row per key emits NULL prev_value/delta,
    exactly like the batch ``lag``. Keys idle past ``state_ttl_ms``
    are evicted (feature frames restart, as after a Flink state-TTL
    purge).

    Ordering contract (same as ST1/ST2/count_window_stream): per-key
    arrival order across micro-batches must follow (ts, tiebreak)
    order; within a micro-batch the handler sorts.
    """
    from decimal import ROUND_HALF_UP, Decimal
    q6 = Decimal("0.000001")

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        cnt, prev, vals = state.get if state.exists else (0, 0.0, [])
        vals = [float(v) for v in vals]
        rows: list[tuple] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([ts, tiebreak])
            for tb, v in zip(pdf[tiebreak], pdf[value]):
                v = float(v)
                vals.append(v)
                if len(vals) > window:
                    del vals[0]
                s = sum((Decimal(repr(x)).quantize(q6, ROUND_HALF_UP)
                         for x in vals), Decimal(0))
                rows.append((key_tuple[0], tb, v,
                             prev if cnt else None,
                             v - prev if cnt else None,
                             float(s), len(vals)))
                prev, cnt = v, cnt + 1
        state.update((cnt, prev, vals))
        state.setTimeoutDuration(state_ttl_ms)
        if rows:
            # NaN (from the None firsts in a float64 column) converts
            # to null on the Arrow hop — matching the batch lag's NULL
            yield pd.DataFrame(rows, columns=[key, tiebreak, value,
                                              "prev_value", "delta",
                                              "moving_sum", "n_window"])

    out_schema = (f"{key} {_sql_type(df, key)}, "
                  f"{tiebreak} {_sql_type(df, tiebreak)}, "
                  f"{value} double, prev_value double, delta double, "
                  "moving_sum double, n_window long")
    return df.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType="cnt long, prev double, vals array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              state_ttl_ms: int = _DEFAULT_IDLE_TTL_MS) -> DataFrame:
    """J2 streaming — backward as-of join with keyed state.

    The batch twin (``operators.joins.asof_join``) carries the last
    right row forward with one window pass; here the carry IS the keyed
    state: one (right_ts, right payload) tuple per key, written by
    right rows, read by left rows. Both sides normalize into ONE keyed
    stream (side tag 0=right, 1=left) so a single
    ``applyInPandasWithState`` handler replays them in (ts, side)
    order — a right row at an equal timestamp is visible to the left
    row (``<=`` semantics), matching the batch operator.

    Ordering contract (same as ST1/ST2): per-key arrival order across
    micro-batches must follow timestamp order; within a micro-batch
    the handler sorts. Timestamp columns must be epoch-ms longs (they
    are stored in the state tuple directly). Payload column names must
    be disjoint across the two sides.

    Scale: state is ONE small tuple per key (RocksDB-friendly); the
    only shuffle is the groupBy(key) exchange both sides share. Right-
    side retention: a key idle past ``state_ttl_ms`` drops its carried
    right row (left rows arriving after eviction join to nulls, same
    as a never-seen key) — bounding state on an open key domain.
    """
    lcols = [c for c in left.columns if c != key]
    rcols = [c for c in right.columns if c != key]
    ltypes = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    rtypes = {f.name: f.dataType.simpleString() for f in right.schema.fields}

    l = left.select(
        F.col(key), F.col(left_ts).alias("__ts"), F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols])
    r = right.select(
        F.col(key), F.col(right_ts).alias("__ts"), F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c) for c in rcols])
    u = l.unionByName(r)

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        st = tuple(state.get) if state.exists else None
        out_rows: list[tuple] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["__ts", "__side"], kind="mergesort")
            side = pdf["__side"].to_numpy()
            for i in range(len(pdf)):
                if side[i] == 0:
                    st = (int(pdf["__ts"].iat[i]),
                          *[pdf[c].iat[i] for c in rcols])
                else:
                    out_rows.append(
                        (key_tuple[0],
                         *[pdf[c].iat[i] for c in lcols],
                         *(st[1:] if st is not None else (None,) * len(rcols))))
        if st is not None:
            state.update(st)
            state.setTimeoutDuration(state_ttl_ms)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=[key, *lcols, *rcols])

    out_schema = ", ".join(
        [f"{key} {ltypes[key]}"]
        + [f"{c} {ltypes[c]}" for c in lcols]
        + [f"{c} {rtypes[c]}" for c in rcols])
    state_schema = ", ".join(
        ["__rts long"] + [f"{c} {rtypes[c]}" for c in rcols])
    return u.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


_NO_Q = -(1 << 60)  # "no qualified occurrence" sentinel (state holds longs)


def funnel_matches(df: DataFrame, steps: list[str], within_ms: int,
                   key: str = "user_id", ts: str = "ts",
                   type_col: str = "event_type",
                   tiebreak: str = "event_id",
                   state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming CEP funnel — batch-parity form of ``operators.cep.funnel_matches``.

    State per key: the latest *qualified* timestamp of each step (k
    longs) — exactly the per-row state the batch form threads through
    its k window passes, and exactly the ValueState a FlinkCEP NFA
    keeps for relaxed-contiguity ``followedBy`` chains. Each event is
    evaluated against the PRE-event state (the batch form's
    strictly-earlier window frame), then folded in.

    Parity contract: state folds events in per-micro-batch sorted
    (ts, tiebreak) order, so outputs equal the batch form only under
    the module's per-key in-order-arrival assumption — an earlier-ts
    event arriving in a LATER trigger is applied after newer events
    and can diverge from the batch window form.

    Eviction: a key idle (processing-time) past ``state_ttl_ms``
    (default 10x ``within_ms``) is evicted. Stored step timestamps
    older than ``within_ms`` can never qualify a later step, so for
    keys arriving within the TTL the output is unchanged.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least two steps")
    k = len(steps)
    ttl_ms = state_ttl_ms if state_ttl_ms is not None else 10 * within_ms

    def handle(key_tuple: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        qs = [q if q != _NO_Q else None for q in state.get] if state.exists \
            else [None] * k
        out_ids, out_ms, out_prev = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts, tiebreak])
            ms = _to_ms(pdf[ts])
            for eid, m, ty in zip(pdf[tiebreak], ms, pdf[type_col]):
                m = int(m)
                new_qs = list(qs)
                for i, step in enumerate(steps):
                    if ty != step:
                        continue
                    if i == 0:
                        new_qs[0] = m
                    else:
                        p = qs[i - 1]
                        if p is not None and p >= m - within_ms:
                            new_qs[i] = m
                            if i == k - 1:
                                out_ids.append(eid)
                                out_ms.append(m)
                                out_prev.append(p)
                qs = new_qs
        state.update(tuple(_NO_Q if q is None else q for q in qs))
        state.setTimeoutDuration(ttl_ms)
        if out_ids:
            yield pd.DataFrame({key: key_tuple[0], tiebreak: out_ids,
                                "complete_ms": out_ms,
                                "prev_step_ms": out_prev})

    out_schema = (f"{key} {_sql_type(df, key)}, "
                  f"{tiebreak} {_sql_type(df, tiebreak)}, "
                  "complete_ms long, prev_step_ms long")
    state_schema = ", ".join(f"q{i} long" for i in range(k))
    return df.groupBy(key).applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)
