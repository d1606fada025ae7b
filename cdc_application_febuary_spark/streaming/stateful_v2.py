"""Stateful streaming on the Spark 4 transformWithStateInPandas API —
the successor to applyInPandasWithState (streaming/stateful.py keeps the
classic form). Differences that matter at scale: typed state variables
(ValueState/ListState/MapState) instead of one tuple, per-state TTL so
idle keys expire without a custom timeout dance, and timer callbacks.

Requires the RocksDB state store provider (the HDFS-backed default does
not support transformWithState); callers flip the conf via
``use_rocksdb_state``, or pass ``ROCKSDB_PROVIDER`` to
``replay.replay_conf``. The Python<->JVM state protocol additionally
needs ``google.protobuf`` at runtime — ``compat.protobuf_compat``
bridges the machine's public pure-Python runtime where no real install
exists (importing this module arranges it, BEFORE the SparkSession is
created so workers inherit the path); if no runtime can be found at
all, use the applyInPandasWithState operators in ``stateful.py`` (same
semantics, tuple-typed state).
"""

from __future__ import annotations

from ..compat.protobuf_compat import ensure_protobuf

ensure_protobuf()

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("events", LongType()),
        StructField("batch_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("events", LongType())])


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> None:
    """transformWithState requires RocksDB-backed state."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )


class _WorkerProtobufBridge:
    """Repair ``google.protobuf`` inside the state-protocol WORKER.

    The transformWithState worker may have cached ``google`` /
    ``google.protobuf`` as the empty namespace packages that live inside
    spark-core.jar (sys.path includes the jar) before any bridge path is
    visible — after which the proto import dies with "cannot import name
    'descriptor' ... (unknown location)". Deserializing the processor is
    the first engine-controlled code to run in that worker, BEFORE
    ``_handle_pre_init`` imports StateMessage_pb2 — so ``__setstate__``
    injects the bridge paths (captured driver-side in ``_pb_paths``) and
    purges the poisoned namespace modules. No-op when a real protobuf is
    installed (modules then have ``__file__``)."""

    def __getstate__(self):
        from ..compat import protobuf_compat as pc

        state = dict(self.__dict__)
        state["_pb_paths"] = (pc._VENDOR, pc._SDK_ROOT)
        return state

    def __setstate__(self, state):
        import sys

        self.__dict__.update(state)
        for p in state.get("_pb_paths", ()):
            if p and p not in sys.path:
                sys.path.insert(0, p)
        for mod in ("google", "google.protobuf"):
            m = sys.modules.get(mod)
            if m is not None and not getattr(m, "__file__", None):
                del sys.modules[mod]


class RunningCountProcessor(_WorkerProtobufBridge, StatefulProcessor):
    """Per-key running totals in a typed ValueState — the
    transformWithState twin of ``stateful.running_counts``."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._count = handle.getValueState("events", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        batch = sum(len(p) for p in rows)
        prev = self._count.get()
        total = (prev[0] if prev is not None else 0) + batch
        self._count.update((total,))
        yield pd.DataFrame(
            {"key": [str(key[0])], "events": [total], "batch_events": [batch]}
        )

    def close(self) -> None:
        pass


def running_counts_tws(grouped) -> DataFrame:
    """`grouped` is `stream.groupBy(key_col)`; emits (key, events,
    batch_events) per key per micro-batch with the all-time total."""
    return grouped.transformWithStateInPandas(
        RunningCountProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


class SessionWindowProcessor(_WorkerProtobufBridge, StatefulProcessor):
    """Event-time session windows with TIMER-driven state eviction — the
    transformWithState capability the classic applyInPandasWithState
    session operator approximates with processing-time timeouts: an idle
    key's open session finalizes (emits + clears state) via an EVENT-TIME
    timer once the watermark proves no in-order event can extend it.

    Correctness does not depend on Spark's input-vs-timer ordering within
    a micro-batch: `handleExpiredTimer` finalizes ONLY when
    ``watermark_ms >= last_event_ms + gap_ms`` (any future event then has
    ``ts > watermark >= last + gap`` and would start a NEW session under
    batch gap-and-island semantics too); a premature fire re-registers
    the timer at the session's current horizon instead. Within one batch,
    all-but-the-last session of a key finalize inline (a future event is
    above the key's batch maximum under event-time-boundary feed splits,
    so only the last session is extendable). State per key is one
    (start, last, n) triple; eviction is the watermark, so state size
    tracks active keys x gap, never stream length.

    The event-time-boundary split discipline (each batch's events for a
    key sort at-or-after the key's stored session start) is enforced at
    runtime: a violating row raises instead of silently corrupting or
    splitting a session (ADVICE r8)."""

    def __init__(self, gap_ms: int) -> None:
        self._gap_ms = int(gap_ms)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("session", _SESSION_STATE_SCHEMA)

    def _emit(self, key, st) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "start_us": [int(st[0])],
                "end_us": [int(st[1])],
                "n_events": [int(st[2])],
            }
        )

    def handleInputRows(self, key, rows, timerValues):
        # r11 (guide §4.2): the per-event Python loop — plus one 1-row
        # pandas DataFrame construction PER FINALIZED SESSION — is the
        # hot path of the replay; sessions of a sorted timestamp array
        # are a vectorized segment computation instead. Semantics are
        # bit-identical to the loop it replaces (same splits, same
        # merge-with-stored-state rule, same boundary-discipline raise,
        # same state/timer updates); only the per-key emit batching
        # changed (one DataFrame with all finalized sessions).
        parts = [pdf["ts_us"].to_numpy(dtype="int64") for pdf in rows]
        parts = [p for p in parts if p.size]
        gap_us = self._gap_ms * 1000
        st = self._sess.get()
        st = (int(st[0]), int(st[1]), int(st[2])) if st is not None else None
        if not parts:
            if st is not None:
                self._sess.update(st)
                self._handle.registerTimer(st[1] // 1000 + self._gap_ms)
            return
        ts = np.sort(np.concatenate(parts))
        if st is not None and int(ts[0]) < st[0]:
            # The inline all-but-last finalization and the kept-start
            # merge are only sound under the event-time-boundary feed
            # discipline (each batch's events for a key >= the key's
            # stored start). A violating row would silently corrupt or
            # split sessions — fail loudly instead (ADVICE r8).
            raise RuntimeError(
                "SessionWindowProcessor: input event at "
                f"{int(ts[0])}us for key {key!r} precedes the stored "
                f"session start {st[0]}us — the feed violated the "
                "event-time-boundary split discipline (see class "
                "docstring)"
            )
        # split[i] == event i starts a NEW session. The running "last"
        # before event i is max(stored last, ts[i-1]) — exact in both
        # regimes: before any split the session's last is the running max
        # of (stored last, events so far); after a split at j <= i-1 the
        # session start ts[j] already exceeds stored-last + gap, so
        # ts[i-1] >= ts[j] > stored last and the max is ts[i-1].
        split = np.empty(ts.size, dtype=bool)
        if st is None:
            split[0] = True  # first event opens the first session
            l0 = None
        else:
            l0 = st[1]
            split[0] = int(ts[0]) - l0 > gap_us
        if ts.size > 1:
            prev_last = (
                ts[:-1] if l0 is None else np.maximum(ts[:-1], l0)
            )
            split[1:] = (ts[1:] - prev_last) > gap_us
        starts = np.flatnonzero(split)
        bounds = np.append(starts, ts.size)
        # segments opened by a split point: [starts[i], next split)
        segs: list[tuple[int, int, int]] = []
        for si in range(len(starts)):
            a, b = int(bounds[si]), int(bounds[si + 1])
            segs.append((int(ts[a]), int(ts[b - 1]), b - a))
        finalized: list[tuple[int, int, int]] = []
        if st is not None:
            if split[0]:
                finalized.append(st)  # stored session gap-closed by ts[0]
            else:
                # leading run [0, first split) extends the stored session
                # (kept start, running-max last, summed count)
                c = int(starts[0]) if len(starts) else ts.size
                segs = [
                    (st[0], max(st[1], int(ts[c - 1])), st[2] + c)
                ] + segs
        finalized.extend(segs[:-1])
        last = segs[-1]
        self._sess.update(last)
        self._handle.registerTimer(last[1] // 1000 + self._gap_ms)
        if finalized:
            yield pd.DataFrame(
                {
                    "user_id": np.full(
                        len(finalized), int(key[0]), dtype="int64"
                    ),
                    "start_us": np.asarray(
                        [f[0] for f in finalized], dtype="int64"
                    ),
                    "end_us": np.asarray(
                        [f[1] for f in finalized], dtype="int64"
                    ),
                    "n_events": np.asarray(
                        [f[2] for f in finalized], dtype="int64"
                    ),
                }
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        st = self._sess.get()
        if st is None:
            return
        st = (int(st[0]), int(st[1]), int(st[2]))
        wm = timerValues.getCurrentWatermarkInMs()
        if wm >= st[1] // 1000 + self._gap_ms:
            self._sess.clear()
            yield self._emit(key, st)
        else:  # extended since this timer was set — wait out the new horizon
            self._handle.registerTimer(st[1] // 1000 + self._gap_ms)

    def close(self) -> None:
        pass


def session_windows_tws(grouped, gap_ms: int) -> DataFrame:
    """`grouped` is `stream.withWatermark(ts, d).groupBy(key)` where rows
    carry ``ts_us`` (epoch-micros long). Emits one row per FINALIZED
    session in append mode; open sessions emit only when their event-time
    timer passes the watermark."""
    return grouped.transformWithStateInPandas(
        SessionWindowProcessor(gap_ms),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
