"""Unit pins for the transformWithState session-window operator
(`streaming/stateful_v2.py:SessionWindowProcessor`): cross-batch session
merge, in-batch session rolls, timer-driven eviction of idle keys, and
the never-finalized tail. The registry query `stream_session_eviction`
value-checks the full fixture against the batch gap-and-island replay;
these tests pin the micro-semantics on a 2-user feed whose files split
at an event-time boundary (the feed discipline every replay follows)."""

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from cdc_application_febuary_spark.streaming.replay import drain

GAP_MS = 3_600_000  # 1 hour
M = 60_000_000  # 1 minute in micros
H = 60 * M
T0 = 1_700_000_000_000_000  # arbitrary epoch-micros base


def _run_feed(spark, tmp_path, files):
    from cdc_application_febuary_spark.compat.protobuf_compat import (
        ensure_protobuf_on_workers,
    )
    from cdc_application_febuary_spark.streaming.stateful_v2 import (
        session_windows_tws,
        use_rocksdb_state,
    )

    if not ensure_protobuf_on_workers(spark):
        pytest.skip("no protobuf runtime for transformWithState")
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, (name, rows) in enumerate(files):
        f = feed / name
        f.write_text(
            "\n".join(
                json.dumps({"user_id": u, "ts_us": t}) for u, t in rows
            )
            + "\n"
        )
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts_us", LongType())]
    )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(feed))
        .select(F.from_json("value", schema).alias("p"))
        .select(
            F.col("p.user_id").alias("user_id"),
            F.col("p.ts_us").alias("ts_us"),
            F.timestamp_micros(F.col("p.ts_us")).alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    use_rocksdb_state(spark)
    target = str(tmp_path / "target")
    try:
        q = (
            session_windows_tws(stream.groupBy("user_id"), gap_ms=GAP_MS)
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 120, "session tws stream")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_provider is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:  # was unset: unset again so RocksDB doesn't leak session-wide
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in spark.read.parquet(target).collect()
    )


class _FakeState:
    def __init__(self, st=None):
        self.v = st

    def get(self):
        return self.v

    def update(self, st):
        self.v = tuple(st)

    def clear(self):
        self.v = None


class _FakeHandle:
    def __init__(self):
        self.timers = []

    def registerTimer(self, t):
        self.timers.append(int(t))


def _reference_loop(st, ts_sorted, gap_us):
    """The pre-r11 per-event loop, kept verbatim as the semantics oracle
    for the vectorized segment computation."""
    emitted = []
    for t in ts_sorted:
        if st is None:
            st = (t, t, 1)
        elif t < st[0]:
            raise RuntimeError("boundary violation")
        elif t - st[1] > gap_us:
            emitted.append(st)
            st = (t, t, 1)
        else:
            st = (st[0], max(st[1], t), st[2] + 1)
    return emitted, st


def _run_processor(prior, ts_values, gap_ms):
    import pandas as pd

    from cdc_application_febuary_spark.streaming.stateful_v2 import (
        SessionWindowProcessor,
    )

    p = SessionWindowProcessor(gap_ms)
    p._sess = _FakeState(prior)
    p._handle = _FakeHandle()
    frames = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"ts_us": ts_values})]), None
        )
    )
    emitted = []
    for f in frames:
        for r in f.itertuples(index=False):
            emitted.append((int(r.start_us), int(r.end_us), int(r.n_events)))
            assert int(r.user_id) == 7
    return emitted, p._sess.v, p._handle.timers


def test_vectorized_sessions_match_per_event_loop():
    """r11: handleInputRows became a numpy segment computation; every
    (emitted sessions, final state, registered timer) triple must equal
    the old per-event loop's on randomized feeds — with and without
    stored state, single-event runs, exact-gap boundaries, out-of-order
    in-batch arrival, and stored-last above early events."""
    import random

    gap_ms = 60_000
    gap_us = gap_ms * 1000
    rng = random.Random(20260818)
    cases = []
    for _ in range(300):
        n = rng.randint(1, 40)
        base = 1_000_000_000
        ts = []
        t = base
        for _ in range(n):
            # mix sub-gap steps, exact-gap steps, and big jumps
            t += rng.choice([0, 1, gap_us // 2, gap_us, gap_us + 1, 5 * gap_us])
            ts.append(t)
        rng.shuffle(ts)  # in-batch arrival order is arbitrary
        if rng.random() < 0.5:
            prior = None
        else:
            lo = min(ts)
            start = lo - rng.choice([0, 1, gap_us, 3 * gap_us])
            last = start + rng.choice([0, 1, gap_us, 2 * gap_us])
            prior = (start, last, rng.randint(1, 9))
        cases.append((prior, ts))
    for prior, ts in cases:
        want_emit, want_state = _reference_loop(
            tuple(prior) if prior else None, sorted(ts), gap_us
        )
        got_emit, got_state, timers = _run_processor(prior, ts, gap_ms)
        assert got_emit == want_emit, (prior, sorted(ts))
        assert tuple(got_state) == tuple(want_state), (prior, sorted(ts))
        assert timers == [want_state[1] // 1000 + gap_ms]


def test_vectorized_sessions_boundary_violation_raises():
    with pytest.raises(RuntimeError, match="event-time-boundary"):
        _run_processor((1_000_000, 1_000_000, 1), [999_999], 60_000)


def test_vectorized_sessions_empty_batch_keeps_state():
    import pandas as pd

    from cdc_application_febuary_spark.streaming.stateful_v2 import (
        SessionWindowProcessor,
    )

    p = SessionWindowProcessor(60_000)
    p._sess = _FakeState((5, 9, 2))
    p._handle = _FakeHandle()
    frames = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"ts_us": []})]), None
        )
    )
    assert frames == []
    assert p._sess.v == (5, 9, 2)
    assert p._handle.timers == [9 // 1000 + 60_000]


def test_session_semantics_end_to_end(spark, tmp_path):
    # Feed split at the T0+2h30m event-time boundary (b1 max < boundary
    # <= b2 min), 10-minute watermark delay.
    # user 1: session STARTS late in b1 and CONTINUES in b2 (cross-batch
    #         merge through the state store), then idles — finalizes
    #         only via the timer sweep;
    # user 2: two sessions inside b1 — the first rolls inline, the
    #         second is timer-evicted.
    batch1 = [
        (1, T0 + 2 * H),
        (1, T0 + 2 * H + 25 * M),
        (2, T0),
        (2, T0 + 2 * H),                    # > gap from T0: rolls inline
    ]
    batch2 = [
        (1, T0 + 3 * H),                    # within gap of 2h25m => SAME session
    ]
    # sentinels above every real event: advance the watermark past every
    # real horizon; eviction happens one batch later (z2)
    z1 = [(99, T0 + 9 * H)]
    z2 = [(99, T0 + 9 * H + 10 * M)]
    got = _run_feed(
        spark,
        tmp_path,
        [("b1.txt", batch1), ("b2.txt", batch2), ("z1.txt", z1), ("z2.txt", z2)],
    )
    expect = [
        # user 1: one merged 3-event session across the batch boundary
        (1, T0 + 2 * H, T0 + 3 * H, 3),
        # user 2: inline-rolled first session + timer-evicted second
        (2, T0, T0, 1),
        (2, T0 + 2 * H, T0 + 2 * H, 1),
    ]
    # the sentinels' own session must NOT appear: the final watermark
    # (T0+9h) never reaches its gap horizon (T0+10h)
    assert all(u != 99 for u, *_ in got)
    assert got == expect
