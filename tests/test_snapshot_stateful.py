"""Snapshot-mode decision matrix; stateful streaming operators; watermarked
windows."""

import json

import pytest

from pyspark.sql import functions as F

from cdc_application_febuary_spark.plans.snapshot import (
    StreamStartPlan,
    resolve_snapshot_mode,
)
from cdc_application_febuary_spark.streaming.replay import drain


# --- decision matrix (cdc_manager.py:446-488 semantics) ---------------------
def test_cdc_only_never_snapshots():
    p = resolve_snapshot_mode("postgresql", "cdc_only", False, False)
    assert p.snapshot_mode == "never" and not p.run_full_load
    assert p.starting_offsets == "latest"


def test_completed_full_load_streams_from_offset():
    p = resolve_snapshot_mode("postgresql", "full_load_and_cdc", True, True)
    assert p.snapshot_mode == "never" and not p.run_full_load


def test_fresh_pipeline_snapshots():
    p = resolve_snapshot_mode("postgresql", "full_load_and_cdc", False, False)
    assert p.snapshot_mode == "initial" and p.run_full_load


def test_oracle_forbids_never():
    p = resolve_snapshot_mode("oracle", "cdc_only", False, False)
    assert p.snapshot_mode == "initial_only"


def test_sqlserver_remaps_never_to_schema_only():
    p = resolve_snapshot_mode("sqlserver", "full_load_and_cdc", True, True)
    assert p.snapshot_mode == "schema_only"


def test_as400_without_offset_falls_back_to_initial():
    p = resolve_snapshot_mode("as400", "cdc_only", False, False)
    assert p.snapshot_mode == "initial" and p.run_full_load


def test_unknown_engine_rejected():
    with pytest.raises(ValueError):
        resolve_snapshot_mode("mongodb", "cdc_only", False, False)


def test_unknown_mode_rejected():
    with pytest.raises(ValueError, match="unknown pipeline mode"):
        resolve_snapshot_mode("postgresql", "never", False, False)


def test_engine_aliases_resolve_to_one_engine():
    p = resolve_snapshot_mode("mssql", "full_load_and_cdc", True, True)
    assert p.engine == "sqlserver" and p.snapshot_mode == "schema_only"
    p = resolve_snapshot_mode("IBM_I", "cdc_only", False, False)
    assert p.engine == "as400" and p.run_full_load


def test_full_load_only_never_streams():
    p = resolve_snapshot_mode("postgresql", "full_load_only", False, False)
    assert p.run_full_load and not p.run_stream
    p = resolve_snapshot_mode("postgresql", "full_load_and_cdc", False, False)
    assert p.run_stream


# --- stateful streaming (applyInPandasWithState) ----------------------------
def _feed(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"b{len(list(path.glob('*.json')))}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _run_stateful(spark, feed_dir, ckpt, out_dir, op):
    from cdc_application_febuary_spark.streaming.stateful import (
        running_counts,
        stream_dedup_counts,
    )

    stream = (
        spark.readStream.schema("event_id long, key string")
        .json(str(feed_dir))
    )
    grouped = stream.groupBy(F.col("key"))
    result = (
        running_counts(grouped) if op == "counts" else stream_dedup_counts(grouped)
    )
    # memory sink can't recover a checkpoint; foreachBatch parquet can
    q = (
        result.writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(str(out_dir))
        )
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "running counts stream")


def test_running_counts_across_batches(spark, tmp_path):
    feed = tmp_path / "feed"
    _feed(feed, [{"event_id": 1, "key": "a"}, {"event_id": 2, "key": "a"},
                 {"event_id": 3, "key": "b"}])
    _run_stateful(spark, feed, tmp_path / "ck1", tmp_path / "out1", "counts")
    first = {r["key"]: r["events"]
             for r in spark.read.parquet(str(tmp_path / "out1")).collect()}
    assert first == {"a": 2, "b": 1}

    # second batch: state persists across restarts via the checkpoint
    _feed(feed, [{"event_id": 4, "key": "a"}])
    _run_stateful(spark, feed, tmp_path / "ck1", tmp_path / "out2", "counts")
    second = {r["key"]: r["events"]
              for r in spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert second["a"] == 3  # 2 from before + 1 new


def test_stream_dedup_counts(spark, tmp_path):
    feed = tmp_path / "feed"
    _feed(feed, [{"event_id": 1, "key": "a"}, {"event_id": 1, "key": "a"},
                 {"event_id": 2, "key": "a"}])
    _run_stateful(spark, feed, tmp_path / "ck", tmp_path / "o1", "dedup")
    got = spark.read.parquet(str(tmp_path / "o1")).collect()[0]
    assert got["fresh"] == 2 and got["duplicates"] == 1

    # replayed id in a later batch counts as duplicate (state remembers)
    _feed(feed, [{"event_id": 1, "key": "a"}, {"event_id": 9, "key": "a"}])
    _run_stateful(spark, feed, tmp_path / "ck", tmp_path / "o2", "dedup")
    got2 = spark.read.parquet(str(tmp_path / "o2")).collect()[0]
    assert got2["fresh"] == 1 and got2["duplicates"] == 1


# --- watermarked windows ----------------------------------------------------
def test_windowed_counts_with_watermark(spark, tmp_path):
    from cdc_application_febuary_spark.streaming.windows import windowed_counts

    feed = tmp_path / "wfeed"
    rows = [
        {"ts": "2024-01-01T00:05:00", "event_type": "x"},
        {"ts": "2024-01-01T00:20:00", "event_type": "x"},
        {"ts": "2024-01-01T01:10:00", "event_type": "y"},
        {"ts": "2024-01-01T02:30:00", "event_type": "x"},  # advances watermark
    ]
    _feed(feed, rows)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string").json(str(feed))
    )
    agg = windowed_counts(stream, ts_col="ts", window="1 hour",
                          watermark="10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("wc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "windowed counts stream")
    out = {
        (r["window_start"].hour, r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM wc").collect()
    }
    # windows whose watermark passed have emitted
    assert out[(0, "x")] == 2
    assert out[(1, "y")] == 1


def test_session_windowed_counts_streaming(spark, tmp_path):
    """Gap-merged session windows in append mode: a session emits once the
    watermark (driven by a later event) passes its end."""
    from cdc_application_febuary_spark.streaming.windows import (
        session_windowed_counts,
    )

    feed = tmp_path / "sfeed"
    rows = [
        {"ts": "2024-01-01T00:00:00", "user_id": 1},
        {"ts": "2024-01-01T00:10:00", "user_id": 1},  # merges (gap 30m)
        {"ts": "2024-01-01T01:30:00", "user_id": 1},  # new session
        {"ts": "2024-01-01T00:05:00", "user_id": 2},
        {"ts": "2024-01-01T06:00:00", "user_id": 9},  # watermark driver
    ]
    _feed(feed, rows)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long").json(str(feed))
    )
    agg = session_windowed_counts(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes",
        watermark="5 minutes",
    )
    q = (
        agg.writeStream.format("memory").queryName("sw")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "session window stream")
    got = {
        (r["user_id"], r["session_start"].isoformat(), r["session_end"].isoformat()): r["cnt"]
        for r in spark.sql("SELECT * FROM sw").collect()
    }
    assert got[(1, "2024-01-01T00:00:00", "2024-01-01T00:40:00")] == 2
    assert got[(1, "2024-01-01T01:30:00", "2024-01-01T02:00:00")] == 1
    assert got[(2, "2024-01-01T00:05:00", "2024-01-01T00:35:00")] == 1
