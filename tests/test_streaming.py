"""End-to-end streaming change path: JSON envelope feed -> decode ->
dual-sink (SCD2 target + event log) with checkpoint resume, plus the
monitoring listener."""

import functools
import json

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdc_application_febuary_spark.functions.changelog import debezium_envelope
from cdc_application_febuary_spark.operators.scd2 import current_state
from cdc_application_febuary_spark.streaming.changelog_stream import (
    StreamConfig,
    file_source,
    run_file_changelog_pipeline,
    start_changelog_stream,
)
from cdc_application_febuary_spark.streaming.monitoring import (
    MetricsListener,
    lag_health,
    slot_health,
    throughput_summary,
)

PAYLOAD = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


_envelope = functools.partial(debezium_envelope, table="t", db="d", schema="s")


def _write_feed(path, events):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{len(list(path.glob('*.json')))}.json"
    f.write_text("\n".join(events) + "\n")


def test_changelog_stream_end_to_end(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            _envelope("c", None, {"id": 2, "name": "b"}, 1100),
            _envelope("u", {"id": 1, "name": "a"}, {"id": 1, "name": "a2"}, 2000),
            _envelope("d", {"id": 2, "name": "b"}, None, 3000),
        ],
    )
    cfg = StreamConfig(
        pipeline_id="p1",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)

    target = spark.read.parquet(cfg.target_path)
    assert target.count() == 4  # delete-rewrite keeps the delete row
    dead = target.where(F.col("__deleted") == "true").collect()
    assert len(dead) == 1 and dead[0]["id"] == 2 and dead[0]["name"] == "b"

    # current-state reconstruction over the streamed SCD2 log
    cur = (
        current_state(target, ["id"], order_cols=["__source_ts_ms"])
        .orderBy("id")
        .collect()
    )
    assert [(r["id"], r["name"]) for r in cur] == [(1, "a2")]

    log = spark.read.parquet(cfg.event_log_path)
    by_type = {r["event_type"]: r["cnt"] for r in
               log.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_type == {"insert": 2, "update": 1, "delete": 1}
    assert log.select("pipeline_id").distinct().collect()[0][0] == "p1"
    meta = json.loads(log.where("event_type = 'delete'").collect()[0]["run_metadata"])
    assert meta["operation"] == "d" and meta["table_name"] == "t"


def test_checkpoint_resume_no_reprocess(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
    cfg = StreamConfig(
        pipeline_id="p2",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    assert spark.read.parquet(cfg.target_path).count() == 1

    # second run with one NEW file: checkpoint must skip the old one
    _write_feed(feed, [_envelope("c", None, {"id": 2, "name": "b"}, 2000)])
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    target = spark.read.parquet(cfg.target_path)
    assert target.count() == 2  # not 3 — no reprocessing
    assert sorted(r["id"] for r in target.collect()) == [1, 2]


def test_drain_timeout_raises_and_stops(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
    cfg = StreamConfig(
        pipeline_id="slow",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(TimeoutError, match="slow"):
        run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg, timeout_sec=0.01)
    assert spark.streams.active == []


def test_metrics_listener(spark, tmp_path):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        feed = tmp_path / "feed"
        _write_feed(feed, [_envelope("c", None, {"id": 1, "name": "a"}, 1000)])
        cfg = StreamConfig(
            pipeline_id="p3",
            target_path=str(tmp_path / "target"),
            event_log_path=str(tmp_path / "event_log"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
        # listener delivery is async — poll until the progress event lands
        import time

        ours = []
        for _ in range(40):
            metrics = listener.snapshot(spark)
            summary = throughput_summary(metrics).collect()
            ours = [r for r in summary if r["query_name"] == "changelog-p3"]
            if ours:
                break
            time.sleep(0.5)
        assert ours and ours[0]["total_rows"] == 1
    finally:
        spark.streams.removeListener(listener)


def test_dead_letter_quarantine(spark, tmp_path):
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            "this is not json at all {{{",
            '{"payload": null}',
            _envelope("c", None, {"id": 2, "name": "b"}, 2000),
        ],
    )
    cfg = StreamConfig(
        pipeline_id="dlq",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
    )
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)

    target = spark.read.parquet(cfg.target_path)
    assert sorted(r["id"] for r in target.collect()) == [1, 2]  # clean only
    dlq = spark.read.parquet(cfg.dead_letter_path)
    assert dlq.count() == 2
    raws = {r["raw_value"] for r in dlq.collect()}
    assert "this is not json at all {{{" in raws
    log = spark.read.parquet(cfg.event_log_path)
    assert log.count() == 2  # corrupt rows never reach the event log


def test_sink_jobs_stay_in_stream_job_group(spark, tmp_path):
    """The sink's writes run on their own threads; each must still run in
    the query's job group, which query.stop() cancels."""
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            "not json {{{",
        ],
    )
    cfg = StreamConfig(
        pipeline_id="jobgroup",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dlq"),
    )
    q = start_changelog_stream(spark, file_source(spark, str(feed)), PAYLOAD, cfg)
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) >= 3  # dead-letter, target and event-log writes


def test_failed_write_fails_batch_and_replay_is_identifiable(spark, tmp_path):
    """A write that fails fails the batch and the query. The other appends
    of that batch may already have committed; the replay from the
    checkpoint reuses its batch id, so its rows can be told apart."""
    feed = tmp_path / "feed"
    _write_feed(
        feed,
        [
            _envelope("c", None, {"id": 1, "name": "a"}, 1000),
            "not json {{{",
            _envelope("c", None, {"id": 2, "name": "b"}, 2000),
        ],
    )
    target = tmp_path / "target"
    target.write_text("a regular file where the target directory belongs")
    cfg = StreamConfig(
        pipeline_id="failwrite",
        target_path=str(target),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    assert spark.streams.active == []

    target.unlink()
    run_file_changelog_pipeline(spark, str(feed), PAYLOAD, cfg)
    rows = spark.read.parquet(cfg.target_path).collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    log = spark.read.parquet(cfg.event_log_path)
    # the failed attempt may have committed its event-log append too
    assert log.count() in (2, 4)
    assert {r["__batch_id"] for r in log.select("__batch_id").collect()} == {0}


def test_health_thresholds(spark):
    df = spark.createDataFrame(
        [(10, 1024), (100, 200 * 1024), (400, 600 * 1024), (500, 2 * 1024 * 1024)],
        ["lag_s", "gap_b"],
    )
    out = df.select(
        lag_health("lag_s").alias("lag"), slot_health("gap_b").alias("slot")
    ).collect()
    assert [r["lag"] for r in out] == ["normal", "warning", "critical", "critical"]
    assert [r["slot"] for r in out] == ["normal", "warning", "critical", "stuck"]
