"""Multi-pipeline isolation and event-log partition pruning."""

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdc_application_febuary_spark.functions.changelog import debezium_envelope
from cdc_application_febuary_spark.streaming.changelog_stream import (
    StreamConfig,
    file_source,
    start_changelog_stream,
)
from cdc_application_febuary_spark.streaming.monitoring import (
    event_log_dashboard,
)

PAYLOAD = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


def _env(op, after, ts_ms):
    return debezium_envelope(
        op, None, after, ts_ms, table="t", db="d", schema="s"
    )


def test_two_pipelines_run_concurrently_with_isolated_checkpoints(
    spark, tmp_path
):
    """One streaming query per pipeline (SURVEY §7 'what's hard'): both run
    at once, each under its own checkpoint, neither sees the other's data."""
    queries = []
    for p in ("p1", "p2"):
        feed = tmp_path / p / "feed"
        feed.mkdir(parents=True)
        (feed / "a.json").write_text(
            "\n".join(
                _env("c", {"id": i, "name": f"{p}-{i}"}, 1000 + i)
                for i in range(5)
            )
            + "\n"
        )
        cfg = StreamConfig(
            pipeline_id=p,
            target_path=str(tmp_path / p / "target"),
            event_log_path=str(tmp_path / p / "event_log"),
            checkpoint_dir=str(tmp_path / p / "ckpt"),
        )
        q = start_changelog_stream(
            spark, file_source(spark, str(feed)), PAYLOAD, cfg
        )
        queries.append((p, cfg, q))

    for _, _, q in queries:
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None

    for p, cfg, _ in queries:
        target = spark.read.parquet(cfg.target_path)
        assert target.count() == 5
        names = {r["name"] for r in target.collect()}
        assert all(n.startswith(p) for n in names)  # no cross-contamination
        log = spark.read.parquet(cfg.event_log_path)
        assert log.select("pipeline_id").distinct().collect()[0][0] == p


def test_event_log_partition_pruning(spark, tmp_path):
    """The streamed event log is date-partitioned; a dashboard query with a
    date bound must prune partitions instead of scanning the full log."""
    feed = tmp_path / "feed"
    feed.mkdir()
    day_ms = 86_400_000
    (feed / "a.json").write_text(
        "\n".join(
            _env("c", {"id": i, "name": "x"}, 1_700_000_000_000 + i * day_ms)
            for i in range(5)  # five distinct event dates
        )
        + "\n"
    )
    cfg = StreamConfig(
        pipeline_id="prune",
        target_path=str(tmp_path / "target"),
        event_log_path=str(tmp_path / "event_log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = start_changelog_stream(spark, file_source(spark, str(feed)), PAYLOAD, cfg)
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None

    log = spark.read.parquet(cfg.event_log_path)
    assert log.select("event_date").distinct().count() == 5

    bounded = log.where(F.col("event_date") == "2023-11-16")
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan
    assert bounded.count() == 1

    # the dashboard aggregate also carries a pruning predicate
    dash = event_log_dashboard(log, days=10_000)
    dplan = dash._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in dplan and "event_date" in dplan.split(
        "PartitionFilters"
    )[1][:200]
