"""Alert-rule evaluation semantics (streaming/alerting.py) vs the
reference's _evaluate_rule contract (alert_engine.py:62-130)."""

from pyspark.sql import functions as F

from cdc_application_febuary_spark.streaming.alerting import (
    alert_counts_by_severity,
    evaluate_rules,
)
from cdc_application_febuary_spark.streaming.replay import drain

RULES_SCHEMA = (
    "rule_id long, rule_name string, pipeline_id string, metric string,"
    " condition string, threshold long, severity string, enabled boolean"
)


def _eval(spark, rules, metrics):
    r = spark.createDataFrame(rules, RULES_SCHEMA)
    m = spark.createDataFrame(
        metrics, "pipeline_id string, metric string, value long"
    )
    return {
        row["rule_id"]: row
        for row in evaluate_rules(r, m).collect()
    }


def test_all_four_conditions(spark):
    rules = [
        (1, "gt", "p1", "m", "greater_than", 10, "warning", True),
        (2, "lt", "p1", "m", "less_than", 10, "info", True),
        (3, "eq", "p1", "m", "equals", 11, "info", True),
        (4, "ne", "p1", "m", "not_equals", 11, "critical", True),
    ]
    fired = _eval(spark, rules, [("p1", "m", 11)])
    assert set(fired) == {1, 3}  # 11>10 fires, 11<10 no, 11==11 yes, != no
    assert fired[1]["message"] == "gt: m (11) greater_than 10"
    assert fired[1]["status"] == "active"


def test_never_fire_paths(spark):
    rules = [
        # disabled rule never fires even when the condition holds
        (1, "off", "p1", "m", "greater_than", 0, "info", False),
        # absent metric -> reference returns False
        (2, "ghost", "p1", "nope", "greater_than", 0, "info", True),
        # unknown condition -> reference logs a warning, never fires
        (3, "weird", "p1", "m", "matches_regex", 0, "info", True),
        # rule scoped to another pipeline does not see p1's metric
        (4, "other", "p2", "m", "greater_than", 0, "info", True),
    ]
    assert _eval(spark, rules, [("p1", "m", 5)]) == {}


def test_boundary_is_strict(spark):
    rules = [
        (1, "gt", "p1", "m", "greater_than", 5, "info", True),
        (2, "lt", "p1", "m", "less_than", 5, "info", True),
    ]
    # value == threshold: strictly-greater and strictly-less both miss
    assert _eval(spark, rules, [("p1", "m", 5)]) == {}


def test_severity_rollup(spark):
    rules = [
        (1, "a", "p1", "m", "greater_than", 0, "critical", True),
        (2, "b", "p1", "n", "greater_than", 0, "critical", True),
        (3, "c", "p2", "m", "greater_than", 0, "warning", True),
    ]
    r = spark.createDataFrame(rules, RULES_SCHEMA)
    m = spark.createDataFrame(
        [("p1", "m", 1), ("p1", "n", 1), ("p2", "m", 1)],
        "pipeline_id string, metric string, value long",
    )
    rows = alert_counts_by_severity(evaluate_rules(r, m)).collect()
    assert [(x["pipeline_id"], x["severity"], x["alerts"]) for x in rows] == [
        ("p1", "critical", 2),
        ("p2", "warning", 1),
    ]


def test_rules_side_is_broadcast(spark):
    rules = spark.createDataFrame(
        [(1, "a", "p1", "m", "greater_than", 0, "info", True)], RULES_SCHEMA
    )
    metrics = spark.createDataFrame(
        [("p1", "m", 1)], "pipeline_id string, metric string, value long"
    )
    plan = (
        evaluate_rules(rules, metrics)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # no shuffle at any metrics scale


def test_alert_history_sink_streaming(spark, tmp_path):
    """Per-micro-batch rule evaluation through a real availableNow stream:
    one alert row per batch that trips the threshold, batch_id-stamped."""
    import json

    from cdc_application_febuary_spark.streaming.alerting import (
        alert_history_sink,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1): 3 rows then 1
    (feed / "a.json").write_text(
        "\n".join(json.dumps({"id": i, "op": "c"}) for i in range(3)) + "\n"
    )
    (feed / "b.json").write_text(json.dumps({"id": 9, "op": "d"}) + "\n")

    rules = spark.createDataFrame(
        [
            (1, "volume", "p1", "events_total", "greater_than", 2, "warning", True),
            (2, "any_delete", "p1", "deletes_total", "greater_than", 0, "critical", True),
        ],
        RULES_SCHEMA,
    )
    hist = str(tmp_path / "alert_history")
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(feed))
        .selectExpr("get_json_object(value, '$.op') AS __op")
    )
    q = (
        stream.writeStream.foreachBatch(
            alert_history_sink(rules, hist, "p1")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "alert history stream")

    rows = spark.read.parquet(hist).collect()
    fired = {(r["rule_id"], r["metric_value"]) for r in rows}
    # 3-row batch trips the volume rule; 1-row delete batch trips rule 2
    assert fired == {(1, 3), (2, 1)}
    assert all(r["status"] == "active" for r in rows)
    assert {r["batch_id"] for r in rows} == {0, 1}
