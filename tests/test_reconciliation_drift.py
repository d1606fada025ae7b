"""Reconciliation (validation.py analogs) and schema-drift detection."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cdc_application_febuary_spark.operators.drift import diff_schemas, has_drift
from cdc_application_febuary_spark.operators.reconciliation import (
    ReconciliationError,
    row_level_diff,
    validate_row_count,
    validate_schema,
    validate_source_non_empty,
)


def test_row_count_match(spark):
    a = spark.range(10)
    b = spark.range(10)
    res = validate_row_count(a, b)
    assert res.matches and res.source_rows == 10


def test_row_count_mismatch_raises(spark):
    with pytest.raises(ReconciliationError, match="mismatch"):
        validate_row_count(spark.range(10), spark.range(9))


def test_empty_target_raises_zero_row_paradox(spark):
    """A transfer that left the target empty gets the reference's own
    error (transfer.py:902-931), not a generic count mismatch."""
    with pytest.raises(ReconciliationError, match="zero-row paradox"):
        validate_row_count(spark.range(10), spark.range(0))


def test_empty_source_raises(spark):
    with pytest.raises(ReconciliationError, match="empty"):
        validate_source_non_empty(spark.range(0))


def test_schema_parity_ignores_scd2_meta(spark):
    src = spark.createDataFrame([(1, "a")], ["id", "name"])
    tgt = (
        src.withColumn("__op", F.lit("r"))
        .withColumn("__source_ts_ms", F.lit(0).cast("long"))
        .withColumn("__deleted", F.lit(None).cast("string"))
    )
    res = validate_schema(src, tgt)
    assert res["matches"], res


def test_schema_diff_detects_changes(spark):
    src = spark.createDataFrame([(1, "a", 2.0)], ["id", "name", "x"])
    tgt = spark.createDataFrame([(1, 5)], ["id", "name"])  # name int, x missing
    res = validate_schema(src, tgt)
    assert not res["matches"]
    assert res["removed"] == ["x"] and res["modified"] == ["name"]


def test_row_level_diff(spark):
    src = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    tgt = spark.createDataFrame([(2,), (3,), (4,)], ["id"])
    diff = {(r["id"], r["side"]) for r in row_level_diff(src, tgt, ["id"]).collect()}
    assert diff == {(1, "source_only"), (4, "target_only")}


def test_drift_classification():
    base = StructType(
        [
            StructField("id", IntegerType(), False),
            StructField("name", StringType(), True),
        ]
    )
    obs = StructType(
        [
            StructField("id", StringType(), False),   # type changed
            StructField("email", StringType(), True),  # added; name removed
        ]
    )
    changes = {(c.column, c.kind) for c in diff_schemas(base, obs)}
    assert changes == {
        ("email", "added"),
        ("name", "removed"),
        ("id", "type_changed"),
    }
    assert has_drift(base, obs)
    assert not has_drift(base, base)
