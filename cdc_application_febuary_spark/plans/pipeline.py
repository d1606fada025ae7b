"""Batch full load: the snapshot half of the reference's pipeline
lifecycle (`cdc_manager.py:194-1290`, SURVEY §3 entry point 1) as Spark jobs.

Which of the full load and the change stream a pipeline runs is decided
once, by `plans.snapshot.resolve_snapshot_mode`; `plans.runner` executes
that plan.

The snapshot-to-stream handoff (reference LSN capture,
cdc_manager.py:1578-1589) maps to: record the max source timestamp / file
position at snapshot end; the streaming checkpoint then owns progress.

Everything here is storage-agnostic over DataFrames: sources can be JDBC
specs, parquet paths, or any reader callable — full loads are tested
locally over parquet, exactly the path a lakehouse target uses at scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.changelog import stamp_full_load
from ..operators.reconciliation import (
    validate_row_count,
    validate_schema,
    validate_source_non_empty,
)


@dataclass
class FullLoadResult:
    table: str
    rows: int
    elapsed_sec: float
    captured_ts_ms: int | None
    reconciliation: dict = field(default_factory=dict)


def run_full_load(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    table: str,
    ts_column: str | None = None,
    snapshot_ts_ms: int | None = None,
) -> FullLoadResult:
    """Batch full load: stamp snapshot metadata (__op='r', __source_ts_ms,
    __deleted=NULL — reference transfer.py:997-998), append to the target,
    verify row-count and schema parity (validation.py:97-295), and capture
    the max source timestamp as the stream handoff offset.

    Unlike the reference's sequential 10k-row pages (transfer.py:831-933),
    the write is fully parallel: every partition appends concurrently.
    """
    t0 = time.time()
    validate_source_non_empty(source)

    # stamp with the snapshot point when the caller knows it (source-clock),
    # else load wallclock like the reference (transfer.py:997-998)
    stamped = stamp_full_load(
        source,
        ts_ms=None if snapshot_ts_ms is None else F.lit(snapshot_ts_ms),
    )
    stamped.write.mode("append").parquet(target_path)

    target = spark.read.parquet(target_path)
    count_res = validate_row_count(source, target.where(F.col("__op") == "r"))
    schema_res = validate_schema(source, target)
    if not schema_res["matches"]:
        raise AssertionError(f"schema parity failed: {schema_res}")

    captured = None
    if ts_column:
        captured = source.agg(
            F.max(F.unix_millis(F.col(ts_column).cast("timestamp")))
        ).collect()[0][0]

    return FullLoadResult(
        table=table,
        rows=count_res.target_rows,
        elapsed_sec=round(time.time() - t0, 3),
        captured_ts_ms=captured,
        reconciliation={
            "row_count": count_res.matches,
            "schema": schema_res["matches"],
        },
    )
