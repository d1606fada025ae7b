"""Streaming sink builders (reference S14-S16 config generators,
`backend/ingestion/sink_config.py`) + auto-recovery (T12).

The reference emits Kafka Connect JSON configs; here each sink is a
foreachBatch function (JDBC append / JSON objects / VARIANT collapse) or a
native file sink, plus a restart-on-failure wrapper replacing the
connector-restart loop (`cdc_health_monitor.py:235-437`, `recovery.py`).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.jdbc import JdbcWriteSpec
from ..sources.typemap import to_variant_records


def jdbc_append_sink(spec: JdbcWriteSpec) -> Callable[[DataFrame, int], None]:
    """S14: append-only JDBC sink (insert.mode=insert, pk.mode=none,
    delete.enabled=false — sink_config.py:159-164). Batched inserts run on
    executors; `__batch_id` stamping keeps retried micro-batches
    identifiable (the reference settles for at-least-once)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        spec.write(batch.withColumn("__batch_id", F.lit(batch_id)))

    return sink


def json_object_sink(path: str) -> Callable[[DataFrame, int], None]:
    """S15: S3-style JSON object sink — one directory of JSON parts per
    micro-batch (flush.size semantics become micro-batch size)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").json(f"{path.rstrip('/')}/batch_id={batch_id}")

    return sink


def variant_sink(path: str) -> Callable[[DataFrame, int], None]:
    """S16: Snowflake-style sink — full envelope preserved as VARIANT
    (RECORD_CONTENT/RECORD_METADATA JSON, sink_config.py:586-605)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        (
            to_variant_records(batch)
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{path.rstrip('/')}/")
        )

    return sink


def run_with_recovery(
    start_query: Callable[[], StreamingQuery],
    max_attempts: int = 3,
    cooldown_sec: float = 300.0,
    await_sec: float | None = None,
) -> list[str]:
    """T12 auto-recovery: restart the stream on failure, up to
    `max_attempts` within a cooldown window (reference: 3 attempts / 300 s,
    cdc_health_monitor.py:29-31). Returns the error messages encountered;
    re-raises when attempts are exhausted. A stream still running after
    `await_sec` is stopped and raises `TimeoutError`. The streaming
    checkpoint makes restarts resume, not reprocess."""
    errors: list[str] = []
    attempts = 0
    window_start = time.time()
    while True:
        q = start_query()
        try:
            done = q.awaitTermination(await_sec) if await_sec else q.awaitTermination()
        except Exception as e:  # noqa: BLE001 — any stream failure
            errors.append(str(e))
            now = time.time()
            if now - window_start > cooldown_sec:
                window_start, attempts = now, 0
            attempts += 1
            if attempts >= max_attempts:
                raise
            continue
        if await_sec and not done:
            q.stop()
            raise TimeoutError(f"stream still running after {await_sec}s; stopped")
        return errors  # clean termination
