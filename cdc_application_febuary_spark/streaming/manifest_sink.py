"""Exactly-once Structured Streaming sink into a manifest-committed table.

``foreachBatch`` gives at-least-once batch delivery: after a crash between
sink completion and checkpoint commit, the SAME (batch_id, data) is
replayed. Exactly-once therefore needs the sink to be idempotent per
batch id — the transactional-sink recipe from the Structured Streaming
guide, realized here with the manifest table's atomic commit:

* every batch commit stores ``{"batch_id": N}`` in the manifest metadata,
  INSIDE the same atomic rename that publishes the data files — a marker
  can never exist without its rows, nor rows without their marker;
* on entry the sink resolves the newest committed batch id by scanning
  manifest versions newest-first (driver-side JSON, no data files
  opened); a batch id at or below it is a replay and is dropped whole.

Result: a crash at ANY point (before staging, after staging, after
commit, before checkpoint) converges to each batch's rows appearing
exactly once. Staged-but-uncommitted parquet files from a crashed attempt
are unreferenced by any manifest — invisible to readers, reclaimed by
``vacuum``.

Single-writer-per-table is the supported topology (one streaming query
owns one target — the reference's pipeline-per-target model). A
concurrent batch writer surfaces as ``CommitConflict``, which the sink
lets propagate so the query's recovery policy (``run_with_recovery``)
restarts on a fresh snapshot.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources import manifest_table as mt


def last_committed_batch(spark: SparkSession, table_path: str) -> int | None:
    """Newest batch id recorded in any committed manifest, scanning
    versions newest-first; None if no commit carries one."""
    v = mt.current_version(spark, table_path)
    while v is not None and v >= 0:
        meta = mt.read_commit_meta(spark, table_path, v)
        if "batch_id" in meta:
            return int(meta["batch_id"])
        v -= 1
    return None


def is_replay(spark: SparkSession, table_path: str, batch_id: int) -> bool:
    """True when ``batch_id`` is at or below the newest committed batch id:
    a replayed micro-batch the store already reflects, to be dropped whole."""
    seen = last_committed_batch(spark, table_path)
    return seen is not None and batch_id <= seen


def append_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    key_cols: list[str],
) -> int | None:
    """Idempotently append one micro-batch; returns the committed version,
    or None when the batch id was already committed (replay dropped)."""
    if is_replay(batch.sparkSession, table_path, batch_id):
        return None
    return mt.write_table(
        batch,
        table_path,
        key_cols,
        mode="append",
        meta={"batch_id": int(batch_id)},
    )


def upsert_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    key_cols: list[str],
    delete_col: str | None = None,
) -> dict | None:
    """Idempotent per-batch MERGE (CDC upsert streams): replays are dropped
    whole, fresh batches run the file-pruned copy-on-write merge."""
    spark = batch.sparkSession
    if is_replay(spark, table_path, batch_id):
        return None
    return mt.merge_upsert(
        spark,
        table_path,
        batch,
        key_cols,
        delete_col=delete_col,
        meta={"batch_id": int(batch_id)},
    )


def manifest_append_sink(
    table_path: str, key_cols: list[str]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable: exactly-once append into a manifest table."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        append_batch(batch, batch_id, table_path, key_cols)

    return sink
