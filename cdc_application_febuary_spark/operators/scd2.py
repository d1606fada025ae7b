"""SCD2 append-log semantics: the reference's targets are append-only
history tables (surrogate row_id + payload + __op/__source_ts_ms/__deleted —
DDL at `backend/ingestion/transfer.py:602-608,718-722,813-816`). The engine
materializes them as parquet/Delta appends and reconstructs current state
with a window — the capability the reference implies but never materializes
(SURVEY §2.5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.changelog import is_deleted, normalize_op

# Metadata columns an SCD2 target carries beside the payload: the surrogate
# key, the op/commit-time/delete stamps, and the change path's micro-batch
# id. Schema-parity and quality checks compare payload columns only.
SCD2_META_COLS = frozenset(
    {"row_id", "__op", "__source_ts_ms", "__deleted", "__batch_id"}
)


def to_scd2_rows(
    changelog: DataFrame,
    payload_cols: Sequence[str],
    op_col: str = "op",
    ts_ms_col: str = "source_ts_ms",
) -> DataFrame:
    """Shape raw change events into SCD2 append rows:
    payload + __op + __source_ts_ms + __deleted (delete-rewrite, not drop)."""
    return changelog.select(
        *[F.col(c) for c in payload_cols],
        F.col(op_col).alias("__op"),
        F.col(ts_ms_col).cast("long").alias("__source_ts_ms"),
        is_deleted(op_col).alias("__deleted"),
    )


def current_state(
    scd2: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("__source_ts_ms",),
    keep_deleted: bool = False,
) -> DataFrame:
    """Latest row per business key; by default drops keys whose latest
    version is a rewritten delete. Ordering must be by source commit order
    (`__source_ts_ms`, plus offset/surrogate tie-breakers) — never arrival
    order, which Kafka only preserves per-partition."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        scd2.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if keep_deleted:
        return latest
    # null-safe: full-load rows carry __deleted=NULL (transfer.py:997-998)
    # and are live; only an explicit 'true' (rewritten delete) kills a key
    return latest.where(~F.col("__deleted").eqNullSafe("true"))


def history_with_validity(
    scd2: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("__source_ts_ms",),
) -> DataFrame:
    """Classic SCD2 view: each version with valid_from/valid_to and an
    is_current flag (valid_to = next version's timestamp, null when open)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        scd2.withColumn("valid_from", F.col("__source_ts_ms"))
        .withColumn("valid_to", F.lead("__source_ts_ms").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def merge_upsert(
    target_current: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("__source_ts_ms",),
) -> DataFrame:
    """The upsert mode the reference deliberately avoids
    (`sink_config.py:261-263` keeps insert-only): apply a batch of SCD2
    change rows onto the current snapshot, producing the next snapshot —
    the Delta-MERGE analog expressed as union + current-state window, so it
    works on plain parquet. Inserts add keys, updates replace them, deletes
    (rewritten rows) remove them."""
    unioned = target_current.unionByName(changes, allowMissingColumns=True)
    return current_state(unioned, key_cols, order_cols)


def normalized_op_counts(changelog: DataFrame, op_col: str = "op") -> DataFrame:
    """The dashboard rollup (reference api.py:7826-7856): events by
    normalized op type."""
    return (
        changelog.groupBy(normalize_op(op_col).alias("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )
