"""Post-transfer validation — the reference's runtime correctness checks
(`backend/ingestion/validation.py`), re-expressed as distributed DataFrame
ops instead of driver-side COUNT round-trips:

  * validate_source_data   (validation.py:16-96)   -> non-empty check
  * validate_target_row_count (validation.py:97-193) -> count parity
  * validate_target_schema (validation.py:196-295)  -> column-set parity
  * validate_data_integrity (validation.py:298-400) -> row_level_diff
  * zero-row paradox        (transfer.py:902-931)   -> transferred-but-empty
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .scd2 import SCD2_META_COLS


class ReconciliationError(AssertionError):
    pass


@dataclass
class RowCountResult:
    source_rows: int
    target_rows: int
    matches: bool
    details: dict = field(default_factory=dict)


def validate_source_non_empty(source: DataFrame) -> int:
    """Reference: refuse to start a transfer from an empty/unreachable
    source (validation.py:16-96)."""
    n = source.limit(1).count()
    if n == 0:
        raise ReconciliationError("source table is empty")
    return n


def validate_row_count(
    source: DataFrame, target: DataFrame, raise_on_mismatch: bool = True
) -> RowCountResult:
    s, t = source.count(), target.count()
    res = RowCountResult(s, t, s == t)
    if s > 0 and t == 0 and raise_on_mismatch:
        raise ReconciliationError("zero-row paradox: transfer reported success but target is empty")
    if not res.matches and raise_on_mismatch:
        raise ReconciliationError(f"row count mismatch: source={s} target={t}")
    return res


def validate_schema(source: DataFrame, target: DataFrame, ignore_meta: bool = True) -> dict:
    """Column-set diff (added/removed/type-changed) — validation.py:196-295.
    Target SCD2 metadata columns (`scd2.SCD2_META_COLS`) are excluded by
    default."""
    meta = SCD2_META_COLS if ignore_meta else frozenset()
    s = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    t = {
        f.name: f.dataType.simpleString()
        for f in target.schema.fields
        if f.name not in meta
    }
    added = sorted(set(t) - set(s))
    removed = sorted(set(s) - set(t))
    modified = sorted(
        k for k in set(s) & set(t) if s[k] != t[k]
    )
    return {
        "matches": not (added or removed or modified),
        "added": added,
        "removed": removed,
        "modified": modified,
    }


def row_level_diff(
    source: DataFrame, target: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Full-outer diff on the business key: rows present on one side only.
    The distributed version of the reference's sample-N comparison
    (validation.py:298-400) — at scale this is the *only* honest form;
    a driver-side sample misses systematic partial loss."""
    s = source.select(*key_cols).withColumn("_in_source", F.lit(1))
    t = target.select(*key_cols).withColumn("_in_target", F.lit(1))
    joined = s.join(t, key_cols, "full_outer")
    return joined.where(
        F.col("_in_source").isNull() | F.col("_in_target").isNull()
    ).select(
        *key_cols,
        F.when(F.col("_in_source").isNull(), F.lit("target_only"))
        .otherwise(F.lit("source_only"))
        .alias("side"),
    )
