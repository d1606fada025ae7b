"""Data-quality monitoring (reference `backend/ingestion/data_quality.py:23-211`):
the periodic source↔target health check a running pipeline performs —
row-count parity + schema drift + per-column null deltas, composed from the
reconciliation and drift primitives into one report."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .drift import ColumnChange, diff_schemas
from .reconciliation import validate_row_count, validate_schema
from .scd2 import SCD2_META_COLS


@dataclass
class QualityReport:
    row_count_match: bool
    source_rows: int
    target_rows: int
    schema_match: bool
    drift: list[ColumnChange] = field(default_factory=list)
    null_deltas: dict[str, int] = field(default_factory=dict)

    @property
    def healthy(self) -> bool:
        return self.row_count_match and self.schema_match and not any(
            v != 0 for v in self.null_deltas.values()
        )


def _null_counts(df: DataFrame, cols: list[str]) -> dict[str, int]:
    if not cols:
        return {}
    row = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    ).collect()[0]
    return {c: row[c] or 0 for c in cols}


def data_quality_report(source: DataFrame, target: DataFrame) -> QualityReport:
    """One pipeline health check: counts, schema parity (SCD2 meta columns
    ignored), drift classification, and null-count deltas on the shared
    columns (a systematic null increase in the target means the transfer is
    dropping values — the failure `validate_data_integrity` samples for)."""
    counts = validate_row_count(source, target, raise_on_mismatch=False)
    schema = validate_schema(source, target)
    target_cmp = target.drop(*[c for c in target.columns if c in SCD2_META_COLS])
    drift = diff_schemas(source.schema, target_cmp.schema)

    shared = [c for c in source.columns if c in set(target_cmp.columns)]
    src_nulls = _null_counts(source, shared)
    tgt_nulls = _null_counts(target_cmp, shared)
    deltas = {c: tgt_nulls[c] - src_nulls[c] for c in shared}

    return QualityReport(
        row_count_match=counts.matches,
        source_rows=counts.source_rows,
        target_rows=counts.target_rows,
        schema_match=schema["matches"],
        drift=drift,
        null_deltas=deltas,
    )
