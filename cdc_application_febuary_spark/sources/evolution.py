"""Schema evolution / auto-DDL: evolve a JDBC target in place when the
polled source's schema drifts (the ``auto.evolve`` analog of the sink
configs; reference `backend/ingestion/data_quality.py:117-211` detects
drift, `transfer.py:378-429` transfers DDL per target engine).

Policy (the standard additive lakehouse contract):

* **added** source column  -> ``ALTER TABLE .. ADD`` a nullable column on
  the target; rows written before the evolution read back as NULL
  (NULL-backfill comes for free — no rewrite).
* **removed** source column -> target KEEPS the column; subsequent writes
  fill it with NULL (dropping data on a transient upstream hiccup is the
  one thing a sink must never do).
* **type widened** (byte<short<int<bigint, float<double, decimal
  precision growth) -> ``ALTER COLUMN .. TYPE`` where the engine supports
  it (PostgreSQL/SQLServer/Oracle); embedded Derby cannot re-type a
  column in place, so it evolves via rebuild (CREATE widened twin ->
  INSERT SELECT -> RENAME swap) — executed e2e in
  `tests/test_jdbc_derby_evolution.py`.
* **anything else** (narrowing, int->string, …) ->
  :class:`SchemaConflictError`. Silently coercing is how a CDC pipeline
  corrupts a target; the reference likewise surfaces ``modified_columns``
  for operator action rather than auto-applying them.

The diff itself is `operators.drift.diff_schemas` — the same classifier
the monitoring surface uses, so detection and evolution cannot disagree.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.drift import ColumnChange, diff_schemas
from .dialects import dialect
from .typemap import to_target_ddl_type


class SchemaConflictError(ValueError):
    """An observed schema change that cannot be auto-applied."""


# Safe widenings on Spark simpleString type names. A widening preserves
# every representable value of the narrower type.
_NUMERIC_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_RANK = {"float": 0, "double": 1}


def _is_widening(before: str, after: str) -> bool:
    if before in _NUMERIC_RANK and after in _NUMERIC_RANK:
        return _NUMERIC_RANK[after] > _NUMERIC_RANK[before]
    if before in _FLOAT_RANK and after in _FLOAT_RANK:
        return _FLOAT_RANK[after] > _FLOAT_RANK[before]
    if before.startswith("decimal(") and after.startswith("decimal("):
        bp, bs = map(int, before[8:-1].split(","))
        ap, as_ = map(int, after[8:-1].split(","))
        # integer digits and scale must both grow-or-hold
        return (ap - as_ >= bp - bs) and (as_ >= bs) and (ap, as_) != (bp, bs)
    return False


@dataclass
class EvolutionPlan:
    """What reconciling target -> source requires."""

    add: list[StructField] = field(default_factory=list)
    widen: list[ColumnChange] = field(default_factory=list)
    target_only: list[str] = field(default_factory=list)  # NULL-filled

    @property
    def noop(self) -> bool:
        return not self.add and not self.widen


def plan_evolution(
    target: StructType, source: StructType
) -> EvolutionPlan:
    """Classify the drift between the target's current schema and the
    source's observed schema into an applicable plan, or raise
    :class:`SchemaConflictError` for changes with no lossless auto-fix."""
    plan = EvolutionPlan()
    src_fields = {f.name: f for f in source.fields}
    for ch in diff_schemas(target, source):
        if ch.kind == "added":
            f = src_fields[ch.column]
            plan.add.append(StructField(f.name, f.dataType, nullable=True))
        elif ch.kind == "removed":
            plan.target_only.append(ch.column)
        elif ch.kind == "type_changed":
            if _is_widening(ch.before, ch.after):
                plan.widen.append(ch)
            else:
                raise SchemaConflictError(
                    f"column {ch.column!r} changed {ch.before} -> "
                    f"{ch.after}: not a lossless widening — evolve the "
                    "target manually or re-baseline the pipeline"
                )
        # nullability_changed: target columns are created nullable; a
        # source tightening needs no target DDL.
    return plan


def alter_statements(
    engine: str,
    table: str,
    plan: EvolutionPlan,
    evolved: StructType | None = None,
) -> list[str]:
    """The DDL batch that applies ``plan`` to ``table`` on ``engine``.

    ``evolved`` (the full post-evolution schema) is required only for
    engines that widen via rebuild (Derby)."""
    d = dialect(engine)
    if plan.add and d.add_column is None:
        raise SchemaConflictError(f"engine {engine!r} has no ADD COLUMN template")
    spark_types = {f.name: f.dataType for f in (evolved or StructType())}
    stmts = [
        d.add_column.format(
            table=table, col=f.name, type=to_target_ddl_type(engine, f.dataType)
        )
        for f in plan.add
    ]
    if not plan.widen:
        return stmts
    if d.widen_column:
        for ch in plan.widen:
            dtype = spark_types.get(ch.column)
            ddl_t = (
                to_target_ddl_type(engine, dtype)
                if dtype is not None
                else ch.after
            )
            stmts.append(
                d.widen_column.format(table=table, col=ch.column, type=ddl_t)
            )
        return stmts
    if d.widen_by_rebuild:
        if evolved is None:
            raise ValueError(f"{d.name} widen-by-rebuild needs the full schema")
        cols = ", ".join(
            f'"{f.name}" {to_target_ddl_type(engine, f.dataType)}'
            for f in evolved.fields
        )
        sel = ", ".join(f'"{f.name}"' for f in evolved.fields)
        tmp, old = f"{table}__EVOLVE", f"{table}__RETIRED"
        # Derby implicitly widens on INSERT SELECT (int -> bigint etc.);
        # added columns are created directly in the twin, so a combined
        # add+widen plan needs no extra ALTERs.
        return [
            f"CREATE TABLE {tmp} ({cols})",
            f"INSERT INTO {tmp} ({sel}) SELECT {sel} FROM {table}",
            f"RENAME TABLE {table} TO {old}",
            f"RENAME TABLE {tmp} TO {table}",
            f"DROP TABLE {old}",
        ]
    raise SchemaConflictError(
        f"engine {engine!r} cannot widen {[c.column for c in plan.widen]} "
        "in place and no rebuild recipe is defined"
    )


def evolved_schema(target: StructType, plan: EvolutionPlan) -> StructType:
    """The target's schema after ``plan`` applies: existing columns (with
    widened types), then added columns. Target-only columns stay."""
    widened = {c.column: c.after for c in plan.widen}
    fields = []
    for f in target.fields:
        if f.name in widened:
            from pyspark.sql.types import _parse_datatype_string

            fields.append(
                StructField(f.name, _parse_datatype_string(widened[f.name]), True)
            )
        else:
            fields.append(f)
    return StructType(fields + plan.add)


def execute_ddl(spark: SparkSession, url: str, statements: list[str]) -> None:
    """Run a DDL batch through the JVM's DriverManager (same classpath the
    JDBC reader uses, so any engine Spark can read, we can ALTER)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for ddl in statements:
            st.executeUpdate(ddl)
        st.close()
    finally:
        conn.close()


def evolve_jdbc_target(
    spark: SparkSession,
    write_spec,
    read_spec,
    observed: StructType,
) -> EvolutionPlan:
    """One evolution step: diff the live target schema against the
    source's observed schema, apply the DDL, return the plan (empty plan
    = no drift). Raises :class:`SchemaConflictError` on non-widening type
    changes — the poll loop should park the pipeline, exactly like the
    reference surfaces ``modified_columns`` instead of auto-applying."""
    target_schema = read_spec.read(spark).schema
    plan = plan_evolution(target_schema, observed)
    if plan.noop:
        return plan
    evolved = evolved_schema(target_schema, plan)
    stmts = alter_statements(write_spec.engine, write_spec.table, plan, evolved)
    execute_ddl(spark, write_spec.url, stmts)
    return plan


def conform_for_append(
    df: DataFrame, target: StructType, null_fill: bool = False
) -> DataFrame:
    """Shape a polled batch to the evolved target: everything casts to
    the target's physical type in table column order.

    Target-only columns (removed upstream) are OMITTED by default: the
    JDBC writer emits ``INSERT INTO t (cols...)`` with an explicit column
    list, so the database defaults them to NULL — and omitting is the
    only NULL path Spark's DerbyDialect supports for strings (its null
    sentinel type is CLOB, which Derby rejects against the VARCHAR
    columns our auto-DDL creates; PG/SQLServer/Oracle dialects don't
    have this quirk). ``null_fill=True`` materializes typed NULLs
    instead, for sinks that need the full physical schema (parquet /
    manifest-table targets)."""
    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
            if null_fill or f.name in have
        ]
    )
