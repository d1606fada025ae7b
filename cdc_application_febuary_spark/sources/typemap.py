"""Cross-engine type mapping: source-engine column types -> canonical Spark
StructType, and Spark types -> per-engine target DDL types.

The reference round-trips types through explicit per-engine maps discovered
at runtime (`backend/ingestion/transfer.py:34-139`; column metadata shape
`connectors/postgresql.py:284-299`). Here the canonical schema is a Spark
StructType; the per-engine quirks are each engine's record in
`sources/dialects.py` (SURVEY §7 "what's hard"), notably:

* SQL Server ``datetime2`` arrives from Debezium as epoch-nanos int64
  (`transfer.py:32-33,55`) -> LongType on ingest + an explicit conversion
  expression, not a timestamp.
* Oracle has no native boolean -> NUMBER(1); text -> CLOB
  (`transfer.py:92-115`).
* Snowflake targets collapse to VARIANT (`cdc_manager.py:1859-1912`) ->
  ``to_json(struct(*))`` at write.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .dialects import dialect

# source engine type name (lowered, params stripped) -> Spark type factory
_COMMON: dict[str, type[DataType] | DataType] = {
    "tinyint": ByteType(),
    "smallint": ShortType(),
    "int": IntegerType(),
    "integer": IntegerType(),
    "bigint": LongType(),
    "real": FloatType(),
    "float": DoubleType(),
    "double": DoubleType(),
    "double precision": DoubleType(),
    "bit": BooleanType(),
    "boolean": BooleanType(),
    "bool": BooleanType(),
    "date": DateType(),
    "time": StringType(),  # Spark has no TimeType; keep lexical
    "text": StringType(),
    "char": StringType(),
    "nchar": StringType(),
    "varchar": StringType(),
    "nvarchar": StringType(),
    "character varying": StringType(),
    "uuid": StringType(),
    "uniqueidentifier": StringType(),
    "xml": StringType(),
    "json": StringType(),
    "jsonb": StringType(),
    "binary": BinaryType(),
    "varbinary": BinaryType(),
    "bytea": BinaryType(),
    "blob": BinaryType(),
    "clob": StringType(),
    "nclob": StringType(),
    "graphic": StringType(),
    "vargraphic": StringType(),
    "timestamp": TimestampType(),
    "timestamptz": TimestampType(),
    "timestamp with time zone": TimestampType(),
    "timestamp without time zone": TimestampType(),
    "datetime": TimestampType(),
    "smalldatetime": TimestampType(),
    "datetimeoffset": TimestampType(),
    "money": DecimalType(19, 4),
    "smallmoney": DecimalType(10, 4),
    "number": DecimalType(38, 10),
    "numeric": DecimalType(38, 10),
    "decimal": DecimalType(38, 10),
}

_PARAM_RE = re.compile(r"^([a-z_ 0-9]*?)\s*\((\s*\d+\s*(?:,\s*\d+\s*)?)\)$")


def to_spark_type(engine: str, type_name: str) -> DataType:
    """Map one source column type (e.g. ``'numeric(10,2)'``) to a Spark type."""
    override = dialect(engine).type_overrides
    t = type_name.strip().lower()
    m = _PARAM_RE.match(t)
    params: list[int] = []
    if m:
        t = m.group(1).strip()
        params = [int(x) for x in m.group(2).split(",")]
    if t in ("numeric", "decimal", "number") and params:
        precision = min(params[0], 38)
        scale = params[1] if len(params) > 1 else 0
        return DecimalType(precision, scale)
    if t in override:
        return override[t]
    if t in _COMMON:
        return _COMMON[t]
    return StringType()  # unknown types degrade to lexical, never fail


def to_spark_schema(engine: str, columns: list[dict]) -> StructType:
    """``[{name, type, nullable?}]`` (information_schema shape,
    postgresql.py:232-248) -> StructType."""
    return StructType(
        [
            StructField(
                c["name"],
                to_spark_type(engine, c["type"]),
                bool(c.get("nullable", True)),
            )
            for c in columns
        ]
    )


def datetime2_nanos_to_timestamp(col: Column | str) -> Column:
    """The datetime2 quirk: epoch-nanos int64 -> TimestampType. Exact
    integer division via decimal — epoch-nanos exceed 2^53, so a plain
    double `/` would corrupt the low digits."""
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    micros = ((c - c % 1000).cast("decimal(38,0)") / 1000).cast("long")
    return F.timestamp_micros(micros)


def to_target_ddl_type(engine: str, dtype: DataType) -> str:
    """Spark type -> the engine's DDL type (createTableColumnTypes / auto-DDL)."""
    d = dialect(engine)
    if isinstance(dtype, DecimalType):
        return d.decimal_ddl.format(p=dtype.precision, s=dtype.scale)
    return d.ddl_types.get(dtype.simpleString(), d.ddl_types["string"])


def create_table_column_types(engine: str, schema: StructType) -> str:
    """The ``createTableColumnTypes`` option string for df.write.jdbc."""
    return ", ".join(
        f"{f.name} {to_target_ddl_type(engine, f.dataType)}" for f in schema.fields
    )


def conform_to_schema(df: DataFrame, schema: "StructType") -> DataFrame:
    """Cast/select a DataFrame to exactly the canonical table schema —
    the engine-side form of the reference's frozen target schema
    (auto.create then auto.evolve=false, sink_config.py:162-163). Both the
    full-load writer and the streaming sink must agree on physical types or
    a parquet target directory ends up with mixed INT32/INT64 files."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def to_variant_records(df: DataFrame) -> DataFrame:
    """Snowflake-style VARIANT collapse (cdc_manager.py:1859-1912): the whole
    row as RECORD_CONTENT JSON + RECORD_METADATA."""
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("RECORD_CONTENT"),
        F.to_json(
            F.struct(
                F.current_timestamp().alias("CreateTime"),
            )
        ).alias("RECORD_METADATA"),
    )
