"""Type mapping, JDBC spec generation, and the batch full-load pipeline."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

from cdc_application_febuary_spark.plans.pipeline import run_full_load
from cdc_application_febuary_spark.sources.jdbc import (
    JdbcReadSpec,
    JdbcWriteSpec,
    partition_bounds_query,
)
from cdc_application_febuary_spark.sources.typemap import (
    create_table_column_types,
    datetime2_nanos_to_timestamp,
    to_spark_schema,
    to_spark_type,
    to_target_ddl_type,
    to_variant_records,
)


# --- type mapping -----------------------------------------------------------
def test_to_spark_type_core():
    assert to_spark_type("postgresql", "integer") == IntegerType()
    assert to_spark_type("postgresql", "numeric(10,2)") == DecimalType(10, 2)
    assert to_spark_type("postgresql", "uuid") == StringType()
    assert to_spark_type("sqlserver", "bit") == BooleanType()
    assert to_spark_type("sqlserver", "uniqueidentifier") == StringType()
    assert to_spark_type("oracle", "varchar2(100)") == StringType()
    assert to_spark_type("oracle", "binary_double") == DoubleType()
    assert to_spark_type("db2", "graphic") == StringType()
    assert to_spark_type("postgresql", "timestamp with time zone") == TimestampType()
    # unknown types degrade, never raise
    assert to_spark_type("postgresql", "tsvector") == StringType()


def test_datetime2_epoch_nanos_quirk(spark):
    # the Debezium datetime2->int64 quirk (transfer.py:32-33,55)
    assert to_spark_type("sqlserver", "datetime2") == LongType()
    nanos = 1700000000123456789
    df = spark.createDataFrame([(nanos,)], "v long")
    out = df.select(datetime2_nanos_to_timestamp("v").alias("t")).collect()[0]["t"]
    assert out.year == 2023 and out.microsecond == 123456


def test_to_spark_schema_and_ddl():
    schema = to_spark_schema(
        "sqlserver",
        [
            {"name": "id", "type": "int", "nullable": False},
            {"name": "name", "type": "nvarchar(255)"},
            {"name": "balance", "type": "decimal(10,2)"},
        ],
    )
    assert [f.dataType for f in schema.fields] == [
        IntegerType(), StringType(), DecimalType(10, 2),
    ]
    ddl = create_table_column_types("postgresql", schema)
    assert ddl == "id integer, name text, balance numeric(10,2)"
    assert to_target_ddl_type("oracle", DecimalType(10, 2)) == "NUMBER(10,2)"
    assert to_target_ddl_type("sqlserver", StringType()) == "nvarchar(max)"


def test_variant_collapse(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    out = to_variant_records(df)
    assert out.columns == ["RECORD_CONTENT", "RECORD_METADATA"]
    assert '"id":1' in out.collect()[0]["RECORD_CONTENT"]


# --- JDBC specs -------------------------------------------------------------
def test_jdbc_read_spec_options():
    spec = JdbcReadSpec(
        engine="postgresql", host="h", port=5432, database="db",
        user="u", password="p", table="public.orders",
        partition_column="o_orderkey", lower_bound=1, upper_bound=1000,
        num_partitions=16, push_down_predicate="o_orderdate >= DATE '2024-01-01'",
    )
    opts = spec.options()
    assert opts["url"] == "jdbc:postgresql://h:5432/db"
    assert opts["numPartitions"] == "16"
    assert opts["partitionColumn"] == "o_orderkey"
    assert "WHERE o_orderdate" in opts["dbtable"]
    assert opts["fetchsize"] == "10000"


def test_jdbc_read_spec_requires_bounds():
    spec = JdbcReadSpec(
        engine="postgresql", host="h", port=5432, database="db",
        user="u", password="p", table="t", partition_column="id",
    )
    with pytest.raises(ValueError, match="bounds"):
        spec.options()


def test_jdbc_write_spec_options(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    spec = JdbcWriteSpec(
        engine="sqlserver", host="h", port=1433, database="db",
        user="u", password="p", table="dbo.t",
    )
    opts = spec.options(df)
    assert opts["batchsize"] == "3000"  # reference sink batch size
    assert "id bigint" in opts["createTableColumnTypes"]  # python int -> long
    assert opts["driver"].startswith("com.microsoft")
    assert partition_bounds_query("dbo.t", "id").startswith("SELECT MIN(id)")


def _engine_outputs(engine, df):
    """What each per-engine consumer makes of one engine name."""
    from pyspark.sql.types import StructField, StructType

    from cdc_application_febuary_spark.operators.drift import ColumnChange
    from cdc_application_febuary_spark.sources import evolution as ev

    conn = dict(host="h", port=1, database="db", user="u", password="p", table="t")
    plan = ev.EvolutionPlan(
        add=[StructField("c", StringType())],
        widen=[ColumnChange("x", "type_changed", "int", "bigint")],
    )
    evolved = StructType(
        [StructField("x", LongType()), StructField("c", StringType())]
    )
    return {
        "spark_type": lambda: to_spark_type(engine, "datetime2"),
        "ddl_type": lambda: to_target_ddl_type(engine, StringType()),
        "read": lambda: JdbcReadSpec(engine=engine, **conn).options(),
        "write": lambda: JdbcWriteSpec(engine=engine, **conn).options(df),
        "alter": lambda: ev.alter_statements(engine, "t", plan, evolved),
    }


@pytest.mark.parametrize("alias,canonical", [("mssql", "sqlserver"), ("ibm_i", "as400")])
def test_alias_means_its_engine_and_unknown_names_raise(spark, alias, canonical):
    """An alias gives its engine's result from every consumer (the alter
    statements only where the engine has ALTER templates); an unknown
    engine name raises instead of falling back to another engine's."""
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    got = _engine_outputs(alias, df)
    want = _engine_outputs(canonical, df)
    for name in ("spark_type", "ddl_type", "read", "write"):
        assert got[name]() == want[name](), name
    if alias == "mssql":
        assert got["alter"]() == want["alter"]()
    for name, call in _engine_outputs("nonsense", df).items():
        with pytest.raises(ValueError, match="nonsense"):
            call()


# --- full-load pipeline -----------------------------------------------------
def test_run_full_load(spark, tmp_path, sf_small):
    src = spark.read.parquet(f"{sf_small}/orders.parquet")
    res = run_full_load(
        spark, src, str(tmp_path / "orders"), "orders", ts_column="o_orderdate"
    )
    assert res.rows == src.count()
    assert res.reconciliation == {"row_count": True, "schema": True}
    assert res.captured_ts_ms is not None  # stream handoff offset captured

    tgt = spark.read.parquet(str(tmp_path / "orders"))
    row = tgt.limit(1).collect()[0]
    assert row["__op"] == "r" and row["__deleted"] is None
    assert tgt.where(F.col("__source_ts_ms").isNull()).count() == 0
