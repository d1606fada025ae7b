"""Debezium connector config generation (S17): dialect rules + naming."""

import pytest

from cdc_application_febuary_spark.sources import connect_config as CC


def _conn(dt, **extra):
    return CC.SourceConnection(
        host="db.internal", port=None, username="u", password="p",
        database_type=dt, extra=extra,
    )


def test_postgres_config_shape():
    cfg = CC.debezium_source_config(
        "My-Pipe", _conn("postgresql"), "appdb", "", ["orders", "lineitem"],
        snapshot_mode="never",
    )
    assert cfg["connector.class"].endswith("PostgresConnector")
    assert cfg["table.include.list"] == "public.orders,public.lineitem"
    assert cfg["slot.name"] == "my_pipe_slot"
    assert cfg["publication.name"] == "my_pipe_pub"
    assert cfg["snapshot.mode"] == "never"  # streams immediately
    assert cfg["plugin.name"] == "pgoutput"
    assert cfg["database.port"] == "5432"
    assert cfg["name"] == "cdc-my-pipe-pg-public"
    assert "transforms" not in cfg  # PG keeps the envelope


def test_sqlserver_remaps_never_and_unwraps():
    # the plan remaps never -> schema_only (sqlserver has no never); the
    # config writes the resolved mode verbatim
    cfg = CC.debezium_source_config(
        "p1", _conn("mssql"), "sales", "", ["t1"],
        snapshot_mode="schema_only",
        kafka_bootstrap="broker:9092",
    )
    assert cfg["snapshot.mode"] == "schema_only"
    assert cfg["database.names"] == "sales"
    assert cfg["transforms.unwrap.delete.handling.mode"] == "rewrite"
    assert cfg["transforms.unwrap.add.fields"] == "op,source.ts_ms"
    assert (
        cfg["schema.history.internal.kafka.bootstrap.servers"]
        == "broker:9092"
    )
    cfg2 = CC.debezium_source_config(
        "p1", _conn("sqlserver"), "sales", "dbo", ["t1"],
        snapshot_mode="initial",
    )
    assert cfg2["snapshot.mode"] == "initial"
    assert cfg2["name"] == cfg["name"]  # mssql is an alias of sqlserver


def test_oracle_requires_schema_and_uses_logminer():
    with pytest.raises(ValueError, match="schema"):
        CC.debezium_source_config(
            "p", _conn("oracle"), "ORCL", "", ["T"], snapshot_mode="never"
        )
    cfg = CC.debezium_source_config(
        "p", _conn("oracle"), "ORCL", "C##CDC_USER", ["T"],
        snapshot_mode="initial_only",
    )
    assert cfg["snapshot.mode"] == "initial_only"
    assert cfg["database.connection.adapter"] == "logminer"
    assert cfg["log.mining.strategy"] == "online_catalog"
    # URL-hostile schema chars sanitized in the connector name
    assert cfg["name"] == "cdc-p-ora-c_cdc_user"


def test_as400_library_defaults_and_snapshot_matrix():
    cfg = CC.debezium_source_config(
        "p", _conn("as400", library="MYLIB", default_library="QGPL"),
        "", "", ["CUSTS"], snapshot_mode="initial",
    )
    assert cfg["connector.class"].endswith("As400RpcConnector")
    assert cfg["database.schema"] == "MYLIB"
    assert cfg["database.dbname"] == "QGPL"
    assert cfg["database.port"] == "446"
    assert cfg["snapshot.mode"] == "initial"  # written verbatim
    cfg2 = CC.debezium_source_config(
        "p", _conn("ibm_i"), "LIB1", "LIB1", ["T"], snapshot_mode="never",
    )
    assert cfg2["connector.class"].endswith("As400RpcConnector")
    assert cfg2["snapshot.mode"] == "never"


def test_topic_naming_matches_debezium_shapes():
    assert CC.topic_for("pipe", "public", "orders") == "pipe.public.orders"
    # SQL Server inserts the database segment
    assert (
        CC.topic_for("pipe", "dbo", "orders", database="sales")
        == "pipe.sales.dbo.orders"
    )
    # invalid topic chars become underscores
    assert CC.topic_for("pipe", "c##u", "t$x") == "pipe.c__u.t_x"


def test_topic_roundtrips_through_engine_parser(spark):
    """The generated topic parses back to the table with the engine's own
    extraction function — generator and consumer agree."""
    from pyspark.sql import functions as F

    from cdc_application_febuary_spark.functions.identifiers import (
        table_from_topic,
    )

    t = CC.topic_for("pipe", "public", "orders")
    got = (
        spark.range(1)
        .select(table_from_topic(F.lit(t)).alias("tbl"))
        .first()["tbl"]
    )
    assert got == "orders"


def test_no_hardcoded_endpoints():
    """The generator must never bake in an address — bootstrap is an
    explicit parameter."""
    cfg = CC.debezium_source_config(
        "p", _conn("db2"), "DB", "S1", ["T"], snapshot_mode="initial"
    )
    assert (
        cfg["schema.history.internal.kafka.bootstrap.servers"]
        == "localhost:9092"
    )


def test_jdbc_sink_policy_and_urls():
    pg = CC.jdbc_sink_config(
        "sink-pg", _conn("postgresql"), "tgt",
        ["pipe.public.orders", "pipe.public.lineitem"],
    )
    assert pg["insert.mode"] == "insert" and pg["pk.mode"] == "none"
    assert pg["auto.create"] == "true" and pg["auto.evolve"] == "false"
    assert pg["transforms.unwrap.delete.handling.mode"] == "rewrite"
    assert pg["consumer.override.auto.offset.reset"] == "earliest"
    assert pg["connection.url"] == "jdbc:postgresql://db.internal:5432/tgt"

    ms = CC.jdbc_sink_config(
        "sink-ms",
        CC.SourceConnection(
            host="h", port=1433, username="u", password="p",
            database_type="sqlserver", extra={"encrypt": True},
        ),
        "tgt", ["t.s.x"],
    )
    assert ms["connection.url"] == (
        "jdbc:sqlserver://h:1433;databaseName=tgt;encrypt=true;"
        "trustServerCertificate=true"
    )
    ora = CC.jdbc_sink_config(
        "sink-o",
        CC.SourceConnection(
            host="h", port=1521, username="u", password="p",
            database_type="oracle",
        ),
        "SVC", ["t.s.x"],
    )
    assert ora["connection.url"] == "jdbc:oracle:thin:@h:1521/SVC"


def test_snowflake_sink_keeps_envelope_and_maps_tables():
    cfg = CC.snowflake_sink_config(
        "sink-sf", "acct.snowflakecomputing.com", "u", "DB", "PUB",
        ["pipe.PUBLIC.ORDERS", "pipe.PUBLIC.LINEITEM"], password="p",
        warehouse="WH1",
    )
    assert "transforms" not in cfg  # envelope preserved in RECORD_CONTENT
    assert cfg["snowflake.topic2table.map"] == (
        "pipe.PUBLIC.ORDERS:orders,pipe.PUBLIC.LINEITEM:lineitem"
    )
    assert cfg["snowflake.warehouse.name"] == "WH1"
    import pytest as _pt

    with _pt.raises(ValueError, match="password or private_key"):
        CC.snowflake_sink_config("x", "a", "u", "d", "s", ["t.s.t"])


def test_snowflake_variant_ddl_shape():
    ddl = CC.snowflake_variant_ddl("orders", schema="PUBLIC")
    assert '"RECORD_CONTENT" VARIANT' in ddl
    assert '"RECORD_METADATA" VARIANT' in ddl
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "PUBLIC"."orders"')


def test_s3_sink_flush_and_format():
    cfg = CC.s3_sink_config("s3s", "bkt", "us-east-1", ["p.s.t"], flush_size=0)
    assert cfg["flush.size"] == "10"  # 0 falls back to the default
    assert cfg["format.class"].endswith("JsonFormat")
    assert "aws.access.key.id" not in cfg  # credentials only when given
