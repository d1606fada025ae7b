"""Debezium/Kafka-Connect source-connector config generation (S17).

The reference's steady-state ingestion is Debezium running inside Kafka
Connect; the engine-side artifact is the connector CONFIG — a JSON dict
of dialect-specific properties — plus deterministic naming for
connectors, replication slots, publications, and topics
(`/root/reference/backend/ingestion/debezium_config.py:14-776`). This
module re-expresses those semantics: per-dialect connector classes,
envelope-vs-unwrap transform choices, and the naming rules downstream
consumers depend on (`functions/identifiers.topic_name` parses the same
shapes back). Each dialect's facts (connector class, default port and
schema, per-connector properties, JDBC URL) are its record in
`sources/dialects.py`; the snapshot-mode remaps are resolved by
`plans/snapshot.py`, and the config writes the mode that plan resolved.

Everything here is pure config generation — no Kafka client, no
network — so it is fully testable offline; the Spark engine consumes
the resulting topics through `streaming/changelog_stream.kafka_source`
(or its file-feed twin where no broker exists).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .dialects import dialect


@dataclass
class SourceConnection:
    host: str
    port: int | None
    username: str
    password: str
    database_type: str  # postgresql | sqlserver | oracle | db2 | as400
    database: str | None = None
    extra: dict = field(default_factory=dict)


def debezium_dialect(database_type: str):
    """The engine's record; engines with no Debezium source connector raise."""
    d = dialect(database_type)
    if d.connector_class is None:
        raise ValueError(f"unsupported database type for Debezium: {d.name}")
    return d


def connector_name(pipeline_name: str, database_type: str, schema: str) -> str:
    """cdc-{pipeline}-{dialect-short}-{schema}, URL-safe."""
    short = debezium_dialect(database_type).connector_short
    s = re.sub(r"[^a-z0-9._-]", "_", (schema or "").lower())
    s = re.sub(r"_+", "_", s).strip("_")
    return f"cdc-{pipeline_name.lower()}-{short}-{s}"


def topic_for(
    pipeline_name: str, schema: str, table: str, database: str | None = None
) -> str:
    """Debezium topic: {prefix}.{schema}.{table} — SQL Server inserts the
    database: {prefix}.{database}.{schema}.{table}. Invalid topic chars
    become underscores."""

    def clean(x: str) -> str:
        return re.sub(r"[^a-zA-Z0-9._-]", "_", x).strip("_")

    parts = [pipeline_name]
    if database is not None:
        parts.append(clean(database))
    parts += [clean(schema), clean(table)]
    return ".".join(parts)


def debezium_source_config(
    pipeline_name: str,
    connection: SourceConnection,
    database: str,
    schema: str,
    tables: list[str],
    snapshot_mode: str,
    kafka_bootstrap: str = "localhost:9092",
) -> dict:
    """The connector config dict a Kafka-Connect POST would carry.
    ``snapshot_mode`` is written verbatim: pass the mode
    `plans.snapshot.resolve_snapshot_mode` resolved for this engine."""
    d = debezium_dialect(connection.database_type)
    schema = d.resolve_schema(schema, database, connection.extra)
    if not tables:
        raise ValueError(f"no tables provided for pipeline {pipeline_name}")

    host = connection.extra.get("docker_hostname", connection.host)
    port = connection.port or d.default_port

    cfg = {
        "name": connector_name(pipeline_name, d.name, schema),
        "connector.class": d.connector_class,
        "tasks.max": "1",
        "database.hostname": host,
        "database.port": str(port),
        "database.user": connection.username,
        "database.password": connection.password,
        "database.server.name": pipeline_name,
        "topic.prefix": pipeline_name,
        "table.include.list": ",".join(f"{schema}.{t}" for t in tables),
        "snapshot.mode": snapshot_mode,
        "key.converter": "org.apache.kafka.connect.json.JsonConverter",
        "key.converter.schemas.enable": "false",
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "value.converter.schemas.enable": "true",
        "errors.tolerance": "all",
        "errors.log.enable": "true",
        "errors.log.include.messages": "true",
    }
    cfg.update(d.connector_props(pipeline_name, connection.extra, database, schema))
    if d.unwrap_drop_tombstones:
        cfg.update(
            {
                "transforms": "unwrap",
                "transforms.unwrap.type": "io.debezium.transforms.ExtractNewRecordState",
                "transforms.unwrap.drop.tombstones": d.unwrap_drop_tombstones,
                "transforms.unwrap.delete.handling.mode": "rewrite",
                "transforms.unwrap.delete.tombstone.handling.mode": "rewrite",
                "transforms.unwrap.add.fields": "op,source.ts_ms",
            }
        )
    if d.schema_history:
        cfg.update(
            {
                "schema.history.internal": "io.debezium.storage.kafka.history.KafkaSchemaHistory",
                "schema.history.internal.kafka.bootstrap.servers": kafka_bootstrap,
                "schema.history.internal.kafka.topic": (
                    f"{pipeline_name}.schema.history.internal"
                ),
            }
        )
    return cfg


# ---------------------------------------------------------------------------
# Sink connectors (S9-S16 connect-side shapes)
# ---------------------------------------------------------------------------
def table_name_from_topic(topic: str) -> str:
    """{prefix}.{schema}.{table} -> table (last segment)."""
    parts = topic.split(".")
    return parts[-1] if len(parts) >= 3 else topic


def jdbc_sink_config(
    connector_name_: str,
    connection: SourceConnection,
    database: str,
    topics: list[str],
    batch_size: int = 3000,
) -> dict:
    """Confluent JDBC sink carrying the reference's replication policy:
    append-only inserts with ``pk.mode=none`` (every change lands as a
    row — the SCD2 history the engine's `operators/scd2` collapses),
    ``auto.create`` on / ``auto.evolve`` off (targets are created with
    CDC metadata columns up front), deletes rewritten to rows with
    ``__deleted=true`` rather than dropped, and consumers starting at
    ``earliest`` so a fresh sink drains the backlog."""
    d = dialect(connection.database_type)
    port = connection.port or d.default_port
    return {
        "name": connector_name_,
        "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
        "tasks.max": "1",
        "topics": ",".join(topics),
        "connection.url": d.sink_url(
            connection.host, port, database, connection.extra
        ),
        "connection.user": connection.username,
        "connection.password": connection.password,
        "insert.mode": "insert",
        "pk.mode": "none",
        "batch.size": str(batch_size),
        "auto.create": "true",
        "auto.evolve": "false",
        "delete.enabled": "false",
        "transforms": "unwrap",
        "transforms.unwrap.type": "io.debezium.transforms.ExtractNewRecordState",
        "transforms.unwrap.drop.tombstones": "true",
        "transforms.unwrap.delete.handling.mode": "rewrite",
        "transforms.unwrap.add.fields": "op,source.ts_ms",
        "consumer.override.auto.offset.reset": "earliest",
        "errors.tolerance": "all",
        "errors.log.enable": "true",
        "errors.log.include.messages": "true",
        "table.name.format": "${topic}",
    }


def s3_sink_config(
    connector_name_: str,
    bucket: str,
    region: str,
    topics: list[str],
    flush_size: int = 10,
    aws_access_key_id: str | None = None,
    aws_secret_access_key: str | None = None,
) -> dict:
    """Confluent S3 sink: JSON objects, default partitioner, small flush
    size for near-real-time visibility (the reference's choice)."""
    cfg = {
        "name": connector_name_,
        "connector.class": "io.confluent.connect.s3.S3SinkConnector",
        "tasks.max": "1",
        "topics": ",".join(topics),
        "s3.region": region,
        "s3.bucket.name": bucket,
        "s3.part.size": "5242880",
        "flush.size": str(flush_size if flush_size > 0 else 10),
        "storage.class": "io.confluent.connect.s3.storage.S3Storage",
        "format.class": "io.confluent.connect.s3.format.json.JsonFormat",
        "partitioner.class": (
            "io.confluent.connect.storage.partitioner.DefaultPartitioner"
        ),
        "schema.compatibility": "NONE",
        "errors.tolerance": "all",
        "errors.log.enable": "true",
    }
    if aws_access_key_id:
        cfg["aws.access.key.id"] = aws_access_key_id
    if aws_secret_access_key:
        cfg["aws.secret.access.key"] = aws_secret_access_key
    return cfg


def snowflake_sink_config(
    connector_name_: str,
    account_url: str,
    username: str,
    database: str,
    schema: str,
    topics: list[str],
    password: str | None = None,
    private_key: str | None = None,
    private_key_passphrase: str | None = None,
    warehouse: str | None = None,
    role: str | None = None,
    batch_size: int = 10000,
) -> dict:
    """Snowflake Kafka-Connect sink: the FULL Debezium envelope lands in
    ``RECORD_CONTENT`` (VARIANT) — no unwrap transform, so op/before/
    after survive for downstream CDC logic — with the topic2table map
    lowercasing the topic's table segment (Snowflake-side names)."""
    if not (password or private_key):
        raise ValueError(
            "snowflake sink needs either password or private_key"
        )
    cfg = {
        "name": connector_name_,
        "connector.class": (
            "com.snowflake.kafka.connector.SnowflakeSinkConnector"
        ),
        "tasks.max": "1",
        "topics": ",".join(topics),
        "snowflake.url.name": account_url,
        "snowflake.user.name": username,
        "snowflake.database.name": database,
        "snowflake.schema.name": schema,
        "buffer.count.records": str(batch_size if batch_size > 0 else 10000),
        "buffer.flush.time": "60",
        "buffer.size.bytes": "5000000",
        "key.converter": "org.apache.kafka.connect.storage.StringConverter",
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "value.converter.schemas.enable": "true",
        "errors.tolerance": "all",
        "errors.log.enable": "true",
        "errors.log.include.messages": "true",
        "snowflake.topic2table.map": ",".join(
            f"{t}:{table_name_from_topic(t).lower()}" for t in topics
        ),
    }
    if private_key:
        cfg["snowflake.private.key"] = private_key
        if private_key_passphrase:
            cfg["snowflake.private.key.passphrase"] = private_key_passphrase
    else:
        cfg["snowflake.password"] = password
    if warehouse:
        cfg["snowflake.warehouse.name"] = warehouse
    if role:
        cfg["snowflake.role.name"] = role
    return cfg


def snowflake_variant_ddl(table: str, schema: str | None = None) -> str:
    """CREATE TABLE for the Snowflake landing shape: RECORD_CONTENT +
    RECORD_METADATA, both VARIANT (the Kafka connector's native format —
    OBJECT breaks connector compatibility; reference
    schema_service.py:857-867)."""
    qualified = f'"{schema}"."{table}"' if schema else f'"{table}"'
    return (
        f"CREATE TABLE IF NOT EXISTS {qualified} (\n"
        '  "RECORD_CONTENT" VARIANT,\n'
        '  "RECORD_METADATA" VARIANT\n'
        ")"
    )
