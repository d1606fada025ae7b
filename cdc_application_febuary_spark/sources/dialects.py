"""Every per-engine fact in one table: one frozen `Dialect` per engine,
the alias names, and the one lookup, `dialect(name)`, which resolves
aliases and raises on an unknown name.

The reference spreads these facts over its connectors
(`debezium_config.py`, `transfer.py`, `connectors/*.py`); SURVEY §7 asks
for the per-engine quirks in one dialect module. Consumers look their
engine up once and read the record; none compares against an engine or
alias name (`tests/test_single_owner.py` enforces it).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import types as T

from ..functions import lsn

# Spark simpleString -> target DDL type (reference transfer.py:431-829);
# engines without a map of their own use this one.
_PG_DDL = {
    "byte": "smallint", "short": "smallint", "int": "integer",
    "bigint": "bigint", "float": "real", "double": "double precision",
    "boolean": "boolean", "string": "text", "date": "date",
    "timestamp": "timestamp", "binary": "bytea",
}

# SQL Server TLS settings as (property, connection.extra key, default):
# the source connector writes them as database.*, the JDBC sink URL as
# ;key=value pairs.
_MSSQL_TLS = (
    ("encrypt", "encrypt", False),
    ("trustServerCertificate", "trust_server_certificate", True),
)


def _postgres_props(pipeline: str, extra: dict, database: str, schema: str) -> dict:
    # replication slot / publication names: [a-z0-9_] only
    snake = re.sub(r"[^a-z0-9_]", "_", pipeline.lower().replace("-", "_"))
    return {
        "database.dbname": database,
        "plugin.name": "pgoutput",
        "slot.name": f"{snake}_slot",
        "publication.name": extra.get("publication_name") or f"{snake}_pub",
        "publication.autocreate.mode": extra.get("publication_autocreate", "filtered"),
        "snapshot.locking.mode": "none",
    }


def _sqlserver_props(pipeline: str, extra: dict, database: str, schema: str) -> dict:
    return {
        "database.names": database,
        "snapshot.isolation.mode": "snapshot",
        "database.cdc.enabled": "true",
        "database.history.skip.unparseable.ddl": "true",
        **{f"database.{k}": str(extra.get(x, d)).lower() for k, x, d in _MSSQL_TLS},
    }


@dataclass(frozen=True)
class Dialect:
    name: str
    default_port: int | None = None
    default_schema: str | None = None       # None: the schema must be explicit
    schema_from_library: bool = False       # library, then database, then default
    jdbc_url: str | None = None             # {host} {port} {database}
    jdbc_driver: str | None = None
    sink_url_params: tuple | None = None    # None: no JDBC sink connector
    connector_class: str | None = None      # None: no Debezium source connector
    connector_short: str = ""
    connector_props: Callable[[str, dict, str, str], dict] | None = None
    unwrap_drop_tombstones: str | None = None  # None keeps the envelope
    schema_history: bool = False
    database_in_topic: bool = False         # {prefix}.{database}.{schema}.{table}
    never_remap: tuple[str, str] | None = None  # (snapshot.mode, reason) for never
    never_needs_offset: bool = False        # no captured offset -> full snapshot
    type_overrides: dict = field(default_factory=dict)
    ddl_types: dict = field(default_factory=lambda: _PG_DDL)
    decimal_ddl: str = "decimal({p},{s})"
    # ALTER templates ({table} {col} {type}); columns are quoted, as Spark
    # writes quoted lowercase identifiers (tests/test_jdbc_derby.py header)
    add_column: str | None = None
    widen_column: str | None = None
    widen_by_rebuild: bool = False          # CREATE twin -> INSERT SELECT -> RENAME
    offset_parser: Callable | None = None
    fk_catalog_sql: str | None = None       # FK edges from the system catalog
    typed_staging: bool = True              # False: staging keeps Spark's own DDL

    def resolve_schema(self, schema: str, database: str, extra: dict) -> str:
        """``schema``, or this engine's default when it is blank."""
        if schema and schema.strip():
            return schema
        lib = self.schema_from_library and (extra.get("library") or database)
        s = lib or self.default_schema
        if not s:
            raise ValueError(f"{self.name} requires an explicit schema")
        return s

    def url(self, host: str, port, database: str) -> str:
        if self.jdbc_url is None:
            raise ValueError(f"{self.name} has no JDBC URL")
        return self.jdbc_url.format(host=host, port=port, database=database)

    def sink_url(self, host: str, port, database: str, extra: dict) -> str:
        if self.sink_url_params is None:
            raise ValueError(f"unsupported JDBC sink dialect: {self.name}")
        return self.url(host, port, database) + "".join(
            f";{k}={str(extra.get(x, d)).lower()}" for k, x, d in self.sink_url_params
        )


_JT400 = dict(
    jdbc_url="jdbc:as400://{host};libraries={database}",
    jdbc_driver="com.ibm.as400.access.AS400JDBCDriver",
    schema_history=True, never_needs_offset=True,
)

DIALECTS = {d.name: d for d in (
    Dialect(
        "postgresql", default_port=5432, default_schema="public",
        jdbc_url="jdbc:postgresql://{host}:{port}/{database}",
        jdbc_driver="org.postgresql.Driver", sink_url_params=(),
        connector_class="io.debezium.connector.postgresql.PostgresConnector",
        connector_short="pg", connector_props=_postgres_props,
        type_overrides={"serial": T.IntegerType(), "bigserial": T.LongType()},
        decimal_ddl="numeric({p},{s})",
        add_column='ALTER TABLE {table} ADD COLUMN "{col}" {type}',
        widen_column='ALTER TABLE {table} ALTER COLUMN "{col}" TYPE {type}',
        offset_parser=lsn.pg_lsn_to_long,
        fk_catalog_sql="""
        SELECT conrelid::regclass::text AS from_table,
               confrelid::regclass::text AS to_table,
               conname AS constraint_name
        FROM pg_constraint WHERE contype = 'f'
    """,
    ),
    Dialect(
        "sqlserver", default_port=1433, default_schema="dbo",
        jdbc_url="jdbc:sqlserver://{host}:{port};databaseName={database}",
        jdbc_driver="com.microsoft.sqlserver.jdbc.SQLServerDriver",
        sink_url_params=_MSSQL_TLS,
        connector_class="io.debezium.connector.sqlserver.SqlServerConnector",
        connector_short="mssql", connector_props=_sqlserver_props,
        unwrap_drop_tombstones="false", schema_history=True,
        database_in_topic=True,
        never_remap=("schema_only", "sqlserver remaps never -> schema_only"),
        # Debezium emits datetime2 as epoch-nanos int64 (transfer.py:32-33):
        # land it as a long and convert explicitly downstream.
        type_overrides={"datetime2": T.LongType()},
        ddl_types={
            "byte": "tinyint", "short": "smallint", "int": "int",
            "bigint": "bigint", "float": "real", "double": "float",
            "boolean": "bit", "string": "nvarchar(max)", "date": "date",
            "timestamp": "datetime2", "binary": "varbinary(max)",
        },
        add_column='ALTER TABLE {table} ADD "{col}" {type}',
        widen_column='ALTER TABLE {table} ALTER COLUMN "{col}" {type}',
        offset_parser=lsn.sqlserver_lsn_to_long,
        fk_catalog_sql="""
        SELECT OBJECT_NAME(parent_object_id) AS from_table,
               OBJECT_NAME(referenced_object_id) AS to_table,
               name AS constraint_name
        FROM sys.foreign_keys
    """,
    ),
    Dialect(
        "oracle", default_port=1521,  # Oracle schema == user, no default
        jdbc_url="jdbc:oracle:thin:@{host}:{port}/{database}",
        jdbc_driver="oracle.jdbc.OracleDriver", sink_url_params=(),
        connector_class="io.debezium.connector.oracle.OracleConnector",
        connector_short="ora",
        connector_props=lambda p, x, db, s: {
            "database.dbname": db,
            "database.connection.adapter": "logminer",
            "log.mining.strategy": "online_catalog",
            "snapshot.locking.mode": "none",
            "database.history.skip.unparseable.ddl": "true",
        },
        schema_history=True,
        never_remap=("initial_only", "oracle forbids snapshot.mode=never -> initial_only"),
        type_overrides={
            "varchar2": T.StringType(), "nvarchar2": T.StringType(),
            "binary_float": T.FloatType(), "binary_double": T.DoubleType(),
            "raw": T.BinaryType(),
        },
        ddl_types={
            "byte": "NUMBER(3)", "short": "NUMBER(5)", "int": "NUMBER(10)",
            "bigint": "NUMBER(19)", "float": "BINARY_FLOAT",
            "double": "BINARY_DOUBLE", "boolean": "NUMBER(1)",
            "string": "CLOB", "date": "DATE", "timestamp": "TIMESTAMP",
            "binary": "BLOB",
        },
        decimal_ddl="NUMBER({p},{s})",
        add_column='ALTER TABLE {table} ADD ("{col}" {type})',
        widen_column='ALTER TABLE {table} MODIFY ("{col}" {type})',
        offset_parser=lsn.oracle_scn_to_long,
    ),
    Dialect(
        "db2", default_port=50000, unwrap_drop_tombstones="true", **_JT400,
        connector_class="io.debezium.connector.db2.Db2Connector",
        connector_short="db2",
        connector_props=lambda p, x, db, s: {"database.dbname": db or s},
        type_overrides={"decfloat": T.DoubleType()},
    ),
    Dialect(
        "as400", default_port=446, default_schema="QSYS",
        schema_from_library=True, unwrap_drop_tombstones="false", **_JT400,
        connector_class="io.debezium.connector.db2as400.As400RpcConnector",
        connector_short="as400",
        connector_props=lambda p, x, db, s: {
            "database.dbname": x.get("default_library") or db or "QGPL",
            "database.schema": s,
        },
        offset_parser=lsn.as400_journal_to_long,
    ),
    Dialect("snowflake", jdbc_url="jdbc:snowflake://{host}/?db={database}"),
    Dialect("s3"),
    # Embedded Derby ships with Spark: the one JDBC database the tests run
    # end to end. `database` is a filesystem path; host/port are unused.
    Dialect(
        "derby", jdbc_url="jdbc:derby:{database};create=true",
        # VARCHAR over CLOB: Derby CLOBs cannot be compared or filtered,
        # which breaks predicate pushdown on string columns.
        ddl_types={
            **_PG_DDL, "double": "double", "string": "varchar(4000)",
            "binary": "blob",
        },
        add_column='ALTER TABLE {table} ADD COLUMN "{col}" {type}',
        # ALTER COLUMN SET DATA TYPE only widens VARCHAR on Derby
        widen_by_rebuild=True,
        fk_catalog_sql="""
        SELECT tc.TABLENAME AS from_table, tt.TABLENAME AS to_table,
               c1.CONSTRAINTNAME AS constraint_name
        FROM SYS.SYSFOREIGNKEYS fk
        JOIN SYS.SYSCONSTRAINTS c1 ON fk.CONSTRAINTID = c1.CONSTRAINTID
        JOIN SYS.SYSTABLES tc ON c1.TABLEID = tc.TABLEID
        JOIN SYS.SYSCONSTRAINTS c2 ON fk.KEYCONSTRAINTID = c2.CONSTRAINTID
        JOIN SYS.SYSTABLES tt ON c2.TABLEID = tt.TABLEID
    """,
        # Staging tables keep Spark's DerbyDialect DDL (strings as CLOB):
        # the writer's setNull uses its jdbcNullType (Types.CLOB), which
        # Derby rejects against a VARCHAR column (ERROR 22005) the moment
        # a string is NULL, and tombstones always carry NULLs.
        typed_staging=False,
    ),
)}

ALIASES = {"mssql": "sqlserver", "ibm_i": "as400"}


def dialect(name: str) -> Dialect:
    """The record for an engine name or alias (case-insensitive);
    unknown names raise ``ValueError``."""
    n = name.lower()
    d = DIALECTS.get(ALIASES.get(n, n))
    if d is None:
        raise ValueError(f"unknown engine {name!r}")
    return d
