"""JDBC source/sink specs: partitioned reads and append sinks.

The reference paginates with LIMIT/OFFSET loops in a single thread
(`connectors/postgresql.py:432-530`, `transfer.py:831-933`, `tasks.max=1`
everywhere). The Spark-native replacement is a *partitioned* JDBC read —
numPartitions concurrent range scans on a numeric/temporal column — and a
partitioned `df.write.jdbc` append with per-executor batched inserts, which
is the distributed form of `executemany` batching (transfer.py:961-1099).

No *networked* database exists in this container, so the
PG/SQLServer/Oracle/AS400/Snowflake paths are spec-level (exact
reader/writer configuration, unit-tested); embedded Derby DOES ship with
Spark, and `tests/test_jdbc_derby.py` executes the same `read()`/`write()`
code paths against it end-to-end — partitioned range reads, predicate
pushdown, batched appends, incremental polling, and the streaming
foreachBatch sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .dialects import dialect
from .typemap import create_table_column_types


@dataclass
class _JdbcSpec:
    """Fields both specs share (reference models.py:54-160)."""

    engine: str
    host: str
    port: int
    database: str
    user: str
    password: str
    table: str                      # schema-qualified

    @property
    def url(self) -> str:
        return dialect(self.engine).url(self.host, self.port, self.database)

    def _with_driver(self, opts: dict[str, str]) -> dict[str, str]:
        driver = dialect(self.engine).jdbc_driver
        return {**opts, "driver": driver} if driver else opts


@dataclass
class JdbcReadSpec(_JdbcSpec):
    partition_column: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 8
    fetch_size: int = 10_000        # reference full-load batch (cdc_manager.py:1403)
    push_down_predicate: str | None = None

    def options(self) -> dict[str, str]:
        opts = self._with_driver({
            "url": self.url,
            "dbtable": self.table
            if not self.push_down_predicate
            else f"(SELECT * FROM {self.table} WHERE {self.push_down_predicate}) q",
            "user": self.user,
            "password": self.password,
            "fetchsize": str(self.fetch_size),
        })
        if self.partition_column:
            if self.lower_bound is None or self.upper_bound is None:
                raise ValueError("partitioned read requires explicit bounds")
            opts.update(
                partitionColumn=self.partition_column,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
                numPartitions=str(self.num_partitions),
            )
        return opts

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("jdbc").options(**self.options()).load()


@dataclass
class JdbcWriteSpec(_JdbcSpec):
    batch_size: int = 3_000         # reference sink batch (sink_config.py:24)
    mode: str = "append"            # insert-only, pk.mode=none (sink_config.py:159-164)
    isolation_level: str = "READ_COMMITTED"
    auto_ddl_types: bool = True     # auto.create=true analog (sink_config.py:162)
    extra: dict = field(default_factory=dict)

    def options(self, df: DataFrame | None = None) -> dict[str, str]:
        opts = self._with_driver({
            "url": self.url,
            "dbtable": self.table,
            "user": self.user,
            "password": self.password,
            "batchsize": str(self.batch_size),
            "isolationLevel": self.isolation_level,
        })
        if self.auto_ddl_types and df is not None:
            opts["createTableColumnTypes"] = create_table_column_types(
                self.engine, df.schema
            )
        opts.update({k: str(v) for k, v in self.extra.items()})
        return opts

    def write(self, df: DataFrame) -> None:
        (
            df.write.format("jdbc")
            .mode(self.mode)
            .options(**self.options(df))
            .save()
        )


def partition_bounds_query(table: str, column: str) -> str:
    """The one tiny driver-side query a partitioned read needs: min/max of
    the partition column (replaces the reference's COUNT(*)-then-paginate,
    postgresql.py:456-462)."""
    return f"SELECT MIN({column}) AS lo, MAX({column}) AS hi FROM {table}"
