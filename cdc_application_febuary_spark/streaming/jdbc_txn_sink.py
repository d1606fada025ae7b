"""Exactly-once JDBC streaming sink: staging table + one-transaction MERGE
+ a batch ledger.

The reference's JDBC sink is Kafka-Connect insert-mode append — at-least-once,
duplicates on connector restart (`sink_config.py:159-164`; restart loop
`cdc_health_monitor.py:235-437`). The engine's base `jdbc_append_sink`
mirrors that. This module is the exactly-once upgrade, the standard
warehouse-loading pattern (what Connect's upsert-mode plus an offset table
approximates):

1. The micro-batch is collapsed to its last change per key (CDC apply
   semantics) and bulk-written to a STAGING table — distributed, batched
   executor inserts; ``overwrite`` makes a replayed write idempotent.
2. One driver-side JDBC transaction then applies ``MERGE staging -> target``
   (update / insert / delete-on-tombstone) AND records ``batch_id`` in a
   ledger table. Commit is atomic: a crash either applies both or neither.
3. On foreachBatch replay (Spark restarts redeliver the same ``batch_id``),
   the ledger row short-circuits the apply — the target never sees a batch
   twice. At-least-once delivery + idempotent transactional apply =
   exactly-once end-to-end.

Scale: the heavy lift (batch rows into the DB) stays distributed via Spark's
JDBC writer; the driver connection runs only set-based DDL/MERGE statements,
never row loops. Ledger grows one row per micro-batch.

Executed end-to-end against embedded Derby in
``tests/test_jdbc_txn_sink.py`` (the container's one real database); the
SQL emitted is ANSI MERGE, the same shape Postgres 15+ / SQL Server /
Oracle accept.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.dialects import dialect
from ..sources.jdbc import JdbcWriteSpec


def _q(col: str) -> str:
    """Quote an identifier the way Spark's JDBC writer created it (exact
    case). Derby et al. fold unquoted names; quoting keeps both sides
    consistent."""
    return '"' + col.replace('"', '""') + '"'


@dataclass
class TransactionalJdbcSink:
    """foreachBatch callable with exactly-once apply semantics.

    ``key_cols``    — merge keys (the target's logical primary key).
    ``order_cols``  — columns that order changes within a batch (e.g.
                      ``["__source_ts_ms"]``); the LAST change per key wins.
                      None = batch is assumed key-unique.
    ``delete_col``  — optional tombstone flag column ('true' deletes the key;
                      NULL/'false' upserts — compared null-safely, full-load
                      rows carry NULL per the engine contract).
    """

    spec: JdbcWriteSpec
    key_cols: list[str]
    order_cols: list[str] | None = None
    delete_col: str | None = None
    ledger_table: str = "CDC_BATCH_LEDGER"

    # -- connection helpers (driver-side, set-based statements only) --------

    def _connect(self, spark):
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        props.setProperty("user", self.spec.user)
        props.setProperty("password", self.spec.password)
        return jvm.java.sql.DriverManager.getConnection(self.spec.url, props)

    @staticmethod
    def _execute_ignoring_existing(conn, sql: str) -> None:
        st = conn.createStatement()
        try:
            st.executeUpdate(sql)
            conn.commit()
        except Exception as e:  # noqa: BLE001 — py4j wraps SQLException
            conn.rollback()
            # Derby X0Y32 / ANSI "already exists": first-run race is benign
            if "exist" not in str(e).lower():
                raise
        finally:
            st.close()

    def _ensure_ledger(self, conn) -> None:
        self._execute_ignoring_existing(
            conn,
            f"CREATE TABLE {self.ledger_table} ("
            f'"target" VARCHAR(256) NOT NULL, '
            f'"batch_id" BIGINT NOT NULL, '
            f'"applied_at" TIMESTAMP DEFAULT CURRENT_TIMESTAMP, '
            f'PRIMARY KEY ("target", "batch_id"))',
        )

    def _already_applied(self, conn, batch_id: int) -> bool:
        ps = conn.prepareStatement(
            f'SELECT 1 FROM {self.ledger_table} WHERE "target" = ? AND "batch_id" = ?'
        )
        try:
            ps.setString(1, self.spec.table)
            ps.setLong(2, batch_id)
            rs = ps.executeQuery()
            return rs.next()
        finally:
            ps.close()

    # -- SQL generation -----------------------------------------------------

    def _staging_table(self) -> str:
        return f"{self.spec.table}_STAGE"

    def _merge_sql(self, data_cols: list[str]) -> str:
        """ANSI MERGE from staging into target. ``data_cols`` excludes the
        delete flag (tombstones drive actions, never land as columns)."""
        t, s = self.spec.table, self._staging_table()
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in self.key_cols)
        non_key = [c for c in data_cols if c not in self.key_cols]
        insert_cols = ", ".join(_q(c) for c in data_cols)
        insert_vals = ", ".join(f"s.{_q(c)}" for c in data_cols)
        clauses = [f"MERGE INTO {t} t USING {s} s ON {on}"]
        if self.delete_col is not None:
            # CAST before comparing: on Derby the flag lands as CLOB (see
            # `typed_staging` in sources/dialects.py) and CLOB equality is
            # illegal; the cast is a no-op on engines whose dialects map
            # strings to VARCHAR/TEXT.
            tomb = (
                f"COALESCE(CAST(s.{_q(self.delete_col)} AS VARCHAR(32)), "
                f"'false') = 'true'"
            )
            clauses.append(f"WHEN MATCHED AND {tomb} THEN DELETE")
            if non_key:
                upd = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_key)
                clauses.append(f"WHEN MATCHED AND NOT ({tomb}) THEN UPDATE SET {upd}")
            clauses.append(
                f"WHEN NOT MATCHED AND NOT ({tomb}) "
                f"THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
            )
        else:
            if non_key:
                upd = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_key)
                clauses.append(f"WHEN MATCHED THEN UPDATE SET {upd}")
            clauses.append(
                f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
            )
        return " ".join(clauses)

    # -- the sink -----------------------------------------------------------

    def _collapse(self, batch: DataFrame) -> DataFrame:
        """Last change per key wins (CDC apply order). MERGE requires
        key-unique sources; a micro-batch can carry a key's whole history."""
        if not self.order_cols:
            return batch
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(c).desc_nulls_last() for c in self.order_cols]
        )
        return (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        conn = self._connect(spark)
        try:
            conn.setAutoCommit(True)
            self._ensure_ledger(conn)
            if self._already_applied(conn, batch_id):
                return  # replayed micro-batch: target already has it

            collapsed = self._collapse(batch)
            data_cols = [
                c for c in collapsed.columns if c != self.delete_col
            ]

            # 1) distributed bulk load into staging (idempotent overwrite),
            # typed by the typemap unless the engine's record says the
            # staging table keeps Spark's own DDL (Derby's CLOB quirk).
            staging_spec = JdbcWriteSpec(
                **{
                    **self.spec.__dict__,
                    "table": self._staging_table(),
                    "mode": "overwrite",
                    "auto_ddl_types": dialect(self.spec.engine).typed_staging,
                    "extra": dict(self.spec.extra),
                }
            )
            staging_spec.write(collapsed)

            # first batch: target may not exist — clone staging's shape
            self._execute_ignoring_existing(
                conn,
                f"CREATE TABLE {self.spec.table} AS "
                f"SELECT {', '.join(_q(c) for c in data_cols)} "
                f"FROM {self._staging_table()} WITH NO DATA",
            )

            # 2) one transaction: MERGE + ledger row — atomic apply
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                st.executeUpdate(self._merge_sql(data_cols))
                ps = conn.prepareStatement(
                    f'INSERT INTO {self.ledger_table} ("target", "batch_id") '
                    f"VALUES (?, ?)"
                )
                try:
                    ps.setString(1, self.spec.table)
                    ps.setLong(2, batch_id)
                    ps.executeUpdate()
                finally:
                    ps.close()
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                st.close()
        finally:
            conn.close()


def jdbc_exactly_once_sink(
    spec: JdbcWriteSpec,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Factory matching the other sink builders' shape."""
    return TransactionalJdbcSink(
        spec=spec, key_cols=key_cols, order_cols=order_cols, delete_col=delete_col
    )
