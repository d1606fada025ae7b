"""Exactly-once transactional JDBC sink, executed against embedded Derby.

The reference's JDBC sink path is at-least-once Kafka-Connect insert mode
(`sink_config.py:159-164`) — restarts replay events into the target. This
suite proves the engine's staging+MERGE+ledger upgrade delivers
exactly-once: per-key collapse, tombstone deletes, and replay immunity of
the same micro-batch id.
"""

import pytest

from pyspark.sql import functions as F

from cdc_application_febuary_spark.sources.jdbc import (
    JdbcReadSpec,
    JdbcWriteSpec,
)
from cdc_application_febuary_spark.streaming.jdbc_txn_sink import (
    jdbc_exactly_once_sink,
)
from cdc_application_febuary_spark.streaming.replay import drain


def _specs(db: str, table: str = "T_TGT"):
    common = dict(
        engine="derby", host="", port=0, database=db, user="app",
        password="app", table=table,
    )
    return JdbcWriteSpec(**common), JdbcReadSpec(**common)


def _batch(spark, rows):
    """rows: (k, v, ts, deleted) — deleted as 'true'/'false'/None."""
    return spark.createDataFrame(
        rows, "k long, v string, __source_ts_ms long, __deleted string"
    )


def _state(spark, r):
    return {
        (row.k, row.v)
        for row in r.read(spark).collect()
    }


def test_upsert_delete_collapse_and_replay(spark, tmp_path):
    w, r = _specs(str(tmp_path / "db"))
    sink = jdbc_exactly_once_sink(
        w, key_cols=["k"], order_cols=["__source_ts_ms"],
        delete_col="__deleted",
    )

    # batch 0: plain inserts
    sink(_batch(spark, [(1, "a", 10, "false"),
                        (2, "b", 11, "false"),
                        (3, "c", 12, None)]), 0)
    assert _state(spark, r) == {(1, "a"), (2, "b"), (3, "c")}

    # batch 1: key 2 updated twice (last change wins), key 3 tombstoned,
    # key 4 inserted — one MERGE applies the collapsed net effect
    b1 = _batch(spark, [(2, "b2", 20, "false"),
                        (2, "b3", 21, "false"),
                        (3, None, 22, "true"),
                        (4, "d", 23, "false")])
    sink(b1, 1)
    assert _state(spark, r) == {(1, "a"), (2, "b3"), (4, "d")}

    # replaying the same batch_id (Spark restart redelivery) is a no-op:
    # the ledger row short-circuits before any write
    sink(_batch(spark, [(2, "GHOST", 99, "false")]), 1)
    assert _state(spark, r) == {(1, "a"), (2, "b3"), (4, "d")}

    # a NEW batch_id with the same payload does apply
    sink(_batch(spark, [(2, "b4", 30, "false")]), 2)
    assert _state(spark, r) == {(1, "a"), (2, "b4"), (4, "d")}


def test_tombstone_for_absent_key_is_noop(spark, tmp_path):
    w, r = _specs(str(tmp_path / "db"))
    sink = jdbc_exactly_once_sink(
        w, key_cols=["k"], order_cols=["__source_ts_ms"],
        delete_col="__deleted",
    )
    sink(_batch(spark, [(1, "a", 1, "false")]), 0)
    # delete of a key the target never saw: MERGE matches nothing, no error
    sink(_batch(spark, [(9, None, 2, "true")]), 1)
    assert _state(spark, r) == {(1, "a")}


def test_no_delete_col_plain_upsert(spark, tmp_path):
    w, r = _specs(str(tmp_path / "db"), table="T_UP")
    sink = jdbc_exactly_once_sink(w, key_cols=["k"], order_cols=["__source_ts_ms"])
    df0 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, v string, __source_ts_ms long"
    )
    sink(df0, 0)
    df1 = spark.createDataFrame(
        [(2, "b2", 3), (3, "c", 4)], "k long, v string, __source_ts_ms long"
    )
    sink(df1, 1)
    assert _state(spark, r) == {(1, "a"), (2, "b2"), (3, "c")}


def test_ledger_records_each_applied_batch(spark, tmp_path):
    w, r = _specs(str(tmp_path / "db"), table="T_LED")
    sink = jdbc_exactly_once_sink(w, key_cols=["k"])
    for bid in (0, 1, 7):
        sink(
            spark.createDataFrame([(bid, "x")], "k long, v string"),
            bid,
        )
    ledger = JdbcReadSpec(
        engine="derby", host="", port=0, database=str(tmp_path / "db"),
        user="app", password="app", table="CDC_BATCH_LEDGER",
    ).read(spark)
    got = {
        (row["target"], row["batch_id"]) for row in ledger.collect()
    }
    assert got == {("T_LED", 0), ("T_LED", 1), ("T_LED", 7)}


def test_streaming_foreachbatch_end_to_end(spark, tmp_path):
    """The sink as an actual writeStream foreachBatch target: a file-feed
    changelog stream lands exactly-once in Derby."""
    feed = str(tmp_path / "feed")
    w, r = _specs(str(tmp_path / "db"), table="T_STREAM")
    _batch(spark, [(1, "a", 1, "false"), (2, "b", 2, "false")]) \
        .write.mode("overwrite").parquet(feed)

    sink = jdbc_exactly_once_sink(
        w, key_cols=["k"], order_cols=["__source_ts_ms"],
        delete_col="__deleted",
    )
    stream = (
        spark.readStream.schema(
            "k long, v string, __source_ts_ms long, __deleted string"
        ).parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "jdbc txn sink stream")
    assert _state(spark, r) == {(1, "a"), (2, "b")}
