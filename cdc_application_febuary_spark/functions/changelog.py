"""Changelog (CDC) semantics: Debezium envelope encode and decode, op
normalization, delete-rewrite — the single most load-bearing semantic in the
reference, which implements it three times
(`backend/ingestion/cdc_event_logger.py:446-467`,
`backend/ingestion/api.py:7847-7856`, `backend/ingestion/api.py:8937-8979`).
Here it lives once: the decoder as pure column expressions (whole-stage-codegen
friendly; no Python in the hot path), and next to it the one encoder that
authors change feeds.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Debezium op codes -> normalized event types
# (reference: cdc_event_logger.py:449-455; api.py:7847-7856).
INSERT_CODES = ("c", "r", "insert", "i")
UPDATE_CODES = ("u", "update")
DELETE_CODES = ("d", "delete", "remove")
TRUNCATE_CODES = ("t", "truncate")


def normalize_op(op: Column | str) -> Column:
    """c/r -> insert, u -> update, d -> delete, t -> truncate, else other."""
    c = F.col(op) if isinstance(op, str) else op
    lc = F.lower(c)
    return (
        F.when(lc.isin(*INSERT_CODES), F.lit("insert"))
        .when(lc.isin(*UPDATE_CODES), F.lit("update"))
        .when(lc.isin(*DELETE_CODES), F.lit("delete"))
        .when(lc.isin(*TRUNCATE_CODES), F.lit("truncate"))
        .otherwise(F.lit("other"))
    )


def is_deleted(op: Column | str) -> Column:
    """Delete-rewrite flag: the reference keeps DELETEs as rows with
    ``__deleted='true'`` (`sink_config.py:275-276`, `debezium_config.py:300-302`)
    rather than dropping them."""
    c = F.col(op) if isinstance(op, str) else op
    return F.when(F.lower(c).isin(*DELETE_CODES), F.lit("true")).otherwise(
        F.lit("false")
    )


def debezium_envelope_schema(payload_schema: StructType) -> StructType:
    """Schema of a Debezium change message ``{payload: {before, after, source,
    op, ts_ms}}`` for a given table payload schema
    (reference parse: cdc_event_logger.py:417-444)."""
    source = StructType(
        [
            StructField("ts_ms", LongType()),
            StructField("db", StringType()),
            StructField("schema", StringType()),
            StructField("table", StringType()),
            StructField("lsn", StringType()),
        ]
    )
    payload = StructType(
        [
            StructField("before", payload_schema),
            StructField("after", payload_schema),
            StructField("source", source),
            StructField("op", StringType()),
            StructField("ts_ms", LongType()),
        ]
    )
    return StructType([StructField("payload", payload)])


def debezium_envelope(
    op: str,
    before: dict | None,
    after: dict | None,
    ts_ms: int,
    *,
    table: str,
    db: str,
    schema: str,
) -> str:
    """One Debezium change message as a JSON line, the inverse of
    ``decode_debezium``: ``before``/``after`` are row dicts (None where the
    op has no image), and ``ts_ms`` stamps both the payload and its
    source."""
    source = {"ts_ms": ts_ms, "db": db, "schema": schema, "table": table}
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": source,
                "op": op,
                "ts_ms": ts_ms,
            }
        }
    )


def decode_debezium(
    raw: DataFrame, payload_schema: StructType, value_col: str = "value"
) -> DataFrame:
    """Decode a raw change feed (e.g. Kafka ``value`` bytes/strings) into the
    engine's changelog shape:

    ``(before, after, row, op, event_type, __deleted, source_ts, source_table)``

    * ``row`` is ``coalesce(after, before)`` — for deletes Debezium puts the
      payload in ``before`` (delete-rewrite keeps it as the visible row).
    * tombstones (null value) are dropped, matching ``drop.tombstones=true``
      (`sink_config.py:170`).
    """
    schema = debezium_envelope_schema(payload_schema)
    parsed = (
        raw.filter(F.col(value_col).isNotNull())  # tombstone filter (T9)
        .withColumn("_raw_value", F.col(value_col).cast("string"))
        .withColumn("_env", F.from_json(F.col("_raw_value"), schema))
        # a non-null input that produced no envelope is corrupt — the
        # errors.tolerance=all analog: flagged, not dropped or crashed on
        .withColumn("_corrupt", F.col("_env.payload").isNull())
        .select("*", "_env.payload.*")
        .drop("_env", value_col)
    )
    return (
        parsed.withColumn("row", F.coalesce(F.col("after"), F.col("before")))
        .withColumn("event_type", normalize_op("op"))
        .withColumn("__deleted", is_deleted("op"))
        .withColumn(
            "source_ts",
            F.timestamp_millis(F.coalesce(F.col("source.ts_ms"), F.col("ts_ms"))),
        )
        .withColumn("source_table", F.col("source.table"))
    )


def stamp_full_load(df: DataFrame, ts_ms: Column | None = None) -> DataFrame:
    """Stamp a batch full-load DataFrame with the reference's snapshot
    metadata columns: ``__op='r'``, ``__source_ts_ms``, ``__deleted=NULL``
    (`transfer.py:997-998`)."""
    # unix_millis, not unix_timestamp*1000: the streaming path stamps true
    # milliseconds, and a whole-second stamp here would mis-order full-load
    # vs streamed rows landing in the same SCD2 target within the same second
    ts = ts_ms if ts_ms is not None else F.unix_millis(F.current_timestamp())
    return (
        df.withColumn("__op", F.lit("r"))
        .withColumn("__source_ts_ms", ts.cast("long"))
        .withColumn("__deleted", F.lit(None).cast("string"))
    )


def net_changes(
    changelog: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "__op",
) -> DataFrame:
    """Collapse a changelog batch to its NET effect per key — the minimal
    diff a downstream consumer must apply (what log-compacted topics and
    MERGE batching do; the reference replays every event row-by-row,
    `cdc_event_logger.py` consumer loop).

    Per key, ordered by ``order_cols`` (must be a total order within the
    batch — include a sequence/LSN tiebreaker):

    * first op create + last op delete  -> ``none`` (key flickered into
      and out of existence inside the batch; downstream never sees it)
    * first op create, last op not d    -> ``insert`` (emit final image)
    * first op not create, last op d    -> ``delete``
    * otherwise                          -> ``update`` (emit final image)

    One window pass over the batch (row_number ascending + descending on
    the same sort), then a self-join-free filter — the batch shuffles once
    on the key. Ops are normalized through ``normalize_op`` first, so
    Debezium codes and full-load 'r' rows both work ('r' counts as
    create: replaying a snapshot row then deleting it nets to nothing
    downstream)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    wd = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_cols]
    )
    op = normalize_op(F.col(op_col))
    marked = changelog.withColumn("__rn_a", F.row_number().over(w)).withColumn(
        "__rn_d", F.row_number().over(wd)
    ).withColumn("__norm_op", op)
    firsts = marked.where(F.col("__rn_a") == 1).select(
        *key_cols, F.col("__norm_op").alias("__first_op")
    )
    lasts = marked.where(F.col("__rn_d") == 1).drop("__rn_a", "__rn_d")
    joined = lasts.join(firsts, key_cols)
    # normalize_op folds c AND r into "insert": a snapshot read ('r')
    # followed by an in-batch delete nets to nothing downstream, same as
    # a create would
    is_create_first = F.col("__first_op") == "insert"
    is_delete_last = F.col("__norm_op") == "delete"
    net = (
        F.when(is_create_first & is_delete_last, "none")
        .when(is_create_first, "insert")
        .when(is_delete_last, "delete")
        .otherwise("update")
    )
    return (
        joined.withColumn("__net", net)
        .withColumn("__last_op", F.col("__norm_op"))
        .drop("__norm_op")
    )
