"""Changelog-semantics golden tests (FIXTURES.md family A): op
normalization, delete-rewrite, tombstone drop, full-load stamping."""

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cdc_application_febuary_spark.functions.changelog import (
    debezium_envelope,
    decode_debezium,
    is_deleted,
    normalize_op,
    stamp_full_load,
)

PAYLOAD = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
    ]
)


def _msg(op, before, after, ts=1700000000000):
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"ts_ms": ts, "db": "d", "schema": "s", "table": "t"},
                "op": op,
                "ts_ms": ts + 5,
            }
        }
    )


def test_normalize_op(spark):
    df = spark.createDataFrame(
        [("c",), ("r",), ("u",), ("d",), ("t",), ("z",), ("INSERT",)], ["op"]
    )
    got = {
        r["op"]: r["norm"]
        for r in df.select("op", normalize_op("op").alias("norm")).collect()
    }
    assert got == {
        "c": "insert",
        "r": "insert",
        "u": "update",
        "d": "delete",
        "t": "truncate",
        "z": "other",
        "INSERT": "insert",
    }


def test_delete_rewrite_flag(spark):
    df = spark.createDataFrame([("d",), ("c",), ("u",)], ["op"])
    got = [r[0] for r in df.select(is_deleted("op")).collect()]
    assert got == ["true", "false", "false"]


def test_decode_debezium_insert_update_delete(spark):
    raw = spark.createDataFrame(
        [
            (_msg("c", None, {"id": 1, "name": "a"}),),
            (_msg("u", {"id": 1, "name": "a"}, {"id": 1, "name": "b"}),),
            (_msg("d", {"id": 1, "name": "b"}, None),),
            (None,),  # tombstone — must be dropped
        ],
        ["value"],
    )
    out = decode_debezium(raw, PAYLOAD).orderBy("op").collect()
    assert len(out) == 3  # tombstone filtered
    by_op = {r["op"]: r for r in out}
    assert by_op["c"]["event_type"] == "insert"
    assert by_op["c"]["row"]["name"] == "a"
    assert by_op["u"]["event_type"] == "update"
    assert by_op["u"]["row"]["name"] == "b"  # after wins
    # delete-rewrite: payload comes from `before`, row kept, flagged
    assert by_op["d"]["event_type"] == "delete"
    assert by_op["d"]["__deleted"] == "true"
    assert by_op["d"]["row"]["name"] == "b"
    assert by_op["c"]["source_table"] == "t"


def test_debezium_envelope_round_trips_through_decode(spark):
    """What the encoder writes, the decoder reads back: op, row (after, or
    before for a delete), delete flag, source time and table, with null
    before/after images kept null; a line that is no envelope comes back
    flagged corrupt."""
    cases = [
        ("c", None, {"id": 1, "name": "a"}, 1000),
        ("r", None, {"id": 2, "name": "b"}, 2000),
        ("u", {"id": 1, "name": "a"}, {"id": 1, "name": "a2"}, 3000),
        ("d", {"id": 2, "name": "b"}, None, 4000),
    ]
    lines = [
        debezium_envelope(op, b, a, ts, table="t", db="d", schema="s")
        for op, b, a, ts in cases
    ]
    raw = spark.createDataFrame([(v,) for v in lines + ["{oops"]], ["value"])
    out = decode_debezium(raw, PAYLOAD).select(
        "op",
        "before",
        "after",
        "row",
        "__deleted",
        F.unix_millis("source_ts").alias("ts"),
        "source_table",
        "_corrupt",
    )
    rows = out.collect()
    got = sorted(
        (r["op"], *(r[c] and r[c].asDict() for c in ("before", "after", "row")))
        + (r["__deleted"], r["ts"], r["source_table"], r["_corrupt"])
        for r in rows
        if not r["_corrupt"]
    )
    want = sorted(
        (op, b, a, a or b, "true" if op == "d" else "false", ts, "t", False)
        for op, b, a, ts in cases
    )
    assert got == want
    bad = [(r["op"], r["row"], r["ts"]) for r in rows if r["_corrupt"]]
    assert bad == [(None, None, None)]


def test_stamp_full_load(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "name"])
    out = stamp_full_load(df, ts_ms=F.lit(1700000000123)).collect()[0]
    assert out["__op"] == "r"
    assert out["__source_ts_ms"] == 1700000000123
    assert out["__deleted"] is None


# --- net-effect batch compaction -------------------------------------------

def _cl(spark, rows):
    return spark.createDataFrame(rows, "k long, __op string, seq long")


def test_net_changes_classification(spark):
    from cdc_application_febuary_spark.functions.changelog import net_changes

    rows = [
        (1, "c", 0), (1, "u", 1),             # insert (create then update)
        (2, "c", 0), (2, "u", 1), (2, "d", 2),  # none (flicker)
        (3, "u", 0), (3, "u", 1),             # update
        (4, "u", 0), (4, "d", 1),             # delete
        (5, "r", 0), (5, "d", 1),             # none ('r' counts as create)
        (6, "c", 0),                          # insert (single create)
    ]
    out = {
        r["k"]: r["__net"]
        for r in net_changes(_cl(spark, rows), ["k"], ["seq"]).collect()
    }
    assert out == {
        1: "insert", 2: "none", 3: "update", 4: "delete", 5: "none",
        6: "insert",
    }


def test_net_changes_carries_final_image(spark):
    from cdc_application_febuary_spark.functions.changelog import net_changes

    df = spark.createDataFrame(
        [(1, "c", 0, "v0"), (1, "u", 1, "v1"), (1, "u", 2, "v2")],
        "k long, __op string, seq long, payload string",
    )
    r = net_changes(df, ["k"], ["seq"]).first()
    assert r["payload"] == "v2"       # the LAST image, not the first
    assert r["__first_op"] == "insert"
    assert r["__net"] == "insert"
