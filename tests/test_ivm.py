"""Incremental view maintenance: delta aggregation with retractions must
match a from-scratch recompute over the net state, batch after batch."""

from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F

from cdc_application_febuary_spark.operators.ivm import (
    aggregate_deltas,
    dirty_groups,
    ivm_foreach_batch,
    load_state,
    merge_state,
    refresh_groups,
)
from cdc_application_febuary_spark.streaming import replay


CHANGELOG_SCHEMA = (
    "op string, before struct<seg:string,value:double>, "
    "after struct<seg:string,value:double>"
)


def _ev(op, before, after):
    mk = lambda t: None if t is None else (t[0], float(t[1]))
    return (op, mk(before), mk(after))


def _cl(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


# a changelog whose net effect is:
#   seg a: one live row value 30 (10 inserted, updated to 30)
#   seg b: two live rows values 5 + 7
#   seg c: inserted then deleted -> no residue
BATCH1 = [
    _ev("c", None, ("a", 10.0)),
    _ev("c", None, ("b", 5.0)),
    _ev("c", None, ("c", 99.0)),
]
BATCH2 = [
    _ev("u", ("a", 10.0), ("a", 30.0)),
    _ev("r", None, ("b", 7.0)),
    _ev("d", ("c", 99.0), None),
]


def _final_state(spark):
    return {
        r["seg"]: (r["cnt"], r["value_sum"])
        for r in _fold(spark, [BATCH1, BATCH2]).collect()
    }


def _fold(spark, batches):
    state = None
    for rows in batches:
        cl = _cl(spark, rows)
        state = merge_state(
            state, aggregate_deltas(cl, ["seg"], ["value"]), ["seg"], ["value"]
        )
    return state


def test_incremental_equals_recompute(spark):
    got = _final_state(spark)
    assert got == {
        "a": (1, Decimal("30.00")),
        "b": (2, Decimal("12.00")),
    }
    # 'c' was inserted then deleted: net cnt 0 leaves NO residue row
    assert "c" not in got


def test_batch_order_one_shot_equivalence(spark):
    one_shot = {
        r["seg"]: (r["cnt"], r["value_sum"])
        for r in _fold(spark, [BATCH1 + BATCH2]).collect()
    }
    assert one_shot == _final_state(spark)


def test_update_changing_group_moves_mass(spark):
    cl = _cl(
        spark, [_ev("c", None, ("a", 10.0)), _ev("u", ("a", 10.0), ("b", 10.0))]
    )
    state = merge_state(
        None, aggregate_deltas(cl, ["seg"], ["value"]), ["seg"], ["value"]
    )
    got = {r["seg"]: (r["cnt"], r["value_sum"]) for r in state.collect()}
    assert got == {"b": (1, Decimal("10.00"))}


def test_dirty_groups_covers_both_images(spark):
    cl = _cl(spark, BATCH2)
    assert {r["seg"] for r in dirty_groups(cl, ["seg"]).collect()} == {
        "a",
        "b",
        "c",
    }


def test_refresh_groups_min_max(spark):
    base = spark.createDataFrame(
        [("a", 30.0), ("b", 5.0), ("b", 7.0)], "seg string, value double"
    )
    stale = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", 5.0, 5.0), ("c", 99.0, 99.0)],
        "seg string, mn double, mx double",
    )
    dirty = spark.createDataFrame([("a",), ("c",)], "seg string")
    got = {
        r["seg"]: (r["mn"], r["mx"])
        for r in refresh_groups(
            stale,
            base,
            dirty,
            ["seg"],
            {"mn": F.min("value"), "mx": F.max("value")},
        ).collect()
    }
    # a recomputed, b untouched (kept stale on purpose), c dropped (no base rows)
    assert got == {"a": (30.0, 30.0), "b": (5.0, 5.0)}


def test_foreach_batch_versioned_state_idempotent(spark, tmp_path):
    state_path = str(tmp_path / "ivm_state")
    sink = ivm_foreach_batch(state_path, ["seg"], ["value"])
    sink(_cl(spark, BATCH1), 0)
    sink(_cl(spark, BATCH2), 1)
    final, v = load_state(spark, state_path, before_batch=10**9)
    assert v == 1
    got = {r["seg"]: (r["cnt"], r["value_sum"]) for r in final.collect()}
    assert got == _final_state(spark)

    # re-delivery of batch 1 (failure replay) rewrites v=1 from v=0 — same answer
    sink(_cl(spark, BATCH2), 1)
    replay, v2 = load_state(spark, state_path, before_batch=10**9)
    assert v2 == 1
    assert {
        r["seg"]: (r["cnt"], r["value_sum"]) for r in replay.collect()
    } == got


def test_delta_plan_single_shuffle(spark):
    cl = _cl(spark, BATCH1 + BATCH2)
    plan = (
        aggregate_deltas(cl, ["seg"], ["value"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # union of the two weighted images aggregates with ONE exchange
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize("bad_cnt", [0, -1])
def test_net_zero_groups_leave_no_row(spark, bad_cnt):
    rows = [_ev("c", None, ("z", 1.0)), _ev("d", ("z", 1.0), None)]
    if bad_cnt == -1:  # over-retraction (late duplicate delete) also drops out
        rows.append(_ev("d", ("z", 1.0), None))
    state = _fold(spark, [rows])
    assert state.where("seg = 'z'").count() == 0


def test_live_stream_maintains_view_across_restart(spark, tmp_path):
    """readStream -> ivm_foreach_batch end-to-end: the maintained view must
    equal a from-scratch recompute after each availableNow drain, including
    a restart from the same checkpoint with new data."""
    import json

    feed = tmp_path / "feed"
    feed.mkdir()
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_feed(name, rows):
        lines = [
            json.dumps(
                {
                    "op": op,
                    "before": None if b is None else {"seg": b[0], "value": b[1]},
                    "after": None if a is None else {"seg": a[0], "value": a[1]},
                }
            )
            for op, b, a in rows
        ]
        (feed / name).write_text("\n".join(lines) + "\n")

    def drain():
        q = (
            spark.readStream.schema(CHANGELOG_SCHEMA)
            .json(str(feed))
            .writeStream.foreachBatch(
                ivm_foreach_batch(state_path, ["seg"], ["value"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        replay.drain(q, 120, "ivm stream")

    write_feed("b1.json", BATCH1)
    drain()
    state, _ = load_state(spark, state_path, before_batch=10**9)
    got1 = {r["seg"]: (r["cnt"], r["value_sum"]) for r in state.collect()}
    assert got1 == {
        r["seg"]: (r["cnt"], r["value_sum"])
        for r in _fold(spark, [BATCH1]).collect()
    }

    # restart with the second batch arriving later
    write_feed("b2.json", BATCH2)
    drain()
    state, _ = load_state(spark, state_path, before_batch=10**9)
    got2 = {r["seg"]: (r["cnt"], r["value_sum"]) for r in state.collect()}
    assert got2 == _final_state(spark)

    # idle restart: no new data, view unchanged
    drain()
    state, _ = load_state(spark, state_path, before_batch=10**9)
    assert {
        r["seg"]: (r["cnt"], r["value_sum"]) for r in state.collect()
    } == got2
