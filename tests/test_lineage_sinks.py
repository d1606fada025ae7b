"""FK lineage traversal and streaming sink builders."""

import json

import pytest

from pyspark.sql import functions as F

from cdc_application_febuary_spark.operators.lineage import (
    fk_edges_from_catalog,
    missing_dependencies,
    reachable_tables,
)
from cdc_application_febuary_spark.streaming.sinks import (
    json_object_sink,
    run_with_recovery,
    variant_sink,
)

EDGES = [
    ("lineitem", "orders"),
    ("orders", "customer"),
    ("customer", "nation"),
    ("nation", "region"),
    ("lineitem", "part"),
]


@pytest.fixture()
def edges(spark):
    return spark.createDataFrame(
        [(a, b, None, None, "foreign_key") for a, b in EDGES],
        "from_table string, to_table string, from_column string, "
        "to_column string, type string",
    )


def test_reachable_tables_bfs(edges):
    got = {r["table"]: r["hops"] for r in reachable_tables(edges, ["lineitem"]).collect()}
    assert got == {
        "lineitem": 0, "orders": 1, "part": 1,
        "customer": 2, "nation": 3, "region": 4,
    }


def test_reachable_respects_max_hops(edges):
    got = {r["table"] for r in reachable_tables(edges, ["lineitem"], max_hops=2).collect()}
    assert got == {"lineitem", "orders", "part", "customer"}


def test_missing_dependencies(edges):
    missing = [r["table"] for r in missing_dependencies(edges, ["orders"]).collect()]
    assert missing == ["customer"]  # orders references customer, not selected
    ok = missing_dependencies(edges, ["orders", "customer", "nation", "region"])
    assert [r["table"] for r in ok.collect()] == []


def test_fk_edges_from_catalog(spark):
    fk = spark.createDataFrame([(11, "FK_o_c")], "object_id int, name string")
    fkc = spark.createDataFrame(
        [(11, "orders", "customer", "o_custkey", "c_custkey")],
        "constraint_object_id int, parent_table string, referenced_table string, "
        "parent_column string, referenced_column string",
    )
    out = fk_edges_from_catalog(fk, fkc).collect()
    assert len(out) == 1
    e = out[0]
    assert (e["from_table"], e["to_table"], e["type"]) == (
        "orders", "customer", "foreign_key",
    )


def test_json_object_sink(spark, tmp_path):
    sink = json_object_sink(str(tmp_path / "out"))
    sink(spark.createDataFrame([(1, "a")], ["id", "name"]), 7)
    back = spark.read.json(str(tmp_path / "out"))
    assert back.count() == 1
    assert (tmp_path / "out" / "batch_id=7").exists()


def test_variant_sink(spark, tmp_path):
    sink = variant_sink(str(tmp_path / "var"))
    sink(spark.createDataFrame([(1, "a")], ["id", "name"]), 3)
    back = spark.read.parquet(str(tmp_path / "var"))
    row = back.collect()[0]
    assert json.loads(row["RECORD_CONTENT"]) == {"id": 1, "name": "a"}
    assert row["__batch_id"] == 3


def test_run_with_recovery_retries(spark, tmp_path):
    """A stream that fails twice then succeeds: recovery restarts it and the
    checkpoint resumes without reprocessing."""
    calls = {"n": 0}

    class FakeQuery:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self, timeout=None):
            if self.fail:
                raise RuntimeError("stream died")
            return True

    def start():
        calls["n"] += 1
        return FakeQuery(fail=calls["n"] < 3)

    errors = run_with_recovery(start, max_attempts=3, await_sec=1)
    assert calls["n"] == 3 and len(errors) == 2


def test_run_with_recovery_exhausts(spark):
    class FakeQuery:
        def awaitTermination(self, timeout=None):
            raise RuntimeError("always dies")

    with pytest.raises(RuntimeError, match="always dies"):
        run_with_recovery(lambda: FakeQuery(), max_attempts=2, await_sec=1)


def test_run_with_recovery_timeout_stops_and_raises():
    """awaitTermination(timeout) returns False while the stream still runs:
    that is a stall, not a clean end."""

    class FakeQuery:
        stopped = False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    with pytest.raises(TimeoutError):
        run_with_recovery(lambda: q, max_attempts=3, await_sec=1)
    assert q.stopped


def test_reachable_distributed_branch_agrees_with_driver(spark):
    """A randomized 600-edge DAG walked by BOTH strategies — the
    driver-threshold=0 call forces the iterative-join branch, which must
    produce exactly the driver BFS's (table, hops) map, including min-hop
    tie resolution on diamond shapes."""
    import random

    rng = random.Random(42)
    n = 200
    edge_set = set()
    # layered DAG with shortcuts and diamonds: t{i} -> t{j>i}
    for i in range(n - 1):
        edge_set.add((f"t{i}", f"t{i+1}"))
    while len(edge_set) < 600:
        i = rng.randrange(0, n - 1)
        j = rng.randrange(i + 1, min(i + 20, n))
        edge_set.add((f"t{i}", f"t{j}"))
    edges = spark.createDataFrame(
        [(a, b, None, None, "foreign_key") for a, b in sorted(edge_set)],
        "from_table string, to_table string, from_column string, "
        "to_column string, type string",
    )
    starts = ["t0", "t50"]
    via_driver = {
        r["table"]: r["hops"]
        for r in reachable_tables(edges, starts, max_hops=30).collect()
    }
    via_joins = {
        r["table"]: r["hops"]
        for r in reachable_tables(
            edges, starts, max_hops=30, driver_threshold=0
        ).collect()
    }
    assert via_joins == via_driver
    assert via_driver["t0"] == 0 and via_driver["t50"] == 0
    assert max(via_driver.values()) <= 30
