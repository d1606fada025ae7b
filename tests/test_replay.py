"""The file-stream replay harness (streaming/replay.py): feeds land in mtime
order and read back typed, one part per batch, a replay drains to the end or
raises, and its confs are restored. Also: no query under queries/ reads or
waits on a stream itself, so every replay goes through the harness and none
can return truncated output, and no test waits on a stream without checking
how it ended."""

import os
import re
import time
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from cdc_application_febuary_spark.streaming.replay import (
    STATE_PARTITIONS,
    feed_stream,
    land_feed,
    replay_conf,
    run_replay,
)
from cdc_application_febuary_spark.streaming.stateful_v2 import ROCKSDB_PROVIDER

ROOT = Path(__file__).resolve().parent.parent
SHUFFLE = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _feed(spark, tmp_path):
    """A three-part feed: a DataFrame, a sentinel row, a DataFrame."""
    return feed_stream(
        spark,
        tmp_path / "feed",
        [
            spark.createDataFrame([("a", 1)], "value string, n long"),
            [("b", 2)],
            spark.createDataFrame([("c", 3)], "value string, n long"),
        ],
    )


def test_land_feed_mtimes_increase_in_land_order(spark, tmp_path):
    paths = land_feed(
        tmp_path / "feed",
        [["a"], spark.createDataFrame([("b",)], "value string"), ["c"]],
    )
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert mtimes == sorted(set(mtimes))
    assert [Path(p).suffix for p in paths] == [".txt", ".parquet", ".txt"]
    assert Path(paths[0]).read_text() == "a\n"
    assert spark.read.parquet(paths[1]).collect()[0]["value"] == "b"
    assert os.listdir(tmp_path) == ["feed"]  # staging dirs removed


def test_feed_stream_rejects_parts_of_another_schema(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k long")
    narrow = df.select(F.col("k").cast("int"))
    with pytest.raises(ValueError, match="feed parts differ"):
        feed_stream(spark, tmp_path / "feed", [df, narrow])


def test_replay_reads_parts_as_batches_in_land_order(spark, tmp_path):
    """One part per micro-batch, in land order, each with the feed's own
    types: a decimal and a microsecond timestamp come back exactly."""
    first = spark.createDataFrame(
        [("a", "1.25", "2024-01-01 00:00:00.123456")],
        "value string, v string, ts string",
    ).select(
        "value",
        F.col("v").cast("decimal(18,2)").alias("v"),
        F.to_timestamp("ts").alias("ts"),
    )
    last = first.withColumn("value", F.lit("c"))
    stream = feed_stream(
        spark, tmp_path / "feed", [first, [("b", None, None)], last]
    )
    assert stream.dtypes == first.dtypes
    seen = {}

    def sink(batch, batch_id):
        seen[batch_id] = batch.collect()

    q = run_replay(
        spark,
        stream.writeStream.foreachBatch(sink),
        str(tmp_path / "ckpt"),
        what="ordered",
    )
    assert not q.isActive
    a, c = first.collect() + last.collect()
    assert [seen[b] for b in sorted(seen)] == [[a], [("b", None, None)], [c]]


def test_replay_timeout_raises_and_stops(spark, tmp_path):
    stream = _feed(spark, tmp_path)
    before = spark.conf.get(SHUFFLE)
    with pytest.raises(TimeoutError, match="slow replay"):
        run_replay(
            spark,
            stream.writeStream.foreachBatch(lambda b, i: time.sleep(0.5)),
            str(tmp_path / "ckpt"),
            timeout_s=0.1,
            what="slow replay",
        )
    assert spark.streams.active == []
    assert spark.conf.get(SHUFFLE) == before


def test_failing_foreach_batch_raises(spark, tmp_path):
    stream = _feed(spark, tmp_path)

    def sink(batch, batch_id):
        raise ValueError("sink exploded")

    with pytest.raises(StreamingQueryException, match="sink exploded"):
        run_replay(
            spark,
            stream.writeStream.foreachBatch(sink),
            str(tmp_path / "ckpt"),
            what="failing replay",
        )
    assert spark.streams.active == []


def test_replay_conf_restores_shuffle_and_provider(spark):
    before = {k: spark.conf.get(k, None) for k in (SHUFFLE, PROVIDER)}
    try:
        spark.conf.set(SHUFFLE, "7")
        spark.conf.unset(PROVIDER)
        with replay_conf(spark, 3, ROCKSDB_PROVIDER):
            assert spark.conf.get(SHUFFLE) == "3"
            assert spark.conf.get(PROVIDER) == ROCKSDB_PROVIDER
        assert spark.conf.get(SHUFFLE) == "7"
        assert spark.conf.get(PROVIDER, None) is None  # unset stays unset

        hdfs = (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        )
        spark.conf.set(PROVIDER, hdfs)
        with pytest.raises(RuntimeError):
            with replay_conf(spark, provider=ROCKSDB_PROVIDER):
                assert spark.conf.get(SHUFFLE) == str(STATE_PARTITIONS)
                raise RuntimeError("replay failed")
        assert spark.conf.get(SHUFFLE) == "7"
        assert spark.conf.get(PROVIDER) == hdfs
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _waits(root, pattern):
    """(path:line, next non-blank line) for each line of ``root``'s modules
    matching ``pattern``."""
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for n, line in enumerate(lines, 1):
            if re.search(pattern, line):
                after = next((x.strip() for x in lines[n:] if x.strip()), "")
                yield f"{path.relative_to(ROOT)}:{n}", after


def test_queries_never_await_a_stream_themselves():
    """A bare awaitTermination(timeout) returns on timeout and the query
    then reads partial output; a query's own readStream re-declares a feed
    format. Queries read their feeds through replay.feed_stream and drain
    through replay.run_replay."""
    calls = [
        where
        for where, _ in _waits(
            ROOT / "cdc_application_febuary_spark" / "queries",
            r"\bawaitTermination\(|\breadStream\b",
        )
    ]
    assert not calls, "queries read or await streams directly:\n" + "\n".join(
        calls
    )


def test_tests_never_wait_on_a_stream_unchecked():
    """Under tests/, a stream drains through replay.drain, or its wait is
    followed at once by the check that it ended cleanly; otherwise a stall
    asserts on partial output. Fakes (``def awaitTermination``) are not
    calls."""
    checked = "assert not q.isActive and q.exception() is None"
    calls = [
        where
        for where, after in _waits(ROOT / "tests", r"\.awaitTermination\(")
        if after != checked
    ]
    assert not calls, "tests wait on streams unchecked:\n" + "\n".join(calls)
