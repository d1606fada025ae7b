"""The file-stream replay harness (streaming/replay.py): feeds land in mtime
order, a replay drains to the end or raises, and its confs are restored.
Also: no query under queries/ waits on a stream itself, so every replay
goes through the harness and none can return truncated output, and no test
waits on a stream without checking how it ended."""

import os
import re
import time
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException

from cdc_application_febuary_spark.streaming.replay import (
    land_feed,
    replay_conf,
    run_replay,
)
from cdc_application_febuary_spark.streaming.stateful_v2 import ROCKSDB_PROVIDER

ROOT = Path(__file__).resolve().parent.parent
SHUFFLE = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _lines_feed(spark, tmp_path):
    """Three one-line parts: a DataFrame, literal lines, a DataFrame."""
    return land_feed(
        tmp_path / "feed",
        [
            spark.createDataFrame([("a",)], "value string"),
            ["b"],
            spark.createDataFrame([("c",)], "value string"),
        ],
    )


def _stream(spark, tmp_path):
    return (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .text(str(tmp_path / "feed"))
        .writeStream
    )


def test_land_feed_mtimes_increase_in_land_order(spark, tmp_path):
    paths = _lines_feed(spark, tmp_path)
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert mtimes == sorted(set(mtimes))
    assert [Path(p).read_text() for p in paths] == ["a\n", "b\n", "c\n"]
    assert os.listdir(tmp_path) == ["feed"]  # staging dirs removed


def test_replay_reads_parts_as_batches_in_land_order(spark, tmp_path):
    _lines_feed(spark, tmp_path)
    seen = {}

    def sink(batch, batch_id):
        seen[batch_id] = [r.value for r in batch.collect()]

    q = run_replay(
        spark,
        _stream(spark, tmp_path).foreachBatch(sink),
        str(tmp_path / "ckpt"),
        what="ordered",
    )
    assert not q.isActive
    assert [seen[b] for b in sorted(seen)] == [["a"], ["b"], ["c"]]


def test_replay_timeout_raises_and_stops(spark, tmp_path):
    _lines_feed(spark, tmp_path)
    before = spark.conf.get(SHUFFLE)
    with pytest.raises(TimeoutError, match="slow replay"):
        run_replay(
            spark,
            _stream(spark, tmp_path).foreachBatch(lambda b, i: time.sleep(0.5)),
            str(tmp_path / "ckpt"),
            timeout_s=0.1,
            what="slow replay",
        )
    assert spark.streams.active == []
    assert spark.conf.get(SHUFFLE) == before


def test_failing_foreach_batch_raises(spark, tmp_path):
    _lines_feed(spark, tmp_path)

    def sink(batch, batch_id):
        raise ValueError("sink exploded")

    with pytest.raises(StreamingQueryException, match="sink exploded"):
        run_replay(
            spark,
            _stream(spark, tmp_path).foreachBatch(sink),
            str(tmp_path / "ckpt"),
            what="failing replay",
        )
    assert spark.streams.active == []


def test_replay_conf_restores_shuffle_and_provider(spark, monkeypatch):
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
        monkeypatch.setenv("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", "5")
        with pytest.raises(RuntimeError):
            with replay_conf(spark, provider=ROCKSDB_PROVIDER):
                assert spark.conf.get(SHUFFLE) == "5"
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
    then reads partial output; queries drain through streaming/replay.py."""
    calls = [
        where
        for where, _ in _waits(
            ROOT / "cdc_application_febuary_spark" / "queries",
            r"\bawaitTermination\(",
        )
    ]
    assert not calls, "queries await streams directly:\n" + "\n".join(calls)


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
