"""Streaming joins: stream x stream range join with watermark state
bounds; watermark-bounded in-stream dedup; stream x static enrichment."""

import json

from cdc_application_febuary_spark.streaming.replay import drain


def _feed(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"b{len(list(path.glob('*.json')))}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def test_stream_stream_range_join(spark, tmp_path):
    """Clicks attribute to the impression they follow within the delay
    bound; a click outside the bound never joins."""
    from cdc_application_febuary_spark.streaming.joins import (
        stream_stream_range_join,
    )

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    _feed(imp_dir, [
        {"imp_id": 1, "user": "u1", "its": "2024-01-01T00:00:00"},
        {"imp_id": 2, "user": "u2", "its": "2024-01-01T00:05:00"},
        {"imp_id": 3, "user": "u3", "its": "2024-01-01T00:00:00"},
    ])
    _feed(clk_dir, [
        {"clk_id": 10, "user": "u1", "cts": "2024-01-01T00:20:00"},  # in bound
        {"clk_id": 11, "user": "u2", "cts": "2024-01-01T02:00:00"},  # too late
        {"clk_id": 12, "user": "u3", "cts": "2023-12-31T23:59:00"},  # before
    ])
    imps = spark.readStream.schema("imp_id long, user string, its timestamp").json(str(imp_dir))
    clks = spark.readStream.schema("clk_id long, user string, cts timestamp").json(str(clk_dir))
    joined = stream_stream_range_join(
        imps, clks, on=["user"], left_ts="its", right_ts="cts",
        max_delay="30 minutes", watermark="5 minutes",
    ).select("imp_id", "clk_id")
    q = (
        joined.writeStream.format("memory").queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "stream-stream join")
    got = {(r["imp_id"], r["clk_id"]) for r in spark.sql("SELECT * FROM ssj").collect()}
    assert got == {(1, 10)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    from cdc_application_febuary_spark.streaming.joins import stream_dedup

    feed = tmp_path / "feed"
    _feed(feed, [
        {"k": "a", "ts": "2024-01-01T00:00:00", "v": 1},
        {"k": "a", "ts": "2024-01-01T00:01:00", "v": 2},  # dup within horizon
        {"k": "b", "ts": "2024-01-01T00:00:30", "v": 3},
    ])
    stream = spark.readStream.schema("k string, ts timestamp, v long").json(str(feed))
    out = stream_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("sdd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "watermark dedup")
    rows = spark.sql("SELECT * FROM sdd").collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [("a", 1), ("b", 3)]


def test_enrich_with_dimension_broadcasts(spark, tmp_path):
    from cdc_application_febuary_spark.streaming.joins import (
        enrich_with_dimension,
    )

    feed = tmp_path / "efeed"
    _feed(feed, [{"topic": "p1.s.t", "v": 1}, {"topic": "p9.s.t", "v": 2}])
    dim = spark.createDataFrame(
        [("p1.s.t", "pipeline-1")], "topic string, pipeline string"
    )
    stream = spark.readStream.schema("topic string, v long").json(str(feed))
    out = enrich_with_dimension(stream, dim, "topic")
    q = (
        out.writeStream.format("memory").queryName("enr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "stream-static enrichment")
    rows = {r["v"]: r["pipeline"] for r in spark.sql("SELECT * FROM enr").collect()}
    assert rows == {1: "pipeline-1", 2: None}


def test_running_counts_transform_with_state(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas twin of running_counts:
    typed ValueState totals survive across micro-batches (RocksDB store).

    The state protocol between the Python worker and the JVM rides on
    protobuf; `compat.protobuf_compat.ensure_protobuf` (invoked by
    conftest before the session exists) bridges the machine's public
    pure-Python runtime where no real install exists. Skip only when no
    runtime could be found at all — there the classic
    applyInPandasWithState operators in streaming/stateful.py cover the
    stateful contract."""
    import pytest

    from cdc_application_febuary_spark.compat.protobuf_compat import (
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime available for transformWithState")
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state protocol requires protobuf",
    )
    from pyspark.sql import functions as F

    from cdc_application_febuary_spark.streaming.stateful_v2 import (
        running_counts_tws,
        use_rocksdb_state,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        feed = tmp_path / "twsfeed"
        _feed(feed, [{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 3}])
        stream = spark.readStream.schema("k string, v long").json(str(feed))
        out = running_counts_tws(stream.groupBy(F.col("k")))
        ck = tmp_path / "twsck"

        def run_batch(out_name):
            # memory sink can't recover a checkpoint; foreachBatch parquet can
            out_dir = tmp_path / out_name
            q = (
                out.writeStream.foreachBatch(
                    lambda b, _id: b.write.mode("append").parquet(str(out_dir))
                )
                .outputMode("update")
                .option("checkpointLocation", str(ck))
                .trigger(availableNow=True)
                .start()
            )
            drain(q, 120, "tws running counts")
            return {
                r["key"]: (r["events"], r["batch_events"])
                for r in spark.read.parquet(str(out_dir)).collect()
            }

        got1 = run_batch("tws_out1")
        assert got1 == {"a": (2, 2), "b": (1, 1)}
        _feed(feed, [{"k": "a", "v": 4}])
        got2 = run_batch("tws_out2")
        assert got2["a"] == (3, 1)  # total carried across restarts
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_dedup_horizon_expiry_readmits(spark, tmp_path):
    """The documented trade of watermark-bounded dedup, pinned as a
    POSITIVE test: once the watermark passes a key's event time plus the
    delay, its state evicts — a duplicate arriving later (by event time)
    is re-admitted. Bounded state means bounded memory at 100 TB, not a
    full-history set; this test keeps the docstring honest."""
    import os
    import time

    from cdc_application_febuary_spark.streaming.joins import stream_dedup

    feed = tmp_path / "hfeed"
    # batch 1: key a at 00:00 under a 10-minute watermark
    _feed(feed, [{"k": "a", "ts": "2024-01-01T00:00:00", "v": 1}])
    # batch 2: event time jumps 2 hours -> after this batch the
    # watermark is 01:50, past a's 00:10 expiry
    _feed(feed, [{"k": "w", "ts": "2024-01-01T02:00:00", "v": 2}])
    # batch 3: w's duplicate is WITHIN its horizon (dropped); the z row
    # pushes the watermark further AND gives the batch boundary at which
    # a's expired state is actually swept (eviction applies at batch
    # end, one batch after the watermark passes)
    _feed(feed, [
        {"k": "w", "ts": "2024-01-01T02:05:00", "v": 4},
        {"k": "z", "ts": "2024-01-01T03:00:00", "v": 9},
    ])
    # batch 4: a's LATE duplicate re-admits — its state is gone
    _feed(feed, [{"k": "a", "ts": "2024-01-01T03:01:00", "v": 3}])
    # the file source orders batches by mtime — same-millisecond writes
    # tie and scramble arrival order (seen: w's file first, making a's
    # 00:00 row late-below-watermark and silently dropped); stamp
    # strictly increasing mtimes so arrival order is the written order
    base = time.time()
    for i, name in enumerate(["b0.json", "b1.json", "b2.json", "b3.json"]):
        os.utime(feed / name, (base + i, base + i))
    stream = spark.readStream.schema("k string, ts timestamp, v long").option(
        "maxFilesPerTrigger", "1"
    ).json(str(feed))
    out = stream_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("hdd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hck"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120, "horizon dedup")
    got = sorted((r["k"], r["v"]) for r in spark.sql("SELECT * FROM hdd").collect())
    assert ("a", 1) in got and ("w", 2) in got and ("z", 9) in got
    assert ("w", 4) not in got, "within-horizon duplicate leaked"
    assert ("a", 3) in got, (
        "expected horizon re-admission — if this starts failing, Spark "
        "extended state retention and the docstring trade needs rewording"
    )
