"""Exactly-once streaming sink into manifest tables: replay idempotence at
the batch level plus a live readStream end-to-end."""

from pyspark.sql import functions as F

from cdc_application_febuary_spark.sources import manifest_table as mt
from cdc_application_febuary_spark.streaming import manifest_sink as ms
from cdc_application_febuary_spark.streaming.replay import drain


def _batch(spark, ids, tag):
    return spark.createDataFrame(
        [(i, tag) for i in ids], "k long, tag string"
    )


def test_append_then_replay_is_dropped(spark, tmp_path):
    t = str(tmp_path / "t")
    assert ms.append_batch(_batch(spark, [1, 2], "b0"), 0, t, ["k"]) == 0
    assert ms.append_batch(_batch(spark, [3], "b1"), 1, t, ["k"]) == 1
    # crash-replay of batch 1: dropped whole, no new version, no extra rows
    assert ms.append_batch(_batch(spark, [3], "b1"), 1, t, ["k"]) is None
    # stale replay of batch 0 likewise
    assert ms.append_batch(_batch(spark, [1, 2], "b0"), 0, t, ["k"]) is None
    assert mt.current_version(spark, t) == 1
    assert mt.read_table(spark, t).count() == 3
    assert ms.last_committed_batch(spark, t) == 1


def test_marker_rides_the_atomic_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    ms.append_batch(_batch(spark, [1], "b0"), 7, t, ["k"])
    meta0 = mt.read_commit_meta(spark, t, 0)
    assert meta0["batch_id"] == 7
    assert "schema" in meta0  # every commit records its schema in the log
    # marker-less commits (plain batch writers) still read back fine
    mt.write_table(_batch(spark, [9], "x"), t, ["k"], mode="append")
    meta1 = mt.read_commit_meta(spark, t, 1)
    assert "batch_id" not in meta1 and "schema" in meta1
    # batch watermark survives interleaved marker-less commits
    assert ms.last_committed_batch(spark, t) == 7


def test_upsert_batch_replay_idempotent(spark, tmp_path):
    t = str(tmp_path / "t")
    ms.append_batch(_batch(spark, [1, 2, 3], "base"), 0, t, ["k"])
    chg = spark.createDataFrame(
        [(2, "updated", False), (4, "inserted", False), (3, None, True)],
        "k long, tag string, is_del boolean",
    )
    stats = ms.upsert_batch(chg, 1, t, ["k"], delete_col="is_del")
    assert stats is not None and stats["version"] == 1
    assert ms.upsert_batch(chg, 1, t, ["k"], delete_col="is_del") is None

    rows = {
        r["k"]: r["tag"]
        for r in mt.read_table(spark, t).collect()
    }
    assert rows == {1: "base", 2: "updated", 4: "inserted"}


def test_stream_end_to_end_exactly_once(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.json").write_text('{"k": 1, "tag": "s"}\n{"k": 2, "tag": "s"}\n')
    t = str(tmp_path / "t")

    def run():
        stream = (
            spark.readStream.schema("k long, tag string")
            .json(str(feed))
        )
        q = (
            stream.writeStream.foreachBatch(
                ms.manifest_append_sink(t, ["k"])
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 120, "manifest sink stream")

    run()
    assert mt.read_table(spark, t).count() == 2
    # second file arrives; restart from the same checkpoint
    (feed / "b.json").write_text('{"k": 3, "tag": "s"}\n')
    run()
    got = sorted(r["k"] for r in mt.read_table(spark, t).collect())
    assert got == [1, 2, 3]
    # restart with NO new data: no duplicate rows, no new version
    v = mt.current_version(spark, t)
    run()
    assert mt.current_version(spark, t) == v
    assert mt.read_table(spark, t).count() == 3
