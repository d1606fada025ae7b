"""File-stream replay: land a bounded feed, run one ``availableNow`` stream
over it to the end, and fail loudly if it does not get there.

Every replay query (and the file-source changelog drain) goes through this
module, which applies the replay rules in one place:

* Arrival order. The file source orders files by modification time, and
  files written in the same millisecond tie and arrive scrambled. A row can
  then land below the watermark and be dropped. ``land_feed`` gives each
  part its own file with strictly increasing mtimes, in land order.
* State partitions. A fresh checkpoint pins its state-store partition count
  from ``spark.sql.shuffle.partitions`` at stream start. Replay feeds are
  small, so 32 stores x several store instances x N micro-batches of
  snapshot+delta commits are pure fixed cost: 3x the whole query at sf
  scale on stream_stream_left_outer, and a further ~1.3-1.7x going from 8
  to 2 partitions, with bit-identical output. State partitioning never
  changes a replay's values, so ``replay_conf`` defaults to 2
  ($SPARK_GRAFT_REPLAY_STATE_PARTITIONS overrides). A replay whose
  per-partition work is real Python state processing passes a larger
  ``n``. Production operators keep the session's confs.
* No silent truncation. ``drain`` turns a stream still running at its
  deadline into ``TimeoutError`` (after stopping it) and a failed stream
  into its exception, where a bare ``awaitTermination(timeout)`` returns
  and the caller reads partial output.

What stays with each query: its event-time split of the feed (stream-stream
outer joins must split at an event-time boundary, never arbitrarily), its
sentinel files and its sink.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_MTIME0 = 1_700_000_000


def land_feed(
    feed_dir: str | os.PathLike, parts: Iterable[DataFrame | Sequence[str]]
) -> list[str]:
    """Land each part as one text file in ``feed_dir``, in order, with
    strictly increasing mtimes; return the landed paths.

    A part is a one-string-column DataFrame (written through a staging dir
    next to the feed, then renamed in) or a list of literal lines, such as
    a watermark sentinel. File names and mtimes restart at every call, so
    a feed is landed by one call."""
    feed = Path(feed_dir)
    feed.mkdir(parents=True, exist_ok=True)
    paths = []
    for i, part in enumerate(parts):
        dest = feed / f"{i:03d}.txt"
        if isinstance(part, DataFrame):
            stage = feed.with_name(f"{feed.name}.stage{i}")
            part.coalesce(1).write.mode("overwrite").text(str(stage))
            next(stage.glob("part-*")).rename(dest)
            shutil.rmtree(stage)
        else:
            dest.write_text("".join(f"{line}\n" for line in part))
        os.utime(dest, (_MTIME0 + i, _MTIME0 + i))
        paths.append(str(dest))
    return paths


@contextlib.contextmanager
def replay_conf(
    spark: SparkSession, n: int | None = None, provider: str | None = None
):
    """Run a replay with ``n`` shuffle (hence state-store) partitions and,
    if given, the state-store ``provider``; restore both on exit, unsetting
    a conf that was unset before."""
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", "2"))
    new = {_SHUFFLE: str(n)}
    if provider is not None:
        new[_PROVIDER] = provider
    old = {k: spark.conf.get(k, None) for k in new}
    for k, v in new.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def drain(q: StreamingQuery, timeout_s: float, what: str) -> None:
    """Wait for ``q`` to finish. A stream still active after ``timeout_s``
    is stopped and raises ``TimeoutError``; a failed stream raises its
    ``StreamingQueryException``."""
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"{what} still running after {timeout_s}s; stopped with its"
            " output incomplete"
        )
    exc = q.exception()
    if exc is not None:
        raise exc


def run_replay(
    spark: SparkSession,
    writer: DataStreamWriter,
    checkpoint: str,
    timeout_s: float = 120,
    *,
    what: str,
    n: int | None = None,
    provider: str | None = None,
) -> StreamingQuery:
    """Start ``writer`` as an ``availableNow`` stream on a fresh
    ``checkpoint`` under ``replay_conf(spark, n, provider)`` and drain it;
    return the finished query (its ``recentProgress`` stays readable)."""
    with replay_conf(spark, n, provider):
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        drain(q, timeout_s, what)
    return q
