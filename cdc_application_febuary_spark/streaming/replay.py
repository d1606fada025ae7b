"""File-stream replay: land a bounded feed, run one ``availableNow`` stream
over it to the end, and fail loudly if it does not get there.

Every replay query (and the file-source changelog drain) goes through this
module, which applies the replay rules in one place:

* Arrival order. The file source orders files by modification time, and
  files written in the same millisecond tie and arrive scrambled. A row can
  then land below the watermark and be dropped. ``land_feed`` gives each
  part its own file with strictly increasing mtimes, in land order.
* One feed format. ``feed_stream`` lands typed parts as parquet and reads
  them back with the parts' own schema, one part per micro-batch, so types
  round-trip exactly and no query declares a feed schema or a reader.
* State partitions. A fresh checkpoint pins its state-store partition count
  from ``spark.sql.shuffle.partitions`` at stream start. Replay feeds are
  small, so 32 stores x several store instances x N micro-batches of
  snapshot+delta commits are pure fixed cost: 3x the whole query at sf
  scale on stream_stream_left_outer, and a further ~1.3-1.7x going from 8
  to 2 partitions, with bit-identical output. State partitioning never
  changes a replay's values, so ``replay_conf`` defaults to
  ``STATE_PARTITIONS`` (2). A replay whose per-partition work is real
  Python state processing passes a larger ``n``. Production operators keep
  the session's confs.
* No silent truncation. ``drain`` turns a stream still running at its
  deadline into ``TimeoutError`` (after stopping it) and a failed stream
  into its exception, where a bare ``awaitTermination(timeout)`` returns
  and the caller reads partial output.

What stays with each query: its event-time split of the feed (stream-stream
outer joins must split at an event-time boundary, never arbitrarily), its
sentinel rows and its sink.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Iterable, Sequence
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

if TYPE_CHECKING:  # pyarrow loads only when a feed has sentinel rows
    import pyarrow as pa

_SHUFFLE = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_MTIME0 = 1_700_000_000
STATE_PARTITIONS = 2


def land_feed(
    feed_dir: str | os.PathLike,
    parts: Iterable[DataFrame | pa.Table | Sequence[str]],
) -> list[str]:
    """Land each part as one file in ``feed_dir``, in order, with strictly
    increasing mtimes; return the landed paths.

    A DataFrame part lands as one parquet file (written through a staging
    dir next to the feed, then renamed in); an Arrow table as one parquet
    file written in-process, with no Spark job (a few sentinel rows); a
    list of strings as a text file of those lines, such as a Debezium JSON
    feed. File names and mtimes restart at every call, so a feed is landed
    by one call."""
    feed = Path(feed_dir)
    feed.mkdir(parents=True, exist_ok=True)
    paths = []
    for i, part in enumerate(parts):
        dest = feed / f"{i:03d}.parquet"
        if isinstance(part, DataFrame):
            stage = feed.with_name(f"{feed.name}.stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(str(stage))
            next(stage.glob("part-*")).rename(dest)
            shutil.rmtree(stage)
        elif isinstance(part, (list, tuple)):
            dest = dest.with_suffix(".txt")
            dest.write_text("".join(f"{line}\n" for line in part))
        else:
            import pyarrow.parquet as pq

            pq.write_table(part, dest)
        os.utime(dest, (_MTIME0 + i, _MTIME0 + i))
        paths.append(str(dest))
    return paths


def feed_stream(
    spark: SparkSession,
    feed_dir: str | os.PathLike,
    parts: Sequence[DataFrame | Sequence[tuple]],
) -> DataFrame:
    """Land typed ``parts`` through ``land_feed`` and return the stream that
    reads them back with their own schema, one part per micro-batch.

    A part is a DataFrame, or a list of rows (tuples) of the DataFrame
    parts' schema, such as a watermark sentinel. All DataFrame parts must
    have the same columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    frames = [p for p in parts if isinstance(p, DataFrame)]
    for f in frames[1:]:
        if f.dtypes != frames[0].dtypes:
            raise ValueError(
                f"feed parts differ: {frames[0].dtypes} and {f.dtypes}"
            )
    schema = frames[0].schema
    arrow = to_arrow_schema(schema)
    land_feed(
        feed_dir,
        [
            p
            if isinstance(p, DataFrame)
            else pa.Table.from_pylist(
                [dict(zip(schema.names, row)) for row in p], schema=arrow
            )
            for p in parts
        ],
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed_dir))
    )


@contextlib.contextmanager
def replay_conf(
    spark: SparkSession,
    n: int = STATE_PARTITIONS,
    provider: str | None = None,
):
    """Run a replay with ``n`` shuffle (hence state-store) partitions and,
    if given, the state-store ``provider``; restore both on exit, unsetting
    a conf that was unset before."""
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
    n: int = STATE_PARTITIONS,
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
