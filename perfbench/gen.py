"""Seeded Debezium-envelope feed generator.

The generator owns the ground truth: it keeps the live rows of one table
(``items``), turns each tick into a c/u/d mix on reused keys plus a share of
corrupt lines, and remembers what the engine must end up with — the final
live rows, the per-op counts and every corrupt line.

Bytes are a pure function of (seed, sizes, tick start times): the random
stream never depends on the clock. A tick's events are created evenly
across the tick, and each carries its creation time in ``source.ts_ms`` and
``ts_ms``. Within a tick a key occurs at most once and stamps never
decrease, so ordering a key's versions by stamp is a total order.

Run as a script it is the open-loop feeder of ``cdc_steady``: the file
holding tick k's events is due when the tick ends, on a fixed schedule that
does not slow when the engine slows. It is written then renamed into the
feed directory with strictly increasing mtimes (the file source orders by
mtime).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from collections import Counter
from pathlib import Path

CATEGORIES = ("tools", "books", "garden", "toys", "food", "music", "games")
TABLE = "items"
# share of live keys an event on a live key updates; the rest delete
UPDATE_SHARE = 0.75


def snapshot_row(key: int, seed: int) -> tuple:
    """The snapshot image of ``key`` — arithmetic only, so Spark can build
    the same rows from ``range`` without this module."""
    return (
        f"n{key}-{seed % 1000}",
        (key * 7 + seed) % 1000,
        (key * 131 + seed * 17) % 1_000_000,
        CATEGORIES[key % len(CATEGORIES)],
    )


def _image(key: int, row: tuple) -> dict:
    name, qty, price, category = row
    return {"id": key, "name": name, "qty": qty, "price": price, "category": category}


class FeedGenerator:
    """Deterministic change-event source over ``keys`` keys, the first
    ``live`` of which are live at start (the snapshot)."""

    def __init__(
        self,
        seed: int,
        keys: int,
        live: int,
        events_per_tick: int,
        corrupt_rate: float = 0.01,
    ) -> None:
        if not 0 < events_per_tick <= keys:
            raise ValueError("events_per_tick must be in (0, keys]")
        self.seed = seed
        self.keys = keys
        self.events_per_tick = events_per_tick
        self.corrupt_rate = corrupt_rate
        self._rng = random.Random(seed)
        self.state: dict[int, tuple] = {k: snapshot_row(k, seed) for k in range(live)}
        self.op_counts: Counter = Counter()
        self.corrupt_lines: list[str] = []
        self.events = 0
        self.lines = 0

    def _new_row(self, key: int) -> tuple:
        r = self._rng
        return (
            f"n{key}-{r.randrange(1_000_000)}",
            r.randrange(1000),
            r.randrange(1_000_000),
            r.choice(CATEGORIES),
        )

    def _corrupt(self) -> str:
        # truncated envelope: malformed JSON with no `after` path, unique per line
        line = '{"payload": {"op": "c", "corrupt": %d, "seed": %d' % (
            len(self.corrupt_lines),
            self.seed,
        )
        self.corrupt_lines.append(line)
        return line

    def tick(self, start_ms: int, span_ms: int = 0) -> str:
        """Advance one tick whose events are created evenly over
        ``[start_ms, start_ms + span_ms)``; return the feed file body
        (newline-terminated)."""
        r = self._rng
        n = self.events_per_tick
        out = []
        for i, key in enumerate(r.sample(range(self.keys), n)):
            stamp_ms = start_ms + i * span_ms // n
            source = {"ts_ms": stamp_ms, "db": "bench", "schema": "public",
                      "table": TABLE, "lsn": None}
            old = self.state.get(key)
            if old is None:
                op, before, row = "c", None, self._new_row(key)
                after = _image(key, row)
                self.state[key] = row
            elif r.random() < UPDATE_SHARE:
                op, before, row = "u", _image(key, old), self._new_row(key)
                after = _image(key, row)
                self.state[key] = row
            else:
                op, before, after = "d", _image(key, old), None
                del self.state[key]
            self.op_counts[op] += 1
            out.append(json.dumps({"payload": {
                "before": before, "after": after, "source": source,
                "op": op, "ts_ms": stamp_ms,
            }}, separators=(",", ":")))
            if r.random() < self.corrupt_rate:
                out.append(self._corrupt())
        self.events += self.events_per_tick
        self.lines += len(out)
        return "\n".join(out) + "\n"

    def summary(self) -> dict:
        """Expected engine outputs, JSON-serialisable."""
        return {
            "events": self.events,
            "lines": self.lines,
            "op_counts": dict(self.op_counts),
            "corrupt_lines": self.corrupt_lines,
            "state": {str(k): list(v) for k, v in self.state.items()},
        }


class FeedWriter:
    """Write-then-rename into ``feed_dir`` with strictly increasing mtimes."""

    def __init__(self, feed_dir: Path) -> None:
        self.feed_dir = Path(feed_dir)
        self.staging = self.feed_dir.parent / (self.feed_dir.name + ".staging")
        self.feed_dir.mkdir(parents=True, exist_ok=True)
        self.staging.mkdir(parents=True, exist_ok=True)
        self._last_ns = 0
        self.count = 0

    def write(self, body: str) -> float:
        """Land one file; return the wall time at which it became visible."""
        name = f"tick-{self.count:06d}.json"
        tmp = self.staging / name
        tmp.write_text(body)
        mtime = max(time.time_ns(), self._last_ns + 1_000_000)
        os.utime(tmp, ns=(mtime, mtime))
        self._last_ns = mtime
        os.rename(tmp, self.feed_dir / name)
        self.count += 1
        return time.time()


def write_backlog(gen: FeedGenerator, feed_dir: Path, files: int, base_ms: int,
                  tick_ms: int = 500) -> list[float]:
    """Pre-write ``files`` ticks, tick k spanning ``base_ms + k * tick_ms``
    onward. The whole backlog is due at once (a burst), so each file's
    lateness (returned, ms) is how long after the burst start it landed."""
    w = FeedWriter(feed_dir)
    t0 = time.time()
    return [(w.write(gen.tick(base_ms + k * tick_ms, tick_ms)) - t0) * 1000.0
            for k in range(files)]


def _sleep_until(t: float) -> None:
    while (delay := t - time.time()) > 0:
        time.sleep(min(delay, 0.05))


def run_schedule(gen: FeedGenerator, writer: FeedWriter, t0: float, ticks: int,
                 tick_s: float) -> list[float]:
    """Open loop: tick k's events are created over ``[t0 + k * tick_s,
    t0 + (k + 1) * tick_s)`` and their file is due at the tick's end,
    whatever the engine is doing. Returns per-tick lateness (ms) from due
    time to the file becoming visible."""
    late_ms = []
    tick_ms = int(tick_s * 1000)
    for k in range(ticks):
        start = t0 + k * tick_s
        due = start + tick_s
        # the body is made a quarter tick ahead (after the engine's batch for
        # the previous file, not during it), so lateness is only the write
        # and rename
        _sleep_until(due - tick_s / 4)
        body = gen.tick(int(start * 1000), tick_ms)
        _sleep_until(due)
        late_ms.append((writer.write(body) - due) * 1000.0)
    return late_ms


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--live", type=int, required=True)
    ap.add_argument("--events-per-tick", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--tick-s", type=float, default=0.5)
    ap.add_argument("--t0", type=float, required=True, help="epoch s of tick 0")
    ap.add_argument("--feed", required=True)
    ap.add_argument("--summary", required=True, help="JSON written at the end")
    a = ap.parse_args(argv)
    gen = FeedGenerator(a.seed, a.keys, a.live, a.events_per_tick)
    late = run_schedule(gen, FeedWriter(Path(a.feed)), a.t0, a.ticks, a.tick_s)
    out = gen.summary()
    out["late_ms"] = late
    tmp = a.summary + ".tmp"
    Path(tmp).write_text(json.dumps(out))
    os.rename(tmp, a.summary)


if __name__ == "__main__":
    main()
