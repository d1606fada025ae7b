"""Benchmark-side tracing: spans around the calls into each engine layer,
recorded from the benchmark's own files without editing the engine.

* ``Tracer.span`` times a block; spans nest per thread, so a layer's self
  time is its duration minus what its child spans cover. The foreachBatch
  sink runs on a py4j callback thread and gets its own stack.
* ``Tracer.patch`` swaps a module attribute for a spanned wrapper (used for
  functions the engine calls internally, e.g. the reconciliation checks
  ``run_full_load`` imports by name).
* ``Tracer.patch_parquet_writes`` spans ``DataFrameWriter.parquet`` keyed by
  output path, which separates the sink's target, event-log and
  dead-letter writes (and the full load's write) without touching the sink.
* ``ProgressListener`` collects every ``StreamingQueryProgress``.

``NullTracer`` has the same surface and records nothing; untraced runs use
it so the timed code path is the same in both modes.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def patch(self, module, attr: str, name: str) -> None:
        pass

    def patch_parquet_writes(self, by_path: dict[str, str],
                             by_parent: dict[str, str]) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> str | None:
        stack = self._stack()
        return stack[-1]["name"] if stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else None,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        if rec["trace"] is None:
            rec["trace"] = rec["id"]
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["dur_s"] = time.perf_counter() - rec["start"]
            rec["self_s"] = rec["dur_s"] - rec["child_s"]
            if parent is not None:
                parent["child_s"] += rec["dur_s"]
            with self._lock:
                self.spans.append(rec)

    def patch(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._undo.append((module, attr, orig))

    def patch_parquet_writes(self, by_path: dict[str, str],
                             by_parent: dict[str, str]) -> None:
        """Span each parquet write: a write issued inside an open span named
        in ``by_parent`` takes that mapping's name (so the full load's write
        to the target is told apart from the sink's), else its output path
        is looked up in ``by_path``. Other writes are not spanned."""
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet
        tracer = self

        def parquet(writer, path, *args, **kwargs):
            name = by_parent.get(tracer.current()) or by_path.get(str(path))
            if name is None:
                return orig(writer, path, *args, **kwargs)
            with tracer.span(name):
                return orig(writer, path, *args, **kwargs)

        DataFrameWriter.parquet = parquet
        self._undo.append((DataFrameWriter, "parquet", orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        with self._lock:
            return [s["dur_s"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        out: dict[str, dict] = {}
        with self._lock:
            for s in self.spans:
                agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
                agg["count"] += 1
                agg["total_s"] += s["dur_s"]
                agg["self_s"] += s["self_s"]
        return out

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of one empty span on this host."""
        probe = Tracer()
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t) / n

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"self_times": self.self_times(),
                                    "spans": self.spans, **extra}, indent=1))


class ProgressListener(StreamingQueryListener):
    """Keeps each progress event's JSON (phases in ``durationMs``)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.id))

    def for_query(self, query_id: str, finished: bool = False,
                  timeout_s: float = 10.0) -> list[dict]:
        """Progress of one query. For a ``finished`` query, first wait for
        its terminated event: the listener bus delivers events in order but
        after the query returns, so its last progress may still be on the
        way."""
        deadline = time.monotonic() + timeout_s
        while finished and time.monotonic() < deadline:
            with self._lock:
                if query_id in self.terminated:
                    break
            time.sleep(0.05)
        with self._lock:
            return [p for p in self.progress if p.get("id") == query_id]
