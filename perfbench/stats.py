"""Percentiles and the freshness computation, kept free of Spark so they
can be tested on synthetic inputs."""

from __future__ import annotations

import math
import statistics
from datetime import datetime, timezone

# a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError("q must be in (0, 100]")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when a sample of ``n`` leaves at least ``min_beyond`` samples
    above the ``q``-th percentile."""
    return n - math.ceil(q / 100.0 * n) >= min_beyond


def tail(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """The ``q``-th percentile, refusing a sample too small to support it."""
    if not supported(len(values), q, min_beyond):
        raise ValueError(
            f"p{q:g} of {len(values)} samples has fewer than "
            f"{min_beyond} samples beyond it"
        )
    return percentile(values, q)


def median(values: list[float]) -> float:
    return statistics.median(values)


def progress_ms(timestamp: str) -> float:
    """Epoch ms of a StreamingQueryProgress ``timestamp`` (ISO-8601, UTC)."""
    dt = datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def commit_ms(progress: list[dict]) -> dict[int, float]:
    """batch id -> epoch ms at which the batch committed: the trigger's
    start ``timestamp`` plus its ``triggerExecution`` duration."""
    out = {}
    for p in progress:
        dur = p.get("durationMs", {})
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in dur:
            out[int(p["batchId"])] = progress_ms(p["timestamp"]) + dur["triggerExecution"]
    return out


def freshness_s(
    progress: list[dict],
    stamped: list[tuple[int, int, int]],
    since_ms: float = float("-inf"),
) -> list[float]:
    """Per-event freshness samples in seconds.

    ``stamped`` holds (batch id, generator stamp ms, event count) groups, as
    read back from the target's ``__batch_id``/``__source_ts_ms`` columns.
    Events stamped before ``since_ms`` (warm-up ticks) are left out. A group
    whose batch has no committed progress raises: its freshness is unknown.
    """
    commits = commit_ms(progress)
    out: list[float] = []
    for batch_id, stamp, n in stamped:
        if stamp < since_ms:
            continue
        if batch_id not in commits:
            raise KeyError(f"no committed progress for batch {batch_id}")
        out.extend([(commits[batch_id] - stamp) / 1000.0] * n)
    return out


def phase_medians(progress: list[dict], phases: tuple[str, ...]) -> dict[str, float]:
    """Median per-batch ``durationMs`` of each phase over batches with input."""
    rows = [p["durationMs"] for p in progress if p.get("numInputRows", 0) > 0]
    return {ph: median([d.get(ph, 0) for d in rows]) for ph in phases}
