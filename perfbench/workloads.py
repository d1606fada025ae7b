"""The workloads. Each drives the engine only through its public functions
and returns (end-to-end metrics, operations attempted, operations failed,
output checks); per-layer metrics and detail go on the ``Run``.

* ``cdc_steady`` — open loop: a separate generator process lands a
  2k-event feed file every 2 s, just before a tick of the 500 ms
  ``processingTime`` trigger, so each file is one small batch; per-batch
  fixed cost and file listing dominate.
* ``cdc_bulk`` — the same loop with a 10k-event file every 2.5 s; per-row
  decode and sink writes are about half of each batch.
* ``pipeline_bootstrap`` — closed loop of rounds: ``run_full_load`` of a
  snapshot, then an ``availableNow`` drain of a change backlog in several
  ``max_files_per_trigger`` batches. One unmeasured round runs first. Not
  in ``BENCHMARK.json``: with nothing to wait on, its times swing with the
  host's steal time far past any allowed bound; run it by hand.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdc_application_febuary_spark import session
from cdc_application_febuary_spark.functions import changelog
from cdc_application_febuary_spark.plans import pipeline
from cdc_application_febuary_spark.streaming import changelog_stream
from cdc_application_febuary_spark.streaming.changelog_stream import StreamConfig

from perfbench import checks, gen, stats

PAYLOAD = StructType([
    StructField("id", LongType()),
    StructField("name", StringType()),
    StructField("qty", LongType()),
    StructField("price", LongType()),
    StructField("category", StringType()),
])
PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
}
SINK_SPANS = {
    "target": "changelog_stream.target_write",
    "event_log": "changelog_stream.event_log_write",
    "dead_letter": "changelog_stream.dead_letter_write",
}
SESSION_CYCLES = 3
TRIGGER_S = 0.5
# The open-loop workloads land one file every file_s. Spark's processingTime
# ticks fall on epoch multiples of the interval, and each file lands
# LAND_MARGIN_S before one: its batch ends before the next file (about half
# of file_s here), so the stream never queues and freshness does not depend
# on the run's phase.
LAND_MARGIN_S = 0.15
STREAM_TIMEOUT_S = 120
# batches of the separate warm-up stream the open-loop workloads run first,
# and events in each
WARM_BATCHES, WARM_EVENTS = 12, 200

# workload sizes (keys in the key space, live keys in the snapshot, events
# per feed file, seconds between files, untimed files, feed files)
STEADY = dict(keys=20_000, live=16_000, per_file=2_000, file_s=2.0, warm_files=1)
BULK = dict(keys=30_000, live=24_000, per_file=10_000, file_s=2.5, warm_files=1)
BOOTSTRAP = dict(keys=30_000, live=24_000, per_file=6_000, files=6, files_per_trigger=2)


class Run:
    """Shared state of one benchmark run: session, tracer, work directory."""

    def __init__(self, workload: str, seed: int, seconds: int, work: Path, tracer,
                 listener) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.tracer, self.listener = work, tracer, listener
        self.spark: SparkSession | None = None
        self.layers: dict[str, float] = {}
        self.detail: dict = {}

    # -- set-up ---------------------------------------------------------------
    def setup_session(self) -> float:
        """Build and warm the session ``SESSION_CYCLES`` times (stopping all
        but the last) and return the median set-up time."""
        totals, gets, warms = [], [], []
        for i in range(SESSION_CYCLES):
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                spark = session.get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            with self.tracer.span("session.warmup"):
                self.warm_stream(spark, self.work / f"warmup-{i}")
            t2 = time.perf_counter()
            gets.append(t1 - t0)
            warms.append(t2 - t1)
            totals.append(t2 - t0)
            if i < SESSION_CYCLES - 1:
                spark.stop()
        self.spark = spark
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        if self.listener is not None:
            spark.streams.addListener(self.listener)
        self.layers["session.get_spark_s"] = stats.median(gets)
        self.layers["session.warmup_s"] = stats.median(warms)
        self.detail["setup_cycles_s"] = totals
        return stats.median(totals)

    @staticmethod
    def warm_stream(spark: SparkSession, work: Path, files: int = 1,
                    events: int = 16) -> None:
        """A changelog stream end to end (decode, dead-letter, target and
        event-log writes) over ``files`` feed files, one batch each, so
        measured work does not pay for code generation. The set-up runs one
        tiny batch; ``cdc_steady`` runs many more before timing, because its
        per-batch time keeps falling for about 15 batches as the JIT warms."""
        g = gen.FeedGenerator(seed=0, keys=4 * events, live=2 * events,
                              events_per_tick=events, corrupt_rate=0.2)
        gen.write_backlog(g, work / "feed", files, base_ms=int(time.time() * 1000))
        cfg = _config(work, "warmup", {"availableNow": True}, files_per_trigger=1)
        changelog_stream.run_file_changelog_pipeline(
            spark, str(work / "feed"), PAYLOAD, cfg, timeout_sec=STREAM_TIMEOUT_S)

    def snapshot(self, spark: SparkSession, live: int, path: str) -> str:
        """Write the seeded snapshot source table; same rows as
        ``gen.snapshot_row``."""
        cats = F.array(*[F.lit(c) for c in gen.CATEGORIES])
        (spark.range(live).select(
            F.col("id"),
            F.concat(F.lit("n"), F.col("id").cast("string"),
                     F.lit(f"-{self.seed % 1000}")).alias("name"),
            ((F.col("id") * 7 + self.seed) % 1000).alias("qty"),
            ((F.col("id") * 131 + self.seed * 17) % 1_000_000).alias("price"),
            F.element_at(cats, (F.col("id") % len(gen.CATEGORIES) + 1).cast("int"))
            .alias("category"),
        ).write.mode("overwrite").parquet(path))
        return path

    def full_load(self, snapshot: str, target: str, snapshot_ts_ms: int):
        with self.tracer.span("pipeline.run_full_load"):
            return pipeline.run_full_load(
                self.spark, self.spark.read.parquet(snapshot), target, "items",
                snapshot_ts_ms=snapshot_ts_ms)

    def start_stream(self, feed: str, cfg: StreamConfig):
        with self.tracer.span("changelog_stream.start_changelog_stream"):
            raw = changelog_stream.file_source(self.spark, feed, cfg.max_files_per_trigger)
            return changelog_stream.start_changelog_stream(self.spark, raw, PAYLOAD, cfg)

    def progress(self, q) -> list[dict]:
        """Progress of query ``q``: from the listener when tracing, else
        from the query's own recent-progress buffer."""
        if self.listener is not None:
            return self.listener.for_query(str(q.id), finished=not q.isActive)
        return list(q.recentProgress)

    # -- per-layer metrics (traced runs) ----------------------------------------
    def trace_layers(self, progress: list[dict], paths: dict, gen_summary: dict) -> None:
        t = self.tracer
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        phases = stats.phase_medians(progress, tuple(PHASES.values()))
        for name, phase in PHASES.items():
            self.layers[name] = phases[phase]
        self.layers["stream.batches"] = len(batches)
        self.layers["stream.rows_per_batch"] = stats.median([p["numInputRows"] for p in batches])
        for span in SINK_SPANS.values():
            self.layers[f"{span}_ms"] = 1000 * stats.median(t.durations(span))
        self.layers["changelog_stream.target_files"] = checks.parquet_files(paths["target"])
        self.layers["changelog_stream.event_log_files"] = checks.parquet_files(paths["event_log"])
        self.layers["changelog_stream.checkpoint_mb"] = checks.dir_mb(paths["checkpoint"])
        self.layers["changelog.decode_rows_per_s"] = self._decode_rate(paths["feed"])
        selfs = t.self_times()
        self.layers["pipeline.full_load_write_s"] = stats.median(
            t.durations("pipeline.full_load_write"))
        self.layers["reconciliation.validate_row_count_s"] = stats.median(
            t.durations("reconciliation.validate_row_count"))
        self.layers["reconciliation.validate_schema_s"] = stats.median(
            t.durations("reconciliation.validate_schema"))
        fl = selfs["pipeline.run_full_load"]
        self.layers["pipeline.run_full_load_self_s"] = fl["self_s"] / fl["count"]
        for span in checks.READ_SPANS.values():
            self.layers[f"{span}_s"] = stats.median(t.durations(span))
        # every event of a file shares that file's lateness
        late = gen_summary["late_ms"]
        per_file = gen_summary["events"] // len(late)
        self.layers["gen.late_ms_p99"] = stats.tail(
            [ms for ms in late for _ in range(per_file)], 99)
        self.layers["gen.events"] = gen_summary["events"]
        self.layers["gen.corrupt_lines"] = len(gen_summary["corrupt_lines"])

    def _decode_rate(self, feed: str) -> float:
        """Rows/s of ``decode_debezium`` over the whole feed as one batch
        (median of three), so the per-row decode cost is seen without
        per-batch overhead."""
        raw = self.spark.read.text(feed)
        lines = raw.count()
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("changelog.decode_debezium"):
                (changelog.decode_debezium(raw, PAYLOAD)
                 .write.format("noop").mode("overwrite").save())
            rates.append(lines / (time.perf_counter() - t0))
        return stats.median(rates)


def _config(root: Path, pipeline_id: str, trigger: dict,
            files_per_trigger: int | None = None) -> StreamConfig:
    return StreamConfig(
        pipeline_id=pipeline_id,
        target_path=str(root / "target"),
        event_log_path=str(root / "event_log"),
        checkpoint_dir=str(root / "checkpoint"),
        trigger=trigger,
        max_files_per_trigger=files_per_trigger,
        dead_letter_path=str(root / "dead_letter"),
    )


def _paths(root: Path, feed: Path, snapshot: str) -> dict:
    return {"target": str(root / "target"), "event_log": str(root / "event_log"),
            "dead_letter": str(root / "dead_letter"), "checkpoint": str(root / "checkpoint"),
            "feed": str(feed), "snapshot": snapshot}


def _await(q) -> bool:
    """Wait for an availableNow query; True when it finished cleanly."""
    q.awaitTermination(STREAM_TIMEOUT_S)
    if q.isActive:
        q.stop()
        return False
    return q.exception() is None


def _stamped(target: str) -> list[tuple[int, int, int]]:
    """(batch id, stamp, events) groups of the streamed target rows."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT __batch_id, __source_ts_ms, count(*) FROM "
            f"read_parquet('{target}/*.parquet', union_by_name=true) "
            f"WHERE __batch_id IS NOT NULL GROUP BY 1, 2").fetchall()
    finally:
        con.close()


def _patch_layers(run: Run, paths: dict) -> None:
    t = run.tracer
    t.patch(pipeline, "validate_row_count", "reconciliation.validate_row_count")
    t.patch(pipeline, "validate_schema", "reconciliation.validate_schema")
    t.patch(pipeline, "validate_source_non_empty", "reconciliation.validate_source_non_empty")
    t.patch_parquet_writes(
        {paths[k]: span for k, span in SINK_SPANS.items()},
        {"pipeline.run_full_load": "pipeline.full_load_write"},
    )


def _backlog_summary(g: gen.FeedGenerator, feed: Path, files: int, base_ms: int) -> dict:
    late = gen.write_backlog(g, feed, files, base_ms, int(TRIGGER_S * 1000))
    return {**g.summary(), "late_ms": late}


# ---------------------------------------------------------------------------
def _open_loop(run: Run, name: str, c: dict) -> tuple:
    """Full load, then a ``processingTime`` stream fed one file every
    ``c["file_s"]`` by the generator process, timed per event."""
    file_s = c["file_s"]
    marks = [time.perf_counter()]
    setup_s = run.setup_session()
    marks.append(time.perf_counter())
    root = run.work / name
    feed = root / "feed"
    feed.mkdir(parents=True)
    snap = run.snapshot(run.spark, c["live"], str(run.work / "snapshot"))
    paths = _paths(root, feed, snap)
    _patch_layers(run, paths)
    t_load = time.perf_counter()
    run.full_load(snap, paths["target"], int(time.time() * 1000) - 1000)
    t_load = time.perf_counter() - t_load
    marks.append(time.perf_counter())
    run.warm_stream(run.spark, run.work / "warm_stream", WARM_BATCHES, WARM_EVENTS)
    marks.append(time.perf_counter())
    cfg = _config(root, name, {"processingTime": f"{int(TRIGGER_S * 1000)} milliseconds"})
    q = run.start_stream(str(feed), cfg)

    ticks = c["warm_files"] + int(round(run.seconds / file_s))
    # tick k's file is due at t0 + (k + 1) * file_s, LAND_MARGIN_S before a trigger tick
    t0 = (math.floor(time.time() / TRIGGER_S) + 2) * TRIGGER_S - LAND_MARGIN_S
    summary_path = root / "gen_summary.json"
    proc = subprocess.Popen([
        sys.executable, str(Path(gen.__file__)),
        "--seed", str(run.seed), "--keys", str(c["keys"]), "--live", str(c["live"]),
        "--events-per-tick", str(c["per_file"]), "--ticks", str(ticks),
        "--tick-s", str(file_s), "--t0", repr(t0), "--feed", str(feed),
        "--summary", str(summary_path),
    ])
    try:
        proc.wait(timeout=ticks * file_s + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"feed generator exited with {proc.returncode}")
    summary = json.loads(summary_path.read_text())

    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in run.progress(q)) >= summary["lines"]:
            break
        time.sleep(0.1)
    q.stop()
    progress = run.progress(q)

    measure_from = (t0 + c["warm_files"] * file_s) * 1000
    stamped = _stamped(paths["target"])
    tick_ms, t0_ms = int(file_s * 1000), int(t0 * 1000)
    landed = {(stamp - t0_ms) // tick_ms for _, stamp, _ in stamped}
    failed_ticks = sum(1 for k in range(ticks) if k not in landed)
    fresh = stats.freshness_s(progress, stamped, since_ms=measure_from)
    commits = stats.commit_ms(progress)
    last_commit = max(commits[b] for b, s, _ in stamped if s >= measure_from)

    marks.append(time.perf_counter())
    result_checks = checks.output_checks(run.spark, run.tracer, paths, summary, c["live"])
    marks.append(time.perf_counter())
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": stats.median(fresh),
        # delivered rate: measured events over the time from the first
        # measured tick's due time to the commit of the last of them
        "throughput_per_s": len(fresh) / ((last_commit - measure_from) / 1000),
    }
    run.detail.update({
        "freshness_p50_s": e2e["latency_p50_s"],
        "freshness_mean_s": sum(fresh) / len(fresh),
        "freshness_p99_s": stats.tail(fresh, 99),
        "freshness_samples": len(fresh),
        "delivered_events_per_s": e2e["throughput_per_s"],
        "offered_events_per_s": c["per_file"] / file_s,
        "gen_late_ms_max": max(summary["late_ms"]),
        "full_load_rows_per_s": c["live"] / t_load,
        # wall time of set-up, full load, warm-up stream, timed stream, checks
        "phase_s": [b - a for a, b in zip(marks, marks[1:])],
    })
    if run.tracer.enabled:
        run.trace_layers(progress, paths, summary)
    return e2e, ticks, failed_ticks, result_checks


def cdc_steady(run: Run) -> tuple:
    return _open_loop(run, "cdc_steady", STEADY)


def cdc_bulk(run: Run) -> tuple:
    return _open_loop(run, "cdc_bulk", BULK)


def pipeline_bootstrap(run: Run) -> tuple:
    c = BOOTSTRAP
    setup_s = run.setup_session()
    feed = run.work / "bootstrap_feed"
    snap = run.snapshot(run.spark, c["live"], str(run.work / "snapshot"))
    snap_ts = int(time.time() * 1000) - 1000
    g = gen.FeedGenerator(run.seed, c["keys"], c["live"], c["per_file"])
    summary = _backlog_summary(g, feed, c["files"], snap_ts + 1000)

    def bootstrap_round(name: str) -> tuple:
        root = run.work / f"round-{name}"
        paths = _paths(root, feed, snap)
        run.tracer.restore()
        _patch_layers(run, paths)
        t0 = time.perf_counter()
        run.full_load(snap, paths["target"], snap_ts)
        t1 = time.perf_counter()
        q = run.start_stream(str(feed), _config(
            root, "pipeline_bootstrap", {"availableNow": True}, c["files_per_trigger"]))
        ok = _await(q)
        t2 = time.perf_counter()
        return paths, ok, run.progress(q), (t1 - t0, t2 - t1, t2 - t0)

    # the first round runs the full-load and catch-up paths cold; not timed
    _, ok, _, warm = bootstrap_round("warm")
    failed = int(not ok)
    rounds, progress = [], []
    t_end = time.perf_counter() + run.seconds
    # another round starts while at least half of one still fits
    while not rounds or time.perf_counter() + rounds[-1][2] / 2 <= t_end:
        paths, ok, round_progress, times = bootstrap_round(str(len(rounds)))
        failed += not ok
        progress += round_progress
        rounds.append(times)

    result_checks = checks.output_checks(run.spark, run.tracer, paths, summary, c["live"])
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": stats.median([r[2] for r in rounds]),
        "throughput_per_s": stats.median([summary["events"] / r[1] for r in rounds]),
    }
    run.detail.update({
        "rounds": len(rounds),
        "round_s": rounds,
        "warm_round_s": warm,
        "bootstrap_round_p50_s": e2e["latency_p50_s"],
        "full_load_rows_per_s": stats.median([c["live"] / r[0] for r in rounds]),
        "catchup_events_per_s": e2e["throughput_per_s"],
        "snapshot_rows": c["live"],
        "backlog_events": summary["events"],
    })
    if run.tracer.enabled:
        run.trace_layers(progress, paths, summary)
    return e2e, len(rounds) + 1, failed, result_checks


WORKLOADS = {
    "cdc_steady": cdc_steady,
    "cdc_bulk": cdc_bulk,
    "pipeline_bootstrap": pipeline_bootstrap,
}
