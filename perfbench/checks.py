"""The dashboard read mix, its DuckDB recompute, and the output checks.

Every check returns a bool; a false one counts toward ``failed``.
"""

from __future__ import annotations

import datetime as dt
import math
from pathlib import Path

import duckdb
from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_application_febuary_spark.operators.profiling import profile_table
from cdc_application_febuary_spark.operators.scd2 import current_state, normalized_op_counts
from cdc_application_febuary_spark.streaming.monitoring import event_log_dashboard

PAYLOAD_COLS = ("id", "name", "qty", "price", "category")
READ_SPANS = {
    "event_log_dashboard": "monitoring.event_log_dashboard",
    "normalized_op_counts": "scd2.normalized_op_counts",
    "current_state": "scd2.current_state",
    "profile_table": "profiling.profile_table",
}
DASHBOARD_DAYS = 7


def _plain(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _rows(pdf) -> list[tuple]:
    return [tuple(_plain(v) for v in r) for r in pdf.itertuples(index=False)]


def read_mix(spark: SparkSession, tracer, target: str, event_log: str) -> dict:
    """One pass of the monitoring dashboard: each read opens the tables
    afresh and materialises its result on the driver."""
    out = {}
    with tracer.span(READ_SPANS["event_log_dashboard"]):
        out["event_log_dashboard"] = _rows(
            event_log_dashboard(spark.read.parquet(event_log), DASHBOARD_DAYS).toPandas())
    with tracer.span(READ_SPANS["normalized_op_counts"]):
        out["normalized_op_counts"] = _rows(
            normalized_op_counts(spark.read.parquet(target), "__op").toPandas())
    with tracer.span(READ_SPANS["current_state"]):
        out["current_state"] = sorted(_rows(
            current_state(spark.read.parquet(target), ["id"])
            .select(*PAYLOAD_COLS).toPandas()))
    with tracer.span(READ_SPANS["profile_table"]):
        out["profile_table"] = sorted(_rows(
            profile_table(spark.read.parquet(target).select(*PAYLOAD_COLS)).toPandas()))
    return out


def duckdb_reads(target: str, event_log: str) -> dict:
    """The same four results recomputed by DuckDB over the same files."""
    cutoff = dt.datetime.now(dt.timezone.utc).date() - dt.timedelta(days=DASHBOARD_DAYS)
    tgt = f"read_parquet('{target}/*.parquet', union_by_name=true)"
    elog = f"read_parquet('{event_log}/*/*.parquet', hive_partitioning=true)"
    con = duckdb.connect()
    try:
        q = lambda sql: [tuple(_plain(v) for v in r) for r in con.execute(sql).fetchall()]  # noqa: E731
        out = {
            "event_log_dashboard": q(f"""
                SELECT pipeline_id, event_type, count(*) AS cnt FROM {elog}
                WHERE CAST(event_date AS DATE) >= DATE '{cutoff}'
                GROUP BY 1, 2 ORDER BY 1, 2"""),
            "normalized_op_counts": q(f"""
                SELECT CASE WHEN lower(__op) IN ('c','r','insert','i') THEN 'insert'
                            WHEN lower(__op) IN ('u','update') THEN 'update'
                            WHEN lower(__op) IN ('d','delete','remove') THEN 'delete'
                            WHEN lower(__op) IN ('t','truncate') THEN 'truncate'
                            ELSE 'other' END AS event_type, count(*) AS cnt
                FROM {tgt} GROUP BY 1 ORDER BY 1"""),
            "current_state": q(f"""
                SELECT {', '.join(PAYLOAD_COLS)} FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY __source_ts_ms DESC) rn
                  FROM {tgt})
                WHERE rn = 1 AND __deleted IS DISTINCT FROM 'true' ORDER BY id"""),
        }
        prof = []
        for c in PAYLOAD_COLS:
            numeric = c != "name" and c != "category"
            stats = (f"CAST(min({c}) AS DOUBLE), CAST(max({c}) AS DOUBLE), "
                     f"avg(CAST({c} AS DOUBLE)), stddev_samp(CAST({c} AS DOUBLE)), "
                     "NULL, NULL, NULL") if numeric else (
                     "NULL, NULL, NULL, NULL, "
                     f"min(length({c})), max(length({c})), avg(length({c}))")
            prof += q(f"SELECT '{c}', count(*), count(*) - count({c}), "
                      f"count(DISTINCT {c}), {stats} FROM {tgt}")
        out["profile_table"] = sorted(prof)
        return out
    finally:
        con.close()


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal, floats to 1e-9 relative."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Count plus an order-free xxhash64 sum over the SCD2 row image (summed
    as DECIMAL(38,0): a long sum of 64-bit hashes overflows)."""
    cols = [F.col(c).cast("long") if c in ("id", "qty", "price") else F.col(c)
            for c in (*PAYLOAD_COLS, "__op")]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def fed_rows(spark: SparkSession, feed: str, snapshot: str) -> DataFrame:
    """The SCD2 rows the feed files and the snapshot imply, parsed with
    ``get_json_object`` (not the engine's decoder); corrupt lines carry no
    row image and drop out."""
    def field(name: str):
        return F.coalesce(F.get_json_object("value", f"$.payload.after.{name}"),
                          F.get_json_object("value", f"$.payload.before.{name}"))

    events = spark.read.text(feed).select(
        *[field(c).alias(c) for c in PAYLOAD_COLS],
        F.get_json_object("value", "$.payload.op").alias("__op"),
    ).where(F.col("id").isNotNull())
    snap = spark.read.parquet(snapshot).select(*PAYLOAD_COLS, F.lit("r").alias("__op"))
    return events.unionByName(snap.select(*[F.col(c).cast("string") if c != "__op" else F.col(c)
                                            for c in events.columns]))


def output_checks(spark: SparkSession, tracer, paths: dict, expected: dict,
                  snapshot_rows: int) -> dict[str, bool]:
    """All output checks for one finished stream. The sink's files are read
    back with DuckDB; a traced run also runs the engine's read mix over
    them (its spans are the read-side layer metrics) and compares each
    result with DuckDB's."""
    target, event_log = paths["target"], paths["event_log"]
    oracle = duckdb_reads(target, event_log)
    ops = expected["op_counts"]
    got = fingerprint(spark.read.parquet(target))
    with duckdb.connect() as con:
        dead = sorted(r[0] for r in con.execute(
            f"SELECT raw_value FROM read_parquet('{paths['dead_letter']}/*.parquet')"
        ).fetchall())
    checks = {
        "target_fingerprint": got == fingerprint(
            fed_rows(spark, paths["feed"], paths["snapshot"])),
        "target_rows": got[0] == snapshot_rows + expected["events"],
        "current_state_is_generator_state": oracle["current_state"] == sorted(
            (int(k), *v) for k, v in expected["state"].items()),
        "event_log_op_counts": {r[1]: r[2] for r in oracle["event_log_dashboard"]} == {
            "insert": ops.get("c", 0), "update": ops.get("u", 0),
            "delete": ops.get("d", 0)},
        "dead_letter_is_corrupt_lines": dead == sorted(expected["corrupt_lines"]),
    }
    if tracer.enabled:
        reads = read_mix(spark, tracer, target, event_log)
        for name in READ_SPANS:
            checks[f"duckdb_{name}"] = same_rows(reads[name], oracle[name])
    return checks


def parquet_files(path: str) -> int:
    return sum(1 for _ in Path(path).rglob("*.parquet"))


def dir_mb(path: str) -> float:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file()) / 1e6
