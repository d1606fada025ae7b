"""Column profiling (reference: per-stat SQL queries in
`backend/ingestion/connectors/sqlserver.py:1895-1986`). Here the whole
numeric/string battery for every column computes in ONE scan (a single
aggregate with N expressions), and top-k frequent values per column come
from one explode + aggregate — two jobs total regardless of column count,
versus the reference's 5 queries x N columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import NumericType, StringType


def profile_table(df: DataFrame) -> DataFrame:
    """One row per column: nulls, distinct (exact), numeric min/max/avg/std,
    string length min/max/avg."""
    total = F.count(F.lit(1))
    rows = []
    for field in df.schema.fields:
        c = F.col(field.name)
        base = {
            "column": F.lit(field.name),
            "row_count": total,
            "null_cnt": F.sum(c.isNull().cast("long")),
            "distinct_cnt": F.countDistinct(c),
        }
        if isinstance(field.dataType, NumericType):
            base.update(
                min_val=F.min(c).cast("double"),
                max_val=F.max(c).cast("double"),
                avg_val=F.avg(c.cast("double")),
                stddev_val=F.stddev_samp(c.cast("double")),
                min_len=F.lit(None).cast("int"),
                max_len=F.lit(None).cast("int"),
                avg_len=F.lit(None).cast("double"),
            )
        elif isinstance(field.dataType, StringType):
            base.update(
                min_val=F.lit(None).cast("double"),
                max_val=F.lit(None).cast("double"),
                avg_val=F.lit(None).cast("double"),
                stddev_val=F.lit(None).cast("double"),
                min_len=F.min(F.length(c)),
                max_len=F.max(F.length(c)),
                avg_len=F.avg(F.length(c)),
            )
        else:
            base.update(
                min_val=F.lit(None).cast("double"),
                max_val=F.lit(None).cast("double"),
                avg_val=F.lit(None).cast("double"),
                stddev_val=F.lit(None).cast("double"),
                min_len=F.lit(None).cast("int"),
                max_len=F.lit(None).cast("int"),
                avg_len=F.lit(None).cast("double"),
            )
        rows.append(F.struct(*[v.alias(k) for k, v in base.items()]))
    # One aggregate producing an array of per-column structs, then explode —
    # a single pass over the data.
    return (
        df.agg(F.array(*rows).alias("profiles"))
        .select(F.explode("profiles").alias("p"))
        .select("p.*")
    )


def null_profile(df: DataFrame) -> DataFrame:
    """Null count + percentage per column (reference sqlserver.py:1895-1909),
    single pass."""
    total = F.count(F.lit(1))
    aggs = [total.alias("_total")] + [
        F.sum(F.col(f.name).isNull().cast("long")).alias(f.name)
        for f in df.schema.fields
    ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f.name).alias("column"),
                        F.col(f.name).alias("null_cnt"),
                        (F.col(f.name) / F.col("_total") * 100).alias("null_pct"),
                    )
                    for f in df.schema.fields
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


def top_values_all_columns(df: DataFrame, columns=None, k: int = 10) -> DataFrame:
    """Top-k per column in ONE job: unpivot columns to (column, value) rows,
    aggregate, window-rank within column."""
    cols = columns or [f.name for f in df.schema.fields]
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("cv")
    ).select("cv.*")
    counts = stacked.groupBy("column", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("column").orderBy(F.col("cnt").desc(), F.col("value").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("column", "rank")
    )


def approx_distinct_profile(df: DataFrame, rsd: float = 0.05) -> DataFrame:
    """The 100 TB tier of the distinct counter: HLL sketches per column in
    one pass (exact countDistinct forces a per-column shuffle)."""
    aggs = [
        F.approx_count_distinct(F.col(f.name), rsd).alias(f.name)
        for f in df.schema.fields
    ]
    wide = df.agg(*aggs)
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f.name).alias("column"),
                        F.col(f.name).alias("approx_distinct"),
                    )
                    for f in df.schema.fields
                ]
            )
        ).alias("p")
    ).select("p.*")


def k_anonymity_groups(
    df: DataFrame, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: every QI
    equivalence class with fewer than ``k`` members — the rows a privacy
    review must suppress or generalize before the table can be shared
    (k-anonymity, Sweeney 2002). One grouped count (map-side combined;
    state bounded by the QI-combination cardinality, never row count)
    filtered to the violators; downstream joins this back as the
    suppression list. Returns qi_cols + group_size, the violating
    classes only."""
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .where(F.col("group_size") < k)
    )
