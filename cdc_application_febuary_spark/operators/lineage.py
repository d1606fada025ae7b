"""Lineage: FK edges + dependency traversal.

The reference extracts FK edges from catalog views
(`connectors/sqlserver.py:2016-2240`: sys.foreign_keys joined to
sys.foreign_key_columns) and walks the dependency graph in Python for table
selection validation (`discovery_service.py:216-345`).

Here edges are a DataFrame ``(from_table, to_table, from_column, to_column,
type)``; traversal is iterative self-joins (frontier BFS) — each round is
one distributed join, so graphs with millions of edges work; no driver-side
adjacency maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sources.dialects import dialect

EDGE_COLS = ("from_table", "to_table", "from_column", "to_column", "type")


def fk_edges_from_catalog(
    fk_df: DataFrame, fkc_df: DataFrame
) -> DataFrame:
    """J3: sys.foreign_keys ⨝ sys.foreign_key_columns -> edge rows.
    Column names follow the SQL Server catalog shape the reference reads."""
    return (
        fk_df.alias("fk")
        .join(fkc_df.alias("c"), F.col("fk.object_id") == F.col("c.constraint_object_id"))
        .select(
            F.col("c.parent_table").alias("from_table"),
            F.col("c.referenced_table").alias("to_table"),
            F.col("c.parent_column").alias("from_column"),
            F.col("c.referenced_column").alias("to_column"),
            F.lit("foreign_key").alias("type"),
        )
    )


def fk_edges_from_live_catalog(
    spark, url: str, engine: str = "derby"
) -> DataFrame:
    """J3 against a LIVE database: table-level FK edges read straight from
    the engine's system catalog over JDBC (pushdown subquery — the catalog
    never leaves the database unfiltered). Returns
    ``(from_table, to_table, constraint_name, type)``; feed into
    :func:`reachable_tables` / :func:`missing_dependencies`. The query is
    the engine record's `fk_catalog_sql` (`sources/dialects.py`)."""
    sql = dialect(engine).fk_catalog_sql
    if sql is None:
        raise ValueError(f"no FK catalog query for engine {engine!r}")
    sql = sql.strip()
    df = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"({sql}) fk_edges")
        .load()
    )
    return df.select(
        F.lower("from_table").alias("from_table"),
        F.lower("to_table").alias("to_table"),
        F.col("constraint_name"),
        F.lit("foreign_key").alias("type"),
    )


def reachable_tables(
    edges: DataFrame,
    start_tables: list[str],
    max_hops: int = 10,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """BFS over FK edges: all tables reachable from `start_tables` with hop
    distance (J6).

    Size-aware strategy (the BFS analog of broadcast-vs-shuffle join
    selection): catalog FK graphs are at most ~1e5 edges, where a collected
    driver BFS beats per-hop distributed joins by orders of magnitude; the
    iterative-join path remains for genuinely large lineage graphs."""
    spark = edges.sparkSession
    # one job decides the strategy AND fetches the edges if small
    sample = edges.select("from_table", "to_table").take(driver_threshold + 1)
    if len(sample) <= driver_threshold:
        adj: dict[str, list[str]] = {}
        for r in sample:
            adj.setdefault(r["from_table"], []).append(r["to_table"])
        hops = {t: 0 for t in start_tables}
        frontier_py = list(start_tables)
        for hop in range(1, max_hops + 1):
            nxt_py = []
            for t in frontier_py:
                for dst in adj.get(t, ()):
                    if dst not in hops:
                        hops[dst] = hop
                        nxt_py.append(dst)
            if not nxt_py:
                break
            frontier_py = nxt_py
        return spark.createDataFrame(
            sorted(hops.items()), ["table", "hops"]
        )
    visited = spark.createDataFrame(
        [(t, 0) for t in start_tables], ["table", "hops"]
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        # localCheckpoint truncates the lineage each round — without it the
        # plan (and per-round recomputation) grows with the hop count.
        nxt = (
            frontier.join(edges, frontier.table == edges.from_table)
            .select(F.col("to_table").alias("table"), F.lit(hop).alias("hops"))
            .distinct()
            .join(visited.select("table"), "table", "left_anti")
        ).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.groupBy("table").agg(F.min("hops").alias("hops"))


def missing_dependencies(
    edges: DataFrame, selected_tables: list[str]
) -> DataFrame:
    """Dependency validation (discovery_service.py:216-345): FK targets of
    the selected set that are not themselves selected — the tables a
    pipeline must also replicate for referential integrity."""
    sel = edges.sparkSession.createDataFrame(
        [(t,) for t in selected_tables], ["table"]
    )
    required = (
        edges.join(sel, edges.from_table == sel.table, "left_semi")
        .select(F.col("to_table").alias("table"))
        .distinct()
    )
    return required.join(sel, "table", "left_anti").orderBy("table")
