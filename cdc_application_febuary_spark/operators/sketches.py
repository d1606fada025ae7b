"""Mergeable cardinality sketches (Apache DataSketches HLL via Spark's
built-in ``hll_sketch_agg`` / ``hll_union_agg``).

Why this exists besides ``approx_count_distinct``: at 100 TB the winning
pattern is *sketch once, merge forever*. Each shard (partition, day, source)
aggregates its own fixed-size HLL sketch — a few KB regardless of input
size — and any rollup (per-day -> per-month -> global, per-source ->
corpus) is a register-wise union of the stored sketches with NO rescan of
the data. ``approx_count_distinct`` gives a number; a stored sketch gives
every future rollup for free. HLL union is exact over the register state:
merging per-shard sketches yields byte-identical registers to a single
global pass at the same ``lg_k``, so shard-then-merge loses nothing
(pinned by ``tests/test_sketches.py``).

All JVM-side aggregates — no Python in the loop; shuffle carries only the
fixed-size sketch blobs, never the raw values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def shard_sketches(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """(shard, hll) — one fixed-size HLL sketch of ``value_col`` per shard.
    This is the stored artifact: persist it next to the shard's data files
    and every later distinct-count rollup reads KBs, not the shard."""
    return df.groupBy(F.col(shard_col).alias("shard")).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("hll")
    )


def merge_estimate(sketches: DataFrame, hll_col: str = "hll") -> DataFrame:
    """Union all sketch rows into one global estimate (single small row —
    the input is one blob per shard, so this 'global' agg moves KBs)."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(hll_col))).alias(
            "distinct_estimate"
        )
    )


def distinct_by_shard(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-shard distinct estimates plus a merged '<all>' rollup row,
    computed from the SAME sketches (one pass over the data, union over
    blobs — the pattern a 100 TB profiler runs nightly)."""
    sk = shard_sketches(df, value_col, shard_col, lg_k).persist()
    per_shard = sk.select(
        "shard", F.hll_sketch_estimate("hll").alias("distinct_estimate")
    )
    total = merge_estimate(sk).select(
        F.lit("<all>").alias("shard"), "distinct_estimate"
    )
    return per_shard.unionByName(total)


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency sketch, pure expressions
# ---------------------------------------------------------------------------
def _cms_bucket(value_col, r_col, width: int, hash: str):
    """Row-r counter bucket for a value: xxhash64 (cheap production tier)
    or md5 leading-32-bits (engine-portable tier — DuckDB replays it as
    ``('0x' || substr(md5(v || ':' || r), 1, 8))::BIGINT % width``, so a
    SQL oracle can reconstruct the counters bit-for-bit)."""
    if hash == "xxhash64":
        return F.pmod(F.xxhash64(value_col, r_col), F.lit(width))
    if hash == "md5":
        key = F.concat_ws(
            ":", value_col.cast("string"), r_col.cast("string")
        )
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
            % width
        )
    raise ValueError(f"unknown cms hash tier: {hash!r}")


def cms_shard_sketches(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    depth: int = 4,
    width: int = 256,
    hash: str = "xxhash64",
) -> DataFrame:
    """(shard, cms array<bigint> of depth*width counters) — one count-min
    sketch per shard, the frequency twin of `shard_sketches`: est(x) =
    min over rows r of counter[r*width + xxhash64(x, r) % width], always
    >= the true count, and <= true + (e/width)*N with probability
    1 - exp(-depth) (Cormode-Muthukrishnan). Stored per shard, any
    rollup is an element-wise array sum (`cms_merge`) with NO rescan —
    exact over the counter state, so shard-then-merge equals one global
    pass bit-for-bit (pinned in tests/test_sketches.py).

    Everything is JVM expressions: explode depth rows per item, one
    grouped count bounded at depth*width rows per shard, then a dense
    pack via a sequence transform over a map literal. No Python, no
    driver collect; the shuffle carries (shard, r, c) counts and then
    KB-sized blobs."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    ex = df.select(
        F.col(shard_col).alias("shard"), F.col(value_col).alias("v"), rows
    ).select(
        "shard",
        (
            F.col("r") * width
            + _cms_bucket(F.col("v"), F.col("r"), width, hash)
        ).alias("pos"),
    )
    cnt = ex.groupBy("shard", "pos").agg(F.count(F.lit(1)).alias("n"))
    return (
        cnt.groupBy("shard")
        .agg(
            F.map_from_arrays(
                F.collect_list("pos"), F.collect_list("n")
            ).alias("m")
        )
        .select(
            "shard",
            F.transform(
                F.sequence(F.lit(0), F.lit(depth * width - 1)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0)).cast(
                    "bigint"
                ),
            ).alias("cms"),
        )
    )


def cms_merge(sketches: DataFrame, cms_col: str = "cms") -> DataFrame:
    """Element-wise sum of all sketch rows into one global sketch (the
    input is one blob per shard; this agg moves KBs)."""
    ex = sketches.select(
        F.posexplode(F.col(cms_col)).alias("pos", "n")
    ).groupBy("pos").agg(F.sum("n").alias("n"))
    return ex.agg(
        F.map_from_arrays(
            F.collect_list("pos"), F.collect_list("n")
        ).alias("m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("m")) - 1),
            lambda i: F.coalesce(F.col("m")[i], F.lit(0)).cast("bigint"),
        ).alias("cms")
    )


def cms_estimate(
    items: DataFrame,
    cms: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
    hash: str = "xxhash64",
) -> DataFrame:
    """items x [broadcast 1-row sketch] -> (original columns, cms_est).
    The estimate is the min over depth counters — pure expressions on a
    single crossed-in blob (the scalar-broadcast idiom). ``hash`` must
    match the tier the sketch was built with."""
    est = F.least(
        *[
            F.col("cms")[
                r * width
                + _cms_bucket(F.col(value_col), F.lit(r), width, hash)
            ]
            for r in range(depth)
        ]
    ).alias("cms_est")
    return items.crossJoin(F.broadcast(cms)).select(*items.columns, est)


def pairwise_intersection_estimates(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-intersection estimates for every unordered shard PAIR by
    inclusion-exclusion over the stored HLL sketches:
    ``|A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)``, where the union estimate
    is a register-wise ``hll_union`` of the two blobs — no rescan of the
    data, the same sketch-once/merge-forever artifact
    :func:`distinct_by_shard` stores. This is THE audience-overlap /
    cross-segment-reach query at 100 TB: the data is scanned once to
    sketch; every pairwise (or k-way, by folding more unions) overlap
    after that is arithmetic over KB-sized blobs.

    Error contract: each estimate carries ~1.04/sqrt(2^lg_k) relative
    standard deviation, and inclusion-exclusion compounds the absolute
    errors of three estimates — so the usable tolerance scales with the
    UNION size, not the intersection (tiny overlaps of huge sets drown
    in sketch noise; the paired query bands at 10% of the exact union).

    Returns (shard_a, shard_b, est_a, est_b, est_union,
    est_intersection) with shard_a < shard_b. One sketch pass over the
    data (materialized — blobs are KBs), pair frame built driver-side
    from the bounded shard list, broadcast equi-joins only."""
    sk = shard_sketches(df, value_col, shard_col, lg_k).localCheckpoint(
        eager=True
    )
    shards = sorted(r["shard"] for r in sk.select("shard").collect())
    pairs = [(a, b) for i, a in enumerate(shards) for b in shards[i + 1 :]]
    spark = df.sparkSession
    pdf = spark.createDataFrame(pairs, "shard_a string, shard_b string")
    a = sk.select(F.col("shard").alias("shard_a"), F.col("hll").alias("hll_a"))
    b = sk.select(F.col("shard").alias("shard_b"), F.col("hll").alias("hll_b"))
    return (
        pdf.join(F.broadcast(a), "shard_a")
        .join(F.broadcast(b), "shard_b")
        .select(
            "shard_a",
            "shard_b",
            F.hll_sketch_estimate("hll_a").alias("est_a"),
            F.hll_sketch_estimate("hll_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("hll_a", "hll_b")).alias(
                "est_union"
            ),
        )
        .withColumn(
            "est_intersection",
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        )
    )


def sketch_fold_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    value_col: str,
    shard_col: str,
    lg_k: int = 12,
) -> int | None:
    """Fold ONE ingestion batch into a persistent HLL sketch STORE —
    the incremental tier of sketch-once/merge-forever: each batch
    commits its per-shard blobs (KBs) as manifest-table rows keyed by
    (shard, batch_id); any later rollup unions stored registers without
    rescanning a single ingested row. Exactly-once through the shared
    ``meta.batch_id`` discipline (`incremental_dedup.dedup_batch`):
    a replayed batch id returns None and the store is untouched, so a
    crash-retry loop can call this blindly.

    Returns the committed manifest version, or None on replay."""
    from ..sources import manifest_table as mt
    from ..streaming.manifest_sink import is_replay

    if is_replay(batch.sparkSession, store_path, batch_id):
        return None
    sk = shard_sketches(batch, value_col, shard_col, lg_k).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("long")
    )
    return mt.write_table(
        sk,
        store_path,
        ["shard", "batch_id"],
        mode="append",
        meta={"batch_id": int(batch_id)},
    )


def sketch_store_estimates(spark, store_path: str) -> DataFrame:
    """Distinct-count rollup from the sketch store alone: per-shard
    estimates (register union across all committed batches) plus the
    merged '<all>' row — the read path never touches ingested data,
    only the KB-sized blobs."""
    from ..sources import manifest_table as mt

    sk = mt.read_table(spark, store_path).select("shard", "hll")
    per = sk.groupBy("shard").agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias(
            "distinct_estimate"
        )
    )
    total = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias(
            "distinct_estimate"
        )
    ).select(F.lit("<all>").alias("shard"), "distinct_estimate")
    return per.unionByName(total)
