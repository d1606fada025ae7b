"""Cross-corpus line-level deduplication (CCNet, Wenzek et al. 2020,
arXiv:1911.00359 §3.1; same stage in FineWeb/RefinedWeb pipelines):
boilerplate lines — footers, nav bars, cookie banners — repeat across
MILLIONS of documents, so dedup must run at line granularity over the
whole corpus, keeping exactly ONE occurrence of each distinct normalized
line (the one in the lowest document id) and charging every other
occurrence to its document as a duplicate.

This is distinct from every other tier in the dedup family
(`operators/dedup.py` is document-level: exact/minhash/simhash/ngram all
key whole documents; `substring_dup_spans` finds long shared substrings
within document pairs). Line dedup is the stage real web pipelines run
FIRST, because boilerplate inflates every downstream similarity score.

Spark-first shape (no positional bookkeeping anywhere):

* one ``posexplode_outer`` over the per-document line arrays
  (outer, per the InferFiltersFromGenerate rule — a plain explode of a
  projected chunk expression re-evaluates the tokenization per element);
* normalize each line (lower, trim, collapse internal whitespace) and
  key it by ``md5(norm)`` — a fixed 32-char shuffle key regardless of
  line length, so at 100 TB the corpus-wide groupBy shuffles ~32 bytes
  per distinct line instead of arbitrary-length strings (md5 is also
  bit-identical in DuckDB, which keeps the oracle portable; at 128 bits
  collisions are negligible at any corpus size);
* ``groupBy(key, doc)`` counts occurrences (map-side combinable);
* a window over ``key`` takes ``min(doc)`` — the keeper document — in
  the SAME shuffle (a groupBy(key)+self-join would derive the whole
  explode+agg twice: Spark does not reuse common subplans);
* one keyed agg per document.

Every shuffle is keyed by the md5; nothing is quadratic; there is no
driver collect. No reference analog (the reference backend has no corpus
filters); recipe from the published CCNet paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WHITESPACE_RE = r"\s+"


def normalize_line(line) -> "F.Column":
    """CCNet-style line normalization: lowercase, trim, collapse internal
    whitespace runs. (The paper also strips accents/digits for its hash;
    those are policy dials — this keeps the portable core.)"""
    return F.regexp_replace(F.lower(F.trim(line)), WHITESPACE_RE, " ")


def line_corpus_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    drop_threshold_pct: int = 30,
    boilerplate_max_df: int | None = None,
) -> DataFrame:
    """Corpus-wide line dedup over ``df[id_col, lines_col: array<string>]``.

    Keeps exactly one occurrence of each distinct normalized line — the
    one in the minimum ``id_col`` document — and returns one row per
    input document (INCLUDING zero-line documents, which surface with
    zeroed counters — the doc spine is ``df``, not the exploded lines):

    * ``n_lines``       — total lines in the document;
    * ``kept_lines``    — lines this document is the corpus keeper of
      (one per distinct line it owns);
    * ``dup_lines``     — ``n_lines - kept_lines`` (later occurrences of
      a line kept elsewhere, and repeat occurrences within this doc);
    * ``doc_dropped``   — true when duplicates exceed
      ``drop_threshold_pct`` percent of the document's lines (compared
      by integer cross-multiplication, no division anywhere).

    ``boilerplate_max_df``: the 100 TB skew valve. A boilerplate line
    (a footer in a billion documents) is a HOT key in the keeper join —
    and because the join inputs are aggregate-derived, AQE's skew split
    never fires on it (the r6 AQE study). CCNet's own policy is the fix:
    a line whose document frequency exceeds the cap is boilerplate and
    is dropped from EVERY document (no keeper kept at all — charged to
    ``dup_lines``), so hot keys are filtered BEFORE the join by the
    per-key aggregate that already exists. Default ``None`` keeps the
    keep-one semantics for every key (the oracle-checked tier).
    """
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode_outer(F.col(lines_col)).alias("idx", "line"),
        )
        .where(F.col("line").isNotNull())
        .select("id", F.md5(normalize_line(F.col("line"))).alias("k"))
    )
    from pyspark.sql import Window

    per_key_doc = lines.groupBy("k", "id").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    # keeper via a window over k, NOT a groupBy(k)+self-join: Spark does
    # not reuse common subplans, so the join form derives the whole
    # explode+agg TWICE (seen in the PLANS.md dump) — the window keeps
    # one derivation and the same single shuffle by k.
    wk = Window.partitionBy("k")
    keeper_id = F.min("id").over(wk)
    if boilerplate_max_df is not None:
        # hot keys keep NO occurrence anywhere: boilerplate rows
        # contribute n_lines but zero kept_lines (nulled keeper).
        keeper_id = F.when(
            F.count(F.lit(1)).over(wk) <= F.lit(int(boilerplate_max_df)),
            keeper_id,
        )
    per_doc = (
        per_key_doc.select(
            "id", "occ", keeper_id.alias("keeper_id")
        )
        .groupBy("id")
        .agg(
            F.sum("occ").cast("long").alias("n_lines"),
            F.sum(
                # eqNullSafe: a boilerplate-nulled keeper matches no id
                # (plain == would propagate NULL into the sum)
                F.col("id").eqNullSafe(F.col("keeper_id")).cast("long")
            ).alias("kept_lines"),
        )
    )
    zero = F.lit(0).cast("long")
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_lines", zero).alias("n_lines"),
            F.coalesce("kept_lines", zero).alias("kept_lines"),
            (
                F.coalesce("n_lines", zero) - F.coalesce("kept_lines", zero)
            ).alias("dup_lines"),
        )
    )
    return out.select(
        "*",
        (
            F.col("dup_lines") * 100
            > F.col("n_lines") * F.lit(int(drop_threshold_pct))
        ).alias("doc_dropped"),
    )


def line_dedup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    lines_col: str = "lines",
) -> DataFrame | None:
    """Incremental tier: admit this batch's NOVEL line keys into a
    persistent manifest-table store and return the batch's per-document
    report (same columns as ``line_corpus_dedup`` minus the threshold).

    A line is kept iff its key is (a) absent from the store AND (b) this
    occurrence's document is the batch's min-id holder of the key; every
    other occurrence is a dup. Novel keys commit exactly-once through
    the manifest table (``meta.batch_id``); a replayed ``batch_id``
    returns None — the store already reflects it, the caller must not
    re-emit (the `incremental_dedup.dedup_batch` discipline, reused
    verbatim so the two incremental stores share crash semantics)."""
    from ..sources import manifest_table as mt
    from ..streaming.manifest_sink import is_replay

    spark = batch.sparkSession
    if is_replay(spark, store_path, batch_id):
        return None

    keyed = (
        batch.select(
            F.col(id_col).alias("id"),
            F.posexplode_outer(F.col(lines_col)).alias("idx", "line"),
        )
        .where(F.col("line").isNotNull())
        .select("id", F.md5(normalize_line(F.col("line"))).alias("k"))
        .groupBy("k", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    keeper = keyed.groupBy("k").agg(F.min("id").alias("keeper_id"))
    if mt.current_version(spark, store_path) is not None:
        store = mt.read_table(spark, store_path).select("k")
        novel = keeper.join(store, "k", "left_anti")
    else:
        novel = keeper
    novel = novel.persist()
    mt.write_table(
        novel.select("k"),
        store_path,
        ["k"],
        mode="append",
        meta={"batch_id": int(batch_id)},
    )
    zero = F.lit(0).cast("long")
    # per-doc counters in one pass: total occurrences, novel-keeper owns
    per_doc = (
        keyed.join(
            novel.select("k", F.col("keeper_id").alias("nov_keeper")),
            "k",
            "left",
        )
        .groupBy("id")
        .agg(
            F.sum("occ").cast("long").alias("n_lines"),
            F.sum(
                F.col("id").eqNullSafe(F.col("nov_keeper")).cast("long")
            ).alias("kept_lines"),
        )
    )
    out = (
        batch.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_lines", zero).alias("n_lines"),
            F.coalesce("kept_lines", zero).alias("kept_lines"),
            (
                F.coalesce("n_lines", zero) - F.coalesce("kept_lines", zero)
            ).alias("dup_lines"),
        )
    )
    out = out.persist()
    out.count()
    novel.unpersist()
    return out
