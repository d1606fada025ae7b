"""Incremental corpus deduplication: continuous ingestion with persistent
dedup state — the CDC x training-data crossover.

A pretraining corpus is not built once; it accretes. Re-running global
dedup per batch is O(corpus) every time, so the shape that survives is a
persistent FINGERPRINT STORE (a manifest table keyed by the document
fingerprint) probed by each incoming batch:

* batch -> fingerprint (normalized-text hash, `functions/text.py`) ->
  LEFT ANTI join against the store = novel documents only;
* in-batch duplicates collapse first (min-id survivor) so a batch that
  repeats itself admits one copy;
* the store append rides the exactly-once manifest commit keyed by the
  streaming batch id (`streaming/manifest_sink` semantics) — a replayed
  batch neither re-admits documents nor bloats the store.

Probe cost is one equi-join keyed on the fingerprint against a
range-clustered store, so file stats prune the probe to the overlapping
key ranges; the corpus itself is never rescanned. The same pattern
extends to MinHash bands (store (band, bucket) keys instead) for
incremental NEAR-dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import fingerprint
from ..sources import manifest_table as mt
from ..streaming.manifest_sink import is_replay


def _fingerprinted(
    batch: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    return batch.withColumn("__fp", fingerprint(F.col(text_col)))


def dedup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame | None:
    """Admit the novel documents of one batch; persist their fingerprints.

    Returns the admitted rows (original columns), or None when
    ``batch_id`` was already committed to the store (crash replay — the
    admitted set of that batch is already reflected, so the caller must
    not re-emit it)."""
    spark = batch.sparkSession
    if is_replay(spark, store_path, batch_id):
        return None

    fp = _fingerprinted(batch, id_col, text_col)
    w = Window.partitionBy("__fp").orderBy(id_col)
    in_batch = (
        fp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if mt.current_version(spark, store_path) is not None:
        store = mt.read_table(spark, store_path).select(
            F.col("fp").alias("__fp")
        )
        novel = in_batch.join(store, "__fp", "left_anti")
    else:
        novel = in_batch
    novel = novel.persist()
    mt.write_table(
        novel.select(F.col("__fp").alias("fp")),
        store_path,
        ["fp"],
        mode="append",
        meta={"batch_id": int(batch_id)},
    )
    return novel.drop("__fp")


def store_stats(spark: SparkSession, store_path: str) -> dict:
    """Fingerprint-store health: distinct fingerprints admitted and commit
    count — one manifest read plus one count over the (tiny) store."""
    v = mt.current_version(spark, store_path)
    if v is None:
        return {"versions": 0, "fingerprints": 0}
    return {
        "versions": v + 1,
        "fingerprints": mt.read_table(spark, store_path).count(),
    }


def _sig_store_path(store_path: str) -> str:
    return store_path.rstrip("/") + "__sigs"


def _store_lsh_params(spark: SparkSession, store_path: str) -> dict | None:
    """The banding parameters recorded by the band store's most recent
    commit (None for stores that predate parameter recording)."""
    v = mt.current_version(spark, store_path)
    if v is None:
        return None
    for version in range(v, -1, -1):
        meta = mt.read_commit_meta(spark, store_path, version)
        if "lsh_params" in meta:
            return meta["lsh_params"]
    return None


def _check_lsh_params(
    spark: SparkSession,
    store_path: str,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    portable: bool = False,
) -> None:
    """Fail loudly when probe banding parameters don't match the store's.

    A band bucket is a hash of one ``rows_per_band``-wide signature slice;
    probing with different (num_hashes, bands, rows_per_band) hashes
    different slices, so store collisions silently become zero and every
    historical near-duplicate is re-admitted (ADVICE r2). Stores written
    before parameters were recorded always banded 2-row slices (the old
    ``band_table`` default), so they remain probe-able iff
    ``rows_per_band == 2``."""
    probe = {
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": rows_per_band,
        "portable": bool(portable),
    }
    if mt.current_version(spark, store_path) is None:
        # Brand-new store: nothing recorded, nothing to mismatch — the
        # first commit will record these params (ADVICE r3: without this
        # a new store with any non-default banding raised spuriously).
        return
    recorded = _store_lsh_params(spark, store_path)
    if recorded is not None:
        rec = {
            "num_hashes": int(recorded["num_hashes"]),
            "bands": int(recorded["bands"]),
            "rows_per_band": int(recorded["rows_per_band"]),
            # stores written before the portable tier are xxhash64
            "portable": bool(recorded.get("portable", False)),
        }
        if rec != probe:
            raise ValueError(
                f"band store {store_path} was written with lsh_params="
                f"{recorded} but is being probed with {probe}; bucket "
                "hashes would not collide and historical near-duplicates "
                "would be silently re-admitted — probe with the recorded "
                "parameters or build a new store"
            )
    elif rows_per_band != 2:
        raise ValueError(
            f"band store {store_path} predates lsh-parameter recording and "
            "was banded with rows_per_band=2; probing with "
            f"rows_per_band={rows_per_band} (num_hashes={num_hashes} // "
            f"bands={bands}) would miss every stored bucket — probe with "
            "num_hashes == 2*bands or rebuild the store"
        )


def near_dedup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    confirm_threshold: float | None = None,
    portable: bool = False,
) -> DataFrame | None:
    """Incremental NEAR-dedup: the MinHash band store (closing the gap the
    exact-fingerprint store left).

    ``portable=True`` swaps the xxhash64 minhash/bucket family for the
    md5-32 portable tier (`dedup.minhash_signatures(portable=True)`),
    making the ENTIRE lifecycle — signatures, banding, in-batch collapse,
    store probes, the signature-estimated confirm tier — bit-replayable
    as a SQL oracle. Recorded in the store's lsh_params so a portable
    store is never probed with the xxhash64 family (or vice versa).

    Each admitted document's banded LSH keys (id, band, bucket) persist in
    a manifest table; an incoming document sharing ANY band bucket with the
    store is a near-duplicate candidate — the same OR-amplified candidate
    rule as the batch LSH join (`dedup.band_table` is shared, so batch and
    incremental semantics cannot drift). In-batch near-dups collapse first
    through candidate pairs -> connected components keep-one. Store probes
    are an equi-join on the bucket long against a bucket-clustered store
    (file-stat pruned); replay of a committed batch id is dropped whole,
    exactly like ``dedup_batch``.

    Two rejection tiers:

    * ``confirm_threshold=None`` (default): candidate = rejected.
      Verification-free, recall over precision — the usual corpus-hygiene
      choice.
    * ``confirm_threshold=t``: a candidate is rejected only when its
      signature-estimated Jaccard (`dedup.sig_pair_similarity`) against a
      colliding store member is >= t. Exact shingle Jaccard is impossible
      here — the store keeps 256-byte signatures, not historical text —
      so the signature estimate (stderr ~1/sqrt(num_hashes)) is the
      confirm metric; the same tier verifies in-batch candidate pairs so
      both paths apply one rule.

    A companion signature store (``<store_path>__sigs``) is always
    written, so any store can be probed in confirm mode later. Sigs
    commit BEFORE the band store: the band store's batch_id meta is the
    admission marker, so a crash between the two writes leaves only
    harmless duplicate sig rows on replay (collapsed by
    ``sig_pair_similarity``'s max-aggregate), never a phantom admission."""
    from .dedup import (
        band_table,
        dedup_clusters,
        minhash_signatures,
        sig_pair_similarity,
    )

    spark = batch.sparkSession
    if is_replay(spark, store_path, batch_id):
        return None

    rows_per_band = num_hashes // bands
    _check_lsh_params(
        spark, store_path, num_hashes, bands, rows_per_band, portable
    )
    sigs = minhash_signatures(
        batch,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        portable=portable,
    ).persist()
    bt = band_table(
        sigs, bands=bands, rows_per_band=rows_per_band, portable=portable
    ).persist()

    # candidate pairs from the SAME band table the store probe uses (one
    # minhash pass; `lsh_candidates` would rebuild it hash-family-blind)
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )
    if confirm_threshold is not None:
        cand = sig_pair_similarity(cand, sigs, sigs, num_hashes).where(
            F.col("est_jaccard") >= confirm_threshold
        ).select("a", "b")
    in_batch_losers = (
        dedup_clusters(cand)
        .where(~F.col("keep"))
        .select(F.col("doc_id").alias("id"))
    )
    survivors = bt.join(in_batch_losers, "id", "left_anti")
    if mt.current_version(spark, store_path) is not None:
        store = mt.read_table(spark, store_path)
        has_sigs = (
            mt.current_version(spark, _sig_store_path(store_path)) is not None
        )
        if confirm_threshold is not None and not has_sigs:
            # store predates the sig companion: nothing to confirm
            # against — fall back to verification-free rejection (recall
            # over precision; never admits a candidate the legacy
            # semantics would have rejected)
            confirm_threshold = None
        if confirm_threshold is not None:
            if "id" not in store.columns:
                store = store.withColumn("id", F.lit(None).cast("long"))
            # legacy rows (pre-sig-store appends) read back with id NULL
            # under the widened log schema: their signatures don't exist,
            # so collisions with them reject verification-free — again
            # the recall-preserving direction
            legacy_hits = (
                survivors.join(
                    store.where(F.col("id").isNull()).select("band", "bucket"),
                    ["band", "bucket"],
                    "left_semi",
                )
                .select("id")
                .distinct()
            )
            pairs = (
                survivors.alias("n")
                .join(
                    store.where(F.col("id").isNotNull()).alias("s"),
                    (F.col("n.band") == F.col("s.band"))
                    & (F.col("n.bucket") == F.col("s.bucket")),
                )
                .select(F.col("n.id").alias("a"), F.col("s.id").alias("b"))
                .distinct()
            )
            store_sigs = mt.read_table(spark, _sig_store_path(store_path))
            hit_ids = (
                sig_pair_similarity(pairs, sigs, store_sigs, num_hashes)
                .where(F.col("est_jaccard") >= confirm_threshold)
                .select(F.col("a").alias("id"))
                .unionByName(legacy_hits)
                .distinct()
            )
        else:
            hit_ids = (
                survivors.join(
                    store.select("band", "bucket"), ["band", "bucket"], "left_semi"
                )
                .select("id")
                .distinct()
            )
    else:
        hit_ids = survivors.limit(0).select("id")
    novel_ids = (
        survivors.select("id").distinct()
        .join(hit_ids, "id", "left_anti")
        .persist()
    )
    mt.write_table(
        sigs.join(novel_ids, "id", "left_semi").select("id", "sig"),
        _sig_store_path(store_path),
        ["id"],
        mode="append",
        meta={"batch_id": int(batch_id)},
    )
    mt.write_table(
        bt.join(novel_ids, "id", "left_semi").select("id", "band", "bucket"),
        store_path,
        ["bucket"],
        mode="append",
        meta={
            "batch_id": int(batch_id),
            "lsh_params": {
                "num_hashes": int(num_hashes),
                "bands": int(bands),
                "rows_per_band": int(rows_per_band),
                "portable": bool(portable),
            },
        },
    )
    return batch.join(
        novel_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )


# ---------------------------------------------------------------------------
# Incremental SEMANTIC dedup — the SemDeDup tier of the same pattern
# ---------------------------------------------------------------------------
def _store_centroids(spark: SparkSession, store_path: str):
    """Newest commit meta carrying 'centroids', scanning versions
    newest-first (the frozen-centroid policy `operators/vector_index.py`
    uses for IVF appends); None when the store has no commits."""
    import numpy as np

    v = mt.current_version(spark, store_path)
    while v is not None and v >= 0:
        meta = mt.read_commit_meta(spark, store_path, v)
        if "centroids" in meta:
            return np.asarray(meta["centroids"], dtype="float64")
        v -= 1
    return None


def semantic_dedup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    iters: int = 8,
    seed: int = 42,
    max_train: int = 4096,
) -> DataFrame | None:
    """Admit the semantically novel vectors of one batch; persist the
    survivors — incremental SemDeDup (`operators/dedup.py:semantic_dedup`
    is the one-shot form, arXiv:2303.09540).

    Store layout: (cluster, id, vec) of every ADMITTED representative,
    range-clustered by cluster; centroids train ONCE on the first batch
    (deterministic id-ordered sample) and ride in the commit meta frozen
    thereafter — later batches assign against them, so cluster ids are
    stable across the store's life and the probe for each batch cluster
    reads only that cluster's file range.

    Per batch, inside one cogrouped-applyInPandas task per cluster:
    in-batch duplicate groups collapse first (union-find at >=threshold,
    keep the lowest-centroid-cosine member — the paper's rule), then a
    keeper is dropped when ANY stored survivor of the same cluster sits
    at >=threshold cosine (that survivor already represents the group).
    The admitted invariant: no two stored vectors of a cluster are ever
    within threshold of each other.

    ``batch_id`` rides the exactly-once manifest commit: a replayed batch
    returns None and leaves the store untouched. Returns the admitted
    rows as (id_col, cluster)."""
    import numpy as np
    import pandas as pd

    from .similarity import _assign_cluster_udf, _kmeans_sample

    spark = batch.sparkSession
    if is_replay(spark, store_path, batch_id):
        return None

    centers = _store_centroids(spark, store_path)
    first_batch = centers is None
    if first_batch:
        sample_rows = (
            batch.select(
                F.col(id_col).alias("i"), F.col(vec_col).alias("v")
            )
            .orderBy("i")
            .limit(max_train)
            .collect()
        )
        centers = np.asarray(
            _kmeans_sample(
                [r["v"] for r in sample_rows], n_clusters, iters, seed
            ),
            dtype="float64",
        )
    assign = _assign_cluster_udf(centers)
    assigned = batch.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        assign(F.col(vec_col)).alias("cluster"),
    )
    if mt.current_version(spark, store_path) is not None:
        store = mt.read_table(spark, store_path).select(
            "cluster", "id", "vec"
        )
    else:
        store = spark.createDataFrame(
            [], "cluster int, id long, vec array<float>"
        )

    def admit(key, bpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        if bpdf.empty:
            return pd.DataFrame(
                {"id": pd.Series([], dtype="int64"),
                 "cluster": pd.Series([], dtype="int32"),
                 "vec": pd.Series([], dtype="object")}
            )
        c = int(key[0])
        order = np.argsort(bpdf["id"].to_numpy())
        ids = bpdf["id"].to_numpy()[order]
        M = np.vstack(bpdf["vec"].to_numpy()[order]).astype("float64")
        nn = np.linalg.norm(M, axis=1, keepdims=True)
        nn[nn == 0] = 1.0
        Mn = M / nn
        cos_c = Mn @ centers[c]
        n = len(ids)
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        chunk = 2048
        for s in range(0, n, chunk):
            sims = Mn[s : s + chunk] @ Mn.T
            ii, jj = np.nonzero(
                (sims >= threshold)
                & (
                    np.arange(s, min(s + chunk, n))[:, None]
                    < np.arange(n)[None, :]
                )
            )
            for i, j in zip((ii + s).tolist(), jj.tolist()):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
        root = np.array([find(i) for i in range(n)])
        keep = np.zeros(n, dtype=bool)
        for r in np.unique(root):
            members = np.nonzero(root == r)[0]
            keep[members[np.argmin(cos_c[members])]] = True
        if not spdf.empty:
            S = np.vstack(spdf["vec"].to_numpy()).astype("float64")
            sn = np.linalg.norm(S, axis=1, keepdims=True)
            sn[sn == 0] = 1.0
            Sn = S / sn
            kidx = np.nonzero(keep)[0]
            for s in range(0, len(kidx), chunk):
                ks = kidx[s : s + chunk]
                near = (Mn[ks] @ Sn.T >= threshold).any(axis=1)
                keep[ks[near]] = False
        kidx = np.nonzero(keep)[0]
        # vec must be an OBJECT series even when empty: a bare [] column
        # defaults to float64, which Arrow cannot convert to list<float>
        return pd.DataFrame(
            {
                "id": pd.Series(ids[kidx], dtype="int64"),
                "cluster": pd.Series(
                    np.full(len(kidx), c, dtype="int32")
                ),
                "vec": pd.Series(
                    [M[i].astype("float32").tolist() for i in kidx],
                    dtype="object",
                ),
            }
        )

    admitted = (
        assigned.groupBy("cluster")
        .cogroup(store.groupBy("cluster"))
        .applyInPandas(admit, "id long, cluster int, vec array<float>")
        .persist()
    )
    meta: dict = {"batch_id": int(batch_id)}
    if first_batch:
        meta["n_clusters"] = int(n_clusters)
        meta["centroids"] = [[float(x) for x in row] for row in centers]
    mt.write_table(
        admitted.select("cluster", "id", "vec"),
        store_path,
        ["cluster"],
        mode="append",
        meta=meta,
    )
    # the store append above materialized `admitted`; checkpoint the small
    # (id, cluster) projection and release the cached vectors rather than
    # leaking the block for the process lifetime.
    out = admitted.select(F.col("id").alias(id_col), "cluster").localCheckpoint(
        eager=True
    )
    admitted.unpersist()
    return out


def srp_semantic_dedup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    threshold: float = 0.45,
) -> DataFrame | None:
    """Incremental SEMANTIC dedup on PORTABLE SRP cells — the
    oracle-replayable member of the incremental-semdedup family
    (`semantic_dedup_batch` keeps the k-means/frozen-centroid tier,
    pinned by tests/test_incremental_semdedup.py; this variant trades
    the trained centroids for `similarity.portable_srp_buckets`'s
    integer-arithmetic hyperplanes so every bucket id is
    bit-reproducible in any engine).

    Same store discipline as the other incremental tiers: the store
    keeps (bucket, id, vec) of every admitted survivor, range-clustered
    by bucket; a batch collapses its in-bucket duplicate groups first
    (cosine >= threshold pairs -> connected components, min-id keeper —
    the `dedup.srp_semantic_dedup` rule), then a keeper is rejected when
    ANY stored survivor of the same bucket sits at >= threshold cosine.
    Replay of a committed batch_id returns None and leaves the store
    untouched (exactly-once manifest commit). Returns admitted
    (id_col, bucket) rows.

    100 TB posture: bucket assignment is pure expressions, candidate
    generation and the store probe are bucket equi-joins verified by the
    vectorized cosine — no all-pairs path; `planes` bounds expected
    bucket size the way n_clusters does for the k-means tier."""
    from ..functions.vectors import cosine_pairs
    from .dedup import dedup_clusters
    from .similarity import portable_srp_bucket_col

    spark = batch.sparkSession
    if is_replay(spark, store_path, batch_id):
        return None

    # r10: bucket attached as a per-row column (see dedup.srp_semantic_dedup)
    withb = (
        batch.where(F.size(F.col(vec_col)) > 0)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            portable_srp_bucket_col(F.col(vec_col), planes).alias("bucket"),
        )
        .persist()
    )
    a = withb.select(
        F.col("_id").alias("a"), F.col("_vec").alias("va"), "bucket"
    )
    b = withb.select(
        F.col("_id").alias("b"), F.col("_vec").alias("vb"), "bucket"
    )
    pairs = (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .where(cosine_pairs(F.col("va"), F.col("vb")) >= threshold)
        .select("a", "b")
    )
    losers = (
        dedup_clusters(pairs)
        .where(~F.col("keep"))
        .select(F.col("doc_id").alias("_id"))
    )
    keepers = withb.join(losers, "_id", "left_anti")
    if mt.current_version(spark, store_path) is not None:
        store = mt.read_table(spark, store_path).select(
            "bucket", F.col("id").alias("_sid"), F.col("vec").alias("_svec")
        )
        hits = (
            keepers.join(store, "bucket")
            .where(
                cosine_pairs(F.col("_vec"), F.col("_svec")) >= threshold
            )
            .select("_id")
            .distinct()
        )
        admitted = keepers.join(hits, "_id", "left_anti")
    else:
        admitted = keepers
    # persist: the store append below is the first execution and the
    # checkpointed return projection the second — without the cache the
    # whole admit pipeline (bucket join, in-batch cosine collapse, store
    # probe) re-ran per batch (r10; semantic_dedup_batch already did this)
    admitted = admitted.persist()
    mt.write_table(
        admitted.select(
            "bucket", F.col("_id").alias("id"), F.col("_vec").alias("vec")
        ),
        store_path,
        ["bucket"],
        mode="append",
        meta={"batch_id": int(batch_id), "srp_planes": int(planes)},
    )
    out = admitted.select(
        F.col("_id").alias(id_col), "bucket"
    ).localCheckpoint(eager=True)
    admitted.unpersist()
    withb.unpersist()
    return out
