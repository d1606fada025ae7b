"""Web-corpus extension queries: URL canonicalization + registrable-domain
rollup (``functions/url.py``).

Same contract as ``pipeline_ops``: each query is a thin adapter over a
library operator, paired with a DuckDB oracle whenever the semantics are
SQL-expressible. Hash-compared float columns follow CLAUDE.md's rules —
integer/decimal arithmetic, or bit-identical IEEE chains (div/mul/sqrt/
floor/max are correctly rounded and identical across engines; libm logs go
through the DECIMAL(18,6)-rounded-contribution pattern like BM25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..tempdirs import scratch_dir

QUERIES: dict = {}
ORACLES: dict = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


# ---------------------------------------------------------------------------
# URL canonicalization + registrable-domain rollup
# ---------------------------------------------------------------------------
# Deterministic synthetic URLs: docs k and k+250 render the SAME page with
# different spellings (case, www, explicit default port, tracking params,
# param order, fragment), so normalize_url must collapse 500 raw URLs to
# exactly 250 canonical ones. The construction is plain integer CASE logic,
# identical in both engines; the NORMALIZATION is what's under test.
_URL_BUILD_SQL = """
  SELECT doc_id,
         doc_id % 250 AS k,
         CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END AS alt,
         (CASE WHEN doc_id % 250 % 2 = 0
               THEN CASE WHEN doc_id >= 250 THEN 'HTTPS' ELSE 'https' END
               ELSE CASE WHEN doc_id >= 250 THEN 'Http' ELSE 'http' END END)
         || '://'
         || (CASE WHEN doc_id >= 250 THEN 'WWW.Site' ELSE 'site' END)
         || CAST(doc_id % 250 % 20 AS VARCHAR)
         || (CASE WHEN doc_id % 250 % 4 = 0
                  THEN CASE WHEN doc_id >= 250 THEN '.Co.UK' ELSE '.co.uk' END
                  ELSE CASE WHEN doc_id >= 250 THEN '.CoM' ELSE '.com' END END)
         || (CASE WHEN doc_id >= 250
                  THEN CASE WHEN doc_id % 250 % 2 = 0 THEN ':443' ELSE ':80' END
                  ELSE '' END)
         || '/doc/' || CAST(doc_id % 250 AS VARCHAR)
         || (CASE WHEN doc_id % 250 % 5 = 0 THEN ''
                  WHEN doc_id >= 250 THEN '?b=2&UTM_Source=x&a=1&FBclid=z'
                  ELSE '?a=1&b=2' END)
         || (CASE WHEN doc_id >= 250 THEN '#frag' ELSE '' END) AS url
  FROM documents
"""

_URL_ORACLE = f"""
WITH raw AS MATERIALIZED ({_URL_BUILD_SQL}),
parsed AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1)) AS rawhost,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*?:([0-9]+)', 1) AS port,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM raw
),
kept AS (
  -- array_to_string over an empty DuckDB list is NULL, not '' — coalesce,
  -- or every no-surviving-params URL turns into a NULL canonical.
  SELECT *,
         COALESCE(array_to_string(list_sort(list_filter(
             string_split(q, '&'),
             p -> p <> '' AND NOT regexp_matches(p,
               '(?i)^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)='))), '&'),
           '') AS keptq
  FROM parsed
),
norm AS (
  SELECT doc_id,
         regexp_replace(rawhost, '^www\\.', '') AS host,
         scheme || '://' || regexp_replace(rawhost, '^www\\.', '')
         || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN '' ELSE ':' || port END)
         || (CASE WHEN path = '' THEN '/' ELSE path END)
         || (CASE WHEN keptq = '' THEN '' ELSE '?' || keptq END) AS canonical
  FROM kept
),
dom AS (
  SELECT doc_id, canonical,
         CASE WHEN len(string_split(host, '.')) <= 2 THEN host
              WHEN list_contains(['co','com','net','org','ac','gov','edu'],
                                 string_split(host, '.')[-2])
                   AND len(string_split(host, '.')[-1]) = 2
              THEN array_to_string(string_split(host, '.')[-3:], '.')
              ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain
  FROM norm
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS raw_urls,
       CAST(COUNT(DISTINCT canonical) AS BIGINT) AS canonical_urls,
       MIN(canonical) AS sample_url
FROM dom GROUP BY 1 ORDER BY domain
"""


@_q("url_domain_dedup", _URL_ORACLE)
def url_domain_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable-domain rollup
    (`functions/url.py`): 500 raw spellings must collapse to 250 canonical
    URLs, rolled up per eTLD+1 domain. Exercises case folding, www/default-
    port/fragment stripping, tracking-param removal, and param sorting —
    all pure column expressions (no UDFs). The oracle re-implements the
    same grammar in DuckDB list/regexp functions."""
    from ..functions import url as U

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 250
    alt = F.col("doc_id") >= 250
    scheme = F.when(
        k % 2 == 0, F.when(alt, "HTTPS").otherwise("https")
    ).otherwise(F.when(alt, "Http").otherwise("http"))
    host = F.concat(
        F.when(alt, "WWW.Site").otherwise("site"),
        (k % 20).cast("string"),
        F.when(
            k % 4 == 0, F.when(alt, ".Co.UK").otherwise(".co.uk")
        ).otherwise(F.when(alt, ".CoM").otherwise(".com")),
    )
    port = F.when(
        alt, F.when(k % 2 == 0, ":443").otherwise(":80")
    ).otherwise("")
    query = F.when(k % 5 == 0, "").otherwise(
        F.when(alt, "?b=2&UTM_Source=x&a=1&FBclid=z").otherwise("?a=1&b=2")
    )
    frag = F.when(alt, "#frag").otherwise("")
    raw = docs.select(
        "doc_id",
        F.concat(
            scheme, F.lit("://"), host, port,
            F.lit("/doc/"), k.cast("string"), query, frag,
        ).alias("url"),
    )
    canon = raw.select(
        "doc_id",
        U.normalize_url("url").alias("canonical"),
        U.registrable_domain(
            F.regexp_replace(U.url_host("url"), r"^www\.", "")
        ).alias("domain"),
    )
    return (
        canon.groupBy("domain")
        .agg(
            F.count("*").alias("raw_urls"),
            F.countDistinct("canonical").alias("canonical_urls"),
            F.min("canonical").alias("sample_url"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# Character-entropy quality filter
# ---------------------------------------------------------------------------
# Low character entropy = repetitive/degenerate text (keyboard mashing,
# template spam, single-token repetition) — a standard corpus-quality
# screen next to the length/stopword filters in functions/text.py. The
# per-(doc, letter) contribution -p*ln(p) rounds to DECIMAL(18,6) before
# the per-doc sum (the BM25/LM pattern), so both engines add exactly.
_ENTROPY_ORACLE = """
WITH letters AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
  FROM documents
),
cnts AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM letters GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY 1
),
contrib AS (
  SELECT cnts.doc_id,
         CAST(ROUND(
           -(CAST(cnts.c AS DOUBLE) / tot.n)
             * LN(CAST(cnts.c AS DOUBLE) / tot.n), 6) AS DECIMAL(18,6)) AS h
  FROM cnts JOIN tot USING (doc_id)
),
ent AS (
  SELECT contrib.doc_id, tot.n AS n_letters,
         CAST(SUM(h) AS DOUBLE) AS entropy
  FROM contrib JOIN tot USING (doc_id)
  GROUP BY 1, 2
)
SELECT doc_id, n_letters, entropy
FROM ent WHERE n_letters >= 50
ORDER BY entropy ASC, doc_id LIMIT 20
"""


@_q("doc_entropy_filter", _ENTROPY_ORACLE)
def doc_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality screen: the 20 lowest-entropy documents
    (the repetitive/degenerate tail a corpus filter drops first) with at
    least 50 letters. Letter histogram per doc -> Shannon entropy in nats
    with DECIMAL(18,6)-rounded per-term contributions (order-independent
    sums on both engines). Pure expressions — one explode + two grouped
    aggregations, no UDFs."""
    # Map-only plan: the alphabet is fixed, so the letter histogram is 26
    # `translate` length-differences per row — no explode (which would be
    # one row PER CHARACTER: the corpus's total character count), no
    # shuffle at all until the final top-k (TakeOrderedAndProject). The
    # 26-term per-row sum stays in DECIMAL(18,6), so it equals the
    # oracle's unordered per-(doc,letter) decimal aggregation exactly.
    import string

    docs = load_table(spark, sf_dir, "documents")
    lt = F.regexp_replace(F.lower("text"), "[^a-z]", "")
    base = docs.select("doc_id", lt.alias("lt")).select(
        "doc_id", "lt", F.length("lt").alias("n")
    )
    n = F.col("n")
    # letter counts in their OWN projection: the entropy term below
    # references each count four times (guard, p twice via -p*log(p),
    # implicit in the round), and expression trees are not CSE'd across
    # those references — inlined, every reference re-ran its translate,
    # ~4x the string work (r10: measured 4.5 s -> 1.5 s at sf0.1, values
    # bit-identical at both SFs). CollapseProject keeps the split because
    # the count expressions are non-cheap and multiply-referenced.
    cnts = base.where(n >= 50).select(
        "doc_id",
        "n",
        *[
            (n - F.length(F.translate(F.col("lt"), l, ""))).alias(f"c_{l}")
            for l in string.ascii_lowercase
        ],
    )

    def term(letter: str):
        c = F.col(f"c_{letter}")
        p = c.cast("double") / n
        return F.when(
            c > 0, F.round(-p * F.log(p), 6).cast("decimal(18,6)")
        ).otherwise(F.lit(0).cast("decimal(18,6)"))

    entropy = sum(
        (term(l) for l in string.ascii_lowercase),
        F.lit(0).cast("decimal(18,6)"),
    )
    return (
        cnts.select(
            "doc_id",
            n.alias("n_letters"),
            entropy.cast("double").alias("entropy"),
        )
        .orderBy(F.col("entropy").asc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (BM25 ⊕ embedding cosine, reciprocal-rank fusion)
# ---------------------------------------------------------------------------
# The standard two-tower retrieval merge: lexical BM25 ranks and dense
# cosine ranks fused with RRF (k=60). Ranks are integers, so the fused
# score is a fixed two-term sum of identical IEEE divisions — hash-safe.
_RRF_ORACLE = """
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE token <> ''),
dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dl),
tf AS MATERIALIZED (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok2
  WHERE token IN ('spark', 'merge', 'vector')
  GROUP BY 1, 2
),
dfq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN((CAST(stats.n AS DOUBLE) - dfq.dfreq + 0.5)
              / (dfq.dfreq + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl
                / (CAST(stats.tot AS DOUBLE) / CAST(stats.n AS DOUBLE))))),
           6) AS DECIMAL(18,6)) AS c
  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
),
bm AS (
  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
  FROM contrib GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 30
),
bmrank AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r1
  FROM bm
),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
cos AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
),
cosrank AS (
  SELECT doc_id, r2 FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r2
    FROM cos) t
  WHERE r2 <= 30
),
fused AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.r1, c.r2,
         COALESCE(CAST(1 AS DOUBLE) / (60 + b.r1), 0)
           + COALESCE(CAST(1 AS DOUBLE) / (60 + c.r2), 0) AS rrf
  FROM bmrank b FULL OUTER JOIN cosrank c ON b.doc_id = c.doc_id
)
SELECT doc_id, CAST(COALESCE(r1, -1) AS BIGINT) AS bm25_rank,
       CAST(COALESCE(r2, -1) AS BIGINT) AS cosine_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 15
"""


@_q("hybrid_retrieval_fusion", _RRF_ORACLE)
def hybrid_retrieval_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-30 for {spark, merge, vector}
    (`operators/vectorize.bm25_scores`) fused with dense cosine top-30
    around the vec_id=0 embedding (`similarity.cosine_topk_blocked`) via
    reciprocal-rank fusion, k=60. Both legs reduce to integer ranks
    before fusion, so the fused score is a fixed two-term sum of
    identical IEEE divisions — no decimal scaffolding needed. -1 marks a
    doc absent from a leg."""
    from ..operators.similarity import cosine_topk_blocked
    from ..operators.vectorize import bm25_scores
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    bm = (
        bm25_scores(docs, ["spark", "merge", "vector"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(30)
    )
    # rank window runs over the 30 surviving rows only (bounded)
    bmrank = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r1"),
    )
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cosrank = cosine_topk_blocked(
        emb, queries, k=30, query_id_col="query_id"
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r2"))

    fused = bmrank.join(cosrank, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("r1", F.lit(-1)).cast("long").alias("bm25_rank"),
        F.coalesce("r2", F.lit(-1)).cast("long").alias("cosine_rank"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r1")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r2")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(15)


# ---------------------------------------------------------------------------
# Substring-level dedup (ExactSubstr-style repeated spans)
# ---------------------------------------------------------------------------
# 20% of docs get an identical 13-token boilerplate prefix (planted in
# BOTH engines with the same CASE), so their 8-token windows inside the
# boilerplate are duplicated corpus-wide while the rest of the text stays
# unique — the cross-document repeated-substring shape site templates
# produce. dup_frac is one division of two BIGINTs (IEEE-identical).
_BOILER = (
    "please review the updated terms of service before continuing to use"
    " this site"
)

_SPAN_ORACLE = f"""
WITH raw AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '{_BOILER} ' || text
              ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
  FROM raw
),
tok2 AS (SELECT * FROM tok WHERE len(ts) >= 8),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
  FROM tok2
),
win AS (
  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS w FROM pos
),
dupw AS (
  SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM win GROUP BY 1
),
dup AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows
  FROM win JOIN dupw USING (w) GROUP BY 1
)
SELECT t.doc_id, n_windows,
       COALESCE(dup_windows, 0) AS dup_windows,
       CAST(COALESCE(dup_windows, 0) AS DOUBLE) / n_windows AS dup_frac
FROM tot t LEFT JOIN dup USING (doc_id)
ORDER BY dup_frac DESC, doc_id LIMIT 20
"""


@_q("substring_dup_spans", _SPAN_ORACLE)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (`operators/dedup.duplicated_span_stats`,
    the fixed-width form of ExactSubstr dedup — Lee et al. 2022): per-doc
    count and fraction of 8-token windows that occur verbatim in other
    documents, over a corpus where 20% of docs share a planted 13-token
    boilerplate prefix. String window keys here so the DuckDB oracle can
    reproduce them; production uses the hashed=True 8-byte keys."""
    from ..operators.dedup import duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    stats = duplicated_span_stats(
        docs, "doc_id", "text", width=8, hashed=False
    )
    return (
        stats.select(
            F.col("id").alias("doc_id"),
            "n_windows",
            "dup_windows",
            "dup_frac",
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Embedding scalar quantization (SQ8) fidelity report
# ---------------------------------------------------------------------------
# The storage tier below PQ: int8 codes with one per-vector scale
# (code_i = floor(x_i/maxabs*127 + 0.5), reconstruct code_i*maxabs/127 —
# 64 bytes + 8 per vector instead of 256). Every step is a chain of
# correctly-rounded IEEE ops (div/mul/floor/abs), so reconstruction error
# is bit-identical across engines; the MSE routes each squared error
# through DECIMAL(28,12) so the unordered sums agree exactly.
_SQ8_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
s AS (
  SELECT vec_id, x,
         list_max(list_transform(x, v -> abs(v))) AS maxabs
  FROM e
),
r AS (
  SELECT vec_id % 10 AS bucket, len(x) AS dim,
         list_transform(x,
           v -> abs(v - floor(v / maxabs * 127 + 0.5) * maxabs / 127))
           AS errs
  FROM s WHERE maxabs > 0
),
v AS (
  SELECT bucket, dim,
         list_max(errs) AS vec_max_err,
         list_aggregate(
           list_transform(errs,
             e -> CAST(ROUND(e * e, 12) AS DECIMAL(28,12))), 'sum')
           AS vec_sq_sum
  FROM r
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MAX(vec_max_err) AS max_abs_err,
       CAST(SUM(vec_sq_sum) AS DOUBLE) / CAST(SUM(dim) AS DOUBLE) AS mse
FROM v GROUP BY 1 ORDER BY bucket
"""


@_q("embedding_sq8_report", _SQ8_ORACLE)
def embedding_sq8_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding scalar quantization (SQ8) fidelity: quantize every vector
    to int8 codes with a per-vector scale, reconstruct, and report
    max-absolute reconstruction error + MSE per vec_id bucket — the
    go/no-go report before switching the ANN tier to quantized storage
    (4x smaller than float32, 32x smaller than the double working set).
    Pure higher-order array expressions; the error chain is
    correctly-rounded IEEE ops so both engines agree bitwise."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    base = emb.select("vec_id", x.alias("x")).select(
        "vec_id",
        "x",
        F.array_max(F.transform("x", F.abs)).alias("maxabs"),
    )
    maxabs = F.col("maxabs")
    errs = F.transform(
        "x",
        lambda v: F.abs(
            v - F.floor(v / maxabs * 127 + 0.5) * maxabs / 127
        ),
    )
    r = base.where(maxabs > 0).select(
        (F.col("vec_id") % 10).alias("bucket"),
        F.size("x").alias("dim"),
        errs.alias("errs"),
    )
    v = r.select(
        "bucket",
        "dim",
        F.array_max("errs").alias("vec_max_err"),
        F.aggregate(
            F.transform(
                "errs", lambda e: F.round(e * e, 12).cast("decimal(28,12)")
            ),
            F.lit(0).cast("decimal(28,12)"),
            # decimal + widens to (29,12); fold state must keep its type —
            # the cast is lossless here (64 terms, each < 1e-4)
            lambda acc, t: (acc + t).cast("decimal(28,12)"),
        ).alias("vec_sq_sum"),
    )
    return (
        v.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("vec_max_err").alias("max_abs_err"),
            (
                F.sum("vec_sq_sum").cast("double")
                / F.sum("dim").cast("double")
            ).alias("mse"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Gopher repetition filters (Rae et al. 2021, arXiv:2112.11446 Table A1)
# ---------------------------------------------------------------------------
# operators/gopher.py over the real documents text, with deterministic
# planted repetition so every rule path fires: docs with doc_id % 10 == 0
# get an 8-token sentence appended five times (pure string arithmetic,
# identical in both engines) — that plants duplicate lines (period == line
# width, so alignment doesn't matter), duplicate 5/10-grams, and pushes the
# shorter planted docs over the 30%-duplicate-line threshold while longer
# ones stay under it. All counters are integer character/line counts and
# every threshold is applied by cross-multiplication, so the whole report
# value-hashes across engines.
_GOPHER_SENTENCE = " quick brown fox jumps over the lazy dog"

_GOPHER_ORACLE = f"""
WITH aug AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || repeat('{_GOPHER_SENTENCE}', 5)
              ELSE text END AS text
  FROM documents
),
base AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM aug
),
meta AS MATERIALIZED (
  SELECT doc_id, len(toks) AS ntok,
         length(COALESCE(array_to_string(toks, ' '), '')) AS total_chars,
         toks
  FROM base
),
line_idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(ntok/8.0) AS BIGINT))) AS c
  FROM meta
),
line_vals AS (
  SELECT doc_id, array_to_string(toks[c*8+1 : c*8+8], ' ') AS line
  FROM line_idx
),
gram_idx AS (
  SELECT doc_id, toks, n,
         unnest(range(1, GREATEST(ntok - n + 2, 1))) AS i
  FROM meta, (SELECT unnest([2,3,5,10]) AS n) ns
),
gram_vals AS (
  SELECT doc_id, n, array_to_string(toks[i : i+n-1], ' ') AS g
  FROM gram_idx
),
gcnt AS (SELECT doc_id, n, g, COUNT(*) AS cnt FROM gram_vals GROUP BY 1,2,3),
gagg AS (
  SELECT doc_id,
    COALESCE(MAX(CASE WHEN n=2 THEN cnt*length(g) END), 0) AS top2_cover,
    COALESCE(MAX(CASE WHEN n=3 THEN cnt*length(g) END), 0) AS top3_cover,
    COALESCE(SUM(CASE WHEN n=5 AND cnt>1 THEN cnt*length(g) END), 0) AS dup5_cover,
    COALESCE(SUM(CASE WHEN n=10 AND cnt>1 THEN cnt*length(g) END), 0) AS dup10_cover
  FROM gcnt GROUP BY 1
),
lcnt AS (SELECT doc_id, line, COUNT(*) AS cnt FROM line_vals GROUP BY 1,2),
lagg AS (
  SELECT doc_id, SUM(cnt) AS total_lines,
         COALESCE(SUM(CASE WHEN cnt>1 THEN cnt END),0) AS dup_lines,
         COALESCE(SUM(CASE WHEN cnt>1 THEN cnt*length(line) END),0) AS dup_line_chars
  FROM lcnt GROUP BY 1
),
docstats AS (
  SELECT m.doc_id, m.total_chars,
         COALESCE(l.total_lines,0) AS total_lines,
         COALESCE(l.dup_lines,0) AS dup_lines,
         COALESCE(l.dup_line_chars,0) AS dup_line_chars,
         COALESCE(g.top2_cover,0) AS top2_cover,
         COALESCE(g.top3_cover,0) AS top3_cover,
         COALESCE(g.dup5_cover,0) AS dup5_cover,
         COALESCE(g.dup10_cover,0) AS dup10_cover
  FROM meta m LEFT JOIN lagg l USING(doc_id) LEFT JOIN gagg g USING(doc_id)
),
flags AS (
  SELECT *,
    10*dup_lines > 3*total_lines AS fail_dup_line,
    5*dup_line_chars > total_chars AS fail_dup_line_chars,
    5*top2_cover > total_chars AS fail_top2,
    50*top3_cover > 9*total_chars AS fail_top3,
    20*dup5_cover > 3*total_chars AS fail_dup5,
    10*dup10_cover > total_chars AS fail_dup10
  FROM docstats
)
SELECT fail_dup_line, fail_dup_line_chars, fail_top2, fail_top3,
       fail_dup5, fail_dup10,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(dup_lines) AS BIGINT) AS dup_lines,
  CAST(SUM(dup_line_chars) AS BIGINT) AS dup_line_chars,
  CAST(SUM(top2_cover) AS BIGINT) AS top2_cover,
  CAST(SUM(top3_cover) AS BIGINT) AS top3_cover,
  CAST(SUM(dup5_cover) AS BIGINT) AS dup5_cover,
  CAST(SUM(dup10_cover) AS BIGINT) AS dup10_cover,
  CAST(SUM(total_chars) AS BIGINT) AS total_chars,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
  CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM flags GROUP BY 1,2,3,4,5,6 ORDER BY 1,2,3,4,5,6
"""


@_q("gopher_repetition_report", _GOPHER_ORACLE)
def gopher_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (`operators/gopher.py`): duplicate-line
    fraction, duplicate-line character fraction, top-{2,3}-gram character
    coverage, duplicate-{5,10}-gram coverage — each thresholded per the
    published Table A1 rules via integer cross-multiplication, grouped by
    the six-flag rule signature. Planted repetition (every 10th doc gets a
    5x-repeated sentence) exercises every rule path; the unplanted corpus
    exercises the never-fire paths. Reference: extends the profiling
    surface (reference backend/ingestion has no repetition filter); recipe
    from Rae et al. 2021.
    """
    from ..functions.text import tokens
    from ..operators.gopher import repetition_flags, repetition_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.repeat(F.lit(_GOPHER_SENTENCE), 5)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    flags = repetition_flags(
        repetition_stats(toked, id_col="doc_id", tokens_col="toks")
    )
    flag_cols = [
        "fail_dup_line",
        "fail_dup_line_chars",
        "fail_top2",
        "fail_top3",
        "fail_dup5",
        "fail_dup10",
    ]
    return (
        flags.groupBy(*flag_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dup_lines").cast("long").alias("dup_lines"),
            F.sum("dup_line_chars").cast("long").alias("dup_line_chars"),
            F.sum("top2_cover").cast("long").alias("top2_cover"),
            F.sum("top3_cover").cast("long").alias("top3_cover"),
            F.sum("dup5_cover").cast("long").alias("dup5_cover"),
            F.sum("dup10_cover").cast("long").alias("dup10_cover"),
            F.sum("total_chars").cast("long").alias("total_chars"),
            F.min("id").cast("long").alias("min_doc"),
            F.max("id").cast("long").alias("max_doc"),
        )
        .orderBy(*flag_cols)
    )


# ---------------------------------------------------------------------------
# Exact covariance moments — the distributed heart of PCA, value-hashed
# ---------------------------------------------------------------------------
# `embedding_pca_variance` stays rows-only because a 64x64 eigendecomposition
# has no SQL twin — but everything DISTRIBUTED about PCA is the moment
# accumulation, and that part CAN be value-hashed: quantize each coordinate
# with one correctly-rounded IEEE chain (double-cast, *4096, floor — the
# SQ8 pattern), then every variance / covariance numerator is pure integer
# arithmetic: var_num(d)   = n*sum(q_d^2)   - sum(q_d)^2
#             cov_num(d,+1)= n*sum(q_d*q_{d+1}) - sum(q_d)*sum(q_{d+1}).
# Products go through DECIMAL(38,0) on the Spark side (DuckDB's BIGINT sums
# are HUGEINT already); the final columns fit BIGINT exactly at any fixture
# scale (q <= 2^12, so var_num <= n^2 * 2^24 — overflow needs n > 2^19.5
# BILLION rows, and the decimal intermediate is exact far beyond that).
_COV_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 4096) AS BIGINT)) AS q
  FROM embeddings
),
t AS (
  SELECT q, unnest(range(1, len(q) + 1)) AS pos FROM e
),
terms AS (
  SELECT pos - 1 AS dim, q[pos] AS qi,
         CASE WHEN pos < len(q) THEN q[pos] * q[pos + 1] END AS pnext
  FROM t
),
agg AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qi) AS BIGINT) AS sum_q,
         CAST(SUM(qi * qi) AS BIGINT) AS sum_q2,
         CAST(SUM(pnext) AS BIGINT) AS sum_pnext
  FROM terms GROUP BY 1
),
w AS (
  SELECT *, LEAD(sum_q) OVER (ORDER BY dim) AS sum_q_next FROM agg
)
SELECT CAST(dim AS INT) AS dim, n, sum_q, sum_q2,
       CAST(CAST(n AS HUGEINT) * sum_q2
            - CAST(sum_q AS HUGEINT) * sum_q AS BIGINT) AS var_num,
       CAST(CAST(n AS HUGEINT) * sum_pnext
            - CAST(sum_q AS HUGEINT) * sum_q_next AS BIGINT) AS cov_next_num
FROM w ORDER BY dim
"""


@_q("embedding_covariance_report", _COV_ORACLE)
def embedding_covariance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer covariance moments over the embedding corpus: per
    dimension, count / sum / sum-of-squares of the 4096-quantized
    coordinates plus the variance numerator and the adjacent-dimension
    covariance numerator. This is the distributed accumulation that
    `operators/pca.py` feeds its 64x64 driver-side eigh — value-hashed
    here end-to-end, leaving only the (driver-local, numpy-parity-pinned)
    eigendecomposition outside the oracle. One explode + one keyed groupBy;
    the 64-row LEAD window is bounded by the dimensionality."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * 4096).cast("long"),
    )
    base = emb.select(q.alias("q"))
    terms = F.transform(
        F.sequence(F.lit(0), F.size("q") - 1),
        lambda i: F.struct(
            i.alias("dim"),
            F.element_at(F.col("q"), i + 1).alias("qi"),
            F.when(
                i < F.size("q") - 1,
                F.element_at(F.col("q"), i + 1)
                * F.element_at(F.col("q"), i + 2),
            ).alias("pnext"),
        ),
    )
    agg = (
        base.select(F.explode(terms).alias("t"))
        .select("t.dim", "t.qi", "t.pnext")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qi").cast("long").alias("sum_q"),
            F.sum(F.col("qi") * F.col("qi")).cast("long").alias("sum_q2"),
            F.sum("pnext").cast("long").alias("sum_pnext"),
        )
    )
    # 64-row aggregate: the global LEAD window is bounded by the embedding
    # dimensionality, not the corpus (single-partition audit: 64 rows).
    nxt = Window.orderBy("dim")
    dec = "decimal(38,0)"
    return (
        agg.withColumn("sum_q_next", F.lead("sum_q").over(nxt))
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            "sum_q",
            "sum_q2",
            (
                F.col("n").cast(dec) * F.col("sum_q2").cast(dec)
                - F.col("sum_q").cast(dec) * F.col("sum_q").cast(dec)
            )
            .cast("long")
            .alias("var_num"),
            (
                F.col("n").cast(dec) * F.col("sum_pnext").cast(dec)
                - F.col("sum_q").cast(dec) * F.col("sum_q_next").cast(dec)
            )
            .cast("long")
            .alias("cov_next_num"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------
# operators/c4.py over the fixture corpus, re-lined into 8-token chunks
# with deterministically planted rule triggers (pure doc_id arithmetic,
# identical in both engines): 2 of 3 lines get terminal punctuation, every
# 17th doc gets "javascript" injected into line 1, every 23rd/29th/31st doc
# gets an extra lorem-ipsum / curly-brace / blocklisted line. A line is
# charged to the FIRST rule it violates (punct -> short -> javascript) so
# the drop counters partition exactly; doc verdicts group the report.
_C4_CHAIN = r"""

WITH base AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
),
meta AS (
  SELECT doc_id, len(toks) AS ntok, toks FROM base
),
line_idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(ntok/8.0) AS BIGINT))) AS c
  FROM meta
),
plines AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 17 = 0 AND c = 1
               THEN array_to_string(toks[c*8+1 : c*8+8], ' ') || ' javascript'
               ELSE array_to_string(toks[c*8+1 : c*8+8], ' ') END)
         || (CASE WHEN (doc_id + c) % 3 = 0 THEN '' ELSE '.' END) AS line
  FROM line_idx
),
extras AS (
  SELECT doc_id, 'this text has lorem ipsum inside.' AS line
  FROM documents WHERE doc_id % 23 = 0
  UNION ALL
  SELECT doc_id, 'sample code block { return x }.' FROM documents
  WHERE doc_id % 29 = 0
  UNION ALL
  SELECT doc_id, 'this line mentions badword1 openly.' FROM documents
  WHERE doc_id % 31 = 0
),
alllines AS (
  SELECT doc_id, line FROM plines
  UNION ALL SELECT doc_id, line FROM extras
),
lflags AS (
  SELECT doc_id, line,
         NOT regexp_matches(line, '[.!?"]\s*$') AS v_punct,
         len(string_split_regex(trim(line), '\s+')) < 5 AS v_short,
         regexp_matches(lower(line), '\bjavascript\b') AS v_js,
         contains(lower(line), 'lorem ipsum') AS l_lorem,
         contains(line, '{') AS l_brace,
         regexp_matches(lower(line), '\b(badword1|badword2)\b') AS l_block
  FROM alllines
),
agg0 AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN NOT v_punct AND NOT v_short AND NOT v_js
                       THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
         CAST(SUM(CASE WHEN v_punct THEN 1 ELSE 0 END) AS BIGINT)
           AS drop_punct,
         CAST(SUM(CASE WHEN NOT v_punct AND v_short THEN 1 ELSE 0 END)
              AS BIGINT) AS drop_short,
         CAST(SUM(CASE WHEN NOT v_punct AND NOT v_short AND v_js
                       THEN 1 ELSE 0 END) AS BIGINT) AS drop_js,
         BOOL_OR(l_lorem) AS doc_lorem,
         BOOL_OR(l_brace) AS doc_brace,
         BOOL_OR(l_block) AS doc_blocklist
  FROM lflags GROUP BY 1
),
agg AS (
  -- every input document surfaces, even those with zero lines
  -- (ADVICE r6): the doc spine is the documents table, not the lines
  SELECT d.doc_id,
         COALESCE(a.n_lines, 0) AS n_lines,
         COALESCE(a.kept_lines, 0) AS kept_lines,
         COALESCE(a.drop_punct, 0) AS drop_punct,
         COALESCE(a.drop_short, 0) AS drop_short,
         COALESCE(a.drop_js, 0) AS drop_js,
         COALESCE(a.doc_lorem, FALSE) AS doc_lorem,
         COALESCE(a.doc_brace, FALSE) AS doc_brace,
         COALESCE(a.doc_blocklist, FALSE) AS doc_blocklist
  FROM (SELECT doc_id FROM documents) d LEFT JOIN agg0 a USING (doc_id)
),
final AS (
  SELECT *,
         kept_lines < 3 AS doc_too_few_lines,
         (kept_lines < 3) OR doc_lorem OR doc_brace OR doc_blocklist
           AS doc_dropped
  FROM agg
)
"""

_C4_ORACLE = _C4_CHAIN + """
SELECT doc_dropped, doc_too_few_lines, doc_lorem, doc_brace, doc_blocklist,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(kept_lines) AS BIGINT) AS kept_lines,
       CAST(SUM(drop_punct) AS BIGINT) AS drop_punct,
       CAST(SUM(drop_short) AS BIGINT) AS drop_short,
       CAST(SUM(drop_js) AS BIGINT) AS drop_js,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM final
GROUP BY 1,2,3,4,5 ORDER BY 1,2,3,4,5
"""


def _c4_planted_lines(docs: DataFrame) -> DataFrame:
    """Shared planted-trigger line construction for the C4 queries (the
    Spark twin of _C4_CHAIN's plines/extras CTEs): 8-token chunks, 2 of 3
    lines get terminal punctuation, every 17th doc gets javascript in
    line 1, every 23rd/29th/31st doc gets an extra lorem/brace/blocklist
    line. Input df needs (doc_id, text)."""
    from ..functions.text import tokens
    from ..operators.gopher import _lines

    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    raw = toked.select("doc_id", _lines(F.col("toks"), 8).alias("l0"))
    # NB two-parameter transform lambda receives (element, index) — used
    # deliberately here, c IS the line index.
    lines = F.transform(
        F.col("l0"),
        lambda l, c: F.concat(
            F.when(
                (F.col("doc_id") % 17 == 0) & (c == F.lit(1)),
                F.concat(l, F.lit(" javascript")),
            ).otherwise(l),
            F.when((F.col("doc_id") + c) % 3 == 0, F.lit("")).otherwise(
                F.lit(".")
            ),
        ),
    )
    extras = F.filter(
        F.array(
            F.when(
                F.col("doc_id") % 23 == 0,
                F.lit("this text has lorem ipsum inside."),
            ),
            F.when(
                F.col("doc_id") % 29 == 0,
                F.lit("sample code block { return x }."),
            ),
            F.when(
                F.col("doc_id") % 31 == 0,
                F.lit("this line mentions badword1 openly."),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return raw.select("doc_id", F.concat(lines, extras).alias("lines"))


@_q("c4_filter_report", _C4_ORACLE)
def c4_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning stack (`operators/c4.py`): line rules (terminal
    punctuation, >=5 words, no 'javascript') partition every dropped line
    into exactly one counter; document rules (>=3 surviving lines, no
    lorem ipsum / curly brace / blocklisted word) decide the doc verdict.
    Planted triggers exercise every rule and the never-fire paths; the
    report groups by the five doc-level verdict flags."""
    from ..functions.text import tokens
    from ..operators.c4 import c4_line_filter
    from ..operators.gopher import _lines

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = c4_line_filter(
        _c4_planted_lines(docs), id_col="doc_id", lines_col="lines"
    )
    gcols = [
        "doc_dropped",
        "doc_too_few_lines",
        "doc_lorem",
        "doc_brace",
        "doc_blocklist",
    ]
    return (
        rep.groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("kept_lines").cast("long").alias("kept_lines"),
            F.sum("drop_punct").cast("long").alias("drop_punct"),
            F.sum("drop_short").cast("long").alias("drop_short"),
            F.sum("drop_js").cast("long").alias("drop_js"),
            F.min("id").cast("long").alias("min_doc"),
            F.max("id").cast("long").alias("max_doc"),
        )
        .orderBy(*gcols)
    )


# ---------------------------------------------------------------------------
# Split distribution shift: OOV + smoothed KL between train/val unigrams
# ---------------------------------------------------------------------------
# The QA step after splitting: did the (hash-based, content-blind) split
# leave train and val distributionally comparable? Uses the r6 portable
# md5 split (`sampling.train_val_test_split_portable`, 80/20, seed 13 —
# threshold int(0.8*2^32) = 3435973836 on both sides), then reports
# out-of-vocabulary val tokens and add-1-smoothed KL in BOTH directions
# over the union vocabulary. Hash-safety: each ln is rounded to
# DECIMAL(18,6) per term (the DSIR/LM/BM25 pattern), multiplied by an
# INTEGER count and summed exactly; the result is emitted as an exact
# (numerator, denominator) pair — no double division anywhere
# (KL = num / den, with num = sum (c+1)*(ln p_a - ln p_b), den = t_a+V).
_SHIFT_ORACLE = r"""
WITH s AS MATERIALIZED (
  SELECT doc_id, text,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':13'),
                                   1, 8))::BIGINT < 3435973836
              THEN 'train' ELSE 'val' END AS split
  FROM documents
),
tok AS (
  SELECT split, w FROM (
    SELECT split,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM s
  ) WHERE w <> ''
),
counts AS MATERIALIZED (
  SELECT w,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ctr,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv
  FROM tok GROUP BY 1
),
tot AS (
  SELECT SUM(ctr) AS tt, SUM(cv) AS tv, COUNT(*) AS v,
         SUM(CASE WHEN ctr > 0 THEN 1 ELSE 0 END) AS dt,
         SUM(CASE WHEN cv > 0 THEN 1 ELSE 0 END) AS dv
  FROM counts
),
terms AS (
  SELECT
    (cv + 1) * (CAST(ROUND(LN((cv + 1.0) / (tv + v)), 6) AS DECIMAL(18,6))
                - CAST(ROUND(LN((ctr + 1.0) / (tt + v)), 6)
                       AS DECIMAL(18,6))) AS t_vt,
    (ctr + 1) * (CAST(ROUND(LN((ctr + 1.0) / (tt + v)), 6)
                      AS DECIMAL(18,6))
                 - CAST(ROUND(LN((cv + 1.0) / (tv + v)), 6)
                        AS DECIMAL(18,6))) AS t_tv
  FROM counts CROSS JOIN tot
)
SELECT
  CAST((SELECT COUNT(*) FROM s WHERE split = 'train') AS BIGINT)
    AS train_docs,
  CAST((SELECT COUNT(*) FROM s WHERE split = 'val') AS BIGINT) AS val_docs,
  CAST(tot.tt AS BIGINT) AS train_tokens,
  CAST(tot.tv AS BIGINT) AS val_tokens,
  CAST(tot.dt AS BIGINT) AS train_vocab,
  CAST(tot.dv AS BIGINT) AS val_vocab,
  CAST(tot.v AS BIGINT) AS union_vocab,
  CAST((SELECT COALESCE(SUM(cv), 0) FROM counts WHERE ctr = 0) AS BIGINT)
    AS oov_val_tokens,
  CAST((SELECT SUM(t_vt) FROM terms) * 1000000 AS BIGINT) AS kl_vt_num_e6,
  CAST(tot.tv + tot.v AS BIGINT) AS kl_vt_den,
  CAST((SELECT SUM(t_tv) FROM terms) * 1000000 AS BIGINT) AS kl_tv_num_e6,
  CAST(tot.tt + tot.v AS BIGINT) AS kl_tv_den
FROM tot
"""


@_q("split_distribution_shift", _SHIFT_ORACLE)
def split_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution parity between portable train/val splits
    (`sampling.train_val_test_split_portable` + the DSIR decimal-log
    pattern): union-vocabulary unigram models, out-of-vocabulary val
    mass, and add-1-smoothed KL in both directions as exact
    (numerator, denominator) pairs — the dataset-card check that a
    content-blind hash split did not shear the distribution."""
    from ..operators.sampling import train_val_test_split_portable

    docs = load_table(spark, sf_dir, "documents")
    s = train_val_test_split_portable(
        docs, "doc_id", {"train": 0.8, "val": 0.2}, seed=13
    )
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok = (
        s.select("split", F.explode(w).alias("w"))
        .where(F.col("w") != "")
    )
    counts = tok.groupBy("w").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "ctr"
        ),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
    )
    tot = counts.agg(
        F.sum("ctr").alias("tt"),
        F.sum("cv").alias("tv"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.when(F.col("ctr") > 0, 1).otherwise(0)).alias("dt"),
        F.sum(F.when(F.col("cv") > 0, 1).otherwise(0)).alias("dv"),
    )
    # 1-row scalar broadcast (the allowed crossJoin pattern)
    ct = counts.crossJoin(F.broadcast(tot))

    def lp(c, t):
        return F.round(
            F.log((c + F.lit(1.0)) / (t + F.col("v"))), 6
        ).cast("decimal(18,6)")

    terms = ct.select(
        ((F.col("cv") + 1) * (lp(F.col("cv"), F.col("tv"))
                              - lp(F.col("ctr"), F.col("tt")))).alias("t_vt"),
        ((F.col("ctr") + 1) * (lp(F.col("ctr"), F.col("tt"))
                               - lp(F.col("cv"), F.col("tv")))).alias("t_tv"),
        "ctr",
        "cv",
    )
    sums = terms.agg(
        F.sum("t_vt").alias("kl_vt_num_d"),
        F.sum("t_tv").alias("kl_tv_num_d"),
        F.sum(F.when(F.col("ctr") == 0, F.col("cv")).otherwise(0)).alias(
            "oov"
        ),
    )
    splits = s.groupBy().agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "train_docs"
        ),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias(
            "val_docs"
        ),
    )
    return (
        splits.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sums))
        .select(
            F.col("train_docs").cast("long").alias("train_docs"),
            F.col("val_docs").cast("long").alias("val_docs"),
            F.col("tt").cast("long").alias("train_tokens"),
            F.col("tv").cast("long").alias("val_tokens"),
            F.col("dt").cast("long").alias("train_vocab"),
            F.col("dv").cast("long").alias("val_vocab"),
            F.col("v").cast("long").alias("union_vocab"),
            F.col("oov").cast("long").alias("oov_val_tokens"),
            # exact scale-6 integers (ADVICE r6): DuckDB's decimal->double
            # cast is not correctly rounded, so the hash-compared numerators
            # stay in integer arithmetic end-to-end.
            (F.col("kl_vt_num_d") * 1000000).cast("long").alias("kl_vt_num_e6"),
            (F.col("tv") + F.col("v")).cast("long").alias("kl_vt_den"),
            (F.col("kl_tv_num_d") * 1000000).cast("long").alias("kl_tv_num_e6"),
            (F.col("tt") + F.col("v")).cast("long").alias("kl_tv_den"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming quality gate: the C4 stack applied IN-FLIGHT, value-checked
# ---------------------------------------------------------------------------
# The production shape for corpus filtering: documents arrive as a stream
# and the filter runs per micro-batch (the doc verdict is per-row
# independent, so batch-wise application == global application), with the
# kept set appended exactly-once under a checkpoint. The oracle is the
# SAME _C4_CHAIN the batch report uses, aggregated over the kept docs —
# so the stream path must value-equal a pure SQL replay of the filter.
_GATE_ORACLE = _C4_CHAIN + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(kept_lines) AS BIGINT) AS kept_lines,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM final WHERE NOT doc_dropped
"""


@_q("stream_quality_gate", _GATE_ORACLE)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning applied to a LIVE document stream (`operators/c4.py`
    inside foreachBatch): the corpus replays as three feed files (one
    micro-batch each), each batch runs the
    full line+doc rule stack and appends only surviving documents to the
    target. The sink is idempotent per micro-batch (each batch overwrites
    its own ``__batch_id=N`` partition directory, the same discipline as
    `streaming/manifest_sink.py` — a retried batch replaces, never
    double-appends), and the query PROVES it by replaying one committed
    batch after the stream finishes: the aggregate the oracle hashes is
    computed over the post-replay target, so an at-least-once regression
    hash-fails the gate. The final target must value-equal the batch SQL
    replay of the same filter — kept-doc count, line counters, and an id
    checksum all hash-compared."""
    from ..operators.c4 import c4_line_filter
    from ..streaming.replay import feed_stream, run_replay

    work = scratch_dir("squality_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # part i is micro-batch i — required below, where the double-commit
    # simulation replays batch 2 BY ID
    parts = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    stream = feed_stream(spark, f"{work}/feed", parts)
    target = f"{work}/target"

    def gate(batch_df, batch_id):
        rep = c4_line_filter(
            _c4_planted_lines(batch_df), id_col="doc_id", lines_col="lines"
        )
        # exactly-once: each micro-batch owns (and on retry, REPLACES)
        # its batch_id-keyed partition directory — a plain append here
        # would duplicate kept docs on a retried batch.
        (
            rep.where(~F.col("doc_dropped"))
            .select("id", "n_lines", "kept_lines")
            .write.mode("overwrite")
            .parquet(f"{target}/__batch_id={int(batch_id)}")
        )

    run_replay(
        spark,
        stream.writeStream.foreachBatch(gate),
        f"{work}/ckpt",
        what="stream_quality_gate",
    )
    # Simulated double-commit: replay batch 2 (the third feed part)
    # through the same sink with the SAME batch_id. The idempotent sink
    # overwrites the partition in place; the oracle-hashed aggregate below
    # therefore only matches if the replay did NOT change the target.
    gate(parts[2], 2)
    return spark.read.parquet(target).drop("__batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("kept_lines").cast("long").alias("kept_lines"),
        F.sum("id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus line-level dedup (CCNet arXiv:1911.00359 §3.1 / FineWeb)
# ---------------------------------------------------------------------------
# Line granularity is the one dedup tier the family lacked: boilerplate
# (footers, nav bars) repeats across documents and must be deduped
# corpus-wide, keeping ONE occurrence (lowest doc id). Planted triggers:
# every 7th doc appends a clean-spelled footer, every 17th the SAME
# footer in a messy spelling TWICE (case + whitespace — exercises
# normalization AND within-doc duplicates), every 13th a nav line; the
# tiny fixture vocabulary also yields natural short-last-chunk collisions
# across documents. Keys are md5(normalized line) on both engines — a
# fixed 32-char shuffle key at any corpus scale.
_LINE_DEDUP_ORACLE = r"""
WITH base AS MATERIALIZED (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
),
meta AS (SELECT doc_id, len(toks) AS ntok, toks FROM base),
chunks AS (
  SELECT doc_id, array_to_string(toks[c*8+1 : c*8+8], ' ') AS line
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(ntok/8.0) AS BIGINT))) AS c
        FROM meta)
),
extras AS (
  SELECT doc_id, 'copyright footer all rights reserved.' AS line
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, '  Copyright FOOTER   all rights reserved. '
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, '  Copyright FOOTER   all rights reserved. '
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, 'home about contact privacy.'
  FROM documents WHERE doc_id % 13 = 0
),
alllines AS MATERIALIZED (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(line)), '\s+', ' ', 'g')) AS k
  FROM (SELECT * FROM chunks UNION ALL SELECT * FROM extras)
),
perkeydoc AS (SELECT k, doc_id, COUNT(*) AS occ FROM alllines GROUP BY 1, 2),
keeper AS (SELECT k, MIN(doc_id) AS keeper_id FROM perkeydoc GROUP BY 1),
perdoc0 AS (
  SELECT p.doc_id,
         SUM(p.occ) AS n_lines,
         SUM(CASE WHEN p.doc_id = kp.keeper_id THEN 1 ELSE 0 END)
           AS kept_lines
  FROM perkeydoc p JOIN keeper kp USING (k) GROUP BY 1
),
perdoc AS (
  SELECT d.doc_id, d.source,
         COALESCE(n_lines, 0) AS n_lines,
         COALESCE(kept_lines, 0) AS kept_lines,
         COALESCE(n_lines, 0) - COALESCE(kept_lines, 0) AS dup_lines
  FROM documents d LEFT JOIN perdoc0 USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(kept_lines) AS BIGINT) AS kept_lines,
       CAST(SUM(dup_lines) AS BIGINT) AS dup_lines,
       CAST(SUM(CASE WHEN dup_lines * 100 > n_lines * 30 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_dropped,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM perdoc GROUP BY 1 ORDER BY source
"""


def _line_dedup_lines(docs: DataFrame) -> DataFrame:
    """Planted-trigger line construction for line_corpus_dedup (the Spark
    twin of _LINE_DEDUP_ORACLE's chunks/extras CTEs): 8-token chunks plus
    the footer/nav plants described above. Input df needs
    (doc_id, source, text)."""
    from ..functions.text import tokens
    from ..operators.gopher import _lines

    toked = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    raw = toked.select(
        "doc_id", "source", _lines(F.col("toks"), 8).alias("chunks")
    )
    clean = F.lit("copyright footer all rights reserved.")
    messy = F.lit("  Copyright FOOTER   all rights reserved. ")
    nav = F.lit("home about contact privacy.")
    extras = F.filter(
        F.array(
            F.when(F.col("doc_id") % 7 == 0, clean),
            F.when(F.col("doc_id") % 17 == 0, messy),
            F.when(F.col("doc_id") % 17 == 0, messy),
            F.when(F.col("doc_id") % 13 == 0, nav),
        ),
        lambda x: x.isNotNull(),
    )
    return raw.select(
        "doc_id", "source", F.concat(F.col("chunks"), extras).alias("lines")
    )


@_q("line_corpus_dedup", _LINE_DEDUP_ORACLE)
def line_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus line dedup (`operators/linededup.py`): keep exactly
    one occurrence of each distinct normalized line corpus-wide (the one
    in the lowest doc id); a document loses its later occurrences as
    dup_lines and is dropped when duplicates exceed 30% of its lines.
    Reported per source so keeper ownership (lowest ids live in src0...)
    is visible in the aggregate."""
    from ..operators.linededup import line_corpus_dedup as _line_dedup_op

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    lined = _line_dedup_lines(docs)
    rep = _line_dedup_op(lined, id_col="doc_id", lines_col="lines")
    joined = rep.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("kept_lines").cast("long").alias("kept_lines"),
            F.sum("dup_lines").cast("long").alias("dup_lines"),
            F.sum(F.col("doc_dropped").cast("long"))
            .cast("long")
            .alias("docs_dropped"),
            F.min("id").cast("long").alias("min_doc"),
            F.max("id").cast("long").alias("max_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (arXiv:2305.10429) — fixed-point integer
# ---------------------------------------------------------------------------
# Multiplicative-weights over per-domain excess divergence against the
# CURRENT weighted mixture unigram (`operators/doremi.py`). Every quantity
# is BIGINT fixed point (probs e9, weights e6, exp by 16 integer
# squarings at e9, largest-remainder renormalization), so the full 5-step
# loop replays as an unrolled SQL CTE chain bit-for-bit. Each step is
# MATERIALIZED (the r6 rule: un-materialized unrolled chains re-evaluate
# exponentially). DuckDB SUM(BIGINT) yields HUGEINT — all intermediate
# arithmetic stays exact; only the final projection casts to BIGINT.
def _doremi_oracle(iters: int = 5, eta: int = 800, c_e6: int = 200000) -> str:
    tdiv = (
        "(CASE WHEN p * (p - pm) >= 0 THEN (p * (p - pm)) // 1000000000"
        " ELSE -((-(p * (p - pm))) // 1000000000) END)"
    )
    # Each squaring level is its OWN nested SELECT: lateral alias
    # references in one projection are substituted TEXTUALLY, so a
    # single-SELECT v0..v16 chain builds a 2^16-node expression tree
    # (measured 672 s for 20 rows at sf0.01 in the full gate — the whole
    # oracle drops to sub-second once nested; values identical).
    exp_inner = (
        "SELECT d, lam, 1000000000 + (x * 1000) // 65536 AS v0 FROM "
        "(SELECT d, lam, LEAST((lam * %d) // 1000, 1000000) AS x FROM lam_t)"
        % eta
    )
    for i in range(16):
        exp_inner = (
            f"SELECT d, lam, (v{i} * v{i}) // 1000000000 AS v{i + 1}"
            f" FROM ({exp_inner})"
        )
    steps = []
    for t in range(1, iters + 1):
        prev = f"w{t - 1}"
        steps.append(f"""
mix{t} AS MATERIALIZED (
  SELECT w, SUM(a * p) // 1000000 AS pm
  FROM probs JOIN {prev} USING (d) GROUP BY w
),
lam{t} AS MATERIALIZED (
  SELECT probs.d,
         GREATEST(SUM({tdiv}), 0) AS lam
  FROM probs JOIN mix{t} USING (w) GROUP BY probs.d
),
exp{t} AS MATERIALIZED (
  {exp_inner.replace("FROM lam_t", f"FROM lam{t}")}
),
raw{t} AS MATERIALIZED (
  SELECT e.d, e.lam, (wp.a * e.v16) // 1000000000 AS raw
  FROM exp{t} e JOIN {prev} wp USING (d)
),
s{t} AS (SELECT SUM(raw) AS s FROM raw{t}),
m{t} AS MATERIALIZED (
  SELECT d, lam, (1000000 - {c_e6}) * raw * dd + {c_e6} * s AS m,
         dd * s AS denom
  FROM raw{t}, s{t}, nd
),
w{t} AS MATERIALIZED (
  SELECT d, lam,
         base + (CASE WHEN rnk <= 1000000 - bsum THEN 1 ELSE 0 END) AS a
  FROM (SELECT d, lam, m // denom AS base,
               row_number() OVER (ORDER BY (m % denom) DESC, d ASC) AS rnk,
               SUM(m // denom) OVER () AS bsum
        FROM m{t})
)""")
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT source AS d, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
cnt AS MATERIALIZED (
  SELECT d, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
),
tot AS (SELECT d, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
probs AS MATERIALIZED (
  SELECT cnt.d, w, (c * 1000000000) // t AS p FROM cnt JOIN tot USING (d)
),
doms AS (SELECT DISTINCT d FROM probs),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM doms),
dstat AS MATERIALIZED (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS n_tokens
  FROM (SELECT source AS d,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END
                 AS ntok
        FROM documents)
  GROUP BY d
),
w0 AS MATERIALIZED (
  SELECT d, (1000000 // dd)
            + (CASE WHEN rn <= (1000000 % dd) THEN 1 ELSE 0 END) AS a
  FROM (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM doms), nd
),{",".join(steps)}
SELECT ds.d AS domain, ds.n_docs, ds.n_tokens,
       CAST(wf.lam AS BIGINT) AS lambda_e9,
       CAST(wf.a AS BIGINT) AS alpha_e6
FROM dstat ds JOIN w{iters} wf USING (d)
ORDER BY domain
"""


@_q("doremi_domain_weights", _doremi_oracle())
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-mixture reweighting (`operators/doremi.py`):
    five multiplicative-weights steps over per-domain excess divergence
    against the current weighted mixture unigram, with uniform mixing and
    exact largest-remainder renormalization — the final weights sum to
    exactly 1e6 and every intermediate is BIGINT fixed point, so the
    whole loop replays in SQL."""
    from ..operators.doremi import doremi_domain_weights as _doremi_op

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return _doremi_op(docs, iters=5)


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law) — corpus-statistics QA
# ---------------------------------------------------------------------------
# The curation dashboard stat: how fast does the vocabulary grow as the
# corpus grows? Each word is charged to the doc-id decile where it FIRST
# appears (min-bucket per word — one word-keyed agg, map-side
# combinable), so cumulative vocabulary is exact without any cumulative
# DISTINCT. The only scalar is the 1-row doc-count broadcast for the
# decile bucketing; the cumulative window runs over the 10-row decile
# summary, constant-size at any corpus scale.
_VOCAB_GROWTH_ORACLE = r"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
base AS MATERIALIZED (
  SELECT doc_id,
         CAST(doc_id * 10 // n AS INT) AS b,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
  FROM documents, nn
),
doc_agg AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM base GROUP BY 1
),
words AS (SELECT b, unnest(toks) AS w FROM base),
firstb AS (SELECT w, MIN(b) AS fb FROM words GROUP BY 1),
newb AS (
  SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS new_words FROM firstb GROUP BY 1
)
SELECT d.b AS bucket, d.n_docs, d.n_tokens,
       CAST(COALESCE(nw.new_words, 0) AS BIGINT) AS new_words,
       CAST(SUM(d.n_docs) OVER (ORDER BY d.b) AS BIGINT) AS cum_docs,
       CAST(SUM(d.n_tokens) OVER (ORDER BY d.b) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nw.new_words, 0)) OVER (ORDER BY d.b) AS BIGINT)
         AS cum_vocab
FROM doc_agg d LEFT JOIN newb nw USING (b)
ORDER BY bucket
"""


@_q("vocab_growth_curve", _VOCAB_GROWTH_ORACLE)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: per doc-id decile, the docs/tokens
    added and the NEW vocabulary first seen there, with exact cumulative
    curves. First-occurrence charging (min-bucket per word) makes
    cumulative vocabulary one word-keyed agg instead of a cumulative
    DISTINCT; the final window runs over the fixed 10-row summary."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # 1-row doc-count broadcast (the allowlisted scalar-broadcast shape)
    ntot = docs.agg(F.count(F.lit(1)).alias("n"))
    # no persist: builders must not leak cache across driver/bench runs
    # (ADVICE r5); the double scan below re-tokenizes a cheap projection.
    based = docs.crossJoin(F.broadcast(ntot)).select(
        F.expr("CAST(doc_id * 10 div n AS INT)").alias("b"),
        tokens(F.lower(F.col("text"))).alias("toks"),
    )
    doc_agg = based.select("b", F.size("toks").alias("ntok")).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    first_b = (
        based.select("b", F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.min("b").alias("fb"))
    )
    new_b = first_b.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("new_words")
    )
    w = Window.orderBy("bucket")
    out = (
        doc_agg.join(new_b, "b", "left")
        .select(
            F.col("b").alias("bucket"),
            "n_docs",
            "n_tokens",
            F.coalesce("new_words", F.lit(0).cast("long")).alias("new_words"),
        )
        .select(
            "*",
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
        )
        .orderBy("bucket")
    )
    return out


# ---------------------------------------------------------------------------
# Temperature-scaled mixture allocation (tau-sampling, mT5 arXiv:2010.11934)
# ---------------------------------------------------------------------------
# Sampling weight ~ n_tokens^tau with tau=0.5 via exact integer sqrt
# (math.isqrt on the Spark side; FLOOR(SQRT()) is exact in DuckDB for
# n < 2^52 — token counts far below that at any fixture SF), both
# allocations normalized to exactly 1e6 by largest remainder.
_MIXTURE_TEMP_ORACLE = r"""
WITH dstat AS MATERIALIZED (
  SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
s AS (
  SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS iq FROM dstat
),
tots AS (SELECT SUM(iq) AS ts, SUM(n_tokens) AS tn FROM s),
alloc AS (
  SELECT domain, n_docs, n_tokens, iq,
         (1000000 * iq) // ts AS b1,
         row_number() OVER (ORDER BY ((1000000 * iq) % ts) DESC, domain ASC)
           AS r1,
         SUM((1000000 * iq) // ts) OVER () AS bs1,
         (1000000 * n_tokens) // tn AS b2,
         row_number()
           OVER (ORDER BY ((1000000 * n_tokens) % tn) DESC, domain ASC)
           AS r2,
         SUM((1000000 * n_tokens) // tn) OVER () AS bs2
  FROM s, tots
)
SELECT domain, n_docs, n_tokens, iq AS isqrt_tokens,
       CAST(b1 + (CASE WHEN r1 <= 1000000 - bs1 THEN 1 ELSE 0 END)
            AS BIGINT) AS weight_tau05_e6,
       CAST(b2 + (CASE WHEN r2 <= 1000000 - bs2 THEN 1 ELSE 0 END)
            AS BIGINT) AS weight_prop_e6
FROM alloc ORDER BY domain
"""


@_q("mixture_temperature_allocation", _MIXTURE_TEMP_ORACLE)
def mixture_temperature_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tau-sampling mixture allocation (`operators/doremi.py`): exact
    isqrt-based tau=0.5 weights and the tau=1 proportional weights, each
    summing to exactly 1e6 by largest-remainder allocation."""
    from ..operators.doremi import mixture_temperature_allocation as _op

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return _op(docs)


# ---------------------------------------------------------------------------
# Incremental line dedup fold: the CCNet tier under continuous ingestion
# ---------------------------------------------------------------------------
# Folds the planted-lines corpus through the persistent line-key store in
# three batches (doc_id % 3) and then REPLAYS batch 1: the manifest
# commit protocol must no-op (dup_lines = -1 marker row), and each
# batch's admitted count must equal the number of distinct line keys
# whose FIRST occurrence is that batch — stated directly by the oracle,
# so the incremental path is value-checked against the one-shot dedup.
_LINE_FOLD_ORACLE = r"""
WITH base AS MATERIALIZED (
  SELECT doc_id, doc_id % 3 AS b,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS toks
  FROM documents
),
meta AS (SELECT doc_id, b, len(toks) AS ntok, toks FROM base),
chunks AS (
  SELECT doc_id, b, array_to_string(toks[c*8+1 : c*8+8], ' ') AS line
  FROM (SELECT doc_id, b, toks,
               unnest(range(0, CAST(ceil(ntok/8.0) AS BIGINT))) AS c
        FROM meta)
),
extras AS (
  SELECT doc_id, doc_id % 3 AS b,
         'copyright footer all rights reserved.' AS line
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, doc_id % 3, '  Copyright FOOTER   all rights reserved. '
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, doc_id % 3, '  Copyright FOOTER   all rights reserved. '
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, doc_id % 3, 'home about contact privacy.'
  FROM documents WHERE doc_id % 13 = 0
),
alllines AS MATERIALIZED (
  SELECT doc_id, b,
         md5(regexp_replace(lower(trim(line)), '\s+', ' ', 'g')) AS k
  FROM (SELECT * FROM chunks UNION ALL SELECT * FROM extras)
),
firsts AS (SELECT k, MIN(b) AS fb FROM alllines GROUP BY k),
batch_lines AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_lines FROM alllines GROUP BY b
),
batch_docs AS (
  SELECT doc_id % 3 AS b, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
batch_kept AS (
  SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS kept FROM firsts GROUP BY 1
)
SELECT CAST(d.b AS BIGINT) AS batch, d.n_docs, l.n_lines,
       COALESCE(kk.kept, 0) AS kept_lines,
       l.n_lines - COALESCE(kk.kept, 0) AS dup_lines
FROM batch_docs d
JOIN batch_lines l USING (b)
LEFT JOIN batch_kept kk USING (b)
UNION ALL
SELECT 99, 0, 0, (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts), -1
ORDER BY batch
"""


@_q("incremental_line_dedup_fold", _LINE_FOLD_ORACLE)
def incremental_line_dedup_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion line dedup (`operators/linededup.py:
    line_dedup_batch`): fold the planted-lines corpus through the
    persistent line-key store in three batches, then replay batch 1 —
    the exactly-once manifest commit must no-op (marker row 99). Each
    batch admits exactly the line keys first seen in it; the store ends
    at the global distinct-line count."""
    from ..operators.linededup import line_dedup_batch
    from ..sources import manifest_table as mt

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    lined = _line_dedup_lines(docs)
    store = scratch_dir("line_store_") + "/lines"
    rows = []
    for b in range(3):
        rep = line_dedup_batch(
            lined.where(F.col("doc_id") % 3 == b), store, b
        )
        agg = rep.agg(
            F.count(F.lit(1)),
            F.sum("n_lines"),
            F.sum("kept_lines"),
            F.sum("dup_lines"),
        ).first()
        rows.append((b, int(agg[0]), int(agg[1]), int(agg[2]), int(agg[3])))
        rep.unpersist()
    replay = line_dedup_batch(
        lined.where(F.col("doc_id") % 3 == 1), store, 1
    )
    total = mt.table_rows(spark, store)
    rows.append((99, 0, 0, int(total), -1 if replay is None else -2))
    return spark.createDataFrame(
        rows,
        "batch bigint, n_docs bigint, n_lines bigint, kept_lines bigint,"
        " dup_lines bigint",
    ).orderBy("batch")


# ---------------------------------------------------------------------------
# Token-budget epoch allocation (data-constrained scaling, arXiv:2305.16264)
# ---------------------------------------------------------------------------
_TOKEN_BUDGET_ORACLE = r"""
WITH dstat AS MATERIALIZED (
  SELECT source AS domain,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
s AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS iq FROM dstat),
tots AS (
  SELECT SUM(iq) AS ts, SUM(n_tokens) AS tn,
         (SUM(n_tokens) * 200) // 100 AS budget
  FROM s
),
alloc AS (
  SELECT domain, n_tokens, iq,
         (1000000 * iq) // ts AS b1,
         row_number() OVER (ORDER BY ((1000000 * iq) % ts) DESC, domain ASC)
           AS r1,
         SUM((1000000 * iq) // ts) OVER () AS bs1,
         budget
  FROM s, tots
),
w AS (
  SELECT domain, n_tokens, budget,
         b1 + (CASE WHEN r1 <= 1000000 - bs1 THEN 1 ELSE 0 END) AS we6
  FROM alloc
),
plan AS (
  SELECT domain, n_tokens, we6,
         (budget * we6) // 1000000 AS target,
         LEAST(4, ((budget * we6) // 1000000) // n_tokens) AS full_e,
         ((budget * we6) // 1000000) > 4 * n_tokens AS capped
  FROM w WHERE n_tokens > 0
)
SELECT domain, n_tokens, CAST(we6 AS BIGINT) AS weight_tau05_e6,
       CAST(target AS BIGINT) AS target_tokens,
       CAST(full_e AS BIGINT) AS full_epochs,
       CAST(CASE WHEN capped THEN 0 ELSE target - full_e * n_tokens END
            AS BIGINT) AS partial_tokens,
       capped,
       CAST(CASE WHEN capped THEN target - 4 * n_tokens ELSE 0 END
            AS BIGINT) AS unused_budget
FROM plan ORDER BY domain
"""


@_q("token_budget_epochs", _TOKEN_BUDGET_ORACLE)
def token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (`operators/doremi.py`): the
    tau=0.5 mixture weights turned into an executable plan for a 2x-corpus
    token budget with a 4-epoch repeat cap — whole epochs, the partial
    final epoch, and the budget a binding cap leaves unspent, all exact
    integers."""
    from ..operators.doremi import token_budget_epochs as _op

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return _op(docs)


# ---------------------------------------------------------------------------
# Diversity coreset (D4, Tirumala et al. 2023, arXiv:2308.12284)
# ---------------------------------------------------------------------------
# After dedup, real pipelines DIVERSIFY: from each cluster keep the
# examples farthest from the cluster prototype (the D4 recipe's
# diversification half; k-center greedy's first round per cell). Exact
# cross-engine arithmetic: coords quantized floor(v*4096) (the PCA
# precedent — exact for float inputs), and distance-to-mean compared
# WITHOUT division via n^2*dist^2 = sum_d (n*x_d - S_d)^2 over the cell
# coordinate sums S_d. Top-m per cell by (distance DESC, vec_id ASC).
_CORESET_ORACLE = r"""
WITH e AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 4096) AS BIGINT)) AS q
  FROM embeddings
),
t AS MATERIALIZED (
  SELECT vec_id, label, pos - 1 AS dim, q[pos] AS qi
  FROM (SELECT vec_id, label, q,
               unnest(range(1, len(q) + 1)) AS pos
        FROM e)
),
cell AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qi) AS BIGINT) AS s
  FROM t GROUP BY 1, 2
),
dist AS (
  SELECT t.vec_id, t.label,
         CAST(SUM((c.n * t.qi - c.s) * (c.n * t.qi - c.s)) AS BIGINT)
           AS dnum,
         MAX(c.n) AS n_members
  FROM t JOIN cell c ON t.label = c.label AND t.dim = c.dim
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number()
           OVER (PARTITION BY label ORDER BY dnum DESC, vec_id ASC) AS rnk
  FROM dist
)
SELECT label, CAST(rnk AS BIGINT) AS rank, vec_id,
       dnum AS dist_num, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rnk <= 4
ORDER BY label, rank
"""


@_q("coreset_diversity_sample", _CORESET_ORACLE)
def coreset_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell diversity coreset (the D4 diversification step): from
    each label cell keep the 4 vectors farthest from the cell mean,
    distances exact via the division-free n^2*dist^2 integer form over
    4096-quantized coordinates. Shuffles are keyed by (label, dim) and
    label; the window partitions by label — nothing global."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # posexplode_outer + null guard: a plain explode of a PROJECTED
    # transform() alias gets the inferred size()>0 filter pushed into it
    # (the r6 explode cliff); outer generators are exempt
    t = (
        emb.select(
            "vec_id",
            "label",
            F.posexplode_outer(
                F.expr(
                    "transform(embedding,"
                    " v -> CAST(floor(CAST(v AS DOUBLE) * 4096) AS BIGINT))"
                )
            ).alias("dim", "qi"),
        )
        .where(F.col("qi").isNotNull())
    )
    cell = t.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qi").cast("long").alias("s"),
    )
    d = F.col("n") * F.col("qi") - F.col("s")
    dist = (
        t.join(cell, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(d * d).cast("long").alias("dnum"),
            F.max("n").cast("long").alias("n_members"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dnum").desc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 4)
        .select(
            "label",
            "rank",
            "vec_id",
            F.col("dnum").alias("dist_num"),
            "n_members",
        )
        .orderBy("label", "rank")
    )


# ---------------------------------------------------------------------------
# Lexical diversity report (type-token ratio / hapax / Zipf head coverage)
# ---------------------------------------------------------------------------
# The corpus-QA companion to vocab_growth_curve: per source, the exact
# type-token numerators every curation dashboard tracks — vocabulary
# size, hapax legomena (words seen once: the Zipf tail), and how many
# token occurrences the top-10 most frequent words absorb (the Zipf
# head). Ratios stay as exact integer numerator columns (no division
# anywhere — the CLAUDE.md hash rule). Top-10 ties break by word ASC on
# both engines.
_LEXICAL_ORACLE = r"""
WITH toks AS MATERIALIZED (
  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
cnt AS MATERIALIZED (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
),
ranked AS (
  SELECT source, w, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC)
           AS rnk
  FROM cnt
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS BIGINT)
         AS top10_tokens,
       MIN(CASE WHEN rnk = 1 THEN w END) AS top_word,
       CAST(MAX(c) AS BIGINT) AS top_count
FROM ranked GROUP BY source ORDER BY source
"""


@_q("lexical_diversity_report", _LEXICAL_ORACLE)
def lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: exact type/token/hapax counts and
    Zipf head coverage (tokens absorbed by the top-10 words, ties by
    word). One explode + one (source, word) agg + a per-source window
    over the word-count table (vocabulary-sized, not corpus-sized);
    every output is an exact integer numerator."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cnt = (
        docs.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    ranked = cnt.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
            F.sum(F.when(F.col("rnk") <= 10, F.col("c")).otherwise(0))
            .cast("long")
            .alias("top10_tokens"),
            F.min(F.when(F.col("rnk") == 1, F.col("w"))).alias("top_word"),
            F.max("c").cast("long").alias("top_count"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Stratified sampling with exact largest-remainder quotas
# ---------------------------------------------------------------------------
# The mixture-contract form of sampling: "give me exactly 40% of the
# corpus, proportionally by source" means EXACT per-stratum quotas, not
# per-row Bernoulli jitter. Quotas come from largest-remainder
# allocation (exact integer arithmetic on both engines); membership is
# the per-stratum top-quota by the portable md5 hash, so the drawn SET
# value-hashes against the SQL replay row for row.
from ..operators.sampling import portable_unit_hash32_sql as _pu32_sql

_STRAT_SEED = 7
_STRAT_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n, (2 * COUNT(*)) // 5 AS total_n
           FROM documents),
c AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
alloc AS (
  SELECT source, c,
         (total_n * c) // n AS base,
         (total_n * c) % n AS rem,
         total_n,
         n
  FROM c CROSS JOIN n
),
quota AS (
  SELECT source,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                      <= total_n - SUM(base) OVER () THEN 1 ELSE 0 END
           AS quota
  FROM alloc
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_pu32_sql("doc_id", _STRAT_SEED)}, doc_id) AS rnk
  FROM documents
)
SELECT r.source, CAST(r.rnk AS BIGINT) AS rnk, r.doc_id
FROM ranked r JOIN quota q USING (source)
WHERE r.rnk <= q.quota
ORDER BY source, rnk
"""


@_q("stratified_sample_exact", _STRAT_ORACLE)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample (`operators/sampling.py:
    stratified_sample_exact`): exactly 40% of the corpus, allocated
    across sources by largest remainder and drawn per stratum as the
    top-quota rows under the portable md5 hash (ties by doc_id). One
    stratum count (driver-side, bounded by #sources) + one window keyed
    by source — rows shuffle once; the SQL oracle replays the
    allocation and the draw, so the SET itself is the verdict."""
    from ..operators.sampling import stratified_sample_exact as _sse

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    total_n = (2 * docs.count()) // 5
    return (
        _sse(docs, "source", "doc_id", total_n, seed=_STRAT_SEED)
        .select("source", F.col("__ss_rank").alias("rnk"), "doc_id")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020, arXiv:1911.00359 §4.3) splits each language
# into three equal perplexity tertiles — "head" (most model-typical,
# kept), "middle", "tail" (usually dropped) — and downstream curation
# picks buckets per language. The portable form: per-doc score is the
# EXACT scale-6 integer sum of DECIMAL trigram log-probs; the ordering
# key is the single correctly-rounded division sum/n (bit-identical in
# both engines, ties by doc_id); tertile edges are integer comparisons
# 3*rank <= n and 3*rank <= 2n. Every output column is BIGINT.
_CCNET_ORACLE = """
WITH tri AS MATERIALIZED (
  SELECT doc_id, substr(lower(trim(text)), i, 3) AS tri
  FROM documents,
       UNNEST(generate_series(1, GREATEST(len(lower(trim(text))) - 2, 0)))
         AS u(i)
),
model AS MATERIALIZED (SELECT tri, COUNT(*) AS cnt FROM tri GROUP BY 1),
tot AS (SELECT SUM(cnt) AS t, COUNT(*) AS d FROM model),
lp AS (
  SELECT g.doc_id,
         CAST(ROUND(LN((m.cnt + 1.0) / (tot.t + tot.d)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM tri g JOIN model m USING (tri) CROSS JOIN tot
),
per_doc AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
         CAST(SUM(lp) * 1000000 AS BIGINT) AS sum_lp_e6
  FROM lp GROUP BY 1
),
ranked AS (
  SELECT d.lang, p.doc_id, p.n_tri, p.sum_lp_e6,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY CAST(p.sum_lp_e6 AS DOUBLE) / p.n_tri DESC,
                    p.doc_id ASC) AS rnk,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM documents d JOIN per_doc p USING (doc_id)
),
bucketed AS (
  SELECT lang,
         CASE WHEN 3 * rnk <= n THEN 'head'
              WHEN 3 * rnk <= 2 * n THEN 'middle'
              ELSE 'tail' END AS bucket,
         n_tri, sum_lp_e6
  FROM ranked
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tri) AS BIGINT) AS sum_trigrams,
       MIN(sum_lp_e6) AS min_sum_lp_e6,
       MAX(sum_lp_e6) AS max_sum_lp_e6
FROM bucketed GROUP BY 1, 2 ORDER BY lang, bucket
"""


@_q("ccnet_perplexity_buckets", _CCNET_ORACLE)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity tertiles (`functions/lm.py:
    lm_scores_exact`): self-train the char-trigram model on the corpus,
    score each doc by its exact integer log-prob sum, and cut each
    language into head/middle/tail thirds by the portable rank (score
    DESC = most typical first, ties by doc_id; edges are the integer
    tests 3*rank <= n / 2n). The model is one trigram groupBy (alphabet-
    cubed keys); docs shuffle once by lang for the rank window — the
    shape CCNet runs per Common Crawl snapshot."""
    from pyspark.sql import Window

    from ..functions import lm

    docs = load_table(spark, sf_dir, "documents")
    scores = lm.lm_scores_exact(docs).where(F.col("n_trigrams") > 0)
    joined = docs.select("doc_id", "lang").join(scores, "doc_id")
    wlang = Window.partitionBy("lang")
    w = wlang.orderBy(
        (F.col("sum_lp_e6").cast("double") / F.col("n_trigrams")).desc(),
        F.col("doc_id").asc(),
    )
    bucketed = (
        joined.withColumn("rnk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wlang))
        .withColumn(
            "bucket",
            F.when(3 * F.col("rnk") <= F.col("n"), F.lit("head"))
            .when(3 * F.col("rnk") <= 2 * F.col("n"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_trigrams").cast("long").alias("sum_trigrams"),
            F.min("sum_lp_e6").alias("min_sum_lp_e6"),
            F.max("sum_lp_e6").alias("max_sum_lp_e6"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Embedding drift (per-dimension PSI between two portable splits)
# ---------------------------------------------------------------------------
# The vector-column twin of value_drift_psi: split the embedding table in
# half by the portable md5 hash (a stand-in for "last month's vectors vs
# this month's re-embed"), histogram every dimension with the explicit
# portable bucket expression, and report each dimension's PSI as a
# scale-6 BIGINT from the exact DECIMAL term sum.
_EDRIFT_SEED = 11
_EDRIFT_ORACLE = f"""
WITH sides AS MATERIALIZED (
  SELECT CASE WHEN {_pu32_sql("vec_id", _EDRIFT_SEED)} < 2147483648
              THEN 'ref' ELSE 'cur' END AS side,
         CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings
),
t AS (SELECT side, q, unnest(range(1, len(q) + 1)) AS pos FROM sides),
terms AS (
  SELECT side, pos - 1 AS dim,
         LEAST(GREATEST(CAST(floor((q[pos] + 1.0) * 4.0) AS BIGINT), 0), 7)
           AS bucket
  FROM t
),
hist AS (
  SELECT dim, bucket,
         SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
  FROM terms GROUP BY 1, 2
),
tot AS (
  SELECT dim, bucket, n_ref, n_cur,
         SUM(n_ref) OVER (PARTITION BY dim) AS tr,
         SUM(n_cur) OVER (PARTITION BY dim) AS tc
  FROM hist
),
pq AS (
  -- empty-population short-circuit mirrors operators/drift.py: tr/tc == 0
  -- pins the smoothed share to the bare eps on both engines
  SELECT dim, tr, tc,
         CASE WHEN tr = 0 THEN 0.000001
              ELSE CAST(n_ref AS DOUBLE) / tr + 0.000001 END AS p,
         CASE WHEN tc = 0 THEN 0.000001
              ELSE CAST(n_cur AS DOUBLE) / tc + 0.000001 END AS q
  FROM tot
),
term AS (
  SELECT dim, tr, tc,
         CAST(ROUND((p - q) * ln(p / q), 6) AS DECIMAL(18,6)) AS term
  FROM pq
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(MAX(tr) AS BIGINT) AS n_ref,
       CAST(MAX(tc) AS BIGINT) AS n_cur,
       CAST(SUM(term) * 1000000 AS BIGINT) AS psi_e6
FROM term GROUP BY 1 ORDER BY dim
"""


@_q("embedding_drift_report", _EDRIFT_ORACLE)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift (`operators/drift.py:
    embedding_drift`): PSI of every embedding coordinate between two
    portable-hash halves of the vector table — the monitor a re-embed /
    model-swap pipeline runs before trusting its ANN indexes. Explicit
    IEEE bucket arithmetic and DECIMAL-rounded PSI terms make the whole
    report integer-exact; the histogram is dims x buckets rows no matter
    how many vectors flow in."""
    from ..operators.drift import embedding_drift
    from ..operators.sampling import portable_unit_hash32

    emb = load_table(spark, sf_dir, "embeddings")
    h = portable_unit_hash32("vec_id", _EDRIFT_SEED)
    ref = emb.where(h < F.lit(1 << 31))
    cur = emb.where(h >= F.lit(1 << 31))
    return (
        embedding_drift(ref, cur, "embedding", n_buckets=8)
        .select(F.col("dim").cast("long").alias("dim"), "n_ref", "n_cur", "psi_e6")
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Quality-signal correlation matrix (exact integer moments)
# ---------------------------------------------------------------------------
# Before gating a corpus on several quality signals, measure how
# redundant they are: near-collinear signals (|r| -> 1) gate the same
# docs twice, independent ones compound. Four per-doc INTEGER signals
# (chars, tokens, distinct types, top token count) reduce to one row of
# exact BIGINT moments; each Pearson r is then the fixed IEEE chain
# num / (sqrt(da) * sqrt(db)) over exact integers < 2^53 — bit-identical
# in both engines with no ROUND anywhere (the lineitem_correlation_matrix
# discipline applied to derived text features).
_SIGCORR_PAIRS = [
    ("chars", "tokens"),
    ("chars", "top_cnt"),
    ("chars", "types"),
    ("tokens", "top_cnt"),
    ("tokens", "types"),
    ("top_cnt", "types"),
]


def _sigcorr_oracle() -> str:
    moments = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
per AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types, MAX(c) AS top_cnt
  FROM cnt GROUP BY 1
),
sig AS MATERIALIZED (
  SELECT d.n_chars AS chars,
         COALESCE(p.n_tokens, 0) AS tokens,
         COALESCE(p.n_types, 0) AS types,
         COALESCE(p.top_cnt, 0) AS top_cnt
  FROM documents d LEFT JOIN per p USING (doc_id)
),
m AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sums}
  FROM sig
)
"""
    names = ["chars", "tokens", "types", "top_cnt"]
    sums = []
    for a in names:
        sums.append(f"CAST(SUM({a}) AS BIGINT) AS sx_{a}")
        sums.append(f"CAST(SUM({a} * {a}) AS BIGINT) AS sq_{a}")
    for a, b in _SIGCORR_PAIRS:
        sums.append(f"CAST(SUM({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    selects = []
    for a, b in _SIGCORR_PAIRS:
        selects.append(
            f"SELECT '{a}' AS signal_a, '{b}' AS signal_b, n AS n_docs,\n"
            f"  CAST(n * sp_{a}_{b} - sx_{a} * sx_{b} AS DOUBLE)\n"
            f"  / (sqrt(CAST(n * sq_{a} - sx_{a} * sx_{a} AS DOUBLE))\n"
            f"     * sqrt(CAST(n * sq_{b} - sx_{b} * sx_{b} AS DOUBLE)))\n"
            f"  AS corr FROM m"
        )
    return (
        moments.format(sums=",\n         ".join(sums))
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY signal_a, signal_b"
    )


@_q("quality_signal_correlation", _sigcorr_oracle())
def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over four exact-integer text-quality
    signals (chars / tokens / distinct types / top token count): one
    explode + one per-doc agg reduces the corpus to a single row of
    BIGINT moments (map-side combine all the way); each r is the fixed
    correctly-rounded chain num / (sqrt(da)*sqrt(db)) — no ROUND, no
    decimal cast, hash-identical across engines. The dashboard that
    decides whether two quality gates are redundant."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    per = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.max("c").alias("top_cnt"),
        )
    )
    sig = docs.join(per, "doc_id", "left").select(
        F.col("n_chars").cast("long").alias("chars"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("tokens"),
        F.coalesce("n_types", F.lit(0)).cast("long").alias("types"),
        F.coalesce("top_cnt", F.lit(0)).cast("long").alias("top_cnt"),
    )
    names = ["chars", "tokens", "types", "top_cnt"]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for a in names:
        aggs.append(F.sum(a).cast("long").alias(f"sx_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).cast("long").alias(f"sq_{a}"))
        aggs.append(F.max(F.abs(F.col(a))).cast("long").alias(f"mx_{a}"))
    for a, b in _SIGCORR_PAIRS:
        aggs.append(
            F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}")
        )
    m = sig.agg(*aggs)
    # Overflow guard: n*sp / n*sq / sx*sx are raw BIGINT products, and the
    # SUMs themselves can wrap in non-ANSI Spark while DuckDB errors, so
    # at ~1e7+ docs the engines would diverge instead of both failing.
    # Bound the INPUTS, not the outputs: per-column MAX(ABS(x)) is a
    # single row value that cannot wrap, so n * mx_a * mx_b >= |SUM(a*b)|
    # and n * mx_a >= |SUM(a)| hold in exact arithmetic — checking those
    # products in double (with margin: 4.0e18 < 2^62) proves every SUM
    # and every downstream product stayed inside int64, even though a
    # wrapped sum could alias to a small magnitude (ADVICE r8).
    n_d = F.col("n").cast("double")
    mx = {a: F.col(f"mx_{a}").cast("double") for a in names}
    sum_bounds = [n_d * mx[a] * mx[a] < F.lit(4.0e18) for a in names] + [
        n_d * mx[a] * mx[b] < F.lit(4.0e18) for a, b in _SIGCORR_PAIRS
    ]
    # n * (n * mx_a^2) bounds n*sq_a; (n*mx_a) * (n*mx_b) bounds sx_a*sx_b.
    prod_bounds = [n_d * n_d * mx[a] * mx[a] < F.lit(4.0e18) for a in names] + [
        (n_d * mx[a]) * (n_d * mx[b]) < F.lit(4.0e18)
        for a, b in _SIGCORR_PAIRS
    ]
    safe = F.lit(True)
    for c in sum_bounds + prod_bounds:
        safe = safe & c
    for a, b in _SIGCORR_PAIRS:
        num = (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"sx_{a}") * F.col(f"sx_{b}")).cast("double")
        da = (F.col("n") * F.col(f"sq_{a}") - F.col(f"sx_{a}") * F.col(f"sx_{a}")).cast("double")
        db = (F.col("n") * F.col(f"sq_{b}") - F.col(f"sx_{b}") * F.col(f"sx_{b}")).cast("double")
        m = m.withColumn(
            f"corr_{a}_{b}",
            F.when(safe, num / (F.sqrt(da) * F.sqrt(db))).otherwise(
                F.raise_error(
                    "quality_signal_correlation: BIGINT moment product "
                    "would overflow int64 — corpus too large for the "
                    "exact-integer path"
                )
            ),
        )
    stack_args = ", ".join(
        f"'{a}', '{b}', corr_{a}_{b}" for a, b in _SIGCORR_PAIRS
    )
    return (
        m.selectExpr(
            "n AS n_docs",
            f"stack({len(_SIGCORR_PAIRS)}, {stack_args})"
            " AS (signal_a, signal_b, corr)",
        )
        .select("signal_a", "signal_b", "n_docs", "corr")
        .orderBy("signal_a", "signal_b")
    )


# ---------------------------------------------------------------------------
# Fixed-point integer k-means (document clustering, bit-exact replay)
# ---------------------------------------------------------------------------
def _kmeans_oracle(k: int = 8, iters: int = 4) -> str:
    """Unrolled SQL replay of `operators/kmeans.kmeans_fixedpoint`: per
    Lloyd step, an exact-integer argmin assignment (ties to the smaller
    cluster id) and a truncating-division centroid update; an emptied
    cluster keeps its previous centroid. Every CTE MATERIALIZED (the
    unrolled-chain rule); distances downscale 2^20 per point before the
    inertia sum. tdiv needs the CASE flip — coordinate sums go negative."""
    from .pipeline_ops import _tdiv_sql

    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(f"""
d{t} AS (
  SELECT p.vec_id, c.cluster,
         list_aggregate(list_transform(generate_series(1, len(p.q)),
           i -> (p.q[i] * 1024 - c.c[i]) * (p.q[i] * 1024 - c.c[i])),
           'sum') AS dist
  FROM pts p CROSS JOIN {prev} c
),
a{t} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM d{t}) WHERE rn = 1
),
u{t} AS (
  SELECT a.cluster, i AS dim, SUM(p.q[i]) AS s, COUNT(*) AS n
  FROM a{t} a JOIN pts p USING (vec_id),
       UNNEST(generate_series(1, len(p.q))) AS it(i)
  GROUP BY 1, 2
),
c{t} AS MATERIALIZED (
  SELECT prev.cluster, COALESCE(nc.c, prev.c) AS c
  FROM {prev} prev LEFT JOIN (
    SELECT cluster,
           list(CAST({_tdiv_sql("s * 1024", "n")} AS BIGINT)
                ORDER BY dim) AS c
    FROM u{t} GROUP BY cluster) nc USING (cluster)
)""")
        prev = f"c{t}"
    return f"""
WITH pts AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 4096) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT vec_id AS cluster, list_transform(q, v -> v * 1024) AS c
  FROM pts WHERE vec_id < {k}
),{",".join(steps)},
fd AS (
  SELECT p.vec_id, c.cluster,
         list_aggregate(list_transform(generate_series(1, len(p.q)),
           i -> (p.q[i] * 1024 - c.c[i]) * (p.q[i] * 1024 - c.c[i])),
           'sum') AS dist
  FROM pts p CROSS JOIN {prev} c
),
fa AS MATERIALIZED (
  SELECT vec_id, cluster, dist // 1048576 AS dist_sc FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM fd) WHERE rn = 1
),
st AS (
  SELECT cluster,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(dist_sc) AS BIGINT) AS sum_dist,
         CAST(MIN(vec_id) AS BIGINT) AS min_member
  FROM fa GROUP BY 1
)
SELECT CAST(c.cluster AS BIGINT) AS cluster,
       COALESCE(st.n_members, 0) AS n_members,
       COALESCE(st.sum_dist, 0) AS sum_dist,
       COALESCE(st.min_member, -1) AS min_member,
       CAST(list_aggregate(c.c, 'sum') AS BIGINT) AS centroid_sum
FROM {prev} c LEFT JOIN st USING (cluster)
ORDER BY cluster
"""


@_q("embedding_kmeans_fixedpoint", _kmeans_oracle())
def embedding_kmeans_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer k-means clustering (`operators/kmeans.py`): 4 Lloyd
    steps over 4096-quantized embeddings with 1024x-subprecision integer
    centroids — the clustering core of SemDeDup/D4/IVF rebuilt in the
    pagerank_fixedpoint discipline, so the full iteration (assignments,
    truncating centroid updates, empty-cluster guard, 2^20-scaled
    inertia) replays in SQL bit-for-bit. Cluster work per step: one
    argmin pass against k literal centroid arrays (no join, no shuffle)
    + one (cluster, dim)-keyed agg; the driver holds k*d integers."""
    from ..operators.kmeans import kmeans_fixedpoint

    emb = load_table(spark, sf_dir, "embeddings")
    stats, _cents = kmeans_fixedpoint(
        emb, "embedding", "vec_id", k=8, iters=4
    )
    return stats.orderBy("cluster")
