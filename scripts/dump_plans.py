#!/usr/bin/env python
"""Dump .explain('formatted') physical plans, the artifact for reviewing
plan quality (pushdown, pruning, join strategy, exchange count) without
re-running anything.

Usage:
  python scripts/dump_plans.py --tag before q1 q2 ...   # plans/r10/<q>_<tag>.txt
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/dump_plans.py
                                        # no query names: PLANS.md, headline set

Lifecycle/streaming builders run their replay as a side effect of plan
construction; the dumped plan is the final returned frame's (what the
bench's noop sink executes)."""

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

HEADLINE = [
    "q1",                      # pushdown + top-k
    "q7",                      # one-scan profiling battery
    "q10",                     # broadcast dimension chain
    "tpch_q1_pricing_summary", # partial+final agg
    "tpch_q8_market_share",    # 7-table star
    "tpch_q21_last_to_ship_supplier",  # semi+anti same table
    "value_band_join",         # bucketized interval join
    "corpus_prep_funnel",      # flagship text funnel
    "dedup_minhash_lsh",       # banded LSH + verify joins
    "ann_topk_bruteforce",     # blocked matmul partial top-k
    "scd2_current_state",      # window current-state
    "user_session_windows",    # native session windows
    "pack_documents",          # sharded next-fit packing (Arrow groups)
    "contamination_check",     # broadcast n-gram semi-join
    "alert_rules_fired",       # broadcast rules x metrics (r5)
    "quantile_bucket_auc",     # partition-offset NTILE + bigint ranks (r5)
    "url_domain_dedup",        # pure-expression URL canonicalization (r5)
    "conversion_funnel",       # staged min-agg survivor joins
    "value_drift_psi",         # independent histograms + broadcast compare
    "event_rate_anomalies",    # pre-aggregated trailing-window z-score
    "corpus_prep_funnel_v2",   # flagship: full training-data pipeline
    "corpus_prep_funnel_v3",   # flagship r6: v2 + Gopher repetition gate
    "gopher_repetition_report", # one-explode all-n gram counters (r6)
    "c4_filter_report",        # C4 line/doc rules, explode_outer shape (r6)
    "embedding_covariance_report",  # 64-key moment agg, map-side combine (r6)
    "value_outliers_mad",      # robust z via broadcast scalar joins
    "referential_integrity",   # FK orphan audit, broadcast dimensions
    "heavy_hitter_users",      # candidate gen + broadcast confirm
    "rfm_segments",            # partition-offset NTILE, no global window
    "triangle_copurchase",     # degree-oriented wedge join
    "user_value_gap_fill",     # per-key grid + IGNORE NULLS fills
    "pareto_abc_parts",        # scalable exact cumsum
    "document_chunks",         # pure-expression chunking, md5-verified
    "cohort_ltv_curves",       # entity-bounded cumulative revenue
    "line_corpus_dedup",       # md5-keyed line keeper join (r7)
    "doremi_domain_weights",   # fixed-point multiplicative weights (r7)
    "coreset_diversity_sample", # per-cell farthest-point, keyed window (r7)
    "stratified_sample_exact", # largest-remainder quotas + one stratum window (r7)
    "ccnet_perplexity_buckets", # exact LM sums, per-lang rank tertiles (r7)
    "embedding_drift_report",  # one combined (dim,bucket) histogram agg (r7)
    "hll_intersection_report", # sketch blobs + broadcast pair joins (r7)
    "quality_signal_correlation",  # one-row integer moment agg + stack (r7)
    "k_anonymity_audit",       # bounded QI grouped count (r7)
    "retrieval_ndcg_report",   # blocked top-k + literal discount table (r7)
    "market_basket_rules",     # bounded pair join + broadcast margins
    "dau_wau_stickiness",      # coverage-explode sliding distinct
    "bloom_filtered_revenue",  # runtime bloom filter below the join
    "skyline_orders",          # banded 2-level prefix scan (r4)
    "golden_record_users",     # one-shuffle survivorship merge (r4)
    "bm25_topk",               # term-filtered BM25 + top-k (r4)
    "curriculum_quartiles",    # partition-offset NTILE rewrite (r4)
    "events_filtered_page",    # TakeOrderedAndProject pagination (r4)
    "ks_price_distance",       # distinct-collapse + multi-cumsum (r4)
    "dsir_importance_weights", # vocab-bounded model + word-keyed join (r5)
]

PLANS_MD_HEADER = [
    "# PLANS — formatted physical plans for the headline queries",
    "",
    "Generated by `scripts/dump_plans.py` (no query names) at `{sf_dir}`.",
    "Read for: PushedFilters reaching the scan, ReadSchema column pruning,",
    "broadcast vs sort-merge choices, exchange counts, WholeStageCodegen",
    "spans, and the absence of non-scalar CartesianProduct/",
    "BroadcastNestedLoopJoin nodes (single-row scalar broadcasts — a",
    "global count/total joined Cross — are the standard scalar idiom",
    "and are allowlisted by `tests/test_plan_audit_global.py`).",
    "",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag")
    ap.add_argument("--outdir", default="plans/r10")
    args = ap.parse_args()
    if args.queries and not args.tag:
        ap.error("--tag is required with query names")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    from cdc_application_febuary_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name="dump-plans", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    def plan(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    if args.queries:
        out = ROOT / args.outdir
        out.mkdir(parents=True, exist_ok=True)
        for name in args.queries:
            text = plan(name)
            (out / f"{name}_{args.tag}.txt").write_text(text)
            print(f"wrote {name}_{args.tag}.txt ({len(text)} bytes)", flush=True)
    else:
        md = [line.format(sf_dir=sf_dir) for line in PLANS_MD_HEADER]
        for name in HEADLINE:
            md.append(f"## {name}\n\n```\n{plan(name).rstrip()}\n```\n")
        (ROOT / "PLANS.md").write_text("\n".join(md))
        print(f"wrote PLANS.md ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
