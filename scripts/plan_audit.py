#!/usr/bin/env python
"""Physical-plan audit over every registered gate query.

Flags the shapes that break at 100 TB:
- CartesianProduct anywhere;
- BroadcastNestedLoopJoin (acceptable only for tiny literal dims — flagged
  for manual review);
- SortMergeJoin (every gate join should broadcast at these dim sizes);
- parquet scans with no ReadSchema pruning (SELECT * smell) on wide tables;
- a scan feeding a Filter whose predicate did NOT push down (no
  PushedFilters on a filtered scan).

Streaming queries are skipped (plans only exist while running).
Usage: python scripts/plan_audit.py [sf_dir]   (prints one line per query)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moosestack_spark import registry
from moosestack_spark.session import get_spark

# reviewed exceptions — flag kinds that are the CORRECT plan for the query
ALLOWED = {
    # full outer join cannot use a broadcast build side; sort-merge is the
    # right strategy (both inputs here are key-partitioned once)
    "join_full_outer": {"SMJ"},
    # deliberate cross join of an 8-row broadcast query set against the
    # candidate scan: BroadcastNestedLoopJoin IS the broadcast-side plan
    "similarity_bruteforce_topk": {"BNLJ"},
    "similarity_quantized_topk": {"BNLJ"},
    # same deliberate 8-row broadcast-query cross join, band-filtered —
    # the hard-negative miner shares the brute-force kernel's shape
    "similarity_hard_negatives": {"BNLJ"},
    # scalar-subquery shape: a ONE-row aggregate (the avg-balance
    # threshold) broadcast-crossed into customer — the broadcast side is a
    # single row at any SF
    "analytics_idle_customers": {"BNLJ"},
    # WITH FILL spine: dense hour grid x 5-row distinct event types, both
    # sides tiny by construction (bounded by time range, not data volume)
    "ts_gap_fill_hourly": {"BNLJ"},
    # same spine shape, carry-forward variant
    "ts_gap_fill_interpolate": {"BNLJ"},
    # TPC-H Q11 shape: the global-total threshold is a ONE-row aggregate
    # broadcast-crossed onto the per-part aggregate
    "analytics_important_parts": {"BNLJ"},
    # TPC-H Q15 shape: scalar MAX(total_rev) — same one-row broadcast cross
    "analytics_top_supplier": {"BNLJ"},
    # good/bad totals: a ONE-row aggregate broadcast-crossed onto the
    # 5-row per-category counts (operators/stats_tests.py)
    "agg_categorical_iv": {"BNLJ"},
    # (sum, n) scalars: a ONE-row aggregate broadcast-crossed onto the
    # calendar-bounded daily series (operators/timeseries.py)
    "ts_changepoint_cusum": {"BNLJ"},
    # half-split scalar + (t1, t2, nb) totals: two ONE-row aggregates
    # broadcast-crossed onto the 10-row bucket matrix (ops/profile.py)
    "profile_psi_drift": {"BNLJ"},
    # floored-mean scalar + the 7-row lag spine, both broadcast-crossed
    # onto the calendar-bounded daily series (operators/timeseries.py)
    "ts_autocorrelation": {"BNLJ"},
    # overall floored-mean: ONE-row aggregate broadcast-crossed onto the
    # daily series; dow means join is a 7-row broadcast hash join
    "ts_seasonal_decompose": {"BNLJ"},
    # unigram-LM normalizer: the total-token count is a ONE-row aggregate
    # broadcast-crossed onto the per-doc scores (ops/lm_score.py:71)
    "text_unigram_logprob": {"BNLJ"},
    # tf-idf retrieval: N (one row) and D (one row) ride as broadcast
    # scalar crosses; the |terms|-row df table is a broadcast hash join
    # (ops/retrieval.py — plan pinned no-SMJ in
    # tests/test_layout_profile_retrieval.py)
    "text_tfidf_retrieval": {"BNLJ"},
    # BM25: the (N, L) totals ride as a one-row broadcast cross (same
    # shape); the tf<->dl doc-length join is keyed (ops/retrieval.py)
    "text_bm25_retrieval": {"BNLJ"},
    # stratified sampler: the (N, T) totals and the leftover count are
    # one-row broadcast crosses onto the |strata|-row allocation frame
    # (ops/corpus.py stratified_sample)
    "corpus_stratified_sample": {"BNLJ"},
    # composed export report embeds the same sampler, same one-row crosses
    "corpus_export_report": {"BNLJ"},
    # KS statistic: the (n1, n2) totals are a ONE-row aggregate
    # broadcast-crossed onto the distinct-value ECDF rows
    "agg_ks_test": {"BNLJ"},
    # Theil's U: three ONE-row aggregates (joint + two marginals) crossed
    "agg_theils_u": {"BNLJ"},
    # KMV set ops: two ONE-row sketch frames (k-min arrays for the two
    # groups) crossed — broadcast nested loop of 1x1 rows by construction
    "agg_kmv_set_ops": {"BNLJ"},
    # Stupid-Backoff normalizer: the total-token count is a ONE-row
    # aggregate broadcast-crossed onto per-bigram scores (same shape as
    # text_unigram_logprob); the bigram-model join itself is a keyed
    # shuffle hash/sort join by DESIGN — an n-gram model outgrows
    # broadcast at corpus scale
    "text_bigram_backoff_logprob": {"BNLJ"},
    # cohort churn: the last-complete-week cutoff is a ONE-row max(week)
    # aggregate broadcast-crossed onto the weekly activity rows — the
    # reviewed scalar-subquery shape (operators/analytics_classics.py)
    "cohort_churn_weekly": {"BNLJ"},
    # cluster->quality and cluster->keeper joins are keyed equi-joins on
    # doc_id/cluster_id; at 100 TB the near-dup cluster table is NOT
    # broadcastable, so the key-partitioned sort-merge IS the right plan
    # (at sf0.001 AQE just doesn't see enough stats to pick BHJ)
    "dedup_quality_keeper": {"SMJ"},
    # substring REWRITE: the gram self-join and the (doc, pos) anti-join
    # against the delete set are equi-joins whose BOTH sides are
    # corpus-scale (grams ~ tokens, delete set ~ duplicated tokens) — at
    # 100 TB neither side broadcasts, so the key-partitioned sort-merge IS
    # the right plan (same argument as dedup_quality_keeper)
    "dedup_substring_clean": {"SMJ"},
    # greedy funnel level advances are equi-joins on the user key with
    # range predicates; both sides are event-scale (never broadcastable),
    # so user-key-partitioned SMJ is the correct distributed shape — same
    # argument as the witness-join funnel, tripled by the 3-mode union
    "funnel_modes_compare": {"SMJ"},
    # NSW walk seeding: the 8-row query set broadcast-crossed with the
    # n_entry hub ids (both driver-bounded; the cross re-appears once per
    # unrolled hop in the plan tree).  Every corpus-side join (vector
    # fetch, graph expansion) is a broadcast HASH join on node id.
    "similarity_graph_search": {"BNLJ"},
}


def audit(sf_dir: str) -> int:
    registry.load_all()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    n_flags = 0
    for name in sorted(registry.QUERIES):
        if name.startswith(registry.BUILD_TIME_PREFIXES):
            print(f"{name:40s} SKIP (runs a job at build time)")
            continue
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan:
            flags.append("BNLJ")
        if "SortMergeJoin" in plan:
            flags.append("SMJ")
        ex = plan.count("Exchange") - plan.count("ReusedExchange")
        unexplained = [f for f in flags if f not in ALLOWED.get(name, set())]
        status = ",".join(flags) + ("" if not flags else " (allowed)" if not unexplained else " (FLAG)") if flags else "ok"
        if unexplained:
            n_flags += 1
        print(f"{name:40s} {status:24s} exchanges={ex}")
    return n_flags


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(1 if audit(sf) else 0)
