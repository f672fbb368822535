#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock over the headline set (lower is better).  Extras
and the scale tiers go to stderr and the BENCH_extras*.json sidecar; each
tier runs as `bench.py --scale-tier <factor> <sf_dir>` in its own process.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from moosestack_spark import registry
from moosestack_spark.session import get_spark, materialization_scope

HEADLINE = [
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_having",
    "join_star_multi",
    "join_left_lookup",
    "join_theta",
    "window_row_number_topk",
    "window_running_sum",
    "filter_in_between",
    "sort_multikey_limit",
    "setop_union_merge",
    "scalar_date_bucketing",
    "scalar_json_extract",
    "engine_replacing_dedup",
    "mv_incremental_daily_rollup",
    "mv_hypertable_rollup",
    "join_asof",
    "join_range_buckets",
    "analytics_shipping_priority",
    "analytics_local_supplier_volume",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_bruteforce_topk",
    "similarity_ivf",
    "text_token_stats",
    "text_fingerprint",
    "text_lang_id",
    "agg_quantile",
    "sql_ch_dialect_translated",
    "streaming_windowed_agg",
]

# Measured after the frozen HEADLINE set; reported as extra_queries and NOT
# included in `value` (see run_suite call sites).
EXTRA = [
    "analytics_min_cost_supplier",
    "analytics_priority_exists",
    "analytics_nation_profit",
    "analytics_important_parts",
    "analytics_customer_distribution",
    "analytics_top_supplier",
    "analytics_small_quantity_revenue",
    "analytics_disjunctive_predicates",
    "analytics_excess_suppliers",
    "analytics_waiting_suppliers",
    "dedup_connected_components",
    "ts_gap_fill_interpolate",
    "agg_if_combinators",
    "agg_array_combinators",
    "streaming_cdc_apply",
    "funnel_view_click_purchase",
    "retention_weekly",
    "sql_ch_dialect_geo",
    "sql_ch_dialect_rounding",
    "sql_ch_dialect_search",
    "agg_bitmap_cardinalities",
    "text_hashed_classifier",
    "agg_hll_deterministic",
    "streaming_hll_distinct",
    "sql_ch_dialect_intervals",
    "sql_ch_dialect_arrays2",
    "sql_ch_dialect_maps_format",
    "agg_sequence_count",
    # heavier training-pipeline paths: the composed curation plan, BPE
    # tokenization throughput, sequence packing, and the LSH-pruned
    # embedding dedup (the gated 100 TB path)
    "corpus_curation_pipeline",
    "text_bpe_tokenize",
    "text_pack_sequences",
    "dedup_embedding_cosine_pruned",
    # latest session additions
    "agg_max_intersections",
    "agg_group_array_sorted",
    "agg_welch_ttest",
    "agg_mann_whitney_u",
    "agg_ks_test",
    "agg_cramers_v",
    "funnel_strict_order",
    "dedup_minhash_incremental",
    "similarity_pq_topk",
    "source_schema_evolution_defaults",
    "sql_ch_dialect_datetime64",
    "sql_ch_dialect_bits_misc",
    "agg_spearman_corr",
    "text_readability",
    "corpus_quality_ensemble",
    # round-4 additions
    "dedup_connected_components_star",
    "dedup_semantic_cluster",
    "similarity_lsh_bucketed",
    "scalar_json_typed_paths",
    "sample_hash_mod",
    # round-6 additions
    "multimodal_webp_features",
    "agg_uniq_approx",
    "sql_ch_dialect_vocab_r6",
    "source_iceberg_native_read",
    "agg_kmv_distinct",
    "agg_kmv_set_ops",
    "layout_hilbert_index",
    "agg_moving_window_arrays",
    "source_delta_native_read",
    "streaming_kmv_distinct",
    "source_ch_formats_roundtrip",
    # round-6 late-session additions
    "source_iceberg_deletes_read",
    "source_delta_dv_read",
    "source_avro_roundtrip",
    "agg_space_saving_topk",
    "sql_ch_dialect_vocab_r6c",
    "agg_delta_max_intersections",
    "source_iceberg_compact_read",
    "dedup_winnowing_fingerprints",
    "graph_kcore",
    "graph_bfs_distance",
    "join_interval_overlap",
    "similarity_hard_negatives",
    "source_rowbinary_roundtrip",
    "agg_ols_multifeature",
    "source_iceberg_bucket_read",
    "source_delta_mapped_read",
    "streaming_space_saving_topk",
    "join_fuzzy_blocked",
    # round-7 additions
    "sql_ch_dialect_vocab_r7",
    "sql_ch_dialect_vocab_r7b",
    "agg_student_ttest",
    "agg_kruskal_wallis",
    "ts_ewma_smoothing",
    "ts_changepoint_cusum",
    "ts_anomaly_mad",
    "cluster_kmeans_embeddings",
    "embedding_random_projection",
    "graph_label_propagation",
    "similarity_knn_graph",
    "table_scd2_build",
    "cohort_retention_matrix",
    "attribution_last_touch",
    "basket_pair_lift",
    "agg_gini_revenue",
    "agg_markov_transitions",
    # round-7 late-session additions
    "ts_autocorrelation",
    "ts_seasonal_decompose",
    "ts_seasonal_naive_skill",
    "sql_ch_dialect_vocab_r7c",
    "sql_ch_dialect_vocab_r7d",
    "streaming_scd2_apply",
    "join_nearest_event",
    "profile_psi_drift",
    "funnel_time_to_convert",
    "text_ngram_diversity",
    "mv_incremental_join",
    # round-8 additions
    "dedup_embedding_cosine_pruned_auto",
    "source_iceberg_multifield_read",
    "multimodal_ogg_metadata",
    "sql_ch_dialect_vocab_r8",
    "sql_ch_dialect_vocab_r8b",
    "text_bm25_retrieval",
    "corpus_stratified_sample",
    "text_keyword_topk",
    "source_iceberg_clustered_read",
    "corpus_export_report",
    "sql_ch_dialect_vocab_r8c",
    "window_nonnegative_derivative",
    "agg_proportions_ztest",
    # round-9 additions
    "source_iceberg_rest_read",
    "source_iceberg_rest_timetravel",
    "multimodal_avi_frames",
    "dedup_substring_clean",
    "sql_ch_dialect_vocab_r9",
    "sql_ch_dialect_vocab_r9b",
    "corpus_domain_quality_filter",
    "source_iceberg_rest_delete",
    "similarity_ivf_pq_topk",
    "multimodal_motion_frames",
    "sql_ch_dialect_vocab_r9c",
    "graph_pagerank_personalized",
]


# Scale tiers: corpus factor -> entries, timed on a factor-x corpus built
# from $SPARK_GRAFT_SF_DIR by _make_scaled_dir (text word order
# hash-permuted per replica so replicas are not near-dups; embeddings
# rotated so directions decorrelate).  Sub-linear growth between tiers is
# the empirical check on the "bucketed, not all-pairs" design claims.  An
# entry is a registry query name, or a SCALE_FIXTURES name when the gate's
# own call shape does not scale.
SCALE_TIERS = {
    30: [
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine_pruned",
        "corpus_curation_pipeline",
        "similarity_ivf",
        # near-clique dedup graph, so propagation should stay ahead; the
        # cc_chain fixtures below are where star/hybrid win
        "dedup_connected_components",
        "dedup_connected_components_star",
        "dedup_connected_components_hybrid",
        "dedup_winnowing_fingerprints",
        # substring REWRITE is gram-linear with the df cap bounding the
        # pair fan-out, same contract as minhash
        "dedup_substring_clean",
        "corpus_domain_quality_filter",
        # IVF-PQ: ADC volume is nprobe/n_cells of the corpus
        "similarity_ivf_pq_topk",
        # NSW walk: the banded graph build plus queries x beam rows per hop
        "similarity_graph_search",
        # k-means is iterations x one scan + model-sized collects; LPA is
        # rounds x (vertex join + argmax groupBy)
        "cluster_kmeans_embeddings",
        "graph_label_propagation",
        "dedup_embedding_auto_t90",
        "graph_kcore",
        "similarity_knn_graph",
        "cc_chain_propagation",
        "cc_chain_star",
        "cc_chain_hybrid",
    ],
    # the second decade, on the core curation family the dedup/ANN claims
    # rest on (sf1-equivalent from sf0.1)
    100: [
        "dedup_exact",
        "dedup_minhash_lsh",
        "corpus_curation_pipeline",
        "dedup_connected_components_hybrid",
        "similarity_ivf_pq_topk",
        "dedup_embedding_auto_t90",
    ],
    # one more decade on the entry closest to linear
    300: ["dedup_minhash_lsh"],
}


def _calibrate(n: int = 15_000_000) -> float:
    """Fixed-work single-thread loop (~1-2 s on an idle host): emitted as
    calib_sec so any reader can normalize host speed mechanically.  Round 7
    shipped hot-machine numbers (headline 26.9 s vs 23.4 s idle, 120 s vs
    5.5 s minhash at 30x) because nothing in the artifact recorded how fast
    the host actually was; this constant makes cross-round comparison
    load-aware.  Pure integer LCG so the work is identical on every run."""
    start = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 1664525 + 1013904223 + i) & 0xFFFFFFFF
    assert x >= 0
    return round(time.perf_counter() - start, 3)


def _sidecar_target(prev, sf, loadavg, repo_dir: str) -> tuple:
    """Where this run's sidecar goes, given the existing committed one.

    - another-SF smoke must never displace the driver-SF record;
    - a loaded-host run (loadavg > 2 and hotter than the committed record)
      goes to .hot.json REGARDLESS of code revision — round 8's driver run
      clobbered the clean record with loadavg-6.38 numbers, and the
      driver's end-of-round invocation always carries a newer revision, so
      a same-rev condition cannot protect against exactly that case.
    Returns (path, reason-or-None).  Pure so tests pin every branch.
    """
    import os as _os

    base = _os.path.join(repo_dir, "BENCH_extras.json")
    if prev is None:
        return base, None
    if prev.get("sf") is not None and prev.get("sf") != sf:
        return (
            _os.path.join(repo_dir, f"BENCH_extras.sf{sf}.json"),
            f"existing sidecar is sf={prev.get('sf')}, this run is sf={sf}; "
            f"writing the SF-suffixed file.",
        )
    prev_load = prev.get("loadavg_start")
    if (
        isinstance(prev_load, (int, float))
        and loadavg is not None
        and loadavg > max(2.0, prev_load)
    ):
        return (
            _os.path.join(repo_dir, "BENCH_extras.hot.json"),
            f"existing sidecar has loadavg_start={prev_load} < this run's "
            f"{loadavg}; writing the hot file instead of overwriting the "
            f"cleaner record.",
        )
    return base, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # The headline drain gates on the 1-min average only: the 5-min average
    # decays too slowly to fall under 0.4 within the 4-min cap after any
    # earlier work, so gating on it made every such run wait the full cap.
    _drain("BENCH-HEADLINE-DRAIN", 0.4)
    try:
        loadavg = round(os.getloadavg()[0], 2)
    except OSError:
        loadavg = None
    calib = _calibrate()
    if loadavg is not None and loadavg > 2.0:
        print(
            f"BENCH-HOST-WARNING: 1-min load average {loadavg} > 2 at start "
            f"— timings in this run are likely inflated by a concurrent "
            f"workload (calib_sec={calib}). Re-run on an idle machine for "
            f"comparable numbers.",
            file=sys.stderr,
        )
    registry.load_all()
    spark = get_spark("moosestack-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session so per-query numbers measure the plan, not init.
    registry.QUERIES["agg_pricing_summary"](spark, sf_dir).count()
    try:
        # session-window warms the STATEFUL streaming machinery (state
        # store provider, watermark tracking, streaming JIT — ~2 s of fixed
        # cost) WITHOUT pre-running any HEADLINE query, so
        # streaming_windowed_agg itself still runs cold and round-over-round
        # trend numbers stay comparable
        registry.QUERIES["streaming_session_window"](spark, "/root/testdata/sf0.001").count()
    except Exception:
        pass  # warmup is best-effort; the measured query still runs cold
    _warm_up(spark)

    def run_suite(names: list[str]) -> dict[str, float | None]:
        out: dict[str, float | None] = {}
        for name in names:
            fn = registry.QUERIES[name]
            # the scope frees the query's checkpoint blocks after the timer
            with materialization_scope(spark):
                start = time.perf_counter()
                try:
                    df = fn(spark, sf_dir)
                    # Force full execution without driver-side materialization
                    # cost dominating: count() collapses to one long.
                    df.count()
                    out[name] = round(time.perf_counter() - start, 3)
                except Exception as exc:  # one broken query must never zero the run
                    print(f"BENCH-ERROR {name}: {exc!r}"[:500], file=sys.stderr)
                    out[name] = None
        return out

    timings = run_suite(HEADLINE)
    headline_only = _headline_only()
    # Newer operators measured OUTSIDE the headline total: the HEADLINE list
    # and its `value` stay frozen for round-over-round comparability, while
    # extra_queries still gives per-round perf evidence for recent work.
    extras = {} if headline_only else run_suite(EXTRA)

    # Each scale tier runs in its own python+JVM SUBPROCESS.  spark.stop()
    # + get_spark() in-process reuses the same JVM through the py4j
    # gateway, and the hot JVM's accumulated JIT/GC/listener state slowed
    # the early scale queries 2-10x (minhash 30x: 69 s in-process vs 9.8 s
    # in a fresh process, idle machine both times).  Startup is outside
    # every timer.
    tiers: dict = {factor: {} for factor in SCALE_TIERS}
    if not headline_only:
        spark.stop()
        for factor, sink in tiers.items():
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--scale-tier", str(factor), sf_dir],
                    capture_output=True,
                    text=True,
                    timeout=3600,
                )
                sys.stderr.write(proc.stderr[-4000:])
                sink.update(json.loads(proc.stdout.strip().splitlines()[-1]))
            except Exception as exc:
                print(
                    f"BENCH-SCALE-SETUP-ERROR ({factor}x): {exc!r}"[:500],
                    file=sys.stderr,
                )

    total = round(sum(v for v in timings.values() if v is not None), 3)
    # The driver records only a ~2000-char tail of stdout and parses the
    # final JSON line.  Keep that line to the frozen headline set only
    # (~1.3 kB); extras + scale tiers go to stderr AND a sidecar file so
    # per-round perf evidence for newer operators is still committed.
    try:
        git_rev = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        git_rev = None
    sidecar = {
        "extra_queries": extras,
        **{
            "scale_queries" + _tier_suffix(f): {"factor": f, **t}
            for f, t in tiers.items()
        },
        # per-query growth between tiers: the corpus grows 3.33x from 30x
        # to 100x and 3.0x from 100x to 300x, so sub-linear operators stay
        # under ~3.3x
        "scale_growth_100x_over_30x": _growth(tiers[100], tiers[30]),
        "scale_growth_300x_over_100x": _growth(tiers[300], tiers[100]),
        "sf": sf,
        "calib_sec": calib,
        "loadavg_start": loadavg,
        "git_rev": git_rev,
        # Calib-normalized work-units (seconds / calib_sec) so cross-round
        # and cross-host comparison is mechanical (VERDICT r8 #2d): r8's
        # idle anchor is headline 23.573 s at calib 1.602 = 14.72 units.
        "headline_total_sec": total,
        "headline_norm_units": round(total / calib, 3) if calib else None,
        "scale_norm_units": {
            k: (round(v / calib, 3) if isinstance(v, (int, float)) and calib else v)
            for k, v in tiers[30].items()
            if not k.endswith(("_raw", "_error"))
        },
        # max/min of each entry's three timed laps: how far the median can
        # be trusted; a spread near 1.0 marks laps comparable directly
        **{
            "scale_spread" + _tier_suffix(f): {
                k[: -len("_raw")]: _spread(v)
                for k, v in t.items()
                if k.endswith("_raw")
            }
            for f, t in tiers.items()
        },
    }
    print(json.dumps(sidecar), file=sys.stderr)
    if not headline_only:  # a headline-only run never clobbers the sidecar
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        # Clobber guard (VERDICT r8 "what's wrong" #1): a load-inflated or
        # other-SF run must not overwrite the committed clean record; see
        # _sidecar_target for where it goes instead.
        try:
            with open(os.path.join(repo_dir, "BENCH_extras.json")) as fh:
                prev = json.load(fh)
        except (OSError, ValueError):
            prev = None  # no prior sidecar or unreadable: write fresh
        target, why = _sidecar_target(prev, sf, loadavg, repo_dir)
        if why:
            print(f"BENCH-SIDECAR-GUARD: {why}", file=sys.stderr)
        try:
            with open(target, "w") as fh:
                json.dump(sidecar, fh, indent=1)
        except OSError as exc:
            print(f"BENCH-SIDECAR-ERROR: {exc!r}", file=sys.stderr)
    line = json.dumps(
        {
            "metric": "headline_suite_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "calib_sec": calib,
            "loadavg_start": loadavg,
        }
    )
    if len(line) > 1900:  # hard guard: never regress the driver's parse again
        line = json.dumps(
            {
                "metric": "headline_suite_total_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "calib_sec": calib,
                "loadavg_start": loadavg,
            }
        )
    print(line)


def _drain(label: str, limit: float) -> None:
    """Wait (cap 4 min) until the 1-min load average is under ``limit``
    before any timer starts.  bench.py runs right after other heavy work
    (the correctness sweep, the headline+extras suite), and a still-draining
    host inflates the first timed queries 2-3x (measured: minhash 28.7 s at
    1-min load 1.6 vs 8.0 s at 0.02; r10's headline 76.8 s at load 4.65).
    A host that never cools proceeds with a note, so the driver always
    gets a line."""
    try:
        waited = 0.0
        while waited < 240.0 and os.getloadavg()[0] > limit:
            time.sleep(5.0)
            waited += 5.0
        if waited:
            la = os.getloadavg()
            print(
                f"{label}: waited {waited:.0f}s for load {la[0]:.2f}/{la[1]:.2f}",
                file=sys.stderr,
            )
    except OSError:
        pass


def _warm_up(spark) -> None:
    """Pay a fresh JVM's two one-time costs outside every timer: the
    Python/Arrow worker pool (pyspark daemon fork, Arrow + numpy import per
    worker — ~1-2 s inside the first pandas-kernel query) and the
    whole-stage-codegen compiler on the session's biggest generated
    classes (the first wide-aggregate compile pays 5-15 s; the first
    minhash run at 30x paid ~20 s).  The minhash-LSH pipeline SHAPE runs on
    a 20-row in-memory frame, so no measured query or table is pre-run."""
    try:
        from moosestack_spark.ops.dedup import minhash_lsh_pairs

        spark.range(64, numPartitions=8).mapInPandas(
            lambda it: it, "id long"
        ).count()
        tiny = spark.createDataFrame(
            [(i, "w%d x y z q r s t u v" % (i % 3)) for i in range(20)],
            "doc_id long, text string",
        )
        minhash_lsh_pairs(tiny, "doc_id", "text", n=5, threshold=0.5).count()
    except Exception as exc:  # best-effort: the measured query still runs
        print(f"BENCH-WARMUP-WARNING: {exc!r}"[:300], file=sys.stderr)


def _tier_suffix(factor: int) -> str:
    """Sidecar key suffix of a tier: 30x is the unsuffixed original."""
    return "" if factor == 30 else f"_{factor}x"


def _growth(hi: dict, lo: dict) -> dict:
    """Per-entry median ratio between two tiers, for entries timed in both."""
    return {
        k: round(v / lo[k], 2)
        for k, v in hi.items()
        if isinstance(v, (int, float))
        and isinstance(lo.get(k), (int, float))
        and lo[k] > 0
    }


def _make_scaled_dir(spark, sf_dir: str, factor: int) -> str:
    """Write a factor-x documents + embeddings corpus derived from sf_dir
    into a temp dir shaped like a testdata SF dir (gate queries read it
    unchanged).  Deterministic: replica r of a doc keeps its columns but
    hash-permutes word order (distinct shingle sets per replica); replica r
    of an embedding circularly rotates the vector by r positions."""
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="bench_scaled_")
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    permuted_text = F.array_join(
        F.expr(
            "transform(array_sort(transform(split(text, ' '), "
            "w -> struct(xxhash64(w, rep) AS h, w AS w))), s -> s.w)"
        ),
        " ",
    )
    scaled_docs = (
        docs.select("*", rep)
        .withColumn("doc_id", F.col("doc_id") * factor + F.col("rep"))
        .withColumn("text", permuted_text)
        .drop("rep")
    )
    scaled_docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rotated = F.expr(
        "transform(embedding, (x, i) -> "
        "element_at(embedding, CAST((i + rep) % size(embedding) AS INT) + 1))"
    )
    scaled_emb = (
        emb.select("*", rep)
        .withColumn("vec_id", F.col("vec_id") * factor + F.col("rep"))
        .withColumn("embedding", rotated)
        .drop("rep")
    )
    scaled_emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def _is_low_core_probe(cpus_env: str | None, host_cpus: int) -> bool:
    """True when this invocation is the driver's LOW-CORE scaling probe:
    $SPARK_GRAFT_CPUS explicitly requests fewer cores than the host has.
    Such a run skips extras + scale tiers (headline-only) so the headline
    per-query timings land inside the driver's timeout — VERDICT r12 #3:
    the full suite at 8 cores exited rc 124 and PERF's scaling block came
    up empty.  Unset/invalid env means the default full-core run."""
    if cpus_env is None:
        return False
    try:
        req = int(cpus_env)
    except ValueError:
        return False
    return 0 < req < host_cpus


def _headline_only() -> bool:
    """Scaling probe (VERDICT r12 #3): the driver re-runs bench.py at a
    LOWER core count to measure per-query parallel scaling, but the full
    extras + scale tiers cannot finish at 8 cores inside its timeout
    (BENCH_r12_c8 exited rc 124).  The scaling evidence lives entirely in
    the headline `queries` dict of the one-line JSON, so a low-core
    invocation skips the sidecar work.  The host's cores are the ones this
    process may run on, counted as get_spark() counts them: under taskset,
    os.cpu_count() would take a full-core run for a low-core probe."""
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    host_cpus = len(os.sched_getaffinity(0))
    if not _is_low_core_probe(cpus_env, host_cpus):
        return False
    print(
        f"BENCH-SCALING-PROBE: SPARK_GRAFT_CPUS={cpus_env} < host "
        f"{host_cpus} cores — low-core scaling run, headline only (extras "
        f"and scale tiers are the full-core run's artifact).",
        file=sys.stderr,
    )
    return True


def _spread(laps) -> float | None:
    """max/min of an entry's timed laps; None unless every lap succeeded."""
    if not laps or any(x is None or x <= 0 for x in laps):
        return None
    return round(max(laps) / min(laps), 2)


def _timed3(name: str, fn) -> tuple:
    """One untimed warm-up lap, then exactly 3 timed laps; returns
    ``(median, laps, last_error)``.

    The warm-up lap pays each query's shape-specific whole-stage-codegen
    compile (2-8 s of JIT, not plan cost: minhash laps read 12.0/4.6/4.5
    without it).  The timed laps run back to back so host drift between
    entries does not leak into one entry's laps.  The median is the middle
    of the sorted successful laps whatever order they came in, so a rising
    or decaying list cannot switch the statistic; the raw laps go into the
    record next to it, and a failed lap is None there."""
    laps: list = []
    errs: list = []
    for i in range(4):
        start = time.perf_counter()
        try:
            fn()
            sec = round(time.perf_counter() - start, 3)
        except Exception as exc:
            where = "warmup: " if i == 0 else ""
            print(f"BENCH-SCALE-ERROR {name}: {where}{exc!r}"[:500], file=sys.stderr)
            errs.append(f"{where}{exc!r}"[:300])
            sec = None
        if i:
            laps.append(sec)
    ok = sorted(x for x in laps if x is not None)
    return (ok[len(ok) // 2] if ok else None), laps, (errs[-1] if errs else None)


def _record_timed(sidecar: dict, name: str, med, laps, err) -> None:
    """Persist one _timed3 result into a tier's sidecar dict.  An entry
    that errored carries its last error string under ``<name>_error``
    (VERDICT r10 #1: the r10 record published silent cc_chain nulls)."""
    sidecar[name] = med
    sidecar[name + "_raw"] = laps
    if err is not None:
        sidecar[name + "_error"] = err


# -- direct-operator fixtures ----------------------------------------------
#
# Scale entries whose gate call shape does not scale; a fixture shadows the
# registry query of the same name.  Each builds its input once, outside the
# timer, and returns the body of one lap, a zero-arg callable.


def _embedding_auto_t90(spark, data_dir: str):
    """Occupancy-targeted banding at a realistic near-dup threshold (t=0.9,
    recall 0.9).  The fixed 4-plane/16-bucket gate config grows O(n^2/16)
    per band (8.3 s at 10x -> 84.6 s at 30x); the auto config holds
    expected bucket occupancy constant, so verify work is linear in n."""
    from moosestack_spark.ops.dedup import embedding_cosine_pairs_pruned_auto

    emb = spark.read.parquet(f"{data_dir}/embeddings.parquet")
    n_emb = emb.count()
    return lambda: embedding_cosine_pairs_pruned_auto(
        emb, "vec_id", "embedding", threshold=0.9, dim=64, n_rows=n_emb
    ).count()


def _graph_kcore(spark, data_dir: str):
    """k-core peel over a deterministic 5-out-edge graph on the scaled doc
    ids: at 30x it needs 15 peels, past the gate's 12-iteration oracle
    unroll, so the operator runs directly with a higher bound.  Per-round
    cost stays two semi-joins + one groupBy on a SHRINKING vertex set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from moosestack_spark.ops.graph import k_core

    docs = spark.read.parquet(f"{data_dir}/documents.parquet").select("doc_id")
    dense = docs.withColumn(
        "i", F.row_number().over(Window.orderBy("doc_id")) - 1
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    ids = dense.select(F.col("i").alias("ti"), F.col("doc_id").alias("t_doc"))

    def link(expr: str, quarter: bool):
        src = dense.filter(F.col("i") % 4 == 0) if quarter else dense
        src = src.select(F.col("doc_id").alias("s_doc"), F.expr(expr).alias("t"))
        tgt = ids.filter(F.col("ti") % 4 == 0) if quarter else ids
        return src.join(tgt, src.t == tgt.ti).select(
            F.col("s_doc").alias("src"), F.col("t_doc").alias("dst")
        )

    directed = (
        link("(i * 7 + 3) % n", False)
        .union(link("(i * 13 + 5) % n", False))
        .union(link("(i * 3 + 4) % (n - n % 4)", True))
        .union(link("(i * 5 + 8) % (n - n % 4)", True))
        .union(link("(i * 9 + 12) % (n - n % 4)", True))
    )
    edges = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    return lambda: k_core(edges, k=4, max_iters=25).count()


def _similarity_knn_graph(spark, data_dir: str):
    """knn-graph with occupancy-targeted planes: ceil(log2(n / 64)) planes
    hold expected bucket occupancy ~64, so the bucket self-join stays
    linear in n instead of n^2/buckets (the 6-plane gate config is the
    correctness shape)."""
    import math

    from moosestack_spark.ops.similarity import knn_graph

    emb = spark.read.parquet(f"{data_dir}/embeddings.parquet")
    planes = max(6, math.ceil(math.log2(max(emb.count(), 128) / 64)))
    return lambda: knn_graph(emb, dim=64, k=5, n_planes=planes).count()


def _cc_chain(variant: str, spark, data_dir: str):
    """Chain-heavy CC fixture, independent of data_dir: 1024 disjoint
    64-node chains (diameter 64 — the pathological shape for O(diameter)
    label propagation, where the O(log n) star/hybrid variants win).

    The chain is checkpointed ONCE, outside the laps, so each lap's
    materialization scope leaves its blocks alone (VERDICT r10 #1: a sweep
    that freed them killed every later lap with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from moosestack_spark.ops import components as cc

    run = {
        "propagation": lambda e: cc.connected_components(e, max_rounds=70),
        "star": cc.connected_components_star,
        "hybrid": cc.connected_components_auto,
    }[variant]
    chain = (
        spark.range(1024 * 64)
        .selectExpr("id AS src", "id + 1 AS dst")
        .where("pmod(id, 64) != 63")
        .localCheckpoint()
    )
    return lambda: run(chain).count()


SCALE_FIXTURES = {
    "dedup_embedding_auto_t90": _embedding_auto_t90,
    "graph_kcore": _graph_kcore,
    "similarity_knn_graph": _similarity_knn_graph,
    "cc_chain_propagation": functools.partial(_cc_chain, "propagation"),
    "cc_chain_star": functools.partial(_cc_chain, "star"),
    "cc_chain_hybrid": functools.partial(_cc_chain, "hybrid"),
}


def _scale_entry(spark, name: str, data_dir: str):
    """One lap of a scale entry on data_dir: its fixture's body, or a
    registry query forced by count(), run inside a materialization scope,
    so the lap frees its own checkpoint blocks and never the fixture's
    input, built before it."""
    if name in SCALE_FIXTURES:
        body = SCALE_FIXTURES[name](spark, data_dir)
    else:
        query = registry.QUERIES[name]
        body = lambda: query(spark, data_dir).count()  # noqa: E731

    def lap() -> None:
        with materialization_scope(spark):
            body()

    return lap


def _run_scale_tier(factor: int, sf_dir: str) -> dict:
    """Time SCALE_TIERS[factor] on a factor-x corpus synthesized from
    sf_dir, in this process's fresh JVM (main runs it as
    `bench.py --scale-tier <factor> <sf_dir>`).  The corpus is deleted
    afterwards."""
    import shutil

    _drain("BENCH-SCALE-DRAIN", 1.0)
    registry.load_all()
    spark = get_spark(f"moosestack-spark-bench-scale{factor}")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark)
    try:
        scaled_dir = _make_scaled_dir(spark, sf_dir, factor)
    except Exception as exc:
        print(f"BENCH-SCALE-SETUP-ERROR ({factor}x): {exc!r}"[:500], file=sys.stderr)
        return {"setup_error": f"{exc!r}"[:300]}
    out: dict = {}
    try:
        for name in SCALE_TIERS[factor]:
            try:
                lap = _scale_entry(spark, name, scaled_dir)
            except Exception as exc:
                print(f"BENCH-SCALE-ERROR {name}: {exc!r}"[:500], file=sys.stderr)
                out[name] = None
                out[name + "_error"] = f"{exc!r}"[:300]
                continue
            _record_timed(out, name, *_timed3(name, lap))
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)
    return out


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--scale-tier":
        print(json.dumps(_run_scale_tier(int(sys.argv[2]), sys.argv[3])))
    else:
        main()
