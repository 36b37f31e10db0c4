"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints two or three JSON lines to stdout and writes no file:
  {"metric": "slope_vs_sf0.01", "slopes": {...}, "flagged_ge20x": [...]}
      (only when a separate sf0.01 tier exists)
  {"metric": "headline_queries_detail", "queries": {...}, "sf": ...}
  {"metric": "headline_queries_total", "value": N, "unit": "sec",
   "n_queries": ..., "sf": ...}

Each query is executed to completion with the no-op sink (full pipeline
runs — scan, shuffle, aggregate — without driver-side collect overhead
distorting the number).  warm_up(), time_query() and time_frame() are
the one timing loop every bench script in scripts/ shares.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from udacity_datalake_spark_spark import scratch
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session

# Headline policy (round 6): the driver captures only a 2000-char stdout
# TAIL and parses the LAST line.  Rounds 3 and 5 both broke parsing by
# letting the final line grow with the headliner count (51-entry slope
# dict in r3; 66-entry timings dict in r5).  The structural fix:
#   * HEADLINE is FROZEN at ~42 representative queries — every operator
#     family keeps its slowest member plus current watch items — so
#     round-over-round diffs stay like-for-like.
#   * The final stdout line is a COMPACT summary with NO per-query dict
#     (~100 chars, immune to headliner growth); per-query timings and
#     slopes are printed on their own EARLIER lines.
#   * tests/test_catalog.py::test_bench_headline_line_fits_tail pins the
#     rendered final line under 1800 chars.
# The wider 66-query sweep is preserved as HEADLINE_FULL and runs with
# SPARK_GRAFT_BENCH_FULL=1.
HEADLINE = [
    # relational core — flagship + join shapes
    "q01_pricing_summary",
    "q05_inner_join",
    "q06_left_join_agg",
    "q07_or_join_decomposed",
    "q10_multi_hop_join",
    "q61_local_supplier_volume",
    "q85_market_share",
    "q91_large_volume_customers",
    # window / join-kind / scale-path surface
    "q13_topk_per_group",
    "q34_asof_join",
    "q35_range_band_join",
    "q38_salted_join",
    # LLM-pipeline + event-time surface
    "q40_dedup_exact",
    "q77_repetition_metrics",
    "q65_sessionize",
    "q72_dq_report",
    # curation / skew scale paths
    "q95_dedup_corpus",
    "q109_hot_key_skew_join",
    "q110_sequence_packing",
    # behavioral + scoring surface
    "q126_event_funnel",
    "q133_bm25_retrieval",
    "q143_pmi_cooccurrence",
    "q154_point_in_time_join",
    # moments / novelty / ranking
    "q179_trigram_novelty",
    "q189_curriculum_phases",
    "q195_curation_pipeline",
    # stats / graph / heavy-hitter / spatial
    "q210_ks_two_sample",
    "q212_triangle_count",
    "q215_heavy_hitter_bigrams",
    "q218_grid_spatial_join",
    "q222_abc_xyz_classification",
    "q229_item_neighbors",
    # containment dedup / sampling / lateness
    "q232_shingle_containment",
    "q246_monetary_unit_sampling",
    "q271_late_event_rate",
    # similarity / multimodal / decontamination / span dedup
    "q301_sparse_cosine_topk",
    "q302_png_decode",
    "q309_bloom_decontamination",
    "q311_exact_substring_spans",
    # graph mining / text growth / frequent itemsets
    "q319_link_prediction",
    "q363_heaps_law",
    "q373_apriori_triples",
]

HEADLINE_FULL = [
    # relational core
    "q01_pricing_summary",
    "q02_filter_project",
    "q05_inner_join",
    "q06_left_join_agg",
    "q07_or_join_decomposed",
    "q10_multi_hop_join",
    "q11_groupby_agg",
    "q61_local_supplier_volume",
    "q85_market_share",
    "q91_large_volume_customers",
    # window / join-kind / scale-path surface
    "q13_topk_per_group",
    "q34_asof_join",
    "q35_range_band_join",
    "q38_salted_join",
    # LLM-pipeline + event-time surface
    "q40_dedup_exact",
    "q44_fingerprint",
    "q77_repetition_metrics",
    "q52_tumbling_window",
    # training-data pipeline ops
    "q64_hash_split",
    "q65_sessionize",
    "q71_interval_join",
    "q72_dq_report",
    # curation / skew scale paths
    "q95_dedup_corpus",
    "q109_hot_key_skew_join",
    "q110_sequence_packing",
    # behavioral + scoring surface
    "q126_event_funnel",
    "q133_bm25_retrieval",
    "q134_pareto_frontier",
    "q137_weighted_median",
    "q143_pmi_cooccurrence",
    "q145_rolling_active_users",
    "q151_session_funnel",
    "q154_point_in_time_join",
    # round-2 additions: moments from exact sums, novelty scoring,
    # bucketed gap audit, two-phase ranking
    "q176_higher_moments",
    "q179_trigram_novelty",
    "q188_id_gap_audit",
    "q189_curriculum_phases",
    "q195_curation_pipeline",
    # round-2 wave 15-20 operator families: bounded-bin statistics,
    # wedge-join graph metrics, MG heavy hitters, grid spatial join,
    # two-phase prefix sum, budget selection, basket recommender
    "q210_ks_two_sample",
    "q212_triangle_count",
    "q215_heavy_hitter_bigrams",
    "q218_grid_spatial_join",
    "q222_abc_xyz_classification",
    "q227_token_budget_selection",
    "q229_item_neighbors",
    # waves 21-33: containment dedup, value-proportional sampling,
    # multimodal frame features, prefix-max lateness audit
    "q232_shingle_containment",
    "q246_monetary_unit_sampling",
    "q261_audio_frame_energy",
    "q271_late_event_rate",
    # q155 (sparse cosine pairs) is deliberately NOT a headline query:
    # historically its output was quadratic on the shared-vocabulary
    # corpus (~1M pairs at sf0.1); round 9's posting_cap=200 bounded it
    # (registry slope 38.2 -> 1.34), but the set stays frozen for
    # like-for-like series continuity.  q301 is the per-doc top-k
    # product shape of the same computation and IS benched:
    "q301_sparse_cosine_topk",
    # compressed-format (PNG) decode: zlib inflate + unfilter in mapInPandas
    "q302_png_decode",
    # round-4 waves 46-48: clipped n-gram eval, Bloom decontamination,
    # exact-substring span dedup, contrastive triplet generation
    "q306_ngram_overlap_eval",
    "q309_bloom_decontamination",
    "q311_exact_substring_spans",
    "q314_contrastive_triplets",
    # round-5 additions (waves 49-62): graph link prediction, held-out
    # LM eval, GDPR erasure audit, custom Python DataSource, mergeable
    # binned quantiles, deadline-bounded conversion attribution
    "q319_link_prediction",
    "q320_heldout_perplexity",
    "q326_erasure_audit",
    "q334_custom_source_rollup",
    "q348_mergeable_quantiles",
    "q346_conversion_window",
    # round-5 waves 63-68: governance regex scan, banded decay
    # attribution, Apriori mining, M4 serving, Heaps growth
    "q350_pii_scan",
    "q356_time_decay_attribution",
    "q363_heaps_law",
    "q372_m4_downsample",
    "q373_apriori_triples",
    # round-6 wave 78: tokenizer training, graph core, basket rules
    "q409_bpe_merge_training",
    "q410_kcore_decomposition",
    "q411_association_rules",
]


# Duration-scaled repeats (round 10): a min-of-5 of a ~0.2 s job
# carries a fixed ~0.05-0.1 s per-run noise floor (scheduler
# round-trips, GC pauses) that dominates sub-second members.  Every
# member therefore accumulates at least MIN_TIMED_WORK_SEC of timed work
# (more draws -> the min converges), capped at MAX_REPEATS so a
# pathological slow query can't stall the sweep.  Multi-second members
# still run exactly the base repeats.
MIN_TIMED_WORK_SEC = 2.0
MAX_REPEATS = 9
DEFAULT_REPEATS = 5


def _needs_another_run(runs: int, acc_sec: float, min_runs: int) -> bool:
    """One more timed execution?  Always up to ``min_runs``; beyond
    that, only while the accumulated timed work is under
    MIN_TIMED_WORK_SEC and the MAX_REPEATS cap allows (sub-second
    queries draw up to 9 samples; multi-second queries stop at base).
    An explicit sub-default ``min_runs`` (smoke/CI runs setting
    SPARK_GRAFT_BENCH_REPEATS=1/2) is a speed request — no extension."""
    if runs < min_runs:
        return True
    if min_runs < DEFAULT_REPEATS:
        return False
    return acc_sec < MIN_TIMED_WORK_SEC and runs < MAX_REPEATS


def time_frame(build, repeats: int) -> float:
    """The timing loop every bench script shares: min wall seconds of
    ``build()`` executed to completion with the no-op sink, over at
    least ``repeats`` runs (extended per _needs_another_run).  The timed
    region covers plan construction and execution.  After each run,
    outside the timed region, the frames the run persisted are released
    (every package persist routes through scratch.spersist), so repeats
    and later queries never read a warmed cache."""
    best, acc, runs = float("inf"), 0.0, 0
    while _needs_another_run(runs, acc, repeats):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        scratch.release()
        best = min(best, dt)
        acc += dt
        runs += 1
    return round(best, 4)


def time_query(spark, name: str, sf_dir: str, repeats: int) -> float:
    """Min-of-N wall seconds of registered query ``name`` at ``sf_dir``."""
    return time_frame(lambda: QUERIES[name](spark, sf_dir), repeats)


def warm_up(spark, names, warm_dir: str) -> None:
    """Run each query once, untimed, at ``warm_dir`` (the smallest SF at
    hand).  The plan shapes are identical at every SF, so this compiles
    the same whole-stage-codegen classes and fills the JIT: the timed
    runs measure steady-state throughput, not first-call code
    generation."""
    for name in names:
        time_query(spark, name, warm_dir, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    headline = (
        HEADLINE_FULL
        if os.environ.get("SPARK_GRAFT_BENCH_FULL", "0") == "1"
        else HEADLINE
    )
    spark = get_session(app_name="udacity-datalake-spark-bench")
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warm_up(spark, headline, warm_dir)

    # Repeat each query and report the MIN: single-shot numbers on a
    # shared machine are noise-dominated, and the min of a few runs is
    # the stable estimate of what the plan actually costs.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    timings = {name: time_query(spark, name, sf_dir, repeats) for name in headline}

    # Scaling-slope evidence: time the same set once at sf0.01 and record
    # t(sf_main)/t(sf0.01) per query.  The "within 2×" bar measured at a
    # single SF can hide a quadratic candidate blowup (dedup/similarity
    # prefilters); the slope exposes it — data grows 10×, so a healthy
    # query's ratio is ≲10-with-overhead, and anything ≥20 is flagged.
    small_dir = "/root/testdata/sf0.01"
    if os.path.isdir(small_dir) and small_dir != sf_dir and os.environ.get(
        "SPARK_GRAFT_BENCH_SLOPES", "1"
    ) != "0":
        slopes: dict[str, float] = {}
        for name in timings:
            best = time_query(spark, name, small_dir, 2)
            slopes[name] = round(timings[name] / best, 2) if best > 0 else 0.0
        print(
            json.dumps(
                {
                    "metric": "slope_vs_sf0.01",
                    "slopes": slopes,
                    "flagged_ge20x": [n for n, r in slopes.items() if r >= 20.0],
                }
            )
        )

    # The harness that runs this keeps a 2000-char stdout TAIL and
    # parses the LAST line.
    # Per-query seconds go on the line before it; the last line is a
    # compact constant-size summary with no per-query payload.  Nothing
    # prints after it — Spark shutdown logs go to stderr.
    # tests/test_catalog.py::test_bench_headline_line_fits_tail pins
    # both lines inside the window.
    print(
        json.dumps(
            {
                "metric": "headline_queries_detail",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
