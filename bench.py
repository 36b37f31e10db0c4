"""Benchmark runner: time registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) against a base tier, on
local[$SPARK_GRAFT_CPUS].

    python bench.py [NAME|SET ...] [--base DIR|none]

NAME is a registered query; SET is one of headline (the default),
full, all, dim and graph (see SETS).  --base is the tier each slope is
taken against (default /root/testdata/sf0.01); ``none``, or the timed
tier itself, times one tier only.  SPARK_GRAFT_BENCH_REPEATS sets the
min-of-N repeats at the timed tier (default 5); the base tier takes at
most BASE_REPEATS.  An unknown name or a missing tier exits 2 before
the Spark session starts.

Prints three JSON lines to stdout (report_lines()) and writes no file:
  {"metric": "bench_sweep", "sf": ..., "base_sf": ..., "queries": {...},
   "base_queries": {...}, "slopes": {...}, "bar": ..., "flagged": [...],
   "adjudication": {...}, "errors": {...}, "exit": ...}
  {"metric": "headline_queries_detail", "queries": {...}, "sf": ...}
  {"metric": "headline_queries_total", "value": N, "unit": "sec",
   "n_queries": ..., "sf": ...}
Per-query progress goes to stderr.  Exit 1 when a query errors or a
flagged slope is not explained by output growth (see judge()).

Each query is executed to completion with the no-op sink (full pipeline
runs — scan, shuffle, aggregate — without driver-side collect overhead
distorting the number).  sweep(), time_query() and time_frame() are the
one timing loop every bench script in scripts/ shares.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback

from udacity_datalake_spark_spark import scratch
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session
from udacity_datalake_spark_spark.sources.readers import parquet_row_count

# Headline policy (round 6): the driver captures only a 2000-char stdout
# TAIL and parses the LAST line.  Rounds 3 and 5 both broke parsing by
# letting the final line grow with the headliner count (51-entry slope
# dict in r3; 66-entry timings dict in r5).  The structural fix:
#   * HEADLINE is FROZEN at ~42 representative queries — every operator
#     family keeps its slowest member plus current watch items — so
#     round-over-round diffs stay like-for-like.
#   * The final stdout line is a COMPACT summary with NO per-query dict
#     (~100 chars, immune to headliner growth); the per-query seconds
#     are printed on the line before it, and the full sweep record
#     (both tiers, slopes, verdict: ~4 KB for 42 queries) before that.
#   * tests/test_catalog.py::test_bench_headline_line_fits_tail and
#     test_bench_report_lines_fit_tail pin the last two lines inside
#     the 2000-char tail.
# The wider 66-query sweep is preserved as HEADLINE_FULL (set "full").
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


# The queries whose true scaling variable is the DIMENSION key space:
# on the fact-only sf1 tier their slope reads ~1 by fixture
# construction, so they are timed on the dim-grown .localdata/sf1d
# (scripts/make_sf1.py --grow-dims) against sf0.1.
DIM_BOUND = [
    "q07_or_join_decomposed",
    "q212_triangle_count",
    "q217_clustering_coefficient",
    "q222_abc_xyz_classification",
    "q319_link_prediction",
    "q373_apriori_triples",
]

# The co-supply graph trio, timed on the skewed-dim .localdata/sf1ds
# against the uniform sf1d: equal volume, so the slope is pure
# concentration cost (the wedge model predicts ~1.6x).
GRAPH_TRIO = [
    "q212_triangle_count",
    "q217_clustering_coefficient",
    "q319_link_prediction",
]

SETS = {
    "headline": HEADLINE,
    "full": HEADLINE_FULL,
    "all": sorted(QUERIES),
    "dim": DIM_BOUND,
    "graph": GRAPH_TRIO,
}

DEFAULT_BASE = "/root/testdata/sf0.01"
# identical plan shapes at the smallest SF fill codegen/JIT
WARM_DIR = "/root/testdata/sf0.001"

# Flag bar: a slope is flagged at twice the tiers' fact growth (lineitem
# rows), and never under MIN_FLAG_BAR.  A decade pair (sf0.01 -> sf0.1,
# sf0.1 -> sf1) gets 20; an equal-volume pair (sf1d -> sf1ds) gets 4.
MIN_FLAG_BAR = 4.0

# Digest-plan adjudication overrides (ADVICE r8): output-growth
# adjudication counts RESULT rows, but a 1-row aggregate/digest plan
# (q148's invariant frame, q374's corpus digest) always reports growth
# 1.0 — its internal volume is invisible to the count, so a noisy-host
# flagged slope would fail the sweep with no adjudication path even
# when the work is proven output-bound elsewhere.  Each entry points a
# digest-shaped query at the committed evidence artifact that measured
# its INTERNAL volume decade; the override only applies when the
# query's output is actually digest-shaped (row count equal at both
# tiers), so a real output regression still fails.
DIGEST_OUTPUT_BOUND = {
    # raw hamming pair job measured directly: pairs x100.8 while
    # sec-per-Mpair FELL 20.9 -> 4.0 (run_q148_evidence, skew tier)
    "q148_media_phash_pairs": "SKEW_SF1.json:q148_output_bound",
}


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
# The base tier is a slope's denominator, not a headline series: min of
# at most 2 runs, never extended by _needs_another_run.
BASE_REPEATS = 2


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


def _first_line(ex: Exception) -> str:
    return (str(ex).splitlines() or [type(ex).__name__])[0][:200]


def judge(secs, base_secs, tier_rows, errors, output_rows) -> dict:
    """The sweep's verdict, pure in its inputs.  ``secs``/``base_secs``
    are per-query seconds at the timed and base tier (``base_secs``
    empty when one tier is timed), ``tier_rows`` the two tiers'
    ``(base, timed)`` lineitem rows (None with one tier), ``errors``
    query -> message, and ``output_rows(name)`` a flagged query's
    ``(base, timed)`` output row counts.

    A slope at or above the bar is first checked against the query's
    own output growth: a slope within it is the data's pair structure
    growing, not a plan defect (the q56/q148 ruling), and only time
    that outgrew output stays flagged — or a digest-shaped query listed
    in DIGEST_OUTPUT_BOUND.  Exit 1 on any error or remaining flag."""
    errors = dict(errors)
    slopes = {
        n: round(secs[n] / base_secs[n], 2) if base_secs[n] > 0 else 0.0
        for n in secs
        if n in base_secs
    }
    bar = (
        round(max(MIN_FLAG_BAR, 2 * tier_rows[1] / tier_rows[0]), 2)
        if tier_rows
        else None
    )
    flagged: list[str] = []
    adjudication: dict[str, dict] = {}
    for n in sorted(n for n, s in slopes.items() if s >= bar):
        try:
            rows_base, rows = output_rows(n)
        except Exception as ex:
            errors[n] = _first_line(ex)
            flagged.append(n)
            continue
        growth = rows / max(1, rows_base)
        verdict = {
            "slope": slopes[n],
            "rows_base": rows_base,
            "rows": rows,
            "output_growth": round(growth, 1),
        }
        if slopes[n] > growth:
            if rows_base == rows and n in DIGEST_OUTPUT_BOUND:
                verdict["adjudicated_by"] = DIGEST_OUTPUT_BOUND[n]
            else:
                flagged.append(n)
        verdict["output_bound"] = n not in flagged
        adjudication[n] = verdict
    return {
        "slopes": slopes,
        "bar": bar,
        "flagged": flagged,
        "adjudication": adjudication,
        "errors": errors,
        "exit": 1 if flagged or errors else 0,
    }


def sweep(spark, names, sf_dir: str, base_dir: str | None, repeats: int) -> dict:
    """Time ``names`` at ``sf_dir`` and, unless ``base_dir`` is None, at
    ``base_dir``, and judge the slopes (judge()).  Every query first
    runs once untimed at WARM_DIR (the smallest SF at hand): the plan
    shapes are identical at every SF, so this compiles the same
    whole-stage-codegen classes and fills the JIT, and the timed runs
    measure steady-state throughput.  Every query is then timed at
    ``sf_dir`` with ``repeats``, and afterwards at ``base_dir`` with at
    most BASE_REPEATS.  A failing query is recorded as an error and the
    sweep goes on."""
    warm_dir = WARM_DIR if os.path.isdir(WARM_DIR) else base_dir or sf_dir
    for name in names:
        try:
            time_query(spark, name, warm_dir, 1)
        except Exception:
            scratch.release()  # recorded when the query is timed below
    secs: dict[str, float] = {}
    base_secs: dict[str, float] = {}
    errors: dict[str, str] = {}
    passes = [(sf_dir, repeats, secs)]
    if base_dir:
        passes.append((base_dir, min(repeats, BASE_REPEATS), base_secs))
    for d, n_runs, out in passes:
        for i, name in enumerate(names, 1):
            if name in errors:
                continue
            try:
                out[name] = time_query(spark, name, d, n_runs)
                done = f"{out[name]} s"
            except Exception as ex:
                traceback.print_exc()
                errors[name] = f"{_first_line(ex)} (at {d})"
                done = f"ERROR {errors[name]}"
                scratch.release()
            print(f"  [{i}/{len(names)}] {d} {name}: {done}", file=sys.stderr)

    def output_rows(name: str) -> tuple[int, ...]:
        rows = []
        for d in (base_dir, sf_dir):
            rows.append(QUERIES[name](spark, d).count())
            scratch.release()
        return tuple(rows)

    tier_rows = (
        (tier_rows_of(base_dir), tier_rows_of(sf_dir)) if base_dir else None
    )
    return {
        "queries": secs,
        "base_queries": base_secs,
        **judge(secs, base_secs, tier_rows, errors, output_rows),
    }


def tier_rows_of(sf_dir: str) -> int | None:
    """Lineitem rows of a tier, from parquet footers (no Spark job)."""
    return parquet_row_count(os.path.join(sf_dir, "lineitem.parquet"))


def _sf(sf_dir: str | None) -> float | None:
    m = re.search(r"sf([0-9.]+)", sf_dir or "")
    return float(m.group(1).rstrip(".")) if m else None


def parse_args(argv: list[str]) -> tuple[list[str], str, str | None]:
    """Query names (sets expanded, order kept, duplicates dropped), the
    timed tier and the base tier (None for one tier).  Exits 2 on an
    unknown name or a tier without a lineitem table, before any Spark
    session exists."""
    ap = argparse.ArgumentParser(description="Time registered queries.")
    ap.add_argument("names", nargs="*", default=["headline"], metavar="NAME|SET")
    ap.add_argument("--base", default=DEFAULT_BASE, metavar="DIR|none")
    args = ap.parse_args(argv)
    names = list(dict.fromkeys(n for a in args.names for n in SETS.get(a, [a])))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.exit(
            2,
            f"unknown query name(s): {', '.join(unknown)} (registry has "
            f"{len(QUERIES)} queries, q01..q411; sets: {', '.join(SETS)})\n",
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = None if args.base == "none" else args.base
    if base and os.path.realpath(base) == os.path.realpath(sf_dir):
        base = None
    for d in filter(None, (sf_dir, base)):
        if not tier_rows_of(d):
            ap.exit(2, f"no lineitem table at {d} (see scripts/make_sf1.py)\n")
    return names, sf_dir, base


def report_lines(record: dict, sf_dir: str, base_dir: str | None) -> list[str]:
    """bench.py's stdout: the full sweep record, then the per-query
    seconds at the timed tier, then a compact constant-size summary.
    The harness that runs this keeps a 2000-char stdout TAIL and parses
    the LAST line, so the last two lines carry no per-tier or verdict
    payload; scripts/verify_all.py picks the full record by its metric."""
    sf = _sf(sf_dir)
    timings = record["queries"]
    return [
        json.dumps(
            {"metric": "bench_sweep", "sf": sf, "base_sf": _sf(base_dir), **record}
        ),
        json.dumps(
            {"metric": "headline_queries_detail", "queries": timings, "sf": sf}
        ),
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
            }
        ),
    ]


def main() -> None:
    names, sf_dir, base_dir = parse_args(sys.argv[1:])
    # Repeat each query and report the MIN: single-shot numbers on a
    # shared machine are noise-dominated, and the min of a few runs is
    # the stable estimate of what the plan actually costs.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))
    spark = get_session(app_name="udacity-datalake-spark-bench")
    record = sweep(spark, names, sf_dir, base_dir, repeats)
    # Nothing prints after the last line — Spark shutdown logs go to
    # stderr.
    print("\n".join(report_lines(record, sf_dir, base_dir)))
    sys.stdout.flush()
    spark.stop()
    sys.exit(record["exit"])


if __name__ == "__main__":
    main()
