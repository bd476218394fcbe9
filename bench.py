#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the full JSON line (medians + spread + mins), then a compact
contract-shaped LAST line that fits the driver's 2000-char tail capture:
  {"metric": "...", "value": <total of mins>, "unit": "sec",
   "queries": {name: min sec, ...}, "stat": "min", "runs": 3, "sf": <sf>}

Each query is forced end-to-end with a noop sink (full plan executes,
nothing collected to the driver). A warm-up pass at sf0.001 absorbs
JVM warm-up, and codegen too as long as the session's compiled-class
cache holds HEADLINE's ~863 classes (taps_spark.session.STATIC_CONFS);
each query is then timed SPARK_GRAFT_BENCH_REPS
times (default 3, round-robin so repetitions of one query don't sit in
a warm page cache back-to-back) and the per-query number reported is
the MEDIAN, with max-min recorded in "spread". Single-shot sub-second
timings on this container vary by ±0.2–1 s run-to-run; medians govern
(see BASELINE.md, "Bench noise floor").
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from taps_spark.io.tables import release  # noqa: E402
from taps_spark.queries import all_queries  # noqa: E402
from taps_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The headline set: every operator family, weighted toward the
#: shuffle/join-heavy plans that dominate at scale.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_rank_top_orders",
    "join_asof_latest_order",
    "agg_distinct",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_lang_id",
    "similarity_topk_bruteforce",
    "similarity_ann_ivf",
    "events_sessionize",
    "events_tumbling_window",
    "table_counts",
    "q18_large_orders",
    "window_function_family",
    "agg_grouping_sets",
    "text_contamination",
    "events_anomaly_zscore",
    "events_hypertable_rollup",
    "multimodal_audio_windows",
    "dedup_incremental",
    "pipeline_corpus_prep",
    # Round-3 additions (appended — the original 24 keys stay stable
    # so cross-round regression diffs keep working).
    "validation_expectations",
    "text_bm25_search",
    "pipeline_incremental_agg_merge",
    "events_cusum_changepoint",
    "similarity_standardize_apply",
    "pipeline_dataset_card",
    # Round-6 additions (appended — prior keys stay stable).
    "pipeline_dsir_weights",
    "dedup_canonical_pick",
    # Round-7 additions (appended — prior keys stay stable).
    "dedup_chunk_overlap_share",
    "text_gopher_dup_ngrams",
    # Round-9 additions (appended — prior keys stay stable).
    "stats_kendall_tau",
    "layout_zorder_effectiveness",
    # Round-9 continued-session additions (appended — prior keys stay
    # stable): the two heaviest newcomers by sf0.1 wall time.
    "graph_bfs_hops",
    "text_collocations_pmi",
    # Round-10 additions (appended — prior keys stay stable): the two
    # heaviest newcomers by sf0.1 wall time.
    "stats_kendall_tau_bucketed",
    "text_hapax_share",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("taps_spark_bench")
    queries = all_queries()

    # Warm-up: run every headline plan once at the smallest SF
    # (different data dir, so nothing about the measured inputs is
    # cached — parquet scans re-read sf0.1 cold). This moves one-time
    # JVM/plan-analysis cost out of the measurement. It moves codegen
    # cost out only because the session's compiled-class cache
    # (taps_spark.session.STATIC_CONFS) holds all ~863 classes of one
    # HEADLINE sweep; Spark's default of 100 would evict each class
    # before its timed run. The per-query numbers then reflect
    # steady-state data-path throughput — the quantity that actually
    # extrapolates to a warm cluster.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        force(queries[name](spark, warm_dir))
        release()

    # Median-of-N per query (default 3). Round-robin over the suite so
    # the N samples of one query are separated in time — back-to-back
    # repeats would share a hot OS page cache and understate cold cost.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            t0 = time.perf_counter()
            force(queries[name](spark, SF_DIR))
            samples[name].append(time.perf_counter() - t0)
            release()  # outside the timed region

    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    spread = {name: round(max(ts) - min(ts), 3) for name, ts in samples.items()}
    # min-of-N: the most contention-robust point statistic on a shared
    # container (a min can only be inflated by contention, never
    # deflated by it) — bench_compare falls back to it when the
    # median's spread overlaps a would-be regression delta.
    mins = {name: round(min(ts), 3) for name, ts in samples.items()}

    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "min": mins,
        "runs": reps,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(out))
    # Also persist the full line beside the repo (BENCH_LOCAL.json):
    # the driver's BENCH_r*.json capture has truncated the line's head
    # before (r6: "parsed": null, medians lost) — the committed local
    # artifact keeps the sealed bench evidence self-contained.
    try:
        local = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_LOCAL.json")
        with open(local, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout line is still the artifact
    # LAST line: a compact, contract-shaped summary (suite total +
    # per-query MIN) small enough (<2 KB for ~40 queries) to survive
    # the driver's 2000-char tail capture intact — BENCH_r08/r09.json
    # both recorded "parsed": null because the full line above
    # overflows that window. min-of-N is the contention-robust point
    # statistic (see comment above); medians stay in BENCH_LOCAL.json.
    print(compact_line(mins, reps, out["sf"]))


def compact_line(mins: dict, reps: int, sf) -> str:
    """The LAST stdout line the driver tail-captures, as a string.

    Tail-window guard: HEADLINE grows ~2 queries/round (~70 bytes);
    if the compact line ever nears the driver's 2000-char capture,
    drop the per-query map (it survives in BENCH_LOCAL.json) so the
    suite total always parses instead of silently reintroducing the
    r8/r9 "parsed": null failure. Pure function so the guard is
    regression-testable (tests/test_bench_contract.py)."""
    compact = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": mins,
        "stat": "min",
        "runs": reps,
        "sf": sf,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1900:
        compact.pop("queries")
        compact["queries_in"] = "BENCH_LOCAL.json"
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
