"""Measured scale curves (VERDICT r7 task #1): time a query set at two
scales and report the per-query scaling exponent
alpha = log(t_big / t_small) / log(ratio) — alpha <= ~1 means the plan
grows linearly with data; alpha ~2 is a quadratic scale-killer.

Methodology: one warm-up query first (JVM/codegen warm-up otherwise
lands on the first timed query, ~40% inflation — see time_profile
notes), then each query timed once. Full execution forced by hashing
all output columns (count() lets Catalyst prune aggregate expressions).

Usage: python tools/scale_curve.py small_dir big_dir ratio out.json --only a,b,c
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "dedup_lsh_sampled_verify",
    "dedup_lsh_verified_pairs",
    "dedup_threshold_sweep",
    "dedup_connected_components",
    "graph_pagerank_suppliers",
    "similarity_ann_pq",
    "pipeline_near_dup_purge",
    "text_common_ngram_blocklist",
    "dedup_embedding_cosine",
]


def _force(df) -> None:
    from pyspark.sql import functions as F

    df.select(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).collect()


def main() -> int:
    argv = list(sys.argv[1:])
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        del argv[i : i + 2]
    small = argv[0] if argv else "/root/testdata/sf0.1"
    big = argv[1] if len(argv) > 1 else "/tmp/sf1_synth"
    ratio = float(argv[2]) if len(argv) > 2 else 10.0
    out_path = argv[3] if len(argv) > 3 else "/tmp/scale_curve.json"
    names = only or DEFAULT_QUERIES

    from pyspark.sql import SparkSession

    from taps_spark.session import STATIC_CONFS

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        # The synthetic big fixture is 10x sf0.1; the default 1g heap
        # GC-thrashes on the graph/join tier. The measurement session
        # may size itself — the driver-contract "plain session" rule
        # binds the correctness harness, not offline tooling.
        .config("spark.driver.memory", "48g")
        .appName("scale_curve")
        .config(map=STATIC_CONFS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from taps_spark.queries import all_queries

    qs = all_queries()
    times: dict[str, dict[str, float]] = {n: {} for n in names}
    for label, sf_dir in (("small", small), ("big", big)):
        # warm-up: cheapest LSH family member, result discarded
        _force(qs["dedup_minhash_lsh"](spark, sf_dir))
        for n in names:
            t0 = time.time()
            _force(qs[n](spark, sf_dir))
            times[n][label] = round(time.time() - t0, 3)
            print(f"{label} {n}: {times[n][label]}s", flush=True)

    result = {
        "small_dir": small,
        "big_dir": big,
        "ratio": ratio,
        "queries": {
            n: {
                **times[n],
                "alpha": round(
                    math.log(times[n]["big"] / times[n]["small"])
                    / math.log(ratio),
                    3,
                ),
            }
            for n in names
        },
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({n: v["alpha"] for n, v in result["queries"].items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
