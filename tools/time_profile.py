"""Per-query wall-time profile at a given SF — the optimization
target finder. Runs every registered query once (warm session),
counts the result (full execution, no display collect), and writes
one JSON file sorted slowest-first, with each query's count of
generated classes compiled (`codegen_compiles`: misses of the
compiled-class cache, an exact delta of Spark's compile counter).

Usage: python tools/time_profile.py [sf_dir] [out.json] [--only a,b]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = list(sys.argv[1:])
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    out_path = argv[1] if len(argv) > 1 else "/tmp/time_profile.json"

    from pyspark.sql import SparkSession

    from taps_spark.session import STATIC_CONFS, codegen_compiles

    def fresh_session():
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        s = (
            SparkSession.builder.master("local[16]")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.ui.enabled", "false")
            # One session otherwise profiles all ~380 registered
            # queries; by the alphabetical tail the heap holds
            # hundreds of queries' debris (localCheckpoint blocks,
            # codegen caches, broadcast remnants, streaming state
            # providers) and timings go position-dependent — r12
            # measured events_stream_outer_join at 20-33 s mid-sweep
            # vs 5.1 s isolated. 8 GiB guards the OOM class
            # (the stats_* tail died 3x at 1 GiB), and the 120-query
            # renewal below (same cadence as local_correctness)
            # bounds the debris so profile entries approximate their
            # isolated costs. Offline tooling may size itself; the
            # driver-contract plain-1g rule binds the correctness
            # harness, not this profiler.
            .config("spark.driver.memory", "8g")
            .appName("time_profile")
            .config(map=STATIC_CONFS)
            .getOrCreate()
        )
        s.sparkContext.setLogLevel("ERROR")
        # Untimed warm-up (scale_curve precedent): JVM/codegen/parquet
        # machinery otherwise lands on the first TIMED query after
        # every (re)start — r12 measured the alphabetically-first
        # query at 6.9 s in-profile vs 1.0-2.5 s isolated-warm.
        s.range(1_000_000).selectExpr("sum(id)").collect()
        warm = os.path.join(sf_dir, "region.parquet")
        if not os.path.exists(warm):  # synth scale dirs ship no region
            warm = os.path.join(sf_dir, "events.parquet")
        s.read.parquet(warm).limit(1).collect()
        return s

    spark = fresh_session()

    from taps_spark.queries import all_queries

    qs = all_queries()
    if only is not None:
        qs = {n: f for n, f in qs.items() if n in only}

    times: dict[str, float] = {}
    compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    jsonl = out_path + ".jsonl"  # incremental log: survives a killed run
    n_since_restart = 0
    with open(jsonl, "w") as log:
        for name, fn in sorted(qs.items()):
            # Proactive renewal (untimed): session debris makes late
            # entries read 3-6x their isolated cost; the restart cost
            # lands between queries, not inside any measurement.
            if n_since_restart >= 120:
                spark = fresh_session()
                n_since_restart = 0
            n_since_restart += 1
            c0 = codegen_compiles(spark)
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                # NOT .count(): Catalyst prunes unreferenced aggregate
                # expressions under count(), silently skipping the
                # expensive part of agg-heavy queries (measured 12×
                # under-reads). Hashing every output column forces the
                # full computation while collecting one row.
                from pyspark.sql import functions as F

                df.select(
                    F.sum(
                        F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
                    ).alias("h")
                ).collect()
                times[name] = round(time.time() - t0, 3)
                compiles[name] = codegen_compiles(spark) - c0
                log.write(
                    json.dumps({"q": name, "sec": times[name], "codegen_compiles": compiles[name]}) + "\n"
                )
            except Exception as e:  # noqa: BLE001 — profile must survive one bad query
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                log.write(json.dumps({"q": name, "error": errors[name]}) + "\n")
            log.flush()
    ranked = dict(sorted(times.items(), key=lambda kv: -kv[1]))
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(times),
        "total_seconds": round(sum(times.values()), 1),
        "slowest": ranked,
        "codegen_compiles": {name: compiles[name] for name in ranked},
        "errors": errors,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    top = list(ranked.items())[:10]
    print(json.dumps({"total": out["total_seconds"], "top10": top, "errors": len(errors)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
