"""One sweep over the query registry: a record per query, checked
against its DuckDB oracle.

Each query is built (`build_s`; `build_jobs` are the jobs the build
runs before the caller's action), then forced once with `toPandas()`
(`action_s`), the action the external driver and perfbench perform,
and its barriers are released. perfbench's `SparkProbe` reads jobs,
stages, tasks and the SQL metrics (shuffle, spill and scan bytes,
Python-worker bytes and times); the record adds `codegen_compiles`,
`rows` and `blocks_left`, the RDDs still holding blocks. The oracle compare is
untimed and dtype-strict (`_norm`): `status` is `pass`, `FAIL`, or
`rows_only` for a query without an oracle.

Given two SF dirs, each record of the second adds the scaling exponent
alpha = log(t2 / t1) / log(ratio), with t = build + action time and
ratio the ratio of total footer rows over the tables both dirs hold:
alpha <= ~1 is linear in the data, ~2 a quadratic scale-killer.

A run writes one JSON file, logs each record to `<out>.jsonl` as it
goes, prints a one-line summary, and exits 1 if any query failed.

Usage: python tools/measure.py [sf_dir [sf_dir2]] [--out measure.json]
           [--only a,b,...] [--changed-since <git-ref>]
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import sys
import time
from decimal import Decimal

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))

from tracing import SparkProbe  # noqa: E402  (perfbench/tracing.py)

#: Queries per session: a fresh session bounds the debris one session
#: accumulates over the registry (blocks, broadcasts, state stores).
RENEW_EVERY = 120


def _normval(v):
    """Normalize one cell to a (type-class, value) pair so the compare is
    dtype-strict like the driver's value hash: int64 1435 vs float64 1435.0
    is a FAIL here, not a Python `==` pass.  (The r5 escape:
    `pipeline_mix_apply`'s oracle shipped an uncast HUGEINT-sum as float64
    and a plain `==` let it through while the driver's type-sensitive
    hash did not.)"""
    try:
        if v is None or (not isinstance(v, (list, tuple, dict, np.ndarray)) and pd.isna(v)):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else ("f", float(v))
    if isinstance(v, Decimal):
        return ("d", v)
    if isinstance(v, (str, np.str_)):
        return ("s", str(v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, np.ndarray):
        return ("a", tuple(_normval(x) for x in v.tolist()))
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_normval(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _normval(x)) for k, x in v.items())))
    # DATE cells normalize to different classes per engine (Spark 'D',
    # DuckDB 't'), as in the driver's hash: oracle-gated queries output
    # dates as formatted strings, so a raw-DATE column fails here.
    if isinstance(v, pd.Timestamp) or isinstance(v, datetime.datetime):
        return ("t", pd.Timestamp(v))
    if isinstance(v, datetime.date):
        return ("D", v)
    return (type(v).__name__, v)


def _norm(rows):
    out = [tuple(_normval(v) for v in row) for row in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _jvm_dead(ex: Exception) -> bool:
    """True when `ex` means the JVM itself is gone. A Py4JJavaError comes
    from a live gateway, so it never counts, even if its traceback
    mentions a refused connection (a JDBC target down)."""
    from py4j.protocol import Py4JJavaError, Py4JNetworkError

    if isinstance(ex, (Py4JNetworkError, ConnectionRefusedError)):
        return True
    if isinstance(ex, Py4JJavaError):
        return False
    msg = f"{type(ex).__name__}: {ex}"
    sigs = ("Connection refused", "Answer from Java side is empty",
            "Py4JNetworkError", "Java gateway process exited")
    return any(sig in msg for sig in sigs)


def fresh_session(spark=None, dead: bool = False):
    """Stop `spark`; start a `get_spark` session and warm it up untimed.
    After a JVM death the client singletons are cleared first, or
    getOrCreate() would return the dead session."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from taps_spark.session import get_spark

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the gateway is already gone
            pass
    if dead:
        SparkContext._active_spark_context = None
        SparkContext._gateway = SparkContext._jvm = None
        SparkSession._instantiatedSession = SparkSession._activeSession = None
    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").toPandas()
    return spark


def _measure(spark, fn, sf_dir: str):
    """Build and force one query; return its record and its result."""
    from taps_spark.io.tables import release
    from taps_spark.session import codegen_compiles

    probe = SparkProbe(spark)
    # SparkProbe.mark() takes the execution count for the next execution
    # id. A long-lived session (the test suite's) passes the store's
    # retainedExecutions (1000); then every retained execution would
    # count as this query's. The newest retained id is exact.
    n = probe.store.executionsCount()
    last = probe.store.executionsList(n - 1, 1).head().executionId() if n else -1
    mark = (probe.jsc.dagScheduler().nextJobId(), last + 1)
    c0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    build_jobs = probe.jobs_since(mark)
    pdf = df.toPandas()
    t2 = time.perf_counter()
    release()
    c = probe.since(mark)
    rec = {"build_s": round(t1 - t0, 3), "action_s": round(t2 - t1, 3),
           "jobs": int(c.pop("spark.jobs")), "build_jobs": build_jobs,
           "stages": int(c.pop("spark.stages")), "tasks": int(c.pop("spark.tasks")),
           **c, "codegen_compiles": codegen_compiles(spark) - c0, "rows": len(pdf),
           "blocks_left": len(spark.sparkContext._jsc.sc().getRDDStorageInfo())}
    return rec, pdf


def _verdict(pdf, oracle: str | None, con) -> dict:
    if oracle is None:
        return {"status": "rows_only"}
    ddf = con.execute(oracle).fetch_df()
    cols = sorted(pdf.columns)
    ok = cols == sorted(ddf.columns) and _norm(
        pdf[cols].itertuples(index=False, name=None)
    ) == _norm(ddf[cols].itertuples(index=False, name=None))
    return {"status": "pass" if ok else "FAIL", "oracle_rows": len(ddf)}


def _oracle_db(sf_dir: str):
    """DuckDB with a view per table the dir holds (file or part files)."""
    import duckdb

    from taps_spark.io.tables import TABLE_NAMES, table_path

    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            src = p if os.path.isfile(p) else os.path.join(p, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def sweep(spark, sf_dir: str, queries: dict, oracles: dict, log=None):
    """Measure each of `queries` (name → callable) in name order on
    `sf_dir`; return ({name: record}, the session now in use)."""
    con = _oracle_db(sf_dir)
    results: dict[str, dict] = {}
    for i, name in enumerate(sorted(queries)):
        if i and i % RENEW_EVERY == 0:
            spark = fresh_session(spark)
        rec: dict = {}
        try:
            try:
                rec, pdf = _measure(spark, queries[name], sf_dir)
            except Exception as ex:  # noqa: BLE001
                if not _jvm_dead(ex):
                    raise
                print(f"[{name}] JVM-death retry after {type(ex).__name__}: {ex}", file=sys.stderr)
                spark = fresh_session(spark, dead=True)
                rec, pdf = _measure(spark, queries[name], sf_dir)
            rec.update(_verdict(pdf, oracles.get(name), con))
        except Exception as ex:  # noqa: BLE001 — record it, keep sweeping
            rec.update(status="FAIL", error=f"{type(ex).__name__}: {ex}"[:300])
        results[name] = rec
        if log is not None:  # a killed run keeps what it measured
            log.write(json.dumps({"sf_dir": sf_dir, "q": name, **rec}) + "\n")
            log.flush()
    con.close()
    return results, spark


def _summary(results: dict, wall_s: float) -> dict:
    recs = results.values()
    out = {"n_queries": len(results), "wall_s": round(wall_s, 1)}
    out.update({k: sum(r["status"] == k for r in recs) for k in ("pass", "rows_only", "FAIL")})
    out.update({k: round(sum(r.get(k, 0) for r in recs), 1)
                for k in ("jobs", "build_jobs", "build_s", "action_s")})
    return out


def _footer_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.dataset as ds

    return {f: ds.dataset(os.path.join(sf_dir, f), format="parquet").count_rows()
            for f in os.listdir(sf_dir) if f.endswith(".parquet")}


def main() -> int:
    from taps_spark.io.tables import DEFAULT_SF_DIR
    from taps_spark.queries import all_oracles, all_queries

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dirs", nargs="*", default=[DEFAULT_SF_DIR])
    ap.add_argument("--out", default="measure.json")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--changed-since", help="sweep only queries changed since this git ref")
    args = ap.parse_args()

    queries = all_queries()
    if args.only:
        queries = {n: f for n, f in queries.items() if n in set(args.only.split(","))}
    if args.changed_since:
        from tools.touched_queries import touched_for_rotation

        changed = touched_for_rotation(args.changed_since, whole_modules=True)
        queries = {n: f for n, f in queries.items() if n in changed}
        print(json.dumps({"changed_slice": sorted(queries)}))

    oracles = all_oracles()
    spark = fresh_session()
    results: dict[str, dict] = {}
    summary: dict[str, dict] = {}
    with open(args.out + ".jsonl", "w") as log:
        for sf_dir in args.sf_dirs:
            t0 = time.time()
            results[sf_dir], spark = sweep(spark, sf_dir, queries, oracles, log)
            summary[sf_dir] = _summary(results[sf_dir], time.time() - t0)
    spark.stop()

    artifact = {"sf_dirs": args.sf_dirs, "summary": summary}
    if len(args.sf_dirs) > 1:
        rows = [_footer_rows(d) for d in args.sf_dirs[:2]]
        common = rows[0].keys() & rows[1].keys()
        ratio = sum(rows[1][t] for t in common) / sum(rows[0][t] for t in common)
        artifact["scale_ratio"] = round(ratio, 3)
        small, big = (results[d] for d in args.sf_dirs[:2])
        for name, rec in big.items():
            t1 = small[name].get("build_s", 0) + small[name].get("action_s", 0)
            t2 = rec.get("build_s", 0) + rec.get("action_s", 0)
            if t1 > 0 and t2 > 0 and ratio != 1:
                rec["alpha"] = round(math.log(t2 / t1) / math.log(ratio), 3)
    artifact["results"] = results
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    return 1 if any(s["FAIL"] for s in summary.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
