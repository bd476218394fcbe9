#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 14 --trace 0

Run from the repository root. One process, one SparkSession built by
`taps_spark.session.get_spark` on local[N] (N = usable cores), runs one
operation at a time. Set-up generates the seeded inputs, starts the
session and makes one untimed warm-up pass on its own input copy, which
also checks every query that has a DuckDB oracle. Then timed passes run,
each on a fresh copy of the inputs and in a seeded order, until
`--seconds` have passed (at least one pass). Every operation's output is
checked after it is timed; see `workloads.py`.

With `--trace 0` the last line of output carries the end-to-end metrics;
with `--trace 1` every timed pass is traced and it carries the per-layer
metrics instead. A detail record (set-up split, per-operation medians,
quartiles and sample counts, per-operation layer counters and any failure
messages) is written under `.perfbench/results/`. See README.md.

`bench.py` keeps its own, separate output contract; this command does
not read or change it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.shuffle_bytes": "B", "exec.spill_bytes": "B", "io.scan_bytes": "B", "io.scan_s": "s",
    "python.bytes_sent": "B", "python.bytes_returned": "B", "python.worker_start_s": "s",
    "python.worker_init_s": "s", "python.worker_run_s": "s",
    "cache.block_bytes_peak": "B", "cache.blocks_left": "count",
    "transfer.run_s": "s", "sinks.append_idempotent_s": "s", "sinks.rows_appended": "count",
    "verify.compare_s": "s", "manifest.flushes": "count", "transfer.bytes_written_ratio": "ratio",
    "jdbc.write_s": "s", "jdbc.read_s": "s", "streaming.batches": "count", "streaming.batch_s": "s",
    "trace.overhead_frac": "ratio",
}
#: span name → per-layer self-time metric
SPAN_METRICS = {
    "queries.build": "queries.build_s", "queries.action": "queries.action_s",
    "transfer.run": "transfer.run_s", "sinks.append_idempotent": "sinks.append_idempotent_s",
    "verify.compare": "verify.compare_s", "jdbc.write": "jdbc.write_s", "jdbc.read": "jdbc.read_s",
}


def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    run measured while it grew fast was measured on a contended host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str, skip: str = "") -> int:
    total = 0
    for d, _, files in os.walk(path):
        if skip and d.startswith(skip):
            continue
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def isolate(work: str) -> None:
    """Keep every file Spark, Derby and Python workers write inside the
    work directory, and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The whole heap is committed and touched at JVM start, so peak RSS
    # does not depend on when the collector chose to grow the heap.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:InitialRAMPercentage=100 -XX:+AlwaysPreTouch"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "taps_spark", "session.py")):
        print(f"perfbench: no taps_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Run:
    """One benchmark run: set-up, warm-up, timed passes, result."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.op_times: dict[str, list[float]] = {}
        self.warm_times: dict[str, float] = {}
        self.passes: list[dict] = []
        self.layer_by_op: dict[str, dict[str, float]] = {}

    # ------------------------------------------------------------ set-up

    def execute(self) -> dict:
        import gen
        from workloads import WORKLOADS, Ctx

        sf, make_ops = WORKLOADS[self.args.workload]
        setup = {"interpreter_s": process_age()}
        tables = gen.make_tables(self.args.seed, sf)
        self.base = os.path.join(self.work, "base")
        gen.write_tables(tables, self.base)
        rows = {name: t.num_rows for name, t in tables.items()}
        del tables
        setup["inputs_s"] = process_age() - sum(setup.values())

        from pyspark import SparkContext

        from taps_spark.queries import all_oracles, all_queries
        from taps_spark.session import get_spark

        spark = get_spark("perfbench")
        gateway = SparkContext._gateway
        try:
            self.ctx = Ctx(spark=spark, queries=all_queries(), rows=rows)
            self.oracles = all_oracles()
            self.ops = make_ops()
            jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            setup["session_s"] = process_age() - sum(setup.values())
            self.warm_up()
            setup_s = process_age()
            setup["warm_up_s"] = setup_s - sum(setup.values())
            steal0 = steal_s()
            self.measure()
            self.host_steal_s = steal_s() - steal0
            rss = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid)}
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        return self.result(sf, rows, setup_s, setup, rss)

    def fresh_inputs(self, tag: str) -> str:
        import gen

        # The process id in the name keeps the stream pull's sqlite file
        # (named after this directory) apart from a concurrent run's.
        d = os.path.join(self.work, f"in{os.getpid()}-{tag}")
        gen.copy_inputs(self.base, d)
        return d

    def drop_inputs(self, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)
        # transfer_stream_pull keeps its sqlite source in the engine's
        # scratch directory, named after the input directory.
        db = os.path.join(ROOT, ".scratch", f"stream_pull_{os.path.basename(d)}.db")
        if os.path.exists(db):
            os.remove(db)

    def warm_up(self) -> None:
        """One untimed pass on its own input copy. It records each
        query's reference digest and checks query results against their
        DuckDB oracles on the same inputs."""
        import duckdb

        from stats import normalize_rows
        from workloads import pass_order

        d = self.fresh_inputs("warm")
        con = duckdb.connect()
        try:
            for name in os.listdir(self.base):
                con.execute(
                    f"CREATE VIEW {name[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(d, name)}')"
                )
            for op in pass_order(self.ops, self.rng):
                got = self.run_op(op, d, timed=False)
                if got is None or op.query not in self.oracles:
                    continue
                self.attempted += 1
                try:
                    want = con.execute(self.oracles[op.query]).fetch_df()
                except duckdb.Error as e:
                    self.failures.append(f"oracle {op.query}: {e}")
                    continue
                cols = sorted(got.columns)
                if cols != sorted(want.columns):
                    self.failures.append(f"oracle {op.query}: columns {cols} vs {sorted(want.columns)}")
                elif normalize_rows(got[cols].itertuples(index=False, name=None)) != normalize_rows(
                    want[cols].itertuples(index=False, name=None)
                ):
                    self.failures.append(f"oracle {op.query}: rows differ from the DuckDB oracle")
        finally:
            con.close()
            self.drop_inputs(d)

    # ------------------------------------------------------------ passes

    def run_op(self, op, d: str, timed: bool, layer: dict | None = None):
        """Prepare, run and check one operation; its output, or None
        when it raised or failed its check."""
        self.attempted += 1
        ctx, probe = self.ctx, self.ctx.probe
        out_dir = os.path.join(d, "out")
        try:
            if op.prepare is not None:
                op.prepare(ctx, d)
            if probe is not None:
                mark, parts0, counts0 = probe.mark(), probe.cached()[1], dict(ctx.tracer.counts)
                written0 = dir_bytes(out_dir, skip=os.path.join(out_dir, "derby"))
            t = time.perf_counter()
            out = op.run(ctx, d)
            dt = time.perf_counter() - t
            op.check(ctx, out)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failures.append(f"{op.name}: {type(e).__name__}: {e}")
            return None
        if not timed:
            self.warm_times[op.name] = dt
            return out
        self.op_times.setdefault(op.name, []).append(dt)
        layer["pass_s"] = layer.get("pass_s", 0.0) + dt
        if probe is not None:
            counters = probe.since(mark)
            cached_bytes, parts = probe.cached()
            ctx.cache_peak = max(ctx.cache_peak, cached_bytes)
            counters["cache.blocks_left"] = max(0.0, parts - parts0)
            by_op = self.layer_by_op.setdefault(op.name, {})
            for k, v in ctx.tracer.counts.items():  # added to the pass from the tracer
                by_op[k] = by_op.get(k, 0.0) + v - counts0.get(k, 0.0)
            transferred = getattr(out, "transferred", None)
            if transferred is not None:
                counters["bytes_written"] = dir_bytes(out_dir, skip=os.path.join(out_dir, "derby")) - written0
                counters["bytes_moved"] = sum(
                    os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in transferred
                )
            for k, v in counters.items():
                layer[k] = layer.get(k, 0.0) + v
                by_op[k] = by_op.get(k, 0.0) + v
        return out

    def one_pass(self, k: int) -> dict:
        import stats
        from tracing import SparkProbe, Tracer
        from workloads import pass_order

        ctx, traced = self.ctx, bool(self.args.trace)
        d = self.fresh_inputs(str(k))
        order = pass_order(self.ops, self.rng)
        layer: dict[str, float] = {"pass_s": 0.0}
        if traced:
            ctx.tracer, ctx.probe, ctx.cache_peak = Tracer(), SparkProbe(ctx.spark), 0.0
            ctx.probe.listen_streaming()
        try:
            with ctx.tracer.patched() if traced else nullcontext():
                for op in order:
                    self.run_op(op, d, timed=True, layer=layer)
            if traced:
                tr = ctx.tracer
                for (name, *_), self_s in zip(tr.spans, stats.self_times(tr.spans)):
                    if name in SPAN_METRICS:
                        layer[SPAN_METRICS[name]] = layer.get(SPAN_METRICS[name], 0.0) + self_s
                layer["manifest.flushes"] = float(sum(s[0] == "manifest.flush" for s in tr.spans))
                for name, v in tr.counts.items():
                    layer[name] = layer.get(name, 0.0) + v
                layer["cache.block_bytes_peak"] = ctx.cache_peak
                layer["streaming.batches"] = float(len(ctx.probe.batches))
                layer["streaming.batch_s"] = float(sum(ctx.probe.batches))
                layer["trace.overhead_frac"] = tr.overhead_s / layer["pass_s"]
        finally:
            if traced:
                ctx.probe.close()
                ctx.tracer = ctx.probe = None
            self.drop_inputs(d)
        return {"order": [op.name for op in order], "layer": layer}

    def measure(self) -> None:
        """Timed passes until `--seconds` have passed, at least one."""
        start = time.perf_counter()
        while not self.passes or time.perf_counter() - start < self.args.seconds:
            self.passes.append(self.one_pass(len(self.passes)))

    # ------------------------------------------------------------ result

    def result(self, sf: float, rows: dict[str, int], setup_s: float, setup: dict, rss: dict) -> dict:
        import stats
        from workloads import PULL_KEYS

        failed = len(self.failures)
        pass_s = stats.median([p["layer"]["pass_s"] for p in self.passes])
        if self.args.workload == "transfer":
            pulled = sum(rows[t] for t in PULL_KEYS)
            rows_per_s = stats.median([pulled / t for t in self.op_times["pull"]])
        else:
            rows_per_s = sum(rows.values()) / pass_s
        e2e = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_geomean_s": stats.geomean([stats.median(v) for v in self.op_times.values()]),
            "rows_per_s": rows_per_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        detail = {
            "workload": self.args.workload, "seed": self.args.seed, "sf": sf, "rows": rows,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "trace": self.args.trace,
            "fail_frac": failed / self.attempted, "failures": self.failures,
            "end_to_end": e2e, "setup": setup, "peak_rss_mb": rss, "warm_up_ops": self.warm_times,
            "host_steal_s": self.host_steal_s,
            "ops": {n: stats.summary(v) for n, v in sorted(self.op_times.items())},
            "passes": self.passes,
        }
        if self.args.trace:
            layer = {n: stats.median([p["layer"].get(n, 0.0) for p in self.passes]) for n in PER_LAYER}
            moved = sum(p["layer"].get("bytes_moved", 0.0) for p in self.passes)
            written = sum(p["layer"].get("bytes_written", 0.0) for p in self.passes)
            layer["transfer.bytes_written_ratio"] = written / moved if moved else 0.0
            detail["per_layer"], detail["per_layer_by_op"] = layer, self.layer_by_op
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
        out_dir = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}.json")
        with open(path, "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(f"perfbench: detail record {os.path.relpath(path, ROOT)}; failures: {self.failures}")
        return {"correct": failed == 0, "attempted": self.attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
