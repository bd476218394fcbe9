"""Tracing for the benchmark's traced passes.

Spans are recorded around calls into each layer, from the benchmark's own
files: the query callable and its force in `workloads.py`, and the
transfer layer's inner calls, which `Tracer.patched` wraps at the name
the caller resolves (e.g. `taps_spark.transfer.operation.verify_or_raise`,
which `operation.py` imports by name, not `verify.verify_or_raise`).
Spans stay in memory; `stats.self_times` turns them into per-layer self
time when the run ends.

`SparkProbe` reads what Spark itself counts for one operation, through
interfaces that work with `spark.ui.enabled=false`: job ids from the
DAG scheduler, stage and task counts from `statusTracker`, per-operator
SQL metrics from the SQL status store, cached blocks from the block
manager's storage info, and micro-batches from a streaming listener.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from stats import parse_sql_metric

#: SQL status-store metric name → per-layer metric it adds to.
SQL_METRICS = {
    "shuffle bytes written": "exec.shuffle_bytes",
    "spill size": "exec.spill_bytes",
    "size of files read": "io.scan_bytes",
    "scan time": "io.scan_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
}


class Tracer:
    """In-memory spans (name, start, end, parent index) and counters."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.counts: dict[str, float] = {}
        #: seconds the tracer itself spent inside timed operations
        self.overhead_s = 0.0
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append((name, t0, t0, parent))
        self._open.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.spans[idx] = (name, start, end, parent)
            self.overhead_s += time.perf_counter() - end

    @contextmanager
    def overhead(self):
        """Charge the enclosed bookkeeping to the tracer's overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def _wrap(self, fn, name: str, result_count: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if result_count is not None and isinstance(out, int) and out >= 0:
                self.count(result_count, out)
            return out

        return traced

    @contextmanager
    def patched(self):
        """Wrap the transfer layer's inner calls for the duration."""
        from taps_spark.io import sinks
        from taps_spark.io.jdbc import JdbcEndpoint
        from taps_spark.transfer import operation
        from taps_spark.transfer.manifest import TransferManifest

        targets = [
            (operation.TransferOperation, "run", "transfer.run", None),
            (sinks, "append_idempotent", "sinks.append_idempotent", "sinks.rows_appended"),
            (operation, "verify_or_raise", "verify.compare", None),
            (TransferManifest, "_flush", "manifest.flush", None),
            (JdbcEndpoint, "write", "jdbc.write", None),
            (JdbcEndpoint, "read", "jdbc.read", None),
        ]
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in targets]
        try:
            for owner, attr, name, result_count in targets:
                setattr(owner, attr, self._wrap(owner.__dict__[attr], name, result_count))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)


class SparkProbe:
    """Spark-side counters for one operation: `mark()` before it and
    `since(mark)` after it. Operations run one at a time (closed loop),
    so every job and SQL execution with an id past the mark is the
    operation's own, streaming jobs included."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.batches: list[float] = []
        self._listener = None

    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class _Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    batches.append(p.durationMs.get("triggerExecution", 0) / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Batches()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def mark(self) -> tuple[int, int]:
        # The execution count is the next execution id while the store
        # still holds every execution (spark.sql.ui.retainedExecutions,
        # 1000; a run makes a few hundred).
        return self.jsc.dagScheduler().nextJobId(), self.store.executionsCount()

    def jobs_since(self, mark: tuple[int, int]) -> int:
        return self.jsc.dagScheduler().nextJobId() - mark[0]

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for job_id in range(mark[0], self.jsc.dagScheduler().nextJobId()):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        tasks = n_stages = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                tasks += info.numCompletedTasks
        out = {"spark.jobs": float(self.jobs_since(mark)), "spark.stages": float(n_stages),
               "spark.tasks": float(tasks)}
        out.update({m: 0.0 for m in SQL_METRICS.values()})
        seen = set()  # an accumulator can be listed by more than one node
        it = self.store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() < mark[1]:
                continue
            values = self.store.executionMetrics(ex.executionId())
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        return out

    def cached(self) -> tuple[float, float]:
        """(bytes, partitions) held by cached and checkpointed RDDs."""
        infos = self.jsc.getRDDStorageInfo()
        return (
            float(sum(i.memSize() + i.diskSize() for i in infos)),
            float(sum(i.numCachedPartitions() for i in infos)),
        )
