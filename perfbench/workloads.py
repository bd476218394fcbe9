"""The benchmark's workloads and their operations.

Each operation has an untimed `prepare`, a timed `run` and an untimed
`check` that raises `Mismatch` when the output is wrong. Operations of
one `group` run in order (a later one reads an earlier one's output);
the seed shuffles the groups within each pass.

- queries: registry queries, forced by collecting their rows. Pipeline
  queries (eager-barrier builds, many jobs, the Arrow/Python-worker
  boundary) beside relational ones (few barriers, no Python workers),
  which are their control.
- transfer: the reference's own job, table moves with writes, verify,
  manifest, JDBC (embedded Derby) and Structured Streaming. It bypasses
  `queries` and `operators`, except the registry's stream pull.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq

from stats import frame_digest

#: Registry queries of the `queries` workload. The relational ones are
#: scan/shuffle/aggregate plans with few barriers and no Python workers:
#: the in-workload control for the pipeline ones, whose build runs eager
#: `localCheckpoint` barriers and many jobs, and whose operators cross the
#: Arrow/Python-worker boundary.
RELATIONAL = ["q1_pricing_summary", "q5_region_revenue", "window_rank_top_orders"]
PIPELINE = ["graph_bfs_hops", "dedup_simhash", "dedup_lsh_verified_pairs", "text_lang_id"]

#: Idempotency keys of the `pull` transfer.
PULL_KEYS = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"]}
PULL_PATTERN = "^(" + "|".join(PULL_KEYS) + ")$"
JDBC_TABLES = {"orders": "o_orderkey"}
RESUME_CHUNK_ROWS = 2_500


class Mismatch(Exception):
    """An operation's output failed its correctness check."""


@dataclass
class Ctx:
    spark: Any
    queries: dict
    rows: dict[str, int]  # generated rows per table
    tracer: Any = None  # tracing.Tracer in a traced pass
    probe: Any = None  # tracing.SparkProbe in a traced pass
    digests: dict[str, tuple] = field(default_factory=dict)  # first digest per query
    cache_peak: float = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, str], Any]
    check: Callable[[Ctx, Any], None]
    group: str
    prepare: Callable[[Ctx, str], None] | None = None
    query: str | None = None  # registry name, for the oracle check


def _query_op(name: str) -> Op:
    """Build the registry query, then force it by collecting every row
    and column to the client, as a caller of the registry does."""

    def run(ctx: Ctx, d: str):
        mark = None
        if ctx.probe is not None:
            with ctx.tracer.overhead():
                mark = ctx.probe.mark()
        with ctx.span("queries.build"):
            df = ctx.queries[name](ctx.spark, d)
        if ctx.probe is not None:
            with ctx.tracer.overhead():
                ctx.tracer.count("queries.build_jobs", ctx.probe.jobs_since(mark))
                ctx.cache_peak = max(ctx.cache_peak, ctx.probe.cached()[0])
        with ctx.span("queries.action"):
            return df.toPandas()

    def check(ctx: Ctx, out) -> None:
        got = frame_digest(out)
        want = ctx.digests.setdefault(name, got)
        if got != want:
            raise Mismatch(f"{name}: digest {got} differs from the first pass's {want}")

    return Op(name=name, run=run, check=check, group=name, query=name)


# ---------------------------------------------------------------- transfer


def _out(d: str, *parts: str) -> str:
    return os.path.join(d, "out", *parts)


def _transfer(ctx: Ctx, **kw):
    from taps_spark.transfer.manifest import TransferManifest
    from taps_spark.transfer.operation import TransferOperation

    manifest = TransferManifest.load(kw.pop("manifest"))
    return TransferOperation(manifest=manifest, verify=True, parallelism=1, **kw).run(ctx.spark)


def _expect(result, transferred: dict[str, int], verified: set[str]) -> None:
    if result.transferred != transferred:
        raise Mismatch(f"transferred {result.transferred}, expected {transferred}")
    if set(result.verified) != verified:
        raise Mismatch(f"verified {sorted(result.verified)}, expected {sorted(verified)}")


def _pull(ctx: Ctx, d: str):
    from taps_spark.transfer.operation import ParquetEndpoint

    return _transfer(
        ctx, source=ParquetEndpoint(d), target=ParquetEndpoint(_out(d, "pull")),
        manifest=_out(d, "pull.json"), key_cols=PULL_KEYS, table_pattern=PULL_PATTERN,
    )


def _rerun(ctx: Ctx, d: str):
    from taps_spark.transfer.operation import ParquetEndpoint

    return _transfer(
        ctx, source=ParquetEndpoint(d), target=ParquetEndpoint(_out(d, "pull")),
        manifest=_out(d, "rerun.json"), key_cols=PULL_KEYS, table_pattern=PULL_PATTERN,
    )


def _resume_mid(ctx: Ctx) -> int:
    return ctx.rows["orders"] // 2 - 1


def _resume_prepare(ctx: Ctx, d: str) -> None:
    """A target that holds orders up to half the key range, and a
    manifest whose watermark says so: the state a crash leaves behind."""
    from taps_spark.transfer.manifest import TransferManifest

    mid = _resume_mid(ctx)
    target = _out(d, "resume", "orders.parquet")
    os.makedirs(target)
    t = pq.read_table(os.path.join(d, "orders.parquet"))
    pq.write_table(t.filter(pc.field("o_orderkey") <= mid), os.path.join(target, "part-0.parquet"))
    TransferManifest(path=_out(d, "resume.json")).set_watermark("orders", mid)


def _resume(ctx: Ctx, d: str):
    from taps_spark.transfer.operation import ParquetEndpoint

    return _transfer(
        ctx, source=ParquetEndpoint(d), target=ParquetEndpoint(_out(d, "resume")),
        manifest=_out(d, "resume.json"), table_pattern="^orders$",
        key_cols={"orders": ["o_orderkey"]}, chunk_rows=RESUME_CHUNK_ROWS,
    )


def _derby_url(d: str) -> str:
    return f"jdbc:derby:{_out(d, 'derby')};create=true"


def _jdbc_push(ctx: Ctx, d: str):
    from taps_spark.io.jdbc import JdbcEndpoint
    from taps_spark.transfer.operation import ParquetEndpoint

    return _transfer(
        ctx, source=ParquetEndpoint(d), target=JdbcEndpoint(_derby_url(d), pk_cols=JDBC_TABLES),
        manifest=_out(d, "jdbc_push.json"), table_pattern="^orders$",
        key_cols={t: [k] for t, k in JDBC_TABLES.items()},
    )


def _jdbc_pull(ctx: Ctx, d: str):
    from taps_spark.io.jdbc import JdbcEndpoint
    from taps_spark.transfer.operation import ParquetEndpoint

    return _transfer(
        ctx, source=JdbcEndpoint(_derby_url(d), pk_cols=JDBC_TABLES),
        target=ParquetEndpoint(_out(d, "jdbc_pull")), manifest=_out(d, "jdbc_pull.json"),
        table_pattern="^orders$", key_cols={"orders": ["o_orderkey"]},
    )


def _transfer_ops() -> list[Op]:
    every = set(PULL_KEYS)

    def pull_check(ctx: Ctx, r) -> None:
        _expect(r, {t: ctx.rows[t] for t in every}, every)

    def rerun_check(ctx: Ctx, r) -> None:
        _expect(r, {t: 0 for t in every}, every)

    def resume_check(ctx: Ctx, r) -> None:
        mid = _resume_mid(ctx)
        _expect(r, {"orders": ctx.rows["orders"] - mid - 1}, {"orders"})
        if r.resumed_from != {"orders": mid}:
            raise Mismatch(f"resumed from {r.resumed_from}, expected orders at {mid}")

    def push_check(ctx: Ctx, r) -> None:
        _expect(r, {t: ctx.rows[t] for t in JDBC_TABLES}, set(JDBC_TABLES))

    def jdbc_pull_check(ctx: Ctx, r) -> None:
        _expect(r, {"orders": ctx.rows["orders"]}, {"orders"})

    stream = _query_op("transfer_stream_pull")
    return [
        Op("pull", _pull, pull_check, group="pull"),
        Op("rerun", _rerun, rerun_check, group="pull"),
        Op("resume", _resume, resume_check, group="resume", prepare=_resume_prepare),
        Op("jdbc_push", _jdbc_push, push_check, group="jdbc"),
        Op("jdbc_pull", _jdbc_pull, jdbc_pull_check, group="jdbc"),
        Op("stream_pull", stream.run, stream.check, group="stream", query=stream.query),
    ]


#: workload → (input scale factor, operations). At sf0.01 fixed per-job
#: cost already dominates: a warm pass takes nearly as long at sf0.001.
WORKLOADS: dict[str, tuple[float, Callable[[], list[Op]]]] = {
    "queries": (0.01, lambda: [_query_op(n) for n in RELATIONAL + PIPELINE]),
    "transfer": (0.01, _transfer_ops),
}


def pass_order(ops: list[Op], rng) -> list[Op]:
    """Shuffle the groups, keep the order within each group."""
    groups: dict[str, list[Op]] = {}
    for op in ops:
        groups.setdefault(op.group, []).append(op)
    keys = list(groups)
    rng.shuffle(keys)
    return [op for k in keys for op in groups[k]]
