"""Per-group state for the custom stateful streaming queries
(queries/streaming.py): the applyInPandasWithState update functions,
their output and state schemas, and the v2 (transformWithStateInPandas)
processor.

The engine's extension point for operators Structured Streaming's
built-ins can't express (per-key accumulators with custom merge/
timeout logic). Each query's output is SQL-checkable (the batch oracle
computes the same totals), so the harness gates even the stateful path.

Scale: state lives in the state store partitioned by user key — one
shuffle on the key per micro-batch; Arrow-batched pandas per group,
never a whole-partition collect.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql.streaming.state import GroupState

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
STATE_SCHEMA = "n bigint, total double"


def update_user_stats(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user event count + value total as custom streaming state;
    with a single AvailableNow batch the emitted rows are the final
    totals (== the batch aggregation)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "sum_value": round(total, 2)}]
    )


def user_stats_processor():
    """The same per-user accumulator on the NEW arbitrary-state API
    (transformWithStateInPandas, Spark 4): typed ValueState in the
    RocksDB-backed store instead of a single tuple, explicit processor
    lifecycle (init/handleInputRows/close).

    Scale story identical to applyInPandasWithState (state
    hash-partitioned by key, Arrow batches per group), but the v2 API
    adds independently-evolvable named state variables, state TTL,
    and timers — the surface production stateful pipelines need.

    Imported lazily: the v2 API serializes state metadata over
    protobuf, so `events_stream_stateful_user_stats_v2` registers only
    where `google.protobuf` imports (queries.skipped_queries() carries
    the reason elsewhere)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("acc", state_schema)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                [{"user_id": key[0], "n_events": n, "sum_value": round(total, 2)}]
            )

        def close(self) -> None:
            pass

    return UserStats()


# ---------------------------------------------------------------------------
# v2-state semantics twin: TTL + timer-style finalization on the v1 API.
# ---------------------------------------------------------------------------

TTL_TWIN_OUTPUT_SCHEMA = (
    "user_id bigint, generation int, n_events bigint, "
    "sum_value_micros bigint, expired boolean, seq int"
)
TTL_TWIN_STATE_SCHEMA = "days array<int>, ns array<bigint>, vs array<bigint>, seq int"

#: state generations split when a user's active-day gap exceeds this —
#: the event-time TTL clock of the twin (events_stream_state_ttl_twin).
TTL_DAYS = 2

def ttl_twin_update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user day-bucketed accumulator with event-time TTL semantics.

    State = the pending per-day aggregates (day, n, sum-of-micros
    quanta) plus a per-key batch sequence — exactly what a v2
    (transformWithStateInPandas) processor keeps as ValueState-with-TTL
    plus registered timers: each day bucket is a pending aggregate
    whose 'timer' fires when a later day arrives more than TTL_DAYS
    past it, closing the generation. Emission recomputes the
    generation breakdown from state every batch (update mode); the
    final per-key emission (max seq) is the complete answer, which
    makes the output independent of micro-batch arrival ORDER — the
    property that lets a deterministic batch oracle gate a
    multi-micro-batch stateful stream."""
    days, ns, vs, seq = state.get if state.exists else ([], [], [], 0)
    acc = {int(d): (int(n), int(v)) for d, n, v in zip(days, ns, vs)}
    for pdf in pdfs:
        # A group's batch slice is a handful of rows (events/users/
        # n_files ≈ 13 at sf0.1), but this function runs once per
        # (user × micro-batch) — 7,500 calls at sf0.1 — so per-call
        # pandas machinery IS the operator's cost. A plain zip loop
        # over the two columns replaces pdf.groupby + per-day
        # fillna/astype/sum chains (~4 pandas object constructions
        # per day bucket) with dict arithmetic (guide §4.2 inverted:
        # when frames are this small, the vectorization fixed cost
        # exceeds the loop it saves).
        for d, q in zip(
            pdf["day"].astype("int64").to_numpy().tolist(),
            pdf["q"].fillna(0).astype("int64").to_numpy().tolist(),
        ):
            n0, v0 = acc.get(d, (0, 0))
            acc[d] = (n0 + 1, v0 + q)
    seq += 1
    days = sorted(acc)
    state.update(
        (days, [acc[d][0] for d in days], [acc[d][1] for d in days], seq)
    )
    gens: list[tuple[int, int, int]] = []
    gen = g_n = g_v = 0
    prev = None
    for d in days:
        if prev is not None and d - prev > TTL_DAYS:
            gens.append((gen, g_n, g_v))
            gen, g_n, g_v = gen + 1, 0, 0
        g_n += acc[d][0]
        g_v += acc[d][1]
        prev = d
    gens.append((gen, g_n, g_v))
    last = gens[-1][0]
    # dict-of-columns beats one dict per row: pandas builds each
    # column in one shot instead of inferring per-row (same 7,500
    # calls/sf0.1 argument as the accumulator loop above).
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(gens),
            "generation": [g for g, _, _ in gens],
            "n_events": [n for _, n, _ in gens],
            "sum_value_micros": [v for _, _, v in gens],
            "expired": [g < last for g, _, _ in gens],
            "seq": [seq] * len(gens),
        }
    )
