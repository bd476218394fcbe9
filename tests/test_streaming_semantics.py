"""Streaming semantics tests that the single-batch oracle queries
can't express: watermark late-data dropping across micro-batches, and
bucketed-table co-located joins (shuffle elimination evidence)."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """Append-mode tumbling agg with a 10-minute watermark: a second
    micro-batch delivering an event older than the watermark must NOT
    re-emit or amend its (already finalized) window."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    _write_batch(
        spark,
        src,
        [
            (1, "2024-01-01 10:01:00", 1.0),
            (2, "2024-01-01 10:04:00", 2.0),
            (3, "2024-01-01 11:00:00", 4.0),  # advances watermark to 10:50
        ],
    )
    agg = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(F.col("w.start").alias("ws"), "n", "v")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_data_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r["ws"]: (r["n"], r["v"]) for r in spark.table("late_data_test").collect()}
        # watermark 10:50 → the 10:00 window is final and emitted
        assert any(ws.minute == 0 and ws.hour == 10 for ws in first), first

        # batch 2: one LATE event (10:05, behind the 10:50 watermark)
        # and one fresh event pushing time forward.
        _write_batch(
            spark,
            src,
            [
                (4, "2024-01-01 10:05:00", 100.0),  # late → must be dropped
                (5, "2024-01-01 11:30:00", 8.0),
            ],
        )
        q.processAllAvailable()
        rows = spark.table("late_data_test").collect()
        ten_oclock = [r for r in rows if r["ws"].hour == 10 and r["ws"].minute == 0]
        # exactly one finalized emission for the 10:00 window, without
        # the late event's value
        assert len(ten_oclock) == 1
        assert ten_oclock[0]["n"] == 2 and ten_oclock[0]["v"] == 3.0
    finally:
        q.stop()


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed by the join key →
    SortMergeJoin with NO shuffle exchange — the bucketing story that
    matters when the same 100 TB fact table is joined every hour."""
    from taps_spark.io.tables import load_table

    # warehouse dir is a static conf — bucketed tables land in the
    # session's default warehouse; unique names + DROP in finally.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).mode("overwrite").saveAsTable("b_orders")
        load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            "b_lineitem"
        )
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed equi-join must not shuffle"
        # and it computes the right thing
        assert joined.count() == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_stream_checkpoint_restart_processes_only_new_data(spark, tmp_path):
    """Resume parity for streams: a restarted query with the SAME
    checkpoint continues from the committed source offsets — already
    -processed input is never re-emitted (the streaming form of the
    reference's --resume cursor, lib/taps/data_stream.rb:15-25)."""
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 5).select(F.col("id")).write.parquet(str(src / "batch1.parquet"))

    def run_once():
        stream = spark.readStream.schema("id long").parquet(str(src) + "/*")
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 5

    spark.range(5, 10).select(F.col("id")).write.parquet(str(src / "batch2.parquet"))
    run_once()  # restart from checkpoint

    out = spark.read.parquet(sink)
    assert out.count() == 10, "restart must process ONLY the new file"
    assert sorted(r["id"] for r in out.collect()) == list(range(10))


@pytest.mark.parametrize(
    "operator", ["tumbling_window_agg", "sliding_window_agg", "hourly_partials"]
)
def test_multi_microbatch_matches_batch(spark, sf_dir, tmp_path, operator):
    """The events fixture split across 4 files and streamed one file
    per micro-batch must aggregate to EXACTLY the batch operator's
    result on the fixture: complete-mode windowed state carries across
    micro-batch boundaries regardless of how the files interleave
    event time — for every operator a streaming query runs."""
    from taps_spark.io.tables import load_table
    from taps_spark.operators import events
    from taps_spark.streaming.jobs import run_to_memory

    op = getattr(events, operator)
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    # Unsorted round-robin split: every file spans the full time range,
    # so each later micro-batch delivers "late" data vs the previous
    # watermark — the stress case for stateful window merging.
    ev.withColumn("_b", F.col("event_id") % 4).repartition(4, "_b").drop("_b").write.parquet(src)

    raw = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "30 minutes"
    )
    got = sorted(map(tuple, run_to_memory(op(stream), "complete").collect()))
    want = sorted(map(tuple, op(ev).collect()))
    assert got == want


def test_stream_reader_adapts_to_nanos_and_micros_ts(spark, sf_dir, tmp_path):
    """Regression for the r2 event-time bug: fixtures have shipped ts
    as both TIMESTAMP(MICROS) and TIMESTAMP(NANOS); the stream reader
    must yield identical event times for either encoding (a hardcoded
    unit rescales time 1000× under the other)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from taps_spark.streaming.jobs import read_events_stream, run_to_memory

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ns_dir = str(tmp_path / "sf_nanos")
    os.makedirs(ns_dir)
    i = table.schema.get_field_index("ts")
    ns_table = table.set_column(
        i, "ts", table.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(ns_table, os.path.join(ns_dir, "events.parquet"))

    def span(src_dir):
        ev = read_events_stream(spark, src_dir)
        agg = ev.groupBy().agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
        )
        return run_to_memory(agg, "complete").collect()[0]

    micros, nanos = span(sf_dir), span(ns_dir)
    assert micros["n"] == nanos["n"]
    assert micros["lo"] == nanos["lo"] and micros["hi"] == nanos["hi"], (
        f"unit mismatch: micros span ({micros['lo']},{micros['hi']}) "
        f"vs nanos span ({nanos['lo']},{nanos['hi']})"
    )


def test_stateful_v2_matches_v1_when_protobuf_available(spark, sf_dir):
    """transformWithStateInPandas port of the per-user accumulator
    must agree with the applyInPandasWithState form. Skipped where
    pyspark's v2 state serialization dependency (google.protobuf) is
    absent."""
    pytest.importorskip("google.protobuf")
    from taps_spark.queries.streaming import (
        events_stream_stateful_user_stats,
        events_stream_stateful_user_stats_v2,
    )

    v1 = sorted(map(tuple, events_stream_stateful_user_stats(spark, sf_dir).collect()))
    v2 = sorted(map(tuple, events_stream_stateful_user_stats_v2(spark, sf_dir).collect()))
    assert v1 == v2


def test_stateful_v2_registration_tracks_protobuf():
    """The v2-state query registers exactly when google.protobuf
    imports; otherwise it must appear in skipped_queries() with a
    reason naming the missing dependency — never silently absent."""
    from taps_spark.queries import all_queries, skipped_queries

    name = "events_stream_stateful_user_stats_v2"
    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    if has_protobuf:
        assert name in all_queries()
        assert name not in skipped_queries()
    else:
        assert name not in all_queries()
        assert "protobuf" in skipped_queries()[name]


def test_stateful_agg_on_rocksdb_state_store(spark, sf_dir):
    """The production state-store path: the same windowed streaming
    aggregation must produce identical results on the
    RocksDBStateStoreProvider (what a 100 TB cluster runs — state
    spills off-heap/disk instead of living in executor JVM heap) as
    on the default HDFS-backed in-memory provider."""
    from taps_spark.queries.streaming import events_stream_tumbling

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    baseline = sorted(map(tuple, events_stream_tumbling(spark, sf_dir).collect()))
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = sorted(map(tuple, events_stream_tumbling(spark, sf_dir).collect()))
    finally:
        if default:
            spark.conf.set(key, default)
        else:
            spark.conf.unset(key)
    assert rocks == baseline


def test_stream_pull_replicates_then_ships_only_delta(spark, tmp_path):
    """Continuous-replication contract of the taps_pull stream reader:
    a fresh query replicates the whole table; after the source grows
    and the query restarts from its checkpoint, exactly the new keyset
    range ships — no re-read, no duplicate pks."""
    import sqlite3

    from taps_spark.io.pull_source import register_pull_source, sqlite_from_parquet

    register_pull_source(spark)
    db = sqlite_from_parquet(
        "/root/testdata/sf0.001/orders.parquet",
        str(tmp_path / "src.db"),
        "orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("taps_pull")
            .option("path", db)
            .option("table", "orders")
            .option("pk", "o_orderkey")
            .option("chunk_rows", "500")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_once()
    src_n = sqlite3.connect(db).execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert spark.read.parquet(out).count() == src_n

    con = sqlite3.connect(db)
    mx = con.execute("SELECT MAX(o_orderkey) FROM orders").fetchone()[0]
    con.executemany(
        "INSERT INTO orders VALUES (?,?,?)",
        [(mx + i + 1, 7, 1.5 * i) for i in range(100)],
    )
    con.commit()
    con.close()

    run_once()
    df = spark.read.parquet(out)
    assert df.count() == src_n + 100
    assert df.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    assert df.filter(f"o_orderkey > {mx}").count() == 100


def test_stream_pull_chunked_catchup_parallelism(spark, tmp_path):
    """A catch-up micro-batch keyset-chunks its range: with
    chunk_rows=500 against a 1,500-row table, the first batch must
    plan 3 partitions (the reference's cursor would make 1)."""
    from taps_spark.io.pull_source import SqlitePullStreamReader, sqlite_from_parquet
    from taps_spark.io.tables import load_table  # noqa: F401  (fixture parity import)

    db = sqlite_from_parquet(
        "/root/testdata/sf0.001/orders.parquet",
        str(tmp_path / "src2.db"),
        "orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    import sqlite3

    lo, hi, n = sqlite3.connect(db).execute(
        "SELECT MIN(o_orderkey), MAX(o_orderkey), COUNT(*) FROM orders"
    ).fetchone()
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
        ]
    )
    r = SqlitePullStreamReader(
        {"path": db, "table": "orders", "pk": "o_orderkey", "chunk_rows": "500"}, schema
    )
    assert r.initialOffset() == {"pk": lo - 1}
    assert r.latestOffset() == {"pk": hi}
    parts = r.partitions({"pk": lo - 1}, {"pk": hi})
    assert len(parts) == (n + 499) // 500
    # ranges tile (start, end] exactly: contiguous, no overlap
    assert parts[0].lo == lo and parts[-1].hi == hi + 1
    for a, b in zip(parts, parts[1:]):
        assert a.hi == b.lo
    # empty advance yields one empty range, not a planner error
    empty = r.partitions({"pk": hi}, {"pk": hi})
    assert len(empty) == 1 and empty[0].lo == empty[0].hi
