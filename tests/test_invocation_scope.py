"""No result crosses invocations: a query re-reads its input on every
call (a file rewritten in place under the same path is seen afresh)
and leaves nothing behind in Spark's CacheManager, nor any block once
its barriers are released."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest

from taps_spark.io.tables import release
from taps_spark.queries import REGISTRY, _load


def _result_hash(spark, name: str, sf_dir: str) -> str:
    _load()
    rows = REGISTRY[name].fn(spark, sf_dir).collect()
    norm = sorted(tuple(str(x) for x in r) for r in rows)
    return hashlib.md5(json.dumps(norm).encode()).hexdigest()


@pytest.mark.parametrize(
    "name,table",
    [
        ("dedup_lsh_verified_pairs", "documents.parquet"),
        ("events_stream_state_ttl_twin", "events.parquet"),
    ],
)
def test_lsh_query_rereads_input_rewritten_in_place(spark, sf_dir, tmp_path, name, table):
    """Rewrite the query's input in place (first row dropped, or half
    the rows for the events stream) and rerun in the same session: the
    answer must equal a fresh copy's, not the first run's."""
    import pyarrow.parquet as pq

    live = tmp_path / "live"
    live.mkdir()
    src = live / table
    shutil.copy(os.path.join(sf_dir, table), src)
    first = _result_hash(spark, name, str(live))

    t = pq.read_table(str(src))
    kept = t.slice(1) if table == "documents.parquet" else t.slice(0, t.num_rows // 2)
    pq.write_table(kept, str(src))
    second = _result_hash(spark, name, str(live))

    fresh = tmp_path / "fresh"
    shutil.copytree(live, fresh)
    assert second == _result_hash(spark, name, str(fresh))
    # The dropped rows change the answer; otherwise this test proves
    # nothing.
    assert second != first


@pytest.mark.parametrize(
    "name",
    [
        "similarity_ann_ivf",
        "similarity_ivf_recall_sweep",
        "similarity_ann_pq",
        "events_stream_tumbling",
        "graph_kcore",
        "dedup_connected_components",
    ],
)
def test_query_leaves_cache_manager_empty(spark, sf_dir, name):
    _load()
    spark.catalog.clearCache()
    REGISTRY[name].fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # Its barriers hold no block once released.
    release()
    assert [i.name() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()] == []
    # A stream query's memory sink leaves no view in the session catalog.
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("taps_stream_sink_")]


def test_stream_query_rereads_schema_rewritten_in_place(spark, sf_dir, tmp_path):
    """Rewrite events.parquet in place with ts stored as TIMESTAMP(NANOS)
    instead of MICROS and rerun a streaming query in the same session:
    the stream takes its schema from the file as it is now, so the
    answer is unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = tmp_path / "events.parquet"
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)
    table = pq.read_table(str(events))
    assert table.schema.field("ts").type == pa.timestamp("us")
    first = _result_hash(spark, "events_stream_tumbling", str(tmp_path))

    ts = table.schema.get_field_index("ts")
    nanos = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(events))
    stored = pq.ParquetFile(str(events)).schema.column(ts).logical_type
    assert "nanoseconds" in str(stored)
    assert _result_hash(spark, "events_stream_tumbling", str(tmp_path)) == first
