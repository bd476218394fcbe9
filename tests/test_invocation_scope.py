"""No result crosses invocations: a query re-reads its input on every
call (a file rewritten in place under the same path, or another input
dir with the same name, is seen afresh) and leaves nothing behind in
Spark's CacheManager, nor any block or scratch dir once it is
released."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import pytest

from taps_spark.io.tables import release, table_path
from taps_spark.queries import REGISTRY, _load

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


@pytest.mark.parametrize("name", ["scan_python_datasource", "transfer_stream_pull"])
def test_same_named_input_dirs_are_read_apart(spark, sf_dir, tmp_path, name):
    """Two input dirs with the same basename, the second holding half
    of the first's orders: the run on the second leaves nothing that
    stands in for the first's source."""
    import pyarrow.parquet as pq

    orders = pq.read_table(table_path(sf_dir, "orders"))
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for d, t in ((a, orders), (b, orders.slice(0, orders.num_rows // 2))):
        d.mkdir(parents=True)
        pq.write_table(t, str(d / "orders.parquet"))
    on_b = _result_hash(spark, name, str(b))
    on_a = _result_hash(spark, name, str(a))

    unique = tmp_path / "unique_a"
    shutil.copytree(a, unique)
    assert on_a == _result_hash(spark, name, str(unique))
    assert on_a != on_b


@pytest.mark.parametrize(
    "name",
    [
        "similarity_ann_ivf",
        "similarity_ivf_recall_sweep",
        "similarity_ann_pq",
        "events_stream_tumbling",
        "graph_kcore",
        "dedup_connected_components",
        "events_stream_foreach_batch",
        "events_stream_continuous_rollup",
        "transfer_stream_pull",
        "scan_python_datasource",
    ],
)
def test_query_leaves_cache_manager_empty(spark, sf_dir, tmp_path, monkeypatch, name):
    _load()
    spark.catalog.clearCache()
    # A temp root of this test's own, so no other process's dirs count.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    repo_scratch = os.path.join(ROOT, ".scratch")
    in_repo = set(os.listdir(repo_scratch)) if os.path.isdir(repo_scratch) else set()
    REGISTRY[name].fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # Its barriers hold no block once released.
    release()
    assert [i.name() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()] == []
    # A stream query's memory sink leaves no view in the session catalog.
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("taps_stream_sink_")]
    # Nor any temp dir, nor a file in the repo.
    assert [e for e in os.listdir(tmp_path) if e.startswith("taps_")] == []
    if os.path.isdir(repo_scratch):
        assert set(os.listdir(repo_scratch)) <= in_repo


def test_releasing_a_stream_dir_keeps_the_files_it_links(tmp_path, monkeypatch):
    """A stream's source view is symlinks to the table's part files:
    removing the view removes the links, never the table."""
    from taps_spark.streaming.jobs import _as_stream_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    events = tmp_path / "sf" / "events.parquet"
    events.mkdir(parents=True)
    for i in range(2):
        (events / f"part-{i}.parquet").write_bytes(b"x")
    view = _as_stream_dir(str(tmp_path / "sf"))
    assert sorted(os.listdir(view)) == ["part0.parquet", "part1.parquet"]
    release()
    assert not os.path.exists(view)
    assert sorted(os.listdir(events)) == ["part-0.parquet", "part-1.parquet"]


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
