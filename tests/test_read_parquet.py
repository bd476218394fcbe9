"""`read_parquet`, the engine's one parquet read: the schema it takes
from one footer on the driver equals Spark's own inference, the read
launches no Spark job, and whatever Spark must resolve itself (missing
path, empty directory, glob, schema merging) gets Spark's behavior."""

from __future__ import annotations

import os
import re
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taps_spark.io.sources import _listed, read_parquet
from taps_spark.io.tables import TABLE_NAMES, table_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUILT = (
    "spark_parts",
    "spark_types",
    "arrow_types",
    "arrow_nanos",
    "zero_rows",
    "file_sink",
    "partitioned_1",
    "partitioned_2",
    "partition_order",
    "part_order",
    "common_metadata",
)


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _build(spark, d: str) -> dict[str, str]:
    paths = {name: os.path.join(d, name) for name in BUILT}
    spark.range(0, 30, 1, 3).selectExpr("id", "id * 2 AS v").write.parquet(paths["spark_parts"])
    spark.sql(
        "SELECT CAST(1 AS TINYINT) t, CAST(1.5 AS DECIMAL(10,2)) d, DATE'2024-01-02' dt, "
        "TIMESTAMP'2024-01-02 03:04:05' ts, TIMESTAMP_NTZ'2024-01-02 03:04:05' ntz, "
        "X'0102' b, array(1, 2) a, named_struct('x', 1, 'y', 'z') s, map('k', 1.0D) m"
    ).write.parquet(paths["spark_types"])
    pq.write_table(
        pa.table(
            {
                "t": pa.array([1], pa.int8()),
                "d": pa.array([Decimal("1.50")], pa.decimal128(10, 2)),
                "dt": pa.array([19724], pa.int32()).cast(pa.date32()),
                "ts_utc": pa.array([1], pa.timestamp("us", tz="UTC")),
                "ts_local": pa.array([1], pa.timestamp("us")),
                "b": pa.array([b"\x01"], pa.binary()),
                "a": pa.array([[1, 2]], pa.list_(pa.int64())),
                "s": pa.array([{"x": 1, "y": "z"}]),
                "m": pa.array([[("k", 1.0)]], pa.map_(pa.string(), pa.float64())),
            }
        ),
        paths["arrow_types"],
    )
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array([1, 2], pa.timestamp("ns"))}),
        paths["arrow_nanos"],
    )
    spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(paths["zero_rows"])

    src = os.path.join(d, "stream_src")
    spark.range(5).write.parquet(src)
    q = (
        spark.readStream.schema("id BIGINT").parquet(src)
        .writeStream.format("parquet")
        .option("path", paths["file_sink"])
        .option("checkpointLocation", os.path.join(d, "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    frame = spark.range(12).selectExpr("id", "id % 3 AS k", "id % 2 AS j")
    frame.write.partitionBy("k").parquet(paths["partitioned_1"])
    frame.write.partitionBy("k", "j").parquet(paths["partitioned_2"])
    # Part files that disagree: Spark reads the first in path order, so
    # k=1/ (not k=10/, not k=2/) decides, and so must read_parquet.
    for k, cols in (("1", {"x": [1]}), ("10", {"x": [2], "y": ["a"]}), ("2", {"z": [3.0]})):
        os.makedirs(os.path.join(paths["partition_order"], f"k={k}"))
        pq.write_table(pa.table(cols), os.path.join(paths["partition_order"], f"k={k}", "p.parquet"))
    os.makedirs(os.path.join(paths["part_order"], "a"))
    pq.write_table(pa.table({"x": [1]}), os.path.join(paths["part_order"], "a", "p.parquet"))
    pq.write_table(pa.table({"y": [1]}), os.path.join(paths["part_order"], "a.parquet"))
    pq.write_table(pa.table({"z": [1]}), os.path.join(paths["part_order"], "_hidden.parquet"))
    os.makedirs(paths["common_metadata"])
    pq.write_table(pa.table({"x": [1]}), os.path.join(paths["common_metadata"], "part-0.parquet"))
    pq.write_metadata(
        pa.schema([("x", pa.int64()), ("extra", pa.string())]),
        os.path.join(paths["common_metadata"], "_common_metadata"),
    )
    return paths


@pytest.fixture(scope="module")
def paths(spark, sf_dir, tmp_path_factory) -> dict[str, str]:
    built = _build(spark, str(tmp_path_factory.mktemp("read_parquet")))
    return {**{t: table_path(sf_dir, t) for t in TABLE_NAMES}, **built}


@pytest.mark.parametrize("name", TABLE_NAMES + BUILT)
def test_footer_schema_equals_spark_inference_with_no_job(spark, paths, name):
    path = paths[name]
    j = _next_job_id(spark)
    df = read_parquet(spark, path)
    assert _next_job_id(spark) - j == 0
    assert df.schema == spark.read.parquet(path).schema


def test_built_cases_exercise_what_they_name(spark, paths):
    """The matrix covers what it claims: nanos arrive as LongType, the
    file sink wrote its log, an empty frame wrote a footer, and the
    disagreeing part files resolve to the first in path order."""
    from pyspark.sql import types as T

    assert isinstance(read_parquet(spark, paths["arrow_nanos"]).schema["ts"].dataType, T.LongType)
    assert os.path.isdir(os.path.join(paths["file_sink"], "_spark_metadata"))
    assert read_parquet(spark, paths["zero_rows"]).count() == 0
    assert read_parquet(spark, paths["partition_order"]).columns == ["x", "k"]
    assert read_parquet(spark, paths["part_order"]).columns == ["y"]
    assert read_parquet(spark, paths["common_metadata"]).columns == ["x", "extra"]


def _error_class(ex) -> str:
    return ex.getCondition() if hasattr(ex, "getCondition") else ex.getErrorClass()


def test_missing_path_and_empty_directory_raise_sparks_errors(spark, tmp_path):
    from pyspark.errors import AnalysisException

    empty = tmp_path / "empty"
    empty.mkdir()
    for path, cls in ((str(tmp_path / "missing"), "PATH_NOT_FOUND"), (str(empty), "UNABLE_TO_INFER_SCHEMA")):
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, path)
        with pytest.raises(AnalysisException) as theirs:
            spark.read.parquet(path)
        assert _error_class(ours.value) == _error_class(theirs.value) == cls


def test_corrupt_footer_raises(spark, tmp_path):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"PAR1 this is not a parquet file PAR1")
    with pytest.raises(Exception):
        read_parquet(spark, str(bad))


def test_merge_schema_and_glob_are_left_to_spark(spark, tmp_path):
    d = tmp_path / "evolving"
    d.mkdir()
    pq.write_table(pa.table({"x": [1]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"x": [2], "y": ["b"]}), str(d / "part-1.parquet"))
    glob = str(d / "part-*.parquet")
    assert read_parquet(spark, glob).schema == spark.read.parquet(glob).schema
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        merged = read_parquet(spark, str(d)).schema
        assert merged == spark.read.parquet(str(d)).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert merged.fieldNames() == ["x", "y"]


def test_listing_filter_matches_sparks(spark):
    spark_filter = spark._jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
    for name in (
        "part-0.parquet", "_SUCCESS", "_metadata", "_common_metadata", "_metadata.x",
        "_spark_metadata", "_k=1", "k=1", ".part-0.crc", "part-0._COPYING_", "_", "x_y",
    ):
        assert _listed(name) == (not spark_filter(name)), name


@pytest.mark.parametrize(
    "pattern,owners",
    [
        (r"\.read\.parquet\(", ("io/sources.py",)),
        (r"\.localCheckpoint\(", ("io/tables.py",)),
        # session.py's warehouse and Derby dirs live for the process.
        (r"mkdtemp\(", ("io/tables.py", "session.py")),
        # The transfer layer's stream pull keeps its own checkpointed sink.
        (r"\.writeStream", ("streaming/jobs.py", "queries/reference.py")),
    ],
    ids=["read_parquet", "localCheckpoint", "mkdtemp", "writeStream"],
)
def test_one_way_to_read_parquet(pattern, owners):
    """Every parquet read under taps_spark/ goes through read_parquet,
    every checkpoint through materialize, every temp dir a query
    makes through scratch and every stream a query starts through the
    stream starter in streaming/jobs.py: each call has its owner modules."""
    pattern = re.compile(pattern)
    allowed = {os.path.join(ROOT, "taps_spark", owner) for owner in owners}
    offenders = []
    for dirpath, _, files in os.walk(os.path.join(ROOT, "taps_spark")):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path not in allowed:
                with open(path, encoding="utf-8") as fh:
                    offenders += [
                        f"{os.path.relpath(path, ROOT)}:{i}"
                        for i, line in enumerate(fh, 1)
                        if pattern.search(line)
                    ]
    assert offenders == []
