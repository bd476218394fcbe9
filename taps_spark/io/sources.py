"""File-format sources: parquet / CSV / JSON readers with explicit
schemas (SURVEY.md §2b — absent in the reference, which only spoke
live Sequel connections, lib/taps/operation.rb:129-131).

Rules that matter at 100 TB:
- NEVER inferSchema on CSV/JSON in production paths — inference is an
  extra full scan; pass or persist the schema (io/schema.py).
- Parquet is the engine's interchange format (pushdown + pruning);
  CSV/JSON exist for ingest/egress at the edges.
- `read_parquet` is the engine's one parquet read. Parquet is
  self-describing, so its schema is metadata, the way the reference
  asks the database for `db.schema(table)` instead of scanning rows.
  Spark's own inference reads exactly one footer too, but it does so
  inside a one-task Spark job per read; `read_parquet` reads that same
  footer on the driver and hands Spark the schema, so a table read
  launches no job. At 100 TB the driver still reads one footer of a few
  KB; only the one-task job around it is gone.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from taps_spark.session import tune

#: Characters that make Spark expand a path as a glob
#: (SparkHadoopUtil.isGlobPath).
_GLOB_CHARS = frozenset("{}[]*?\\")
#: Parquet summary files, preferred over part files in this order.
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file or directory with its schema taken from one
    footer, read on the driver: no schema-inference Spark job.

    The footer is the one Spark's non-merging inference reads:
    `_common_metadata`, else `_metadata`, else the first data file in
    path order, descending into partition directories and skipping the
    names Spark's listing hides. Like Spark, this assumes the part files
    agree. The conversion is Spark's own (`readSchemaFromFooter` with a
    `ParquetToSparkSchemaConverter` over the session conf), so the
    session's nanosAsLong, timestamp-NTZ and binary-as-string settings
    apply exactly as under inference. A mapping of our own (from
    pyarrow, say) would drift from Spark's on those settings and on the
    Spark schema that Spark-written files carry in their metadata.

    Passed to `spark.read.parquet(path)` unchanged, so Spark raises its
    own error or merges: a missing path, a directory with no data file,
    a glob, and any read while the session sets
    `spark.sql.parquet.mergeSchema=true`. A corrupt footer raises.
    """
    tune(spark)
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """Spark's schema for `path` from one footer, or None when Spark
    must resolve the read itself."""
    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if conf.isParquetSchemaMergingEnabled() or _GLOB_CHARS.intersection(path):
        return None
    jvm = spark._jvm
    hadoop_conf = state.newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hadoop_conf)
    if not fs.exists(root):
        return None
    status = _footer_file(fs, fs.getFileStatus(root))
    if status is None:
        return None
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    metadata = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, hadoop_conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    footer = jvm.org.apache.parquet.hadoop.Footer(status.getPath(), metadata)
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        footer, parquet.ParquetToSparkSchemaConverter(conf)
    )
    return T.StructType.fromJson(json.loads(schema.json()))


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps `name`
    (HadoopFSUtils.shouldFilterOutPathName)."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return name.startswith(_SUMMARY_FILES) or not (hidden or name.endswith("._COPYING_"))


def _footer_file(fs, status):
    """FileStatus of the footer Spark's non-merging inference reads for
    `status`, or None for a directory without a data file. Summary
    files are looked for at the root, where writers put them."""
    if not status.isDirectory():
        return status
    children = _children(fs, status.getPath())
    for name in _SUMMARY_FILES:
        if name in children:
            return children[name]
    return _first_data_file(fs, children)


def _first_data_file(fs, children: dict):
    """The data file with the smallest full path under a directory's
    `children` (name → FileStatus), the one Spark lists first. A
    directory sorts as its name plus "/", so comparing names compares
    the full paths beneath them."""
    entries = []
    for name, status in children.items():
        if _listed(name) and name not in _SUMMARY_FILES:
            is_dir = status.isDirectory()
            entries.append((name + "/" if is_dir else name, is_dir, status))
    for _, is_dir, status in sorted(entries, key=lambda e: e[0]):
        if not is_dir:
            return status
        found = _first_data_file(fs, _children(fs, status.getPath()))
        if found is not None:
            return found
    return None


def _children(fs, path) -> dict:
    return {c.getPath().getName(): c for c in fs.listStatus(path)}


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written under an EVOLVING schema: mergeSchema
    unions the footer schemas across files, so rows from before a
    column existed surface it as NULL — the append-only lakehouse
    contract (a long-lived ingest target accretes columns; readers
    must not break on old files). Schema merging is footer metadata
    work only; data pages are untouched until the scan."""
    tune(spark)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    tune(spark)
    return spark.read.options(header=str(header).lower(), **options).schema(schema).csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str, **options: str
) -> DataFrame:
    tune(spark)
    return spark.read.options(**options).schema(schema).json(path)


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV ingestion that QUARANTINES malformed rows instead of
    crashing (FAILFAST kills a 100 TB load on row one-billion) or
    silently discarding them (DROPMALFORMED loses data unaudited):
    PERMISSIVE mode routes each unparseable line, verbatim, into a
    `_corrupt_record` column. Downstream splits on
    `_corrupt_record IS NULL` — clean rows to the pipeline, bad rows
    to a quarantine sink with full forensics. Reference parity:
    taps coerces invalid values to NULL and keeps going
    (lib/taps/utils.rb:54-72 convert_invalid_date_time); this is that
    policy with an audit trail.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    audited = schema.add("_corrupt_record", T.StringType())
    tune(spark)
    return (
        spark.read.options(header=str(header).lower(), **options)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(audited)
        .csv(path)
    )


def read_json_audited(
    spark: SparkSession, path: str, schema: T.StructType | str, **options: str
) -> DataFrame:
    """JSON lines with the same quarantine contract as
    read_csv_audited: bad documents land verbatim in
    `_corrupt_record`, good ones parse — one pass, no job failure."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    audited = schema.add("_corrupt_record", T.StringType())
    tune(spark)
    return (
        spark.read.options(**options)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(audited)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC: the other columnar interchange format (predicate pushdown
    + column pruning like parquet); schema travels in the footer."""
    tune(spark)
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("compression", "zstd").orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


# ----------------------------------------------------------------- bucketing


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join
    key — the co-location contract that lets every later equi-join or
    aggregation on `bucket_cols` run WITHOUT a shuffle.

    At 100 TB this is the difference between an hourly fact-fact join
    shuffling both sides every run and a map-side merge: pay one
    bucketed write, then every downstream join on the key is
    exchange-free (asserted in tests/test_plans.py). num_buckets
    should be sized so each bucket file lands near the FS block size;
    both join sides must agree on bucket count and key.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog-table reader (bucketed tables keep their bucket spec
    only through the catalog — a path read would lose it)."""
    tune(spark)
    return spark.table(table)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """XML source (built into Spark 4 — migrated from spark-xml).
    Schema is inferred per rowTag element; at scale pass an explicit
    schema to skip the inference scan, exactly as with JSON."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """binaryFile source: each file becomes one row (path,
    modificationTime, length, content BINARY) — the ingestion front
    door for multimodal assets (operators/multimodal.py consumes the
    content column).  Spark parallelizes at file granularity; pair
    with spark.sql.files.maxPartitionBytes for many-small-files
    corpora, and prefer pushing a pathGlobFilter so listing prunes
    non-matching files before any read."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source. The spark-avro module is EXTERNAL (not bundled in
    pyspark wheels); raise a clear error when the jar is absent
    instead of Spark's generic ClassNotFound."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as ex:
        # Only translate the missing-data-source case; a path error or
        # corrupt file with the jar PRESENT must surface as itself.
        msg = str(ex)
        if "Failed to find data source" in msg or "DATA_SOURCE_NOT_FOUND" in msg:
            raise NotImplementedError(
                "avro requires the external spark-avro package "
                "(--packages org.apache.spark:spark-avro_2.13:<version>); "
                "not bundled in this environment"
            ) from ex
        raise
