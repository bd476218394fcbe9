"""Snapshot-versioned parquet tables: write-isolated versions with an
atomic current-pointer — the minimal Iceberg/Delta time-travel shape
on plain parquet directories.

The reference's transfer model is destructive replace (push/pull
rewrites the target; lib/taps/schema.rb `down` drops the table before
`up` recreates it) — a failed run leaves the target broken.  Here
every write lands in a NEW `v=N` directory and readers follow a
pointer file that flips atomically (os.replace, same idiom as
transfer/manifest.py), so:

  * readers never observe a partial write (snapshot isolation),
  * any historical version stays queryable (`read_version(..., 3)`),
  * a bad load is undone by `rollback()` — a pointer flip, zero data
    movement.

At 100 TB this is why modern table formats exist: the data files are
immutable, commits are metadata-only, and concurrent readers keep
working through a rewrite.  Retention/GC of old versions is a policy
decision left to the caller (`versions()` lists what's reclaimable).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from taps_spark.io.sources import read_parquet

_MANIFEST = "_versions.json"


def _load_manifest(table_path: str) -> dict:
    p = os.path.join(table_path, _MANIFEST)
    if not os.path.exists(p):
        return {"current": None, "versions": []}
    with open(p) as f:
        return json.load(f)


def _store_manifest(table_path: str, m: dict) -> None:
    tmp = os.path.join(table_path, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(table_path, _MANIFEST))


def write_version(df: DataFrame, table_path: str, codec: str = "zstd") -> int:
    """Commit `df` as the next version of the table; returns the new
    version id.  Data lands fully before the pointer flips, so a
    crash mid-write leaves the previous version current and the
    orphan directory invisible."""
    os.makedirs(table_path, exist_ok=True)
    m = _load_manifest(table_path)
    next_id = (max(m["versions"]) + 1) if m["versions"] else 1
    dest = os.path.join(table_path, f"v={next_id}")
    if os.path.exists(dest):
        # A directory for an id NOT in the manifest is an orphan from a
        # crashed write (the pointer never flipped, so no reader ever
        # saw it) — reclaim it instead of failing forever.
        import shutil

        shutil.rmtree(dest)
    df.write.mode("errorifexists").option("compression", codec).parquet(dest)
    m["versions"].append(next_id)
    m["current"] = next_id
    _store_manifest(table_path, m)
    return next_id


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the current version, or time-travel to an explicit one."""
    m = _load_manifest(table_path)
    v = version if version is not None else m["current"]
    if v is None or v not in m["versions"]:
        raise FileNotFoundError(f"no version {v!r} at {table_path}")
    return read_parquet(spark, os.path.join(table_path, f"v={v}"))


def rollback(table_path: str, version: int) -> None:
    """Point current back at an existing version — metadata-only."""
    m = _load_manifest(table_path)
    if version not in m["versions"]:
        raise FileNotFoundError(f"no version {version} at {table_path}")
    m["current"] = version
    _store_manifest(table_path, m)


def versions(table_path: str) -> dict:
    """The manifest: {"current": N, "versions": [...]}."""
    return _load_manifest(table_path)
