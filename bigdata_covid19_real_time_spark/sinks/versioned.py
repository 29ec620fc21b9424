"""Versioned dataset publishing: atomic snapshot publish, time travel,
rollback, vacuum.

The reference overwrites sink tables in place (covid_streaming.py's
JDBC/parquet appends); at 100 TB that is untenable — a half-written
overwrite corrupts every concurrent reader, and yesterday's corpus is
gone the moment today's lands.  Production pipelines publish IMMUTABLE
snapshots and swap a pointer — the Delta/Iceberg snapshot model, here
implemented directly on a filesystem layout with no table-format
dependency:

    base_dir/
      v=1/ ... v=2/ ...        immutable version directories
      _staging/...             in-flight writes (invisible to readers)
      _latest.json             the pointer: {"version": N}

Guarantees, and where they come from:
- **atomic publish**: data lands under ``_staging`` first; the
  completed directory is ``os.rename``d to ``v=N`` and the pointer file
  is replaced via write-temp-then-rename — both single-syscall-atomic
  on POSIX.  A reader either sees the old pointer (old snapshot, still
  complete on disk) or the new one (new snapshot, renamed into place
  BEFORE the pointer moved).  A writer crash leaves staging garbage and
  an untouched pointer — never a torn table;
- **snapshot isolation / time travel**: version dirs are append-only
  and immutable, so ``read_version(spark, d, version=3)`` is stable
  forever (until vacuumed) and long-running jobs pin the version they
  started with;
- **rollback**: moving the pointer back is a metadata-only operation;
- **vacuum**: unreferenced versions older than ``keep_last`` (and any
  stale staging dirs) are deleted offline, like Delta VACUUM.

On an object store (S3/GCS) directory rename is not atomic — there the
same layout works with the pointer in a conditional-PUT object or a
metastore row; the pointer swap being the ONLY mutation is exactly what
makes the scheme portable.

Concurrency model: single writer (or external writer lock), many
readers — the standard warehouse-publish contract.  Concurrent writers
would race the version counter; this module makes no attempt at
optimistic commit arbitration.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_latest.json"
_STAGING = "_staging"


def _version_dir(base_dir: str, version: int) -> str:
    return os.path.join(base_dir, f"v={version}")


def list_versions(base_dir: str) -> list[int]:
    """Published version numbers, ascending (staging/pointer excluded)."""
    if not os.path.isdir(base_dir):
        return []
    out = []
    for name in os.listdir(base_dir):
        if name.startswith("v=") and os.path.isdir(os.path.join(base_dir, name)):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def read_pointer(path: str, key: str) -> int | None:
    """The int under ``key`` in the pointer file ``path``, or None before
    the first swap."""
    try:
        with open(path) as f:
            return int(json.load(f)[key])
    except FileNotFoundError:
        return None


def swap_pointer(path: str, key: str, value: int) -> None:
    """Atomically replace the pointer file ``path`` with ``{key: value}``:
    write a temp file beside it, fsync it, then rename it over ``path``."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump({key: int(value)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def latest_version(base_dir: str) -> int | None:
    """The pointer's version, or None if nothing has been published."""
    return read_pointer(os.path.join(base_dir, _POINTER), "version")


def publish_version(df: DataFrame, base_dir: str, partition_by: list[str] | None = None) -> int:
    """Write ``df`` as the next immutable snapshot and atomically point
    readers at it.  Returns the published version number.

    The write happens entirely under ``_staging`` (readers never list
    it); only after Spark's job commits does the directory rename to
    ``v=N`` and the pointer swap.  Either rename failing leaves the
    previous snapshot fully intact.
    """
    os.makedirs(os.path.join(base_dir, _STAGING), exist_ok=True)
    versions = list_versions(base_dir)
    next_v = (versions[-1] if versions else 0) + 1
    stage = os.path.join(base_dir, _STAGING, f"v{next_v}-{uuid.uuid4().hex}")
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    final = _version_dir(base_dir, next_v)
    os.rename(stage, final)
    swap_pointer(os.path.join(base_dir, _POINTER), "version", next_v)
    return next_v


def read_version(
    spark: SparkSession, base_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot: the pointer's version by default, or a pinned
    ``version`` for time travel.  Raises ``FileNotFoundError`` for a
    never-published table or a vacuumed/unknown version."""
    v = latest_version(base_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{base_dir}: no published version")
    d = _version_dir(base_dir, v)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"{base_dir}: version {v} not on disk")
    return spark.read.parquet(d)


def rollback(base_dir: str, version: int) -> None:
    """Point readers back at an existing older snapshot (metadata-only)."""
    if not os.path.isdir(_version_dir(base_dir, version)):
        raise FileNotFoundError(f"{base_dir}: version {version} not on disk")
    swap_pointer(os.path.join(base_dir, _POINTER), "version", version)


def vacuum(base_dir: str, keep_last: int = 2) -> dict[str, list[int]]:
    """Delete versions older than the newest ``keep_last`` (always
    keeping the pointer's target) plus any staging leftovers.  Returns
    {"removed": [...], "kept": [...]} for the maintenance log."""
    versions = list_versions(base_dir)
    pinned = latest_version(base_dir)
    keep = set(versions[-keep_last:] if keep_last > 0 else [])
    if pinned is not None:
        keep.add(pinned)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(_version_dir(base_dir, v))
            removed.append(v)
    staging = os.path.join(base_dir, _STAGING)
    if os.path.isdir(staging):
        for name in os.listdir(staging):
            shutil.rmtree(os.path.join(staging, name), ignore_errors=True)
    return {"removed": removed, "kept": sorted(keep)}
