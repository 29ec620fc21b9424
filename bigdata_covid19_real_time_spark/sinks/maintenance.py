"""Sink-table maintenance: epoch-partition compaction.

Streaming sinks that write per micro-batch (``FileSink``,
``CorpusIngest``) accumulate one small file set per epoch — the classic
small-files problem: at 100 TB the NameNode/listing cost and
footer-per-file overhead of millions of KB-sized files dominates read
time long before the bytes do.  Compaction rewrites the table with a
bounded file count per epoch partition and optional within-file
ordering (clustering rows by a key gives parquet row-group min/max
stats their pruning power — e.g. sorting an accepted-corpus table by
``fingerprint`` makes point-lookups of a fingerprint skip most row
groups).

The rewrite is copy-then-swap: read the live table, write the compacted
copy beside it, atomically rename the old table away and the new one
in.  Readers racing the swap see either the old or the new listing —
never a mix — and the old table is kept at ``<dir>.pre-compact`` until
the caller deletes it (crash during the swap leaves a recoverable
state).  Not run inside the streaming job: compaction is an offline
maintenance pass between epochs, exactly like a Delta/Iceberg OPTIMIZE.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def compact_epoch_table(
    spark: SparkSession,
    table_dir: str,
    files_per_epoch: int = 1,
    sort_by: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite an ``epoch=N``-partitioned parquet table with at most
    ``files_per_epoch`` data files per epoch, optionally sorted by
    ``sort_by`` within files.  Returns {"files_before", "files_after",
    "rows"} for the caller's maintenance log.
    """
    def data_files(d: str) -> list[str]:
        out = []
        for root, _, names in os.walk(d):
            out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
        return out

    before = len(data_files(table_dir))
    df = spark.read.parquet(table_dir)
    rows = df.count()

    # one shuffle: co-locate each epoch's rows into `files_per_epoch`
    # tasks (epoch + a bounded salt as range keys), then sort within
    # partitions so every output file is internally clustered
    salt = (F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c != "epoch"]),
                   F.lit(files_per_epoch))
            if files_per_epoch > 1 else F.lit(0))
    epochs = [r["epoch"] for r in df.select("epoch").distinct().collect()]
    shaped = (
        df.withColumn("__salt", salt)
        .repartition(max(len(epochs) * files_per_epoch, 1), "epoch", "__salt")
    )
    if sort_by:
        shaped = shaped.sortWithinPartitions("epoch", *sort_by)
    tmp = table_dir.rstrip("/") + ".compact-tmp"
    old = table_dir.rstrip("/") + ".pre-compact"
    shutil.rmtree(tmp, ignore_errors=True)
    shaped.drop("__salt").write.mode("overwrite").partitionBy("epoch").parquet(tmp)

    shutil.rmtree(old, ignore_errors=True)
    os.rename(table_dir.rstrip("/"), old)
    os.rename(tmp, table_dir.rstrip("/"))
    return {
        "files_before": before,
        "files_after": len(data_files(table_dir)),
        "rows": int(rows),
    }


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates,
    key_cols: list[str],
    partition_col: str | None = None,
) -> dict[str, int]:
    """Keyed last-wins upsert into a parquet table (the MERGE INTO /
    Delta-upsert twin, at partition granularity): target rows whose key
    appears in ``updates`` are replaced, new keys are appended.

    With ``partition_col`` (the table must be ``partitionBy`` that
    column), only the partitions that *contain an updated key* — on
    either their old or new partition value — are rewritten; every
    other partition's files are untouched.  That is the property that
    makes an upsert affordable on a 100 TB table: cost scales with the
    touched partitions, not the table.  Without ``partition_col`` the
    whole table rewrites (documented, for small dimension tables).

    Each rewritten partition swaps in via the same copy-then-swap dance
    as ``compact_epoch_table``; the pre-merge state of every touched
    partition is kept at ``<dir>.pre-merge`` until the caller deletes
    it.  ``updates`` must be unique per key (checked — duplicate update
    keys would make last-wins nondeterministic).

    Partition DIRECTORY names are never reconstructed from Python
    values (Spark's dir encoding of dates/floats/URL-escaped strings
    differs from ``str(val)``): the fresh side is listed from the tmp
    write, and the stale side is taken from ``input_file_name()`` of
    the actual rows being replaced — both are Spark's own encodings.

    Returns ``{"partitions_rewritten", "rows_written"}`` where
    ``rows_written`` counts the rows this merge wrote (the whole table
    in the unpartitioned branch, the rewritten partitions otherwise).
    """
    dup = (
        updates.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1).count()
    )
    if dup:
        raise ValueError(f"merge_upsert: {dup} duplicate key groups in updates")

    target = spark.read.parquet(table_dir)
    keys = F.broadcast(updates.select(*key_cols).distinct())

    if partition_col is None:
        merged = target.join(keys, key_cols, "left_anti").unionByName(updates)
        tmp = table_dir.rstrip("/") + ".merge-tmp"
        old = table_dir.rstrip("/") + ".pre-merge"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").parquet(tmp)
        rows = spark.read.parquet(tmp).count()
        shutil.rmtree(old, ignore_errors=True)
        os.rename(table_dir.rstrip("/"), old)
        os.rename(tmp, table_dir.rstrip("/"))
        return {"partitions_rewritten": 1, "rows_written": int(rows)}

    # partitions needing a rewrite: where updated keys live now (stale
    # rows to drop) plus where the update rows land (new values).  The
    # VALUES drive the pruned re-read filter; the stale DIRECTORY names
    # come from the replaced rows' own file paths, so Spark's partition
    # encoding round-trips exactly
    part_dir = F.regexp_extract(
        F.input_file_name(), f"/({partition_col}=[^/]+)/", 1
    )
    stale = (
        target.join(keys, key_cols, "left_semi")
        .select(F.col(partition_col), part_dir.alias("__dir"))
        .distinct().collect()
    )
    # input_file_name() yields the file URI, which percent-escapes the
    # on-disk name once more (a dir literally named `zone=eu%3Awest`
    # arrives as `zone=eu%253Awest`) — decode exactly once to recover
    # the real directory name
    from urllib.parse import unquote

    stale_dirs = sorted({unquote(r["__dir"]) for r in stale if r["__dir"]})
    new_parts = updates.select(partition_col).distinct().collect()
    affected = sorted({r[partition_col] for r in stale}
                      | {r[partition_col] for r in new_parts})

    merged = (
        target.filter(F.col(partition_col).isin(affected))
        .join(keys, key_cols, "left_anti")
        .unionByName(updates.filter(F.col(partition_col).isin(affected)))
    )
    tmp = table_dir.rstrip("/") + ".merge-tmp"
    old = table_dir.rstrip("/") + ".pre-merge"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.makedirs(old)
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
    rows = spark.read.parquet(tmp).count()

    base = table_dir.rstrip("/")
    fresh_dirs = sorted(
        d for d in os.listdir(tmp)
        if d.startswith(f"{partition_col}=")
        and os.path.isdir(os.path.join(tmp, d))
    )
    swap_dirs = sorted(set(stale_dirs) | set(fresh_dirs))
    for sub in swap_dirs:
        live, fresh, backup = (
            os.path.join(base, sub), os.path.join(tmp, sub), os.path.join(old, sub)
        )
        if os.path.exists(live):
            os.rename(live, backup)
        if os.path.exists(fresh):
            os.rename(fresh, live)
    shutil.rmtree(tmp, ignore_errors=True)
    return {"partitions_rewritten": len(swap_dirs), "rows_written": int(rows)}
