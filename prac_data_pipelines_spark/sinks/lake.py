"""Lake-layout sinks: partitioned and bucketed table writes.

At 100 TB the storage layout IS the query plan:

- ``write_partitioned`` — directory partitioning on low-cardinality keys
  (currency, date) so per-currency / per-day queries prune partitions at
  the scan instead of filtering rows.
- ``write_bucketed`` — hash bucketing on a join key. Two tables bucketed on
  the same key with the same bucket count join WITHOUT a shuffle (verified
  by the test: no Exchange above the scan in the physical plan). This is
  how the charges ⋈ payments join survives a 1000-executor deployment: the
  shuffle is paid once at write time, not on every query.
"""

from __future__ import annotations

import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_SIMPLE_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      fmt: str = "parquet") -> None:
    (df.write.mode("overwrite")
     .partitionBy(*partition_cols)
     .format(fmt)
     .save(path))


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 16, sort_col: str | None = None) -> None:
    # Only simple unqualified names: a qualified `db.tbl` would resolve to
    # a different directory than the naive join below, and path separators
    # in the name would escape the warehouse.
    if not _SIMPLE_NAME.fullmatch(table):
        raise ValueError(
            f"write_bucketed expects a simple unqualified table name, "
            f"got {table!r}")
    spark = df.sparkSession
    stale: str | None = None
    if spark.catalog.tableExists(table):
        # Resolve the table's REAL location from the catalog before the
        # drop discards the metadata (the default warehouse join would be
        # wrong for relocated tables).
        loc = next((r.data_type
                    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
                    if r.col_name == "Location"), None)
        if loc and loc.startswith("file:"):
            stale = loc.removeprefix("file:")
        spark.sql(f"DROP TABLE {table}")
    else:
        # No catalog entry, but an interrupted earlier write may have left
        # files at the default managed location, which blocks creation.
        # Only local-file warehouses are cleaned client-side.
        wh = spark.conf.get("spark.sql.warehouse.dir")
        base = (wh.removeprefix("file:") if wh.startswith("file:")
                else wh if "://" not in wh else None)
        stale = f"{base}/{table.lower()}" if base else None
    if stale:
        shutil.rmtree(stale, ignore_errors=True)
    writer = (df.write.mode("overwrite")
              .bucketBy(n_buckets, bucket_col))
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def bucketed_join_no_shuffle(spark: SparkSession, left_table: str,
                             right_table: str, key_left: str,
                             key_right: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys. With matching
    bucket specs Spark plans a SortMergeJoin whose children read bucketed
    files directly — no shuffle Exchange. The merge hint keeps the planner
    from broadcasting a small side (which would hide the bucketing; at real
    scale neither side is broadcastable)."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, left[key_left] == right[key_right])


def compact_partitions(spark: SparkSession, path: str,
                       target_file_mb: int = 128,
                       partition_cols: list[str] | None = None,
                       transform=None) -> dict:
    """Small-file compaction: rewrite a parquet directory so files land
    near ``target_file_mb``. Streaming micro-batches and over-parallel
    writes leave thousands of KB-sized files; at 100 TB that turns every
    scan into a file-listing + task-scheduling storm (one task per tiny
    file). Compaction is the standing maintenance op of any lake.

    The rewrite stages into ``<path>.__compact__`` then atomically swaps,
    so a failed compaction never corrupts the live table. Returns
    before/after file counts for observability.

    Sizing: parquet on-disk bytes inflate ~2-4x in memory; coalescing to
    ``ceil(total_bytes / target)`` parquet-sized outputs is the standard
    heuristic. ``coalesce`` (not ``repartition``) avoids a shuffle when
    reducing file count; with ``partition_cols`` the rewrite instead
    repartitions on those keys so each directory partition compacts to
    its own file set.
    """
    import math
    import os

    def _count_files(p: str) -> int:
        n = 0
        for _root, _dirs, files in os.walk(p):
            n += sum(1 for f in files
                     if f.endswith(".parquet") and not f.startswith("."))
        return n

    def _total_bytes(p: str) -> int:
        total = 0
        for _root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(_root, f))
                         for f in files if f.endswith(".parquet"))
        return total

    before = _count_files(path)
    n_out = max(1, math.ceil(_total_bytes(path) / (target_file_mb << 20)))
    df = spark.read.parquet(path)
    if transform is not None:
        # maintenance hook: compaction is the one moment the whole table
        # streams through a rewrite anyway, so table-wide prunes (e.g. the
        # dedup state's hot-band guard) ride along for free
        df = transform(df)
    staging = path.rstrip("/") + ".__compact__"
    if partition_cols:
        (df.repartition(n_out, *partition_cols).write
         .partitionBy(*partition_cols).mode("overwrite").parquet(staging))
    else:
        df.coalesce(n_out).write.mode("overwrite").parquet(staging)
    backup = path.rstrip("/") + ".__old__"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
    return {"files_before": before, "files_after": _count_files(path),
            "target_files": n_out}


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   n_files: int = 8, bits: int = 16) -> None:
    """Z-order (Morton) clustering: interleave the bits of the (min/max
    normalized) sort columns and range-partition the write on the
    interleaved key. Files then cover compact HYPER-RECTANGLES of the
    multi-column space instead of slices of one column, so parquet
    min/max footer stats prune scans filtered on ANY of the columns —
    the multi-dimensional data-skipping layout single-column sorting
    cannot give. The test measures per-file min/max widths directly.

    Normalization is min/max over one broadcast aggregate (rank-based
    normalization would equalize density under skew but costs a global
    sort; min/max is the standard first-order layout and the range
    partitioner's sampling absorbs moderate skew).
    """
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("z-ordering needs at least two columns")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"_max_{c}")]
    stats = df.agg(*aggs)
    z_terms = []
    n = len(cols)
    for i, c in enumerate(cols):
        scale = (1 << bits) - 1
        norm = (f"cast(floor((cast({c} as double) - _min_{c}) "
                f"/ nullif(_max_{c} - _min_{c}, 0D) * {scale}) as bigint)")
        for b in range(bits):
            z_terms.append(f"(((({norm}) >> {b}) & 1) << {b * n + i})")
    z = " + ".join(z_terms)
    zdf = (df.crossJoin(F.broadcast(stats))
           .withColumn("_z", F.expr(f"coalesce({z}, 0L)"))
           .repartitionByRange(n_files, "_z")
           .sortWithinPartitions("_z")
           .drop("_z", *[f"_min_{c}" for c in cols],
                 *[f"_max_{c}" for c in cols]))
    zdf.write.mode("overwrite").parquet(path)
