"""Sinks (SURVEY §2.1 S7-S9) with an explicit idempotency contract.

The reference appends to monthly CSVs with read-back dedup
(transform_conte_ts_data.py:1032-1049) and appends daily CSVs via
temp-file+rename (conte-etl-step-2-processor.py:113-221).  Under Spark the
contract becomes: **dropDuplicates + dynamic partition overwrite** — a
re-run of any (year, month) replaces exactly that partition, which
subsumes both the dedup-on-append and the atomic-append semantics
(SURVEY §4 "design decision"; §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_monthly_eav(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S7: monthly FRESCO EAV sink, full-row dedup within month
    (transform:1043), directory-partitioned by ym instead of
    filename-encoded months (SURVEY §1.1).

    The ``ym`` repartition comes BEFORE the dedup: hash partitioning on
    ``ym`` already clusters every full-row duplicate into one task, so
    the dedup aggregates in place and the write costs one shuffle, not
    two.  Each month still lands in one writer task."""
    out = (
        df.withColumn("ym", F.date_format("Timestamp", "yyyy_MM"))
        .repartition("ym")
        .dropDuplicates()
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ym")
        .format(fmt)
        .option("header", "true")
        .save(path)
    )


def write_daily_set3_csv(df: DataFrame, path: str) -> None:
    """S8: daily set3 CSV sink — day-of-month partitioning replaces the
    reference's split-by-day + temp-file/rename append
    (conte-etl-step-2-processor.py:113-221); the task-commit protocol
    provides the atomicity.

    The repartition names its partition count
    (``spark.sql.shuffle.partitions``).  A column-only repartition is
    one AQE may coalesce, and on a month of small days it coalesces to
    a single writer task; with a fixed count each day still lands in
    exactly one task (one file per ``d=`` directory) while the days
    spread over all cores."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        df.withColumn("d", F.date_format("time", "yyyy-MM-dd"))
        .repartition(n, "d")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .option("header", "true")
        .csv(path)
    )


def write_set3_parquet(df: DataFrame, path: str) -> None:
    """S9: snappy parquet, bounded file size via maxRecordsPerFile
    (reference 1M-row chunks, conte-etl-step-2-manager.py:36;
    ParquetWriter snappy at conte-etl-step-2-processor.py:1800)."""
    (
        df.write.mode("overwrite")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(path)
    )


def write_packed_shards(
    packed: DataFrame, docs: DataFrame, path: str, id_col: str = "doc_id"
) -> None:
    """Materialize a packing plan (``pack_sequences`` output) as
    training shards: parquet partitioned by ``shard=``, rows ordered so
    a shard file replays as (seq_id, tok_offset) — the layout a data
    loader consumes sequentially.

    ``docs`` re-attaches payload columns (text, source, ...) by id; the
    join broadcasts the PLAN side when it is the smaller (the usual
    case is the reverse at 100 TB — then Spark picks a shuffle join on
    the id, which is the right plan because both sides are huge).
    ``sortWithinPartitions`` orders rows inside each written file
    without a global sort."""
    out = packed.join(docs, id_col)
    (
        out.repartition("shard")
        .sortWithinPartitions("shard", "seq_id", "tok_offset")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed, bucket-sorted table: rows are hash-
    partitioned into ``n_buckets`` files by ``bucket_col`` and sorted
    within each.  Two tables bucketed the same way equi-join on the
    bucket column with ZERO exchanges — the co-located join that turns
    a recurring 100 TB join's shuffle into a one-time write cost
    (Spark's answer to the reference's pre-partitioned monthly files).

    Requires the session catalog (``saveAsTable``); pass ``path`` for
    an external table location."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_partition(
    spark,
    path: str,
    partition: str | None = None,
    target_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite one partition directory (or an
    unpartitioned dataset) so its row count divides into
    ``target_records_per_file`` files instead of whatever micro-batch /
    task fan-out produced.  Returns the number of files written.

    The operational complement of the streaming sinks: availableNow
    drains and per-task commits accumulate many small parquet files,
    and at 100 TB the NameNode/listing cost and per-file open overhead
    dominate reads long before data size does.  Compaction is a
    read→coalesce→overwrite of ONE partition at a time — the blast
    radius of a failure is that partition, and the write is atomic via
    the same task-commit protocol as every other sink.
    """
    import math

    # normalize BEFORE deriving the temp path: with a trailing slash,
    # `path + "__compact_tmp"` would be a CHILD of the target and the
    # delete-then-rename swap below would destroy both copies
    base = path.rstrip("/")
    target = f"{base}/{partition}" if partition else base
    tmp = target + "__compact_tmp"
    df = spark.read.parquet(target)
    n = df.count()
    n_files = max(1, math.ceil(n / target_records_per_file))
    (
        df.coalesce(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(tmp)
    )
    # Swap through the FS API (same pattern as the reference's
    # temp-file + rename append, conte-etl-step-2-processor.py:113-221,
    # but directory-level), BACKUP-FIRST: rename target aside, rename
    # tmp into place, then drop the backup.  Unlike delete-then-rename,
    # no state in this sequence loses data — a death between the two
    # renames leaves recovery as a single rename of the backup (or tmp),
    # and a failed swap-in rolls the backup straight back.  Hadoop FS
    # ops report many failures via a false RETURN, not an exception —
    # check every one.
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(target).getFileSystem(conf)
    backup = target + "__compact_bak"
    if fs.exists(Path(backup)) and not fs.delete(Path(backup), True):
        raise RuntimeError(
            f"compact_partition: stale backup could not be removed: {backup}"
        )
    if not fs.rename(Path(target), Path(backup)):
        raise RuntimeError(
            f"compact_partition: backup rename failed; target untouched, "
            f"compacted data is at {tmp}"
        )
    if not fs.rename(Path(tmp), Path(target)):
        restored = fs.rename(Path(backup), Path(target))
        raise RuntimeError(
            f"compact_partition: swap-in failed; original "
            f"{'restored' if restored else f'still at {backup}'}, "
            f"compacted data is at {tmp}"
        )
    if not fs.delete(Path(backup), True):
        raise RuntimeError(
            f"compact_partition: compaction succeeded but the backup "
            f"could not be removed — target is healthy, clean up {backup}"
        )
    return n_files


def zorder_key(
    a, b, bits: int = 16
):
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative integer columns into one long — multi-dimensional
    clustering as a pure Column expression (2·bits shift/mask/or terms,
    whole-stage codegen, no UDF).

    Why it matters at 100 TB: a single-column sort (``
    write_sorted_export``) gives parquet min/max pruning on ONE
    predicate dimension; sorting by the interleaved key keeps rows
    close in BOTH dimensions, so a 2-D box query (user range × value
    range) maps to a bounded set of z-ranges and file-level stats prune
    most files for either predicate — the Delta/Iceberg OPTIMIZE ZORDER
    layout, reduced to an expression any writer can use.

    Inputs outside [0, 2^bits) are masked to their low bits (callers
    bucket/normalize first — rank, floor-div, or hash)."""
    za = _col_of(a)
    zb = _col_of(b)
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            .bitwiseOR(F.shiftleft(za.bitwiseAND(F.lit(1 << i)), i))
            .bitwiseOR(F.shiftleft(zb.bitwiseAND(F.lit(1 << i)), i + 1))
        )
    return out


def _col_of(c):
    return F.col(c).cast("long") if isinstance(c, str) else c.cast("long")


def write_zordered_export(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Range-partition and sort by the z-order key of (col_a, col_b):
    each output file covers a disjoint z-range, so parquet min/max
    stats prune files for predicates on EITHER column — the
    two-dimensional complement of ``write_sorted_export``."""
    z = zorder_key(col_a, col_b, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_sorted_export(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int = 8
) -> None:
    """Globally ordered export: ``repartitionByRange`` samples split
    points so file i's key range ends before file i+1's begins, and
    ``sortWithinPartitions`` orders rows inside each file — together a
    total order across the dataset WITHOUT a single-reducer global
    sort.  Parquet min/max column stats then make any point or range
    read prune whole files — the layout that turns a 100 TB time-keyed
    archive into an indexed one.  (The reference approximates this with
    filename-encoded month ranges; range partitioning generalizes it to
    any key and any granularity.)"""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_jsonl(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """JSON-Lines sink (one document object per line, snappy-free text
    — the hand-off format for external training loaders and labeling
    tools).  Uses dynamic partition overwrite when ``partition_col`` is
    given, so re-runs replace exactly the partitions they produce —
    the same idempotency contract as the parquet sinks."""
    w = df.write.mode("overwrite")
    if partition_col is not None:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_col
        )
    w.json(path)


def write_orc(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """ORC sink with the same dynamic-partition-overwrite idempotency
    contract as the parquet/jsonl sinks."""
    w = df.write.mode("overwrite").option("compression", "snappy")
    if partition_col is not None:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_col
        )
    w.orc(path)
