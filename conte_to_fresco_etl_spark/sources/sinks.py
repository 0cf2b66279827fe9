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


