"""Batch pipeline driver: the whole reference system as two functions.

Step 1 (transform_conte_ts_data.py:main, :1152-1258): raw per-folder
metric CSVs → FRESCO EAV → monthly partitions.  Step 2
(conte-etl-step-2-manager.py + conte-etl-step-2-processor.py): monthly
EAV parquet ⋈ accounting CSV → daily set3.  The reference needs two
daemons, signal files, JSON trackers, a thread-pooled chunker and a
25 GB staging cap to orchestrate this; under Spark each month is one
declarative plan and re-running a month idempotently overwrites exactly
its partitions (sinks.py contract), which subsumes all of the retry /
skip-if-done / dedup-on-append bookkeeping.

Each month's plan is evaluated once.  A DataFrame is a lazy plan that
Catalyst re-executes for every action, so feeding both sinks from the
joined frame would repeat the ts scan, the broadcast and the join.  The
parquet sink runs the join; the daily CSV sink is fed from a scan of the
parquet just written (a columnar re-scan costs far less than the join),
and ``MonthResult.rows`` comes from an ``Observation`` that rides the
parquet write instead of a count over the written files.

Scale posture: months are independent — at 100 TB submit one job per
month (or let a single job scan all months: the plans partition by
``ym``/``d``, so partition pruning keeps per-month work local); the
accounting side stays broadcastable per month (thousands of jobs), and
the EAV side only shuffles where the W1 window requires it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.join import process_month
from conte_to_fresco_etl_spark.operators.transforms import transform_folder
from conte_to_fresco_etl_spark.schemas import (
    BLOCK_RAW_SCHEMA,
    CPU_RAW_SCHEMA,
    LLITE_RAW_SCHEMA,
    MEM_RAW_SCHEMA,
)
from conte_to_fresco_etl_spark.sources.readers import (
    discover_months,
    read_accounting_csv,
    read_fresco_ts,
    read_raw_csv,
)
from conte_to_fresco_etl_spark.sources.sinks import (
    write_daily_set3_csv,
    write_monthly_eav,
    write_set3_parquet,
)

#: raw metric file name → (reader schema) — the reference's dispatch
#: table (transform_conte_ts_data.py:898-903).
RAW_SCHEMAS = {
    "block": BLOCK_RAW_SCHEMA,
    "cpu": CPU_RAW_SCHEMA,
    "mem": MEM_RAW_SCHEMA,
    "llite": LLITE_RAW_SCHEMA,
}


def run_step1(
    spark: SparkSession, raw_dir: str, out_path: str, fmt: str = "parquet"
) -> None:
    """Step 1 for one landing folder: read whichever of the 4 raw CSVs
    exist, transform each, union, write monthly EAV partitions.  Missing
    files contribute nothing (the reference skips absent metric files)."""
    import os

    frames = {}
    for name, schema in RAW_SCHEMAS.items():
        p = os.path.join(raw_dir, f"{name}.csv")
        if os.path.exists(p):
            frames[name] = read_raw_csv(spark, p, schema)
    if not frames:
        return
    write_monthly_eav(transform_folder(frames), out_path, fmt=fmt)


@dataclass
class MonthResult:
    year: str
    month: str
    rows: int


def run_step2(
    spark: SparkSession,
    ts_dir: str,
    acct_dir: str,
    out_parquet: str,
    out_csv: str | None = None,
) -> list[MonthResult]:
    """Step 2 over every co-available (year, month): J3 discovery, then
    per month the single-plan join/pivot/projection and idempotent
    partitioned writes.  The join runs once per month, inside the
    parquet write; the daily CSVs are written from that parquet."""
    results = []
    for m in discover_months(ts_dir, acct_dir):
        ts = read_fresco_ts(spark, list(m.ts_files))
        jobs = read_accounting_csv(spark, m.accounting_file)
        written = Observation()
        set3 = process_month(ts, jobs).observe(
            written, F.count(F.lit(1)).alias("rows")
        )
        month_dir = f"{out_parquet}/ym={m.year}_{m.month}"
        write_set3_parquet(set3, month_dir)
        if out_csv:
            # the schema is known, so the scan skips Spark's footer-read
            # job that infers it
            written_set3 = spark.read.schema(set3.schema).parquet(month_dir)
            write_daily_set3_csv(written_set3, out_csv)
        results.append(MonthResult(m.year, m.month, written.get["rows"]))
    return results
