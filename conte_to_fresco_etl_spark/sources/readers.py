"""Readers (SURVEY §2.1).

  * S1  raw metric CSV w/ encoding fallback + bad-line skip
        (transform_conte_ts_data.py:62-122)
  * S2  accounting CSV all-string then null-on-error casts
        (conte-etl-step-2-processor.py:1196-1302)
  * S3  parquet row-group chunk scan — deliberately ABSENT: Spark's
        parquet source already splits by row group (SURVEY S3 "delete
        this operator"); ``read_fresco_ts`` is a plain parquet scan.
  * J3  partition co-availability: months processed only where ts parquet
        AND accounting CSV both exist (conte-etl-step-2-processor.py:
        1118-1193; manager:816-821) — a filename-derived inner join.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.core import normalize_ntz
from conte_to_fresco_etl_spark.schemas import ACCOUNTING_RAW_SCHEMA


def read_raw_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """S1: declared-schema CSV scan, ISO-8859-1, malformed rows dropped.

    Encoding decision (documented): the reference's fallback chain is
    latin1 → ISO-8859-1 → utf-8(replace) with bad-line skip
    (transform_conte_ts_data.py:62-122).  latin1 decodes EVERY byte
    sequence, so attempt 1 never fails and the later entries are dead
    code — the reference always reads latin1, mojibaking genuine UTF-8
    multibyte input.  One ISO-8859-1 pass therefore reproduces the
    reference bit-for-bit on all inputs (latin1 ≡ ISO-8859-1 for
    decoding); pinned by
    tests/test_e2e_pipeline.py:test_encoding_fallback_reproduces_reference_latin1."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("encoding", "ISO-8859-1")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


def read_accounting_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: read all columns as string (pandas dtype='object',
    conte-etl-step-2-processor.py:1207-1211), rename ``timestamp`` →
    ``Timestamp`` (:1214), cast the 6 datetime columns null-on-error
    (:1219-1221)."""
    # Bind columns BY HEADER NAME (pandas semantics), not by position: a
    # declared schema on spark.read.csv binds positionally and would
    # misparse files whose column order differs or that carry extra
    # columns.  inferSchema stays off, so every column arrives as string.
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "false")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    df = df.select(
        *[
            F.col(f"`{c}`").cast("string").alias(c)
            if c in df.columns
            else F.lit(None).cast("string").alias(c)
            for c in ACCOUNTING_RAW_SCHEMA.fieldNames()
        ]
    )
    return df.withColumnRenamed("timestamp", "Timestamp")


def convert_csv_to_parquet(
    spark: SparkSession, csv_path: str, parquet_path: str, schema=None
) -> None:
    """S4: CSV → parquet conversion (the reference shells out to polars,
    utils/download_parquet_pcloud.py:20-46).  One declarative pass;
    snappy comes from the session default."""
    reader = spark.read.option("header", "true")
    reader = reader.schema(schema) if schema else reader.option(
        "inferSchema", "true"
    )
    reader.csv(csv_path).write.mode("overwrite").parquet(parquet_path)


def read_fresco_ts(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """FRESCO EAV parquet scan.  Replaces the reference's hand-rolled
    row-group chunker (S3) and the manager's 1M-row file splitter (S10) —
    Spark splits parquet inputs by row group natively."""
    if isinstance(paths, str):
        paths = [paths]
    return normalize_ntz(spark.read.parquet(*paths))


# ---------------------------------------------------------------------------
# Partition discovery (J3)
# ---------------------------------------------------------------------------

TS_FILE_RE = re.compile(r"FRESCO_Conte_ts_(\d{4})_(\d{2})_v\d+(?:_chunk\d+)?\.parquet$")
#: step 1's own layout: ``ym=YYYY_MM/part-*.parquet`` (sinks.write_monthly_eav)
TS_PART_DIR_RE = re.compile(r"ym=(\d{4})_(\d{2})$")
ACCT_FILE_RE = re.compile(r"(\d{4})-(\d{2})\.csv$")


@dataclass(frozen=True)
class MonthInputs:
    year: str
    month: str
    ts_files: tuple[str, ...]
    accounting_file: str


def discover_months(ts_dir: str, acct_dir: str) -> list[MonthInputs]:
    """J3: intersect (year, month) keys derived from filenames in the two
    input directories (conte-etl-step-2-processor.py:1118-1193).

    ``ts_dir`` may hold the reference's flat
    ``FRESCO_Conte_ts_YYYY_MM_v*[_chunkNNN].parquet`` files, step 1's
    ``ym=YYYY_MM/part-*.parquet`` partition directories, or both."""
    ts_by_month: dict[tuple[str, str], list[str]] = {}
    for name in sorted(os.listdir(ts_dir)):
        path = os.path.join(ts_dir, name)
        m = TS_FILE_RE.search(name)
        if m:
            ts_by_month.setdefault(m.groups(), []).append(path)
            continue
        m = TS_PART_DIR_RE.fullmatch(name)
        if m and os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            if parts:
                ts_by_month.setdefault(m.groups(), []).extend(parts)
    out = []
    for name in sorted(os.listdir(acct_dir)):
        m = ACCT_FILE_RE.search(name)
        if m and m.groups() in ts_by_month:
            y, mo = m.groups()
            out.append(
                MonthInputs(y, mo, tuple(ts_by_month[(y, mo)]),
                            os.path.join(acct_dir, name))
            )
    return out


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    schema=None,
    corrupt_col: str = "_corrupt_record",
):
    """JSON-Lines reader — the interchange format LLM corpora ship in
    (one JSON document per line).  With an explicit ``schema`` the scan
    binds by name and never infers (one pass, not two — at 100 TB an
    inference pass over the corpus is a full extra read); malformed
    lines land whole in ``corrupt_col`` instead of failing the job
    (PERMISSIVE), mirroring the CSV readers' null-on-error posture.

    Without ``schema`` Spark samples to infer — acceptable for
    exploration, never for the pipeline path."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        from pyspark.sql.types import StringType, StructType

        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        # PERMISSIVE capture requires the corrupt column in the schema.
        if isinstance(schema, StructType) and corrupt_col not in schema.names:
            schema = schema.add(corrupt_col, StringType())
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str | list[str]):
    """ORC scan — same pushdown/pruning contract as the parquet reader
    (Catalyst pushes filters and prunes columns into the native ORC
    reader); exists so corpora already materialized as ORC don't pay a
    conversion."""
    return spark.read.orc(path)
