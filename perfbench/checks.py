"""Output checks for the pipeline workload.

Each month a pass produces is one operation.  It passes when its step-1
EAV files, its set3 parquet and its daily CSV rows agree with the
generator's independent DuckDB results (``manifest.json``), and the
``MonthResult`` row count the program returned agrees too.
"""

from __future__ import annotations

import csv
import glob
import os

from fingerprint import diff, fingerprint_sql


def _parquet(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], hive_partitioning=false)"


def csv_rows(path: str) -> int:
    """Data rows of a CSV file with a header line.  Python's reader takes
    a few milliseconds where DuckDB's per-file dialect sniffing takes a
    tenth of a second."""
    with open(path, newline="") as fh:
        return max(0, sum(1 for _ in csv.reader(fh)) - 1)


def check_month(out: str, ym: str, expected: dict,
                returned_rows: int | None) -> list[str]:
    """Mismatches of one month's outputs under the pass directory
    ``out``; empty when every check passes."""
    import duckdb

    y, m = ym.split("-")
    bad = []
    con = duckdb.connect()
    try:
        eav = sorted(glob.glob(os.path.join(
            out, "ts", f"FRESCO_Conte_ts_{y}_{m}_v1_*.parquet")))
        if not eav:
            return ["no step-1 EAV files"]
        bad += [f"eav: {d}" for d in diff(expected["eav"],
                                          fingerprint_sql(con, _parquet(eav)))]
        set3 = sorted(glob.glob(os.path.join(out, "set3", f"ym={y}_{m}",
                                             "*.parquet")))
        if not set3:
            return bad + ["no set3 parquet files"]
        bad += [f"set3: {d}" for d in diff(expected["set3"],
                                           fingerprint_sql(con, _parquet(set3)))]
        daily = glob.glob(os.path.join(out, "daily", f"d={ym}-*", "*.csv"))
        n_csv = sum(csv_rows(f) for f in daily)
        if n_csv != expected["set3"]["rows"]:
            bad.append(f"daily csv: {n_csv} rows != {expected['set3']['rows']}")
        if returned_rows != expected["set3"]["rows"]:
            bad.append(f"MonthResult.rows {returned_rows} != "
                       f"{expected['set3']['rows']}")
    finally:
        con.close()
    return bad
