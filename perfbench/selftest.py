#!/usr/bin/env python3
"""Planted-fault self-test of the pipeline output check.

Generates a small seeded month, writes the generator's own expected EAV
and set3 tables in the layout a pipeline pass leaves behind, and checks
that ``checks.check_month`` accepts it.  Then it plants one fault at a
time (a dropped set3 row, a perturbed set3 value, two set3 rows with
their ``value_cpuuser`` swapped, a perturbed set3 host, a dropped EAV row,
a dropped daily CSV row) and checks that each one fails the check.  Needs no Spark.  Exits 0 when
the clean output passes and every fault is caught.

Usage:  python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import check_month  # noqa: E402
from gen_fresco import build_expected, generate  # noqa: E402

FAULTS = {
    "clean": ("", ""),
    "dropped set3 row": ("", "LIMIT (SELECT count(*) - 1 FROM set3)"),
    "perturbed set3 value": (
        "REPLACE (CASE WHEN rowid = (SELECT min(rowid) FROM set3 WHERE "
        "value_cpuuser IS NOT NULL) THEN value_cpuuser + 0.001 "
        "ELSE value_cpuuser END AS value_cpuuser)", ""),
    "swapped set3 values": (
        "REPLACE (CASE WHEN rowid = (SELECT min(rowid) FROM cpu) "
        "THEN (SELECT value_cpuuser FROM set3 WHERE rowid = "
        "(SELECT max(rowid) FROM cpu)) "
        "WHEN rowid = (SELECT max(rowid) FROM cpu) "
        "THEN (SELECT value_cpuuser FROM set3 WHERE rowid = "
        "(SELECT min(rowid) FROM cpu)) "
        "ELSE value_cpuuser END AS value_cpuuser)", ""),
    "perturbed set3 host": (
        "REPLACE (CASE WHEN rowid = 0 THEN host || 'x' ELSE host END AS host)",
        ""),
    "dropped eav row": ("", ""),
    "dropped daily csv row": ("", ""),
}


def write_pass(con, out: str, ym: str, fault: str) -> int:
    """Lay out the expected tables as a pass directory; return the set3
    row count the program would report."""
    y, m = ym.split("-")
    shutil.rmtree(out, ignore_errors=True)
    for sub in ("ts", f"set3/ym={y}_{m}"):
        os.makedirs(os.path.join(out, sub))
    eav_limit = ("LIMIT (SELECT count(*) - 1 FROM eav_named)"
                 if fault == "dropped eav row" else "")
    con.execute(f"COPY (SELECT * FROM eav_named {eav_limit}) TO "
                f"'{out}/ts/FRESCO_Conte_ts_{y}_{m}_v1_chunk000.parquet' "
                "(FORMAT parquet)")
    replace, limit = FAULTS[fault]
    con.execute("CREATE OR REPLACE TEMP VIEW cpu AS SELECT rowid FROM set3 "
                "WHERE value_cpuuser IS NOT NULL")
    con.execute(f"COPY (SELECT * {replace} FROM set3 {limit}) TO "
                f"'{out}/set3/ym={y}_{m}/part-00000.parquet' (FORMAT parquet)")
    daily_limit = ("LIMIT (SELECT count(*) - 1 FROM set3)"
                   if fault == "dropped daily csv row" else "")
    con.execute(f"COPY (SELECT *, strftime(time, '%Y-%m-%d') AS d FROM set3 "
                f"{daily_limit}) TO '{out}/daily' (FORMAT csv, HEADER, "
                "PARTITION_BY (d))")
    return con.execute("SELECT count(*) FROM set3").fetchone()[0]


def main() -> int:
    work = os.path.join(HERE, "_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    man = generate(os.path.join(work, "data"), seed=7, rows=1500)
    ym = man["months"][0]
    con = duckdb.connect()
    build_expected(con, os.path.join(work, "data"), ym)
    ok = True
    for fault in FAULTS:
        rows = write_pass(con, os.path.join(work, "pass"), ym, fault)
        bad = check_month(os.path.join(work, "pass"), ym,
                          man["expected"][ym], rows)
        caught = bool(bad)
        good = caught == (fault != "clean")
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {fault}: "
              f"{'; '.join(bad) if bad else 'check accepts the output'}")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
