"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares: row count, column
names, and values (columns sorted by name, rows sorted by all columns;
exact match for non-floats, 1e-9 relative for floats — stricter than a
value hash would be lenient, looser only where IEEE noise is expected).

Each row prints ``spark_s`` (build + collect) and ``duckdb_s`` (the
oracle's run), so a slow oracle shows without a separate probe.

Usage:  python tests/oracle_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def normalize(rows: list[tuple], cols: list[str]):
    """Sort columns by name, then rows; stringify for stable ordering."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    if type(a) is not type(b):
        return str(a) == str(b)
    return a == b


def check(s_cols, s_rows, d_cols, d_rows) -> tuple[bool, str]:
    """Compare Spark's rows with the oracle's: schema, row count, values."""
    sc, sr = normalize(s_rows, s_cols)
    dc, dr = normalize(d_rows, d_cols)
    if sc != dc:
        return False, f"SCHEMA: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return False, f"ROWCOUNT: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not values_equal(x, y):
                return False, (
                    f"VALUE row {i} col {sc[j]}: spark={x!r} duckdb={y!r}"
                )
    return True, f"match ({len(sr)} rows)"


def compare(name: str, spark_df, con) -> tuple[bool, str, float, float]:
    """(ok, message, seconds collecting ``spark_df``, seconds running the
    oracle on DuckDB)."""
    import __spark_entry__ as entrymod

    oracle = entrymod.oracle_sql().get(name)
    t0 = time.time()
    s_rows = [tuple(r) for r in spark_df.collect()]
    spark_s = time.time() - t0
    if oracle is None:
        return True, f"rows-only ({len(s_rows)} rows)", spark_s, 0.0
    t0 = time.time()
    cur = con.execute(oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    duckdb_s = time.time() - t0
    return (*check(spark_df.columns, s_rows, d_cols, d_rows), spark_s, duckdb_s)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from conte_to_fresco_etl_spark.session import get_spark

    # no console progress bar: each result row starts its own line
    spark = get_spark(app_name="oracle-parity", master="local[8]",
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    failures = []
    print(f"{'':4s}  {'query':24s} {'spark_s':>7s} {'duckdb_s':>8s}")
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            build_s = time.time() - t0
            ok, msg, spark_s, duckdb_s = compare(name, df, con)
            spark_s += build_s
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
            spark_s, duckdb_s = time.time() - t0, float("nan")
        print(f"{'PASS' if ok else 'FAIL'}  {name:24s} {spark_s:6.1f}s"
              f" {duckdb_s:7.1f}s  {msg}", flush=True)
        if not ok:
            failures.append(name)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} parity-clean")
    if failures:
        print("failures:", ", ".join(failures))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
