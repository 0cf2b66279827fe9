"""Cross-engine result fingerprint for the catalog workload.

The same order-insensitive aggregates are computed on Spark, as an
``Observation`` riding the timed noop write, and on DuckDB over the
query's ``oracle_sql()``.  Per column, by type class:

* numeric (integral, floating, decimal): non-null count and sum as double
* string: non-null count and the sum of the first 12 hex digits of md5
* timestamp and date: non-null count and the sum of epoch microseconds
* boolean: count of true
* nested: non-null count and the sum of sizes

Numeric sums compare within a relative tolerance; everything else must be
equal.  Column names must match exactly.
"""

from __future__ import annotations

import glob
import math
import os

REL_TOL = 1e-6
_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
            "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "REAL")


def _duck_class(dtype: str) -> str:
    t = dtype.upper()
    if t in _NUMERIC or t.startswith("DECIMAL"):
        return "num"
    if t in ("VARCHAR", "TEXT") or t.startswith("VARCHAR"):
        return "str"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "time"
    if t == "BOOLEAN":
        return "bool"
    return "nested"


def _spark_class(dtype) -> str:
    from pyspark.sql import types as T

    if isinstance(dtype, T.NumericType):
        return "num"
    if isinstance(dtype, T.StringType):
        return "str"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "time"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    return "nested"


def spark_exprs(df) -> list:
    """Aggregate Columns for ``df.observe``; aliases are ``n``,
    ``<i>_c`` and ``<i>_s`` per column index ``i``."""
    from pyspark.sql import functions as F

    out = [F.count(F.lit(1)).alias("n")]
    for i, field in enumerate(df.schema.fields):
        c = F.col("`" + field.name.replace("`", "``") + "`")
        kind = _spark_class(field.dataType)
        if kind == "bool":
            out.append(F.count(F.when(c, 1)).alias(f"{i}_c"))
            continue
        out.append(F.count(c).alias(f"{i}_c"))
        if kind == "num":
            s = F.sum(c.cast("double"))
        elif kind == "str":
            s = F.sum(F.conv(F.substring(F.md5(c), 1, 12), 16, 10)
                      .cast("decimal(38,0)"))
        elif kind == "time":
            s = F.sum(F.unix_micros(c.cast("timestamp")).cast("decimal(38,0)"))
        else:
            s = F.sum(F.size(c).cast("decimal(38,0)"))
        out.append(s.alias(f"{i}_s"))
    return out


def from_spark(df, metrics: dict) -> dict:
    fp = {"rows": int(metrics["n"]), "cols": {}}
    for i, field in enumerate(df.schema.fields):
        kind = _spark_class(field.dataType)
        s = metrics.get(f"{i}_s")
        fp["cols"][field.name] = [kind, int(metrics[f"{i}_c"]), _norm(kind, s)]
    return fp


def _norm(kind: str, s):
    if s is None:
        return None
    return float(s) if kind == "num" else str(int(s))


def duck_fingerprint(con, sql: str) -> dict:
    rel = f"({sql})"
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    aggs = ["count(*)"]
    kinds = []
    for name, dtype, *_ in cols:
        c = '"' + name.replace('"', '""') + '"'
        kind = _duck_class(dtype)
        kinds.append((name, kind))
        if kind == "bool":
            aggs += [f"count(*) FILTER (WHERE {c})", "NULL"]
            continue
        aggs.append(f"count({c})")
        if kind == "num":
            aggs.append(f"sum(CAST({c} AS DOUBLE))")
        elif kind == "str":
            aggs.append(f"CAST(sum(('0x' || substr(md5({c}), 1, 12))::BIGINT"
                        "::HUGEINT) AS VARCHAR)")
        elif kind == "time":
            aggs.append(f"CAST(sum(epoch_us(CAST({c} AS TIMESTAMP))::HUGEINT)"
                        " AS VARCHAR)")
        else:
            aggs.append(f"CAST(sum(len({c})::HUGEINT) AS VARCHAR)")
    row = con.execute(f"SELECT {', '.join(aggs)} FROM {rel}").fetchone()
    fp = {"rows": int(row[0]), "cols": {}}
    for j, (name, kind) in enumerate(kinds):
        s = row[2 + 2 * j]
        fp["cols"][name] = [kind, int(row[1 + 2 * j]), _norm(kind, s)]
    return fp


def diff(want: dict, got: dict) -> list[str]:
    bad = []
    if want["rows"] != got["rows"]:
        bad.append(f"rows {got['rows']} != {want['rows']}")
    if sorted(want["cols"]) != sorted(got["cols"]):
        return bad + [f"columns {sorted(got['cols'])} != {sorted(want['cols'])}"]
    for name, (kind, n, s) in want["cols"].items():
        gkind, gn, gs = got["cols"][name]
        if n != gn:
            bad.append(f"{name}: {gn} non-null != {n}")
        elif kind != gkind and {kind, gkind} != {"num"}:
            bad.append(f"{name}: type class {gkind} != {kind}")
        elif kind == "num" and s is not None and gs is not None:
            if not (math.isnan(s) and math.isnan(gs)) and not math.isclose(
                s, gs, rel_tol=REL_TOL, abs_tol=1e-6
            ):
                bad.append(f"{name}: sum {gs!r} != {s!r}")
        elif s != gs:
            bad.append(f"{name}: {gs!r} != {s!r}")
    return bad


def oracle_fingerprints(data: str, oracles: dict[str, str]) -> dict:
    """DuckDB fingerprint of each oracle query over the tables in ``data``
    (one ``<table>.parquet`` each)."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            name = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        return {q: duck_fingerprint(con, sql) for q, sql in oracles.items()}
    finally:
        con.close()
