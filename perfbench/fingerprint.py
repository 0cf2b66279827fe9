"""Order-insensitive table fingerprints, computed by DuckDB.

A fingerprint is the row count, the sum of a 64-bit hash of each whole
row, and per floating column its non-null count and sum.  In the row hash
timestamps enter as epoch microseconds, so TIMESTAMP and TIMESTAMPTZ agree,
and floating columns enter rounded to single precision (about seven
significant digits), so a value that two engines compute differently in
the last place still hashes the same while a value moved to another row
does not.  The sums are a backstop, compared within a relative tolerance.
"""

from __future__ import annotations

import math

FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL")
#: relative tolerance on floating-column sums
REL_TOL = 1e-9


def _is_float(dtype: str) -> bool:
    return dtype.upper() in FLOAT_TYPES or dtype.upper().startswith("DECIMAL")


def _hash_term(name: str, dtype: str) -> str:
    col = '"' + name.replace('"', '""') + '"'
    if dtype.upper().startswith("TIMESTAMP"):
        return f"epoch_us({col})"
    if _is_float(dtype):
        return f"CAST({col} AS FLOAT)"
    return col


def fingerprint_sql(con, relation: str) -> dict:
    """Fingerprint of ``relation`` (a table, view or parenthesised query)
    on the DuckDB connection ``con``."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    floats = sorted(c[0] for c in cols if _is_float(c[1]))
    terms = ", ".join(_hash_term(c[0], c[1]) for c in sorted(cols))
    aggs = ["count(*)",
            f"CAST(coalesce(sum(hash({terms})::HUGEINT), 0) AS VARCHAR)"]
    for name in floats:
        col = '"' + name.replace('"', '""') + '"'
        aggs.append(f"count({col})")
        aggs.append(f"sum(CAST({col} AS DOUBLE))")
    row = con.execute(f"SELECT {', '.join(aggs)} FROM {relation}").fetchone()
    out = {"rows": row[0], "key_hash": row[1], "floats": {}}
    for i, name in enumerate(floats):
        out["floats"][name] = [row[2 + 2 * i], row[3 + 2 * i]]
    return out


def diff(want: dict, got: dict) -> list[str]:
    """Human-readable mismatches between two fingerprints; empty when
    they agree."""
    bad = []
    if want["rows"] != got["rows"]:
        bad.append(f"rows {got['rows']} != {want['rows']}")
    if want["key_hash"] != got["key_hash"]:
        bad.append("row hash differs")
    if sorted(want["floats"]) != sorted(got["floats"]):
        bad.append(f"floating columns {sorted(got['floats'])} != "
                   f"{sorted(want['floats'])}")
        return bad
    for name, (n_want, s_want) in want["floats"].items():
        n_got, s_got = got["floats"][name]
        if n_want != n_got:
            bad.append(f"{name}: {n_got} non-null != {n_want}")
        elif (s_want is None) != (s_got is None) or (
            s_want is not None
            and not math.isclose(s_want, s_got, rel_tol=REL_TOL, abs_tol=1e-9)
        ):
            bad.append(f"{name}: sum {s_got!r} != {s_want!r}")
    return bad
