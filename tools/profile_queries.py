#!/usr/bin/env python
"""Per-query profile of the declared queries (measure first).

For every declared query, or only the named ones, at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS] this writes one ``measure.profile`` record
per query to out.json: ``build_s``, ``exec_s`` (planning included: the
noop write plans its own execution), ``jobs``, ``rebuild_exec_s`` and
the plan-shape counts (``exchanges``,
``py_nodes``, ``wsc``, ``smj``, ``bhj``, ``plan_lines``), counted on
the AQE-final plan the noop write executed.  That plan's formatted text
goes to ``<out>_plans/<name>.txt`` beside out.json, so a run never
overwrites a committed plan directory.

Usage: python tools/profile_queries.py [out.json] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conte_to_fresco_etl_spark import measure  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile.json"
    qs = entrymod.queries()
    unknown = [n for n in sys.argv[2:] if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    names = sorted(sys.argv[2:] or qs)
    plan_dir = os.path.splitext(out_path)[0] + "_plans"
    os.makedirs(plan_dir, exist_ok=True)

    spark = measure.open_session("profile", qs, sf_dir)
    rows: dict[str, dict] = {}
    for i, name in enumerate(names):
        rows[name], txt = measure.profile(spark, qs[name], sf_dir)
        with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        measure.sweep(spark, i)
        print(f"# {name}: {rows[name]}", file=sys.stderr)

    with open(out_path, "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)
    spark.stop()
    print(f"wrote {out_path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
