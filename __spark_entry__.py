"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).  It may stop after the first 50
names, so the iteration order of ``queries()`` / ``oracle_sql()`` is the
gate order ``plans/gate.py`` computes from per-query source fingerprints
and ``GATE_MANIFEST.json``: queries never driver-green or changed since
their last green row first, then the rest, stalest green round first.
After a driver round, ``python -m conte_to_fresco_etl_spark.plans.gate
CORRECTNESS_rN.json`` records its verdicts.

All queries live in ``conte_to_fresco_etl_spark.plans.catalog`` /
``catalog_text`` / ``catalog_tpch`` / ``catalog_analytics`` — this
module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conte_to_fresco_etl_spark.plans import catalog, gate  # noqa: E402  (gate imports every catalog module)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the conte set3 dataflow
    shape (broadcast interval join + pivot scatter) on the events table."""
    return catalog.QUERIES["conte_set3"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data operators: dedup, similarity, text analysis)."""
    return {n: catalog.QUERIES[n] for n in gate.order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query.  Keys absent here
    (e.g. q_lsh_ann_topk) are intentionally approximate operators that
    get the driver's weaker rows-only check."""
    return {n: catalog.ORACLES[n] for n in gate.order() if n in catalog.ORACLES}
