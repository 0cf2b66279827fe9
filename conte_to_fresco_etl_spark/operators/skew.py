"""Skew-mitigation utilities for hot join keys.

The reference never faced key skew (one month at a time, single
process); at 100 TB a handful of hot jobIDs (array jobs, monitoring
artifacts) can put most of a shuffle partition on one task.  Two
engine-level answers, in preference order:

  1. **AQE skew-join** — ``spark.sql.adaptive.skewJoin.enabled`` is on
     in the session defaults (session.py): Spark splits oversized
     shuffle partitions at runtime.  Zero code; use it first.
  2. **Explicit salting** (this module) — for the cases AQE cannot fix
     (skewed *broadcast-ineligible* aggregations, or engines/planners
     without AQE): replicate the small side R times and scatter the big
     side's hot keys across R salt buckets; the join key becomes
     (key, salt), so one hot key spreads over R tasks.

``salted_join`` preserves inner-equi-join semantics exactly: every
(left, right) key match appears exactly once because each left row gets
ONE random salt while each right row is replicated to ALL salts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``left`` (large, skewed) with ``right`` (small enough to
    replicate ``salts``-fold) on column ``on``.

    left:  gets ``salt = pmod(hash(rand), salts)`` — each row lands in
           one bucket, so a hot key's rows spread across ``salts`` tasks.
    right: cross-joined with the salt range — every key exists in every
           bucket, so no match is lost.

    Supports ``inner`` and ``left`` joins (the semantics-preserving
    cases for one-sided salting)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_range = F.explode(
        F.sequence(F.lit(0), F.lit(salts - 1))
    ).alias("__salt")
    l = left.withColumn(
        "__salt", (F.rand(seed=42) * salts).cast("int")
    )
    r = right.select("*", salt_range)
    out = l.join(r, [on, "__salt"], how)
    return out.drop("__salt")


