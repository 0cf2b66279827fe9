"""Custom stateful streaming operator: event sessionization via
``applyInPandasWithState``.

The reference has no stateful streaming at all — its closest notion of
"state" is the processed-file JSON bookkeeping (SURVEY §2.10).  This
operator demonstrates the engine's extension surface for custom
per-key streaming state: gap-based sessionization over an event
stream, the canonical shape for clickstream/job-activity rollups.

Semantics: events for a key belong to one session while the gap between
consecutive events stays <= ``gap``; a longer gap closes the session and
starts a new one.  Closed sessions are emitted either when a late-enough
event arrives (explicit close) or when the event-time watermark passes
``last_ts + gap`` (timeout close) — so output is complete even for keys
that simply stop sending.

Scale posture: state lives in the state store keyed by the group key —
one shuffle on the key, per-key state is O(1) (five scalars), and the
watermark bounds state lifetime; no unbounded buffering.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

#: state tuple: (session_start_epoch_us, last_ts_epoch_us, n, sum_value)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_US = 1_000_000

def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization of a streaming DataFrame.

    Returns closed sessions (key, start, end, n_events, sum_value).
    The input must carry an event-time column; a watermark is applied
    here so state can time out and be reclaimed.
    """
    gap_us = gap_seconds * _US

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple] = []

        def close(start_us: int, last_us: int, n: int, sv: float) -> None:
            closed.append(
                (
                    key[0],
                    pd.Timestamp(start_us, unit="us"),
                    pd.Timestamp(last_us, unit="us"),
                    n,
                    sv,
                )
            )

        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            close(start_us, last_us, n, sv)
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            rows = rows.sort_values(ts_col)
            ts_us = rows[ts_col].astype("int64") // 1000  # ns → us
            vals = rows[value_col].astype("float64")
            if state.exists:
                start_us, last_us, n, sv = state.get
            else:
                start_us = last_us = n = 0
                sv = 0.0
            for t_us, v in zip(ts_us, vals):
                t_us = int(t_us)
                if n == 0:
                    start_us, last_us, n, sv = t_us, t_us, 1, float(v)
                elif t_us - last_us <= gap_us:
                    last_us, n, sv = t_us, n + 1, sv + float(v)
                else:
                    close(start_us, last_us, n, sv)
                    start_us, last_us, n, sv = t_us, t_us, 1, float(v)
            state.update((start_us, last_us, n, sv))
            # reclaim state when the watermark passes the session gap
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=[c.name for c in SESSION_OUTPUT_SCHEMA]
            )

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


