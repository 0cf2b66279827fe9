"""Stateful sessionization tests (applyInPandasWithState).

Feeds two parquet files as separate micro-batches (maxFilesPerTrigger=1)
so the watermark advances between batches: sessions closed by an
explicit gap AND sessions closed by event-time timeout are both
exercised.
"""

from __future__ import annotations

import datetime

import pytest

from conte_to_fresco_etl_spark.streaming.stateful import sessionize

SCHEMA = "user_id string, ts timestamp, value double"
D = datetime.datetime


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_sessionize(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: user A has two sessions separated by a >30min gap inside
    # the same batch (explicit close); user B has one open session.
    _write(
        spark,
        [
            ("A", D(2024, 1, 1, 10, 0), 1.0),
            ("A", D(2024, 1, 1, 10, 10), 2.0),
            ("A", D(2024, 1, 1, 12, 0), 5.0),  # gap > 30min → new session
            ("B", D(2024, 1, 1, 10, 5), 7.0),
        ],
        src,
    )
    # batch 2: far-future event advances the watermark past every open
    # session's timeout → timeout-close A's second session and B's.
    _write(spark, [("C", D(2024, 1, 2, 0, 0), 0.5)], src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize(stream, gap_seconds=1800, watermark_delay="1 minute")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        (r["user_id"], r["session_start"]): r
        for r in spark.sql("select * from sessions").collect()
    }
    a1 = rows[("A", D(2024, 1, 1, 10, 0))]
    assert a1["session_end"] == D(2024, 1, 1, 10, 10)
    assert a1["n_events"] == 2
    assert a1["sum_value"] == pytest.approx(3.0)

    a2 = rows[("A", D(2024, 1, 1, 12, 0))]
    assert a2["n_events"] == 1
    assert a2["sum_value"] == pytest.approx(5.0)

    b = rows[("B", D(2024, 1, 1, 10, 5))]
    assert b["n_events"] == 1
    assert b["sum_value"] == pytest.approx(7.0)


