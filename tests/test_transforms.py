"""Step-1 transform tests on FIXTURES.md-shaped synthetic frames, checked
against hand-computed oracle values derived from the reference's documented
formulas (transform_conte_ts_data.py:243-258, :345-358, :449-516,
:591-617)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from conte_to_fresco_etl_spark.operators.transforms import (
    transform_block,
    transform_cpu,
    transform_mem,
    transform_nfs,
    transform_folder,
)
from conte_to_fresco_etl_spark.schemas import (
    BLOCK_RAW_SCHEMA,
    CPU_RAW_SCHEMA,
    FRESCO_TS_SCHEMA,
    LLITE_RAW_SCHEMA,
    MEM_RAW_SCHEMA,
)

TS = "03/01/2015 10:00:00"
GIB = 1024.0 ** 3


def mk(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


def by_key(rows):
    return {(r["Job Id"], r["Host"], r["Event"], r["Timestamp"]): r for r in rows}


def test_block_value_and_dirty_rows(spark):
    rows = [
        ("jobID1", "n1", TS, 1000, 1000, 4, 4),      # (2000*512/8)/GIB
        ("jobID2", "n1", TS, 100, 100, 0, 0),        # /0 -> 0.0
        ("jobID3", "n1", "not a date", 1, 1, 1, 1),  # P3 drop
        ("jobID4", "n1", TS, None, 1, 1, 1),         # P2 drop
    ]
    out = transform_block(mk(spark, BLOCK_RAW_SCHEMA, rows)).collect()
    assert len(out) == 2
    got = {r["Job Id"]: r for r in out}
    assert math.isclose(got["JOB1"]["Value"], (2000 * 512 / 8) / GIB)
    assert got["JOB2"]["Value"] == 0.0
    assert got["JOB1"]["Units"] == "GB/s"
    assert got["JOB1"]["Event"] == "block"
    assert got["JOB1"]["Timestamp"].isoformat().startswith("2015-03-01T10:00:00")


def test_block_missing_column_returns_empty(spark):
    df = mk(spark, BLOCK_RAW_SCHEMA, []).drop("rd_ticks")
    out = transform_block(df)
    assert out.count() == 0
    assert out.schema == FRESCO_TS_SCHEMA


def test_cpu_percent_no_upper_cap(spark):
    rows = [
        ("jobID1", "n1", TS, 50, 10, 20, 10, 5, 3, 2),  # (60/100)*100 = 60
        ("jobID2", "n1", TS, 0, 0, 0, 0, 0, 0, 0),      # total 0 -> 0.0
    ]
    out = transform_cpu(mk(spark, CPU_RAW_SCHEMA, rows)).collect()
    got = {r["Job Id"]: r for r in out}
    assert math.isclose(got["JOB1"]["Value"], 60.0)
    assert got["JOB2"]["Value"] == 0.0
    assert got["JOB1"]["Units"] == "CPU %"


def test_mem_two_events_and_clamps(spark):
    rows = [
        # normal: used = 64GiB-16GiB = 48GiB -> 48 GB; minus cache 48-8=40
        ("jobID1", "n1", TS, 64 * 2**30, 16 * 2**30, 8 * 2**30),
        # MemFree > MemTotal -> clamped to MemTotal -> used 0
        ("jobID2", "n1", TS, 4 * 2**30, 8 * 2**30, 1 * 2**30),
        # FilePages > used -> minus_diskcache clamps to 0
        ("jobID3", "n1", TS, 8 * 2**30, 6 * 2**30, 4 * 2**30),
        # negative FilePages clips to 0 first (transform:451-453):
        # minus_diskcache == memused, NOT memused + |FilePages|
        ("jobID4", "n1", TS, 64 * 2**30, 32 * 2**30, -(4 * 2**30)),
    ]
    out = transform_mem(mk(spark, MEM_RAW_SCHEMA, rows)).collect()
    assert len(out) == 8  # two EAV rows per input row
    got = by_key(out)
    k1u = [k for k in got if k[0] == "JOB1" and k[2] == "memused"][0]
    k1m = [k for k in got if k[0] == "JOB1" and k[2] == "memused_minus_diskcache"][0]
    assert math.isclose(got[k1u]["Value"], 48.0)
    assert math.isclose(got[k1m]["Value"], 40.0)
    k2u = [k for k in got if k[0] == "JOB2" and k[2] == "memused"][0]
    assert got[k2u]["Value"] == 0.0
    k3m = [k for k in got if k[0] == "JOB3" and k[2] == "memused_minus_diskcache"][0]
    assert got[k3m]["Value"] == 0.0
    k4u = [k for k in got if k[0] == "JOB4" and k[2] == "memused"][0]
    k4m = [k for k in got if k[0] == "JOB4" and k[2] == "memused_minus_diskcache"][0]
    assert math.isclose(got[k4u]["Value"], 32.0)
    assert math.isclose(got[k4m]["Value"], 32.0)  # clipped, not 36.0


def test_nfs_lag_rate(spark):
    mib = 1024 * 1024
    rows = [
        # shuffled order on purpose: the op sorts (transform:591)
        ("jobID1", "n1", "03/01/2015 10:00:10", 20 * mib, 0),  # Δ=10MiB/10s = 1 MB/s
        ("jobID1", "n1", "03/01/2015 10:00:00", 10 * mib, 0),  # first row -> 0
        ("jobID1", "n1", "03/01/2015 10:00:10", 20 * mib, 0),  # dup ts: Δt=0 -> floor 0.1
        ("jobID1", "n1", "03/01/2015 10:00:20", 5 * mib, 0),   # reset: negative -> clamp 0
        ("jobID1", "n2", "03/01/2015 10:00:30", 50 * mib, 0),  # other group first row -> 0
    ]
    out = transform_nfs(mk(spark, LLITE_RAW_SCHEMA, rows))
    got = sorted(
        out.filter("Host = 'n1'").collect(), key=lambda r: r["Timestamp"]
    )
    vals = [r["Value"] for r in got]
    assert vals[0] == 0.0
    assert math.isclose(vals[1], 1.0)          # 10 MiB over 10 s
    assert math.isclose(vals[2], 0.0 / 0.1)    # same counter, Δt floored
    assert vals[3] == 0.0                      # counter reset clamped
    n2 = out.filter("Host = 'n2'").collect()
    assert n2[0]["Value"] == 0.0
    assert n2[0]["Units"] == "MB/s"


def test_transform_folder_union(spark):
    frames = {
        "cpu": mk(spark, CPU_RAW_SCHEMA, [("jobID1", "n1", TS, 1, 0, 0, 1, 0, 0, 0)]),
        "mem": mk(
            spark, MEM_RAW_SCHEMA, [("jobID1", "n1", TS, 2 * 2**30, 2**30, 0)]
        ),
    }
    out = transform_folder(frames)
    assert out.count() == 3  # 1 cpu + 2 mem
    assert set(r["Event"] for r in out.collect()) == {
        "cpuuser", "memused", "memused_minus_diskcache",
    }


def test_sessionize_events_gap_semantics(spark):
    import datetime as dt

    from conte_to_fresco_etl_spark.operators.sessions import (
        sessionize_events,
    )

    t0 = dt.datetime(2023, 5, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: events at 0, 10, 20 (one session), 60 (new), 95 (new)
        (1, ts(0), 1), (2, ts(10), 1), (3, ts(20), 1),
        (4, ts(60), 1), (5, ts(95), 1),
        # user 2: single event
        (6, ts(5), 2),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )
    out = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize_events(ev, gap_minutes=30).collect()
    }
    assert len(out) == 4
    assert out[(1, 0)]["n_events"] == 3
    assert out[(1, 0)]["session_start"] == ts(0)
    assert out[(1, 0)]["session_end"] == ts(20)
    assert out[(1, 1)]["n_events"] == 1 and out[(1, 1)]["session_start"] == ts(60)
    assert out[(1, 2)]["n_events"] == 1
    assert out[(2, 0)]["n_events"] == 1


def test_mem_scans_its_csv_once(spark, tmp_path):
    """Both memory events come from one scan of mem.csv: the plan holds
    one file scan, not one per event."""
    from conte_to_fresco_etl_spark.sources.readers import read_raw_csv

    p = tmp_path / "mem.csv"
    p.write_text(
        "jobID,node,timestamp,MemTotal,MemFree,FilePages\n"
        f"jobID1,n1,{TS},{64 * 2**30},{16 * 2**30},{8 * 2**30}\n"
    )
    out = transform_mem(read_raw_csv(spark, str(p), MEM_RAW_SCHEMA))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan csv") == 1, plan
    assert sorted((r["Event"], r["Value"]) for r in out.collect()) == [
        ("memused", 48.0), ("memused_minus_diskcache", 40.0),
    ]
