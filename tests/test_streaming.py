"""Structured Streaming pipeline tests (SURVEY §2.10).

Drives the streaming set3 query with availableNow over staged EAV
parquet and asserts the drained output matches the batch plan row-for-
row; then exercises incremental arrival (second file → second drain
appends only new rows) and the watermarked windowed aggregate.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.join import process_month
from conte_to_fresco_etl_spark.schemas import FRESCO_TS_SCHEMA
from conte_to_fresco_etl_spark.sources.readers import read_accounting_csv
from conte_to_fresco_etl_spark.streaming import (
    start_set3_stream,
    stream_eav_source,
    windowed_event_rates,
)

ACCT_HEADER = (
    "jobID,qtime,start,end,Resource_List.walltime,Resource_List.nodect,"
    "Resource_List.ncpus,account,queue,jobname,user,group,exec_host,"
    "jobevent,Exit_status"
)


def _eav_rows(spark, job, host, hours):
    import datetime

    rows = [
        (
            job,
            host,
            "cpuuser",
            50.0 + h,
            "CPU %",
            datetime.datetime(2015, 3, 1, h, 0, 0),
        )
        for h in hours
    ]
    return spark.createDataFrame(rows, FRESCO_TS_SCHEMA)


@pytest.fixture()
def staged(spark, tmp_path):
    ts_dir = tmp_path / "ts"
    ts_dir.mkdir()
    _eav_rows(spark, "JOB1", "h1", range(0, 6)).coalesce(1).write.mode(
        "append"
    ).parquet(str(ts_dir))
    acct = tmp_path / "2015-03.csv"
    acct.write_text(
        ACCT_HEADER + "\n"
        "1.adm,03/01/2015 00:00:00,03/01/2015 00:00:00,03/01/2015 23:59:59,"
        "10:00:00,1,8,acct,q,job,u,g,h1/0,E,0\n"
    )
    return str(ts_dir), str(acct)


def test_stream_matches_batch(spark, staged, tmp_path):
    ts_dir, acct = staged
    jobs = read_accounting_csv(spark, acct)

    q = start_set3_stream(
        stream_eav_source(spark, ts_dir),
        jobs,
        out_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(str(tmp_path / "out"))
    batch = process_month(spark.read.parquet(ts_dir), jobs)
    assert streamed.count() == batch.count() == 6
    s = {tuple(r) for r in streamed.drop("d").collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    # directory partitioning by day (S8 semantics under streaming)
    assert glob.glob(str(tmp_path / "out" / "d=2015-03-01"))


def test_stream_incremental_arrival(spark, staged, tmp_path):
    """A second drain after a new file arrives appends only the new rows
    (checkpoint bookkeeping replaces the reference's processed-set JSON +
    ready signals)."""
    ts_dir, acct = staged
    jobs = read_accounting_csv(spark, acct)

    def drain():
        q = start_set3_stream(
            stream_eav_source(spark, ts_dir),
            jobs,
            out_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 6

    _eav_rows(spark, "JOB1", "h1", range(6, 9)).coalesce(1).write.mode(
        "append"
    ).parquet(ts_dir)
    drain()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 9
    # no duplicates: each source row processed exactly once
    assert out.select("time").distinct().count() == 9


def test_windowed_event_rates(spark, staged, tmp_path):
    ts_dir, _ = staged
    agg = windowed_event_rates(
        stream_eav_source(spark, ts_dir),
        window_duration="2 hours",
        watermark_delay="1 hour",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from winagg order by window_start"
    ).collect()
    # 6 hourly rows in [00:00, 06:00) → 3 two-hour windows of 2 rows
    assert len(rows) == 3
    assert all(r["n"] == 2 and r["Event"] == "cpuuser" for r in rows)
    assert rows[0]["avg_value"] == pytest.approx(50.5)


def test_stream_dedup(spark, tmp_path):
    """Duplicate rows across micro-batches within the watermark are
    suppressed (S7 dedup-on-append semantics, engine-native)."""
    from conte_to_fresco_etl_spark.streaming import stream_dedup

    src = str(tmp_path / "dsrc")
    base = _eav_rows(spark, "JOB9", "h1", range(0, 4))
    base.coalesce(1).write.mode("append").parquet(src)
    # second file repeats two rows and adds one new
    dup = _eav_rows(spark, "JOB9", "h1", [2, 3, 4])
    dup.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(FRESCO_TS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_dedup(stream, watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    assert len(rows) == 5  # hours 0..4 exactly once
    assert len({r["Timestamp"] for r in rows}) == 5


def test_curation_projections_run_on_streams(spark, tmp_path):
    """The map-side curation operators (PII scrub, quality filters) are
    plain projections, so the SAME functions must run unchanged on a
    streaming DataFrame and produce row-identical output to batch —
    the operator library is engine-mode agnostic."""
    from conte_to_fresco_etl_spark.operators.pii import pii_scrub
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_filters,
    )

    src = str(tmp_path / "docs_src")
    rows = [
        (0, "mail me at a@b.io today please"),
        (1, "clean text only\nclean text only\nsecond line"),
        (2, "call 555-123-4567 or visit 10.0.0.1"),
        (3, ""),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    # quality_filters' Arrow path and pii_scrub both compose on streams
    q = pii_scrub(quality_filters(stream, impl="expr")
                  .join(stream, "doc_id")
                  .select("doc_id", "text", "keep"))
    (
        q.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: r
        for r in pii_scrub(
            quality_filters(batch_df, impl="expr")
            .join(batch_df, "doc_id")
            .select("doc_id", "text", "keep")
        ).collect()
    }
    assert len(got) == 4
    for k in want:
        assert got[k] == want[k]


def test_stream_stream_attribution_join(spark, tmp_path):
    """Both sides unbounded: purchases within 30min after a click of
    the same user match; outside-window and cross-user purchases do
    not.  Uses file sources + availableNow + a memory sink."""
    import datetime

    from conte_to_fresco_etl_spark.streaming.pipeline import (
        stream_stream_attribution_join,
    )

    t0 = datetime.datetime(2015, 3, 1, 12, 0, 0)

    def mins(m):
        return t0 + datetime.timedelta(minutes=m)

    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purch"
    spark.createDataFrame(
        [(1, "u1", t0), (2, "u1", mins(60)), (3, "u2", t0)],
        "click_id long, user_id string, ts timestamp",
    ).coalesce(1).write.parquet(str(clicks_dir))
    spark.createDataFrame(
        [
            (10, "u1", mins(10), 5.0),    # matches click 1
            (11, "u1", mins(65), 7.0),    # matches click 2 only
            (12, "u2", mins(45), 9.0),    # > 30min after click 3: no match
            (13, "u3", mins(5), 1.0),     # no click for u3
        ],
        "purchase_id long, user_id string, ts timestamp, amount double",
    ).coalesce(1).write.parquet(str(purch_dir))

    c_schema = "click_id long, user_id string, ts timestamp"
    p_schema = "purchase_id long, user_id string, ts timestamp, amount double"
    joined = stream_stream_attribution_join(
        spark.readStream.schema(c_schema).parquet(str(clicks_dir)),
        spark.readStream.schema(p_schema).parquet(str(purch_dir)),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    assert got == {(1, 10), (2, 11)}


def test_continuous_rollup_matches_batch_and_is_idempotent(spark, tmp_path):
    """The maintained rollup must converge to the batch aggregate over
    the same data, and incremental arrival (second drain) must merge —
    not duplicate or drop — previously maintained hours."""
    import datetime

    from conte_to_fresco_etl_spark.streaming.pipeline import (
        start_continuous_rollup,
    )

    src = tmp_path / "ev"
    out, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ck")
    t0 = datetime.datetime(2015, 3, 1, 10, 0, 0)

    def drain():
        q = start_continuous_rollup(
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            ).parquet(str(src)),
            out, ckpt,
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [
            (1, t0, "a", 1.5),
            (2, t0 + datetime.timedelta(minutes=10), "a", 2.5),
            (3, t0 + datetime.timedelta(hours=1), "b", 4.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got1 = {
        (r["bucket_hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        (t0, "a"): (2, 4.0),
        (t0 + datetime.timedelta(hours=1), "b"): (1, 4.0),
    }

    # second file: same hour as event 3 (merge) + a new day (new partition)
    spark.createDataFrame(
        [
            (4, t0 + datetime.timedelta(hours=1, minutes=5), "b", 6.0),
            (5, t0 + datetime.timedelta(days=1), "a", 9.0),
        ],
        "event_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got2 = {
        (r["bucket_hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == {
        (t0, "a"): (2, 4.0),                                   # untouched hour kept
        (t0 + datetime.timedelta(hours=1), "b"): (2, 10.0),    # merged update
        (t0 + datetime.timedelta(days=1), "a"): (1, 9.0),      # new day
    }


def test_stream_stream_left_outer_emits_unconverted_clicks(spark, tmp_path):
    """leftOuter: a click with no purchase in its window is emitted
    with null purchase columns once the purchase-side watermark proves
    no match can still arrive (requires a later batch to advance it)."""
    import datetime

    from conte_to_fresco_etl_spark.streaming.pipeline import (
        stream_stream_attribution_join,
    )

    t0 = datetime.datetime(2015, 3, 1, 12, 0, 0)
    clicks_dir, purch_dir = tmp_path / "c", tmp_path / "p"
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    c_schema = "click_id long, user_id string, ts timestamp"
    p_schema = "purchase_id long, user_id string, ts timestamp, amount double"

    def drain():
        joined = stream_stream_attribution_join(
            spark.readStream.schema(c_schema).parquet(str(clicks_dir)),
            spark.readStream.schema(p_schema).parquet(str(purch_dir)),
            how="leftOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "u1", t0)], c_schema
    ).coalesce(1).write.mode("append").parquet(str(clicks_dir))
    spark.createDataFrame(
        [(10, "u9", t0, 1.0)], p_schema
    ).coalesce(1).write.mode("append").parquet(str(purch_dir))
    drain()

    # second batch far in the future advances both watermarks past
    # click 1's join window -> its unmatched row can now be finalized
    far = t0 + datetime.timedelta(hours=24)
    spark.createDataFrame(
        [(2, "u2", far)], c_schema
    ).coalesce(1).write.mode("append").parquet(str(clicks_dir))
    spark.createDataFrame(
        [(11, "u2", far, 2.0)], p_schema
    ).coalesce(1).write.mode("append").parquet(str(purch_dir))
    drain()

    rows = {
        r["click_id"]: r["purchase_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows.get(2) == 11          # matched pair from batch 2
    assert 1 in rows and rows[1] is None   # unconverted click finalized null


def test_scd2_maintainer_matches_batch_with_late_data(spark, tmp_path):
    """The maintained SCD2 table must equal the batch operator over all
    events seen so far — including a LATE event that splits a
    previously collapsed run — and a second drain must rebuild only
    affected buckets without duplicating others."""
    import datetime

    from conte_to_fresco_etl_spark.operators.scd import scd2_intervals
    from conte_to_fresco_etl_spark.streaming.pipeline import (
        start_scd2_maintainer,
    )

    src = tmp_path / "ev"
    log, table, ckpt = (
        str(tmp_path / "log"), str(tmp_path / "scd2"), str(tmp_path / "ck")
    )
    t0 = datetime.datetime(2015, 3, 1, 10, 0, 0)

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def drain():
        q = start_scd2_maintainer(
            spark.readStream.schema(schema).parquet(str(src)),
            log, table, ckpt,
        )
        q.awaitTermination(120)

    def snapshot():
        return sorted(
            (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
             r["is_current"])
            for r in spark.read.parquet(table)
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "is_current")
            .collect()
        )

    def batch_expected():
        return sorted(
            (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
             r["is_current"])
            for r in scd2_intervals(
                spark.read.parquet(str(src)), key_col="user_id"
            ).collect()
        )

    batch1 = [
        (1, t0, 7, "a"),
        (2, t0 + datetime.timedelta(hours=2), 7, "a"),  # same state: one run
        (3, t0 + datetime.timedelta(hours=4), 7, "b"),
        (4, t0, 8, "x"),
    ]
    spark.createDataFrame(batch1, schema.replace("event_id long, ts timestamp, user_id long,", "event_id long, ts timestamp, user_id long,")) \
        .coalesce(1).write.mode("append").parquet(str(src))
    drain()
    assert snapshot() == batch_expected()

    # LATE event inside user 7's collapsed [t0, t0+4h) "a" run with a
    # DIFFERENT state: the run must split into a / c / a / b — only a
    # full-history rebuild gets this right
    batch2 = [(5, t0 + datetime.timedelta(hours=1), 7, "c")]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    got = snapshot()
    assert got == batch_expected()
    u7 = sorted((r for r in got if r[0] == 7), key=lambda r: r[2])
    assert [r[1] for r in u7] == ["a", "c", "a", "b"]


def test_scd2_maintainer_replay_is_idempotent(spark, tmp_path):
    """Re-processing the same source with a FRESH checkpoint appends
    duplicate rows to the change log; the rebuild's (key, tiebreak)
    dedup must keep the table identical — the replay contract."""
    import datetime

    from conte_to_fresco_etl_spark.streaming.pipeline import (
        start_scd2_maintainer,
    )

    src = tmp_path / "rev"
    log, table = str(tmp_path / "rlog"), str(tmp_path / "rscd2")
    t0 = datetime.datetime(2015, 3, 1, 10, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    spark.createDataFrame(
        [
            (1, t0, 7, "a"),
            (2, t0 + datetime.timedelta(hours=1), 7, "b"),
            (3, t0, 8, "x"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    def drain(ckpt):
        q = start_scd2_maintainer(
            spark.readStream.schema(schema).parquet(str(src)),
            log, table, str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    def snapshot():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(table)
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "is_current")
            .collect()
        )

    drain("ck1")
    first = snapshot()
    drain("ck2")  # fresh checkpoint -> full replay -> duplicate log rows
    assert snapshot() == first
    # the log really does hold duplicates — the dedup is in the rebuild
    n_log = spark.read.parquet(log).count()
    assert n_log == 6


REPLAYS = [
    "q_scd2_replay",
    "q_rollup_replay",
    "q_sessionize_replay",
    "q_attribution_replay",
]


class StuckQuery:
    """A started stream that never drains."""

    stopped = False

    def awaitTermination(self, timeout=None):
        return False

    def stop(self):
        StuckQuery.stopped = True


@pytest.mark.parametrize("name", REPLAYS)
def test_replay_timeout_raises_and_is_not_memoized(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """A catalog replay whose stream is still running at the timeout
    stops it and raises, naming the query; nothing is staged for it,
    so the partial table is never served."""
    import tempfile

    from pyspark.sql.streaming import DataStreamWriter

    from conte_to_fresco_etl_spark import session
    from conte_to_fresco_etl_spark.plans import catalog_analytics

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(DataStreamWriter, "start", lambda self: StuckQuery())
    monkeypatch.setattr(session, "_STAGED", {})
    StuckQuery.stopped = False
    with pytest.raises(TimeoutError, match=name):
        getattr(catalog_analytics, name)(spark, sf_dir)
    assert StuckQuery.stopped
    assert not [k for k in session._STAGED if k[1] == name]


@pytest.mark.parametrize("name", REPLAYS)
def test_replay_retried_after_a_timeout_counts_each_batch_once(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """A replay retried in the same session after a timed-out attempt
    returns the rows of a clean run: the first attempt's batch files in
    the shared directory must not be streamed a second time.  The clean
    run reads a copy of the events table under a fresh temp directory,
    so it shares neither the memo nor the directory."""
    import shutil
    import tempfile

    from pyspark.sql.streaming import DataStreamWriter

    from conte_to_fresco_etl_spark import session
    from conte_to_fresco_etl_spark.plans import catalog_analytics

    query = getattr(catalog_analytics, name)
    monkeypatch.setattr(session, "_STAGED", {})
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "tmp"))
    with monkeypatch.context() as m:
        m.setattr(DataStreamWriter, "start", lambda self: StuckQuery())
        with pytest.raises(TimeoutError, match=name):
            query(spark, sf_dir)
    retried = sorted(tuple(r) for r in query(spark, sf_dir).collect())

    clean_sf = tmp_path / "sf"
    clean_sf.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", clean_sf / "events.parquet")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "clean"))
    clean = sorted(tuple(r) for r in query(spark, str(clean_sf)).collect())
    assert clean
    assert retried == clean
