"""Step-2: FRESCO ts ⋈ job accounting → wide set3 rows.

This is the reference's core dataflow (process_chunk,
conte-etl-step-2-processor.py:646-951) re-expressed as ONE Catalyst plan:

  reference (hand-rolled)                          Spark
  ------------------------------------------------ ----------------------
  jobs table fully in memory, ts probed in 50k-row  broadcast hash join
  chunks (:49,:1444-1450)                           (J1; broadcast(jobs))
  merge on Job Id == jobID (:742-748)               equi-join key
  filter start <= Timestamp <= end (:783-785)       range predicate in the
                                                    join condition (P4)
  per-event value scatter (:804-833)                when()-projection (R1)
  rename to set3 names (:836-880)                   aliased select (F15)
  derive timelimit/host_list/exitcode (:883-908)    expression lib (F10-12)
  schema-complete + order (:619-643,:910-938)       strict final select (P6)

Scale posture (SURVEY §7.3): one month of accounting rows is small
(thousands of jobs) → always broadcast; the ts side never shuffles.  If a
deployment's jobs side outgrows the broadcast threshold, drop the hint and
Catalyst falls back to SMJ on the equi-key with the range as post-filter.

Join multiplicity is intentionally preserved (SURVEY §7.3): accounting
holds multiple events per jobID (Q/S/E rows) and the inner join multiplies
ts rows per matching accounting row before the interval filter prunes —
do NOT dedup jobs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.job import (
    exitcode_case,
    host_list_string,
    parse_acct_timestamp,
    std_job_id_extract,
    walltime_seconds,
)
from conte_to_fresco_etl_spark.schemas import KNOWN_EVENTS, SET3_COLUMNS

#: ts-side columns consumed (conte-etl-step-2-processor.py:666-675).
TS_COLUMNS = ["Job Id", "Host", "Event", "Value", "Units", "Timestamp"]

#: accounting-side columns consumed (conte-etl-step-2-processor.py:690-698).
JOB_COLUMNS = [
    "jobID", "user", "account", "queue", "qtime", "start", "end",
    "Resource_List.walltime", "Resource_List.nodect", "Resource_List.ncpus",
    "group", "exec_host", "jobname", "jobevent", "Exit_status",
]


def standardize_keys(ts: DataFrame, jobs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J2: canonicalize both join keys to ``JOB<digits>``
    (conte-etl-step-2-processor.py:1713-1714, :1229-1241)."""
    ts = ts.withColumn("Job Id", std_job_id_extract(F.col("Job Id")))
    jobs = jobs.withColumn("jobID", std_job_id_extract(F.col("jobID")))
    return ts, jobs


def join_ts_jobs(ts: DataFrame, jobs: DataFrame) -> DataFrame:
    """J1: inner equi-join on job id + interval predicate
    ``start <= Timestamp <= end`` (conte-etl-step-2-processor.py:742-748,
    :783-785), jobs side broadcast."""
    ts, jobs = standardize_keys(ts, jobs)
    # The accounting table's own event Timestamp is not consumed by set3
    # (P5 pruning, processor:690-698); drop it to avoid colliding with the
    # ts side's Timestamp after the join.
    if "Timestamp" in jobs.columns:
        jobs = jobs.drop("Timestamp")
    # Typed interval bounds, null-on-error (processor:1219-1221 casts the
    # datetime columns with errors='coerce'); ANSI-safe.  Every set3
    # field that depends on the accounting row alone is derived here, on
    # the broadcast side, so it is computed once per accounting row
    # rather than once per joined ts row (hundreds per job); ``to_set3``
    # projects the results.
    jobs = jobs.withColumns({
        "__start_ts": parse_acct_timestamp(F.col("start")),
        "__end_ts": parse_acct_timestamp(F.col("end")),
        "__submit_ts": parse_acct_timestamp(F.col("qtime")),
        "__timelimit": walltime_seconds(F.col("`Resource_List.walltime`")),
        "__exitcode": exitcode_case(F.col("jobevent"), F.col("Exit_status")),
        "__host_list": host_list_string(F.col("exec_host")),
    })
    jobs_side = F.broadcast(jobs)
    cond = (
        (ts["Job Id"] == jobs_side["jobID"])
        & (ts["Timestamp"] >= jobs_side["__start_ts"])
        & (ts["Timestamp"] <= jobs_side["__end_ts"])
    )
    return ts.join(jobs_side, cond, "inner")


def pivot_scatter(df: DataFrame, events: list[str] | None = None) -> DataFrame:
    """R1: event→column scatter WITHOUT row collapse
    (conte-etl-step-2-processor.py:804-833).

    Each row keeps exactly one non-null ``value_<event>`` column; rows are
    NOT merged (``groupBy().pivot()`` would collapse them and change row
    counts — SURVEY §7.3).  Unknown events pass through with all value_*
    columns null, matching the reference's handling of unexpected Event
    values."""
    events = events or KNOWN_EVENTS
    value_cols = [
        F.when(F.col("Event") == e, F.col("Value")).alias(f"value_{e}")
        for e in events
    ]
    # backtick-quote: PBS names like Resource_List.walltime are flat
    # columns, not struct fields
    keep = [
        F.col(f"`{c}`") for c in df.columns if c not in ("Event", "Value")
    ]
    return df.select(*keep, *value_cols)


def to_set3(joined_pivoted: DataFrame) -> DataFrame:
    """F15 renames + F10-F12 derivations + P6 strict schema projection
    (conte-etl-step-2-processor.py:836-938, :619-643).  The per-job
    derivations arrive precomputed from ``join_ts_jobs``."""
    df = joined_pivoted
    out_exprs = {
        "time": F.col("Timestamp"),
        "submit_time": F.col("__submit_ts"),
        "start_time": F.col("__start_ts"),
        "end_time": F.col("__end_ts"),
        "timelimit": F.col("__timelimit"),
        "nhosts": F.col("`Resource_List.nodect`").try_cast("double"),
        "ncores": F.col("`Resource_List.ncpus`").try_cast("double"),
        "account": F.col("account"),
        "queue": F.col("queue"),
        "host": F.col("Host"),
        "jid": F.col("Job Id"),
        "unit": F.col("Units"),
        "jobname": F.col("jobname"),
        "exitcode": F.col("__exitcode"),
        "host_list": F.col("__host_list"),
        "username": F.col("user"),
    }
    selects = []
    for name, dtype in SET3_COLUMNS:
        if name in out_exprs:
            selects.append(out_exprs[name].cast(dtype).alias(name))
        elif name in df.columns:
            selects.append(F.col(f"`{name}`").cast(dtype).alias(name))
        else:  # P6: missing → typed NULL (processor:619-643)
            selects.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*selects)


def process_month(ts: DataFrame, jobs: DataFrame) -> DataFrame:
    """End-to-end step-2 for one (year, month): the reference's
    process_year_month (conte-etl-step-2-processor.py:1612-1839) as a
    single declarative plan."""
    return to_set3(pivot_scatter(join_ts_jobs(ts, jobs)))
