"""Step-1 transforms: raw TACC_Stats metric CSVs → FRESCO time-series EAV.

Reference provenance (each function cites its pandas counterpart in
/root/reference/transform_conte_ts_data.py):

  * block — :206-292  (sector/tick counters → GB/s throughput)
  * cpu   — :308-392  (jiffies → user+nice CPU %)
  * mem   — :412-516  (bytes → memused / memused_minus_diskcache GB,
                       TWO EAV rows per input row)
  * nfs   — :536-627  (cumulative byte counters → MB/s lag-diff rate,
                       the reference's only window function, SURVEY §2.5 W1)

Shared semantics (SURVEY §2.2 P1-P3):
  * P1 missing required column → empty result (transform:226-230).
  * P2 dropna on required columns (transform:233-241).
  * P3 timestamp parse 'MM/dd/yyyy HH:mm:ss' null-on-error, drop NaT
    (transform:266-282).

Every transform is a pure DataFrame→DataFrame function emitting the exact
FRESCO_TS_SCHEMA; at scale the four transforms and their union are one
Catalyst plan — no chunking, no thread pools (reference :916-981 becomes
Spark tasks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.core import clip, safe_div
from conte_to_fresco_etl_spark.functions.job import std_job_id_replace
from conte_to_fresco_etl_spark.schemas import FRESCO_TS_SCHEMA

#: Raw timestamp format (transform_conte_ts_data.py:46, :267).
RAW_TS_FORMAT = "MM/dd/yyyy HH:mm:ss"


def _empty(df: DataFrame) -> DataFrame:
    return df.sparkSession.createDataFrame([], FRESCO_TS_SCHEMA)


def _prep(df: DataFrame, required: list[str]) -> DataFrame | None:
    """P1 + P2 + P3: required-column check, dropna, timestamp parse.

    Returns None when a required column is missing (caller emits the empty
    EAV frame, reference behavior at transform:226-230)."""
    if not set(required) <= set(df.columns):
        return None
    df = df.na.drop(subset=required)
    # try_to_timestamp = pandas errors='coerce' (null on bad input), and
    # keeps the plan ANSI-mode-safe (Spark 4 default).
    df = df.withColumn(
        "__ts", F.try_to_timestamp(F.col("timestamp"), F.lit(RAW_TS_FORMAT))
    ).filter(F.col("__ts").isNotNull())
    return df


def _eav(df: DataFrame, event: str | Column, units: str, value) -> DataFrame:
    """Project to the FRESCO EAV shape (R2 long-format emit,
    transform:285-292).  ``event`` is an event name or a Column."""
    return df.select(
        std_job_id_replace("jobID").alias("Job Id"),
        F.col("node").alias("Host"),
        F.lit(event).alias("Event"),
        value.cast("double").alias("Value"),
        F.lit(units).alias("Units"),
        F.col("__ts").alias("Timestamp"),
    )


def transform_block(df: DataFrame) -> DataFrame:
    """Disk I/O GB/s: ``(rd_sectors+wr_sectors)*512 / (rd_ticks+wr_ticks)
    / 1024^3``, /0 → 0.0, clamped ≥ 0 (transform:243-258, F4)."""
    req = ["jobID", "node", "timestamp", "rd_sectors", "wr_sectors",
           "rd_ticks", "wr_ticks"]
    p = _prep(df, req)
    if p is None:
        return _empty(df)
    bytes_total = (F.col("rd_sectors") + F.col("wr_sectors")) * 512.0
    ticks = F.col("rd_ticks") + F.col("wr_ticks")
    value = clip(safe_div(bytes_total, ticks) / (1024.0 ** 3), lo=0.0)
    return _eav(p, "block", "GB/s", value)


def transform_cpu(df: DataFrame) -> DataFrame:
    """CPU user%: ``(user+nice)/(user+nice+system+idle+iowait+irq+softirq)
    * 100``, total=0 → 0.0, clamped ≥ 0 with NO upper cap (multi-core,
    reference comment transform:354-356; F5)."""
    req = ["jobID", "node", "timestamp", "user", "nice", "system", "idle",
           "iowait", "irq", "softirq"]
    p = _prep(df, req)
    if p is None:
        return _empty(df)
    un = F.col("user") + F.col("nice")
    total = un + F.col("system") + F.col("idle") + F.col("iowait") \
        + F.col("irq") + F.col("softirq")
    value = clip(safe_div(un, total) * 100.0, lo=0.0)
    return _eav(p, "cpuuser", "CPU %", value)


def transform_mem(df: DataFrame) -> DataFrame:
    """Memory GB — emits TWO EAV rows per input row (transform:497-516):

      memused                  = clip(MemTotal,0) − clip(min(MemFree,MemTotal),0)
      memused_minus_diskcache  = max(0, memused − clip(FilePages,0))

    both / 1024^3, clamped ≥ 0.  Clip order matters (SURVEY §7.3): clip
    the columns first — INCLUDING FilePages (transform:451-453), so a
    negative FilePages contributes 0, not a larger memused — then min
    (:457), subtract, clamp.
    The two-event emit explodes an array of two (event, value) structs,
    so ``mem.csv`` is scanned and parsed once (a union of two
    projections would scan it twice).
    """
    req = ["jobID", "node", "timestamp", "MemTotal", "MemFree", "FilePages"]
    p = _prep(df, req)
    if p is None:
        return _empty(df)
    gib = 1024.0 ** 3
    mem_total = clip(F.col("MemTotal").cast("double"), lo=0.0)
    mem_free = clip(
        F.least(F.col("MemFree").cast("double"), F.col("MemTotal").cast("double")),
        lo=0.0,
    )
    used = mem_total - mem_free
    used_gb = clip(used / gib, lo=0.0)
    file_pages = clip(F.col("FilePages").cast("double"), lo=0.0)
    minus_cache_gb = clip(clip(used - file_pages, lo=0.0) / gib, lo=0.0)
    events = F.array(
        F.struct(F.lit("memused").alias("__event"), used_gb.alias("__value")),
        F.struct(
            F.lit("memused_minus_diskcache").alias("__event"),
            minus_cache_gb.alias("__value"),
        ),
    )
    p = p.select("*", F.inline(events))
    return _eav(p, F.col("__event"), "GB", F.col("__value"))


def transform_nfs(df: DataFrame) -> DataFrame:
    """NFS MB/s via lag-diff over (jobID, node) ordered by timestamp —
    the reference's only window op (W1, transform:591-617):

      rate = Δ(read_bytes+write_bytes) / max(0.1, Δt_seconds) / 1024^2

    first row per group → 0 (lag is NULL); counter resets (negative Δ)
    clamp to 0.  The window shuffles the table once on (jobID, node) —
    at 100 TB this is THE shuffle of step 1; everything else is map-side.

    Deviation (documented): this implements the reference's DOCUMENTED
    formula.  The reference's code actually passes the byte DELTA as
    ``calculate_rate``'s ``previous_value`` (transform:621-623), making
    its computed rate (total − Δ)/Δt and its first row total/0.1 — an
    argument-order bug we deliberately do not reproduce (same policy as
    the host_list determinism note in functions/job.py).
    """
    req = ["jobID", "node", "timestamp", "read_bytes", "write_bytes"]
    p = _prep(df, req)
    if p is None:
        return _empty(df)
    w = Window.partitionBy("jobID", "node").orderBy("__ts")
    total = (F.col("read_bytes") + F.col("write_bytes")).cast("double")
    prev_total = F.lag(total).over(w)
    dv = total - prev_total
    dt = (
        F.col("__ts").cast("double") - F.lag(F.col("__ts").cast("double")).over(w)
    )
    rate_mbs = clip(
        F.coalesce(dv / F.greatest(F.lit(0.1), dt), F.lit(0.0)) / (1024.0 ** 2),
        lo=0.0,
    )
    return _eav(p.withColumn("__v", rate_mbs), "nfs", "MB/s", F.col("__v"))


#: Dispatch table mirroring the reference's processor map
#: (transform_conte_ts_data.py:898-903).
TRANSFORMS = {
    "block": transform_block,
    "cpu": transform_cpu,
    "mem": transform_mem,
    "llite": transform_nfs,
}


def transform_folder(frames: dict[str, DataFrame]) -> DataFrame:
    """Union the per-metric EAV outputs (U1, transform:983-991).

    ``frames`` maps metric name ('block' | 'cpu' | 'mem' | 'llite') to its
    raw DataFrame; unknown keys are ignored like unknown files."""
    outs = [TRANSFORMS[k](v) for k, v in frames.items() if k in TRANSFORMS]
    if not outs:
        raise ValueError("no recognized metric frames given")
    result = outs[0]
    for other in outs[1:]:
        result = result.unionByName(other)
    return result
