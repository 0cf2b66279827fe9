"""Event-analytics and retrieval queries: time-series regularization
(gap fill / gap audit), product-analytics funnels and cohort retention,
and BM25 keyword retrieval — the consumer-side workloads the produced
event/document tables serve.

Every oracle mirrors the Spark expression tree operation-for-operation
(decimal-exact aggregates, ROUND(x, 6) pinning on every derived double
BEFORE any ranking, deterministic tiebreaks on ids) per the catalog's
cross-engine rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.plans.catalog import _events, _q, _t
from conte_to_fresco_etl_spark.plans.catalog_text import _sql_tokens

# ---------------------------------------------------------------------------
# Time-spine gap fill (hourly LOCF regularization)
# ---------------------------------------------------------------------------

_GAPFILL_SQL = """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_hour,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS value_observed
      FROM events WHERE user_id < 8 GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(bucket_hour) AS h0, MAX(bucket_hour) AS h1
      FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket_hour
      FROM bounds
    )
    SELECT s.user_id, s.bucket_hour,
           LAST_VALUE(h.value_observed IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.bucket_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled,
           h.value_observed IS NOT NULL AS is_observed
    FROM spine s
    LEFT JOIN hourly h
      ON s.user_id = h.user_id AND s.bucket_hour = h.bucket_hour
"""


@_q("q_gapfill", _GAPFILL_SQL)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly LOCF regularization of 8 users' event series: generated
    per-key spine (map-side sequence explode), decimal-exact hourly
    means, one spine-observed join, one per-key LOCF window."""
    from conte_to_fresco_etl_spark.operators.gapfill import fill_time_gaps

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 8)
    return fill_time_gaps(ev, ts_col="ts", key_col="user_id", value_col="value")


# ---------------------------------------------------------------------------
# Gap audit (consecutive-event silences over a threshold)
# ---------------------------------------------------------------------------

_GAPS_SQL = """
    WITH lagged AS (
      SELECT user_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS gap_start,
             ts AS gap_end
      FROM events WHERE user_id < 32
    )
    SELECT user_id, gap_start, gap_end,
           CAST(FLOOR((epoch_us(gap_end) - epoch_us(gap_start))
                      / 1000000.0) AS BIGINT) AS gap_seconds
    FROM lagged
    WHERE gap_start IS NOT NULL
      AND (epoch_us(gap_end) - epoch_us(gap_start)) / 1000000.0 > 43200.0
"""


@_q("q_event_gaps", _GAPS_SQL)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap audit: >12h silences per user — one per-key window sort, no
    joins.  Tie-safe: equal timestamps yield the same (prev, cur)
    multiset under any tie order, so the gate's sorted compare is
    deterministic without a tiebreak column."""
    from conte_to_fresco_etl_spark.operators.gapfill import detect_gaps

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 32)
    return detect_gaps(
        ev, ts_col="ts", key_col="user_id", min_gap_seconds=43200
    )


# ---------------------------------------------------------------------------
# Ordered funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS conv FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS conv
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.conv GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS conv
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.conv GROUP BY 1
    ),
    c AS (
      SELECT 1 AS step, 'view' AS step_name,
             (SELECT COUNT(*) FROM s1) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    )
    SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(CAST(n_users AS DOUBLE)
                 / (SELECT n_users FROM c WHERE step = 1), 6) AS conversion
    FROM c
"""


@_q("q_funnel", _FUNNEL_SQL)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel view→click→purchase: per-step MIN
    aggregates joined on the user key with the after-previous-step
    predicate inside the join; survivor tables shrink monotonically."""
    from conte_to_fresco_etl_spark.operators.funnel import funnel_conversion

    return funnel_conversion(
        _events(spark, sf_dir), steps=["view", "click", "purchase"]
    )


# ---------------------------------------------------------------------------
# Cohort retention (day grain, offsets 0..7)
# ---------------------------------------------------------------------------

_RETENTION_SQL = """
    WITH days AS (
      -- DuckDB's date_trunc('day') yields DATE; Spark's yields
      -- TIMESTAMP — pin the TIMESTAMP shape on both sides
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events
    ),
    first AS (
      SELECT user_id, MIN(d) AS cohort_day FROM days GROUP BY 1
    ),
    sizes AS (
      SELECT cohort_day, COUNT(*) AS sz FROM first GROUP BY 1
    ),
    act AS (
      SELECT f.cohort_day, date_diff('day', f.cohort_day, d.d) AS day_offset,
             COUNT(*) AS n_active
      FROM days d JOIN first f ON d.user_id = f.user_id
      WHERE date_diff('day', f.cohort_day, d.d) BETWEEN 0 AND 7
      GROUP BY 1, 2
    )
    SELECT a.cohort_day, CAST(a.day_offset AS BIGINT) AS day_offset,
           a.n_active,
           ROUND(CAST(a.n_active AS DOUBLE) / s.sz, 6) AS retention
    FROM act a JOIN sizes s ON a.cohort_day = s.cohort_day
"""


@_q("q_retention", _RETENTION_SQL)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention, offsets 0..7: distinct-(user, day)
    pass, per-user first-day aggregate, one co-partitioned join, one
    bounded (cohort, offset) count; cohort sizes broadcast back."""
    from conte_to_fresco_etl_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir), max_offset=7)


# ---------------------------------------------------------------------------
# Markov transition table (sequence mining)
# ---------------------------------------------------------------------------

_TRANSITIONS_SQL = """
    WITH ordered AS (
      SELECT LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, COUNT(*) AS n_transitions
      FROM ordered WHERE src IS NOT NULL GROUP BY 1, 2
    )
    SELECT src, dst, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / CAST(SUM(n_transitions) OVER (PARTITION BY src)
                        AS DOUBLE), 6) AS prob
    FROM edges
"""


@_q("q_event_transitions", _TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table of the event stream: one
    per-key window sort for lag pairs, one (src, dst) count shuffle,
    per-src normalization over the dimension-sized counted table."""
    from conte_to_fresco_etl_spark.operators.graph import event_transitions

    return event_transitions(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Top-k frequent event sequences (trigrams)
# ---------------------------------------------------------------------------

_TOP_SEQ_SQL = """
    WITH o AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tri AS (
      SELECT a.event_type || '>' || b.event_type || '>' || c.event_type
               AS seq
      FROM o a
      JOIN o b ON a.user_id = b.user_id AND b.rn = a.rn + 1
      JOIN o c ON a.user_id = c.user_id AND c.rn = a.rn + 2
      -- match the operator: grams touching a NULL event type are
      -- dropped (NULL stays in the rownum sequence — adjacency is
      -- unchanged — but contributes to no gram)
      WHERE a.event_type IS NOT NULL
        AND b.event_type IS NOT NULL
        AND c.event_type IS NOT NULL
    )
    SELECT seq, COUNT(*) AS n_occurrences
    FROM tri GROUP BY 1
    ORDER BY n_occurrences DESC, seq LIMIT 20
"""


@_q("q_top_sequences", _TOP_SEQ_SQL)
def q_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive event trigrams: a lag chain over ONE key sort
    (the oracle's rownum self-join spelling costs n shuffles of the
    stream; the lag chain costs one), then a gram-count shuffle and a
    TakeOrdered(20) with a seq tiebreak."""
    from conte_to_fresco_etl_spark.operators.graph import (
        top_event_sequences,
    )

    return top_event_sequences(_events(spark, sf_dir), n=3, k=20)


# ---------------------------------------------------------------------------
# PageRank over the transition graph (link analysis)
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_sql(iterations: int = _PR_ITERS, damping: float = _PR_DAMP) -> str:
    """Unrolled-iteration PageRank oracle: one CTE triple (contrib,
    dangling, ranks) per iteration, every arithmetic step CAST to
    DOUBLE explicitly (DuckDB would otherwise fold ``1.0 - 0.85`` in
    DECIMAL — exactly 0.15 — where Spark's double fold yields
    0.15000000000000002) and ROUND(x, 12)-pinned like the operator."""
    d = f"CAST({damping!r} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    parts = [
        """
    WITH ordered AS (
      SELECT LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, COUNT(*) AS n
      FROM ordered WHERE src IS NOT NULL GROUP BY 1, 2
    ),
    wedges AS (
      SELECT src, dst,
             ROUND(CAST(n AS DOUBLE)
                   / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS w
      FROM edges
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (
      SELECT node, ROUND(%s / (SELECT n FROM nn), 12) AS rank FROM nodes
    )"""
        % one
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    c{k} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(ROUND(r.rank * e.w, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS cin
      FROM wedges e JOIN r{k - 1} r ON e.src = r.node GROUP BY 1
    ),
    d{k} AS (
      SELECT CAST(COALESCE(SUM(CAST(r.rank AS DECIMAL(28,12))), 0)
                  AS DOUBLE) AS dang
      FROM r{k - 1} r
      WHERE r.node NOT IN (SELECT DISTINCT src FROM edges)
    ),
    r{k} AS (
      SELECT n.node,
             ROUND(({one} - {d}) / (SELECT n FROM nn)
                   + {d} * (COALESCE(c.cin, CAST(0.0 AS DOUBLE))
                            + (SELECT dang FROM d{k})
                              / (SELECT n FROM nn)), 12) AS rank
      FROM nodes n LEFT JOIN c{k} c ON n.node = c.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, ROUND(rank, 6) AS rank FROM r{iterations}
"""
    )
    return "".join(parts)


@_q("q_pagerank", _pagerank_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 iterations) over the event-type transition
    graph: per iteration one rank-edge join and one groupBy(dst), both
    shuffling on node keys — the Pregel partitioning.  ROUND(x, 12)
    pins after every iterate make the unrolled SQL oracle exact."""
    from conte_to_fresco_etl_spark.operators.graph import (
        event_transitions,
        pagerank,
    )

    edges = event_transitions(_events(spark, sf_dir))
    return pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMP, weight_col="prob",
        broadcast_ranks=True,  # |nodes| = |event types|: dimension-sized
    )


# ---------------------------------------------------------------------------
# SCD2 interval building (dimension versioning)
# ---------------------------------------------------------------------------

_SCD2_SQL = """
    WITH src AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE user_id < 64
    ),
    marked AS (
      SELECT user_id, ts AS valid_from, event_id, event_type,
             (LAG(ts) OVER w IS NULL
              OR event_type IS DISTINCT FROM LAG(event_type) OVER w)
               AS opens
      FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    points AS (
      SELECT user_id, valid_from, event_id, event_type
      FROM marked WHERE opens
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER w2 AS valid_to,
           LEAD(valid_from) OVER w2 IS NULL AS is_current
    FROM points
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
"""


@_q("q_scd2_intervals", _SCD2_SQL)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: collapse each user's event-type
    stream into half-open validity intervals.  Two window passes over
    one key-partitioned sort (shared Exchange + Sort); output size =
    number of state changes.  The as-of join (q_asof_join) is the
    point-in-time probe of this table."""
    from conte_to_fresco_etl_spark.operators.scd import scd2_intervals

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 64)
    return scd2_intervals(
        ev, key_col="user_id", ts_col="ts", attr_cols=["event_type"],
        tiebreak_col="event_id",
    )


def _await_replay(q, name: str) -> None:
    """Wait up to 300 s for a replay's availableNow stream to drain.  A
    stream still running then is stopped and raises, so the caller never
    memoizes (and serves) the partial table it left behind."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{name}: streaming replay still running after 300 s")


def _chrono_thirds(ev: DataFrame) -> list[DataFrame]:
    """``ev`` as three CHRONOLOGICAL micro-batches, cut at the exact 1/3
    and 2/3 percentiles of ``ts``; a zero-event ``ev`` is one empty
    batch that carries the schema."""
    uts = F.unix_timestamp("ts")
    c1, c2 = ev.agg(
        F.percentile(uts, 1.0 / 3.0), F.percentile(uts, 2.0 / 3.0)
    ).first()
    if c1 is None:
        return [ev]
    return [
        ev.filter(uts <= c1),
        ev.filter((uts > c1) & (uts <= c2)),
        ev.filter(uts > c2),
    ]


def _parquet_sink(df: DataFrame, base: str):
    """Start ``df``'s append-mode parquet sink at ``base/out``; it
    drains what its source holds and stops (``availableNow``)."""
    return (
        df.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _replay(spark, name, ev, batches, start, out_schema: str) -> DataFrame:
    """The table a streaming replay of ``batches(ev)`` leaves behind —
    the one setup of the catalog's streaming replays (the reference's
    poll daemons and signal files become a checkpointed file stream).

    Each batch is appended as one parquet file under an emptied base
    directory; ``start(read, base)`` starts the query on ``read()``, a
    stream of those files one per trigger, writing its table to
    ``base/out``.  Once the stream drains, the table comes back in
    ``out_schema``'s columns, or as the typed empty frame when the
    stream wrote nothing.  The stream is the setup, so it runs once per
    session and ``ev`` (``session.staged``).  A stream still running
    after 300 s raises and stages nothing, and because the directory is
    emptied first, a retry counts every batch once."""
    import hashlib
    import os
    import shutil
    import tempfile

    from conte_to_fresco_etl_spark.session import staged

    def build() -> DataFrame:
        tag = f"{spark.sparkContext.applicationId}:{ev.semanticHash()}"
        base = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_{name}",
            hashlib.md5(tag.encode()).hexdigest()[:16],
        )
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "src")
        parts = batches(ev)
        for b in parts:
            b.coalesce(1).write.mode("append").parquet(src)
        reader = spark.readStream.schema(parts[0].schema).option(
            "maxFilesPerTrigger", 1
        )
        _await_replay(start(lambda: reader.parquet(src), base), name)
        empty = spark.createDataFrame([], out_schema)
        if not os.path.isdir(os.path.join(base, "out")):
            return empty
        return spark.read.parquet(os.path.join(base, "out")).select(
            empty.columns
        )

    return staged(name, [ev], {}, build)


@_q("q_scd2_replay", _SCD2_SQL)
def q_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_scd2_intervals under the hard gate: the same
    events replay as three out-of-order micro-batches (event_id mod 3,
    so batches 2 and 3 deliver events EARLIER than already-processed
    ones — the late-data path) through the foreachBatch SCD2 maintainer
    (``streaming/pipeline.py:start_scd2_maintainer``: append to a
    key-bucketed change log, rebuild only touched buckets).  The gated
    result is the maintained table, which must hash-match the batch
    operator's answer — the convergence the maintainer exists to
    guarantee, previously pinned only by pytest."""
    from conte_to_fresco_etl_spark.streaming.pipeline import (
        start_scd2_maintainer,
    )

    ev = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") < 64)
        .select("event_id", "ts", "user_id", "event_type")
    )
    return _replay(
        spark,
        "q_scd2_replay",
        ev,
        lambda ev: [
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
            for i in range(3)
        ],
        lambda read, base: start_scd2_maintainer(
            read(), f"{base}/log", f"{base}/out", f"{base}/ckpt"
        ),
        "user_id long, event_type string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    )


_ROLLUP_REPLAY_SQL = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
"""

@_q("q_rollup_replay", _ROLLUP_REPLAY_SQL)
def q_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the hourly continuous aggregate under the hard
    gate: the events table replays as three CHRONOLOGICAL micro-batches
    (exact percentile cutpoints on ts — chronological order keeps every
    event inside the 2-hour watermark, so nothing is dropped and
    straddling hour windows update across batches) through the
    watermarked update-mode rollup + foreachBatch partition merge
    (``streaming/pipeline.py:start_continuous_rollup``).  The gated
    result is the maintained parquet rollup, which must hash-match the
    plain batch GROUP BY — the convergence contract, previously pinned
    only by pytest."""
    from conte_to_fresco_etl_spark.streaming.pipeline import (
        start_continuous_rollup,
    )

    return _replay(
        spark,
        "q_rollup_replay",
        _events(spark, sf_dir).select("event_id", "ts", "event_type", "value"),
        _chrono_thirds,
        lambda read, base: start_continuous_rollup(
            read(), f"{base}/out", f"{base}/ckpt"
        ),
        "bucket_hour timestamp, event_type string, n long, sum_value double",
    )


# ---------------------------------------------------------------------------
# Hopping-window aggregate (sliding windows, batch form)
# ---------------------------------------------------------------------------

# 2-hour windows hopping every hour: every event lands in EXACTLY two
# windows (the one starting at its truncated hour and the previous) —
# the oracle materializes that membership with an unnest.
_HOPPING_SQL = """
    WITH x AS (
      SELECT unnest([
               CAST(date_trunc('hour', ts) AS TIMESTAMP),
               CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR
             ]) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM x GROUP BY 1, 2
"""


@_q("q_hopping_window", _HOPPING_SQL)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregate in batch: Spark's ``window()``
    expression expands each row into its length/hop = 2 windows inside
    one Expand + partial-aggregate plan — one scan, one shuffle of
    (window, key) partials, the same operator Structured Streaming uses
    under a watermark (streaming/pipeline.py:windowed_event_rates)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average (hypertable time_weight('locf') aggregate)
# ---------------------------------------------------------------------------

_TWA_SQL = """
    WITH o AS (
      SELECT user_id, ts, value,
             CAST(LEAD(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  - epoch_us(ts) AS DECIMAL(20,0)) AS dur
      FROM events
    )
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(SUM(dur) AS DOUBLE) / 1000000.0 AS span_seconds,
           CASE WHEN COALESCE(CAST(SUM(dur) AS DOUBLE), 0.0) = 0.0
                THEN NULL
                ELSE ROUND(
                  CAST(SUM(CAST(value AS DECIMAL(18,4)) * dur) AS DOUBLE)
                  / CAST(SUM(dur) AS DOUBLE), 6)
           END AS twa
    FROM o GROUP BY user_id
"""


@_q("q_time_weighted", _TWA_SQL)
def q_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user LOCF time-weighted average of the value series: one
    per-key window + one aggregate, decimal-exact value x duration
    products — the integral gap-fill materializes, without the spine."""
    from conte_to_fresco_etl_spark.operators.gapfill import (
        time_weighted_avg,
    )

    return time_weighted_avg(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Interval-overlap join (binned large-large range join)
# ---------------------------------------------------------------------------

# Intervals derive deterministically from events: [ts, ts + value
# seconds], duration floored to whole microseconds in BOTH engines
# (Spark casts double->long by truncation, DuckDB by rounding — FLOOR
# first makes them agree).
_OVERLAP_SQL = """
    WITH a AS (
      SELECT event_id AS a_id, ts AS a_start,
             make_timestamp(epoch_us(ts)
               + CAST(FLOOR(value * 1000000) AS BIGINT)) AS a_end
      FROM events WHERE user_id < 6
    ),
    b AS (
      SELECT event_id AS b_id, ts AS b_start,
             make_timestamp(epoch_us(ts)
               + CAST(FLOOR(value * 1000000) AS BIGINT)) AS b_end
      FROM events WHERE user_id >= 6 AND user_id < 12
    )
    SELECT a_id, b_id, a_start, a_end, b_start, b_end
    FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
"""


@_q("q_interval_overlap", _OVERLAP_SQL)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval-overlap join between two derived interval sets
    (the oracle is the brute-force non-equi join; the plan is the
    Σ per-bin product hash join with first-co-occupied-bin dedup —
    never a cartesian)."""
    from conte_to_fresco_etl_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = _events(spark, sf_dir)
    end = F.timestamp_micros(
        F.unix_micros(F.col("ts"))
        + F.floor(F.col("value") * 1_000_000).cast("long")
    )
    a = ev.filter(F.col("user_id") < 6).select(
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_start"),
        end.alias("a_end"),
    )
    b = ev.filter((F.col("user_id") >= 6) & (F.col("user_id") < 12)).select(
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_start"),
        end.alias("b_end"),
    )
    return interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bin_seconds=300
    ).select("a_id", "b_id", "a_start", "a_end", "b_start", "b_end")


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "window", "hash"]
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ),
    ne AS (SELECT * FROM base WHERE len(toks) > 0),
    dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM ne),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) AS sum_dl FROM dl
    ),
    t AS (SELECT doc_id, unnest(toks) AS term FROM ne),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM t WHERE term IN ({", ".join("'" + w + "'" for w in _BM25_TERMS)})
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * tf.tf * {_BM25_K1 + 1.0!r}
               / (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r}
                  + {_BM25_B!r} * d.dl / (s.sum_dl / s.n_docs))), 6)
             AS DECIMAL(18,6)) AS c
      FROM tf
      JOIN dfreq f USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
"""


@_q("q_bm25_topk", _BM25_SQL)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term keyword query: inverted-index probe
    (query-term filter BEFORE the posting shuffle), broadcast df/corpus
    stats, ROUND-pinned decimal-summed contributions, TakeOrdered
    ranking with doc_id tiebreak."""
    from conte_to_fresco_etl_spark.operators.text_analysis import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        query_terms=_BM25_TERMS,
        k=10,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# ---------------------------------------------------------------------------
# Native session-window aggregate
# ---------------------------------------------------------------------------

_SESSION_WINDOW_SQL = """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts)
                  > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_close,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
"""


@_q("q_session_window", _SESSION_WINDOW_SQL)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window grouping (the streaming session
    operator in batch): one shuffle on the user key, windows merged
    inside the aggregate — no sort-window pass.  The oracle is the
    islands spelling with the SAME closed boundary (an event exactly
    gap after its predecessor MERGES — the strict-> break) and close =
    last event + gap."""
    from conte_to_fresco_etl_spark.operators.sessions import (
        session_window_agg,
    )

    return session_window_agg(_events(spark, sf_dir), gap_minutes=30)


# ---------------------------------------------------------------------------
# Robust per-group outliers (median/MAD rule)
# ---------------------------------------------------------------------------

_MAD_K = 3.5
_MAD_SIGMA = 1.4826

_MAD_SQL = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.value, d.med, a.mad,
           CASE WHEN a.mad <> 0.0
                THEN ROUND(d.absdev / ({_MAD_SIGMA!r} * a.mad), 6)
           END AS robust_z
    FROM dev d JOIN mad a USING (event_type)
    WHERE d.absdev > {_MAD_K * _MAD_SIGMA!r} * a.mad
"""


@_q("q_mad_outliers", _MAD_SQL)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven metric screening: events whose value deviates from
    the per-type MEDIAN by more than 3.5 scaled MADs.  Two aggregate
    passes + broadcast stat joins — never a corpus-wide sort window;
    exact percentile keeps the boundary engine-deterministic."""
    from conte_to_fresco_etl_spark.operators.robust import mad_outliers

    return mad_outliers(
        _events(spark, sf_dir),
        key_col="event_type",
        value_col="value",
        id_col="event_id",
        k=_MAD_K,
    )


# ---------------------------------------------------------------------------
# Triangle counting over the user co-occurrence graph
# ---------------------------------------------------------------------------

_TRIANGLE_SQL = """
    WITH posts AS (
      SELECT DISTINCT user_id AS k, date_trunc('hour', ts) AS ctx
      FROM events WHERE user_id < 40
    ),
    edges AS (
      SELECT a.k AS u, b.k AS v
      FROM posts a JOIN posts b ON a.ctx = b.ctx AND a.k < b.k
      GROUP BY 1, 2
      HAVING COUNT(*) >= 10
    ),
    tris AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    members AS (
      SELECT x AS node FROM tris
      UNION ALL SELECT y FROM tris
      UNION ALL SELECT z FROM tris
    )
    SELECT node, COUNT(*) AS n_triangles FROM members GROUP BY node
"""


@_q("q_triangle_count", _TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the hour-bucket user
    co-occurrence graph (users sharing ≥10 active hours).  The edge
    build is a posting-list self-join on the CONTEXT (Σ posting², never
    |users|²); the count uses the degree-ordered orientation so each
    triangle is enumerated once from its lowest-rank vertex and hub
    wedge fan-out is bounded by √(2|E|) — the oracle is the naive
    three-way self-join."""
    from conte_to_fresco_etl_spark.operators.graph import (
        cooccurrence_edges,
        triangle_count,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=10,
    )
    return triangle_count(edges, a_col="a", b_col="b")


# ---------------------------------------------------------------------------
# Distribution drift (population stability index)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16 00:00:00"

_PSI_SQL = f"""
    WITH b AS (
      SELECT event_type AS key,
             CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
             ts >= TIMESTAMP '{_PSI_SPLIT}' AS cur
      FROM events
    ),
    counts AS (
      SELECT key, bin,
             CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
      FROM b GROUP BY 1, 2
    ),
    stats AS (
      SELECT key, CAST(SUM(n_ref) AS BIGINT) AS big_n_ref,
             CAST(SUM(n_cur) AS BIGINT) AS big_n_cur,
             COUNT(*) AS n_bins
      FROM counts GROUP BY 1
    )
    SELECT c.key AS event_type, s.big_n_ref AS n_ref,
           s.big_n_cur AS n_cur, s.n_bins,
           ROUND(CAST(SUM(CAST(ROUND(
             (CAST(c.n_cur + 1 AS DOUBLE)
                / CAST(s.big_n_cur + s.n_bins AS DOUBLE)
              - CAST(c.n_ref + 1 AS DOUBLE)
                / CAST(s.big_n_ref + s.n_bins AS DOUBLE))
             * ln((CAST(c.n_cur + 1 AS DOUBLE)
                   / CAST(s.big_n_cur + s.n_bins AS DOUBLE))
                  / (CAST(c.n_ref + 1 AS DOUBLE)
                     / CAST(s.big_n_ref + s.n_bins AS DOUBLE))), 12)
           AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
    FROM counts c JOIN stats s USING (key)
    GROUP BY c.key, s.big_n_ref, s.big_n_cur, s.n_bins
"""


@_q("q_psi_drift", _PSI_SQL)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI between the first and second half of the
    month (fixed-width value bins, Laplace-smoothed over the occupied
    bin universe): one (key, bin) count shuffle collapses the corpus,
    contributions decimal-summed — the drift monitor every production
    feature pipeline runs."""
    from conte_to_fresco_etl_spark.operators.robust import psi_drift

    ev = _events(spark, sf_dir)
    return psi_drift(
        ev,
        key_col="event_type",
        value_col="value",
        split_col=F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp"),
        bin_width=25.0,
    )


# ---------------------------------------------------------------------------
# Last-write-wins MERGE (SCD type 1 upsert)
# ---------------------------------------------------------------------------

_MERGE_SQL = f"""
    WITH tgt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events WHERE ts < TIMESTAMP '{_PSI_SPLIT}' GROUP BY 1
    ),
    upd AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events WHERE ts >= TIMESTAMP '{_PSI_SPLIT}' GROUP BY 1
    )
    SELECT t.user_id, t.n_events, t.sum_value FROM tgt t
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.user_id = t.user_id)
    UNION ALL
    SELECT user_id, n_events, sum_value FROM upd
"""


@_q("q_merge_upsert", _MERGE_SQL)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 MERGE: the second half-month's per-user snapshot upserts
    the first half's — matching keys replaced wholesale, unmatched
    inserted, untouched rows surviving via LEFT-ANTI ∪ (the batch twin
    of the streaming foreachBatch upsert)."""
    from conte_to_fresco_etl_spark.operators.scd import merge_upsert

    ev = _events(spark, sf_dir)
    split = F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")

    def snap(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )

    return merge_upsert(
        snap(ev.filter(split)), snap(ev.filter(~split)), ["user_id"]
    )


# ---------------------------------------------------------------------------
# Analytic rank-function spread
# ---------------------------------------------------------------------------

_RANKS_SQL = """
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, total,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM per_user
    WINDOW w AS (PARTITION BY event_type ORDER BY total DESC, user_id)
"""


@_q("q_rank_functions", _RANKS_SQL)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-rank family in one pass: dense_rank / percent_rank
    / cume_dist per event type over per-user decimal-exact totals —
    one aggregate shuffle + one window sort on the (already
    dimension-sized) per-user table; ordering pinned by (total desc,
    user_id) so every rank is engine-deterministic."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("total").desc(), F.col("user_id").asc())
    )
    return per_user.select(
        "event_type",
        "user_id",
        "total",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# Truncated EWMA features
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_DEPTH = 8


def _ewma_sql() -> str:
    num_terms, den_terms = [], []
    for j in range(_EWMA_DEPTH):
        wj = repr((1.0 - _EWMA_ALPHA) ** j)
        lag = "value" if j == 0 else f"LAG(value, {j}) OVER w"
        num_terms.append(f"COALESCE(({lag}) * {wj}, 0.0)")
        den_terms.append(
            f"CASE WHEN ({lag}) IS NOT NULL THEN {wj} ELSE 0.0 END"
        )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
        SELECT user_id, ts, event_id, value,
               ROUND(({num}) / ({den}), 6) AS ewma
        FROM events WHERE user_id < 16
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@_q("q_ewma", _ewma_sql())
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA smoothing (α=0.3, depth 8) per user series: all 8
    lags share ONE key-partitioned sort; present-lag renormalization
    keeps early rows unbiased.  The oracle is the identical lag chain."""
    from conte_to_fresco_etl_spark.operators.gapfill import ewma_features

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 16)
    return ewma_features(
        ev, alpha=_EWMA_ALPHA, depth=_EWMA_DEPTH
    )


# ---------------------------------------------------------------------------
# Per-group Pearson correlation (diurnal value correlation)
# ---------------------------------------------------------------------------

#: Pearson r from the decimal moments n, sx, sy, sxy, sxx, syy (NULL when
#: either variance is 0).
_PEARSON_R_SQL = """CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
                THEN ROUND(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS r"""

_CORR_SQL = f"""
    WITH agg AS (
      SELECT event_type AS key, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sx,
             CAST(SUM(CAST(hour(ts) AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sy,
             SUM(CAST(CAST(value AS DECIMAL(18,4))
                      * CAST(hour(ts) AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxy,
             SUM(CAST(CAST(value AS DECIMAL(18,4))
                      * CAST(value AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxx,
             SUM(CAST(CAST(hour(ts) AS DECIMAL(18,4))
                      * CAST(hour(ts) AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS syy
      FROM events GROUP BY 1
    )
    SELECT key AS event_type, n,
           {_PEARSON_R_SQL}
    FROM agg
"""


@_q("q_series_corr", _CORR_SQL)
def q_series_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Pearson correlation between value and hour of day
    (diurnal-pattern detection) from decimal-exact sufficient
    statistics — one partial-aggregated shuffle, reproducible where
    built-in corr()'s merge order is not."""
    from conte_to_fresco_etl_spark.operators.robust import grouped_corr

    ev = _events(spark, sf_dir)
    return grouped_corr(
        ev, key_col="event_type", x_col=F.col("value"), y_col=F.hour("ts")
    )


# ---------------------------------------------------------------------------
# Chi-square independence (categorical association screen)
# ---------------------------------------------------------------------------

_CHI2_SQL = """
    WITH cells AS (
      SELECT event_type AS a, user_id % 10 AS b, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    marg AS (
      SELECT a, b, o,
             SUM(o) OVER (PARTITION BY a) AS row_tot,
             SUM(o) OVER (PARTITION BY b) AS col_tot,
             SUM(o) OVER () AS grand
      FROM cells
    )
    SELECT CAST(MAX(grand) AS BIGINT) AS n,
           COUNT(DISTINCT a) AS n_a,
           COUNT(DISTINCT b) AS n_b,
           (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
           ROUND(
             CAST(SUM(CAST(ROUND(
               (CAST(o AS DOUBLE)
                - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(grand AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                    / CAST(grand AS DOUBLE))
               / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(grand AS DOUBLE)), 12) AS DECIMAL(28,12)))
             AS DOUBLE)
             + (CAST(MAX(grand) AS DOUBLE)
                - CAST(SUM(CAST(ROUND(
                    CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                    / CAST(grand AS DOUBLE), 12) AS DECIMAL(28,12)))
                  AS DOUBLE)), 6) AS chi2
    FROM marg
"""


@_q("q_chi_square", _CHI2_SQL)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type × user-id bucket: one
    contingency-count shuffle, marginals as windows over the tiny
    counted table, absent-cell mass added in closed form — no dense
    cell explosion."""
    from conte_to_fresco_etl_spark.operators.robust import (
        chi_square_independence,
    )

    ev = _events(spark, sf_dir)
    return chi_square_independence(
        ev, a_col=F.col("event_type"), b_col=F.col("user_id") % 10
    )


# ---------------------------------------------------------------------------
# Dataset-version snapshot diff
# ---------------------------------------------------------------------------

_DIFF_SQL = """
    WITH old AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END)
               AS fp
      FROM documents
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed'
           END AS status,
           o.fp AS old_fp, n.fp AS new_fp
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
"""


@_q("q_snapshot_diff", _DIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff between a simulated v1 (docs with id % 3
    ≠ 0, original text) and v2 (all docs, every 5th text rewritten):
    one full-outer key join over md5 fingerprints, reporting
    added/removed/changed only."""
    from conte_to_fresco_etl_spark.operators.scd import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    new = docs.select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.upper("text")
            ).otherwise(F.col("text"))
        ).alias("fingerprint"),
    )
    return snapshot_diff(old, new, key_col="doc_id")


# ---------------------------------------------------------------------------
# Time-range window frame (trailing 1 hour by TIME, not row count)
# ---------------------------------------------------------------------------

_RANGE_FRAME_SQL = """
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             AS sum_1h
    FROM events
    WHERE user_id < 16
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@_q("q_range_frame", _RANGE_FRAME_SQL)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed trailing window: each event's count/sum over the
    preceding HOUR of its user's activity — a true time-based frame
    (peers at equal timestamps aggregate together), not a row-count
    frame.  Spark spells the interval as a rangeBetween on integer
    microseconds; one key-partitioned sort serves both aggregates."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 16)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# Association rules (market-basket mining, pairwise slice)
# ---------------------------------------------------------------------------

_ASSOC_MIN_SUPPORT = 0.05

_ASSOC_SQL = f"""
    WITH posts AS (
      SELECT DISTINCT user_id AS b, event_type AS i FROM events
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS n FROM posts),
    freq AS (SELECT i, COUNT(*) AS n_item FROM posts GROUP BY 1),
    pairs AS (
      SELECT a.i AS antecedent, c.i AS consequent, COUNT(*) AS n_pair
      FROM posts a JOIN posts c ON a.b = c.b AND a.i <> c.i
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_pair,
           ROUND(CAST(p.n_pair AS DOUBLE) / nb.n, 6) AS support,
           ROUND(CAST(p.n_pair AS DOUBLE) / CAST(fa.n_item AS DOUBLE), 6)
             AS confidence,
           ROUND(CAST(p.n_pair AS DOUBLE) * nb.n
                 / (CAST(fa.n_item AS DOUBLE) * CAST(fb.n_item AS DOUBLE)),
                 6) AS lift
    FROM pairs p
    JOIN freq fa ON fa.i = p.antecedent
    JOIN freq fb ON fb.i = p.consequent
    CROSS JOIN nb
    WHERE CAST(p.n_pair AS DOUBLE) >= {_ASSOC_MIN_SUPPORT!r} * nb.n
"""


@_q("q_assoc_rules", _ASSOC_SQL)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over per-user event-type baskets
    (support / confidence / lift from exact counts): posting self-join
    on the basket, support prune before the frequency joins, basket
    count in-plan as a 1-row broadcast."""
    from conte_to_fresco_etl_spark.operators.graph import association_rules

    ev = _events(spark, sf_dir)
    return association_rules(
        ev,
        basket_col="user_id",
        item_col="event_type",
        min_support=_ASSOC_MIN_SUPPORT,
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew diagnostics
# ---------------------------------------------------------------------------

_SKEW_REPORT_SQL = """
    WITH counts AS (
      SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           COUNT(*) AS n_keys,
           MAX(n) AS max_n,
           ROUND(quantile_cont(n, 0.5), 6) AS p50_n,
           ROUND(quantile_cont(n, 0.99), 6) AS p99_n,
           ROUND(CAST(MAX(n) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)),
                 6) AS skew_ratio
    FROM counts
"""


@_q("q_skew_report", _SKEW_REPORT_SQL)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for the user key — the measurement that picks
    the mitigation (plain hash vs AQE skew-split vs salting): one count
    shuffle to |keys| rows, exact percentiles over the counted table."""
    from conte_to_fresco_etl_spark.operators.robust import key_skew_report

    return key_skew_report(_events(spark, sf_dir), key_col="user_id")


# ---------------------------------------------------------------------------
# Hour-of-day seasonal decomposition
# ---------------------------------------------------------------------------

_SEASONAL_SQL = """
    WITH level AS (
      SELECT user_id,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,8))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lvl
      FROM events WHERE user_id < 8 GROUP BY 1
    ),
    hourly AS (
      SELECT user_id, hour(ts) AS hr,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,8))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hmean
      FROM events WHERE user_id < 8 GROUP BY 1, 2
    )
    SELECT e.user_id, e.event_id, e.ts, e.value,
           ROUND(l.lvl, 6) AS level,
           ROUND(h.hmean - l.lvl, 6) AS seasonal,
           ROUND(e.value - h.hmean, 6) AS residual
    FROM events e
    JOIN level l ON e.user_id = l.user_id
    JOIN hourly h ON e.user_id = h.user_id AND hour(e.ts) = h.hr
    WHERE e.user_id < 8
"""


@_q("q_seasonal_decompose", _SEASONAL_SQL)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive hour-of-day decomposition (level + seasonal + residual)
    for 8 users: two dimension-sized mean tables broadcast back onto
    the stream — the diurnal baseline anomaly screens difference
    against; the corpus itself never shuffles."""
    from conte_to_fresco_etl_spark.operators.gapfill import (
        seasonal_decompose,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 8)
    return seasonal_decompose(ev)


# ---------------------------------------------------------------------------
# Grouped top-k (row_number window prune)
# ---------------------------------------------------------------------------

_TOPK_GROUP_SQL = """
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, total,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY total DESC, user_id) AS rn
      FROM per_user
    )
    SELECT event_type, user_id, total, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
"""


@_q("q_topk_per_group", _TOPK_GROUP_SQL)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users per event type: aggregate shuffle first (the corpus
    collapses to |type × user| rows), THEN the rank window over the
    small table — Spark additionally rewrites rn ≤ k into a per-
    partition WindowGroupLimit pushdown, so even the sort sees at most
    k rows per key per partition."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total").desc(), F.col("user_id").asc()
    )
    return (
        per_user.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen
# ---------------------------------------------------------------------------

from conte_to_fresco_etl_spark.operators.robust import BENFORD_P  # noqa: E402

_BENFORD_VALUES = ", ".join(
    f"({d}, {BENFORD_P[d]!r})" for d in range(1, 10)
)

_BENFORD_SQL = f"""
    WITH digits AS (
      SELECT event_type AS key,
             LEAST(9, GREATEST(1, CAST(FLOOR(
               CAST(value AS DOUBLE)
               / pow(10.0, FLOOR(log10(CAST(value AS DOUBLE))))
             ) AS INT))) AS digit,
             COUNT(*) AS o
      FROM events WHERE CAST(value AS DOUBLE) > 0.0
      GROUP BY 1, 2
    ),
    totals AS (SELECT key, CAST(SUM(o) AS BIGINT) AS n FROM digits GROUP BY 1),
    bp(digit, p) AS (VALUES {_BENFORD_VALUES}),
    cells AS (
      SELECT t.key, t.n, b.digit, b.p, COALESCE(d.o, 0) AS o
      FROM totals t CROSS JOIN bp b
      LEFT JOIN digits d ON d.key = t.key AND d.digit = b.digit
    )
    SELECT key AS event_type, n,
           ROUND(CAST(SUM(CAST(ROUND(
             (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
             * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
             / (CAST(n AS DOUBLE) * p), 12) AS DECIMAL(28,12)))
           AS DOUBLE), 6) AS chi2_stat,
           ROUND(MAX(ABS(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) - p)), 6)
             AS max_dev
    FROM cells GROUP BY key, n
"""


@_q("q_benford", _BENFORD_SQL)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance per event type (fabrication
    screen): one (key, digit) count shuffle, dense 9-cell digit domain
    against broadcast expected masses, decimal-summed chi terms."""
    from conte_to_fresco_etl_spark.operators.robust import benford_screen

    return benford_screen(
        _events(spark, sf_dir), key_col="event_type", value_col="value"
    )


# ---------------------------------------------------------------------------
# Conversion latency percentiles
# ---------------------------------------------------------------------------

_LATENCY_SQL = """
    WITH f AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    conv AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) AS t1u, MAX(epoch_us(f.t0)) AS t0u
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'click' AND e.ts >= f.t0
      GROUP BY 1
    ),
    lat AS (
      SELECT CAST(t1u - t0u AS DOUBLE) / 1000000.0 AS lat_s FROM conv
    )
    SELECT COUNT(*) AS n_converted,
           ROUND(quantile_cont(lat_s, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(lat_s, 0.9), 6) AS p90_s,
           ROUND(quantile_cont(lat_s, 0.99), 6) AS p99_s,
           ROUND(MAX(lat_s), 6) AS max_s
    FROM lat
"""


@_q("q_conversion_latency", _LATENCY_SQL)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert (first view → first subsequent click) exact
    p50/p90/p99: two per-user MIN aggregates + a |users|-row percentile
    pass — the funnel count turned into an SLA."""
    from conte_to_fresco_etl_spark.operators.funnel import (
        conversion_latency,
    )

    return conversion_latency(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Lagged cross-correlation between event-type series
# ---------------------------------------------------------------------------

_XCORR_SQL = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    lagged AS (
      SELECT l.lag_hours, a.x, b.y
      FROM (VALUES (0), (1), (2)) AS l(lag_hours)
      JOIN hourly a ON TRUE
      JOIN hourly b
        ON b.h = a.h + to_hours(CAST(l.lag_hours AS BIGINT))
    ),
    agg AS (
      SELECT lag_hours, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS syy
      FROM lagged GROUP BY 1
    )
    SELECT lag_hours, n,
           {_PEARSON_R_SQL}
    FROM agg
"""


@_q("q_cross_correlation", _XCORR_SQL)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation corr(views_t, purchases_{t+L}),
    L = 0..2 hours: the corpus collapses in one hourly count shuffle;
    timestamp-aligned lag joins and decimal-exact correlations run over
    the |hours| table."""
    from conte_to_fresco_etl_spark.operators.gapfill import (
        lagged_cross_correlation,
    )

    return lagged_cross_correlation(_events(spark, sf_dir), max_lag_hours=2)


# ---------------------------------------------------------------------------
# Per-group trend regression
# ---------------------------------------------------------------------------

_TREND_SQL = """
    WITH base AS (
      SELECT event_type AS key,
             CAST(FLOOR(epoch_us(ts) / 3600000000.0)
                  - FLOOR(epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                          / 3600000000.0) AS DOUBLE) AS x,
             value AS y
      FROM events
    ),
    agg AS (
      SELECT key, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS syy
      FROM base GROUP BY 1
    )
    SELECT key AS event_type, n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                THEN ROUND(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           END AS slope,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                THEN ROUND(
                  (CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
           END AS intercept,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
                THEN ROUND(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS r2
    FROM agg
"""


@_q("q_trend_slope", _TREND_SQL)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type trend: regress value on hours-since-epoch-start —
    the is-this-counter-drifting alert, decimal-exact sufficient
    statistics, one shuffle."""
    from conte_to_fresco_etl_spark.operators.robust import grouped_linreg

    ev = _events(spark, sf_dir)
    x = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0))
        - F.floor(
            F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
            / F.lit(3600000000.0)
        )
    ).cast("double")
    return grouped_linreg(
        ev, key_col="event_type", x_col=x, y_col=F.col("value")
    )


# ---------------------------------------------------------------------------
# Per-group winsorization
# ---------------------------------------------------------------------------

_WINSOR_SQL = """
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS qlo,
             quantile_cont(value, 0.99) AS qhi
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND(b.qlo, 6) AS lo,
           ROUND(b.qhi, 6) AS hi,
           CASE WHEN e.value < b.qlo THEN ROUND(b.qlo, 6)
                WHEN e.value > b.qhi THEN ROUND(b.qhi, 6)
                ELSE e.value END AS value_w,
           e.value < b.qlo OR e.value > b.qhi AS clipped
    FROM events e JOIN bounds b USING (event_type)
"""


@_q("q_winsorize", _WINSOR_SQL)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization to the exact [p01, p99] band: one
    percentile aggregate broadcast back, corpus never shuffles —
    unclipped values pass through bit-identical."""
    from conte_to_fresco_etl_spark.operators.robust import winsorize

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return winsorize(ev, key_col="event_type", value_col="value")


# ---------------------------------------------------------------------------
# Point-in-time (SCD2 probe) join
# ---------------------------------------------------------------------------

_PIT_SQL = """
    WITH src AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE user_id < 8
    ),
    marked AS (
      SELECT user_id, ts AS valid_from, event_id, event_type,
             (LAG(ts) OVER w IS NULL
              OR event_type IS DISTINCT FROM LAG(event_type) OVER w)
               AS opens
      FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dim AS (
      SELECT user_id, event_type AS state, valid_from,
             LEAD(valid_from) OVER w2 AS valid_to
      FROM (SELECT user_id, valid_from, event_id, event_type
            FROM marked WHERE opens)
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    )
    SELECT f.event_id, f.user_id, f.ts, f.value,
           d.state, d.valid_from
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE user_id < 8) f
    JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


@_q("q_point_in_time", _PIT_SQL)
def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE warehouse join: facts attach the dimension version valid AT
    their timestamp — broadcast SCD2 dimension (output = #state
    changes), equi user key + half-open range residual, every fact
    matching exactly one version."""
    from conte_to_fresco_etl_spark.operators.scd import scd2_intervals

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 8)
    dim = scd2_intervals(ev).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    facts = ev.select("event_id", "user_id", "ts", "value")
    cond = (
        (facts["user_id"] == dim["d_user"])
        & (facts["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"]))
    )
    return facts.join(F.broadcast(dim), cond).select(
        "event_id", "user_id", "ts", "value", "state", "valid_from"
    )


# ---------------------------------------------------------------------------
# Day-over-day growth
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, d, total,
           LAG(total) OVER w AS prev_total,
           CASE WHEN LAG(total) OVER w IS NOT NULL
                 AND LAG(total) OVER w <> 0.0
                THEN ROUND((total - LAG(total) OVER w)
                           / LAG(total) OVER w, 6)
           END AS growth
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
"""


@_q("q_daily_growth", _GROWTH_SQL)
def q_daily_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day growth per event type: decimal-exact daily sums,
    one lag window over the dimension-sized daily table."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("total").over(w)
    return daily.select(
        "event_type",
        "d",
        "total",
        prev.alias("prev_total"),
        F.when(
            prev.isNotNull() & (prev != 0.0),
            F.round((F.col("total") - prev) / prev, 6),
        ).alias("growth"),
    )


# ---------------------------------------------------------------------------
# Rolling distinct count (set aggregation over a time frame)
# ---------------------------------------------------------------------------

_ROLLING_DISTINCT_SQL = """
    SELECT user_id, event_id, ts,
           CAST(COUNT(DISTINCT event_type) OVER w AS INT) AS n_types_1h
    FROM events
    WHERE user_id < 16
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@_q("q_rolling_distinct", _ROLLING_DISTINCT_SQL)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types seen in each event's trailing hour — the
    behavioral-breadth feature.  Spark windows cannot COUNT(DISTINCT)
    directly; ``size(collect_set())`` over the SAME microsecond RANGE
    frame is the exact equivalent (the set dedups in-frame), which the
    DuckDB COUNT(DISTINCT) OVER spelling gates."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 16)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_1h"),
    )


# ---------------------------------------------------------------------------
# Cumulative reach (distinct users ever seen, by day)
# ---------------------------------------------------------------------------

_REACH_SQL = """
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('hour', ts)) AS d
      FROM events GROUP BY 1
    ),
    new_users AS (
      SELECT d, COUNT(*) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT d, n_new,
           CAST(SUM(n_new) OVER (ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_reach
    FROM new_users
"""


@_q("q_cumulative_reach", _REACH_SQL)
def q_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users ever seen, by hour: the growth curve
    — computed as first-appearance counts + a running sum over the
    |buckets|-row table, NOT a per-bucket distinct-over-growing-window
    (which would re-scan history per bucket)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("d")
    )
    new_users = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return new_users.select(
        "d",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cumulative_reach"),
    )


# ---------------------------------------------------------------------------
# Sketch-mergeable distinct rollup (HLL), DP count release, LSH tuning
# ---------------------------------------------------------------------------

_HLL_ROLLUP_SQL = """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS bucket,
           COUNT(DISTINCT date_trunc('day', ts)) AS n_fine,
           COUNT(DISTINCT user_id) AS exact_ids,
           TRUE AS merge_consistent,
           TRUE AS est_within_tol
    FROM events
    GROUP BY 1
"""


@_q("q_hll_rollup", _HLL_ROLLUP_SQL)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches unioned to weekly distinct-user estimates,
    gated on the two invariants that make sketch staging valid at
    100 TB: union-of-fine == direct-coarse (register max-merge is
    associative) and the estimate lands within tolerance of exact
    (sparse-mode HLL is exact at these cardinalities, so the oracle
    can pin TRUE; at billions of ids the same column reads the
    documented ±1.6% rather than equality)."""
    from conte_to_fresco_etl_spark.operators.rollup import distinct_rollup

    return distinct_rollup(
        _events(spark, sf_dir),
        ts_col="ts",
        id_col="user_id",
        fine="day",
        coarse="week",
        est_tolerance=0.05,
    )


_DP_EPS = 1.0

_DP_COUNTS_SQL = f"""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n,
             (CAST('0x' || substr(md5('dp:' || event_type), 1, 15)
                   AS BIGINT) + 0.5) / {float(16**15)!r} AS u
      FROM events GROUP BY 1
    )
    SELECT event_type,
           ROUND(CAST(n AS DOUBLE)
                 + (CASE WHEN u >= 0.5
                         THEN -ln(1.0 - 2.0 * (u - 0.5)) * {1.0 / _DP_EPS!r}
                         ELSE  ln(1.0 - 2.0 * (0.5 - u)) * {1.0 / _DP_EPS!r}
                    END), 6) AS noisy_n
    FROM g
"""


@_q("q_dp_counts", _DP_COUNTS_SQL)
def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 Laplace count-perturbation MECHANISM per event type with a
    committed seed — deliberately reproducible so the oracle re-derives
    the identical release bit-for-bit.  A committed seed means this is
    a mechanism test, NOT a privacy guarantee: see the
    ``dp_noisy_counts`` docstring for the secret-seed requirement of an
    actual DP release."""
    from conte_to_fresco_etl_spark.operators.pii import dp_noisy_counts

    return dp_noisy_counts(
        _events(spark, sf_dir), "event_type", epsilon=_DP_EPS, seed="dp"
    )


_LSH_CURVE_SQL = """
    WITH layouts(bands, rows_per_band) AS (
      VALUES (32, 4), (16, 8), (8, 16)
    ),
    grid AS (
      SELECT CAST(i AS DOUBLE) * 0.05 AS s
      FROM generate_series(1, 19) AS t(i)
    )
    SELECT l.bands, l.rows_per_band,
           ROUND(g.s, 6) AS s,
           ROUND(1.0 - POWER(1.0 - POWER(g.s, CAST(l.rows_per_band AS DOUBLE)),
                             CAST(l.bands AS DOUBLE)), 6) AS p_candidate,
           ROUND(POWER(1.0 / CAST(l.bands AS DOUBLE),
                       1.0 / CAST(l.rows_per_band AS DOUBLE)), 6) AS s50
    FROM layouts l CROSS JOIN grid g
"""


@_q("q_lsh_calibration", _LSH_CURVE_SQL)
def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bands, rows) s-curve table behind every MinHash-LSH layout
    choice in this repo: P(candidate | jaccard s) per layout plus the
    s50 midpoint — read it to pick recall vs candidate-volume before a
    corpus-scale run."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        lsh_candidate_curve,
    )

    return lsh_candidate_curve(spark)


# ---------------------------------------------------------------------------
# CEP pattern matching over sessions (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

_EVENT_PATTERN_SQL = """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  WHEN 'view' THEN 'v' ELSE 'x' END AS sym,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id, sym,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM e
    ),
    g AS (
      SELECT user_id, session_id,
             string_agg(sym, '' ORDER BY ts, event_id) AS seq
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_id, seq,
           CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT)
             AS n_matches
    FROM g
"""


@_q("q_event_pattern", _EVENT_PATTERN_SQL)
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session view→…→purchase conversion counts via the regex-NFA
    CEP operator: session symbol strings + leftmost non-overlapping
    pattern count."""
    from conte_to_fresco_etl_spark.operators.sessions import (
        session_pattern_match,
    )

    return session_pattern_match(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Sequential drift (CUSUM) + nonparametric two-sample test (Mann-Whitney)
# (registered late in round 5 — first in line for the round-6 window)
# ---------------------------------------------------------------------------

_CUSUM_SQL = """
    WITH daily AS (
      SELECT event_type AS k, date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE), 9)
                                 AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*), 6) AS daily_mean
      FROM events GROUP BY 1, 2
    ),
    target AS (
      SELECT k,
             ROUND(CAST(SUM(CAST(daily_mean AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS target
      FROM daily GROUP BY 1
    ),
    y AS (
      SELECT d.k, d.day, d.daily_mean,
             CAST(d.daily_mean AS DECIMAL(18,6))
               - CAST(t.target AS DECIMAL(18,6)) AS y
      FROM daily d JOIN target t ON d.k = t.k
    ),
    s AS (
      SELECT k, day, daily_mean,
             SUM(y) OVER (PARTITION BY k ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM y
    )
    SELECT k AS event_type, CAST(day AS DATE) AS day, daily_mean,
           ROUND(CAST(s - LEAST(CAST(0 AS DECIMAL(18,6)),
                                MIN(s) OVER (PARTITION BY k ORDER BY day
                                             ROWS UNBOUNDED PRECEDING))
                      AS DOUBLE), 6) AS cusum_pos,
           ROUND(CAST(GREATEST(CAST(0 AS DECIMAL(18,6)),
                               MAX(s) OVER (PARTITION BY k ORDER BY day
                                            ROWS UNBOUNDED PRECEDING)) - s
                      AS DOUBLE), 6) AS cusum_neg
    FROM s
"""


@_q("q_cusum_drift", _CUSUM_SQL)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM over daily event-value means per type — sequential
    evidence of sustained small shifts, via the windows-only
    max-invariance form (no recurrence, one key shuffle)."""
    from conte_to_fresco_etl_spark.operators.robust import cusum_drift

    return cusum_drift(_events(spark, sf_dir))


_MW_SQL = """
    WITH two AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    per_v AS (
      SELECT v, SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM two GROUP BY 1
    ),
    r AS (
      SELECT ca, cb, ca + cb AS tie_n,
             2 * (SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  - (ca + cb)) + (ca + cb) + 1 AS midrank_x2
      FROM per_v
    ),
    a AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b,
             CAST(SUM(ca * midrank_x2) AS BIGINT) AS r_a2,
             CAST(SUM(tie_n * tie_n * tie_n - tie_n) AS BIGINT) AS tie_term
      FROM r
    )
    SELECT n_a, n_b,
      ROUND(CAST(r_a2 AS DOUBLE) / 2.0
            - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0, 6)
        AS u_a,
      ROUND(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
            - (CAST(r_a2 AS DOUBLE) / 2.0
               - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0), 6)
        AS u_b,
      CASE WHEN n_a = 0 OR n_b = 0
                OR CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) <= 1.0
                OR CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                   * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                      - CAST(tie_term AS DOUBLE)
                        / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                           * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
                   = 0
           THEN NULL
           ELSE ROUND(
             (CAST(r_a2 AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                       - CAST(tie_term AS DOUBLE)
                         / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))),
             6)
      END AS z
    FROM a
"""


@_q("q_mannwhitney", _MW_SQL)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between click and purchase value distributions —
    tie-corrected midranks, decimal-summed rank totals, one identical
    float tree for z in both engines."""
    from conte_to_fresco_etl_spark.operators.robust import mannwhitney_u

    return mannwhitney_u(
        _events(spark, sf_dir), "event_type", "value", "click", "purchase"
    )


# ---------------------------------------------------------------------------
# Two-sample KS test + corpus mixture-diversity scorecard
# (registered late in round 5 — first in line for the round-6 window)
# ---------------------------------------------------------------------------

_KS_SQL = """
    WITH two AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    per_v AS (
      SELECT v, SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM two GROUP BY 1
    ),
    tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM per_v),
    gaps AS (
      SELECT v, n_a, n_b,
        ROUND(ABS(
          CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            / NULLIF(CAST(n_a AS DOUBLE), 0.0)
          - CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            / NULLIF(CAST(n_b AS DOUBLE), 0.0)), 12) AS gap
      FROM per_v CROSS JOIN tot
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE ROUND(gap, 6) END AS d_stat,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE v END AS at_value
    FROM gaps ORDER BY gap DESC, v ASC LIMIT 1
"""


@_q("q_ks_test", _KS_SQL)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between click and purchase
    value distributions — shape-sensitive complement to q_mannwhitney;
    ECDF gaps from exact integer cumulative counts, ROUND(12)-pinned
    before the argmax."""
    from conte_to_fresco_etl_spark.operators.robust import ks_test

    return ks_test(
        _events(spark, sf_dir), "event_type", "value", "click", "purchase"
    )


_MIX_DIVERSITY_SQL = """
    WITH counts AS (
      SELECT source AS g, COUNT(*) AS x FROM documents GROUP BY 1
    ),
    ranked AS (
      SELECT g, x, ROW_NUMBER() OVER (ORDER BY x ASC, g ASC) AS i,
             COUNT(*) OVER () AS m
      FROM counts
    ),
    stats AS (
      SELECT SUM(x) AS n_rows, MAX(m) AS m,
             SUM((2 * i - m - 1) * x) AS gini_num
      FROM ranked
    ),
    ent AS (
      SELECT SUM(CAST(ROUND(
               -(CAST(x AS DOUBLE) / CAST(n_rows AS DOUBLE))
               * ln(CAST(x AS DOUBLE) / CAST(n_rows AS DOUBLE)), 12)
             AS DECIMAL(18,12))) AS h_sum
      FROM ranked CROSS JOIN (SELECT SUM(x) AS n_rows FROM counts) t
    )
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
           CAST(m AS BIGINT) AS n_groups,
           ROUND(CAST(gini_num AS DOUBLE)
                 / (CAST(m AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS gini,
           ROUND(CAST(h_sum AS DOUBLE), 6) AS entropy,
           ROUND(exp(ROUND(CAST(h_sum AS DOUBLE), 6)), 6)
             AS effective_groups
    FROM stats CROSS JOIN ent
"""


@_q("q_mixture_diversity", _MIX_DIVERSITY_SQL)
def q_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration over sources: Gini, Shannon entropy, and
    the effective number of sources — the scorecard watched while
    caps/temperature/mixture weights are tuned."""
    from conte_to_fresco_etl_spark.validation import mixture_diversity

    return mixture_diversity(_t(spark, sf_dir, "documents"), "source")


# ---------------------------------------------------------------------------
# Held-out LM scoring + autocorrelation diagnostics
# (registered late in round 5 — first in line for the round-6 window)
# ---------------------------------------------------------------------------

_ACF_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS x FROM events GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE), 9)
                                 AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*), 6) AS mu
      FROM daily
    ),
    lagged AS (
      SELECT CAST(x AS DOUBLE) AS x,
             LAG(CAST(x AS DOUBLE), 1) OVER (ORDER BY day) AS xl1,
             LAG(CAST(x AS DOUBLE), 2) OVER (ORDER BY day) AS xl2,
             LAG(CAST(x AS DOUBLE), 3) OVER (ORDER BY day) AS xl3,
             LAG(CAST(x AS DOUBLE), 4) OVER (ORDER BY day) AS xl4,
             LAG(CAST(x AS DOUBLE), 5) OVER (ORDER BY day) AS xl5,
             LAG(CAST(x AS DOUBLE), 6) OVER (ORDER BY day) AS xl6,
             LAG(CAST(x AS DOUBLE), 7) OVER (ORDER BY day) AS xl7,
             mu
      FROM daily CROSS JOIN stats
    ),
    den AS (
      SELECT SUM(CAST(ROUND((x - mu) * (x - mu), 12) AS DECIMAL(28,12)))
        AS den
      FROM lagged
    ),
    pairs AS (
      SELECT 1 AS lag, x, xl1 AS xl, mu FROM lagged WHERE xl1 IS NOT NULL
      UNION ALL
SELECT 2 AS lag, x, xl2 AS xl, mu FROM lagged WHERE xl2 IS NOT NULL
      UNION ALL
SELECT 3 AS lag, x, xl3 AS xl, mu FROM lagged WHERE xl3 IS NOT NULL
      UNION ALL
SELECT 4 AS lag, x, xl4 AS xl, mu FROM lagged WHERE xl4 IS NOT NULL
      UNION ALL
SELECT 5 AS lag, x, xl5 AS xl, mu FROM lagged WHERE xl5 IS NOT NULL
      UNION ALL
SELECT 6 AS lag, x, xl6 AS xl, mu FROM lagged WHERE xl6 IS NOT NULL
      UNION ALL
SELECT 7 AS lag, x, xl7 AS xl, mu FROM lagged WHERE xl7 IS NOT NULL
    ),
    num AS (
      SELECT lag, COUNT(*) AS n_pairs,
             SUM(CAST(ROUND((x - mu) * (xl - mu), 12) AS DECIMAL(28,12)))
               AS num
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
    FROM num CROSS JOIN den
"""


@_q("q_acf", _ACF_SQL)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1-7) of the daily event-count series —
    the periodicity diagnostic behind seasonal-window choices; one
    ordered window yields all lags."""
    from conte_to_fresco_etl_spark.operators.gapfill import autocorrelation

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("x"))
    )
    return autocorrelation(daily, "day", "x", max_lag=7)


# ---------------------------------------------------------------------------
# Round 6: grouping sets, session attribution, series anomalies,
# concentration, sketch-gated quantiles
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = """
    SELECT source, lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT)
             AS grouping_id,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
"""


@_q("q_grouping_sets", _GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS over (source, lang): the leaf plus both
    one-dimension marginals plus the grand total in ONE pass — Catalyst
    expands the sets inside a single Expand + partial aggregate, so the
    corpus is scanned once and the shuffle carries only (set, key)
    partial states (the same plan shape as the rollup/cube siblings,
    but with a hand-picked lattice — the form report builders actually
    ask for).  grouping(source)*2 + grouping(lang) spells the bit mask
    explicitly so both engines agree without relying on grouping_id
    column order."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupingSets(
            [["source", "lang"], ["source"], ["lang"], []],
            "source",
            "lang",
        )
        .agg(
            (
                F.grouping("source") * F.lit(2) + F.grouping("lang")
            ).cast("long").alias("grouping_id"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)"))
            .cast("long")
            .alias("sum_chars"),
        )
        .select("source", "lang", "grouping_id", "n_docs", "sum_chars")
    )


_SESSION_ATTRIB_SQL = """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    attributed AS (
      SELECT *,
             FIRST_VALUE(event_type) OVER (
               PARTITION BY user_id, sess_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS first_touch
      FROM sess
    )
    SELECT first_touch,
           CAST(COUNT(DISTINCT user_id || ':' || sess_id) AS BIGINT)
             AS n_sessions,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(value AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END)
                      AS DOUBLE), 6) AS revenue
    FROM attributed
    GROUP BY 1
"""


@_q("q_sessionize_attrib", _SESSION_ATTRIB_SQL)
def q_sessionize_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: sessions form by 30-minute inactivity
    islands per user (lag + cumulative-sum windows over ONE user-keyed
    sort), each session is attributed to its first event type, and
    purchases/revenue aggregate per attribution source.  All windows
    are user-partitioned — nothing global — and the final aggregate is
    attribution-source-sized."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sess_id"),
    )
    w2 = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    attributed = sess.select(
        "user_id", "sess_id", "event_type", "value",
        F.first("event_type").over(
            w2.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_touch"),
    )
    is_purchase = F.col("event_type") == "purchase"
    return attributed.groupBy("first_touch").agg(
        F.countDistinct(
            F.concat(F.col("user_id").cast("string"), F.lit(":"),
                     F.col("sess_id").cast("string"))
        ).alias("n_sessions"),
        F.sum(F.when(is_purchase, 1).otherwise(0)).alias("n_purchases"),
        F.round(
            F.sum(
                F.when(is_purchase, F.col("value").cast("decimal(18,4)"))
                .otherwise(F.lit(0).cast("decimal(18,4)"))
            ).cast("double"),
            6,
        ).alias("revenue"),
    )


_ANOMALY_MAD_TS_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type,
             quantile_cont(CAST(n AS DOUBLE), 0.5) AS med_n
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n,
             ABS(CAST(d.n AS DOUBLE) - m.med_n) AS adev, m.med_n
      FROM daily d JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad_n
      FROM dev GROUP BY 1
    )
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
           CASE WHEN m2.mad_n = 0 THEN NULL
                ELSE ROUND(0.6745 * (CAST(d.n AS DOUBLE) - d.med_n)
                           / m2.mad_n, 6) END AS robust_z,
           CASE WHEN m2.mad_n = 0 THEN NULL
                ELSE ABS(0.6745 * (CAST(d.n AS DOUBLE) - d.med_n)
                         / m2.mad_n) > 3.5 END AS is_anomaly
    FROM dev d JOIN mad m2 USING (event_type)
"""


@_q("q_anomaly_mad_ts", _ANOMALY_MAD_TS_SQL)
def q_anomaly_mad_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES anomaly screening: the corpus collapses to the
    (type, day) COUNT table first, then median/MAD of each type's daily
    series (exact percentiles over the dimension-sized table) flag days
    whose modified z-score exceeds 3.5 — ingestion-volume monitoring,
    one level above q_mad_outliers' row-value screening.  Two
    dimension-sized aggregates broadcast back onto the daily table;
    MAD=0 series short-circuit to NULL rather than dividing by zero."""
    from pyspark.sql.functions import broadcast

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.count("*").alias("n"))
    )
    med = daily.groupBy("event_type").agg(
        F.percentile(F.col("n").cast("double"), 0.5).alias("med_n")
    )
    dev = daily.join(broadcast(med), "event_type").select(
        "event_type", "day", "n", "med_n",
        F.abs(F.col("n").cast("double") - F.col("med_n")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad_n")
    )
    z = (
        F.lit(0.6745)
        * (F.col("n").cast("double") - F.col("med_n"))
        / F.col("mad_n")
    )
    return dev.join(broadcast(mad), "event_type").select(
        "event_type", "day", F.col("n").cast("long").alias("n"),
        F.when(F.col("mad_n") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(z, 6)).alias("robust_z"),
        F.when(F.col("mad_n") == 0, F.lit(None).cast("boolean"))
        .otherwise(F.abs(z) > 3.5).alias("is_anomaly"),
    )


_GINI_SQL = """
    WITH per_user AS (
      SELECT event_type, user_id, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i
      FROM per_user
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS total,
             CAST(SUM(i * x) AS BIGINT) AS weighted
      FROM ranked GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_users,
           total AS n_events,
           ROUND(2.0 * CAST(weighted AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
             AS gini
    FROM s
"""


@_q("q_gini_concentration", _GINI_SQL)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration (Gini coefficient) of per-user event volume per
    type — the inequality measure behind 'do 1% of users generate 90%
    of traffic', i.e. the skew a capacity planner keys partitioning
    decisions on.  The corpus collapses to the (type, user) count table
    first; the rank window is type-PARTITIONED over that collapsed
    table and the Gini closed form needs only (n, Σx, Σ i·x) — exact
    integer sums, one float expression at the end."""
    from pyspark.sql import Window

    per_user = (
        _events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per_user.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )
    s = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("total"),
        F.sum(F.col("i").cast("long") * F.col("x")).alias("weighted"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_users"),
        F.col("total").cast("long").alias("n_events"),
        F.round(
            F.lit(2.0) * F.col("weighted").cast("double")
            / (n * F.col("total").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


_QUANTILE_SKETCH_SQL = """
    SELECT event_type,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p95,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.99), 6) AS p99,
           TRUE AS sketch_within_tol
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
"""


@_q("q_quantile_sketch", _QUANTILE_SKETCH_SQL)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles GATED against exact: per event type, the
    exact p50/p95/p99 (the oracle-checkable output) alongside a pinned
    invariant that Spark's approx_percentile sketch (the 100 TB path —
    mergeable, bounded-memory, one pass) lands within 5% relative of
    each exact value.  At corpus scale the exact percentile's full-sort
    path is replaced BY the sketch; this query is the calibration that
    justifies the swap, and the gate fails loudly if sketch accuracy
    regresses."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = F.col("value").cast("double")
    agg = ev.groupBy("event_type").agg(
        F.percentile(v, 0.5).alias("e50"),
        F.percentile(v, 0.95).alias("e95"),
        F.percentile(v, 0.99).alias("e99"),
        F.expr(
            "approx_percentile(cast(value as double), "
            "array(0.5, 0.95, 0.99), 10000)"
        ).alias("approx"),
    )
    def close(exact, approx):
        return (
            F.abs(approx - exact)
            <= F.lit(0.05) * F.greatest(F.abs(exact), F.lit(1.0))
        )
    return agg.select(
        "event_type",
        F.round(F.col("e50"), 6).alias("p50"),
        F.round(F.col("e95"), 6).alias("p95"),
        F.round(F.col("e99"), 6).alias("p99"),
        (
            close(F.col("e50"), F.col("approx")[0])
            & close(F.col("e95"), F.col("approx")[1])
            & close(F.col("e99"), F.col("approx")[2])
        ).alias("sketch_within_tol"),
    )


_PERCENTILE_BANDS_SQL = """
    WITH cuts AS (
      SELECT event_type,
             ROUND(quantile_cont(CAST(value AS DOUBLE), 0.25), 6) AS q1,
             ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS q2,
             ROUND(quantile_cont(CAST(value AS DOUBLE), 0.75), 6) AS q3
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type,
           CAST(CASE WHEN CAST(e.value AS DOUBLE) <= c.q1 THEN 1
                     WHEN CAST(e.value AS DOUBLE) <= c.q2 THEN 2
                     WHEN CAST(e.value AS DOUBLE) <= c.q3 THEN 3
                     ELSE 4 END AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(CAST(e.value AS DOUBLE)), 6) AS band_min,
           ROUND(MAX(CAST(e.value AS DOUBLE)), 6) AS band_max
    FROM events e JOIN cuts c USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY 1, 2
"""


@_q("q_percentile_bands", _PERCENTILE_BANDS_SQL)
def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quartile bands) per event type: exact
    quartile cutpoints broadcast back onto the rows classify each value
    into its band, then band-level counts and extrema — the
    optimizer-statistics shape (equal-mass bins) that a fixed-width
    histogram (q_value_histogram) cannot give on skewed values.  Two
    passes: one dimension-sized percentile aggregate, one broadcast
    join + band aggregate; cutpoints ROUND(6)-pinned before comparison
    so both engines band identically."""
    from pyspark.sql.functions import broadcast

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = F.col("value").cast("double")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.percentile(v, 0.25), 6).alias("q1"),
        F.round(F.percentile(v, 0.5), 6).alias("q2"),
        F.round(F.percentile(v, 0.75), 6).alias("q3"),
    )
    band = (
        F.when(v <= F.col("q1"), 1)
        .when(v <= F.col("q2"), 2)
        .when(v <= F.col("q3"), 3)
        .otherwise(4)
    ).cast("long")
    return (
        ev.join(broadcast(cuts), "event_type")
        .groupBy("event_type", band.alias("band"))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min(v), 6).alias("band_min"),
            F.round(F.max(v), 6).alias("band_max"),
        )
    )


_AUDIENCE_OVERLAP_SQL = """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    sizes AS (SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY 1)
    SELECT p.type_a, p.type_b,
           CAST(sa.n_users AS BIGINT) AS users_a,
           CAST(sb.n_users AS BIGINT) AS users_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(sa.n_users + sb.n_users - p.n_both AS BIGINT) AS n_either,
           ROUND(CAST(p.n_both AS DOUBLE)
                 / CAST(sa.n_users + sb.n_users - p.n_both AS DOUBLE), 6)
             AS overlap_jaccard
    FROM pairs p
    JOIN sizes sa ON p.type_a = sa.event_type
    JOIN sizes sb ON p.type_b = sb.event_type
"""


@_q("q_audience_overlap", _AUDIENCE_OVERLAP_SQL)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience intersection matrix: for every pair of event types, how
    many users do both / either and their Jaccard overlap — the
    bitmap-index AND/OR query behind audience targeting.  The corpus
    collapses to the distinct (user, type) table first; the pair join
    is USER-keyed, so each user contributes at most |types|² pairs
    (bounded by 25 here) — never a corpus self-join — and the result is
    type-pair-sized."""
    from pyspark.sql.functions import broadcast

    ut = _events(spark, sf_dir).select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    sa = sizes.select(
        F.col("event_type").alias("type_a"),
        F.col("n_users").alias("users_a"),
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"),
        F.col("n_users").alias("users_b"),
    )
    either = F.col("users_a") + F.col("users_b") - F.col("n_both")
    return (
        pairs.join(broadcast(sa), "type_a")
        .join(broadcast(sb), "type_b")
        .select(
            "type_a", "type_b",
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.col("n_both").cast("long").alias("n_both"),
            either.cast("long").alias("n_either"),
            F.round(
                F.col("n_both").cast("double") / either.cast("double"), 6
            ).alias("overlap_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Welch's t-test (parametric two-sample mean comparison)
# ---------------------------------------------------------------------------

_WELCH_SQL = """
    WITH two AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    per_g AS (
      SELECT g, COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(18,4))) AS s1,
             SUM(CAST(CAST(v AS DECIMAL(18,4)) * CAST(v AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS s2
      FROM two GROUP BY 1
    ),
    wide AS (
      SELECT SUM(CASE WHEN g = 'click' THEN n END) AS n_a,
             SUM(CASE WHEN g = 'click' THEN s1 END) AS s1_a,
             SUM(CASE WHEN g = 'click' THEN s2 END) AS s2_a,
             SUM(CASE WHEN g = 'view' THEN n END) AS n_b,
             SUM(CASE WHEN g = 'view' THEN s1 END) AS s1_b,
             SUM(CASE WHEN g = 'view' THEN s2 END) AS s2_b
      FROM per_g
    ),
    d AS (
      SELECT CAST(COALESCE(n_a, 0) AS DOUBLE) AS na,
             CAST(COALESCE(n_b, 0) AS DOUBLE) AS nb,
             CAST(s1_a AS DOUBLE) AS s1a, CAST(s2_a AS DOUBLE) AS s2a,
             CAST(s1_b AS DOUBLE) AS s1b, CAST(s2_b AS DOUBLE) AS s2b
      FROM wide
    ),
    m AS (
      SELECT na, nb, s1a / na AS ma, s1b / nb AS mb,
             (s2a - na * (s1a / na) * (s1a / na)) / (na - 1.0e0) AS va,
             (s2b - nb * (s1b / nb) * (s1b / nb)) / (nb - 1.0e0) AS vb
      FROM d
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN na > 0 THEN ROUND(ma, 6) END AS mean_a,
           CASE WHEN nb > 0 THEN ROUND(mb, 6) END AS mean_b,
           CASE WHEN na < 2.0e0 OR nb < 2.0e0 OR va + vb = 0.0e0 THEN NULL
                ELSE ROUND((ma - mb) / sqrt(va / na + vb / nb), 6)
           END AS t_stat,
           CASE WHEN na < 2.0e0 OR nb < 2.0e0 OR va + vb = 0.0e0 THEN NULL
                ELSE ROUND(
                  (va / na + vb / nb) * (va / na + vb / nb)
                  / ((va / na) * (va / na) / (na - 1.0e0)
                     + (vb / nb) * (vb / nb) / (nb - 1.0e0)), 6)
           END AS df
    FROM m
"""


@_q("q_welch_ttest", _WELCH_SQL)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between 'click' and 'view'
    event values — the parametric sibling of the gated Mann-Whitney /
    KS tests.  One map-side-combinable aggregation pass collapses the
    corpus to two (n, Σv, Σv²) rows (decimal-exact sums); t and the
    Welch-Satterthwaite df are identical float expression trees in
    both engines, ROUND(6)."""
    from conte_to_fresco_etl_spark.operators.robust import welch_ttest

    return welch_ttest(
        _events(spark, sf_dir), "event_type", "value", "click", "view"
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------

def _bootstrap_sql() -> str:
    from conte_to_fresco_etl_spark.operators.robust import _POISSON_CDF

    w_sql = " + ".join(
        f"(CASE WHEN u >= CAST('{p!r}' AS DOUBLE) THEN 1 ELSE 0 END)"
        for p in _POISSON_CDF
    )
    return f"""
    WITH grp AS (SELECT unnest(generate_series(0, 4)) AS g),
    chunk AS (SELECT unnest(generate_series(0, 9)) AS c),
    hashed AS (
      SELECT e.event_type AS key, g.g,
             CAST(e.value AS DECIMAL(18,4)) AS v,
             md5('boot:' || g.g || ':'
                 || CAST(e.event_id AS VARCHAR)) AS hx
      FROM events e CROSS JOIN grp g
    ),
    un AS (
      SELECT key, v, g * 10 + c AS b,
             CAST('0x' || substr(hx, 1 + 3 * c, 3) AS BIGINT)
               / CAST(4096 AS DOUBLE) AS u
      FROM hashed CROSS JOIN chunk
    ),
    weighted AS (SELECT key, b, v, {w_sql} AS w FROM un),
    rep_stats AS (
      SELECT key, b, SUM(v * w) AS sw, SUM(w) AS nw
      FROM weighted GROUP BY 1, 2
    ),
    rep_means AS (
      SELECT key, CASE WHEN nw = 0 THEN NULL
                       ELSE CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
                  END AS m
      FROM rep_stats
    ),
    ci AS (
      SELECT key, ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
             ROUND(quantile_cont(m, 0.975), 6) AS ci_hi,
             CAST(COUNT(*) AS BIGINT) AS n_replicates
      FROM rep_means GROUP BY 1
    ),
    base AS (
      SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS mean
      FROM events GROUP BY 1
    )
    SELECT base.key, base.n, base.mean, ci.ci_lo, ci.ci_hi,
           ci.n_replicates
    FROM base JOIN ci USING (key)
    """


@_q("q_bootstrap_ci", _bootstrap_sql())
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for each event type's mean value via the
    POISSON bootstrap — every row draws a hash-stable Poisson(1)
    weight per replicate, so resampling is map-side math with no
    global state: the only bootstrap that works at 100 TB.  The ×48
    explode partial-aggregates to (key, replicate) before any shuffle;
    the interval is the exact percentile of 48 identical-in-any-engine
    replicate means."""
    from conte_to_fresco_etl_spark.operators.robust import (
        poisson_bootstrap_ci,
    )

    return poisson_bootstrap_ci(
        _events(spark, sf_dir), "event_type", "value", "event_id"
    )


# ---------------------------------------------------------------------------
# Period-over-period rank trend (volume leaderboard movement)
# ---------------------------------------------------------------------------

_RANK_TREND_SQL = """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS e0, MAX(epoch_us(ts)) AS e1 FROM events
    ),
    per AS (
      SELECT event_type, epoch_us(ts) * 2 < e0 + e1 AS first_half
      FROM events CROSS JOIN b
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
             CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT)
               AS n_second
      FROM per GROUP BY 1
    )
    SELECT event_type, n_first, n_second,
           CAST(RANK() OVER (ORDER BY n_first DESC, event_type)
                AS BIGINT) AS rank_first,
           CAST(RANK() OVER (ORDER BY n_second DESC, event_type)
                AS BIGINT) AS rank_second,
           CAST(RANK() OVER (ORDER BY n_first DESC, event_type)
                - RANK() OVER (ORDER BY n_second DESC, event_type)
                AS BIGINT) AS rank_delta
    FROM agg
"""


@_q("q_rank_trend", _RANK_TREND_SQL)
def q_rank_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: event types ranked by volume in the first
    vs second half of the corpus window (midpoint in exact integer
    microseconds — no float time math), with the rank delta as the
    trending signal.  The global rank windows run on the
    |event_types|-row collapsed aggregate, never on raw events."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    ev = _events(spark, sf_dir).select("ts", "event_type")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("e0"),
        F.max(F.unix_micros("ts")).alias("e1"),
    )
    agg = (
        ev.crossJoin(broadcast(bounds))
        .select(
            "event_type",
            (F.unix_micros("ts") * 2 < F.col("e0") + F.col("e1")).alias(
                "first_half"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("first_half"), 1).otherwise(0))
            .cast("long")
            .alias("n_first"),
            F.sum(F.when(F.col("first_half"), 0).otherwise(1))
            .cast("long")
            .alias("n_second"),
        )
    )
    w1 = Window.orderBy(F.desc("n_first"), F.asc("event_type"))
    w2 = Window.orderBy(F.desc("n_second"), F.asc("event_type"))
    r1 = F.rank().over(w1).cast("long")
    r2 = F.rank().over(w2).cast("long")
    return agg.select(
        "event_type",
        "n_first",
        "n_second",
        r1.alias("rank_first"),
        r2.alias("rank_second"),
        (r1 - r2).alias("rank_delta"),
    )


# ---------------------------------------------------------------------------
# Changepoint location (one step of binary segmentation)
# ---------------------------------------------------------------------------

_CHANGEPOINT_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,4))) AS s
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, s,
             SUM(s) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c,
             ROW_NUMBER() OVER (ORDER BY day) AS i,
             SUM(s) OVER () AS tot,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    cand AS (
      SELECT day, CAST(n AS BIGINT) AS n_days,
             CAST(c AS DOUBLE) / CAST(i AS DOUBLE) AS ml,
             CAST(tot - c AS DOUBLE) / CAST(n - i AS DOUBLE) AS mr,
             abs(CAST(c AS DOUBLE) / CAST(i AS DOUBLE)
                 - CAST(tot - c AS DOUBLE) / CAST(n - i AS DOUBLE))
               * sqrt(CAST(i AS DOUBLE) * (CAST(n AS DOUBLE)
                      - CAST(i AS DOUBLE)) / CAST(n AS DOUBLE)) AS score
      FROM cum WHERE i < n
    )
    SELECT n_days, day AS split_day,
           ROUND(ml, 6) AS mean_left, ROUND(mr, 6) AS mean_right,
           ROUND(score, 6) AS score
    FROM cand ORDER BY ROUND(score, 6) DESC, day LIMIT 1
"""


@_q("q_changepoint", _CHANGEPOINT_SQL)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint LOCATION on the daily value series (one binary-
    segmentation step): the split day maximizing the standardized mean
    gap — where CUSUM's alarm actually happened.  Corpus collapses to
    the daily table first; every window runs on that dimension-sized
    series."""
    from conte_to_fresco_etl_spark.operators.robust import (
        changepoint_binary_seg,
    )

    return changepoint_binary_seg(_events(spark, sf_dir), "ts", "value")


_SESSIONIZE_REPLAY_SQL = """
    WITH e AS (
      SELECT CAST(user_id AS VARCHAR) AS uid, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts)
                  > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events WHERE user_id < 64
    ),
    s AS (
      SELECT uid, ts,
             SUM(brk) OVER (PARTITION BY uid ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT uid AS user_id, MIN(ts) AS session_start,
           MAX(ts) AS session_end, COUNT(*) AS n_events
    FROM s GROUP BY uid, sid
"""


@_q("q_sessionize_replay", _SESSIONIZE_REPLAY_SQL)
def q_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the gap sessionizer under the hard gate: the
    events of users < 64 replay as three CHRONOLOGICAL micro-batches
    (global ts-percentile cuts keep every user's stream ordered across
    batches) through the custom stateful operator
    (``streaming/stateful.py:sessionize``,
    ``applyInPandasWithState`` + event-time timeout), followed by two
    far-future sentinel batches that push the watermark past every
    open session so state times out and flushes.  The emitted closed
    sessions must hash-match the batch islands oracle — the
    convergence contract of the custom state machine, previously
    pinned only by pytest.  ``sum_value`` is emitted but not gated
    (an order-dependent float sum has no engine-portable oracle)."""
    from conte_to_fresco_etl_spark.streaming.stateful import sessionize

    def batches(ev: DataFrame) -> list[DataFrame]:
        # two sentinel batches: each advances the watermark far enough
        # that the NEXT trigger times out every session opened before
        # it (watermark delay 10 min << the 3 h sentinel stride)
        t0 = ev.agg(
            F.coalesce(
                F.max("ts"), F.lit("2024-01-01").cast("timestamp")
            ).alias("t0")
        )
        return _chrono_thirds(ev) + [
            t0.select(
                F.lit("-1").alias("user_id"),
                (F.col("t0") + F.expr(f"INTERVAL {3 * k} HOURS")).alias("ts"),
                F.lit(0.0).alias("value"),
            )
            for k in (1, 2)
        ]

    ev = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") < 64)
        .select(
            F.col("user_id").cast("string").alias("user_id"), "ts", "value"
        )
    )
    return _replay(
        spark,
        "q_sessionize_replay",
        ev,
        batches,
        lambda read, base: _parquet_sink(sessionize(read()), base),
        "user_id string, session_start timestamp, session_end timestamp, "
        "n_events long",
    ).filter(F.col("user_id") != "-1")


# ---------------------------------------------------------------------------
# CUPED variance-reduction audit
# ---------------------------------------------------------------------------

_CUPED_SQL = """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS e0, MAX(epoch_us(ts)) AS e1 FROM events
    ),
    per_key AS (
      SELECT user_id AS key,
             SUM(CASE WHEN epoch_us(ts) * 2 < e0 + e1
                      THEN CAST(value AS DECIMAL(18,4)) END) AS sx,
             SUM(CASE WHEN epoch_us(ts) * 2 < e0 + e1 THEN 1 ELSE 0 END)
               AS nx,
             SUM(CASE WHEN epoch_us(ts) * 2 >= e0 + e1
                      THEN CAST(value AS DECIMAL(18,4)) END) AS sy,
             SUM(CASE WHEN epoch_us(ts) * 2 >= e0 + e1 THEN 1 ELSE 0 END)
               AS ny
      FROM events CROSS JOIN b
      GROUP BY 1
    ),
    xy AS (
      SELECT CAST(ROUND(CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS xd,
             CAST(ROUND(CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS yd,
             CAST(ROUND((CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE)), 12)
                  AS DECIMAL(38,12)) AS xy,
             CAST(ROUND((CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)), 12)
                  AS DECIMAL(38,12)) AS xx,
             CAST(ROUND((CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE)), 12)
                  AS DECIMAL(38,12)) AS yy
      FROM per_key WHERE nx > 0 AND ny > 0
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(xd) AS sx, SUM(yd) AS sy,
             SUM(xy) AS sxy, SUM(xx) AS sxx, SUM(yy) AS syy
      FROM xy
    ),
    d AS (
      SELECT CAST(n AS BIGINT) AS n_keys, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(syy AS DOUBLE) AS syyd
      FROM m
    ),
    v AS (
      SELECT n_keys, nd,
             nd * sxyd - sxd * syd AS cov,
             nd * sxxd - sxd * sxd AS vx,
             nd * syyd - syd * syd AS vy
      FROM d
    )
    SELECT n_keys,
           CASE WHEN vx <= 0.0e0 OR n_keys < 2 THEN NULL
                ELSE ROUND(cov / vx, 6) END AS theta,
           CASE WHEN n_keys < 2 THEN NULL
                ELSE ROUND(vy / (nd * nd), 6) END AS var_y,
           CASE WHEN vx <= 0.0e0 OR n_keys < 2 THEN NULL
                ELSE ROUND((vy - cov * cov / vx) / (nd * nd), 6)
           END AS var_adj,
           CASE WHEN vx <= 0.0e0 OR n_keys < 2 OR vy <= 0.0e0 THEN NULL
                ELSE ROUND(100.0e0 * (1.0e0
                     - ((vy - cov * cov / vx) / (nd * nd))
                       / (vy / (nd * nd))), 6)
           END AS reduction_pct
    FROM v
"""


@_q("q_cuped", _CUPED_SQL)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduction audit over users: first-half mean value
    as the pre-period covariate, second-half mean as the metric;
    reports θ and the variance the adjusted metric removes.  One
    conditional aggregation per user, then a 5-accumulator collapse of
    the user table."""
    from conte_to_fresco_etl_spark.operators.robust import cuped_adjustment

    return cuped_adjustment(_events(spark, sf_dir), "user_id", "ts", "value")


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guardrail
# ---------------------------------------------------------------------------

_SRM_SQL = """
    WITH arms AS (
      SELECT DISTINCT user_id,
             CAST('0x' || substr(md5('srm:' || CAST(user_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm
      FROM events
    ),
    c AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM arms
    ),
    s AS (
      SELECT n_a, n_b,
             (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0e0 AS e
      FROM c
    )
    SELECT n_a, n_b,
           CASE WHEN e = 0.0e0 THEN NULL
                ELSE ROUND((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
                     + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e, 6)
           END AS chi2,
           CASE WHEN e = 0.0e0 THEN NULL
                ELSE (CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
                     + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e
                     > 3.841458820694124e0
           END AS srm_flag
    FROM s
"""


@_q("q_srm", _SRM_SQL)
def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: users hash into two arms
    (md5-stable 50/50 assignment); the goodness-of-fit chi-square
    against the expected equal split flags broken randomization — the
    first sanity check before any A/B readout (including the Welch /
    Mann-Whitney tests in this catalog).  One distinct-user collapse,
    then scalar algebra."""
    from pyspark.sql.functions import broadcast  # noqa: F401

    ev = _events(spark, sf_dir)
    arms = ev.select(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit("srm"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        ).alias("arm"),
        "user_id",
    ).distinct()
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    e = (F.col("n_a").cast("double") + F.col("n_b").cast("double")) / F.lit(
        2.0
    )
    da = F.col("n_a").cast("double") - e
    db = F.col("n_b").cast("double") - e
    chi2 = da * da / e + db * db / e
    return c.select(
        "n_a",
        "n_b",
        F.when(e == F.lit(0.0), F.lit(None).cast("double"))
        .otherwise(F.round(chi2, 6))
        .alias("chi2"),
        F.when(e == F.lit(0.0), F.lit(None).cast("boolean"))
        .otherwise(chi2 > F.lit(3.841458820694124))
        .alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Monte-Carlo permutation (randomization) test
# ---------------------------------------------------------------------------

_PERM_SQL = """
    WITH two AS (
      SELECT event_type = 'click' AS is_a,
             CAST(value AS DECIMAL(18,4)) AS v,
             CAST(event_id AS VARCHAR) AS id
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN is_a THEN v END) AS s_a,
             SUM(v) AS s_tot
      FROM two
    ),
    grp AS (SELECT unnest(generate_series(0, 4)) AS g),
    chunk AS (SELECT unnest(generate_series(0, 9)) AS c),
    hashed AS (
      SELECT t.v, g.g, md5('perm:' || g.g || ':' || t.id) AS hx
      FROM two t CROSS JOIN grp g
    ),
    un AS (
      SELECT v, g * 10 + c AS b,
             CAST('0x' || substr(hx, 1 + 3 * c, 3) AS BIGINT)
               / CAST(4096 AS DOUBLE) AS u
      FROM hashed CROSS JOIN chunk
    ),
    asg AS (
      SELECT b,
             SUM(CASE WHEN u < CAST(n_a AS DOUBLE)
                          / CAST(n_a + n_b AS DOUBLE)
                      THEN v END) AS sa,
             CAST(SUM(CASE WHEN u < CAST(n_a AS DOUBLE)
                               / CAST(n_a + n_b AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS na
      FROM un CROSS JOIN tot
      GROUP BY 1
    ),
    r AS (
      SELECT t.n_a, t.n_b,
             CAST(t.s_a AS DOUBLE) / CAST(t.n_a AS DOUBLE)
               - CAST(t.s_tot - t.s_a AS DOUBLE)
                 / CAST(t.n_b AS DOUBLE) AS obs,
             CASE WHEN a.na = 0 OR a.na = t.n_a + t.n_b THEN NULL
                  ELSE CAST(a.sa AS DOUBLE) / CAST(a.na AS DOUBLE)
                       - CAST(t.s_tot - a.sa AS DOUBLE)
                         / CAST(t.n_a + t.n_b - a.na AS DOUBLE)
             END AS pd
      FROM asg a CROSS JOIN tot t
    ),
    e AS (
      SELECT n_a, n_b, obs,
             CASE WHEN ABS(pd) >= ABS(obs) THEN 1 ELSE 0 END AS extreme
      FROM r
    )
    SELECT n_a, n_b, ROUND(obs, 6) AS obs_diff,
           ROUND((CAST(SUM(extreme) AS BIGINT) + 1)
                 / (CAST(COUNT(*) AS DOUBLE) + 1), 6) AS p_value,
           CAST(COUNT(*) AS BIGINT) AS n_perms
    FROM e GROUP BY 1, 2, 3
"""


@_q("q_permutation_test", _PERM_SQL)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test on the 'click' vs 'view' mean
    difference (50 Bernoulli relabelings from chunked md5 uniforms) —
    the assumption-free member of the testing family next to Welch
    and Mann-Whitney.  Map-side relabeling with columnar partial
    sums; totals enter as 1-row broadcasts."""
    from conte_to_fresco_etl_spark.operators.robust import permutation_test

    return permutation_test(
        _events(spark, sf_dir),
        "event_type",
        "value",
        "click",
        "view",
        "event_id",
    )


# ---------------------------------------------------------------------------
# Referential-integrity (FK orphan) audit
# ---------------------------------------------------------------------------

#: (label, child table, fk column, parent table, pk column) — every FK
#: edge in the testdata star schema plus the training-data coverage
#: edges (documents<->embeddings, events->customer).
_FK_EDGES = [
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
    ("events.user_id->customer.c_custkey", "events", "user_id",
     "customer", "c_custkey"),
    ("documents.doc_id->embeddings.vec_id", "documents", "doc_id",
     "embeddings", "vec_id"),
    ("embeddings.vec_id->documents.doc_id", "embeddings", "vec_id",
     "documents", "doc_id"),
]


def _fk_edge_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS edge,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_fk_keys,
           CAST(COALESCE(SUM(CASE WHEN absent THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_orphan_keys,
           CAST(COALESCE(SUM(CASE WHEN absent THEN c ELSE 0 END), 0)
                AS BIGINT) AS n_orphan_rows,
           ROUND(COALESCE(
             CAST(COALESCE(SUM(CASE WHEN absent THEN c ELSE 0 END), 0)
                  AS DOUBLE)
             / NULLIF(CAST(COALESCE(SUM(c), 0) AS DOUBLE), 0.0), 0.0), 6)
             AS orphan_rate
    FROM (
      SELECT ck.k, ck.c, pk.k IS NULL AS absent
      FROM (SELECT {fk} AS k, COUNT(*) AS c FROM {child}
            WHERE {fk} IS NOT NULL GROUP BY 1) ck
      LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) pk
        ON ck.k = pk.k
    )
    """


_FK_ORPHANS_SQL = "\nUNION ALL\n".join(
    _fk_edge_sql(*edge) for edge in _FK_EDGES
)


@_q("q_fk_orphans", _FK_ORPHANS_SQL)
def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge in the schema —
    fact->dimension, snowflake hops, and the training-data coverage
    edges (does every document have an embedding and vice versa) —
    per-edge row counts, distinct-key counts, orphan keys/rows and
    orphan rate.  Each child collapses to its distinct-key count table
    BEFORE touching the parent (``validation.referential_audit``), so
    the 100 TB join input is |keys|, not |rows|."""
    from conte_to_fresco_etl_spark.validation import referential_audit

    tables = {name: _t(spark, sf_dir, name)
              for name in {"region", "nation", "customer", "supplier",
                           "part", "orders", "lineitem", "documents",
                           "embeddings"}}
    tables["events"] = _events(spark, sf_dir)
    return referential_audit(
        [
            (label, tables[child], fk, tables[parent], pk)
            for label, child, fk, parent, pk in _FK_EDGES
        ]
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage (probabilistic entity resolution)
# ---------------------------------------------------------------------------

#: (name, DuckDB value expr over customer, m prior).  The Spark side
#: builds the identical expression tree in q_record_linkage.
_FS_FIELDS = [
    ("seg", "c_mktsegment", 0.9),
    ("bal", "floor(CAST(c_acctbal AS DOUBLE) / 1000.0)", 0.85),
    ("d1", "substr(c_name, length(c_name), 1)", 0.95),
    ("d2", "substr(c_name, length(c_name) - 1, 1)", 0.7),
]

_FS_TOP_K = 200


def _fs_u_cte(name: str) -> str:
    return f"""
    u_{name} AS (
      SELECT LEAST(GREATEST(
               CAST(SUM(c * c) AS DOUBLE)
               / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)),
               1e-9), CAST(1.0 AS DOUBLE) - 1e-9) AS u
      FROM (SELECT COUNT(*) AS c FROM n GROUP BY f_{name})
    )"""


def _fs_contrib_sql(name: str, m: float) -> str:
    # Exact double literals via repr: DuckDB folds plain decimal
    # arithmetic exactly (1.0 - 0.9 = 0.1) where Spark/Python fold in
    # binary double (0.09999999999999998) — string-CAST pins both
    # engines to the Python-computed double.
    agree = f"a.f_{name} IS NOT DISTINCT FROM b.f_{name}"
    w_a = (f"ROUND(log2(CAST('{m!r}' AS DOUBLE) / u_{name}.u), 12)")
    w_d = (
        f"ROUND(log2(CAST('{1.0 - m!r}' AS DOUBLE) "
        f"/ (CAST(1.0 AS DOUBLE) - u_{name}.u)), 12)"
    )
    return (
        f"CAST(CASE WHEN {agree} THEN {w_a} ELSE {w_d} END "
        f"AS DECIMAL(28,12))"
    )


#: SNM candidate generation shared by the FS gate: records sort by
#: reverse(c_name) — the textbook ROTATED-KEY SNM pass (the forward
#: key's constant "Customer#" prefix would collapse the sort into one
#: partition) — inside 2-char prefix partitions (the 100 trailing-digit
#: pairs) and pair with their window-1 successors: n·(window−1)
#: candidates, LINEAR in the corpus (the r6-gated nation block grew
#: Σ block² quadratically).  TWO passes (r8): pass 2 re-sorts under
#: the key rotated left by floor(len/2) — the operator's
#: partition-boundary blind-spot remedy — and the union deduplicates;
#: this SQL mirrors linkage.snm_window_pairs(passes=2) exactly.
_FS_SNM_WINDOW = 4


def _fs_snm_led(src: str, tag: str) -> str:
    return f"""
    led{tag} AS (
      SELECT id,
             {', '.join(
                 f"lead(id, {o}) OVER (PARTITION BY substr(k, 1, 2) "
                 f"ORDER BY k, id) AS n{o}"
                 for o in range(1, _FS_SNM_WINDOW))}
      FROM {src}
    )"""


_FS_SNM_CAND = f"""
    n_rot AS (
      SELECT id,
             substr(k, CAST(floor(length(k) * 1 / 2) AS INT) + 1)
               || substr(k, 1, CAST(floor(length(k) * 1 / 2) AS INT))
               AS k
      FROM n
    ),
    {_fs_snm_led('n', '')},
    {_fs_snm_led('n_rot', 'r')},
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        {' UNION ALL '.join(
            f"SELECT LEAST(id, n{o}) AS id_a, GREATEST(id, n{o}) AS id_b "
            f"FROM led{tag} WHERE n{o} IS NOT NULL"
            for tag in ('', 'r')
            for o in range(1, _FS_SNM_WINDOW))}
      )
    )"""

_FS_SQL = f"""
    WITH n AS (
      SELECT c_custkey AS id, reverse(c_name) AS k,
             {', '.join(f'{expr} AS f_{name}' for name, expr, _ in _FS_FIELDS)}
      FROM customer
      WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
    ),
    {','.join(_fs_u_cte(name) for name, _, _ in _FS_FIELDS)},
    {_FS_SNM_CAND}
    SELECT a.id AS id_a, b.id AS id_b,
           {', '.join(f'a.f_{name} IS NOT DISTINCT FROM b.f_{name} AS agree_{name}' for name, _, _ in _FS_FIELDS)},
           ROUND(CAST({' + '.join(_fs_contrib_sql(name, m) for name, _, m in _FS_FIELDS)} AS DOUBLE), 6) AS score
    FROM cand c
    JOIN n a ON c.id_a = a.id
    JOIN n b ON c.id_b = b.id
    {' '.join(f'CROSS JOIN u_{name}' for name, _, _ in _FS_FIELDS)}
    ORDER BY score DESC, id_a, id_b
    LIMIT {_FS_TOP_K}
"""


@_q("q_record_linkage", _FS_SQL)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over SNM-blocked
    customer pairs: TWO-pass sorted-neighborhood candidates
    (reversed-name sort + its half-rotation, each record vs its 3
    successors per pass, union-deduped — 2·n·(w−1) pairs, linear in
    the corpus, and pass 2 recovers pairs straddling pass 1's prefix
    partition boundaries; the fixed-cardinality nation block this
    replaces grew Σ block² quadratically at 100×), scored by
    per-field agreement (segment,
    balance band, name suffix digits) weighted by log2(m/u) with u
    estimated from the data (sum(freq^2)/n^2) and m as documented
    priors; top-200 candidate matches by score.  The scoring layer of
    entity resolution composed with this engine's SNM blocking
    generator, exactly as linkage.py prescribes.  u-estimates enter
    the candidate-keyed pair joins as 1-row broadcasts; weights sum in
    DECIMAL for order-independence."""
    from conte_to_fresco_etl_spark.operators.linkage import (
        FieldComparison,
        fellegi_sunter_pairs,
        snm_window_pairs,
    )

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(
            F.col("c_custkey").isNotNull() & F.col("c_name").isNotNull()
        )
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_mktsegment"),
            F.col("c_acctbal"),
            F.col("c_name"),
        )
    )
    name_len = F.length(F.col("c_name"))
    fields = [
        FieldComparison("seg", F.col("c_mktsegment"), 0.9),
        FieldComparison(
            "bal",
            F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)),
            0.85,
        ),
        FieldComparison(
            "d1", F.col("c_name").substr(name_len, F.lit(1)), 0.95
        ),
        FieldComparison(
            "d2",
            F.col("c_name").substr(name_len - F.lit(1), F.lit(1)),
            0.7,
        ),
    ]
    cand = snm_window_pairs(
        cust,
        "id",
        F.reverse(F.col("c_name")),
        window=_FS_SNM_WINDOW,
        part_len=2,
        passes=2,
    )
    return fellegi_sunter_pairs(
        cust, "id", [], fields, top_k=_FS_TOP_K, candidates=cand
    )


# ---------------------------------------------------------------------------
# t-closeness privacy audit (completes k-anonymity / l-diversity trio)
# ---------------------------------------------------------------------------

_T_CLOSENESS_SQL = """
    WITH c AS (
      SELECT c_nationkey AS g1, c_mktsegment AS g2,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS v
      FROM customer
    ),
    cell AS (
      SELECT g1, g2, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2, 3
    ),
    gdist AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM cell GROUP BY 1),
    grp AS (
      SELECT g1, g2, CAST(SUM(cnt) AS BIGINT) AS n_class
      FROM cell GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(gcnt) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS k_values
      FROM gdist
    ),
    spine AS (SELECT g1, g2, n_class, v, gcnt FROM grp CROSS JOIN gdist),
    filled AS (
      SELECT s.g1, s.g2, s.n_class, s.v, s.gcnt,
             COALESCE(cell.cnt, 0) AS cnt
      FROM spine s
      LEFT JOIN cell ON s.g1 = cell.g1 AND s.g2 = cell.g2 AND s.v = cell.v
    ),
    cum AS (
      SELECT g1, g2, n_class,
             SUM(cnt) OVER (PARTITION BY g1, g2 ORDER BY v) AS cum_class,
             SUM(gcnt) OVER (PARTITION BY g1, g2 ORDER BY v) AS cum_global
      FROM filled
    ),
    agg AS (
      SELECT g1, g2, n_class, n_total, k_values,
             SUM(ABS(cum_class * n_total - cum_global * n_class)) AS emd_int
      FROM cum CROSS JOIN tot GROUP BY 1, 2, 3, 4, 5
    )
    SELECT c_nationkey, c_mktsegment, n_class, t_dist,
           t_dist <= 0.3 AS within_t
    FROM (
      SELECT g1 AS c_nationkey, g2 AS c_mktsegment, n_class,
             ROUND(COALESCE(
               CAST(emd_int AS DOUBLE)
               / NULLIF(CAST(n_class AS DOUBLE) * CAST(n_total AS DOUBLE)
                        * (CAST(k_values AS DOUBLE) - 1.0), 0.0), 0.0), 6)
               AS t_dist
      FROM agg
    )
"""


@_q("q_t_closeness", _T_CLOSENESS_SQL)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over (nation, segment) classes with the
    account-balance band (ordered, ~11 values) as the sensitive
    attribute: per-class EMD to the global distribution via exact
    integer cross-product arithmetic, one final double division —
    completing the k-anonymity / l-diversity / t-closeness privacy
    trio.  Everything past the first aggregation is dimension-sized."""
    from conte_to_fresco_etl_spark.operators.pii import t_closeness

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
    )
    return t_closeness(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", t_max=0.3
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over a segment scan
# ---------------------------------------------------------------------------

_BH_FDR_SQL = """
    WITH v AS (
      SELECT event_type, hour(ts) AS hr, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    cell AS (
      SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS DECIMAL(18,4))) AS s1,
             SUM(CAST(CAST(v AS DECIMAL(18,4)) * CAST(v AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS s2
      FROM v GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, SUM(s1) AS s1t, SUM(s2) AS s2t
      FROM cell
    ),
    lvl1 AS (
      SELECT event_type, hr, n, CAST(nt - n AS BIGINT) AS nr,
             CAST(n AS DOUBLE) AS n_d, CAST(nt - n AS DOUBLE) AS nr_d,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mg,
             CAST(s1t - s1 AS DOUBLE) / CAST(nt - n AS DOUBLE) AS mr,
             CAST(s2 AS DOUBLE) AS s2g, CAST(s2t - s2 AS DOUBLE) AS s2r
      FROM cell CROSS JOIN tot
    ),
    lvl2 AS (
      SELECT event_type, hr, n, nr, n_d, nr_d, mg, mr,
             (s2g - n_d * mg * mg) / (n_d - 1.0) AS vg,
             (s2r - nr_d * mr * mr) / (nr_d - 1.0) AS vr
      FROM lvl1 WHERE n >= 2 AND nr >= 2
    ),
    hyp AS (
      SELECT event_type, hr,
             ROUND(2.0 / (1.0 + exp(1.702 *
               abs((mg - mr) / sqrt(vg / n_d + vr / nr_d)))), 12) AS p
      FROM lvl2 WHERE vg > 0 AND vr > 0
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm FROM hyp),
    ranked AS (
      SELECT event_type, hr, p, mm,
             ROW_NUMBER() OVER (ORDER BY p ASC, event_type ASC, hr ASC)
               AS rank
      FROM hyp CROSS JOIN m
    )
    SELECT event_type, hr, p AS p_value, CAST(rank AS BIGINT) AS rank,
           p_adjusted, p_adjusted <= 0.05 AS discovery
    FROM (
      SELECT event_type, hr, p, rank,
             ROUND(LEAST(MIN(ROUND(p * CAST(mm AS DOUBLE)
                                   / CAST(rank AS DOUBLE), 12))
                         OVER (ORDER BY rank DESC
                               ROWS UNBOUNDED PRECEDING), 1.0), 6)
               AS p_adjusted
      FROM ranked
    )
"""


@_q("q_bh_fdr", _BH_FDR_SQL)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment scan with multiple-testing control: every (event_type,
    hour) cell gets a one-vs-rest Welch z on the value metric (decimal
    -exact moments, logistic approximation to the normal CDF for the
    p-value), then Benjamini-Hochberg step-up adjustment flags
    discoveries at FDR 0.05 — without this, a 120-segment scan lights
    up ~6 'significant' cells by chance.  Completes the testing family
    (Welch, Mann-Whitney, KS, bootstrap, permutation) with the
    many-hypotheses layer.  Corpus collapses to cell moments in one
    pass; rest-statistics derive by decimal subtraction from the 1-row
    total; BH windows run over the 120-row hypothesis table."""
    from conte_to_fresco_etl_spark.operators.robust import bh_fdr

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cell = ev.select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.col("value").cast("double").alias("v"),
    ).groupBy("event_type", "hr").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,4)")).alias("s1"),
        F.sum(
            (
                F.col("v").cast("decimal(18,4)")
                * F.col("v").cast("decimal(18,4)")
            ).cast("decimal(38,8)")
        ).alias("s2"),
    )
    tot = cell.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").alias("s1t"),
        F.sum("s2").alias("s2t"),
    )
    lvl1 = cell.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "hr",
        "n",
        (F.col("nt") - F.col("n")).cast("long").alias("nr"),
        F.col("n").cast("double").alias("n_d"),
        (F.col("nt") - F.col("n")).cast("double").alias("nr_d"),
        (F.col("s1").cast("double") / F.col("n").cast("double")).alias(
            "mg"
        ),
        (
            (F.col("s1t") - F.col("s1")).cast("double")
            / (F.col("nt") - F.col("n")).cast("double")
        ).alias("mr"),
        F.col("s2").cast("double").alias("s2g"),
        (F.col("s2t") - F.col("s2")).cast("double").alias("s2r"),
    )
    lvl2 = lvl1.filter((F.col("n") >= 2) & (F.col("nr") >= 2)).select(
        "event_type",
        "hr",
        "n_d",
        "nr_d",
        "mg",
        "mr",
        (
            (F.col("s2g") - F.col("n_d") * F.col("mg") * F.col("mg"))
            / (F.col("n_d") - F.lit(1.0))
        ).alias("vg"),
        (
            (F.col("s2r") - F.col("nr_d") * F.col("mr") * F.col("mr"))
            / (F.col("nr_d") - F.lit(1.0))
        ).alias("vr"),
    )
    z_abs = F.abs(
        (F.col("mg") - F.col("mr"))
        / F.sqrt(
            F.col("vg") / F.col("n_d") + F.col("vr") / F.col("nr_d")
        )
    )
    hyp = (
        lvl2.filter((F.col("vg") > 0) & (F.col("vr") > 0))
        .select(
            "event_type",
            "hr",
            F.round(
                F.lit(2.0)
                / (F.lit(1.0) + F.exp(F.lit(1.702) * z_abs)),
                12,
            ).alias("p"),
        )
    )
    return bh_fdr(hyp, "p", ["event_type", "hr"], q=0.05).select(
        "event_type",
        "hr",
        "p_value",
        "rank",
        "p_adjusted",
        "discovery",
    )


# ---------------------------------------------------------------------------
# Compaction planner (lakehouse OPTIMIZE planning)
# ---------------------------------------------------------------------------

_COMPACTION_SQL = """
    WITH f AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    b AS (
      SELECT source, doc_id, n_chars,
             CAST(floor((cum - n_chars) / 20000) AS BIGINT) AS bin
      FROM f
    )
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS total_size,
           MIN(doc_id) AS first_key,
           MAX(doc_id) AS last_key,
           CAST(SUM(n_chars) AS BIGINT) < 10000 AS undersized
    FROM b GROUP BY 1, 2
"""


@_q("q_compaction_plan", _COMPACTION_SQL)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan over the per-source document 'file' manifest:
    greedy sequential bins closing at 20k chars, per-bin file counts /
    sizes / key ranges and an undersized-tail flag — the maintenance
    query a 100 TB table's OPTIMIZE cycle starts from.  One
    partition-keyed cumulative window over the manifest plus one
    (partition, bin) aggregate; file contents are never read."""
    from conte_to_fresco_etl_spark.validation import compaction_plan

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return compaction_plan(docs, "source", "n_chars", "doc_id", 20000)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope per event type
# ---------------------------------------------------------------------------

_MANN_KENDALL_SQL = """
    WITH ser AS (
      SELECT event_type AS g,
             CAST(dd AS DOUBLE) AS t,
             CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS v
      FROM (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dd,
               value AS v
        FROM events WHERE value IS NOT NULL
      ) GROUP BY 1, dd
    ),
    pairs AS (
      SELECT a.g AS g, a.t AS ti, b.t AS tj,
             CAST(SIGN(b.v - a.v) AS DOUBLE) AS sgn,
             ROUND((b.v - a.v) / (b.t - a.t), 6) AS slope
      FROM ser a JOIN ser b ON a.g = b.g AND a.t < b.t
    ),
    ranked AS (
      SELECT g, slope,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY slope, ti, tj)
               AS rk
      FROM pairs
    ),
    cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m FROM pairs GROUP BY 1),
    mid AS (
      SELECT r.g AS g, ROUND(AVG(slope), 6) AS sen_slope
      FROM ranked r JOIN cnt c ON r.g = c.g
      WHERE rk = floor((m + 1) / 2) OR rk = floor((m + 2) / 2)
      GROUP BY 1
    ),
    stats AS (
      SELECT g, CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs GROUP BY 1
    ),
    n_b AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM ser GROUP BY 1
    ),
    ties AS (
      SELECT g, CAST(SUM(tn * (tn - 1) * (2 * tn + 5)) AS BIGINT)
               AS tie_term
      FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS tn
            FROM ser GROUP BY 1, 2)
      GROUP BY 1
    ),
    joined AS (
      SELECT n_b.g AS g, n_buckets,
             COALESCE(s_stat, 0) AS s_stat,
             COALESCE(CAST(tie_term AS DOUBLE), 0.0e0) AS tie_d,
             sen_slope,
             CAST(n_buckets AS DOUBLE) AS n_d
      FROM n_b
      LEFT JOIN stats ON n_b.g = stats.g
      LEFT JOIN ties ON n_b.g = ties.g
      LEFT JOIN mid ON n_b.g = mid.g
    )
    SELECT g AS event_type,
           n_buckets,
           CAST(s_stat AS BIGINT) AS s_stat,
           ROUND(var_s, 6) AS var_s,
           CASE WHEN n_buckets < 2 OR var_s <= 0.0e0 THEN NULL
                ELSE ROUND(CASE
                  WHEN s_d > 0.0e0 THEN (s_d - 1.0e0) / sqrt(var_s)
                  WHEN s_d < 0.0e0 THEN (s_d + 1.0e0) / sqrt(var_s)
                  ELSE 0.0e0 END, 6)
           END AS z,
           sen_slope
    FROM (
      SELECT g, n_buckets, s_stat, sen_slope,
             CAST(s_stat AS DOUBLE) AS s_d,
             (n_d * (n_d - 1.0e0) * (2.0e0 * n_d + 5.0e0) - tie_d)
               / 18.0e0 AS var_s
      FROM joined
    )
"""


@_q("q_mann_kendall", _MANN_KENDALL_SQL)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's daily volume-weighted value drifting?
    Mann-Kendall S / tie-corrected variance / continuity-corrected z
    plus the Theil-Sen median slope per event type — the robust trend
    monitor (one outlier day cannot wreck the slope, unlike least
    squares in ``q_trend_slope``).  The corpus collapses to the
    5x30 (event_type, day) decimal-exact series FIRST; the pairwise
    self-join and median-rank window run on those ~435 pairs per
    group, never on raw events."""
    from conte_to_fresco_etl_spark.operators.robust import mann_kendall_trend

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias(
            "day_idx"
        ),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("daily_value")
    )
    return mann_kendall_trend(daily, "event_type", "day_idx", "daily_value")


# ---------------------------------------------------------------------------
# ROC AUC per source (rank-based, midrank ties)
# ---------------------------------------------------------------------------

_ROC_AUC_SQL = """
    WITH base AS (
      SELECT source AS g, CAST(lang = 'en' AS INT) AS y,
             CAST(n_chars AS DOUBLE) AS s
      FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
    ),
    per_s AS (
      SELECT g, s,
             CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn
      FROM base GROUP BY 1, 2
    ),
    ranked AS (
      SELECT g, cp, cn,
             2 * (SUM(cp + cn) OVER (PARTITION BY g ORDER BY s
                                     ROWS UNBOUNDED PRECEDING)
                  - (cp + cn)) + (cp + cn) + 1 AS midrank_x2
      FROM per_s
    ),
    agg AS (
      SELECT g, CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(cn) AS BIGINT) AS n_neg,
             CAST(SUM(cp * midrank_x2) AS BIGINT) AS r_pos2
      FROM ranked GROUP BY 1
    )
    SELECT g AS source, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE ROUND((CAST(r_pos2 AS DOUBLE) / 2.0e0
                            - CAST(n_pos AS DOUBLE)
                              * (CAST(n_pos AS DOUBLE) + 1.0e0) / 2.0e0)
                           / (CAST(n_pos AS DOUBLE)
                              * CAST(n_neg AS DOUBLE)), 6)
           END AS auc
    FROM agg
"""


@_q("q_roc_auc", _ROC_AUC_SQL)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of document length as an is-English score:
    the exact rank-based AUC via the Mann-Whitney identity
    ``AUC = U_pos / (n_pos * n_neg)`` with midrank tie handling — the
    ordering-quality evaluation a quality-classifier pipeline runs per
    slice (``q_calibration`` audits the probabilities; this audits the
    ranking).  The corpus collapses to per-(source, distinct score)
    class counts FIRST; the cumulative midrank window is partitioned
    by source over that collapsed table, never over raw rows."""
    from conte_to_fresco_etl_spark.operators.robust import roc_auc

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        (F.col("lang") == "en").cast("int").alias("is_en"),
        F.col("n_chars").cast("double").alias("len_score"),
    )
    return roc_auc(docs, "source", "is_en", "len_score")


# ---------------------------------------------------------------------------
# KMV sketch pairwise overlap (theta-sketch-style set intersection)
# ---------------------------------------------------------------------------

_KMV_OVERLAP_SQL = """
    WITH docs AS (SELECT source AS g, lower(text) AS t FROM documents),
    el AS (
      SELECT DISTINCT g,
             CAST('0x' || substr(md5('kmv:' || s), 1, 15) AS BIGINT) AS h
      FROM (
        SELECT g, unnest(list_distinct(list_transform(
                 generate_series(1, length(t) - 4), i -> substr(t, i, 5))))
               AS s
        FROM docs WHERE length(t) >= 5
      )
    ),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM el
      ) WHERE rn <= 64
    ),
    est AS (
      SELECT g, ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                      ELSE 63.0e0 / (CAST(mx AS DOUBLE)
                                     / 1152921504606846976.0e0)
                      END, 6) AS d
      FROM (SELECT g, COUNT(*) AS n, MAX(h) AS mx FROM sk GROUP BY 1)
    ),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb, a.d AS da, b.d AS db
      FROM est a JOIN est b ON a.g < b.g
    ),
    pu AS (
      SELECT DISTINCT ga, gb, h FROM (
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
      )
    ),
    uest AS (
      SELECT ga, gb, ROUND(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
                      ELSE 63.0e0 / (CAST(mxu AS DOUBLE)
                                     / 1152921504606846976.0e0)
                      END, 6) AS du
      FROM (
        SELECT ga, gb, COUNT(*) AS nu, MAX(h) AS mxu FROM (
          SELECT ga, gb, h,
                 ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
          FROM pu
        ) WHERE rn <= 64 GROUP BY 1, 2
      )
    )
    SELECT ga AS source_a, gb AS source_b, da AS est_a, db AS est_b,
           du AS est_union,
           ROUND(GREATEST(0.0e0, da + db - du), 6) AS est_intersection,
           ROUND(CASE WHEN du <> 0.0e0
                      THEN ROUND(GREATEST(0.0e0, da + db - du), 6) / du
                 END, 6) AS jaccard_est
    FROM pairs JOIN uest USING (ga, gb)
"""


@_q("q_kmv_overlap", _KMV_OVERLAP_SQL)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between all 20 sources from k=64 KMV
    sketches over 5-char shingles: per-source distinct estimates,
    union estimates from the merged sketch, inclusion-exclusion
    intersection, Jaccard — the theta-sketch set-intersection product
    HLL cannot provide.  The k-min cut runs as WindowGroupLimit
    (map-side partial top-k; the shuffle never carries a full distinct
    set); everything after is |sources| x 64 rows."""
    from conte_to_fresco_etl_spark.operators.rollup import kmv_overlap

    return kmv_overlap(
        _t(spark, sf_dir, "documents"),
        group_col="source",
        text_col="text",
        k=64,
        shingle_n=5,
        seed="kmv",
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth (corpus saturation audit)
# ---------------------------------------------------------------------------

_VOCAB_GROWTH_SQL = """
    WITH toks AS (
      SELECT doc_id AS i, {tokens} AS tk FROM documents
    ),
    first_occ AS (
      SELECT t, MIN(i) AS first_doc FROM (
        SELECT i, unnest(list_distinct(tk)) AS t FROM toks
      ) GROUP BY 1
    ),
    new_v AS (
      SELECT CAST(floor(first_doc / 25) AS BIGINT) AS bucket,
             COUNT(*) AS nv
      FROM first_occ GROUP BY 1
    ),
    per_b AS (
      SELECT CAST(floor(i / 25) AS BIGINT) AS bucket, COUNT(*) AS docs,
             SUM(len(tk)) AS toks
      FROM toks GROUP BY 1
    ),
    cum AS (
      SELECT bucket,
             CAST(SUM(docs) OVER w AS BIGINT) AS docs_cum,
             CAST(SUM(toks) OVER w AS BIGINT) AS tokens_cum,
             CAST(SUM(COALESCE(nv, 0)) OVER w AS BIGINT) AS vocab_cum
      FROM per_b LEFT JOIN new_v USING (bucket)
      WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
    ),
    pts AS (
      SELECT ln(CAST(tokens_cum AS DOUBLE)) AS x,
             ln(CAST(vocab_cum AS DOUBLE)) AS y
      FROM cum WHERE tokens_cum > 0 AND vocab_cum > 0
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS np,
             CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sx,
             CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxx
      FROM pts
    ),
    sel AS (
      SELECT bucket, docs_cum, tokens_cum, vocab_cum, np, sx, sy,
             CASE WHEN np * sxx - sx * sx = 0.0e0 THEN NULL
                  ELSE (np * sxy - sx * sy) / (np * sxx - sx * sx)
             END AS beta_raw
      FROM cum CROSS JOIN mom
    )
    SELECT bucket, docs_cum, tokens_cum, vocab_cum,
           ROUND(beta_raw, 6) AS heaps_beta,
           ROUND(exp((sy - beta_raw * sx) / np), 6) AS heaps_k
    FROM sel
"""


@_q("q_vocab_growth", _VOCAB_GROWTH_SQL.format(tokens=_sql_tokens()))
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law corpus saturation audit: cumulative vocabulary V(n) vs
    cumulative tokens N(n) over 25-doc buckets plus the fitted log-log
    exponent beta and coefficient K — flattening growth (low beta) is
    the macro duplication/saturation signal.  One (token, min doc)
    aggregation over the distinct-token explode; cumulative windows and
    the ROUND(12)/decimal-summed regression run on the bucket table."""
    from conte_to_fresco_etl_spark.operators.text_analysis import vocab_growth

    return vocab_growth(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        bucket_size=25,
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval signals
# ---------------------------------------------------------------------------

_RRF_FUSION_SQL = """
    WITH toks AS (
      SELECT source, doc_id, {tokens} AS tk,
             CAST(n_chars AS DOUBLE) AS s1
      FROM documents
    ),
    sc AS (
      SELECT source, doc_id, s1,
             CASE WHEN len(tk) = 0 THEN 0.0e0
                  ELSE ROUND(CAST(len(list_distinct(tk)) AS DOUBLE)
                             / CAST(len(tk) AS DOUBLE), 6) END AS s2
      FROM toks
    ),
    rk AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY s1 DESC, doc_id ASC) AS rank_1,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY s2 DESC, doc_id ASC) AS rank_2
      FROM sc
    ),
    f AS (
      SELECT source, doc_id, rank_1, rank_2,
             ROUND(1.0e0 / (60.0e0 + CAST(rank_1 AS DOUBLE))
                   + 1.0e0 / (60.0e0 + CAST(rank_2 AS DOUBLE)), 6)
               AS rrf_score
      FROM rk
    )
    SELECT source, doc_id, CAST(rank_1 AS BIGINT) AS rank_1,
           CAST(rank_2 AS BIGINT) AS rank_2, rrf_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY rrf_score DESC, doc_id ASC)
               AS tp
      FROM f
    ) WHERE tp <= 5
"""


@_q("q_rrf_fusion", _RRF_FUSION_SQL.format(tokens=_sql_tokens()))
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per source by reciprocal-rank fusion of two
    incomparable signals — raw length (n_chars) and lexical uniqueness
    (distinct/total token ratio): ``1/(60+r1) + 1/(60+r2)`` with
    deterministic (score DESC, doc_id) ranks.  The score-free merge
    step a retrieval stack puts above BM25 + embedding rankers; every
    window is source-partitioned and the top-k cuts execute as
    WindowGroupLimit."""
    from conte_to_fresco_etl_spark.operators.text_analysis import rrf_fuse

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.col("n_chars").cast("double").alias("len_score"),
        F.col("text").alias("text"),
    )
    from conte_to_fresco_etl_spark.functions.text import tokens as _tokens

    tk = _tokens(F.col("text"))
    scored = docs.select(
        "source",
        "doc_id",
        "len_score",
        F.when(F.size(tk) == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.size(F.array_distinct(tk)).cast("double")
                / F.size(tk).cast("double"),
                6,
            )
        )
        .alias("uniq_score"),
    )
    return rrf_fuse(
        scored,
        group_col="source",
        id_col="doc_id",
        score_cols=["len_score", "uniq_score"],
        k0=60,
        topk=5,
    )


# ---------------------------------------------------------------------------
# Jaro-Winkler fuzzy-string linkage over blocked part names
# ---------------------------------------------------------------------------

_JARO_SNM_WINDOW = 4

_JARO_LINKAGE_SQL = f"""
    WITH p AS (
      SELECT p_partkey AS id, p_name AS s
      FROM part WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
    ),
    led AS (
      SELECT id,
             {', '.join(
                 f"lead(id, {o}) OVER (PARTITION BY substr(s, 1, 4) "
                 f"ORDER BY s, id) AS n{o}"
                 for o in range(1, _JARO_SNM_WINDOW))}
      FROM p
    ),
    cand AS (
      {' UNION ALL '.join(
          f"SELECT LEAST(id, n{o}) AS id_a, GREATEST(id, n{o}) AS id_b "
          f"FROM led WHERE n{o} IS NOT NULL"
          for o in range(1, _JARO_SNM_WINDOW))}
    )
    SELECT c.id_a AS key_a, c.id_b AS key_b,
           ROUND(jaro_winkler_similarity(a.s, b2.s), 6) AS jw
    FROM cand c
    JOIN p a ON c.id_a = a.id
    JOIN p b2 ON c.id_b = b2.id
    WHERE ROUND(jaro_winkler_similarity(a.s, b2.s), 6)
          >= CAST('0.5' AS DOUBLE)
"""


@_q("q_jaro_linkage", _JARO_LINKAGE_SQL)
def q_jaro_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-name linkage candidates: Jaro-Winkler >= 0.5 between part
    names and their sorted-neighborhood successors (name-sorted SNM,
    each record vs its 3 successors — n·(w−1) candidates, linear in
    the corpus; the (brand, size) equality block this replaces grew
    Σ block² quadratically at 100×).  Prefix-sorted neighbors are also
    the semantically right candidates for a prefix-BOOSTED metric —
    Winkler's boost rewards exactly the shared prefixes the sort
    clusters.  The oracle is DuckDB's OWN jaro_winkler_similarity — an
    independently-written implementation, not a mirror — so the gate
    pins the textbook semantics (floor-halved transpositions, 0.7
    boost threshold, 4-char prefix cap) to 6 decimals on every
    candidate pair.  The JW kernel runs as an Arrow-batched pandas UDF
    map-side over the candidate joins."""
    from conte_to_fresco_etl_spark.operators.linkage import (
        jaro_winkler_pairs,
        snm_window_pairs,
    )

    part = _t(spark, sf_dir, "part").filter(
        F.col("p_partkey").isNotNull() & F.col("p_name").isNotNull()
    )
    cand = snm_window_pairs(
        part,
        "p_partkey",
        F.col("p_name"),
        window=_JARO_SNM_WINDOW,
        part_len=4,
    )
    return jaro_winkler_pairs(
        part,
        id_col="p_partkey",
        text_col="p_name",
        threshold=0.5,
        candidates=cand,
    )


# ---------------------------------------------------------------------------
# k-core decomposition over the user co-occurrence graph
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 16


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled peel oracle (one alive/edges CTE pair per round, all
    MATERIALIZED — DuckDB inlines plain CTEs and a 16-deep recurrence
    re-evaluates the co-occurrence self-join exponentially).  Peeling
    is monotone: once stable, further rounds are no-ops, so any unroll
    depth >= the true convergence depth is exact (the operator
    early-stops on a stable edge count for the same reason)."""
    parts = [
        """
    WITH posts AS MATERIALIZED (
      SELECT DISTINCT user_id AS kk, date_trunc('hour', ts) AS ctx
      FROM events WHERE user_id < 40
    ),
    eu AS MATERIALIZED (
      SELECT a.kk AS u, b.kk AS v
      FROM posts a JOIN posts b ON a.ctx = b.ctx AND a.kk < b.kk
      GROUP BY 1, 2
      HAVING COUNT(*) >= 10
    ),
    e0 AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM eu
      UNION ALL
      SELECT v, u FROM eu
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    a{r} AS MATERIALIZED (
      SELECT src FROM e{r - 1} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    e{r} AS MATERIALIZED (
      SELECT t.src, t.dst
      FROM e{r - 1} t
      JOIN a{r} x ON t.src = x.src
      JOIN a{r} y ON t.dst = y.src
    )"""
        )
    parts.append(
        f""",
    nodes AS (SELECT DISTINCT src AS node FROM e0),
    cd AS (
      SELECT src AS node, COUNT(*) AS core_deg FROM e{rounds} GROUP BY 1
    )
    SELECT n.node, CAST(COALESCE(cd.core_deg, 0) AS BIGINT) AS core_deg,
           COALESCE(cd.core_deg, 0) >= {k} AS in_core
    FROM nodes n LEFT JOIN cd USING (node)
"""
    )
    return "".join(parts)


@_q("q_kcore", _kcore_sql())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the hour-bucket user co-occurrence graph: iteratively
    peel nodes with < 2 surviving neighbors until stable.  The dense
    core of a co-occurrence (or near-dup) graph is the template-farm /
    bot-ring signal that per-edge thresholds miss; the periphery is
    incidental overlap.  Each peel round is one degree aggregate plus
    two node-keyed semi-joins over the shrinking edge set."""
    from conte_to_fresco_etl_spark.operators.graph import (
        cooccurrence_edges,
        kcore,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=10,
    )
    return kcore(
        edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS,
        broadcast_alive=True,  # |nodes| <= 40: dimension-sized
    )


# ---------------------------------------------------------------------------
# Holt double-exponential-smoothing forecast of daily event volume
# ---------------------------------------------------------------------------

_HOLT_ALPHA, _HOLT_BETA, _HOLT_H = 0.5, 0.3, 7


def _holt_sql(
    alpha: float = _HOLT_ALPHA, beta: float = _HOLT_BETA, h: int = _HOLT_H
) -> str:
    """Recursive-CTE oracle for the Holt recurrence: one row per
    (key, t) walks the ROW_NUMBER-indexed daily series, each step
    ROUND(x, 12)-pinned exactly like the operator's fold.  alpha/beta
    and their complements are repr'd double literals in both engines
    (DuckDB folds ``1 - 0.3`` in DECIMAL to exactly 0.7; Spark's
    double fold differs — precomputing in Python pins both)."""
    a, b = repr(float(alpha)), repr(float(beta))
    oa, ob = repr(1.0 - float(alpha)), repr(1.0 - float(beta))
    a, oa = f"CAST({a} AS DOUBLE)", f"CAST({oa} AS DOUBLE)"
    b, ob = f"CAST({b} AS DOUBLE)", f"CAST({ob} AS DOUBLE)"
    new_l = f"ROUND({a} * i.y + {oa} * (r.l + r.b), 12)"
    return f"""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT event_type AS key, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS MATERIALIZED (
      SELECT key, ROW_NUMBER() OVER (PARTITION BY key ORDER BY day) AS t,
             y
      FROM d
    ),
    nn AS MATERIALIZED (
      SELECT key, MAX(t) AS n FROM idx GROUP BY 1 HAVING MAX(t) >= 2
    ),
    rec(key, t, l, b) AS (
      SELECT i1.key, CAST(1 AS BIGINT), i1.y, i2.y - i1.y
      FROM idx i1
      JOIN idx i2 ON i1.key = i2.key AND i1.t = 1 AND i2.t = 2
      JOIN nn ON nn.key = i1.key
      UNION ALL
      SELECT r.key, r.t + 1,
             {new_l},
             ROUND({b} * ({new_l} - r.l) + {ob} * r.b, 12)
      FROM rec r JOIN idx i ON i.key = r.key AND i.t = r.t + 1
    ),
    fitted AS (
      SELECT r.key, r.l, r.b FROM rec r JOIN nn ON nn.key = r.key
      WHERE r.t = nn.n
    )
    SELECT key, CAST(g.h AS INT) AS h,
           ROUND(l + CAST(g.h AS DOUBLE) * b, 6) AS forecast,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend
    FROM fitted, generate_series(1, {h}) AS g(h)
"""


@_q("q_holt_forecast", _holt_sql())
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of each event type's daily volume
    with a 7-day linear forecast — the capacity-planning projection
    for ingest volume.  One (key, day) count shuffle collapses the
    corpus, then the inherently sequential recurrence folds over the
    bounded per-key day series via F.aggregate (array order, never a
    global window); the forecast explode is map-side."""
    from conte_to_fresco_etl_spark.operators.gapfill import holt_forecast

    return holt_forecast(
        _events(spark, sf_dir),
        key_col="event_type",
        ts_col="ts",
        alpha=_HOLT_ALPHA,
        beta=_HOLT_BETA,
        horizon=_HOLT_H,
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (time to first error, right-censored)
# ---------------------------------------------------------------------------

_SURVIVAL_KM_SQL = """
    WITH per_user AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS t0,
             MAX(epoch_us(ts)) AS t1,
             MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
      FROM events GROUP BY 1
    ),
    subj AS (
      SELECT CAST(FLOOR((COALESCE(te, t1) - t0) / 3600000000.0) AS BIGINT)
               AS t,
             (te IS NOT NULL) AS obs
      FROM per_user
    ),
    per_t AS (
      SELECT t,
             SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
             SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS c
      FROM subj GROUP BY 1
    ),
    risk AS (
      SELECT t, d, c,
             SUM(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS n_risk
      FROM per_t
    ),
    stepped AS (
      SELECT t, n_risk, d, c,
             CASE WHEN d > 0 AND d < n_risk
                  THEN LN(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                  ELSE 0.0 END AS log_term,
             CASE WHEN d > 0 AND d < n_risk
                  THEN CAST(d AS DOUBLE)
                       / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE))
                  ELSE 0.0 END AS gw_term,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
      FROM risk
    ),
    cum AS (
      SELECT t, n_risk, d, c,
             SUM(log_term) OVER w AS log_s,
             SUM(gw_term) OVER w AS gw,
             MAX(dead) OVER w AS extinct
      FROM stepped
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT CAST(t AS BIGINT) AS duration,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE ROUND(EXP(log_s), 6) END AS survival,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE ROUND(EXP(log_s) * SQRT(gw), 6) END AS std_err
    FROM cum
"""


@_q("q_survival_km", _SURVIVAL_KM_SQL)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-error curve over the event stream:
    each user's duration runs from their first event to their first
    'error' (observed) or to their last event (right-censored), in
    whole hours.  One groupBy(user) collapses the stream to subjects;
    :func:`kaplan_meier` then collapses subjects to the per-distinct-
    duration table before any window touches data — survival and
    Greenwood SE are ordered-window sums over that dimension-sized
    table, identical fp walk to the oracle's."""
    from conte_to_fresco_etl_spark.operators.robust import kaplan_meier

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.max(us).alias("t1"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    subj = per_user.select(
        F.floor(
            (F.coalesce(F.col("te"), F.col("t1")) - F.col("t0"))
            / F.lit(3600000000.0)
        ).alias("duration_h"),
        F.col("te").isNotNull().alias("observed"),
    )
    return kaplan_meier(subj, "duration_h", "observed")


# ---------------------------------------------------------------------------
# Off-policy evaluation (IPS / SNIPS / ESS) of a uniform target policy
# ---------------------------------------------------------------------------

_IPS_SQL = """
    WITH base AS (
      SELECT user_id % 4 AS sl, event_type AS a, CAST(value AS DOUBLE) AS r
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    prop AS (SELECT sl, a, COUNT(*) AS c_sa FROM base GROUP BY 1, 2),
    sl_tot AS (SELECT sl, SUM(c_sa) AS c_s FROM prop GROUP BY 1),
    k_tot AS (
      SELECT CAST(COUNT(DISTINCT a) AS DOUBLE) AS k FROM prop
    ),
    weighted AS (
      SELECT b.sl, b.r,
             CAST(t.c_s AS DOUBLE) / (k.k * CAST(p.c_sa AS DOUBLE)) AS w
      FROM base b
      JOIN prop p USING (sl, a)
      JOIN sl_tot t USING (sl)
      CROSS JOIN k_tot k
    ),
    agg AS (
      SELECT sl, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(w, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sw,
             CAST(SUM(CAST(ROUND(w * r, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS swr,
             CAST(SUM(CAST(ROUND(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sw2
      FROM weighted GROUP BY 1
    )
    SELECT CAST(sl AS BIGINT) AS user_cohort,
           CAST(n AS BIGINT) AS n,
           ROUND(swr / CAST(n AS DOUBLE), 6) AS ips_value,
           ROUND(swr / sw, 6) AS snips_value,
           ROUND(sw * sw / sw2, 6) AS ess
    FROM agg
"""


@_q("q_ips_offpolicy", _IPS_SQL)
def q_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPS/SNIPS value of a uniform event-routing policy per user
    cohort (user_id % 4), propensities estimated from the logged
    (cohort, event_type) frequencies: one count shuffle for
    propensities, dimension-sized broadcasts back, one decimal-summed
    reduce over the log."""
    from conte_to_fresco_etl_spark.operators.robust import ips_offpolicy

    ev = (
        _events(spark, sf_dir)
        .select(
            F.pmod(F.col("user_id"), F.lit(4)).alias("user_cohort"),
            "event_type",
            "value",
        )
    )
    return ips_offpolicy(
        ev, slice_col="user_cohort", action_col="event_type",
        reward_col="value",
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------

#: cumulative split cutoffs in PYTHON float arithmetic, embedded exactly
#: (repr round-trips) — same discipline as catalog_text._SPLIT_CUTS.
_CONF_CUTS = (repr(0.5), repr(0.5 + 0.25))

_CONFORMAL_SQL = f"""
    WITH sp AS (
      SELECT event_type, value,
             EXTRACT(hour FROM ts) AS hod,
             CASE WHEN bb < {_CONF_CUTS[0]} THEN 'train'
                  WHEN bb < {_CONF_CUTS[1]} THEN 'cal'
                  ELSE 'test' END AS split
      FROM (
        SELECT *,
               CAST(CAST('0x' || substr(
                      md5('42:' || CAST(event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS DOUBLE) / power(16.0, 15) AS bb
        FROM events
      )
    ),
    model AS (
      SELECT event_type, hod,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS pred
      FROM sp WHERE split = 'train' GROUP BY 1, 2
    ),
    res AS (
      SELECT s.event_type AS g, s.split AS spl,
             ROUND(ABS(CAST(s.value AS DOUBLE) - m.pred), 6) AS r
      FROM sp s JOIN model m USING (event_type, hod)
      WHERE s.split IN ('cal', 'test')
    ),
    per_r AS (
      SELECT g, r, COUNT(*) AS c FROM res WHERE spl = 'cal' GROUP BY 1, 2
    ),
    tot AS (SELECT g, SUM(c) AS n_cal FROM per_r GROUP BY 1),
    cum AS (
      SELECT g, r,
             SUM(c) OVER (PARTITION BY g ORDER BY r
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM per_r
    ),
    q AS (
      SELECT c.g, t.n_cal, MIN(c.r) AS q_alpha
      FROM cum c JOIN tot t USING (g)
      WHERE c.cumc >= CAST(CEIL(CAST(t.n_cal + 1 AS DOUBLE) * 0.9)
                           AS BIGINT)
      GROUP BY 1, 2
    ),
    cover AS (
      SELECT res.g, q.q_alpha, COUNT(*) AS n_test,
             SUM(CASE WHEN res.r <= q.q_alpha THEN 1 ELSE 0 END) AS n_in
      FROM res JOIN q USING (g) WHERE res.spl = 'test'
      GROUP BY 1, 2
    )
    SELECT t.g AS event_type,
           CAST(t.n_cal AS BIGINT) AS n_cal,
           CAST(COALESCE(c.n_test, 0) AS BIGINT) AS n_test,
           c.q_alpha,
           ROUND(CAST(c.n_in AS DOUBLE) / CAST(c.n_test AS DOUBLE), 6)
             AS coverage
    FROM tot t LEFT JOIN cover c ON t.g = c.g
"""


@_q("q_conformal_interval", _CONFORMAL_SQL)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal ±band per event type around the (type,
    hour-of-day) train-split mean predictor: hash-stable 50/25/25
    train/cal/test splits, 120-row model broadcast back, calibration
    residuals collapsed to the per-distinct-value count table before
    the order-statistic window, held-out coverage ≳ 90% by
    construction."""
    from pyspark.sql.functions import broadcast

    from conte_to_fresco_etl_spark.operators.robust import (
        conformal_intervals,
    )
    from conte_to_fresco_etl_spark.validation import assign_splits

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", "value", F.hour("ts").alias("hod")
    )
    sp = assign_splits(
        ev,
        key_col="event_id",
        weights={"train": 0.5, "cal": 0.25, "test": 0.25},
    )
    model = (
        sp.filter(F.col("split") == "train")
        .groupBy("event_type", "hod")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                6,
            ).alias("pred")
        )
    )
    joined = sp.filter(F.col("split").isin("cal", "test")).join(
        broadcast(model), ["event_type", "hod"]
    )
    return conformal_intervals(
        joined,
        group_col="event_type",
        pred_col="pred",
        value_col="value",
        split_col="split",
        alpha=0.1,
    )


# ---------------------------------------------------------------------------
# Randomized response (local-DP prevalence estimate)
# ---------------------------------------------------------------------------

_RR_SQL = """
    WITH base AS (
      SELECT source AS g, doc_id,
             (lang = 'en') AS truth,
             CAST(CAST('0x' || substr(
                    md5('rr:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / power(16.0, 15) AS u
      FROM documents
    ),
    rep AS (
      SELECT g, truth,
             CASE WHEN u < CAST(0.75 AS DOUBLE) THEN truth
                  ELSE NOT truth END AS reported
      FROM base
    ),
    agg AS (
      SELECT g, COUNT(*) AS n,
             SUM(CASE WHEN reported THEN 1 ELSE 0 END) AS rep,
             SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS tru
      FROM rep GROUP BY 1
    )
    SELECT g AS source,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(rep AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS reported_rate,
           ROUND((CAST(rep AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(0.25 AS DOUBLE)) / CAST(0.5 AS DOUBLE), 6)
             AS estimated_rate,
           ROUND(CAST(tru AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS true_rate
    FROM agg
"""


@_q("q_randomized_response", _RR_SQL)
def q_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP prevalence of English documents per source via Warner
    randomized response (p = 0.75): hash-stable per-row flips, one
    map-combinable group aggregation, debiased estimate next to the
    test-scale truth column."""
    from conte_to_fresco_etl_spark.operators.pii import randomized_response

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("lang") == "en").alias("is_en")
    )
    return randomized_response(
        docs,
        group_col="source",
        flag_col="is_en",
        id_col="doc_id",
        p_true=0.75,
        seed="rr",
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes beta-binomial rate shrinkage
# ---------------------------------------------------------------------------

_EB_SQL = """
    WITH per_key AS (
      SELECT user_id AS key, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k
      FROM events GROUP BY 1
    ),
    rates AS (
      SELECT ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 12) AS r
      FROM per_key
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nk,
             CAST(SUM(CAST(ROUND(r, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS sr,
             CAST(SUM(CAST(ROUND(r * r, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sr2
      FROM rates
    ),
    prior AS (
      SELECT CASE WHEN v > 0.0e0 AND m * (1.0e0 - m) / v - 1.0e0 > 0.0e0
                  THEN ROUND(m * (m * (1.0e0 - m) / v - 1.0e0), 12)
             END AS alpha,
             CASE WHEN v > 0.0e0 AND m * (1.0e0 - m) / v - 1.0e0 > 0.0e0
                  THEN ROUND((1.0e0 - m)
                             * (m * (1.0e0 - m) / v - 1.0e0), 12)
             END AS beta
      FROM (
        SELECT sr / nk AS m, sr2 / nk - (sr / nk) * (sr / nk) AS v
        FROM mom
      )
    )
    SELECT CAST(key AS BIGINT) AS user_id,
           CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
           ROUND(CASE WHEN alpha IS NOT NULL
                      THEN (CAST(k AS DOUBLE) + alpha)
                           / (CAST(n AS DOUBLE) + alpha + beta)
                      ELSE CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
             AS shrunk_rate,
           ROUND(alpha, 6) AS alpha,
           ROUND(beta, 6) AS beta
    FROM per_key CROSS JOIN prior
"""


@_q("q_eb_shrinkage", _EB_SQL)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user click-rate leaderboard with empirical-Bayes
    beta-binomial shrinkage: one (user) collapse, ROUND(12)/decimal
    prior moments, 1-row prior broadcast back — small-n users pull
    toward the corpus rate instead of topping the board at 1/1."""
    from conte_to_fresco_etl_spark.operators.robust import eb_shrinkage

    ev = _events(spark, sf_dir)
    return eb_shrinkage(
        ev, key_col="user_id",
        success_col=(F.col("event_type") == "click"),
    )


# ---------------------------------------------------------------------------
# Absorbing-Markov-chain conversion probability
# ---------------------------------------------------------------------------

_MARKOV_ROUND_SQL = """
    v{r} AS (
      SELECT st.state,
             CASE WHEN st.state = 'purchase' THEN CAST(1.0 AS DOUBLE)
                  WHEN st.state = 'error' THEN CAST(0.0 AS DOUBLE)
                  ELSE COALESCE((
                    SELECT ROUND(CAST(SUM(CAST(ROUND(t.p * v.pw, 12)
                                   AS DECIMAL(38,12))) AS DOUBLE), 12)
                    FROM t JOIN v{p} v ON t.d = v.state
                    WHERE t.s = st.state), CAST(0.0 AS DOUBLE))
             END AS pw
      FROM states st
    )"""


def _markov_sql(rounds: int = 12) -> str:
    body = ",".join(
        _MARKOV_ROUND_SQL.format(r=r, p=r - 1) for r in range(1, rounds + 1)
    )
    return f"""
    WITH trans AS ({_TRANSITIONS_SQL}),
    t AS (
      SELECT src AS s, dst AS d, CAST(prob AS DOUBLE) AS p
      FROM trans WHERE src NOT IN ('purchase', 'error')
    ),
    states AS (
      SELECT DISTINCT state FROM (
        SELECT s AS state FROM t UNION ALL SELECT d AS state FROM t
      )
    ),
    v0 AS (
      SELECT state,
             CASE WHEN state = 'purchase' THEN CAST(1.0 AS DOUBLE)
                  WHEN state = 'error' THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS pw
      FROM states
    ),
    {body}
    SELECT state, ROUND(pw, 6) AS p_win FROM v{rounds}
"""


@_q("q_markov_absorption", _markov_sql(12))
def q_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability each event-type state converts (reaches 'purchase')
    before erroring, within 12 steps of the observed first-order
    transition chain: 12 fixed-point rounds over the collapsed
    |states|²-row transition table (tiny joins + per-src decimal sums,
    lazy checkpoints), the raw stream touched only by the transition
    build — the absorbing-chain primitive behind Markov attribution."""
    from conte_to_fresco_etl_spark.operators.graph import (
        event_transitions,
        markov_absorption,
    )

    trans = event_transitions(_events(spark, sf_dir))
    return markov_absorption(
        trans, win_state="purchase", lose_state="error", iterations=12
    )


# ---------------------------------------------------------------------------
# Mixture SPRT (always-valid sequential A/B inference)
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 1.0
_MSPRT_ALPHA = 0.05
_MSPRT_CRIT = 2.995732273553991  # ln(1/alpha), alpha = 0.05

_MSPRT_SQL = f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             SUM(CASE WHEN user_id % 2 = 0
                      THEN CAST(value AS DECIMAL(18,4)) END) AS sa,
             COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS na,
             SUM(CASE WHEN user_id % 2 = 1
                      THEN CAST(value AS DECIMAL(18,4)) END) AS sb,
             COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS nb
      FROM events
      WHERE value IS NOT NULL AND event_type = 'click'
      GROUP BY 1
    ),
    dd AS (
      SELECT day,
             CAST(ROUND(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                        - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS dq
      FROM daily WHERE na > 0 AND nb > 0
    ),
    cum AS (
      SELECT day,
             CAST(SUM(dq) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS sn,
             CAST(SUM(CAST(dq * dq AS DECIMAL(38,12)))
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS DOUBLE) AS s2,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS n
      FROM dd
    ),
    j AS (
      SELECT day, n, sn,
             CASE WHEN n >= 2 THEN
               (s2 - CAST(n AS DOUBLE)
                     * (sn / CAST(n AS DOUBLE))
                     * (sn / CAST(n AS DOUBLE)))
               / (CAST(n AS DOUBLE) - 1.0e0)
             END AS var2
      FROM cum
    ),
    ll AS (
      SELECT day, n AS n_days, ROUND(sn, 6) AS cum_diff,
             CASE WHEN n >= 2 AND var2 > 0.0e0 THEN ROUND(
               0.5e0 * ln(var2 / (var2
                                  + CAST(n AS DOUBLE)
                                    * CAST('{_MSPRT_TAU2!r}' AS DOUBLE)))
               + CAST('{_MSPRT_TAU2!r}' AS DOUBLE) * sn * sn
                 / (2.0e0 * var2
                    * (var2 + CAST(n AS DOUBLE)
                              * CAST('{_MSPRT_TAU2!r}' AS DOUBLE))), 6)
             END AS log_lambda
      FROM j
    )
    SELECT day, n_days, cum_diff, log_lambda,
           MAX(log_lambda) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW)
             >= CAST('{_MSPRT_CRIT!r}' AS DOUBLE) AS reject_h0
    FROM ll
"""


@_q("q_msprt", _MSPRT_SQL)
def q_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B inference (mSPRT) on the daily mean
    click-value difference between the user-parity variants: the
    mixture likelihood ratio per day plus the monotone running
    reject-at-5% decision — the peeking-safe complement to the gated
    fixed-horizon Welch/bootstrap/permutation tests.  One map-side
    aggregation collapses the stream to (variant, day) decimal sums;
    sigma^2 at day n is the RUNNING variance of the first n diffs
    (quantize-then-square on the SAME ROUND(6) value) so each replayed
    decision conditions only on data seen so far — strict
    always-validity (r8; ADVICE r7); every window runs over the
    collapsed daily table."""
    from conte_to_fresco_etl_spark.operators.robust import msprt

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    return msprt(
        ev.withColumn("variant", F.col("user_id") % 2),
        "variant",
        "value",
        "ts",
        0,
        1,
        tau2=_MSPRT_TAU2,
        alpha=_MSPRT_ALPHA,
    )


# ---------------------------------------------------------------------------
# Logistic-regression training by full-batch gradient descent
# ---------------------------------------------------------------------------

_LOGREG_STEPS = 6
_LOGREG_LR = 1.0


def _logreg_sql(steps: int = _LOGREG_STEPS, lr: float = _LOGREG_LR) -> str:
    """Unrolled GD oracle: one gradient-aggregation CTE + one
    weight-update CTE per step, every per-row contribution ROUND(9) +
    DECIMAL-summed, weight updates the identical double expression the
    Spark driver loop computes.  Accuracy compares the logit SIGN
    (z >= 0 <=> p >= 0.5 exactly) so no sigmoid sits on a decision
    boundary."""
    names = ["x1", "x2", "x3"]
    nj = range(1, len(names) + 1)
    parts = ["""
    WITH f AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
             ROUND(ln(CAST(n_chars AS DOUBLE) + 1.0e0), 6) AS x1,
             ROUND((CAST(length(text) AS DOUBLE)
                    - CAST(length(replace(text, ' ', '')) AS DOUBLE))
                   / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS x2,
             ROUND(CAST(length(regexp_replace(lower(text),
                                              '[^aeiou]', '', 'g'))
                        AS DOUBLE)
                   / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS x3
      FROM documents
    ),
    st1 AS (
      SELECT COUNT(*) AS n,
             {sums}
      FROM f
    ),
    st2 AS (
      SELECT n,
             {mus},
             {qs}
      FROM st1
    ),
    st3 AS (
      SELECT {stds}
      FROM st2
    ),
    fs AS (
      SELECT f.y,
             {zs}
      FROM f CROSS JOIN st3 st
    ),
    s0 AS (SELECT CAST(0 AS DOUBLE) AS b,
                  CAST(0 AS DOUBLE) AS w1,
                  CAST(0 AS DOUBLE) AS w2,
                  CAST(0 AS DOUBLE) AS w3)""".format(
        sums=", ".join(
            f"SUM(CAST(x{j} AS DECIMAL(18,6))) AS s{j}_, "
            f"SUM(CAST(CAST(x{j} AS DECIMAL(18,6))"
            f" * CAST(x{j} AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS q{j}_"
            for j in nj),
        mus=", ".join(
            f"CAST(s{j}_ AS DOUBLE) / CAST(n AS DOUBLE) AS mu{j}"
            for j in nj),
        qs=", ".join(f"CAST(q{j}_ AS DOUBLE) AS q{j}" for j in nj),
        stds=", ".join(
            f"mu{j}, GREATEST(sqrt(GREATEST((q{j} - CAST(n AS DOUBLE)"
            f" * mu{j} * mu{j}) / CAST(n AS DOUBLE), 0.0e0)),"
            f" CAST('1e-09' AS DOUBLE)) AS sd{j}"
            for j in nj),
        zs=", ".join(
            f"ROUND((f.x{j} - st.mu{j}) / st.sd{j}, 6) AS x{j}"
            for j in nj),
    )]
    z = "(s.b + s.w1 * f.x1 + s.w2 * f.x2 + s.w3 * f.x3)"
    p = f"(1.0e0 / (1.0e0 + exp(-{z})))"
    gsum = (
        "CAST(SUM(CAST(ROUND({expr}, 9) AS DECIMAL(28,9))) AS DOUBLE)"
    )
    for k in range(1, steps + 1):
        grads = ", ".join(
            gsum.format(expr=f"({p} - CAST(f.y AS DOUBLE)) * f.x{j}")
            + f" AS g{j}"
            for j in range(1, len(names) + 1)
        )
        parts.append(f""",
    g{k} AS (
      SELECT COUNT(*) AS n,
             {gsum.format(expr=f"{p} - CAST(f.y AS DOUBLE)")} AS gb,
             {grads}
      FROM fs f CROSS JOIN s{k - 1} s
    ),
    s{k} AS (
      SELECT s.b - CAST('{lr!r}' AS DOUBLE)
                   * (g.gb / CAST(g.n AS DOUBLE)) AS b,
             {', '.join(
                 f"s.w{j} - CAST('{lr!r}' AS DOUBLE)"
                 f" * (g.g{j} / CAST(g.n AS DOUBLE)) AS w{j}"
                 for j in range(1, len(names) + 1))}
      FROM g{k} g CROSS JOIN s{k - 1} s
    )""")
    ll = (
        f"-(CAST(f.y AS DOUBLE) * ln({p})"
        f" + (1.0e0 - CAST(f.y AS DOUBLE)) * ln(1.0e0 - {p}))"
    )
    parts.append(f""",
    m AS (
      SELECT ROUND({gsum.format(expr=ll)}
                   / CAST(COUNT(*) AS DOUBLE), 6) AS log_loss,
             ROUND(CAST(SUM(CASE WHEN ({z} >= 0.0e0) = (f.y = 1)
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
      FROM fs f CROSS JOIN s{steps} s
    )
    SELECT 'intercept' AS term, ROUND(b, 6) AS value FROM s{steps}
    UNION ALL SELECT 'x1', ROUND(w1, 6) FROM s{steps}
    UNION ALL SELECT 'x2', ROUND(w2, 6) FROM s{steps}
    UNION ALL SELECT 'x3', ROUND(w3, 6) FROM s{steps}
    UNION ALL SELECT 'log_loss', log_loss FROM m
    UNION ALL SELECT 'accuracy', accuracy FROM m""")
    return "".join(parts)


@_q("q_logreg_train", _logreg_sql())
def q_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING: 6 full-batch GD steps
    (z-scored features, lr = 1.0) fitting P(n_chars >= 300) from
    length/whitespace/vowel-density document features — a learnable
    label on this corpus (the synthetic langs share one vocabulary, so
    x1 carries real signal while x2/x3 are nuisance dimensions the fit
    must keep near zero), plus the trained model's log-loss and
    accuracy.  "Training as aggregation": each step is one
    map-combinable gradient pass; the driver sees d+2 numbers per
    step, the kmeans/PCA/BPE discipline.  The oracle unrolls the same
    standardization + steps in SQL, so the full optimization
    trajectory — not just the final fit — is gated."""
    from conte_to_fresco_etl_spark.operators.robust import (
        logistic_regression_gd,
    )

    docs = _t(spark, sf_dir, "documents")
    gt = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    feats = {
        "x1": F.log(F.col("n_chars").cast("double") + F.lit(1.0)),
        "x2": (
            F.length("text").cast("double")
            - F.expr("length(replace(text, ' ', ''))").cast("double")
        )
        / gt,
        "x3": F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", "")
        ).cast("double")
        / gt,
    }
    return logistic_regression_gd(
        docs,
        feats,
        F.col("n_chars") >= 300,
        lr=_LOGREG_LR,
        steps=_LOGREG_STEPS,
    )


# ---------------------------------------------------------------------------
# Inter-rater agreement / reliability family (r8): Cohen's kappa,
# Fleiss' kappa, McNemar, Cochran's Q, Cronbach's alpha — the
# annotation-quality statistics a labeling pipeline runs before
# trusting its raters (or its model-as-judge).
# ---------------------------------------------------------------------------

_KAPPA_SQL = """
    WITH r AS (
      SELECT LEAST(GREATEST(CAST(floor(value / 125.0) AS BIGINT), 0), 3)
               AS ra,
             CAST('0x' || substr(md5(props), 1, 15) AS BIGINT) % 4 AS rb
      FROM events WHERE value IS NOT NULL AND props IS NOT NULL
    ),
    cells AS (SELECT ra, rb, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
    obs AS (
      SELECT SUM(cnt) AS n,
             SUM(CASE WHEN ra = rb THEN cnt END) AS agree
      FROM cells
    ),
    rows_ AS (SELECT ra, SUM(cnt) AS row_n FROM cells GROUP BY 1),
    cols_ AS (SELECT rb, SUM(cnt) AS col_n FROM cells GROUP BY 1),
    pe AS (
      SELECT SUM(row_n * col_n) AS pe_num
      FROM rows_ JOIN cols_ ON ra = rb
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(COALESCE(agree, 0) AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS po,
           ROUND(CAST(pe_num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           ROUND(
             (CAST(COALESCE(agree, 0) AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(pe_num AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / NULLIF(1.0e0 - CAST(pe_num AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0e0),
             6) AS kappa
    FROM obs CROSS JOIN pe
"""


@_q("q_cohens_kappa", _KAPPA_SQL)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic event labelings (a
    value-band rater vs an md5-derived props rater): the contingency
    table collapses in one shuffle, marginals equi-join on the
    category, and the closing algebra crosses 1-row aggregates —
    every kappa input an integer count."""
    from conte_to_fresco_etl_spark.functions.text import md5_long
    from conte_to_fresco_etl_spark.operators.robust import cohens_kappa

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("props").isNotNull()
    )
    ra = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(125.0)), F.lit(0)),
        F.lit(3),
    ).cast("long")
    rb = md5_long(F.col("props")) % 4
    return cohens_kappa(ev, ra, rb)


_FLEISS_SQL = """
    WITH ratings AS (
      SELECT d.doc_id AS item,
             CAST('0x' || substr(
               md5('fl:' || CAST(r.r AS VARCHAR) || ':'
                   || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4
               AS cat
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS r) r
      WHERE d.doc_id IS NOT NULL
    ),
    cells AS (
      SELECT item, cat, COUNT(*) AS nik FROM ratings GROUP BY 1, 2
    ),
    per_item AS (
      SELECT item, SUM(nik) AS ni, SUM(nik * nik) AS sq
      FROM cells GROUP BY 1 HAVING SUM(nik) >= 2
    ),
    obs AS (
      SELECT COUNT(*) AS n_items, SUM(ni) AS n_ratings,
             SUM(CAST(ROUND(
               (CAST(sq AS DOUBLE) - CAST(ni AS DOUBLE))
               / (CAST(ni AS DOUBLE) * (CAST(ni AS DOUBLE) - 1.0e0)),
               9) AS DECIMAL(28,9))) AS p_sum
      FROM per_item
    ),
    tot AS (SELECT SUM(nik) AS tot_rat FROM cells),
    pe AS (
      SELECT SUM(CAST(
               ROUND(CAST(nk AS DOUBLE) / CAST(tot_rat AS DOUBLE), 9)
               * ROUND(CAST(nk AS DOUBLE) / CAST(tot_rat AS DOUBLE), 9)
               AS DECIMAL(28,18))) AS pe_sum
      FROM (SELECT cat, SUM(nik) AS nk FROM cells GROUP BY 1)
           CROSS JOIN tot
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(n_ratings AS BIGINT) AS n_ratings,
           ROUND(CAST(p_sum AS DOUBLE) / CAST(n_items AS DOUBLE), 6)
             AS p_bar,
           ROUND(CAST(pe_sum AS DOUBLE), 6) AS p_e,
           ROUND(
             (CAST(p_sum AS DOUBLE) / CAST(n_items AS DOUBLE)
              - CAST(pe_sum AS DOUBLE))
             / NULLIF(1.0e0 - CAST(pe_sum AS DOUBLE), 0.0e0), 6)
             AS kappa
    FROM obs CROSS JOIN pe
"""


@_q("q_fleiss_kappa", _FLEISS_SQL)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three deterministic md5 raters assigning
    each document one of four categories: the (item, category) count
    table collapses in one shuffle; per-item agreement is ROUND(9)
    decimal-summed; pooled category shares square the same quantized
    value they sum."""
    from conte_to_fresco_etl_spark.functions.text import md5_long
    from conte_to_fresco_etl_spark.operators.robust import fleiss_kappa

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    ratings = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("r")
    ).select(
        "doc_id",
        (
            md5_long(
                F.concat(
                    F.lit("fl:"),
                    F.col("r").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            )
            % 4
        ).alias("cat"),
    )
    return fleiss_kappa(ratings, "doc_id", "cat")


_MCNEMAR_SQL = """
    WITH per AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY 1
    ),
    agg AS (
      SELECT COUNT(*) AS n_subjects,
             SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
             SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10
      FROM per
    )
    SELECT CAST(n_subjects AS BIGINT) AS n_subjects,
           CAST(n01 AS BIGINT) AS n01,
           CAST(n10 AS BIGINT) AS n10,
           CASE WHEN n01 + n10 > 0 THEN ROUND(
             (abs(CAST(n10 - n01 AS DOUBLE)) - 1.0e0)
             * (abs(CAST(n10 - n01 AS DOUBLE)) - 1.0e0)
             / CAST(n10 + n01 AS DOUBLE), 6)
           END AS chi2
    FROM agg
"""


@_q("q_mcnemar", _MCNEMAR_SQL)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: per user, ever-clicked vs
    ever-purchased; only the discordant counts enter the
    continuity-corrected chi-square.  Two map-combinable aggregations,
    no joins, no windows."""
    from conte_to_fresco_etl_spark.operators.robust import mcnemar_test

    return mcnemar_test(
        _events(spark, sf_dir),
        "user_id",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )


_COCHRAN_SQL = """
    WITH pairs AS (
      SELECT DISTINCT user_id AS subj, event_type AS trt
      FROM events WHERE value >= 100.0 AND user_id IS NOT NULL
    ),
    li AS (SELECT subj, COUNT(*) AS l FROM pairs GROUP BY 1),
    sa AS (
      SELECT COUNT(*) AS n_subjects, SUM(l) AS sum_l,
             SUM(l * l) AS sum_l2
      FROM li
    ),
    gj AS (SELECT trt, COUNT(*) AS g FROM pairs GROUP BY 1),
    ta AS (SELECT SUM(g) AS sum_g, SUM(g * g) AS sum_g2 FROM gj)
    SELECT CAST(n_subjects AS BIGINT) AS n_subjects,
           CAST(5 AS BIGINT) AS k,
           CASE WHEN 5.0e0 * CAST(sum_l AS DOUBLE)
                     - CAST(sum_l2 AS DOUBLE) > 0 THEN ROUND(
             (5.0e0 - 1.0e0)
             * (5.0e0 * CAST(sum_g2 AS DOUBLE)
                - CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE))
             / (5.0e0 * CAST(sum_l AS DOUBLE) - CAST(sum_l2 AS DOUBLE)),
             6)
           END AS q_stat
    FROM sa CROSS JOIN ta
"""


@_q("q_cochran_q", _COCHRAN_SQL)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the five event types: a user is "positive"
    on a type when any such event reached value >= 100; all-positive
    and all-negative users drop out of the denominator by algebra,
    never by a filter."""
    from conte_to_fresco_etl_spark.operators.robust import cochran_q

    ev = _events(spark, sf_dir).filter(
        (F.col("value") >= 100.0) & F.col("user_id").isNotNull()
    )
    return cochran_q(ev, "user_id", "event_type", k=5)


_CRONBACH_SQL = """
    WITH cell AS (
      SELECT user_id AS subj, event_type AS item,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS v
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    nrow AS (
      SELECT COUNT(DISTINCT subj) AS n, COUNT(DISTINCT item) AS k
      FROM cell
    ),
    per_item AS (
      SELECT item, SUM(v) AS s1,
             SUM(CAST(v * v AS DECIMAL(38,12))) AS s2
      FROM cell GROUP BY 1
    ),
    items_v AS (
      SELECT SUM(CAST(ROUND(
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
               AS DECIMAL(28,9))) AS item_var_sum,
             MAX(n) AS n, MAX(k) AS k
      FROM per_item CROSS JOIN nrow
    ),
    tv AS (
      SELECT ROUND(
               CAST(t2 AS DOUBLE) / n2
               - (CAST(t1 AS DOUBLE) / n2)
                 * (CAST(t1 AS DOUBLE) / n2), 9) AS tv
      FROM (SELECT SUM(t) AS t1,
                   SUM(CAST(t * t AS DECIMAL(38,12))) AS t2
            FROM (SELECT subj, SUM(v) AS t FROM cell GROUP BY 1))
           CROSS JOIN (SELECT CAST(n AS DOUBLE) AS n2 FROM nrow)
    )
    SELECT CAST(n AS BIGINT) AS n_subjects, CAST(k AS BIGINT) AS k,
           ROUND(CAST(item_var_sum AS DOUBLE), 6) AS item_var_sum,
           ROUND(tv, 6) AS total_var,
           CASE WHEN k >= 2 AND tv > 0 THEN ROUND(
             CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0e0)
             * (1.0e0 - CAST(item_var_sum AS DOUBLE) / tv), 6)
           END AS alpha
    FROM items_v CROSS JOIN tv
"""


@_q("q_cronbach_alpha", _CRONBACH_SQL)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating the five event types as a 5-item
    scale scored by each user's total quantized value: per-item and
    per-subject population moments from the (user, type) cell table,
    absent cells entering as zeros arithmetically (never a dense
    pivot)."""
    from conte_to_fresco_etl_spark.operators.robust import cronbach_alpha

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    return cronbach_alpha(ev, "user_id", "event_type", F.col("value"))


# ---------------------------------------------------------------------------
# Correlation / robust-trend family (r8): Spearman, Kendall tau-b,
# partial correlation, Theil-Sen, Grubbs.
# ---------------------------------------------------------------------------

_SPEARMAN_SQL = """
    WITH r AS (
      SELECT value AS x, CAST(extract(hour FROM ts) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    cells AS (SELECT x, y, COUNT(*) AS c FROM r GROUP BY 1, 2),
    mx AS (
      SELECT x, 2 * (SUM(tn) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) - tn) + tn + 1 AS m_x
      FROM (SELECT x, SUM(c) AS tn FROM cells GROUP BY 1)
    ),
    my AS (
      SELECT y, 2 * (SUM(tn) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) - tn) + tn + 1 AS m_y
      FROM (SELECT y, SUM(c) AS tn FROM cells GROUP BY 1)
    ),
    j AS (
      SELECT c, m_x, m_y FROM cells
      JOIN mx USING (x) JOIN my USING (y)
    ),
    agg AS (
      SELECT SUM(c) AS n,
             SUM(CAST(c * m_x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(c * m_y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(c * m_x * m_x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(c * m_y * m_y AS DECIMAL(38,0))) AS syy,
             SUM(CAST(c * m_x * m_y AS DECIMAL(38,0))) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
           THEN ROUND(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS rho
    FROM agg
"""


@_q("q_spearman_rho", _SPEARMAN_SQL)
def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day:
    exact tie midranks from per-distinct-value cumulative counts —
    Spark computes them with the DISTRIBUTED prefix sum
    (parallelism.prefix_sums; a continuous value column makes the
    marginal table data-sized), integer doubled-midrank moments in
    DECIMAL(38,0), rho as one double tree."""
    from conte_to_fresco_etl_spark.operators.robust import spearman_rho

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    return spearman_rho(
        ev, F.col("value"), F.hour("ts").cast("long")
    )


_KENDALL_SQL = """
    WITH r AS (
      SELECT LEAST(GREATEST(CAST(floor(value / 50.0) AS BIGINT), 0), 9)
               AS x,
             CAST(extract(hour FROM ts) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    cells AS (SELECT x, y, COUNT(*) AS c FROM r GROUP BY 1, 2),
    pair AS (
      SELECT SUM(CASE WHEN a.y < b.y
                      THEN CAST(a.c * b.c AS DECIMAL(38,0)) END) AS cc,
             SUM(CASE WHEN a.y > b.y
                      THEN CAST(a.c * b.c AS DECIMAL(38,0)) END) AS dd
      FROM cells a JOIN cells b ON a.x < b.x AND a.y <> b.y
    ),
    tot AS (SELECT SUM(c) AS n FROM cells),
    tx AS (
      SELECT SUM(CAST(t * t AS DECIMAL(38,0))) AS tx2,
             SUM(CAST(t AS DECIMAL(38,0))) AS tx1
      FROM (SELECT x, SUM(c) AS t FROM cells GROUP BY 1)
    ),
    ty AS (
      SELECT SUM(CAST(t * t AS DECIMAL(38,0))) AS ty2,
             SUM(CAST(t AS DECIMAL(38,0))) AS ty1
      FROM (SELECT y, SUM(c) AS t FROM cells GROUP BY 1)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(COALESCE(cc, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(dd, 0) AS BIGINT) AS discordant,
           CASE WHEN (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)
                      / 2.0e0
                      - (CAST(tx2 AS DOUBLE) - CAST(tx1 AS DOUBLE))
                        / 2.0e0)
                     * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)
                        / 2.0e0
                        - (CAST(ty2 AS DOUBLE) - CAST(ty1 AS DOUBLE))
                          / 2.0e0) > 0
           THEN ROUND(
             (CAST(COALESCE(cc, 0) AS DOUBLE)
              - CAST(COALESCE(dd, 0) AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)
                     / 2.0e0
                     - (CAST(tx2 AS DOUBLE) - CAST(tx1 AS DOUBLE))
                       / 2.0e0)
                    * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)
                       / 2.0e0
                       - (CAST(ty2 AS DOUBLE) - CAST(ty1 AS DOUBLE))
                         / 2.0e0)), 6)
           END AS tau_b
    FROM tot CROSS JOIN pair CROSS JOIN tx CROSS JOIN ty
"""


@_q("q_kendall_tau", _KENDALL_SQL)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the value decile band and hour-of-day —
    BOUNDED domains by construction (10x24 cells), so the
    concordant/discordant count is a dimension-sized strictly-upper
    cell self-join, never a raw-pair enumeration."""
    from conte_to_fresco_etl_spark.operators.robust import kendall_tau_b

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    x = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(50.0)), F.lit(0)),
        F.lit(9),
    ).cast("long")
    return kendall_tau_b(ev, x, F.hour("ts").cast("long"))


_PARTIAL_CORR_SQL = """
    WITH r AS (
      SELECT CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS xq,
             CAST(ROUND(CAST(extract(hour FROM ts) AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS yq,
             CAST(ROUND(CAST(user_id % 24 AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS zq
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(xq) AS sx, SUM(yq) AS sy, SUM(zq) AS sz,
             SUM(CAST(xq * xq AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(yq * yq AS DECIMAL(38,12))) AS syy,
             SUM(CAST(zq * zq AS DECIMAL(38,12))) AS szz,
             SUM(CAST(xq * yq AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(xq * zq AS DECIMAL(38,12))) AS sxz,
             SUM(CAST(yq * zq AS DECIMAL(38,12))) AS syz
      FROM r
    ),
    c AS (
      SELECT CAST(n AS BIGINT) AS n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS r_xy,
             (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_xz,
             (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
               AS r_yz
      FROM agg
    )
    SELECT n, ROUND(r_xy, 6) AS r_xy, ROUND(r_xz, 6) AS r_xz,
           ROUND(r_yz, 6) AS r_yz,
           CASE WHEN (1.0e0 - r_xz * r_xz) * (1.0e0 - r_yz * r_yz) > 0
           THEN ROUND((r_xy - r_xz * r_yz)
                      / sqrt((1.0e0 - r_xz * r_xz)
                             * (1.0e0 - r_yz * r_yz)), 6)
           END AS partial_r
    FROM c
"""


@_q("q_partial_corr", _PARTIAL_CORR_SQL)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of event value and hour-of-day controlling
    for the user's 24-bucket id band: all nine moments from ONE
    map-combinable decimal aggregation, the three pairwise r's and
    the partial r as one shared double tree."""
    from conte_to_fresco_etl_spark.operators.robust import (
        partial_correlation,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    return partial_correlation(
        ev,
        F.col("value"),
        F.hour("ts").cast("double"),
        (F.col("user_id") % 24).cast("double"),
    )


_THEIL_SEN_SQL = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS d,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'click'
      GROUP BY 1
    ),
    slopes AS (
      SELECT a.d AS da, b.d AS db,
             ROUND((b.v - a.v) / CAST(b.d - a.d AS DOUBLE), 9) AS slope
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ms AS (
      SELECT AVG(slope) AS med_slope, MAX(m) AS m
      FROM (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope ASC, da ASC, db ASC)
                 AS rn,
               COUNT(*) OVER () AS m
        FROM slopes
      )
      WHERE rn = CAST(floor((m + 1) / 2.0e0) AS BIGINT)
         OR rn = CAST(ceil((m + 1) / 2.0e0) AS BIGINT)
    ),
    resid AS (
      SELECT d, ROUND(v - med_slope * CAST(d AS DOUBLE), 9) AS r
      FROM daily CROSS JOIN ms
    ),
    mi AS (
      SELECT AVG(r) AS med_r
      FROM (
        SELECT r,
               ROW_NUMBER() OVER (ORDER BY r ASC, d ASC) AS rn,
               COUNT(*) OVER () AS m
        FROM resid
      )
      WHERE rn = CAST(floor((m + 1) / 2.0e0) AS BIGINT)
         OR rn = CAST(ceil((m + 1) / 2.0e0) AS BIGINT)
    )
    SELECT CAST(nd AS BIGINT) AS n_days, CAST(m AS BIGINT) AS n_pairs,
           CASE WHEN nd >= 2 THEN ROUND(med_slope, 6) END AS slope,
           CASE WHEN nd >= 2 THEN ROUND(med_r, 6) END AS intercept
    FROM (SELECT COUNT(*) AS nd FROM daily)
    CROSS JOIN ms CROSS JOIN mi
"""


@_q("q_theil_sen", _THEIL_SEN_SQL)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily mean click value: median
    pairwise slope + median-residual intercept, exact order
    statistics over the |days|²-sized pair table (dimension-sized by
    the daily collapse)."""
    from conte_to_fresco_etl_spark.operators.robust import theil_sen

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    return theil_sen(ev, "ts", "value")


_GRUBBS_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4)))
                             AS DOUBLE) / COUNT(*), 6)
                  AS DECIMAL(18,6)) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(v) AS s1,
             SUM(CAST(v * v AS DECIMAL(38,12))) AS s2
      FROM daily
    ),
    j AS (
      SELECT day, n,
             sqrt((CAST(s2 AS DOUBLE)
                   - CAST(n AS DOUBLE)
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (CAST(n AS DOUBLE) - 1.0e0)) AS sd,
             ROUND(abs(CAST(v AS DOUBLE)
                       - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
               AS dev,
             CAST(v AS DOUBLE)
               >= CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS hi
      FROM daily CROSS JOIN stats
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CASE WHEN n >= 3 AND sd > 0 THEN ROUND(dev / sd, 6) END
             AS g_stat,
           day AS at_day,
           CASE WHEN hi THEN 'high' ELSE 'low' END AS side
    FROM j ORDER BY dev DESC, day ASC LIMIT 1
"""


@_q("q_grubbs", _GRUBBS_SQL)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' most-suspicious-day screen on the daily mean value
    series: quantize-then-square moments as a 1-row broadcast, the
    argmax a TakeOrdered(1) with ROUND(9) deviations and ties to the
    earlier day."""
    from conte_to_fresco_etl_spark.operators.robust import (
        grubbs_statistic,
    )

    return grubbs_statistic(_events(spark, sf_dir), "ts", "value")


# ---------------------------------------------------------------------------
# Calibration / targeting / causal-adjustment family (r8).
# ---------------------------------------------------------------------------

_BRIER_SQL = """
    WITH r AS (
      SELECT CAST(ROUND(CAST(CAST('0x' || substr(md5(text), 1, 15)
                                   AS BIGINT) % 1000000 AS DOUBLE)
                        / 1000000.0e0, 6) AS DECIMAL(18,6)) AS p,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
      FROM documents WHERE text IS NOT NULL
    ),
    per_row AS (
      SELECT COUNT(*) AS n, SUM(y) AS ny,
             SUM(CAST((p - y) * (p - y) AS DECIMAL(38,12))) AS sq_err
      FROM r
    ),
    bands AS (
      SELECT LEAST(CAST(floor(CAST(p AS DOUBLE) * 10) AS BIGINT), 9)
               AS band,
             COUNT(*) AS nk, SUM(y) AS yk, SUM(p) AS pk
      FROM r GROUP BY 1
    ),
    comps AS (
      SELECT MAX(n) AS n, MAX(sq_err) AS sq_err,
             MAX(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) AS ybar,
             SUM(CAST(CAST(nk AS DOUBLE)
                      * ROUND(CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
                              - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE),
                              9)
                      * ROUND(CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
                              - CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE),
                              9) AS DECIMAL(38,12))) AS rel,
             SUM(CAST(CAST(nk AS DOUBLE)
                      * ROUND(CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
                              - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE),
                              9)
                      * ROUND(CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)
                              - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE),
                              9) AS DECIMAL(38,12))) AS res
      FROM bands CROSS JOIN per_row
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(sq_err AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS brier,
           ROUND(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS reliability,
           ROUND(CAST(res AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS resolution,
           ROUND(ybar * (1.0e0 - ybar), 6) AS uncertainty
    FROM comps
"""


@_q("q_brier_decomp", _BRIER_SQL)
def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for an md5-derived
    document scorer against the long-document outcome: exact decimal
    Brier sum + 10-band reliability/resolution, base rate as the
    1-row broadcast."""
    from conte_to_fresco_etl_spark.functions.text import md5_long
    from conte_to_fresco_etl_spark.operators.robust import (
        brier_decomposition,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    prob = (md5_long(F.col("text")) % 1000000).cast("double") / F.lit(
        1000000.0
    )
    return brier_decomposition(
        docs, prob, F.col("n_chars") >= 300, n_bins=10
    )


_LIFT_SQL = """
    WITH r AS (
      SELECT LEAST(CAST(floor(CAST(CAST(ROUND(
               CAST(LEAST(n_chars, 1000) AS DOUBLE) / 1000.0e0, 6)
               AS DECIMAL(18,6)) AS DOUBLE) * 10) AS BIGINT), 9)
               AS band,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents WHERE n_chars IS NOT NULL
    ),
    bands AS (
      SELECT band, COUNT(*) AS n, SUM(y) AS pos FROM r GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS tot_n, SUM(pos) AS tot_pos FROM bands),
    cum AS (
      SELECT band, n, pos,
             SUM(n) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS cn,
             SUM(pos) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cp
      FROM bands
    )
    SELECT band, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           ROUND(CAST(cn AS DOUBLE) / CAST(tot_n AS DOUBLE), 6)
             AS cum_frac_pop,
           ROUND(CAST(cp AS DOUBLE) / NULLIF(CAST(tot_pos AS DOUBLE),
                                             0.0e0), 6)
             AS cum_frac_pos,
           ROUND((CAST(cp AS DOUBLE) / NULLIF(CAST(tot_pos AS DOUBLE),
                                              0.0e0))
                 / (CAST(cn AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6)
             AS lift
    FROM cum CROSS JOIN tot
    ORDER BY band DESC
"""


@_q("q_lift_curves", _LIFT_SQL)
def q_lift_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift of the length-based document scorer
    against the English label, by fixed score band (map-side binning,
    never a global sort; the cumulative window runs over <= 10
    aggregate rows)."""
    from conte_to_fresco_etl_spark.operators.robust import (
        cumulative_gains,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    score = (
        F.least(F.col("n_chars"), F.lit(1000)).cast("double")
        / F.lit(1000.0)
    )
    return cumulative_gains(docs, score, F.col("lang") == "en", n_bins=10)


_COV_BALANCE_SQL = """
    WITH lr AS (
      SELECT 'hour' AS cov, user_id % 2 = 0 AS t,
             CAST(ROUND(CAST(extract(hour FROM ts) AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS v
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      UNION ALL
      SELECT 'props_len', user_id % 2 = 0,
             CAST(ROUND(CAST(length(props) AS DOUBLE), 6)
                  AS DECIMAL(18,6))
      FROM events WHERE props IS NOT NULL AND user_id IS NOT NULL
      UNION ALL
      SELECT 'value', user_id % 2 = 0,
             CAST(ROUND(value, 6) AS DECIMAL(18,6))
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    agg AS (
      SELECT cov,
             SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN t THEN v END) AS st,
             SUM(CASE WHEN NOT t THEN v END) AS sc,
             SUM(CASE WHEN t THEN CAST(v * v AS DECIMAL(38,12)) END)
               AS qt,
             SUM(CASE WHEN NOT t THEN CAST(v * v AS DECIMAL(38,12)) END)
               AS qc
      FROM lr GROUP BY 1
    )
    SELECT cov AS covariate,
           CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
           ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_t,
           ROUND(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_c,
           CASE WHEN (CAST(qt AS DOUBLE) / CAST(nt AS DOUBLE)
                      - (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                      + CAST(qc AS DOUBLE) / CAST(nc AS DOUBLE)
                      - (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                        * (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))
                     / 2.0e0 > 0
           THEN ROUND(
             (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
              - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
             / sqrt((CAST(qt AS DOUBLE) / CAST(nt AS DOUBLE)
                     - (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                       * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                     + CAST(qc AS DOUBLE) / CAST(nc AS DOUBLE)
                     - (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                       * (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))
                    / 2.0e0), 6)
           END AS smd
    FROM agg ORDER BY covariate
"""


@_q("q_covariate_balance", _COV_BALANCE_SQL)
def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean differences of three event covariates across
    the user-parity arms — the balance check behind every
    observational comparison; one map-side unpivot + one aggregation,
    no joins or windows."""
    from conte_to_fresco_etl_spark.operators.robust import (
        covariate_balance,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return covariate_balance(
        ev,
        F.col("user_id") % 2 == 0,
        {
            "hour": F.hour("ts").cast("double"),
            "props_len": F.length("props").cast("double"),
            "value": F.col("value"),
        },
    )


_PROP_STRATA_SQL = """
    WITH per AS (
      SELECT CAST(floor(CAST(user_id AS DOUBLE) / 2.0e0) AS BIGINT) % 5
               AS s,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN user_id % 2 = 0
                      THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END)
               AS st,
             SUM(CASE WHEN user_id % 2 <> 0
                      THEN CAST(ROUND(value, 6) AS DECIMAL(18,6)) END)
               AS sc
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1 HAVING SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                          > 0
                   AND SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
                          > 0
    ),
    strata AS (
      SELECT s AS stratum, CAST(nt + nc AS BIGINT) AS n,
             CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
             ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6)
               AS mean_t,
             ROUND(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6)
               AS mean_c,
             ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                   - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6)
               AS diff
      FROM per
    ),
    tot AS (SELECT SUM(n) AS tot_n FROM strata),
    pooled AS (
      SELECT CAST(-1 AS BIGINT) AS stratum,
             CAST(MAX(tot_n) AS BIGINT) AS n,
             CAST(SUM(n_t) AS BIGINT) AS n_t,
             CAST(SUM(n_c) AS BIGINT) AS n_c,
             CAST(NULL AS DOUBLE) AS mean_t,
             CAST(NULL AS DOUBLE) AS mean_c,
             ROUND(CAST(SUM(CAST(CAST(n AS DOUBLE)
                                 / CAST(tot_n AS DOUBLE)
                                 * ROUND(diff, 9)
                                 AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS diff
      FROM strata CROSS JOIN tot
    )
    SELECT * FROM strata
    UNION ALL SELECT * FROM pooled
    ORDER BY stratum
"""


@_q("q_propensity_strata", _PROP_STRATA_SQL)
def q_propensity_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment-effect estimate: per-stratum arm
    diffs over the five user-id strata (both-arms-present only) and
    the stratum-share-weighted pooled ATE as the stratum = -1 row."""
    from conte_to_fresco_etl_spark.operators.robust import stratified_ate

    ev = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return stratified_ate(
        ev,
        F.col("user_id") % 2 == 0,
        F.col("value"),
        F.floor(F.col("user_id").cast("double") / F.lit(2.0)) % 5,
    )


_ICC_SQL = """
    WITH per AS (
      SELECT user_id AS g, COUNT(*) AS ni,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS si,
             SUM(CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6))
                      * CAST(ROUND(value, 6) AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS qi
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    agg AS (
      SELECT COUNT(*) AS m, SUM(ni) AS n, SUM(si) AS s, SUM(qi) AS q,
             SUM(ni * ni) AS n2,
             SUM(CAST(ROUND(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
                            / CAST(ni AS DOUBLE), 9)
                      AS DECIMAL(28,9))) AS gterm
      FROM per
    ),
    c AS (
      SELECT m, n,
             (CAST(gterm AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n AS DOUBLE))
             / (CAST(m AS DOUBLE) - 1.0e0) AS msb,
             (CAST(q AS DOUBLE) - CAST(gterm AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST(m AS DOUBLE)) AS msw,
             (CAST(n AS DOUBLE)
              - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(m AS DOUBLE) - 1.0e0) AS k0
      FROM agg
    )
    SELECT CAST(m AS BIGINT) AS m_groups, CAST(n AS BIGINT) AS n,
           CASE WHEN m >= 2 AND n > m THEN ROUND(msb, 6) END AS msb,
           CASE WHEN m >= 2 AND n > m THEN ROUND(msw, 6) END AS msw,
           CASE WHEN m >= 2 AND n > m THEN ROUND(k0, 6) END AS k0,
           CASE WHEN m >= 2 AND n > m
                 AND msb + (k0 - 1.0e0) * msw > 0
           THEN ROUND((msb - msw) / (msb + (k0 - 1.0e0) * msw), 6)
           END AS icc
    FROM c
"""


@_q("q_icc", _ICC_SQL)
def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way intraclass correlation of event values within users —
    are rows exchangeable, or is the user the real sampling unit?
    One group-keyed moment collapse + a |groups|-sized ROUND(9)
    decimal aggregate."""
    from conte_to_fresco_etl_spark.operators.robust import icc_oneway

    return icc_oneway(_events(spark, sf_dir), "user_id", F.col("value"))


_FRIEDMAN_SQL = """
    WITH cell AS (
      SELECT user_id AS subj, event_type AS trt,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / COUNT(*), 6) AS v
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    complete AS (
      SELECT c.* FROM cell c
      JOIN (SELECT subj FROM cell GROUP BY 1 HAVING COUNT(*) = 5) f
        USING (subj)
    ),
    ranked AS (
      SELECT trt,
             ROW_NUMBER() OVER (PARTITION BY subj
                                ORDER BY v ASC, trt ASC) AS r
      FROM complete
    ),
    rsums AS (
      SELECT trt, SUM(r) AS rj, COUNT(*) AS n FROM ranked GROUP BY 1
    ),
    agg AS (SELECT MAX(n) AS n, SUM(rj * rj) AS r2 FROM rsums)
    SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_subjects,
           CAST(5 AS BIGINT) AS k,
           CASE WHEN n >= 1 THEN ROUND(
             12.0e0 / (CAST(n AS DOUBLE) * 5.0e0 * 6.0e0)
             * CAST(r2 AS DOUBLE)
             - 3.0e0 * CAST(n AS DOUBLE) * 6.0e0, 6)
           END AS chi2
    FROM agg
"""


@_q("q_friedman", _FRIEDMAN_SQL)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of the five event types' mean values across
    complete users: subject-partitioned 5-row rank windows (millions
    of tiny partitions — the safe window shape), one rank-sum
    collapse, 1-row algebra."""
    from conte_to_fresco_etl_spark.operators.robust import friedman_test

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    return friedman_test(ev, "user_id", "event_type", F.col("value"), k=5)


_PARETO_SQL = f"""
    WITH toks AS (
      SELECT doc_id, COUNT(DISTINCT tok) AS n_types
      FROM (SELECT doc_id, unnest({{tokens}}) AS tok FROM documents)
      WHERE length(tok) > 0 GROUP BY 1
    ),
    pts AS (
      SELECT d.doc_id, d.n_chars, t.n_types
      FROM documents d JOIN toks t USING (doc_id)
      WHERE d.n_chars IS NOT NULL
    )
    SELECT p.doc_id, p.n_chars, p.n_types
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.n_chars >= p.n_chars AND q.n_types >= p.n_types
        AND (q.n_chars > p.n_chars OR q.n_types > p.n_types)
    )
"""


@_q(
    "q_pareto_front",
    _PARETO_SQL.replace(
        "{tokens}",
        "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END",
    ),
)
def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal documents maximizing (length, lexical richness)
    jointly — the skyline selection when no single quality score
    exists.  Spark side: per-distinct-x best y + the DISTRIBUTED
    exclusive prefix-max over x descending (parallelism.prefix_max) +
    one join back; the oracle states the NOT EXISTS dominance
    definition directly."""
    from conte_to_fresco_etl_spark.functions.text import tokens
    from conte_to_fresco_etl_spark.validation import pareto_front

    docs = _t(spark, sf_dir, "documents")
    types = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("n_types"))
    )
    pts = docs.select("doc_id", "n_chars").filter(
        F.col("n_chars").isNotNull()
    ).join(types, "doc_id")
    return pareto_front(
        pts, F.col("n_chars"), F.col("n_types")
    ).select("doc_id", "n_chars", "n_types")


_MOOD_SQL = """
    WITH r AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    gv AS (SELECT g, v, COUNT(*) AS c FROM r GROUP BY 1, 2),
    marg AS (SELECT v, SUM(c) AS tn FROM gv GROUP BY 1),
    cum AS (
      SELECT v, SUM(tn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS cum_tn
      FROM marg
    ),
    tot AS (SELECT SUM(tn) AS n FROM marg),
    med AS (
      SELECT MIN(v) AS median FROM cum CROSS JOIN tot
      WHERE cum_tn >= ceil(CAST(n AS DOUBLE) / 2.0e0)
    ),
    split AS (
      SELECT g,
             SUM(CASE WHEN v > median THEN c ELSE 0 END) AS above,
             SUM(c) AS ng, MAX(median) AS median
      FROM gv CROSS JOIN med GROUP BY 1
    ),
    totals AS (
      SELECT SUM(above) AS ta, SUM(ng) AS n, COUNT(*) AS k,
             MAX(median) AS median
      FROM split
    ),
    chi AS (
      SELECT SUM(CAST(CASE WHEN
               CAST(ng AS DOUBLE) * CAST(ta AS DOUBLE)
                 / CAST(n AS DOUBLE) > 0
               AND CAST(ng AS DOUBLE)
                   * (CAST(n AS DOUBLE) - CAST(ta AS DOUBLE))
                   / CAST(n AS DOUBLE) > 0
             THEN ROUND(
               (CAST(above AS DOUBLE)
                - CAST(ng AS DOUBLE) * CAST(ta AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(above AS DOUBLE)
                  - CAST(ng AS DOUBLE) * CAST(ta AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(ng AS DOUBLE) * CAST(ta AS DOUBLE)
                  / CAST(n AS DOUBLE))
               + (CAST(ng AS DOUBLE) - CAST(above AS DOUBLE)
                  - CAST(ng AS DOUBLE)
                    * (CAST(n AS DOUBLE) - CAST(ta AS DOUBLE))
                    / CAST(n AS DOUBLE))
                 * (CAST(ng AS DOUBLE) - CAST(above AS DOUBLE)
                    - CAST(ng AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(ta AS DOUBLE))
                      / CAST(n AS DOUBLE))
                 / (CAST(ng AS DOUBLE)
                    * (CAST(n AS DOUBLE) - CAST(ta AS DOUBLE))
                    / CAST(n AS DOUBLE)), 9)
             END AS DECIMAL(28,9))) AS chi_sum,
             SUM(CASE WHEN CAST(ng AS DOUBLE) * CAST(ta AS DOUBLE)
                           / CAST(n AS DOUBLE) > 0
                       AND CAST(ng AS DOUBLE)
                           * (CAST(n AS DOUBLE) - CAST(ta AS DOUBLE))
                           / CAST(n AS DOUBLE) > 0
                 THEN 0 ELSE 1 END) AS bad
      FROM split CROSS JOIN (SELECT ta, n FROM totals)
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CAST(median AS DOUBLE) AS median,
           CASE WHEN bad = 0
           THEN ROUND(CAST(chi_sum AS DOUBLE), 6) END AS chi2
    FROM totals CROSS JOIN chi
"""


@_q("q_mood_median", _MOOD_SQL)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five event types: the pooled
    median from distributed per-distinct-value cumulative counts
    (parallelism.prefix_sums), then a k x 2 chi-square of
    above/not-above splits."""
    from conte_to_fresco_etl_spark.operators.robust import (
        mood_median_test,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    return mood_median_test(ev, "event_type", F.col("value"))


_RUNS_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cnt AS (SELECT COUNT(*) AS nd FROM daily),
    med AS (
      SELECT v AS median FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, day) AS rn FROM daily
      ) CROSS JOIN cnt
      WHERE rn = ceil(CAST(nd AS DOUBLE) / 2.0e0)
    ),
    signs AS (
      SELECT day, v > median AS s FROM daily CROSS JOIN med
      WHERE v <> median
    ),
    runs AS (
      SELECT SUM(CASE WHEN s THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
               AS runs
      FROM (SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signs)
    )
    SELECT CAST(nd AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_pos, CAST(n2 AS BIGINT) AS n_neg,
           CAST(runs AS BIGINT) AS runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND
                2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                * (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0e0))
                > 0
           THEN ROUND(
             (CAST(runs AS DOUBLE)
              - (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0e0))
             / sqrt(2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                    / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                          - 1.0e0))), 6)
           END AS z
    FROM runs CROSS JOIN cnt
"""


@_q("q_runs_test", _RUNS_SQL)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily mean value series around
    its median — trending vs oscillating vs random, from one daily
    collapse, an exact order-statistic median, and one lag window
    over the collapsed table."""
    from conte_to_fresco_etl_spark.operators.robust import runs_test

    return runs_test(_events(spark, sf_dir), "ts", "value")


_HL_SQL = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS d,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
      GROUP BY 1
    ),
    walsh AS (
      SELECT a.d AS da, b.d AS db,
             ROUND((a.v + b.v) / 2.0e0, 9) AS w
      FROM daily a JOIN daily b ON a.d <= b.d
    ),
    med AS (
      SELECT AVG(w) AS hl, MAX(m) AS m
      FROM (
        SELECT w,
               ROW_NUMBER() OVER (ORDER BY w ASC, da ASC, db ASC) AS rn,
               COUNT(*) OVER () AS m
        FROM walsh
      )
      WHERE rn = CAST(floor((m + 1) / 2.0e0) AS BIGINT)
         OR rn = CAST(ceil((m + 1) / 2.0e0) AS BIGINT)
    )
    SELECT CAST(nd AS BIGINT) AS n_days, CAST(m AS BIGINT) AS n_pairs,
           ROUND(hl, 6) AS hl
    FROM (SELECT COUNT(*) AS nd FROM daily) CROSS JOIN med
"""


@_q("q_hodges_lehmann", _HL_SQL)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of the daily mean purchase value:
    the median Walsh average over the dimension-sized day-pair
    self-join, exact lower+upper-middle order statistic."""
    from conte_to_fresco_etl_spark.operators.robust import hodges_lehmann

    ev = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return hodges_lehmann(ev, "ts", "value")


_PETTITT_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    marg AS (SELECT v, COUNT(*) AS tn FROM daily GROUP BY 1),
    ranks AS (
      SELECT v, 2 * (SUM(tn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) - tn) + tn + 1 AS m2
      FROM marg
    ),
    cnt AS (SELECT COUNT(*) AS n FROM daily),
    u AS (
      SELECT day, n,
             SUM(m2) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)
               - ROW_NUMBER() OVER (ORDER BY day) * (n + 1) AS ut,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily JOIN ranks USING (v) CROSS JOIN cnt
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CASE WHEN n >= 3 THEN CAST(abs(ut) AS BIGINT) END AS k_stat,
           day AS at_day,
           CASE WHEN n >= 3 THEN ROUND(LEAST(
             2.0e0 * exp(-6.0e0 * CAST(abs(ut) AS DOUBLE)
                         * CAST(abs(ut) AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE)
                            + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
             1.0e0), 6) END AS p_value
    FROM u WHERE t < n
    ORDER BY abs(ut) DESC, day ASC LIMIT 1
"""


@_q("q_pettitt", _PETTITT_SQL)
def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint on the daily mean value series:
    integer doubled-midrank cumulative statistic (midranks from the
    distributed prefix sum), argmax day, standard p approximation."""
    from conte_to_fresco_etl_spark.operators.robust import pettitt_test

    return pettitt_test(_events(spark, sf_dir), "ts", "value")


_NDCG_SQL = """
    WITH r AS (
      SELECT doc_id AS id,
             ROUND(CAST(CAST('0x' || substr(md5(text), 1, 15)
                             AS BIGINT) % 1000000 AS DOUBLE)
                   / 1000000.0e0, 6) AS s,
             CAST(LEAST(CAST(floor(n_chars / 200.0e0) AS BIGINT), 4)
                  AS DOUBLE) AS g
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
        AND n_chars IS NOT NULL
    ),
    dcg AS (
      SELECT SUM(CAST(ROUND(g / (ln(2.0e0 + CAST(pos - 1 AS DOUBLE))
                                 / ln(2.0e0)), 9)
                      AS DECIMAL(28,9))) AS dcg_sum
      FROM (
        SELECT g, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS pos
        FROM r ORDER BY s DESC, id ASC LIMIT 20
      )
    ),
    idcg AS (
      SELECT SUM(CAST(ROUND(g / (ln(2.0e0 + CAST(pos - 1 AS DOUBLE))
                                 / ln(2.0e0)), 9)
                      AS DECIMAL(28,9))) AS i_sum
      FROM (
        SELECT g, ROW_NUMBER() OVER (ORDER BY g DESC, id ASC) AS pos
        FROM r ORDER BY g DESC, id ASC LIMIT 20
      )
    )
    SELECT CAST(20 AS BIGINT) AS k,
           ROUND(CAST(dcg_sum AS DOUBLE), 6) AS dcg,
           ROUND(CAST(i_sum AS DOUBLE), 6) AS idcg,
           CASE WHEN CAST(i_sum AS DOUBLE) > 0
           THEN ROUND(CAST(dcg_sum AS DOUBLE)
                      / CAST(i_sum AS DOUBLE), 6) END AS ndcg
    FROM dcg CROSS JOIN idcg
"""


@_q("q_ndcg", _NDCG_SQL)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@20 of the md5-derived document scorer against graded
    length relevance: two TakeOrdered(20) rankings with id tiebreaks,
    ROUND(9) decimal position terms."""
    from conte_to_fresco_etl_spark.functions.text import md5_long
    from conte_to_fresco_etl_spark.operators.robust import ndcg_at_k

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    score = (md5_long(F.col("text")) % 1000000).cast("double") / F.lit(
        1000000.0
    )
    gain = F.least(
        F.floor(F.col("n_chars") / F.lit(200.0)), F.lit(4)
    ).cast("double")
    return ndcg_at_k(docs, "doc_id", score, gain, k=20)


_ADAMIC_ADAR_SQL = """
    WITH posts AS (
      SELECT DISTINCT user_id AS k, date_trunc('hour', ts) AS ctx
      FROM events WHERE user_id < 40
    ),
    edges AS (
      SELECT a.k AS a, b.k AS b
      FROM posts a JOIN posts b ON a.ctx = b.ctx AND a.k < b.k
      GROUP BY 1, 2 HAVING COUNT(*) >= 8
    ),
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM und GROUP BY 1),
    adj AS (
      SELECT u, und.v,
             CASE WHEN deg >= 2
             THEN ROUND(1.0e0 / ln(CAST(deg AS DOUBLE)), 9) END AS w
      FROM und JOIN deg ON und.v = deg.v
    )
    SELECT l.u AS a, r.u AS b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           ROUND(CAST(SUM(CAST(l.w AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS aa_score
    FROM adj l JOIN adj r ON l.v = r.v AND l.u < r.u
    GROUP BY 1, 2
"""


@_q("q_adamic_adar", _ADAMIC_ADAR_SQL)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the hour-bucket user
    co-occurrence graph (≥8 shared active hours): wedge enumeration
    as a neighbor-keyed posting self-join, rare shared neighbors
    up-weighted by 1/ln(deg)."""
    from conte_to_fresco_etl_spark.operators.graph import (
        adamic_adar,
        cooccurrence_edges,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=8,
    )
    return adamic_adar(edges)


_GRANGER_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CASE WHEN event_type = 'click'
                          THEN CAST(ROUND(value, 4) AS DECIMAL(18,4))
                          END) AS DOUBLE)
                   / COUNT(CASE WHEN event_type = 'click'
                           THEN value END), 6) AS y,
             ROUND(CAST(SUM(CASE WHEN event_type = 'view'
                          THEN CAST(ROUND(value, 4) AS DECIMAL(18,4))
                          END) AS DOUBLE)
                   / COUNT(CASE WHEN event_type = 'view'
                           THEN value END), 6) AS x
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT yt, z1, z2 FROM (
        SELECT y AS yt,
               LAG(y) OVER (ORDER BY day) AS z1,
               LAG(x) OVER (ORDER BY day) AS z2
        FROM daily WHERE y IS NOT NULL AND x IS NOT NULL
      ) WHERE z1 IS NOT NULL AND z2 IS NOT NULL
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND(yt, 9) AS DECIMAL(28,9))) AS sy,
             SUM(CAST(ROUND(z1, 9) AS DECIMAL(28,9))) AS s1,
             SUM(CAST(ROUND(z2, 9) AS DECIMAL(28,9))) AS s2,
             SUM(CAST(yt * yt AS DECIMAL(38,12))) AS syy,
             SUM(CAST(z1 * z1 AS DECIMAL(38,12))) AS s11,
             SUM(CAST(z2 * z2 AS DECIMAL(38,12))) AS s22,
             SUM(CAST(z1 * yt AS DECIMAL(38,12))) AS s1y,
             SUM(CAST(z2 * yt AS DECIMAL(38,12))) AS s2y,
             SUM(CAST(z1 * z2 AS DECIMAL(38,12))) AS s12
      FROM lagged
    ),
    c AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
             CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)
               * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
             CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
             CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
             CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
             CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
      FROM mom
    ),
    r AS (
      SELECT n,
             CASE WHEN c11 > 0 THEN cyy - c1y * c1y / c11 END AS rss_r,
             CASE WHEN c11 * c22 - c12 * c12 > 0 THEN
               cyy - ((c1y * c22 - c2y * c12)
                      / (c11 * c22 - c12 * c12)) * c1y
                   - ((c2y * c11 - c1y * c12)
                      / (c11 * c22 - c12 * c12)) * c2y
             END AS rss_u
      FROM c
    )
    SELECT n, ROUND(rss_r, 6) AS rss_r, ROUND(rss_u, 6) AS rss_u,
           CASE WHEN n >= 4 AND rss_u > 0 THEN
             ROUND((rss_r - rss_u) / (rss_u / (CAST(n AS DOUBLE)
                                               - 3.0e0)), 6)
           END AS f_stat
    FROM r
"""


@_q("q_granger", _GRANGER_SQL)
def q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger screen: does yesterday's mean view value improve
    today's mean click value prediction beyond yesterday's click
    value?  Closed-form two-regressor OLS over nine decimal moment
    sums of the collapsed daily table."""
    from conte_to_fresco_etl_spark.operators.robust import granger_lag1

    ev = _events(spark, sf_dir)
    return granger_lag1(
        ev,
        "ts",
        F.when(F.col("event_type") == "click", F.col("value")),
        F.when(F.col("event_type") == "view", F.col("value")),
    )


#: CTEs cells/rows_/cols_/tot/grid over ``r`` (ra, rb): every (ra, rb) cell
#: with its count (NULL when empty) and row, column and grand totals.
_CONTINGENCY_GRID_SQL = """cells AS (SELECT ra, rb, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
    rows_ AS (SELECT ra, SUM(cnt) AS row_n FROM cells GROUP BY 1),
    cols_ AS (SELECT rb, SUM(cnt) AS col_n FROM cells GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n FROM cells),
    grid AS (
      SELECT rows_.ra, cols_.rb, row_n, col_n, cnt, n
      FROM rows_ CROSS JOIN cols_
      LEFT JOIN cells ON cells.ra = rows_.ra AND cells.rb = cols_.rb
      CROSS JOIN tot
    )"""

_CRAMERS_SQL = f"""
    WITH r AS (
      SELECT LEAST(GREATEST(CAST(floor(value / 125.0) AS BIGINT), 0), 3)
               AS ra,
             event_type AS rb
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    {_CONTINGENCY_GRID_SQL},
    agg AS (
      SELECT MAX(n) AS n, COUNT(DISTINCT ra) AS r,
             COUNT(DISTINCT rb) AS c,
             SUM(CAST(ROUND(
               (CAST(COALESCE(cnt, 0) AS DOUBLE)
                - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(COALESCE(cnt, 0) AS DOUBLE)
                  - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                  / CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)))
               AS chi2_sum
      FROM grid
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
           CAST(c AS BIGINT) AS c,
           ROUND(CAST(chi2_sum AS DOUBLE), 6) AS chi2,
           CASE WHEN LEAST(r, c) > 1 THEN ROUND(sqrt(
             CAST(chi2_sum AS DOUBLE)
             / (CAST(n AS DOUBLE)
                * (CAST(LEAST(r, c) AS DOUBLE) - 1.0e0))), 6)
           END AS v
    FROM agg
"""


@_q("q_cramers_v", _CRAMERS_SQL)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between the value quartile band and the event type:
    chi-square over the FULL dimension-sized grid (zero cells
    contribute their expectation), effect size in [0, 1]."""
    from conte_to_fresco_etl_spark.operators.robust import cramers_v

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    ra = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(125.0)), F.lit(0)),
        F.lit(3),
    ).cast("long")
    return cramers_v(ev, ra, F.col("event_type"))


_WKAPPA_SQL = f"""
    WITH r AS (
      SELECT LEAST(GREATEST(CAST(floor(value / 125.0) AS BIGINT), 0), 3)
               AS ra,
             LEAST(GREATEST(CAST(floor(
               (value + CAST(CAST('0x' || substr(md5(props), 1, 15)
                                  AS BIGINT) % 50 AS DOUBLE) - 25.0e0)
               / 125.0) AS BIGINT), 0), 3) AS rb
      FROM events WHERE value IS NOT NULL AND props IS NOT NULL
    ),
    {_CONTINGENCY_GRID_SQL},
    agg AS (
      SELECT MAX(n) AS n,
             SUM(CAST((ra - rb) * (ra - rb)
                      * COALESCE(cnt, 0) AS DECIMAL(38,0))) AS wo,
             SUM(CAST(ROUND(
               CAST((ra - rb) * (ra - rb) AS DOUBLE)
               * CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
               / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9))) AS we
      FROM grid
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(we AS DOUBLE) > 0 THEN ROUND(
             1.0e0 - CAST(wo AS DOUBLE) / CAST(we AS DOUBLE), 6)
           END AS wkappa
    FROM agg
"""


@_q("q_weighted_kappa", _WKAPPA_SQL)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratically-weighted kappa between the value quartile band
    and a hash-jittered second grading of the same value — correlated
    ordinal raters, near-misses charged (i-j)²."""
    from conte_to_fresco_etl_spark.functions.text import md5_long
    from conte_to_fresco_etl_spark.operators.robust import weighted_kappa

    ev = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("props").isNotNull()
    )

    def band(x):
        return F.least(
            F.greatest(F.floor(x / F.lit(125.0)), F.lit(0)), F.lit(3)
        ).cast("long")

    jitter = (md5_long(F.col("props")) % 50).cast("double") - F.lit(25.0)
    return weighted_kappa(
        ev, band(F.col("value")), band(F.col("value") + jitter)
    )


# ---------------------------------------------------------------------------
# Exact order statistics at scale (r9): quantiles / weighted median /
# trimmed mean — the prefix-sum rank-interval selection family
# ---------------------------------------------------------------------------

_EXACT_QUANTILES_SQL = """
    WITH v AS (
      SELECT l_extendedprice AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn,
             COUNT(*) OVER () AS m
      FROM v
    )
    SELECT CAST(MAX(m) AS BIGINT) AS m,
           MAX(CASE WHEN rn = CEIL(CAST(0.25 AS DOUBLE) * m) THEN x END)
             AS q_25,
           MAX(CASE WHEN rn = CEIL(CAST(0.5 AS DOUBLE) * m) THEN x END)
             AS q_5,
           MAX(CASE WHEN rn = CEIL(CAST(0.75 AS DOUBLE) * m) THEN x END)
             AS q_75,
           MAX(CASE WHEN rn = CEIL(CAST(0.9 AS DOUBLE) * m) THEN x END)
             AS q_9,
           MAX(CASE WHEN rn = CEIL(CAST(0.99 AS DOUBLE) * m) THEN x END)
             AS q_99
    FROM r
"""

@_q("q_exact_quantiles", _EXACT_QUANTILES_SQL)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles (p25/50/75/90/99) of the lineitem price
    column — TRUE order statistics, selected via the distributed
    prefix-sum rank-interval discipline with no global sort task (the
    exact complement to q_quantile_sketch / q_value_percentiles)."""
    from conte_to_fresco_etl_spark.operators.robust import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, "l_extendedprice", [0.25, 0.5, 0.75, 0.9, 0.99]
    )


_WEIGHTED_MEDIAN_SQL = """
    WITH v AS (
      SELECT l_extendedprice AS x, CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    marg AS (
      SELECT x, SUM(w) AS mw FROM v GROUP BY x
    ),
    c AS (
      SELECT x, mw, SUM(mw) OVER (ORDER BY x) AS cum,
             SUM(mw) OVER () AS total
      FROM marg
    )
    SELECT CAST(MAX(total) AS BIGINT) AS total_weight,
           MAX(CASE WHEN 2 * cum >= total AND 2 * (cum - mw) < total
                    THEN x END) AS w_median
    FROM c
"""

@_q("q_weighted_median", _WEIGHTED_MEDIAN_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted median of price weighted by quantity —
    doubled-integer comparison against the total, selected from the
    value marginal by the distributed prefix sum."""
    from conte_to_fresco_etl_spark.operators.robust import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(li, "l_extendedprice", "l_quantity")


_TRIMMED_MEAN_SQL = """
    WITH v AS (
      SELECT l_extendedprice AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn,
             COUNT(*) OVER () AS m
      FROM v
    ),
    k AS (
      SELECT x, rn, m,
             FLOOR(CAST(0.1 AS DOUBLE) * m) AS lo,
             m - FLOOR(CAST(0.1 AS DOUBLE) * m) AS hi
      FROM r
    )
    SELECT CAST(MAX(m) AS BIGINT) AS m,
           CAST(SUM(CASE WHEN rn > lo AND rn <= hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN rn > lo AND rn <= hi
                          THEN CAST(ROUND(x, 6) AS DECIMAL(28,6))
                          ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                 / SUM(CASE WHEN rn > lo AND rn <= hi THEN 1 ELSE 0 END),
                 6) AS trimmed_mean
    FROM k
"""

@_q("q_trimmed_mean", _TRIMMED_MEAN_SQL)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of the price column — rank-based
    trimming computed from marginal-interval overlaps (each distinct
    value contributes its kept-rank count), fully distributed."""
    from conte_to_fresco_etl_spark.operators.robust import trimmed_mean

    li = _t(spark, sf_dir, "lineitem")
    return trimmed_mean(li, "l_extendedprice", trim=0.1)


# ---------------------------------------------------------------------------
# Nonparametric k-sample / whole-distribution tests (r9)
# ---------------------------------------------------------------------------

_KRUSKAL_SQL = """
    WITH vals AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    marg AS (
      SELECT v, COUNT(*) AS tn FROM vals GROUP BY v
    ),
    rk AS (
      SELECT v, tn,
             2 * (SUM(tn) OVER (ORDER BY v) - tn) + tn + 1 AS m2
      FROM marg
    ),
    per_g AS (
      SELECT g, SUM(m2) AS r2, COUNT(*) AS ng
      FROM vals JOIN rk USING (v) GROUP BY g
    ),
    s AS (
      SELECT SUM(CAST(ROUND(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                            / (4.0 * CAST(ng AS DOUBLE)), 6)
                      AS DECIMAL(38,6))) AS ssum,
             COUNT(*) AS k_groups
      FROM per_g
    ),
    t AS (
      SELECT SUM(CAST(tn AS DECIMAL(38,0)) * tn * tn
                 - CAST(tn AS DECIMAL(38,0))) AS tie
      FROM marg
    ),
    n AS (SELECT COUNT(*) AS n FROM vals)
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(s.k_groups AS BIGINT) AS k_groups,
           CASE WHEN n.n >= 2 THEN ROUND(
             12.0 / (CAST(n.n AS DOUBLE) * (n.n + 1.0))
               * CAST(s.ssum AS DOUBLE) - 3.0 * (n.n + 1.0), 6)
           END AS h_stat,
           CASE WHEN n.n >= 2
                 AND 1.0 - CAST(t.tie AS DOUBLE)
                     / (CAST(n.n AS DOUBLE) * n.n * n.n - n.n) > 0
           THEN ROUND(
             (12.0 / (CAST(n.n AS DOUBLE) * (n.n + 1.0))
               * CAST(s.ssum AS DOUBLE) - 3.0 * (n.n + 1.0))
             / (1.0 - CAST(t.tie AS DOUBLE)
                / (CAST(n.n AS DOUBLE) * n.n * n.n - n.n)), 6)
           END AS h_corrected
    FROM s, t, n
"""

@_q("q_kruskal_wallis", _KRUSKAL_SQL)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all event types: the k-sample rank test
    behind "does ANY variant shift the metric", midranks on the
    distributed prefix sum (doubled-integer tie discipline)."""
    from conte_to_fresco_etl_spark.operators.robust import kruskal_wallis

    return kruskal_wallis(_events(spark, sf_dir), "event_type", "value")


#: CTEs vals/marg: click (isa) vs view values and the per-value count of
#: each group (ca, cb).
_CLICK_VIEW_MARG_SQL = """vals AS (
      SELECT event_type = 'click' AS isa, value AS v FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ),
    marg AS (
      SELECT v,
             SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS cb
      FROM vals GROUP BY v
    )"""


def _cum_counts_sql(name: str) -> str:
    """CTE ``name``: ``marg`` with each group's cumulative count (cma, cmb) up to v."""
    return f"""{name} AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v) AS cma,
             SUM(cb) OVER (ORDER BY v) AS cmb
      FROM marg
    )"""


#: CTE t: the group sizes n_a (isa) and n_b of ``vals``.
_AB_TOTALS_SQL = """t AS (
      SELECT SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS n_b
      FROM vals
    )"""


_CVM_SQL = f"""
    WITH {_CLICK_VIEW_MARG_SQL},
    {_cum_counts_sql("c")},
    {_AB_TOTALS_SQL},
    s AS (
      SELECT SUM(CAST(ROUND(
               CAST(ca + cb AS DOUBLE)
               * (CAST(cma AS DOUBLE) / t.n_a
                  - CAST(cmb AS DOUBLE) / t.n_b)
               * (CAST(cma AS DOUBLE) / t.n_a
                  - CAST(cmb AS DOUBLE) / t.n_b), 12)
             AS DECIMAL(38,12))) AS ssum
      FROM c, t
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a,
           CAST(t.n_b AS BIGINT) AS n_b,
           CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN ROUND(
             CAST(t.n_a AS DOUBLE) * t.n_b
             / ((CAST(t.n_a AS DOUBLE) + t.n_b)
                * (CAST(t.n_a AS DOUBLE) + t.n_b))
             * CAST(s.ssum AS DOUBLE), 6)
           END AS t_stat
    FROM s, t
"""

@_q("q_cramer_von_mises", _CVM_SQL)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion (click vs view): the
    whole-distribution drift test that integrates the squared ECDF
    gap over the pooled sample — both ECDFs from one distributed
    prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import cramer_von_mises

    return cramer_von_mises(
        _events(spark, sf_dir), "event_type", "value", "click", "view"
    )


# ---------------------------------------------------------------------------
# Inequality / concentration (r9)
# ---------------------------------------------------------------------------

_THEIL_SQL = """
    WITH per AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
      HAVING SUM(CAST(value AS DECIMAL(18,4))) > 0
    ),
    tot AS (
      SELECT COUNT(*) AS n_units,
             CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*)
               AS mu
      FROM per
    )
    SELECT CAST(MAX(n_units) AS BIGINT) AS n_units,
           ROUND(CAST(SUM(CAST(ROUND((x / mu) * ln(x / mu), 12)
                                AS DECIMAL(38,12))) AS DOUBLE)
                 / MAX(n_units), 6) AS theil_t,
           ROUND(CAST(SUM(CAST(ROUND(ln(1.0e0 / (x / mu)), 12)
                                AS DECIMAL(38,12))) AS DOUBLE)
                 / MAX(n_units), 6) AS theil_l
    FROM per CROSS JOIN tot
"""

@_q("q_theil_index", _THEIL_SQL)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L inequality of per-user total event value — the
    decomposable concentration gauges for "is engagement spread or
    captured by a few accounts"."""
    from conte_to_fresco_etl_spark.operators.robust import theil_index

    return theil_index(_events(spark, sf_dir), "user_id", "value")


_HHI_SQL = """
    WITH cells AS (
      SELECT event_type AS g, user_id AS u,
             SUM(CAST(value AS DECIMAL(18,4))) AS x
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL
      GROUP BY 1, 2
      HAVING SUM(CAST(value AS DECIMAL(18,4))) > 0
    ),
    totals AS (
      SELECT g, SUM(x) AS t, COUNT(*) AS n_units FROM cells GROUP BY 1
    ),
    per AS (
      SELECT c.g, MAX(n_units) AS n_units,
             SUM(CAST(ROUND((CAST(x AS DOUBLE) / CAST(t AS DOUBLE))
                            * (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)),
                            12) AS DECIMAL(38,12))) AS h
      FROM cells c JOIN totals USING (g) GROUP BY 1
    )
    SELECT g AS event_type, CAST(n_units AS BIGINT) AS n_units,
           ROUND(CAST(h AS DOUBLE), 6) AS hhi,
           CASE WHEN n_units > 1 THEN ROUND(
             (CAST(h AS DOUBLE) - 1.0e0 / n_units)
             / (1.0e0 - 1.0e0 / n_units), 6) END AS hhi_norm
    FROM per
"""

@_q("q_herfindahl", _HHI_SQL)
def q_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of per-user value shares
    inside each event type — plus the size-normalized form."""
    from conte_to_fresco_etl_spark.operators.robust import (
        herfindahl_by_group,
    )

    return herfindahl_by_group(
        _events(spark, sf_dir), "event_type", "user_id", "value"
    )


# ---------------------------------------------------------------------------
# Retrieval / ranking-agreement metrics (r9)
# ---------------------------------------------------------------------------

#: CTE cells: per event type g and user i, the summed value s and the
#: relevance label rel (user_id % 7 = 0).
_USER_SCORE_CELLS_SQL = """cells AS (
      SELECT event_type AS g, user_id AS i,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
               AS s,
             MAX(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS rel
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    )"""

_MRR_SQL = f"""
    WITH {_USER_SCORE_CELLS_SQL},
    r AS (
      SELECT g, rel,
             ROW_NUMBER() OVER (
               PARTITION BY g ORDER BY s DESC, i ASC) AS rnk
      FROM cells
    )
    SELECT g AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(rel) AS BIGINT) AS n_relevant,
           CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
             AS first_rank,
           ROUND(1.0e0 / MIN(CASE WHEN rel = 1 THEN rnk END), 6) AS rr
    FROM r GROUP BY 1
"""

@_q("q_mrr", _MRR_SQL)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query reciprocal rank (queries = event types, items = users
    ranked by total value, relevance = a deterministic user subset):
    the MRR building block, partitioned rank windows only."""
    from conte_to_fresco_etl_spark.operators.robust import (
        reciprocal_rank_by_group,
    )

    ev = _events(spark, sf_dir)
    return reciprocal_rank_by_group(
        ev,
        "event_type",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
        F.col("user_id") % 7 == 0,
    )


_MAP_SQL = f"""
    WITH {_USER_SCORE_CELLS_SQL},
    r AS (
      SELECT g, rel,
             ROW_NUMBER() OVER (
               PARTITION BY g ORDER BY s DESC, i ASC) AS rnk,
             SUM(rel) OVER (
               PARTITION BY g ORDER BY s DESC, i ASC
               ROWS UNBOUNDED PRECEDING) AS cumrel
      FROM cells
    )
    SELECT g AS event_type,
           CAST(SUM(rel) AS BIGINT) AS n_relevant,
           CAST(SUM(CASE WHEN rel = 1 AND rnk <= 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS rel_in_topk,
           CASE WHEN SUM(rel) > 0 THEN ROUND(
             CAST(SUM(CASE WHEN rel = 1 AND rnk <= 20
                      THEN CAST(ROUND(CAST(cumrel AS DOUBLE) / rnk, 9)
                                AS DECIMAL(38,9))
                      ELSE CAST(0 AS DECIMAL(38,9)) END) AS DOUBLE)
             / LEAST(CAST(SUM(rel) AS DOUBLE), 20.0), 6)
           END AS ap
    FROM r GROUP BY 1
"""

@_q("q_map_at_k", _MAP_SQL)
def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision@20 per query group — precision@i at each
    relevant rank from ONE partitioned cumulative window; averaging
    the ap column is MAP@20."""
    from conte_to_fresco_etl_spark.operators.robust import (
        average_precision_by_group,
    )

    ev = _events(spark, sf_dir)
    return average_precision_by_group(
        ev,
        "event_type",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
        F.col("user_id") % 7 == 0,
        k=20,
    )


_KENDALL_W_SQL = """
    WITH cells AS (
      SELECT event_type AS j, user_id % 20 AS i,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT r.j, it.i, COALESCE(c.v, 0.0) AS v
      FROM (SELECT DISTINCT j FROM cells) r
      CROSS JOIN (SELECT DISTINCT i FROM cells) it
      LEFT JOIN cells c ON c.j = r.j AND c.i = it.i
    ),
    ranked AS (
      SELECT j, i,
             2 * RANK() OVER (PARTITION BY j ORDER BY v ASC)
               + COUNT(*) OVER (PARTITION BY j, v) - 1 AS m2
      FROM grid
    ),
    per_item AS (SELECT i, SUM(m2) AS r2 FROM ranked GROUP BY 1),
    ties AS (
      SELECT SUM(tj) AS tsum, COUNT(*) AS m_raters FROM (
        SELECT j, SUM(CAST(t AS DECIMAL(38,0)) * t * t
                      - CAST(t AS DECIMAL(38,0))) AS tj
        FROM (SELECT j, v, COUNT(*) AS t FROM grid GROUP BY 1, 2)
        GROUP BY 1
      )
    ),
    nn AS (SELECT COUNT(DISTINCT i) AS n_items FROM cells),
    mom AS (
      SELECT MAX(n_items) AS n_items,
             SUM(CAST(r2 AS DECIMAL(38,0))) AS sum_r2,
             SUM(CAST(r2 AS DECIMAL(38,0)) * r2) AS sum_r2sq
      FROM per_item CROSS JOIN nn
    )
    SELECT CAST(m_raters AS BIGINT) AS m_raters,
           CAST(n_items AS BIGINT) AS n_items,
           CASE WHEN CAST(m_raters AS DOUBLE) * m_raters
                     * (CAST(n_items AS DOUBLE) * n_items * n_items
                        - n_items)
                   - m_raters * CAST(tsum AS DOUBLE) > 0
           THEN ROUND(
             12.0 * ((CAST(sum_r2sq AS DOUBLE)
                      - CAST(sum_r2 AS DOUBLE) * CAST(sum_r2 AS DOUBLE)
                        / n_items) / 4.0)
             / (CAST(m_raters AS DOUBLE) * m_raters
                * (CAST(n_items AS DOUBLE) * n_items * n_items - n_items)
                - m_raters * CAST(tsum AS DOUBLE)), 6)
           END AS w
    FROM mom CROSS JOIN ties
"""

@_q("q_kendall_w", _KENDALL_W_SQL)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance across event types rating
    user buckets by mean value — tie-corrected, midranks from
    partitioned windows over the complete rater x item grid."""
    from conte_to_fresco_etl_spark.operators.robust import kendall_w

    return kendall_w(
        _events(spark, sf_dir),
        "event_type",
        (F.col("user_id") % 20),
        "value",
    )


_RBO_SQL = """
    WITH cells AS (
      SELECT user_id AS i,
             ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS sa,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6)
               AS sb
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1
    ),
    ta AS (
      SELECT i, ROW_NUMBER() OVER (ORDER BY sa DESC, i ASC) AS ra
      FROM cells ORDER BY sa DESC, i ASC LIMIT 50
    ),
    tb AS (
      SELECT i, ROW_NUMBER() OVER (ORDER BY sb DESC, i ASC) AS rb
      FROM cells ORDER BY sb DESC, i ASC LIMIT 50
    ),
    bo AS (SELECT ta.i, ra, rb FROM ta JOIN tb USING (i)),
    contrib AS (
      SELECT CAST(ROUND(0.1e0 * pow(0.9e0, CAST(d AS DOUBLE) - 1)
                        / CAST(d AS DOUBLE), 12) AS DECIMAL(38,12)) AS t
      FROM bo, generate_series(1, 50) AS g(d)
      WHERE ra <= d AND rb <= d
    )
    SELECT CAST(50 AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bo) AS in_both,
           ROUND(COALESCE(CAST(SUM(t) AS DOUBLE), 0.0), 6) AS rbo
    FROM contrib
"""

@_q("q_rbo", _RBO_SQL)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, truncated at 50) between the
    count-based and value-based top-50 user rankings — top-weighted
    ranking agreement; both rankings are TakeOrdered(50)."""
    from conte_to_fresco_etl_spark.operators.robust import (
        rank_biased_overlap,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return rank_biased_overlap(
        ev.select(F.col("user_id"), F.col("value")),
        "user_id",
        F.count("*").cast("double"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
        k=50,
        p=0.9,
    )


# ---------------------------------------------------------------------------
# Graph structure metrics over the co-occurrence graph (r9)
# ---------------------------------------------------------------------------

#: shared CTE prefix: the hour-bucket user co-occurrence graph
#: (q_adamic_adar's construction) canonicalized to a < b simple edges
_COOCCUR_EDGES_CTE = """
    posts AS (
      SELECT DISTINCT user_id AS k, date_trunc('hour', ts) AS ctx
      FROM events WHERE user_id < 40
    ),
    edges AS (
      SELECT a.k AS a, b.k AS b
      FROM posts a JOIN posts b ON a.ctx = b.ctx AND a.k < b.k
      GROUP BY 1, 2 HAVING COUNT(*) >= 8
    )
"""

_LINK_SCORES_SQL = f"""
    WITH {_COOCCUR_EDGES_CTE},
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM und GROUP BY 1),
    adj AS (
      SELECT u, und.v,
             ROUND(1.0e0 / CAST(deg AS DOUBLE), 9) AS w
      FROM und JOIN deg ON und.v = deg.v
    ),
    pairs AS (
      SELECT l.u AS a, r.u AS b, COUNT(*) AS n_common,
             SUM(CAST(l.w AS DECIMAL(28,9))) AS ra
      FROM adj l JOIN adj r ON l.v = r.v AND l.u < r.u
      GROUP BY 1, 2
    )
    SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(CAST(n_common AS DOUBLE)
                 / CAST(da.deg + db.deg - n_common AS DOUBLE), 6)
             AS jaccard,
           CAST(da.deg AS BIGINT) * db.deg AS pref_attach,
           ROUND(CAST(ra AS DOUBLE), 6) AS res_alloc
    FROM pairs JOIN deg da ON pairs.a = da.v
               JOIN deg db ON pairs.b = db.v
"""

@_q("q_link_scores", _LINK_SCORES_SQL)
def q_link_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link-prediction feature panel (common neighbors, Jaccard,
    preferential attachment, resource allocation) over the user
    co-occurrence graph — one wedge posting self-join plus broadcast
    degree attaches."""
    from conte_to_fresco_etl_spark.operators.graph import (
        cooccurrence_edges,
        link_prediction_scores,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=8,
    )
    return link_prediction_scores(edges)


_TRANSITIVITY_SQL = f"""
    WITH {_COOCCUR_EDGES_CTE},
    canon AS (SELECT DISTINCT a AS u, b AS v FROM edges WHERE a < b),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM canon e1
      JOIN canon e2 ON e2.u = e1.v
      JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (
      SELECT u AS n FROM canon UNION ALL SELECT v AS n FROM canon
    ),
    deg AS (SELECT n, COUNT(*) AS deg FROM nodes GROUP BY 1),
    st AS (
      SELECT COUNT(*) AS n_nodes,
             CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(CAST(deg AS DECIMAL(38,0)) * (deg - 1)) / 2
                  AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes, n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles, n_wedges,
           CASE WHEN n_wedges > 0 THEN ROUND(
             3.0 * CAST(n_triangles AS DOUBLE)
             / CAST(n_wedges AS DOUBLE), 6) END AS transitivity
    FROM st CROSS JOIN tri
"""

@_q("q_transitivity", _TRANSITIVITY_SQL)
def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the co-occurrence graph:
    3 x triangles / wedges, triangles via the degree-ordered
    orientation, wedges from one degree collapse."""
    from conte_to_fresco_etl_spark.operators.graph import (
        clustering_coefficient,
        cooccurrence_edges,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=8,
    )
    return clustering_coefficient(edges)


_ASSORTATIVITY_SQL = f"""
    WITH {_COOCCUR_EDGES_CTE},
    canon AS (SELECT DISTINCT a AS u, b AS v FROM edges WHERE a < b),
    nodes AS (
      SELECT u AS n FROM canon UNION ALL SELECT v AS n FROM canon
    ),
    deg AS (SELECT n, COUNT(*) AS deg FROM nodes GROUP BY 1),
    ends AS (
      SELECT du.deg AS x, dv.deg AS y
      FROM canon JOIN deg du ON canon.u = du.n
                 JOIN deg dv ON canon.v = dv.n
    ),
    xy AS (
      SELECT x, y FROM ends UNION ALL SELECT y AS x, x AS y FROM ends
    ),
    mom AS (
      SELECT COUNT(*) AS m,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM xy
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m > 0
                 AND CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m > 0
           THEN ROUND(
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE) / m)
             / sqrt((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx / m)
                    * (CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * sy / m)), 6)
           END AS assortativity
    FROM mom
"""

@_q("q_assortativity", _ASSORTATIVITY_SQL)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-occurrence graph: Pearson
    correlation of endpoint degrees over both edge directions."""
    from conte_to_fresco_etl_spark.operators.graph import (
        cooccurrence_edges,
        degree_assortativity,
    )

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 40)
    edges = cooccurrence_edges(
        ev,
        key_col="user_id",
        context_col=F.date_trunc("hour", F.col("ts")),
        min_shared=8,
    )
    return degree_assortativity(edges)


# ---------------------------------------------------------------------------
# Experimentation additions (r9): delta method / DiD / power analysis
# ---------------------------------------------------------------------------

_DELTA_METHOD_SQL = """
    WITH per AS (
      SELECT user_id,
             ROUND(CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 6)
               AS y,
             ROUND(CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                        ELSE 0 END) AS DOUBLE), 6) AS x
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy,
             SUM(CAST(x AS DECIMAL(18,6))) AS sx,
             SUM(CAST(CAST(y AS DECIMAL(38,6))
                      * CAST(y AS DECIMAL(18,6)) AS DECIMAL(38,12)))
               AS syy,
             SUM(CAST(CAST(x AS DECIMAL(38,6))
                      * CAST(x AS DECIMAL(18,6)) AS DECIMAL(38,12)))
               AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(38,6))
                      * CAST(x AS DECIMAL(18,6)) AS DECIMAL(38,12)))
               AS sxy
      FROM per
    ),
    c AS (
      SELECT CAST(n AS BIGINT) AS n_units,
             CAST(n AS DOUBLE) AS nd,
             CAST(sy AS DOUBLE) / n AS my,
             CAST(sx AS DOUBLE) / n AS mx,
             (CAST(syy AS DOUBLE) - n * (CAST(sy AS DOUBLE) / n)
                * (CAST(sy AS DOUBLE) / n)) / (n - 1.0) AS vyy,
             (CAST(sxx AS DOUBLE) - n * (CAST(sx AS DOUBLE) / n)
                * (CAST(sx AS DOUBLE) / n)) / (n - 1.0) AS vxx,
             (CAST(sxy AS DOUBLE) - n * (CAST(sy AS DOUBLE) / n)
                * (CAST(sx AS DOUBLE) / n)) / (n - 1.0) AS vxy
      FROM mom
    )
    SELECT n_units,
           CASE WHEN mx <> 0 THEN ROUND(my / mx, 6) END AS ratio,
           CASE WHEN n_units >= 2 AND mx <> 0 THEN ROUND(sqrt(GREATEST(
             (vyy - 2.0 * (my / mx) * vxy
              + (my / mx) * (my / mx) * vxx) / (nd * mx * mx), 0.0)), 6)
           END AS se,
           CASE WHEN n_units >= 2 AND mx <> 0 THEN ROUND(
             my / mx - 1.959963984540054 * sqrt(GREATEST(
               (vyy - 2.0 * (my / mx) * vxy
                + (my / mx) * (my / mx) * vxx) / (nd * mx * mx), 0.0)), 6)
           END AS ci_lo,
           CASE WHEN n_units >= 2 AND mx <> 0 THEN ROUND(
             my / mx + 1.959963984540054 * sqrt(GREATEST(
               (vyy - 2.0 * (my / mx) * vxy
                + (my / mx) * (my / mx) * vxx) / (nd * mx * mx), 0.0)), 6)
           END AS ci_hi
    FROM c
"""

@_q("q_delta_method", _DELTA_METHOD_SQL)
def q_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method SE/CI for click-revenue-per-view over user units —
    the correct ratio-metric inference (correlated per-unit numerator
    and denominator), one per-unit collapse + decimal moments."""
    from conte_to_fresco_etl_spark.operators.robust import (
        ratio_metric_delta,
    )

    ev = _events(spark, sf_dir)
    return ratio_metric_delta(
        ev,
        "user_id",
        F.sum(
            F.when(
                F.col("event_type") == "click",
                F.col("value").cast("decimal(18,4)"),
            ).otherwise(F.lit(0).cast("decimal(18,4)"))
        ).cast("double"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("double"),
    )


_DID_SQL = """
    WITH cells AS (
      SELECT CAST(user_id % 2 = 0 AS INT) AS t,
             CAST(day(ts) >= 16 AS INT) AS p,
             COUNT(*) AS n,
             SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
                      AS DECIMAL(18,6))) AS s,
             SUM(CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
                           AS DECIMAL(38,6))
                      * CAST(ROUND(CAST(value AS DOUBLE), 6)
                             AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS ss
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    per AS (
      SELECT t, p, n,
             ROUND(CAST(s AS DOUBLE) / n, 9) AS m,
             ROUND(((CAST(ss AS DOUBLE)
                     - n * (CAST(s AS DOUBLE) / n)
                       * (CAST(s AS DOUBLE) / n)) / (n - 1.0)) / n, 12)
               AS vm
      FROM cells
    ),
    agg AS (
      SELECT SUM(n) AS n, MIN(n) AS minn, COUNT(*) AS ncells,
             (MAX(CASE WHEN t = 1 AND p = 1 THEN m END)
              - MAX(CASE WHEN t = 1 AND p = 0 THEN m END))
             - (MAX(CASE WHEN t = 0 AND p = 1 THEN m END)
                - MAX(CASE WHEN t = 0 AND p = 0 THEN m END)) AS did,
             MAX(CASE WHEN t = 1 AND p = 1 THEN vm END)
             + MAX(CASE WHEN t = 1 AND p = 0 THEN vm END)
             + MAX(CASE WHEN t = 0 AND p = 1 THEN vm END)
             + MAX(CASE WHEN t = 0 AND p = 0 THEN vm END) AS var
      FROM per
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN ncells = 4 THEN ROUND(did, 6) END AS did,
           CASE WHEN ncells = 4 AND minn >= 2 AND var > 0
           THEN ROUND(sqrt(var), 6) END AS se,
           CASE WHEN ncells = 4 AND minn >= 2 AND var > 0
           THEN ROUND(did / sqrt(var), 6) END AS z_stat
    FROM agg
"""

@_q("q_diff_in_diff", _DID_SQL)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences (treat = even user ids, post =
    month day >= 16) with the four-cell normal SE — the corpus
    collapses to 4 moment rows in one pass."""
    from conte_to_fresco_etl_spark.operators.robust import diff_in_diff

    ev = _events(spark, sf_dir)
    return diff_in_diff(
        ev.filter(F.col("user_id").isNotNull()),
        (F.col("user_id") % 2) == 0,
        F.dayofmonth(F.col("ts")) >= 16,
        "value",
    )


_POWER_SQL = """
    WITH per AS (
      SELECT event_type AS g, COUNT(*) AS n_obs,
             SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
                      AS DECIMAL(18,6))) AS s,
             SUM(CAST(CAST(ROUND(CAST(value AS DOUBLE), 6)
                           AS DECIMAL(38,6))
                      * CAST(ROUND(CAST(value AS DOUBLE), 6)
                             AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS ss
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    c AS (
      SELECT g, n_obs,
             CAST(s AS DOUBLE) / n_obs AS mean,
             (CAST(ss AS DOUBLE) - n_obs * (CAST(s AS DOUBLE) / n_obs)
                * (CAST(s AS DOUBLE) / n_obs)) / (n_obs - 1.0) AS var
      FROM per
    )
    SELECT g AS event_type, CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(mean, 6) AS mean,
           CASE WHEN n_obs >= 2 THEN ROUND(sqrt(var), 6) END AS sd,
           ROUND(0.05 * mean, 6) AS mde_abs,
           CASE WHEN n_obs >= 2 AND mean <> 0 AND var > 0
           THEN CAST(CEIL(2.0 * var
                          * (1.959963984540054 + 0.8416212335729143)
                          * (1.959963984540054 + 0.8416212335729143)
                          / ((0.05 * mean) * (0.05 * mean))) AS BIGINT)
           END AS n_required
    FROM c
"""

@_q("q_power_analysis", _POWER_SQL)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric required sample size per arm (two-sided alpha 0.05,
    power 0.8, 5% relative MDE) from one moment collapse — the "how
    long must this test run" planning table."""
    from conte_to_fresco_etl_spark.operators.robust import (
        power_analysis_by_group,
    )

    return power_analysis_by_group(
        _events(spark, sf_dir), "event_type", "value", rel_mde=0.05
    )


_SAX_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND(v, 6) AS DECIMAL(18,6))) AS s,
             SUM(CAST(CAST(ROUND(v, 6) AS DECIMAL(38,6))
                      * CAST(ROUND(v, 6) AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS ss
      FROM daily
    ),
    z AS (
      SELECT FLOOR(i * 8 / n) AS segment,
             CASE WHEN sqrt(GREATEST(CAST(ss AS DOUBLE) / n
                            - (CAST(s AS DOUBLE) / n)
                              * (CAST(s AS DOUBLE) / n), 0.0)) > 0
             THEN ROUND((v - CAST(s AS DOUBLE) / n)
                        / sqrt(GREATEST(CAST(ss AS DOUBLE) / n
                               - (CAST(s AS DOUBLE) / n)
                                 * (CAST(s AS DOUBLE) / n), 0.0)), 9)
             ELSE 0.0 END AS zv
      FROM idx CROSS JOIN mom
    ),
    paa AS (
      SELECT segment, COUNT(*) AS n_days,
             ROUND(CAST(SUM(CAST(zv AS DECIMAL(38,9))) AS DOUBLE)
                   / COUNT(*), 6) AS paa
      FROM z GROUP BY 1
    )
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(n_days AS BIGINT) AS n_days, paa,
           CASE WHEN paa < -0.6744897501960817 THEN 'a'
                WHEN paa < 0.0 THEN 'b'
                WHEN paa < 0.6744897501960817 THEN 'c'
                ELSE 'd' END AS symbol
    FROM paa
"""

@_q("q_sax_symbols", _SAX_SQL)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily mean series (8 PAA segments,
    4-letter N(0,1)-quartile alphabet) — the shape string for motif
    and anomaly search; day indices from the distributed prefix sum,
    never a global window."""
    from conte_to_fresco_etl_spark.operators.robust import sax_symbols

    return sax_symbols(_events(spark, sf_dir), "ts", "value", n_segments=8)


# ---------------------------------------------------------------------------
# Batch-3 additions (r9): scale/trend/drift tests, R/S, white-noise,
# one-sample KS
# ---------------------------------------------------------------------------

_ANSARI_SQL = f"""
    WITH {_CLICK_VIEW_MARG_SQL},
    c AS (
      SELECT v, ca, cb,
             SUM(ca + cb) OVER (ORDER BY v) AS cumt
      FROM marg
    ),
    {_AB_TOTALS_SQL},
    w AS (
      SELECT SUM(CAST(ca AS DECIMAL(38,0))
                 * LEAST(2 * (cumt - (ca + cb)) + (ca + cb) + 1,
                         2 * (t.n_a + t.n_b + 1)
                         - (2 * (cumt - (ca + cb)) + (ca + cb) + 1)))
               AS w2
      FROM c, t
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           ROUND(CAST(w2 AS DOUBLE) / 2.0, 6) AS w_stat,
           CASE WHEN t.n_a >= 2 AND t.n_b >= 2 THEN
             CASE WHEN (t.n_a + t.n_b) % 2 = 0 THEN ROUND(
               (CAST(w2 AS DOUBLE) / 2.0
                - CAST(t.n_a AS DOUBLE) * (t.n_a + t.n_b + 2) / 4.0)
               / sqrt(CAST(t.n_a AS DOUBLE) * t.n_b
                      * (t.n_a + t.n_b + 2) * (t.n_a + t.n_b - 2)
                      / (48.0 * (t.n_a + t.n_b - 1))), 6)
             ELSE ROUND(
               (CAST(w2 AS DOUBLE) / 2.0
                - CAST(t.n_a AS DOUBLE) * (t.n_a + t.n_b + 1)
                  * (t.n_a + t.n_b + 1) / (4.0 * (t.n_a + t.n_b)))
               / sqrt(CAST(t.n_a AS DOUBLE) * t.n_b * (t.n_a + t.n_b + 1)
                      * (3.0 + CAST(t.n_a + t.n_b AS DOUBLE)
                         * (t.n_a + t.n_b))
                      / (48.0 * CAST(t.n_a + t.n_b AS DOUBLE)
                         * (t.n_a + t.n_b))), 6)
             END
           END AS z_stat
    FROM w, t
"""

@_q("q_ansari_bradley", _ANSARI_SQL)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test (click vs view): dispersion
    difference via doubled-integer AB scores on the prefix-sum
    midranks."""
    from conte_to_fresco_etl_spark.operators.robust import ansari_bradley

    return ansari_bradley(
        _events(spark, sf_dir), "event_type", "value", "click", "view"
    )


_JONCKHEERE_SQL = """
    WITH vals AS (
      SELECT CAST(FLOOR(hour(ts) / 6) AS INT) AS g, value AS v
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    marg AS (
      SELECT v,
             SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS c3
      FROM vals GROUP BY v
    ),
    c AS (
      SELECT v, c0, c1, c2, c3,
             SUM(c0) OVER (ORDER BY v) AS m0,
             SUM(c1) OVER (ORDER BY v) AS m1,
             SUM(c2) OVER (ORDER BY v) AS m2,
             SUM(c3) OVER (ORDER BY v) AS m3
      FROM marg
    ),
    j AS (
      SELECT SUM(CAST(2 * c1 * (m0 - c0) + c1 * c0 AS DECIMAL(38,0))
                 + CAST(2 * c2 * (m0 - c0) + c2 * c0 AS DECIMAL(38,0))
                 + CAST(2 * c3 * (m0 - c0) + c3 * c0 AS DECIMAL(38,0))
                 + CAST(2 * c2 * (m1 - c1) + c2 * c1 AS DECIMAL(38,0))
                 + CAST(2 * c3 * (m1 - c1) + c3 * c1 AS DECIMAL(38,0))
                 + CAST(2 * c3 * (m2 - c2) + c3 * c2 AS DECIMAL(38,0)))
               AS j2
      FROM c
    ),
    mom AS (
      SELECT SUM(ng) AS n,
             SUM(CAST(ng AS DECIMAL(38,0)) * ng) AS sn2,
             SUM(CAST(ng AS DECIMAL(38,0)) * ng * (2 * ng + 3)) AS sn23
      FROM (SELECT g, COUNT(*) AS ng FROM vals GROUP BY g)
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(j2 AS DOUBLE) / 2.0, 6) AS j_stat,
           CASE WHEN (CAST(n AS DOUBLE) * n * (2.0 * n + 3)
                      - CAST(sn23 AS DOUBLE)) / 72.0 > 0
           THEN ROUND(
             (CAST(j2 AS DOUBLE) / 2.0
              - (CAST(n AS DOUBLE) * n - CAST(sn2 AS DOUBLE)) / 4.0)
             / sqrt((CAST(n AS DOUBLE) * n * (2.0 * n + 3)
                     - CAST(sn23 AS DOUBLE)) / 72.0), 6)
           END AS z_stat
    FROM j, mom
"""

@_q("q_jonckheere", _JONCKHEERE_SQL)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered trend across the four time-of-day
    buckets — pairwise Mann-Whitney counts assembled from ONE
    prefix scan of the pooled value marginal."""
    from conte_to_fresco_etl_spark.operators.robust import (
        jonckheere_terpstra,
    )

    return jonckheere_terpstra(
        _events(spark, sf_dir),
        F.floor(F.hour(F.col("ts")) / 6),
        "value",
        k_groups=4,
    )


_PAGE_HINKLEY_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mu AS (
      SELECT ROUND(CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / COUNT(*), 6) AS mu,
             COUNT(*) AS n_days
      FROM daily
    ),
    m AS (
      SELECT day, n_days,
             SUM(CAST(ROUND(v - mu - 0.005, 9) AS DECIMAL(28,9)))
               OVER (ORDER BY day) AS mt
      FROM daily CROSS JOIN mu
    ),
    ph AS (
      SELECT day, n_days,
             CAST(mt AS DOUBLE)
             - CAST(MIN(mt) OVER (ORDER BY day) AS DOUBLE) AS phv
      FROM m
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           ROUND(phv, 6) AS ph_stat,
           CAST(day AS TIMESTAMP) AS at_day
    FROM ph ORDER BY phv DESC, day ASC LIMIT 1
"""

@_q("q_page_hinkley", _PAGE_HINKLEY_SQL)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift statistic over the daily series
    (delta = 0.005) — cumulative deviations AND the running minimum
    both on the distributed prefix machinery."""
    from conte_to_fresco_etl_spark.operators.robust import page_hinkley

    return page_hinkley(_events(spark, sf_dir), "ts", "value", delta=0.005)


_LJUNG_BOX_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mu AS (
      SELECT COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(18,9)))
                        AS DOUBLE) / COUNT(*), 6) AS mu
      FROM daily
    ),
    lagged AS (
      SELECT v,
             LAG(v, 1) OVER (ORDER BY day) AS l1,
             LAG(v, 2) OVER (ORDER BY day) AS l2,
             LAG(v, 3) OVER (ORDER BY day) AS l3,
             LAG(v, 4) OVER (ORDER BY day) AS l4,
             LAG(v, 5) OVER (ORDER BY day) AS l5
      FROM daily
    ),
    den AS (
      SELECT SUM(CAST(ROUND((v - mu) * (v - mu), 12)
                      AS DECIMAL(28,12))) AS d
      FROM lagged CROSS JOIN mu
    ),
    rho AS (
      SELECT k.lag AS lag,
             COUNT(CASE k.lag WHEN 1 THEN l1 WHEN 2 THEN l2
                   WHEN 3 THEN l3 WHEN 4 THEN l4 ELSE l5 END) AS n_pairs,
             ROUND(CAST(SUM(CASE WHEN (CASE k.lag WHEN 1 THEN l1
                            WHEN 2 THEN l2 WHEN 3 THEN l3
                            WHEN 4 THEN l4 ELSE l5 END) IS NOT NULL
                        THEN CAST(ROUND((v - mu)
                             * ((CASE k.lag WHEN 1 THEN l1 WHEN 2 THEN l2
                                 WHEN 3 THEN l3 WHEN 4 THEN l4 ELSE l5
                                 END) - mu), 12) AS DECIMAL(28,12))
                        END) AS DOUBLE)
                   / CAST((SELECT d FROM den) AS DOUBLE), 6) AS acf
      FROM lagged CROSS JOIN mu
      CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS lag) k
      GROUP BY 1
    ),
    agg AS (
      SELECT MAX(n_pairs + lag) AS n, COUNT(*) AS h,
             SUM(CAST(ROUND(acf * acf / CAST(n_pairs AS DOUBLE), 12)
                      AS DECIMAL(38,12))) AS s
      FROM rho
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(h AS BIGINT) AS h,
           CASE WHEN n > h THEN ROUND(
             CAST(n AS DOUBLE) * (n + 2.0) * CAST(s AS DOUBLE), 6)
           END AS q_stat
    FROM agg
"""

@_q("q_ljung_box", _LJUNG_BOX_SQL)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q (h=5) on the daily series — the portmanteau
    white-noise test assembled from the shared-sort acf operator."""
    from conte_to_fresco_etl_spark.operators.robust import ljung_box

    return ljung_box(_events(spark, sf_dir), "ts", "value", h=5)


_KS_UNIFORM_SQL = """
    WITH vals AS (
      SELECT value AS v FROM events WHERE value IS NOT NULL
    ),
    marg AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
    cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS cm,
             COUNT(*) OVER () AS dummy
      FROM marg
    ),
    t AS (SELECT COUNT(*) AS n FROM vals),
    scored AS (
      SELECT t.n,
             ROUND(GREATEST(
               ABS(CAST(cm AS DOUBLE) / t.n
                   - LEAST(GREATEST(v / 500.0, 0.0), 1.0)),
               ABS(CAST(cm - c AS DOUBLE) / t.n
                   - LEAST(GREATEST(v / 500.0, 0.0), 1.0))), 9) AS d,
             v
      FROM cum, t
    )
    SELECT CAST(n AS BIGINT) AS n, ROUND(d, 6) AS d_stat,
           v AS at_value
    FROM scored ORDER BY d DESC, v ASC LIMIT 1
"""

@_q("q_ks_uniform", _KS_UNIFORM_SQL)
def q_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS against U(0, 500): the ECDF sup-gap evaluated at
    both sides of every step, the ECDF from one prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import ks_uniform

    return ks_uniform(_events(spark, sf_dir), "value", 0.0, 500.0)


_HURST_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily
    ),
    blk AS (
      SELECT w.w, FLOOR(i / w.w) AS b, i AS t, v
      FROM idx CROSS JOIN (SELECT unnest([8, 16, 32]) AS w) w
    ),
    sizes AS (
      SELECT w, b, COUNT(*) AS bn,
             ROUND(CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / COUNT(*), 9) AS bm,
             SUM(CAST(CAST(ROUND(v, 6) AS DECIMAL(38,6))
                      * CAST(ROUND(v, 6) AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS bss
      FROM blk GROUP BY 1, 2 HAVING COUNT(*) = w
    ),
    cumdev AS (
      SELECT blk.w, blk.b, bn, bm, bss,
             SUM(CAST(ROUND(v - bm, 9) AS DECIMAL(38,9)))
               OVER (PARTITION BY blk.w, blk.b ORDER BY t) AS cd
      FROM blk JOIN sizes ON blk.w = sizes.w AND blk.b = sizes.b
    ),
    rs AS (
      SELECT w, b,
             CAST(MAX(cd) AS DOUBLE) - CAST(MIN(cd) AS DOUBLE) AS r,
             sqrt(GREATEST(CAST(MAX(bss) AS DOUBLE) / MAX(bn)
                           - MAX(bm) * MAX(bm), 0.0)) AS s
      FROM cumdev GROUP BY 1, 2
    ),
    pts AS (
      SELECT w, COUNT(*) AS n_blocks,
             ROUND(CAST(SUM(CAST(ROUND(r / s, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) / COUNT(*), 6) AS mean_rs
      FROM rs WHERE s > 0 GROUP BY 1
    ),
    good AS (SELECT * FROM pts WHERE mean_rs > 0),
    mom AS (
      SELECT COUNT(*) AS k,
             SUM(CAST(ROUND(ln(CAST(w AS DOUBLE)) / ln(2.0e0), 12)
                      AS DECIMAL(38,12))) AS sx,
             SUM(CAST(ROUND(ln(mean_rs) / ln(2.0e0), 12)
                      AS DECIMAL(38,12))) AS sy,
             SUM(CAST(ROUND((ln(CAST(w AS DOUBLE)) / ln(2.0e0))
                            * (ln(mean_rs) / ln(2.0e0)), 12)
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(ROUND((ln(CAST(w AS DOUBLE)) / ln(2.0e0))
                            * (ln(CAST(w AS DOUBLE)) / ln(2.0e0)), 12)
                      AS DECIMAL(38,12))) AS sxx
      FROM good
    )
    SELECT CAST(w AS BIGINT) AS w, CAST(n_blocks AS BIGINT) AS n_blocks,
           mean_rs,
           CASE WHEN k >= 2 THEN ROUND(
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE) / k)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sx AS DOUBLE) / k), 6)
           END AS hurst
    FROM good CROSS JOIN mom
"""

@_q("q_hurst_exponent", _HURST_SQL)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (block sizes 8/16/32)
    of the daily series — persistence vs mean reversion; per-block
    cumulative deviations in block-partitioned windows only."""
    from conte_to_fresco_etl_spark.operators.robust import hurst_exponent

    return hurst_exponent(
        _events(spark, sf_dir), "ts", "value", block_sizes=(8, 16, 32)
    )


# ---------------------------------------------------------------------------
# Parametric k-sample tests, normality screens, ordinal effect sizes (r9
# batch 4): the "can I even run the parametric test" toolkit — ANOVA, its
# variance-homogeneity precondition (Levene), its normality precondition
# (Jarque-Bera), the ordinal effect size (Cliff's delta), and the cyclic
# goodness-of-fit form (Kuiper).
# ---------------------------------------------------------------------------

#: CTE vals: (event_type g, value v) of every event with both.
_EVENT_VALS_SQL = """vals AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    )"""


def _group_sums_sql(x: str, src: str) -> str:
    """CTE per_g: count n and decimal sums s1, s2 of ``x`` and x² per group g of ``src``."""
    return f"""per_g AS (
      SELECT g, COUNT(*) AS n,
             SUM(CAST({x} AS DECIMAL(18,4))) AS s1,
             SUM(CAST(CAST({x} AS DECIMAL(18,4)) * CAST({x} AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS s2
      FROM {src} GROUP BY g
    )"""


def _anova_sums_sql(x: str, src: str) -> str:
    """CTEs per_g/agg/d: one-way ANOVA of ``x`` by g over ``src`` — n, k, ssb, ssw."""
    return f"""{_group_sums_sql(x, src)},
    agg AS (
      SELECT SUM(n) AS n, COUNT(*) AS k, SUM(s1) AS s, SUM(s2) AS ss,
             SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n AS DOUBLE), 6)
                      AS DECIMAL(38,6))) AS sq
      FROM per_g
    ),
    d AS (
      SELECT n, k,
             CAST(sq AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE) AS ssb,
             CAST(ss AS DOUBLE) - CAST(sq AS DOUBLE) AS ssw
      FROM agg
    )"""


#: Levene's W from ``d`` (the ANOVA F of the absolute deviations).
_LEVENE_W_SQL = """SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CASE WHEN k >= 2 AND n > k AND ssw > 0
           THEN ROUND(((CAST(n AS DOUBLE) - k) / (k - 1.0))
                      * (ssb / ssw), 6)
           END AS w_stat
    FROM d"""


_ANOVA_SQL = f"""
    WITH {_EVENT_VALS_SQL},
    {_anova_sums_sql("v", "vals")}
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           ROUND(ssb, 6) AS ss_between, ROUND(ssw, 6) AS ss_within,
           CASE WHEN k >= 2 AND n > k AND ssw > 0
           THEN ROUND((ssb / (k - 1.0))
                      / (ssw / (CAST(n AS DOUBLE) - k)), 6)
           END AS f_stat,
           CASE WHEN ssb + ssw > 0
           THEN ROUND(ssb / (ssb + ssw), 6) END AS eta_sq
    FROM d
"""

@_q("q_anova", _ANOVA_SQL)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across all event types: both sums of squares
    from ONE k-row sufficient-stat collapse (SSB = sum S_g^2/n_g -
    S^2/N), decimal-exact moments, no grand-mean cross join."""
    from conte_to_fresco_etl_spark.operators.robust import one_way_anova

    return one_way_anova(_events(spark, sf_dir), "event_type", "value")


_LEVENE_SQL = f"""
    WITH {_EVENT_VALS_SQL},
    means AS (
      SELECT g, CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
                / COUNT(*) AS mean
      FROM vals GROUP BY g
    ),
    z AS (
      SELECT vals.g,
             ROUND(ABS(CAST(CAST(v AS DECIMAL(18,4)) AS DOUBLE) - mean),
                   6) AS zv
      FROM vals JOIN means ON vals.g = means.g
    ),
    {_anova_sums_sql("zv", "z")}
    {_LEVENE_W_SQL}
"""

@_q("q_levene", _LEVENE_SQL)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene variance-homogeneity test (mean-centered) across event
    types: k-row mean table broadcast back, ANOVA machinery on
    |v - mean_g| — the precondition gate for q_anova."""
    from conte_to_fresco_etl_spark.operators.robust import levene_test

    return levene_test(_events(spark, sf_dir), "event_type", "value")


#: CTEs vals/per_g: per event type grp, the count n and decimal power sums
#: s1..s4 of the 4-dp values.
_POWER_SUMS_SQL = """vals AS (
      SELECT event_type AS grp, ROUND(CAST(value AS DOUBLE), 4) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    per_g AS (
      SELECT grp, COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(18,4))) AS s1,
             SUM(CAST(ROUND(v * v, 8) AS DECIMAL(38,8))) AS s2,
             SUM(CAST(ROUND(v * v * v, 6) AS DECIMAL(38,6))) AS s3,
             SUM(CAST(ROUND(v * v * v * v, 6) AS DECIMAL(38,6))) AS s4
      FROM vals GROUP BY grp
    )"""


_JB_SQL = f"""
    WITH {_POWER_SUMS_SQL},
    m AS (
      SELECT grp, n,
             CAST(s1 AS DOUBLE) / n AS mean,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM per_g
    ),
    c AS (
      SELECT grp, n,
             r2 - mean * mean AS m2,
             r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
             r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
                - 3.0 * mean * mean * mean * mean AS m4
      FROM m
    ),
    g AS (
      SELECT grp, n, m2,
             m3 / sqrt(m2 * m2 * m2) AS g1,
             m4 / (m2 * m2) - 3.0 AS g2
      FROM c
    )
    SELECT grp AS "group", CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND m2 > 0 THEN ROUND(g1, 6) END AS skewness,
           CASE WHEN n >= 2 AND m2 > 0 THEN ROUND(g2, 6) END AS ex_kurtosis,
           CASE WHEN n >= 2 AND m2 > 0 THEN ROUND(
             CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6)
           END AS jb_stat
    FROM g
"""

@_q("q_jarque_bera", _JB_SQL)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen per event type: four ROUND-pinned
    decimal power sums in one map-combinable pass; skew/kurtosis from
    raw-moment algebra — sort-free normality at any scale."""
    from conte_to_fresco_etl_spark.operators.robust import jarque_bera

    return jarque_bera(_events(spark, sf_dir), "event_type", "value")


_CLIFFS_SQL = f"""
    WITH vals AS (
      SELECT event_type = 'purchase' AS isa, value AS v FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')
    ),
    marg AS (
      SELECT v,
             SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS cb
      FROM vals GROUP BY v
    ),
    cum AS (
      SELECT v, ca, cb, SUM(cb) OVER (ORDER BY v) AS cmb FROM marg
    ),
    {_AB_TOTALS_SQL},
    agg AS (
      SELECT MAX(t.n_a) AS n_a, MAX(t.n_b) AS n_b,
             SUM(CAST(ca AS DECIMAL(18,0))
                 * CAST(cmb - cb AS DECIMAL(18,0))) AS n_gt,
             SUM(CAST(ca AS DECIMAL(18,0))
                 * CAST(t.n_b - cmb AS DECIMAL(18,0))) AS n_lt
      FROM cum, t
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_gt AS BIGINT) AS n_gt, CAST(n_lt AS BIGINT) AS n_lt,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             CAST(n_gt - n_lt AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           END AS cliffs_delta
    FROM agg
"""

@_q("q_cliffs_delta", _CLIFFS_SQL)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (purchase vs error event values): pair counts off
    the b-count prefix scan — the n*m pair space is never built."""
    from conte_to_fresco_etl_spark.operators.robust import cliffs_delta

    return cliffs_delta(
        _events(spark, sf_dir), "event_type", "value", "purchase", "error"
    )


_KUIPER_SQL = """
    WITH vals AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 1000000) AS BIGINT) % 86400 AS v
      FROM events WHERE ts IS NOT NULL
    ),
    marg AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
    cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS cm FROM marg
    ),
    t AS (SELECT COUNT(*) AS n FROM vals),
    agg AS (
      SELECT MAX(t.n) AS n,
             MAX(ROUND(CAST(cm AS DOUBLE) / t.n
                 - LEAST(GREATEST((v - 0.0) / 86400.0, 0.0), 1.0),
                 9)) AS dp,
             MAX(ROUND(LEAST(GREATEST((v - 0.0) / 86400.0, 0.0), 1.0)
                 - CAST(cm - c AS DOUBLE) / t.n, 9)) AS dm
      FROM cum, t
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(GREATEST(dp, 0.0), 6) AS d_plus,
           ROUND(GREATEST(dm, 0.0), 6) AS d_minus,
           ROUND(GREATEST(dp, 0.0) + GREATEST(dm, 0.0), 6) AS v_stat
    FROM agg
"""

@_q("q_kuiper", _KUIPER_SQL)
def q_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper test of event time-of-day against U(0, 86400) — the
    cyclic-sensitive goodness-of-fit (a KS run on clock time misses
    shifts that wrap midnight; Kuiper's D+ + D- does not)."""
    from conte_to_fresco_etl_spark.operators.robust import kuiper_uniform

    tod = _events(spark, sf_dir).filter(F.col("ts").isNotNull()).select(
        (F.col("ts").cast("long") % 86400).alias("tod")
    )
    return kuiper_uniform(tod, "tod", 0, 86400)


# ---------------------------------------------------------------------------
# Paired / trend / autocorrelation / seasonality tests (r9 batch 5): the
# paired-design rank test, the dose-response proportion trend, the
# residual-independence screen, and the frequency-domain seasonality probe.
# ---------------------------------------------------------------------------

_WILCOXON_SQL = """
    WITH vals AS (
      SELECT user_id AS k, event_type = 'purchase' AS isa,
             CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    pairs AS (
      SELECT ROUND(
               CAST(SUM(CASE WHEN isa THEN CAST(v AS DECIMAL(18,4)) END)
                    AS DOUBLE)
               / COUNT(CASE WHEN isa THEN 1 END)
             - CAST(SUM(CASE WHEN NOT isa THEN CAST(v AS DECIMAL(18,4)) END)
                    AS DOUBLE)
               / COUNT(CASE WHEN NOT isa THEN 1 END), 6) AS d
      FROM vals GROUP BY k
      HAVING COUNT(CASE WHEN isa THEN 1 END) > 0
         AND COUNT(CASE WHEN NOT isa THEN 1 END) > 0
    ),
    np AS (SELECT COUNT(*) AS n_pairs FROM pairs),
    nz AS (SELECT d FROM pairs WHERE d <> 0),
    marg AS (
      SELECT ABS(d) AS ad, COUNT(*) AS ct,
             SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cp
      FROM nz GROUP BY ABS(d)
    ),
    cum AS (
      SELECT ad, ct, cp, SUM(ct) OVER (ORDER BY ad) AS cm FROM marg
    ),
    agg AS (
      SELECT SUM(ct) AS n_nonzero,
             SUM(CAST(cp AS DECIMAL(18,0))
                 * CAST(2 * (cm - ct) + ct + 1 AS DECIMAL(18,0))) AS wp2,
             SUM(CAST(CAST(ct AS DECIMAL(18,0)) * ct * ct - ct
                      AS DECIMAL(18,0))) AS tie
      FROM cum
    ),
    sel AS (
      SELECT CAST(np.n_pairs AS BIGINT) AS n_pairs,
             CAST(COALESCE(agg.n_nonzero, 0) AS BIGINT) AS n_nonzero,
             CAST(wp2 AS DOUBLE) / 2.0 AS wp,
             CAST(COALESCE(agg.n_nonzero, 0) AS DOUBLE) AS nd,
             CAST(tie AS DOUBLE) AS tied
      FROM agg, np
    )
    SELECT n_pairs, n_nonzero,
           ROUND(wp, 6) AS w_plus,
           ROUND(nd * (nd + 1.0) / 2.0 - wp, 6) AS w_minus,
           CASE WHEN n_nonzero >= 1
                 AND nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
                     - tied / 48.0 > 0
           THEN ROUND(
             (wp - nd * (nd + 1.0) / 4.0)
             / sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
                    - tied / 48.0), 6)
           END AS z_stat
    FROM sel
"""

@_q("q_wilcoxon", _WILCOXON_SQL)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank on per-user paired means (purchase vs view
    value): the paired-design robust test — pair table is one keyed
    collapse, |d| midranks ride the distributed prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import (
        wilcoxon_signed_rank,
    )

    return wilcoxon_signed_rank(
        _events(spark, sf_dir), "user_id", "event_type", "value",
        "purchase", "view",
    )


_DW_SQL = """
    WITH vals AS (
      SELECT user_id AS key, ts, event_id AS id, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        AND user_id < 16
    ),
    means AS (
      SELECT key, CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) AS mean
      FROM vals GROUP BY key
    ),
    resid AS (
      SELECT vals.key,
             ROUND(CAST(CAST(v AS DECIMAL(18,4)) AS DOUBLE) - mean, 6) AS e,
             LAG(ROUND(CAST(CAST(v AS DECIMAL(18,4)) AS DOUBLE) - mean, 6))
               OVER (PARTITION BY vals.key ORDER BY ts, id) AS ep
      FROM vals JOIN means ON vals.key = means.key
    ),
    agg AS (
      SELECT key, COUNT(*) AS n,
             SUM(CAST(ROUND((e - ep) * (e - ep), 10)
                      AS DECIMAL(38,10))) AS num,
             SUM(CAST(ROUND(e * e, 10) AS DECIMAL(38,10))) AS den
      FROM resid GROUP BY key
    )
    SELECT key, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND den > 0
           THEN ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
           END AS dw_stat
    FROM agg
"""

@_q("q_durbin_watson", _DW_SQL)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson per user series (16 users): first-order residual
    autocorrelation via PER-KEY lag windows — the independence screen
    for per-entity metrics."""
    from conte_to_fresco_etl_spark.operators.robust import durbin_watson

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 16)
    return durbin_watson(ev, "user_id", "ts", "event_id", "value")


_COCHRAN_ARMITAGE_SQL = """
    WITH vals AS (
      SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS s,
             event_type = 'purchase' AS ok
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    lv AS (
      SELECT s, COUNT(*) AS n,
             SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS r
      FROM vals GROUP BY s
    ),
    agg AS (
      SELECT SUM(n) AS n, COUNT(*) AS k, SUM(r) AS rr,
             SUM(CAST(s AS DECIMAL(18,0)) * r) AS sr,
             SUM(CAST(s AS DECIMAL(18,0)) * n) AS sn,
             SUM(CAST(s AS DECIMAL(18,0)) * s * n) AS ssn
      FROM lv
    ),
    d AS (
      SELECT n, k,
             CAST(sr AS DOUBLE)
               - CAST(sn AS DOUBLE)
                 * (CAST(rr AS DOUBLE) / CAST(n AS DOUBLE)) AS t,
             (CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(ssn AS DOUBLE)
                  - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                    / CAST(n AS DOUBLE)) AS var
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_levels,
           ROUND(t, 6) AS t_stat,
           CASE WHEN var > 0 THEN ROUND(t / sqrt(var), 6) END AS z_stat
    FROM d
"""

@_q("q_cochran_armitage", _COCHRAN_ARMITAGE_SQL)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend of purchase share across day-of-week
    (scores 0=Sun..6=Sat): all five sufficient sums off one 7-row
    contingency collapse — no cross join."""
    from conte_to_fresco_etl_spark.operators.robust import cochran_armitage

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        (F.dayofweek("ts") - F.lit(1)).alias("dow"),
        (F.col("event_type") == "purchase").alias("ok"),
    )
    return cochran_armitage(ev, "dow", "ok")


#: CTEs daily/stats/probes/terms/agg: the mean event value per day and,
#: per probe period, the cosine/sine sums (cs, ss) of its deviations.
_PROBE_PERIOD_SUMS_SQL = """daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,4)))
                        AS DOUBLE) / COUNT(*), 6) AS x
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS nd, MIN(day) AS d0,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS xbar
      FROM daily
    ),
    probes(period, w) AS (VALUES
      (2, 3.141592653589793), (3, 2.0943951023931953),
      (4, 1.5707963267948966), (5, 1.2566370614359172),
      (6, 1.0471975511965976), (7, 0.8975979010256552),
      (10, 0.6283185307179586), (14, 0.4487989505128276)
    ),
    terms AS (
      SELECT period, stats.nd,
             CAST(ROUND((x - xbar)
               * cos(w * CAST(date_diff('day', d0, day) AS DOUBLE)), 12)
               AS DECIMAL(38,12)) AS c,
             CAST(ROUND((x - xbar)
               * sin(w * CAST(date_diff('day', d0, day) AS DOUBLE)), 12)
               AS DECIMAL(38,12)) AS s
      FROM daily, stats, probes
    ),
    agg AS (
      SELECT period, MAX(nd) AS n_days, SUM(c) AS cs, SUM(s) AS ss
      FROM terms GROUP BY period
    )"""

_PERIODOGRAM_SQL = f"""
    WITH {_PROBE_PERIOD_SUMS_SQL}
    SELECT CAST(period AS BIGINT) AS period,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND((CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                 / CAST(n_days AS DOUBLE), 6) AS power
    FROM agg
"""

@_q("q_periodogram", _PERIODOGRAM_SQL)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram of the daily mean-value series at candidate
    periods 2..14 days: seasonality by direct DFT probe over the
    days-sized collapse — the weekly-cycle detector."""
    from conte_to_fresco_etl_spark.operators.robust import periodogram

    return periodogram(
        _events(spark, sf_dir), "ts", "value",
        periods=(2, 3, 4, 5, 6, 7, 10, 14),
    )


# ---------------------------------------------------------------------------
# Tail-weighted and variance-robust two-sample tests (r9 batch 6)
# ---------------------------------------------------------------------------

_AD_SQL = f"""
    WITH {_CLICK_VIEW_MARG_SQL},
    {_cum_counts_sql("cum")},
    {_AB_TOTALS_SQL},
    terms AS (
      SELECT t.n_a, t.n_b,
             CAST(ca + cb AS DOUBLE) AS lj,
             CAST(t.n_a + t.n_b AS DOUBLE) AS nn,
             CAST(cma + cmb AS DOUBLE)
               - CAST(ca + cb AS DOUBLE) / 2.0 AS bj,
             CAST(cma AS DOUBLE) - CAST(ca AS DOUBLE) / 2.0 AS ma,
             CAST(cmb AS DOUBLE) - CAST(cb AS DOUBLE) / 2.0 AS mb
      FROM cum, t
    ),
    tt AS (
      SELECT n_a, n_b,
             CASE WHEN bj * (nn - bj) - nn * lj / 4.0 > 0
             THEN CAST(ROUND(lj / nn
               * ((nn * ma - bj * CAST(n_a AS DOUBLE))
                  * (nn * ma - bj * CAST(n_a AS DOUBLE)))
               / (bj * (nn - bj) - nn * lj / 4.0), 12)
               AS DECIMAL(38,12))
             ELSE CAST(0.0 AS DECIMAL(38,12)) END AS ta,
             CASE WHEN bj * (nn - bj) - nn * lj / 4.0 > 0
             THEN CAST(ROUND(lj / nn
               * ((nn * mb - bj * CAST(n_b AS DOUBLE))
                  * (nn * mb - bj * CAST(n_b AS DOUBLE)))
               / (bj * (nn - bj) - nn * lj / 4.0), 12)
               AS DECIMAL(38,12))
             ELSE CAST(0.0 AS DECIMAL(38,12)) END AS tb
      FROM terms
    ),
    agg AS (
      SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             SUM(ta) AS sa, SUM(tb) AS sb
      FROM tt
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             (CAST(n_a + n_b AS DOUBLE) - 1.0)
             / CAST(n_a + n_b AS DOUBLE)
             * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                + CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)), 6)
           END AS a2_stat
    FROM agg
"""

@_q("q_anderson_darling", _AD_SQL)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling (tie-adjusted midrank A2akN) between
    click and view values: the tail-weighted drift test — all
    cumulatives on one distributed prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import (
        anderson_darling_2samp,
    )

    return anderson_darling_2samp(
        _events(spark, sf_dir), "event_type", "value", "click", "view"
    )


_BM_SQL = f"""
    WITH {_CLICK_VIEW_MARG_SQL},
    {_cum_counts_sql("cum")},
    mr AS (
      SELECT ca, cb,
             2 * ((cma + cmb) - (ca + cb)) + (ca + cb) + 1 AS m2p,
             2 * (cma - ca) + ca + 1 AS m2a,
             2 * (cmb - cb) + cb + 1 AS m2b
      FROM cum
    ),
    s1 AS (
      SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
             SUM(CAST(ca AS DECIMAL(18,0))
                 * CAST(m2p AS DECIMAL(19,0))) AS wa2,
             SUM(CAST(cb AS DECIMAL(18,0))
                 * CAST(m2p AS DECIMAL(19,0))) AS wb2
      FROM mr
    ),
    d AS (
      SELECT n_a, n_b,
             CAST(wa2 AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE)) AS ra,
             CAST(wb2 AS DOUBLE) / (2.0 * CAST(n_b AS DOUBLE)) AS rb
      FROM s1
    ),
    tt AS (
      SELECT d.n_a, d.n_b, d.ra, d.rb,
             SUM(CAST(ROUND(CAST(ca AS DOUBLE)
                   * (CAST(m2p AS DOUBLE) / 2.0
                      - CAST(m2a AS DOUBLE) / 2.0
                      - ra + (CAST(n_a AS DOUBLE) + 1.0) / 2.0)
                   * (CAST(m2p AS DOUBLE) / 2.0
                      - CAST(m2a AS DOUBLE) / 2.0
                      - ra + (CAST(n_a AS DOUBLE) + 1.0) / 2.0), 12)
                 AS DECIMAL(38,12))) AS ssa,
             SUM(CAST(ROUND(CAST(cb AS DOUBLE)
                   * (CAST(m2p AS DOUBLE) / 2.0
                      - CAST(m2b AS DOUBLE) / 2.0
                      - rb + (CAST(n_b AS DOUBLE) + 1.0) / 2.0)
                   * (CAST(m2p AS DOUBLE) / 2.0
                      - CAST(m2b AS DOUBLE) / 2.0
                      - rb + (CAST(n_b AS DOUBLE) + 1.0) / 2.0), 12)
                 AS DECIMAL(38,12))) AS ssb
      FROM mr, d GROUP BY d.n_a, d.n_b, d.ra, d.rb
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             (rb - (CAST(n_b AS DOUBLE) + 1.0) / 2.0)
             / CAST(n_a AS DOUBLE), 6) END AS p_hat,
           CASE WHEN n_a >= 2 AND n_b >= 2
                 AND CAST(n_a AS DOUBLE)
                     * (CAST(ssa AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0))
                   + CAST(n_b AS DOUBLE)
                     * (CAST(ssb AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0))
                   > 0
           THEN ROUND(
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * (rb - ra)
             / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                * sqrt(CAST(n_a AS DOUBLE)
                       * (CAST(ssa AS DOUBLE)
                          / (CAST(n_a AS DOUBLE) - 1.0))
                     + CAST(n_b AS DOUBLE)
                       * (CAST(ssb AS DOUBLE)
                          / (CAST(n_b AS DOUBLE) - 1.0)))), 6)
           END AS w_stat
    FROM tt
"""

@_q("q_brunner_munzel", _BM_SQL)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test (click vs view values): the
    unequal-variance-safe rank test — pooled and within-group midranks
    off ONE distributed prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import brunner_munzel

    return brunner_munzel(
        _events(spark, sf_dir), "event_type", "value", "click", "view"
    )


# ---------------------------------------------------------------------------
# Effect sizes, equivalence, stratified odds, likelihood-ratio independence,
# spectral entropy (r9, deferred to the r10 gate window)
# ---------------------------------------------------------------------------

_WELCH_WIDE_CTE = f"""
    vals AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ),
    {_group_sums_sql("v", "vals")},
    wide AS (
      SELECT SUM(CASE WHEN g = 'purchase' THEN n END) AS n_a,
             SUM(CASE WHEN g = 'purchase' THEN s1 END) AS s1a,
             SUM(CASE WHEN g = 'purchase' THEN s2 END) AS s2a,
             SUM(CASE WHEN g = 'view' THEN n END) AS n_b,
             SUM(CASE WHEN g = 'view' THEN s1 END) AS s1b,
             SUM(CASE WHEN g = 'view' THEN s2 END) AS s2b
      FROM per_g
    ),
    m AS (
      SELECT n_a, n_b,
             CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
             CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
             CAST(s2a AS DOUBLE) AS r2a, CAST(s2b AS DOUBLE) AS r2b
      FROM wide
    ),
    vv AS (
      SELECT n_a, n_b, ma, mb,
             (r2a - CAST(n_a AS DOUBLE) * ma * ma)
               / (CAST(n_a AS DOUBLE) - 1.0) AS va,
             (r2b - CAST(n_b AS DOUBLE) * mb * mb)
               / (CAST(n_b AS DOUBLE) - 1.0) AS vb
      FROM m
    )
"""

_EFFECT_SQL = f"""
    WITH {_WELCH_WIDE_CTE},
    d AS (
      SELECT n_a, n_b, ma, mb, va, vb,
             ((CAST(n_a AS DOUBLE) - 1.0) * va
              + (CAST(n_b AS DOUBLE) - 1.0) * vb)
             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0) AS sp2
      FROM vv
    )
    SELECT CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
           ROUND(ma - mb, 6) AS mean_diff,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND sp2 > 0
           THEN ROUND((ma - mb) / sqrt(sp2), 6) END AS cohens_d,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND sp2 > 0
           THEN ROUND(((ma - mb) / sqrt(sp2))
                      * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)
                                             + CAST(n_b AS DOUBLE))
                                      - 9.0)), 6)
           END AS hedges_g,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND vb > 0
           THEN ROUND((ma - mb) / sqrt(vb), 6) END AS glass_delta
    FROM d
"""

@_q("q_effect_sizes", _EFFECT_SQL)
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g / Glass's delta (purchase vs view value):
    the magnitude companion to q_welch_ttest — one sufficient-stat
    collapse, scalar algebra after."""
    from conte_to_fresco_etl_spark.operators.robust import effect_sizes

    return effect_sizes(
        _events(spark, sf_dir), "event_type", "value", "purchase", "view"
    )


_TOST_MARGIN = 5.0

_TOST_SQL = f"""
    WITH {_WELCH_WIDE_CTE},
    d AS (
      SELECT n_a, n_b, ma, mb,
             va / CAST(n_a AS DOUBLE) AS se2a,
             vb / CAST(n_b AS DOUBLE) AS se2b
      FROM vv
    ),
    e AS (
      SELECT n_a, n_b, ma, mb, se2a, se2b,
             sqrt(se2a + se2b) AS se
      FROM d
    )
    SELECT CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
           ROUND(ma - mb, 6) AS mean_diff,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
           THEN ROUND(se, 6) END AS se,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
           THEN ROUND((ma - mb + {_TOST_MARGIN!r}) / se, 6)
           END AS t_lower,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
           THEN ROUND((ma - mb - {_TOST_MARGIN!r}) / se, 6)
           END AS t_upper,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
           THEN ROUND((se2a + se2b) * (se2a + se2b)
                      / (se2a * se2a / (CAST(n_a AS DOUBLE) - 1.0)
                         + se2b * se2b / (CAST(n_b AS DOUBLE) - 1.0)), 6)
           END AS df,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
           THEN (ma - mb + {_TOST_MARGIN!r}) / se > 1.6449
                AND (ma - mb - {_TOST_MARGIN!r}) / se < -1.6449
           END AS equivalent
    FROM e
"""

@_q("q_tost", _TOST_SQL)
def q_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence (purchase vs view value, margin ±5.0): the
    do-no-harm launch gate — Welch se/df, one sufficient-stat
    collapse."""
    from conte_to_fresco_etl_spark.operators.robust import tost_equivalence

    return tost_equivalence(
        _events(spark, sf_dir), "event_type", "value",
        "purchase", "view", margin=_TOST_MARGIN,
    )


_MH_SQL = """
    WITH vals AS (
      SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS s,
             user_id % 2 = 0 AS e,
             event_type = 'purchase' AS o
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    cells AS (
      SELECT s,
             SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS d
      FROM vals GROUP BY s
    ),
    agg AS (
      SELECT COUNT(*) AS k_strata, SUM(a + b + c + d) AS n,
             SUM(a) AS ta, SUM(b) AS tb, SUM(c) AS tc, SUM(d) AS td,
             SUM(CAST(ROUND(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                            / CAST(a + b + c + d AS DOUBLE), 12)
                      AS DECIMAL(38,12))) AS num,
             SUM(CAST(ROUND(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                            / CAST(a + b + c + d AS DOUBLE), 12)
                      AS DECIMAL(38,12))) AS den
      FROM cells
    )
    SELECT CAST(k_strata AS BIGINT) AS k_strata, CAST(n AS BIGINT) AS n,
           CASE WHEN tb > 0 AND tc > 0 THEN ROUND(
             (CAST(ta AS DOUBLE) * CAST(td AS DOUBLE))
             / (CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)), 6)
           END AS or_crude,
           CASE WHEN CAST(den AS DOUBLE) > 0 THEN ROUND(
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
           END AS or_mh
    FROM agg
"""

@_q("q_mantel_haenszel", _MH_SQL)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio (purchase outcome, even/odd
    user arms, stratified by day-of-week) vs the crude pooled OR —
    Simpson's-paradox insurance from one k-stratum collapse."""
    from conte_to_fresco_etl_spark.operators.robust import mantel_haenszel

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        (F.dayofweek("ts") - F.lit(1)).alias("dow"),
        (F.col("user_id") % 2 == 0).alias("arm"),
        (F.col("event_type") == "purchase").alias("ok"),
    )
    return mantel_haenszel(ev, "dow", "arm", "ok")


_GTEST_SQL = """
    WITH cells AS (
      SELECT event_type AS a, user_id % 8 AS b, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    marg AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY a) AS row_tot,
             SUM(o) OVER (PARTITION BY b) AS col_tot,
             SUM(o) OVER () AS grand,
             a, b
      FROM cells
    )
    SELECT CAST(MAX(grand) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
                AS BIGINT) AS dof,
           ROUND(2.0 * CAST(SUM(CAST(ROUND(
             CAST(o AS DOUBLE)
             * ln(CAST(o AS DOUBLE)
                  / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                     / CAST(grand AS DOUBLE))), 12)
             AS DECIMAL(28,12))) AS DOUBLE), 6) AS g_stat
    FROM marg
"""

@_q("q_gtest", _GTEST_SQL)
def q_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (event_type x user-bucket): the
    likelihood-ratio sibling of q_chi_square (2N x mutual information
    in nats) — one contingency collapse, windows over |cells| rows."""
    from conte_to_fresco_etl_spark.operators.robust import g_test

    ev = _events(spark, sf_dir)
    return g_test(ev, F.col("event_type"), F.col("user_id") % 8)


_SPECTRAL_ENTROPY_SQL = f"""
    WITH {_PROBE_PERIOD_SUMS_SQL},
    pw AS (
      SELECT period,
             ROUND((CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                    + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                   / CAST(n_days AS DOUBLE), 6) AS power
      FROM agg
    ),
    tot AS (
      SELECT SUM(CAST(power AS DECIMAL(38,6))) AS t,
             COUNT(CASE WHEN power > 0 THEN 1 END) AS k_pos
      FROM pw
    ),
    e AS (
      SELECT COUNT(*) AS k_periods, MAX(k_pos) AS kp, MAX(t) AS t,
             SUM(CASE WHEN power > 0
                 THEN CAST(ROUND(-(power / CAST(t AS DOUBLE))
                       * ln(power / CAST(t AS DOUBLE)), 12)
                       AS DECIMAL(38,12))
                 ELSE CAST(0.0 AS DECIMAL(38,12)) END) AS h
      FROM pw, tot
    )
    SELECT CAST(k_periods AS BIGINT) AS k_periods,
           ROUND(CAST(t AS DOUBLE), 6) AS total_power,
           CASE WHEN kp >= 1 THEN ROUND(CAST(h AS DOUBLE), 6)
           END AS entropy,
           CASE WHEN kp >= 2 THEN ROUND(
             CAST(h AS DOUBLE) / ln(CAST(kp AS DOUBLE)), 6)
           END AS entropy_norm
    FROM e
"""

@_q("q_spectral_entropy", _SPECTRAL_ENTROPY_SQL)
def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy over the candidate-period power spectrum: the
    one-number forecastability screen composed on top of
    q_periodogram's daily collapse."""
    from conte_to_fresco_etl_spark.operators.robust import spectral_entropy

    return spectral_entropy(
        _events(spark, sf_dir), "ts", "value",
        periods=(2, 3, 4, 5, 6, 7, 10, 14),
    )


# ---------------------------------------------------------------------------
# Survival comparison and count/proportion A/B gates (r9, deferred)
# ---------------------------------------------------------------------------

_LOGRANK_SQL = """
    WITH per_user AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS t0,
             MAX(epoch_us(ts)) AS t1,
             MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
      FROM events GROUP BY 1
    ),
    subj AS (
      SELECT user_id % 2 = 0 AS isa,
             CAST(FLOOR((COALESCE(te, t1) - t0) / 3600000000.0) AS BIGINT)
               AS t,
             (te IS NOT NULL) AS obs
      FROM per_user
    ),
    marg AS (
      SELECT t,
             SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS cb,
             SUM(CASE WHEN isa AND obs THEN 1 ELSE 0 END) AS da,
             SUM(CASE WHEN NOT isa AND obs THEN 1 ELSE 0 END) AS db
      FROM subj GROUP BY 1
    ),
    cum AS (
      SELECT t, ca, cb, da, db,
             SUM(ca) OVER (ORDER BY t) AS cma,
             SUM(cb) OVER (ORDER BY t) AS cmb
      FROM marg
    ),
    tt AS (
      SELECT SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS n_b
      FROM subj
    ),
    terms AS (
      SELECT tt.n_a, tt.n_b, da, db,
             CAST(tt.n_a - (cma - ca) AS DOUBLE) AS r1,
             CAST(tt.n_b - (cmb - cb) AS DOUBLE) AS r0,
             CAST(da + db AS DOUBLE) AS d
      FROM cum, tt
    ),
    agg AS (
      SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             SUM(CASE WHEN da + db > 0 THEN da ELSE 0 END) AS observed_a,
             SUM(CAST(CASE WHEN da + db > 0
                 THEN ROUND(d * (r1 / (r1 + r0)), 12)
                 ELSE 0.0 END AS DECIMAL(38,12))) AS e1,
             SUM(CAST(CASE WHEN da + db > 0 AND r1 + r0 > 1
                 THEN ROUND(d * (r1 / (r1 + r0))
                            * (1.0 - r1 / (r1 + r0))
                            * (((r1 + r0) - d) / ((r1 + r0) - 1.0)), 12)
                 ELSE 0.0 END AS DECIMAL(38,12))) AS v
      FROM terms
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(observed_a AS BIGINT) AS observed_a,
           ROUND(CAST(e1 AS DOUBLE), 6) AS expected_a,
           CASE WHEN CAST(v AS DOUBLE) > 0 THEN ROUND(
             (CAST(observed_a AS DOUBLE) - CAST(e1 AS DOUBLE))
             / sqrt(CAST(v AS DOUBLE)), 6)
           END AS z_stat
    FROM agg
"""

@_q("q_logrank", _LOGRANK_SQL)
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-first-error between even/odd user arms:
    the significance companion to q_survival_km — both risk sets on
    one distributed prefix scan over the duration marginal."""
    from conte_to_fresco_etl_spark.operators.robust import logrank_test

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.max(us).alias("t1"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    subj = per_user.select(
        (F.col("user_id") % 2 == 0).alias("arm"),
        F.floor(
            (F.coalesce(F.col("te"), F.col("t1")) - F.col("t0"))
            / F.lit(3600000000.0)
        ).alias("duration_h"),
        F.col("te").isNotNull().alias("observed"),
    )
    return logrank_test(subj, "arm", "duration_h", "observed", True, False)


_PROP_TEST_SQL = """
    WITH vals AS (
      SELECT user_id % 2 = 0 AS g, event_type = 'purchase' AS s
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    agg AS (
      SELECT SUM(CASE WHEN g THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN g AND s THEN 1 ELSE 0 END) AS sa,
             SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS n_b,
             SUM(CASE WHEN NOT g AND s THEN 1 ELSE 0 END) AS sb
      FROM vals
    ),
    d AS (
      SELECT n_a, n_b,
             CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             CAST(sa + sb AS DOUBLE)
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
      FROM agg
    ),
    e AS (
      SELECT n_a, n_b, pa, pb,
             sqrt(pp * (1.0 - pp)
                  * (1.0 / CAST(n_a AS DOUBLE)
                     + 1.0 / CAST(n_b AS DOUBLE))) AS se
      FROM d
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 THEN ROUND(pa, 6) END AS p_a,
           CASE WHEN n_b > 0 THEN ROUND(pb, 6) END AS p_b,
           CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
           THEN ROUND((pa - pb) / se, 6) END AS z_stat
    FROM e
"""

@_q("q_prop_test", _PROP_TEST_SQL)
def q_prop_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase share between even/odd user
    arms: the conversion-rate A/B gate — one four-count collapse."""
    from conte_to_fresco_etl_spark.operators.robust import (
        two_proportion_ztest,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    return two_proportion_ztest(
        ev, F.col("user_id") % 2 == 0, F.col("event_type") == "purchase"
    )


_POISSON_EXPOSURE_DAYS = 30.0

_POISSON_SQL = f"""
    WITH vals AS (
      SELECT user_id % 2 = 0 AS g, event_type = 'error' AS e
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    agg AS (
      SELECT SUM(CASE WHEN g AND e THEN 1 ELSE 0 END) AS c_a,
             SUM(CASE WHEN NOT g AND e THEN 1 ELSE 0 END) AS c_b
      FROM vals
    ),
    d AS (
      SELECT c_a, c_b,
             CAST(c_a AS DOUBLE) / {_POISSON_EXPOSURE_DAYS!r} AS ra,
             CAST(c_b AS DOUBLE) / {_POISSON_EXPOSURE_DAYS!r} AS rb
      FROM agg
    )
    SELECT CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           ROUND(ra, 6) AS rate_a, ROUND(rb, 6) AS rate_b,
           CASE WHEN c_a > 0 AND c_b > 0
           THEN ROUND(ra / rb, 6) END AS irr,
           CASE WHEN c_a > 0 AND c_b > 0
           THEN ROUND(ln(ra / rb)
                      / sqrt(1.0 / CAST(c_a AS DOUBLE)
                             + 1.0 / CAST(c_b AS DOUBLE)), 6)
           END AS z_stat
    FROM d
"""

@_q("q_poisson_ratio", _POISSON_SQL)
def q_poisson_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incidence-rate ratio of errors between even/odd user arms over
    the 30-day observation window: the recurring-count A/B gate."""
    from conte_to_fresco_etl_spark.operators.robust import (
        poisson_rate_ratio,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    return poisson_rate_ratio(
        ev,
        F.col("user_id") % 2 == 0,
        F.col("event_type") == "error",
        exposure_a=_POISSON_EXPOSURE_DAYS,
        exposure_b=_POISSON_EXPOSURE_DAYS,
    )


# ---------------------------------------------------------------------------
# Parametric variance gate + closed-form/greedy supervised training
# (r9, deferred): Bartlett, the decision stump, ridge in closed form.
# ---------------------------------------------------------------------------

_BARTLETT_SQL = f"""
    WITH {_EVENT_VALS_SQL},
    {_group_sums_sql("v", "vals")},
    good AS (SELECT * FROM per_g WHERE n >= 2),
    vv AS (
      SELECT n,
             (CAST(s2 AS DOUBLE)
              - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0) AS vi
      FROM good
    ),
    agg AS (
      SELECT SUM(n) AS n, COUNT(*) AS k,
             SUM(CAST(ROUND((CAST(n AS DOUBLE) - 1.0) * vi, 8)
                      AS DECIMAL(38,8))) AS sw,
             SUM(CASE WHEN vi > 0 THEN
                 CAST(ROUND((CAST(n AS DOUBLE) - 1.0) * ln(vi), 12)
                      AS DECIMAL(38,12)) END) AS slog,
             SUM(CAST(ROUND(1.0 / (CAST(n AS DOUBLE) - 1.0), 12)
                      AS DECIMAL(38,12))) AS sinv,
             COUNT(CASE WHEN vi <= 0 THEN 1 END) AS degen
      FROM vv
    ),
    d AS (
      SELECT n, k, degen,
             CAST(sw AS DOUBLE) / (CAST(n AS DOUBLE) - k) AS sp2,
             CAST(slog AS DOUBLE) AS slog,
             CAST(sinv AS DOUBLE) AS sinv
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CASE WHEN k >= 2 AND n > k AND degen = 0 AND sp2 > 0
           THEN ROUND(
             ((CAST(n AS DOUBLE) - k) * ln(sp2) - slog)
             / (1.0 + (sinv - 1.0 / (CAST(n AS DOUBLE) - k))
                      / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
           END AS t_stat
    FROM d
"""

@_q("q_bartlett", _BARTLETT_SQL)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's parametric variance-homogeneity test across event
    types: the most-powerful-under-normality member of the q_levene
    pair — same single sufficient-stat collapse as q_anova."""
    from conte_to_fresco_etl_spark.operators.robust import bartlett_test

    return bartlett_test(_events(spark, sf_dir), "event_type", "value")


def _stump_feature_sql(feature: str, x_expr: str) -> str:
    h = lambda p: (  # noqa: E731 — local SQL-text builder
        f"-(CASE WHEN {p} > 0 THEN ({p}) * ln({p}) ELSE 0.0 END"
        f" + CASE WHEN {p} < 1 THEN (1.0 - ({p})) * ln(1.0 - ({p}))"
        f" ELSE 0.0 END)"
    )
    p0 = "CAST(np AS DOUBLE) / CAST(n AS DOUBLE)"
    pl = "CAST(cp AS DOUBLE) / CAST(cc AS DOUBLE)"
    pr = "CAST(np - cp AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(cc AS DOUBLE))"
    gain = (
        f"{h(p0)} - (CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) * {h(pl)}"
        f" - ((CAST(n AS DOUBLE) - CAST(cc AS DOUBLE))"
        f" / CAST(n AS DOUBLE)) * {h(pr)}"
    )
    return f"""
      SELECT feature, CAST(best_threshold AS DOUBLE) AS best_threshold,
             ROUND(g, 6) AS info_gain, n_left, n_right
      FROM (
        SELECT '{feature}' AS feature, x AS best_threshold,
               ROUND({gain}, 9) AS g,
               CAST(cc AS BIGINT) AS n_left,
               CAST(n - cc AS BIGINT) AS n_right
        FROM (
          SELECT x, SUM(c) OVER (ORDER BY x) AS cc,
                 SUM(p) OVER (ORDER BY x) AS cp
          FROM (
            SELECT x, COUNT(*) AS c,
                   SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p
            FROM (
              SELECT {x_expr} AS x, event_type = 'purchase' AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
                AND user_id IS NOT NULL AND event_type IS NOT NULL
            ) GROUP BY x
          )
        ), (
          SELECT COUNT(*) AS n,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS np
          FROM events
          WHERE ts IS NOT NULL AND value IS NOT NULL
            AND user_id IS NOT NULL AND event_type IS NOT NULL
        )
        WHERE n - cc > 0
        ORDER BY g DESC, best_threshold ASC LIMIT 1
      )
    """


_STUMP_SQL = (
    _stump_feature_sql("f_value", "CAST(value AS DOUBLE)")
    + " UNION ALL "
    + _stump_feature_sql(
        "f_hour", "CAST(EXTRACT(hour FROM ts) AS DOUBLE)"
    )
    + " UNION ALL "
    + _stump_feature_sql("f_bucket", "CAST(user_id % 50 AS DOUBLE)")
)

@_q("q_decision_stump", _STUMP_SQL)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 tree training (the exact GBDT/random-forest greedy
    step): best information-gain split per feature, every candidate
    threshold scored off one distributed prefix scan of the feature's
    value marginal, argmax by TakeOrdered(1)."""
    from conte_to_fresco_etl_spark.operators.robust import decision_stump

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.col("value").cast("double").alias("f_value"),
        F.hour("ts").cast("double").alias("f_hour"),
        (F.col("user_id") % 50).cast("double").alias("f_bucket"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return decision_stump(
        ev, ["f_value", "f_hour", "f_bucket"], "label"
    )


_RIDGE_LAMBDA = 1.0

_RIDGE_SQL = f"""
    WITH vals AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x1,
             CAST(EXTRACT(dow FROM ts) AS DOUBLE) AS x2,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND(x1, 8) AS DECIMAL(38,8))) AS s1,
             SUM(CAST(ROUND(x2, 8) AS DECIMAL(38,8))) AS s2,
             SUM(CAST(ROUND(x1 * x1, 8) AS DECIMAL(38,8))) AS s11,
             SUM(CAST(ROUND(x2 * x2, 8) AS DECIMAL(38,8))) AS s22,
             SUM(CAST(ROUND(x1 * x2, 8) AS DECIMAL(38,8))) AS s12,
             SUM(CAST(ROUND(y, 8) AS DECIMAL(38,8))) AS sy,
             SUM(CAST(ROUND(x1 * y, 8) AS DECIMAL(38,8))) AS s1y,
             SUM(CAST(ROUND(x2 * y, 8) AS DECIMAL(38,8))) AS s2y
      FROM vals
    ),
    m AS (
      SELECT n,
             CAST(n AS DOUBLE) AS a00,
             CAST(s1 AS DOUBLE) AS a01, CAST(s2 AS DOUBLE) AS a02,
             CAST(s11 AS DOUBLE) + {_RIDGE_LAMBDA!r} AS a11,
             CAST(s12 AS DOUBLE) AS a12,
             CAST(s22 AS DOUBLE) + {_RIDGE_LAMBDA!r} AS a22,
             CAST(sy AS DOUBLE) AS b0,
             CAST(s1y AS DOUBLE) AS b1, CAST(s2y AS DOUBLE) AS b2
      FROM agg
    ),
    dets AS (
      SELECT n,
             a00 * (a11 * a22 - a12 * a12)
               - a01 * (a01 * a22 - a12 * a02)
               + a02 * (a01 * a12 - a11 * a02) AS d,
             b0 * (a11 * a22 - a12 * a12)
               - a01 * (b1 * a22 - a12 * b2)
               + a02 * (b1 * a12 - a11 * b2) AS d0,
             a00 * (b1 * a22 - a12 * b2)
               - b0 * (a01 * a22 - a12 * a02)
               + a02 * (a01 * b2 - b1 * a02) AS d1,
             a00 * (a11 * b2 - b1 * a12)
               - a01 * (a01 * b2 - b1 * a02)
               + b0 * (a01 * a12 - a11 * a02) AS d2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 3 AND ABS(d) > 1e-12
           THEN ROUND(d0 / d, 6) END AS beta0,
           CASE WHEN n >= 3 AND ABS(d) > 1e-12
           THEN ROUND(d1 / d, 6) END AS beta1,
           CASE WHEN n >= 3 AND ABS(d) > 1e-12
           THEN ROUND(d2 / d, 6) END AS beta2,
           {_RIDGE_LAMBDA!r} AS lambda
    FROM dets
"""

@_q("q_ridge_closed", _RIDGE_SQL)
def q_ridge_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (value ~ hour + day-of-week, lambda=1) solved
    in closed form inside the plan: nine decimal sums -> Cramer's rule
    as scalar expressions — training with zero iteration."""
    from conte_to_fresco_etl_spark.operators.robust import ridge_closed_form

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return ridge_closed_form(
        ev,
        F.hour("ts").cast("double"),
        (F.dayofweek("ts") - F.lit(1)).cast("double"),
        F.col("value"),
        lam=_RIDGE_LAMBDA,
    )


# ---------------------------------------------------------------------------
# Ranking-metric uncertainty and extreme-value tails (r9, deferred)
# ---------------------------------------------------------------------------

#: CTEs vals/marg/cum: documents' n_chars v labelled y = (lang = 'en'), the
#: per-value counts (cp, cn) and their running sums (cmp_, cmn).
_EN_CHARS_CUM_SQL = """vals AS (
      SELECT (lang = 'en') AS y, CAST(n_chars AS DOUBLE) AS v
      FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
    ),
    marg AS (
      SELECT v,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS cp,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS cn
      FROM vals GROUP BY v
    ),
    cum AS (
      SELECT v, cp, cn,
             SUM(cp) OVER (ORDER BY v) AS cmp_,
             SUM(cn) OVER (ORDER BY v) AS cmn
      FROM marg
    )"""

_DELONG_SQL = f"""
    WITH {_EN_CHARS_CUM_SQL},
    s1 AS (
      SELECT SUM(cp) AS n_pos, SUM(cn) AS n_neg,
             SUM(CAST(cp AS DECIMAL(18,0))
                 * CAST(2 * (cmn - cn) + cn AS DECIMAL(19,0))) AS u2
      FROM cum
    ),
    d AS (
      SELECT n_pos, n_neg,
             CAST(u2 AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
               AS auc0
      FROM s1
    ),
    t AS (
      SELECT d.n_pos, d.n_neg, ROUND(auc0, 12) AS auc,
             SUM(CAST(ROUND(CAST(cp AS DOUBLE)
               * ((CAST(cmn - cn AS DOUBLE) + CAST(cn AS DOUBLE) / 2.0)
                  / CAST(d.n_neg AS DOUBLE) - auc0)
               * ((CAST(cmn - cn AS DOUBLE) + CAST(cn AS DOUBLE) / 2.0)
                  / CAST(d.n_neg AS DOUBLE) - auc0), 12)
               AS DECIMAL(38,12))) AS s10,
             SUM(CAST(ROUND(CAST(cn AS DOUBLE)
               * ((CAST(d.n_pos - cmp_ AS DOUBLE)
                   + CAST(cp AS DOUBLE) / 2.0)
                  / CAST(d.n_pos AS DOUBLE) - auc0)
               * ((CAST(d.n_pos - cmp_ AS DOUBLE)
                   + CAST(cp AS DOUBLE) / 2.0)
                  / CAST(d.n_pos AS DOUBLE) - auc0), 12)
               AS DECIMAL(38,12))) AS s01
      FROM cum, d GROUP BY d.n_pos, d.n_neg, auc0
    ),
    e AS (
      SELECT n_pos, n_neg, auc,
             CAST(s10 AS DOUBLE) / (CAST(n_pos AS DOUBLE) - 1.0)
               / CAST(n_pos AS DOUBLE)
             + CAST(s01 AS DOUBLE) / (CAST(n_neg AS DOUBLE) - 1.0)
               / CAST(n_neg AS DOUBLE) AS var
      FROM t
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(auc, 6) AS auc,
           CASE WHEN n_pos >= 2 AND n_neg >= 2
           THEN ROUND(var, 9) END AS var_auc,
           CASE WHEN n_pos >= 2 AND n_neg >= 2
           THEN ROUND(GREATEST(auc - 1.959964 * sqrt(var), 0.0), 6)
           END AS ci_lo,
           CASE WHEN n_pos >= 2 AND n_neg >= 2
           THEN ROUND(LEAST(auc + 1.959964 * sqrt(var), 1.0), 6)
           END AS ci_hi
    FROM e
"""

@_q("q_auc_delong", _DELONG_SQL)
def q_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC with the DeLong placement-value variance and 95% CI
    (is-English vs document length): both placement series on one
    distributed prefix scan — the uncertainty companion to q_roc_auc's
    point estimate."""
    from conte_to_fresco_etl_spark.operators.robust import auc_delong

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    return auc_delong(
        docs, F.col("lang") == "en", F.col("n_chars").cast("double")
    )


_AP_SQL = f"""
    WITH {_EN_CHARS_CUM_SQL},
    tt AS (
      SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS n_neg
      FROM vals
    ),
    agg AS (
      SELECT MAX(tt.n_pos) AS n_pos, MAX(tt.n_neg) AS n_neg,
             SUM(CASE WHEN cp > 0 THEN CAST(ROUND(
               (CAST(cp AS DOUBLE) / CAST(tt.n_pos AS DOUBLE))
               * (CAST(tt.n_pos - (cmp_ - cp) AS DOUBLE)
                  / (CAST(tt.n_pos - (cmp_ - cp) AS DOUBLE)
                     + CAST(tt.n_neg - (cmn - cn) AS DOUBLE))), 12)
               AS DECIMAL(38,12))
             ELSE CAST(0.0 AS DECIMAL(38,12)) END) AS ap
      FROM cum, tt
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
           THEN ROUND(CAST(ap AS DOUBLE), 6) END AS average_precision,
           ROUND(CAST(n_pos AS DOUBLE)
                 / CAST(n_pos + n_neg AS DOUBLE), 6) AS prevalence
    FROM agg
"""

@_q("q_average_precision", _AP_SQL)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step PR-AUC) of the is-English/length
    ranking: the class-imbalance-honest companion to q_roc_auc —
    threshold sweep over the score marginal's prefix scan."""
    from conte_to_fresco_etl_spark.operators.robust import average_precision

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    return average_precision(
        docs, F.col("lang") == "en", F.col("n_chars").cast("double")
    )


_GUMBEL_SQL = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             ROUND(MAX(CAST(value AS DOUBLE)), 6) AS x
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(18,6))) AS s1,
             SUM(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS s2
      FROM daily
    ),
    d AS (
      SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             (CAST(s2 AS DOUBLE)
              - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0) AS var
      FROM agg
    ),
    e AS (
      SELECT n, mean, var,
             sqrt(var) * 0.779696801233676 AS beta
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CASE WHEN n >= 2 AND var > 0
           THEN ROUND(mean - 0.5772156649015329 * beta, 6) END AS mu,
           CASE WHEN n >= 2 AND var > 0
           THEN ROUND(beta, 6) END AS beta,
           CASE WHEN n >= 2 AND var > 0
           THEN ROUND((mean - 0.5772156649015329 * beta)
                      - beta * (-3.3842944934992527), 6)
           END AS return_level_30
    FROM e
"""

@_q("q_gumbel_maxima", _GUMBEL_SQL)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel fit to daily block maxima (method of moments) with the
    30-day return level: the extreme-value capacity-planning tail
    model — one daily-max collapse, scalar algebra after."""
    from conte_to_fresco_etl_spark.operators.robust import (
        gumbel_block_maxima,
    )

    return gumbel_block_maxima(_events(spark, sf_dir), "ts", "value")


# ---------------------------------------------------------------------------
# HITS hubs and authorities (r9, deferred)
# ---------------------------------------------------------------------------

_HITS_ITERS = 3


def _hits_step_sql(p: str, k: int, prev: str, to: str, frm: str) -> str:
    """CTEs {p}r{k}/{p}t{k}/{p}{k}: one HITS half-step — each node's summed
    ``prev`` score over the edges ``frm`` → ``to``, L1-normalized (12 dp)."""
    return f""",
    {p}r{k} AS MATERIALIZED (
      SELECT e.{to} AS node,
             CAST(SUM(CAST(r.score AS DECIMAL(28,12))) AS DOUBLE) AS raw
      FROM de e JOIN {prev} r ON e.{frm} = r.node GROUP BY 1
    ),
    {p}t{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(raw AS DECIMAL(28,12))) AS DOUBLE) AS t
      FROM {p}r{k}
    ),
    {p}{k} AS MATERIALIZED (
      SELECT n.node,
             COALESCE(ROUND({p}r.raw / (SELECT t FROM {p}t{k}), 12),
                      CAST(0.0 AS DOUBLE)) AS score
      FROM nodes n LEFT JOIN {p}r{k} {p}r ON n.node = {p}r.node
    )"""


def _hits_sql(iterations: int = _HITS_ITERS) -> str:
    """Unrolled-iteration HITS oracle (pagerank-oracle discipline: one
    CTE triple per half-step, explicit DOUBLE casts, ROUND(x, 12) pins
    after every L1 normalization).  Each step reads the previous one
    and the edge/node tables several times, and DuckDB inlines a plain
    CTE at every reference, so every CTE is materialized once."""
    parts = [
        """
    WITH ordered AS (
      SELECT LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM events
    ),
    de AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM ordered WHERE src IS NOT NULL
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM de UNION ALL SELECT dst FROM de
      )
    ),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    a0 AS MATERIALIZED (
      SELECT node, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 12)
               AS score
      FROM nodes
    )"""
    ]
    for k in range(1, iterations + 1):
        parts.append(_hits_step_sql("h", k, f"a{k - 1}", "src", "dst"))
        parts.append(_hits_step_sql("a", k, f"h{k}", "dst", "src"))
    parts.append(
        f"""
    SELECT h.node, ROUND(h.score, 6) AS hub,
           ROUND(a.score, 6) AS authority
    FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node"""
    )
    return "".join(parts)


@_q("q_hits", _hits_sql())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (3 iterations) over the event-type
    transition graph: per half-step one node-keyed score-edge join +
    one collapse (the Pregel partitioning), L1 normalizations as
    annotated 1-row crosses — PageRank's citing-vs-cited companion."""
    from conte_to_fresco_etl_spark.operators.graph import (
        event_transitions,
        hits,
    )

    edges = event_transitions(_events(spark, sf_dir))
    return hits(
        edges, iterations=_HITS_ITERS,
        broadcast_scores=True,  # |nodes| = |event types|: dimension-sized
    )


_WELCH_ANOVA_SQL = f"""
    WITH {_EVENT_VALS_SQL},
    {_group_sums_sql("v", "vals")},
    good AS (
      SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             (CAST(s2 AS DOUBLE)
              - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0) AS v
      FROM per_g WHERE n >= 2
    ),
    g2 AS (SELECT n, m, v FROM good WHERE v > 0),
    s1t AS (
      SELECT SUM(n) AS n, COUNT(*) AS k,
             SUM(CAST(ROUND(CAST(n AS DOUBLE) / v, 12)
                      AS DECIMAL(38,12))) AS sw,
             SUM(CAST(ROUND((CAST(n AS DOUBLE) / v) * m, 12)
                      AS DECIMAL(38,12))) AS swm
      FROM g2
    ),
    agg AS (
      SELECT MAX(s1t.n) AS n, MAX(s1t.k) AS k,
             MAX(CAST(s1t.sw AS DOUBLE)) AS swd,
             SUM(CAST(ROUND((CAST(g2.n AS DOUBLE) / v)
               * (m - CAST(swm AS DOUBLE) / CAST(sw AS DOUBLE))
               * (m - CAST(swm AS DOUBLE) / CAST(sw AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS num,
             SUM(CAST(ROUND(
               (1.0 - (CAST(g2.n AS DOUBLE) / v) / CAST(sw AS DOUBLE))
               * (1.0 - (CAST(g2.n AS DOUBLE) / v) / CAST(sw AS DOUBLE))
               / (CAST(g2.n AS DOUBLE) - 1.0), 12)
               AS DECIMAL(38,12))) AS lam
      FROM g2, s1t
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CASE WHEN k >= 2 AND CAST(lam AS DOUBLE) > 0
           THEN ROUND(
             (CAST(num AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
             / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                      * CAST(lam AS DOUBLE)), 6)
           END AS f_stat,
           CASE WHEN k >= 2 AND CAST(lam AS DOUBLE) > 0
           THEN ROUND(
             (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
             / (3.0 * CAST(lam AS DOUBLE)), 6)
           END AS df2
    FROM agg
"""

@_q("q_welch_anova", _WELCH_ANOVA_SQL)
def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across event types: the
    k-sample test that survives unequal variances — k-row sufficient
    stats, weighted grand mean as the annotated 1-row cross."""
    from conte_to_fresco_etl_spark.operators.robust import welch_anova

    return welch_anova(_events(spark, sf_dir), "event_type", "value")


# ---------------------------------------------------------------------------
# Round 10 statistics additions: D'Agostino K², 1-D Wasserstein,
# Brown-Forsythe
# ---------------------------------------------------------------------------

_DAGOSTINO_SQL = f"""
    WITH {_POWER_SUMS_SQL},
    m AS (
      SELECT grp, n, CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) / n AS mean,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM per_g
    ),
    c AS (
      SELECT grp, n, nd,
             r2 - mean * mean AS m2,
             r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
             r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
                - 3.0 * mean * mean * mean * mean AS m4
      FROM m
    ),
    g AS (
      SELECT grp, n, nd, m2,
             ROUND(m3 / sqrt(m2 * m2 * m2), 12) AS g1,
             ROUND(m4 / (m2 * m2), 12) AS b2
      FROM c
    ),
    s AS (
      SELECT grp, n, nd, m2, g1, b2,
             g1 * sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS y,
             -1.0 + sqrt(2.0 * (
               3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0)
                   * (nd + 3.0)
               / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
               - 1.0)) AS w2,
             3.0 * (nd - 1.0) / (nd + 1.0) AS eb2,
             24.0 * nd * (nd - 2.0) * (nd - 3.0)
               / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
               AS vb2,
             6.0 * (nd * nd - 5.0 * nd + 2.0)
               / ((nd + 7.0) * (nd + 9.0))
               * sqrt(6.0 * (nd + 3.0) * (nd + 5.0)
                      / (nd * (nd - 2.0) * (nd - 3.0))) AS beta1
      FROM g
    ),
    t AS (
      SELECT grp, n, nd, m2,
             (1.0 / sqrt(ln(sqrt(w2))))
               * ln(y / sqrt(2.0 / (w2 - 1.0))
                    + sqrt((y / sqrt(2.0 / (w2 - 1.0)))
                           * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)) AS z1,
             (b2 - eb2) / sqrt(vb2) AS x,
             6.0 + 8.0 / beta1
               * (2.0 / beta1 + sqrt(1.0 + 4.0 / (beta1 * beta1))) AS a
      FROM s
    ),
    u AS (
      SELECT grp, n, nd, m2, z1,
             ((1.0 - 2.0 / (9.0 * a))
              - cbrt((1.0 - 2.0 / a)
                     / (1.0 + x * sqrt(2.0 / (a - 4.0)))))
             / sqrt(2.0 / (9.0 * a)) AS z2
      FROM t
    )
    SELECT grp AS "group", CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 20 AND m2 > 0 THEN ROUND(z1, 6) END AS z_skew,
           CASE WHEN n >= 20 AND m2 > 0 THEN ROUND(z2, 6) END AS z_kurt,
           CASE WHEN n >= 20 AND m2 > 0
                THEN ROUND(z1 * z1 + z2 * z2, 6) END AS k2_stat
    FROM u
"""


@_q("q_dagostino_k2", _DAGOSTINO_SQL)
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality screen per event type:
    the finite-sample-calibrated z-transforms of skewness and kurtosis
    (the upgrade of q_jarque_bera's asymptotic χ²), still one
    map-combinable power-sum collapse per group."""
    from conte_to_fresco_etl_spark.operators.robust import dagostino_k2

    return dagostino_k2(_events(spark, sf_dir), "event_type", "value")


#: CTEs vals/marg: purchase (isa) vs error values at 4 dp and the
#: per-value count of each group (ca, cb).
_PURCHASE_ERROR_MARG_SQL = """vals AS (
      SELECT event_type = 'purchase' AS isa,
             ROUND(CAST(value AS DOUBLE), 4) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')
    ),
    marg AS (
      SELECT v,
             SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS cb
      FROM vals GROUP BY v
    )"""

_WASSERSTEIN_SQL = f"""
    WITH {_PURCHASE_ERROR_MARG_SQL},
    cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS cum_a,
             SUM(cb) OVER (ORDER BY v) AS cum_b,
             LEAD(v) OVER (ORDER BY v) AS v_next
      FROM marg
    ),
    t AS (
      SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM marg
    ),
    segs AS (
      SELECT CAST(ROUND(
               CAST(ABS(CAST(cum_a AS DECIMAL(18,0))
                        * CAST(t.n_b AS DECIMAL(18,0))
                        - CAST(cum_b AS DECIMAL(18,0))
                        * CAST(t.n_a AS DECIMAL(18,0))) AS DOUBLE)
               * (v_next - v), 6) AS DECIMAL(38,6)) AS seg
      FROM cum, t WHERE v_next IS NOT NULL
    ),
    agg AS (
      SELECT MAX(t.n_a) AS n_a, MAX(t.n_b) AS n_b,
             SUM(seg) AS w FROM t LEFT JOIN segs ON TRUE
      GROUP BY ALL
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             COALESCE(CAST(w AS DOUBLE), 0.0)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           END AS w1
    FROM agg
"""


@_q("q_wasserstein", _WASSERSTEIN_SQL)
def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between purchase and
    error value distributions: the magnitude-aware drift metric next
    to q_ks_test's supremum gap, with ECDF segments riding the
    distributed prefix scan and exact-integer mass numerators."""
    from conte_to_fresco_etl_spark.operators.robust import wasserstein_1d

    return wasserstein_1d(
        _events(spark, sf_dir), "event_type", "value", "purchase", "error"
    )


_BROWN_FORSYTHE_SQL = f"""
    WITH vals AS (
      SELECT event_type AS g, ROUND(CAST(value AS DOUBLE), 4) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    marg AS (
      SELECT g, v, COUNT(*) AS c FROM vals GROUP BY g, v
    ),
    cum AS (
      SELECT g, v,
             SUM(c) OVER (PARTITION BY g ORDER BY v) AS cumc,
             SUM(c) OVER (PARTITION BY g) AS ng
      FROM marg
    ),
    med AS (
      SELECT g, ROUND((
               MIN(CASE WHEN 2 * cumc >= ng THEN v END)
               + MIN(CASE WHEN 2 * cumc >= ng + 1 THEN v END)) / 2.0, 4)
             AS med
      FROM cum GROUP BY g
    ),
    z AS (
      SELECT vals.g, ROUND(ABS(v - med), 6) AS zv
      FROM vals JOIN med ON vals.g = med.g
    ),
    {_anova_sums_sql("zv", "z")}
    {_LEVENE_W_SQL}
"""


@_q("q_brown_forsythe", _BROWN_FORSYTHE_SQL)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across event types:
    Levene's W on deviations from each group's exact median (the
    robust centering), medians from group-partitioned cumulative
    counts over the per-group value marginal."""
    from conte_to_fresco_etl_spark.operators.robust import brown_forsythe

    return brown_forsythe(_events(spark, sf_dir), "event_type", "value")


_X_HOURS = (
    "CAST(FLOOR(epoch_us(ts) / 3600000000.0)"
    " - FLOOR(epoch_us(TIMESTAMP '2024-01-01 00:00:00')"
    " / 3600000000.0) AS DOUBLE)"
)

_XY_MOM = """
      COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS syy
"""

#: The residual sum of squares of the least-squares line through the
#: moments n, sx, sy, sxy, sxx, syy (the total SS when sxx is degenerate).
_OLS_SSR_SQL = """CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) > 0
             THEN (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                   * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             ELSE CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                  * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             END"""

_CHOW_SQL = f"""
    WITH base AS (
      SELECT ROUND({_X_HOURS}, 4) AS x,
             ROUND(CAST(value AS DOUBLE), 4) AS y,
             CASE WHEN ROUND({_X_HOURS}, 4) < 360.0 THEN 1 ELSE 0 END AS s
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT s, {_XY_MOM}
      FROM base GROUP BY s
    ),
    r AS (
      SELECT s, n, sx, sy, sxy, sxx, syy,
             {_OLS_SSR_SQL} AS ssr
      FROM m
    ),
    agg AS (
      SELECT SUM(n) AS n,
             SUM(CASE WHEN s = 1 THEN n END) AS n_pre,
             SUM(CASE WHEN s = 0 THEN n END) AS n_post,
             SUM(sx) AS sx, SUM(sy) AS sy, SUM(sxy) AS sxy,
             SUM(sxx) AS sxx, SUM(syy) AS syy,
             SUM(CAST(ROUND(ssr, 6) AS DECIMAL(38,6))) AS ssr_split
      FROM r
    ),
    fin AS (
      SELECT n, n_pre, n_post, ssr_split,
             {_OLS_SSR_SQL} AS ssr_pooled
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(COALESCE(n_pre, 0) AS BIGINT) AS n_pre,
           CAST(COALESCE(n_post, 0) AS BIGINT) AS n_post,
           ROUND(ssr_pooled, 6) AS ssr_pooled,
           ROUND(CAST(ssr_split AS DOUBLE), 6) AS ssr_split,
           CASE WHEN n_pre >= 3 AND n_post >= 3
                 AND CAST(ssr_split AS DOUBLE) > 0
           THEN ROUND(((ssr_pooled - CAST(ssr_split AS DOUBLE)) / 2.0)
                      / (CAST(ssr_split AS DOUBLE)
                         / (CAST(n AS DOUBLE) - 4.0)), 6)
           END AS chow_f
    FROM fin
"""


@_q("q_chow_test", _CHOW_SQL)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test at the mid-January deploy boundary
    (hour index 360): did the value~time regression change slope or
    level — the confirmatory sibling of q_changepoint, one
    two-segment sufficient-stat collapse."""
    from conte_to_fresco_etl_spark.operators.robust import chow_test

    ev = _events(spark, sf_dir)
    x = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0))
        - F.floor(
            F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
            / F.lit(3600000000.0)
        )
    ).cast("double")
    return chow_test(ev, x, "value", split_at=360.0)


#: Slope b and intercept a (12 dp) of the least-squares line through the
#: moments n, sx, sy, sxy, sxx.
_OLS_LINE_SQL = """ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)),
                   12) AS b,
             ROUND((CAST(sy AS DOUBLE)
                    - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                          * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                      * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE), 12) AS a"""

_BP_SQL = f"""
    WITH base AS (
      SELECT ROUND({_X_HOURS}, 4) AS x,
             ROUND(CAST(value AS DOUBLE), 4) AS y
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT {_XY_MOM}
      FROM base
    ),
    line AS (
      SELECT n,
             {_OLS_LINE_SQL}
      FROM m
    ),
    e2 AS (
      SELECT n, x,
             ROUND((y - a - b * x) * (y - a - b * x), 4) AS y2,
             b
      FROM base, line
    ),
    aux AS (
      SELECT n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS ax,
             CAST(SUM(CAST(y2 AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS ay,
             SUM(CAST(CAST(x AS DECIMAL(38,4)) * CAST(y2 AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS axy,
             SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS axx,
             SUM(CAST(CAST(y2 AS DECIMAL(38,4)) * CAST(y2 AS DECIMAL(18,4))
                      AS DECIMAL(38,8))) AS ayy,
             MAX(b) AS b
      FROM e2 GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(b, 6) AS slope,
           CASE WHEN n >= 4
                 AND CAST(axx AS DOUBLE) - CAST(ax AS DOUBLE)
                     * CAST(ax AS DOUBLE) / CAST(n AS DOUBLE) > 0
                 AND CAST(ayy AS DOUBLE) - CAST(ay AS DOUBLE)
                     * CAST(ay AS DOUBLE) / CAST(n AS DOUBLE) > 0
           THEN ROUND(CAST(n AS DOUBLE) * (
                  (CAST(axy AS DOUBLE) - CAST(ax AS DOUBLE)
                   * CAST(ay AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(axy AS DOUBLE) - CAST(ax AS DOUBLE)
                     * CAST(ay AS DOUBLE) / CAST(n AS DOUBLE))
                  / ((CAST(axx AS DOUBLE) - CAST(ax AS DOUBLE)
                      * CAST(ax AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(ayy AS DOUBLE) - CAST(ay AS DOUBLE)
                        * CAST(ay AS DOUBLE) / CAST(n AS DOUBLE)))),
                6)
           END AS lm_stat
    FROM aux
"""


@_q("q_breusch_pagan", _BP_SQL)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity screen on the value~time
    regression (Koenker LM = n·R² of e² on x): two map-combinable
    passes with the fitted line as an annotated 1-row cross."""
    from conte_to_fresco_etl_spark.operators.robust import breusch_pagan

    ev = _events(spark, sf_dir)
    x = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0))
        - F.floor(
            F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
            / F.lit(3600000000.0)
        )
    ).cast("double")
    return breusch_pagan(ev, x, "value")


_COOKS_SQL = f"""
    WITH base AS (
      SELECT ROUND({_X_HOURS}, 4) AS x,
             CAST(value AS DECIMAL(18,4)) AS yq
      FROM events WHERE value IS NOT NULL
    ),
    daily AS (
      SELECT x, ROUND(CAST(SUM(yq) AS DOUBLE) / COUNT(*), 4) AS y
      FROM base GROUP BY x
    ),
    m AS (
      SELECT {_XY_MOM}
      FROM daily
    ),
    line AS (
      SELECT n,
             {_OLS_LINE_SQL},
             ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 12) AS xbar,
             ROUND(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 12) AS sxxc,
             ROUND(CASE WHEN CAST(n AS DOUBLE) > 2 THEN
                     ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                      - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                         * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                           * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                           * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                     / (CAST(n AS DOUBLE) - 2.0)
                   END, 12) AS s2
      FROM m
    ),
    o AS (
      SELECT daily.x, daily.y, n, b, a, xbar, sxxc, s2,
             1.0 / CAST(n AS DOUBLE)
               + (x - xbar) * (x - xbar) / sxxc AS h,
             y - a - b * x AS e
      FROM daily, line
    )
    SELECT x, y,
           CASE WHEN sxxc > 0 THEN ROUND(h, 6) END AS leverage,
           CASE WHEN n > 2 AND s2 > 0 AND sxxc > 0
           THEN ROUND(e / sqrt(s2 * (1.0 - h)), 6) END AS std_residual,
           CASE WHEN n > 2 AND s2 > 0 AND sxxc > 0
           THEN ROUND(e * e * h
                      / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
           END AS cooks_d
    FROM o
"""


@_q("q_cooks_distance", _COOKS_SQL)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour OLS influence diagnostics (leverage, standardized
    residual, Cook's distance) for the hourly-mean value~time fit:
    which hours DRIVE q_trend_slope — days-sized collapse first, the
    six-moment fit as an annotated 1-row cross, closed forms per row."""
    from conte_to_fresco_etl_spark.operators.robust import (
        regression_influence,
    )

    ev = _events(spark, sf_dir)
    x = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0))
        - F.floor(
            F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
            / F.lit(3600000000.0)
        )
    ).cast("double")
    return regression_influence(ev, x, "value")


# ---------------------------------------------------------------------------
# Stream-stream interval join replay (round 10: the attribution join
# under the hard gate)
# ---------------------------------------------------------------------------

_ATTRIB_REPLAY_SQL = """
    SELECT c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           c.event_id AS click_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.event_id AS purchase_id,
           p.value AS amount
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""

@_q("q_attribution_replay", _ATTRIB_REPLAY_SQL)
def q_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the click->purchase interval join under the
    hard gate: events replay as three CHRONOLOGICAL micro-batches
    through the watermarked stream-stream join
    (``streaming/pipeline.py:stream_stream_attribution_join``) —
    BOTH sides unbounded, state held per side until the watermark
    proves no more matches can arrive.  Chronological batching keeps
    every pair's click alive until its purchases have streamed (a
    purchase within 30 minutes of a click can be at most one batch
    behind under a 1-hour watermark delay), so the appended output
    must hash-match the plain batch interval join — the convergence
    contract that was previously pinned only by pytest."""
    from conte_to_fresco_etl_spark.streaming.pipeline import (
        stream_stream_attribution_join,
    )

    def start(read, base: str):
        def side(etype: str, id_alias: str, *extra):
            return read().filter(F.col("event_type") == etype).select(
                "user_id", "ts", F.col("event_id").alias(id_alias), *extra
            )

        joined = stream_stream_attribution_join(
            side("click", "click_id"),
            side("purchase", "purchase_id", F.col("value").alias("amount")),
            within="30 minutes",
            watermark_delay="1 hour",
        )
        return _parquet_sink(joined, base)

    return _replay(
        spark,
        "q_attribution_replay",
        _events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ),
        _chrono_thirds,
        start,
        "user_id long, click_ts timestamp, click_id long, "
        "purchase_ts timestamp, purchase_id long, amount double",
    )


_ENERGY_SQL = f"""
    WITH {_PURCHASE_ERROR_MARG_SQL},
    m2 AS (
      SELECT v, ca, cb,
             CAST(ca * CAST(v AS DECIMAL(18,4)) AS DECIMAL(38,4)) AS sva,
             CAST(cb * CAST(v AS DECIMAL(18,4)) AS DECIMAL(38,4)) AS svb
      FROM marg
    ),
    t AS (
      SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
             SUM(sva) AS ta, SUM(svb) AS tb
      FROM m2
    ),
    cum AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v) AS cum_ca,
             SUM(cb) OVER (ORDER BY v) AS cum_cb,
             SUM(sva) OVER (ORDER BY v) AS cum_sva,
             SUM(svb) OVER (ORDER BY v) AS cum_svb
      FROM m2
    ),
    terms AS (
      SELECT
        CAST(ROUND(CAST(ca AS DOUBLE) * (
          (v * CAST(cum_cb AS DOUBLE) - CAST(cum_svb AS DOUBLE))
          + ((CAST(t.tb AS DOUBLE) - CAST(cum_svb AS DOUBLE))
             - v * (CAST(t.n_b AS DOUBLE) - CAST(cum_cb AS DOUBLE)))
        ), 6) AS DECIMAL(38,6)) AS txy,
        CAST(ROUND(CAST(ca AS DOUBLE) * (
          (v * CAST(cum_ca AS DOUBLE) - CAST(cum_sva AS DOUBLE))
          + ((CAST(t.ta AS DOUBLE) - CAST(cum_sva AS DOUBLE))
             - v * (CAST(t.n_a AS DOUBLE) - CAST(cum_ca AS DOUBLE)))
        ), 6) AS DECIMAL(38,6)) AS txx,
        CAST(ROUND(CAST(cb AS DOUBLE) * (
          (v * CAST(cum_cb AS DOUBLE) - CAST(cum_svb AS DOUBLE))
          + ((CAST(t.tb AS DOUBLE) - CAST(cum_svb AS DOUBLE))
             - v * (CAST(t.n_b AS DOUBLE) - CAST(cum_cb AS DOUBLE)))
        ), 6) AS DECIMAL(38,6)) AS tyy
      FROM cum, t
    ),
    agg AS (
      SELECT MAX(t.n_a) AS n_a, MAX(t.n_b) AS n_b,
             SUM(txy) AS sxy, SUM(txx) AS sxx, SUM(tyy) AS syy
      FROM t LEFT JOIN terms ON TRUE
      GROUP BY ALL
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             CAST(sxy AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           END AS e_xy,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             CAST(sxx AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)), 6)
           END AS e_xx,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             CAST(syy AS DOUBLE)
             / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           END AS e_yy,
           CASE WHEN n_a > 0 AND n_b > 0 THEN ROUND(
             2.0 * (CAST(sxy AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
             - CAST(sxx AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
             - CAST(syy AS DOUBLE)
               / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           END AS energy_dist
    FROM agg
"""


@_q("q_energy_distance", _ENERGY_SQL)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample energy distance between purchase and error value
    distributions — the moment-free any-difference test, with every
    pairwise-distance expectation collapsed onto one prefix scan of
    the value marginal (nothing pairwise ever materializes)."""
    from conte_to_fresco_etl_spark.operators.robust import (
        energy_distance_1d,
    )

    return energy_distance_1d(
        _events(spark, sf_dir), "event_type", "value", "purchase", "error"
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (round 10: AR-order diagnostic over the
# gated ACF values)
# ---------------------------------------------------------------------------

_PACF_SQL = f"""
    WITH acf AS ({_ACF_SQL}),
    r AS (
      SELECT MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
             MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
             MAX(CASE WHEN lag = 3 THEN acf END) AS r3,
             MAX(CASE WHEN lag = 1 THEN n_pairs END) AS n_pairs_1
      FROM acf
    ),
    l2 AS (
      SELECT r1, r2, r3, n_pairs_1,
             CASE WHEN 1.0 - r1 * r1 <> 0.0
                  THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p2
      FROM r
    ),
    l3 AS (
      SELECT r1, r2, r3, n_pairs_1, p2,
             r1 - p2 * r1 AS phi21
      FROM l2
    )
    SELECT CAST(n_pairs_1 AS BIGINT) AS n_pairs_1,
           ROUND(r1, 6) AS pacf_1,
           ROUND(p2, 6) AS pacf_2,
           CASE WHEN 1.0 - phi21 * r1 - p2 * r2 <> 0.0
                THEN ROUND((r3 - phi21 * r2 - p2 * r1)
                           / (1.0 - phi21 * r1 - p2 * r2), 6)
           END AS pacf_3
    FROM l3
"""


@_q("q_pacf", _PACF_SQL)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1-3, by the Durbin-Levinson recursion unrolled in closed form over
    the SAME ROUND(6)-pinned ACF values q_acf gates — the AR-order
    diagnostic (where does the PACF cut off) next to q_acf's MA view.
    The 3-row ACF table pivots to one row (bounded) and everything
    after is scalar algebra; no new data pass."""
    from conte_to_fresco_etl_spark.operators.gapfill import autocorrelation

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("x"))
    )
    acf = autocorrelation(daily, "day", "x", max_lag=3)
    r = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
        F.max(F.when(F.col("lag") == 1, F.col("n_pairs"))).alias(
            "n_pairs_1"
        ),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = F.when(
        F.lit(1.0) - r1 * r1 != 0.0, (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    )
    phi21 = r1 - p2 * r1
    p3_den = F.lit(1.0) - phi21 * r1 - p2 * r2
    return r.select(
        F.col("n_pairs_1").cast("long").alias("n_pairs_1"),
        F.round(r1, 6).alias("pacf_1"),
        F.round(p2, 6).alias("pacf_2"),
        F.when(
            p3_den != 0.0,
            F.round((r3 - phi21 * r2 - p2 * r1) / p3_den, 6),
        ).alias("pacf_3"),
    )


_AG_SQL = """
    WITH vals AS (
      SELECT event_type AS g, ROUND(CAST(value AS DOUBLE), 4) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    per_g AS (
      SELECT g, COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(18,4))) AS s1,
             SUM(CAST(ROUND(v * v, 8) AS DECIMAL(38,8))) AS s2
      FROM vals GROUP BY g
    ),
    st AS (
      SELECT g, n,
             ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 12) AS m,
             ROUND((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                   * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)
                   / CAST(n AS DOUBLE), 12) AS se2
      FROM per_g
    ),
    ok AS (
      SELECT * FROM st WHERE n >= 2 AND se2 > 0
    ),
    gr AS (
      SELECT ROUND(SUM(m / se2) / SUM(1.0 / se2), 12) AS grand FROM ok
    ),
    tt AS (
      SELECT n, ROUND((m - grand) / sqrt(se2), 12) AS t,
             CAST(n AS DOUBLE) - 1.0 AS vdf
      FROM ok, gr
    ),
    hc AS (
      SELECT n,
             vdf - 0.5 AS a,
             48.0 * ((vdf - 0.5) * (vdf - 0.5)) AS b,
             sqrt((vdf - 0.5) * ln(1.0 + (t * t) / vdf)) AS c
      FROM tt
    ),
    hz AS (
      SELECT n,
             c + ((c * c) * c + 3.0 * c) / b
               - (4.0 * ((((c * c) * c) * (c * c)) * (c * c))
                  + 33.0 * (((c * c) * c) * (c * c))
                  + 240.0 * ((c * c) * c) + 855.0 * c)
                 / (10.0 * (b * b)
                    + 8.0 * (b * ((c * c) * (c * c)))
                    + 1000.0 * b) AS z
      FROM hc
    ),
    agg AS (
      SELECT SUM(n) AS n, COUNT(*) AS k,
             SUM(CAST(ROUND(z * z, 12) AS DECIMAL(28,12))) AS a_sum
      FROM hz
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CASE WHEN k >= 2 THEN ROUND(CAST(a_sum AS DOUBLE), 6)
           END AS a_stat
    FROM agg
"""


@_q("q_alexander_govern", _AG_SQL)
def q_alexander_govern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alexander-Govern equal-means test across event types under
    unequal variances: per-group t against the variance-weighted grand
    mean through Hill's normalizing transform, A = Σz² — the
    small-sample-calibrated sibling of q_welch_anova."""
    from conte_to_fresco_etl_spark.operators.robust import (
        alexander_govern,
    )

    return alexander_govern(_events(spark, sf_dir), "event_type", "value")
