"""SparkSession factory with the engine's canonical configuration.

The reference pipeline hand-tunes memory ceilings, chunk sizes and worker
counts (conte-etl-step-2-processor.py:46-54,90-110); under Spark those
become session configs: AQE, shuffle partitioning, broadcast threshold.

Timezone: the reference parses naive timestamps then UTC-localizes
(conte-etl-step-2-processor.py:549-555,922-935).  We therefore pin
``spark.sql.session.timeZone=UTC`` so ``to_timestamp`` + casts never
double-shift (SURVEY §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale: AQE on (runtime coalesce + skew-join), Arrow
#: for any pandas interchange, snappy parquet (reference
#: conte-etl-step-2-processor.py:1800), bounded per-file output rows
#: (reference manager CHUNK_SIZE=1M rows, conte-etl-step-2-manager.py:36).
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow input batches are BYTE-capped, not just row-capped: with
    # multi-MB media cells the 10k-row default would materialize
    # multi-GB batches in each Python worker.  64 MiB is Spark 4's
    # default — pinned here because the media walkers' memory contract
    # (operators/media.py:MAX_DECODE_BYTES) depends on it, and a
    # deployment override must be a conscious decision.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxRecordsPerFile": "1000000",
    # Not a key Spark reads: the cap above is the effective one.  Kept
    # set because perfbench/run.py records it with every result and
    # reads it back without a default, which raises on an unset key.
    "spark.sql.maxRecordsPerFile": "1000000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # r14 (guide §1.2 step 2 — per-"task" work, here the DRIVER's):
    # PySpark 4 wraps every DataFrame-API call in an error-context
    # capture (Python stack walk + an IPython import probe + two extra
    # py4j round trips to set/clear the JVM-side origin).  That is a
    # debugging aid for interactive sessions; in a production driver
    # it is pure per-call overhead — measured 32% of plan-construction
    # time on floor-bound queries (3.05s -> 2.07s per 8 builds,
    # plans/r14/floor_probe_baseline.json).  Scale-independent: it
    # changes no plan, no result, and costs the same per API call on a
    # 100 TB cluster driver as on local[32].
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "conte-to-fresco-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass nothing and spark-submit supplies the master.
    """
    # Python workers inherit PYTHONPATH from the environment at JVM
    # launch, NOT the driver's sys.path — a consumer that imported this
    # package via a sys.path tweak (or from another cwd) would get
    # ModuleNotFoundError inside every mapInPandas/applyInPandas UDF.
    # Pin the package root into PYTHONPATH before the session exists.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master is not None and master.startswith("local"):
        # Local mode runs driver + executors in ONE JVM whose heap is
        # spark.driver.memory — and with no spark-defaults.conf that is
        # Spark's 1g default, far too small for a 32-thread run that
        # persists/localCheckpoints intermediates (the round-9 bench
        # died with java.lang.OutOfMemoryError on exactly this).  Only a
        # ceiling, not a reservation; must be set before the JVM exists
        # (getOrCreate on a live JVM ignores it, harmlessly).
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Deterministic block-manager cleanup
#
# ``spark.catalog.clearCache()`` frees only CacheManager entries
# (DataFrame.persist).  ``DataFrame.localCheckpoint`` blocks live
# directly in the BlockManager and survive it; in long sessions that
# run hundreds of queries (bench.py, the driver's harness) they
# accumulate until the single local-mode JVM heap fills.  The helpers
# below make reclamation deterministic: ``sweep_persisted`` unpersists
# every surviving RDD — persist() AND localCheckpoint() blocks — except
# those backing ``pin()``-ed session-staged DataFrames (the dedup
# decision table, star-CC components, LSH posting lists: tables shared
# across queries by design, whose checkpoint-truncated lineage could
# not be recomputed if their blocks were dropped).
# ---------------------------------------------------------------------------

#: DataFrames whose blocks must survive sweeps (session-staged caches).
#: Kept alive here forever, so CPython id() reuse cannot alias entries.
_PINNED: list = []

#: id(df) -> frozenset of JVM RDD ids in its physical lineage (memoized:
#: pinned plans are stable LogicalRDD / cached relations).
_PINNED_IDS: dict = {}


def pin(df):
    """Mark ``df`` as a session-lifetime staged table: its
    localCheckpoint blocks are exempt from :func:`sweep_persisted`.
    Returns ``df`` so cache-fill sites can wrap in place.

    Only CHECKPOINT-backed tables need (or should get) a pin: their
    plan is a flat LogicalRDD, so the lineage walk is exact and free of
    side effects, and their truncated lineage means a dropped block is
    fatal.  persist()-backed caches don't qualify — the CacheManager
    already owns their blocks (recompute-safe), and walking a full AQE
    plan can trigger stage materialization."""
    _PINNED.append(df)
    return df


def _lineage_rdds(df):
    """Yield the JVM (scala) RDDs reachable from ``df``'s physical plan,
    walking ``dependencies()`` — reaches cached-relation RDDs and the
    checkpoint RDD behind a LogicalRDD."""
    stack = [df._jdf.queryExecution().toRdd()]
    seen: set = set()
    while stack:
        r = stack.pop()
        rid = r.id()
        if rid in seen:
            continue
        seen.add(rid)
        yield rid, r
        deps = r.dependencies()
        for i in range(deps.size()):
            stack.append(deps.apply(i).rdd())


def _pinned_ids(df) -> frozenset:
    key = id(df)
    hit = _PINNED_IDS.get(key)
    if hit is None:
        try:
            hit = frozenset(rid for rid, _ in _lineage_rdds(df))
        except Exception:
            hit = frozenset()
        _PINNED_IDS[key] = hit
    return hit


def free_blocks(df, blocking: bool = False) -> int:
    """Unpersist every persisted RDD in ``df``'s physical lineage — the
    localCheckpoint-aware complement of ``DataFrame.unpersist()`` (which
    only uncaches CacheManager entries).

    Call ONLY on a MATERIALIZED checkpointed DataFrame whose blocks
    will never be re-read (superseded iteration rounds): its plan is a
    flat LogicalRDD, so ``toRdd`` is side-effect-free and the walk
    exact.  On an arbitrary un-executed DataFrame, building the RDD can
    make AQE materialize shuffle stages (real jobs), and the walk does
    not reliably reach cached relations — use :func:`sweep_persisted`
    for whole-session reclamation instead.  Returns RDDs unpersisted."""
    n = 0
    try:
        for _rid, r in _lineage_rdds(df):
            if r.getStorageLevel().isValid():
                r.unpersist(blocking)
                n += 1
    except Exception:
        pass
    return n


def sweep_persisted(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persisted RDD in the JVM — including
    localCheckpoint blocks that ``catalog.clearCache()`` cannot free —
    except blocks backing :func:`pin`-ed session-staged DataFrames.
    ``JavaSparkContext.getPersistentRDDs`` returns a snapshot map, so
    iteration during unpersist is safe.  Returns RDDs freed."""
    keep: set = set()
    for df in _PINNED:
        keep |= _pinned_ids(df)
    n = 0
    try:
        it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            entry = it.next()
            if entry.getKey() in keep:
                continue
            try:
                entry.getValue().unpersist(blocking)
                n += 1
            except Exception:
                pass
    except Exception:
        pass
    return n
