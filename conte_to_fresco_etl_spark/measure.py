"""One measurement harness for the declared catalog queries.

``bench.py``, ``tools/profile_queries.py`` and ``tools/bench_scaling.py``
are thin command lines over this module, so the session set-up and
warm-up, the timing rule, the per-phase profile and the after-query
cleanup each exist once.  A query is an ``fn(spark, sf_dir) -> DataFrame``
from ``__spark_entry__.queries()``; callers pass that dict in, so the
package never imports the driver's entry module.
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor, wait
from functools import partial
from typing import Callable, NamedTuple

from conte_to_fresco_etl_spark.session import env_int, get_spark, sweep_persisted

#: Plan-shape counts over the tree of the executed (AQE-final) plan, plus
#: ``wsc`` (distinct whole-stage-codegen ids) and ``plan_lines``:
#: deterministic, so they show a plan change that wall-clock noise would
#: hide.
PLAN_COUNTS = {
    "exchanges": r"\bExchange\b",
    "py_nodes": r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
                r"FlatMapGroupsInPandas",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
}


def plan_counts(txt: str) -> dict:
    """:data:`PLAN_COUNTS` and ``wsc`` of a formatted plan.  Only the tree
    counts (each node once, not again in the details below it), and under
    an AdaptiveSparkPlan only the ``Final Plan`` subtree: lines nested
    deeper than an ``== Initial Plan ==`` marker are dropped."""
    tree, _, details = txt.partition("\n\n")
    final, skip_col = [], None
    for line in tree.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if skip_col is not None and col >= skip_col:
            continue
        skip_col = col if "== Initial Plan ==" in line else None
        final.append(line)
    ids = {m[1] for line in final if (m := re.search(r" \((\d+)\)", line))}
    codegen = dict(re.findall(r"^\((\d+)\) .*\[codegen id : (\d+)\]", details, re.M))
    body = "\n".join(final)
    return {
        **{k: len(re.findall(p, body)) for k, p in PLAN_COUNTS.items()},
        "wsc": len({codegen[i] for i in ids if i in codegen}),
    }


def _sql_executions(spark):
    """The SQL executions in the status store, oldest first, once the
    listener bus has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _last_execution_id(spark) -> int:
    execs = _sql_executions(spark)
    return execs.last().executionId() if execs.nonEmpty() else -1


def _plan_after(spark, after: int) -> str:
    """Formatted plan of the first SQL execution after id ``after``; once
    that execution ran, an AQE plan in it is the final one."""
    execs = _sql_executions(spark)
    j = execs.size()
    while j > 0 and execs.apply(j - 1).executionId() > after:
        j -= 1
    return execs.apply(j).physicalPlanDescription()


def open_session(app_name: str, qs: dict, sf_dir: str):
    """Session on ``local[$SPARK_GRAFT_CPUS]`` (shuffle partitions = CPUs),
    warmed up so the first timed query pays no session start-up."""
    cpus = env_int("SPARK_GRAFT_CPUS", 32)
    spark = get_spark(
        app_name=app_name, master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # warmup: JVM + codegen + parquet footer caches, plus the Python
    # worker pool (Arrow-path operators reuse workers; the pool spin-up
    # is a fixed per-session cost, not per-query work)
    qs["q_minmax_summary"](spark, sf_dir).count()
    spark.range(256).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    return spark


def _noop_s(build: Callable[[], object]) -> float:
    """Seconds to build a frame and write it to the noop sink."""
    t0 = time.perf_counter()
    # noop sink, NOT count(): count() lets Catalyst prune every computed
    # column, so projection queries would bench as bare scans — the noop
    # write evaluates the full result exactly once with no serialization
    # or disk cost.
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Timing(NamedTuple):
    best: float | None  #: min over ``runs``; None when no run finished
    runs: list[float]
    timed_out: bool


def adaptive_min(run: Callable[[], float | None]) -> Timing:
    """The min-of-runs rule.  Noise on this box is strictly additive, so
    the min is the steady-state estimator.  Two runs; a 3rd when the first
    two disagree by more than 1.5x — in-suite timings can swing up to ~8x
    same-code (a GC/compaction pause landing in one run), and min-of-2
    cannot tell such a reading from the query's floor.  The 3rd run
    resolves exactly those cases without paying 3x on the ~95% of queries
    whose two runs agree.  ``run`` returns seconds, or None when it timed
    out; that ends the series as ``timed_out``, so a min-of-1 (or an
    unresolved 3rd run) never passes for a confirmed min-of-2."""
    runs: list[float] = []
    while len(runs) < 2 or (len(runs) == 2 and max(runs) > 1.5 * min(runs)):
        dt = run()
        if dt is None:
            return Timing(min(runs, default=None), runs, True)
        runs.append(dt)
    return Timing(min(runs), runs, False)


def _within(spark, work: Callable[[], float], timeout: float) -> float | None:
    """``work()`` on a worker thread; None when it outlives ``timeout``,
    after cancelling every job, so a superlinear query leaves a row in
    the artifact instead of hanging the harness."""
    pool = ThreadPoolExecutor(1)
    fut = pool.submit(work)
    try:
        return fut.result(timeout)
    except TimeoutError:
        spark.sparkContext.cancelAllJobs()
        wait([fut], 30)
        return None
    finally:
        pool.shutdown(wait=False)


def min_time(spark, fn, sf_dir: str, timeout: float | None = None) -> Timing:
    """:func:`adaptive_min` over noop-sink runs of ``fn``; each run longer
    than ``timeout`` seconds is cancelled and ends the series."""
    once = partial(_noop_s, partial(fn, spark, sf_dir))

    def run() -> float | None:
        # clearCache before every run: operators persist() intermediates,
        # and Spark's CacheManager matches identical plans — without
        # this, run 2 would measure a cache hit, not the query.
        spark.catalog.clearCache()
        return once() if timeout is None else _within(spark, once, timeout)

    return adaptive_min(run)


def profile(spark, fn, sf_dir: str) -> tuple[dict, str]:
    """One query, split by phase: ``build_s`` (calling ``fn``: py4j round
    trips, eager analysis, any session-staged work the first family member
    pays), ``exec_s`` (the noop write of the frame; the write runs its
    own QueryExecution, so this includes its optimization and physical
    planning as well as job scheduling and tasks), ``jobs`` (Spark jobs
    that write launched), ``rebuild_exec_s`` (a fresh build + write,
    what :func:`min_time` times) and the :func:`plan_counts` of the plan
    that write executed.
    Returns ``(record, plan_text)`` with that plan's formatted text."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    before = _last_execution_id(spark)
    # Jobs are counted by job group, not by the change in the status
    # store's job-list size: the store keeps only spark.ui.retainedJobs
    # jobs, and once it evicts, a size difference goes wrong (even
    # negative).
    group = f"measure.profile.{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        exec_s = _noop_s(lambda: df)
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    txt = _plan_after(spark, before)
    spark.catalog.clearCache()
    rec = {
        "build_s": round(t1 - t0, 4),
        "exec_s": round(exec_s, 4),
        "jobs": jobs,
        "rebuild_exec_s": round(_noop_s(partial(fn, spark, sf_dir)), 4),
        **plan_counts(txt),
        "plan_lines": txt.count("\n"),
    }
    return rec, txt


def sweep(spark, i: int) -> None:
    """Cleanup after the ``i``-th (0-based) query of a long session.

    ``clearCache`` frees only CacheManager entries; localCheckpoint RDD
    blocks survive it and, left alone, accumulate across hundreds of
    queries x runs in the single local-mode JVM (the round-9 driver bench
    OOM'd on exactly this).  ``sweep_persisted`` unpersists every
    surviving RDD except pinned session-staged tables.  Every 25 queries
    the JVM is also nudged to compact: block frees are async and the heap
    high-water mark otherwise ratchets across hundreds of queries."""
    sweep_persisted(spark)
    if (i + 1) % 25 == 0:
        spark._jvm.System.gc()
