#!/usr/bin/env python3
"""Benchmark harness: the paper's raw-CSV → set3 pipeline beside a catalog
control.

    python3 perfbench/run.py --workload fresco_month --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  For ``fresco_month`` the harness
generates its inputs from ``--seed`` (cached under ``perfbench/_cache``);
``catalog_mix`` reads the fixed tables in ``perfbench/catalog_data``.  It
pins the Spark environment, starts one fresh Spark process, drives the
package only through ``pipeline.run_step1`` / ``run_step2`` and
``__spark_entry__.queries()``, checks every output, and prints a report
line and then, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the full per-layer record (spans included) is written to
``perfbench/_results``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "_cache")
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(HERE, "_results")

#: rows per raw metric file in the one landing folder of fresco_month
FRESCO_ROWS = 12000
#: catalog test tables (sf0.01) that catalog_mix reads
CATALOG_DATA = os.path.join(HERE, "catalog_data")
#: catalog queries run by catalog_mix, in this order.  The order is fixed:
#: the first queries of a fresh JVM pay first-use costs the others share,
#: and a seeded order moves 1-5 s of them between queries from run to run.
CATALOG_QUERIES = [
    "conte_set3", "q_window_rate", "q_quality_propagation", "q_theil_sen",
    "q_pagerank", "q1_pricing_summary",
]
WORKLOADS = ("fresco_month", "catalog_mix")
#: fewest passes in a window.  Warm passes still speed up from one to the
#: next as the JIT compiler works, so a median over a varying number of
#: them would move with the count; at ``run_seconds`` a window holds
#: exactly this many unless a pass takes under half of the window.
MIN_PASSES = 2
#: names pipeline.py imports from the package, rebound to spans when traced
PIPELINE_CALLS = {
    "read_raw_csv": "readers.read_raw_csv",
    "transform_folder": "transforms.transform_folder",
    "discover_months": "readers.discover_months",
    "read_fresco_ts": "readers.read_fresco_ts",
    "read_accounting_csv": "readers.read_accounting_csv",
    "process_month": "join.process_month",
    "write_monthly_eav": "sinks.write_monthly_eav",
    "write_set3_parquet": "sinks.write_set3_parquet",
    "write_daily_set3_csv": "sinks.write_daily_set3_csv",
}
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")
#: effective Spark settings recorded with every result
CONF_RECORDED = ("spark.master", "spark.driver.memory",
                 "spark.sql.shuffle.partitions", "spark.sql.maxRecordsPerFile",
                 "spark.sql.files.maxRecordsPerFile",
                 "spark.sql.adaptive.enabled")

sys.path.insert(0, HERE)
from spans import StatusStore, Tracer  # noqa: E402


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------

def package_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", os.path.join("conte_to_fresco_etl_spark",
                                           "pipeline.py")))


def pin_environment() -> dict:
    """One driver on local[nproc], shuffle partitions = nproc, driver
    memory a quarter of the machine's (1-8 GiB), scratch inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    mem_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {"cpus": cpus, "driver_mem": f"{mem_gb}g",
            "mem_total_gb": round(mem_kb / 1024 / 1024, 1)}


def cpu_times() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_times`` readings
    that the hypervisor gave to other guests (field 8, steal)."""
    total = sum(end) - sum(start)
    return (end[7] - start[7]) / total if total else 0.0


def spark_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def ensure_data(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for (workload, seed, parameters);
    the cache key covers the generator's source too."""
    if workload == "catalog_mix":
        return CATALOG_DATA, catalog_manifest()
    args = ["--seed", str(seed), "--rows", str(FRESCO_ROWS)]
    digest = hashlib.sha1(" ".join(args).encode())
    for dep in ("gen_fresco.py", "fingerprint.py"):
        with open(os.path.join(HERE, dep), "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(CACHE, f"{workload}-s{seed}-{digest.hexdigest()[:12]}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_fresco.py"),
                        *args, "--out", out],
                       check=True, stdout=sys.stderr, timeout=150)
    with open(manifest) as fh:
        return out, json.load(fh)


def catalog_manifest() -> dict:
    """The queries, the input size, and each query's oracle fingerprint.
    The fingerprints are computed once on DuckDB and cached, keyed by the
    oracle SQL and the fingerprint code."""
    import __spark_entry__ as entry
    import catalog_fp

    oracles = {q: entry.oracle_sql()[q] for q in CATALOG_QUERIES}
    digest = hashlib.sha1(json.dumps(oracles, sort_keys=True).encode())
    with open(catalog_fp.__file__, "rb") as fh:
        digest.update(fh.read())
    path = os.path.join(CACHE, f"catalog-{digest.hexdigest()[:12]}.json")
    if not os.path.exists(path):
        expected = catalog_fp.oracle_fingerprints(CATALOG_DATA, oracles)
        os.makedirs(CACHE, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        expected = json.load(fh)
    files = glob.glob(os.path.join(CATALOG_DATA, "*.parquet"))
    return {"queries": CATALOG_QUERIES, "expected": expected,
            "inputs": {"tables": len(files),
                       "bytes": sum(os.path.getsize(f) for f in files)}}


# ---------------------------------------------------------------------------
# Spark launches
# ---------------------------------------------------------------------------

class Launch:
    """One Spark process: setup (session + fixed warm-up query) on entry,
    peak RSS capture and a full stop on ``close``."""

    def __init__(self, tracer: Tracer, cpus: int, traced: bool):
        from conte_to_fresco_etl_spark.session import get_spark

        self.tracer = tracer
        with tracer.span("session.get_spark") as s1:
            self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                                   shuffle_partitions=cpus,
                                   extra_conf=spark_conf())
        if traced:
            tracer.spark = self.spark
        with tracer.span("session.warmup") as s2:
            # a JVM job plus the Python worker pool the Arrow operators use
            self.spark.range(0, 200_000, 1, cpus).selectExpr(
                "sum(id % 7) AS s").collect()
            self.spark.range(256).repartition(cpus).mapInPandas(
                lambda it: it, schema="id long").count()
        self.get_spark_s = s1["end"] - s1["start"]
        self.warmup_s = s2["end"] - s2["start"]
        self.setup_s = self.get_spark_s + self.warmup_s
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.peak_rss_mb = None
        self.conf = {k: self.spark.conf.get(k) for k in CONF_RECORDED}
        self.java = str(self.spark._jvm.System.getProperty("java.version"))

    def capture_rss(self) -> None:
        self.peak_rss_mb = vmhwm_mb(self.jvm_pid) + vmhwm_mb(os.getpid())

    def close(self) -> None:
        from pyspark import SparkContext

        children = descendants(self.jvm_pid)
        self.tracer.spark = None
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap(children)


def vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended; terminate
    stragglers after ``timeout`` seconds."""
    deadline = time.time() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# fresco_month
# ---------------------------------------------------------------------------

def handoff(out: str) -> None:
    """Move step 1's ``eav/ym=YYYY_MM/part-*.parquet`` files to the flat
    ``ts/FRESCO_Conte_ts_YYYY_MM_v1_chunkNNN.parquet`` names that
    ``discover_months`` matches."""
    ts_dir = os.path.join(out, "ts")
    os.makedirs(ts_dir, exist_ok=True)
    for part_dir in sorted(glob.glob(os.path.join(out, "eav", "ym=*"))):
        y, m = os.path.basename(part_dir)[3:].split("_")
        for i, f in enumerate(sorted(glob.glob(os.path.join(part_dir,
                                                            "*.parquet")))):
            os.rename(f, os.path.join(
                ts_dir, f"FRESCO_Conte_ts_{y}_{m}_v1_chunk{i:03d}.parquet"))


def fresco_pass(spark, tracer: Tracer, data: str, man: dict, out: str) -> dict:
    from conte_to_fresco_etl_spark import pipeline

    rec = {"dir": out, "step1_s": 0.0, "handoff_s": 0.0, "step2_s": 0.0,
           "returned": {}, "error": None}
    with tracer.span("pass") as sp:
        try:
            for ym in man["months"]:
                with tracer.span("pipeline.run_step1") as s:
                    pipeline.run_step1(spark, os.path.join(data, "raw", ym),
                                       os.path.join(out, "eav"))
                rec["step1_s"] += s["end"] - s["start"]
            with tracer.span("handoff") as s:
                handoff(out)
            rec["handoff_s"] = s["end"] - s["start"]
            with tracer.span("pipeline.run_step2") as s:
                res = pipeline.run_step2(
                    spark, os.path.join(out, "ts"), os.path.join(data, "acct"),
                    os.path.join(out, "set3"), os.path.join(out, "daily"))
            rec["step2_s"] = s["end"] - s["start"]
            rec["returned"] = {f"{r.year}-{r.month}": r.rows for r in res}
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            rec["error"] = traceback.format_exc(limit=4)
            print(rec["error"], file=sys.stderr)
    rec["wall_s"] = sp["end"] - sp["start"]
    return rec


def fresco_check(passes: list[dict], man: dict) -> tuple[int, int, list]:
    from checks import check_month

    attempted = failed = 0
    problems = []
    for rec in passes:
        for ym in man["months"]:
            attempted += 1
            bad = ([rec["error"].strip().splitlines()[-1]] if rec["error"]
                   else check_month(rec["dir"], ym, man["expected"][ym],
                                    rec["returned"].get(ym)))
            if bad:
                failed += 1
                problems.append({"dir": rec["dir"], "month": ym, "bad": bad})
    return attempted, failed, problems


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------

def catalog_pass(spark, tracer: Tracer, data: str, man: dict,
                 traced: bool) -> dict:
    from pyspark.sql import Observation

    import __spark_entry__ as entry
    import catalog_fp
    from conte_to_fresco_etl_spark.session import sweep_persisted

    qs = entry.queries()
    rec = {"queries": {}}
    with tracer.span("pass") as sp:
        for name in man["queries"]:
            q = {"build_s": None, "exec_s": None, "bad": None}
            rec["queries"][name] = q
            spark.catalog.clearCache()
            try:
                with tracer.span("plans.build", query=name) as s:
                    df = qs[name](spark, data)
                q["build_s"] = s["end"] - s["start"]
                obs = Observation()
                observed = df.observe(obs, *catalog_fp.spark_exprs(df))
                with tracer.span("operators.exec", query=name) as s:
                    observed.write.format("noop").mode("overwrite").save()
                q["exec_s"] = s["end"] - s["start"]
                q["bad"] = catalog_fp.diff(man["expected"][name],
                                           catalog_fp.from_spark(df, obs.get))
            except Exception:  # noqa: BLE001 — a failed query is counted
                q["bad"] = [traceback.format_exc(limit=4)]
                print(q["bad"][0], file=sys.stderr)
            if traced:
                q["blocks_left"] = int(
                    spark.sparkContext._jsc.getPersistentRDDs().size())
            sweep_persisted(spark)
    rec["wall_s"] = sp["end"] - sp["start"]
    return rec


def catalog_check(passes: list[dict]) -> tuple[int, int, list]:
    attempted = failed = 0
    problems = []
    for rec in passes:
        for name, q in rec["queries"].items():
            attempted += 1
            if q["bad"] or q["exec_s"] is None:
                failed += 1
                problems.append({"query": name, "bad": q["bad"]})
    return attempted, failed, problems


def query_seconds(q: dict) -> float | None:
    """Build + execute time of one query execution; None if it failed."""
    return None if q["exec_s"] is None else q["build_s"] + q["exec_s"]


def query_latencies(passes: list[dict]) -> list[float]:
    return [query_seconds(q) for rec in passes
            for q in rec["queries"].values() if q["exec_s"] is not None]


# ---------------------------------------------------------------------------
# Windows and statistics
# ---------------------------------------------------------------------------

def one_pass(workload: str, launch: Launch, tracer: Tracer, data: str,
             man: dict, tag: str, traced: bool) -> dict:
    """One pass, with the host's CPU steal while it ran."""
    start = cpu_times()
    if workload == "fresco_month":
        rec = fresco_pass(launch.spark, tracer, data, man,
                          os.path.join(WORK, tag))
    else:
        rec = catalog_pass(launch.spark, tracer, data, man, traced)
    rec["steal_frac"] = steal_frac(start, cpu_times())
    return rec


def warmup_pass(workload: str, launch: Launch, data: str, man: dict,
                tag: str) -> dict:
    """One pass before the window, so that the JIT compiler, the
    generated-code cache and the Python workers are warm when the window
    starts; its time enters no gated metric.  Its spans go to a throwaway
    tracer that sets no job group, so a traced run attributes none of its
    jobs to a layer."""
    return one_pass(workload, launch, Tracer(), data, man, f"{tag}-warmup-pass",
                    traced=False)


def run_window(workload: str, launch: Launch, data: str, man: dict,
               seconds: float, tag: str, traced: bool) -> list[dict]:
    """Passes back to back until ``seconds`` have elapsed and at least
    ``MIN_PASSES`` have run."""
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        passes.append(one_pass(workload, launch, launch.tracer, data, man,
                               f"{tag}-pass{len(passes)}", traced))
        if len(passes) >= MIN_PASSES and time.perf_counter() >= t_end:
            return passes


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and its
    value; (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    p = 100.0 * (1.0 - 10.0 / n)
    xs = sorted(values)
    pos = p / 100.0 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return p, xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def med(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def pass_seconds(workload: str, rec: dict) -> float:
    if workload == "fresco_month":
        return rec["step1_s"] + rec["step2_s"]
    return sum(query_latencies([rec]))


# ---------------------------------------------------------------------------
# Per-layer metrics (traced launch)
# ---------------------------------------------------------------------------

def _span_jobs(tracer: Tracer, ss: StatusStore, names: tuple) -> list[int]:
    groups = set()
    for s in tracer.spans:
        if s["name"] in names:
            groups |= tracer.descendants(s["id"])
    return ss.jobs_in(groups)


def _max_task_share(ss: StatusStore, stages: list[dict], field: str) -> float | None:
    key = "in_records" if field == "in" else "out_records"
    stages = [s for s in stages if s[key] > 0]
    if not stages:
        return None
    big = max(stages, key=lambda s: s[key])
    recs = ss.task_records(big, field)
    return max(recs) / big[key] if recs else None


def _nodes(execs: list[dict], pred) -> list[dict]:
    return [n for e in execs for n in e["nodes"] if pred(n)]


def _metric_sum(nodes: list[dict], metric: str) -> float:
    return sum(n["metrics"].get(metric) or 0.0 for n in nodes)


def spark_layer(tracer: Tracer, ss: StatusStore, n_pass: int, cpus: int,
                pass_wall: float) -> dict:
    jobs = _span_jobs(tracer, ss, ("pass",))
    stages = [s for s in ss.stages_of(jobs) if s["tasks"] > 0]
    run_s = sum(s["run_ms"] for s in stages) / 1e3 / n_pass
    return {
        "spark.jobs": len(jobs) / n_pass,
        "spark.stages": len(stages) / n_pass,
        "spark.tasks": sum(s["tasks"] for s in stages) / n_pass,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / n_pass,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3 / n_pass,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n_pass,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n_pass,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n_pass,
        "spark.busy_core_frac": run_s / (pass_wall * cpus),
    }


def fresco_layers(spark, tracer: Tracer, ss: StatusStore, passes: list[dict],
                  data: str, man: dict) -> dict:
    n_pass = len(passes)
    months = len(man["months"]) * n_pass
    step2_jobs = _span_jobs(tracer, ss, ("pipeline.run_step2",))
    step1_execs = ss.executions(_span_jobs(tracer, ss, ("sinks.write_monthly_eav",)))
    sink2 = ("sinks.write_set3_parquet", "sinks.write_daily_set3_csv")
    step2_execs = ss.executions(step2_jobs)
    join_execs = [e for e in step2_execs
                  if any(n["name"] == "BroadcastHashJoin" for n in e["nodes"])]
    first_join = join_execs[0]["nodes"] if join_execs else []
    window_x = _nodes(step1_execs, lambda n: n["name"] == "Exchange"
                      and n["desc"].startswith("Exchange hashpartitioning(jobID"))
    other_x = _nodes(step1_execs, lambda n: n["name"] == "Exchange"
                     and n not in window_x)
    writes = _nodes(step1_execs + step2_execs,
                    lambda n: n["name"].startswith("Execute InsertInto"))
    step1_stages = ss.stages_of(_span_jobs(tracer, ss, ("sinks.write_monthly_eav",)))
    run2 = [s for s in tracer.spans if s["name"] == "pipeline.run_step2"]
    recount = sum((s["end"] - s["start"]) - sum(
        c["end"] - c["start"] for c in tracer.spans if c["parent"] == s["id"])
        for s in run2)
    counts = transform_counts(spark, tracer, data, man)
    out_bytes = sum(os.path.getsize(f) for rec in passes for sub in
                    ("ts", "set3", "daily")
                    for f in glob.glob(os.path.join(rec["dir"], sub, "**", "*"),
                                       recursive=True)
                    if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")))
    in_bytes = man["inputs"]["raw_bytes"] + man["inputs"]["acct_bytes"]
    share = {}
    for name in ("sinks.write_monthly_eav",) + sink2:
        share[name] = _max_task_share(
            ss, ss.stages_of(_span_jobs(tracer, ss, (name,))), "out")
    eav_written = _metric_sum(_nodes(step1_execs, lambda n: n["name"].startswith(
        "Execute InsertInto")), "number of output rows") / n_pass
    return {
        "pipeline.step1_folder_s": med(tracer.durations("pipeline.run_step1")),
        "pipeline.step2_month_s": tracer.total("pipeline.run_step2") / months,
        "pipeline.jobs_per_month": len(step2_jobs) / months,
        "pipeline.recount_s": recount / months,
        "readers.csv_rows": sum(s["in_records"] for s in step1_stages) / n_pass,
        "readers.csv_bytes": sum(s["in_bytes"] for s in step1_stages) / n_pass,
        "readers.discover_months_s": tracer.total("readers.discover_months") / n_pass,
        "readers.ts_scan_max_task_share": _max_task_share(
            ss, ss.stages_of(_span_jobs(tracer, ss, sink2)), "in"),
        "transforms.build_s": tracer.total("transforms.transform_folder") / n_pass,
        "transforms.eav_rows": counts["eav_rows"],
        "transforms.dropped_rows": counts["dropped_rows"],
        "transforms.window_shuffle_bytes":
            _metric_sum(window_x, "shuffle bytes written") / n_pass,
        "join.build_s": tracer.total("join.process_month") / months,
        "join.broadcast_rows": _metric_sum(
            [n for n in first_join if n["name"] == "BroadcastExchange"],
            "number of output rows"),
        "join.broadcast_bytes": _metric_sum(
            [n for n in first_join if n["name"] == "BroadcastExchange"], "data size"),
        "join.probe_rows": _metric_sum(
            [n for n in first_join if n["name"].startswith("Scan parquet")],
            "number of output rows"),
        "join.output_rows": _metric_sum(
            [n for n in first_join if n["name"] == "BroadcastHashJoin"],
            "number of output rows"),
        "join.plan_evaluations_per_month": len(join_execs) / months,
        "sinks.eav_write_s": tracer.total("sinks.write_monthly_eav") / n_pass,
        "sinks.set3_parquet_write_s": tracer.total("sinks.write_set3_parquet") / n_pass,
        "sinks.daily_csv_write_s": tracer.total("sinks.write_daily_set3_csv") / n_pass,
        "sinks.files_written": _metric_sum(writes, "number of written files") / n_pass,
        "sinks.bytes_written": out_bytes / n_pass,
        "sinks.bytes_written_per_input_byte": out_bytes / n_pass / in_bytes,
        "sinks.write_max_task_share": max((v for v in share.values() if v is not None),
                                          default=None),
        "sinks.write_max_task_share_by_sink": share,
        "sinks.dedup_shuffle_bytes":
            _metric_sum(other_x, "shuffle bytes written") / n_pass,
        "sinks.dedup_dropped_rows": counts["eav_rows"] - eav_written,
        "sinks.commit_s": _metric_sum(writes, "job commit time") / n_pass,
    }


def transform_counts(spark, tracer: Tracer, data: str, man: dict) -> dict:
    """EAV rows the transforms emit and raw rows they drop, counted after
    the timed passes through the package's public transforms."""
    from conte_to_fresco_etl_spark import pipeline
    from conte_to_fresco_etl_spark.operators.transforms import TRANSFORMS

    fanout = {"mem": 2}
    eav = dropped = 0
    with tracer.span("trace.counts"):
        for ym in man["months"]:
            for name, schema in pipeline.RAW_SCHEMAS.items():
                raw = pipeline.read_raw_csv(
                    spark, os.path.join(data, "raw", ym, f"{name}.csv"), schema)
                n_raw = raw.count()
                n_eav = TRANSFORMS[name](raw).count()
                eav += n_eav
                dropped += n_raw - n_eav // fanout.get(name, 1)
    return {"eav_rows": eav, "dropped_rows": dropped}


def catalog_layers(tracer: Tracer, ss: StatusStore, passes: list[dict]) -> dict:
    n_q = sum(len(rec["queries"]) for rec in passes)
    n_pass = len(passes)
    builds = tracer.durations("plans.build")
    exec_execs = ss.executions(_span_jobs(tracer, ss, ("operators.exec",)))
    py = _nodes(exec_execs, lambda n: any(m in n["name"] for m in PYTHON_NODE_MARKERS))
    return {
        "plans.build_s": sum(builds) / n_pass,
        "plans.build_p50_s": med(builds),
        "plans.eager_jobs": len(_span_jobs(tracer, ss, ("plans.build",))) / n_pass,
        "operators.exec_s": tracer.total("operators.exec") / n_pass,
        "operators.jobs_per_query":
            len(_span_jobs(tracer, ss, ("operators.exec",))) / n_q,
        "operators.exchanges_per_query": len(_nodes(
            exec_execs, lambda n: n["name"] in ("Exchange", "BroadcastExchange")))
            / n_q,
        "operators.python_nodes": len(py) / n_pass,
        "operators.python_rows": _metric_sum(py, "number of output rows") / n_pass,
        "operators.blocks_left_after_query": sum(
            q.get("blocks_left", 0) for rec in passes
            for q in rec["queries"].values()) / n_pass,
    }


# ---------------------------------------------------------------------------
# Runs
# ---------------------------------------------------------------------------

def end_to_end(workload: str, launch: Launch, warm: dict, passes: list[dict],
               failed_frac: float) -> tuple[dict, dict]:
    """(gated metrics, full report) of an untraced run.  The report's
    ``metrics`` hold every end-to-end metric with its unit."""
    pass_s = med([pass_seconds(workload, p) for p in passes])
    named = {"setup_s": (launch.setup_s, "s"), "pass_s": (pass_s, "s"),
             "cold_pass_s": (pass_seconds(workload, warm), "s"),
             "peak_rss_mb": (launch.peak_rss_mb, "MB"),
             "failed_frac": (failed_frac, "ratio")}
    report = {"pass_samples": [pass_seconds(workload, p) for p in passes],
              "pass_steal_frac": [p["steal_frac"] for p in [warm] + passes]}
    if workload == "fresco_month":
        for key in ("step1_s", "step2_s", "handoff_s"):
            named[key] = (med([p[key] for p in passes]), "s")
    else:
        lat = query_latencies(passes)
        pct, tail_v = tail(lat)
        named.update({"catalog_s": (pass_s, "s"), "query_p50_s": (med(lat), "s"),
                      "query_tail_s": (tail_v, "s")})
        report.update({"query_tail_pct": pct, "query_samples": len(lat),
                       "query_s": {n: [query_seconds(p["queries"][n])
                                       for p in passes]
                                   for n in passes[0]["queries"]}})
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    return {k: named[k] for k in ("setup_s", "pass_s")}, report


def untraced_run(workload: str, env: dict, data: str, man: dict,
                 seconds: float) -> tuple[Launch, dict, list[dict]]:
    la = Launch(Tracer(), env["cpus"], traced=False)
    try:
        warm = warmup_pass(workload, la, data, man, "run")
        passes = run_window(workload, la, data, man, seconds, "run",
                            traced=False)
        la.capture_rss()
    finally:
        la.close()
    return la, warm, passes


def traced_run(workload: str, env: dict, data: str, man: dict,
               seconds: float):
    """One launch that, after its warm-up pass, runs untraced (U) and
    traced (T) passes in U T T U blocks until ``seconds`` have elapsed
    (at least one block).  The per-layer numbers come from the T passes;
    the overhead compares T with U, and the block order cancels the
    speed-up passes show as the JIT compiler warms."""
    from conte_to_fresco_etl_spark import pipeline

    tracer = Tracer()
    originals = {n: getattr(pipeline, n) for n in PIPELINE_CALLS}
    wrapped = {n: tracer.wrap(layer, originals[n])
               for n, layer in PIPELINE_CALLS.items()}
    la = Launch(tracer, env["cpus"], traced=True)
    try:
        warm = warmup_pass(workload, la, data, man, "traced")
        plain, passes = [], []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            for traced in (False, True, True, False):
                tag = f"traced-pass{len(plain) + len(passes)}"
                if not traced:
                    plain.append(one_pass(workload, la, Tracer(), data, man,
                                          tag, traced=False))
                    continue
                for name, fn in wrapped.items():
                    setattr(pipeline, name, fn)
                try:
                    passes.append(one_pass(workload, la, tracer, data, man,
                                           tag, traced=True))
                finally:
                    for name, fn in originals.items():
                        setattr(pipeline, name, fn)
        ss = StatusStore(la.spark)
        wall = med([p["wall_s"] for p in passes])
        layers = {"session.get_spark_s": la.get_spark_s,
                  "session.warmup_s": la.warmup_s}
        layers.update(spark_layer(tracer, ss, len(passes), env["cpus"], wall))
        if workload == "fresco_month":
            layers.update(fresco_layers(la.spark, tracer, ss, passes, data, man))
        else:
            layers.update(catalog_layers(tracer, ss, passes))
        layers["trace.overhead_frac"] = (
            med([pass_seconds(workload, p) for p in passes])
            / med([pass_seconds(workload, p) for p in plain]) - 1.0)
    finally:
        la.close()
    return la, warm, plain, passes, layers, tracer.spans


def main() -> int:
    ap = argparse.ArgumentParser(description="fresco-spark benchmark harness")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not package_present():
        print("perfbench: the conte_to_fresco_etl_spark package and "
              "__spark_entry__.py must sit in the checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    env = pin_environment()
    cpu_start = cpu_times()
    sys.path.insert(0, ROOT)
    # the oracle builders derive literals from this directory at import
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = CATALOG_DATA
    data, man = ensure_data(args.workload, args.seed)
    for d in glob.glob(os.path.join(WORK, "*-pass*")):
        shutil.rmtree(d, ignore_errors=True)

    if args.trace:
        launch, warm, plain, passes, layers, spans = traced_run(
            args.workload, env, data, man, args.seconds)
    else:
        launch, warm, passes = untraced_run(args.workload, env, data, man,
                                            args.seconds)
        plain, spans = [], None
    checked = [warm] + plain + passes
    if args.workload == "fresco_month":
        attempted, failed, problems = fresco_check(checked, man)
    else:
        attempted, failed, problems = catalog_check(checked)
    if args.trace:
        metrics = {m["name"]: (layers[m["name"]], m["unit"]) for m in per_layer}
        report = {"layers": layers, "pass_samples": {
            "untraced": [pass_seconds(args.workload, p) for p in plain],
            "traced": [pass_seconds(args.workload, p) for p in passes]}}
    else:
        metrics, report = end_to_end(args.workload, launch, warm, passes,
                                     failed / max(1, attempted))

    import pyspark

    report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / max(1, attempted), "problems": problems[:20],
        "env": {**env, "spark": pyspark.__version__, "java": launch.java,
                "python": sys.version.split()[0],
                "cpu_steal_frac": steal_frac(cpu_start, cpu_times())},
        "spark_conf": launch.conf,
        "inputs": man["inputs"],
        "expected": {ym: {"eav_rows": e["eav"]["rows"],
                          "set3_rows": e["set3"]["rows"]}
                     for ym, e in man["expected"].items()}
        if args.workload == "fresco_month" else {"queries": man["queries"]},
    })
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump({"report": report, "spans": spans}, fh, indent=1,
                  sort_keys=True, default=str)
    for d in glob.glob(os.path.join(WORK, "*-pass*")):
        shutil.rmtree(d, ignore_errors=True)

    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
