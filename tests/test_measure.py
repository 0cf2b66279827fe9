"""The measurement harness (``measure.py``) and the command lines over it:
the min-of-runs rule, the timeout path, the per-phase profile record,
bench.py's byte-budgeted stdout line, and end-to-end runs of
``bench.py`` and ``tools/profile_queries.py`` that must leave the
committed artifacts alone."""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import subprocess
import sys
import time

from conte_to_fresco_etl_spark import measure

REPO = pathlib.Path(__file__).resolve().parent.parent

PROFILE_KEYS = {
    "build_s", "exec_s", "jobs", "rebuild_exec_s",
    "exchanges", "py_nodes", "wsc", "smj", "bhj", "plan_lines",
}


def test_adaptive_min_runs_twice_when_the_runs_agree():
    t = measure.adaptive_min(iter([1.0, 1.2, 0.1]).__next__)
    assert t == measure.Timing(1.0, [1.0, 1.2], False)


def test_adaptive_min_runs_a_third_time_on_disagreement():
    t = measure.adaptive_min(iter([1.0, 2.0, 1.1, 0.1]).__next__)
    assert t == measure.Timing(1.0, [1.0, 2.0, 1.1], False)


def test_adaptive_min_stops_at_a_timeout():
    t = measure.adaptive_min(iter([1.0, None, 0.1]).__next__)
    assert t == measure.Timing(1.0, [1.0], True)


def test_min_time_reports_a_python_side_timeout(spark):
    def slow(spark, sf_dir):
        time.sleep(3)
        return spark.range(1)

    t0 = time.perf_counter()
    t = measure.min_time(spark, slow, "", timeout=0.5)
    assert t == measure.Timing(None, [], True)
    assert time.perf_counter() - t0 < 30


def test_profile_record_for_q1(spark, sf_dir):
    import __spark_entry__ as entrymod

    q1 = entrymod.queries()["q1_pricing_summary"]
    rec, txt = measure.profile(spark, q1, sf_dir)
    assert set(rec) == PROFILE_KEYS
    assert rec["jobs"] >= 1
    # the plan the write executed, AQE-final; q1 has one shuffle (partial
    # -> final aggregate), counted once although the formatted text names
    # it in the tree, in the details and again in the initial plan
    assert rec["exchanges"] == 1
    assert rec["wsc"] >= 1
    assert "isFinalPlan=true" in txt
    assert rec["plan_lines"] == txt.count("\n")
    assert all(rec[k] >= 0 for k in ("build_s", "exec_s"))
    # the job group that counts the jobs does not outlive the call
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_plan_counts_read_only_the_final_tree():
    txt = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan (9)",
        "+- == Final Plan ==",
        "   * HashAggregate (5)",
        "   +- ShuffleQueryStage (4)",
        "      +- Exchange (3)",
        "         +- * HashAggregate (2)",
        "            +- Scan parquet  (1)",
        "+- == Initial Plan ==",
        "   HashAggregate (8)",
        "   +- Exchange (7)",
        "      +- HashAggregate (6)",
        "         +- Scan parquet  (1)",
        "",
        "",
        "(1) Scan parquet ",
        "(2) HashAggregate [codegen id : 1]",
        "(3) Exchange",
        "(5) HashAggregate [codegen id : 2]",
        "(6) HashAggregate",
        "(7) Exchange",
    ])
    assert measure.plan_counts(txt) == {
        "exchanges": 1, "py_nodes": 0, "smj": 0, "bhj": 0, "wsc": 2}


def test_bench_stdout_line_fits_the_budget():
    import bench

    timings = {f"q_{i:03d}": round(0.05 + (i * 37 % 366) * 0.013, 3)
               for i in range(366)}
    line = bench.stdout_line(timings, 0.1)
    assert len(line.encode()) <= bench.BUDGET == 1800
    d = json.loads(line)
    assert set(d) == {"metric", "value", "unit", "queries", "sf",
                      "queries_elided", "detail"}
    assert d["value"] == round(sum(timings.values()), 3)
    assert d["queries_elided"] == 366 - len(d["queries"]) > 0
    elided = set(timings) - set(d["queries"])
    assert min(d["queries"].values()) >= max(timings[n] for n in elided)
    assert list(d["queries"]) == sorted(d["queries"])


def _digest(root: pathlib.Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def _run(args: list[str], sf_dir: str) -> str:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run([sys.executable, *args], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


def test_bench_cli_with_names_leaves_bench_full_alone(sf_dir):
    before = (REPO / "BENCH_FULL.json").read_bytes()
    d = json.loads(_run(["bench.py", "q_minmax_summary"], sf_dir))
    assert set(d) == {"queries", "total"}
    assert list(d["queries"]) == ["q_minmax_summary"]
    assert d["total"] == d["queries"]["q_minmax_summary"] > 0
    assert (REPO / "BENCH_FULL.json").read_bytes() == before


def test_profile_cli_writes_beside_its_output_only(sf_dir, tmp_path):
    before = _digest(REPO / "plans")
    out = tmp_path / "p.json"
    _run(["tools/profile_queries.py", str(out), "q_minmax_summary"], sf_dir)
    rows = json.loads(out.read_text())
    assert list(rows) == ["q_minmax_summary"]
    assert set(rows["q_minmax_summary"]) == PROFILE_KEYS
    assert (tmp_path / "p_plans" / "q_minmax_summary.txt").stat().st_size
    assert _digest(REPO / "plans") == before
