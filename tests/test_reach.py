"""Every package function and class is reached by a query, the pipeline,
a CLI or a measuring tool, or is allowed here by name with a reason.

``plans/gate.py:unreached`` walks the same static closure the gate
fingerprints use, from every query, every function of ``pipeline``,
``measure``, ``__main__``, ``session`` and ``plans/gate``, and every name
module-level code evaluates.  No Spark session is started.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

from test_gate import _copy

#: Unreached on purpose: each faces the paper (reference file:line the
#: docstring mirrors) and is kept for a use that is not wired in yet.
_STEP2_POLL = ("Structured Streaming form of the step-2 polling daemons "
               "(conte-etl-step-2-processor.py:1876-1990, 60 s loop :54)")
ALLOWED = {
    "streaming.pipeline.stream_eav_source": _STEP2_POLL,
    "streaming.pipeline.stream_set3": _STEP2_POLL,
    "streaming.pipeline.start_set3_stream": _STEP2_POLL,
    "streaming.pipeline.stream_dedup": (
        "dedup-on-append of the step-2 stream "
        "(transform_conte_ts_data.py:1043)"),
    "streaming.pipeline.windowed_event_rates": (
        "late-data windows of the step-2 stream "
        "(conte-etl-step-2-processor.py:1876-1990)"),
    "sources.compat.ReadySignalShim": (
        "the reference's ready-signal file protocol "
        "(utils/ready_signal_creator.py:15-21, :85-248)"),
    "sources.compat.VersionManager": (
        "version_info.json counter (transform_conte_ts_data.py:842-869)"),
    "sources.compat.write_set3_parquet_versioned": (
        "versioned set3 output beside VersionManager "
        "(transform_conte_ts_data.py:842-869)"),
    "sources.compat.write_empty_compat_parquet": (
        "zero-row set3 parquet (conte-etl-step-2-processor.py:1798-1804)"),
    "validation.sample_jobs": (
        "seeded job sample (analyze-timestamps.py:23)"),
    "validation.ts_rows_for_jobs": (
        "ts rows of the sampled jobs (analyze-timestamps.py:53)"),
    "validation.cardinality_report": (
        "per-column cardinality probe "
        "(conte-etl-step-2-processor.py:447-448)"),
    "validation.drop_required_nulls_observed": (
        "dropped-row % taken in the same job "
        "(transform_conte_ts_data.py:233-241); the pipeline's run record "
        "is to use it"),
    "functions.core.calculate_rate": (
        "floored-dt rate (transform_conte_ts_data.py:168-187, :615-617)"),
    "sources.readers.convert_csv_to_parquet": (
        "CSV to parquet conversion (utils/download_parquet_pcloud.py:20-46)"),
    "operators.rangejoin.point_in_interval_join": (
        "the step-2 interval join without a broadcast side "
        "(conte-etl-step-2-processor.py:742-748)"),
}
PKG = "conte_to_fresco_etl_spark."


def _unreached(cwd: str) -> dict[str, int]:
    code = ("import json\nfrom conte_to_fresco_etl_spark.plans import gate\n"
            "print(json.dumps(gate.unreached()))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=cwd,
                         env=dict(os.environ, PYTHONHASHSEED="0"),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return {k.removeprefix(PKG): v
            for k, v in json.loads(out.stdout.splitlines()[-1]).items()}


def _problems(unreached: dict[str, int]) -> list[str]:
    out = [f"{name} ({n} lines) is reached by no query, pipeline step, "
           "CLI or tool: delete it or allow it with a reason"
           for name, n in sorted(unreached.items()) if name not in ALLOWED]
    out += [f"{name} is allowed but reached or gone: drop it from ALLOWED"
            for name in sorted(ALLOWED) if name not in unreached]
    return out


def test_only_allowed_defs_are_unreached():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert _problems(_unreached(root)) == []


def test_a_planted_unreached_function_fails(tmp_path):
    root = _copy(tmp_path)
    path = root / "conte_to_fresco_etl_spark" / "operators" / "skew.py"
    path.write_text(path.read_text()
                    + "\n\ndef planted(x):\n    return x + 1\n")
    problems = _problems(_unreached(str(root)))
    assert problems == [
        "operators.skew.planted (2 lines) is reached by no query, pipeline "
        "step, CLI or tool: delete it or allow it with a reason"]


def test_a_stale_allow_list_entry_fails(tmp_path):
    root = _copy(tmp_path)
    pkg = root / "conte_to_fresco_etl_spark"
    # gone: delete one allowed def from the copy
    path = pkg / "validation.py"
    src = path.read_text().splitlines(keepends=True)
    node = next(n for n in ast.parse("".join(src)).body
                if getattr(n, "name", None) == "cardinality_report")
    del src[node.lineno - 1:node.end_lineno]
    path.write_text("".join(src))
    # reached: call another from a pipeline function
    path = pkg / "pipeline.py"
    path.write_text(path.read_text() + "\n\ndef _rate():\n"
                    "    from conte_to_fresco_etl_spark.functions.core "
                    "import calculate_rate\n    return calculate_rate\n")
    assert _problems(_unreached(str(root))) == [
        f"{n} is allowed but reached or gone: drop it from ALLOWED"
        for n in ("functions.core.calculate_rate",
                  "validation.cardinality_report")]
