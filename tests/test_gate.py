"""The source fingerprints behind the driver's gate order (``plans/gate.py``).

Each test copies the package and ``GATE_MANIFEST.json`` to a temporary
directory, edits the copy, and reads fingerprints from fresh interpreters
there, so the checkout is never touched.  No Spark session is started.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

#: The prefix_sums consumers round 14 listed by hand for re-verification.
#: q_friedman and q_jarque_bera were on that list but never reach
#: prefix_sums: past the table readers, their code is ``friedman_test``
#: (subject-partitioned rank windows) and ``jarque_bera`` alone.
R14_PREFIX_SUMS_LIST = {
    "q_wilcoxon", "q_jonckheere", "q_kuiper", "q_wasserstein", "q_logrank",
    "q_mannwhitney", "q_spearman_rho", "q_runs_test", "q_pettitt",
    "q_hurst_exponent", "q_page_hinkley", "q_vocab_growth",
    "q_anderson_darling", "q_energy_distance", "q_ks_test", "q_ks_uniform",
    "q_cliffs_delta", "q_kruskal_wallis", "q_brunner_munzel",
    "q_ansari_bradley", "q_cramer_von_mises", "q_auc_delong",
    "q_average_precision", "q_negative_samples", "q_sax_symbols",
    "q_friedman", "q_jarque_bera", "q_decision_stump",
}


def _copy(tmp_path: pathlib.Path) -> pathlib.Path:
    root = tmp_path / "checkout"
    shutil.copytree(REPO / "conte_to_fresco_etl_spark",
                    root / "conte_to_fresco_etl_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(REPO / "GATE_MANIFEST.json", root)
    return root


def _run(root: pathlib.Path, *args: str, seed: str = "0") -> str:
    out = subprocess.run([sys.executable, *args], cwd=root,
                         env=dict(os.environ, PYTHONHASHSEED=seed),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def _probe(root: pathlib.Path, expr: str, seed: str = "0"):
    """``expr`` evaluated in a fresh interpreter on the copy, as JSON."""
    code = (
        "import json, os, sys\n"
        "from conte_to_fresco_etl_spark import parallelism\n"
        "from conte_to_fresco_etl_spark.operators import dedup\n"
        "from conte_to_fresco_etl_spark.plans import gate\n"
        "assert os.path.realpath(gate.__file__).startswith(sys.argv[1])\n"
        f"print(json.dumps({expr}))\n"
    )
    return json.loads(_run(root, "-c", code, os.path.realpath(root),
                           seed=seed).splitlines()[-1])


def _consumers(root: pathlib.Path, fn: str) -> set[str]:
    return set(_probe(root, "[n for n, f in gate.catalog.QUERIES.items() "
                            f"if {fn} in gate.closure(f)]"))


def _insert(path: pathlib.Path, func: str, line: str) -> None:
    """Insert ``line`` before the second statement of the first function
    named ``func`` in ``path``."""
    src = path.read_text().splitlines(keepends=True)
    node = next(n for n in ast.walk(ast.parse("".join(src)))
                if isinstance(n, ast.FunctionDef) and n.name == func)
    stmt = node.body[1]
    src.insert(stmt.lineno - 1, " " * stmt.col_offset + line + "\n")
    path.write_text("".join(src))


def _changed(before: dict, after: dict) -> set[str]:
    assert before.keys() == after.keys()
    return {n for n in before if before[n] != after[n]}


def test_an_edit_in_prefix_sums_changes_exactly_its_consumers(tmp_path):
    root = _copy(tmp_path)
    consumers = _consumers(root, "parallelism.prefix_sums")
    before = _probe(root, "gate.fingerprints()")
    _insert(root / "conte_to_fresco_etl_spark" / "parallelism.py",
            "prefix_sums", "input_pinned = bool(input_pinned)")
    changed = _changed(before, _probe(root, "gate.fingerprints()"))
    assert changed == consumers
    unreached = {"q_friedman", "q_jarque_bera"}
    assert R14_PREFIX_SUMS_LIST - unreached <= changed
    assert not unreached & changed


def test_a_comment_only_edit_changes_nothing(tmp_path):
    root = _copy(tmp_path)
    before = _probe(root, "gate.fingerprints()")
    path = root / "conte_to_fresco_etl_spark" / "parallelism.py"
    path.write_text("# a comment that shifts every line below it\n"
                    + path.read_text())
    _insert(path, "prefix_sums", "# a comment inside the body")
    assert _changed(before, _probe(root, "gate.fingerprints()")) == set()


def test_an_edit_in_a_map_in_pandas_body_changes_its_consumers(tmp_path):
    root = _copy(tmp_path)
    consumers = _consumers(root, "dedup.minhash_signatures")
    assert "q_minhash_lsh" in consumers
    before = _probe(root, "gate.fingerprints()")
    # sig_batches is the function minhash_signatures hands to mapInPandas
    _insert(root / "conte_to_fresco_etl_spark" / "operators" / "dedup.py",
            "sig_batches", "md5 = md5")
    assert _changed(before, _probe(root, "gate.fingerprints()")) == consumers


def test_recording_a_verdict_updates_only_its_green_rows(tmp_path):
    root = _copy(tmp_path)
    fps = _probe(root, "gate.fingerprints()")
    manifest = json.loads((root / "GATE_MANIFEST.json").read_text())
    a, b, c, d = list(fps)[:4]
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    (root / "CORRECTNESS_r99.json").write_text(json.dumps({
        a: green, b: green,
        c: {**green, "hash_match": False},
        d: {**green, "err": "Py4JJavaError"},
        "q_not_registered": green,
    }))
    _run(root, "-m", "conte_to_fresco_etl_spark.plans.gate",
         "CORRECTNESS_r99.json")
    after = json.loads((root / "GATE_MANIFEST.json").read_text())
    assert _changed(manifest, after) == {a, b}
    assert after[a] == {"fp": fps[a], "round": 99}
    assert after[b] == {"fp": fps[b], "round": 99}
    # recorded green at the newest round: no longer must-gate, last in order
    order = _probe(root, "[gate.order(), gate.must_gate()]")
    assert order[0][-2:] == [a, b]
    assert not {a, b} & set(order[1])


def test_two_fresh_processes_give_the_same_order(tmp_path):
    root = _copy(tmp_path)
    first = _probe(root, "gate.order()", seed="1")
    assert first == _probe(root, "gate.order()", seed="2")
    assert sorted(first) == sorted(_probe(root, "list(gate.catalog.QUERIES)"))
