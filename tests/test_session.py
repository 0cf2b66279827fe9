"""Session helpers: ``staged`` — the one way a table shared across the
queries of a session is staged — the local-mode heap default, the
environment-int parser and the declared environment variables.

``staged`` keys a table on the inputs' canonical plans plus the full
parameter set, so a hit must hand back the very same table and any
change to what determines the table must miss.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

import pytest
from pyspark.sql import DataFrame, SparkSession

from conte_to_fresco_etl_spark.session import (
    _default_driver_mem,
    env_int,
    get_spark,
    staged,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "conte_to_fresco_etl_spark"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def test_staged_hit_returns_the_same_table(spark, sf_dir):
    builds = []
    docs = _docs(spark, sf_dir)

    def build():
        builds.append(1)
        return docs.limit(5)

    first = staged("test_hit", [docs], {"n": 5}, build)
    # a second read of the same path has the same canonical plan
    again = staged("test_hit", [_docs(spark, sf_dir)], {"n": 5}, build)
    assert again is first
    assert builds == [1]
    assert first.count() == 5


def test_staged_misses_on_params_name_or_data(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    base = staged("test_miss", [docs], {"n": 5}, lambda: docs.limit(5))
    other_params = staged("test_miss", [docs], {"n": 6}, lambda: docs.limit(6))
    other_name = staged("test_miss_2", [docs], {"n": 5}, lambda: docs.limit(5))
    assert other_params is not base and other_name is not base
    assert other_params.count() == 6

    a = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "y")], "doc_id long, text string")
    sa = staged("test_mem", [a], {}, lambda: a)
    sb = staged("test_mem", [b], {}, lambda: b)
    assert sb is not sa
    assert [tuple(r) for r in sb.collect()] == [(2, "y")]


def test_staged_hash_collision_is_a_miss(spark, monkeypatch):
    """Two different inputs whose semantic hashes collide: the stored
    input fails ``sameSemantics``, so the second call builds its own
    table instead of returning the first one's."""
    monkeypatch.setattr(DataFrame, "semanticHash", lambda self: 0)
    a = spark.createDataFrame([(1,)], "v long")
    b = spark.createDataFrame([(2,)], "v long")
    sa = staged("test_collide", [a], {}, lambda: a)
    sb = staged("test_collide", [b], {}, lambda: b)
    assert sb is not sa
    assert [r.v for r in sb.collect()] == [2]
    assert staged("test_collide", [b], {}, lambda: b) is sb


def _app_keyed_dicts(path: pathlib.Path) -> list[str]:
    """Module-level dicts that a function of ``path`` fills under a key
    built from ``applicationId``, whatever they hold: ``D[k] = ...`` or
    ``D.setdefault(k, ...)`` where ``k`` names ``applicationId`` itself
    or a local assigned from an expression that does."""
    tree = ast.parse(path.read_text())
    dicts = set()
    for node in tree.body:
        if isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        elif isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        else:
            continue
        empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args
        )
        if empty_dict:
            dicts |= {t.id for t in targets if isinstance(t, ast.Name)}
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        app_names = {
            t.id
            for node in ast.walk(fn)
            if isinstance(node, ast.Assign)
            and "applicationId" in ast.unparse(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }

        def app_keyed(key: ast.AST) -> bool:
            return "applicationId" in ast.unparse(key) or any(
                isinstance(n, ast.Name) and n.id in app_names
                for n in ast.walk(key)
            )

        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Store)
                and isinstance(node.value, ast.Name)
                and node.value.id in dicts
                and app_keyed(node.slice)
            ):
                found.append(f"{path.name}:{node.value.id}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "setdefault"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in dicts
                and node.args
                and app_keyed(node.args[0])
            ):
                found.append(f"{path.name}:{node.func.value.id}")
    return found


def test_no_ad_hoc_session_caches_outside_session():
    """Per-session state is kept by ``session`` only (``staged`` for
    tables shared across queries): no other module keeps its own
    applicationId-keyed dict, whatever the dict holds."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        offenders += _app_keyed_dicts(path)
    assert not offenders, offenders


#: Every environment variable the package reads, with what it sets.  A
#: new knob is declared here in the change that adds it.
ENV = {
    "SPARK_GRAFT_CPUS": "local[N] master and shuffle partitions",
    "SPARK_GRAFT_DRIVER_MEM": "local-mode driver heap (default: half the host)",
    "SPARK_GRAFT_GATE_SF_DIR": "tables the oracle builders derive literals from",
    "SPARK_GRAFT_MAX_DECODE_BYTES": "per-payload cap of the media decoders",
    "SPARK_GRAFT_SINGLE_TASK_MAX_ROWS": "row cap of graph's single-task paths",
    "PYTHONPATH": "package root pinned for Spark's Python workers",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _literal(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _env_name(node: ast.AST) -> str | None:
    """The literal variable name ``node`` reads, if it is one of
    ``os.environ.get(X)``, ``os.environ[X]``, ``X in os.environ``,
    ``os.getenv(X)`` or ``env_int(X, ...)``."""
    if isinstance(node, ast.Call) and node.args:
        f = node.func
        callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if callee in ("getenv", "env_int") or (
            callee == "get" and _is_environ(f.value)
        ):
            return _literal(node.args[0])
    if isinstance(node, ast.Subscript) and _is_environ(node.value):
        return _literal(node.slice)
    if isinstance(node, ast.Compare) and any(map(_is_environ, node.comparators)):
        return _literal(node.left)
    return None


def _env_reads(pkg: pathlib.Path) -> set[str]:
    return {
        name
        for path in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if (name := _env_name(node)) is not None
    }


def _env_problems(found: set[str]) -> list[str]:
    return [f"{n} is read but not declared in ENV" for n in sorted(found - set(ENV))] + [
        f"{n} is declared in ENV but read nowhere" for n in sorted(set(ENV) - found)
    ]


def test_every_environment_variable_is_declared():
    assert _env_problems(_env_reads(PKG)) == []


def test_an_undeclared_or_stale_environment_variable_fails(tmp_path):
    """A package copy with one new read of each form and one declared
    variable no longer read."""
    pkg = tmp_path / "conte_to_fresco_etl_spark"
    shutil.copytree(PKG, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    path = pkg / "operators" / "skew.py"
    path.write_text(path.read_text() + "\n\nimport os\n"
                    "A = os.environ.get('SPARK_GRAFT_NEW')\n"
                    "B = os.getenv('SPARK_GRAFT_NEW_GETENV')\n"
                    "C = 'SPARK_GRAFT_NEW_IN' in os.environ\n"
                    "D = os.environ['SPARK_GRAFT_NEW_ITEM']\n")
    path = pkg / "session.py"
    src = path.read_text()
    assert src.count('"SPARK_GRAFT_DRIVER_MEM"') == 1
    path.write_text(src.replace('os.environ.get("SPARK_GRAFT_DRIVER_MEM")', "None"))
    assert _env_problems(_env_reads(pkg)) == [
        *(f"SPARK_GRAFT_NEW{x} is read but not declared in ENV"
          for x in ("", "_GETENV", "_IN", "_ITEM")),
        "SPARK_GRAFT_DRIVER_MEM is declared in ENV but read nowhere",
    ]


def test_structural_check_catches_an_ad_hoc_cache(tmp_path):
    """The static check flags the shapes the staged caches and the
    streaming-replay memos used to have, whatever the dict holds, and
    not a dict keyed by something else."""
    mod = tmp_path / "mod.py"
    mod.write_text(
        "_CACHE: dict = {}\n"
        "_DONE: dict[tuple, str] = {}\n"
        "_BY_APP = dict()\n"
        "_SCHEMAS: dict = {}\n"
        "def f(spark, df, sf_dir):\n"
        "    key = (spark.sparkContext.applicationId, 1)\n"
        "    _CACHE[key] = df\n"
        "    _DONE[key] = 'table'\n"
        "    _BY_APP.setdefault(spark.sparkContext.applicationId, []).append(df)\n"
        "    _SCHEMAS[sf_dir] = df.schema\n"
    )
    assert _app_keyed_dicts(mod) == ["mod.py:_CACHE", "mod.py:_DONE", "mod.py:_BY_APP"]


def test_no_module_dict_outside_session_holds_dataframes(spark, sf_dir):
    """The runtime side of the static check, which also sees caches whose
    key the caller builds: after building queries that read staged
    tables, no imported package module other than ``session`` holds a
    DataFrame in a module-level dict."""
    import pkgutil
    import sys

    import conte_to_fresco_etl_spark as pkg
    from conte_to_fresco_etl_spark.plans import catalog
    from conte_to_fresco_etl_spark.plans import catalog_text  # noqa: F401

    for name in ("q_repeated_spans", "q_ngram_novelty"):
        catalog.QUERIES[name](spark, sf_dir)

    def holds_df(v) -> bool:
        items = v if isinstance(v, (tuple, list)) else (v,)
        return any(isinstance(x, DataFrame) for x in items)

    offenders = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = sys.modules.get(info.name)
        if mod is None or info.name.endswith(".session"):
            continue
        for attr, val in vars(mod).items():
            if isinstance(val, dict) and any(map(holds_df, val.values())):
                offenders.append(f"{info.name}.{attr}")
    assert not offenders, offenders


def test_default_driver_mem_is_half_the_host_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree: 1 kB\n")
    assert _default_driver_mem(str(meminfo)) == "8046m"
    meminfo.write_text("MemTotal:      263921024 kB\n")
    assert _default_driver_mem(str(meminfo)) == "32768m"
    assert _default_driver_mem(str(tmp_path / "missing")) == "32g"


def test_env_int_names_the_variable_on_a_bad_value(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_INT", raising=False)
    assert env_int("SPARK_GRAFT_TEST_INT", 7) == 7
    monkeypatch.setenv("SPARK_GRAFT_TEST_INT", "12")
    assert env_int("SPARK_GRAFT_TEST_INT", 7) == 12
    for bad in ("12x", "", "1.5"):
        monkeypatch.setenv("SPARK_GRAFT_TEST_INT", bad)
        with pytest.raises(ValueError, match=rf"SPARK_GRAFT_TEST_INT.*'{bad}'"):
            env_int("SPARK_GRAFT_TEST_INT", 7)


@pytest.mark.parametrize(
    "bad, why", [("abc", "an integer"), ("0", "at least 1"), ("-2", "at least 1")]
)
def test_get_spark_rejects_a_bad_cpu_count_before_any_session(monkeypatch, bad, why):
    def no_session(self):
        raise AssertionError("getOrCreate reached with a bad $SPARK_GRAFT_CPUS")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match=rf"SPARK_GRAFT_CPUS must be {why}"):
        get_spark()
