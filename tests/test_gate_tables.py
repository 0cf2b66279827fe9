"""Oracle builders that read the gate tables ($SPARK_GRAFT_GATE_SF_DIR).

An absent table gives the driver's weak rows-only check (the builder
returns None); a table that is there but broken raises, naming its path,
instead of silently weakening the check.  No Spark session is started.
"""

from __future__ import annotations

import re

import pytest

from conte_to_fresco_etl_spark.plans import catalog_text as ct


def _clear_caches() -> None:
    for v in vars(ct).values():
        if callable(getattr(v, "cache_clear", None)):
            v.cache_clear()


@pytest.fixture
def gate_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GATE_SF_DIR", str(tmp_path))
    _clear_caches()
    yield tmp_path
    _clear_caches()


def test_absent_tables_give_the_weak_check(gate_dir):
    assert ct._gate_columns("documents.parquet", ["doc_id"]) is None
    assert ct._gate_docs() is None
    assert ct._bpe_apply_sql() is None
    assert ct._ivf_trained_sql() is None
    assert ct._pq_sql() is None


@pytest.mark.parametrize("table, build", [
    ("documents.parquet", lambda: ct._gate_docs()),
    ("documents.parquet", lambda: ct._bpe_apply_sql()),
    ("embeddings.parquet", lambda: ct._ivf_trained_sql()),
    ("embeddings.parquet", lambda: ct._pq_sql()),
])
def test_a_corrupt_table_raises_naming_its_path(gate_dir, table, build):
    bad = gate_dir / table
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match=re.escape(str(bad))):
        build()
