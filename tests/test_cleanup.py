"""Block-manager hygiene: the round-9 driver bench died with a Java
heap OOM because ``localCheckpoint`` RDD blocks accumulate across
hundreds of queries — ``spark.catalog.clearCache()`` frees only
CacheManager entries, never checkpoint blocks.  These tests pin the
three-part fix:

1. ``session.sweep_persisted`` reclaims every surviving RDD (persist
   AND localCheckpoint) except tables staged by ``session.staged``,
   which must stay readable after the sweep (their lineage is
   checkpoint-truncated, so dropping their blocks would be fatal, not
   slow).
2. ``session.free_blocks`` releases a single DataFrame's persisted
   lineage — the localCheckpoint-aware complement of
   ``DataFrame.unpersist()``.
3. Iterative operators (pagerank / hits / connected_components /
   connected_components_star / induce_bpe_merges) free superseded
   round checkpoints eagerly, so live blocks stay O(1) in the
   iteration count, and a post-consumption session sweep leaves the
   persistent-RDD map empty.
"""

from __future__ import annotations

import pytest

from conte_to_fresco_etl_spark.session import (
    _PINNED,
    free_blocks,
    pin,
    sweep_persisted,
)


def _persisted_ids(spark) -> set[int]:
    out = set()
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        out.add(it.next().getKey())
    return out


def _pinned_ids(spark) -> set[int]:
    from conte_to_fresco_etl_spark.session import _pinned_ids as walk

    ids: set[int] = set()
    for df in _PINNED:
        ids |= set(walk(df))
    return ids


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    """Each test starts and ends with no un-pinned persisted RDDs."""
    sweep_persisted(spark)
    yield
    sweep_persisted(spark)


def test_sweep_frees_checkpoint_blocks_but_keeps_pinned(spark):
    base = _persisted_ids(spark)
    ck = spark.range(2000).selectExpr("id", "id * 3 AS v").localCheckpoint()
    pe = spark.range(500).persist()
    pe.count()
    assert len(_persisted_ids(spark) - base) >= 2

    pinned = (
        spark.range(300).selectExpr("id", "id % 5 AS g").localCheckpoint()
    )
    pin(pinned)
    try:
        freed = sweep_persisted(spark)
        assert freed >= 2
        # pinned blocks survive AND stay readable (checkpoint lineage
        # is truncated — a dropped block would raise, not recompute)
        assert pinned.count() == 300
        left = _persisted_ids(spark) - base
        assert left <= _pinned_ids(spark)
    finally:
        _PINNED.remove(pinned)
        free_blocks(pinned)
    del ck, pe


def test_free_blocks_releases_checkpoint_lineage(spark):
    base = _persisted_ids(spark)
    ck = spark.range(1000).selectExpr("id", "id + 1 AS v").localCheckpoint()
    assert ck.count() == 1000
    assert len(_persisted_ids(spark) - base) == 1
    assert free_blocks(ck) == 1
    assert _persisted_ids(spark) - base == set()


_MAX_LIVE = 6  # staging tables + at most two generations of rounds


def _assert_result_then_empty(spark, df, expect_rows: int):
    """Consume an iterative operator's result, verify live persisted
    RDDs stayed O(1) in the iteration count (the operator freed every
    superseded round itself), then verify one session sweep — the
    post-consumption contract bench.py runs per query — reclaims
    everything."""
    assert df.count() == expect_rows
    live = _persisted_ids(spark) - _pinned_ids(spark)
    assert len(live) <= _MAX_LIVE, f"rounds accumulated: {sorted(live)}"
    sweep_persisted(spark)
    left = _persisted_ids(spark) - _pinned_ids(spark)
    assert left == set(), f"leaked persisted RDDs: {left}"


def test_pagerank_frees_intermediate_rounds(spark):
    from conte_to_fresco_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 0.5), (3, 2, 0.5)],
        "src int, dst int, prob double",
    )
    out = pagerank(edges, iterations=4)
    _assert_result_then_empty(spark, out, 3)


def test_hits_frees_intermediate_rounds(spark):
    from conte_to_fresco_etl_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1)], "src int, dst int"
    )
    out = hits(edges, iterations=4)
    _assert_result_then_empty(spark, out, 4)


def test_connected_components_frees_intermediate_rounds(spark):
    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "id_a int, id_b int"
    )
    out = connected_components(pairs)
    _assert_result_then_empty(spark, out, 6)


def test_connected_components_star_frees_intermediate_rounds(spark):
    from conte_to_fresco_etl_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "id_a int, id_b int"
    )
    out = connected_components_star(pairs)
    _assert_result_then_empty(spark, out, 6)


def test_bpe_frees_all_round_state(spark):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        induce_bpe_merges,
    )

    docs = spark.createDataFrame(
        [("a b c a b",), ("a b a b c",), ("c c a b",)], "text string"
    )
    before = _persisted_ids(spark) - _pinned_ids(spark)
    out = induce_bpe_merges(docs, n_merges=3)
    rows = out.collect()
    assert rows and rows[0]["bigram"] == "a b"
    # the merge table is driver-local: the operator must leave ZERO
    # blocks behind, including its final round state
    after = _persisted_ids(spark) - _pinned_ids(spark)
    assert after - before == set(), f"BPE leaked: {after - before}"


def test_staged_caches_survive_sweep_and_stay_correct(spark, sf_dir):
    """Tables staged through ``session.staged`` (the dedup decision,
    spans, postings, star-CC and LPA tables) are pinned: a sweep (as
    bench.py runs after every query) must not invalidate them — a
    dropped checkpoint block would make the next consumer CRASH, the
    exact failure mode the pin exists for."""
    from conte_to_fresco_etl_spark.operators.dedup import repeated_spans
    from conte_to_fresco_etl_spark.session import staged

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    params = dict(min_count=2)

    def build():
        return repeated_spans(docs, **params)

    first = staged("repeated_spans", [docs], params, build)
    n1 = first.count()
    sweep_persisted(spark)
    again = staged("repeated_spans", [docs], params, build)
    assert again is first  # cache hit by identity
    assert again.count() == n1  # blocks still readable post-sweep


def test_bench_style_sweep_across_staged_dedup_family(spark):
    """Regression for the round-10 bench crash: the dedup decision
    table is session-staged, and its lineage passes through
    connected_components' final label checkpoint.  Interleave the
    family's queries with clearCache + sweep exactly as bench.py does
    — every consumer must keep working (the staging is pinned
    checkpoint blocks now, not a CacheManager entry whose recompute
    needs already-swept checkpoints)."""
    from conte_to_fresco_etl_spark.plans import catalog
    from conte_to_fresco_etl_spark.plans import catalog_text  # noqa: F401

    sf_dir = "/root/testdata/sf0.001"
    family = ["q_dedup_apply", "q_dedup_canonical", "q_doc_components"]
    counts = {}
    for name in family:
        for _ in range(2):
            spark.catalog.clearCache()
            counts[name] = catalog.QUERIES[name](spark, sf_dir).count()
        sweep_persisted(spark)
    # second pass after all sweeps: the staged table must still serve
    for name in family:
        spark.catalog.clearCache()
        assert catalog.QUERIES[name](spark, sf_dir).count() == counts[name]
    sweep_persisted(spark)


def test_hard_negative_lsh_leaves_no_live_blocks(spark, sf_dir):
    """The r11 LSH hard-negative miner persisted its banded signature
    table and never unpersisted it — a leaked block per invocation in
    a long-lived session (the bench harness's sweep hid it).  The
    operator now persists nothing: no net live blocks after the call
    returns, AND none after the result is fully consumed, across
    repeated invocations."""
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.similarity import (
        hard_negative_topk_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = _persisted_ids(spark)
    first = None
    for _ in range(3):
        out = hard_negative_topk_lsh(
            emb, F.col("vec_id") % 100 == 0, k=5,
            dim=64, n_planes=48, bands=4, seed=42,
        )
        # building the plan must not leave blocks behind
        assert _persisted_ids(spark) - base == set()
        got = out.count()
        if first is None:
            first = got
        assert got == first  # recompute-per-side is deterministic
        # consuming it must not either (no persist, no checkpoint)
        assert _persisted_ids(spark) - base == set()
